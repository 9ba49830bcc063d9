"""The decision cascade (SURVEY.md §2.8) — prioritized additive-
confidence signal fusion, the reference's core "query"
(decideCompanyRole_, apps-scripts/code-LLM-intergration.js:692-777;
weights documented in reference docs/ARCHITECTURE.md:100-121).

Implemented as ONE pure select over pre-extracted signal columns:
coalesce() reproduces the short-circuit priority, a sum of
when(signal, weight) terms reproduces the additive confidence,
least/greatest reproduce the clamps, and array_compact+array_join
rebuilds the human-readable decision trail. Everything except the
JSON-LD recursion (a pandas UDF) is JVM-side and codegen-friendly —
at 100 TB this is a single narrow projection, no shuffle at all.

The LLM rescue branch (reference :744-769) is deliberately NOT in
this deterministic core; operators/llm_rescue.py applies it as one
projection whose LLM UDF is gated on the weak-row test (cheap-first
tiering, SURVEY §4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import html as H
from ..functions import jsonld as J
from ..functions import predicates as P
from ..functions import text as T
from ..functions import url as U

# additive weights (reference :710-727)
W_JSONLD_ORG = 0.5
W_JSONLD_TITLE = 0.5
W_ATS_SLUG = 0.35
W_H1 = 0.35
W_OG_TITLE = 0.25
W_TITLE = 0.15
W_OG_SITE = 0.25
FLOOR_TITLE_SPLIT = 0.55
FLOOR_LLM = 0.6
CLAMP_MISSING_FIELD = 0.5


def _nz(c: Column) -> Column:
    """'' → NULL so coalesce() short-circuits like JS falsiness."""
    return F.nullif(c, F.lit(""))


def extract_signals(df: DataFrame, html_col: str = "html", url_col: str = "final_url") -> DataFrame:
    """Mine every signal the cascade consumes (reference :697-701)."""
    html = F.col(html_col)
    url = F.col(url_col)
    host = U.host_from_url(url)
    return df.withColumns(
        {
            "host": host,
            "is_agg": P.is_aggregator_host(host),
            "canonical": U.make_canonical(url),
            "jsonld": J.jsonld_job_posting(html),
            "og_site": H.get_meta(html, "og:site_name", "property"),
            "h1": H.get_h1(html),
            "og_title": H.get_meta(html, "og:title", "property"),
            "title": H.get_title(html),
            "ats_slug_company": U.guess_company_from_url(url),
        }
    )


def decide_company_role(df: DataFrame) -> DataFrame:
    """Apply the cascade to a signal DataFrame (extract_signals output).

    Adds: company, role, conf, decision. Empty results are '' (not
    NULL), matching the reference's string-typed outputs.
    """
    jc = _nz(F.col("jsonld.company"))
    jr = _nz(F.col("jsonld.role"))
    ats = _nz(F.col("ats_slug_company"))
    h1 = _nz(F.col("h1"))
    ogt = _nz(F.col("og_title"))
    ttl = _nz(F.col("title"))
    ogs = _nz(F.col("og_site"))
    is_agg = F.col("is_agg")

    # step 1-2: jsonld org, else ATS slug (reference :710-717)
    sig_jsonld_org = jc.isNotNull()
    sig_jsonld_title = jr.isNotNull()
    sig_ats = jc.isNull() & ats.isNotNull()
    company_a = F.coalesce(jc, ats)

    # step 3: role h1 → og:title → title (reference :720-724)
    sig_h1 = jr.isNull() & h1.isNotNull()
    sig_ogtitle = jr.isNull() & h1.isNull() & ogt.isNotNull()
    sig_title = jr.isNull() & h1.isNull() & ogt.isNull() & ttl.isNotNull()
    role_a = F.coalesce(jr, h1, ogt, ttl)

    # step 4: og:site_name unless aggregator (reference :727)
    sig_ogsite = company_a.isNull() & ogs.isNotNull() & ~is_agg
    company_b = F.when(sig_ogsite, ogs).otherwise(company_a)

    # step 5: 'Company — Role' title-split rescue (reference :730-738)
    parts = F.split(role_a, r"\s[-–—]\s")
    sig_split = (
        company_b.isNull()
        & role_a.isNotNull()
        & role_a.rlike(r".+\s[-–—]\s.+")
        & (F.size(parts) >= 2)
    )
    company_c = F.when(sig_split, F.trim(F.element_at(parts, 1))).otherwise(company_b)
    role_b = F.when(
        sig_split,
        F.trim(F.array_join(F.slice(parts, 2, F.size(parts) - 1), " - ")),
    ).otherwise(role_a)

    conf0: Column = sum(
        [
            F.when(sig, F.lit(w)).otherwise(F.lit(0.0))
            for sig, w in [
                (sig_jsonld_org, W_JSONLD_ORG),
                (sig_jsonld_title, W_JSONLD_TITLE),
                (sig_ats, W_ATS_SLUG),
                (sig_h1, W_H1),
                (sig_ogtitle, W_OG_TITLE),
                (sig_title, W_TITLE),
                (sig_ogsite, W_OG_SITE),
            ]
        ],
        F.lit(0.0),
    )
    conf1 = F.when(sig_split, F.greatest(conf0, F.lit(FLOOR_TITLE_SPLIT))).otherwise(conf0)

    # step 6: final role cleanup (reference :741)
    role_c = T.clean_role(role_b, F.coalesce(company_c, F.lit("")))

    # step 8: missing-field penalty + [0,1] clamp (reference :771-774)
    conf2 = F.when(company_c.isNull(), F.least(conf1, F.lit(CLAMP_MISSING_FIELD))).otherwise(conf1)
    conf3 = F.when(role_c == "", F.least(conf2, F.lit(CLAMP_MISSING_FIELD))).otherwise(conf2)
    conf = F.greatest(F.least(conf3, F.lit(1.0)), F.lit(0.0))

    # decision trail, in the reference's push order (:710-736)
    trail = F.array_compact(
        F.array(
            F.when(sig_jsonld_org, F.lit("jsonld-org")),
            F.when(sig_jsonld_title, F.lit("jsonld-title")),
            F.when(sig_ats, F.lit("ats-slug")),
            F.when(sig_h1, F.lit("h1")),
            F.when(sig_ogtitle, F.lit("og:title")),
            F.when(sig_title, F.lit("title")),
            F.when(sig_ogsite, F.lit("og:site_name")),
            F.when(sig_split, F.lit("title-split")),
        )
    )
    decision = F.coalesce(_nz(F.array_join(trail, "+")), F.lit("heuristic"))

    return df.withColumns(
        {
            "company": F.coalesce(company_c, F.lit("")),
            "role": F.coalesce(role_c, F.lit("")),
            "conf": conf,
            "decision": decision,
        }
    )


def decide(df: DataFrame, html_col: str = "html", url_col: str = "final_url") -> DataFrame:
    """extract_signals + decide_company_role in one call."""
    return decide_company_role(extract_signals(df, html_col, url_col))


def decide_company_role_mvp(df: DataFrame) -> DataFrame:
    """The MVP variant's cascade (reference decideCompanyRole_ in
    code-Extractor-withoutLLM.js:416-464): same signals and weights,
    but NO aggregator exclusion on og:site_name (so 'LinkedIn' can
    become the company, :452), NO title-split rescue, NO LLM branch,
    and the simpler F13 cleanup."""
    jc = _nz(F.col("jsonld.company"))
    jr = _nz(F.col("jsonld.role"))
    ats = _nz(F.col("ats_slug_company"))
    h1 = _nz(F.col("h1"))
    ogt = _nz(F.col("og_title"))
    ttl = _nz(F.col("title"))
    ogs = _nz(F.col("og_site"))

    sig_jsonld_org = jc.isNotNull()
    sig_jsonld_title = jr.isNotNull()
    sig_ats = jc.isNull() & ats.isNotNull()
    company_a = F.coalesce(jc, ats)
    sig_h1 = jr.isNull() & h1.isNotNull()
    sig_ogtitle = jr.isNull() & h1.isNull() & ogt.isNotNull()
    sig_title = jr.isNull() & h1.isNull() & ogt.isNull() & ttl.isNotNull()
    role_a = F.coalesce(jr, h1, ogt, ttl)
    sig_ogsite = company_a.isNull() & ogs.isNotNull()  # no is_agg guard
    company_b = F.when(sig_ogsite, ogs).otherwise(company_a)

    conf0: Column = sum(
        [
            F.when(sig, F.lit(w)).otherwise(F.lit(0.0))
            for sig, w in [
                (sig_jsonld_org, W_JSONLD_ORG),
                (sig_jsonld_title, W_JSONLD_TITLE),
                (sig_ats, W_ATS_SLUG),
                (sig_h1, W_H1),
                (sig_ogtitle, W_OG_TITLE),
                (sig_title, W_TITLE),
                (sig_ogsite, W_OG_SITE),
            ]
        ],
        F.lit(0.0),
    )
    role_b = T.clean_role_mvp(role_a)
    conf1 = F.when(company_b.isNull(), F.least(conf0, F.lit(CLAMP_MISSING_FIELD))).otherwise(conf0)
    conf2 = F.when(role_b == "", F.least(conf1, F.lit(CLAMP_MISSING_FIELD))).otherwise(conf1)
    conf = F.greatest(F.least(conf2, F.lit(1.0)), F.lit(0.0))

    trail = F.array_compact(
        F.array(
            F.when(sig_jsonld_org, F.lit("jsonld-org")),
            F.when(sig_jsonld_title, F.lit("jsonld-title")),
            F.when(sig_ats, F.lit("ats-slug")),
            F.when(sig_h1, F.lit("h1")),
            F.when(sig_ogtitle, F.lit("og:title")),
            F.when(sig_title, F.lit("title")),
            F.when(sig_ogsite, F.lit("og:site_name")),
        )
    )
    decision = F.coalesce(_nz(F.array_join(trail, "+")), F.lit("heuristic"))
    return df.withColumns(
        {
            "company": F.coalesce(company_b, F.lit("")),
            "role": F.coalesce(role_b, F.lit("")),
            "conf": conf,
            "decision": decision,
        }
    )


def decide_mvp(df: DataFrame, html_col: str = "html", url_col: str = "final_url") -> DataFrame:
    return decide_company_role_mvp(extract_signals(df, html_col, url_col))
