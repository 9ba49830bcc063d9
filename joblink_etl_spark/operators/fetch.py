"""Tiered fetch cascade (SURVEY.md §2.9; reference fetchSmartFree_,
apps-scripts/code-LLM-intergration.js:439-480).

The reference branches per row (API → direct → renderer → aggregator
unwrap → last resort). Here the cascade is ONE linear chain of
projections: each tier's UDF takes a boolean gate column computed in
the JVM from the earlier tiers' outputs, and a row whose gate is false
gets the UDF's empty result without a client call. Spark evaluates
each Python UDF once per row in its own extracted node, so the gate —
applied inside the UDF, not in a `when()` whose branches Catalyst may
both evaluate — skips the call with no per-tier cache, filter or
union. Each result column is then one CASE over the tier outcomes.

HTTP happens in Arrow-batched pandas UDFs marked nondeterministic
(so Catalyst won't re-execute or reorder them); the ATS href unwrap
scan is pure JVM regex. At scale the chain runs per partition in a
single stage; per-executor rate limiting would live inside the client.
"""

from __future__ import annotations

import json
import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from ..functions.html import has_useful_signal
from ..functions.predicates import is_aggregator_host, is_ats_host
from ..functions.url import host_from_url, make_canonical
from ..pin import pin

# reference fetchViaAtsApis_ URL patterns (:363, :377)
GH_URL_RE = re.compile(r"https?://(?:boards|job-boards)\.greenhouse\.io/([^/?#]+)/jobs/(\d+)", re.I)
LEVER_URL_RE = re.compile(r"https?://jobs\.lever\.co/([^/?#]+)/([^/?#]+)", re.I)
ATS_API_SPARK_RE = (
    r"(?i)https?://((?:boards|job-boards)\.greenhouse\.io/[^/?#]+/jobs/\d+"
    r"|jobs\.lever\.co/[^/?#]+/[^/?#]+)"
)

FETCH_SCHEMA = StructType(
    [
        StructField("status", IntegerType()),
        StructField("final_url", StringType()),
        StructField("html", StringType()),
        StructField("err", StringType()),
    ]
)

API_SCHEMA = StructType(
    [
        StructField("ok", IntegerType()),
        StructField("status", IntegerType()),
        StructField("final_url", StringType()),
        StructField("provider", StringType()),
        StructField("api_company", StringType()),
        StructField("api_role", StringType()),
        StructField("err", StringType()),
    ]
)

RESULT_COLS = ["status", "final_url", "html", "provider", "api_company", "api_role", "fetch_error"]


def _nice_case(slug: str) -> str:
    """Python twin of functions/url.nice_case (reference niceCase_
    :542) for slugs arriving through the API path."""
    words = re.sub(r"\s+", " ", re.sub(r"[-_]+", " ", slug)).strip().split(" ")
    return " ".join(w[:1].upper() + w[1:] for w in words if w)


def _api_fetch_one(client, url: str):
    m = GH_URL_RE.search(url)
    if m:
        slug, jid = m.group(1).lower(), m.group(2)
        status, _, body = client.fetch(
            f"https://boards-api.greenhouse.io/v1/boards/{slug}/jobs/{jid}"
        )
        if status < 400:
            try:
                role = json.loads(body).get("title") or ""
            except ValueError:
                role = ""
            return (1, 200, f"https://boards.greenhouse.io/{slug}/jobs/{jid}", "gh-api", _nice_case(slug), role)
    m = LEVER_URL_RE.search(url)
    if m:
        slug, jid = m.group(1).lower(), m.group(2).lower()
        status, _, body = client.fetch(
            f"https://api.lever.co/v0/postings/{slug}/{jid}?mode=json"
        )
        if status < 400:
            try:
                data = json.loads(body)
                role = data.get("text") or data.get("title") or ""
            except ValueError:
                role = ""
            return (1, 200, f"https://jobs.lever.co/{slug}/{jid}", "lever-api", _nice_case(slug), role)
    return (0, 0, "", "", "", "")


def _gated(urls: pd.Series, gate: pd.Series, call, empty: tuple, columns) -> pd.DataFrame:
    """Rows of call(url) where the gate holds, else ``empty``: a false
    gate makes no client call."""
    rows = [call(u) if g else empty for u, g in zip(urls, gate)]
    return pd.DataFrame(rows, columns=columns)


# a gated-off tier's result: no API hit, no page, no error
_NO_API = (0, 0, "", "", "", "", None)
_NO_PAGE = (0, None, None, None)


def make_api_udf(client):
    """api_udf(url, gate). Client exceptions surface in 'err' (the
    reference lets UrlFetchApp throws propagate to the item-level
    catch → Status error, :915-918); dead-lettering is the caller's
    job."""

    def call(u):
        try:
            return _api_fetch_one(client, u) + (None,)
        except Exception as e:  # noqa: BLE001
            return (0, 0, "", "", "", "", str(e)[:300])

    @pandas_udf(API_SCHEMA)
    def api_fetch(urls: pd.Series, gate: pd.Series) -> pd.DataFrame:
        return _gated(urls, gate, call, _NO_API, API_SCHEMA.fieldNames())

    return api_fetch.asNondeterministic()


def make_http_udf(client):
    """http_udf(url, gate)."""

    def call(u):
        try:
            return tuple(client.fetch(u)) + (None,)
        except Exception as e:  # noqa: BLE001
            return (0, None, None, str(e)[:300])

    @pandas_udf(FETCH_SCHEMA)
    def direct_fetch(urls: pd.Series, gate: pd.Series) -> pd.DataFrame:
        return _gated(urls, gate, call, _NO_PAGE, FETCH_SCHEMA.fieldNames())

    return direct_fetch.asNondeterministic()


def make_render_udf(client):
    """render_udf(url, gate). Renderer failures are ABSORBED as null
    results, matching the reference (fetchViaRenderer_ returns null
    on any error, :398-414) — only http/API client errors
    dead-letter."""

    def call(u):
        try:
            r = client.render(u)
        except Exception:  # noqa: BLE001 — absorbed like the JS null
            r = None
        return (tuple(r) if r else (0, None, None)) + (None,)

    @pandas_udf(FETCH_SCHEMA)
    def render_fetch(urls: pd.Series, gate: pd.Series) -> pd.DataFrame:
        return _gated(urls, gate, call, _NO_PAGE, FETCH_SCHEMA.fieldNames())

    return render_fetch.asNondeterministic()


def first_ats_link(html) -> F.Column:
    """First <a href> whose host is a known ATS — pure JVM regex scan
    (reference findFirstAtsLinkIn_, :421-428)."""
    hrefs = F.regexp_extract_all(html, F.lit("""(?i)href=["'](https?://[^"']+)["']"""), 1)
    ats = F.filter(hrefs, lambda u: is_ats_host(host_from_url(u)))
    # try_element_at: ANSI mode makes element_at throw on empty arrays
    return F.try_element_at(ats, F.lit(1))


def fetch_smart(df: DataFrame, http_client, renderer_client, url_col: str = "url") -> DataFrame:
    """Run the full cascade; adds RESULT_COLS to every input row.

    Tier flow (matching :439-480):
      1 ATS API  →  2 direct(useful?)  →  3 renderer(useful?)  →
      4 aggregator unwrap (API → direct → renderer on the ATS href,
        provider suffixed '-unwrapped')  →  5 last resort
    """
    url = F.col(url_col)
    api_udf = make_api_udf(http_client)
    http_udf = make_http_udf(http_client)
    render_udf = make_render_udf(renderer_client)
    # input columns colliding with result names (e.g. a queue's own
    # 'status') are replaced by the fetch results
    passthrough = [c for c in df.columns if c not in RESULT_COLS]

    def fetched_ok(page: str) -> F.Column:
        return (F.col(f"{page}.status") < 400) & has_useful_signal(F.col(f"{page}.html"))

    def rendered_ok(page: str) -> F.Column:
        return F.col(f"{page}.final_url").isNotNull() & has_useful_signal(F.col(f"{page}.html"))

    # each tier's gate, from the earlier tiers' outputs; a page's
    # useful-signal test is a wide regex tree, so it runs once into a
    # flag column that the gates and the outcome pick both read
    api_miss = (F.col("_api.ok") == 0) & F.col("_api.err").isNull()
    thin = api_miss & F.col("_direct.err").isNull() & ~F.col("_direct_ok")
    ats_url = F.col("_ats_url")
    api2_miss = ats_url.isNotNull() & (F.col("_api2.ok") == 0)
    chained = (
        # rows without a URL have nothing to fetch: dropped, not
        # dead-lettered
        df.filter(url.isNotNull())
        # tier 1: ATS APIs on the pattern-matching URLs
        .withColumn("_api", api_udf(url, url.rlike(ATS_API_SPARK_RE)))
        # tier 2: direct fetch for everyone else (incl. API misses)
        .withColumn("_direct", http_udf(url, api_miss))
        .withColumn("_direct_ok", fetched_ok("_direct"))
        # tier 3: renderer for thin pages
        .withColumn("_rendered", render_udf(url, thin))
        .withColumn("_rendered_ok", rendered_ok("_rendered"))
        # tier 4: aggregator unwrap on whatever HTML we hold
        .withColumn(
            "_ats_url",
            F.when(
                thin & ~F.col("_rendered_ok") & is_aggregator_host(host_from_url(url)),
                first_ats_link(F.coalesce(F.col("_rendered.html"), F.col("_direct.html"), F.lit(""))),
            ),
        )
        .withColumn("_api2", api_udf(ats_url, ats_url.isNotNull()))
        .withColumn("_d2", http_udf(ats_url, api2_miss))
        .withColumn("_d2_ok", fetched_ok("_d2"))
        .withColumn("_r2", render_udf(ats_url, api2_miss & ~F.col("_d2_ok")))
        .withColumn("_r2_ok", rendered_ok("_r2"))
    )

    def api_hit(api: str) -> dict:
        return {
            "provider": F.col(f"{api}.provider"),
            "status": F.col(f"{api}.status"),
            "final_url": make_canonical(F.col(f"{api}.final_url")),
            "api_company": F.col(f"{api}.api_company"),
            "api_role": F.col(f"{api}.api_role"),
        }

    def page(provider: str, p: str) -> dict:
        return {
            "provider": F.lit(provider),
            "status": F.col(f"{p}.status"),
            "final_url": F.col(f"{p}.final_url"),
            "html": F.col(f"{p}.html"),
        }

    def error(provider: str, err: str) -> dict:
        return {"provider": F.lit(provider), "status": F.lit(0), "final_url": url, "fetch_error": F.col(err)}

    # Tier outcomes in cascade order. A gated-off tier's empty result
    # fails its condition, so the first true one is the row's tier.
    outcomes = [
        (F.col("_api.err").isNotNull(), error("gh-api", "_api.err")),
        (F.col("_api.ok") == 1, api_hit("_api")),
        (F.col("_direct.err").isNotNull(), error("direct", "_direct.err")),
        (F.col("_direct_ok"), page("direct", "_direct")),
        (F.col("_rendered_ok"), page("renderer", "_rendered")),
        (F.col("_api2.ok") == 1, api_hit("_api2")),
        (F.col("_d2_ok"), page("direct-unwrapped", "_d2")),
        (F.col("_r2_ok"), page("renderer-unwrapped", "_r2")),
        # tier 5: last resort — rendered else direct (:479)
        (F.col("_rendered.final_url").isNotNull(), page("renderer", "_rendered")),
    ]
    last_resort = page("direct", "_direct")

    def pick(c: str) -> F.Column:
        (cond, vals), *rest = outcomes
        col = F.when(cond, vals.get(c))
        for cond, vals in rest:
            col = col.when(cond, vals.get(c))
        col = col.otherwise(last_resort.get(c))
        # html and the api/error strings read NULL (or unset) as ''
        return col if c in ("status", "final_url", "provider") else F.coalesce(col, F.lit(""))

    out = chained.select(*passthrough, *[pick(c).alias(c) for c in RESULT_COLS])
    # Materialize and truncate lineage: (a) the single action runs each
    # side-effecting UDF at most once per row, (b) downstream plans (the
    # decide cascade is a large expression tree) don't embed the
    # cascade. Fetch batches are bounded (<= BATCH_SIZE rows).
    return pin(out, "bounded", eager=True)
