"""LLM escalation as gated UDF passes (SURVEY.md §2.11 U1/U2).

The reference calls the LLM only when deterministic signals are weak
(decideCompanyRole_ LLM branch, code-LLM-intergration.js:744-769) and
generates outreach notes with a template fallback on any LLM error
(:1169-1179). Spark spelling, like the fetch cascade: one projection
whose Arrow-batched nondeterministic extract UDF takes the weak-row
test as a gate column, so strong rows get an empty result without a
client call (cheap-first tiering, SURVEY §4). The gate sits inside
the UDF, not in a when() around it, whose branches Catalyst may both
evaluate.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType, StructField, StructType

from ..functions.predicates import is_generic_title
from ..functions.text import clean_role
from .notes import template_notes

EXTRACT_SCHEMA = StructType(
    [
        StructField("company", StringType()),
        StructField("role", StringType()),
        StructField("err", StringType()),
    ]
)

NOTES_SCHEMA = StructType(
    [
        StructField("invite", StringType()),
        StructField("followup", StringType()),
        StructField("err", StringType()),
    ]
)


def _llm_json(content: str) -> dict:
    """Extract the {...} span and parse (reference F16, :668-673)."""
    start, end = content.find("{"), content.rfind("}")
    if start >= 0 and end > start:
        return json.loads(content[start : end + 1])
    raise ValueError("no JSON object in LLM output")


def make_extract_udf(llm_client):
    """extract_udf(url, h1, og_title, og_site, title, body, gate): a
    false gate returns the empty result without a client call."""

    def call(u, h, ot, os_, t, b):
        snippet = {"url": u, "h1": h, "ogTitle": ot, "ogSite": os_,
                   "title": t, "body_preview": b}
        try:
            out = _llm_json(llm_client.extract(snippet))
            company = (out.get("company") or "").strip()
            role = (out.get("role") or "").strip()
        except Exception as e:  # noqa: BLE001 — any client error dead-letters
            return ("", "", str(e)[:300])
        return (company, role, None) if company or role else ("", "", "no-output")

    @pandas_udf(EXTRACT_SCHEMA)
    def llm_extract(url: pd.Series, h1: pd.Series, og_title: pd.Series,
                    og_site: pd.Series, title: pd.Series, body: pd.Series,
                    gate: pd.Series) -> pd.DataFrame:
        rows = [
            call(*args) if g else ("", "", None)
            for *args, g in zip(url, h1, og_title, og_site, title, body, gate)
        ]
        return pd.DataFrame(rows, columns=["company", "role", "err"])

    return llm_extract.asNondeterministic()


def llm_rescue(decided: DataFrame, llm_client, body_preview_col: str = "body_preview") -> DataFrame:
    """Apply the extraction rescue to decide() output.

    Weak = role empty/generic OR company empty (:749). On LLM output:
    fill blanks only, role re-cleaned against the (possibly new)
    company, conf floored at 0.6, extract:{mode=llm} token; on error:
    extract:{mode=llm, err=...} token, values untouched (:752-769).
    Adds an 'extract_token' column ('' on strong rows, which keep
    every value).
    """
    weak = (
        (F.col("role") == "") | is_generic_title(F.col("role")) | (F.col("company") == "")
    )
    ok = F.col("_llm.err").isNull()
    looks_generic = (F.col("role") == "") | is_generic_title(F.col("role"))
    new_company = F.when(
        ok & (F.col("company") == "") & (F.col("_llm.company") != ""),
        F.col("_llm.company"),
    ).otherwise(F.col("company"))
    new_role = F.when(
        ok & looks_generic & (F.col("_llm.role") != ""),
        clean_role(F.col("_llm.role"), new_company),
    ).otherwise(F.col("role"))
    conf1 = F.when(ok, F.greatest(F.col("conf"), F.lit(0.6))).otherwise(F.col("conf"))
    # re-apply the missing-field clamps (the reference clamps AFTER
    # the LLM block, :771-774)
    conf2 = F.when(new_company == "", F.least(conf1, F.lit(0.5))).otherwise(conf1)
    conf3 = F.when(new_role == "", F.least(conf2, F.lit(0.5))).otherwise(conf2)
    token = F.when(ok, F.lit("extract:{mode=llm}")).otherwise(
        F.concat(F.lit("extract:{mode=llm, err="), F.col("_llm.err"), F.lit("}"))
    )
    rescued = {
        "company": (new_company, F.col("company")),
        "role": (new_role, F.col("role")),
        "conf": (F.greatest(F.least(conf3, F.lit(1.0)), F.lit(0.0)), F.col("conf")),
        "extract_token": (token, F.lit("")),
    }
    return (
        decided.withColumn(
            "_llm",
            make_extract_udf(llm_client)(
                F.col("canonical"), F.col("h1"), F.col("og_title"),
                F.col("og_site"), F.col("title"), F.col(body_preview_col), weak,
            ),
        )
        .withColumns({c: F.when(weak, e).otherwise(keep) for c, (e, keep) in rescued.items()})
        .drop("_llm")
    )


def make_notes_udf(llm_client):
    @pandas_udf(NOTES_SCHEMA)
    def llm_notes(url: pd.Series, company: pd.Series, role: pd.Series,
                  body: pd.Series) -> pd.DataFrame:
        rows = []
        for u, c, r, b in zip(url, company, role, body):
            snippet = {"url": u, "company": c, "role": r, "body_preview": b}
            try:
                out = _llm_json(llm_client.notes(snippet))
                rows.append(((out.get("invite") or "")[:280], out.get("followup") or "", None))
            except Exception as e:  # noqa: BLE001
                rows.append((None, None, str(e)[:300]))
        return pd.DataFrame(rows, columns=["invite", "followup", "err"])

    return llm_notes.asNondeterministic()


def notes_with_fallback(df: DataFrame, llm_client, profile: dict[str, str]) -> DataFrame:
    """LLM notes with template fallback (reference :1169-1187):
    coalesce(llm, template) per column, notes:{mode=llm|template}
    provenance, invite truncated to 280."""
    t_invite, t_followup = template_notes(F.col("company"), F.col("role"), profile)
    out = df.withColumn(
        "_notes",
        make_notes_udf(llm_client)(
            F.col("canonical"), F.col("company"), F.col("role"), F.col("body_preview")
        ),
    )
    used_llm = F.col("_notes.err").isNull()
    return (
        out.withColumns(
            {
                "li_invite": F.substring(
                    F.coalesce(F.col("_notes.invite"), t_invite), 1, 280
                ),
                "li_followup": F.coalesce(F.col("_notes.followup"), t_followup),
                "notes_token": F.when(used_llm, F.lit("notes:{mode=llm}")).otherwise(
                    F.lit("notes:{mode=template}")
                ),
                "notes_error": F.col("_notes.err"),
            }
        ).drop("_notes")
    )
