"""Outreach-notes generation (SURVEY.md §2.11 U2/U3, §3.2).

The deterministic template path (renderTemplateNotes_,
code-LLM-intergration.js:1061-1079) is PURE SQL — concat over the
snippet and profile with coalesce fallbacks; no UDF. The LLM path is
a pluggable pandas UDF (clients/), with coalesce(llm, template)
giving the reference's try-LLM-fall-back-to-template rule
(:1169-1179). Exact template strings (incl. curly quotes) copied
from the reference.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

INVITE_MAX = 280  # reference :1019, :1181


def _nz(c: Column) -> Column:
    return F.nullif(F.trim(F.coalesce(c, F.lit(""))), F.lit(""))


def template_notes(
    company: Column,
    role: Column,
    profile: dict[str, str],
) -> tuple[Column, Column]:
    """(invite, followup) Columns from parsed fields + profile map.

    Fallback chains follow the reference exactly:
    hook = profile['one-line hook'] → profile['headline'] →
    'software engineer' (:1063); company → 'your company';
    role → 'this role'.
    """
    hook = profile.get("one-line hook") or profile.get("headline") or "software engineer"
    skills = profile.get("top skills") or "full-stack development and shipping production features"
    comp = F.coalesce(_nz(company), F.lit("your company"))
    rle = F.coalesce(_nz(role), F.lit("this role"))

    invite = F.substring(
        F.concat(
            F.lit("Hi there — I applied for "), rle, F.lit(" at "), comp, F.lit("."),
            F.lit(" I'm a "), F.lit(hook), F.lit(" and would love to connect."),
        ),
        1,
        INVITE_MAX,
    )
    followup = F.concat(
        F.lit("Thanks for connecting! I just applied for "), rle, F.lit(" at "), comp, F.lit("."),
        F.lit(" My background includes "), F.lit(skills), F.lit("."),
        F.lit(" If there’s a chance to chat, I’d value 10–15 minutes to share how I can contribute."),
    )
    return invite, followup


def needs_notes(invite: Column, followup: Column) -> Column:
    """P8: generate only when either cell is empty (reference
    :1097-1100, re-checked before work :1152-1154)."""
    return (_nz(invite).isNull()) | (_nz(followup).isNull())


def apply_notes(tracker: DataFrame, profile: dict[str, str]) -> DataFrame:
    """Write li_invite / li_followup for rows that need them.

    Reference parity (processNotesBatch): the idempotency check skips
    a row only when BOTH cells are already non-empty (:1151-1154);
    any row that passes it gets BOTH cells written unconditionally
    (:1181-1184) — a half-filled row is regenerated in full, it is
    NOT a per-cell fill-blanks merge."""
    invite, followup = template_notes(F.col("company_auto"), F.col("role_auto"), profile)
    need = needs_notes(F.col("li_invite"), F.col("li_followup"))
    return tracker.withColumns(
        {
            "li_invite": F.when(need, invite).otherwise(F.col("li_invite")),
            "li_followup": F.when(need, followup).otherwise(F.col("li_followup")),
        }
    )
