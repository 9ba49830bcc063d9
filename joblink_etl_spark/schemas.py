"""Fixed table schemas + the header-aliasing / self-healing layer
(SURVEY.md §1.1/§1.3).

The reference resolves columns by header text at runtime
(getHeaderMap_, code-LLM-intergration.js:74-79), tolerates missing
columns, supports per-sheet header aliases (HEADERS_PER_SHEET,
code-Extractor-withoutLLM.js:14-31), and re-writes a clobbered
NotesQueue header (:111-119). Spark equivalents: fixed StructTypes,
a logical→physical rename map applied at read, and
validate-and-heal that adds typed null/default columns for any
missing field and reorders to the canonical schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

TRACKER_SCHEMA = StructType(
    [
        StructField("sheet_name", StringType()),
        StructField("row_index", LongType()),
        StructField("link", StringType()),
        StructField("canonical_link", StringType()),
        StructField("company_auto", StringType()),
        StructField("role_auto", StringType()),
        StructField("status", StringType()),
        StructField("source", StringType()),
        StructField("li_invite", StringType()),
        StructField("li_followup", StringType()),
    ]
)

# 8 columns (reference getQueueSheet_, :86-96); tries/next_attempt_at
# are vestigial single-attempt scaffolding (ST6) kept for fidelity.
QUEUE_SCHEMA = StructType(
    [
        StructField("sheet_name", StringType()),
        StructField("row_index", LongType()),
        StructField("url", StringType()),
        StructField("status", StringType()),
        StructField("tries", IntegerType()),
        StructField("enqueued_at", TimestampType()),
        StructField("next_attempt_at", StringType()),
        StructField("last_error", StringType()),
    ]
)

# 6 columns (reference getNotesQueueSheet_, :103-121)
NOTES_QUEUE_SCHEMA = StructType(
    [
        StructField("sheet_name", StringType()),
        StructField("row_index", LongType()),
        StructField("phase", StringType()),
        StructField("status", StringType()),
        StructField("enqueued_at", TimestampType()),
        StructField("last_error", StringType()),
    ]
)

PROFILE_SCHEMA = StructType(
    [StructField("key", StringType()), StructField("value", StringType())]
)

PARSED_SCHEMA = StructType(
    [
        StructField("sheet_name", StringType()),
        StructField("row_index", LongType()),
        StructField("canonical", StringType()),
        StructField("company", StringType()),
        StructField("role", StringType()),
        StructField("conf", DoubleType()),
        StructField("decision", StringType()),
        StructField("provider", StringType()),
    ]
)

# Example alias map in the MVP's HEADERS_PER_SHEET shape:
# logical name → physical header as it appears in a given source.
EXAMPLE_HEADER_ALIASES = {
    "link": "App Link",
    "company_auto": "Company (auto)",
    "role_auto": "Role (auto)",
}


def apply_aliases(df: DataFrame, aliases: dict[str, str]) -> DataFrame:
    """Rename physical headers to logical names (S1 alias layer)."""
    physical_to_logical = {v: k for k, v in aliases.items()}
    present = {c: physical_to_logical[c] for c in df.columns if c in physical_to_logical}
    return df.withColumnsRenamed(present) if present else df


def validate_or_heal(df: DataFrame, schema: StructType) -> DataFrame:
    """Self-healing read (S4): add any missing column as a typed NULL
    ('' for strings, mirroring the sheet's blank cells), drop
    extras, and emit columns in canonical order."""
    cols = []
    for field in schema.fields:
        if field.name in df.columns:
            cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
        elif isinstance(field.dataType, StringType):
            cols.append(F.lit("").alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)


def empty_table(spark, schema: StructType) -> DataFrame:
    """CREATE TABLE IF NOT EXISTS twin (S3): an empty DF with the
    canonical (nullable) schema. Catalyst optimizes it to an empty
    ``LocalRelation``, so it runs no Python task and plans over it
    prune it; ``createDataFrame([], schema)`` would back it with a
    Python RDD that runs jobs every time it is read."""
    return spark.range(1).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
    ).limit(0)
