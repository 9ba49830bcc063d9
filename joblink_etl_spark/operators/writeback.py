"""Tracker write-back MERGE (SURVEY.md §2.1 S13-S15).

The reference writes the tracker with one rule: overwrite some cells
of the row whose key matches, and append a provenance token —
Canonical/Company/Role plus a parse token (writeBack_,
code-LLM-intergration.js:821-853), Status (updateStatusCell_,
:932-941), the two notes cells plus a notes token (:1181-1184).
Parquet has no MERGE, so every one of those writes goes through
``merge_rows``: the tracker LEFT JOIN one update row per key, then a
per-column conditional overwrite. Only matched rows change; unmatched
tracker rows pass through bit-identical, and a key that appears twice
in the updates still yields one tracker row.

At 100 TB the tracker side would be partitioned by key and the
update batch is small → broadcast join, and the rewrite touches only
the partitions containing matched keys (partition-scoped RMW).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.provenance import append_source_token
from ..functions.text import format_conf
from ..pin import pin

TRACKER_KEY = ["sheet_name", "row_index"]

# the parse write-back's update columns (decide() output names)
PARSE_COLS = ("canonical", "company", "role", "conf", "decision", "provider")


def new(name: str) -> Column:
    """Update column ``name`` as the ``sets`` expressions of
    ``merge_rows`` read it."""
    return F.col(f"_new_{name}")


def merge_rows(tracker: DataFrame, updates: DataFrame, sets: dict[str, Column]) -> DataFrame:
    """Overwrite the ``sets`` cells of every tracker row whose key has
    an update row. ``updates`` holds TRACKER_KEY plus the columns the
    ``sets`` expressions read through ``new()``; they may also read the
    tracker row's own cells by name. One update row per key is kept,
    so a key repeated in ``updates`` still yields one tracker row. The
    result has the tracker's columns in the tracker's order."""
    u = updates.select(
        *TRACKER_KEY,
        *(F.col(c).alias(f"_new_{c}") for c in updates.columns if c not in TRACKER_KEY),
        F.lit(True).alias("_matched"),
    ).dropDuplicates(TRACKER_KEY)
    matched = F.col("_matched").isNotNull()
    return (
        tracker.join(F.broadcast(u), TRACKER_KEY, "left")
        .withColumns({c: F.when(matched, e).otherwise(F.col(c)) for c, e in sets.items()})
        .select(*tracker.columns)
    )


def parse_sets(source: Column) -> dict[str, Column]:
    """The parse write-back's cells (reference :834-840, :914): parse
    fields OVERWRITE, Status becomes 'ok', and ``source`` (the Source
    cell, possibly already carrying earlier tokens of this batch) gets
    a replace-by-kind parse token."""
    return {
        "canonical_link": new("canonical"),
        "company_auto": new("company"),
        "role_auto": new("role"),
        "status": F.lit("ok"),
        "source": append_source_token(
            source,
            "parse",
            {
                "provider": F.coalesce(new("provider"), F.lit("direct")),
                "signals": F.coalesce(new("decision"), F.lit("heuristic")),
                "conf": format_conf(F.coalesce(new("conf"), F.lit(0.0))),
            },
        ),
    }


def merge_writeback(tracker: DataFrame, parsed: DataFrame) -> DataFrame:
    """Apply parsed results to the tracker.

    parsed columns: sheet_name, row_index, canonical, company, role,
    conf, decision, provider."""
    return merge_rows(
        tracker, parsed.select(*TRACKER_KEY, *PARSE_COLS), parse_sets(F.col("source"))
    )


def merge_writeback_incremental(
    spark,
    tracker_path: str,
    parsed: DataFrame,
    partition_col: str = "sheet_name",
) -> list:
    """Partition-scoped incremental MERGE against a parquet tracker
    dataset partitioned by ``partition_col`` (SURVEY §4
    "fill-blanks-only MERGE"; reference writeBack_,
    code-LLM-intergration.js:821-853 — the reference touches only the
    sheet rows of the batch; here the unit of rewrite is a partition).

    Read-modify-write that touches ONLY the partitions containing
    batch keys:

    1. the batch's distinct partition values are collected — bounded
       by the batch size (reference BATCH_SIZE=12), so this is a
       small driver list, not a table scan;
    2. the tracker read is filtered to those partitions — Catalyst
       turns that into partition pruning, so unaffected partitions
       are never even SCANNED (assert via PartitionFilters in the
       plan);
    3. the merged result is pinned (eager ``pin()`` — bounded:
       affected partitions only) to cut lineage back to the source
       files, then written with per-write dynamic partition
       overwrite, which replaces ONLY the partitions present in the
       result. Unaffected partitions' files are never rewritten.

    At 100 TB: a 12-row batch touches ≤12 partitions of a
    10k-partition tracker — the rewrite is O(batch), not O(table).

    Returns the affected partition values (for audit/logging); an
    empty batch touches nothing and returns [] without reading.
    """
    affected = [
        r[0] for r in parsed.select(partition_col).distinct().collect()
    ]
    if not affected:
        return []
    tracker = spark.read.parquet(tracker_path).filter(
        F.col(partition_col).isin(affected)
    )
    merged = pin(merge_writeback(tracker, parsed), "bounded", eager=True)
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(tracker_path)
    )
    return affected
