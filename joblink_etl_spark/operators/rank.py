"""Distributed global ordering rank.

`global_rank` assigns the 1-based position of each row in a TOTAL
order (order_cols must be a unique key) without ever sorting on a
single partition: range-repartition on the order key, rank locally
per partition, then add broadcast per-partition offsets. This is the
standard two-phase distributed rank — the shuffle is the range
exchange (same cost as any global sort), the window runs per
partition, and the only driver traffic is ONE row per partition
(bounded by the partition count, like the write-back batch list).

Determinism: range boundaries come from Spark's sampler, but the
final rank is a pure function of the total order — any boundary
split yields the same ranks. The partitioned input is persisted so
the offset counts and the ranking pass see the SAME boundaries.

NOTE: this operator performs one bounded ACTION at call time (the
per-partition counts) — callers that need action-free plan
construction should call it at execution time, not build time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..pin import pin

# Why grouped_rank's corpus-scale pin has no opt-out: the counts pass
# and the offsets pass both read spark_partition_id(), and a
# recomputation could re-sample the range boundaries and renumber
# partitions between them, silently corrupting ranks.
GROUPED_RANK_PIN_REASON = "both rank passes must see one range partitioning"


def grouped_rank(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    out_col: str = "rnk",
    num_partitions: int | None = None,
) -> DataFrame:
    """1-based rank of each row WITHIN its group under a total order
    (group_cols + order_cols must be a unique key) — without ever
    putting a whole group on one partition.

    A window `partitionBy(group)` hashes EVERY row of a group to one
    task — a billion-row language bucket is a straight OOM at corpus
    scale. This instead range-repartitions on (group, order) so each
    group's order is contiguous ACROSS partitions, ranks locally per
    (partition, group) slice, and adds per-(partition, group) offsets.
    Driver traffic is one count row per (partition × group present in
    that partition) — bounded by n_partitions · n_groups, fine for
    group keys like language/source (the intended use); for
    unbounded group cardinality use a plain window, whose per-group
    rows then fit a task anyway.

    Bounded-action contract as global_rank (one counts action at
    call time). Unlike global_rank's caller-released persist pin,
    the range exchange here is pinned with an EAGER ``pin()``
    (``GROUPED_RANK_PIN_REASON``; fault-tolerance tradeoff: ``pin()``):
    the offset counts and the ranking pass must see the same sampled
    range boundaries (a recompute would re-sample), but callers like
    spearman_by_group invoke this twice per query and hold the
    result lazily — a persist they must release leaks pinned
    partitions in practice. A local checkpoint truncates the lineage
    at materialized blocks whose lifetime is tied to the RDD reference
    (the ContextCleaner reclaims them on GC), so repeated calls
    don't accumulate cache entries.
    """
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    keys = [F.col(c) for c in (*group_cols, *order_cols)]
    part = pin(
        df.repartitionByRange(n, *keys).withColumn("_pid", F.spark_partition_id()),
        "corpus",
        eager=True,
        reason=GROUPED_RANK_PIN_REASON,
    )
    counts = (
        part.groupBy("_pid", *group_cols)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    if len(counts) > 100_000:
        import warnings

        warnings.warn(
            f"grouped_rank collected {len(counts)} (partition, group) count "
            "rows — group cardinality this high belongs in a plain window "
            "(each group then fits a task anyway); the driver-side offset "
            "table will not scale with unbounded group keys.",
            RuntimeWarning,
            stacklevel=2,
        )
    if not counts:
        return part.withColumn(out_col, F.lit(None).cast("bigint")).drop("_pid")
    # per-group running offset over partitions in pid order
    by_group: dict[tuple, list] = {}
    for r in counts:
        g = tuple(r[c] for c in group_cols)
        by_group.setdefault(g, []).append((r["_pid"], r["cnt"]))
    offsets = []
    for g, lst in by_group.items():
        acc = 0
        for pid, cnt in sorted(lst):
            offsets.append((pid, *g, acc))
            acc += cnt
    gschema = ", ".join(f"{c} {t}" for c, t in df.select(*group_cols).dtypes)
    off_df = spark.createDataFrame(offsets, f"_pid INT, {gschema}, _off BIGINT")
    w = Window.partitionBy("_pid", *group_cols).orderBy(
        *[F.col(c) for c in order_cols]
    )
    return (
        part.join(F.broadcast(off_df), ["_pid", *group_cols])
        .withColumn(out_col, F.row_number().over(w) + F.col("_off"))
        .drop("_pid", "_off")
    )


def global_rank(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "rnk",
    num_partitions: int | None = None,
) -> DataFrame:
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    # Persist lifetime: the pin covers the offset-count action AND the
    # returned plan's ranking pass (both must see the same sampled
    # range boundaries); the caller releases it with unpersist() /
    # catalog.clearCache() after the consuming action, same convention
    # as the other persisting operators (kmeans_codes, bloom_decontam).
    part = (
        df.repartitionByRange(n, *[F.col(c) for c in order_cols])
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    counts = sorted(
        (r["_pid"], r["cnt"])
        for r in part.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    if not counts:
        # empty input: schema-inference on an empty offsets list would
        # throw; the correct result is just the input with an empty
        # rank column
        # bigint to match the non-empty branch (row_number + _off)
        return part.withColumn(out_col, F.lit(None).cast("bigint")).drop("_pid")
    offsets, acc = [], 0
    for pid, cnt in counts:
        offsets.append((pid, acc))
        acc += cnt
    off_df = spark.createDataFrame(offsets, "_pid INT, _off BIGINT")
    w = Window.partitionBy("_pid").orderBy(*[F.col(c) for c in order_cols])
    return (
        part.join(F.broadcast(off_df), "_pid")
        .withColumn(out_col, F.row_number().over(w) + F.col("_off"))
        .drop("_pid", "_off")
    )
