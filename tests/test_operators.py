"""Unit tests for pipeline operators not fully covered by the oracle
queries (batch selection, dequeue, dead-lettering)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from joblink_etl_spark.operators.enqueue import dequeue, select_batch
from joblink_etl_spark.operators.pipeline import _mark_error_rows


def _queue(spark, rows):
    return spark.createDataFrame(
        rows, "sheet_name string, row_index long, status string, enqueued_at timestamp"
    )


def test_select_batch_fifo(spark):
    q = _queue(
        spark,
        [
            ("S", 1, "queued", datetime(2024, 1, 3)),
            ("S", 2, "queued", datetime(2024, 1, 1)),
            ("S", 3, "processing", datetime(2024, 1, 1)),
            ("S", 4, "queued", datetime(2024, 1, 2)),
        ],
    )
    got = [r["row_index"] for r in select_batch(q, 2).collect()]
    assert got == [2, 4]  # oldest first, processing excluded


def test_dequeue_anti_join(spark):
    q = _queue(
        spark,
        [
            ("S", 1, "queued", datetime(2024, 1, 1)),
            ("S", 2, "queued", datetime(2024, 1, 1)),
            ("T", 1, "queued", datetime(2024, 1, 1)),
        ],
    )
    done = spark.createDataFrame([("S", 1)], "sheet_name string, row_index long")
    left = {(r["sheet_name"], r["row_index"]) for r in dequeue(q, done).collect()}
    assert left == {("S", 2), ("T", 1)}


def test_mark_error_rows_dead_letters(spark):
    """The drain's dead-letter write: Status 'error', the message cut
    to 300 characters and appended after the existing Source token;
    unmatched rows unchanged."""
    tracker = spark.createDataFrame(
        [("S", 1, "queued", "parse:{provider=direct}"), ("S", 2, "queued", "old:{x=1}")],
        "sheet_name string, row_index long, status string, source string",
    )
    errors = spark.createDataFrame(
        [("S", 1, "boom " * 100)], "sheet_name string, row_index long, fetch_error string"
    )
    out = _mark_error_rows(tracker, errors)
    assert out.columns == tracker.columns
    rows = {r["row_index"]: r.asDict() for r in out.collect()}
    assert rows[2] == {"sheet_name": "S", "row_index": 2, "status": "queued", "source": "old:{x=1}"}
    assert rows[1]["status"] == "error"
    assert rows[1]["source"] == "parse:{provider=direct} | " + ("boom " * 100)[:300]


def test_interval_join_binned_matches_theta(spark):
    """Binned decomposition == brute-force containment, including
    boundary points, multi-bin-spanning intervals, and points in
    zero/many intervals."""
    from joblink_etl_spark.operators.asof import interval_join_binned

    points = spark.createDataFrame(
        [(1, 0), (2, 10), (3, 99), (4, 100), (5, 5000), (6, 1023), (7, 1024)],
        "pid BIGINT, p BIGINT",
    )
    intervals = spark.createDataFrame(
        [(10, 0, 0),        # single point at origin
         (11, 5, 99),       # within one bin
         (12, 90, 2000),    # spans three bins
         (13, 4000, 6000),  # isolated
         (14, 10, 10)],     # exact single point
        "iid BIGINT, s BIGINT, e BIGINT",
    )
    got = {
        (r["pid"], r["iid"])
        for r in interval_join_binned(points, intervals, "p", "s", "e", bin_size=1024).collect()
    }
    want = set()
    for pid, p in [(1, 0), (2, 10), (3, 99), (4, 100), (5, 5000), (6, 1023), (7, 1024)]:
        for iid, s, e in [(10, 0, 0), (11, 5, 99), (12, 90, 2000), (13, 4000, 6000), (14, 10, 10)]:
            if s <= p <= e:
                want.add((pid, iid))
    assert got == want


def test_snapshot_diff_classification_and_null_safety(spark):
    from joblink_etl_spark.sources.io import snapshot_diff
    from pyspark.sql import functions as F

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, None, 30.0), (4, "d", 40.0)],
        "k BIGINT, s STRING, v DOUBLE",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0),        # unchanged
         (2, "b", 20.0),        # NULL -> value: changed (null-sentinel hash)
         (3, None, 30.0),       # unchanged with a NULL field
         (5, "e", 50.0)],       # added; 4 removed
        "k BIGINT, s STRING, v DOUBLE",
    )
    got = {r["k"]: r["status"] for r in snapshot_diff(old, new, ["k"]).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "unchanged", 4: "removed", 5: "added"}


def test_kmv_merge_equals_direct_build(spark):
    from joblink_etl_spark.operators.sketches import (
        kmv_distinct,
        kmv_merge_estimate,
        kmv_sketch,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("g", i % 300) for i in range(1500)] + [("h", i % 20) for i in range(60)],
        "grp STRING, uid BIGINT",
    )
    parts = None
    for m in range(3):  # three shards
        s = kmv_sketch(df.filter(F.col("uid") % 3 == m), "grp", "uid", k=64)
        parts = s if parts is None else parts.unionByName(s)
    merged = {
        r["grp"]: (r["n_seen"], r["est_distinct"])
        for r in kmv_merge_estimate(parts, "grp", k=64).collect()
    }
    direct = {
        r["grp"]: (r["n_seen"], r["est_distinct"])
        for r in kmv_distinct(df, "grp", "uid", k=64).collect()
    }
    assert merged == direct
    assert direct["h"] == (20, 20.0)


def test_hll_estimate_accuracy_bands(spark):
    """Raw HLL (m=64, no range corrections): within the ~13%
    1.04/sqrt(m) band for mid-range cardinalities, and register
    state merges by max (the HLL algebra)."""
    from joblink_etl_spark.operators.sketches import hll_estimate, hll_registers
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("g", i) for i in range(4000)], "grp STRING, uid BIGINT")
    est = hll_estimate(hll_registers(df, "grp", "uid"), "grp").collect()[0]["est_distinct"]
    assert 4000 * 0.7 < est < 4000 * 1.3
    # mergeability: max-merge of two halves' registers == full build
    r_full = hll_registers(df, "grp", "uid")
    halves = None
    for m in (0, 1):
        r = hll_registers(df.filter(F.col("uid") % 2 == m), "grp", "uid")
        halves = r if halves is None else halves.unionByName(r)
    merged = halves.groupBy("grp", "bucket").agg(F.max("register").alias("register"))
    a = {(r["bucket"], r["register"]) for r in r_full.collect()}
    b = {(r["bucket"], r["register"]) for r in merged.collect()}
    assert a == b


def test_kmv_overlap_exact_below_k(spark):
    """When the union fits in the sketch, the overlap numbers are
    EXACT (theta sampling never kicks in)."""
    from joblink_etl_spark.operators.sketches import kmv_overlap

    a = spark.createDataFrame([(i,) for i in range(30)], "uid BIGINT")
    b = spark.createDataFrame([(i,) for i in range(20, 50)], "uid BIGINT")
    r = kmv_overlap(a, b, "uid", k=64).collect()[0]
    assert r["est_union"] == 50.0
    assert r["est_intersection"] == 10.0
    assert r["jaccard_est"] == 0.2


def test_minhash_base_unique_id_precondition(spark):
    """ADVICE r14: minhash_base_and_bands returns the raw shingled
    relation as `sh` — one row per INPUT row, not one per id (no
    collapsing aggregate). A duplicate doc_id therefore surfaces as
    duplicate sh rows (and would duplicate verify-join pairs
    downstream): the documented precondition is that callers feed
    unique-id tables. This pin makes the behavior visible instead of
    silent."""
    from joblink_etl_spark.operators.dedup import minhash_base_and_bands

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (1, "alpha beta gamma delta"), (2, "x y z w")],
        "doc_id BIGINT, text STRING",
    )
    sh, sigs, _ = minhash_base_and_bands(docs)
    # sh: row-per-input-row (duplicate id kept); sigs: aggregate, so
    # one row per id regardless
    assert sh.groupBy("id").count().filter("count > 1").count() == 1
    assert sigs.groupBy("id").count().filter("count > 1").count() == 0


def test_char_repeat_spans_md5_determines_row(spark):
    """ADVICE r14: span_unit_repeats' re-attach joins the candidate
    broadcast on span_md5 alone — result-identical only while the
    candidate relation has ONE row per span_md5, i.e. span_len is a
    function of span_text (span_len == length(span_text)). Pin that
    invariant on the generator's output so a future change that
    breaks it (e.g. truncated spans keeping the pre-truncation
    length) fails here instead of silently duplicating rows."""
    from joblink_etl_spark.operators.suffix import char_repeat_spans

    boiler = "SUBSCRIBE NOW to our newsletter for weekly updates! "
    docs = spark.createDataFrame(
        [(i, f"doc {i} intro. {boiler * 3} tail {i}") for i in range(4)],
        "doc_id BIGINT, text STRING",
    )
    spans = char_repeat_spans(docs).select("span_text", "span_len").distinct()
    rows = spans.collect()
    assert rows, "fixture must produce candidate spans"
    assert all(r["span_len"] == len(r["span_text"]) for r in rows)
