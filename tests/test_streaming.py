"""Structured Streaming tests (ST1-ST7): availableNow drain, keyed
dedup state, watermark windows, rate limiting, dead-letter channel —
streaming results cross-checked against their batch twins."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from joblink_etl_spark.sources import table
from joblink_etl_spark.streaming.pipeline import (
    LINK_EVENT_SCHEMA,
    drain_with_dead_letter,
    read_link_stream,
    run_available_now,
    session_event_counts,
    streaming_enqueue,
    windowed_event_counts,
)

T0 = datetime(2024, 1, 1, 12, 0, 0)


def _write_links(spark, path, rows, n_files=1):
    df = spark.createDataFrame(rows, LINK_EVENT_SCHEMA)
    df.repartition(n_files).write.mode("append").parquet(path)


def test_streaming_enqueue_dedup_and_filter(spark, tmp_path):
    src, sink, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    rows = [
        ("S", 2, "https://jobs.lever.co/a/1", T0),
        ("S", 2, "https://jobs.lever.co/a/1", T0 + timedelta(minutes=1)),  # dup key
        ("S", 3, "not a url", T0),                                        # filtered
        ("T", 2, "https://jobs.lever.co/b/2", T0),
    ]
    _write_links(spark, src, rows)
    run_available_now(streaming_enqueue(read_link_stream(spark, src)), sink, ckpt)
    out = spark.read.parquet(sink)
    got = {(r["sheet_name"], r["row_index"]) for r in out.collect()}
    assert got == {("S", 2), ("T", 2)}
    assert all(r["status"] == "queued" and r["tries"] == 0 for r in out.collect())


def test_streaming_enqueue_incremental_restart(spark, tmp_path):
    """New files after a drain are processed incrementally from the
    checkpoint — the re-paste within the watermark is still deduped."""
    src, sink, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_links(spark, src, [("S", 2, "https://jobs.lever.co/a/1", T0)])
    run_available_now(streaming_enqueue(read_link_stream(spark, src)), sink, ckpt)
    _write_links(
        spark,
        src,
        [
            ("S", 2, "https://jobs.lever.co/a/1", T0 + timedelta(minutes=5)),  # re-paste
            ("S", 9, "https://jobs.lever.co/c/9", T0 + timedelta(minutes=5)),
        ],
    )
    run_available_now(streaming_enqueue(read_link_stream(spark, src)), sink, ckpt)
    got = sorted(
        (r["sheet_name"], r["row_index"]) for r in spark.read.parquet(sink).collect()
    )
    assert got == [("S", 2), ("S", 9)]


def test_windowed_counts_match_batch(spark, tmp_path, sf_dir):
    src, sink, ckpt = str(tmp_path / "ev"), str(tmp_path / "out"), str(tmp_path / "ck")
    ev = table(spark, sf_dir, "events").filter(F.col("event_id") < 500).select(
        "event_id", "ts", "user_id", "event_type", F.col("value").cast("string")
    )
    # one file → one micro-batch (nothing "late" within a batch), plus
    # a far-future sentinel so the watermark passes every real window —
    # append mode only emits FINALIZED windows; without the sentinel
    # the trailing windows stay in state when the drain stops
    sentinel = spark.createDataFrame(
        [(99999, datetime(2030, 1, 1), 999, "sentinel", "0")], ev.schema
    )
    ev.unionAll(sentinel).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    run_available_now(windowed_event_counts(stream), sink, ckpt)
    got = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in spark.read.parquet(sink).collect()
        if r["event_type"] != "sentinel"
    }
    want = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
        .collect()
    }
    assert got == want


def test_session_windows_stream(spark, tmp_path, sf_dir):
    src, sink, ckpt = str(tmp_path / "ev"), str(tmp_path / "out"), str(tmp_path / "ck")
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 5).select(
        "event_id", "ts", "user_id", "event_type", F.col("value").cast("string")
    )
    sentinel = spark.createDataFrame(
        [(99999, datetime(2030, 1, 1), 999, "sentinel", "0")], ev.schema
    )
    ev.unionAll(sentinel).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    run_available_now(session_event_counts(stream), sink, ckpt)
    out = spark.read.parquet(sink).filter(F.col("user_id") != 999)
    # sessions are per-user, non-overlapping, and cover every event
    assert out.count() > 0
    total = out.agg(F.sum("n_events")).first()[0]
    assert total == ev.count()
    overlaps = (
        out.alias("a")
        .join(out.alias("b"), "user_id")
        .filter(
            (F.col("a.session_start") < F.col("b.session_end"))
            & (F.col("b.session_start") < F.col("a.session_end"))
            & (F.col("a.session_start") != F.col("b.session_start"))
        )
        .count()
    )
    assert overlaps == 0


def test_rate_limited_micro_batches(spark, tmp_path):
    """ST3: maxFilesPerTrigger=1 over 3 input files → 3 micro-batches."""
    src, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
    for i in range(3):
        _write_links(spark, src, [("S", i, f"https://jobs.lever.co/a/{i}", T0)])
    batches = []

    def process(df):
        return df

    def ok(df):
        batches.append(df.count())

    def err(df, e):
        raise AssertionError(e)

    seen = drain_with_dead_letter(
        read_link_stream(spark, src, max_files_per_trigger=1),
        ckpt, process, ok, err,
    )
    assert len(seen) >= 3
    assert sum(batches) == 3


def test_dead_letter_channel(spark, tmp_path):
    """ST5: a failing batch goes to the error side-output; the drain
    completes (single-attempt, ST6)."""
    src, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
    _write_links(spark, src, [("S", 1, "https://jobs.lever.co/a/1", T0)])
    errors = []

    def process(df):
        raise RuntimeError("boom")

    def ok(df):
        raise AssertionError("should not succeed")

    def err(df, e):
        errors.append((df.count(), str(e)[:300]))

    drain_with_dead_letter(read_link_stream(spark, src), ckpt, process, ok, err)
    assert errors and errors[0][1] == "boom"


def test_stateful_throttle_across_batches(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): per-sheet
    admission counts persist across micro-batches via the
    checkpointed state store, and a new wall-window resets them."""
    from joblink_etl_spark.streaming.pipeline import throttled_links

    src, sink, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_links(
        spark,
        src,
        [
            ("S", 1, "https://jobs.lever.co/a/1", T0),
            ("S", 2, "https://jobs.lever.co/a/2", T0 + timedelta(seconds=5)),
            ("S", 3, "https://jobs.lever.co/a/3", T0 + timedelta(seconds=10)),
            ("T", 1, "https://jobs.lever.co/b/1", T0),
        ],
    )
    stream = throttled_links(read_link_stream(spark, src), per_key_limit=2, window_seconds=60)
    run_available_now(stream, sink, ckpt)
    got = {(r["sheet_name"], r["row_index"]): r["admitted"] for r in spark.read.parquet(sink).collect()}
    # first 2 per sheet-window admitted, 3rd throttled; other key unaffected
    assert got == {("S", 1): True, ("S", 2): True, ("S", 3): False, ("T", 1): True}

    # second drain, same checkpoint: state remembers the window is full
    _write_links(
        spark,
        src,
        [
            ("S", 4, "https://jobs.lever.co/a/4", T0 + timedelta(seconds=20)),
            ("S", 5, "https://jobs.lever.co/a/5", T0 + timedelta(seconds=70)),  # next window
        ],
    )
    stream = throttled_links(read_link_stream(spark, src), per_key_limit=2, window_seconds=60)
    run_available_now(stream, sink, ckpt)
    got2 = {(r["sheet_name"], r["row_index"]): r["admitted"] for r in spark.read.parquet(sink).collect()}
    assert got2[("S", 4)] is False  # same window, still over the limit
    assert got2[("S", 5)] is True   # window rolled over -> counter reset


def test_throttled_links_batch_twin_matches_stream_semantics(spark):
    """The driver-checkable batch spelling runs the same admit loop
    as the stateful operator: same per-(key, wall-window) limits over
    the full history in one pass."""
    from joblink_etl_spark.streaming.pipeline import throttled_links_batch

    links = spark.createDataFrame(
        [
            ("S", 1, "https://jobs.lever.co/a/1", T0),
            ("S", 2, "https://jobs.lever.co/a/2", T0 + timedelta(seconds=5)),
            ("S", 3, "https://jobs.lever.co/a/3", T0 + timedelta(seconds=10)),
            ("S", 4, "https://jobs.lever.co/a/4", T0 + timedelta(seconds=20)),
            ("S", 5, "https://jobs.lever.co/a/5", T0 + timedelta(seconds=70)),  # next window
            ("T", 1, "https://jobs.lever.co/b/1", T0),
        ],
        LINK_EVENT_SCHEMA,
    )
    out = throttled_links_batch(links, per_key_limit=2, window_seconds=60)
    got = {(r["sheet_name"], r["row_index"]): r["admitted"] for r in out.collect()}
    # matches the two-drain stateful run in
    # test_stateful_throttle_across_batches row for row
    assert got == {
        ("S", 1): True, ("S", 2): True, ("S", 3): False,
        ("S", 4): False, ("S", 5): True, ("T", 1): True,
    }
    assert set(out.columns) == {"sheet_name", "row_index", "url", "edited_at", "admitted"}


def test_stream_interval_join_matches_batch(spark, tmp_path, sf_dir):
    from joblink_etl_spark.streaming.pipeline import stream_interval_join

    src, sink, ckpt = str(tmp_path / "ev"), str(tmp_path / "out"), str(tmp_path / "ck")
    ev = table(spark, sf_dir, "events").filter(F.col("event_id") < 2000).select(
        "event_id", "ts", "user_id", "event_type", F.col("value").cast("string")
    )
    # future sentinels on BOTH types so the join watermark passes all
    # real event times before the drain stops
    sent = spark.createDataFrame(
        [(99998, datetime(2030, 1, 1), 999, "view", "0"),
         (99999, datetime(2030, 1, 1), 999, "click", "0")], ev.schema
    )
    ev.unionAll(sent).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    views = stream.filter(F.col("event_type") == "view")
    clicks = stream.filter(F.col("event_type") == "click")
    joined = stream_interval_join(views, clicks, key="user_id", max_delay="30 minutes")
    run_available_now(joined, sink, ckpt)
    got = {
        (r["l_event_id"], r["r_event_id"])
        for r in spark.read.parquet(sink).collect()
        if r["l_event_id"] < 90000 and r["r_event_id"] < 90000
    }
    bv = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("k"), F.col("ts").alias("lts"), F.col("event_id").alias("lid")
    )
    bc = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("rk"), F.col("ts").alias("rts"), F.col("event_id").alias("rid")
    )
    want = {
        (r["lid"], r["rid"])
        for r in bv.join(
            bc,
            (bv.k == bc.rk)
            & (bc.rts >= bv.lts)
            & (bc.rts <= bv.lts + F.expr("INTERVAL 30 minutes")),
        ).collect()
    }
    assert got == want and len(want) > 0


def test_stream_static_enrichment(spark, tmp_path, sf_dir):
    from joblink_etl_spark.streaming.pipeline import enrich_stream

    src, sink, ckpt = str(tmp_path / "ev"), str(tmp_path / "out"), str(tmp_path / "ck")
    ev = table(spark, sf_dir, "events").filter(F.col("event_id") < 300).select(
        "event_id", "ts", "user_id", "event_type", F.col("value").cast("string")
    )
    ev.coalesce(1).write.parquet(src)
    dim = ev.select("user_id").distinct().withColumn(
        "tier", F.when(F.col("user_id") % 2 == 0, "even").otherwise("odd")
    )
    stream = spark.readStream.schema(ev.schema).parquet(src)
    run_available_now(enrich_stream(stream, dim, "user_id"), sink, ckpt)
    got = spark.read.parquet(sink)
    assert got.count() == ev.count()
    bad = got.filter(
        (F.col("user_id") % 2 == 0) != (F.col("tier") == "even")
    ).count()
    assert bad == 0


def test_streaming_band_registry_state_across_batches(spark, tmp_path):
    """Streaming near-dup gate: a clone arriving in a LATER
    micro-batch is flagged against the original via the checkpointed
    per-bucket state, and the full-history batch twin agrees with a
    single-batch stream drain."""
    from joblink_etl_spark.streaming.pipeline import (
        band_registry_batch,
        streaming_band_registry,
    )

    src, sink, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    schema = "doc_id long, text string"
    texts = {
        1: "alpha beta gamma delta epsilon zeta eta theta",
        2: "totally different words live in this document body",
    }
    spark.createDataFrame([(1, texts[1]), (2, texts[2])], schema).write.mode(
        "append"
    ).parquet(src)

    def drain():
        stream = streaming_band_registry(
            spark.readStream.schema(schema).parquet(src)
        )
        run_available_now(stream, sink, ckpt)
        return spark.read.parquet(sink).collect()

    first = drain()
    assert all(r["is_first"] and r["canonical_id"] == r["doc_id"] for r in first)

    # batch 2: an exact clone of doc 1 plus a fresh doc
    spark.createDataFrame(
        [(11, texts[1]), (12, "yet another unrelated fresh document text")], schema
    ).write.mode("append").parquet(src)
    rows = drain()
    clone = [r for r in rows if r["doc_id"] == 11]
    assert len(clone) == 4  # one row per band
    assert all(not r["is_first"] and r["canonical_id"] == 1 for r in clone)
    fresh = [r for r in rows if r["doc_id"] == 12]
    assert all(r["is_first"] for r in fresh)

    # batch-twin equivalence: full history in one batch == the
    # stream's cumulative output
    hist = spark.createDataFrame(
        [(1, texts[1]), (2, texts[2]), (11, texts[1]),
         (12, "yet another unrelated fresh document text")], schema
    )
    twin = {
        (r["doc_id"], r["band"]): (r["bucket"], r["canonical_id"], r["is_first"])
        for r in band_registry_batch(hist).collect()
    }
    got = {
        (r["doc_id"], r["band"]): (r["bucket"], r["canonical_id"], r["is_first"])
        for r in rows
    }
    assert twin == got


def test_streaming_band_registry_ttl_evicts_state(spark, tmp_path):
    """r14 (r13 What's-wrong #3): the band registry's ttl_seconds arm
    bounds the state store. Buckets untouched for a full TTL are
    EVICTED on the next micro-batch (state rows drop), and a clone
    arriving after its bucket expired re-registers as a fresh
    canonical — the stored-index-with-retention-sweep semantics.
    GroupState TTL is lazy: eviction fires on a batch where the
    expired key receives no data, which is why the probe batch here
    carries only an unrelated document. noDataMicroBatches is OFF
    for the drains — under ProcessingTimeTimeout an availableNow
    drain with no-data batches enabled never terminates (the
    operator's shouldRunAnotherBatch is always true; see the DRAIN
    CAVEAT in streaming_band_registry's docstring)."""
    import time as _time

    from joblink_etl_spark.streaming.pipeline import streaming_band_registry

    src, sink, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    schema = "doc_id long, text string"
    texts = {
        1: "alpha beta gamma delta epsilon zeta eta theta",
        2: "totally different words live in this document body",
        3: "a third unrelated probe document with fresh content here",
    }

    conf_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prior_conf = spark.conf.get(conf_key, "true")
    spark.conf.set(conf_key, "false")

    def drain():
        stream = streaming_band_registry(
            spark.readStream.schema(schema).parquet(src), ttl_seconds=1
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        state_rows = None
        for p in reversed(q.recentProgress or []):
            ops = p.get("stateOperators") or []
            if ops:
                state_rows = int(sum(o.get("numRowsTotal", 0) for o in ops))
                break
        return spark.read.parquet(sink).collect(), state_rows

    try:
        spark.createDataFrame([(1, texts[1]), (2, texts[2])], schema).write.mode(
            "append"
        ).parquet(src)
        rows1, state1 = drain()
        assert all(r["is_first"] for r in rows1)
        assert state1 and state1 > 0

        # let every registered bucket's TTL lapse, then drive a batch
        # whose only data is an UNRELATED doc: the silent expired keys
        # are evicted during this batch
        _time.sleep(2.5)
        spark.createDataFrame([(3, texts[3])], schema).write.mode("append").parquet(src)
        rows2, state2 = drain()
        n3 = len({r["bucket"] for r in rows2 if r["doc_id"] == 3})
        assert state2 is not None and state2 < state1, (state1, state2)
        assert state2 == n3  # only the probe doc's buckets survive

        # a clone of doc 1 arriving AFTER eviction re-registers as first
        spark.createDataFrame([(11, texts[1])], schema).write.mode("append").parquet(src)
        rows3, _ = drain()
        clone = [r for r in rows3 if r["doc_id"] == 11]
        assert clone and all(r["is_first"] and r["canonical_id"] == 11 for r in clone)
    finally:
        spark.conf.set(conf_key, prior_conf)


def _write_events(spark, path, rows):
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    df.coalesce(1).write.mode("append").parquet(path)


def test_streaming_sessions_state_and_timeout_flush(spark, tmp_path):
    """Custom stateful sessionization: (a) a later event closes the
    previous session arrival-driven, across micro-batches; (b) a
    TRAILING session with no successor flushes via the event-time
    state timeout once the watermark passes session_end + gap."""
    from joblink_etl_spark.streaming.pipeline import streaming_sessions

    src, sink, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"

    def drain():
        stream = streaming_sessions(
            spark.readStream.schema(schema).parquet(src),
            gap_seconds=300,
            watermark="1 seconds",
        )
        run_available_now(stream, sink, ckpt)
        return sorted(
            (
                (r["user_id"], r["session_start"], r["session_end"],
                 r["n_events"], r["sum_value"])
            )
            for r in spark.read.parquet(sink).collect()
        )

    # batch 1: user 1 has a 2-event session then a session-opening event
    _write_events(
        spark, src,
        [
            (1, T0, 1, "view", 1.0),
            (2, T0 + timedelta(seconds=60), 1, "click", 2.0),
            (3, T0 + timedelta(seconds=1000), 1, "view", 4.0),
        ],
    )
    got1 = drain()
    assert got1 == [(1, T0, T0 + timedelta(seconds=60), 2, 3.0)]

    # batch 2: an event 301+s later closes session 2 ACROSS batches
    _write_events(spark, src, [(4, T0 + timedelta(seconds=1400), 1, "buy", 8.0)])
    got2 = drain()
    assert (1, T0 + timedelta(seconds=1000), T0 + timedelta(seconds=1000), 1, 4.0) in got2

    # batches 3+4: a far-future event from ANOTHER user pushes the
    # watermark; the next batch fires user 1's state timeout and
    # flushes the trailing session without any user-1 event
    _write_events(spark, src, [(5, T0 + timedelta(seconds=100000), 99, "view", 0.0)])
    drain()
    _write_events(spark, src, [(6, T0 + timedelta(seconds=100001), 99, "view", 0.0)])
    got4 = drain()
    assert (1, T0 + timedelta(seconds=1400), T0 + timedelta(seconds=1400), 1, 8.0) in got4


def test_streaming_sessions_match_batch_twin(spark, tmp_path, sf_dir):
    """Full-history drain (plus a watermark-advancing sentinel) must
    reproduce the batch session_windows oracle query for every
    CLOSED session."""
    from joblink_etl_spark.plans.events_q import session_windows
    from joblink_etl_spark.streaming.pipeline import streaming_sessions

    src, sink, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    ev = table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    ev.coalesce(1).write.mode("append").parquet(src)

    def drain():
        stream = streaming_sessions(
            spark.readStream.schema(ev.schema).parquet(src),
            gap_seconds=300,
            watermark="1 seconds",
        )
        run_available_now(stream, sink, ckpt)

    drain()
    # sentinel far past every real event, then one more batch so the
    # timeout fires and trailing sessions flush
    far = ev.agg(F.max("ts")).first()[0] + timedelta(days=30)
    _write_events(spark, src, [(10**9, far, 10**6, "x", 0.0)])
    drain()
    _write_events(spark, src, [(10**9 + 1, far + timedelta(seconds=1), 10**6, "x", 0.0)])
    drain()

    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"],
         round(r["sum_value"], 2))
        for r in spark.read.parquet(sink).collect()
        if r["user_id"] != 10**6
    }
    want = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"],
         float(r["sum_value"]))
        for r in session_windows(spark, sf_dir).collect()
    }
    assert got == want


def test_stream_repeat_span_gate_matches_batch(spark, tmp_path):
    """Streaming incremental substring dedup: micro-batched new docs
    are span-checked against the static index; the drained sink must
    equal the batch operator run over all new docs at once (per-doc
    islands need only that doc's rows, so foreachBatch reuse is
    exact)."""
    from joblink_etl_spark.operators.suffix import incremental_repeat_spans
    from joblink_etl_spark.streaming.pipeline import stream_repeat_span_gate

    src, sink, ckpt = str(tmp_path / "nd"), str(tmp_path / "out"), str(tmp_path / "ck")
    idx = spark.createDataFrame(
        [(1, "the shared boilerplate block lives in the index corpus"),
         (2, "unrelated indexed text with different words entirely")],
        "doc_id BIGINT, text STRING",
    )
    new = spark.createDataFrame(
        [(100, "x1 the shared boilerplate block lives q1"),
         (101, "zq fresh novel writing with zero overlap 77"),
         (102, "y2 boilerplate block lives in the index y3")],
        "doc_id BIGINT, text STRING",
    )
    new.repartition(3).write.parquet(src)  # several files → several batches
    stream = spark.readStream.schema(new.schema).option("maxFilesPerTrigger", 1).parquet(src)
    stream_repeat_span_gate(stream, idx, sink, ckpt, k=10)
    got = {
        (r["doc_id"], r["span_start"], r["span_len"], r["span_text"])
        for r in spark.read.parquet(sink).collect()
    }
    want = {
        (r["doc_id"], r["span_start"], r["span_len"], r["span_text"])
        for r in incremental_repeat_spans(new, idx, k=10).collect()
    }
    assert got == want and len(want) >= 2


def test_streaming_kmv_matches_batch_sketch(spark, tmp_path):
    """Streaming KMV per-key distinct count: after draining all
    micro-batches, the LAST emitted row per key must equal the batch
    sketch (operators/sketches.kmv_distinct) exactly — identical
    n_seen and identical 4-decimal estimate (k-smallest-of-union is
    the k-smallest of per-batch k-smallests)."""
    from joblink_etl_spark.operators.sketches import kmv_distinct
    from joblink_etl_spark.streaming.pipeline import run_available_now, streaming_kmv

    src, sink, ckpt = str(tmp_path / "ev"), str(tmp_path / "out"), str(tmp_path / "ck")
    rows = [("big", i % 500) for i in range(2000)] + [("small", i % 9) for i in range(100)]
    ev = spark.createDataFrame(rows, "event_type STRING, user_id BIGINT")
    ev.repartition(4).write.parquet(src)  # 4 files → 4 micro-batches

    stream = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
    run_available_now(streaming_kmv(stream, k=64), sink, ckpt)

    import pyspark.sql.functions as SF

    got_df = spark.read.parquet(sink)
    # last emission per key = the row with the max n_seen (monotone)
    w_rows = got_df.groupBy("group").agg(
        SF.max(SF.struct("n_seen", "est_distinct")).alias("s")
    )
    got = {r["group"]: (r["s"]["n_seen"], r["s"]["est_distinct"]) for r in w_rows.collect()}
    want = {
        r["event_type"]: (r["n_seen"], r["est_distinct"])
        for r in kmv_distinct(ev, "event_type", "user_id", k=64).collect()
    }
    assert got == want
    assert got["small"] == (9, 9.0)        # exact below k
    assert got["big"][0] == 64             # sketch saturated


def test_streaming_cms_matches_batch_sketch(spark, tmp_path):
    """Streaming CMS: the drained sink's max count per (seed, pos)
    cell must equal cms_build over the full history (the sketch is a
    sum — order-free), and estimates from the reconstructed sketch
    must match estimates from the batch sketch."""
    from joblink_etl_spark.operators.sketches import cms_build, cms_estimate
    from joblink_etl_spark.streaming.pipeline import run_available_now, streaming_cms

    src, sink, ckpt = str(tmp_path / "ev"), str(tmp_path / "out"), str(tmp_path / "ck")
    rows = [(i % 50,) for i in range(3000)] + [(777,)] * 400
    ev = spark.createDataFrame(rows, "user_id BIGINT")
    ev.repartition(3).write.parquet(src)

    stream = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
    run_available_now(streaming_cms(stream, "user_id"), sink, ckpt)

    import pyspark.sql.functions as SF

    drained = (
        spark.read.parquet(sink)
        .groupBy("seed", "pos")
        .agg(SF.max("cnt").alias("cnt"))
    )
    batch = cms_build(ev, "user_id")
    a = {(r["seed"], r["pos"]): r["cnt"] for r in drained.collect()}
    b = {(r["seed"], r["pos"]): r["cnt"] for r in batch.collect()}
    assert a == b
    est_s = {
        r["key"]: r["est"]
        for r in cms_estimate(drained, ev, "user_id").collect()
    }
    est_b = {
        r["key"]: r["est"]
        for r in cms_estimate(batch, ev, "user_id").collect()
    }
    assert est_s == est_b
    assert est_s["777"] >= 400  # CMS only ever over-counts


def test_streaming_hll_matches_batch_sketch(spark, tmp_path):
    """Streaming HLL: after draining, the LAST emission per key (max
    n_buckets_used / min inv_sum_scaled — registers only grow) must
    equal the batch hll_estimate(hll_registers(...)) exactly,
    including the integer sufficient statistic."""
    from joblink_etl_spark.operators.sketches import hll_estimate, hll_registers
    from joblink_etl_spark.streaming.pipeline import run_available_now, streaming_hll

    src, sink, ckpt = str(tmp_path / "ev"), str(tmp_path / "out"), str(tmp_path / "ck")
    rows = [("big", i % 700) for i in range(2500)] + [("small", i % 5) for i in range(80)]
    ev = spark.createDataFrame(rows, "event_type STRING, user_id BIGINT")
    ev.repartition(4).write.parquet(src)

    stream = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
    run_available_now(streaming_hll(stream, m=64), sink, ckpt)

    import pyspark.sql.functions as SF

    got_df = spark.read.parquet(sink)
    # registers only grow → inv_sum_scaled only shrinks; last = min
    last = got_df.groupBy("group").agg(
        SF.min(SF.struct("inv_sum_scaled", "n_buckets_used", "est_distinct")).alias("s")
    )
    got = {
        r["group"]: (r["s"]["n_buckets_used"], r["s"]["inv_sum_scaled"], r["s"]["est_distinct"])
        for r in last.collect()
    }
    want = {
        r["event_type"]: (r["n_buckets_used"], r["inv_sum_scaled"], r["est_distinct"])
        for r in hll_estimate(
            hll_registers(ev, "event_type", "user_id", m=64), "event_type", m=64
        ).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert got[k][1] == want[k][1]
        assert abs(got[k][2] - want[k][2]) < 1e-6


def test_streaming_priority_sample_matches_batch(spark, tmp_path):
    """Streaming priority sample: the final micro-batch's emission
    must equal batch priority_sample over the full history exactly —
    same ids, priorities, tau-based est_weights."""
    from joblink_etl_spark.operators.sampling import priority_sample
    from joblink_etl_spark.streaming.pipeline import (
        run_available_now,
        streaming_priority_sample,
    )

    src, sink, ckpt = str(tmp_path / "d"), str(tmp_path / "out"), str(tmp_path / "ck")
    rows = [(i, 10 + (i * 37) % 500) for i in range(400)]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, n_chars BIGINT")
    docs.repartition(4).write.parquet(src)

    stream = spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(src)
    run_available_now(streaming_priority_sample(stream, "n_chars", k=15), sink, ckpt)

    import pyspark.sql.functions as SF

    got_df = spark.read.parquet(sink)
    # final emission = rows whose priority set matches the global
    # top-15; emissions are monotone (priorities only improve), so
    # take the 15 highest-priority distinct rows ever emitted with
    # their LAST est_weight (max priority ties resolved by id)
    last = (
        got_df.groupBy("doc_id", "weight", "priority")
        .agg(SF.min("est_weight").alias("est_weight"))
    )
    top = last.orderBy(SF.col("priority").desc(), "doc_id").limit(15)
    got = sorted(map(tuple, top.collect()))
    want = sorted(map(tuple, priority_sample(docs, "n_chars", k=15, salt="pri").collect()))
    assert got == want


def test_streaming_cdc_apply_matches_batch(spark, tmp_path):
    """Streaming CDC merge: reconstructing the snapshot from the
    drained sink (last emission per key + untouched base rows, D =
    tombstone) must equal operators/cdc.apply_changelog over the full
    changelog exactly."""
    from joblink_etl_spark.operators.cdc import apply_changelog
    from joblink_etl_spark.streaming.pipeline import run_available_now, streaming_cdc_apply

    src, sink, ckpt = str(tmp_path / "chg"), str(tmp_path / "out"), str(tmp_path / "ck")
    base = spark.createDataFrame(
        [(k, f"name{k}", float(k)) for k in range(20)], "k BIGINT, name STRING, price DOUBLE"
    )
    chg_rows = []
    for i in range(60):
        k = i % 15
        op = "D" if i % 10 == 7 else "U"
        chg_rows.append((k, i, op, f"v{i}", i * 1.5))
    chg_rows.append((99, 3, "I", "new", 9.0))
    chg = spark.createDataFrame(chg_rows, "k BIGINT, seq BIGINT, op STRING, name STRING, price DOUBLE")
    chg.repartition(4).write.parquet(src)

    stream = spark.readStream.schema(chg.schema).option("maxFilesPerTrigger", 1).parquet(src)
    run_available_now(streaming_cdc_apply(stream, "k"), sink, ckpt)

    import pyspark.sql.functions as SF

    drained = spark.read.parquet(sink)
    final = (
        drained.groupBy("k")
        .agg(SF.max(SF.struct("seq", "op", "name", "price")).alias("s"))
        .select("k", "s.op", "s.name", "s.price")
    )
    touched = {r["k"]: (r["op"], r["name"], r["price"]) for r in final.collect()}
    got = {}
    for r in base.collect():
        if r["k"] not in touched:
            got[r["k"]] = (r["name"], r["price"])
    for k, (op, name, price) in touched.items():
        if op != "D":
            got[k] = (name, price)
    want = {r["k"]: (r["name"], r["price"]) for r in apply_changelog(base, chg, "k").collect()}
    assert got == want


def test_stream_ingest_curated_matches_per_file_batch(spark, tmp_path):
    """Streaming curation front door: drained sink == batch curate
    applied per input file (micro-batch == file with
    maxFilesPerTrigger=1)."""
    from joblink_etl_spark.operators.curate import curate
    from joblink_etl_spark.streaming.pipeline import stream_ingest_curated

    src, sink, ckpt = str(tmp_path / "docs"), str(tmp_path / "out"), str(tmp_path / "ck")
    from joblink_etl_spark.sources import table

    docs = table(spark, "/root/testdata/sf0.001", "documents").select("doc_id", "text")
    bench = docs.filter("doc_id % 11 = 0").limit(5)
    import os

    os.makedirs(src)
    files = []
    for i in range(3):
        part = docs.filter(f"doc_id % 3 = {i}")
        part.coalesce(1).write.parquet(f"{src}/f{i}.parquet")
        files.append(part)
    # readStream over the directory of per-file parquet dirs
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    stream_ingest_curated(stream, bench, sink, ckpt)

    got = sorted(
        map(tuple, spark.read.parquet(sink).select("doc_id", "lang_guess", "n_tokens", "quality").collect())
    )
    want = []
    for part in files:
        want += [
            tuple(r)
            for r in curate(part, bench)
            .filter("NOT contaminated")
            .select("doc_id", "lang_guess", "n_tokens", "quality")
            .collect()
        ]
    assert got == sorted(want)
    assert len(got) > 0


def test_streaming_line_registry_state_across_batches(spark, tmp_path):
    """Streaming boilerplate detector: the frequency counter carries
    across micro-batches (a footer crosses max_docs only once enough
    docs have arrived), and a full-history single-batch drain agrees
    with the batch twin row-for-row."""
    from joblink_etl_spark.streaming.pipeline import (
        line_registry_batch,
        run_available_now,
        streaming_line_registry,
    )

    src, sink, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    schema = "doc_id long, text string"
    mk = lambda i: (i, "SHARED FOOTER\nunique body %d" % i)
    spark.createDataFrame([mk(i) for i in range(3)], schema).write.mode(
        "append"
    ).parquet(src)

    def drain():
        stream = streaming_line_registry(
            spark.readStream.schema(schema).parquet(src), max_docs=4
        )
        run_available_now(stream, sink, ckpt)
        return spark.read.parquet(sink).collect()

    first = drain()
    assert not any(r["is_boiler"] for r in first)  # footer at 3 <= 4

    # two more docs arrive: the footer's count crosses the threshold
    spark.createDataFrame([mk(3), mk(4)], schema).write.mode("append").parquet(src)
    rows = drain()
    footer_rows = [r for r in rows if r["doc_id"] in (3, 4) and r["n_docs"] > 1]
    boiler = [r for r in footer_rows if r["is_boiler"]]
    assert len(boiler) == 1 and boiler[0]["doc_id"] == 4  # 5th claim > 4
    # bodies stay unique forever
    assert all(r["n_docs"] == 1 for r in rows if r["doc_id"] == 4 and not r["is_boiler"] and r not in footer_rows)

    # twin equivalence: one-batch drain over the full history ==
    # batch window spelling, row for row
    hist = spark.createDataFrame([mk(i) for i in range(5)], schema)
    sink2, ckpt2 = str(tmp_path / "out2"), str(tmp_path / "ck2")
    stream = streaming_line_registry(
        spark.readStream.schema(schema).parquet(src), max_docs=4
    )
    run_available_now(stream, sink2, ckpt2)
    got = sorted(
        [
            (r["line_h"], r["doc_id"], r["n_docs"], r["is_boiler"])
            for r in spark.read.parquet(sink2).collect()
        ]
    )
    want = sorted(
        [
            (r["line_h"], r["doc_id"], r["n_docs"], r["is_boiler"])
            for r in line_registry_batch(hist, max_docs=4).collect()
        ]
    )
    assert got == want


def test_quality_gates_are_stream_compatible(spark, tmp_path):
    """gopher_quality and encoding_artifacts are pure narrow
    projections, so they must run UNCHANGED on an unbounded stream —
    an availableNow drain over the same rows matches batch output
    row-for-row."""
    from joblink_etl_spark.operators.textstats import encoding_artifacts, gopher_quality
    from joblink_etl_spark.streaming.pipeline import run_available_now

    src = str(tmp_path / "in")
    schema = "doc_id long, text string"
    rows = [
        (1, "the be to of and words " * 10),
        (2, "# symbol soup ### ..."),
        (3, "clean enough body with the and of that have with " * 5),
    ]
    spark.createDataFrame(rows, schema).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    batch = spark.read.parquet(src)

    for name, op in [("gopher", gopher_quality), ("enc", encoding_artifacts)]:
        sink, ckpt = str(tmp_path / f"out_{name}"), str(tmp_path / f"ck_{name}")
        run_available_now(op(stream), sink, ckpt)
        got = sorted(map(tuple, spark.read.parquet(sink).collect()))
        want = sorted(map(tuple, op(batch).collect()))
        assert got == want


def test_streaming_k_anon_gate_state_across_batches(spark, tmp_path):
    """Streaming k-anonymity release gate: the QI-class counter
    carries across micro-batches (a class crosses k only once enough
    rows have arrived), and a full-history single-batch drain agrees
    with the batch twin row-for-row."""
    from joblink_etl_spark.streaming.pipeline import (
        k_anon_gate_batch,
        run_available_now,
        streaming_k_anon_gate,
    )

    src, sink, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    schema = "event_id long, zip string, age_band string"
    mk = lambda i, z: (i, z, "30-40")
    # batch 1: two rows of class A, one of class B
    spark.createDataFrame(
        [mk(1, "A"), mk(2, "A"), mk(3, "B")], schema
    ).write.mode("append").parquet(src)

    def drain():
        stream = streaming_k_anon_gate(
            spark.readStream.schema(schema).parquet(src),
            ["zip", "age_band"],
            k=3,
        )
        run_available_now(stream, sink, ckpt)
        return {r["event_id"]: r for r in spark.read.parquet(sink).collect()}

    first = drain()
    assert len(first) == 3 and not any(r["releasable"] for r in first.values())

    # batch 2: class A reaches k=3 exactly at event 4; B stays at 2
    spark.createDataFrame([mk(4, "A"), mk(5, "B")], schema).write.mode(
        "append"
    ).parquet(src)
    rows = drain()
    assert rows[4]["class_n"] == 3 and rows[4]["releasable"]
    assert rows[5]["class_n"] == 2 and not rows[5]["releasable"]

    # twin equivalence: one-batch drain over the full history ==
    # batch window spelling, row for row
    hist = spark.read.parquet(src)
    sink2, ckpt2 = str(tmp_path / "out2"), str(tmp_path / "ck2")
    stream = streaming_k_anon_gate(
        spark.readStream.schema(schema).parquet(src), ["zip", "age_band"], k=3
    )
    run_available_now(stream, sink2, ckpt2)
    got = sorted(map(tuple, spark.read.parquet(sink2).collect()))
    want = sorted(
        map(tuple, k_anon_gate_batch(hist, ["zip", "age_band"], k=3).collect())
    )
    assert got == want


def _k_anon_qi_case(kind):
    """(schema, QI columns, rows of the first micro-batch, rows) of a
    twin case: one row of every QI class in the first micro-batch, the
    rest in the second, so every class crosses k=2 only through its
    held count."""
    from datetime import date

    if kind == "null_string_long":
        # NULLs in a string and in a long QI, alone and together; a
        # long column with NULLs reaches pandas as float64
        classes = [("A", 30), (None, 30), ("A", None), (None, None), ("B", 40)]
        rows = [(i, *classes[i % 5]) for i in range(15)]
        return "event_id long, zip string, age long", ["zip", "age"], 5, rows
    ts = [datetime(2024, 3, 10, 1, 30), datetime(2024, 7, 1, 12, 0, 0, 123456), None]
    rows = [(i, ts[i % 3], [date(2024, 1, 1), None][i % 2], [True, None][i % 2])
            for i in range(18)]
    return "event_id long, t timestamp, d date, b boolean", ["t", "d", "b"], 6, rows


@pytest.mark.parametrize("kind", ["null_string_long", "temporal_boolean"])
def test_streaming_k_anon_gate_qi_key_types(spark, tmp_path, kind):
    """QI keys with NULLs go through the state bucket's held table and
    back over two micro-batches: each NULL combination is one class, as
    in Spark's grouping, and the sink equals the batch twin row for
    row, every class reaching a size of 3."""
    from joblink_etl_spark.streaming.pipeline import (
        k_anon_gate_batch,
        run_available_now,
        streaming_k_anon_gate,
    )

    src, sink, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    schema, qi, first, rows = _k_anon_qi_case(kind)
    for part in (rows[:first], rows[first:]):
        spark.createDataFrame(part, schema).write.mode("append").parquet(src)
        run_available_now(
            streaming_k_anon_gate(spark.readStream.schema(schema).parquet(src), qi, k=2),
            sink, ckpt,
        )
    got = sorted(map(tuple, spark.read.parquet(sink).select(
        *qi, "event_id", "class_n", "releasable").collect()), key=repr)
    want = sorted(map(tuple, k_anon_gate_batch(
        spark.read.parquet(src), qi, k=2).collect()), key=repr)
    assert got == want
    assert {r[len(qi) + 1] for r in got} == {1, 2, 3}


def test_streaming_k_anon_gate_rejects_float_qi(spark):
    """Spark groups a floating-point NaN apart from NULL, pandas does
    not: a float QI column is refused when the gate is built."""
    from joblink_etl_spark.streaming.pipeline import streaming_k_anon_gate

    rows = spark.createDataFrame([(1, "A", 1.5)], "event_id long, zip string, score double")
    with pytest.raises(ValueError, match="'score'"):
        streaming_k_anon_gate(rows, ["zip", "score"], k=2)


def test_streaming_blocklist_gate_matches_batch(spark, tmp_path):
    """The scan-side blocklist gate matches the join-based batch
    operator row-for-row on an availableNow drain, including the
    zero-token and over-rate documents."""
    from joblink_etl_spark.operators.curate import blocklist_hits
    from joblink_etl_spark.streaming.pipeline import (
        run_available_now,
        streaming_blocklist_gate,
    )

    src = str(tmp_path / "in")
    schema = "doc_id long, text string"
    rows = [
        (1, "spam spam spam ham"),          # 75% blocked -> dropped
        (2, "clean body of prose text"),    # no hits -> kept
        (3, "one spam word in ten tokens of otherwise clean prose"),
        (4, ""),                            # zero tokens -> kept
    ]
    spark.createDataFrame(rows, schema).write.mode("append").parquet(src)
    bl_words = ["spam", "eggs"]

    stream = streaming_blocklist_gate(
        spark.readStream.schema(schema).parquet(src), bl_words, max_rate_bp=2000
    )
    sink, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    run_available_now(stream, sink, ckpt)
    got = sorted(map(tuple, spark.read.parquet(sink).collect()))

    bl_rel = spark.createDataFrame([(w,) for w in bl_words], "word string")
    want = sorted(
        map(
            tuple,
            blocklist_hits(
                spark.read.parquet(src), bl_rel, max_rate_bp=2000
            ).collect(),
        )
    )
    assert got == want
    by_id = {t[0]: t for t in got}
    assert not by_id[1][4] and by_id[2][4] and by_id[4][4]  # keep flags


def test_streaming_source_gate_state_across_batches(spark, tmp_path):
    """Streaming per-source quality rollup: evidence accumulates
    across micro-batches (a bad source is suppressed only once its
    lifetime doc count crosses the bar), and a full-history
    single-batch drain agrees with curate.source_suppression
    row-for-row."""
    from joblink_etl_spark.operators.curate import source_suppression
    from joblink_etl_spark.streaming.pipeline import (
        run_available_now,
        streaming_source_gate,
    )

    src = str(tmp_path / "in")
    schema = "doc_id long, source string, pass_gopher boolean"
    batch1 = [(i, "spamfarm", False) for i in range(6)] + [(100, "good", True)]
    spark.createDataFrame(batch1, schema).write.mode("append").parquet(src)

    def drain(sink, ckpt):
        stream = streaming_source_gate(
            spark.readStream.schema(schema).parquet(src), min_docs=10
        )
        run_available_now(stream, str(tmp_path / sink), str(tmp_path / ckpt), "append")
        out = {}
        for r in spark.read.parquet(str(tmp_path / sink)).collect():
            # keep the LAST emission per source (highest n_docs)
            if r.source not in out or r.n_docs > out[r.source].n_docs:
                out[r.source] = r
        return out

    first = drain("out1", "ck1")
    assert first["spamfarm"].n_docs == 6 and not first["spamfarm"].suppressed

    # 5 more bad docs arrive: lifetime 11 >= 10 with 0% pass
    spark.createDataFrame(
        [(200 + i, "spamfarm", False) for i in range(5)], schema
    ).write.mode("append").parquet(src)
    rows = drain("out2", "ck2")
    assert rows["spamfarm"].n_docs == 11 and rows["spamfarm"].suppressed
    assert not rows["good"].suppressed

    # twin equivalence on the full history in one batch
    hist = spark.read.parquet(src)
    got = drain("out3", "ck3")
    want = {
        r.source: r for r in source_suppression(hist, min_docs=10).collect()
    }
    for s in want:
        g, w = got[s], want[s]
        assert (g.n_docs, g.n_pass, g.pass_bp, g.suppressed) == (
            w.n_docs,
            w.n_pass,
            w.pass_bp,
            w.suppressed,
        )


def test_streaming_t_closeness_gate_state_and_twin(spark, tmp_path):
    """Streaming t-closeness release gate: the per-class bucket
    histogram carries across micro-batches (a skewed class turns
    releasable only once later arrivals rebalance it toward the
    frozen reference), and a full-history single-batch drain agrees
    with the batch twin row-for-row."""
    from joblink_etl_spark.streaming.pipeline import (
        run_available_now,
        streaming_t_closeness_gate,
        t_closeness_gate_batch,
    )

    REF = [(0, 50), (1, 50)]  # uniform two-bucket reference
    src, sink, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    schema = "event_id long, src string, b long"
    # batch 1: class A all in bucket 0 (maximally far from uniform)
    spark.createDataFrame(
        [(1, "A", 0), (2, "A", 0)], schema
    ).write.mode("append").parquet(src)

    def drain(sink_dir, ckpt_dir):
        stream = streaming_t_closeness_gate(
            spark.readStream.schema(schema).parquet(src),
            ["src"], "b", REF, t_bp_max=2600,
        )
        run_available_now(stream, sink_dir, ckpt_dir)
        return {r["event_id"]: r for r in spark.read.parquet(sink_dir).collect()}

    first = drain(sink, ckpt)
    # all-in-one-bucket -> EMD = 0.5 -> 5000 bp: held
    assert first[2]["t_bp"] == 5000 and not first[2]["releasable"]

    # batch 2: two bucket-1 arrivals rebalance class A to uniform
    spark.createDataFrame([(3, "A", 1), (4, "A", 1)], schema).write.mode(
        "append"
    ).parquet(src)
    rows = drain(sink, ckpt)
    assert rows[3]["t_bp"] == 1667  # (1/3 - 0) edge: 2/3,1 vs .5,1
    assert rows[4]["t_bp"] == 0 and rows[4]["releasable"]
    assert rows[4]["class_n"] == 4

    # twin equivalence over the full history, incl. the edge-clamp
    spark.createDataFrame([(5, "B", 7), (6, "B", -3)], schema).write.mode(
        "append"
    ).parquet(src)
    hist = spark.read.parquet(src)
    sink2, ckpt2 = str(tmp_path / "out2"), str(tmp_path / "ck2")
    stream_rows = drain(sink2, ckpt2)
    # stream state for A persists in ckpt? fresh checkpoint: replay all
    batch_rows = {
        r["event_id"]: r
        for r in t_closeness_gate_batch(hist, ["src"], "b", REF, t_bp_max=2600)
        .collect()
    }
    assert set(stream_rows) == set(batch_rows)
    for eid in batch_rows:
        s, b = stream_rows[eid], batch_rows[eid]
        assert (s["class_n"], s["emd_scaled"], s["t_bp"], s["releasable"]) == (
            b["class_n"], b["emd_scaled"], b["t_bp"], b["releasable"]
        ), eid


def test_streaming_t_closeness_gate_gapped_reference(spark, tmp_path):
    """Gapped (non-contiguous) reference distribution: in-gap and
    out-of-range buckets must FLOOR to the largest reference bucket
    <= b in BOTH spellings (below-range clamps up to the lowest), so
    the stream gate and the batch twin stay row-for-row equal and no
    arrival's mass vanishes from the histogram."""
    from joblink_etl_spark.streaming.pipeline import (
        run_available_now,
        streaming_t_closeness_gate,
        t_closeness_gate_batch,
    )

    REF = [(0, 50), (10, 50)]  # gap: buckets 1..9 are in-range but absent
    src, sink, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    schema = "event_id long, src string, b long"
    # class A: a reference bucket, a low-gap value, a high-gap value,
    # out-of-range both sides; class B: gap-only arrivals
    spark.createDataFrame(
        [(1, "A", 0), (2, "A", 4), (3, "A", 9), (4, "A", -5), (5, "A", 99),
         (6, "B", 7), (7, "B", 10)],
        schema,
    ).write.mode("append").parquet(src)

    stream = streaming_t_closeness_gate(
        spark.readStream.schema(schema).parquet(src), ["src"], "b", REF,
    )
    run_available_now(stream, sink, ckpt)
    stream_rows = {r["event_id"]: r for r in spark.read.parquet(sink).collect()}
    batch_rows = {
        r["event_id"]: r
        for r in t_closeness_gate_batch(
            spark.read.parquet(src), ["src"], "b", REF
        ).collect()
    }
    assert set(stream_rows) == set(batch_rows) == {1, 2, 3, 4, 5, 6, 7}
    for eid in batch_rows:
        s, b = stream_rows[eid], batch_rows[eid]
        assert (s["class_n"], s["emd_scaled"], s["t_bp"], s["releasable"]) == (
            b["class_n"], b["emd_scaled"], b["t_bp"], b["releasable"]
        ), eid
    # pin the floor semantics: every in-gap/below-range arrival lands
    # in bucket 0, so class A stays maximally far from uniform until
    # event 5 (b=99 -> bucket 10); a nearest-edge or drop spelling
    # would diverge here
    assert stream_rows[3]["t_bp"] == 5000 and stream_rows[3]["class_n"] == 3
    assert stream_rows[4]["t_bp"] == 5000 and stream_rows[4]["class_n"] == 4
    # after event 5: histogram (4,1) vs uniform -> EMD 3/10 -> 3000bp
    assert stream_rows[5]["t_bp"] == 3000
    # class B: b=7 floors to 0 -> (1,0); then b=10 -> (1,1) uniform
    assert stream_rows[6]["t_bp"] == 5000
    assert stream_rows[7]["t_bp"] == 0 and stream_rows[7]["releasable"]
