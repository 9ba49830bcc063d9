"""Structured Streaming re-expression of the reference's incremental
semantics (SURVEY.md §2.10 ST1-ST7).

Mapping:
- ST1 edit-trigger      → file-source stream of link rows; each new
  file is a batch of "edits" (a CDC feed would slot in identically).
- ST2 drain loop        → Trigger.AvailableNow micro-batches: process
  everything pending, then stop — the reference's drain-until-empty
  with the time budget left to the orchestrator.
- ST3 rate limiting     → maxFilesPerTrigger source throttling.
- ST4 at-least-once + idempotent effects → keyed dropDuplicates
  (exactly-once effects per key) + checkpointed sink.
- ST5 dead-lettering    → foreachBatch try/except error side-output.
- ST6 single-attempt    → no retry logic; tries/next_attempt_at are
  carried but never consulted, mirroring the reference.
- ST7 two-phase         → parse stream feeds the notes queue sink.

State design for scale: dedup state is keyed by (sheet_name,
row_index) and watermark-bounded when an event-time column exists;
windowed aggs use update/append with watermarks so state is evicted,
not grown forever. Every custom stateful fold runs through
streaming/state.keyed_fold, which hands the fold all of one key's
rows in the micro-batch as one frame, or streaming/state.bucket_fold
(the k-anonymity gate), which hands it all rows of one hash bucket
of keys and the bucket's table of held key states.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..functions.predicates import is_valid_url
from .state import bucket_fold, keyed_fold

LINK_EVENT_SCHEMA = StructType(
    [
        StructField("sheet_name", StringType()),
        StructField("row_index", LongType()),
        StructField("url", StringType()),
        StructField("edited_at", TimestampType()),
    ]
)

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", StringType()),
    ]
)


def read_link_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """ST1/ST3: file-source stream of link-edit rows."""
    reader = spark.readStream.schema(LINK_EVENT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def streaming_enqueue(links: DataFrame, dedup_watermark: str = "1 hour") -> DataFrame:
    """ST1+ST4: URL-validity filter then keyed dedup. The watermark
    bounds the dedup state (keys older than the horizon are evicted);
    within the horizon a re-pasted link is dropped exactly like the
    reference's anti-join (J2)."""
    return (
        links.filter(is_valid_url(F.col("url")))
        .withWatermark("edited_at", dedup_watermark)
        .dropDuplicatesWithinWatermark(["sheet_name", "row_index"])
        .select(
            "sheet_name",
            "row_index",
            "url",
            F.lit("queued").alias("status"),
            F.lit(0).alias("tries"),
            F.col("edited_at").alias("enqueued_at"),
            F.lit("").alias("next_attempt_at"),
            F.lit("").alias("last_error"),
        )
    )


def windowed_event_counts(events: DataFrame, window: str = "10 minutes", watermark: str = "30 minutes") -> DataFrame:
    """Streaming tumbling-window counts with late-data handling —
    the incremental twin of plans/events_q.tumbling_counts."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def session_event_counts(events: DataFrame, gap: str = "5 minutes", watermark: str = "30 minutes") -> DataFrame:
    """Native session_window per user — the streaming twin of
    plans/events_q.session_windows."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def run_available_now(df: DataFrame, sink_dir: str, checkpoint_dir: str, output_mode: str = "append") -> None:
    """ST2: drain everything pending into a parquet sink, then stop."""
    q = (
        df.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _drain_batches(stream: DataFrame, checkpoint_dir: str, handle) -> None:
    """ST2 over foreachBatch: run `handle(batch_df, batch_id)` on every
    pending micro-batch, then stop."""
    (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def drain_with_dead_letter(
    stream: DataFrame,
    checkpoint_dir: str,
    process,
    on_success,
    on_error,
) -> list[int]:
    """ST5: foreachBatch wrapper with an error side-channel. Each
    micro-batch runs `process(batch_df) -> DataFrame`; success rows
    go to on_success(df), failures to on_error(batch_df, exception) —
    the row still leaves the queue (single-attempt, ST6). Returns
    the list of processed micro-batch ids."""
    seen: list[int] = []

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        seen.append(batch_id)
        try:
            on_success(process(batch_df))
        except Exception as e:  # noqa: BLE001 — dead-letter anything
            on_error(batch_df, e)

    _drain_batches(stream, checkpoint_dir, handle)
    return seen


def _throttle_flags(
    epochs,
    per_key_limit: int,
    window_seconds: int,
    win_start: int = 0,
    n_admitted: int = 0,
) -> tuple[list[bool], int, int]:
    """Core admit loop shared by the stateful stream operator and its
    batch spelling: walk epoch-seconds in order, reset the counter
    when the wall-window advances, admit while under the limit.
    Returns (flags, win_start, n_admitted) so stream state can carry
    the pair across micro-batches."""
    flags = []
    for epoch in epochs:
        win = epoch - epoch % window_seconds
        if win > win_start:
            win_start, n_admitted = win, 0
        ok = n_admitted < per_key_limit
        n_admitted += 1 if ok else 0
        flags.append(ok)
    return flags, win_start, n_admitted


def throttled_links(
    links: DataFrame,
    per_key_limit: int = 60,
    window_seconds: int = 60,
) -> DataFrame:
    """Custom stateful operator via keyed_fold: admit at
    most per_key_limit link events per sheet per wall-window, with
    the (window_start, admitted_count) pair carried ACROSS
    micro-batches — the reference's 60-requests-per-minute throttle
    (REQUESTS_PER_MINUTE, code-LLM-intergration.js:873-874, 920)
    as keyed stream state instead of an in-loop sleep.

    Rows over the limit are emitted with admitted=false (a dead
    -letter/deferral sink can route on the flag). State is two longs
    per key — bounded, no watermark needed; at scale the operator
    shuffles once on the key like any keyed stateful op.
    """
    import pandas as pd  # noqa: PLC0415 — executor-side import

    out_schema = StructType(
        list(LINK_EVENT_SCHEMA.fields) + [StructField("admitted", BooleanType())]
    )
    state_schema = StructType(
        [StructField("win_start", LongType()), StructField("n_admitted", LongType())]
    )

    def throttle(key, pdf, state):
        win_start, n_admitted = state
        pdf = pdf.sort_values(["edited_at", "row_index"]).copy()
        epochs = [int(pd.Timestamp(ts).timestamp()) for ts in pdf["edited_at"]]
        flags, win_start, n_admitted = _throttle_flags(
            epochs, per_key_limit, window_seconds, win_start, n_admitted
        )
        pdf["admitted"] = flags
        return (win_start, n_admitted), pdf

    return keyed_fold(links, ["sheet_name"], out_schema, state_schema, (0, 0), throttle)


def throttled_links_batch(
    links: DataFrame,
    per_key_limit: int = 60,
    window_seconds: int = 60,
) -> DataFrame:
    """Batch-equivalence spelling of throttled_links: the SAME admit
    loop (_throttle_flags), run per key over the full history in one
    applyInPandas — identical to draining the stream in a single
    micro-batch from empty state. Driver-checkable: the oracle is
    `row_number() OVER (key, wall-window ORDER BY time) <= limit`.

    The epoch is computed scan-side (`ts.cast('long')` is
    timezone-independent) so the admit loop never does a
    tz-dependent timestamp conversion on the executor."""
    import pandas as pd  # noqa: PLC0415 — executor-side import

    tagged = links.withColumn("_epoch", F.col("edited_at").cast("long"))
    out_schema = StructType(
        tagged.schema.fields + [StructField("admitted", BooleanType())]
    )

    def throttle(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["edited_at", "row_index"]).copy()
        flags, _, _ = _throttle_flags(pdf["_epoch"], per_key_limit, window_seconds)
        pdf["admitted"] = flags
        return pdf

    return (
        tagged.groupBy("sheet_name")
        .applyInPandas(throttle, out_schema)
        .drop("_epoch")
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    max_delay: str = "10 minutes",
    watermark: str = "30 minutes",
    left_prefix: str = "l",
    right_prefix: str = "r",
) -> DataFrame:
    """Watermarked stream-stream interval join: each right event is
    matched to left events of the same key that happened at most
    `max_delay` BEFORE it (click→conversion attribution over the
    events feed).

    Scale/state design: both sides carry watermarks and the join
    condition bounds event-time distance, so Spark derives a state
    eviction horizon for BOTH buffers — without the interval bound a
    stream-stream join must hold every row forever. State size is
    O(events within watermark+delay), not O(stream)."""
    lcols = left.select(
        F.col(key).alias("join_key"),
        F.col("ts").alias(f"{left_prefix}_ts"),
        F.col("event_type").alias(f"{left_prefix}_type"),
        F.col("event_id").alias(f"{left_prefix}_event_id"),
    ).withWatermark(f"{left_prefix}_ts", watermark)
    rcols = right.select(
        F.col(key).alias("r_join_key"),
        F.col("ts").alias(f"{right_prefix}_ts"),
        F.col("event_type").alias(f"{right_prefix}_type"),
        F.col("event_id").alias(f"{right_prefix}_event_id"),
    ).withWatermark(f"{right_prefix}_ts", watermark)
    cond = (
        (lcols["join_key"] == rcols["r_join_key"])
        & (rcols[f"{right_prefix}_ts"] >= lcols[f"{left_prefix}_ts"])
        & (
            rcols[f"{right_prefix}_ts"]
            <= lcols[f"{left_prefix}_ts"] + F.expr(f"INTERVAL {max_delay}")
        )
    )
    return lcols.join(rcols, cond, "inner").drop("r_join_key")


def enrich_stream(stream: DataFrame, dim: DataFrame, on: str | list[str], how: str = "left") -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against
    the (re-read) static dimension — profile/catalog lookups on a
    live feed, the streaming twin of the notes pipeline's profile
    join (J3). The dim is broadcast: no shuffle enters the streaming
    plan and state stays empty (stream-static joins are stateless,
    unlike stream-stream)."""
    from pyspark.sql import functions as FF

    return stream.join(FF.broadcast(dim), on, how)


def _doc_bands(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", ngram: int = 3
) -> DataFrame:
    """(doc_id, band, bucket) LSH band rows, computed fully SCAN-SIDE
    (the pure-expression minhash_signature HOF, not the exploded
    groupBy spelling — a streaming plan can't cache/re-aggregate, and
    per-row HOF cost is the right trade for unbounded input)."""
    from ..operators.dedup import _bound_ngrams, band_hashes, minhash_signature

    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            _bound_ngrams(F.col(text_col), ngram).alias("_sh"),
        )
        .filter(F.size("_sh") > 0)
        .select("doc_id", minhash_signature(F.col("_sh")).alias("_sig"))
        .select("doc_id", F.explode(band_hashes(F.col("_sig"))).alias("_bh"))
        .select(
            "doc_id",
            F.col("_bh.band").alias("band"),
            F.col("_bh.bucket").alias("bucket"),
        )
    )


def streaming_band_registry(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    ttl_seconds: int | None = None,
) -> DataFrame:
    """Custom stateful operator: a STREAMING near-duplicate gate. Each
    incoming document explodes into its LSH band buckets; per-bucket
    state remembers the FIRST document that ever claimed the bucket
    (one long per bucket, carried across micro-batches via the
    checkpointed state store). Output rows (doc_id, band, bucket,
    canonical_id, is_first) let a consumer drop any document sharing
    a bucket with an earlier one — the streaming twin of
    incremental_near_dups' batch-vs-standing-index join, with the
    index AS state instead of a stored table.

    Scale/state design: keyed by (band, bucket) like any stateful op
    (one shuffle); state is 8 bytes per DISTINCT bucket — the same
    cardinality the stored-index design pays on disk, which the r13
    x100 drain measured at 454 MB growing LINEARLY with the corpus
    (BENCH_STREAMING_X100_r13.json). `ttl_seconds` is the production
    bound for that growth (r13 What's-wrong #3 → r14): when set, the
    operator runs under a processing-time timeout and
    every bucket's state row is EVICTED ttl_seconds after its last
    update — the registry then holds only buckets touched inside the
    dedup horizon, so state is O(distinct buckets per horizon), not
    O(corpus). Semantics under TTL: a clone arriving after its
    bucket expired re-registers as a fresh canonical (exactly the
    stored-index design with a retention sweep). State TTL is
    LAZY — an expired bucket is evicted on the next micro-batch in
    which it receives no data; a bucket that keeps receiving clones
    keeps its canonical (sliding horizon). Default None keeps
    NoTimeout and the complete registry — the batch-twin contract
    (band_registry_batch equivalence, pinned in tests) holds for the
    default; the TTL arm is pinned by its own eviction test.

    DRAIN CAVEAT (found r14, the hard way): under
    ProcessingTimeTimeout the stateful operator's
    shouldRunAnotherBatch() is unconditionally true (processing time
    always advances), so with the default
    spark.sql.streaming.noDataMicroBatches.enabled=true a
    Trigger.AvailableNow drain schedules empty timeout-sweep batches
    FOREVER and never terminates (observed: 1300+ no-data batches
    before the run was killed). Finite drains of the TTL arm must
    set that conf to false — eviction then rides the next DATA
    batch, which is the lazy-TTL contract anyway. Long-running
    production triggers (processingTime interval) are unaffected:
    the periodic no-data batches there are exactly what makes
    eviction prompt.

    Within a micro-batch, rows resolve in doc_id order, so a
    full-history single batch replays exactly like the batch twin
    (band_registry_batch) — that equivalence is pinned in tests."""
    out_schema = StructType(
        [
            StructField("band", IntegerType()),
            StructField("bucket", StringType()),
            StructField("doc_id", LongType()),
            StructField("canonical_id", LongType()),
            StructField("is_first", BooleanType()),
        ]
    )
    state_schema = StructType([StructField("first_id", LongType())])

    def register(key, pdf, state):
        (first,) = state
        pdf = pdf.sort_values("doc_id").copy()
        canon, flags = [], []
        for d in pdf["doc_id"]:
            if first is None:
                first = int(d)
                flags.append(True)
            else:
                flags.append(bool(int(d) == first))
            canon.append(first)
        pdf["canonical_id"] = canon
        pdf["is_first"] = flags
        return (first,), pdf[["band", "bucket", "doc_id", "canonical_id", "is_first"]]

    # sliding horizon: each touch re-arms the bucket's clock; on TTL
    # eviction the bucket's canonical is dropped and nothing is
    # emitted — the next claimant re-registers as first
    ttl = None if ttl_seconds is None else ("processing", lambda _: ttl_seconds * 1000)
    bands = _doc_bands(docs, id_col, text_col, ngram)
    return keyed_fold(
        bands, ["band", "bucket"], out_schema, state_schema, (None,), register,
        timeout=ttl, expire=lambda key, state: None,
    )


def band_registry_batch(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", ngram: int = 3
) -> DataFrame:
    """Driver-checkable batch spelling of streaming_band_registry:
    over a full history in one pass, the first claimant of a bucket
    is simply min(doc_id) over the bucket — a plain window, exactly
    what the stateful loop computes when every row arrives in one
    micro-batch from empty state.

    Unlike the stream (locked to the pure-expression HOF signature),
    batch mode uses the exploded-groupBy minhash front end
    (dedup.minhash_base_and_bands) — same md5 values, ~10× faster
    under whole-stage codegen (measured 10.2 s → fast-path at sf0.1);
    the twin-equivalence test pins that both spellings agree."""
    from pyspark.sql.window import Window

    from ..operators.dedup import minhash_base_and_bands

    _, _, banded = minhash_base_and_bands(docs, text_col=text_col, id_col=id_col, ngram=ngram)
    w = Window.partitionBy("band", "bucket")
    return (
        banded.select(F.col("id").alias("doc_id"), "band", "bucket")
        .withColumn("canonical_id", F.min("doc_id").over(w))
        .withColumn("is_first", F.col("doc_id") == F.col("canonical_id"))
    )


def streaming_sessions(
    events: DataFrame,
    gap_seconds: int = 300,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Custom stateful sessionization via keyed_fold with
    EVENT-TIME TIMEOUT — the third stateful pattern next to the
    throttle (processing-order state) and the band registry
    (set-membership state): per user, an open session (start, end,
    count, sum) lives in state across micro-batches; an event beyond
    `gap_seconds` closes and emits the previous session, and a
    session with NO successor is flushed by the state timeout when
    the watermark passes session_end + gap — so trailing sessions
    are emitted exactly once without a poison-pill event.

    Semantics match the batch spelling (plans/events_q.session_windows:
    lag + gap-flag + running sum, strict `> gap` splits) — pinned by
    the stream-vs-batch equivalence test. State is 4 scalars per
    ACTIVE user and the watermark bounds how long a user can stay
    active, so state size is O(users active within the horizon)."""
    import pandas as pd  # noqa: PLC0415 — executor-side import

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("session_start", TimestampType()),
            StructField("session_end", TimestampType()),
            StructField("n_events", LongType()),
            StructField("sum_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("start_us", LongType()),
            StructField("end_us", LongType()),
            StructField("n", LongType()),
            # integer cents, not a float: the batch twin quantizes
            # per-event before summing so accumulation order never
            # matters — the stream state mirrors that exactly.
            StructField("sv_cents", LongType()),
        ]
    )

    def _row(uid, start_us, end_us, n, sv_cents):
        return {
            "user_id": uid,
            "session_start": pd.Timestamp(start_us, unit="us"),
            "session_end": pd.Timestamp(end_us, unit="us"),
            "n_events": n,
            "sum_value": sv_cents / 100.0,
        }

    def sessionize(key, pdf, cur):
        uid = key[0]
        closed = []
        pdf = pdf.sort_values(["ts", "event_id"])
        for ts, value in zip(pdf["ts"], pdf["value"]):
            t_us = int(pd.Timestamp(ts).value // 1000)
            v = float(value) if value is not None else 0.0
            cents = int(math.floor(v * 100 + 0.5))
            if cur is None:
                cur = (t_us, t_us, 1, cents)
            elif t_us // 1_000_000 - cur[1] // 1_000_000 > gap_seconds:
                # truncated-SECOND diff, matching the batch twin's
                # `ts.cast(long) - lag(...) > gap` exactly
                closed.append(_row(uid, *cur))
                cur = (t_us, t_us, 1, cents)
            else:
                # min/max so an in-watermark out-of-order event from a
                # later micro-batch can't move the session bounds
                # backwards; the SPLIT decision still assumes
                # cross-batch ordered arrival (the batch twin sorts the
                # full history globally before gap-flagging).
                cur = (
                    min(cur[0], t_us),
                    max(cur[1], t_us),
                    cur[2] + 1,
                    cur[3] + cents,
                )
        return cur, (pd.DataFrame(closed) if closed else None)

    def flush(key, cur):
        return pd.DataFrame([_row(key[0], *cur)])

    # flush the trailing session once the watermark clears end+gap
    deadline = ("event", lambda cur: (cur[1] // 1000) + gap_seconds * 1000)
    return keyed_fold(
        events.withWatermark("ts", watermark), ["user_id"], out_schema, state_schema, None,
        sessionize, timeout=deadline, expire=flush,
    )


def stream_repeat_span_gate(
    docs_stream: DataFrame,
    index_docs: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    k: int = 20,
) -> None:
    """Streaming face of incremental substring dedup: each arriving
    micro-batch of documents is span-checked against the STATIC
    corpus gram index (operators/suffix.incremental_repeat_spans) and
    the detected index-duplicated spans land in the sink. Stateless
    by design — the per-doc islands merge needs only that doc's own
    rows, which arrive together in one micro-batch, so foreachBatch
    reuses the batch operator verbatim (the same batch-twin contract
    as throttled_links/band_registry; at scale the index gram set is
    the stored bucketed table, not a recompute)."""
    from ..operators.suffix import incremental_repeat_spans

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spans = incremental_repeat_spans(batch_df, index_docs, k=k)
        spans.write.mode("append").parquet(sink_dir)

    _drain_batches(docs_stream, checkpoint_dir, handle)


def streaming_kmv(
    events: DataFrame,
    group_col: str = "event_type",
    value_col: str = "user_id",
    k: int = 64,
) -> DataFrame:
    """Custom stateful operator: STREAMING per-key distinct-count via
    a KMV sketch carried in the state store. State per key is the k
    smallest distinct md5-derived hashes (k longs — fixed size no
    matter how many values stream past); each micro-batch merges its
    values' hashes into the sketch and emits the refreshed estimate,
    so the sink's LAST row per key is the running answer.

    The merge is the sketch's own algebra — k-smallest of a union is
    the k-smallest of per-part k-smallests — so a full drain equals
    the batch operator (operators/sketches.kmv_distinct) exactly:
    identical n_seen, identical kth hash, identical 4-decimal
    estimate. That equivalence is pinned in tests across multi-file
    micro-batches."""
    from ..operators.sketches import HASH_SPACE, md5_int

    out_schema = StructType(
        [
            StructField("group", StringType()),
            StructField("n_seen", LongType()),
            StructField("est_distinct", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("hashes", ArrayType(LongType()))]
    )

    def sketch(key, pdf, state):
        held = list(state[0])
        new = {int(h) for h in pdf["h"]}
        merged = sorted(set(held) | new)[:k]
        n_seen = len(merged)
        if n_seen < k:
            est = float(n_seen)
        else:
            est = (k - 1) / (merged[-1] / HASH_SPACE)
        out = {"group": [key[0]], "n_seen": [n_seen], "est_distinct": [round(est, 4)]}
        return (merged,), out

    hashed = events.select(
        F.col(group_col).cast("string").alias("g"),
        md5_int(F.col(value_col).cast("string")).alias("h"),
    )
    return keyed_fold(hashed, ["g"], out_schema, state_schema, ([],), sketch)


def streaming_cms(
    events: DataFrame,
    key_col: str = "user_id",
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Custom stateful operator: a STREAMING count-min sketch. Each
    value increments its depth bucket counters, carried across
    micro-batches as one long per touched (seed, pos) cell — at most
    depth × width state entries no matter how much data streams by.
    Every batch emits the touched cells' refreshed counts, so the
    sink's max per cell IS the sketch; counts are monotone, and a
    full drain equals cms_build over the same history exactly (the
    CMS is a sum — order-free). Pinned by a multi-batch equivalence
    test that also round-trips cms_estimate over the drained sketch."""
    from ..operators.sketches import _cms_pos

    out_schema = StructType(
        [
            StructField("seed", IntegerType()),
            StructField("pos", IntegerType()),
            StructField("cnt", LongType()),
        ]
    )
    state_schema = StructType([StructField("cnt", LongType())])

    def bump(key, pdf, state):
        cnt = state[0] + len(pdf)
        return (cnt,), {"seed": [key[0]], "pos": [key[1]], "cnt": [cnt]}

    cells = events.select(
        F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("seed"),
        F.col(key_col).cast("string").alias("key"),
    ).select(
        F.col("seed").cast("int"),
        _cms_pos(F.col("key"), F.col("seed"), width).cast("int").alias("pos"),
    )
    return keyed_fold(cells, ["seed", "pos"], out_schema, state_schema, (0,), bump)


def streaming_hll(
    events: DataFrame,
    group_col: str = "event_type",
    value_col: str = "user_id",
    m: int = 64,
) -> DataFrame:
    """Custom stateful operator: STREAMING per-key distinct-count via
    HyperLogLog registers in the state store — m small ints per key,
    fixed size forever. (bucket, rank) are computed SCAN-SIDE with
    the exact integer spelling of the batch operator
    (operators/sketches.hll_registers: rank = 55 - bitlength(h div m)),
    so the stateful op only max-merges — the HLL algebra — and a full
    drain equals hll_estimate over the same history bit-for-bit
    (integer inv_sum_scaled and all; pinned by the equivalence test).

    Completes the streaming sketch family: KMV (k-smallest merge),
    CMS (counter add), HLL (register max)."""
    from ..operators.dedup import md5_int

    out_schema = StructType(
        [
            StructField("group", StringType()),
            StructField("n_buckets_used", LongType()),
            StructField("inv_sum_scaled", LongType()),
            StructField("est_distinct", DoubleType()),
        ]
    )
    state_schema = StructType([StructField("regs", ArrayType(IntegerType()))])

    alpha = 0.7213 / (1.0 + 1.079 / m)
    full = 1 << 55

    def merge(key, pdf, state):
        regs = list(state[0])
        for b, r in zip(pdf["bucket"], pdf["rank"]):
            b = int(b)
            if int(r) > regs[b]:
                regs[b] = int(r)
        used = [r for r in regs if r > 0]
        inv_scaled = sum(1 << (55 - r) for r in used) + (m - len(used)) * full
        est = alpha * m * m * float(full) / float(inv_scaled)
        return (regs,), {
            "group": [key[0]],
            "n_buckets_used": [len(used)],
            "inv_sum_scaled": [inv_scaled],
            "est_distinct": [round(est, 4)],
        }

    base = events.select(
        F.col(group_col).cast("string").alias("g"),
        md5_int(F.col(value_col).cast("string")).alias("_h"),
    )
    w = F.expr(f"_h div {m}")
    rank = F.when(w > 0, F.lit(55) - F.length(F.bin(w))).otherwise(F.lit(55))
    cells = base.select(
        "g",
        (F.col("_h") % m).cast("int").alias("bucket"),
        rank.cast("int").alias("rank"),
    )
    return keyed_fold(cells, ["g"], out_schema, state_schema, ([0] * m,), merge)


def streaming_topk(
    events: DataFrame,
    group_col: str = "event_type",
    item_col: str = "user_id",
    capacity: int = 8,
) -> DataFrame:
    """Custom stateful operator: STREAMING heavy hitters per key via
    SpaceSaving (Metwally et al. 2005). State per key is a candidate
    table of at most `capacity` (item, count, err) triples — fixed
    size forever; when a new item arrives with the table full, the
    minimum-count candidate is evicted and the newcomer inherits its
    count as overestimation error.

    Guarantees (pinned by the equivalence test): every stored count
    obeys true ≤ count ≤ true + err, and any item whose true
    frequency exceeds n/capacity is IN the table after a full drain.
    Within a micro-batch, rows fold in a deterministic order: the
    key's whole micro-batch is sorted by item value before folding
    (the twin runner replays the same sort over the whole batch) —
    SpaceSaving's guarantees hold for ANY order; the sort just makes
    reruns reproducible.

    Completes the streaming sketch family: KMV / HLL (distinct), CMS
    (frequency), SpaceSaving (top-k identity)."""
    out_schema = StructType(
        [
            StructField("group", StringType()),
            StructField("item", StringType()),
            StructField("cnt", LongType()),
            StructField("err", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("items", ArrayType(StringType())),
            StructField("cnts", ArrayType(LongType())),
            StructField("errs", ArrayType(LongType())),
        ]
    )

    def fold(key, pdf, state):
        items, cnts, errs = state
        tbl = {it: [c, e] for it, c, e in zip(items, cnts, errs)}
        for it in pdf.sort_values("item")["item"]:
            it = str(it)
            if it in tbl:
                tbl[it][0] += 1
            elif len(tbl) < capacity:
                tbl[it] = [1, 0]
            else:
                # evict the min-count candidate (tie: lexicographic)
                victim = min(tbl, key=lambda k: (tbl[k][0], k))
                vcnt = tbl[victim][0]
                del tbl[victim]
                tbl[it] = [vcnt + 1, vcnt]
        ks = sorted(tbl)
        cnt, err = [tbl[k][0] for k in ks], [tbl[k][1] for k in ks]
        return (ks, cnt, err), {"group": [key[0]] * len(ks), "item": ks, "cnt": cnt, "err": err}

    base = events.select(
        F.col(group_col).cast("string").alias("g"),
        F.col(item_col).cast("string").alias("item"),
    )
    return keyed_fold(base, ["g"], out_schema, state_schema, ([], [], []), fold)


def streaming_priority_sample(
    docs: DataFrame,
    weight_col: str,
    k: int = 20,
    id_col: str = "doc_id",
    salt: str = "pri",
) -> DataFrame:
    """Custom stateful operator: STREAMING weighted sampling without
    replacement — the streaming twin of sampling.priority_sample.
    Priorities are pure deterministic functions of (salt, id, weight)
    — (w·2³⁰) div u with u md5-derived — so "top-(k+1) of the union
    is top-(k+1) of merged per-batch tops" holds EXACTLY, and a full
    drain reproduces the batch sample bit-for-bit (priorities, tau,
    est_weight). State is k+1 (priority, id, weight) triples, fixed
    size forever.

    Emits the current top-k (+ est_weight vs the running tau) every
    batch; the LAST emission per id set is the final sample. All rows
    share one key, so the fold holds the whole micro-batch in memory
    (maxFilesPerTrigger bounds it)."""
    from ..operators.dedup import md5_int

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("weight", LongType()),
            StructField("priority", LongType()),
            StructField("est_weight", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("pris", ArrayType(LongType())),
            StructField("ids", ArrayType(LongType())),
            StructField("ws", ArrayType(LongType())),
        ]
    )

    def fold(key, pdf, state):
        pris, ids, ws = state
        entries = {(-p, i): (p, i, w) for p, i, w in zip(pris, ids, ws)}
        for p, i, w in zip(pdf["priority"], pdf["_id"], pdf["_w"]):
            entries[(-int(p), int(i))] = (int(p), int(i), int(w))
        top = [entries[kk] for kk in sorted(entries)[: k + 1]]
        sample = top[:k]
        tau = top[k][0] if len(top) > k else 0
        return ([p for p, _, _ in top], [i for _, i, _ in top], [w for _, _, w in top]), {
            "doc_id": [i for _, i, _ in sample],
            "weight": [w for _, _, w in sample],
            "priority": [p for p, _, _ in sample],
            "est_weight": [float(max(w << 30, tau)) / float(1 << 30) for _, _, w in sample],
        }

    u = (
        md5_int(F.concat(F.lit(salt + ":"), F.col("_id").cast("string")))
        % F.lit(1 << 30)
    ) + 1
    base = (
        docs.select(
            F.col(id_col).alias("_id"),
            F.col(weight_col).cast("bigint").alias("_w"),
        )
        .withColumn("_u", u)
        .withColumn("priority", F.expr(f"(_w * {1 << 30}) div _u"))
        .withColumn("_g", F.lit(1))
        .drop("_u")
    )
    return keyed_fold(base, ["_g"], out_schema, state_schema, ([], [], []), fold)


def streaming_cdc_apply(
    changes: DataFrame,
    key_col: str,
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Custom stateful operator: STREAMING CDC merge — the keyed
    state holds each key's current winning change (max (seq, op),
    exactly operators/cdc.apply_changelog's last-writer-wins order),
    so the sink's final emission per key IS the key's row in the
    maintained snapshot (op = 'D' → tombstone; base rows the stream
    never touched carry over unchanged). State is ONE change row per
    touched key regardless of changelog volume; a full drain equals
    the batch apply bit-for-bit (pinned by the equivalence test).

    Payload columns are derived from the input schema, so the
    operator is generic over any changelog shape."""
    import pandas as pd  # noqa: PLC0415 — executor-side import

    payload = [
        f for f in changes.schema.fields if f.name not in (key_col, seq_col, op_col)
    ]
    out_schema = StructType(
        [changes.schema[key_col], changes.schema[seq_col], changes.schema[op_col]]
        + payload
    )
    state_schema = StructType(
        [changes.schema[seq_col], changes.schema[op_col]] + payload
    )
    pnames = [f.name for f in payload]

    def fold(key, pdf, cur):  # cur: (seq, op, *payload), None for a new key
        for row in pdf.itertuples(index=False):
            d = row._asdict()
            cand = (d[seq_col], d[op_col], *[d[p] for p in pnames])
            if cur is None or (cand[0], cand[1]) > (cur[0], cur[1]):
                cur = cand
        return cur, pd.DataFrame(
            [
                {
                    key_col: key[0],
                    seq_col: cur[0],
                    op_col: cur[1],
                    **dict(zip(pnames, cur[2:])),
                }
            ]
        )

    return keyed_fold(changes, [key_col], out_schema, state_schema, None, fold)


def stream_ingest_curated(
    docs_stream: DataFrame,
    benchmark: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    langs: tuple[str, ...] = ("en", "es"),
    min_quality: float = 0.5,
) -> None:
    """The training-data FRONT DOOR in streaming form: each arriving
    micro-batch runs the full curation gate chain (language + quality
    filters, exact-dup collapse, benchmark decontamination —
    operators/curate.curate) before anything reaches the corpus sink.

    Per-batch gates are stateless (the benchmark gram set is static;
    within-batch dup collapse is the batch operator verbatim), so a
    full drain equals batch curation applied per input file — the
    equivalence test pins it. Cross-batch near-dup admission is the
    separately-tested stateful layer (streaming_band_registry /
    stream_repeat_span_gate); composing them is sink-chaining, kept
    apart here so each contract stays independently verifiable."""
    from ..operators.curate import curate

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        curated = curate(
            batch_df, benchmark, langs=langs, min_quality=min_quality
        ).filter(~F.col("contaminated"))
        curated.write.mode("append").parquet(sink_dir)

    _drain_batches(docs_stream, checkpoint_dir, handle)


def _doc_line_hashes(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, line_h) with lines DEDUPED WITHIN each doc scan-side
    (array_distinct before the explode) — so the stateful counter
    below counts documents, not occurrences, without a streaming
    dropDuplicates whose key state would grow with corpus x lines."""
    from ..operators.dedup import md5_int

    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.array_distinct(F.split(F.col(text_col), "\n"))
            ).alias("line"),
        )
        .select("doc_id", md5_int(F.col("line")).alias("line_h"))
    )


def streaming_line_registry(
    docs: DataFrame,
    max_docs: int = 30,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Custom stateful operator: a STREAMING boilerplate detector —
    the stream twin of line_level_dedup's frequency aggregation, with
    the line document-frequency table AS state instead of a stored
    index (the same twin relationship band_registry has to
    incremental_near_dups). Each incoming doc bumps the per-line
    distinct-document counter; the emitted row carries the running
    frequency and the boilerplate verdict AT ARRIVAL TIME, so a
    downstream consumer can scrub lines the moment they cross
    `max_docs` without re-scanning history.

    Scale/state design: keyed by line_h (one shuffle); state is ONE
    long per distinct line — the cardinality a stored-index design
    pays on disk. Production bounds it with a processing-time TTL
    matching the boilerplate horizon. Within a micro-batch rows
    resolve in doc_id order, so a full-history single-batch drain
    replays exactly like line_registry_batch — pinned in tests."""
    out_schema = StructType(
        [
            StructField("line_h", LongType()),
            StructField("doc_id", LongType()),
            StructField("n_docs", LongType()),
            StructField("is_boiler", BooleanType()),
        ]
    )
    state_schema = StructType([StructField("n_docs", LongType())])

    def count_docs(key, pdf, state):
        (n,) = state
        pdf = pdf.sort_values("doc_id").copy()
        running, flags = [], []
        for _ in range(len(pdf)):
            n += 1
            running.append(n)
            flags.append(n > max_docs)
        pdf["n_docs"] = running
        pdf["is_boiler"] = flags
        return (int(n),), pdf[["line_h", "doc_id", "n_docs", "is_boiler"]]

    lines = _doc_line_hashes(docs, id_col, text_col)
    return keyed_fold(lines, ["line_h"], out_schema, state_schema, (0,), count_docs)


def line_registry_batch(
    docs: DataFrame,
    max_docs: int = 30,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Driver-checkable batch spelling of streaming_line_registry:
    over a full history in one pass the running distinct-doc count is
    a row_number per line hash in doc_id order (lines are already
    distinct within a doc) — exactly what the stateful loop computes
    when every row arrives in one micro-batch from empty state."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("line_h").orderBy("doc_id")
    return (
        _doc_line_hashes(docs, id_col, text_col)
        .withColumn("n_docs", F.row_number().over(w).cast("bigint"))
        .withColumn("is_boiler", F.col("n_docs") > max_docs)
        .select("line_h", "doc_id", "n_docs", "is_boiler")
    )


def streaming_k_anon_gate(
    rows: DataFrame,
    qi_cols: list,
    k: int = 5,
    id_col: str = "event_id",
) -> DataFrame:
    """Custom stateful operator: a STREAMING k-anonymity release gate
    — the stream twin of privacy.k_anonymity's audit. Rows arrive
    keyed by their quasi-identifier tuple; state is the running class
    size. A row is `releasable` only once its QI class has reached k
    members AT ARRIVAL TIME — the first k-1 rows of every class are
    held (a downstream release buffer flushes them when a later row
    of the same class turns releasable), so no released row is ever
    identifiable within a class smaller than k.

    Scale/state design: a bucket_fold over the QI tuple (one shuffle,
    one vectorized Python call per state bucket and micro-batch); the
    state is, per bucket, a table of the QI classes it has seen and
    their running counts — in all, one count per distinct QI class,
    exactly the group_n cardinality the batch audit materializes,
    which the binning of the QI columns bounds. A floating-point QI
    column is a ValueError (bin it first). Within a micro-batch rows
    resolve in id order, so a full-history single-batch drain replays
    exactly like k_anon_gate_batch — pinned in tests."""
    qi_cols = list(qi_cols)
    cols = qi_cols + [id_col]
    base = rows.select(*cols)
    out_schema = StructType(
        [base.schema[c] for c in cols]
        + [
            StructField("class_n", LongType()),
            StructField("releasable", BooleanType()),
        ]
    )
    state_schema = StructType([StructField("class_n", LongType())])

    def count_classes(pdf, held):
        import pandas as pd  # noqa: PLC0415 — executor-side import

        # the held counts stacked ahead of the batch's rows in id
        # order: a class's running sum at a row is its size at arrival
        batch = pdf.sort_values(id_col, kind="stable", ignore_index=True)
        arrived = batch[qi_cols].assign(class_n=1)
        stacked = pd.concat([held, arrived], ignore_index=True) if len(held) else arrived
        by_class = stacked.groupby(qi_cols, dropna=False, sort=False)
        running = by_class["class_n"].cumsum()
        class_n = running.to_numpy()[len(held):]
        last = by_class.cumcount(ascending=False).to_numpy() == 0
        new_held = stacked[last].assign(class_n=running[last])
        return new_held, batch[cols].assign(class_n=class_n, releasable=class_n >= k)

    return bucket_fold(base, qi_cols, out_schema, state_schema, count_classes)


def k_anon_gate_batch(
    rows: DataFrame,
    qi_cols: list,
    k: int = 5,
    id_col: str = "event_id",
) -> DataFrame:
    """Driver-checkable batch spelling of streaming_k_anon_gate: over
    a full history the arrival-time class size is a row_number per QI
    tuple in id order — what the stateful loop computes when every
    row arrives in one micro-batch from empty state."""
    from pyspark.sql.window import Window

    qi_cols = list(qi_cols)
    w = Window.partitionBy(*qi_cols).orderBy(id_col)
    return (
        rows.select(*qi_cols, id_col)
        .withColumn("class_n", F.row_number().over(w).cast("bigint"))
        .withColumn("releasable", F.col("class_n") >= k)
    )


def streaming_blocklist_gate(
    docs: DataFrame,
    blocklist_words: list,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_rate_bp: int = 1000,
) -> DataFrame:
    """Stream-compatible spelling of curate.blocklist_hits — the
    C4-style wordlist rate gate at the ingestion front door.

    The batch operator joins an exploded token stream against the
    blocklist RELATION; on an unbounded stream that explode+groupBy
    would be a stateful aggregation for no reason, because the list
    is bounded by construction (maintained out-of-band, thousands of
    entries). So here the list rides along as a literal array and the
    whole gate collapses to ONE stateless narrow projection — per-doc
    occurrence counting via a higher-order filter over the token
    array, nothing for the state store, trivially append-mode. A
    micro-batch drain matches blocklist_hits row-for-row (pinned in
    tests)."""
    from ..operators.textstats import token_count, tokens

    bl = F.array(*[F.lit(w) for w in blocklist_words])
    toks = tokens(F.col(text_col))
    return docs.select(
        F.col(id_col).alias("id"),
        token_count(F.col(text_col)).cast("bigint").alias("n_tokens"),
        F.size(F.filter(toks, lambda t: F.array_contains(bl, t)))
        .cast("bigint")
        .alias("n_blocked"),
        F.size(F.array_intersect(F.array_distinct(toks), bl))
        .cast("bigint")
        .alias("n_blocked_types"),
    ).withColumn(
        "keep", F.col("n_blocked") * 10000 <= F.col("n_tokens") * max_rate_bp
    )


def streaming_source_gate(
    flagged: DataFrame,
    source_col: str = "source",
    flag_col: str = "pass_gopher",
    min_docs: int = 10,
    min_pass_bp: int = 5000,
) -> DataFrame:
    """Custom stateful operator: the STREAMING twin of
    curate.source_suppression — running per-source quality rollups at
    the ingestion front door, so a crawl source that degrades is
    suppressed the moment its evidence crosses the bar, not at the
    next batch audit. Each micro-batch emits one updated row per
    source seen in that batch, carrying the lifetime (n_docs, n_pass,
    pass_bp, suppressed) AS OF that batch.

    Scale/state design: keyed by source (one shuffle); state is TWO
    longs per distinct source — strictly smaller than the batch
    audit's output relation. Skewed sources are the well-estimated
    ones; per-batch work is a vectorized sum. A full-history
    single-batch drain equals source_suppression row-for-row — pinned
    in tests."""
    src_field = flagged.schema[source_col]
    out_schema = StructType(
        [
            src_field,
            StructField("n_docs", LongType()),
            StructField("n_pass", LongType()),
            StructField("pass_bp", LongType()),
            StructField("suppressed", BooleanType()),
        ]
    )
    state_schema = StructType(
        [StructField("n_docs", LongType()), StructField("n_pass", LongType())]
    )

    def roll(key, pdf, state):
        n, p = state
        n += len(pdf)
        p += int(pdf[flag_col].sum())
        bp = (10000 * p) // n if n else 0
        return (int(n), int(p)), {
            source_col: [key[0]],
            "n_docs": [n],
            "n_pass": [p],
            "pass_bp": [bp],
            "suppressed": [n >= min_docs and bp < min_pass_bp],
        }

    # each emission is an EVENT ("the rollup as of this batch");
    # consumers key on the latest n_docs per source
    base = flagged.select(source_col, flag_col)
    return keyed_fold(base, [source_col], out_schema, state_schema, (0, 0), roll)


def streaming_scene_cuts(
    frames: DataFrame,
    threshold: int = 600,
    id_col: str = "doc_id",
) -> DataFrame:
    """Custom stateful operator: STREAMING shot-boundary detection —
    the stream twin of multimodal.scene_cuts. Frame signatures
    arrive keyed by video; state is ONE long per video (the last
    seen signature, -1 sentinel before the first frame), so a cut
    that straddles a micro-batch boundary is still detected. Within
    a batch rows resolve in frame_index order, so a full-history
    single-batch drain aggregates to exactly the batch twin's
    (n_sampled, n_cuts, first_cut) — pinned in tests.

    Scale/state: keyed by video id (one shuffle); state is one long
    per live video regardless of frame count; per-batch work is a
    vectorized diff."""
    base = frames.select(id_col, "frame_index", "frame_sig")
    out_schema = StructType(
        [base.schema[c] for c in (id_col, "frame_index", "frame_sig")]
        + [StructField("is_cut", BooleanType())]
    )
    state_schema = StructType([StructField("last_sig", LongType())])

    def fold(key, pdf, state):
        (last,) = state
        pdf = pdf.sort_values("frame_index").copy()
        cuts = []
        for s in pdf["frame_sig"].tolist():
            cuts.append(last >= 0 and abs(int(s) - last) > threshold)
            last = int(s)
        pdf["is_cut"] = cuts
        return (last,), pdf[[id_col, "frame_index", "frame_sig", "is_cut"]]

    return keyed_fold(base, [id_col], out_schema, state_schema, (-1,), fold)


def streaming_t_closeness_gate(
    rows: DataFrame,
    qi_cols: list,
    bucket_col: str,
    ref_dist: list,
    t_bp_max: int = 2000,
    id_col: str = "event_id",
) -> DataFrame:
    """Custom stateful operator: a STREAMING t-closeness release gate
    — the stream face of privacy.t_closeness, completing the gate
    ladder next to streaming_k_anon_gate. Each arriving row updates
    its QI class's running bucket histogram; the row is `releasable`
    only if the class's distribution AT ARRIVAL TIME is within EMD
    t_bp_max (basis points) of a FROZEN reference distribution.

    The reference distribution (`ref_dist`: [(bucket, count), ...])
    is frozen and broadcast-by-closure, like the blocklist gate's
    wordlist: the batch operator derives the global distribution
    from the corpus itself, but per-key stream state cannot see
    across keys, and the production pattern is exactly this —
    yesterday's (offline) global histogram gates today's stream.

    State is ONE long vector of m bucket counts per QI class (m is
    small by the binning contract); the EMD arithmetic is the same
    exact-integer cumulative-difference spelling as the batch
    operator, so a full-history single-batch drain replays
    t_closeness_gate_batch row-for-row (pinned in tests).
    """
    from bisect import bisect_right

    qi_cols = list(qi_cols)
    ref = sorted((int(b), int(n)) for b, n in ref_dist)
    if len(ref) < 2:
        raise ValueError("t-closeness needs >= 2 reference buckets")
    buckets = [b for b, _ in ref]
    bucket_pos = {b: i for i, b in enumerate(buckets)}
    m = len(ref)
    n_total = sum(n for _, n in ref)
    cum_ref = []
    acc = 0
    for _, n in ref:
        acc += n
        cum_ref.append(acc)

    cols = qi_cols + [id_col, bucket_col]
    base = rows.select(*cols)
    out_schema = StructType(
        [base.schema[c] for c in cols]
        + [
            StructField("class_n", LongType()),
            StructField("emd_scaled", LongType()),
            StructField("t_bp", LongType()),
            StructField("releasable", BooleanType()),
        ]
    )
    state_schema = StructType([StructField("counts", ArrayType(LongType()))])

    def gate(key, pdf, state):
        counts = list(state[0])
        pdf = pdf.sort_values(id_col).copy()
        out_n, out_emd, out_bp, out_ok = [], [], [], []
        for b in pdf[bucket_col]:
            pos = bucket_pos.get(int(b))
            if pos is None:
                # out-of-reference bucket: floor to the largest
                # reference bucket <= b (below-range clamps up to
                # the lowest) — the same TOTAL map the batch twin
                # builds, so gapped references keep row-for-row
                # twin equivalence and mass is never dropped
                pos = max(bisect_right(buckets, int(b)) - 1, 0)
            counts[pos] += 1
            n_g = sum(counts)
            emd = 0
            cg = 0
            for i in range(m):
                cg += counts[i]
                emd += abs(n_total * cg - n_g * cum_ref[i])
            den = n_g * n_total * (m - 1)
            t_bp = (2 * emd * 10000 + den) // (2 * den)
            out_n.append(n_g)
            out_emd.append(emd)
            out_bp.append(t_bp)
            out_ok.append(t_bp <= t_bp_max)
        pdf["class_n"] = out_n
        pdf["emd_scaled"] = out_emd
        pdf["t_bp"] = out_bp
        pdf["releasable"] = out_ok
        counts = [int(c) for c in counts]
        return (counts,), pdf[cols + ["class_n", "emd_scaled", "t_bp", "releasable"]]

    return keyed_fold(base, qi_cols, out_schema, state_schema, ([0] * m,), gate)


def t_closeness_gate_batch(
    rows: DataFrame,
    qi_cols: list,
    bucket_col: str,
    ref_dist: list,
    t_bp_max: int = 2000,
    id_col: str = "event_id",
) -> DataFrame:
    """Driver-checkable batch spelling of streaming_t_closeness_gate:
    over a full history, a row's arrival-time class histogram is the
    per-(class, bucket) running count in id order, its cumulative-
    over-buckets prefix comes from a second small window over the m
    reference buckets, and the exact-integer EMD/basis-point algebra
    is identical — what the stateful loop computes when everything
    arrives in one micro-batch from empty state.

    Plan shape: rows × m after the broadcast reference join; both
    windows are keyed (class × bucket, then class × row) — never
    global. Out-of-reference buckets (outside the edges OR in a gap
    of a non-contiguous reference) floor to the largest reference
    bucket <= b, below-range clamps up to the lowest — the identical
    total map the stream applies, so no mass is ever dropped."""
    from pyspark.sql.window import Window

    qi_cols = list(qi_cols)
    ref = sorted((int(b), int(n)) for b, n in ref_dist)
    if len(ref) < 2:
        raise ValueError("t-closeness needs >= 2 reference buckets")
    m = len(ref)
    n_total = sum(n for _, n in ref)
    cum = []
    acc = 0
    for b, n in ref:
        acc += n
        cum.append((b, acc))
    spark = rows.sparkSession
    ref_df = spark.createDataFrame(cum, "_rb BIGINT, _cnb BIGINT")

    # total map: floor to the largest reference bucket <= b (below-
    # range clamps up to the lowest) — must stay identical to the
    # stream gate's bisect spelling or gapped-reference mass would
    # silently miss every `_cb == _rb` match below
    clamped = F.when(F.col(bucket_col) < F.lit(ref[1][0]), F.lit(ref[0][0]))
    for i in range(2, m):
        clamped = clamped.when(
            F.col(bucket_col) < F.lit(ref[i][0]), F.lit(ref[i - 1][0])
        )
    clamped = clamped.otherwise(F.lit(ref[-1][0]))
    base = rows.select(*qi_cols, id_col, bucket_col).withColumn("_cb", clamped)
    w_class = Window.partitionBy(*qi_cols).orderBy(id_col)
    base = base.withColumn("_class_n", F.row_number().over(w_class).cast("bigint"))

    grid = base.join(F.broadcast(ref_df))
    w_bucket = (
        Window.partitionBy(*qi_cols, "_rb")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    counted = grid.withColumn(
        "_cnt_b",
        F.sum(F.when(F.col("_cb") == F.col("_rb"), 1).otherwise(0)).over(w_bucket),
    )
    w_row = (
        Window.partitionBy(*qi_cols, id_col)
        .orderBy("_rb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cumulated = counted.withColumn("_cgb", F.sum("_cnt_b").over(w_row))
    per_row = cumulated.groupBy(*qi_cols, id_col, bucket_col, "_class_n").agg(
        F.sum(
            F.abs(F.lit(n_total) * F.col("_cgb") - F.col("_class_n") * F.col("_cnb"))
        )
        .cast("bigint")
        .alias("emd_scaled")
    )
    den = f"(_class_n * {n_total} * {m - 1})"
    return per_row.select(
        *qi_cols,
        id_col,
        bucket_col,
        F.col("_class_n").alias("class_n"),
        "emd_scaled",
        F.expr(f"(2 * emd_scaled * 10000 + {den}) div (2 * {den})").alias("t_bp"),
    ).withColumn("releasable", F.col("t_bp") <= t_bp_max)
