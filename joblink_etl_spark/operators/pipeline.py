"""End-to-end batch pipeline (SURVEY.md §3.1/§3.2) — the Spark
re-expression of the reference's paste-a-link lifecycle:

  enqueue(anti-join) → FIFO batch → tiered fetch → decide cascade →
  renderer escalation (conf==0) → optional LLM rescue →
  write-back MERGE (+ fetch/parse/extract provenance tokens) →
  notes enqueue → notes (LLM w/ template fallback) → dequeue

Each stage is DataFrame → DataFrame; one logical plan per batch.
The reference's api_company/api_role fetch outputs are carried but
(faithfully) never consumed — both reference variants compute and
then ignore them (verified: no reads of apiCompany/apiRole after
fetchViaAtsApis_ returns).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.html import text_preview
from ..functions.provenance import append_rendered_token, append_source_token
from ..functions.text import format_conf
from .decide import decide
from .enqueue import QUEUE_KEY, dequeue, select_batch
from .fetch import fetch_smart, make_render_udf
from .llm_rescue import llm_rescue
from .notes import needs_notes
from .writeback import TRACKER_KEY, merge_writeback


# the columns decide() adds (extract_signals + decide_company_role)
DECIDE_COLS = (
    "host", "is_agg", "canonical", "jsonld", "og_site", "h1", "og_title",
    "title", "ats_slug_company", "company", "role", "conf", "decision",
)


def escalate_weak_parses(parsed: DataFrame, renderer_client) -> DataFrame:
    """Second-chance renderer escalation (reference :897-906): rows
    with conf==0 whose fetch wasn't the renderer get one re-render +
    re-decide; the better parse wins and gains a
    fetch:{escalated=renderer} provenance token.

    One gated pass, like the fetch cascade: the render UDF's gate is
    the weak-row test, so other rows make no call. Every row is
    re-decided, but only rows the renderer returned HTML for take the
    new parse; the rest keep their first one."""
    weak = (F.col("conf") == 0) & (F.col("provider") != "renderer")
    render_udf = make_render_udf(renderer_client)
    got_html = F.col("_r.final_url").isNotNull() & (F.coalesce(F.col("_r.html"), F.lit("")) != "")
    first = {c: f"_first_{c}" for c in DECIDE_COLS}
    held = (
        parsed.withColumn("_r", render_udf(F.col("final_url"), weak))
        .withColumnsRenamed(first)
        .withColumns(
            {
                "_got": got_html,
                "html2": F.when(got_html, F.col("_r.html")).otherwise(F.lit("")),
                "final_url2": F.when(
                    got_html, F.coalesce(F.col("_r.final_url"), F.col("final_url"))
                ).otherwise(F.col("final_url")),
            }
        )
    )
    redecided = decide(held, html_col="html2", url_col="final_url2")
    got = F.col("_got")
    return redecided.withColumns(
        {c: F.when(got, F.col(c)).otherwise(F.col(old)) for c, old in first.items()}
        # conf here is vs the original 0 — any positive re-parse wins (:903)
        | {"escalated": got & (F.col("conf") > 0)}
    ).select(*parsed.columns, "escalated")


def parse_batch(
    tracker: DataFrame,
    queue: DataFrame,
    http_client,
    renderer_client,
    llm_client=None,
    batch_size: int = 12,
) -> dict[str, DataFrame]:
    """One drain cycle of the parse queue (reference processNextBatch,
    :870-926). Returns {'tracker', 'queue', 'notes_candidates',
    'parsed'} — all lazy DataFrames."""
    batch = select_batch(queue, batch_size)
    all_fetched = fetch_smart(batch, http_client, renderer_client, url_col="url")
    # dead-letter rows whose fetch client THREW (ST5): Status='error',
    # truncated message appended to Source, no parse/notes — but the
    # row still leaves the queue (single-attempt, reference :915-918)
    err_rows = all_fetched.filter(F.col("fetch_error") != "")
    fetched = all_fetched.filter(F.col("fetch_error") == "").withColumn(
        "final_url", F.coalesce(F.nullif(F.col("final_url"), F.lit("")), F.col("url"))
    )
    # checkpoint between mega-stages: each of decide/escalate/rescue
    # is itself a wide expression tree; truncating lineage keeps
    # Catalyst's optimization time linear in pipeline length
    decided = decide(fetched, html_col="html", url_col="final_url").localCheckpoint(eager=True)
    parsed = escalate_weak_parses(decided, renderer_client).localCheckpoint(eager=True)
    if llm_client is not None:
        parsed = parsed.withColumn("body_preview", text_preview(F.col("html"), 2000))
        parsed = llm_rescue(parsed, llm_client)
    else:
        parsed = parsed.withColumn("extract_token", F.lit(""))

    merge_in = parsed.select(
        *QUEUE_KEY,
        "canonical", "company", "role", "conf", "decision", "provider",
        "escalated", "extract_token",
    )
    new_tracker = _writeback_with_tokens(tracker, merge_in)
    new_tracker = _mark_error_rows(new_tracker, err_rows)

    notes_candidates = (
        new_tracker.join(
            F.broadcast(parsed.select(*QUEUE_KEY).dropDuplicates(QUEUE_KEY)),
            QUEUE_KEY,
        )
        .filter(needs_notes(F.col("li_invite"), F.col("li_followup")))
        .select(
            *QUEUE_KEY,
            F.lit("post-parse").alias("phase"),
            F.lit("queued").alias("status"),
            F.current_timestamp().alias("enqueued_at"),
            F.lit("").alias("last_error"),
        )
    )
    new_queue = dequeue(
        queue, parsed.select(*QUEUE_KEY).unionByName(err_rows.select(*QUEUE_KEY))
    )
    return {
        "tracker": new_tracker,
        "queue": new_queue,
        "notes_candidates": notes_candidates,
        "parsed": parsed,
    }


def _mark_error_rows(tracker: DataFrame, err_rows: DataFrame) -> DataFrame:
    """ST5 dead-letter write (reference updateStatusCell_ 'error'
    path, :915-918, :932-941): Status='error', truncated message
    appended to Source, other columns untouched."""
    e = err_rows.select(
        *TRACKER_KEY,
        F.substring(F.col("fetch_error"), 1, 300).alias("_err"),
        F.lit(True).alias("_err_matched"),
    ).dropDuplicates(TRACKER_KEY)
    joined = tracker.join(F.broadcast(e), TRACKER_KEY, "left")
    matched = F.coalesce(F.col("_err_matched"), F.lit(False))
    prev = F.trim(F.coalesce(F.col("source"), F.lit("")))
    appended = F.when(prev != "", F.concat(prev, F.lit(" | "), F.col("_err"))).otherwise(
        F.col("_err")
    )
    return (
        joined.withColumns(
            {
                "status": F.when(matched, F.lit("error")).otherwise(F.col("status")),
                "source": F.when(matched, appended).otherwise(F.col("source")),
            }
        ).drop("_err", "_err_matched")
    )


def _writeback_with_tokens(tracker: DataFrame, parsed: DataFrame) -> DataFrame:
    """merge_writeback plus the reference's token ordering: the
    escalation token lands BEFORE the parse token (it's appended
    mid-processing, :905), extract after (:849-852)."""
    pre = parsed.withColumn("_fetch_tok", F.col("escalated")).withColumn(
        "_extract_tok", F.col("extract_token")
    )
    p = pre.select(
        *TRACKER_KEY, "canonical", "company", "role", "conf", "decision",
        "provider", "_fetch_tok", "_extract_tok",
    )
    joined = tracker.join(
        F.broadcast(
            p.withColumnRenamed("canonical", "_c")
            .withColumnRenamed("company", "_co")
            .withColumnRenamed("role", "_r")
            .withColumnRenamed("conf", "_cf")
            .withColumnRenamed("decision", "_d")
            .withColumnRenamed("provider", "_p")
            .withColumn("_matched", F.lit(True))
        ),
        TRACKER_KEY,
        "left",
    )
    matched = F.coalesce(F.col("_matched"), F.lit(False))
    src = F.col("source")
    src = F.when(
        F.coalesce(F.col("_fetch_tok"), F.lit(False)),
        append_source_token(src, "fetch", {"escalated": F.lit("renderer")}),
    ).otherwise(src)
    src = append_source_token(
        src,
        "parse",
        {
            "provider": F.coalesce(F.col("_p"), F.lit("direct")),
            "signals": F.coalesce(F.col("_d"), F.lit("heuristic")),
            "conf": format_conf(F.coalesce(F.col("_cf"), F.lit(0.0))),
        },
    )
    src = F.when(
        F.coalesce(F.col("_extract_tok"), F.lit("")) != "",
        append_rendered_token(src, "extract", F.col("_extract_tok")),
    ).otherwise(src)

    out = joined.withColumns(
        {
            "canonical_link": F.when(matched, F.col("_c")).otherwise(F.col("canonical_link")),
            "company_auto": F.when(matched, F.col("_co")).otherwise(F.col("company_auto")),
            "role_auto": F.when(matched, F.col("_r")).otherwise(F.col("role_auto")),
            "status": F.when(matched, F.lit("ok")).otherwise(F.col("status")),
            "source": F.when(matched, src).otherwise(F.col("source")),
        }
    )
    return out.drop("_c", "_co", "_r", "_cf", "_d", "_p", "_fetch_tok", "_extract_tok", "_matched")


def notes_batch(
    tracker: DataFrame,
    notes_queue: DataFrame,
    http_client,
    renderer_client,
    llm_client,
    profile: dict[str, str],
    batch_size: int = 12,
) -> dict[str, DataFrame]:
    """One drain cycle of the notes queue (reference
    processNotesBatch, :1115-1199): re-check idempotency, re-fetch
    the page for the snippet, LLM-with-template-fallback, fill-blank
    write of the two notes columns + notes:{mode=...} token."""
    from .llm_rescue import notes_with_fallback

    batch = notes_queue.filter(F.col("status") == "queued").orderBy(
        "enqueued_at", *QUEUE_KEY
    ).limit(batch_size)
    target = batch.select(*QUEUE_KEY).join(tracker, QUEUE_KEY).filter(
        needs_notes(F.col("li_invite"), F.col("li_followup"))
    )
    refetched = fetch_smart(target, http_client, renderer_client, url_col="link")
    snippet = refetched.withColumns(
        {
            "canonical": F.coalesce(F.nullif(F.col("canonical_link"), F.lit("")), F.col("link")),
            "company": F.col("company_auto"),
            "role": F.col("role_auto"),
            "body_preview": text_preview(F.col("html"), 1000),
        }
    )
    noted = notes_with_fallback(snippet, llm_client, profile)

    n = noted.select(
        *TRACKER_KEY,
        F.col("li_invite").alias("_inv"),
        F.col("li_followup").alias("_fol"),
        F.col("notes_token").alias("_tok"),
        F.lit(True).alias("_matched"),
    )
    joined = tracker.join(F.broadcast(n), TRACKER_KEY, "left")
    matched = F.coalesce(F.col("_matched"), F.lit(False))
    new_tracker = joined.withColumns(
        {
            # matched rows already passed needs_notes (either cell
            # blank); the reference then writes BOTH cells
            # unconditionally (:1181-1184) — overwrite, don't
            # fill-blanks-merge
            "li_invite": F.when(matched, F.col("_inv")).otherwise(F.col("li_invite")),
            "li_followup": F.when(matched, F.col("_fol")).otherwise(F.col("li_followup")),
            "source": F.when(
                matched,
                append_rendered_token(F.col("source"), "notes", F.col("_tok")),
            ).otherwise(F.col("source")),
        }
    ).drop("_inv", "_fol", "_tok", "_matched")
    new_notes_queue = dequeue(notes_queue, batch.select(*QUEUE_KEY))
    return {"tracker": new_tracker, "notes_queue": new_notes_queue}


def drain_all(
    tracker: DataFrame,
    queue: DataFrame,
    notes_queue: DataFrame,
    http_client,
    renderer_client,
    llm_client,
    profile: dict[str, str],
    batch_size: int = 12,
    notes_batch_size: int = 12,
    max_cycles: int = 50,
) -> dict[str, DataFrame]:
    """The drain loop (reference drainAllQueues, :264-272): alternate
    parse and notes batches until both queues are empty. The
    reference stops at a 285 s wall-clock budget (Apps Script cap) —
    an orchestration concern; here max_cycles bounds work instead.

    Each cycle materializes its outputs via localCheckpoint so the
    logical plan stays O(1) in cycle count (ST2's incremental-batch
    semantics, not one giant lazy graph).
    """
    from ..schemas import NOTES_QUEUE_SCHEMA

    spark = tracker.sparkSession
    notes_queue = notes_queue if notes_queue is not None else spark.createDataFrame(
        [], NOTES_QUEUE_SCHEMA
    )
    for _ in range(max_cycles):
        did_work = False
        if not queue.filter(F.col("status") == "queued").isEmpty():
            did_work = True
            out = parse_batch(
                tracker, queue, http_client, renderer_client, llm_client, batch_size
            )
            tracker = out["tracker"].localCheckpoint(eager=True)
            queue = out["queue"].localCheckpoint(eager=True)
            # two-phase hand-off (ST7): new notes work enters the
            # notes queue idempotently (J2 anti-join on the key)
            fresh = out["notes_candidates"].join(
                notes_queue.filter(F.col("status").isin("queued", "processing"))
                .select(*QUEUE_KEY),
                QUEUE_KEY,
                "left_anti",
            ).select(*notes_queue.columns)
            notes_queue = notes_queue.unionByName(fresh).localCheckpoint(eager=True)
        if not notes_queue.filter(F.col("status") == "queued").isEmpty():
            did_work = True
            out = notes_batch(
                tracker, notes_queue, http_client, renderer_client,
                llm_client, profile, notes_batch_size,
            )
            tracker = out["tracker"].localCheckpoint(eager=True)
            notes_queue = out["notes_queue"].localCheckpoint(eager=True)
        if not did_work:
            break
    return {"tracker": tracker, "queue": queue, "notes_queue": notes_queue}
