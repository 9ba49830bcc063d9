"""End-to-end batch pipeline (SURVEY.md §3.1/§3.2) — the Spark
re-expression of the reference's paste-a-link lifecycle:

  enqueue(anti-join) → FIFO batch → tiered fetch → decide cascade →
  renderer escalation (conf==0) → optional LLM rescue →
  write-back MERGE (+ fetch/parse/extract provenance tokens) →
  notes enqueue → notes (LLM w/ template fallback) → dequeue

Each stage is DataFrame → DataFrame. The side-effecting stages each
cross into Python once per batch, in one pandas UDF: the fetch cascade
(``fetch_smart``, every tier inside one UDF over the URL column), the
renderer escalation and the LLM calls (a UDF each, gated so rows that
don't need the call make none). Only the UDF's input columns cross;
the batch's other columns stay in the JVM. An eager bounded ``pin()``
after the fetch, the decide and the escalation runs each of these once
per row and keeps every later plan free of the earlier stages; the
drain loop pins the caller's queue once per drain and the tracker and
queues once per cycle.

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
from ..pin import pin
from .decide import decide
from .enqueue import QUEUE_KEY, dequeue, select_batch
from .fetch import fetch_smart, make_render_udf
from .llm_rescue import llm_rescue
from .notes import needs_notes
from .writeback import PARSE_COLS, TRACKER_KEY, merge_rows, new, parse_sets


# the columns decide() adds (extract_signals + decide_company_role)
DECIDE_COLS = (
    "host", "is_agg", "canonical", "jsonld", "og_site", "h1", "og_title",
    "title", "ats_slug_company", "company", "role", "conf", "decision",
)

# Why drain_all's corpus-scale pins have no opt-out: the tiered
# fetch/LLM UDFs upstream are side-effecting (rate-limited external
# calls, S7-S12), and lineage recomputation would re-fire them with
# different results.
DRAIN_PIN_REASON = "side-effecting fetch/LLM calls must run exactly once per drain cycle"
# Why drain_all pins the caller's queue on entry: the first cycle reads
# it three times (emptiness check, batch selection, dequeue), and a
# queue plan need not be deterministic (current_timestamp, a source
# that changes under it), so every read must see one snapshot.
QUEUE_PIN_REASON = "every read of the caller's queue in a drain must see one snapshot"


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
    # pin one fetch batch between mega-stages: each of decide/escalate/
    # rescue is itself a wide expression tree; truncating lineage keeps
    # Catalyst's optimization time linear in pipeline length
    decided = pin(decide(fetched, html_col="html", url_col="final_url"), "bounded", eager=True)
    parsed = pin(escalate_weak_parses(decided, renderer_client), "bounded", eager=True)
    if llm_client is not None:
        parsed = parsed.withColumn("body_preview", text_preview(F.col("html"), 2000))
        parsed = llm_rescue(parsed, llm_client)
    else:
        parsed = parsed.withColumn("extract_token", F.lit(""))

    new_tracker = _writeback_with_tokens(tracker, parsed)
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
    # every batch item leaves the queue (reference :924): parsed,
    # dead-lettered, and a row without a URL, which fetch_smart drops
    new_queue = dequeue(queue, batch.select(*QUEUE_KEY))
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
    prev = F.trim(F.coalesce(F.col("source"), F.lit("")))
    msg = F.substring(new("fetch_error"), 1, 300)
    return merge_rows(
        tracker,
        err_rows.select(*TRACKER_KEY, "fetch_error"),
        {
            "status": F.lit("error"),
            "source": F.when(prev != "", F.concat(prev, F.lit(" | "), msg)).otherwise(msg),
        },
    )


def _writeback_with_tokens(tracker: DataFrame, parsed: DataFrame) -> DataFrame:
    """merge_writeback plus the reference's token ordering: the
    escalation token lands BEFORE the parse token (it's appended
    mid-processing, :905), extract after (:849-852)."""
    src = F.col("source")
    src = F.when(
        F.coalesce(new("escalated"), F.lit(False)),
        append_source_token(src, "fetch", {"escalated": F.lit("renderer")}),
    ).otherwise(src)
    sets = parse_sets(src)
    tok = F.coalesce(new("extract_token"), F.lit(""))
    sets["source"] = F.when(
        tok != "", append_rendered_token(sets["source"], "extract", tok)
    ).otherwise(sets["source"])
    return merge_rows(
        tracker, parsed.select(*TRACKER_KEY, *PARSE_COLS, "escalated", "extract_token"), sets
    )


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
    the page for the snippet, LLM-with-template-fallback, write of
    the two notes columns + notes:{mode=...} token."""
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

    # matched rows already passed needs_notes (either cell blank); the
    # reference then writes BOTH cells unconditionally (:1181-1184) —
    # overwrite, don't fill-blanks-merge
    new_tracker = merge_rows(
        tracker,
        noted.select(*TRACKER_KEY, "li_invite", "li_followup", "notes_token"),
        {
            "li_invite": new("li_invite"),
            "li_followup": new("li_followup"),
            "source": append_rendered_token(F.col("source"), "notes", new("notes_token")),
        },
    )
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

    The caller's queue is pinned once on entry (``QUEUE_PIN_REASON``),
    so its plan runs once per drain. Each cycle pins its outputs
    (``DRAIN_PIN_REASON``) so the logical plan stays O(1) in cycle
    count (ST2's incremental-batch semantics, not one giant lazy
    graph). The tracker/queue/notes_queue snapshots
    are table-scale — the reference's tracker is a spreadsheet;
    warehouse-scale trackers take merge_writeback_incremental's
    O(batch) partition path instead of this in-memory hand-off.
    """
    from ..schemas import NOTES_QUEUE_SCHEMA, empty_table

    if notes_queue is None:
        notes_queue = empty_table(tracker.sparkSession, NOTES_QUEUE_SCHEMA)
    queue = pin(queue, "corpus", eager=True, reason=QUEUE_PIN_REASON)
    for _ in range(max_cycles):
        did_work = False
        if not queue.filter(F.col("status") == "queued").isEmpty():
            did_work = True
            out = parse_batch(
                tracker, queue, http_client, renderer_client, llm_client, batch_size
            )
            tracker = pin(out["tracker"], "corpus", eager=True, reason=DRAIN_PIN_REASON)
            queue = pin(out["queue"], "corpus", eager=True, reason=DRAIN_PIN_REASON)
            # two-phase hand-off (ST7): new notes work enters the
            # notes queue idempotently (J2 anti-join on the key)
            fresh = out["notes_candidates"].join(
                notes_queue.filter(F.col("status").isin("queued", "processing"))
                .select(*QUEUE_KEY),
                QUEUE_KEY,
                "left_anti",
            ).select(*notes_queue.columns)
            notes_queue = pin(
                notes_queue.unionByName(fresh), "corpus", eager=True, reason=DRAIN_PIN_REASON
            )
        if not notes_queue.filter(F.col("status") == "queued").isEmpty():
            did_work = True
            out = notes_batch(
                tracker, notes_queue, http_client, renderer_client,
                llm_client, profile, notes_batch_size,
            )
            tracker = pin(out["tracker"], "corpus", eager=True, reason=DRAIN_PIN_REASON)
            notes_queue = pin(
                out["notes_queue"], "corpus", eager=True, reason=DRAIN_PIN_REASON
            )
        if not did_work:
            break
    return {"tracker": tracker, "queue": queue, "notes_queue": notes_queue}
