"""Tests for the tiered fetch cascade, LLM rescue, and the full
paste-a-link pipeline (SURVEY.md §2.9, §2.11, §3.1-§3.2) using the
deterministic fake clients."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from joblink_etl_spark.clients import (
    FakeLlmClient,
    FakeRendererClient,
    SyntheticSiteHttpClient,
    ThrowingHttpClient,
)
from joblink_etl_spark.operators.enqueue import enqueue
from joblink_etl_spark.operators import fetch as fetch_mod
from joblink_etl_spark.operators.fetch import cascade_row, fetch_smart, make_render_udf
from joblink_etl_spark.operators.llm_rescue import make_extract_udf
from joblink_etl_spark.operators.pipeline import drain_all, notes_batch, parse_batch
from perfbench.clients import counting_clients
from perfbench.expect import classify

HTTP = SyntheticSiteHttpClient()
RENDERER = FakeRendererClient()
LLM = FakeLlmClient()

URLS = {
    "gh": "https://boards.greenhouse.io/acme-corp/jobs/101",
    "lever": "https://jobs.lever.co/mega/202",
    "direct": "https://site1.example.com/direct/303",
    "thin": "https://site1.example.com/thin/404",
    "agg": "https://www.linkedin.com/jobs/view/505",
    "broken": "https://site9.example.com/broken/606",
}


@pytest.fixture(scope="module")
def fetched(spark):
    rows = [("S", i, u) for i, u in enumerate(URLS.values())]
    df = spark.createDataFrame(rows, "sheet_name string, row_index long, url string")
    out = fetch_smart(df, HTTP, RENDERER)
    return {r["url"]: r.asDict() for r in out.collect()}


def test_tier1_ats_apis(fetched):
    gh = fetched[URLS["gh"]]
    assert gh["provider"] == "gh-api"
    assert gh["api_company"] == "Acme Corp"
    assert gh["api_role"] == "Platform Engineer 101"
    assert gh["final_url"] == "https://boards.greenhouse.io/acme-corp/jobs/101"
    lever = fetched[URLS["lever"]]
    assert lever["provider"] == "lever-api"
    assert (lever["api_company"], lever["api_role"]) == ("Mega", "Data Engineer 202")


def test_tier2_direct(fetched):
    d = fetched[URLS["direct"]]
    assert d["provider"] == "direct"
    assert "Staff Analyst 303" in d["html"]


def test_tier3_renderer_for_thin_pages(fetched):
    t = fetched[URLS["thin"]]
    assert t["provider"] == "renderer"
    assert "Rendered Analyst 404" in t["html"]


def test_tier4_aggregator_unwrap_to_api(fetched):
    a = fetched[URLS["agg"]]
    # linkedin page links to greenhouse → unwrap hits the ATS API
    assert a["provider"] == "gh-api"
    assert a["api_company"] == "Wrapped Co"


def test_tier5_last_resort(fetched):
    b = fetched[URLS["broken"]]
    assert b["provider"] == "direct"
    assert b["status"] == 500


def test_no_rows_lost_or_duplicated(spark, fetched):
    assert len(fetched) == len(URLS)


def test_null_passthrough_not_duplicated(spark):
    """Regression: tier 5 used to derive `no_unwrap` via a left_anti
    join on ALL passthrough columns; anti-join equality is null-unsafe,
    so an unwrap-branch row with a NULL passthrough value survived the
    anti-join and was emitted twice (plus a duplicate side-effecting
    fetch). Now a null-safe complement filter."""
    rows = [
        ("S", 1, None, URLS["agg"]),     # unwrap branch, NULL passthrough
        ("S", 2, None, URLS["broken"]),  # last-resort branch, NULL passthrough
        ("S", 3, "n3", URLS["agg"]),     # unwrap branch, non-NULL
    ]
    df = spark.createDataFrame(
        rows, "sheet_name string, row_index long, note string, url string"
    )
    out = fetch_smart(df, HTTP, RENDERER).collect()
    assert len(out) == 3
    by_idx = {r["row_index"]: r.asDict() for r in out}
    assert by_idx[1]["provider"] == "gh-api"  # unwrapped exactly once
    assert by_idx[3]["provider"] == "gh-api"
    assert by_idx[2]["provider"] == "direct"  # last resort untouched


# Client calls ONE fetch_smart makes per link of each URL class, as
# (http, render): the fetch part of perfbench/expect.EXPECTED_CALLS,
# whose drain counts the parse fetch, the notes re-fetch and the
# renderer escalation of weak parses.
FETCH_CALLS = {
    "greenhouse": (1, 0),  # the ATS API call only
    "lever": (1, 0),
    "direct": (1, 0),
    "thin": (1, 1),  # direct page is thin → renderer
    "aggregator": (2, 1),  # direct, renderer, then the unwrapped ATS API
    "broken": (1, 1),  # direct 500, renderer fails → last resort
    "raise": (1, 0),  # client throws → dead-lettered, no further tier
}


def test_fetch_exact_client_calls(spark):
    acc, http, renderer, llm = counting_clients(spark.sparkContext)
    urls = {
        "greenhouse": URLS["gh"], "lever": URLS["lever"], "direct": URLS["direct"],
        "thin": URLS["thin"], "aggregator": URLS["agg"], "broken": URLS["broken"],
        "raise": "https://site1.example.com/raise/9",
    }
    df = spark.createDataFrame(
        [("S", i, u) for i, u in enumerate(urls.values())],
        "sheet_name string, row_index long, url string",
    )
    out = fetch_smart(df, http, renderer)  # the eager pin runs every call
    assert out.count() == len(urls)
    calls = dict(acc.value)
    for cls, (n_http, n_render) in FETCH_CALLS.items():
        assert (calls.get(("http", cls), 0), calls.get(("render", cls), 0)) == (n_http, n_render), cls
    assert {cls for _, cls in calls} <= set(FETCH_CALLS)

    # a false gate skips the client and returns the empty result: the
    # renderer escalation's and the LLM extract's gated UDFs
    acc.value = {}
    gated = df.select(
        make_render_udf(renderer)(F.col("url"), F.lit(False)).alias("rendered"),
        make_extract_udf(llm)(*[F.col("url")] * 6, F.lit(False)).alias("extracted"),
    ).collect()
    assert len(gated) == len(urls)
    assert acc.value == {}
    for r in gated:
        assert r["rendered"]["final_url"] is None
        assert tuple(r["extracted"]) == ("", "", None)


class _CountingHttp:
    """Spark-free call counter over a fake HTTP client; ``raise_on``
    URL substrings make the call throw."""

    def __init__(self, calls, inner=None, raise_on=()):
        self.calls, self.inner, self.raise_on = calls, inner or SyntheticSiteHttpClient(), raise_on

    def fetch(self, url):
        self.calls.append(("http", classify(url)))
        if any(s in url for s in self.raise_on):
            raise RuntimeError("unwrapped call refused")
        return self.inner.fetch(url)


class _CountingRenderer:
    def __init__(self, calls):
        self.calls, self.inner = calls, FakeRendererClient()

    def render(self, url):
        self.calls.append(("render", classify(url)))
        return self.inner.render(url)


DIRECT_303 = '<html><h1>Staff Analyst 303</h1><meta property="og:site_name" content="Site 303"></html>'
RENDERED_404 = '<html><h1>Rendered Analyst 404</h1><meta property="og:site_name" content="Thin Co 404"></html>'

# the row each URL class's link comes out as, and the link
CASCADE_ROWS = {
    "greenhouse": (URLS["gh"], (200, URLS["gh"], "", "gh-api", "Acme Corp", "Platform Engineer 101", "")),
    "lever": (URLS["lever"], (200, URLS["lever"], "", "lever-api", "Mega", "Data Engineer 202", "")),
    "direct": (URLS["direct"], (200, URLS["direct"], DIRECT_303, "direct", "", "", "")),
    "thin": (URLS["thin"], (200, URLS["thin"], RENDERED_404, "renderer", "", "", "")),
    "aggregator": (
        URLS["agg"],
        (200, "https://boards.greenhouse.io/wrapped-co/jobs/505", "", "gh-api", "Wrapped Co",
         "Platform Engineer 505", ""),
    ),
    "broken": (URLS["broken"], (500, URLS["broken"], "Internal Server Error", "direct", "", "", "")),
    "raise": (
        "https://site1.example.com/raise/9",
        (0, "https://site1.example.com/raise/9", "", "direct", "", "", "connection refused"),
    ),
}


def test_cascade_row_outcomes_and_calls():
    """Spark-free: each URL class's result row, and exactly the client
    calls of FETCH_CALLS, each client at most once per row."""
    for cls, (url, want) in CASCADE_ROWS.items():
        calls = []
        http = _CountingHttp(calls, ThrowingHttpClient())
        assert cascade_row(http, _CountingRenderer(calls), url) == want, cls
        n_http, n_render = FETCH_CALLS[cls]
        assert sorted(calls) == [("http", cls)] * n_http + [("render", cls)] * n_render, cls


def test_cascade_row_api_url_drops_tracking_params():
    """The API tier rebuilds the final URL from slug and id."""
    row = cascade_row(HTTP, RENDERER, URLS["gh"] + "?gh_src=x&utm_source=y")
    assert row[:4] == (200, URLS["gh"], "", "gh-api")


def test_cascade_row_unwrapped_errors_fall_through():
    """A client throwing on the unwrapped ATS link (API, then direct)
    falls through to the unwrapped renderer; the row is not
    dead-lettered, and no call repeats."""
    calls = []
    http = _CountingHttp(calls, raise_on=("wrapped-co",))
    got = cascade_row(http, _CountingRenderer(calls), URLS["agg"])
    unwrapped = "https://boards.greenhouse.io/wrapped-co/jobs/505"
    assert got == (
        200, unwrapped, "<html><h1>Fallback Page 505</h1></html>", "renderer-unwrapped", "", "", "",
    )
    assert sorted(calls) == [("http", "aggregator")] * 3 + [("render", "aggregator")] * 2


def test_fetch_plan_has_one_python_crossing(spark, monkeypatch):
    """The executed fetch plan holds one ArrowEvalPython node: every
    tier runs inside the one cascade UDF."""
    pinned = []

    def spy(df, *args, **kwargs):
        pinned.append(df)
        return real_pin(df, *args, **kwargs)

    real_pin = fetch_mod.pin
    monkeypatch.setattr(fetch_mod, "pin", spy)
    df = spark.createDataFrame([(u,) for u in URLS.values()], "url string")
    assert fetch_smart(df, HTTP, RENDERER).count() == len(URLS)
    (out,) = pinned
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan


def _tracker(spark, rows):
    return spark.createDataFrame(
        rows,
        "sheet_name string, row_index long, link string, canonical_link string,"
        "company_auto string, role_auto string, status string, source string,"
        "li_invite string, li_followup string",
    )


def _queue_from(spark, tracker):
    empty = spark.createDataFrame(
        [], "sheet_name string, row_index long, status string"
    )
    cands = tracker.select("sheet_name", "row_index", F.col("link").alias("url"))
    return enqueue(cands, empty, now=F.lit(datetime(2024, 1, 1)))


def test_parse_batch_end_to_end(spark):
    tracker = _tracker(
        spark,
        [
            ("S", 2, URLS["direct"], "", "", "", "", "", "", ""),
            ("S", 3, URLS["gh"], "", "", "", "", "", "", ""),
            ("S", 4, URLS["thin"], "", "", "", "", "", "", ""),
            ("S", 5, "not a url", "", "", "", "", "", "", ""),
        ],
    )
    queue = _queue_from(spark, tracker)
    assert queue.count() == 3  # invalid URL filtered at enqueue

    out = parse_batch(tracker, queue, HTTP, RENDERER, llm_client=None, batch_size=12)
    t = {r["row_index"]: r.asDict() for r in out["tracker"].collect()}

    assert t[2]["company_auto"] == "Site 303"  # og:site_name
    assert t[2]["role_auto"] == "Staff Analyst 303"
    assert t[2]["status"] == "ok"
    assert t[2]["source"].startswith("parse:{provider=direct, signals=")

    # gh-api row: html is empty → company from ats-slug of canonical url
    assert t[3]["company_auto"] == "Acme Corp"
    assert "ats-slug" in t[3]["source"]

    assert t[4]["role_auto"] == "Rendered Analyst 404"
    assert "provider=renderer" in t[4]["source"]

    assert t[5]["status"] == ""  # untouched — never enqueued
    assert out["queue"].count() == 0  # all processed rows dequeued
    # every parsed row needs notes
    assert out["notes_candidates"].count() == 3


def test_llm_rescue_fills_weak_rows(spark):
    # thin page with renderer disabled → no signals at all → weak →
    # LLM fills both fields and floors conf at 0.6
    tracker = _tracker(spark, [("S", 2, "https://site1.example.com/thin/777", "", "", "", "", "", "", "")])
    queue = _queue_from(spark, tracker)
    out = parse_batch(
        tracker, queue, HTTP, FakeRendererClient(enabled=False), llm_client=LLM
    )
    row = out["tracker"].filter("row_index = 2").first()
    assert row["company_auto"] == "LLM Co 777"
    assert row["role_auto"] == "LLM Role 777"
    assert "extract:{mode=llm}" in row["source"]
    assert "conf=0.60" in row["source"]


def test_notes_batch_llm_and_fallback(spark):
    tracker = _tracker(
        spark,
        [
            ("S", 2, URLS["direct"], URLS["direct"], "Acme", "Engineer", "ok", "", "", ""),
            ("S", 3, URLS["direct"], URLS["direct"], "FAIL-LLM Co", "Engineer", "ok", "", "", ""),
            ("S", 4, URLS["direct"], URLS["direct"], "Acme", "Engineer", "ok", "", "KEEP", "KEEP"),
            ("S", 5, URLS["direct"], URLS["direct"], "Acme", "Engineer", "ok", "", "STALE-INVITE", ""),
        ],
    )
    nq = spark.createDataFrame(
        [("S", 2, "post-parse", "queued", datetime(2024, 1, 1), ""),
         ("S", 3, "post-parse", "queued", datetime(2024, 1, 1), ""),
         ("S", 4, "post-parse", "queued", datetime(2024, 1, 1), ""),
         ("S", 5, "post-parse", "queued", datetime(2024, 1, 1), "")],
        "sheet_name string, row_index long, phase string, status string,"
        "enqueued_at timestamp, last_error string",
    )
    out = notes_batch(tracker, nq, HTTP, RENDERER, LLM, {"one-line hook": "builder"})
    t = {r["row_index"]: r.asDict() for r in out["tracker"].collect()}

    assert "would love to connect" in t[2]["li_invite"]
    assert "notes:{mode=llm}" in t[2]["source"]
    # LLM failure → deterministic template fallback
    assert t[3]["li_invite"].startswith("Hi there — I applied for Engineer at FAIL-LLM Co.")
    assert "notes:{mode=template}" in t[3]["source"]
    # both cells prefilled → idempotency skip, nothing overwritten
    assert t[4]["li_invite"] == "KEEP" and t[4]["li_followup"] == "KEEP"
    # half-filled row → reference regenerates BOTH cells
    # (processNotesBatch :1151-1154 skips only if both set, then
    # :1181-1184 writes both unconditionally)
    assert t[5]["li_invite"] != "STALE-INVITE" and t[5]["li_invite"] != ""
    assert t[5]["li_followup"] != ""
    assert out["notes_queue"].count() == 0


def test_drain_all_full_lifecycle(spark):
    """§3.1+§3.2 chained: 10 links drain through parse AND notes in
    multiple small batches until both queues are empty."""
    rows = [
        ("S", i, f"https://site1.example.com/direct/{i}", "", "", "", "", "", "", "")
        for i in range(2, 12)
    ]
    tracker = _tracker(spark, rows)
    queue = _queue_from(spark, tracker)
    out = drain_all(
        tracker, queue, None, HTTP, RENDERER, LLM,
        {"one-line hook": "builder"}, batch_size=4, notes_batch_size=3,
    )
    t = {r["row_index"]: r.asDict() for r in out["tracker"].collect()}
    assert len(t) == 10
    for i in range(2, 12):
        assert t[i]["status"] == "ok"
        assert t[i]["company_auto"] == f"Site {i}"
        assert t[i]["role_auto"] == f"Staff Analyst {i}"
        assert t[i]["li_invite"] != "" and t[i]["li_followup"] != ""
        assert "parse:{provider=direct" in t[i]["source"]
        assert "notes:{mode=llm}" in t[i]["source"]
    assert out["queue"].count() == 0
    assert out["notes_queue"].filter("status = 'queued'").count() == 0


def test_fetch_error_dead_letters_row(spark):
    tracker = _tracker(
        spark,
        [
            ("S", 2, URLS["direct"], "", "", "", "", "old:{x=1}", "", ""),
            ("S", 3, "https://site1.example.com/raise/9", "", "", "", "", "", "", ""),
        ],
    )
    queue = _queue_from(spark, tracker)
    out = parse_batch(tracker, queue, ThrowingHttpClient(), RENDERER, llm_client=None)
    t = {r["row_index"]: r.asDict() for r in out["tracker"].collect()}
    # healthy row parsed normally
    assert t[2]["status"] == "ok" and t[2]["company_auto"] == "Site 303"
    # failing row: Status=error, message appended to Source, fields untouched
    assert t[3]["status"] == "error"
    assert "connection refused" in t[3]["source"]
    assert t[3]["company_auto"] == "" and t[3]["canonical_link"] == ""
    # both rows left the queue (single-attempt)
    assert out["queue"].count() == 0
    # no notes work for the errored row
    keys = {(r["sheet_name"], r["row_index"]) for r in out["notes_candidates"].collect()}
    assert ("S", 3) not in keys


# the span names perfbench/trace.install records for the drain layers
TRACED_LAYERS = {
    "drain", "parse_batch", "notes_batch", "fetch", "decide", "escalate",
    "llm_rescue", "notes_llm", "writeback", "checkpoint", "isEmpty",
}


def test_drain_all_leaves_nothing_cached(spark):
    """The drain pins its relations with localCheckpoint; a .cache()
    left behind would hold its blocks for the session's lifetime. The
    broken link parses weak, so the renderer escalation runs too.

    The drain runs under the benchmark's span tracer, which swaps each
    layer's function on its module: a layer renamed or no longer
    called through its module leaves its span name unrecorded."""
    from perfbench.trace import Tracer, install

    from joblink_etl_spark.operators import pipeline

    spark.catalog.clearCache()
    tracker = _tracker(
        spark,
        [
            ("S", 2, URLS["broken"], "", "", "", "", "", "", ""),  # weak → escalated
            ("S", 3, URLS["thin"], "", "", "", "", "", "", ""),
        ],
    )
    try:
        with install(Tracer(spark.sparkContext, "drain-guard")) as tracer:
            out = pipeline.drain_all(
                tracker, _queue_from(spark, tracker), None, HTTP, RENDERER, LLM,
                {"one-line hook": "builder"},
            )
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert TRACED_LAYERS <= {s["name"] for s in tracer.spans}
    assert {r["row_index"]: r["status"] for r in out["tracker"].collect()} == {2: "ok", 3: "ok"}
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_drain_all_repeated_queue_key_writes_one_row(spark):
    """Two edits of one sheet row enqueued in one candidate batch put
    its key in the queue twice. The drain must still write one tracker
    row for it, carrying one parse token and one notes token."""
    tracker = _tracker(spark, [("S", 2, URLS["direct"], "", "", "", "", "", "", "")])
    cands = tracker.select("sheet_name", "row_index", F.col("link").alias("url"))
    empty = spark.createDataFrame([], "sheet_name string, row_index long, status string")
    queue = enqueue(cands.unionByName(cands), empty, now=F.lit(datetime(2024, 1, 1)))
    assert queue.count() == 2
    out = drain_all(
        tracker, queue, None, HTTP, RENDERER, LLM, {"one-line hook": "builder"}
    )
    rows = out["tracker"].collect()
    assert len(rows) == 1
    row = rows[0]
    assert (row["status"], row["company_auto"]) == ("ok", "Site 303")
    assert row["source"].count("parse:{") == 1 and row["source"].count("notes:{") == 1
    assert out["queue"].count() == 0


def test_drain_all_reads_the_callers_queue_once(spark):
    """The caller's queue plan runs once per drain, however many times
    the drain reads the queue: a UDF in it counts its row evaluations
    through an accumulator."""
    from pyspark.sql.types import BooleanType

    acc = spark.sparkContext.accumulator(0)

    def seen(_key):
        acc.add(1)
        return True

    counted = F.udf(seen, BooleanType()).asNondeterministic()
    tracker = _tracker(spark, [("S", 2, URLS["direct"], "", "", "", "", "", "", "")])
    queue = _queue_from(spark, tracker).filter(counted(F.col("row_index")))
    out = drain_all(tracker, queue, None, HTTP, RENDERER, LLM, {"one-line hook": "builder"})
    assert acc.value == 1
    assert [r["status"] for r in out["tracker"].collect()] == ["ok"]


def test_drain_all_dequeues_a_row_without_url(spark, monkeypatch):
    """fetch_smart drops a row without a URL (nothing to fetch), so it
    is neither parsed nor dead-lettered; it must still leave the queue
    in the cycle that selected it, with its tracker row untouched."""
    from joblink_etl_spark.operators import pipeline

    calls = []

    def counted(*a, **k):
        calls.append(1)
        return parse_batch(*a, **k)

    monkeypatch.setattr(pipeline, "parse_batch", counted)
    tracker = _tracker(spark, [("S", 2, None, "", "", "", "", "", "", "")])
    queue = spark.createDataFrame(
        [("S", 2, None, "queued", 0, datetime(2024, 1, 1), "", "")],
        "sheet_name string, row_index long, url string, status string, tries int,"
        "enqueued_at timestamp, next_attempt_at string, last_error string",
    )
    out = pipeline.drain_all(
        tracker, queue, None, HTTP, RENDERER, LLM, {"one-line hook": "builder"}, max_cycles=3
    )
    assert out["queue"].count() == 0
    assert len(calls) == 1
    assert [(r["status"], r["source"]) for r in out["tracker"].collect()] == [("", "")]
