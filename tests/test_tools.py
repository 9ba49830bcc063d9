"""Tests for the audit tools themselves (tools/plan_census.py and the
argument parsing of the probes).

The broadcast scan reads the 'formatted' explain string so subquery
plan trees (`===== Subqueries =====` sections) are scanned under one
explicit, version-independent grammar. (Spark 4.1.2's simple mode
also inlines subquery subtrees as innerChildren, so both modes cover
them on this version; formatted makes the coverage explicit and
uniform.) These tests pin: (a) a synthetic generate-class broadcast
living inside a scalar subquery is caught in the formatted scan,
(b) the operator-detail sections of formatted output produce no
phantom matches, (c) the designed quadratic-guard refusal is
classified as such, not as an audit error, (d) the census's node,
global-window and construction-job counts on synthetic plans.
"""

from __future__ import annotations

import os
import sys

import pytest

import joblink_etl_spark
from conftest import SF_SMALL

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(joblink_etl_spark.__file__)))
sys.path.insert(0, os.path.join(_REPO, "tools"))

from plan_census import (  # noqa: E402
    CENSUS_PATH,
    WHITELIST,
    _is_guard_refusal,
    census,
    generate_class_broadcasts,
    parse_args as census_args,
    run_broadcasts,
)


def _explain(spark, df, mode_name):
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        mode_name
    )
    return df._jdf.queryExecution().explainString(mode)


@pytest.fixture()
def subquery_broadcast_plan(spark):
    """A scalar subquery whose OWN plan tree carries a generate-class
    broadcast: inside the subquery, an exploded (Generate) relation
    is the build side of a BroadcastHashJoin with no bounding
    aggregate/limit between the explode and the exchange. The outer
    query itself has no broadcast at all."""
    df = spark.range(100).selectExpr(
        "id", "array(id, id + 1, id + 2) AS arr"
    )
    df.createOrReplaceTempView("bt")
    return spark.sql(
        """
        SELECT bt.id,
               (SELECT max(t2.id + e.x)
                FROM bt t2
                JOIN (SELECT explode(arr) AS x FROM bt) e
                  ON t2.id = e.x) AS mx
        FROM bt
        """
    )


def test_formatted_mode_catches_subquery_broadcast(spark, subquery_broadcast_plan):
    """The r14 scan mode: the subquery tree is printed inline and the
    generate-class broadcast inside it is counted."""
    plan = _explain(spark, subquery_broadcast_plan, "formatted")
    assert "===== Subqueries =====" in plan
    assert "BroadcastExchange" in plan
    assert generate_class_broadcasts(plan) >= 1


def test_formatted_mode_detail_sections_no_phantom_matches(spark):
    """The operator-detail sections of formatted output ('(6)
    BroadcastExchange' + 'Input [...]' lines at column 0) must not
    produce phantom generate-class counts: a broadcast whose subtree
    has NO explode scans clean even though 'Generate' appears
    elsewhere in the same formatted string."""
    small = spark.range(5).selectExpr("id AS k")
    big = spark.range(1000).selectExpr(
        "id", "explode(array(id, id + 1)) AS k"
    )
    # The explode is on the STREAM side; the broadcast side (small)
    # is explode-free — formatted detail sections print both nodes'
    # details, but the tree-subtree walk must keep them apart.
    joined = big.join(small.hint("broadcast"), "k")
    plan = _explain(spark, joined, "formatted")
    assert "BroadcastExchange" in plan and "Generate" in plan
    assert generate_class_broadcasts(plan) == 0


def test_guard_refusal_classifier():
    """--exempt-audit classifies the designed quadratic-guard
    ValueError (cosine_near_dup_pairs max_rows contract) as
    'guard_refusal_by_design', not 'error' (ADVICE r13 medium)."""
    designed = ValueError(
        "cosine_near_dup_pairs is the O(N²) all-pairs baseline and the "
        "input has > max_rows=5000 rows; use cosine_near_dup_pairs_blocked "
        "/ cosine_near_dup_pairs_lsh for real corpora, or pass "
        "allow_quadratic=True to force it"
    )
    assert _is_guard_refusal(designed)
    assert not _is_guard_refusal(ValueError("some other failure"))
    assert not _is_guard_refusal(RuntimeError("allow_quadratic mentioned"))


def test_census_counts_synthetic_plan_shapes(spark):
    """census() on synthetic plans built once each: a global ordered
    window is counted and a partitioned one is not; a crossJoin with
    auto-broadcast off plans a CartesianProduct; first() over a string
    column demotes the aggregate to SortAggregate nodes; no builder
    here runs a job at construction."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    base = spark.range(100).selectExpr("id", "id % 7 AS k", "cast(id AS string) AS s")
    shapes = {
        "global": lambda s, d: base.withColumn("r", F.row_number().over(Window.orderBy("id"))),
        "partitioned": lambda s, d: base.withColumn(
            "r", F.row_number().over(Window.partitionBy("k").orderBy("id"))
        ),
        "cross": lambda s, d: base.crossJoin(spark.range(5).withColumnRenamed("id", "j")),
        "first_string": lambda s, d: base.groupBy("k").agg(F.first("s")),
    }
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        c = {n: r["counts"] for n, r in census(spark, None, shapes).items()}
    finally:
        spark.conf.set(key, old)
    assert (c["global"]["global_windows"], c["global"]["Window"]) == (1, 1)
    assert (c["partitioned"]["global_windows"], c["partitioned"]["Window"]) == (0, 1)
    assert c["cross"]["CartesianProduct"] == 1 and "CartesianProduct" not in c["global"]
    assert c["first_string"]["SortAggregate"] == 2 and "HashAggregate" not in c["first_string"]
    assert {r["build_jobs"] for r in c.values()} == {0}


def test_census_builds_each_query_once_and_records_errors(spark):
    """census() calls each builder exactly once; a builder that raises
    is recorded as an error and the census goes on to the next query."""
    calls = []

    def broken(s, d):
        calls.append("broken")
        raise ValueError("no such table")

    def ok(s, d):
        calls.append("ok")
        return s.range(3)

    recs = census(spark, "/sf", {"broken": broken, "ok": ok})
    assert calls == ["broken", "ok"]
    assert str(recs["broken"]["error"]) == "no such table"
    assert recs["ok"]["counts"]["Range"] == 1


def test_plan_census_covers_the_registry():
    """The committed PLAN_CENSUS.json has exactly one entry per
    registered query (no planning needed)."""
    import json

    from joblink_etl_spark.plans import registry

    with open(CENSUS_PATH) as f:
        assert set(json.load(f)) == set(registry.queries())


def test_missing_exempt_list_fails_loudly(monkeypatch):
    """The broadcast audit must not fall back to an empty exempt set
    when CONSTRUCTION_JOB_EXEMPT cannot be imported: the standing scan
    would then build every exempt query (running its construction jobs
    at corpus scale) and --exempt-audit would audit nothing and pass."""
    monkeypatch.setitem(sys.modules, "test_plans", None)
    for argv in (["broadcasts"], ["broadcasts", "--exempt-audit"]):
        with pytest.raises(ImportError):
            run_broadcasts(None, census_args(argv), {})


def test_plan_census_args():
    """tools/plan_census.py: census defaults to sf0.001 and every query,
    broadcasts to the x100 replica and a derived round; a flag missing
    its value or an unknown subcommand is a usage error."""
    a = census_args(["census", "--dump", "/d", "/sf", "q1", "q2"])
    assert (a.cmd, a.sf_dir, a.queries, a.dump) == ("census", "/sf", ["q1", "q2"], "/d")
    assert (census_args(["census"]).sf_dir, census_args(["census"]).queries) == (SF_SMALL, [])
    b = census_args(["broadcasts", "--exempt-audit", "--round", "7"])
    assert (b.exempt_audit, b.round, b.sf_dir.endswith("sf1x100p")) == (True, 7, True)
    assert isinstance(census_args(["broadcasts"]).round, int)
    for bad in (["census", "--dump"], ["broadcasts", "--round"], ["broadcasts", "--exempt"], ["plans"], []):
        with pytest.raises(SystemExit):
            census_args(bad)


def test_whitelist_entries_still_registered():
    from joblink_etl_spark.plans import registry

    qs = registry.queries()
    for name in WHITELIST:
        assert name in qs


def test_ab_probe_args():
    """tools/ab_probe.py: a flag missing its value, an unknown flag that
    merely starts with a known one, or no positionals is a usage error,
    not an IndexError or a silently swallowed flag."""
    from ab_probe import parse_args

    a = parse_args(["/sf", "q1", "q2", "--n", "5", "--ref=HEAD~1"])
    assert (a.sf_dir, a.queries, a.n, a.ref) == ("/sf", ["q1", "q2"], 5, "HEAD~1")
    assert (parse_args(["/sf", "q"]).n, parse_args(["/sf", "q"]).ref) == (3, "HEAD")
    for bad in (["/sf", "q", "--n"], ["/sf", "q", "--ref"], ["/sf", "q", "--nx", "2"], ["/sf"], []):
        with pytest.raises(SystemExit):
            parse_args(bad)


def test_solo_time_args():
    """tools/solo_time.py: a trailing --n, an unknown flag that merely
    starts with --n, a non-positive --n or a missing sf_dir / query is a
    usage error, not an IndexError or a flag read as another."""
    from solo_time import parse_args

    a = parse_args(["/sf", "q1", "q2", "--n", "5"])
    assert (a.sf_dir, a.queries, a.n) == ("/sf", ["q1", "q2"], 5)
    assert (parse_args(["/sf", "q", "--n=2"]).n, parse_args(["/sf", "q"]).n) == (2, 3)
    for bad in (["/sf", "q", "--n"], ["/sf", "q", "--nx", "2"], ["/sf", "q", "--n", "0"], ["/sf"], []):
        with pytest.raises(SystemExit):
            parse_args(bad)


def test_fetch_probe_runs_every_url_class(spark):
    """tools/fetch_probe.py on a handful of links: every fake URL class
    goes through the fetch and the drain, the /raise/ link dead-letters.
    --repeat 2 drains the same links twice in the session and reports
    the second drain as warm."""
    from fetch_probe import parse_args, probe_drain, probe_fetch

    from joblink_etl_spark.clients import FakeLlmClient, FakeRendererClient, ThrowingHttpClient

    opts = parse_args(
        ["--fetch-links", "14", "--warm", "1", "--drain-links", "7", "--batch-size", "7",
         "--repeat", "2"]
    )
    clients = (ThrowingHttpClient(), FakeRendererClient(), FakeLlmClient())
    fetch = probe_fetch(spark, opts, clients)
    assert (fetch["links"], len(fetch["warm_s"])) == (14, 1)
    drain = probe_drain(spark, opts, clients)
    assert (drain["cycles"], drain["batches"]) == (1, {"parse": 1, "notes": 1})
    assert drain["tracker_status"] == {"ok": 6, "error": 1}
    assert drain["python_workers_after"] >= 1
    warm = drain["warm"]
    assert len(warm["drain_s"]) == len(warm["links_per_s"]) == len(warm["codegen_classes"]) == 1
    assert warm["median_links_per_s"] == warm["links_per_s"][0] > 0
    assert parse_args([]).repeat == 1
    for bad in (["--fetch-link", "3"], ["--repeat", "0"]):
        with pytest.raises(SystemExit):
            parse_args(bad)


def test_stream_probe_drains_the_k_anon_gate(spark, tmp_path):
    """tools/stream_probe.py on a small event table: two drains in the
    session, each of the benchmark's two source files as one
    micro-batch with its addBatch time and state size; a narrower
    value bin makes more QI classes."""
    from stream_probe import parse_args, probe

    from joblink_etl_spark.streaming.state import STATE_BUCKETS

    opts = parse_args(["--rows", "2000", "--repeat", "2"])
    out = probe(spark, opts, str(tmp_path / "a"))
    assert out["rows"] == 2000 and 0 < out["classes"] <= 2000
    assert len(out["drains"]) == 2 and set(out["warm"]) == {"median_s"}
    for d in out["drains"]:
        assert sum(b["rows"] for b in d["batches"]) == 2000
        assert len(d["batches"]) == 2 and d["rows_per_s"] > 0
        for b in d["batches"]:
            assert b["add_batch_ms"] > 0 and 0 < b["state_rows"] <= STATE_BUCKETS
            assert b["state_bytes"] > 0
    fine = probe(spark, parse_args(["--rows", "2000", "--value-bin", "1"]), str(tmp_path / "b"))
    assert fine["classes"] > out["classes"] and "warm" not in fine
    for bad in (["--rows", "0"], ["--value-bin", "0"], ["--repeat", "0"], ["--row", "5"]):
        with pytest.raises(SystemExit):
            parse_args(bad)


def test_staleness_audit_is_green_and_bounded():
    """The rotation policy's auditability contract (r11 verdict item
    2): tools/staleness_check.py derives every query's latest
    driver-green round from the committed CORRECTNESS_r*.json
    artifacts and must report zero never-checked and zero
    latest-row-red queries. The max-staleness number is the figure
    the catalog docstring's bound refers to (6 in steady state; the
    burn-down backlog clears through r14 per the docstring)."""
    import json
    import os
    import subprocess
    import sys

    import joblink_etl_spark

    repo = os.path.dirname(
        os.path.dirname(os.path.abspath(joblink_etl_spark.__file__))
    )
    if not os.path.exists(os.path.join(repo, "CORRECTNESS_r01.json")):
        import pytest

        pytest.skip("no driver correctness artifacts (fresh checkout)")
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "staleness_check.py")],
        capture_output=True,
        text=True,
        cwd=repo,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["registered"] == 252
    assert out["never_driver_checked"] == []
    assert out["latest_row_not_green"] == []
    assert out["max_staleness_rounds"] is not None


def test_broadcast_audit_fixed_queries_stay_clean(spark):
    """Fast regression slice of `tools/plan_census.py broadcasts`: the three
    queries whose misestimated corpus-scale broadcasts the r12 x100
    audit caught (incremental substring dedup's gram index,
    nb_classify's exploded feature re-join, interval_join's exploded
    interval side) must plan with ZERO generate-class broadcasts, and
    the two whitelisted contract-bounded cases must stay the only
    generate-class carriers in this set. Runs against sf0.001 —
    the detection is structural (explode inside a broadcast subtree
    with no bounding node), so it holds at any SF for these plans."""
    import os
    import sys

    import joblink_etl_spark
    from joblink_etl_spark.plans import registry

    repo = os.path.dirname(
        os.path.dirname(os.path.abspath(joblink_etl_spark.__file__))
    )
    sys.path.insert(0, os.path.join(repo, "tools"))
    from plan_census import WHITELIST, generate_class_broadcasts

    # formatted: the mode the tool itself scans (it also prints
    # subquery plan trees — see the subquery test above)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    qs = registry.queries()
    fixed = (
        "incremental_repeat_spans",
        "nb_classify",
        "interval_join",
        "fuzzy_key_join",
        "record_linkage",
    )
    for name in fixed:
        plan = qs[name](spark, "/root/testdata/sf0.001")._jdf.queryExecution().explainString(mode)
        assert generate_class_broadcasts(plan) == 0, (
            f"{name}: a generate-class broadcast came back — re-check "
            "the merge hint / carry-through-explode fix"
        )
    for name in WHITELIST:
        assert name in qs, f"whitelist entry {name} no longer registered"
