"""Tests for the audit tools themselves (tools/broadcast_audit.py).

r14 switched the scan from 'simple' to 'formatted' explain mode so
subquery plan trees (`===== Subqueries =====` sections) are scanned
under one explicit, version-independent grammar — the r12 verdict's
documented caveat was that subquery plans might escape the
structural scan. (Empirically, Spark 4.1.2's simple mode ALSO
inlines subquery subtrees as innerChildren, so both modes cover
them on this version; formatted makes the coverage explicit and
uniform.) These tests pin: (a) a synthetic generate-class broadcast
living inside a scalar subquery is caught in the formatted scan,
(b) the operator-detail sections of formatted output produce no
phantom matches, (c) the designed quadratic-guard refusal is
classified as such, not as an audit error.
"""

from __future__ import annotations

import os
import sys

import pytest

import joblink_etl_spark

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(joblink_etl_spark.__file__)))
sys.path.insert(0, os.path.join(_REPO, "tools"))

from broadcast_audit import (  # noqa: E402
    WHITELIST,
    _is_guard_refusal,
    generate_class_broadcasts,
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
    """Fast regression slice of tools/broadcast_audit.py: the three
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
    from broadcast_audit import WHITELIST, generate_class_broadcasts

    # formatted: the mode the tool itself scans since r14 (it also
    # prints subquery plan trees — see tests/test_tools.py)
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
