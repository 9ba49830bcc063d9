from __future__ import annotations

from pathlib import Path

import pytest

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"

# ---------------------------------------------------------------------------
# Fast/slow tier split (r15, VERDICT item 2): the full suite runs
# ~38-58 min, which no longer fits the driver's verification window —
# the r14 driver run truncated at ~85% with zero failures, reading as
# tests_ok:false. The default gate (`python -m pytest tests/ -x -q`,
# what the driver runs) now deselects the certification-tier tests
# below via addopts in pytest.ini; the FULL suite remains the
# builder's own round gate (`pytest tests/ -q -m "slow or not slow"`,
# run and recorded in OPTIMIZATION_r*.md each round).
#
# Membership rule: measured call time >= ~15 s in the r15 full-suite
# duration run (/tmp durations, banked in OPTIMIZATION_r15.md), i.e.
# full-registry sweeps, multi-batch streaming drains, hypothesis
# property loops, and the x100-adjacent probes. Names are bare
# function names; parametrized variants inherit the mark.
# ---------------------------------------------------------------------------
SLOW_TESTS = frozenset(
    {
        "test_all_queries_run_small",            # 425 s: all-252 execution sweep
        "test_builders_run_no_action_at_construction",  # 183 s: all-252 plan builds
        "test_plan_census_is_current",           # shares that census build
        "test_drain_all_full_lifecycle",         # 99 s: full fetch-pipeline drain
        "test_spearman_bounded_and_self_correlated",    # 99 s: hypothesis loop
        "test_driver_window_queries_emit_only_hashable_scalars",  # 58 s
        "test_t_closeness_invariants",           # 56 s: hypothesis loop
        "test_waterfill_is_max_min_fair",        # 35 s: hypothesis loop
        "test_bpe_encode_fixed_matches_duckdb_fold_replay",  # 30 s
        "test_decide_conf_invariants",           # 21 s: hypothesis loop
        "test_stream_ingest_curated_matches_per_file_batch",  # 21 s
        "test_streaming_sessions_state_and_timeout_flush",    # 21 s
        "test_stream_batch_twin_bit_equality",   # 9-19 s x 13 twins
        "test_scrub_never_leaves_cut_content_and_conserves_chars",  # 18 s
        "test_lrs_matches_bruteforce",           # 18 s
        "test_length_bucket_batches_conserves_rows_and_waste",  # 17 s
        "test_matches_label_propagation",        # 16 s: CC-vs-LP cross-check
        "test_unpinned_paths_match_pinned",      # 15 s
        "test_streaming_sessions_match_batch_twin",  # 15 s
    }
)


def pytest_collection_modifyitems(config, items):
    names, files = set(), set()
    for item in items:
        name = item.name.split("[")[0]
        names.add(name)
        files.add(item.path.name)
        if name in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
    # On a collection of every test module, each entry must name a
    # collected test: a renamed or deleted slow test must not leave a
    # stale entry behind (nor silently drop its test into the gate).
    if files >= {p.name for p in Path(__file__).parent.glob("test_*.py")}:
        stale = sorted(SLOW_TESTS - names)
        if stale:
            raise pytest.UsageError(f"SLOW_TESTS entries match no collected test: {stale}")


def job_ids(spark, fn, group: str) -> list[int]:
    """Run ``fn()`` under Spark job group ``group`` and return the ids
    of the jobs the scheduler ran for it."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    from joblink_etl_spark.session import get_spark

    s = get_spark("tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def registry_census(spark):
    """tools/plan_census.py's census of every registered plan at sf0.001,
    built once per session; a build error fails every test using it."""
    import sys

    sys.path.insert(0, str(Path(__file__).parent.parent / "tools"))
    from plan_census import census

    from joblink_etl_spark.plans import registry

    recs = census(spark, SF_SMALL, registry.queries())
    errors = {n: r["error"] for n, r in recs.items() if "error" in r}
    if errors:
        raise RuntimeError(f"plan builds failed: {errors}")
    return recs


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


@pytest.fixture(scope="session")
def spark_prop(spark):
    """Alias fixture for hypothesis tests (session-scoped reuse —
    hypothesis forbids function-scoped fixtures with @given)."""
    return spark
