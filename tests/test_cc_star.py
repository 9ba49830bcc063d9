"""Star-contraction connected components vs label propagation —
identical components on the shapes that stress each algorithm."""

from __future__ import annotations

from joblink_etl_spark.profile import job_ids

from joblink_etl_spark.operators import dedup as D


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a BIGINT, id_b BIGINT")


def _labels(df):
    return {r["node"]: r["cluster_id"] for r in df.collect()}


class TestStarContraction:
    def test_path_graph(self, spark):
        # a long path is propagation's worst case (diameter rounds);
        # star contraction must still converge to one component
        n = 60
        e = _edges(spark, [(i, i + 1) for i in range(n)])
        lbl = _labels(D.connected_components_star(e))
        assert set(lbl.values()) == {0}
        assert len(lbl) == n + 1

    def test_giant_star_plus_clique_plus_singles(self, spark):
        pairs = [(0, i) for i in range(1, 40)]              # giant star at 0
        pairs += [(a, b) for a in range(100, 105) for b in range(a + 1, 105)]  # clique
        pairs += [(200, 201), (300, 301)]                   # small comps
        e = _edges(spark, pairs)
        lbl = _labels(D.connected_components_star(e))
        assert all(lbl[i] == 0 for i in range(40))
        assert all(lbl[i] == 100 for i in range(100, 105))
        assert lbl[200] == 200 and lbl[201] == 200
        assert lbl[300] == 300 and lbl[301] == 300

    def test_matches_label_propagation(self, spark):
        # deterministic pseudo-random graph; both engines must agree
        # on every node's component
        pairs = [((i * 7919) % 97, (i * 104729) % 97) for i in range(160)]
        pairs = [(a, b) for a, b in pairs if a != b]
        e = _edges(spark, pairs)
        star = _labels(D.connected_components_star(e))
        prop = _labels(D.connected_components(e))
        assert star == prop

    def test_resolver_contract(self, spark):
        e = _edges(spark, [(5, 9), (9, 2), (30, 31)])
        rows = {r["doc_id"]: r for r in D.resolve_duplicates_star(e).collect()}
        assert rows[2]["cluster_id"] == 2 and rows[2]["is_canonical"]
        assert rows[5]["cluster_id"] == 2 and not rows[5]["is_canonical"]
        assert rows[9]["cluster_id"] == 2 and not rows[9]["is_canonical"]
        assert rows[30]["is_canonical"] and not rows[31]["is_canonical"]


class TestIterationJobShape:
    """r15 job-latency pins: the fixpoint loops run ONE driver action
    per materialized round (the convergence aggregate doubles as the
    lazy checkpoint's materializing action), and min-label propagation
    batches TWO rounds per action. Counted via job groups — Spark may
    add internal jobs (AQE stage materialization, checkpoint
    catch-up), so the pins are generous upper bounds that still fail
    if a per-round eager-checkpoint + separate count-job pattern
    (2-3 driver actions per round) is reintroduced."""

    def _jobs_for(self, spark, fn, tag):
        # AQE materializes every query stage as its own job, which
        # swamps the driver-action count this pin is about (measured:
        # 59 AQE jobs vs 5 actions for the same CC run) — count with
        # AQE off so one job ~= one driver action (+ lazy-checkpoint
        # catch-ups)
        old = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            return len(job_ids(spark, fn, tag))
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", old)

    def test_cc_propagation_jobs_bounded(self, spark):
        # a path of 9 nodes needs 4+ min-label rounds = 2-3 batched
        # round-pairs -> measured 5 jobs (loop actions + final
        # collect); the OLD shape (eager checkpoint job + separate
        # count job per round x 5+ rounds) measured 11+
        e = _edges(spark, [(i, i + 1) for i in range(8)])
        n_jobs = self._jobs_for(
            spark, lambda: D.connected_components(e).collect(), "cc-jobs-pin"
        )
        assert n_jobs <= 8, f"CC propagation ran {n_jobs} jobs for a 4-round graph"

    def test_cc_star_jobs_bounded(self, spark):
        # star contraction on the same path: ONE stats action per
        # round (+ round-1 base stats, the convergence-confirm
        # anti-join, the final collect) -> measured 7; the OLD shape
        # (eager checkpoint + 2 stats collects per round) measured 13+
        e = _edges(spark, [(i, i + 1) for i in range(8)])
        n_jobs = self._jobs_for(
            spark, lambda: D.connected_components_star(e).collect(), "ccstar-jobs-pin"
        )
        assert n_jobs <= 10, f"CC star ran {n_jobs} jobs"


def test_cc_max_iter_is_an_exact_round_cap(spark):
    # path 1-2-3-4-5: initial labels {1,1,2,3,4}; each propagation
    # round lowers node 5's label by one
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    labels = {n: _labels(D.connected_components(e, max_iter=n)) for n in (0, 1, 2)}
    assert labels[0] == {1: 1, 2: 1, 3: 2, 4: 3, 5: 4}
    assert (labels[1][5], labels[2][5]) == (3, 2)
