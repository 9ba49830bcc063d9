"""Interleaved old-vs-new A/B for registered queries, drift-robust.

The container this engine is benched on drifts hot/cold on minute
scales (r14: five of six full benches basket-condemned), so a solo
number measured now against a baseline measured an hour ago mostly
measures the container. This probe removes the container from the
comparison: the OLD operator implementations are loaded verbatim from
the committed git blob (no hand copies to go stale), monkeypatched in,
and the two arms run INTERLEAVED (old, new, old, new, ...) in one
process so any drift hits both arms equally. Per-arm Spark JOB counts
are read from the status tracker via job groups — a latency-side
metric no amount of drift can fake.

Usage:
    python tools/ab_probe.py <sf_dir> <query> [query ...] [--n 3] [--ref HEAD]
"""

from __future__ import annotations

import argparse
import statistics
import subprocess
import sys
import time
import types

sys.path.insert(0, ".")

# query -> [(live module path, attr name, old module path)]
PATCHES: dict[str, list[tuple[str, str, str]]] = {
    "dedup_clusters": [
        ("joblink_etl_spark.operators.dedup", "connected_components",
         "joblink_etl_spark/operators/dedup.py"),
    ],
    "dedup_clusters_star": [
        ("joblink_etl_spark.operators.dedup", "connected_components_star",
         "joblink_etl_spark/operators/dedup.py"),
    ],
    "soft_dedup_weights": [
        ("joblink_etl_spark.operators.dedup", "connected_components",
         "joblink_etl_spark/operators/dedup.py"),
    ],
    "leakage_split": [
        ("joblink_etl_spark.operators.dedup", "connected_components",
         "joblink_etl_spark/operators/dedup.py"),
    ],
    "canonical_source_pick": [
        ("joblink_etl_spark.operators.dedup", "connected_components",
         "joblink_etl_spark/operators/dedup.py"),
    ],
    "consensus_near_dups": [
        ("joblink_etl_spark.operators.dedup", "connected_components",
         "joblink_etl_spark/operators/dedup.py"),
    ],
    "bpe_merges_fixed": [
        ("joblink_etl_spark.operators.bpe", "train_bpe",
         "joblink_etl_spark/operators/bpe.py"),
    ],
    "bpe_merges": [
        ("joblink_etl_spark.operators.bpe", "train_bpe",
         "joblink_etl_spark/operators/bpe.py"),
    ],
    "bpe_encode": [
        ("joblink_etl_spark.operators.bpe", "train_bpe",
         "joblink_etl_spark/operators/bpe.py"),
    ],
    # record_linkage_q itself is held by the registry by OBJECT, so
    # patching the query function would be a no-op; the change under
    # test lives in fuzzy_key_join, which the query resolves by
    # attribute at call time.
    "record_linkage": [
        ("joblink_etl_spark.operators.fuzzyjoin", "fuzzy_key_join",
         "joblink_etl_spark/operators/fuzzyjoin.py"),
    ],
    "span_unit_repeats": [
        ("joblink_etl_spark.operators.suffix", "span_unit_repeats",
         "joblink_etl_spark/operators/suffix.py"),
    ],
    "semdedup_ivf": [
        ("joblink_etl_spark.operators.similarity", "semdedup",
         "joblink_etl_spark/operators/similarity.py"),
    ],
    "ppr_docs": [
        ("joblink_etl_spark.operators.graph", "pagerank_personalized",
         "joblink_etl_spark/operators/graph.py"),
    ],
}


def load_old_module(path: str, ref: str) -> types.ModuleType:
    """exec the committed blob as a sibling module of the live one so
    its relative imports resolve against the real package."""
    src = subprocess.run(
        ["git", "show", f"{ref}:./{path}"], capture_output=True, text=True, check=True
    ).stdout
    pkg = path.replace("/", ".").removesuffix(".py").rsplit(".", 1)[0]
    mod = types.ModuleType(f"{pkg}._ab_old")
    mod.__package__ = pkg
    mod.__file__ = f"<git:{ref}:{path}>"
    exec(compile(src, mod.__file__, "exec"), mod.__dict__)
    return mod


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(
        description="Interleaved old-vs-new A/B for registered queries.",
        allow_abbrev=False,
    )
    p.add_argument("sf_dir", help="directory of the parquet tables at one scale factor")
    p.add_argument("queries", nargs="+", help="registered query names with a PATCHES entry")
    p.add_argument("--n", type=int, default=3, help="interleaved repetitions per arm")
    p.add_argument("--ref", default="HEAD", help="git ref the old arm loads from")
    return p.parse_args(argv)


def main() -> None:
    opts = parse_args()
    sf_dir, names, n, ref = opts.sf_dir, opts.queries, opts.n, opts.ref

    import importlib

    from joblink_etl_spark.plans import registry
    from joblink_etl_spark.profile import job_ids
    from joblink_etl_spark.session import get_spark

    spark = get_spark("ab_probe")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    old_mods: dict[str, types.ModuleType] = {}

    def run_arm(name: str, arm: str, tag: str) -> tuple[float, int]:
        patches = PATCHES[name]
        saved = []
        for live_path, attr, blob_path in patches:
            live = importlib.import_module(live_path)
            saved.append((live, attr, getattr(live, attr)))
            if arm == "old":
                if blob_path not in old_mods:
                    old_mods[blob_path] = load_old_module(blob_path, ref)
                old_fn = getattr(old_mods[blob_path], attr)
                if attr == "fuzzy_key_join":
                    # the r15 signature grew keys_identify_rows; the
                    # old blob doesn't know it — dropping the kwarg IS
                    # the old behavior (keyed dropDuplicates)
                    _f = old_fn

                    def old_fn(*a, _f=_f, **k):
                        k.pop("keys_identify_rows", None)
                        return _f(*a, **k)

                setattr(live, attr, old_fn)
        try:
            t0 = time.perf_counter()
            jobs = job_ids(
                spark, lambda: qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save(), tag
            )
            dt = time.perf_counter() - t0
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
            return dt, len(jobs)
        finally:
            for live, attr, fn in saved:
                setattr(live, attr, fn)

    for name in names:
        if name not in PATCHES:
            print(f"{name}: no patch mapping, skipping")
            continue
        # one unmeasured warm pass per arm (parquet footers, Python workers)
        run_arm(name, "old", f"warm-old-{name}")
        run_arm(name, "new", f"warm-new-{name}")
        res = {"old": [], "new": []}
        jobs = {"old": 0, "new": 0}
        for rep in range(n):
            for arm in ("old", "new"):
                dt, nj = run_arm(name, arm, f"{name}-{arm}-{rep}")
                res[arm].append(round(dt, 3))
                jobs[arm] = nj
        print(
            f"{name}: old med={statistics.median(res['old']):.3f} "
            f"min={min(res['old']):.3f} jobs={jobs['old']} runs={res['old']} | "
            f"new med={statistics.median(res['new']):.3f} "
            f"min={min(res['new']):.3f} jobs={jobs['new']} runs={res['new']}"
        )


if __name__ == "__main__":
    main()
