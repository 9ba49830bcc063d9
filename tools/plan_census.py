"""Plan census: build every registered query once and record the shape
of its physical plan — the compile-time complement to scale_probe's
runtime probes.

`census(spark, sf_dir, queries)` builds each query under its own Spark
job group (counting the jobs its construction ran) and reads the
'formatted' and 'simple' explain strings of that one QueryExecution.
Each query's counts hold:
  * one key per physical node type (CamelCase), counted from the
    formatted operator-detail headers `(N) Node`, subquery plans
    included — SortAggregate, CartesianProduct and
    BroadcastNestedLoopJoin are plain node counts;
  * build_jobs — Spark jobs run while the builder constructed the plan
    (tests/test_plans.py pins the set of such queries);
  * global_windows — Window nodes with an ORDER BY and no PARTITION BY
    (every row through one task);
  * generate_class — BroadcastExchanges whose subtree holds an explode
    with no bounding aggregate/limit (see generate_class_broadcasts).

A whole-registry `census` run at the default sf0.001 writes the counts
to PLAN_CENSUS.json; tests/test_plans.py::test_plan_census_is_current
diffs the tree's plans against it. The census subcommand runs on
local[4] with 8 shuffle partitions, the test session, on any host: at
local[1] the one-partition scans elide Exchanges and 113 of the 252
records differ.

    python tools/plan_census.py census [sf_dir] [query ...] [--dump DIR]

exits 1 on a build error, a CartesianProduct outside the documented
quadratic baselines, or a global window outside GLOBAL_WINDOW_OK;
BroadcastNestedLoopJoin counts (usually one-row scalar attachments)
print as `bnlj_info`. --dump DIR writes each plan's formatted explain
to DIR/<query>.txt.

    python tools/plan_census.py broadcasts [--exempt-audit] [--round N] [sf_dir] [query ...]

is the implicit-broadcast audit. Catalyst's size estimate after an
explode (Generate) or behind a guess-sized aggregate is a guess; when a
CORPUS-SCALE relation's guess lands under the broadcast threshold the
job dies collecting it at real sizes (incremental_repeat_spans at x100,
r12). The scan therefore runs against the x100 perturbed replica by
default (.scratch/sf1x100p, made by scale_probe.py); at small SFs the
same shape is often a legitimately small broadcast. WHITELIST holds the
hits bounded by production contract. Filter/scan-class broadcasts are
not flagged: their estimates track file sizes and flip to sort-merge as
data grows. The formatted grammar prints the main tree and every
subquery tree once each in one indentation shape, so a broadcast that
lives only inside a subquery is classified too (tests/test_tools.py).
Exit 1 on any non-whitelisted generate-class broadcast or build error.

CONSTRUCTION_JOB_EXEMPT queries (builders whose construction runs Spark
jobs) are skipped by the standing scan; each carries a disposition in
the output instead:
  * probe      — an x100 runtime probe row in PERF.md (scale_probe.py);
  * x100-audit — `--exempt-audit` built it (capped where noted) against
                 the replica, executing its construction jobs at x100,
                 banked as AUDIT_EXEMPT_r<N>.json;
  * bound      — EXEMPT_BOUNDS documents why its state is size-bounded.
`--exempt-audit` exits 1 on an exempt query that errors or flags; the
designed quadratic-guard refusal (cosine_near_dup_pairs max_rows) is
status 'guard_refusal_by_design', not a failure. --round stamps the
artifact (default: latest CORRECTNESS_r*.json round + 1).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [REPO, os.path.join(REPO, "tests")]

# the census's default scale and job bookkeeping are the test suite's,
# so a census the CLI writes is the one the slow tier rebuilds
from conftest import SF_SMALL, job_ids  # noqa: E402

CENSUS_PATH = os.path.join(REPO, "PLAN_CENSUS.json")
X100_DIR = os.path.join(REPO, ".scratch", "sf1x100p")

# documented quadratic baselines / bounded-corpus verification queries —
# recall yardsticks excluded from bench and guarded by row caps (VERDICT
# r5, the operators' docstrings): their Cartesian products are by design
QUADRATIC_BASELINES = {
    "cosine_near_dups",
    "ngram_jaccard",
    "tfidf_pairs",
    "prefix_jaccard",
    "snm_pairs",
    "dedup_method_recall",
}

# global (unpartitioned) windows that are bounded BY CONSTRUCTION: the
# window's input is a post-aggregate / post-limit relation whose row
# count cannot scale with the corpus — audited r8, see each query's docs
GLOBAL_WINDOW_OK: set[str] = {
    "zipf_fit",            # lag over <= 64 log2-rank bucket rows
    "vocab_growth",        # cumulative over 10 decile-bucket rows
    "waterfill_alloc",     # bracket windows over |domains| rows
    "cluster_sample",      # waterfill over <= k_cap cluster rows
    "dedup_ttl_decay",     # cumulative over ~10 magnitude buckets
    "merged_quantiles",    # global rank over the 512-row summary
    "embedding_outliers",  # rank over the top-N candidate aggregate
    "priority_sample",     # row_number AFTER .limit(k+1) (21 rows)
    "histogram_quantiles", # cumulative over histogram bucket rows
    "feature_bins",        # bin-boundary window over bin rows
    "skew_report",         # rank over per-group aggregate rows
    "ingestion_islands",   # lead over island summaries (#gaps rows)
}

BOUND_NODES = (
    "HashAggregate",
    "SortAggregate",
    "ObjectHashAggregate",
    "GlobalLimit",
    "TakeOrderedAndProject",
    "CollectLimit",
)

# (query, reason) — generate-class broadcasts bounded by production
# contract, not plan shape. Keep each reason checkable.
WHITELIST = {
    # bench/benchmark side of decontamination: constant-size in
    # production (the held-out eval suite); the testdata synthesizes
    # it as a corpus modulus, which is what the auditor sees.
    "semantic_decontam": "broadcast side is the benchmark embedding set "
    "(constant in production; testdata synthesizes it as vec_id % 46)",
    # corpus capped at doc_id < 60 BY DESIGN (dense synthetic
    # vocabulary; the production lever is max_gram_df) — documented
    # in the plan docstring and confirmed N-independent by the x100
    # probe (factor 0.56x).
    "containment_pairs": "constant-capped corpus (doc_id < 60) by design",
}

# Exempt queries whose constructed/loop state is bounded independent
# of corpus scale — the "bound" disposition kind. Everything exempt
# that is neither here nor covered by a scale_probe x100 family is
# expected to appear in the banked --exempt-audit artifact.
EXEMPT_BOUNDS = {
    "cosine_near_dups": "the O(N²) all-pairs baseline REFUSES corpus-scale "
    "input by contract (cosine_near_dup_pairs max_rows guard — verified "
    "live by the r13 x100 exempt-audit run, which recorded the designed "
    "refusal); bench excludes it as the labeled quadratic baseline",
    "lrs_exact_fixed": "runs on the SF-INVARIANT enum vocabulary (61 "
    "strings: nation/region names + part type/brand enums) — the corpus "
    "never scales with SF (plans/ext_q.py docstring); also in the r13 "
    "exempt-audit artifact",
    "web_curation_pipeline": "synthetic crawl capped at max_docs=20 by "
    "construction (pin census: bounded); also in the r13 exempt-audit "
    "artifact",
    "fetch_cascade": "operates on a fetch BATCH (batch_size=40 contract, "
    "SURVEY §2.9 A2 head-N) — never corpus-scale; also in the r13 "
    "exempt-audit artifact",
}


# Capped construction variants for --exempt-audit: same operators and
# plan shapes, fewer iterations/probe rounds, so the x100 build cost
# stays bounded while every per-round plan shape (the dangerous gram/
# vocab joins) still executes once against the replica.
def _capped_lrs(spark, sf_dir):
    from joblink_etl_spark.operators import suffix as SX
    from joblink_etl_spark.plans.ext_q import table

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    # min_len=256: one-to-few doubling probes; each probe runs the full
    # corpus-scale gram aggregation + join (the shape that aborted in
    # r12's incremental_repeat_spans) at x100.
    L, text, occ = SX.longest_repeated_substring(docs, min_count=2, min_len=256)
    return spark.createDataFrame([(L, occ)], "lrs_len BIGINT, occurrences BIGINT")


def _capped_bpe_merges(spark, sf_dir):
    from joblink_etl_spark.operators import bpe as B
    from joblink_etl_spark.plans.ext_q import table

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    # 2 merges instead of 8: the per-merge argmax job over the
    # persisted corpus-scale vocab (the risky relation) runs twice.
    merges = B.train_bpe(docs, n_merges=2)
    return spark.createDataFrame(
        merges, "rank BIGINT, left_sym STRING, right_sym STRING, pair_count BIGINT"
    )


def _capped_bpe_encode(spark, sf_dir):
    from joblink_etl_spark.operators import bpe as B
    from joblink_etl_spark.plans.ext_q import table

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    merges = B.train_bpe(docs, n_merges=2)
    return B.bpe_encode(docs, merges)


# bpe_merges_fixed trains on the enum vocabulary: cheap, run as-is
CAPPED_RUNNERS = {
    "lrs_exact": _capped_lrs,
    "bpe_merges": _capped_bpe_merges,
    "bpe_encode": _capped_bpe_encode,
}


def _global_window_lines(plan: str) -> int:
    """Count Window nodes with NO partition clause. Spark's simple
    mode prints `Window [fns], [part], [order]` (3 groups,
    partitioned+ordered), `Window [fns], [part]` (2 groups,
    partitioned unordered), or `Window [fns], [order]` (2 groups,
    GLOBAL ordered — every row through one task). The global case is
    the 2-group form whose LAST group is a pure ordering (ASC/DESC
    tokens); partitioned-unordered windows have a bare column list
    there and are fine."""
    n = 0
    for line in plan.splitlines():
        s = line.strip().lstrip("+-: *")
        if not s.startswith("Window "):
            continue
        depth, groups, cur = 0, [], []
        for ch in s:
            if ch == "[":
                if depth == 0:
                    cur = []
                depth += 1
                if depth == 1:
                    continue
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append("".join(cur))
                    continue
            if depth >= 1:
                cur.append(ch)
        if len(groups) == 2 and (" ASC" in groups[-1] or " DESC" in groups[-1]):
            n += 1
    return n


def generate_class_broadcasts(plan: str) -> int:
    """BroadcastExchanges (in a formatted explain string) whose
    indentation subtree holds a Generate and no BOUND_NODES. The
    operator-detail sections start at column 0, so the subtree walk
    stops before them."""
    lines = plan.split("\n")
    bad = 0
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        indent = len(ln) - len(ln.lstrip(" :+-"))
        sub = []
        for nxt in lines[i + 1:]:
            nind = len(nxt) - len(nxt.lstrip(" :+-"))
            if nind <= indent and nxt.strip():
                break
            sub.append(nxt)
        subtxt = "\n".join(sub)
        if "Generate" in subtxt and not any(b in subtxt for b in BOUND_NODES):
            bad += 1
    return bad


def census(spark, sf_dir, queries) -> dict[str, dict]:
    """Build each `queries` entry (name -> builder(spark, sf_dir)) once.
    Returns name -> {"counts": {...}, "plan": formatted explain, "sec"}
    or, when the build or explain raised, name -> {"error": exc, "sec"}."""
    jvm_mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString
    formatted, simple = jvm_mode("formatted"), jvm_mode("simple")
    out = {}
    for name, build in queries.items():
        spark.catalog.clearCache()  # a relation cached earlier shows in the plan
        t0 = time.perf_counter()
        try:
            built = []
            jobs = job_ids(spark, lambda: built.append(build(spark, sf_dir)), f"plan-census-{name}")
            qe = built[0]._jdf.queryExecution()
            plan = qe.explainString(formatted)
            counts = {}
            for node in re.findall(r"^\(\d+\) (\w+)", plan, re.M):
                counts[node] = counts.get(node, 0) + 1
            counts.update(
                build_jobs=len(jobs),
                global_windows=_global_window_lines(qe.explainString(simple)),
                generate_class=generate_class_broadcasts(plan),
            )
            rec = {"counts": counts, "plan": plan}
        except Exception as e:  # noqa: BLE001 — the census must cover the rest
            rec = {"error": e}
        rec["sec"] = round(time.perf_counter() - t0, 2)
        out[name] = rec
        print(f"[census] {name}: {rec.get('counts', {}).get('build_jobs', 'error')} jobs "
              f"({rec['sec']}s)", file=sys.stderr, flush=True)
    spark.catalog.clearCache()
    return out


def exempt_dispositions(exempt) -> dict[str, str]:
    """name -> 'kind: detail' for every exempt query. probe-kind is
    derived from tools/scale_probe.py's FAMILIES map (the queries with
    x100 runtime rows in PERF.md), bound-kind from EXEMPT_BOUNDS, and
    the remainder cites the banked --exempt-audit artifact."""
    from scale_probe import FAMILIES

    probed = {q: f for f, q in FAMILIES.items()}
    banked = sorted(glob.glob(os.path.join(REPO, "AUDIT_EXEMPT_r*.json")), key=_round_of)
    artifact = os.path.basename(banked[-1]) if banked else "AUDIT_EXEMPT (unbanked)"
    out = {}
    for name in sorted(exempt):
        if name in probed:
            out[name] = (
                f"probe: x100 runtime probe row (PERF.md, scale_probe "
                f"family '{probed[name]}')"
            )
        elif name in EXEMPT_BOUNDS:
            out[name] = f"bound: {EXEMPT_BOUNDS[name]}"
        else:
            capped = " (capped construction)" if name in CAPPED_RUNNERS else ""
            out[name] = f"x100-audit: built against the x100 replica{capped} — {artifact}"
    return out


def _round_of(path: str) -> int:
    return int(re.search(r"r(\d+)", os.path.basename(path)).group(1))


def _is_guard_refusal(exc: Exception) -> bool:
    """The designed O(N²) quadratic-guard refusal (similarity.py's
    cosine_near_dup_pairs max_rows contract) — a verified refusal of
    corpus-scale input, not an audit failure."""
    return isinstance(exc, ValueError) and "allow_quadratic" in str(exc)


def _exempt_set() -> frozenset[str]:
    from test_plans import CONSTRUCTION_JOB_EXEMPT

    return CONSTRUCTION_JOB_EXEMPT


def _first_line(exc: Exception) -> str:
    return (str(exc).splitlines() or [repr(exc)])[0][:200]


def run_census(spark, opts, qs) -> int:
    recs = census(spark, opts.sf_dir, {n: qs[n] for n in opts.queries or qs})
    errors = {n: _first_line(r["error"]) for n, r in recs.items() if "error" in r}
    counts = {n: r["counts"] for n, r in recs.items() if "counts" in r}
    flagged = {}
    for n, c in counts.items():
        if c.get("CartesianProduct") and n not in QUADRATIC_BASELINES:
            flagged[n] = "CartesianProduct"
        if c["global_windows"] and n not in GLOBAL_WINDOW_OK:
            flagged[n] = f"global_window x{c['global_windows']}"
    bnlj = {
        n: c["BroadcastNestedLoopJoin"]
        for n, c in counts.items()
        if c.get("BroadcastNestedLoopJoin") and n not in QUADRATIC_BASELINES
    }
    if opts.dump:
        os.makedirs(opts.dump, exist_ok=True)
        for n, r in recs.items():
            if "plan" in r:
                with open(os.path.join(opts.dump, f"{n}.txt"), "w") as f:
                    f.write(r["plan"])
    if not opts.queries and opts.sf_dir == SF_SMALL and not errors:
        with open(CENSUS_PATH, "w") as f:
            json.dump(counts, f, indent=1, sort_keys=True)
            f.write("\n")
    print(json.dumps({"flagged": flagged, "bnlj_info": bnlj, "errors": errors,
                      "n_queries": len(recs)}))
    return 1 if flagged or errors else 0


def run_broadcasts(spark, opts, qs) -> int:
    exempt = _exempt_set()
    dispositions = exempt_dispositions(exempt)
    report = {"sf_dir": opts.sf_dir, "round": opts.round, "scan_mode": "formatted"}
    if opts.exempt_audit:
        # construction jobs EXECUTE against the replica (an abort here is
        # a real catch), then the final plan gets the structural scan
        names = [n for n in sorted(exempt) if not opts.queries or n in opts.queries]
        recs = census(spark, opts.sf_dir, {n: CAPPED_RUNNERS.get(n, qs[n]) for n in names})
        results = {}
        for n, r in recs.items():
            if "counts" in r:
                res = {"status": "ok", "generate_class": r["counts"]["generate_class"]}
            elif _is_guard_refusal(r["error"]):
                res = {"status": "guard_refusal_by_design", "detail": "cosine_near_dup_pairs "
                       "max_rows guard refused the corpus — the documented contract for "
                       "the labeled quadratic baseline"}
            else:
                res = {"status": "error", "err": _first_line(r["error"])}
            results[n] = {**res, "capped": n in CAPPED_RUNNERS, "sec": r["sec"]}
        bad = {
            n: r for n, r in results.items()
            if r["status"] not in ("ok", "guard_refusal_by_design")
            or (r.get("generate_class") and n not in WHITELIST)
        }
        statuses = [r["status"] for r in results.values()]
        print(json.dumps({
            **report,
            "what": "every CONSTRUCTION_JOB_EXEMPT query built (capped where noted) "
            "against the replica: construction jobs executed + structural scan of "
            "the final plan (tools/plan_census.py broadcasts --exempt-audit)",
            "n_ok": statuses.count("ok"),
            "n_guard_refusal": statuses.count("guard_refusal_by_design"),
            "exempt_results": results,
            "bad": bad,
        }))
        return 1 if bad else 0

    names = opts.queries or [n for n in qs if n not in exempt]
    recs = census(spark, opts.sf_dir, {n: qs[n] for n in names})
    statuses = {} if opts.queries else dict(dispositions)
    flagged, whitelisted, errors = {}, {}, {}
    for n, r in recs.items():
        if "error" in r:
            errors[n], statuses[n] = _first_line(r["error"]), "error"
            continue
        g = r["counts"]["generate_class"]
        if not g:
            statuses[n] = "clean"
        elif n in WHITELIST:
            whitelisted[n], statuses[n] = WHITELIST[n], f"whitelisted ({g} generate-class)"
        else:
            flagged[n], statuses[n] = g, f"FLAGGED ({g} generate-class)"
    print(json.dumps({
        **report,
        "flagged": flagged,
        "whitelisted": whitelisted,
        "errors": errors,
        "exempt_dispositions": dispositions,
        "queries": statuses,
        "n_queries": len(statuses),
    }))
    return 1 if flagged or errors else 0


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="Build every registered plan once.", allow_abbrev=False)
    sub = p.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("census", allow_abbrev=False, help="node counts + anti-pattern gate")
    c.add_argument("sf_dir", nargs="?", default=SF_SMALL)
    c.add_argument("queries", nargs="*", help="registered query names (default: all)")
    c.add_argument("--dump", metavar="DIR", help="write each formatted plan to DIR/<query>.txt")
    b = sub.add_parser("broadcasts", allow_abbrev=False, help="generate-class broadcast audit")
    b.add_argument("--exempt-audit", action="store_true",
                   help="build the CONSTRUCTION_JOB_EXEMPT queries instead of skipping them")
    b.add_argument("--round", type=int, help="round stamped on the report")
    b.add_argument("sf_dir", nargs="?", default=X100_DIR)
    b.add_argument("queries", nargs="*", help="registered query names (default: all)")
    opts = p.parse_args(argv)
    if opts.cmd == "broadcasts" and opts.round is None:
        rounds = glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
        opts.round = max(map(_round_of, rounds)) + 1 if rounds else 0
    return opts


def main(argv: list[str] | None = None) -> int:
    opts = parse_args(argv)
    from joblink_etl_spark.plans import registry
    from joblink_etl_spark.session import get_spark

    qs = registry.queries()
    unknown = sorted(set(opts.queries) - set(qs))
    if unknown:
        raise SystemExit(f"not registered: {unknown}")
    if not os.path.isdir(opts.sf_dir):
        raise SystemExit(f"no table directory {opts.sf_dir}")
    # Plan shapes follow the core count (a one-partition file scan elides
    # Exchanges, and AQE construction jobs follow), so the census always
    # runs on the test suite's session shape (tests/conftest.py::spark).
    census_session = {"master": "local[4]", "shuffle_partitions": 8}
    spark = get_spark("plan-census", **(census_session if opts.cmd == "census" else {}))
    spark.sparkContext.setLogLevel("ERROR")
    return (run_census if opts.cmd == "census" else run_broadcasts)(spark, opts, qs)


if __name__ == "__main__":
    raise SystemExit(main())
