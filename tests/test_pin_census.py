"""Enforced localCheckpoint pin census (r11 verdict item: the
CONSTRUCTION_JOB_EXEMPT analogue for lineage pins).

A localCheckpoint materializes its input to executor-LOCAL block
storage and severs lineage: an executor loss after the pin fails the
job instead of recomputing, and the pinned blocks must fit local
storage. That tradeoff is fine when the pinned relation is BOUNDED
(k rows / vocab / centroids / a fetch batch) or CANDIDATE-SCALE
(near-dup pair graphs, cut lists — far smaller than the corpus and
re-derivable cheaply), but a CORPUS-SCALE pin is a real 100 TB design
decision and must carry either a pin_tf-style opt-out (the
lineage-recoverable spelling stays available) or a documented reason
the pin is mandatory for correctness.

This test machine-checks the classification both directions, exactly
like test_plans.py's construction-job census: a NEW pin site fails
until it is classified here, and a RETIRED pin leaves a stale entry
that also fails. Per-function site COUNTS are pinned too, so adding a
second pin inside an already-listed function still forces review.
"""

from __future__ import annotations

import ast
import os

import joblink_etl_spark

PKG_ROOT = os.path.dirname(os.path.abspath(joblink_etl_spark.__file__))

# (package-relative file, enclosing function) -> classification.
#   class: "bounded" | "candidate-scale" | "corpus-scale"
#   n: number of localCheckpoint call sites inside that function
#   corpus-scale entries additionally carry EITHER
#     opt_out: name of the boolean kwarg that disables the pin
#              (verified: present in the signature, default True, and
#              every pin in the function guarded by `if <opt_out>:`)
#   OR
#     mandatory_reason: why lineage recovery is semantically wrong
#              (so an opt-out would be a correctness bug, not a knob)
PIN_CENSUS: dict[tuple[str, str], dict] = {
    # --- plan-level barriers -------------------------------------------
    ("plans/ext_q.py", "scrubbed_corpus_q"): {
        # the decontaminated (doc_id, text) relation — one row per
        # surviving doc with full text
        "class": "corpus-scale", "n": 1, "opt_out": "pin_clean",
    },
    ("plans/ext_q.py", "ann_method_recall_q"): {
        # truth/found: k neighbors x 5 queries
        "class": "bounded", "n": 1,
    },
    ("plans/ext_q.py", "web_curation_pipeline"): {
        # line-dedup output of a max_docs=20 synthetic crawl
        "class": "bounded", "n": 1,
    },
    ("plans/graph_q.py", "ppr_docs"): {
        # minhash candidate-pair edge list
        "class": "candidate-scale", "n": 1,
    },
    # --- iterative fixpoints over candidate-pair graphs ----------------
    ("operators/dedup.py", "connected_components"): {
        # sym edges + initial labels + the per-job odd/even round
        # frontiers (r15: two propagation rounds per driver job, both
        # lazily pinned — the odd round has two consumers inside the
        # even round, the even round is the next job's input)
        "class": "candidate-scale", "n": 4,
    },
    ("operators/dedup.py", "connected_components_star"): {
        # base edge set + per-round large-star output (two consumers
        # inside _small_star) + per-round contracted edge set (r15)
        "class": "candidate-scale", "n": 3,
    },
    ("operators/graph.py", "pagerank"): {
        # edges / esrc / nodes of the input graph; repo callers feed
        # candidate-pair graphs. For web-scale graphs the docstring
        # route is reliable checkpointing (setCheckpointDir), not
        # this convenience pin.
        "class": "candidate-scale", "n": 3,
    },
    ("operators/graph.py", "pagerank_personalized"): {
        # + per-round rank pin (r15: two consumers per round —
        # contribution join and dangling anti-join)
        "class": "candidate-scale", "n": 5,
    },
    ("operators/graph.py", "pagerank_weighted"): {
        "class": "candidate-scale", "n": 3,
    },
    ("operators/graph.py", "label_propagation"): {
        "class": "candidate-scale", "n": 4,
    },
    ("operators/graph.py", "ancestor_rollup"): {
        # hierarchy frontier (one row per node of the hierarchy
        # table, halving depth per round)
        "class": "candidate-scale", "n": 2,
    },
    # --- reference-pipeline batches (sheet/queue scale by design) ------
    ("operators/fetch.py", "fetch_smart"): {
        # one fetch batch, <= BATCH_SIZE rows: the single action over
        # the gated UDF chain, so each side-effecting fetch UDF runs
        # at most once per row and downstream plans don't embed the
        # cascade
        "class": "bounded", "n": 1,
    },
    ("operators/pipeline.py", "parse_batch"): {
        "class": "bounded", "n": 2,
    },
    ("operators/pipeline.py", "drain_all"): {
        # tracker/queue/notes_queue snapshots between drain cycles —
        # table-scale relations (the reference's tracker is a
        # spreadsheet; warehouse-scale trackers take the
        # merge_writeback_incremental O(batch) partition path instead
        # of drain_all's in-memory hand-off)
        "class": "corpus-scale", "n": 5,
        "mandatory_reason": (
            "the tiered fetch/LLM UDFs upstream are side-effecting "
            "(rate-limited external calls, S7-S12) and MUST run "
            "exactly once per drain cycle — lineage recomputation "
            "would re-fire them with different results; an opt-out "
            "would be a correctness bug, not a knob"
        ),
    },
    ("operators/writeback.py", "merge_writeback_incremental"): {
        # merged rows of the <= O(batch) affected partitions only
        "class": "bounded", "n": 1,
    },
    # --- window/rank internals ------------------------------------------
    ("operators/rank.py", "grouped_rank"): {
        "class": "corpus-scale", "n": 1,
        "mandatory_reason": (
            "the two-pass global-rank algorithm reads "
            "spark_partition_id() in both the per-partition counts "
            "pass and the offsets pass — recomputation could re-plan "
            "and renumber partitions between passes, silently "
            "corrupting ranks; the eager pin IS the algorithm's "
            "stability guarantee (docstring documents the reliable-"
            "checkpoint alternative for preemptible clusters)"
        ),
    },
    # --- sampling / similarity ------------------------------------------
    ("operators/sampling.py", "cluster_balanced_sample"): {
        # narrow (id, cell) projection, one row per input row
        "class": "corpus-scale", "n": 1, "opt_out": "pin_assign",
    },
    ("operators/similarity.py", "semdedup"): {
        # with_c: one row per vector (codes + cluster + norm)
        "class": "corpus-scale", "n": 1, "opt_out": "pin_assign",
    },
    ("operators/similarity.py", "kmeans_codes_2level"): {
        # <= K centroid rows per Lloyd round
        "class": "bounded", "n": 1,
    },
    ("operators/similarity.py", "_pq_train"): {
        # <= n_sub x K codebook rows per round
        "class": "bounded", "n": 1,
    },
    # --- substring dedup --------------------------------------------------
    ("operators/suffix.py", "scrub_repeated_spans"): {
        # cut list: one row per cut span occurrence
        "class": "candidate-scale", "n": 1,
    },
    ("operators/suffix.py", "span_unit_repeats"): {
        # candidate span relation: <= top_n rows, two differently-keyed
        # broadcast consumers that can't ReusedExchange (r15)
        "class": "bounded", "n": 1,
    },
    ("operators/suffix.py", "winnowing_pairs"): {
        # winnowing fingerprints: ~N_tokens/w sampled grams per doc
        "class": "candidate-scale", "n": 1,
    },
    # --- retrieval --------------------------------------------------------
    ("operators/tfidf.py", "bm25_rank"): {
        # tf: one row per (doc, distinct token)
        "class": "corpus-scale", "n": 1, "opt_out": "pin_tf",
    },
}

VALID_CLASSES = {"bounded", "candidate-scale", "corpus-scale"}


def _scan_pins() -> dict[tuple[str, str], list[ast.Call]]:
    """AST-discover every .localCheckpoint( call in the package,
    keyed by (relative file, enclosing function)."""
    found: dict[tuple[str, str], list[ast.Call]] = {}
    for root, _dirs, files in os.walk(PKG_ROOT):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, PKG_ROOT)
            tree = ast.parse(open(path).read())
            spans = [
                (n.lineno, n.end_lineno, n.name)
                for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "localCheckpoint"
                ):
                    enclosing = [
                        name for a, b, name in spans if a <= node.lineno <= b
                    ]
                    # innermost = the span starting latest
                    inner = (
                        max(
                            (
                                (a, name)
                                for a, b, name in spans
                                if a <= node.lineno <= b
                            ),
                        )[1]
                        if enclosing
                        else "<module>"
                    )
                    found.setdefault((rel, inner), []).append(node)
    return found


def _function_node(rel: str, name: str) -> ast.FunctionDef:
    tree = ast.parse(open(os.path.join(PKG_ROOT, rel)).read())
    for n in ast.walk(tree):
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)) and n.name == name:
            return n
    raise AssertionError(f"{rel}: function {name} not found")


def test_every_pin_site_is_classified_both_directions():
    """Two-direction equality, the CONSTRUCTION_JOB_EXEMPT pattern:
    a new localCheckpoint anywhere in the package fails until it is
    classified in PIN_CENSUS (with its scale class reviewed), and a
    retired pin leaves a stale census entry that also fails. Site
    counts per function are pinned so a second pin inside a listed
    function still forces review."""
    discovered = {k: len(v) for k, v in _scan_pins().items()}
    census = {k: v["n"] for k, v in PIN_CENSUS.items()}
    unclassified = {k: n for k, n in discovered.items() if k not in census}
    stale = {k: n for k, n in census.items() if k not in discovered}
    assert not unclassified, (
        f"UNCLASSIFIED localCheckpoint sites {unclassified}: classify "
        "each as bounded / candidate-scale / corpus-scale in "
        "PIN_CENSUS; corpus-scale pins need a pin_tf-style opt-out or "
        "a mandatory_reason"
    )
    assert not stale, (
        f"stale PIN_CENSUS entries {stale}: the pin was retired — "
        "remove the entry"
    )
    mismatched = {
        k: (discovered[k], census[k])
        for k in census
        if discovered[k] != census[k]
    }
    assert not mismatched, (
        f"pin-site count changed (discovered, census): {mismatched} — "
        "re-review the function's pins and update the census"
    )


def test_census_classes_valid_and_corpus_scale_pins_declared():
    """Every census class is one of the three valid values; every
    corpus-scale entry declares opt_out XOR mandatory_reason."""
    for key, entry in PIN_CENSUS.items():
        assert entry["class"] in VALID_CLASSES, (key, entry["class"])
        if entry["class"] == "corpus-scale":
            has_opt = "opt_out" in entry
            has_reason = bool(entry.get("mandatory_reason"))
            assert has_opt != has_reason, (
                f"{key}: corpus-scale pin must declare exactly one of "
                "opt_out / mandatory_reason"
            )
        else:
            assert "opt_out" not in entry and "mandatory_reason" not in entry, (
                f"{key}: opt_out/mandatory_reason are corpus-scale-only "
                "fields — a bounded/candidate pin carrying one suggests "
                "a misclassification"
            )


def _guarded_pin_lines(fn: ast.AST, opt: str) -> set[int]:
    """Line numbers of localCheckpoint calls lexically guarded by
    `if <opt>:`. Branch-sensitive (ADVICE r12): only the BODY of an
    `if` whose test is the BARE Name `opt` counts as guarded — the
    orelse keeps the inherited state (a pin in the else-branch fires
    exactly when the opt-out is False, i.e. unguarded), and negated
    or compound tests (`if not opt:`, `if opt and x:`) never guard."""
    guarded: set[int] = set()

    def _collect(node, under_guard):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "localCheckpoint"
            and under_guard
        ):
            guarded.add(node.lineno)
        if isinstance(node, ast.If):
            body_guard = under_guard or (
                isinstance(node.test, ast.Name) and node.test.id == opt
            )
            _collect(node.test, under_guard)
            for child in node.body:
                _collect(child, body_guard)
            for child in node.orelse:
                _collect(child, under_guard)
            return
        for child in ast.iter_child_nodes(node):
            _collect(child, under_guard)

    _collect(fn, False)
    return guarded


def test_guard_walker_rejects_else_branch_and_negated_tests():
    """Self-test of _guarded_pin_lines against the exact ADVICE-r12
    false-negative shapes: a pin in the else-branch of `if opt:`, a
    pin under `if not opt:`, and a pin under a compound test must all
    read as UNGUARDED; only the plain `if opt:` body counts."""
    src = (
        "def f(df, opt=True):\n"
        "    if opt:\n"
        "        a = df.localCheckpoint()\n"          # line 3: guarded
        "    else:\n"
        "        b = df.localCheckpoint()\n"          # line 5: NOT
        "    if not opt:\n"
        "        c = df.localCheckpoint()\n"          # line 7: NOT
        "    if opt and True:\n"
        "        d = df.localCheckpoint()\n"          # line 9: NOT
        "    if opt:\n"
        "        if True:\n"
        "            e = df.localCheckpoint()\n"      # line 12: guarded (nested)
        "    return df\n"
    )
    fn = ast.parse(src).body[0]
    assert _guarded_pin_lines(fn, "opt") == {3, 12}


def test_corpus_scale_opt_outs_are_real_and_guard_the_pin():
    """For each corpus-scale entry with an opt_out: the kwarg exists
    in the function signature with default True, and EVERY
    localCheckpoint call in that function is lexically inside an
    `if <opt_out>:` guard — so passing False provably disables the
    pin rather than being a dead parameter (the ADVICE-r11 bm25
    pin_tf lesson, generalized)."""
    pins = _scan_pins()
    for (rel, fname), entry in PIN_CENSUS.items():
        if entry["class"] != "corpus-scale" or "opt_out" not in entry:
            continue
        opt = entry["opt_out"]
        fn = _function_node(rel, fname)
        args = fn.args
        names = [a.arg for a in args.args + args.kwonlyargs]
        assert opt in names, f"{rel}:{fname}: opt_out {opt!r} not in signature"
        # default must be True (pin on by default — the documented contract)
        defaults = dict(
            zip(
                [a.arg for a in args.args[len(args.args) - len(args.defaults):]],
                args.defaults,
            )
        )
        defaults.update(
            {
                a.arg: d
                for a, d in zip(args.kwonlyargs, args.kw_defaults)
                if d is not None
            }
        )
        assert isinstance(defaults.get(opt), ast.Constant) and defaults[opt].value is True, (
            f"{rel}:{fname}: opt_out {opt!r} must default to True"
        )

        # every pin call inside the function must sit under `if <opt>:`
        call_lines = {c.lineno for c in pins[(rel, fname)]}
        unguarded = call_lines - _guarded_pin_lines(fn, opt)
        assert not unguarded, (
            f"{rel}:{fname}: localCheckpoint at line(s) {sorted(unguarded)} "
            f"not guarded by `if {opt}:` — the opt-out would be a dead "
            "parameter"
        )


def test_unpinned_paths_match_pinned(spark):
    """Behavioral parity for every declared corpus-scale opt-out
    (besides bm25's, covered in test_ext.py): disabling the pin must
    change ONLY the materialization strategy, never a row. This is
    the runtime half of the census — the AST half above proves the
    opt-out guards the pin; this proves the unpinned plan is the
    same operator."""
    import random

    from joblink_etl_spark.operators.sampling import cluster_balanced_sample
    from joblink_etl_spark.operators.similarity import semdedup
    from joblink_etl_spark.plans.ext_q import scrubbed_corpus_q

    random.seed(7)
    rows = [(i, [random.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    rows += [(1000 + i, rows[i][1]) for i in range(0, 10)]
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    pinned = sorted(tuple(r) for r in semdedup(emb, k_every=10, k_cap=50).collect())
    unpinned = sorted(
        tuple(r)
        for r in semdedup(emb, k_every=10, k_cap=50, pin_assign=False).collect()
    )
    assert pinned == unpinned and len(pinned) == 70

    cells = (
        [(i, "a") for i in range(10)]
        + [(100 + i, "b") for i in range(3)]
        + [(200, "c")]
    )
    df = spark.createDataFrame(cells, "vec_id bigint, cluster_id string")
    p = sorted(
        tuple(r)
        for r in cluster_balanced_sample(df, budget=8, cell_col="cluster_id").collect()
    )
    u = sorted(
        tuple(r)
        for r in cluster_balanced_sample(
            df, budget=8, cell_col="cluster_id", pin_assign=False
        ).collect()
    )
    assert p == u and len(p) == 8

    sf = "/root/testdata/sf0.001"
    sp = sorted(tuple(r) for r in scrubbed_corpus_q(spark, sf).collect())
    su = sorted(tuple(r) for r in scrubbed_corpus_q(spark, sf, pin_clean=False).collect())
    assert sp == su and len(sp) > 0


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
