"""Lineage-pin census: every pin in the package is a ``pin()`` call
(joblink_etl_spark/pin.py) that declares its scale where it is made.
A new pin, a retired pin or a changed scale fails until ``PIN_CENSUS``
is updated, and no raw ``.localCheckpoint(`` may bypass ``pin()``."""

from __future__ import annotations

import ast
import os

import pytest
from conftest import job_ids

import joblink_etl_spark
from joblink_etl_spark.pin import SCALES, pin

PKG_ROOT = os.path.dirname(os.path.abspath(joblink_etl_spark.__file__))

# (package-relative file, enclosing function) -> {scale: pin calls}
PIN_CENSUS: dict[tuple[str, str], dict[str, int]] = {
    ("plans/ext_q.py", "scrubbed_corpus_q"): {"corpus": 1},
    ("plans/ext_q.py", "ann_method_recall_q"): {"bounded": 1},
    ("plans/ext_q.py", "web_curation_pipeline"): {"bounded": 1},
    ("plans/graph_q.py", "ppr_docs"): {"candidate": 1},
    ("operators/dedup.py", "connected_components"): {"candidate": 4},
    ("operators/dedup.py", "connected_components_star"): {"candidate": 3},
    ("operators/graph.py", "_nodes"): {"candidate": 2},
    ("operators/graph.py", "_rank_inputs"): {"candidate": 1},
    ("operators/graph.py", "pagerank_personalized"): {"candidate": 2},
    ("operators/graph.py", "label_propagation"): {"candidate": 2},
    ("operators/graph.py", "ancestor_rollup"): {"candidate": 2},
    ("operators/fetch.py", "fetch_smart"): {"bounded": 1},
    ("operators/pipeline.py", "parse_batch"): {"bounded": 2},
    ("operators/pipeline.py", "drain_all"): {"corpus": 5},
    ("operators/writeback.py", "merge_writeback_incremental"): {"bounded": 1},
    ("operators/rank.py", "grouped_rank"): {"corpus": 1},
    ("operators/sampling.py", "cluster_balanced_sample"): {"corpus": 1},
    ("operators/similarity.py", "semdedup"): {"corpus": 1},
    ("operators/similarity.py", "kmeans_codes_2level"): {"bounded": 1},
    ("operators/similarity.py", "_pq_train"): {"bounded": 1},
    ("operators/suffix.py", "scrub_repeated_spans"): {"candidate": 1},
    ("operators/suffix.py", "span_unit_repeats"): {"bounded": 1},
    ("operators/suffix.py", "winnowing_pairs"): {"candidate": 1},
    ("operators/tfidf.py", "bm25_rank"): {"corpus": 1},
}


def _scan():
    """(raw localCheckpoint call sites, [(file, enclosing function node,
    pin call)]) over the package."""
    raw, pins = [], []

    def visit(rel, node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(rel, child, child)
                continue
            if isinstance(child, ast.Call):
                f = child.func
                if isinstance(f, ast.Attribute) and f.attr == "localCheckpoint":
                    raw.append(f"{rel}:{child.lineno}")
                elif isinstance(f, ast.Name) and f.id == "pin":
                    pins.append((rel, fn, child))
            visit(rel, child, fn)

    for root, _dirs, files in os.walk(PKG_ROOT):
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(root, name)
                rel = os.path.relpath(path, PKG_ROOT)
                if rel != "pin.py":
                    visit(rel, ast.parse(open(path).read()), None)
    return raw, pins


def _scale(call: ast.Call):
    args = call.args[1:2] or [k.value for k in call.keywords if k.arg == "scale"]
    return args[0].value if args and isinstance(args[0], ast.Constant) else None


def test_no_raw_local_checkpoint_outside_pin():
    raw, _ = _scan()
    assert not raw, f"raw .localCheckpoint( calls {raw}: route them through pin()"


def test_every_pin_site_is_classified_both_directions():
    found: dict[tuple[str, str], dict[str, int]] = {}
    for rel, fn, call in _scan()[1]:
        per_fn = found.setdefault((rel, fn.name if fn else "<module>"), {})
        per_fn[_scale(call)] = per_fn.get(_scale(call), 0) + 1
    new = {k: v for k, v in found.items() if PIN_CENSUS.get(k) != v}
    stale = {k: v for k, v in PIN_CENSUS.items() if found.get(k) != v}
    assert not new and not stale, (
        f"pin calls found {new} != census {stale}: review each pin's scale "
        "(corpus-scale pins need an opt-out or a reason) and update PIN_CENSUS"
    )


def test_census_classes_valid_and_corpus_scale_pins_declared():
    """Static, so it also covers pins on paths no test executes."""
    for rel, _fn, call in _scan()[1]:
        declared = {k.arg for k in call.keywords} & {"enabled", "reason"}
        where = f"{rel}:{call.lineno}"
        assert _scale(call) in SCALES, f"{where}: scale must be a literal in {SCALES}"
        assert len(declared) == (_scale(call) == "corpus"), (
            f"{where}: a corpus pin passes exactly one of enabled= / reason=, "
            "other scales neither"
        )


def test_corpus_scale_opt_outs_are_real_and_guard_the_pin():
    """Each enabled=<flag> is a parameter of the enclosing function
    defaulting to True; pin() returns its input unpinned when False."""
    for rel, fn, call in _scan()[1]:
        for kw in call.keywords:
            if kw.arg != "enabled":
                continue
            where = f"{rel}:{call.lineno}"
            assert fn is not None and isinstance(kw.value, ast.Name), (
                f"{where}: enabled= must name the enclosing function's opt-out flag"
            )
            a = fn.args
            positional = a.posonlyargs + a.args
            defaults = dict(zip([p.arg for p in positional[len(positional) - len(a.defaults):]], a.defaults))
            defaults.update((p.arg, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None)
            d = defaults.get(kw.value.id)
            assert isinstance(d, ast.Constant) and d.value is True, (
                f"{where}: opt-out {kw.value.id!r} must be a parameter of "
                f"{fn.name} defaulting to True"
            )


def test_pin_contract(spark):
    df = spark.range(10)
    for bad in (
        dict(scale="huge"),
        dict(scale="corpus"),
        dict(scale="corpus", enabled=True, reason="r"),
        dict(scale="bounded", enabled=True),
        dict(scale="candidate", reason="r"),
    ):
        with pytest.raises(ValueError):
            pin(df, **bad)
    assert pin(df, "corpus", enabled=False) is df
    assert job_ids(spark, lambda: pin(df, "bounded"), "pin-lazy") == []
    assert len(job_ids(spark, lambda: pin(df, "corpus", eager=True, reason="r"), "pin-eager")) == 1


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
