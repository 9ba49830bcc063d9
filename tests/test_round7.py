"""Round-7 regression tests.

Covers the r06 advice items: the semdedup conflicting-knobs sentinel,
the exploded (driver-hashable) jl_project projection, and — the
structural fix for the whole class behind the r06 `jl_project` red —
a guard that every query in the driver's 50-slot correctness window
emits only scalar columns, because the driver's row canonicalizer
(pandas sort + hash) dies on array/map/struct cells with
"unhashable type: 'list'".
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import types as T

from joblink_etl_spark.profile import job_ids

# The driver hashes the FIRST 50 registered queries (catalog.py
# ordering). Keep in sync with the window size documented there.
DRIVER_WINDOW = 50


def _window_names():
    from joblink_etl_spark.plans import registry

    return list(itertools.islice(registry.queries(), DRIVER_WINDOW))


def test_semdedup_explicit_k_cap_with_cell_target_raises(spark, sf_dir):
    from joblink_etl_spark.operators.similarity import semdedup
    from joblink_etl_spark.sources import table

    emb = table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="not both"):
        semdedup(emb, k_cap=10, cell_target=10)
    # an explicit k_cap=None is the documented 'uncapped' spelling and
    # is exactly what cell_target derives — compatible, not an error
    # (r8 ADVICE: only a non-None explicit cap conflicts)
    semdedup(emb, k_cap=None, cell_target=10)


def test_jl_project_output_is_scalar_and_exploded(spark, sf_dir):
    from joblink_etl_spark.plans.select_q import jl_project_q

    out = jl_project_q(spark, sf_dir)
    assert [f.name for f in out.schema.fields] == ["vec_id", "dim", "value"]
    assert all(
        isinstance(f.dataType, T.LongType) for f in out.schema.fields
    ), out.schema
    rows = out.collect()
    n_vec = len({r["vec_id"] for r in rows})
    assert len(rows) == n_vec * 8  # 8 components per vector
    assert {r["dim"] for r in rows} == set(range(8))


def _assert_scalar_only(schema: T.StructType, name: str) -> None:
    for f in schema.fields:
        assert not isinstance(
            f.dataType, (T.ArrayType, T.MapType, T.StructType)
        ), (
            f"driver-window query {name!r} column {f.name!r} has "
            f"non-scalar type {f.dataType.simpleString()} — the "
            f"driver's row canonicalizer cannot hash it (the r06 "
            f"jl_project red); register an exploded/cast projection"
        )


def test_driver_window_queries_emit_only_hashable_scalars(spark, sf_dir):
    """Schema-only sweep of the 50 driver-window plans: any
    array/map/struct output column would reproduce the r06
    jl_project 'unhashable type' driver error."""
    from joblink_etl_spark.plans import registry

    qs = registry.queries()
    for name in _window_names():
        df = qs[name](spark, sf_dir)
        _assert_scalar_only(df.schema, name)


def test_bench_output_line_is_driver_parseable(tmp_path):
    """The driver keeps only the last 2000 chars of bench stdout and
    json-parses the final line; rounds 3-6 recorded "parsed": null
    because the full per-query map outgrew that. The formatter must
    stay under budget while the complete map lands in the detail
    file."""
    import json

    import bench

    timings = {f"query_{i:03d}_with_a_long_name": round(0.1 * i, 3) for i in range(200)}
    detail = tmp_path / "BENCH_DETAIL.json"
    line = bench.format_output({n: {"sec": s} for n, s in timings.items()}, 0.1, str(detail))
    assert len(line) <= 2000
    parsed = json.loads(line)
    assert parsed["n_queries"] == 200
    assert parsed["value"] == round(sum(timings.values()), 3)
    # inline map is the slowest-K prefix
    inline = parsed["queries"]
    assert 0 < len(inline) < 200
    assert min(inline.values()) >= max(v for k, v in timings.items() if k not in inline)
    full = json.loads(detail.read_text())
    assert full["queries"] == timings
    assert parsed["detail_file"] == "BENCH_DETAIL.json"

    # the registry's real names, longest slowest and every time in the
    # widest format: the line still lists at least 25 raw slowest-K
    from joblink_etl_spark.plans import registry

    names = sorted(
        (n for n in registry.queries() if n not in bench.EXCLUDED_QUADRATIC_BASELINES),
        key=len,
        reverse=True,
    )
    records = {n: {"sec": round(999.999 - 0.011 * i, 3)} for i, n in enumerate(names)}
    line = bench.format_output(records, 0.1, str(detail))
    assert len(line) <= 2000
    inline = json.loads(line)["queries"]
    assert len(inline) >= 25
    assert list(inline) == names[: len(inline)]
    assert json.loads(detail.read_text())["records"] == records


def test_line_dedup_drops_planted_boilerplate(spark, sf_dir):
    """Every synthesized crawl doc is body + per-source header +
    global footer; at max_docs=20 both wrappers exceed the threshold
    while bodies are unique — so every doc must come back as exactly
    its original body."""
    from joblink_etl_spark.plans.ext_q import line_dedup
    from joblink_etl_spark.sources import table

    out = {r["doc_id"]: r for r in line_dedup(spark, sf_dir).collect()}
    docs = {r["doc_id"]: r["text"] for r in table(spark, sf_dir, "documents").collect()}
    assert set(out) == set(docs)
    for doc_id, text in docs.items():
        r = out[doc_id]
        assert r["clean_text"] == text, doc_id
        assert (r["n_kept"], r["n_dropped"]) == (1, 2), doc_id


def test_line_level_dedup_all_boiler_doc_is_emptied(spark):
    from joblink_etl_spark.operators.dedup import line_level_dedup

    rows = [(i, "SAME LINE\nunique body %d" % i) for i in range(5)]
    rows.append((99, "SAME LINE"))  # nothing but boilerplate
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in line_level_dedup(df, max_docs=3).collect()}
    assert out[99]["clean_text"] == ""
    assert out[99]["n_kept"] == 0 and out[99]["n_dropped"] == 1
    assert out[0]["clean_text"] == "unique body 0"


def test_gopher_quality_planted_failures(spark, sf_dir):
    from joblink_etl_spark.plans.ext_q import gopher_quality

    out = {r["doc_id"]: r for r in gopher_quality(spark, sf_dir).collect()}
    short, symbols, bullets = out[900001], out[900002], out[900003]
    assert not short["ok_word_count"] and not short["pass_gopher"]
    assert short["ok_stopwords"]  # 'the be to of' = 4 required types
    assert not symbols["ok_symbol_ratio"]
    assert not symbols["ok_alpha_ratio"]
    assert not symbols["ok_stopwords"]
    assert not bullets["ok_bullets"] and not bullets["pass_gopher"]
    assert bullets["ok_word_count"]  # 60 lines x 12 words
    # the real corpus straddles the 50-word floor: both outcomes occur
    reals = [r for i, r in out.items() if i < 900000]
    assert any(r["ok_word_count"] for r in reals)
    assert any(not r["ok_word_count"] for r in reals)
    assert all(r["ok_bullets"] and r["ok_ellipsis"] for r in reals)


def test_semantic_decontam_finds_exactly_the_planted_leaks(spark, sf_dir):
    from joblink_etl_spark.plans.ext_q import semantic_decontam
    from joblink_etl_spark.sources import table

    flagged = semantic_decontam(spark, sf_dir).collect()
    bench_ids = {
        r["vec_id"]
        for r in table(spark, sf_dir, "embeddings")
        .filter("vec_id % 46 = 0")
        .collect()
    }
    assert {r["vec_id"] for r in flagged} == {i + 50000 for i in bench_ids}
    for r in flagged:
        assert r["best_bench_id"] == r["vec_id"] - 50000
        assert r["best_score"] > 0.999999


def test_incremental_line_dedup_cleans_only_the_batch(spark, sf_dir):
    """Boilerplate status comes from the MERGED (index ∪ batch)
    frequency, but only batch docs are returned — and since the
    wrappers exceed max_docs corpus-wide, every batch doc comes back
    as exactly its original body."""
    from joblink_etl_spark.plans.ext_q import incremental_line_dedup_q
    from joblink_etl_spark.sources import table

    out = {r["doc_id"]: r for r in incremental_line_dedup_q(spark, sf_dir).collect()}
    docs = {
        r["doc_id"]: r["text"]
        for r in table(spark, sf_dir, "documents").filter("doc_id % 5 = 0").collect()
    }
    assert set(out) == set(docs)
    for doc_id, text in docs.items():
        assert out[doc_id]["clean_text"] == text
        assert (out[doc_id]["n_kept"], out[doc_id]["n_dropped"]) == (1, 2)


def test_incremental_line_dedup_uses_index_frequencies(spark):
    """A line below threshold in the batch alone but above it with
    the index counted must still be dropped — the state merge is the
    point of the incremental variant."""
    from joblink_etl_spark.operators.dedup import incremental_line_dedup

    index = spark.createDataFrame(
        [(i, "SHARED FOOTER\nindex body %d" % i) for i in range(4)],
        "doc_id bigint, text string",
    )
    batch = spark.createDataFrame(
        [(100, "SHARED FOOTER\nnew body"), (101, "fresh line\nother body")],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in incremental_line_dedup(batch, index, max_docs=3).collect()}
    assert out[100]["clean_text"] == "new body"  # 5 docs total > 3
    assert out[101]["clean_text"] == "fresh line\nother body"  # untouched
    assert set(out) == {100, 101}  # index docs never returned


def test_encoding_report_flags_planted_corruption(spark, sf_dir):
    from joblink_etl_spark.plans.ext_q import encoding_report

    out = {r["doc_id"]: r for r in encoding_report(spark, sf_dir).collect()}
    moji, repl, ctrl = out[900101], out[900102], out[900103]
    assert moji["n_mojibake"] == 4 and not moji["clean"]  # 2x Latin-1 e-acute + 2 quote leads... see plant
    assert repl["n_replacement"] == 3 and not repl["clean"]
    assert ctrl["n_control"] == 3 and not ctrl["clean"]
    reals = [r for i, r in out.items() if i < 900000]
    assert all(r["clean"] for r in reals)


def test_gopher_funnel_is_consistent_with_per_doc_flags(spark, sf_dir):
    from joblink_etl_spark.plans.ext_q import gopher_funnel, gopher_quality

    row = gopher_funnel(spark, sf_dir).collect()[0]
    docs = gopher_quality(spark, sf_dir).collect()
    assert row["n_docs"] == len(docs)
    assert row["n_pass"] == sum(1 for d in docs if d["pass_gopher"])
    assert row["fail_word_count"] == sum(1 for d in docs if not d["ok_word_count"])
    assert row["n_pass"] < row["n_docs"]  # the plants guarantee failures


def test_fertility_by_lang_consistency(spark, sf_dir):
    from joblink_etl_spark.plans.ext_q import fertility_by_lang, text_stats

    rows = fertility_by_lang(spark, sf_dir).collect()
    per_doc = text_stats(spark, sf_dir).collect()
    assert sum(r["n_docs"] for r in rows) == len(per_doc)
    for r in rows:
        assert r["total_bpe_tokens"] >= r["total_words"]  # subwords never fewer
        assert r["fertility"] >= 1.0


def test_lsh_geometry_knob_preserves_exact_clone_recall(spark, sf_dir):
    """Scaling rows_per_band shrinks chance collisions (bucket space
    2^rpb) but exact clones collide in every band at ANY geometry —
    the planted pairs must survive a much coarser candidate set."""
    from pyspark.sql import functions as F

    from joblink_etl_spark.operators.similarity import cosine_near_dup_pairs_lsh
    from joblink_etl_spark.sources import table

    emb = table(spark, sf_dir, "embeddings")
    clones = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label"
    )
    n = clones.count()
    out = cosine_near_dup_pairs_lsh(
        emb.unionAll(clones), min_cosine=0.95, bands=2, rows_per_band=8
    )
    planted = out.filter(F.col("id_b") - F.col("id_a") == 10000).count()
    assert planted == n


def test_preference_pairs_extremes_and_margin_gate(spark):
    from joblink_etl_spark.operators.select import preference_pairs

    rows = [
        # group a: clear preference
        ("a", 1, 50), ("a", 2, 10), ("a", 3, 30),
        # group b: all tied — margin gate must drop it
        ("b", 4, 20), ("b", 5, 20),
        # group c: single candidate — no pair
        ("c", 6, 99),
        # group d: margin below threshold
        ("d", 7, 12), ("d", 8, 10),
    ]
    df = spark.createDataFrame(rows, "src string, doc_id bigint, score bigint")
    out = preference_pairs(df, "src", "score", min_margin=5)
    got = {r["group"]: r for r in out.collect()}
    assert set(got) == {"a"}
    assert got["a"]["chosen_id"] == 1 and got["a"]["rejected_id"] == 2
    assert got["a"]["margin"] == 40


def test_curriculum_order_stage_monotone_and_balanced(spark, sf_dir):
    from joblink_etl_spark.plans.select_q import curriculum_order_q

    rows = curriculum_order_q(spark, sf_dir).collect()
    n = len(rows)
    by_pos = sorted(rows, key=lambda r: r["curriculum_pos"])
    # positions are a dense 1..N permutation and stages never go back
    assert [r["curriculum_pos"] for r in by_pos] == list(range(1, n + 1))
    stages = [r["stage"] for r in by_pos]
    assert stages == sorted(stages)
    # equal-population cuts (within 1)
    from collections import Counter

    counts = Counter(stages)
    assert set(counts) == {0, 1, 2}
    assert max(counts.values()) - min(counts.values()) <= 1


def test_web_curation_funnel_shape(spark, sf_dir):
    from joblink_etl_spark.plans.ext_q import web_curation_pipeline

    rows = {r["stage"]: r for r in web_curation_pipeline(spark, sf_dir).collect()}
    assert [rows[k]["stage_name"] for k in range(6)] == [
        "crawl", "line_dedup", "encoding", "gopher", "exact_dedup", "decontam",
    ]
    # boilerplate removal strips tokens but keeps every doc
    assert rows[1]["n_docs"] == rows[0]["n_docs"]
    assert rows[1]["n_tokens"] < rows[0]["n_tokens"]
    # the three planted corrupted docs fall exactly at the encoding gate
    assert rows[2]["n_docs"] == rows[1]["n_docs"] - 3
    # monotone funnel from there on, with survivors at the end
    for k in range(2, 5):
        assert rows[k + 1]["n_docs"] <= rows[k]["n_docs"]
        assert rows[k + 1]["n_tokens"] <= rows[k]["n_tokens"]
    assert rows[4]["n_docs"] < rows[3]["n_docs"]  # planted clones deduped
    assert rows[5]["n_docs"] > 0


# --- round-7 batch 4: mixture/reweighting/calibration operators ------


def test_grouped_rank_matches_window(spark):
    """grouped_rank (range exchange + per-slice window + offsets)
    must equal the plain one-partition-per-group window rank."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from joblink_etl_spark.operators.rank import grouped_rank

    rows = [(i, "g%d" % (i % 3), (i * 37) % 11) for i in range(200)]
    df = spark.createDataFrame(rows, "id INT, grp STRING, x INT")
    got = {
        (r["grp"], r["id"]): r["rnk"]
        for r in grouped_rank(df, ["grp"], ["x", "id"], num_partitions=5).collect()
    }
    w = Window.partitionBy("grp").orderBy("x", "id")
    want = {
        (r["grp"], r["id"]): r["rnk"]
        for r in df.withColumn("rnk", F.row_number().over(w)).collect()
    }
    assert got == want
    spark.catalog.clearCache()


def test_grouped_rank_empty_input(spark):
    from joblink_etl_spark.operators.rank import grouped_rank

    df = spark.createDataFrame([], "id INT, grp STRING, x INT")
    out = grouped_rank(df, ["grp"], ["x", "id"])
    assert out.count() == 0
    assert dict(out.dtypes)["rnk"] == "bigint"
    spark.catalog.clearCache()


def test_spearman_known_values(spark):
    """Perfect agreement → 1; perfect reversal → -1; n=1 → NULL."""
    from joblink_etl_spark.operators.select import spearman_by_group

    rows = (
        # group a: y = x (rho 1)
        [(i, "a", i, float(i)) for i in range(5)]
        # group b: y = -x (rho -1)
        + [(i, "b", i, float(-i)) for i in range(5)]
        # group c: single row (rho NULL)
        + [(0, "c", 7, 7.0)]
    )
    df = spark.createDataFrame(rows, "doc_id INT, lang STRING, x INT, y DOUBLE")
    out = {r["lang"]: r for r in spearman_by_group(df, "lang", "x", "y").collect()}
    assert out["a"]["spearman"] == 1.0
    assert out["b"]["spearman"] == -1.0
    assert out["c"]["spearman"] is None
    assert out["a"]["sum_d2"] == 0
    spark.catalog.clearCache()


def test_mixture_epochs_cap_binds(spark):
    """A small domain's target is capped at epoch_cap × its tokens;
    a large domain under the cap keeps floor(budget·weight)."""
    from joblink_etl_spark.operators.sampling import mixture_epochs

    rows = [(i, "small", 10) for i in range(5)] + [
        (i + 100, "large", 1000) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "doc_id INT, src STRING, n_chars INT")
    out = {r["src"]: r for r in mixture_epochs(df, "src", budget=6000, epoch_cap=2).collect()}
    assert out["small"]["n_tokens"] == 50
    # sqrt weights: sqrt(50)=7.071, sqrt(5000)=70.71 → small w≈0.0909
    # target ≈ 545 → epochs ≈ 10.9 → capped at 2×50
    assert out["small"]["capped_tokens"] == 100
    assert out["small"]["epochs"] > 2.0
    assert out["large"]["capped_tokens"] == out["large"]["target_tokens"]


def test_doremi_upweights_planted_hard_domain(spark):
    """A domain of unique-bigram gibberish (every bigram below
    min_count) gets positive excess loss and a larger-than-natural
    mixed weight; exponent respects exp_cap."""
    from joblink_etl_spark.operators.select import doremi_weights

    common = "the quick brown fox jumps over the lazy dog"
    rows = [(i, "easy", common) for i in range(20)] + [
        (100 + i, "hard", "tok%da tok%db tok%dc tok%dd" % (i, i, i, i))
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "doc_id INT, lang STRING, text STRING")
    out = {
        r["lang"]: r
        for r in doremi_weights(
            df, "lang", min_count=2, eta_milli=100, exp_cap=3
        ).collect()
    }
    assert out["hard"]["loss_milli"] == 1000  # every bigram unseen-at-min-count
    assert out["easy"]["loss_milli"] == 0
    assert out["hard"]["excess_milli"] > 0
    assert out["hard"]["exponent"] == 3  # capped
    assert out["hard"]["mixed_weight"] > out["easy"]["mixed_weight"]
    w = [r["weight"] for r in out.values()]
    assert abs(sum(w) - 1.0) < 1e-6


def test_distribution_drift_planted(spark):
    """Identical snapshots → TV 0, jaccard 1; disjoint vocab →
    TV 1e6, jaccard 0, all cur mass new."""
    from joblink_etl_spark.operators.textstats import distribution_drift

    same = [(0, "en", "base", "alpha beta gamma"), (1, "en", "cur", "alpha beta gamma")]
    disj = [(2, "de", "base", "eins zwei drei"), (3, "de", "cur", "vier funf sechs")]
    df = spark.createDataFrame(
        same + disj, "doc_id INT, lang STRING, snap STRING, text STRING"
    )
    out = {r["lang"]: r for r in distribution_drift(df).collect()}
    en, de = out["en"], out["de"]
    assert en["tv_micro"] == 0 and en["jaccard"] == 1.0 and en["new_mass_micro"] == 0
    # 3 tokens/snapshot, each p = 333333 micro; disjoint → Σ|p-q| =
    # 6·333333 → TV = 999999 (floor-quantization), all cur mass new
    assert de["tv_micro"] == 999999
    assert de["jaccard"] == 0.0
    assert de["new_mass_micro"] == 999999
    assert de["vocab_common"] == 0


def test_vocab_growth_monotone_and_exact(spark):
    """Cumulative columns are monotone; a planted corpus where doc k
    introduces exactly k new tokens reproduces the curve exactly."""
    from joblink_etl_spark.operators.textstats import vocab_growth

    # doc i (1-based) contains tokens w1..wi → doc i introduces
    # exactly one new token (wi); with 4 docs and 2 buckets:
    rows = [(i, " ".join("w%d" % j for j in range(1, i + 1))) for i in range(1, 5)]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    out = sorted(
        vocab_growth(df, n_buckets=2).collect(), key=lambda r: r["bucket"]
    )
    assert [r["bucket"] for r in out] == [1, 2]
    assert [r["n_docs"] for r in out] == [2, 4]
    assert [r["vocab_size"] for r in out] == [2, 4]
    assert [r["new_tokens"] for r in out] == [2, 2]
    spark.catalog.clearCache()


def test_template_duplicates_splits_template_from_exact(spark):
    """Two docs differing only in digits are template dups but not
    exact dups; identical docs are both; unrelated docs neither."""
    from joblink_etl_spark.operators.dedup import template_duplicates

    rows = [
        (1, "Order #123 shipped to bay 4"),
        (2, "Order #456 shipped to bay 9"),   # template dup of 1
        (3, "Order #123 shipped to bay 4"),   # exact dup of 1
        (4, "completely different text"),
    ]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    out = {r["doc_id"]: r for r in template_duplicates(df).collect()}
    assert out[1]["is_duplicate"] is False and out[1]["is_exact_duplicate"] is False
    assert out[2]["is_duplicate"] is True and out[2]["is_exact_duplicate"] is False
    assert out[3]["is_duplicate"] is True and out[3]["is_exact_duplicate"] is True
    assert out[4]["is_duplicate"] is False
    assert out[2]["canonical_id"] == 1 and out[3]["canonical_id"] == 1


def test_render_sft_boundary_exact(spark):
    """The loss-mask boundary is exactly the prefix: prompt_chars +
    len(response) + len('<|end|>') == total_chars, and the rendered
    string starts with the prefix and ends with the sentinel."""
    from joblink_etl_spark.operators.select import render_sft

    df = spark.createDataFrame(
        [(0, "what is two plus two", "four")], "pair_id INT, prompt STRING, response STRING"
    )
    r = render_sft(df, "Be terse.").collect()[0]
    assert r["rendered"].startswith("<|system|>\nBe terse.\n<|user|>\nwhat is two plus two\n<|assistant|>\n")
    assert r["rendered"].endswith("four<|end|>")
    assert r["total_chars"] == r["prompt_chars"] + len("four<|end|>")
    # prefix tokens: 2 (system) + 5 (prompt) + 3 markers = 10;
    # total adds the 1-token response (its <|end|> glues to 'four')
    assert r["prompt_tokens"] == 10
    assert r["total_tokens"] == 11


def test_packing_contamination_invariants(spark):
    """Every non-tail window is exactly full; starts sum to the doc
    count; a doc of weight > budget splits across windows."""
    from pyspark.sql import functions as F

    from joblink_etl_spark.operators.sampling import packing_contamination

    rows = [(i, 30) for i in range(10)] + [(100, 250)]  # one giant doc
    df = spark.createDataFrame(rows, "doc_id INT, n_chars INT")
    out = packing_contamination(
        df, weight_col="n_chars", budget=100, order_col="doc_id", n_buckets=1
    ).collect()
    by_w = {r["window_id"]: r for r in sorted(out, key=lambda r: r["window_id"])}
    total = 10 * 30 + 250
    n_windows = -(-total // 100)
    assert set(by_w) == set(range(n_windows))
    # all but the tail window are exactly full
    for wid, r in by_w.items():
        assert r["tokens"] == (100 if wid < n_windows - 1 else total % 100 or 100)
    assert sum(r["n_starts"] for r in out) == 11
    # the giant doc spans ≥ 3 windows → at least 2 split flags beyond
    # the small-doc straddles
    assert sum(r["n_splits"] for r in out) >= 2


def test_bench_py_worker_warmup_runs_real_python_workers(spark):
    """The bench pre-loop fence must actually exercise the
    mapInPandas path (spinning up the Python worker pool), so the
    run's first Arrow query doesn't absorb the pool cold-start into
    its timed window — the r11 scene_cuts positional artifact
    (2.95 s first-pandas-in-session vs 1.14 s post-fence, measured
    r12). A scheduler-visible job must run and the fence must be
    wired before the timed loop in main()."""
    import inspect

    import bench

    assert job_ids(spark, lambda: bench._py_worker_warmup(spark), "py-worker-warmup-check")
    src = inspect.getsource(bench.main)
    assert src.index("_py_worker_warmup(spark)") < src.index("run_query("), (
        "the fence must run before the timed loop"
    )


def test_bench_record_reads_the_query_jobs(spark):
    """bench's per-query record over one real query: the job group's
    jobs and the status-store totals perfbench.trace.spark_stats
    reads. A change to that API fails here, not in a bench run."""
    from pyspark.sql import functions as F

    import bench

    # without AQE the shuffle runs in one job, with no skipped stage
    # for this session's status store (default retention) to evict
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        rec = bench.run_query(
            spark,
            lambda: spark.range(0, 10_000, 1, 4).groupBy((F.col("id") % 7).alias("k")).count(),
            "bench-record-check",
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert set(rec) == {
        "sec", "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    }
    assert rec["jobs"] == 1 and rec["stages"] == 2 and rec["tasks"] >= 4 and rec["sec"] > 0
    assert rec["shuffle_write_bytes"] > 0 and rec["shuffle_read_bytes"] > 0
    assert all(isinstance(v, int) and v >= 0 for k, v in rec.items() if k != "sec")
