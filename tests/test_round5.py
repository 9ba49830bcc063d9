"""Unit tests for the round-5 operator families: graph analytics,
data selection, view maintenance, CDC, bloom join, MMR."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from joblink_etl_spark.operators import graph as G
from joblink_etl_spark.operators.bloomjoin import bloom_semi_join
from joblink_etl_spark.operators.cdc import apply_changelog
from joblink_etl_spark.operators.incremental import join_view_delta
from joblink_etl_spark.operators.sampling import priority_sample
from joblink_etl_spark.operators.select import dsir_scores, novelty_scores
from joblink_etl_spark.operators.similarity import mmr_rerank, semdedup


# ---------------------------------------------------------------- graph

def test_pagerank_star_center_dominates(spark):
    """In a star graph the hub receives mass from every leaf each
    round — its rank must strictly exceed every leaf's, and leaves
    are symmetric (identical ranks)."""
    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "id_a BIGINT, id_b BIGINT"
    )
    pr = G.pagerank(G.symmetrize(pairs), iters=3).collect()
    ranks = {r["node"]: r["rank_scaled"] for r in pr}
    hub, leaves = ranks[0], [ranks[i] for i in range(1, 6)]
    assert all(hub > v for v in leaves)
    assert len(set(leaves)) == 1
    # fixed-point output is exact integers; float view is one division
    for r in pr:
        assert r["rank"] == r["rank_scaled"] / float(G.SCALE)


def test_pagerank_mass_roughly_conserved(spark):
    """Symmetric graph, no dangling nodes: total mass stays within
    the integer-floor loss bound (each div loses < 1 unit per edge
    and per node per iteration)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)], "id_a BIGINT, id_b BIGINT"
    )
    pr = G.pagerank(G.symmetrize(pairs), iters=3)
    total = pr.agg(F.sum("rank_scaled")).collect()[0][0]
    n = 4
    assert abs(total - n * G.SCALE) < 1000 * n  # floor losses only


def test_pagerank_partitioning_invariant(spark):
    pairs = spark.createDataFrame(
        [(i, (i * 7) % 20) for i in range(20) if i != (i * 7) % 20],
        "id_a BIGINT, id_b BIGINT",
    )
    e = G.symmetrize(pairs)
    a = sorted(map(tuple, G.pagerank(e, iters=2).collect()))
    b = sorted(map(tuple, G.pagerank(e.repartition(13), iters=2).collect()))
    assert a == b


def test_degree_stats(spark):
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], "src BIGINT, dst BIGINT"
    )
    got = {r["node"]: (r["out_degree"], r["in_degree"]) for r in G.degree_stats(edges).collect()}
    assert got == {1: (2, 0), 2: (1, 1), 3: (0, 2)}


# ------------------------------------------------------------ selection

def test_priority_sample_contract(spark):
    """k rows out; heavier rows are sampled preferentially (in
    aggregate); est_weight >= weight; deterministic across
    partitionings."""
    rows = [(i, 10 if i < 50 else 1000) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id BIGINT, w BIGINT")
    s = priority_sample(df, "w", k=10, salt="t")
    got = s.collect()
    assert len(got) == 10
    heavy = sum(1 for r in got if r["weight"] == 1000)
    assert heavy >= 8  # weight ratio 100:1 → heavy rows dominate
    assert all(r["est_weight"] >= r["weight"] for r in got)
    again = priority_sample(df.repartition(7), "w", k=10, salt="t").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))


def test_dsir_scores_prefer_targetlike(spark):
    """Docs sharing the target's vocabulary must outscore docs with
    raw-only vocabulary."""
    target = spark.createDataFrame(
        [(100 + i, "alpha beta gamma delta") for i in range(20)],
        "doc_id BIGINT, text STRING",
    )
    raw = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "zork quux blorp frotz")]
        + [(10 + i, "zork quux blorp frotz") for i in range(10)],
        "doc_id BIGINT, text STRING",
    )
    got = {r["doc_id"]: r["score"] for r in dsir_scores(raw, target).collect()}
    assert got[1] > got[2]


def test_novelty_scores_boilerplate_vs_unique(spark):
    docs = spark.createDataFrame(
        [
            (1, "the same boilerplate text appears here twice exactly"),
            (2, "the same boilerplate text appears here twice exactly"),
            (3, "completely unique words nobody else ever wrote down"),
        ],
        "doc_id BIGINT, text STRING",
    )
    got = {r["doc_id"]: r for r in novelty_scores(docs).collect()}
    assert got[3]["novelty"] == 1.0
    assert got[1]["novelty"] == 0.0 and got[2]["novelty"] == 0.0


def test_semdedup_prunes_planted_clone(spark):
    """An identical clone (same vector, larger id) must be pruned;
    its original must be kept."""
    import random

    random.seed(7)
    rows = [(i, [random.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    rows += [(1000 + i, rows[i][1]) for i in range(0, 10)]  # clones of 0..9
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    got = {r["vec_id"]: r["kept"] for r in semdedup(emb, k_every=10, k_cap=50).collect()}
    assert all(got[1000 + i] is False for i in range(10))
    assert all(got[i] is True for i in range(10))
    # cell_target path: cap derived from the corpus count — identical
    # prune decisions, and passing both knobs is rejected
    auto = {
        r["vec_id"]: r["kept"]
        for r in semdedup(emb, k_every=10, cell_target=10).collect()
    }
    assert all(auto[1000 + i] is False for i in range(10))
    assert all(auto[i] is True for i in range(10))
    import pytest

    from joblink_etl_spark.operators.similarity import kmeans_codes, quantize_embeddings_global

    codes = quantize_embeddings_global(emb).select("vec_id", "q_codes")
    with pytest.raises(ValueError):
        kmeans_codes(codes, k_cap=5, cell_target=10).collect()
    # derived cap: n=70, cell_target=10 → k_cap=7 → seeds are ids
    # % 10 == 0 below 70: exactly {0,10,...,60}
    clusters = kmeans_codes(codes, k_every=10, cell_target=10)
    assert clusters.select("cluster_id").distinct().count() <= 7


# ---------------------------------------------------------- maintenance

def test_join_view_delta_algebra(spark):
    a = spark.createDataFrame([(i, f"a{i}") for i in range(10)], "k BIGINT, av STRING")
    b = spark.createDataFrame(
        [(i % 10, i, i * 1.5) for i in range(30)], "k BIGINT, oid BIGINT, val DOUBLE"
    )
    a_old, d_a = a.filter("k % 3 != 0"), a.filter("k % 3 = 0")
    b_old, d_b = b.filter("oid % 4 != 0"), b.filter("oid % 4 = 0")
    delta = join_view_delta(a_old, d_a, b_old, d_b, "k")
    old_view = a_old.join(b_old, "k")
    incr = sorted(map(tuple, old_view.unionByName(delta).collect()))
    scratch = sorted(map(tuple, a.join(b, "k").collect()))
    assert incr == scratch


def test_cdc_apply_semantics(spark):
    base = spark.createDataFrame(
        [(1, "one", 1.0), (2, "two", 2.0), (3, "three", 3.0)],
        "k BIGINT, name STRING, price DOUBLE",
    )
    chg = spark.createDataFrame(
        [
            (2, 10, "U", "two-v2", 2.5),   # update
            (2, 5, "U", "two-old", 2.2),   # superseded by seq 10
            (3, 7, "D", None, None),       # delete
            (9, 3, "I", "nine", 9.0),      # insert new key
        ],
        "k BIGINT, seq BIGINT, op STRING, name STRING, price DOUBLE",
    )
    got = {r["k"]: (r["name"], r["price"]) for r in apply_changelog(base, chg, "k").collect()}
    assert got == {1: ("one", 1.0), 2: ("two-v2", 2.5), 9: ("nine", 9.0)}


def test_cdc_delete_then_reinsert_by_seq(spark):
    base = spark.createDataFrame([(1, "x")], "k BIGINT, name STRING")
    chg = spark.createDataFrame(
        [(1, 1, "D", None), (1, 2, "I", "back")], "k BIGINT, seq BIGINT, op STRING, name STRING"
    )
    got = apply_changelog(base, chg, "k").collect()
    assert [(r["k"], r["name"]) for r in got] == [(1, "back")]


def test_bloom_semi_join_equals_plain(spark):
    fact = spark.createDataFrame([(i, i % 37) for i in range(500)], "rid BIGINT, fk BIGINT")
    dim = spark.createDataFrame([(3,), (7,), (11,)], "dk BIGINT")
    got = sorted(map(tuple, bloom_semi_join(fact, dim, "fk", "dk").collect()))
    want = sorted(
        map(tuple, fact.join(dim.withColumnRenamed("dk", "fk").distinct(), "fk", "left_semi").collect())
    )
    # column order differs (semi join keeps fact schema); compare sets of rows
    assert {tuple(sorted(r)) for r in got} == {tuple(sorted(r)) for r in want}
    assert len(got) == len(want) > 0


# ------------------------------------------------------------------ mmr

def test_mmr_prefers_diverse_over_redundant(spark):
    """Query at e1. Candidates: an exact clone of the rank-1 doc and
    a less-relevant but orthogonal-ish doc. Plain top-2 would take
    both e1 clones; with diversity weighted 2:1 the second MMR pick
    must be the diverse doc."""
    q = spark.createDataFrame([(0, [100, 0, 0, 0])], "qid BIGINT, q_codes ARRAY<INT>")
    c = spark.createDataFrame(
        [
            (1, [100, 0, 0, 0]),
            (2, [100, 0, 0, 0]),
            (3, [60, 60, 0, 0]),
        ],
        "did BIGINT, d_codes ARRAY<INT>",
    )
    got = {r["rank"]: r["did"] for r in mmr_rerank(q, c, k=2, rel_w=1, div_w=2).collect()}
    assert got[1] == 1
    assert got[2] == 3


def test_mmr_rank1_is_pure_relevance_and_deterministic(spark):
    import random

    random.seed(3)
    q = spark.createDataFrame(
        [(i, [random.randint(-50, 50) for _ in range(6)]) for i in range(2)],
        "qid BIGINT, q_codes ARRAY<INT>",
    )
    c = spark.createDataFrame(
        [(i, [random.randint(-50, 50) for _ in range(6)]) for i in range(40)],
        "did BIGINT, d_codes ARRAY<INT>",
    )
    a = sorted(map(tuple, mmr_rerank(q, c, k=4).collect()))
    b = sorted(map(tuple, mmr_rerank(q, c.repartition(9), k=4).collect()))
    assert a == b
    # rank-1 = argmax dot
    rows = {(r[0], r[1]): r for r in a}
    qc = {r["qid"]: r["q_codes"] for r in q.collect()}
    cc = {r["did"]: r["d_codes"] for r in c.collect()}
    for qid in qc:
        best = max(cc, key=lambda d: (sum(x * y for x, y in zip(qc[qid], cc[d])), -d))
        assert rows[(qid, 1)][2] == best


# ---------------------------------------------------------- wave 2


def test_global_rank_matches_single_window(spark):
    from joblink_etl_spark.operators.rank import global_rank

    rows = [(i, f"k{(i * 13) % 40:03d}") for i in range(200)]
    df = spark.createDataFrame(rows, "id BIGINT, k STRING").repartition(11)
    got = {
        (r["k"], r["id"]): r["rnk"]
        for r in global_rank(df, ["k", "id"], num_partitions=7).collect()
    }
    want = {
        (k, i): rank + 1
        for rank, (k, i) in enumerate(sorted((k, i) for i, k in rows))
    }
    assert got == want


def test_gap_fill_locf_known_series(spark):
    from joblink_etl_spark.operators.timeseries import gap_fill_locf

    rows = [
        (1, 0, 100, 10),      # bucket 0
        (1, 25, 300, 11),     # bucket 2 (buckets of 10 us)
        (1, 27, 350, 12),     # bucket 2, later ts wins
        (1, 51, 700, 13),     # bucket 5
        (2, 9, 50, 14),       # single point user
    ]
    df = spark.createDataFrame(rows, "u BIGINT, t_us BIGINT, cents BIGINT, eid BIGINT")
    got = {
        (r["u"], r["bucket"]): (r["cents"], r["is_observed"])
        for r in gap_fill_locf(df, "u", "t_us", "cents", 10, ("eid",)).collect()
    }
    assert got == {
        (1, 0): (100, True),
        (1, 1): (100, False),
        (1, 2): (350, True),
        (1, 3): (350, False),
        (1, 4): (350, False),
        (1, 5): (700, True),
        (2, 0): (50, True),
    }


def test_sorted_neighborhood_finds_prefix_clones(spark):
    from joblink_etl_spark.operators.dedup import sorted_neighborhood_pairs

    docs = [(i, f"document number {i:03d} about topic {(i * 7) % 5} " * 5) for i in range(30)]
    docs += [(100 + i, docs[i][1] + " tail mutation") for i in range(5)]  # near-dups
    df = spark.createDataFrame(docs, "doc_id BIGINT, text STRING")
    pairs = {(r["id_a"], r["id_b"]) for r in sorted_neighborhood_pairs(df, window=3).collect()}
    for i in range(5):
        assert (i, 100 + i) in pairs  # clone sorts adjacent to source
    for a, b in pairs:
        assert a < b


def test_multi_touch_allocation_conserves_cents(spark):
    from joblink_etl_spark.plans.events_q import multi_touch_attribution

    out = multi_touch_attribution(spark, "/root/testdata/sf0.001")
    per_p = out.groupBy("purchase_id").agg(F.sum("alloc_cents").alias("s")).collect()
    from joblink_etl_spark.sources import table

    ev = table(spark, "/root/testdata/sf0.001", "events")
    cents = {
        r["event_id"]: r["c"]
        for r in ev.filter("event_type = 'purchase'")
        .select("event_id", F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("c"))
        .collect()
    }
    assert len(per_p) > 0
    for r in per_p:
        assert r["s"] == cents[r["purchase_id"]]  # no cent lost or invented


def test_streaming_topk_space_saving_guarantees(spark, tmp_path):
    from joblink_etl_spark.streaming.pipeline import run_available_now, streaming_topk

    src, sink, ckpt = str(tmp_path / "ev"), str(tmp_path / "out"), str(tmp_path / "ck")
    # 3 genuinely heavy items + a long tail; n = 1200, capacity 8
    rows = [("g", 1) for _ in range(400)] + [("g", 2) for _ in range(300)]
    rows += [("g", 3) for _ in range(250)] + [("g", 100 + i % 50) for i in range(250)]
    ev = spark.createDataFrame(rows, "event_type STRING, user_id BIGINT")
    ev.repartition(4).write.parquet(src)

    stream = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
    run_available_now(streaming_topk(stream, capacity=8), sink, ckpt)

    import pyspark.sql.functions as SF

    got = spark.read.parquet(sink)
    last = got.groupBy("group", "item").agg(SF.max(SF.struct("cnt", "err")).alias("s"))
    final = {r["item"]: (r["s"]["cnt"], r["s"]["err"]) for r in last.collect()}
    true = {"1": 400, "2": 300, "3": 250}
    n, cap = 1200, 8
    for it, t in true.items():
        assert it in final  # freq > n/cap => guaranteed present
        cnt, err = final[it]
        assert t <= cnt <= t + err


def test_jl_project_shape_and_determinism(spark):
    from joblink_etl_spark.operators.similarity import jl_project

    import random

    random.seed(11)
    rows = [(i, [random.randint(-100, 100) for _ in range(16)]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id BIGINT, q_codes ARRAY<INT>")
    out = jl_project(df, dims=16, n_out=4).select("vec_id", "reduced")
    a = sorted((r["vec_id"], tuple(r["reduced"])) for r in out.collect())
    b = sorted(
        (r["vec_id"], tuple(r["reduced"]))
        for r in jl_project(df.repartition(7), dims=16, n_out=4).select("vec_id", "reduced").collect()
    )
    assert a == b
    assert all(len(v) == 4 for _, v in a)
    # identical inputs project identically; a clone pair stays a clone pair
    codes = {i: tuple(v) for i, v in a}
    df2 = spark.createDataFrame(rows + [(999, rows[0][1])], "vec_id BIGINT, q_codes ARRAY<INT>")
    out2 = {r["vec_id"]: tuple(r["reduced"]) for r in jl_project(df2, dims=16, n_out=4).collect()}
    assert out2[999] == out2[0] == codes[0]


def test_rocchio_recovers_separable_labels(spark):
    from joblink_etl_spark.operators.similarity import nearest_centroid_classify

    import random

    random.seed(5)
    rows = []
    for i in range(90):
        lab = i % 3
        center = [0] * 12
        center[lab * 4] = 80
        rows.append((i, lab, [c + random.randint(-5, 5) for c in center]))
    df = spark.createDataFrame(rows, "vec_id BIGINT, label INT, q_codes ARRAY<INT>")
    out = nearest_centroid_classify(df)
    acc = out.filter("correct").count() / out.count()
    assert acc == 1.0  # cleanly separable blobs


def test_hilbert_key_bijective_and_adjacent(spark):
    """Over a full 16x16 grid the Hilbert key must be a bijection to
    0..255, match the classic xy2d reference, and consecutive keys
    must always be GRID-ADJACENT (the locality property Z-order lacks
    at Morton seams)."""
    from joblink_etl_spark.sources.io import hilbert_key

    n = 16
    rows = [(i, x, y, float(x), float(y)) for i, (x, y) in enumerate(
        (x, y) for x in range(n) for y in range(n)
    )]
    df = spark.createDataFrame(
        rows, "rid BIGINT, x INT, y INT, l_quantity DOUBLE, l_extendedprice DOUBLE"
    )
    # bits=4 and values 0..15 => bins == values (min=0, max=15, bin
    # floor(v/15*16) capped at 15 — matches v except at v=15; just
    # compare against the SAME binning applied to the reference)
    out = hilbert_key(df, ["l_quantity", "l_extendedprice"], bits=4)
    got = {(r["x"], r["y"]): r["h_key"] for r in out.collect()}

    def ref_bin(v):
        return min(int(v / 15.0 * 16), 15)

    def xy2d(n, x, y):
        d = 0
        s = n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = n - 1 - x, n - 1 - y
                x, y = y, x
            s //= 2
        return d

    want = {(x, y): xy2d(16, ref_bin(x), ref_bin(y)) for x, y in got}
    assert got == want
    # bijection over the binned grid (x=15 and x=14 may share a bin;
    # restrict to 0..14 where bins are unique... bins: floor(v*16/15))
    # adjacency: walk the curve over exact bins
    inv = {}
    for (x, y), d in got.items():
        bx, by = ref_bin(x), ref_bin(y)
        inv[d] = (bx, by)
    ds = sorted(inv)
    for a, b in zip(ds, ds[1:]):
        if b == a + 1:
            (x1, y1), (x2, y2) = inv[a], inv[b]
            assert abs(x1 - x2) + abs(y1 - y2) == 1  # manhattan-adjacent


def test_personalized_pagerank_proximity_and_dangling(spark):
    """Chain 0→1→2 plus isolated pair 10→11, seeds = {0}. Hand-
    unrolled two iterations: after iter1 r = (0.15S, 0.85S, 0, 0, 0);
    after iter2 node2 holds the traveling wave 0.85²S, node1 gets
    0.85·0.15S, the seed keeps its teleport base. Nodes unreachable
    from the seed (10, 11) stay at exactly 0 — teleport and dangling
    mass land only on seeds."""
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "src BIGINT, dst BIGINT"
    )
    seeds = spark.createDataFrame([(0,)], "node BIGINT")
    pr = {r["node"]: r["rank_scaled"] for r in G.pagerank_personalized(edges, seeds, iters=2).collect()}
    S = G.SCALE
    assert pr[0] == 15 * S // 100
    assert pr[1] == 85 * (15 * S // 100) // 100
    assert pr[2] == 85 * (85 * S // 100) // 100
    assert pr[10] == 0 and pr[11] == 0
    # determinism across partitionings
    pr2 = {
        r["node"]: r["rank_scaled"]
        for r in G.pagerank_personalized(edges.repartition(5), seeds, iters=2).collect()
    }
    assert pr == pr2


def test_nb_classifier_separable_vocab(spark):
    """Fully separable vocabularies per label → held-out docs with
    the same vocabulary must classify perfectly."""
    from joblink_etl_spark.operators.select import nb_train_classify

    vocab = {"aa": "apfel birne kirsche traube", "bb": "apple pear cherry grape"}
    train = spark.createDataFrame(
        [(i, lab, vocab[lab]) for i, lab in enumerate(["aa", "bb"] * 15)],
        "doc_id BIGINT, lang STRING, text STRING",
    )
    test = spark.createDataFrame(
        [(100, "aa", "birne traube apfel"), (101, "bb", "pear grape apple")],
        "doc_id BIGINT, lang STRING, text STRING",
    )
    got = {r["doc_id"]: (r["predicted"], r["correct"]) for r in nb_train_classify(train, test).collect()}
    assert got == {100: ("aa", True), 101: ("bb", True)}


def test_canonical_pick_priority_beats_id(spark):
    from joblink_etl_spark.operators.curate import pick_canonical_by_source

    docs = spark.createDataFrame(
        [(1, "crawl"), (2, "curated"), (3, "crawl"), (9, "crawl")],
        "doc_id BIGINT, source STRING",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a BIGINT, id_b BIGINT")
    got = {
        r["doc_id"]: (r["cluster_id"], r["keep"])
        for r in pick_canonical_by_source(docs, pairs, {"curated": 0, "crawl": 1}).collect()
    }
    # cluster {1,2,3}: the curated doc (id 2) wins despite id 1 being smaller
    assert got[2] == (1, True)
    assert got[1][1] is False and got[3][1] is False
    assert got[9] == (9, True)  # singleton keeps itself
    # 1-based priority dict: an UNLISTED source must rank after the
    # last listed tier, not tie it and win on smaller id (ADVICE r05:
    # the old fallback was len(priority) == 2 == crawl's rank)
    docs2 = spark.createDataFrame(
        [(1, "mystery"), (2, "crawl")], "doc_id BIGINT, source STRING"
    )
    pairs2 = spark.createDataFrame([(1, 2)], "id_a BIGINT, id_b BIGINT")
    got2 = {
        r["doc_id"]: r["keep"]
        for r in pick_canonical_by_source(
            docs2, pairs2, {"curated": 1, "crawl": 2}
        ).collect()
    }
    assert got2 == {1: False, 2: True}


def test_prefix_filter_is_lossless_vs_allpairs(spark):
    from joblink_etl_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_jaccard_pairs,
    )

    docs = [(i, f"common shared words here plus item {i} detail {i % 4}") for i in range(25)]
    docs += [(100 + i, docs[i][1]) for i in range(6)]  # exact clones
    df = spark.createDataFrame(docs, "doc_id BIGINT, text STRING")
    got = sorted(map(tuple, prefix_filter_jaccard_pairs(df, min_jaccard=0.6).collect()))
    # all-pairs baseline with the SAME token sets (unigram jaccard):
    import itertools

    toks = {i: set(t.lower().split()) for i, t in docs}
    want = []
    for a, b in itertools.combinations(sorted(toks), 2):
        j = len(toks[a] & toks[b]) / len(toks[a] | toks[b])
        if round(j, 4) >= 0.6:
            want.append((a, b, round(j, 4)))
    assert got == sorted(want)
    assert len(got) >= 6  # the planted clones at least


def test_label_propagation_spreads_majority(spark):
    from joblink_etl_spark.operators import graph as G

    # clone 10 connected to labeled 1 ("en") and 2 ("en") and 3 ("fr")
    pairs = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (20, 21)], "id_a BIGINT, id_b BIGINT"
    )
    seeds = spark.createDataFrame(
        [(1, "en"), (2, "en"), (3, "fr"), (20, "de")], "node BIGINT, label STRING"
    )
    got = {r["node"]: r["label"] for r in G.label_propagation(G.symmetrize(pairs), seeds, iters=1).collect()}
    assert got[10] == "en"      # majority of labeled neighbors
    assert got[21] == "de"      # single labeled neighbor
    assert got[1] == "en" and got[3] == "fr"  # seeds clamped


def test_weighted_pagerank_heavier_edge_pulls_more(spark):
    """Hub 0 with a heavy edge to 1 (w=9000) and a light edge to 2
    (w=1000): node 1 must outrank node 2; with equal weights they tie."""
    edges = spark.createDataFrame(
        [(0, 1, 9000), (0, 2, 1000), (1, 0, 9000), (2, 0, 1000)],
        "src BIGINT, dst BIGINT, w BIGINT",
    )
    pr = {
        r["node"]: r["rank_scaled"]
        for r in G.pagerank(edges, iters=2, weight_col="w").collect()
    }
    assert pr[1] > pr[2]
    eq = spark.createDataFrame(
        [(0, 1, 5000), (0, 2, 5000), (1, 0, 5000), (2, 0, 5000)],
        "src BIGINT, dst BIGINT, w BIGINT",
    )
    pre = {
        r["node"]: r["rank_scaled"]
        for r in G.pagerank(eq, iters=2, weight_col="w").collect()
    }
    assert pre[1] == pre[2]


def test_pagerank_unit_weights_match_uniform_and_partitioning(spark):
    """weight_col=None is unit weights: on a graph whose out-degrees
    differ (1, 2 and 3), (r·1) div Σ1 must equal the uniform r div
    outdeg row for row. Weighted ranks are a pure function of the
    edge set, whatever its partitioning."""
    edges = spark.createDataFrame(
        [(0, 1, 7), (0, 2, 1), (0, 3, 2), (1, 0, 3), (1, 3, 5), (2, 0, 1), (3, 1, 4)],
        "src BIGINT, dst BIGINT, w BIGINT",
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    uniform = rows(G.pagerank(edges.select("src", "dst"), iters=3))
    ones = edges.withColumn("w", F.lit(1).cast("bigint"))
    assert rows(G.pagerank(ones, iters=3, weight_col="w")) == uniform
    weighted = rows(G.pagerank(edges, iters=3, weight_col="w"))
    assert weighted != uniform
    for n in (1, 7):
        assert rows(G.pagerank(edges.repartition(n), iters=3, weight_col="w")) == weighted


def test_check_constraints_finds_planted_violations(spark):
    from joblink_etl_spark.operators.quality import check_constraints

    df = spark.createDataFrame(
        [
            (1, "a", 10.0, "OK"),
            (2, None, 5.0, "OK"),        # not_null violation
            (3, "c", -1.0, "OK"),        # range violation
            (3, "d", 2.0, "BAD"),        # dup key + bad status
            (4, "e", 3.0, "OK"),
        ],
        "k BIGINT, name STRING, price DOUBLE, status STRING",
    )
    dim = spark.createDataFrame([(1,), (2,), (3,)], "dk BIGINT")  # 4 is orphan
    got = {
        (r["rule"], r["col"]): r["n_violations"]
        for r in check_constraints(
            df,
            not_null=("name",),
            ranges={"price": (0.0, 100.0)},
            accepted={"status": ("OK",)},
            unique=(("k",),),
            references={"k": (dim, "dk")},
        ).collect()
    }
    assert got == {
        ("not_null", "name"): 1,
        ("range", "price"): 1,
        ("accepted_values", "status"): 1,
        ("unique", "k"): 1,
        ("references", "k"): 1,
    }


def test_soft_dedup_weights_sum_to_semantic_units(spark):
    from joblink_etl_spark.operators.dedup import soft_dedup_weights

    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id BIGINT")
    pairs = spark.createDataFrame([(0, 1), (1, 2), (5, 6)], "id_a BIGINT, id_b BIGINT")
    rows = soft_dedup_weights(docs, pairs).collect()
    got = {r["doc_id"]: (r["cluster_size"], r["weight"]) for r in rows}
    assert got[0] == (3, 1.0 / 3) and got[1] == (3, 1.0 / 3) and got[2] == (3, 1.0 / 3)
    assert got[5] == (2, 0.5) and got[6] == (2, 0.5)
    assert got[3] == (1, 1.0)
    # total mass = number of semantic units (clusters)
    assert abs(sum(w for _, w in got.values()) - 5.0) < 1e-9


def test_contrastive_triplets_margin_and_labels(spark):
    from joblink_etl_spark.operators.similarity import contrastive_triplets

    rows = [
        (0, [1.0, 0.0], 0),    # anchor
        (1, [0.9, 0.1], 0),    # same-label near → positive
        (2, [0.0, 1.0], 0),    # same-label far
        (3, [0.95, 0.05], 1),  # diff-label near → hard negative
        (4, [-1.0, 0.0], 1),   # diff-label far
    ]
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>, label INT")
    got = contrastive_triplets(emb, emb.filter("vec_id = 0")).collect()
    assert len(got) == 1
    r = got[0]
    assert r["positive_id"] == 1 and r["negative_id"] == 3
    assert r["margin"] == r["pos_score"] - r["neg_score"]


def test_cosine_allpairs_baseline_guard(spark):
    """The O(N^2) baseline refuses oversized inputs unless forced."""
    import pytest

    from joblink_etl_spark.operators.similarity import cosine_near_dup_pairs

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(30)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    with pytest.raises(ValueError, match="quadratic"):
        cosine_near_dup_pairs(emb, max_rows=10)
    # explicit opt-in still runs
    forced = cosine_near_dup_pairs(emb, max_rows=10, allow_quadratic=True)
    assert forced.count() > 0
    # under the cap: no error
    assert cosine_near_dup_pairs(emb, max_rows=100).count() > 0


# ------------------------------------------------------- round-6 ops

def test_epoch_shuffle_contract(spark):
    """Permutation is a bijection onto 1..n; shards are balanced to
    within one row; a different epoch yields a different order; the
    same epoch is partitioning-invariant."""
    from joblink_etl_spark.operators.sampling import epoch_shuffle

    df = spark.createDataFrame([(i,) for i in range(97)], "doc_id BIGINT")
    out = epoch_shuffle(df, epoch=1, n_shards=4).collect()
    spark.catalog.clearCache()
    assert sorted(r["epoch_pos"] for r in out) == list(range(1, 98))
    sizes = {}
    for r in out:
        sizes[r["shard"]] = sizes.get(r["shard"], 0) + 1
    assert max(sizes.values()) - min(sizes.values()) <= 1
    order1 = [r["doc_id"] for r in sorted(out, key=lambda r: r["epoch_pos"])]
    out2 = epoch_shuffle(df, epoch=2, n_shards=4).collect()
    spark.catalog.clearCache()
    order2 = [r["doc_id"] for r in sorted(out2, key=lambda r: r["epoch_pos"])]
    assert order1 != order2  # re-permuted
    rerun = epoch_shuffle(df.repartition(7), epoch=1, n_shards=4).collect()
    spark.catalog.clearCache()
    assert sorted(map(tuple, rerun)) == sorted(map(tuple, out))


def test_length_bucket_batches_padding_economics(spark):
    """Every batch holds <= batch_size rows from ONE power-of-two
    length band; waste is exactly n*max - sum; all rows are batched."""
    from joblink_etl_spark.operators.sampling import length_bucket_batches

    rows = [(i, " ".join(["w"] * ((i % 37) + 1))) for i in range(120)]
    rows.append((999, ""))  # empty doc -> bucket -1
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    out = length_bucket_batches(df, batch_size=8).collect()
    spark.catalog.clearCache()
    assert sum(r["n_examples"] for r in out) == 121
    for r in out:
        assert 1 <= r["n_examples"] <= 8
        assert r["waste_tokens"] == r["n_examples"] * r["max_tokens"] - r["sum_tokens"]
        if r["bucket"] >= 0:
            # every row in the batch fits the bucket's [2^b, 2^(b+1)) band
            assert 2 ** r["bucket"] <= r["max_tokens"] < 2 ** (r["bucket"] + 1)
        else:
            assert r["max_tokens"] == 0


def test_semdedup_ivf_two_level_contract(spark):
    """Two-level (frozen coarse quantizer) semdedup: identical clones
    still land in the same cluster and get pruned (argmin of equal
    inputs is equal), every row is assigned (group coverage holds),
    and the result is partitioning-invariant."""
    import random

    random.seed(11)
    rows = [(i, [random.uniform(-1, 1) for _ in range(8)]) for i in range(120)]
    rows += [(1000 + i, rows[i][1]) for i in range(10)]
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    out = {
        r["vec_id"]: r
        for r in semdedup(
            emb, k_every=10, cell_target=20, coarse_stride=3
        ).collect()
    }
    spark.catalog.clearCache()
    assert len(out) == 130  # nothing dropped by the group joins
    assert all(out[1000 + i]["kept"] is False for i in range(10))
    assert all(out[i]["kept"] is True for i in range(10))
    assert all(
        out[1000 + i]["cluster_id"] == out[i]["cluster_id"] for i in range(10)
    )
    again = {
        r["vec_id"]: r
        for r in semdedup(
            emb.repartition(7), k_every=10, cell_target=20, coarse_stride=3
        ).collect()
    }
    spark.catalog.clearCache()
    assert {k: tuple(v) for k, v in out.items()} == {
        k: tuple(v) for k, v in again.items()
    }


def test_lloyd_two_level_and_pq_are_partitioning_invariant(spark):
    """kmeans_codes_2level (grouped nearest-centroid path) and pq_codes
    (per-subspace path) return identical rows over 1 and 7 input
    partitions; the shared k_cap/cell_target conflict check also
    guards the two-level builder."""
    import random

    from joblink_etl_spark.operators.similarity import (
        kmeans_codes_2level,
        pq_codes,
        quantize_embeddings_global,
    )

    random.seed(5)
    rows = [(i, [random.uniform(-1, 1) for _ in range(8)]) for i in range(150)]
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    codes = quantize_embeddings_global(emb).select("vec_id", "q_codes")

    def run(build):
        got = {n: sorted(tuple(r) for r in build(codes.repartition(n)).collect()) for n in (1, 7)}
        spark.catalog.clearCache()
        return got

    two = run(lambda c: kmeans_codes_2level(c, k_every=10, iters=2, coarse_stride=3))
    assert len(two[1]) == 150 and two[1] == two[7]
    pq = run(lambda c: pq_codes(c, n_sub=4, k_every=10, iters=2))
    assert len(pq[1]) == 150 * 4 and pq[1] == pq[7]
    with pytest.raises(ValueError):
        kmeans_codes_2level(codes, k_cap=5, cell_target=10)
    spark.catalog.clearCache()
