"""Distributed graph analytics over candidate-pair edge sets.

PageRank here is the classic damped power iteration, re-expressed for
the engine's cross-engine-exact style: every per-iteration quantity is
an integer (rank mass scaled by ``SCALE``), contributions are exact
``div`` integer divisions, and the damping mix is computed as
``(15·SCALE) div 100 + (85·Σcontrib) div 100`` — so partial/merged sums
are order-independent and the driver's DuckDB value-hash check can be
bit-exact. A float spelling would wobble in the last ulp across
partition orders (the session_windows lesson).

Scale design: each iteration is ONE keyed shuffle (groupBy dst of the
contribution sum) plus a broadcast-eligible join back to the node set;
the edge set never grows. Ranks are 8 bytes/node. Iterations are
sequential barriers by nature (same as Lloyd's in similarity.py) and
parallelize linearly within each round. For 100 TB-scale graphs the
edge DataFrame arrives pre-partitioned by src; pinning edges+degrees
across rounds (done below; fault-tolerance tradeoff: ``pin()``) keeps
the per-round cost to the contribution shuffle only.

The reference has no graph operator — this extends the dedup layer
(candidate pairs from minhash/LSH are an undirected similarity graph;
rank identifies hub documents inside boilerplate clusters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..pin import pin

SCALE = 10**12
DAMP_NUM = 85  # damping 0.85 as an exact rational
DAMP_DEN = 100


def symmetrize(pairs: DataFrame, a: str = "id_a", b: str = "id_b") -> DataFrame:
    """Undirected candidate pairs -> directed edge list (both ways)."""
    fwd = pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    rev = pairs.select(F.col(b).alias("src"), F.col(a).alias("dst"))
    return fwd.unionAll(rev).distinct()


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    scale: int = SCALE,
) -> DataFrame:
    """Integer-exact damped PageRank over a directed edge list.

    ``edges``: (src, dst). Returns (node, rank_scaled, rank) where
    rank_scaled is the exact bigint fixed-point rank (initial mass
    ``scale`` per node) and rank is the single final IEEE division
    rank_scaled / scale (deterministic — one op on exact inputs).

    Dangling nodes: a symmetrized similarity graph has none (every
    node has out-edges); for general graphs the standard dangling-mass
    redistribution would add one broadcast scalar per round.
    """
    # LAZY pin (not persist): the edge set is typically derived from
    # a large upstream plan (minhash banding); the rank recursion
    # references it 2 + iters times, and without lineage truncation
    # Catalyst re-optimizes the full upstream tree inside every
    # reference (measured 14.4 s → ~5 s at sf0.1 — the same fix
    # connected_components uses). Construction stays action-free.
    # Candidate scale: repo callers feed candidate-pair graphs; for
    # web-scale graphs see pin()'s reliable-checkpoint note.
    edges = pin(edges, "candidate")
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # contribution an edge carries per round = rank(src) div outdeg(src)
    esrc = pin(edges.join(deg, "src"), "candidate")
    nodes = pin(
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct(),
        "candidate",
    )
    rank = nodes.withColumn("r", F.lit(scale).cast("long"))
    base = (DAMP_DEN - DAMP_NUM) * scale // DAMP_DEN
    for _ in range(iters):
        contrib = (
            esrc.join(rank, esrc["src"] == rank["node"])
            .select(F.col("dst").alias("node"), F.expr("r div outdeg").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("csum"))
        )
        rank = nodes.join(contrib, "node", "left").select(
            "node",
            (
                F.lit(base).cast("long")
                + F.expr(f"({DAMP_NUM} * coalesce(csum, 0L)) div {DAMP_DEN}")
            ).alias("r"),
        )
    out = rank.select(
        F.col("node"),
        F.col("r").alias("rank_scaled"),
        (F.col("r").cast("double") / F.lit(float(scale))).alias("rank"),
    )
    return out


def degree_stats(edges: DataFrame) -> DataFrame:
    """Per-node (out_degree, in_degree) — one groupBy each, full outer."""
    out_d = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    in_d = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    return (
        out_d.join(in_d, "node", "full_outer")
        .select(
            "node",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
    )


def pagerank_personalized(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 2,
    scale: int = SCALE,
) -> DataFrame:
    """Personalized PageRank over DIRECTED edges with dangling-mass
    redistribution — the restart distribution concentrates on the
    seed set, so ranks measure proximity TO the seeds (the
    similar-item / recommendation spelling of PageRank).

    Differences from the uniform operator: (1) teleport mass lands
    only on seeds; (2) directed edges mean dangling nodes (no
    out-edges) exist — their rank would leak, so each round their
    total re-enters through the seed set (one extra anti-join agg +
    broadcast scalar per round; still integer-exact: the share is
    dangling_sum div n_seeds).

    `seeds`: DataFrame with a `node` column (subset of edge
    endpoints). Returns (node, rank_scaled, rank)."""
    edges = pin(edges, "candidate")
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    esrc = pin(edges.join(deg, "src"), "candidate")
    nodes = pin(
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct(),
        "candidate",
    )
    seed_set = seeds.select("node").distinct().join(nodes, "node", "left_semi")
    seed_flag = nodes.join(
        seed_set.withColumn("_is_seed", F.lit(True)), "node", "left"
    ).select("node", F.coalesce("_is_seed", F.lit(False)).alias("_is_seed"))
    seed_flag = pin(seed_flag, "candidate")
    n_seeds = seed_set.agg(F.count(F.lit(1)).alias("_ns"))
    base = (DAMP_DEN - DAMP_NUM) * scale // DAMP_DEN
    rank = seed_flag.withColumn(
        "r",
        F.when(F.col("_is_seed"), F.lit(scale).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
    ).select("node", "r")
    has_out = deg.select(F.col("src").alias("node"))
    for _ in range(iters):
        # rank is referenced TWICE per round (contribution join +
        # dangling-mass anti-join), and unlike uniform pagerank the
        # loop never cut its lineage — each round's two references
        # re-expanded the whole previous-round subtree. Lazy pin per
        # round (r15): one computation per round, flat plans; node-
        # scale rows (node, r), same class as label_propagation's
        # per-round frontier pin.
        rank = pin(rank, "candidate")
        contrib = (
            esrc.join(rank, esrc["src"] == rank["node"])
            .select(F.col("dst").alias("node"), F.expr("r div outdeg").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("csum"))
        )
        dang = (
            rank.join(has_out, "node", "left_anti")
            .agg(F.coalesce(F.sum("r"), F.lit(0)).alias("_dsum"))
        )
        rank = (
            seed_flag.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dang))
            .crossJoin(F.broadcast(n_seeds))
            .select(
                "node",
                (
                    F.when(F.col("_is_seed"), F.lit(base).cast("long")).otherwise(
                        F.lit(0).cast("long")
                    )
                    + F.expr(
                        f"({DAMP_NUM} * (coalesce(csum, 0L) + "
                        f"(CASE WHEN _is_seed THEN _dsum div _ns ELSE 0L END))) div {DAMP_DEN}"
                    )
                ).alias("r"),
            )
        )
    return rank.select(
        "node",
        F.col("r").alias("rank_scaled"),
        (F.col("r").cast("double") / F.lit(float(scale))).alias("rank"),
    )


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 2,
) -> DataFrame:
    """Semi-supervised label propagation (Zhu & Ghahramani 2002,
    majority-vote variant): seed nodes hold fixed labels; every
    round each unlabeled node adopts the MAJORITY label among its
    labeled neighbors (ties → smallest label; no labeled neighbor →
    keep previous). Fully categorical/integer → deterministic and
    oracle-replayable, unlike weighted float variants.

    The curation use: spread trusted metadata (language, license,
    topic) from canonical documents to their near-duplicates across
    the candidate graph. Each round is one keyed shuffle (neighbor
    label counts) + a window pick; state is one label per node.

    `edges` symmetric (src, dst); `seeds` (node, label). Returns
    (node, label) with label null where nothing reached the node."""
    from pyspark.sql.window import Window

    edges = pin(edges, "candidate")
    nodes = pin(
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct(),
        "candidate",
    )
    seed_l = pin(
        seeds.select("node", F.col("label").alias("_seed"))
        .distinct()
        .join(nodes, "node", "left_semi"),
        "candidate",
    )
    labels = nodes.join(seed_l, "node", "left").select(
        "node", F.col("_seed").alias("label")
    )
    w = Window.partitionBy("node").orderBy(F.col("_c").desc(), F.col("label"))
    for _ in range(iters):
        labels = pin(labels, "candidate")
        nb = (
            edges.join(
                labels.filter(F.col("label").isNotNull()).withColumnRenamed(
                    "node", "src"
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        pick = (
            nb.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("node", F.col("label").alias("_maj"))
        )
        labels = (
            nodes.join(seed_l, "node", "left")
            .join(pick, "node", "left")
            .join(labels.withColumnRenamed("label", "_prev"), "node", "left")
            .select(
                "node",
                F.coalesce("_seed", "_maj", "_prev").alias("label"),
            )
        )
    return labels


def pagerank_weighted(
    edges: DataFrame,
    iters: int = 2,
    scale: int = SCALE,
    weight_col: str = "w",
) -> DataFrame:
    """Edge-WEIGHTED PageRank: a node's rank splits across its
    out-edges proportionally to integer edge weights instead of
    uniformly — contribution = (rank · w) div Σw_out. With candidate
    graphs the natural weight is the quantized similarity (jaccard ×
    10⁴ as bigint), so strong near-duplicates pull more rank mass
    than borderline pairs.

    Same integer-exact contract and per-round cost as pagerank(); the
    out-weight sum replaces the out-degree (one extra column in the
    same aggregate). Weights must be positive bigints."""
    edges = pin(edges, "candidate")
    deg = edges.groupBy("src").agg(F.sum(weight_col).alias("wsum"))
    esrc = pin(edges.join(deg, "src"), "candidate")
    nodes = pin(
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct(),
        "candidate",
    )
    rank = nodes.withColumn("r", F.lit(scale).cast("long"))
    base = (DAMP_DEN - DAMP_NUM) * scale // DAMP_DEN
    for _ in range(iters):
        contrib = (
            esrc.join(rank, esrc["src"] == rank["node"])
            .select(
                F.col("dst").alias("node"),
                F.expr(f"(r * {weight_col}) div wsum").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("csum"))
        )
        rank = nodes.join(contrib, "node", "left").select(
            "node",
            (
                F.lit(base).cast("long")
                + F.expr(f"({DAMP_NUM} * coalesce(csum, 0L)) div {DAMP_DEN}")
            ).alias("r"),
        )
    return rank.select(
        "node",
        F.col("r").alias("rank_scaled"),
        (F.col("r").cast("double") / F.lit(float(scale))).alias("rank"),
    )


def triangle_counts(edges: DataFrame, a: str = "id_a", b: str = "id_b") -> DataFrame:
    """Per-node triangle counts via the degree-ordered wedge
    enumeration (node-iterator++): canonicalize the undirected edge
    list, orient every edge from its lower-(degree, id) endpoint to
    the higher, enumerate wedges as pairs of out-neighbors, and close
    them against the canonical edge set. Each triangle is generated
    at exactly one vertex (its degree-minimum), so no dedup pass is
    needed.

    Output: (node, n_triangles) for nodes in ≥1 triangle.

    Scale: orientation bounds every out-degree by O(√E) on any graph
    (a vertex with out-degree d has d neighbors of degree ≥ its own),
    so the wedge self-join — the only superlinear step — is
    Σ out_deg² = O(E^{3/2}) worst-case instead of Σ deg² (which a hot
    hub makes quadratic). Three keyed shuffles total: degree count,
    wedge join on the pivot, closing join on the (lo, hi) edge key."""
    und = (
        edges.select(
            F.least(F.col(a), F.col(b)).alias("lo"),
            F.greatest(F.col(a), F.col(b)).alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )
    deg = (
        und.select(F.col("lo").alias("node"))
        .unionAll(und.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    dl = deg.select(F.col("node").alias("lo"), F.col("deg").alias("_dl"))
    dh = deg.select(F.col("node").alias("hi"), F.col("deg").alias("_dh"))
    oriented = (
        und.join(dl, "lo")
        .join(dh, "hi")
        .select(
            F.when(
                (F.col("_dl") < F.col("_dh"))
                | ((F.col("_dl") == F.col("_dh")) & (F.col("lo") < F.col("hi"))),
                F.struct(F.col("lo").alias("u"), F.col("hi").alias("v")),
            )
            .otherwise(F.struct(F.col("hi").alias("u"), F.col("lo").alias("v")))
            .alias("_e")
        )
        .select(F.col("_e.u").alias("u"), F.col("_e.v").alias("v"))
    )
    w1 = oriented.select(F.col("u"), F.col("v").alias("x"))
    w2 = oriented.select(F.col("u"), F.col("v").alias("y"))
    wedges = w1.join(w2, "u").filter(F.col("x") < F.col("y"))
    tris = wedges.join(
        und,
        (F.col("x") == F.col("lo")) & (F.col("y") == F.col("hi")),
    ).select("u", "x", "y")
    nodes = (
        tris.select(F.col("u").alias("node"))
        .unionAll(tris.select(F.col("x").alias("node")))
        .unionAll(tris.select(F.col("y").alias("node")))
    )
    return nodes.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )


def ancestor_rollup(
    nodes: DataFrame,
    id_col: str = "id",
    parent_col: str = "parent",
    rounds: int = 4,
    check_convergence: bool = True,
) -> DataFrame:
    """Root + depth for every node of a forest via POINTER JUMPING —
    the distributed answer to a recursive CTE (Spark has none; a
    sequential walk is O(depth) dependent joins, and a per-node walk
    doesn't parallelize). Each round squares the jump length:
    anc'[x] = anc[anc[x]], dist'[x] = dist[x] + dist[anc[x]] — so
    `rounds` rounds resolve any depth ≤ 2^rounds. Every round is ONE
    self-join on the ancestor key plus a lazy checkpoint (the
    classic O(log d) doubling; at 100 TB each round is an ordinary
    keyed shuffle, and d is small for real hierarchies).

    Input: (id, parent) rows; a ROOT has parent NULL or parent = id.
    Output: (id, root, depth) — depth 0 for roots.

    `rounds` caps the resolvable depth at 2^rounds; on a DEEPER
    chain the loop would silently return a non-root ancestor labeled
    'root' with an understated depth. `check_convergence` (default
    on) guards that failure mode: one extra anti-join count of the
    final ancestors against the root set — O(n) on the already-
    checkpointed result, and the action it triggers materializes the
    checkpoint the downstream query reuses — raising ValueError with
    the unresolved count instead of returning wrong rows. NOTE: this
    makes default construction run Spark jobs, an explicit exemption
    from the repo's action-free-construction convention (recorded in
    tests/test_plans.py::test_builders_run_no_action_at_construction);
    library callers that build plans they may not execute should pass
    check_convergence=False and prove the depth bound elsewhere.
    """
    # the hierarchy frontier: one row per node of the hierarchy table,
    # halving depth per round
    a = nodes.select(
        F.col(id_col).alias("id"),
        F.when(
            F.col(parent_col).isNull() | (F.col(parent_col) == F.col(id_col)),
            F.col(id_col),
        )
        .otherwise(F.col(parent_col))
        .alias("anc"),
        F.when(
            F.col(parent_col).isNull() | (F.col(parent_col) == F.col(id_col)),
            F.lit(0),
        )
        .otherwise(F.lit(1))
        .cast("bigint")
        .alias("dist"),
    )
    a = pin(a, "candidate")
    for _ in range(rounds):
        hop = a.select(
            F.col("id").alias("_hid"),
            F.col("anc").alias("_hanc"),
            F.col("dist").alias("_hdist"),
        )
        a = pin(
            a.join(hop, a.anc == hop._hid).select(
                "id",
                F.col("_hanc").alias("anc"),
                (F.col("dist") + F.col("_hdist")).cast("bigint").alias("dist"),
            ),
            "candidate",
        )
    if check_convergence:
        roots = nodes.filter(
            F.col(parent_col).isNull() | (F.col(parent_col) == F.col(id_col))
        ).select(F.col(id_col).alias("anc"))
        n_unresolved = a.join(roots, "anc", "left_anti").count()
        if n_unresolved:
            raise ValueError(
                f"ancestor_rollup: {n_unresolved} node(s) unresolved after "
                f"{rounds} pointer-jumping rounds (chain deeper than "
                f"2^{rounds}); raise `rounds`"
            )
    return a.select("id", F.col("anc").alias("root"), F.col("dist").alias("depth"))
