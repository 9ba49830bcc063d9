"""Graph analytics queries over the near-duplicate candidate graph.

The minhash-LSH candidate pairs (ext_q.minhash_pairs) form an
undirected similarity graph; these queries layer classic graph
operators on it: integer-exact PageRank (hub documents inside
boilerplate clusters) and leakage-safe train/eval splitting (every
member of a near-dup cluster lands on the SAME side of the split, so
eval never sees a near-copy of a training doc — the cluster-aware
split real training pipelines use to stop contamination-by-near-dup).

Oracles replay both bit-for-bit: PageRank's per-iteration arithmetic
is all-integer (see operators/graph.py), and the split inherits the
recursive-CTE transitive closure already proven for dedup_clusters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import graph as G
from ..pin import pin
from . import ext_q as E

# ---------------------------------------------------------------------------
# PageRank over minhash candidate pairs.
# ---------------------------------------------------------------------------


def pagerank_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = E.minhash_pairs(spark, sf_dir)
    edges = G.symmetrize(pairs)
    return G.pagerank(edges, iters=3)


def _pr_iter(prev: str, cur: str) -> str:
    base = (G.DAMP_DEN - G.DAMP_NUM) * G.SCALE // G.DAMP_DEN
    return f"""{cur} AS (
  SELECT n.node,
         ({base}::BIGINT + (({G.DAMP_NUM} * coalesce(s.csum, 0)) // {G.DAMP_DEN}))::BIGINT AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, sum(p.r // d.outdeg)::BIGINT AS csum
    FROM edges e
    JOIN {prev} p ON p.node = e.src
    JOIN deg d ON d.src = e.src
    GROUP BY e.dst
  ) s ON s.node = n.node
)"""


PAGERANK_DOCS_SQL = f"""
WITH pairs AS ({E.MINHASH_PAIRS_SQL}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
nodes AS (SELECT DISTINCT src AS node FROM edges),
r0 AS (SELECT node, {G.SCALE}::BIGINT AS r FROM nodes),
{_pr_iter("r0", "r1")},
{_pr_iter("r1", "r2")},
{_pr_iter("r2", "r3")}
SELECT node, r AS rank_scaled, r::DOUBLE / {G.SCALE} AS rank
FROM r3
"""


# ---------------------------------------------------------------------------
# Leakage-safe train/eval split: connected components over the
# candidate graph; singleton docs are their own cluster; the split is
# decided ONCE per cluster (md5 of the cluster id) and inherited by
# every member. 90/10 by hash bucket — deterministic, partitioning-
# independent, and at scale it's one tiny-pair-graph CC plus a
# broadcast join of (cluster -> side) back onto the corpus.
# ---------------------------------------------------------------------------


def leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = E._docs_with_neardups(E.table(spark, sf_dir, "documents"))
    pairs = E.minhash_pairs(spark, sf_dir)
    comp = D.resolve_duplicates(pairs).select("doc_id", "cluster_id")
    ids = docs.select("doc_id")
    labeled = ids.join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
    )
    bucket = F.pmod(
        D.md5_int(F.concat(F.lit("split:"), F.col("cluster_id").cast("string"))),
        F.lit(10),
    )
    return labeled.select(
        "doc_id",
        "cluster_id",
        F.when(bucket < 9, F.lit("train")).otherwise(F.lit("eval")).alias("split"),
    )


LEAKAGE_SPLIT_SQL = f"""
WITH RECURSIVE pairs AS ({E.MINHASH_PAIRS_SQL}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), reach AS (
  SELECT a AS node, b AS r FROM edges
  UNION
  SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a
), comp AS (
  SELECT node AS doc_id, least(node, min(r)) AS cluster_id
  FROM reach GROUP BY node
), corpus AS (
  SELECT doc_id FROM documents
  UNION ALL
  SELECT doc_id + 10000 FROM documents WHERE doc_id % 4 = 0
), labeled AS (
  SELECT c.doc_id, coalesce(comp.cluster_id, c.doc_id) AS cluster_id
  FROM corpus c LEFT JOIN comp ON comp.doc_id = c.doc_id
)
SELECT doc_id, cluster_id,
       CASE WHEN ('0x' || substr(md5('split:' || cluster_id::VARCHAR), 1, 15))::BIGINT % 10 < 9
            THEN 'train' ELSE 'eval' END AS split
FROM labeled
"""


# ---------------------------------------------------------------------------
# Personalized PageRank: DIRECTED candidate edges (id_a → id_b only,
# so dangling nodes exist), teleport + dangling mass concentrated on
# the seed set (every third node). Oracle unrolls both iterations
# including the per-round dangling aggregate.
# ---------------------------------------------------------------------------


def ppr_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = E.minhash_pairs(spark, sf_dir)
    # barrier the minhash front end HERE: pagerank_personalized pins
    # its own edges arg, but the seed set below also derives from
    # pairs — without this the whole shingle+signature+band chain
    # re-executes for the seed relation (solo 7.4 -> 6.2 s). Candidate
    # scale: the minhash pair list.
    edges = pin(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        "candidate",
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    seeds = nodes.filter(F.col("node") % 3 == 0)
    return G.pagerank_personalized(edges, seeds, iters=2)


def _ppr_iter(prev: str, k: int) -> str:
    base = (G.DAMP_DEN - G.DAMP_NUM) * G.SCALE // G.DAMP_DEN
    return f"""c{k} AS (
  SELECT e.dst AS node, sum(p.r // d.outdeg)::BIGINT AS csum
  FROM edges e JOIN {prev} p ON p.node = e.src JOIN deg d ON d.src = e.src
  GROUP BY e.dst
),
d{k} AS (
  SELECT coalesce(sum(p.r), 0)::BIGINT AS dsum
  FROM {prev} p LEFT JOIN deg d ON d.src = p.node
  WHERE d.src IS NULL
),
r{k} AS (
  SELECT sf.node,
         ((CASE WHEN sf.is_seed THEN {base} ELSE 0 END)::BIGINT
          + (({G.DAMP_NUM} * (coalesce(c.csum, 0)
              + CASE WHEN sf.is_seed THEN d{k}.dsum // ns.n ELSE 0 END)) // {G.DAMP_DEN}))::BIGINT AS r
  FROM sf LEFT JOIN c{k} c ON c.node = sf.node, d{k}, ns
)"""


PPR_DOCS_SQL = f"""
WITH pairs AS ({E.MINHASH_PAIRS_SQL}),
edges AS (SELECT DISTINCT id_a AS src, id_b AS dst FROM pairs),
deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
seedset AS (SELECT node FROM nodes WHERE node % 3 = 0),
ns AS (SELECT count(*) AS n FROM seedset),
sf AS (
  SELECT n.node, s.node IS NOT NULL AS is_seed
  FROM nodes n LEFT JOIN seedset s ON s.node = n.node
),
r0 AS (
  SELECT node, (CASE WHEN is_seed THEN {G.SCALE} ELSE 0 END)::BIGINT AS r FROM sf
),
{_ppr_iter("r0", 1)},
{_ppr_iter("r1", 2)}
SELECT node, r AS rank_scaled, r::DOUBLE / {G.SCALE} AS rank
FROM r2
"""


# ---------------------------------------------------------------------------
# Canonical pick by source priority: near-dup clusters resolved, one
# survivor per cluster chosen by source rank (src0 < src1 < ... by a
# 3-tier priority map), ties on smallest id. The multi-source dedup
# POLICY on top of the mechanics.
# ---------------------------------------------------------------------------

_PRIORITY = {"src0": 0, "src1": 0, "src2": 1, "src3": 1}  # rest rank max+1 = 2


def canonical_source_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curate import pick_canonical_by_source

    base = E.table(spark, sf_dir, "documents")
    docs = E._docs_with_neardups(base).join(
        # clones (+10000) inherit their origin's source
        base.select(
            F.col("doc_id").alias("orig_id"), F.col("source").alias("_src")
        ),
        F.pmod(F.col("doc_id"), F.lit(10000)) == F.col("orig_id"),
    ).select("doc_id", F.col("_src").alias("source"))
    pairs = E.minhash_pairs(spark, sf_dir)
    return pick_canonical_by_source(docs, pairs, _PRIORITY)


CANONICAL_SOURCE_PICK_SQL = f"""
WITH RECURSIVE pairs AS ({E.MINHASH_PAIRS_SQL}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), reach AS (
  SELECT a AS node, b AS r FROM edges
  UNION
  SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a
), comp AS (
  SELECT node AS doc_id, least(node, min(r)) AS cluster_id
  FROM reach GROUP BY node
), corpus AS (
  SELECT d.doc_id, o.source
  FROM (
    SELECT doc_id FROM documents
    UNION ALL
    SELECT doc_id + 10000 FROM documents WHERE doc_id % 4 = 0
  ) d JOIN documents o ON o.doc_id = d.doc_id % 10000
), labeled AS (
  SELECT c.doc_id, coalesce(comp.cluster_id, c.doc_id) AS cluster_id, c.source,
         CASE c.source WHEN 'src0' THEN 0 WHEN 'src1' THEN 0
                       WHEN 'src2' THEN 1 WHEN 'src3' THEN 1 ELSE 2 END AS prio
  FROM corpus c LEFT JOIN comp ON comp.doc_id = c.doc_id
)
SELECT doc_id, cluster_id, source,
       row_number() OVER (PARTITION BY cluster_id ORDER BY prio, doc_id) = 1 AS keep
FROM labeled
"""


# ---------------------------------------------------------------------------
# Label propagation: spread trusted `lang` labels from base docs to
# their unlabeled near-dup clones over the candidate graph. Oracle
# unrolls both majority-vote rounds (counts, deterministic ties,
# seed clamping, keep-previous fallback).
# ---------------------------------------------------------------------------


def label_propagation_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = E.minhash_pairs(spark, sf_dir)
    edges = G.symmetrize(pairs)
    seeds = E.table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node"), F.col("lang").alias("label")
    )
    return G.label_propagation(edges, seeds, iters=2)


def _lp_iter(prev: str, k: int) -> str:
    return f"""n{k} AS (
  SELECT e.dst AS node, p.label, count(*) AS c
  FROM edges e JOIN {prev} p ON p.node = e.src AND p.label IS NOT NULL
  GROUP BY e.dst, p.label
),
p{k} AS (
  SELECT node, label AS maj FROM (
    SELECT *, row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn FROM n{k}
  ) WHERE rn = 1
),
l{k} AS (
  SELECT n.node, coalesce(s.seed, p.maj, prev.label) AS label
  FROM nodes n
  LEFT JOIN seedl s ON s.node = n.node
  LEFT JOIN p{k} p ON p.node = n.node
  LEFT JOIN {prev} prev ON prev.node = n.node
)"""


LABEL_PROPAGATION_SQL = f"""
WITH pairs AS ({E.MINHASH_PAIRS_SQL}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
seedl AS (
  SELECT d.doc_id AS node, d.lang AS seed
  FROM documents d JOIN nodes n ON n.node = d.doc_id
),
l0 AS (
  SELECT n.node, s.seed AS label FROM nodes n LEFT JOIN seedl s ON s.node = n.node
),
{_lp_iter("l0", 1)},
{_lp_iter("l1", 2)}
SELECT node, label FROM l2
"""


# ---------------------------------------------------------------------------
# Weighted PageRank: rank mass splits across edges by quantized
# jaccard (×10⁴ bigint) — strong near-dups pull more mass. r·w can
# reach SCALE·10⁴ = 10¹⁶ per term, still exact in bigints.
# ---------------------------------------------------------------------------


def pagerank_weighted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = E.minhash_pairs(spark, sf_dir).withColumn(
        "w", F.floor(F.col("jaccard") * 10000 + F.lit(0.5)).cast("bigint")
    )
    fwd = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"), "w")
    rev = pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"), "w")
    return G.pagerank(fwd.unionAll(rev).distinct(), iters=2, weight_col="w")


def _prw_iter(prev: str, cur: str) -> str:
    base = (G.DAMP_DEN - G.DAMP_NUM) * G.SCALE // G.DAMP_DEN
    return f"""{cur} AS (
  SELECT n.node,
         ({base}::BIGINT + (({G.DAMP_NUM} * coalesce(s.csum, 0)) // {G.DAMP_DEN}))::BIGINT AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, sum((p.r * e.w) // d.wsum)::BIGINT AS csum
    FROM edges e
    JOIN {prev} p ON p.node = e.src
    JOIN deg d ON d.src = e.src
    GROUP BY e.dst
  ) s ON s.node = n.node
)"""


PAGERANK_WEIGHTED_SQL = f"""
WITH pairs AS ({E.MINHASH_PAIRS_SQL}),
wp AS (SELECT id_a, id_b, floor(jaccard * 10000 + 0.5)::BIGINT AS w FROM pairs),
edges AS (
  SELECT id_a AS src, id_b AS dst, w FROM wp
  UNION
  SELECT id_b, id_a, w FROM wp
),
deg AS (SELECT src, sum(w)::BIGINT AS wsum FROM edges GROUP BY src),
nodes AS (SELECT DISTINCT src AS node FROM edges),
r0 AS (SELECT node, {G.SCALE}::BIGINT AS r FROM nodes),
{_prw_iter("r0", "r1")},
{_prw_iter("r1", "r2")}
SELECT node, r AS rank_scaled, r::DOUBLE / {G.SCALE} AS rank
FROM r2
"""


# ---------------------------------------------------------------------------
# Soft dedup weights: 1/|cluster| loss weights instead of dropping
# near-dups — every semantic unit contributes one unit of mass.
# ---------------------------------------------------------------------------


def soft_dedup_weights_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = E._docs_with_neardups(E.table(spark, sf_dir, "documents"))
    pairs = E.minhash_pairs(spark, sf_dir)
    return D.soft_dedup_weights(docs, pairs)


SOFT_DEDUP_WEIGHTS_SQL = f"""
WITH RECURSIVE pairs AS ({E.MINHASH_PAIRS_SQL}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), reach AS (
  SELECT a AS node, b AS r FROM edges
  UNION
  SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a
), comp AS (
  SELECT node AS doc_id, least(node, min(r)) AS cluster_id
  FROM reach GROUP BY node
), corpus AS (
  SELECT doc_id FROM documents
  UNION ALL
  SELECT doc_id + 10000 FROM documents WHERE doc_id % 4 = 0
), labeled AS (
  SELECT c.doc_id, coalesce(comp.cluster_id, c.doc_id) AS cluster_id
  FROM corpus c LEFT JOIN comp ON comp.doc_id = c.doc_id
), sizes AS (
  SELECT cluster_id, count(*)::BIGINT AS cluster_size FROM labeled GROUP BY cluster_id
)
SELECT l.doc_id, l.cluster_id, s.cluster_size,
       1.0 / s.cluster_size::DOUBLE AS weight
FROM labeled l JOIN sizes s ON s.cluster_id = l.cluster_id
"""


# ---------------------------------------------------------------------------
# Triangle counting (degree-ordered wedge enumeration) over a
# deterministic doc-chain graph: edges (i, i+1), (i, i+2) make every
# consecutive triple a triangle, and the sparse (i, i+4) class for
# i % 6 = 0 closes an extra (i, i+2, i+4) triangle — so per-node
# counts vary and the oracle's canonical a<b<c three-join checks the
# oriented algorithm's output exactly.
# ---------------------------------------------------------------------------


def triangle_docs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import table

    docs = table(spark, sf_dir, "documents").select("doc_id")

    def shift(k: int, residue: int | None = None) -> DataFrame:
        a = docs.select(F.col("doc_id").alias("id_a"))
        if residue is not None:
            a = a.filter(F.col("id_a") % residue == 0)
        b = docs.select(F.col("doc_id").alias("id_b"))
        return a.join(b, F.col("id_b") == F.col("id_a") + k)

    edges = shift(1).unionAll(shift(2)).unionAll(shift(4, residue=6))
    return G.triangle_counts(edges)


TRIANGLE_DOCS_SQL = """
WITH d AS (SELECT doc_id FROM documents),
e AS (
  SELECT a.doc_id AS lo, b.doc_id AS hi
  FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
  UNION ALL
  SELECT a.doc_id, b.doc_id
  FROM d a JOIN d b ON b.doc_id = a.doc_id + 2
  UNION ALL
  SELECT a.doc_id, b.doc_id
  FROM d a JOIN d b ON b.doc_id = a.doc_id + 4 AND a.doc_id % 6 = 0
), tri AS (
  SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
  FROM e e1
  JOIN e e2 ON e2.lo = e1.hi
  JOIN e e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
), n AS (
  SELECT unnest([a, b, c]) AS node FROM tri
)
SELECT node, count(*)::BIGINT AS n_triangles FROM n GROUP BY node
"""


# ---------------------------------------------------------------------------
# Hierarchy rollup via pointer jumping — Spark has no recursive CTE,
# so the O(log depth) doubling self-join is THE distributed spelling
# of "walk every node to its root"; the DuckDB oracle answers the
# same question with an actual WITH RECURSIVE, which is exactly the
# cross-check that matters: two completely different algorithms, one
# answer. Parent links derive from the decimal key hierarchy
# (parent = custkey div 10) through a MEMBERSHIP left-join, so a
# node whose arithmetic parent is absent from the table is a root —
# the synthesis stays closed over any key subset (offset replicas in
# the scale probe included).
# ---------------------------------------------------------------------------


def hierarchy_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import table

    cust = table(spark, sf_dir, "customer").select("c_custkey")
    cand = cust.select(
        F.col("c_custkey").alias("id"),
        F.expr("c_custkey div 10").alias("_pcand"),
    )
    parents = cust.select(F.col("c_custkey").alias("_pid"))
    nodes = cand.join(parents, cand._pcand == parents._pid, "left").select(
        "id", F.col("_pid").alias("parent")
    )
    return G.ancestor_rollup(nodes, rounds=4)


HIERARCHY_ROLLUP_SQL = """
WITH RECURSIVE nodes AS (
  SELECT c.c_custkey AS id, p.c_custkey AS parent
  FROM customer c
  LEFT JOIN customer p ON c.c_custkey // 10 = p.c_custkey
), walk AS (
  -- a root is a node with no parent in the table OR a self-loop
  -- (custkey 0: 0 // 10 = 0) — same normalization as the operator
  SELECT id, id AS root, 0::BIGINT AS depth
  FROM nodes WHERE parent IS NULL OR parent = id
  UNION ALL
  SELECT n.id, w.root, w.depth + 1
  FROM nodes n JOIN walk w ON n.parent = w.id
  WHERE n.id <> n.parent
)
SELECT id, root, depth FROM walk
"""
