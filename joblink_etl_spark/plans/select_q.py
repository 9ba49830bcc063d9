"""Data-selection queries: weighted sampling, importance scoring,
novelty, and semantic dedup — the "which docs make the training cut"
layer, each with a bit-exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import sampling as SA
from ..operators import textstats as TS
from ..operators import select as SEL
from ..operators import similarity as SIM
from ..sources import parallelize, table
from .ext_q import _TOKS, KMEANS_CLUSTERS_SQL

_MD5I = "('0x' || substr(md5({x}), 1, 15))::BIGINT"

# ---------------------------------------------------------------------------
# Priority sampling (weighted, without replacement).
# ---------------------------------------------------------------------------


def priority_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return SA.priority_sample(docs, "n_chars", k=20, salt="pri")


PRIORITY_SAMPLE_SQL = f"""
WITH pri AS (
  SELECT doc_id,
         n_chars::BIGINT AS weight,
         (n_chars::BIGINT * 1073741824)
           // (({_MD5I.format(x="'pri:' || doc_id::VARCHAR")} % 1073741824) + 1) AS priority
  FROM documents
), ranked AS (
  SELECT *, row_number() OVER (ORDER BY priority DESC, doc_id) AS rn FROM pri
), tau AS (
  SELECT coalesce(max(CASE WHEN rn = 21 THEN priority END), 0) AS t FROM ranked
)
SELECT doc_id, weight, priority,
       greatest(weight * 1073741824, t)::DOUBLE / 1073741824 AS est_weight
FROM ranked, tau
WHERE rn <= 20
"""


# ---------------------------------------------------------------------------
# DSIR-style importance scores: target = English docs, raw = the rest.
# ---------------------------------------------------------------------------


def dsir_scores_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallelize(table(spark, sf_dir, "documents"))
    raw = docs.filter((F.col("lang") != "en") | F.col("lang").isNull()).select(
        "doc_id", "text"
    )
    target = docs.filter(F.col("lang") == "en").select("doc_id", "text")
    return SEL.dsir_scores(raw, target)


_UNIGRAMS = f"unnest(list_distinct({_TOKS}))"

DSIR_SCORES_SQL = f"""
WITH rawf AS (
  SELECT doc_id, {_MD5I.format(x='t')} % 4096 AS feature
  FROM (SELECT doc_id, {_UNIGRAMS} AS t FROM documents WHERE lang <> 'en' OR lang IS NULL)
), tgtf AS (
  SELECT doc_id, {_MD5I.format(x='t')} % 4096 AS feature
  FROM (SELECT doc_id, {_UNIGRAMS} AS t FROM documents WHERE lang = 'en')
), rawct AS (SELECT feature, count(*) AS ct FROM rawf GROUP BY feature),
tgtct AS (SELECT feature, count(*) AS ct FROM tgtf GROUP BY feature),
lr AS (
  SELECT coalesce(r.feature, t.feature) AS feature,
         (length(format('{{:b}}', coalesce(t.ct, 0) + 1)) - 1)
         - (length(format('{{:b}}', coalesce(r.ct, 0) + 1)) - 1) AS llr
  FROM rawct r FULL OUTER JOIN tgtct t ON r.feature = t.feature
), docf AS (SELECT DISTINCT doc_id, feature FROM rawf)
SELECT doc_id, count(*)::BIGINT AS n_features, sum(coalesce(llr, 0))::BIGINT AS score
FROM docf LEFT JOIN lr USING (feature)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Novelty: fraction of a doc's distinct 3-grams with corpus df = 1.
# ---------------------------------------------------------------------------


def novelty_scores_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallelize(table(spark, sf_dir, "documents")).select("doc_id", "text")
    return SEL.novelty_scores(docs)


NOVELTY_SCORES_SQL = f"""
WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
grams AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                i -> array_to_string(toks[i:i+2], ' ')))) AS gram
  FROM tok
), pairs AS (
  SELECT DISTINCT doc_id, {_MD5I.format(x='gram')} AS g FROM grams
), dfct AS (SELECT g, count(*) AS df FROM pairs GROUP BY g)
SELECT doc_id,
       count(*)::BIGINT AS n_grams,
       sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)::BIGINT AS n_unique,
       sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE AS novelty
FROM pairs JOIN dfct USING (g)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# SemDeDup: cluster embeddings (bit-exact integer k-means, 1 Lloyd
# iteration, global-scale codes), prune within-cluster ε-neighbors
# keeping the smallest id. Clones (identical vectors, +10000 ids)
# are planted so the prune provably fires; the oracle replays the
# whole chain — quantization, Lloyd's, assignment, the integer
# cosine cross-multiplication — bit-for-bit.
# ---------------------------------------------------------------------------


def _emb_with_clones(emb: DataFrame) -> DataFrame:
    base = emb.select("vec_id", "embedding")
    clones = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    return base.unionAll(clones)


def semdedup_prune_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb_with_clones(parallelize(table(spark, sf_dir, "embeddings")))
    return SIM.semdedup(
        emb, k_every=25, iters=1, eps_num=95, eps_den=100, cell_target=250
    )


def _sd_dist(va: str, vb: str) -> str:
    return (
        f"(list_sum(list_transform(range(1, len({va}) + 1), "
        f"i -> ({va}[i] - {vb}[i])::BIGINT * ({va}[i] - {vb}[i])::BIGINT)))::BIGINT"
    )


def _sd_dot(va: str, vb: str) -> str:
    return (
        f"(list_sum(list_transform(range(1, len({va}) + 1), "
        f"i -> {va}[i]::BIGINT * {vb}[i]::BIGINT)))::BIGINT"
    )


SEMDEDUP_SQL = f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
  UNION ALL
  SELECT vec_id + 10000, embedding::DOUBLE[] FROM embeddings WHERE vec_id % 5 = 0
),
gmax AS (SELECT max(list_max(list_transform(e, x -> abs(x)))) AS g FROM base),
v AS (
  SELECT vec_id,
         list_transform(e, x -> floor(x / (CASE WHEN g > 0 THEN g / 127.0 ELSE 1.0 END) + 0.5)::INTEGER) AS codes
  FROM base, gmax
),
-- auto-scaled codebook cap: greatest(8, ceil(n / 250)) mirrors the
-- Spark side's cell_target derivation (max(8, ceil(n/250)) from one
-- count), keeping expected cell size ~250 however large n grows
kcap AS (SELECT greatest(8, CAST(ceil(count(*) / 250.0) AS BIGINT)) AS kc FROM base),
c0 AS (SELECT vec_id AS cid, codes FROM v, kcap WHERE vec_id % 25 = 0 AND vec_id < 25 * kc),
a1d AS (SELECT v.vec_id, v.codes, c.cid, {_sd_dist('v.codes', 'c.codes')} AS d2 FROM v, c0 c),
s1 AS (
  SELECT vec_id, codes, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM a1d
  ) WHERE rn = 1
),
m1 AS (
  SELECT cid, u.i - 1 AS pos, floor(sum(codes[u.i])::DOUBLE / count(*))::INT AS m
  FROM s1, unnest(range(1, len(codes) + 1)) AS u(i)
  GROUP BY cid, u.i
),
c1 AS (SELECT cid, list(m ORDER BY pos) AS codes FROM m1 GROUP BY cid),
fd AS (SELECT v.vec_id, v.codes, c.cid, {_sd_dist('v.codes', 'c.codes')} AS d2 FROM v, c1 c),
sf AS (
  SELECT vec_id, codes, cid AS cluster_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM fd
  ) WHERE rn = 1
),
pruned AS (
  SELECT DISTINCT b.vec_id
  FROM sf a JOIN sf b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  WHERE {_sd_dot('a.codes', 'b.codes')} > 0
    AND {_sd_dot('a.codes', 'b.codes')} * {_sd_dot('a.codes', 'b.codes')} * 10000
        >= 9025 * {_sd_dot('a.codes', 'a.codes')} * {_sd_dot('b.codes', 'b.codes')}
)
SELECT s.vec_id, s.cluster_id, p.vec_id IS NULL AS kept
FROM sf s LEFT JOIN pruned p ON p.vec_id = s.vec_id
"""


# ---------------------------------------------------------------------------
# MMR diversified rerank: 3 query vectors against the rest of the
# corpus, k=5 greedy picks, lambda = 2:1 relevance:diversity. The
# oracle unrolls all five greedy steps (each pick feeds the next
# step's max-similarity term) over the same shared-scale integer
# codes — bit-exact, including tie order.
# ---------------------------------------------------------------------------


def mmr_rerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    codes = SIM.quantize_embeddings_global(
        parallelize(table(spark, sf_dir, "embeddings"))
    ).select("vec_id", "q_codes")
    queries = codes.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), "q_codes"
    )
    corpus = codes.filter(F.col("vec_id") >= 3).select(
        F.col("vec_id").alias("did"), F.col("q_codes").alias("d_codes")
    )
    return SIM.mmr_rerank(queries, corpus, k=5, rel_w=2, div_w=1)


def _mmr_dot(a: str, b: str) -> str:
    return (
        f"(list_sum(list_transform(range(1, len({a}) + 1), "
        f"i -> {a}[i]::BIGINT * {b}[i]::BIGINT)))::BIGINT"
    )


def _mmr_sql(
    k: int = 5, rel_w: int = 2, div_w: int = 1, cand_ctes: list[str] | None = None
) -> str:
    ctes = cand_ctes if cand_ctes is not None else [
        "base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)",
        "gmax AS (SELECT max(list_max(list_transform(e, x -> abs(x)))) AS g FROM base)",
        (
            "v AS (SELECT vec_id, list_transform(e, x -> floor(x / "
            "(CASE WHEN g > 0 THEN g / 127.0 ELSE 1.0 END) + 0.5)::INTEGER) AS codes "
            "FROM base, gmax)"
        ),
        "q AS (SELECT vec_id AS qid, codes AS qc FROM v WHERE vec_id < 3)",
        "c AS (SELECT vec_id AS did, codes AS dc FROM v WHERE vec_id >= 3)",
        f"cand AS MATERIALIZED (SELECT qid, did, {_mmr_dot('qc', 'dc')} AS rel, dc FROM c, q)",
    ]
    ctes.append(
        "s1 AS (SELECT qid, did, rel AS score, 1 AS rank, dc FROM ("
        "SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rel DESC, did) AS rn "
        "FROM cand) WHERE rn = 1)"
    )
    sel_union = "SELECT * FROM s1"
    for t in range(2, k + 1):
        ctes.append(f"sel{t - 1} AS ({sel_union})")
        ctes.append(
            f"r{t} AS (SELECT cand.* FROM cand WHERE NOT EXISTS "
            f"(SELECT 1 FROM sel{t - 1} s WHERE s.qid = cand.qid AND s.did = cand.did))"
        )
        ctes.append(
            f"m{t} AS (SELECT r.qid, r.did, max({_mmr_dot('r.dc', 's.dc')}) AS msim "
            f"FROM r{t} r JOIN sel{t - 1} s ON s.qid = r.qid GROUP BY r.qid, r.did)"
        )
        ctes.append(
            f"s{t} AS (SELECT qid, did, score, {t} AS rank, dc FROM ("
            f"SELECT r.qid, r.did, {rel_w} * r.rel - {div_w} * m.msim AS score, r.dc, "
            f"row_number() OVER (PARTITION BY r.qid "
            f"ORDER BY ({rel_w} * r.rel - {div_w} * m.msim) DESC, r.did) AS rn "
            f"FROM r{t} r JOIN m{t} m ON m.qid = r.qid AND m.did = r.did) WHERE rn = 1)"
        )
        sel_union += f" UNION ALL SELECT * FROM s{t}"
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        f"SELECT qid, rank, did, score FROM ({sel_union})"
    )


MMR_RERANK_SQL = _mmr_sql(5, 2, 1)


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss sign projection: 64-dim global codes → 8
# exact-bigint components. Oracle re-derives the md5-parity sign
# matrix inline.
#
# Registered output is EXPLODED to (vec_id, dim, value): the r06
# driver red was not a value mismatch but the driver's row
# canonicalizer failing on an array column ("unhashable type:
# 'list'"), so the registered projection must be scalar-only. The
# array-shaped API (jl_project's `reduced`) is unchanged and stays
# covered by pytest.
# ---------------------------------------------------------------------------


def jl_project_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    codes = SIM.quantize_embeddings_global(
        parallelize(table(spark, sf_dir, "embeddings"))
    ).select("vec_id", "q_codes")
    proj = SIM.jl_project(codes, dims=64, n_out=8)
    return proj.select(
        "vec_id", F.posexplode("reduced").alias("dim", "value")
    ).select("vec_id", F.col("dim").cast("bigint").alias("dim"), "value")


_GLOBAL_CODES_CTES = """base AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
gmax AS (SELECT max(list_max(list_transform(e, x -> abs(x)))) AS g FROM base),
v AS (
  SELECT vec_id, label,
         list_transform(e, x -> floor(x / (CASE WHEN g > 0 THEN g / 127.0 ELSE 1.0 END) + 0.5)::INTEGER) AS codes
  FROM base, gmax
)"""

JL_PROJECT_SQL = f"""
WITH {_GLOBAL_CODES_CTES}
SELECT vec_id,
       u.p::BIGINT AS dim,
       (list_sum(list_transform(range(1, len(codes) + 1), i ->
          codes[i]::BIGINT *
          (CASE WHEN ('0x' || substr(md5('jl:' || u.p::VARCHAR || ':' || (i - 1)::VARCHAR), 1, 15))::BIGINT % 2 = 0
                THEN 1 ELSE -1 END))))::BIGINT AS value
FROM v, unnest(range(0, 8)) AS u(p)
"""


# ---------------------------------------------------------------------------
# Nearest-centroid (Rocchio) classification: per-label integer-mean
# centroids, scan-side argmin assignment, resubstitution check.
# ---------------------------------------------------------------------------


def rocchio_classify_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    codes = SIM.quantize_embeddings_global(
        parallelize(table(spark, sf_dir, "embeddings"))
    ).select("vec_id", "label", "q_codes")
    return SIM.nearest_centroid_classify(codes)


ROCCHIO_CLASSIFY_SQL = f"""
WITH {_GLOBAL_CODES_CTES},
md AS (
  SELECT label AS cid, u.i - 1 AS pos,
         floor(sum(codes[u.i])::DOUBLE / count(*))::INT AS m
  FROM v, unnest(range(1, len(codes) + 1)) AS u(i)
  GROUP BY label, u.i
),
c AS (SELECT cid, list(m ORDER BY pos) AS codes FROM md GROUP BY cid),
fd AS (SELECT v.vec_id, v.label, c.cid, {_sd_dist('v.codes', 'c.codes')} AS d2 FROM v, c)
SELECT vec_id, label, cid AS predicted, d2 AS sq_dist, label = cid AS correct
FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM fd
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Label-separation report: class tightness vs nearest-other-centroid
# distance over the shared-scale integer codes.
# ---------------------------------------------------------------------------


def label_separation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    codes = SIM.quantize_embeddings_global(
        parallelize(table(spark, sf_dir, "embeddings"))
    ).select("vec_id", "label", "q_codes")
    return SIM.label_separation(codes)


LABEL_SEPARATION_SQL = f"""
WITH {_GLOBAL_CODES_CTES},
md AS (
  SELECT label AS cid, u.i - 1 AS pos,
         floor(sum(codes[u.i])::DOUBLE / count(*))::INT AS m
  FROM v, unnest(range(1, len(codes) + 1)) AS u(i)
  GROUP BY label, u.i
),
c AS (SELECT cid, list(m ORDER BY pos) AS codes FROM md GROUP BY cid),
d AS (SELECT v.vec_id, v.label, c.cid, {_sd_dist('v.codes', 'c.codes')} AS d2 FROM v, c),
per_vec AS (
  SELECT vec_id, label,
         min(CASE WHEN cid = label THEN d2 END) AS intra,
         min(CASE WHEN cid <> label THEN d2 END) AS other
  FROM d GROUP BY vec_id, label
)
SELECT label,
       count(*)::BIGINT AS n,
       sum(intra)::BIGINT::DOUBLE / count(*) AS mean_intra_sq,
       sum(other)::BIGINT::DOUBLE / count(*) AS mean_other_sq,
       round((sum(other)::BIGINT::DOUBLE / count(*)) / (sum(intra)::BIGINT::DOUBLE / count(*)), 4) AS separation
FROM per_vec GROUP BY label
"""


# ---------------------------------------------------------------------------
# Naive Bayes language classification: train on 3/4 of the corpus,
# classify the held-out quarter; quantized-log integer scores make
# the whole model oracle-replayable.
# ---------------------------------------------------------------------------


def nb_classify_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallelize(table(spark, sf_dir, "documents"))
    train = docs.filter(F.col("doc_id") % 4 != 0).select("doc_id", "lang", "text")
    test = docs.filter(F.col("doc_id") % 4 == 0).select("doc_id", "lang", "text")
    return SEL.nb_train_classify(train, test)


_L2Q = "(length(format('{{:b}}', {x})) - 1)::BIGINT"

NB_CLASSIFY_SQL = f"""
WITH trf AS (
  SELECT DISTINCT doc_id, lang, {_MD5I.format(x='t')} % 4096 AS feature
  FROM (SELECT doc_id, lang, {_UNIGRAMS} AS t FROM documents WHERE doc_id % 4 <> 0)
), model AS (
  SELECT lang AS lab, feature, count(*) AS ct FROM trf GROUP BY lang, feature
), totals AS (SELECT lab, sum(ct)::BIGINT AS tot FROM model GROUP BY lab),
priors AS (
  SELECT lang AS lab, count(*) AS prior FROM documents WHERE doc_id % 4 <> 0 GROUP BY lang
), labs AS (
  SELECT t.lab, {_L2Q.format(x='t.tot + 1')} AS ltot, {_L2Q.format(x='p.prior + 1')} AS lprior
  FROM totals t JOIN priors p ON p.lab = t.lab
), w AS (
  SELECT lab, feature, {_L2Q.format(x='ct + 1')} AS lct FROM model
), tef AS (
  SELECT DISTINCT doc_id, {_MD5I.format(x='t')} % 4096 AS feature
  FROM (SELECT doc_id, {_UNIGRAMS} AS t FROM documents WHERE doc_id % 4 = 0)
), scored AS (
  SELECT f.doc_id, l.lab,
         (sum(coalesce(w.lct, 0) - l.ltot) + min(l.lprior))::BIGINT AS score
  FROM tef f
  CROSS JOIN labs l
  LEFT JOIN w ON w.lab = l.lab AND w.feature = f.feature
  GROUP BY f.doc_id, l.lab
), best AS (
  SELECT doc_id, lab AS predicted, score FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lab) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT b.doc_id, d.lang AS label, b.predicted, b.score, d.lang = b.predicted AS correct
FROM best b JOIN documents d ON d.doc_id = b.doc_id
"""


# ---------------------------------------------------------------------------
# IVF-gated MMR: the production retrieval path composed — coarse
# integer IVF cells gate the candidates (nprobe=3 of ~20 cells per
# query), then the greedy diversity rerank runs ONLY over survivors.
# Every stage integer-exact; the oracle replays cells, probes, gated
# candidates, and all 5 greedy steps.
# ---------------------------------------------------------------------------


def ivf_mmr_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import _cent_rows, _nearest, _seeds, _sq_dist, mmr_rerank_pairs

    codes = SIM.quantize_embeddings_global(
        parallelize(table(spark, sf_dir, "embeddings"))
    ).select("vec_id", "q_codes")
    queries = codes.filter(F.col("vec_id") < 3)
    corpus = codes.filter(F.col("vec_id") >= 3)
    cc = corpus.filter(_seeds("vec_id", 25, 100)).select(
        F.col("vec_id").alias("_cid"), F.col("q_codes").alias("_cv")
    )
    assigned = _nearest(corpus, cc, "q_codes").select(
        F.col("vec_id").alias("did"),
        F.col("_cid").alias("cell"),
        F.col("q_codes").alias("d_codes"),
    )
    probes = (
        queries.crossJoin(F.broadcast(_cent_rows(cc)))
        .select(
            F.col("vec_id").alias("qid"),
            F.col("q_codes"),
            F.explode(
                F.slice(
                    F.array_sort(
                        F.transform(
                            F.col("_cents"),
                            lambda c: F.struct(
                                _sq_dist(F.col("q_codes"), c["_cv"]).alias("_d2"),
                                c["_cid"].alias("_cid"),
                            ),
                        )
                    ),
                    1,
                    3,
                )
            ).alias("_p"),
        )
        .select("qid", "q_codes", F.col("_p._cid").alias("cell"))
    )
    rel = F.aggregate(
        F.zip_with(F.col("q_codes"), F.col("d_codes"), lambda x, y: x.cast("long") * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cand = (
        probes.join(assigned, "cell")
        .withColumn("rel", rel)
        .select("qid", "did", "rel", "d_codes")
    )
    return mmr_rerank_pairs(cand, k=5, rel_w=2, div_w=1)


def _ivf_mmr_cand_ctes() -> list[str]:
    dist = (
        "(list_sum(list_transform(range(1, len({a}) + 1), "
        "i -> ({a}[i] - {b}[i])::BIGINT * ({a}[i] - {b}[i])::BIGINT)))::BIGINT"
    )
    dot = (
        "(list_sum(list_transform(range(1, len({a}) + 1), "
        "i -> {a}[i]::BIGINT * {b}[i]::BIGINT)))::BIGINT"
    )
    return [
        "base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)",
        "gmax AS (SELECT max(list_max(list_transform(e, x -> abs(x)))) AS g FROM base)",
        (
            "v AS (SELECT vec_id, list_transform(e, x -> floor(x / "
            "(CASE WHEN g > 0 THEN g / 127.0 ELSE 1.0 END) + 0.5)::INTEGER) AS codes "
            "FROM base, gmax)"
        ),
        "q AS (SELECT vec_id AS qid, codes AS qc FROM v WHERE vec_id < 3)",
        "corp AS (SELECT vec_id AS did, codes AS dc FROM v WHERE vec_id >= 3)",
        (
            "cc AS (SELECT did AS ccid, dc AS ccv FROM corp "
            "WHERE did % 25 = 0 AND did < 2500)"
        ),
        (
            "cellassign AS MATERIALIZED (SELECT did, dc, ccid AS cell FROM ("
            f"SELECT corp.did, corp.dc, cc.ccid, {dist.format(a='corp.dc', b='cc.ccv')} AS d2, "
            "row_number() OVER (PARTITION BY corp.did ORDER BY "
            f"{dist.format(a='corp.dc', b='cc.ccv')}, cc.ccid) AS rn "
            "FROM corp, cc) WHERE rn = 1)"
        ),
        (
            "qprobe AS MATERIALIZED (SELECT qid, qc, ccid AS cell FROM ("
            f"SELECT q.qid, q.qc, cc.ccid, {dist.format(a='q.qc', b='cc.ccv')} AS d2, "
            "row_number() OVER (PARTITION BY q.qid ORDER BY "
            f"{dist.format(a='q.qc', b='cc.ccv')}, cc.ccid) AS rn "
            "FROM q, cc) WHERE rn <= 3)"
        ),
        (
            "cand AS MATERIALIZED (SELECT p.qid, a.did, "
            f"{dot.format(a='p.qc', b='a.dc')} AS rel, a.dc "
            "FROM qprobe p JOIN cellassign a ON a.cell = p.cell)"
        ),
    ]


IVF_MMR_SQL = _mmr_sql(5, 2, 1, cand_ctes=_ivf_mmr_cand_ctes())


# ---------------------------------------------------------------------------
# Contrastive triplet mining: nearest same-label positive + nearest
# different-label hard negative per anchor, margin as difficulty.
# ---------------------------------------------------------------------------


def contrastive_triplets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = parallelize(table(spark, sf_dir, "embeddings"))
    return SIM.contrastive_triplets(emb, emb.filter(F.col("vec_id") < 5))


CONTRASTIVE_TRIPLETS_SQL = """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e, label FROM embeddings
), q AS (
  SELECT vec_id AS anchor_id, e AS qv, label AS qlabel FROM v WHERE vec_id < 5
), scored AS (
  SELECT q.anchor_id, v.vec_id AS nid, v.label = q.qlabel AS same,
         CASE WHEN sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(e, e)) > 0
              THEN list_dot_product(qv, e)
                   / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(e, e)))
              ELSE 0.0 END AS score
  FROM v CROSS JOIN q
  WHERE v.vec_id <> q.anchor_id
), best AS (
  SELECT anchor_id, nid, same, score FROM (
    SELECT *, row_number() OVER (PARTITION BY anchor_id, same ORDER BY score DESC, nid) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT p.anchor_id,
       p.nid AS positive_id, p.score AS pos_score,
       n.nid AS negative_id, n.score AS neg_score,
       p.score - n.score AS margin
FROM best p JOIN best n ON n.anchor_id = p.anchor_id AND p.same AND NOT n.same
"""


# ---------------------------------------------------------------------------
# Deterministic per-epoch training shuffle (permutation + balanced
# shards). The oracle replays the salted-md5 permutation in one
# window — Spark side runs it as a distributed range sort
# (rank.global_rank), so the green hash proves the two-phase
# distributed rank equals the single global ORDER BY.
# ---------------------------------------------------------------------------


def epoch_shuffle_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallelize(table(spark, sf_dir, "documents")).select("doc_id")
    return SA.epoch_shuffle(docs, epoch=7, n_shards=8)


EPOCH_SHUFFLE_SQL = f"""
WITH keyed AS (
  SELECT doc_id, {_MD5I.format(x="'epoch7:' || doc_id::VARCHAR")} AS k
  FROM documents
)
SELECT doc_id,
       row_number() OVER (ORDER BY k, doc_id) AS epoch_pos,
       (row_number() OVER (ORDER BY k, doc_id) - 1) % 8 AS shard
FROM keyed
"""


# ---------------------------------------------------------------------------
# Length-bucketed batching: power-of-two token-length bands, salted
# shuffle within band, fixed-size batches, exact integer padding
# economics per batch.
# ---------------------------------------------------------------------------


def length_bucket_batches_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallelize(table(spark, sf_dir, "documents")).select("doc_id", "text")
    return SA.length_bucket_batches(docs, batch_size=16, salt="batch")


LENGTH_BUCKET_BATCHES_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         len({_TOKS}) AS nt,
         {_MD5I.format(x="'batch:' || doc_id::VARCHAR")} AS k
  FROM documents
), bucketed AS (
  -- floor(log2(nt)) via binary length: engine-exact, no libm
  SELECT doc_id, nt, k,
         CASE WHEN nt > 0 THEN length(format('{{:b}}', nt)) - 1 ELSE -1 END AS bucket
  FROM toks
), ranked AS (
  SELECT *, row_number() OVER (ORDER BY bucket, k, doc_id) AS rnk FROM bucketed
), starts AS (
  SELECT bucket, min(rnk) AS start FROM ranked GROUP BY bucket
), batched AS (
  SELECT r.bucket, r.nt, (r.rnk - s.start) // 16 AS batch_id
  FROM ranked r JOIN starts s ON r.bucket = s.bucket
)
SELECT bucket, batch_id,
       count(*) AS n_examples,
       max(nt)::BIGINT AS max_tokens,
       sum(nt)::BIGINT AS sum_tokens,
       (count(*) * max(nt) - sum(nt))::BIGINT AS waste_tokens
FROM batched
GROUP BY bucket, batch_id
"""


# ---------------------------------------------------------------------------
# SemDeDup with IVF-style TWO-LEVEL assignment — the 100-TB shape:
# with cell_target making K ∝ N, flat Lloyd assign is O(N·K·d)
# (quadratic); the frozen-coarse-quantizer two-level assign is
# O(N·√K·d). The oracle replays the whole chain: coarse pick by
# centroid rank, frozen centroid grouping, per-point frozen coarse
# assign, grouped fine argmin, integer means, inherited groups,
# final grouped assign, ε-prune. MATERIALIZED hints stop DuckDB
# from inlining the multiply-referenced CTEs (round-5 lesson).
# ---------------------------------------------------------------------------


def semdedup_ivf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb_with_clones(parallelize(table(spark, sf_dir, "embeddings")))
    return SIM.semdedup(
        emb,
        k_every=25,
        iters=1,
        eps_num=95,
        eps_den=100,
        cell_target=250,
        coarse_stride=3,
    )


SEMDEDUP_IVF_SQL = f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
  UNION ALL
  SELECT vec_id + 10000, embedding::DOUBLE[] FROM embeddings WHERE vec_id % 5 = 0
),
gmax AS (SELECT max(list_max(list_transform(e, x -> abs(x)))) AS g FROM base),
v AS MATERIALIZED (
  SELECT vec_id,
         list_transform(e, x -> floor(x / (CASE WHEN g > 0 THEN g / 127.0 ELSE 1.0 END) + 0.5)::INTEGER) AS codes
  FROM base, gmax
),
kcap AS (SELECT greatest(8, CAST(ceil(count(*) / 250.0) AS BIGINT)) AS kc FROM base),
c0 AS MATERIALIZED (
  SELECT vec_id AS cid, codes FROM v, kcap WHERE vec_id % 25 = 0 AND vec_id < 25 * kc
),
coarse AS MATERIALIZED (
  SELECT cid AS gid, codes AS gcodes
  FROM (SELECT *, row_number() OVER (ORDER BY cid) AS rn FROM c0)
  WHERE (rn - 1) % 3 = 0
),
cgrp AS MATERIALIZED (
  SELECT cid, gid FROM (
    SELECT c.cid, g.gid,
           row_number() OVER (PARTITION BY c.cid
                              ORDER BY {_sd_dist('c.codes', 'g.gcodes')}, g.gid) AS rn
    FROM c0 c, coarse g
  ) WHERE rn = 1
),
pg AS MATERIALIZED (
  SELECT vec_id, gid FROM (
    SELECT v.vec_id, g.gid,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {_sd_dist('v.codes', 'g.gcodes')}, g.gid) AS rn
    FROM v, coarse g
  ) WHERE rn = 1
),
a1 AS (
  SELECT vec_id, codes, cid FROM (
    SELECT v.vec_id, v.codes, c.cid,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {_sd_dist('v.codes', 'c.codes')}, c.cid) AS rn
    FROM v
    JOIN pg ON pg.vec_id = v.vec_id
    JOIN cgrp cg ON cg.gid = pg.gid
    JOIN c0 c ON c.cid = cg.cid
  ) WHERE rn = 1
),
m1 AS (
  SELECT cid, u.i - 1 AS pos, floor(sum(codes[u.i])::DOUBLE / count(*))::INT AS m
  FROM a1, unnest(range(1, len(codes) + 1)) AS u(i)
  GROUP BY cid, u.i
),
c1 AS MATERIALIZED (SELECT cid, list(m ORDER BY pos) AS codes FROM m1 GROUP BY cid),
fd AS (
  SELECT v.vec_id, v.codes, c.cid,
         row_number() OVER (PARTITION BY v.vec_id
                            ORDER BY {_sd_dist('v.codes', 'c.codes')}, c.cid) AS rn
  FROM v
  JOIN pg ON pg.vec_id = v.vec_id
  JOIN cgrp cg ON cg.gid = pg.gid
  JOIN c1 c ON c.cid = cg.cid
),
sf AS MATERIALIZED (
  SELECT vec_id, codes, cid AS cluster_id FROM fd WHERE rn = 1
),
pruned AS (
  SELECT DISTINCT b.vec_id
  FROM sf a JOIN sf b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  WHERE {_sd_dot('a.codes', 'b.codes')} > 0
    AND {_sd_dot('a.codes', 'b.codes')} * {_sd_dot('a.codes', 'b.codes')} * 10000
        >= 9025 * {_sd_dot('a.codes', 'a.codes')} * {_sd_dot('b.codes', 'b.codes')}
)
SELECT s.vec_id, s.cluster_id, p.vec_id IS NULL AS kept
FROM sf s LEFT JOIN pruned p ON p.vec_id = s.vec_id
"""


# ---------------------------------------------------------------------------
# Round 7: embedding-space curation probes.
#
# embedding_outliers — global-centroid outlier scoring (the
# farthest-from-corpus quality filter): integer floor-mean centroid,
# exact bigint squared distances, top-100 by distance.
#
# ivf_cell_profile — clustering/IVF index health (cell-size skew),
# over the EXACT kmeans_clusters assignment so the oracle can
# re-embed KMEANS_CLUSTERS_SQL verbatim.
# ---------------------------------------------------------------------------


def embedding_outliers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    codes = SIM.quantize_embeddings_global(
        parallelize(table(spark, sf_dir, "embeddings"))
    ).select("vec_id", "q_codes")
    return SIM.centroid_outliers(codes, top_n=100)


EMBEDDING_OUTLIERS_SQL = f"""
WITH {_GLOBAL_CODES_CTES},
m AS (
  SELECT u.i AS dim1,
         floor(sum(codes[u.i])::DOUBLE / count(*))::INT AS mu
  FROM v, unnest(range(1, len(codes) + 1)) AS u(i)
  GROUP BY u.i
),
d AS (
  SELECT vec_id,
         sum((v.codes[m.dim1]::BIGINT - m.mu) * (v.codes[m.dim1]::BIGINT - m.mu))::BIGINT AS sq_dist
  FROM v, m
  GROUP BY vec_id
),
r AS (
  SELECT vec_id, sq_dist,
         row_number() OVER (ORDER BY sq_dist DESC, vec_id) AS rank
  FROM d
)
SELECT vec_id, sq_dist, rank::BIGINT AS rank FROM r WHERE rank <= 100
"""


def ivf_cell_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import (
        cluster_size_profile,
        kmeans_codes,
        quantize_embeddings,
    )

    emb = parallelize(table(spark, sf_dir, "embeddings"))
    codes = quantize_embeddings(emb).select("vec_id", "q_codes")
    # EXACT same config as the registered kmeans_clusters query so
    # the oracle re-embeds its proven SQL
    assigned = kmeans_codes(codes, k_every=50, iters=2, k_cap=100)
    return cluster_size_profile(assigned)


IVF_CELL_PROFILE_SQL = f"""
WITH km AS MATERIALIZED ({KMEANS_CLUSTERS_SQL}),
cells AS (
  SELECT cluster_id, count(*) AS sz FROM km GROUP BY cluster_id
)
SELECT count(*)::BIGINT AS n_cells,
       sum(sz)::BIGINT AS n_points,
       min(sz)::BIGINT AS min_cell,
       max(sz)::BIGINT AS max_cell,
       (max(sz) * count(*))::DOUBLE / sum(sz) AS skew
FROM cells
"""


# ---------------------------------------------------------------------------
# Curriculum order — equal-population difficulty stages (token count
# as the difficulty proxy) with a deterministic within-stage shuffle.
# ---------------------------------------------------------------------------


def curriculum_order_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallelize(table(spark, sf_dir, "documents"))
    scored = docs.select(
        "doc_id", TS.token_count(F.col("text")).cast("bigint").alias("difficulty")
    )
    return SA.curriculum_order(scored, score_col="difficulty", n_stages=3, epoch=5)


CURRICULUM_ORDER_SQL = f"""
WITH scored AS (
  SELECT doc_id, len({_TOKS})::BIGINT AS s FROM documents
), ranked AS (
  SELECT doc_id, s,
         row_number() OVER (ORDER BY s, doc_id) AS rnk,
         count(*) OVER () AS n
  FROM scored
), staged AS (
  SELECT doc_id, ((rnk - 1) * 3) // n AS stage FROM ranked
), keyed AS (
  SELECT doc_id, stage,
         {_MD5I.format(x="'epoch5:' || doc_id::VARCHAR")} AS k
  FROM staged
)
SELECT doc_id, stage::BIGINT AS stage,
       row_number() OVER (ORDER BY stage, k, doc_id) AS curriculum_pos
FROM keyed
"""


# ---------------------------------------------------------------------------
# Mixture-epochs table: temperature weights → token budget → epochs
# per domain with the over-repetition cap (the "sampling prop. /
# epochs" table of a pretraining recipe).
# ---------------------------------------------------------------------------


def mixture_epochs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return SA.mixture_epochs(docs, "lang", budget=420_000, epoch_cap=2)


MIXTURE_EPOCHS_SQL = """
WITH per AS (
  SELECT lang, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS n_tokens
  FROM documents GROUP BY lang
), tot AS (
  SELECT sum(sqrt(n_tokens)) AS tw FROM per
), w AS (
  SELECT lang, n_docs, n_tokens, round(sqrt(n_tokens) / tw, 8) AS weight
  FROM per, tot
), t AS (
  SELECT *, floor(420000.0 * weight)::BIGINT AS target_tokens FROM w
)
SELECT lang, n_docs, n_tokens, weight, target_tokens,
       round(target_tokens::DOUBLE / n_tokens::DOUBLE, 4) AS epochs,
       least(target_tokens, 2 * n_tokens)::BIGINT AS capped_tokens
FROM t
"""


# ---------------------------------------------------------------------------
# DoReMi one-step domain reweighting (operators/select.py): hardness
# = rare-bigram mass (unknown rate under the corpus LM at
# min_count=32), multiplicative step discretized to bigint shifts.
# ---------------------------------------------------------------------------


def doremi_weights_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallelize(table(spark, sf_dir, "documents"))
    return SEL.doremi_weights(
        docs, "lang", uniform_mix_milli=100, eta_milli=4, exp_cap=8, min_count=32
    )


_BIGRAM_PERDOC = f"""tok AS (
  SELECT doc_id AS id, {_TOKS} AS toks FROM documents
), bgs AS (
  SELECT id, md5(toks[i] || ' ' || toks[i + 1]) AS bg
  FROM tok, unnest(range(1, greatest(len(toks) - 1, 0) + 1)) AS t(i)
), lm AS (
  SELECT bg, (length(format('{{{{:b}}}}', count(*))) - 1)::BIGINT AS ilog2
  FROM bgs GROUP BY bg HAVING count(*) >= {{min_count}}
), per_doc AS (
  SELECT b.id, count(*) AS n_bigrams,
         count(l.ilog2) AS known_bigrams,
         coalesce(sum(l.ilog2), 0)::BIGINT AS ilog2_sum
  FROM bgs b LEFT JOIN lm l USING (bg)
  GROUP BY b.id
)"""

DOREMI_WEIGHTS_SQL = f"""
WITH {_BIGRAM_PERDOC.format(min_count=32)},
docs2 AS (
  SELECT d.doc_id, d.lang,
         coalesce(p.n_bigrams, 0)::BIGINT AS nb,
         coalesce(p.known_bigrams, 0)::BIGINT AS kb
  FROM documents d LEFT JOIN per_doc p ON p.id = d.doc_id
), dom AS (
  SELECT lang, count(*)::BIGINT AS n_docs,
         sum(nb)::BIGINT AS sb, sum(nb - kb)::BIGINT AS su,
         (CASE WHEN sum(nb) > 0 THEN (1000 * sum(nb - kb)) // sum(nb)
               ELSE 0 END)::BIGINT AS loss_milli
  FROM docs2 GROUP BY lang
), corpus AS (
  SELECT count(*)::BIGINT AS k,
         (CASE WHEN sum(sb) > 0 THEN (1000 * sum(su)) // sum(sb)
               ELSE 0 END)::BIGINT AS cl
  FROM dom
), step AS (
  SELECT lang, n_docs, loss_milli,
         greatest(0, loss_milli - cl)::BIGINT AS excess_milli,
         least(greatest(0, loss_milli - cl) // 4, 8)::INT AS exponent, k
  FROM dom, corpus
), un AS (
  SELECT *, (n_docs * (1::BIGINT << exponent))::BIGINT AS unnorm FROM step
), tot AS (
  SELECT sum(unnorm)::BIGINT AS t FROM un
)
SELECT lang, n_docs, loss_milli, excess_milli, exponent,
       round(unnorm::DOUBLE / t::DOUBLE, 8) AS weight,
       round(0.9 * round(unnorm::DOUBLE / t::DOUBLE, 8) + 0.1 / k::DOUBLE, 8)
         AS mixed_weight
FROM un, tot
"""


# ---------------------------------------------------------------------------
# Length-bias diagnostic: per-language Spearman between doc length
# and LM predictability (operators/select.py::spearman_by_group over
# operators/rank.py::grouped_rank — no one-partition-per-group
# window anywhere).
# ---------------------------------------------------------------------------


def length_bias_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import lmscore as LM

    docs = parallelize(table(spark, sf_dir, "documents"))
    scored = LM.ngram_lm_score(docs.select("doc_id", "text"), min_count=2)
    joined = scored.select("doc_id", "score").join(
        docs.select("doc_id", "lang", "n_chars"), "doc_id"
    )
    return SEL.spearman_by_group(joined, "lang", "n_chars", "score")


LENGTH_BIAS_SQL = f"""
WITH {_BIGRAM_PERDOC.format(min_count=2)},
scored AS (
  SELECT d.doc_id, d.lang, d.n_chars,
         CASE WHEN coalesce(p.n_bigrams, 0) > 0
              THEN round(p.ilog2_sum::DOUBLE / p.n_bigrams::DOUBLE, 4)
              ELSE 0.0 END AS score
  FROM documents d LEFT JOIN per_doc p ON p.id = d.doc_id
), ranked AS (
  SELECT lang,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rx,
         row_number() OVER (PARTITION BY lang ORDER BY score, doc_id) AS ry
  FROM scored
)
SELECT lang, count(*)::BIGINT AS n,
       sum((rx - ry) * (rx - ry))::BIGINT AS sum_d2,
       CASE WHEN count(*) > 1 THEN
         round(1.0 - 6.0 * sum((rx - ry) * (rx - ry))::DOUBLE
               / (count(*)::DOUBLE * (count(*)::DOUBLE * count(*)::DOUBLE - 1.0)), 6)
       END AS spearman
FROM ranked GROUP BY lang
"""


# ---------------------------------------------------------------------------
# Corpus drift monitor (operators/textstats.py::distribution_drift):
# snapshot split = sources src0..src9 ('base') vs the rest ('cur'),
# log-free engine-exact drift metrics per language.
# ---------------------------------------------------------------------------


def corpus_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallelize(table(spark, sf_dir, "documents")).select(
        "lang",
        "text",
        F.when(F.length("source") == 4, "base").otherwise("cur").alias("snap"),
    )
    return TS.distribution_drift(docs)


CORPUS_DRIFT_SQL = f"""
WITH d AS (
  SELECT lang AS grp,
         CASE WHEN length(source) = 4 THEN 'base' ELSE 'cur' END AS snap,
         {_TOKS} AS toks
  FROM documents
), tk AS (
  SELECT grp, snap, {_MD5I.format(x='t')} AS t
  FROM (SELECT grp, snap, unnest(toks) AS t FROM d)
), cts AS (
  SELECT grp, t,
         sum(CASE WHEN snap = 'base' THEN 1 ELSE 0 END)::BIGINT AS a_ct,
         sum(CASE WHEN snap = 'cur' THEN 1 ELSE 0 END)::BIGINT AS b_ct
  FROM tk GROUP BY grp, t
), tot AS (
  SELECT grp, sum(a_ct)::BIGINT AS na, sum(b_ct)::BIGINT AS nb
  FROM cts GROUP BY grp
), micro AS (
  SELECT c.grp, c.a_ct, c.b_ct, t.na, t.nb,
         CASE WHEN t.na > 0 THEN (1000000 * c.a_ct) // t.na ELSE 0 END AS pa,
         CASE WHEN t.nb > 0 THEN (1000000 * c.b_ct) // t.nb ELSE 0 END AS pb
  FROM cts c JOIN tot t USING (grp)
)
SELECT grp AS lang,
       max(na)::BIGINT AS n_tokens_base,
       max(nb)::BIGINT AS n_tokens_cur,
       sum(CASE WHEN a_ct > 0 THEN 1 ELSE 0 END)::BIGINT AS vocab_base,
       sum(CASE WHEN b_ct > 0 THEN 1 ELSE 0 END)::BIGINT AS vocab_cur,
       sum(CASE WHEN a_ct > 0 AND b_ct > 0 THEN 1 ELSE 0 END)::BIGINT AS vocab_common,
       round(sum(CASE WHEN a_ct > 0 AND b_ct > 0 THEN 1 ELSE 0 END)::DOUBLE
             / (sum(CASE WHEN a_ct > 0 THEN 1 ELSE 0 END)
                + sum(CASE WHEN b_ct > 0 THEN 1 ELSE 0 END)
                - sum(CASE WHEN a_ct > 0 AND b_ct > 0 THEN 1 ELSE 0 END))::DOUBLE,
             6) AS jaccard,
       (sum(abs(pa - pb))::BIGINT // 2)::BIGINT AS tv_micro,
       sum(CASE WHEN a_ct = 0 THEN pb ELSE 0 END)::BIGINT AS new_mass_micro
FROM micro GROUP BY grp
"""


# ---------------------------------------------------------------------------
# Heaps-law vocabulary growth curve (operators/textstats.py::
# vocab_growth): distinct-token count after each tenth of the corpus
# in id order — the vocab-sizing / OOV-tail diagnostic.
# ---------------------------------------------------------------------------


def vocab_growth_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallelize(table(spark, sf_dir, "documents")).select("doc_id", "text")
    return TS.vocab_growth(docs, n_buckets=10)


VOCAB_GROWTH_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS}) AS t FROM documents
), tk AS (
  SELECT doc_id, {_MD5I.format(x='t')} AS t FROM tok
), frst AS (
  SELECT t, min(doc_id) AS first_doc FROM tk GROUP BY t
), ranked AS (
  SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rnk
  FROM (SELECT DISTINCT doc_id FROM documents)
), n AS (
  SELECT max(rnk)::BIGINT AS n FROM ranked
), dec AS (
  SELECT doc_id, (((rnk - 1) * 10) // n + 1)::BIGINT AS bucket FROM ranked, n
), docs_per AS (
  SELECT bucket, count(*)::BIGINT AS bdocs FROM dec GROUP BY bucket
), new_per AS (
  SELECT d.bucket, count(*)::BIGINT AS new_tokens
  FROM frst f JOIN dec d ON f.first_doc = d.doc_id GROUP BY d.bucket
)
SELECT p.bucket,
       (sum(p.bdocs) OVER (ORDER BY p.bucket))::BIGINT AS n_docs,
       (sum(coalesce(np.new_tokens, 0)) OVER (ORDER BY p.bucket))::BIGINT AS vocab_size,
       coalesce(np.new_tokens, 0)::BIGINT AS new_tokens
FROM docs_per p LEFT JOIN new_per np USING (bucket)
"""


# ---------------------------------------------------------------------------
# SFT chat-template rendering (operators/select.py::render_sft):
# consecutive-doc pairs stand in for (prompt, response); the loss-
# mask boundary (prompt_chars / prompt_tokens) is computed on the
# rendered prefix so labels −100 end exactly where the assistant
# span begins.
# ---------------------------------------------------------------------------


def sft_render_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    a = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.expr("doc_id div 2").alias("pair_id"),
        F.col("doc_id").alias("_d"),
        F.col("text").alias("prompt"),
    )
    b = docs.select((F.col("doc_id") - 1).alias("_m"), F.col("text").alias("response"))
    pairs = a.join(b, F.col("_d") == F.col("_m")).select(
        "pair_id", "prompt", "response"
    )
    return SEL.render_sft(pairs, "You are a helpful assistant.")


def _sql_toks(col: str) -> str:
    return _TOKS.replace("text", col)


SFT_RENDER_SQL = f"""
WITH a AS (
  SELECT doc_id // 2 AS pair_id, doc_id, text AS prompt
  FROM documents WHERE doc_id % 2 = 0
), b AS (
  SELECT doc_id - 1 AS m, text AS response FROM documents
), p AS (
  SELECT pair_id,
         '<|system|>' || chr(10) || 'You are a helpful assistant.' || chr(10)
           || '<|user|>' || chr(10) || prompt || chr(10)
           || '<|assistant|>' AS core,
         response
  FROM a JOIN b ON a.doc_id = b.m
), r AS (
  SELECT pair_id, core, core || chr(10) AS prefix,
         core || chr(10) || response || '<|end|>' AS rendered
  FROM p
)
SELECT pair_id, rendered,
       length(prefix)::BIGINT AS prompt_chars,
       length(rendered)::BIGINT AS total_chars,
       len({_sql_toks('core')})::BIGINT AS prompt_tokens,
       len({_sql_toks('rendered')})::BIGINT AS total_tokens
FROM r
"""


# ---------------------------------------------------------------------------
# Cluster-balanced subsampling: waterfill quotas over the proven
# kmeans cells + a deterministic salted-md5 draw within each cell.
# The oracle re-embeds KMEANS_CLUSTERS_SQL and the waterfill bracket
# chain (ext_q._waterfill_sql) verbatim over the cell sizes.
# ---------------------------------------------------------------------------


def cluster_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-preserving subsample (operators/sampling.py::
    cluster_balanced_sample): budget 200 spread max-min-fairly across
    the same kmeans cells as the registered kmeans_clusters query."""
    emb = parallelize(table(spark, sf_dir, "embeddings"))
    codes = SIM.quantize_embeddings(emb).select("vec_id", "q_codes")
    assigned = SIM.kmeans_codes(codes, k_every=50, iters=2, k_cap=100)
    return SA.cluster_balanced_sample(assigned, budget=200)


from .ext_q import _waterfill_sql  # noqa: E402  (shared oracle builder)

CLUSTER_SAMPLE_SQL = f"""
WITH km AS MATERIALIZED ({KMEANS_CLUSTERS_SQL}),
wf AS ({_waterfill_sql(
    "SELECT cluster_id AS grp, count(*)::BIGINT AS n_docs FROM km GROUP BY 1", 200)}),
rk AS (
  SELECT vec_id, cluster_id,
         row_number() OVER (PARTITION BY cluster_id
           ORDER BY {_MD5I.format(x="'cbs:' || vec_id::VARCHAR")}, vec_id
         )::BIGINT AS pick_rank
  FROM km
)
SELECT r.vec_id, r.cluster_id, w.n_docs AS cell_n, w.alloc, r.pick_rank
FROM rk r JOIN wf w ON r.cluster_id = w.grp
WHERE r.pick_rank <= w.alloc
"""


def grouped_priority_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language weighted draw (operators/sampling.py::
    grouped_priority_sample): top-5 docs per lang by the integer
    Duffield-Lund-Thorup priority with n_chars weights."""
    docs = parallelize(
        table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    )
    return SA.grouped_priority_sample(docs, "lang", "n_chars", k=5)


GROUPED_PRIORITY_SAMPLE_SQL = f"""
WITH pri AS (
  SELECT lang AS grp, doc_id, n_chars::BIGINT AS weight,
         (n_chars::BIGINT * {1 << 30})
           // (({_MD5I.format(x="'gpri:' || doc_id::VARCHAR")} % {1 << 30}) + 1)
           AS priority
  FROM documents
), ranked AS (
  SELECT grp, doc_id, weight, priority,
         row_number() OVER (
           PARTITION BY grp ORDER BY priority DESC, doc_id
         ) AS pick_rank
  FROM pri
)
SELECT grp, doc_id, weight, priority, pick_rank
FROM ranked WHERE pick_rank <= 5
"""


# ---------------------------------------------------------------------------
# Preference-label consistency audit: two deterministic "judges"
# (content length on adjacent doc pairs; a salted-md5 coin on skip
# pairs and on every 5th adjacent pair) disagree by construction, so
# the relation contains real 2-cycles and intransitive triangles for
# the audit to find. The oracle replays both judges and the
# cycle-join chain exactly.
# ---------------------------------------------------------------------------


def preference_cycles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import md5_int

    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    a, b = docs.alias("a"), docs.alias("b")
    by_len = (F.col("a.n_chars") > F.col("b.n_chars")) | (
        (F.col("a.n_chars") == F.col("b.n_chars"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    by_coin = (
        md5_int(
            F.concat(
                F.lit("j2:"),
                F.col("a.doc_id").cast("string"),
                F.lit(":"),
                F.col("b.doc_id").cast("string"),
            )
        )
        % 2
        == 0
    )

    def judged(pairs, cond):
        return pairs.select(
            F.when(cond, F.col("a.doc_id")).otherwise(F.col("b.doc_id")).alias("winner_id"),
            F.when(cond, F.col("b.doc_id")).otherwise(F.col("a.doc_id")).alias("loser_id"),
        )

    adj = a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
    skip = a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 2)
    prefs = (
        judged(adj, by_len)
        .unionAll(judged(skip, by_coin))
        .unionAll(judged(adj.filter(F.col("a.doc_id") % 5 == 0), by_coin))
    )
    return SEL.preference_cycles(prefs)


PREFERENCE_CYCLES_SQL = f"""
WITH d AS (SELECT doc_id, n_chars FROM documents),
adj AS (
  SELECT a.doc_id AS ai, a.n_chars AS ac, b.doc_id AS bi, b.n_chars AS bc
  FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
), skip AS (
  SELECT a.doc_id AS ai, b.doc_id AS bi
  FROM d a JOIN d b ON b.doc_id = a.doc_id + 2
), ja AS (
  SELECT CASE WHEN ac > bc OR (ac = bc AND ai < bi) THEN ai ELSE bi END AS w,
         CASE WHEN ac > bc OR (ac = bc AND ai < bi) THEN bi ELSE ai END AS l
  FROM adj
), jb AS (
  SELECT CASE WHEN {_MD5I.format(x="'j2:' || ai::VARCHAR || ':' || bi::VARCHAR")} % 2 = 0
              THEN ai ELSE bi END AS w,
         CASE WHEN {_MD5I.format(x="'j2:' || ai::VARCHAR || ':' || bi::VARCHAR")} % 2 = 0
              THEN bi ELSE ai END AS l
  FROM skip
), jb1 AS (
  SELECT CASE WHEN {_MD5I.format(x="'j2:' || ai::VARCHAR || ':' || bi::VARCHAR")} % 2 = 0
              THEN ai ELSE bi END AS w,
         CASE WHEN {_MD5I.format(x="'j2:' || ai::VARCHAR || ':' || bi::VARCHAR")} % 2 = 0
              THEN bi ELSE ai END AS l
  FROM adj WHERE ai % 5 = 0
), p AS (
  SELECT DISTINCT w, l FROM (
    SELECT * FROM ja UNION ALL SELECT * FROM jb UNION ALL SELECT * FROM jb1
  ) WHERE w <> l
), two AS (
  SELECT '2cycle' AS kind, x.w AS a, x.l AS b, 0::BIGINT AS c
  FROM p x JOIN p y ON x.w = y.l AND x.l = y.w
  WHERE x.w < x.l
), three AS (
  SELECT '3cycle' AS kind, p1.w AS a, p2.w AS b, p3.w AS c
  FROM p p1
  JOIN p p2 ON p1.l = p2.w
  JOIN p p3 ON p2.l = p3.w AND p3.l = p1.w
  WHERE p1.w < p2.w AND p1.w < p3.w AND p2.w <> p3.w
)
SELECT * FROM two UNION ALL SELECT * FROM three
"""
