"""Sparse lexical similarity: TF-IDF weighted cosine over an
inverted index — the token-space complement to the dense-embedding
near-dup path (`operators/similarity.py`) and the scale-out
generalization of the reference's duplicate guard
(reference docs/setup.md:104-112).

Where MinHash (`operators/dedup.py`) approximates Jaccard over
shingle *sets*, TF-IDF cosine weighs *term frequencies*, so it
catches near-dups that differ by boilerplate (high-df terms are
down-weighted or pruned outright) — the standard first-pass dedup
for web-scale training corpora.

Scale design (100 TB):
- The all-pairs O(n²) problem is replaced by an inverted-index
  self-join: only documents SHARING a surviving term are ever
  paired. Join fan-out per term is df², so the `max_df_ratio` prune
  (drop terms appearing in more than that fraction of the corpus —
  stopwords and boilerplate) is the knob that bounds the shuffle:
  with df capped at d, the candidate set is Σ O(d²) per term
  instead of O(n²).
- Term frequencies and document norms are plain map-side-combinable
  groupBy sums — one shuffle each, both on keys (doc, term) with
  near-uniform cardinality.
- Everything is integer arithmetic until the final division: idf is
  quantized to a bigint (`idf_q = round(IDF_SCALE * (ln((N+1)/(df+1)) + 1))`)
  so dot products and norms are EXACT bigint sums — order-independent
  across partitions and bit-identical in the DuckDB oracle. Doubles
  appear only in the last `dot / (|a|·|b|)` step, a deterministic
  single operation per pair.
- No Python anywhere: tokenize/explode/sum/join are all codegen'd
  JVM expressions.

Overflow budget: idf_q ≤ IDF_SCALE·(ln(N+1)+1) ≈ 1e5·IDF_SCALE at
N=1e9 docs; with tf ≤ 1e4 a weight fits in ~2e9·IDF_SCALE, and a
per-doc sum of squares stays under 2^63 for documents up to ~1e5
distinct terms at the default IDF_SCALE=1e4.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..pin import pin
from .textstats import tokens

IDF_SCALE = 10_000


def tfidf_postings(
    docs: DataFrame,
    n_docs: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df_ratio: tuple[int, int] = (1, 2),
) -> DataFrame:
    """Inverted-index postings `(id, token, w, norm_sq)` with
    integer-quantized TF-IDF weights.

    When ``n_docs`` is None (the default) the corpus size is derived
    IN-PLAN: a one-row count aggregate broadcast-cross-joined into
    the idf derivation. That keeps plan construction action-free and
    the whole query single-pass/lazy — an explicit int is accepted
    for callers that already know N. idf uses the smoothed form
    ln((N+1)/(df+1)) + 1, quantized to bigint at IDF_SCALE.
    Terms with df/N > max_df_ratio (a num/den integer pair, so the
    cutoff compare is exact integer math in both engines) are pruned
    (see module docstring).
    """
    num, den = max_df_ratio
    tf = (
        docs.select(F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_tbl = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    if n_docs is None:
        # one-row broadcast: scans only a pruned-to-nothing column
        # set (count(1)), never materialized on the driver
        nn = docs.agg(F.count(F.lit(1)).cast("bigint").alias("_n_docs"))
        df_tbl = df_tbl.crossJoin(F.broadcast(nn))
        n_col = F.col("_n_docs")
    else:
        n_col = F.lit(n_docs).cast("bigint")
    idf = (
        df_tbl.filter(F.col("df") * F.lit(den) <= n_col * F.lit(num))
        .select(
            "token",
            F.round(
                F.lit(float(IDF_SCALE))
                * (
                    F.log(
                        (n_col + F.lit(1)).cast("double")
                        / (F.col("df") + F.lit(1)).cast("double")
                    )
                    + F.lit(1.0)
                )
            )
            .cast("bigint")
            .alias("idf_q"),
        )
    )
    w = tf.join(idf, "token").select(
        "id", "token", (F.col("tf") * F.col("idf_q")).alias("w")
    )
    norms = w.groupBy("id").agg(F.sum(F.col("w") * F.col("w")).alias("norm_sq"))
    return w.join(norms, "id")


def tfidf_cosine_pairs(
    docs: DataFrame,
    n_docs: int | None = None,
    min_sim: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df_ratio: tuple[int, int] = (1, 5),
) -> DataFrame:
    """Near-duplicate pairs `(id_a, id_b, shared_terms, sim)` with
    TF-IDF cosine ≥ min_sim, via inverted-index self-join (pairs are
    generated per shared term, then the partial dot products are
    summed — one shuffle on the pair key).

    The postings are pinned with a LAZY ``persist()`` — both sides of
    the self-join read them, and recomputing the tokenize+tf+idf
    subtree doubles the dominant cost. ``persist`` (unlike
    ``localCheckpoint``, whose ``queryExecution.toRdd`` plans and
    RUNS the query stages under AQE even with ``eager=False``) keeps
    plan construction action-free: the first action populates the
    cache and the second side reuses it; AQE additionally reuses the
    shuffle exchange across the self-join."""
    p = tfidf_postings(docs, n_docs, id_col, text_col, max_df_ratio).persist()
    left = p.select(
        F.col("id").alias("id_a"),
        "token",
        F.col("w").alias("w_a"),
        F.col("norm_sq").alias("nsq_a"),
    )
    right = p.select(
        F.col("id").alias("id_b"),
        "token",
        F.col("w").alias("w_b"),
        F.col("norm_sq").alias("nsq_b"),
    )
    pairs = (
        left.join(right, "token")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "nsq_a", "nsq_b")
        .agg(
            F.sum(F.col("w_a") * F.col("w_b")).alias("dot"),
            F.count(F.lit(1)).alias("shared_terms"),
        )
    )
    sim = F.round(
        F.col("dot").cast("double")
        / (F.sqrt(F.col("nsq_a").cast("double")) * F.sqrt(F.col("nsq_b").cast("double"))),
        4,
    )
    return (
        pairs.select("id_a", "id_b", "shared_terms", sim.alias("sim"))
        .filter(F.col("sim") >= F.lit(min_sim))
    )


def tfidf_top_terms(
    docs: DataFrame,
    n_docs: int | None = None,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df_ratio: tuple[int, int] = (1, 2),
) -> DataFrame:
    """Keyword extraction: top-k terms per document by TF-IDF weight
    (rank ties broken lexically — deterministic). One window over the
    postings, partitioned by doc — no extra shuffle beyond the
    postings build."""
    from pyspark.sql import Window

    p = tfidf_postings(docs, n_docs, id_col, text_col, max_df_ratio)
    win = Window.partitionBy("id").orderBy(F.col("w").desc(), F.col("token"))
    return (
        p.select("id", "token", "w", F.row_number().over(win).alias("rank"))
        .filter(F.col("rank") <= k)
        .select(F.col("id").alias(id_col), "token", "w", "rank")
    )


def bm25_rank(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df_ratio: tuple[int, int] = (1, 2),
    pin_tf: bool = True,
) -> DataFrame:
    """BM25 ranked retrieval over the inverted index: for each query
    document, the top-k corpus documents by
    Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) over shared
    terms (binary query-term weights — the standard simplification).

    ``pin_tf`` (default True) pins the term-frequency relation so its
    tokenize+explode+groupBy chain runs ONCE instead of once per
    consumer (~30-46% at sf0.1 across the bm25 family). tf is an
    O(doc, distinct-token) CORPUS-SCALE relation, so ``pin_tf=False``
    keeps the lineage-recoverable plan (tradeoff: ``pin()``).

    Determinism: each per-(doc, term) contribution is quantized to a
    bigint (floor of the double formula — a fixed chain of IEEE ops
    both engines spell identically), so the per-pair SUM is
    order-independent and the ranking replays bit-for-bit in DuckDB.
    `score` divides the integer sum back by IDF_SCALE for reading.

    Scale shape: identical to tfidf_cosine_pairs — the query side is
    tiny, so the join streams corpus postings past broadcast query
    terms; df-ratio pruning bounds fan-out; one (query, doc) shuffle.
    avgdl/n arrive as broadcast one-row aggregates (action-free)."""
    # Barrier on the term-frequency relation: tf feeds FOUR
    # differently-shaped consumers (dl's groupBy(id), idf's
    # groupBy(token), the contrib join, and stats via dl) — none
    # share an exchange, so without the pin the corpus tokenize+
    # explode+groupBy chain re-executes once per consumer. Same class
    # as the winnowing fps / semdedup with_c barriers; eager=False
    # still runs the stage's jobs at BUILD time under AQE (bounded,
    # documented — keep bm25 callers out of test_plans' action-free
    # list).
    tf = pin(
        docs.select(F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("id", "token")
        .agg(F.count(F.lit(1)).alias("tf")),
        "corpus",
        enabled=pin_tf,
    )
    dl = tf.groupBy("id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias("avgdl")
    )
    num, den = max_df_ratio
    nn = docs.agg(F.count(F.lit(1)).cast("bigint").alias("_n_docs"))
    idf = (
        tf.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(nn))
        .filter(F.col("df") * F.lit(den) <= F.col("_n_docs") * F.lit(num))
        .select(
            "token",
            F.round(
                F.lit(float(IDF_SCALE))
                * (
                    F.log(
                        (F.col("_n_docs") + F.lit(1)).cast("double")
                        / (F.col("df") + F.lit(1)).cast("double")
                    )
                    + F.lit(1.0)
                )
            )
            .cast("bigint")
            .alias("idf_q"),
        )
    )
    denom = F.col("tf").cast("double") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * (F.col("dl").cast("double") / F.col("avgdl"))
    )
    cq = F.floor(
        F.col("idf_q").cast("double") * (F.col("tf").cast("double") * F.lit(k1 + 1.0)) / denom
    ).cast("bigint")
    contrib = (
        tf.join(idf, "token")
        .join(dl, "id")
        .crossJoin(F.broadcast(stats))
        .select("id", "token", cq.alias("cq"))
    )
    qterms = queries.select(
        F.col(id_col).alias("query_id"), F.explode(tokens(F.col(text_col))).alias("token")
    ).distinct()
    scored = (
        qterms.join(contrib, "token")
        .filter(F.col("query_id") != F.col("id"))
        .groupBy("query_id", "id")
        .agg(F.sum("cq").alias("score_q"), F.count(F.lit(1)).alias("shared_terms"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("score_q").desc(), F.col("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("id").alias(id_col),
            "shared_terms",
            "score_q",
            F.round(F.col("score_q") / F.lit(float(IDF_SCALE)), 4).alias("score"),
            "rank",
        )
    )


def retrieval_metrics(
    ranked: DataFrame,
    truth: DataFrame,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """IR self-evaluation against a relevance truth set — the
    retrieval sibling of dedup_method_recall / ann_method_recall:
    given a ranked retrieval result (query, doc, rank) and a truth
    relation (query, relevant doc), per query report

    - n_relevant / n_hits_at_k: truth size and how many were
      retrieved within the ranking's cutoff,
    - first_rel_rank: rank of the first relevant hit (0 = none),
    - recall_bp: 10000·hits div n_relevant,
    - rr_ppm: 1000000 div first_rel_rank (the reciprocal-rank term
      an MRR average is built from; 0 when nothing relevant hit).

    All metrics are integer-scaled rationals (div floors,
    non-negative domain) so the numbers replay bit-for-bit in the
    oracle — no float recall/MRR anywhere.

    Scale: truth and ranked are both O(queries·k) — the join and the
    two groupBys are on the query key; the corpus never appears."""
    hits = (
        ranked.join(truth, [query_col, id_col])
        .groupBy(query_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hits_at_k"),
            F.min(rank_col).cast("bigint").alias("_frr"),
        )
    )
    tn = truth.groupBy(query_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_relevant")
    )
    return tn.join(hits, query_col, "left").select(
        query_col,
        "n_relevant",
        F.coalesce(F.col("n_hits_at_k"), F.lit(0)).cast("bigint").alias("n_hits_at_k"),
        F.coalesce(F.col("_frr"), F.lit(0)).cast("bigint").alias("first_rel_rank"),
        F.expr("(coalesce(n_hits_at_k, 0) * 10000) div n_relevant")
        .cast("bigint")
        .alias("recall_bp"),
        F.expr("CASE WHEN _frr IS NULL THEN 0 ELSE 1000000 div _frr END")
        .cast("bigint")
        .alias("rr_ppm"),
    )
