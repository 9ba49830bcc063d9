"""North-star extension queries: text analytics, dedup (exact /
MinHash-LSH / SimHash / n-gram Jaccard), and embedding similarity —
each with a DuckDB oracle that replicates the md5-derived hashing
bit-for-bit, so the probabilistic sketches are verified exactly, not
just row-counted.

Near-duplicate corpora are synthesized identically in both engines
(clones / mutated clones unioned onto the base tables) so the dedup
operators have guaranteed positives to find.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import similarity as SIM
from ..operators import textstats as TS
from ..pin import pin
from ..sources import parallelize, table

# ---------------------------------------------------------------------------
# text_stats — tokenization, quality, language-ID, fingerprint.
# ---------------------------------------------------------------------------



def _sql_lit(s: str) -> str:
    out = s.replace("'", "''")
    for ch in set(out):
        if ord(ch) < 32:
            out = out.replace(ch, f"' || chr({ord(ch)}) || '")
    return "'" + out + "'"

def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallelize(table(spark, sf_dir, "documents"))
    return TS.add_text_stats(docs.select("doc_id", "text")).drop("text")


_TOKS = "CASE WHEN trim(lower(text)) = '' THEN []::VARCHAR[] ELSE string_split_regex(trim(lower(text)), '\\s+') END"


def _hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in TS.LANG_STOPWORDS[lang])
    return f"len(list_filter(toks, t -> list_contains([{words}], t)))"


TEXT_STATS_SQL = f"""
WITH tok AS (
  SELECT doc_id, text, {_TOKS} AS toks FROM documents
), st AS (
  SELECT doc_id, text, toks,
    len(toks) AS n_tokens,
    CASE WHEN len(text) > 0
         THEN len(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g'))::DOUBLE / len(text)
         ELSE 0.0 END AS pr,
    CASE WHEN len(toks) > 0
         THEN {_hits("en")}::DOUBLE / len(toks) ELSE 0.0 END AS sr,
    {_hits("en")} AS h_en, {_hits("es")} AS h_es, {_hits("fr")} AS h_fr,
    {_hits("de")} AS h_de, {_hits("zh")} AS h_zh
  FROM tok
)
SELECT doc_id,
  n_tokens,
  len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS n_bpe_tokens,
  round(CASE WHEN n_tokens > 0
        THEN list_sum(list_transform(toks, t -> len(t)))::DOUBLE / n_tokens
        ELSE 0.0 END, 4) AS avg_token_len,
  round(pr, 4) AS punct_ratio,
  round(sr, 4) AS stopword_ratio,
  round(least(0.4 * least(n_tokens / 100.0, 1.0) + 0.3 * (1.0 - pr)
              + 0.3 * least(sr * 4.0, 1.0), 1.0), 4) AS quality,
  CASE
    WHEN h_en > 0 AND h_en >= h_es AND h_en >= h_fr AND h_en >= h_de AND h_en >= h_zh THEN 'en'
    WHEN h_es > 0 AND h_es >= h_en AND h_es >= h_fr AND h_es >= h_de AND h_es >= h_zh THEN 'es'
    WHEN h_fr > 0 AND h_fr >= h_en AND h_fr >= h_es AND h_fr >= h_de AND h_fr >= h_zh THEN 'fr'
    WHEN h_de > 0 AND h_de >= h_en AND h_de >= h_es AND h_de >= h_fr AND h_de >= h_zh THEN 'de'
    WHEN h_zh > 0 AND h_zh >= h_en AND h_zh >= h_es AND h_zh >= h_fr AND h_zh >= h_de THEN 'zh'
    ELSE 'und'
  END AS lang_guess,
  md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
FROM st
"""

# ---------------------------------------------------------------------------
# exact dedup — md5-fingerprint groupBy over a corpus with clones.
# ---------------------------------------------------------------------------


def _docs_with_clones(docs: DataFrame) -> DataFrame:
    base = docs.select("doc_id", "text")
    clones = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"), F.col("text")
    )
    return base.unionAll(clones)


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_with_clones(table(spark, sf_dir, "documents"))
    return D.exact_duplicates(docs).select(
        "doc_id", "fingerprint", "canonical_id", "is_duplicate"
    )


EXACT_DEDUP_SQL = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000, text FROM documents WHERE doc_id % 7 = 0
)
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
       min(doc_id) OVER (PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))) AS canonical_id,
       doc_id <> min(doc_id) OVER (PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))) AS is_duplicate
FROM corpus
"""


def dedup_ttl_decay_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analysis that SIZES a streaming dedup index TTL: for
    consecutive re-arrivals of the same content (exact fingerprint),
    the distribution of arrival gaps (doc_id as arrival order) by
    decimal magnitude, with the cumulative share a TTL of that
    magnitude would catch. Clones planted at three gap regimes
    (+40, +600, +7000) so the decay curve has real steps.

    One fingerprint shuffle + a lag window (same exchange), then a
    |buckets|-row rollup — corpus-linear."""
    from ..operators.textstats import fingerprint
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs
    for off, mod in ((40, 7), (600, 11), (7000, 13)):
        corpus = corpus.unionAll(
            docs.filter(F.col("doc_id") % mod == 0).select(
                (F.col("doc_id") + off).alias("doc_id"), "text"
            )
        )
    w = Window.partitionBy("fp").orderBy("doc_id")
    gaps = (
        corpus.withColumn("fp", fingerprint(F.col("text")))
        .withColumn("gap", F.col("doc_id") - F.lag("doc_id").over(w))
        .filter(F.col("gap").isNotNull())
        .select(F.length(F.col("gap").cast("string")).cast("bigint").alias("gap_digits"))
    )
    agg = gaps.groupBy("gap_digits").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )
    wc = Window.orderBy("gap_digits").rowsBetween(Window.unboundedPreceding, 0)
    total = agg.agg(F.sum("n_pairs").cast("bigint").alias("_t"))
    return (
        agg.withColumn("cum_pairs", F.sum("n_pairs").over(wc).cast("bigint"))
        .crossJoin(F.broadcast(total))
        .select(
            "gap_digits",
            "n_pairs",
            "cum_pairs",
            F.expr("(10000 * cum_pairs) div _t").alias("caught_bp"),
        )
    )


DEDUP_TTL_DECAY_SQL = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 40, text FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 600, text FROM documents WHERE doc_id % 11 = 0
  UNION ALL
  SELECT doc_id + 7000, text FROM documents WHERE doc_id % 13 = 0
), fps AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM corpus
), gaps AS (
  SELECT length((doc_id - lag(doc_id) OVER (PARTITION BY fp ORDER BY doc_id))::VARCHAR)::BIGINT AS gap_digits
  FROM fps
  QUALIFY lag(doc_id) OVER (PARTITION BY fp ORDER BY doc_id) IS NOT NULL
), agg AS (
  SELECT gap_digits, count(*)::BIGINT AS n_pairs FROM gaps GROUP BY 1
), tot AS (SELECT sum(n_pairs)::BIGINT AS t FROM agg)
SELECT gap_digits, n_pairs,
       (sum(n_pairs) OVER (ORDER BY gap_digits))::BIGINT AS cum_pairs,
       ((10000 * sum(n_pairs) OVER (ORDER BY gap_digits)) // t)::BIGINT AS caught_bp
FROM agg, tot
"""


def repeated_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc repeated 8-gram spans over the documents corpus —
    the distributed stand-in for suffix-array exact-substring dedup
    (operators/dedup.py::repeated_spans)."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return D.repeated_spans(docs, ngram=8, min_docs=2)


REPEATED_SPANS_SQL = f"""
WITH tok AS (
  SELECT doc_id AS id, {_TOKS} AS toks FROM documents
), grams AS (
  SELECT id, i - 1 AS pos,
         md5(array_to_string(toks[i:i+7], ' ')) AS g
  FROM tok, unnest(range(1, greatest(len(toks) - 7, 0) + 1)) AS t(i)
), shared AS (
  SELECT g FROM grams GROUP BY g HAVING count(DISTINCT id) >= 2
), hits AS (
  SELECT grams.id, grams.pos FROM grams JOIN shared USING (g)
), flagged AS (
  SELECT id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY id ORDER BY pos) > 8
              THEN 1 ELSE 0 END AS new_span
  FROM hits
), sess AS (
  SELECT id, pos,
         sum(new_span) OVER (PARTITION BY id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS span_id
  FROM flagged
)
SELECT id AS doc_id,
       min(pos) AS span_start,
       max(pos) + 7 AS span_end,
       max(pos) + 7 - min(pos) + 1 AS span_tokens,
       count(*) AS n_grams
FROM sess
GROUP BY id, span_id
"""


def exact_dedup_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-hardened exact dedup over a corpus with a planted hot
    fingerprint: every even doc_id contributes a clone of ONE
    boilerplate text, so roughly a third of all rows share a single
    fingerprint — the shape that pins a window/sort-merge task. The
    salted path must return exactly what the plain window returns
    (the oracle is the same window SQL)."""
    docs = table(spark, sf_dir, "documents")
    hot = docs.filter(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.lit("hot boilerplate page body repeated across the crawl").alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionAll(hot)
    return D.exact_duplicates_salted(corpus).select(
        "doc_id", "fingerprint", "canonical_id", "is_duplicate"
    )


EXACT_DEDUP_SALTED_SQL = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 20000, 'hot boilerplate page body repeated across the crawl'
  FROM documents WHERE doc_id % 2 = 0
)
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
       min(doc_id) OVER (PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))) AS canonical_id,
       doc_id <> min(doc_id) OVER (PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))) AS is_duplicate
FROM corpus
"""

# ---------------------------------------------------------------------------
# MinHash-LSH near-dup pairs — corpus with mutated clones; the oracle
# replays signature/banding/bucketing/jaccard from the same md5 hashes.
# ---------------------------------------------------------------------------


def _docs_with_neardups(docs: DataFrame) -> DataFrame:
    base = docs.select("doc_id", "text")
    mutated = docs.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz end marker")).alias("text"),
    )
    return base.unionAll(mutated)


def minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_with_neardups(table(spark, sf_dir, "documents"))
    return D.minhash_candidate_pairs(docs, min_jaccard=0.5)


MINHASH_PAIRS_SQL = f"""
WITH corpus AS (
  SELECT doc_id AS id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000, text || ' zz end marker' FROM documents WHERE doc_id % 4 = 0
), tok AS (
  SELECT id, {_TOKS} AS toks FROM corpus
), sh AS (
  SELECT id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                       i -> array_to_string(toks[i:i+2], ' '))) AS shingles
  FROM tok
), sig AS (
  SELECT id, shingles,
         list_transform(range(0, {D.NUM_HASHES}),
           i -> list_aggregate(list_transform(shingles,
                  s -> ('0x' || substr(md5(i::VARCHAR || ':' || s), 1, 15))::BIGINT), 'min')) AS sig
  FROM sh WHERE len(shingles) > 0
), bands AS (
  SELECT id, u.b AS band,
         md5(array_to_string(list_transform(sig[u.b*{D.ROWS_PER_BAND}+1 : u.b*{D.ROWS_PER_BAND}+{D.ROWS_PER_BAND}],
             v -> v::VARCHAR), ',')) AS bucket
  FROM sig, (SELECT unnest(range(0, {D.BANDS})) AS b) u
), cand AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b
  FROM bands l JOIN bands r ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id
)
SELECT id_a, id_b,
       round(CASE WHEN len(list_distinct(a.shingles || b.shingles)) > 0
             THEN len(list_intersect(a.shingles, b.shingles))::DOUBLE
                  / len(list_distinct(a.shingles || b.shingles))
             ELSE 0.0 END, 4) AS jaccard
FROM cand
JOIN sh a ON a.id = cand.id_a
JOIN sh b ON b.id = cand.id_b
WHERE CASE WHEN len(list_distinct(a.shingles || b.shingles)) > 0
      THEN len(list_intersect(a.shingles, b.shingles))::DOUBLE
           / len(list_distinct(a.shingles || b.shingles))
      ELSE 0.0 END >= 0.5
"""

# ---------------------------------------------------------------------------
# n-gram Jaccard exact all-pairs (verification baseline, small subset).
# ---------------------------------------------------------------------------


def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_with_neardups(table(spark, sf_dir, "documents"))
    subset = docs.filter((F.col("doc_id") % 10000) < 60)
    return D.ngram_jaccard_pairs(subset, min_jaccard=0.3)


NGRAM_JACCARD_SQL = f"""
WITH corpus AS (
  SELECT doc_id AS id, text FROM documents WHERE doc_id < 60
  UNION ALL
  SELECT doc_id + 10000, text || ' zz end marker' FROM documents
  WHERE doc_id % 4 = 0 AND doc_id < 60
), tok AS (
  SELECT id, {_TOKS} AS toks FROM corpus
), sh AS (
  SELECT id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                       i -> array_to_string(toks[i:i+2], ' '))) AS sh
  FROM tok
  WHERE len(list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
            i -> array_to_string(toks[i:i+2], ' ')))) > 0
)
SELECT l.id AS id_a, r.id AS id_b,
       round(len(list_intersect(l.sh, r.sh))::DOUBLE
             / len(list_distinct(l.sh || r.sh)), 4) AS jaccard
FROM sh l JOIN sh r ON l.id < r.id
WHERE round(len(list_intersect(l.sh, r.sh))::DOUBLE
            / len(list_distinct(l.sh || r.sh)), 4) >= 0.3
"""

def containment_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup (dedup.py::containment_pairs):
    every 4th doc gets a planted prefix-quote (first third of its
    tokens, ≥5) registered under id+20000 — the quote's gram set is a
    subset of its base's, so containment(quote in base) is exactly
    10000 bp while Jaccard stays low. Corpus bounded to doc_id < 60
    (the ngram_jaccard convention): the synthetic 31-word vocabulary
    makes gram document-frequency unrealistically dense, so the
    stop-gram knob (max_gram_df), not a corpus cap, is the production
    lever — exercised in unit tests."""
    from ..operators import dedup as D

    docs = (
        parallelize(table(spark, sf_dir, "documents"))
        .select("doc_id", "text")
        .filter("doc_id < 60")
    )
    qt = docs.select("doc_id", TS.tokens(F.col("text")).alias("toks"))
    quotes = qt.filter("doc_id % 4 = 0").select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.expr(
            "array_join(slice(toks, 1, greatest(size(toks) div 3, 5)), ' ')"
        ).alias("text"),
    )
    corpus = docs.unionAll(quotes)
    return D.containment_pairs(corpus, ngram=3, min_containment_bp=8000)


CONTAINMENT_PAIRS_SQL = f"""
WITH base AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 60
), toks0 AS (
  SELECT doc_id, {_TOKS} AS toks FROM base
), corpus AS (
  SELECT doc_id, text FROM base
  UNION ALL
  SELECT doc_id + 20000,
         array_to_string(toks[1:greatest(len(toks) // 3, 5)], ' ')
  FROM toks0 WHERE doc_id % 4 = 0
), tok AS (
  SELECT doc_id AS id, {_TOKS} AS toks FROM corpus
), grams AS (
  SELECT id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS g FROM (
    SELECT id,
           unnest(list_distinct(list_transform(
             range(1, greatest(len(toks) - 2, 0) + 1),
             i -> array_to_string(toks[i:i+2], ' ')))) AS g
    FROM tok
  )
), sizes AS (
  SELECT id, count(*)::BIGINT AS n FROM grams GROUP BY id
), ix AS (
  SELECT l.id AS id_a, r.id AS id_b, count(*)::BIGINT AS inter
  FROM grams l JOIN grams r ON l.g = r.g AND l.id < r.id
  GROUP BY 1, 2
)
SELECT id_a, id_b, inter, a.n AS n_a, b.n AS n_b,
       ((10000 * inter) // a.n)::BIGINT AS contain_a_bp,
       ((10000 * inter) // b.n)::BIGINT AS contain_b_bp
FROM ix JOIN sizes a ON ix.id_a = a.id JOIN sizes b ON ix.id_b = b.id
WHERE greatest((10000 * inter) // a.n, (10000 * inter) // b.n) >= 8000
"""


# ---------------------------------------------------------------------------
# SimHash signatures.
# ---------------------------------------------------------------------------


def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallelize(table(spark, sf_dir, "documents"))
    return D.simhash(docs).withColumnRenamed("id", "doc_id")


SIMHASH_DOCS_SQL = f"""
WITH tok AS (
  SELECT id, unnest(list_distinct(toks)) AS tok FROM (
    SELECT doc_id AS id, {_TOKS} AS toks FROM documents
  )
), h AS (
  SELECT id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok
), bits AS (
  SELECT id, u.bit,
         CASE WHEN (h >> u.bit) & 1 = 1 THEN 1 ELSE -1 END AS vote
  FROM h, (SELECT unnest(range({D.SIMHASH_BITS})) AS bit) u
), votes AS (
  SELECT id, bit, sum(vote) AS v FROM bits GROUP BY id, bit
)
SELECT id AS doc_id,
       sum(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS simhash
FROM votes GROUP BY id
"""

# ---------------------------------------------------------------------------
# Embedding similarity: brute-force cosine top-k + near-dup pairs.
# ---------------------------------------------------------------------------


def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = parallelize(table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 5)
    return SIM.knn_bruteforce(emb, queries, k=10)


KNN_BRUTEFORCE_SQL = """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), q AS (
  SELECT vec_id AS query_id, e AS qv FROM v WHERE vec_id < 5
), scored AS (
  SELECT q.query_id, v.vec_id AS neighbor_id,
         CASE WHEN sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(e, e)) > 0
              THEN list_dot_product(qv, e)
                   / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(e, e)))
              ELSE 0.0 END AS score
  FROM v CROSS JOIN q
  WHERE q.query_id <> v.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, score, rank FROM ranked WHERE rank <= 10
"""


def cosine_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = parallelize(table(spark, sf_dir, "embeddings"))
    clones = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label"
    )
    return SIM.cosine_near_dup_pairs(emb.unionAll(clones), min_cosine=0.95)


COSINE_NEAR_DUPS_SQL = """
WITH corpus AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 10000, embedding::DOUBLE[] FROM embeddings WHERE vec_id % 10 = 0
), scored AS (
  SELECT l.id AS id_a, r.id AS id_b,
         CASE WHEN sqrt(list_dot_product(l.v, l.v)) * sqrt(list_dot_product(r.v, r.v)) > 0
              THEN list_dot_product(l.v, r.v)
                   / (sqrt(list_dot_product(l.v, l.v)) * sqrt(list_dot_product(r.v, r.v)))
              ELSE 0.0 END AS score
  FROM corpus l JOIN corpus r ON l.id < r.id
)
SELECT id_a, id_b, score FROM scored WHERE score >= 0.95
"""


# ---------------------------------------------------------------------------
# html_signals — F3/F4/F5/F14 extractors + P5/P6 predicates vs DuckDB
# regex, over HTML synthesized from documents.
# ---------------------------------------------------------------------------


def html_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import html as H
    from ..functions import predicates as P

    docs = parallelize(table(spark, sf_dir, "documents"))
    d = F.col("doc_id")
    ds = d.cast("string")
    html = (
        F.when(d % 4 == 0, F.concat(
            F.lit("<html><title> Role "), ds, F.lit("  at  Acme </title>"),
            F.lit('<h1><b>Lead</b> Engineer '), ds, F.lit("</h1>"),
            F.lit('<meta property="og:title" content="OG Role '), ds, F.lit('">'),
            F.lit("<script>var x=1;</script><p>Body "), ds, F.lit(" text</p></html>"),
        ))
        .when(d % 4 == 1, F.concat(F.lit("<html><title>Sign in</title><p>p"), ds, F.lit("</p></html>")))
        .when(d % 4 == 2, F.concat(F.lit('<META PROPERTY="og:site_name" CONTENT="Site '), ds, F.lit('">')))
        .otherwise(F.lit(""))
    )
    return docs.select(
        "doc_id",
        H.get_title(html).alias("title"),
        H.get_h1(html).alias("h1"),
        H.get_meta(html, "og:title", "property").alias("og_title"),
        H.get_meta(html, "og:site_name", "property").alias("og_site"),
        H.text_preview(html, 40).alias("preview"),
        P.is_generic_title(H.get_title(html)).alias("title_generic"),
        H.has_useful_signal(html).alias("useful"),
    )


HTML_SIGNALS_SQL = """
WITH synth AS (
  SELECT doc_id,
    CASE doc_id % 4
      WHEN 0 THEN '<html><title> Role ' || doc_id::VARCHAR || '  at  Acme </title>'
                  || '<h1><b>Lead</b> Engineer ' || doc_id::VARCHAR || '</h1>'
                  || '<meta property="og:title" content="OG Role ' || doc_id::VARCHAR || '">'
                  || '<script>var x=1;</script><p>Body ' || doc_id::VARCHAR || ' text</p></html>'
      WHEN 1 THEN '<html><title>Sign in</title><p>p' || doc_id::VARCHAR || '</p></html>'
      WHEN 2 THEN '<META PROPERTY="og:site_name" CONTENT="Site ' || doc_id::VARCHAR || '">'
      ELSE ''
    END AS html
  FROM documents
), ext AS (
  SELECT doc_id, html,
    trim(regexp_replace(regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1), '\\s+', ' ', 'g')) AS title,
    trim(regexp_replace(regexp_replace(regexp_extract(html, '(?is)<h1[^>]*>(.*?)</h1>', 1), '<[^>]+>', ' ', 'g'), '\\s+', ' ', 'g')) AS h1,
    trim(regexp_extract(html, '(?i)<meta[^>]+property=["'']og:title["''][^>]*content=["'']([^"'']+)["'']', 1)) AS og_title,
    trim(regexp_extract(html, '(?i)<meta[^>]+property=["'']og:site_name["''][^>]*content=["'']([^"'']+)["'']', 1)) AS og_site,
    substr(trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
        '(?is)<script.*?</script>', ' ', 'g'), '(?is)<style.*?</style>', ' ', 'g'),
        '<[^>]+>', ' ', 'g'), '\\s+', ' ', 'g')), 1, 40) AS preview
  FROM synth
), pred AS (
  SELECT *,
    (len(lower(trim(title))) <= 2 OR regexp_matches(lower(trim(title)),
      '(job details|job detail|careers|career portal|choose your sign in option|sign in|signin|login|log in|home|open positions|all jobs|search results|job search|apply now|opportunities|join our team)')) AS title_generic,
    (len(lower(trim(h1))) <= 2 OR regexp_matches(lower(trim(h1)),
      '(job details|job detail|careers|career portal|choose your sign in option|sign in|signin|login|log in|home|open positions|all jobs|search results|job search|apply now|opportunities|join our team)')) AS h1_generic,
    (len(lower(trim(og_title))) <= 2 OR regexp_matches(lower(trim(og_title)),
      '(job details|job detail|careers|career portal|choose your sign in option|sign in|signin|login|log in|home|open positions|all jobs|search results|job search|apply now|opportunities|join our team)')) AS og_generic
  FROM ext
)
SELECT doc_id, title, h1, og_title, og_site, preview, title_generic,
       (html <> '' AND (regexp_matches(html, '(?i)<script[^>]+application/ld\\+json')
         OR (h1 <> '' AND NOT h1_generic)
         OR (og_title <> '' AND NOT og_generic)
         OR (title <> '' AND NOT title_generic))) AS useful
FROM pred
"""


# ---------------------------------------------------------------------------
# event_props_json — transient-JSON handling (reference F16 family):
# parse the events.props JSON column and aggregate on an extracted key.
# ---------------------------------------------------------------------------


def event_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import IntegerType, StructField, StructType

    ev = table(spark, sf_dir, "events")
    parsed = ev.withColumn(
        "k", F.from_json(F.col("props"), StructType([StructField("k", IntegerType())]))["k"]
    )
    return (
        parsed.groupBy((F.col("k") % 10).alias("k_bucket"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.max("k").alias("max_k"),
        )
    )


EVENT_PROPS_JSON_SQL = """
SELECT (json_extract(props, '$.k')::INTEGER) % 10 AS k_bucket,
       event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value,
       max(json_extract(props, '$.k')::INTEGER) AS max_k
FROM events
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# IVF ANN and multimodal decode. Both are deterministic end to end
# (every-Nth centroid sampling; md5-derived fake decode), so both get
# full DuckDB oracles: the IVF oracle replays the probe/assign/rank
# pipeline in SQL, the decode oracle recomputes the md5-byte
# arithmetic from hex digits.
# ---------------------------------------------------------------------------


def knn_ivf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = parallelize(table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 5)
    return SIM.knn_ivf(emb, queries, k=10, nprobe=3, every=25).select(
        "query_id", "neighbor_id", F.round("score", 4).alias("score"), "rank"
    )


KNN_IVF_SQL = """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), c AS (
  SELECT vec_id AS centroid_id, e AS cv FROM v WHERE vec_id % 25 = 0
), assigned AS (
  SELECT vec_id, e, centroid_id FROM (
    SELECT v.vec_id, v.e, c.centroid_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY CASE WHEN sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(cv, cv)) > 0
                           THEN list_dot_product(e, cv)
                                / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(cv, cv)))
                           ELSE 0.0 END DESC, c.centroid_id) AS crank
    FROM v CROSS JOIN c)
  WHERE crank = 1
), q AS (
  SELECT vec_id AS query_id, e AS qv FROM v WHERE vec_id < 5
), qprobe AS (
  SELECT query_id, qv, centroid_id FROM (
    SELECT q.query_id, q.qv, c.centroid_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY CASE WHEN sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)) > 0
                           THEN list_dot_product(qv, cv)
                                / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
                           ELSE 0.0 END DESC, c.centroid_id) AS crank
    FROM q CROSS JOIN c)
  WHERE crank <= 3
), scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         CASE WHEN sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(a.e, a.e)) > 0
              THEN list_dot_product(qv, a.e)
                   / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(a.e, a.e)))
              ELSE 0.0 END AS score
  FROM qprobe p JOIN assigned a USING (centroid_id)
  WHERE p.query_id <> a.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(score, 4) AS score, rank
FROM ranked WHERE rank <= 10
"""


def multimodal_decode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal as M

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    decoded = M.decode_images(M.attach_fake_payload(docs))
    feats = decoded.withColumn("features", M.image_features(F.col("content")))
    return M.resize_meta(feats, max_dim=32).select(
        "doc_id", "width", "height", "channels", "format",
        "out_width", "out_height",
        F.element_at("features", 1).cast("double").alias("f0"),
    )


MULTIMODAL_DECODE_SQL = """
WITH hexed AS (
  SELECT doc_id, md5(text) AS h FROM documents
), bytes AS (
  SELECT doc_id,
         (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
           + strpos('0123456789abcdef', substr(h, 2, 1)) - 1 AS b0,
         (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
           + strpos('0123456789abcdef', substr(h, 4, 1)) - 1 AS b1
  FROM hexed
), meta AS (
  SELECT doc_id,
         (16 + b0 % 64)::INTEGER AS width,
         (16 + b1 % 64)::INTEGER AS height,
         3::INTEGER AS channels,
         'fake/rgb' AS format,
         b0 / 256.0 AS f0
  FROM bytes
), resized AS (
  SELECT *, least(1.0, 32.0 / greatest(width, height, 1)) AS scale FROM meta
)
SELECT doc_id, width, height, channels, format,
       greatest(trunc(width * scale)::INTEGER, 1) AS out_width,
       greatest(trunc(height * scale)::INTEGER, 1) AS out_height,
       f0::DOUBLE AS f0
FROM resized
"""


# ---------------------------------------------------------------------------
# Dedup resolution: minhash candidate pairs → connected components →
# one canonical doc per near-duplicate cluster. The oracle computes
# the same transitive closure with a recursive CTE over the (nested)
# minhash-pairs query.
# ---------------------------------------------------------------------------


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = minhash_pairs(spark, sf_dir)
    return D.resolve_duplicates(pairs)


DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({MINHASH_PAIRS_SQL}) mp
), edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), reach AS (
  SELECT a AS node, b AS r FROM edges
  UNION
  SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a
)
SELECT node AS doc_id,
       least(node, min(r)) AS cluster_id,
       node = least(node, min(r)) AS is_canonical
FROM reach
GROUP BY node
"""


# ---------------------------------------------------------------------------
# As-of join over events: each click picks up the most recent view by
# the same user at-or-before its timestamp. DuckDB's native ASOF JOIN
# is the oracle for our union-tag + running-last composition.
# ---------------------------------------------------------------------------


def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    # right side unique per (key, ts): keep the max event_id
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_event_id"))
    )
    out = asof_join(clicks, views, on="user_id", ts_col="ts", right_prefix="asof_")
    return out.select(
        "event_id", "user_id", "ts", "value",
        F.col("asof_view_event_id").alias("view_event_id"),
        F.col("asof_ts").alias("view_ts"),
    )


EVENTS_ASOF_JOIN_SQL = """
WITH clicks AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
), views AS (
  SELECT user_id, ts, max(event_id) AS view_event_id
  FROM events WHERE event_type = 'view' GROUP BY 1, 2
)
SELECT c.event_id, c.user_id, c.ts, c.value, v.view_event_id, v.ts AS view_ts
FROM clicks c ASOF LEFT JOIN views v
  ON c.user_id = v.user_id AND c.ts >= v.ts
"""


# ---------------------------------------------------------------------------
# Deterministic stratified sampling: per-language keep fractions as a
# pure function of (salt, doc_id) — reproducible across engines, so
# the oracle recomputes the identical md5 bucket.
# ---------------------------------------------------------------------------


def stratified_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import stratified_sample

    docs = table(spark, sf_dir, "documents")
    return stratified_sample(
        docs, "lang", {"en": 0.25, "zh": 0.5}, id_col="doc_id", default_fraction=1.0
    ).select("doc_id", "lang", "source")


STRATIFIED_SAMPLE_SQL = """
SELECT doc_id, lang, source FROM (
  SELECT doc_id, lang, source,
         ('0x' || substr(md5('sample:' || doc_id::VARCHAR), 1, 15))::BIGINT % 10000 AS bucket,
         CASE lang WHEN 'en' THEN 0.25 WHEN 'zh' THEN 0.5 ELSE 1.0 END AS frac
  FROM documents) t
WHERE bucket < frac * 10000
"""


# ---------------------------------------------------------------------------
# Shard packing: fixed-weight-budget output shards via bucketed
# running sums — the write-side layout step of a corpus pipeline.
# ---------------------------------------------------------------------------


def shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import pack_shards

    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return pack_shards(
        docs, weight_col="n_chars", budget=10_000, order_col="doc_id", n_buckets=8
    ).select("doc_id", "bucket", "offset", "shard_id")


SHARD_PACKING_SQL = """
WITH packed AS (
  SELECT doc_id,
         (doc_id % 8)::INTEGER AS bucket,
         (sum(n_chars) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id)
          - n_chars)::BIGINT AS "offset"
  FROM documents
)
SELECT doc_id, bucket, "offset",
       floor("offset" / 10000)::INTEGER AS shard_id
FROM packed
"""


def shard_manifest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard manifest — the artifact a dataloader actually
    consumes: per output shard, doc/char counts, the id range, and a
    deterministic content checksum (md5 over the doc fingerprints in
    doc_id order) so a rebuilt shard can be verified byte-free
    against the manifest. Rides the proven pack_shards assignment;
    the checksum agg is the array_sort(collect_list(struct))) idiom
    (order-exact in any engine), one groupBy on the shard key."""
    from ..operators.sampling import pack_shards

    docs = parallelize(table(spark, sf_dir, "documents")).select(
        "doc_id", "text", "n_chars"
    )
    packed = pack_shards(
        docs, weight_col="n_chars", budget=10_000, order_col="doc_id", n_buckets=8
    ).withColumn("fp", TS.fingerprint(F.col("text")))
    return (
        packed.groupBy("bucket", "shard_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("shard_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
            F.md5(
                F.concat_ws(
                    "|",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("doc_id", "fp"))),
                        lambda s: s["fp"],
                    ),
                )
            ).alias("checksum"),
        )
    )


SHARD_MANIFEST_SQL = f"""
WITH packed AS (
  SELECT doc_id, n_chars, text,
         (doc_id % 8)::INTEGER AS bucket,
         (sum(n_chars) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id)
          - n_chars)::BIGINT AS off
  FROM documents
), assigned AS (
  SELECT doc_id, n_chars, bucket,
         floor(off / 10000)::INTEGER AS shard_id,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM packed
)
SELECT bucket, shard_id,
       count(*)::BIGINT AS n_docs,
       sum(n_chars)::BIGINT AS shard_chars,
       min(doc_id) AS min_doc,
       max(doc_id) AS max_doc,
       md5(string_agg(fp, '|' ORDER BY doc_id)) AS checksum
FROM assigned
GROUP BY bucket, shard_id
"""


# ---------------------------------------------------------------------------
# Within-doc repetition ratio (duplicate-n-gram quality signal).
# ---------------------------------------------------------------------------


def repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallelize(table(spark, sf_dir, "documents").select("doc_id", "text"))
    return TS.repetition_stats(docs).select(
        "doc_id", "n_ngrams", "n_distinct_ngrams", "repetition_ratio"
    )


REPETITION_SCORES_SQL = f"""
WITH tok AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), grams AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                        i -> array_to_string(toks[i:i+2], ' ')) AS g
  FROM tok
)
SELECT doc_id,
       len(g) AS n_ngrams,
       len(list_distinct(g)) AS n_distinct_ngrams,
       CASE WHEN len(g) > 0
            THEN round(1.0 - len(list_distinct(g))::DOUBLE / len(g), 4)
            ELSE 0.0 END AS repetition_ratio
FROM grams
"""


# ---------------------------------------------------------------------------
# Blocked (IVF-cell) cosine near-dup pairs — the scale path for
# cosine_near_dups: all-pairs only WITHIN a centroid cell. Fully
# deterministic, so the oracle replays assignment + in-cell pairing.
# ---------------------------------------------------------------------------


def cosine_near_dups_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = parallelize(table(spark, sf_dir, "embeddings"))
    clones = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label"
    )
    return SIM.cosine_near_dup_pairs_blocked(emb.unionAll(clones), min_cosine=0.95)


_COS = (
    "CASE WHEN sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})) > 0 "
    "THEN list_dot_product({a}, {b}) "
    "/ (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))) "
    "ELSE 0.0 END"
)

COSINE_NEAR_DUPS_BLOCKED_SQL = f"""
WITH corpus AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
  UNION ALL
  SELECT vec_id + 10000, embedding::DOUBLE[] FROM embeddings WHERE vec_id % 10 = 0
), c AS (
  SELECT vec_id AS centroid_id, e AS cv FROM corpus WHERE vec_id % 25 = 0
), assigned AS (
  SELECT vec_id, e, centroid_id FROM (
    SELECT corpus.vec_id, corpus.e, c.centroid_id,
           row_number() OVER (
             PARTITION BY corpus.vec_id
             ORDER BY {_COS.format(a="corpus.e", b="c.cv")} DESC, c.centroid_id) AS crank
    FROM corpus CROSS JOIN c)
  WHERE crank = 1
)
SELECT l.vec_id AS id_a, r.vec_id AS id_b,
       {_COS.format(a="l.e", b="r.e")} AS score
FROM assigned l
JOIN assigned r ON l.centroid_id = r.centroid_id AND l.vec_id < r.vec_id
WHERE {_COS.format(a="l.e", b="r.e")} >= 0.95
"""


# ---------------------------------------------------------------------------
# Test-set decontamination: n-gram overlap between the corpus and a
# held-out benchmark slice (doc_id % 97 == 0 plays the eval set).
# Grams travel as the portable 60-bit md5 int in BOTH engines, so the
# overlap counts are bit-identical.
# ---------------------------------------------------------------------------


def ngram_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.decontam import ngram_overlap

    docs = parallelize(table(spark, sf_dir, "documents").select("doc_id", "text"))
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return ngram_overlap(corpus, bench, id_col="doc_id", text_col="text", n=3)


_GRAMS3 = (
    "list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1), "
    "i -> array_to_string(toks[i:i+2], ' ')))"
)
_GRAM_H = "('0x' || substr(md5(gram), 1, 15))::BIGINT"

NGRAM_DECONTAM_SQL = f"""
WITH tok AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), grams AS (
  SELECT doc_id, {_GRAMS3} AS g FROM tok
), bench AS (
  SELECT DISTINCT {_GRAM_H} AS gram_h
  FROM (SELECT unnest(g) AS gram FROM grams WHERE doc_id % 97 = 0)
), docg AS (
  SELECT doc_id, {_GRAM_H} AS gram_h
  FROM (SELECT doc_id, unnest(g) AS gram FROM grams WHERE doc_id % 97 <> 0)
), hits AS (
  SELECT doc_id, count(*) AS n_overlap
  FROM docg JOIN bench USING (gram_h) GROUP BY doc_id
)
SELECT g.doc_id,
       len(g.g) AS n_grams,
       coalesce(h.n_overlap, 0)::BIGINT AS n_overlap,
       coalesce(h.n_overlap, 0) > 0 AS contaminated
FROM grams g LEFT JOIN hits h USING (doc_id)
WHERE g.doc_id % 97 <> 0
"""


# ---------------------------------------------------------------------------
# PII scrub: per-class match counts + chained redaction. PII is
# injected deterministically (same concat in both engines) so the
# detectors have guaranteed positives; the regexes are RE2-compatible
# so Java and RE2 agree.
# ---------------------------------------------------------------------------


def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import pii

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    injected = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id"),
            F.lit("@example.com call +1 555-010"),
            F.col("doc_id") % 10,
            F.lit(" from 10."),
            F.col("doc_id") % 256,
            F.lit(".0.1"),
        ),
    ).otherwise(F.col("text"))
    t = docs.select("doc_id", injected.alias("t"))
    counts = pii.pii_counts(F.col("t"))
    return t.select(
        "doc_id",
        counts["n_emails"].alias("n_emails"),
        counts["n_phones"].alias("n_phones"),
        counts["n_ips"].alias("n_ips"),
        (counts["n_emails"] + counts["n_phones"] + counts["n_ips"] > 0).alias(
            "has_pii"
        ),
        pii.redact_pii(F.col("t")).alias("redacted"),
    )


_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_IP = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
_PII_PHONE = "\\+\\d[\\d -]{6,14}\\d"

PII_REDACTION_SQL = f"""
WITH injected AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' contact user' || doc_id || '@example.com call +1 555-010'
                   || (doc_id % 10) || ' from 10.' || (doc_id % 256) || '.0.1'
              ELSE text END AS t
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(t, '{_PII_EMAIL}')) AS n_emails,
       len(regexp_extract_all(t, '{_PII_PHONE}')) AS n_phones,
       len(regexp_extract_all(t, '{_PII_IP}')) AS n_ips,
       len(regexp_extract_all(t, '{_PII_EMAIL}'))
         + len(regexp_extract_all(t, '{_PII_PHONE}'))
         + len(regexp_extract_all(t, '{_PII_IP}')) > 0 AS has_pii,
       regexp_replace(regexp_replace(regexp_replace(
         t, '{_PII_EMAIL}', '<EMAIL>', 'g'),
            '{_PII_PHONE}', '<PHONE>', 'g'),
            '{_PII_IP}', '<IP>', 'g') AS redacted
FROM injected
"""


def pii_source_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII compliance rollup — the report a release review
    actually reads: per source, how many docs carry any PII, totals
    per detector class, and the rate in basis points. Composes the
    proven pii_redaction detectors (same injection, same RE2-safe
    regexes) with a map-side-combinable per-source aggregate."""
    per_doc = pii_redaction(spark, sf_dir).select(
        "doc_id", "n_emails", "n_phones", "n_ips", "has_pii"
    )
    src = table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        per_doc.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.col("has_pii").cast("bigint")).cast("bigint").alias("n_pii_docs"),
            F.sum("n_emails").cast("bigint").alias("n_emails"),
            F.sum("n_phones").cast("bigint").alias("n_phones"),
            F.sum("n_ips").cast("bigint").alias("n_ips"),
        )
        .withColumn("pii_rate_bp", F.expr("(10000 * n_pii_docs) div n_docs"))
    )


PII_SOURCE_REPORT_SQL = f"""
WITH g AS ({PII_REDACTION_SQL}),
agg AS (
  SELECT d.source, count(*)::BIGINT AS n_docs,
         sum(CASE WHEN g.has_pii THEN 1 ELSE 0 END)::BIGINT AS n_pii_docs,
         sum(g.n_emails)::BIGINT AS n_emails,
         sum(g.n_phones)::BIGINT AS n_phones,
         sum(g.n_ips)::BIGINT AS n_ips
  FROM g JOIN documents d USING (doc_id)
  GROUP BY d.source
)
SELECT *, ((10000 * n_pii_docs) // n_docs)::BIGINT AS pii_rate_bp FROM agg
"""


# ---------------------------------------------------------------------------
# Token-budget mixture sampling: keep ~budget chars per language via
# the bucket-cutoff formulation (the corpus never sorts). The kept
# set is a pure function of (salt, doc_id, per-stratum weights), so
# the oracle replays it exactly.
# ---------------------------------------------------------------------------


def token_budget_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import token_budget_sample

    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return token_budget_sample(
        docs,
        "lang",
        {"en": 120_000, "zh": 30_000},
        weight_col="n_chars",
        id_col="doc_id",
        default_budget=60_000,
        salt="budget",
    )


TOKEN_BUDGET_SAMPLE_SQL = """
WITH d AS (
  SELECT doc_id, lang, n_chars,
         ('0x' || substr(md5('budget:' || doc_id::VARCHAR), 1, 15))::BIGINT % 10000 AS bucket
  FROM documents
), agg AS (
  SELECT lang, bucket, sum(n_chars) AS w FROM d GROUP BY 1, 2
), cum AS (
  SELECT lang, bucket,
         sum(w) OVER (PARTITION BY lang ORDER BY bucket) - w AS start
  FROM agg
), keep AS (
  SELECT lang, bucket FROM cum
  WHERE start < CASE lang WHEN 'en' THEN 120000 WHEN 'zh' THEN 30000 ELSE 60000 END
)
SELECT d.doc_id, d.lang, d.n_chars
FROM d JOIN keep USING (lang, bucket)
"""


# ---------------------------------------------------------------------------
# Epoch upsampling: repeat a small high-quality slice to a target
# weight budget (mixture recipes like "books ×4 epochs"). Copy counts
# are pure integer arithmetic on (budget, corpus total, md5 bucket),
# so the oracle replays them exactly.
# ---------------------------------------------------------------------------


def upsample_epochs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import upsample_to_budget

    docs = (
        table(spark, sf_dir, "documents")
        .filter(F.col("source").isin("src0", "src1", "src2"))
        .select("doc_id", "source", "n_chars")
    )
    return upsample_to_budget(docs, budget=260_000, weight_col="n_chars")


UPSAMPLE_EPOCHS_SQL = """
WITH src AS (
  SELECT doc_id, source, n_chars FROM documents
  WHERE source IN ('src0', 'src1', 'src2')
), tot AS (
  SELECT sum(n_chars)::BIGINT AS total FROM src
), d AS (
  SELECT doc_id, source, n_chars, total,
         ('0x' || substr(md5('epoch:' || doc_id::VARCHAR), 1, 15))::BIGINT % 10000 AS bucket
  FROM src, tot
), c AS (
  SELECT doc_id, source, n_chars,
         ((260000 // total) + CASE WHEN bucket * total < (260000 % total) * 10000
                                   THEN 1 ELSE 0 END)::INT AS n
  FROM d
)
SELECT doc_id, source, n_chars, u.e::INT AS epoch
FROM c, unnest(range(0, n)) AS u(e)
"""


# ---------------------------------------------------------------------------
# KMV distinct-count sketch: deterministic analogue of
# approx_count_distinct — every byte of the sketch derives from md5,
# so the oracle replays the estimate bit-for-bit.
# ---------------------------------------------------------------------------


def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import kmv_distinct

    ev = table(spark, sf_dir, "events")
    return kmv_distinct(ev, "event_type", "user_id", k=64)


KMV_DISTINCT_USERS_SQL = """
WITH h AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
  FROM events
), ranked AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM h
)
SELECT event_type, max(rn) AS n_seen,
       round(CASE WHEN max(rn) < 64 THEN max(rn)::DOUBLE
             ELSE 63.0 / (max(h)::DOUBLE / 1152921504606846976.0) END,
             4) AS est_distinct
FROM ranked WHERE rn <= 64
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Corpus health report: the summary a curation pipeline publishes per
# release — volume, size, and exact-dup rate per (lang, source).
# Integer-exact sums feed every division, so the rounded doubles
# match across engines (no float-sum order sensitivity).
# ---------------------------------------------------------------------------


def corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    fp = TS.fingerprint(F.col("text"))
    # Rounded ratios are computed as integer floor-divisions
    # (round-half-up = (2*a*10^d + b) div (2*b)) so the result is
    # bit-identical across engines — rounding a double quotient is
    # engine-divergent at representation boundaries (Spark HALF_UP on
    # the decimal-ized double vs DuckDB's half-even). The identity
    # assumes non-negative numerators: Spark's `div` truncates toward
    # zero while DuckDB's `//` floors, and total_chars ≥ 0,
    # n_docs - n_unique ≥ 0 hold by construction.
    return (
        docs.select("lang", "source", "n_chars", fp.alias("fp"))
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum((F.col("n_chars") < 200).cast("bigint")).alias("n_short"),
            F.countDistinct("fp").alias("n_unique"),
        )
        .select(
            "lang",
            "source",
            "n_docs",
            "total_chars",
            (
                F.expr("(200 * total_chars + n_docs) div (2 * n_docs)").cast("double")
                / F.lit(100.0)
            ).alias("avg_chars"),
            "n_short",
            "n_unique",
            (
                F.expr(
                    "(20000 * (n_docs - n_unique) + n_docs) div (2 * n_docs)"
                ).cast("double")
                / F.lit(10000.0)
            ).alias("dup_rate"),
        )
    )


CORPUS_REPORT_SQL = """
WITH agg AS (
  SELECT lang, source,
         count(*)::BIGINT AS n_docs,
         sum(n_chars)::BIGINT AS total_chars,
         sum(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END)::BIGINT AS n_short,
         count(DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))))::BIGINT AS n_unique
  FROM documents
  GROUP BY lang, source
)
SELECT lang, source, n_docs, total_chars,
       ((200 * total_chars + n_docs) // (2 * n_docs))::DOUBLE / 100.0 AS avg_chars,
       n_short, n_unique,
       ((20000 * (n_docs - n_unique) + n_docs) // (2 * n_docs))::DOUBLE / 10000.0 AS dup_rate
FROM agg
"""


# ---------------------------------------------------------------------------
# int8 embedding quantization: per-vector scale + codes + loss. The
# output projects integer-exact code stats plus the normalized MSE so
# the cross-engine compare has no float-sum-order exposure beyond the
# shared left-fold.
# ---------------------------------------------------------------------------


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = parallelize(table(spark, sf_dir, "embeddings"))
    q = SIM.quantize_embeddings(emb, "embedding")
    return q.select(
        "vec_id",
        F.size("q_codes").alias("n_dims"),
        F.aggregate(
            "q_codes", F.lit(0).cast("bigint"), lambda a, x: a + x
        ).alias("code_sum"),
        F.array_min("q_codes").alias("code_min"),
        F.array_max("q_codes").alias("code_max"),
        F.round("q_scale", 9).alias("q_scale"),
        F.round(F.col("q_mse") / (F.col("q_scale") * F.col("q_scale")), 6).alias(
            "q_nmse"
        ),
    )


EMBEDDING_QUANTIZE_SQL = """
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), scaled AS (
  SELECT vec_id, e,
         CASE WHEN list_max(list_transform(e, x -> abs(x))) > 0
              THEN list_max(list_transform(e, x -> abs(x))) / 127.0
              ELSE 1.0 END AS scale
  FROM base
), coded AS (
  SELECT vec_id, e, scale,
         list_transform(e, x -> floor(x / scale + 0.5)::INTEGER) AS codes
  FROM scaled
)
SELECT vec_id,
       len(e) AS n_dims,
       list_sum(codes)::BIGINT AS code_sum,
       list_min(codes) AS code_min,
       list_max(codes) AS code_max,
       round(scale, 9) AS q_scale,
       round(CASE WHEN len(e) > 0
             THEN (list_sum(list_transform(e, (x, i) ->
                    (x - codes[i] * scale) * (x - codes[i] * scale))) / len(e))
                  / (scale * scale)
             ELSE 0.0 END, 6) AS q_nmse
FROM coded
"""

# ---------------------------------------------------------------------------
# TF-IDF sparse cosine: inverted-index near-dup pairs + keyword
# extraction. Integer-quantized idf makes every sum exact bigint
# arithmetic, so the oracle is bit-identical (see operators/tfidf.py).
# ---------------------------------------------------------------------------


def tfidf_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import tfidf as TI

    corpus = _docs_with_neardups(table(spark, sf_dir, "documents"))
    # n_docs=None → corpus size derived in-plan (broadcast one-row
    # aggregate); plan construction stays action-free.
    return TI.tfidf_cosine_pairs(corpus, n_docs=None, min_sim=0.8)


def tfidf_top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import tfidf as TI

    docs = table(spark, sf_dir, "documents")
    # the synthetic corpus has a tiny, dense vocabulary (31 terms,
    # df ~ 0.8N), so keyword extraction keeps ALL terms and lets idf
    # weighting differentiate; on Zipfian real text the default
    # prune would apply.
    return TI.tfidf_top_terms(docs, n_docs=None, k=5, max_df_ratio=(1, 1))


def _tfidf_sql(corpus_sql: str, max_df_num: int = 1, max_df_den: int = 2) -> str:
    from ..operators.tfidf import IDF_SCALE

    return f"""
WITH corpus AS (
  {corpus_sql}
), tok AS (
  SELECT id, {_TOKS} AS toks FROM corpus
), tf AS (
  SELECT id, u.token, count(*)::BIGINT AS tf
  FROM tok, unnest(toks) AS u(token)
  GROUP BY 1, 2
), nn AS (
  SELECT count(*)::BIGINT AS n FROM corpus
), idf AS (
  SELECT token,
         round({IDF_SCALE}::DOUBLE
               * (ln((n + 1)::DOUBLE / (df + 1)::DOUBLE) + 1.0))::BIGINT AS idf_q
  FROM (SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY 1), nn
  WHERE df * {max_df_den} <= n * {max_df_num}
), w AS (
  SELECT id, tf.token, tf.tf * idf.idf_q AS w
  FROM tf JOIN idf ON tf.token = idf.token
), norms AS (
  SELECT id, sum(w * w)::BIGINT AS nsq FROM w GROUP BY 1
)"""


TFIDF_PAIRS_SQL = (
    _tfidf_sql(
        """SELECT doc_id AS id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000, text || ' zz end marker' FROM documents WHERE doc_id % 4 = 0""",
        max_df_num=1,
        max_df_den=5,
    )
    + """, dots AS (
  SELECT a.id AS id_a, b.id AS id_b,
         sum(a.w * b.w)::BIGINT AS dot,
         count(*)::BIGINT AS shared_terms
  FROM w a JOIN w b ON a.token = b.token AND a.id < b.id
  GROUP BY 1, 2
)
SELECT id_a, id_b, shared_terms,
       round(dot::DOUBLE / (sqrt(na.nsq::DOUBLE) * sqrt(nb.nsq::DOUBLE)), 4) AS sim
FROM dots
JOIN norms na ON na.id = dots.id_a
JOIN norms nb ON nb.id = dots.id_b
WHERE round(dot::DOUBLE / (sqrt(na.nsq::DOUBLE) * sqrt(nb.nsq::DOUBLE)), 4) >= 0.8
"""
)


TFIDF_TOP_TERMS_SQL = (
    _tfidf_sql("SELECT doc_id AS id, text FROM documents", max_df_num=1, max_df_den=1)
    + """
SELECT id AS doc_id, token, w, rank
FROM (
  SELECT id, token, w,
         row_number() OVER (PARTITION BY id ORDER BY w DESC, token) AS rank
  FROM w
)
WHERE rank <= 5
"""
)

# ---------------------------------------------------------------------------
# cosine_near_dups_lsh: random-hyperplane LSH banding; the oracle
# re-derives the hyperplanes, signatures, band buckets, candidates,
# and exact-cosine verify in SQL from the same md5 bits.
# ---------------------------------------------------------------------------


def cosine_near_dups_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = parallelize(table(spark, sf_dir, "embeddings"))
    clones = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label"
    )
    return SIM.cosine_near_dup_pairs_lsh(emb.unionAll(clones), min_cosine=0.95)


def _lsh_sql() -> str:
    return f"""
planes AS (
  SELECT p,
         list_transform(range(0, 64),
           d -> ('0x' || substr(md5(p::VARCHAR || ':' || d::VARCHAR), 1, 15))::BIGINT::DOUBLE
                / {SIM._LSH_DENOM!r} - 1.0) AS h
  FROM (SELECT unnest(range(0, {SIM.LSH_PLANES})) AS p)
), bits AS (
  SELECT c.id, pl.p,
         CASE WHEN list_dot_product(c.v, pl.h) >= 0 THEN 1 ELSE 0 END AS bit
  FROM corpus c CROSS JOIN planes pl
), bands AS (
  SELECT id, p // {SIM.LSH_ROWS_PER_BAND} AS band,
         sum(bit << (p % {SIM.LSH_ROWS_PER_BAND}))::BIGINT AS bucket
  FROM bits GROUP BY 1, 2
), cand AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b
  FROM bands l JOIN bands r
    ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id
)"""


COSINE_NEAR_DUPS_LSH_SQL = (
    """
WITH corpus AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 10000, embedding::DOUBLE[] FROM embeddings WHERE vec_id % 10 = 0
), """
    + _lsh_sql()[1:]
    + """
SELECT id_a, id_b,
       CASE WHEN sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)) > 0
            THEN list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
            ELSE 0.0 END AS score
FROM cand JOIN corpus a ON a.id = cand.id_a JOIN corpus b ON b.id = cand.id_b
WHERE CASE WHEN sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)) > 0
      THEN list_dot_product(a.v, b.v)
           / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
      ELSE 0.0 END >= 0.95
"""
)

# ---------------------------------------------------------------------------
# curation_pipeline — the composed end-to-end corpus scrub
# (operators/curate.py): lang + quality gates → exact-dedup
# canonicalization → benchmark decontamination → token accounting.
# The oracle chains the already-proven per-stage SQL spellings.
# ---------------------------------------------------------------------------


def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curate import curate

    docs = parallelize(table(spark, sf_dir, "documents").select("doc_id", "text"))
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return curate(corpus, bench, langs=("en", "es"), min_quality=0.5)


CURATION_PIPELINE_SQL = f"""
WITH tok AS (
  SELECT doc_id, text, {_TOKS} AS toks FROM documents WHERE doc_id % 97 <> 0
), st AS (
  SELECT doc_id, text, toks, len(toks) AS n_tokens,
    CASE WHEN len(text) > 0
         THEN len(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g'))::DOUBLE / len(text)
         ELSE 0.0 END AS pr,
    CASE WHEN len(toks) > 0
         THEN {_hits("en")}::DOUBLE / len(toks) ELSE 0.0 END AS sr,
    {_hits("en")} AS h_en, {_hits("es")} AS h_es, {_hits("fr")} AS h_fr,
    {_hits("de")} AS h_de, {_hits("zh")} AS h_zh
  FROM tok
), scored AS (
  SELECT doc_id, text, toks, n_tokens,
    round(least(0.4 * least(n_tokens / 100.0, 1.0) + 0.3 * (1.0 - pr)
                + 0.3 * least(sr * 4.0, 1.0), 1.0), 4) AS quality,
    CASE
      WHEN h_en > 0 AND h_en >= h_es AND h_en >= h_fr AND h_en >= h_de AND h_en >= h_zh THEN 'en'
      WHEN h_es > 0 AND h_es >= h_en AND h_es >= h_fr AND h_es >= h_de AND h_es >= h_zh THEN 'es'
      WHEN h_fr > 0 AND h_fr >= h_en AND h_fr >= h_es AND h_fr >= h_de AND h_fr >= h_zh THEN 'fr'
      WHEN h_de > 0 AND h_de >= h_en AND h_de >= h_es AND h_de >= h_fr AND h_de >= h_zh THEN 'de'
      WHEN h_zh > 0 AND h_zh >= h_en AND h_zh >= h_es AND h_zh >= h_fr AND h_zh >= h_de THEN 'zh'
      ELSE 'und'
    END AS lang_guess,
    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
  FROM st
), kept AS (
  SELECT * FROM scored WHERE lang_guess IN ('en', 'es') AND quality >= 0.5
), canon AS (
  SELECT * FROM (
    SELECT *, min(doc_id) OVER (PARTITION BY fingerprint) AS canonical_id FROM kept
  ) WHERE doc_id = canonical_id
), bench AS (
  SELECT DISTINCT {_GRAM_H} AS gram_h
  FROM (
    SELECT unnest({_GRAMS3}) AS gram
    FROM (SELECT {_TOKS} AS toks FROM documents WHERE doc_id % 97 = 0)
  )
), docg AS (
  SELECT doc_id, {_GRAM_H} AS gram_h
  FROM (SELECT doc_id, unnest({_GRAMS3}) AS gram FROM canon)
), contaminated AS (
  SELECT DISTINCT doc_id FROM docg JOIN bench USING (gram_h)
)
SELECT doc_id, lang_guess, n_tokens, quality
FROM canon
WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
"""


# ---------------------------------------------------------------------------
# training_corpus — the end-to-end prep pipeline as ONE plan:
# curate (lang/quality gates → exact-dedup canonical → benchmark
# decontam) → chunk survivors into token windows → pack chunks into
# fixed-token-budget shards. The oracle extends the proven curation
# CTE chain with the chunk/pack spellings.
# ---------------------------------------------------------------------------


def training_corpus_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full training-data prep in one Catalyst plan; each stage is the
    already-verified operator (add_text_stats / ngram_overlap with
    carry / chunk_documents / pack_shards), composed so the corpus is
    scanned once end-to-end. Output: one row per packed chunk with
    its (bucket, shard_id, offset) coordinates."""
    from pyspark.sql.window import Window

    from ..operators.decontam import ngram_overlap
    from ..operators.sampling import pack_shards
    from ..operators.textstats import add_text_stats, chunk_documents

    docs = parallelize(table(spark, sf_dir, "documents").select("doc_id", "text"))
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    stats = add_text_stats(corpus).select(
        "doc_id", "text", "lang_guess", "quality", "fingerprint"
    )
    kept = stats.filter(
        F.col("lang_guess").isin("en", "es") & (F.col("quality") >= 0.5)
    )
    w = Window.partitionBy("fingerprint")
    canon = kept.withColumn("canonical_id", F.min("doc_id").over(w)).filter(
        F.col("doc_id") == F.col("canonical_id")
    )
    clean = (
        ngram_overlap(canon, bench, n=3, carry=("text",))
        .filter(~F.col("contaminated"))
        .select("doc_id", "text")
    )
    chunks = chunk_documents(clean, chunk_tokens=32, stride=24)
    packed = pack_shards(
        chunks.withColumn(
            "chunk_uid", F.col("doc_id") * 10000 + F.col("chunk_index")
        ),
        weight_col="n_chunk_tokens",
        budget=2048,
        order_col="chunk_uid",
        n_buckets=8,
    )
    return packed.select(
        "doc_id", "chunk_index", "n_chunk_tokens", "bucket", "offset", "shard_id"
    )


_CURATION_CTES = CURATION_PIPELINE_SQL.split("SELECT doc_id, lang_guess")[0].rstrip()

TRAINING_CORPUS_SQL = (
    _CURATION_CTES
    + """, clean AS (
  SELECT doc_id, text FROM canon
  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
), ctok AS (
  SELECT doc_id, """
    + _TOKS
    + """ AS toks FROM clean
), meta AS (
  SELECT doc_id, toks,
         CASE WHEN len(toks) <= 0 THEN 0
              ELSE 1 + ceil(greatest(len(toks) - 32, 0)::DOUBLE / 24)::INT
         END AS n_chunks
  FROM ctok
), chunks AS (
  SELECT doc_id, u.chunk_index,
         len(toks[u.chunk_index*24+1 : u.chunk_index*24+32]) AS n_chunk_tokens,
         doc_id * 10000 + u.chunk_index AS chunk_uid
  FROM meta, unnest(range(0, n_chunks)) AS u(chunk_index)
  WHERE n_chunks > 0
), packed AS (
  SELECT doc_id, chunk_index, n_chunk_tokens,
         (chunk_uid % 8)::INTEGER AS bucket,
         (sum(n_chunk_tokens) OVER (PARTITION BY chunk_uid % 8 ORDER BY chunk_uid)
          - n_chunk_tokens)::BIGINT AS "offset"
  FROM chunks
)
SELECT doc_id, chunk_index, n_chunk_tokens, bucket, "offset",
       floor("offset" / 2048)::INTEGER AS shard_id
FROM packed
"""
)

# ---------------------------------------------------------------------------
# incremental_near_dups — new batch vs standing index (no index
# self-join). Oracle replays signatures/bands for both sides from
# the same md5 hashes.
# ---------------------------------------------------------------------------


def incremental_near_dups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz end marker")).alias("text"),
    )
    return D.incremental_near_dups(new, docs.select("doc_id", "text"), min_jaccard=0.5)


def _mh_side(corpus_sql: str) -> str:
    """Signature/band CTE body for one corpus (parameterized by the
    corpus CTE name) — mirrors MINHASH_PAIRS_SQL's derivation."""
    return f"""(
  WITH tokx AS (
    SELECT id, {_TOKS} AS toks FROM {corpus_sql}
  ), shx AS (
    SELECT id,
           list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                         i -> array_to_string(toks[i:i+2], ' '))) AS shingles
    FROM tokx
  ), sigx AS (
    SELECT id, shingles,
           list_transform(range(0, {D.NUM_HASHES}),
             i -> list_aggregate(list_transform(shingles,
                    s -> ('0x' || substr(md5(i::VARCHAR || ':' || s), 1, 15))::BIGINT), 'min')) AS sig
    FROM shx WHERE len(shingles) > 0
  )
  SELECT id, shingles, u.b AS band,
         md5(array_to_string(list_transform(sig[u.b*{D.ROWS_PER_BAND}+1 : u.b*{D.ROWS_PER_BAND}+{D.ROWS_PER_BAND}],
             v -> v::VARCHAR), ',')) AS bucket
  FROM sigx, (SELECT unnest(range(0, {D.BANDS})) AS b) u
)"""


INCREMENTAL_NEAR_DUPS_SQL = f"""
WITH newc AS (
  SELECT doc_id + 10000 AS id, text || ' zz end marker' AS text
  FROM documents WHERE doc_id % 4 = 0
), idxc AS (
  SELECT doc_id AS id, text FROM documents
), nb AS {_mh_side("newc")}, ib AS {_mh_side("idxc")},
cand AS (
  SELECT DISTINCT n.id AS new_id, i.id AS index_id
  FROM nb n JOIN ib i ON n.band = i.band AND n.bucket = i.bucket
), sh_n AS (
  SELECT DISTINCT id, shingles FROM nb
), sh_i AS (
  SELECT DISTINCT id, shingles FROM ib
)
SELECT new_id, index_id,
       round(CASE WHEN len(list_distinct(a.shingles || b.shingles)) > 0
             THEN len(list_intersect(a.shingles, b.shingles))::DOUBLE
                  / len(list_distinct(a.shingles || b.shingles))
             ELSE 0.0 END, 4) AS jaccard
FROM cand
JOIN sh_n a ON a.id = cand.new_id
JOIN sh_i b ON b.id = cand.index_id
WHERE round(CASE WHEN len(list_distinct(a.shingles || b.shingles)) > 0
      THEN len(list_intersect(a.shingles, b.shingles))::DOUBLE
           / len(list_distinct(a.shingles || b.shingles))
      ELSE 0.0 END, 4) >= 0.5
"""

# ---------------------------------------------------------------------------
# chunk_documents — overlapping token windows; heavy_hitters — top
# tokens per language. Both pure scan-side (chunking) / one-shuffle
# (hitters) corpus prep steps.
# ---------------------------------------------------------------------------


def chunk_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textstats import chunk_documents

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(docs, chunk_tokens=32, stride=24)


CHUNK_DOCUMENTS_SQL = f"""
WITH tok AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), meta AS (
  SELECT doc_id, toks, len(toks) AS n,
         CASE WHEN len(toks) <= 0 THEN 0
              ELSE 1 + ceil(greatest(len(toks) - 32, 0)::DOUBLE / 24)::INT
         END AS n_chunks
  FROM tok
)
SELECT doc_id, u.chunk_index,
       array_to_string(toks[u.chunk_index*24+1 : u.chunk_index*24+32], ' ') AS chunk_text,
       len(toks[u.chunk_index*24+1 : u.chunk_index*24+32]) AS n_chunk_tokens
FROM meta, unnest(range(0, n_chunks)) AS u(chunk_index)
WHERE n_chunks > 0
"""


_BPEISH_SQL_RE = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+|\\s+"


def regex_token_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-2-style pre-tokenizer counts vs whitespace counts
    (textstats.py::regex_token_stats) — pure narrow scan."""
    docs = parallelize(table(spark, sf_dir, "documents")).select("doc_id", "text")
    return TS.regex_token_stats(docs)


REGEX_TOKEN_REPORT_SQL = f"""
WITH base AS (
  SELECT doc_id,
         length(text)::BIGINT AS n_chars,
         len({_TOKS})::BIGINT AS n_ws_tokens,
         len(regexp_extract_all(text, '{_BPEISH_SQL_RE}'))::BIGINT AS n_regex_tokens
  FROM documents
)
SELECT doc_id, n_chars, n_ws_tokens, n_regex_tokens,
       (CASE WHEN n_ws_tokens > 0
             THEN (10000 * n_regex_tokens) // n_ws_tokens
             ELSE 0 END)::BIGINT AS fertility_bp
FROM base
"""


def patch_grid_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT patch-grid plumbing (operators/multimodal.py::patch_grid)
    over the fake-decoded image metadata: one row per 16px patch,
    edge patches clipped — the exact downstream work count a vision
    decode stage fans out to."""
    from ..operators import multimodal as M

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    meta = M.decode_images(M.attach_fake_payload(docs)).select(
        "doc_id", "width", "height"
    )
    return M.patch_grid(meta, patch=16)


PATCH_GRID_SQL = f"""
WITH m AS ({MULTIMODAL_DECODE_SQL}),
g AS (
  SELECT doc_id, width::BIGINT AS w, height::BIGINT AS h,
         (width + 15) // 16 AS n_cols,
         ((width + 15) // 16) * ((height + 15) // 16) AS n_patches
  FROM m
)
SELECT doc_id, t.i::BIGINT AS patch_id,
       (t.i // n_cols)::BIGINT AS patch_row,
       (t.i % n_cols)::BIGINT AS patch_col,
       ((t.i % n_cols) * 16)::BIGINT AS x0,
       ((t.i // n_cols) * 16)::BIGINT AS y0,
       least(16, w - (t.i % n_cols) * 16)::BIGINT AS pw,
       least(16, h - (t.i // n_cols) * 16)::BIGINT AS ph
FROM g, unnest(range(0, n_patches)) AS t(i)
"""


_SALVAGE_JUNK = " ".join(["###"] * 100)


def chunk_salvage_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level quality salvage — the RefinedWeb move from
    doc-level to paragraph-level filtering: split each doc into
    non-overlapping 64-token chunks, run the Gopher gate per chunk,
    and roll up a per-doc verdict ('keep' all chunks pass, 'salvage'
    some do, 'drop' none do) with the salvageable share in basis
    points. Every 9th doc gets a 100-token symbol-soup tail planted
    (+800000 ids): doc-level Gopher would drop the whole doc; the
    chunk gate keeps its clean chunks and quarantines the junk ones.

    Scale: chunking is scan-side explode (no shuffle), the gate is a
    narrow projection per chunk, and the rollup is ONE
    map-side-combinable groupBy on the doc key. Chunk ids pack as
    doc_id·10000 + chunk_index (chunk counts ≪ 10000), so the proven
    single-id-column gopher chain applies unchanged."""
    from ..operators.textstats import chunk_documents

    docs = parallelize(table(spark, sf_dir, "documents")).select("doc_id", "text")
    mixed = docs.filter(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 800000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" " + _SALVAGE_JUNK)).alias("text"),
    )
    corpus = docs.unionAll(mixed)
    chunks = chunk_documents(corpus, chunk_tokens=64, stride=64)
    flagged = TS.gopher_quality(
        chunks.select(
            (F.col("doc_id") * 10000 + F.col("chunk_index")).alias("chunk_id"),
            F.col("chunk_text").alias("text"),
        ),
        id_col="chunk_id",
        # tuned floors (the operator's documented per-corpus knobs):
        # the synthetic vocabulary carries ~1 required stopword type
        # and pre-junk docs run 10-99 tokens
        min_words=10,
        min_stopword_types=1,
    ).select("chunk_id", "pass_gopher")
    agg = (
        flagged.groupBy(F.expr("chunk_id div 10000").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum(F.col("pass_gopher").cast("bigint")).cast("bigint").alias("n_pass_chunks"),
        )
        .withColumn("salvage_bp", F.expr("(10000 * n_pass_chunks) div n_chunks"))
    )
    return agg.withColumn(
        "verdict",
        F.when(F.col("n_pass_chunks") == F.col("n_chunks"), F.lit("keep"))
        .when(F.col("n_pass_chunks") == 0, F.lit("drop"))
        .otherwise(F.lit("salvage")),
    )


# rendered below, after _gopher_sql is defined
_CHUNK_SALVAGE_TMPL = f"""
WITH corpus3 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 800000, text || ' {_SALVAGE_JUNK}'
  FROM documents WHERE doc_id % 9 = 0
), tok3 AS (
  SELECT doc_id, {_TOKS} AS toks FROM corpus3
), meta3 AS (
  SELECT doc_id, toks, len(toks) AS n,
         CASE WHEN len(toks) <= 0 THEN 0
              ELSE 1 + ceil(greatest(len(toks) - 64, 0)::DOUBLE / 64)::INT
         END AS n_chunks
  FROM tok3
), chunks3 AS (
  SELECT doc_id, u.chunk_index,
         array_to_string(toks[u.chunk_index*64+1 : u.chunk_index*64+64], ' ') AS chunk_text
  FROM meta3, unnest(range(0, n_chunks)) AS u(chunk_index)
  WHERE n_chunks > 0
), g AS ({{gopher}}),
agg AS (
  SELECT doc_id // 10000 AS doc_id,
         count(*)::BIGINT AS n_chunks,
         sum(CASE WHEN pass_gopher THEN 1 ELSE 0 END)::BIGINT AS n_pass_chunks
  FROM g GROUP BY 1
)
SELECT doc_id, n_chunks, n_pass_chunks,
       ((10000 * n_pass_chunks) // n_chunks)::BIGINT AS salvage_bp,
       CASE WHEN n_pass_chunks = n_chunks THEN 'keep'
            WHEN n_pass_chunks = 0 THEN 'drop'
            ELSE 'salvage' END AS verdict
FROM agg
"""


def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 tokens per language by frequency — one shuffle on
    (lang, token) with map-side combine, then a window over the tiny
    per-language aggregate. At scale this is the exact form; a
    count-min/​misra-gries sketch would replace it only if the token
    dictionary itself didn't fit."""
    docs = table(spark, sf_dir, "documents")
    from ..operators.textstats import tokens as toks_fn
    from pyspark.sql.window import Window

    counts = (
        docs.select("lang", F.explode(toks_fn(F.col("text"))).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("token"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("lang", "token", "n", "rank")
    )


HEAVY_HITTERS_SQL = f"""
WITH tok AS (
  SELECT lang, unnest({_TOKS}) AS token FROM documents
), counts AS (
  SELECT lang, token, count(*) AS n FROM tok GROUP BY 1, 2
)
SELECT lang, token, n, rank FROM (
  SELECT lang, token, n,
         row_number() OVER (PARTITION BY lang ORDER BY n DESC, token) AS rank
  FROM counts
) WHERE rank <= 5
"""

# ---------------------------------------------------------------------------
# consensus_near_dups — pairs flagged by BOTH the lexical (MinHash)
# and the embedding (RHP-LSH) near-dup paths: the high-precision
# gate a production dedup uses before destructive collapse. The
# oracle composes both already-proven derivations and inner-joins.
# ---------------------------------------------------------------------------


def consensus_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    emb = parallelize(table(spark, sf_dir, "embeddings"))
    docs_c = docs.select("doc_id", "text").unionAll(
        docs.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 10000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zz end marker")).alias("text"),
        )
    )
    emb_c = emb.unionAll(
        emb.filter(F.col("vec_id") % 5 == 0).select(
            (F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label"
        )
    )
    text_pairs = D.minhash_candidate_pairs(docs_c, min_jaccard=0.5)
    vec_pairs = SIM.cosine_near_dup_pairs_lsh(emb_c, min_cosine=0.95)
    return text_pairs.join(vec_pairs, ["id_a", "id_b"]).select(
        "id_a", "id_b", "jaccard", "score"
    )


CONSENSUS_NEAR_DUPS_SQL = (
    f"""
WITH dcorpus AS (
  SELECT doc_id AS id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000, text || ' zz end marker' FROM documents WHERE doc_id % 5 = 0
), mh AS {_mh_side("dcorpus")},
tcand AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b
  FROM mh l JOIN mh r ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id
), msh AS (
  SELECT DISTINCT id, shingles FROM mh
), tpairs AS (
  SELECT id_a, id_b,
         round(CASE WHEN len(list_distinct(a.shingles || b.shingles)) > 0
               THEN len(list_intersect(a.shingles, b.shingles))::DOUBLE
                    / len(list_distinct(a.shingles || b.shingles))
               ELSE 0.0 END, 4) AS jaccard
  FROM tcand JOIN msh a ON a.id = tcand.id_a JOIN msh b ON b.id = tcand.id_b
  WHERE round(CASE WHEN len(list_distinct(a.shingles || b.shingles)) > 0
        THEN len(list_intersect(a.shingles, b.shingles))::DOUBLE
             / len(list_distinct(a.shingles || b.shingles))
        ELSE 0.0 END, 4) >= 0.5
), corpus AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 10000, embedding::DOUBLE[] FROM embeddings WHERE vec_id % 5 = 0
), """
    + _lsh_sql()[1:].lstrip()
    + """,
vpairs AS (
  SELECT id_a, id_b,
         CASE WHEN sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)) > 0
              THEN list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
              ELSE 0.0 END AS score
  FROM cand JOIN corpus a ON a.id = cand.id_a JOIN corpus b ON b.id = cand.id_b
  WHERE CASE WHEN sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)) > 0
        THEN list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
        ELSE 0.0 END >= 0.95
)
SELECT t.id_a, t.id_b, t.jaccard, v.score
FROM tpairs t JOIN vpairs v ON t.id_a = v.id_a AND t.id_b = v.id_b
"""
)


# ---------------------------------------------------------------------------
# Bit-exact k-means over int8 codes: Lloyd's with deterministic seeds,
# exact integer distances, floor(sum/count) centroid updates. The
# oracle unrolls the fixed iteration count into a CTE chain and
# replays every assignment bit-for-bit — float k-means could never be
# cross-engine-checked like this.
# ---------------------------------------------------------------------------


def kmeans_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import kmeans_codes, quantize_embeddings

    emb = parallelize(table(spark, sf_dir, "embeddings"))
    codes = quantize_embeddings(emb).select("vec_id", "q_codes")
    return kmeans_codes(codes, k_every=50, iters=2, k_cap=100)


def _kmeans_sql(k_every: int, iters: int, k_cap: int | None = None) -> str:
    def dist(c_alias: str) -> str:
        return (
            "(list_sum(list_transform(range(1, len(v.codes) + 1), "
            f"i -> (v.codes[i] - {c_alias}.codes[i])::BIGINT * "
            f"(v.codes[i] - {c_alias}.codes[i])::BIGINT)))::BIGINT"
        )

    ctes = [
        "base AS (\n  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings\n)",
        (
            "scaled AS (\n"
            "  SELECT vec_id, e,\n"
            "         CASE WHEN list_max(list_transform(e, x -> abs(x))) > 0\n"
            "              THEN list_max(list_transform(e, x -> abs(x))) / 127.0\n"
            "              ELSE 1.0 END AS scale\n  FROM base\n)"
        ),
        (
            "v AS (\n"
            "  SELECT vec_id, list_transform(e, x -> floor(x / scale + 0.5)::INTEGER) AS codes\n"
            "  FROM scaled\n)"
        ),
        (
            f"c0 AS (\n  SELECT vec_id AS cid, codes FROM v WHERE vec_id % {k_every} = 0"
            + (f" AND vec_id < {k_every * k_cap}" if k_cap is not None else "")
            + "\n)"
        ),
    ]
    for i in range(1, iters + 1):
        ctes += [
            (
                f"a{i}d AS (\n"
                f"  SELECT v.vec_id, v.codes, c.cid, {dist('c')} AS d2\n"
                f"  FROM v, c{i - 1} c\n)"
            ),
            (
                f"s{i} AS (\n"
                f"  SELECT vec_id, codes, cid FROM (\n"
                f"    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn\n"
                f"    FROM a{i}d\n  ) WHERE rn = 1\n)"
            ),
            (
                f"m{i} AS (\n"
                f"  SELECT cid, u.i - 1 AS pos,\n"
                f"         floor(sum(codes[u.i])::DOUBLE / count(*))::INT AS m\n"
                f"  FROM s{i}, unnest(range(1, len(codes) + 1)) AS u(i)\n"
                f"  GROUP BY cid, u.i\n)"
            ),
            f"c{i} AS (\n  SELECT cid, list(m ORDER BY pos) AS codes FROM m{i} GROUP BY cid\n)",
        ]
    ctes.append(
        f"fd AS (\n  SELECT v.vec_id, c.cid, {dist('c')} AS d2\n  FROM v, c{iters} c\n)"
    )
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        "SELECT vec_id, cid AS cluster_id, d2 AS sq_dist FROM (\n"
        "  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM fd\n"
        ") WHERE rn = 1\n"
    )


KMEANS_CLUSTERS_SQL = _kmeans_sql(50, 2, k_cap=100)


# ---------------------------------------------------------------------------
# Audio modality: WAV-style decode metadata + fixed-length analysis
# windows. The fake backend derives every field from the payload's
# md5 bytes, so the oracle replays the decode bit-for-bit from hex
# digits; the real RIFF/WAVE parser is covered by pytest
# (tests/test_operators.py) against synthesized containers.
# ---------------------------------------------------------------------------


def audio_decode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal as M

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    decoded = M.decode_audio(M.attach_fake_payload(docs))
    win = M.sample_audio_windows(decoded, window_ms=1000)
    return win.groupBy(
        "doc_id",
        "sample_rate",
        "audio_channels",
        "bits_per_sample",
        "n_samples",
        "duration_ms",
        "rms_q",
        "audio_format",
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_windows"))


AUDIO_DECODE_SQL = """
WITH hexed AS (
  SELECT doc_id, md5(text) AS h FROM documents
), bytes AS (
  SELECT doc_id,
         ('0x' || substr(h, 1, 2))::INTEGER AS b0,
         ('0x' || substr(h, 3, 2))::INTEGER AS b1,
         ('0x' || substr(h, 5, 2))::INTEGER AS b2,
         ('0x' || substr(h, 7, 2))::INTEGER AS b3
  FROM hexed
), meta AS (
  SELECT doc_id,
         (8000 * (1 + b0 % 3))::INTEGER AS sample_rate,
         (1 + b1 % 2)::INTEGER AS audio_channels,
         16::INTEGER AS bits_per_sample,
         (1000 + b2 * 256 + b3)::BIGINT AS n_samples,
         ((1000 + b2 * 256 + b3) * 1000 // (8000 * (1 + b0 % 3)))::BIGINT AS duration_ms,
         (b0 * 256 + b1)::BIGINT AS rms_q,
         'fake/pcm16' AS audio_format
  FROM bytes
)
SELECT doc_id, sample_rate, audio_channels, bits_per_sample,
       n_samples, duration_ms, rms_q, audio_format,
       greatest((duration_ms + 999) // 1000, 1)::BIGINT AS n_windows
FROM meta
"""


# ---------------------------------------------------------------------------
# Bloom-prefiltered decontamination: same benchmark split as
# ngram_decontam, but membership goes through the fixed-size bitmap
# first and only admitted grams are exactly verified. The oracle
# replays the bloom math exactly — a bit is set iff its position is
# in the benchmark's position set, so bitmap membership == "all k
# seed positions appear in that set".
# ---------------------------------------------------------------------------


def bloom_decontam_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.decontam import bloom_decontam

    docs = parallelize(table(spark, sf_dir, "documents").select("doc_id", "text"))
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return bloom_decontam(corpus, bench, id_col="doc_id", text_col="text", n=3)


def _bloom_pos_sql(gram_expr: str, seed: int, m: int = 65536) -> str:
    return f"('0x' || substr(md5('bloom{seed}:' || {gram_expr}), 1, 15))::BIGINT % {m}"


BLOOM_DECONTAM_SQL = f"""
WITH tok AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), grams AS (
  SELECT doc_id, {_GRAMS3} AS g FROM tok
), bg AS (
  SELECT DISTINCT gram
  FROM (SELECT unnest(g) AS gram FROM grams WHERE doc_id % 97 = 0)
), bpos AS (
  SELECT {_bloom_pos_sql("gram", 0)} AS p FROM bg
  UNION SELECT {_bloom_pos_sql("gram", 1)} FROM bg
  UNION SELECT {_bloom_pos_sql("gram", 2)} FROM bg
), bh AS (
  SELECT DISTINCT {_GRAM_H} AS gram_h FROM bg
), docg AS (
  SELECT doc_id, gram
  FROM (SELECT doc_id, unnest(g) AS gram FROM grams WHERE doc_id % 97 <> 0)
), flag AS (
  SELECT doc_id, gram
  FROM docg
  WHERE {_bloom_pos_sql("gram", 0)} IN (SELECT p FROM bpos)
    AND {_bloom_pos_sql("gram", 1)} IN (SELECT p FROM bpos)
    AND {_bloom_pos_sql("gram", 2)} IN (SELECT p FROM bpos)
), agg AS (
  SELECT f.doc_id,
         count(*) AS n_candidates,
         count(b.gram_h) AS n_overlap
  FROM flag f LEFT JOIN bh b ON {_GRAM_H.replace("gram", "f.gram")} = b.gram_h
  GROUP BY f.doc_id
)
SELECT g.doc_id,
       len(g.g) AS n_grams,
       coalesce(a.n_candidates, 0)::BIGINT AS n_candidates,
       coalesce(a.n_overlap, 0)::BIGINT AS n_overlap,
       coalesce(a.n_overlap, 0) > 0 AS contaminated
FROM grams g LEFT JOIN agg a USING (doc_id)
WHERE g.doc_id % 97 <> 0
"""


# ---------------------------------------------------------------------------
# Product quantization: per-subspace bit-exact Lloyd's (the subspace
# index rides every CTE as a column, mirroring the one-plan Spark
# build) and ADC top-k as table-lookup sums. Fully integer, so both
# the codes and the neighbor ranking replay bit-for-bit in DuckDB.
# ---------------------------------------------------------------------------


def pq_codes_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import pq_codes, quantize_embeddings_global

    emb = parallelize(table(spark, sf_dir, "embeddings"))
    codes = quantize_embeddings_global(emb).select("vec_id", "q_codes")
    return pq_codes(codes, n_sub=4, k_every=50, iters=2, k_cap=100)


def knn_pq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import knn_pq, quantize_embeddings_global

    emb = parallelize(table(spark, sf_dir, "embeddings"))
    codes = quantize_embeddings_global(emb).select("vec_id", "q_codes")
    queries = codes.filter(F.col("vec_id") < 5)
    return knn_pq(codes, queries, k=10, n_sub=4, k_every=50, iters=2, k_cap=100)


def _pq_sql(
    k_every: int,
    iters: int,
    n_sub: int,
    mode: str,
    k: int = 10,
    k_cap: int | None = None,
    nprobe: int = 3,
    coarse_every: int = 25,
    by_residual: bool = False,
) -> str:
    def dist(x: str, c: str) -> str:
        return (
            f"(list_sum(list_transform(range(1, len({x}.sc) + 1), "
            f"i -> ({x}.sc[i] - {c}.cv[i])::BIGINT * "
            f"({x}.sc[i] - {c}.cv[i])::BIGINT)))::BIGINT"
        )

    def dist_full(x: str, c: str) -> str:
        return (
            f"(list_sum(list_transform(range(1, len({x}.codes) + 1), "
            f"i -> ({x}.codes[i] - {c}.ccv[i])::BIGINT * "
            f"({x}.codes[i] - {c}.ccv[i])::BIGINT)))::BIGINT"
        )

    w = f"(len(codes) // {n_sub})"
    # GLOBAL scale (one corpus-wide max |x|): codes must be comparable
    # ACROSS vectors for PQ/ADC ranking — see quantize_embeddings_global
    ctes = [
        "base AS (\n  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings\n)",
        (
            "g AS (\n"
            "  SELECT CASE WHEN max(list_max(list_transform(e, x -> abs(x)))) > 0\n"
            "              THEN max(list_max(list_transform(e, x -> abs(x)))) / 127.0\n"
            "              ELSE 1.0 END AS scale\n  FROM base\n)"
        ),
        (
            "v AS (\n"
            "  SELECT vec_id, list_transform(e, x -> floor(x / scale + 0.5)::INTEGER) AS codes\n"
            "  FROM base, g\n)"
        ),
    ]
    coarse_cap = f" AND vec_id < {coarse_every * k_cap}" if k_cap is not None else ""
    if by_residual:
        # coarse cells first: the PQ trains on and encodes the CELL
        # RESIDUAL (codes − own cell centroid), so cc/cellassign must
        # precede the subspace slice and `cell` rides every slice row
        ctes += [
            (
                f"cc AS (\n  SELECT vec_id AS ccid, codes AS ccv FROM v"
                f" WHERE vec_id % {coarse_every} = 0{coarse_cap}\n)"
            ),
            (
                f"cellassign AS (\n"
                f"  SELECT vec_id, ccid AS cell FROM (\n"
                f"    SELECT x.vec_id, cc.ccid, {dist_full('x', 'cc')} AS d2,\n"
                f"           row_number() OVER ("
                f"PARTITION BY x.vec_id ORDER BY {dist_full('x', 'cc')}, cc.ccid) AS rn\n"
                f"    FROM v x, cc\n  ) WHERE rn = 1\n)"
            ),
            (
                "rv AS (\n"
                "  SELECT x.vec_id, ca.cell,\n"
                "         list_transform(range(1, len(x.codes) + 1),\n"
                "                        i -> x.codes[i] - cc.ccv[i]) AS codes\n"
                "  FROM v x JOIN cellassign ca ON ca.vec_id = x.vec_id\n"
                "  JOIN cc ON cc.ccid = ca.cell\n)"
            ),
            (
                "subs AS (\n"
                f"  SELECT vec_id, cell, s.sub,\n"
                f"         codes[s.sub * {w} + 1 : (s.sub + 1) * {w}] AS sc\n"
                f"  FROM rv, (SELECT unnest(range(0, {n_sub})) AS sub) s\n)"
            ),
        ]
    else:
        ctes += [
            (
                "subs AS (\n"
                f"  SELECT vec_id, s.sub,\n"
                f"         codes[s.sub * {w} + 1 : (s.sub + 1) * {w}] AS sc\n"
                f"  FROM v, (SELECT unnest(range(0, {n_sub})) AS sub) s\n)"
            ),
        ]
    ctes += [
        (
            f"c0 AS (\n  SELECT sub, vec_id AS cid, sc AS cv FROM subs"
            f" WHERE vec_id % {k_every} = 0"
            + (f" AND vec_id < {k_every * k_cap}" if k_cap is not None else "")
            + "\n)"
        ),
    ]
    for i in range(1, iters + 1):
        ctes += [
            (
                f"a{i} AS (\n"
                f"  SELECT x.vec_id, x.sub, x.sc, c.cid, {dist('x', 'c')} AS d2\n"
                f"  FROM subs x JOIN c{i - 1} c USING (sub)\n)"
            ),
            (
                f"s{i} AS (\n"
                f"  SELECT vec_id, sub, sc, cid FROM (\n"
                f"    SELECT *, row_number() OVER ("
                f"PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn\n"
                f"    FROM a{i}\n  ) WHERE rn = 1\n)"
            ),
            (
                f"m{i} AS (\n"
                f"  SELECT sub, cid, u.i - 1 AS pos,\n"
                f"         floor(sum(sc[u.i])::DOUBLE / count(*))::INT AS m\n"
                f"  FROM s{i}, unnest(range(1, len(sc) + 1)) AS u(i)\n"
                f"  GROUP BY sub, cid, u.i\n)"
            ),
            (
                f"c{i} AS (\n  SELECT sub, cid, list(m ORDER BY pos) AS cv"
                f" FROM m{i} GROUP BY sub, cid\n)"
            ),
        ]
    cell_sel = "x.cell, " if by_residual else ""
    cell_out = "cell, " if by_residual else ""
    ctes += [
        (
            f"fd AS (\n"
            f"  SELECT x.vec_id, {cell_sel}x.sub, x.sc, c.cid, {dist('x', 'c')} AS d2\n"
            f"  FROM subs x JOIN c{iters} c USING (sub)\n)"
        ),
        (
            f"fa AS (\n"
            f"  SELECT vec_id, {cell_out}sub, cid, d2 FROM (\n"
            f"    SELECT *, row_number() OVER ("
            f"PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn\n"
            f"    FROM fd\n  ) WHERE rn = 1\n)"
        ),
    ]
    if mode == "codes":
        final = (
            "SELECT vec_id, sub::INTEGER AS sub, cid AS code_id, d2 AS sq_dist FROM fa"
        )
    else:
        if by_residual:
            # per-(query, probed cell) residual distance tables: the
            # query's residual to EACH of its nprobe cells, against
            # the shared residual codebooks
            ctes += [
                (
                    f"qcells AS (\n"
                    f"  SELECT query_id, ccid AS cell FROM (\n"
                    f"    SELECT x.vec_id AS query_id, cc.ccid, {dist_full('x', 'cc')} AS d2,\n"
                    f"           row_number() OVER ("
                    f"PARTITION BY x.vec_id ORDER BY {dist_full('x', 'cc')}, cc.ccid) AS rn\n"
                    f"    FROM v x, cc WHERE x.vec_id < 5\n  ) WHERE rn <= {nprobe}\n)"
                ),
                (
                    "qrv AS (\n"
                    "  SELECT q.vec_id AS query_id, qc.cell,\n"
                    "         list_transform(range(1, len(q.codes) + 1),\n"
                    "                        i -> q.codes[i] - cc.ccv[i]) AS codes\n"
                    "  FROM v q JOIN qcells qc ON qc.query_id = q.vec_id\n"
                    "  JOIN cc ON cc.ccid = qc.cell\n)"
                ),
                (
                    "qsubs AS (\n"
                    f"  SELECT query_id, cell, s.sub,\n"
                    f"         codes[s.sub * {w} + 1 : (s.sub + 1) * {w}] AS sc\n"
                    f"  FROM qrv, (SELECT unnest(range(0, {n_sub})) AS sub) s\n)"
                ),
                (
                    f"dtab AS (\n"
                    f"  SELECT x.query_id, x.cell, x.sub, c.cid, {dist('x', 'c')} AS qd2\n"
                    f"  FROM qsubs x JOIN c{iters} c USING (sub)\n)"
                ),
                (
                    "adist AS (\n"
                    "  SELECT d.query_id, f.vec_id, sum(d.qd2)::BIGINT AS adist\n"
                    "  FROM fa f\n"
                    "  JOIN dtab d ON d.cell = f.cell"
                    " AND d.sub = f.sub AND d.cid = f.cid\n"
                    "  WHERE d.query_id <> f.vec_id\n"
                    "  GROUP BY d.query_id, f.vec_id\n)"
                ),
            ]
            final = (
                "SELECT query_id, vec_id AS neighbor_id, adist, rank FROM (\n"
                "  SELECT *, row_number() OVER ("
                "PARTITION BY query_id ORDER BY adist, vec_id) AS rank FROM adist\n"
                f") WHERE rank <= {k}"
            )
            return "WITH " + ",\n".join(ctes) + "\n" + final
        ctes += [
            "qsubs AS (\n  SELECT vec_id AS query_id, sub, sc FROM subs WHERE vec_id < 5\n)",
            (
                f"dtab AS (\n"
                f"  SELECT x.query_id, x.sub, c.cid, {dist('x', 'c')} AS qd2\n"
                f"  FROM (SELECT query_id, sub, sc FROM qsubs) x"
                f" JOIN c{iters} c USING (sub)\n)"
            ),
        ]
        if mode == "ivfpq":
            ctes += [
                (
                    f"cc AS (\n  SELECT vec_id AS ccid, codes AS ccv FROM v"
                    f" WHERE vec_id % {coarse_every} = 0{coarse_cap}\n)"
                ),
                (
                    f"cellassign AS (\n"
                    f"  SELECT vec_id, ccid AS cell FROM (\n"
                    f"    SELECT x.vec_id, cc.ccid, {dist_full('x', 'cc')} AS d2,\n"
                    f"           row_number() OVER ("
                    f"PARTITION BY x.vec_id ORDER BY {dist_full('x', 'cc')}, cc.ccid) AS rn\n"
                    f"    FROM v x, cc\n  ) WHERE rn = 1\n)"
                ),
                (
                    f"qcells AS (\n"
                    f"  SELECT query_id, ccid AS cell FROM (\n"
                    f"    SELECT x.vec_id AS query_id, cc.ccid, {dist_full('x', 'cc')} AS d2,\n"
                    f"           row_number() OVER ("
                    f"PARTITION BY x.vec_id ORDER BY {dist_full('x', 'cc')}, cc.ccid) AS rn\n"
                    f"    FROM v x, cc WHERE x.vec_id < 5\n  ) WHERE rn <= {nprobe}\n)"
                ),
                (
                    "adist AS (\n"
                    "  SELECT d.query_id, f.vec_id, sum(d.qd2)::BIGINT AS adist\n"
                    "  FROM fa f\n"
                    "  JOIN cellassign ca ON ca.vec_id = f.vec_id\n"
                    "  JOIN qcells qc ON qc.cell = ca.cell\n"
                    "  JOIN dtab d ON d.query_id = qc.query_id"
                    " AND d.sub = f.sub AND d.cid = f.cid\n"
                    "  WHERE d.query_id <> f.vec_id\n"
                    "  GROUP BY d.query_id, f.vec_id\n)"
                ),
            ]
        else:
            ctes += [
                (
                    "adist AS (\n"
                    "  SELECT d.query_id, f.vec_id, sum(d.qd2)::BIGINT AS adist\n"
                    "  FROM fa f JOIN dtab d ON f.sub = d.sub AND f.cid = d.cid\n"
                    "  WHERE d.query_id <> f.vec_id\n"
                    "  GROUP BY d.query_id, f.vec_id\n)"
                ),
            ]
        final = (
            "SELECT query_id, vec_id AS neighbor_id, adist, rank FROM (\n"
            "  SELECT *, row_number() OVER ("
            "PARTITION BY query_id ORDER BY adist, vec_id) AS rank FROM adist\n"
            f") WHERE rank <= {k}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + final


PQ_CODES_SQL = _pq_sql(50, 2, 4, "codes", k_cap=100)
KNN_PQ_SQL = _pq_sql(50, 2, 4, "knn", k=10, k_cap=100)


# ---------------------------------------------------------------------------
# Count-min frequency sketch and fixed-bin histogram quantiles: both
# sketches are pure functions of the data (md5 buckets / IEEE bin
# math), so the oracles replay estimate-for-estimate.
# ---------------------------------------------------------------------------


def cms_user_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import cms_build, cms_estimate

    ev = table(spark, sf_dir, "events").select("user_id")
    sketch = cms_build(ev, "user_id")
    probes = ev.filter(F.col("user_id") < 50)
    est = cms_estimate(sketch, probes, "user_id")
    exact = probes.groupBy(F.col("user_id").cast("string").alias("key")).agg(
        F.count(F.lit(1)).alias("exact_cnt")
    )
    return est.join(exact, "key").select(
        "key",
        "est",
        "exact_cnt",
        (F.col("est") - F.col("exact_cnt")).alias("overcount"),
    )


CMS_USER_COUNTS_SQL = """
WITH seeds AS (
  SELECT unnest(range(0, 4)) AS seed
), keyed AS (
  SELECT user_id::VARCHAR AS k FROM events
), cms AS (
  SELECT seed,
         ('0x' || substr(md5('cms' || seed || ':' || k), 1, 15))::BIGINT % 1024 AS pos,
         count(*) AS cnt
  FROM keyed, seeds GROUP BY seed, pos
), probes AS (
  SELECT DISTINCT user_id::VARCHAR AS key FROM events WHERE user_id < 50
), pp AS (
  SELECT key, seed,
         ('0x' || substr(md5('cms' || seed || ':' || key), 1, 15))::BIGINT % 1024 AS pos
  FROM probes, seeds
), est AS (
  SELECT key, min(coalesce(cnt, 0))::BIGINT AS est
  FROM pp LEFT JOIN cms USING (seed, pos) GROUP BY key
), exact AS (
  SELECT user_id::VARCHAR AS key, count(*)::BIGINT AS exact_cnt
  FROM events WHERE user_id < 50 GROUP BY 1
)
SELECT key, est, exact_cnt, (est - exact_cnt)::BIGINT AS overcount
FROM est JOIN exact USING (key)
"""


def histogram_quantiles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import histogram_quantiles

    ev = table(spark, sf_dir, "events")
    return histogram_quantiles(ev, "value", qs=(0.5, 0.9, 0.99), bins=256)


HISTOGRAM_QUANTILES_SQL = """
WITH b AS (
  SELECT min(value::DOUBLE) AS lo, max(value::DOUBLE) AS hi FROM events
), v AS (
  SELECT value::DOUBLE AS v FROM events WHERE value IS NOT NULL
), binned AS (
  SELECT CASE WHEN hi <= lo THEN 0
              ELSE least(floor((v - lo) / (hi - lo) * 256), 255)::INTEGER END AS bin
  FROM v, b
), hist AS (
  SELECT bin, count(*) AS cnt FROM binned GROUP BY bin
), cum AS (
  SELECT bin, sum(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum FROM hist
), tot AS (
  SELECT sum(cnt) AS n FROM hist
), qs AS (
  SELECT unnest([0.5, 0.9, 0.99]::DOUBLE[]) AS q
), picked AS (
  SELECT q, min(bin) AS bin
  FROM qs, tot, cum
  WHERE cum >= ceil(q * n)::BIGINT
  GROUP BY q
)
SELECT q, bin,
       CASE WHEN hi <= lo THEN hi
            ELSE least(lo + (bin + 1)::DOUBLE / 256 * (hi - lo), hi) END AS est
FROM picked, b
ORDER BY q
"""


# ---------------------------------------------------------------------------
# Streaming near-dup gate, batch spelling: the LSH band registry with
# min-per-bucket canonicals. Exact clones are planted so every band
# of a clone collides with its source deterministically; the oracle
# replays shingles/signature/banding from the same md5 math as
# MINHASH_PAIRS_SQL, then the min window.
# ---------------------------------------------------------------------------


def band_registry_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.pipeline import band_registry_batch

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    clones = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 30000).alias("doc_id"), "text"
    )
    return band_registry_batch(docs.unionAll(clones))


BAND_REGISTRY_SQL = f"""
WITH corpus AS (
  SELECT doc_id AS id, text FROM documents
  UNION ALL
  SELECT doc_id + 30000, text FROM documents WHERE doc_id % 10 = 0
), tok AS (
  SELECT id, {_TOKS} AS toks FROM corpus
), sh AS (
  SELECT id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                       i -> array_to_string(toks[i:i+2], ' '))) AS shingles
  FROM tok
), sig AS (
  SELECT id,
         list_transform(range(0, {D.NUM_HASHES}),
           i -> list_aggregate(list_transform(shingles,
                  s -> ('0x' || substr(md5(i::VARCHAR || ':' || s), 1, 15))::BIGINT), 'min')) AS sig
  FROM sh WHERE len(shingles) > 0
), bands AS (
  SELECT id, u.b AS band,
         md5(array_to_string(list_transform(sig[u.b*{D.ROWS_PER_BAND}+1 : u.b*{D.ROWS_PER_BAND}+{D.ROWS_PER_BAND}],
             v -> v::VARCHAR), ',')) AS bucket
  FROM sig, (SELECT unnest(range(0, {D.BANDS})) AS b) u
)
SELECT id AS doc_id, band::INTEGER AS band, bucket,
       min(id) OVER (PARTITION BY band, bucket) AS canonical_id,
       id = min(id) OVER (PARTITION BY band, bucket) AS is_first
FROM bands
"""


# ---------------------------------------------------------------------------
# Hard-negative mining: nearest different-label vectors per query.
# ---------------------------------------------------------------------------


def hard_negatives_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import hard_negatives

    emb = parallelize(table(spark, sf_dir, "embeddings"))
    return hard_negatives(emb, emb.filter(F.col("vec_id") < 5), k=10)


HARD_NEGATIVES_SQL = """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e, label FROM embeddings
), q AS (
  SELECT vec_id AS query_id, e AS qv, label AS qlabel FROM v WHERE vec_id < 5
), scored AS (
  SELECT q.query_id, v.vec_id AS neighbor_id, v.label AS neighbor_label,
         CASE WHEN sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(e, e)) > 0
              THEN list_dot_product(qv, e)
                   / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(e, e)))
              ELSE 0.0 END AS score
  FROM v CROSS JOIN q
  WHERE q.qlabel <> v.label
), ranked AS (
  SELECT query_id, neighbor_id, neighbor_label, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, neighbor_label, score, rank FROM ranked WHERE rank <= 10
"""


# ---------------------------------------------------------------------------
# Incremental MV maintenance: the merged (state ∪ delta) partial
# aggregates must equal a from-scratch aggregation over everything —
# the oracle IS the from-scratch spelling, so the driver hash-checks
# the algebraic-merge property itself.
# ---------------------------------------------------------------------------


def mv_incremental_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.incremental import finalize_view, merge_partial_aggs, partial_aggs

    ev = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    state = partial_aggs(ev.filter(F.col("event_id") % 5 != 0), ["event_type"], "value")
    delta = partial_aggs(ev.filter(F.col("event_id") % 5 == 0), ["event_type"], "value")
    return finalize_view(merge_partial_aggs(state, delta, ["event_type"]), ["event_type"])


MV_INCREMENTAL_SQL = """
SELECT event_type,
       count(value) AS n,
       sum(floor(value * 100 + 0.5)::BIGINT)::DOUBLE / 100.0 AS sum_value,
       round(sum(floor(value * 100 + 0.5)::BIGINT)::DOUBLE / 100.0
             / count(value), 4) AS avg_value,
       min(value) AS min_value,
       max(value) AS max_value
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Training-sequence construction: per-user ordered event-type
# sequences (the "conversation packing" step of a behavioral-model
# pipeline), capped at a fixed length.
# ---------------------------------------------------------------------------


def user_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    # cap BEFORE collecting: row_number prunes each user to the first
    # 50 events, so the per-group array is bounded however active the
    # user — a bare collect_list-then-slice holds the user's whole
    # history in one aggregation buffer. n_events (the uncapped count)
    # rides the same window partitioning, and the groupBy reuses that
    # exchange (same key) — one shuffle total.
    w = Window.partitionBy("user_id")
    ranked = ev.withColumns(
        {
            "_rn": F.row_number().over(w.orderBy("ts", "event_id")),
            "_total": F.count(F.lit(1)).over(w),
        }
    ).filter(F.col("_rn") <= 50)
    seq = F.transform(
        F.array_sort(F.collect_list(F.struct("_rn", "event_type"))),
        lambda s: s["event_type"],
    )
    return ranked.groupBy("user_id").agg(
        F.max("_total").cast("bigint").alias("n_events"),
        F.concat_ws(">", seq).alias("seq"),
    )


USER_SEQUENCES_SQL = """
SELECT user_id,
       count(*)::BIGINT AS n_events,
       array_to_string(list(event_type ORDER BY ts, event_id)[1:50], '>') AS seq
FROM events
GROUP BY user_id
"""


def knn_ivfpq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import knn_ivfpq, quantize_embeddings_global

    emb = parallelize(table(spark, sf_dir, "embeddings"))
    codes = quantize_embeddings_global(emb).select("vec_id", "q_codes")
    queries = codes.filter(F.col("vec_id") < 5)
    return knn_ivfpq(
        codes, queries, k=10, nprobe=3, coarse_every=25,
        n_sub=4, k_every=50, iters=2, k_cap=100,
    )


KNN_IVFPQ_SQL = _pq_sql(50, 2, 4, "ivfpq", k=10, k_cap=100, nprobe=3, coarse_every=25)


def knn_ivfpq_res_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ (FAISS by_residual=true flavor): codebooks are
    trained on and encode the cell residual, and the query builds one
    distance table per probed cell — the accuracy configuration that
    makes IVF-PQ production-grade at 100 TB. Same deterministic
    integer arithmetic as knn_ivfpq_q, so the oracle replays the
    whole residual index bit-for-bit."""
    from ..operators.similarity import knn_ivfpq, quantize_embeddings_global

    emb = parallelize(table(spark, sf_dir, "embeddings"))
    codes = quantize_embeddings_global(emb).select("vec_id", "q_codes")
    queries = codes.filter(F.col("vec_id") < 5)
    return knn_ivfpq(
        codes, queries, k=10, nprobe=3, coarse_every=25,
        n_sub=4, k_every=50, iters=2, k_cap=100, by_residual=True,
    )


KNN_IVFPQ_RES_SQL = _pq_sql(
    50, 2, 4, "ivfpq", k=10, k_cap=100, nprobe=3, coarse_every=25, by_residual=True
)


# ---------------------------------------------------------------------------
# Temperature mixture weights (α = 1/2): sqrt keeps the math
# IEEE-exact across engines; round(…, 8) absorbs summation-order
# ulps before the floor boundary.
# ---------------------------------------------------------------------------


def temperature_mixture_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import temperature_mixture

    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    return temperature_mixture(docs, "lang", budget=1000)


TEMPERATURE_MIXTURE_SQL = """
WITH counts AS (
  SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
), tot AS (
  SELECT sum(sqrt(n_docs)) AS tw FROM counts
)
SELECT lang, n_docs,
       round(sqrt(n_docs) / tw, 8) AS weight,
       least(floor(1000.0 * round(sqrt(n_docs) / tw, 8))::BIGINT, n_docs) AS target_rows
FROM counts, tot
"""


# ---------------------------------------------------------------------------
# Retention cohorts: users grouped by first-seen week, activity
# matrix by week offset. Weeks are integer-µs epochs (div/// agree —
# non-negative), so the cohort keys are engine-exact.
# ---------------------------------------------------------------------------


def retention_cohorts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("user_id", "ts")
    acts = ev.select(
        "user_id", F.expr("unix_micros(ts) div 604800000000").alias("wk")
    ).distinct()
    cohort = acts.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    ret = (
        acts.join(cohort, "user_id")
        .groupBy("cohort_wk", (F.col("wk") - F.col("cohort_wk")).alias("week_offset"))
        .agg(F.count_distinct("user_id").alias("n_users"))
    )
    sizes = cohort.groupBy("cohort_wk").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_users")
    )
    return ret.join(sizes, "cohort_wk").select(
        "cohort_wk",
        "week_offset",
        "n_users",
        "cohort_users",
        F.round(F.col("n_users") / F.col("cohort_users"), 4).alias("retention"),
    )


RETENTION_COHORTS_SQL = """
WITH acts AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS wk FROM events
), coh AS (
  SELECT user_id, min(wk) AS cohort_wk FROM acts GROUP BY user_id
), ret AS (
  SELECT cohort_wk, wk - cohort_wk AS week_offset,
         count(DISTINCT user_id)::BIGINT AS n_users
  FROM acts JOIN coh USING (user_id) GROUP BY 1, 2
), sizes AS (
  SELECT cohort_wk, count(*)::BIGINT AS cohort_users FROM coh GROUP BY 1
)
SELECT r.cohort_wk, r.week_offset, r.n_users, s.cohort_users,
       round(r.n_users / s.cohort_users, 4) AS retention
FROM ret r JOIN sizes s USING (cohort_wk)
"""


# ---------------------------------------------------------------------------
# Equal-frequency feature binning: sketch-derived decile cutpoints
# broadcast back over the corpus — no global sort. The oracle replays
# the full histogram → cutpoint → count-of-cuts-below chain.
# ---------------------------------------------------------------------------


def feature_bins_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import quantile_bins

    ev = table(spark, sf_dir, "events").select("event_id", "value")
    binned = quantile_bins(ev, "value", n_bins_out=10, bins=256)
    return binned.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


_FB_QS = ", ".join(str(i / 10) for i in range(1, 10))

FEATURE_BINS_SQL = f"""
WITH b AS (
  SELECT min(value::DOUBLE) AS lo, max(value::DOUBLE) AS hi FROM events
), v AS (
  SELECT value::DOUBLE AS v FROM events WHERE value IS NOT NULL
), binned AS (
  SELECT CASE WHEN hi <= lo THEN 0
              ELSE least(floor((v - lo) / (hi - lo) * 256), 255)::INTEGER END AS bin
  FROM v, b
), hist AS (
  SELECT bin, count(*) AS cnt FROM binned GROUP BY bin
), cum AS (
  SELECT bin, sum(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum FROM hist
), tot AS (
  SELECT sum(cnt) AS n FROM hist
), qs AS (
  SELECT unnest([{_FB_QS}]::DOUBLE[]) AS q
), picked AS (
  SELECT q, min(bin) AS bin
  FROM qs, tot, cum
  WHERE cum >= ceil(q * n)::BIGINT
  GROUP BY q
), cuts AS (
  SELECT list_sort(list(
    CASE WHEN hi <= lo THEN hi
         ELSE least(lo + (bin + 1)::DOUBLE / 256 * (hi - lo), hi) END)) AS cl
  FROM picked, b
)
SELECT bucket, count(*)::BIGINT AS n, min(value) AS min_value, max(value) AS max_value
FROM (
  SELECT e.value,
         (1 + list_sum(list_transform(c.cl,
            x -> CASE WHEN e.value::DOUBLE > x THEN 1 ELSE 0 END)))::INTEGER AS bucket
  FROM events e, cuts c
)
GROUP BY bucket
"""


def temperature_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import temperature_sample

    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    return temperature_sample(docs, "lang", budget=1000)


TEMPERATURE_SAMPLE_SQL = """
WITH counts AS (
  SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
), tot AS (
  SELECT sum(sqrt(n_docs)) AS tw FROM counts
), targets AS (
  SELECT lang, n_docs,
         least(floor(1000.0 * round(sqrt(n_docs) / tw, 8))::BIGINT, n_docs) AS target_rows
  FROM counts, tot
)
SELECT d.doc_id, d.lang
FROM documents d JOIN targets t USING (lang)
WHERE ('0x' || substr(md5('temp:' || d.doc_id), 1, 15))::BIGINT % 10000 * t.n_docs
      < t.target_rows * 10000
"""


# ---------------------------------------------------------------------------
# BM25 ranked retrieval: per-(doc, term) contributions quantized to
# bigints so the per-pair sum is order-independent; the oracle spells
# the identical IEEE chain.
# ---------------------------------------------------------------------------


def bm25_rank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.tfidf import bm25_rank

    docs = parallelize(table(spark, sf_dir, "documents").select("doc_id", "text"))
    queries = docs.filter(F.col("doc_id") < 3)
    # the synthetic corpus has a ~31-token vocabulary with df ≈ 0.8n,
    # so the df prune is disabled here (BM25's idf already
    # down-weights common terms); real corpora keep the default prune
    return bm25_rank(docs, queries, k=10, max_df_ratio=(1, 1))


# The BM25 CTE chain from tokenization through per-(query, doc)
# scores, shared between BM25_RANK_SQL and RETRIEVAL_METRICS_SQL —
# prepend a `WITH corpus AS (... id, text ...)` head. Queries are the
# id < 3 docs; df prune disabled (ratio 1/1) as documented at
# bm25_rank_q.
_BM25_CHAIN = f"""tok AS (
  SELECT id, {_TOKS} AS toks FROM corpus
), tf AS (
  SELECT id, u.token, count(*)::BIGINT AS tf
  FROM tok, unnest(toks) AS u(token)
  GROUP BY 1, 2
), dl AS (
  SELECT id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1
), stats AS (
  SELECT sum(dl)::DOUBLE / count(*)::DOUBLE AS avgdl FROM dl
), nn AS (
  SELECT count(*)::BIGINT AS n FROM corpus
), idf AS (
  SELECT token,
         round(10000::DOUBLE
               * (ln((n + 1)::DOUBLE / (df + 1)::DOUBLE) + 1.0))::BIGINT AS idf_q
  FROM (SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY 1), nn
  WHERE df * 1 <= n * 1
), contrib AS (
  SELECT tf.id, tf.token,
         floor(idf.idf_q::DOUBLE * (tf.tf::DOUBLE * 2.2)
               / (tf.tf::DOUBLE + 1.2 * (0.25 + 0.75 * (dl.dl::DOUBLE / s.avgdl))))::BIGINT AS cq
  FROM tf
  JOIN idf ON tf.token = idf.token
  JOIN dl ON dl.id = tf.id, stats s
), qterms AS (
  SELECT DISTINCT id AS query_id, u.token
  FROM tok, unnest(toks) AS u(token)
  WHERE id < 3
), scored AS (
  SELECT q.query_id, c.id, sum(c.cq)::BIGINT AS score_q, count(*)::BIGINT AS shared_terms
  FROM qterms q JOIN contrib c ON q.token = c.token
  WHERE q.query_id <> c.id
  GROUP BY 1, 2
)"""

BM25_RANK_SQL = f"""
WITH corpus AS (
  SELECT doc_id AS id, text FROM documents
), {_BM25_CHAIN}
SELECT query_id, id AS doc_id, shared_terms, score_q,
       round(score_q / 10000.0, 4) AS score, rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score_q DESC, id) AS rank
  FROM scored
)
WHERE rank <= 10
"""


# ---------------------------------------------------------------------------
# Hybrid retrieval: BM25 (lexical) + brute cosine (dense) fused by
# reciprocal rank. The contributions combine through a FIXED chain of
# coalesce additions (never a SUM agg), so the fused doubles are
# association-order-identical in both engines.
# ---------------------------------------------------------------------------


def hybrid_retrieval_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import knn_bruteforce, rrf_fuse
    from ..operators.tfidf import bm25_rank

    docs = parallelize(table(spark, sf_dir, "documents").select("doc_id", "text"))
    qdocs = docs.filter(F.col("doc_id") < 3)
    lex = bm25_rank(docs, qdocs, k=20, max_df_ratio=(1, 1)).select(
        "query_id", "doc_id", "rank"
    )
    emb = parallelize(table(spark, sf_dir, "embeddings"))
    dense = knn_bruteforce(emb, emb.filter(F.col("vec_id") < 3), k=20).select(
        "query_id", F.col("neighbor_id").alias("doc_id"), "rank"
    )
    return rrf_fuse([lex, dense], k=10)


HYBRID_RETRIEVAL_SQL = f"""
WITH corpus AS (
  SELECT doc_id AS id, text FROM documents
), tok AS (
  SELECT id, {_TOKS} AS toks FROM corpus
), tf AS (
  SELECT id, u.token, count(*)::BIGINT AS tf
  FROM tok, unnest(toks) AS u(token)
  GROUP BY 1, 2
), dl AS (
  SELECT id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1
), stats AS (
  SELECT sum(dl)::DOUBLE / count(*)::DOUBLE AS avgdl FROM dl
), nn AS (
  SELECT count(*)::BIGINT AS n FROM corpus
), idf AS (
  SELECT token,
         round(10000::DOUBLE
               * (ln((n + 1)::DOUBLE / (df + 1)::DOUBLE) + 1.0))::BIGINT AS idf_q
  FROM (SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY 1), nn
  WHERE df * 1 <= n * 1
), contrib AS (
  SELECT tf.id, tf.token,
         floor(idf.idf_q::DOUBLE * (tf.tf::DOUBLE * 2.2)
               / (tf.tf::DOUBLE + 1.2 * (0.25 + 0.75 * (dl.dl::DOUBLE / s.avgdl))))::BIGINT AS cq
  FROM tf
  JOIN idf ON tf.token = idf.token
  JOIN dl ON dl.id = tf.id, stats s
), qterms AS (
  SELECT DISTINCT id AS query_id, u.token
  FROM tok, unnest(toks) AS u(token)
  WHERE id < 3
), bscored AS (
  SELECT q.query_id, c.id, sum(c.cq)::BIGINT AS score_q
  FROM qterms q JOIN contrib c ON q.token = c.token
  WHERE q.query_id <> c.id
  GROUP BY 1, 2
), lex AS (
  SELECT query_id, id AS doc_id, rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score_q DESC, id) AS rank
    FROM bscored
  ) WHERE rank <= 20
), dv AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), dq AS (
  SELECT vec_id AS query_id, e AS qv FROM dv WHERE vec_id < 3
), dscored AS (
  SELECT dq.query_id, dv.vec_id AS doc_id,
         CASE WHEN sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(e, e)) > 0
              THEN list_dot_product(qv, e)
                   / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(e, e)))
              ELSE 0.0 END AS score
  FROM dv CROSS JOIN dq
  WHERE dq.query_id <> dv.vec_id
), dense AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
    FROM dscored
  ) WHERE rank <= 20
), fused AS (
  SELECT coalesce(l.query_id, d.query_id) AS query_id,
         coalesce(l.doc_id, d.doc_id) AS doc_id,
         round(coalesce(1.0 / (60 + l.rank), 0.0)
               + coalesce(1.0 / (60 + d.rank), 0.0), 6) AS rrf_score
  FROM lex l FULL JOIN dense d
    ON l.query_id = d.query_id AND l.doc_id = d.doc_id
)
SELECT query_id, doc_id, rrf_score, rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS rank
  FROM fused
)
WHERE rank <= 10
"""


# ---------------------------------------------------------------------------
# Video modality (fake backend oracle): metadata decode + frame
# sampling counts, all replayable from md5 hex bytes. The real
# ISO-BMFF box walk is covered by pytest on synthesized containers.
# ---------------------------------------------------------------------------


def video_decode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal as M

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    decoded = M.decode_video(M.attach_fake_payload(docs))
    frames = M.sample_frames(decoded, every_n=10)
    return frames.groupBy(
        "doc_id", "video_brand", "timescale", "duration_units", "video_duration_ms"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_sampled"))


VIDEO_DECODE_SQL = """
WITH hexed AS (
  SELECT doc_id, md5(text) AS h FROM documents
), bytes AS (
  SELECT doc_id,
         ('0x' || substr(h, 1, 2))::INTEGER AS b0,
         ('0x' || substr(h, 3, 2))::INTEGER AS b1
  FROM hexed
), meta AS (
  SELECT doc_id,
         'fake' AS video_brand,
         (1000 * (1 + b0 % 2))::INTEGER AS timescale,
         (10000 + b1 * 100)::BIGINT AS duration_units,
         ((10000 + b1 * 100) * 1000 // (1000 * (1 + b0 % 2)))::BIGINT AS video_duration_ms
  FROM bytes
)
-- fake payload is always the 16-byte md5 digest: n_frames = 16 % 64 + 8 = 24,
-- sampled indices {0,10,20} -> 3 per doc
SELECT doc_id, video_brand, timescale, duration_units, video_duration_ms,
       3::BIGINT AS n_sampled
FROM meta
"""


# ---------------------------------------------------------------------------
# Multimodal training-example assembly: one row per sample with all
# modalities aligned — text stats, the embedding, image + audio
# decode metadata — the join step a multimodal training pipeline
# runs before packing shards. Broadcast the (narrow) embedding side;
# decode metadata computed in the same pass.
# ---------------------------------------------------------------------------


def multimodal_examples_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal as M
    from ..operators.textstats import tokens

    docs = table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    emb = parallelize(table(spark, sf_dir, "embeddings")).select(
        F.col("vec_id").alias("doc_id"), F.col("label").alias("cls")
    )
    with_media = M.decode_audio(M.decode_images(M.attach_fake_payload(docs)))
    return (
        with_media.join(emb, "doc_id")
        .select(
            "doc_id",
            "lang",
            "cls",
            F.size(tokens(F.col("text"))).alias("n_tokens"),
            "width",
            "height",
            "format",
            "sample_rate",
            "duration_ms",
        )
    )


MULTIMODAL_EXAMPLES_SQL = """
WITH hexed AS (
  SELECT doc_id, text, lang, md5(text) AS h FROM documents
), bytes AS (
  SELECT doc_id, text, lang,
         ('0x' || substr(h, 1, 2))::INTEGER AS b0,
         ('0x' || substr(h, 3, 2))::INTEGER AS b1,
         ('0x' || substr(h, 5, 2))::INTEGER AS b2,
         ('0x' || substr(h, 7, 2))::INTEGER AS b3
  FROM hexed
)
SELECT b.doc_id, b.lang, e.label AS cls,
       CASE WHEN trim(lower(b.text)) = '' THEN 0
            ELSE len(string_split_regex(trim(lower(b.text)), '\\s+')) END::INTEGER AS n_tokens,
       (16 + b0 % 64)::INTEGER AS width,
       (16 + b1 % 64)::INTEGER AS height,
       'fake/rgb' AS format,
       (8000 * (1 + b0 % 3))::INTEGER AS sample_rate,
       ((1000 + b2 * 256 + b3) * 1000 // (8000 * (1 + b0 % 3)))::BIGINT AS duration_ms
FROM bytes b JOIN (SELECT vec_id, label FROM embeddings) e ON e.vec_id = b.doc_id
"""


# ---------------------------------------------------------------------------
# suffix-array-fidelity substring dedup (operators/suffix.py)
# ---------------------------------------------------------------------------


def span_unit_repeats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-repeat verification of char-granular candidate spans —
    the span fidelity a token-n-gram run merge (repeated_spans)
    cannot provide: each reported span is checked to recur AS A
    WHOLE across the corpus (operators/suffix.py). The oracle
    replicates candidate generation, the deterministic top-200 cut,
    and the greedy replace-count verification."""
    from ..operators import suffix as SX

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return SX.span_unit_repeats(docs, k=20, min_docs=2, top_n=200)


SPAN_UNIT_REPEATS_SQL = """
WITH grams AS (
  SELECT doc_id AS id, i AS pos, md5(substr(text, i, 20)) AS g
  FROM documents, unnest(range(1, greatest(length(text) - 19, 0) + 1)) AS t(i)
), shared AS (
  SELECT g FROM grams GROUP BY g HAVING count(DISTINCT id) >= 2
), hits AS (
  SELECT grams.id, grams.pos FROM grams JOIN shared USING (g)
), flagged AS (
  SELECT id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY id ORDER BY pos) > 20
              THEN 1 ELSE 0 END AS new_span
  FROM hits
), sess AS (
  SELECT id, pos,
         sum(new_span) OVER (PARTITION BY id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS span_id
  FROM flagged
), spans AS (
  SELECT id, min(pos) AS span_start,
         max(pos) + 19 - min(pos) + 1 AS span_len
  FROM sess GROUP BY id, span_id
), cand AS (
  SELECT DISTINCT substr(d.text, s.span_start, s.span_len) AS span_text, s.span_len
  FROM spans s JOIN documents d ON d.doc_id = s.id
), top_cand AS (
  SELECT span_text, span_len, md5(span_text) AS span_md5
  FROM cand ORDER BY span_len DESC, md5(span_text) LIMIT 200
), ver AS (
  SELECT c.span_md5, c.span_len,
         CASE WHEN strpos(d.text, c.span_text) > 0 THEN 1 ELSE 0 END AS in_doc,
         (length(d.text) - length(replace(d.text, c.span_text, ''))) // c.span_len AS occ
  FROM documents d CROSS JOIN top_cand c
)
SELECT span_md5,
       span_len::BIGINT AS span_len,
       sum(in_doc)::BIGINT AS n_docs,
       sum(occ)::BIGINT AS n_occurrences,
       sum(in_doc) >= 2 AS unit_repeat
FROM ver
GROUP BY span_md5, span_len
"""


def repeat_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus repeat-length profile at a fixed length grid — the
    SQL-expressible face of the doubling LRS search
    (operators/suffix.py::repeat_profile)."""
    from ..operators import suffix as SX

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return SX.repeat_profile(docs, lengths=(16, 32, 64), min_count=2)


def _profile_block(L: int) -> str:
    return f"""
  SELECT {L}::BIGINT AS gram_len,
         count(*)::BIGINT AS n_repeated_grams,
         coalesce(sum(occ), 0)::BIGINT AS n_repeated_positions,
         coalesce(max(occ), 0)::BIGINT AS max_occ,
         coalesce(min(g) FILTER (WHERE occ = m), '') AS top_gram_md5
  FROM (
    SELECT g, count(*) AS occ FROM (
      SELECT md5(substr(text, i, {L})) AS g
      FROM documents, unnest(range(1, greatest(length(text) - {L - 1}, 0) + 1)) AS t(i)
    ) GROUP BY g HAVING count(*) >= 2
  ) c LEFT JOIN (
    SELECT max(occ) AS m FROM (
      SELECT count(*) AS occ FROM (
        SELECT md5(substr(text, i, {L})) AS g
        FROM documents, unnest(range(1, greatest(length(text) - {L - 1}, 0) + 1)) AS t(i)
      ) GROUP BY g HAVING count(*) >= 2
    )
  ) ON TRUE"""


REPEAT_PROFILE_SQL = (
    _profile_block(16) + "\nUNION ALL" + _profile_block(32) + "\nUNION ALL" + _profile_block(64)
)


def lrs_exact_fixed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hash-oracle twin of rows-only lrs_exact (r9 verdict item
    5 — the bpe_merges_fixed recipe applied to the LRS algorithm):
    the SAME O(log L) doubling + grid-search probe
    (suffix.py::longest_repeated_substring) run over the corpus's
    SF-INVARIANT enum vocabulary (nation/region names + the distinct
    part-type and part-brand enums — 61 strings, md5-identical at
    sf0.001/0.01/0.1), so the answer is a deterministic constant the
    driver can hash. The oracle is NOT a pinned VALUES row: it
    brute-force ENUMERATES every substring of the same tiny corpus
    in DuckDB (bounded by the enum vocabulary — ~19k substrings by
    construction, never corpus-scale) — two different algorithms
    hashing identically, the strongest oracle form (the r8
    hierarchy-rollup trick). Expected: ('NATION_1', len 8, occ 11 —
    prefix of NATION_1, NATION_10..19), also pinned by
    tests/test_suffix.py.

    doc_id is an md5-derived int of the text (unique — the 61 enum
    strings are distinct); the output never references it."""
    from ..operators import suffix as SX

    parts = [
        table(spark, sf_dir, "nation").select(F.col("n_name").alias("text")),
        table(spark, sf_dir, "region").select(F.col("r_name").alias("text")),
        table(spark, sf_dir, "part").select(F.col("p_type").alias("text")).distinct(),
        table(spark, sf_dir, "part").select(F.col("p_brand").alias("text")).distinct(),
    ]
    corpus = parts[0]
    for p in parts[1:]:
        corpus = corpus.unionByName(p)
    corpus = corpus.select(
        F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("bigint").alias("doc_id"),
        "text",
    )
    import hashlib

    L, text, occ = SX.longest_repeated_substring(
        corpus, min_count=2, min_len=4, partitions=1
    )
    return spark.createDataFrame(
        [(L, hashlib.md5(text.encode()).hexdigest(), occ)],
        "lrs_len BIGINT, lrs_md5 STRING, occurrences BIGINT",
    )


LRS_EXACT_FIXED_SQL = """
WITH corpus AS (
  SELECT n_name AS text FROM nation
  UNION ALL SELECT r_name FROM region
  UNION ALL SELECT DISTINCT p_type FROM part
  UNION ALL SELECT DISTINCT p_brand FROM part
),
subs AS (
  SELECT substr(text, i, L) AS s, L
  FROM corpus,
       unnest(range(1, length(text) + 1)) AS ti(i),
       unnest(range(4, length(text) + 1)) AS tl(L)
  WHERE i + L - 1 <= length(text)
),
rep AS (
  SELECT s, L, count(*)::BIGINT AS occ
  FROM subs GROUP BY s, L HAVING count(*) >= 2
),
best AS (SELECT max(L) AS max_l FROM rep)
SELECT L::BIGINT AS lrs_len, md5(s) AS lrs_md5, occ AS occurrences
FROM rep, best WHERE L = max_l
ORDER BY occ DESC, md5(s) LIMIT 1
"""


def lrs_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT corpus longest-repeated-substring via doubling + binary
    search (operators/suffix.py::longest_repeated_substring) — an
    iterative algorithm (O(log L) probe jobs), so no single-statement
    DuckDB oracle; the driver records the rows-only check and the
    exactness is pinned by planted overlapping/nested boilerplate
    tests (tests/test_suffix.py)."""
    from ..operators import suffix as SX

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    import hashlib

    L, text, occ = SX.longest_repeated_substring(docs, min_count=2, min_len=16)
    return spark.createDataFrame(
        [(L, hashlib.md5(text.encode()).hexdigest(), occ)],
        "lrs_len BIGINT, lrs_md5 STRING, occurrences BIGINT",
    )


def scrub_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detect → scrub: cut every cross-doc repeated span from all
    but its canonical (min doc_id) owner and stitch the survivors
    back in order (operators/suffix.py::scrub_repeated_spans; the
    removal pass of Lee et al. ACL 2022 §4). The oracle rebuilds the
    same spans, keeper policy, and segment stitching in SQL."""
    from ..operators import suffix as SX

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return SX.scrub_repeated_spans(docs, k=20, min_docs=2)


SCRUB_SPANS_SQL = """
WITH grams AS (
  SELECT doc_id AS id, i AS pos, md5(substr(text, i, 20)) AS g
  FROM documents, unnest(range(1, greatest(length(text) - 19, 0) + 1)) AS t(i)
), shared AS (
  SELECT g FROM grams GROUP BY g HAVING count(DISTINCT id) >= 2
), hits AS (
  SELECT grams.id, grams.pos FROM grams JOIN shared USING (g)
), flagged AS (
  SELECT id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY id ORDER BY pos) > 20
              THEN 1 ELSE 0 END AS new_span
  FROM hits
), sess AS (
  SELECT id, pos,
         sum(new_span) OVER (PARTITION BY id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS span_id
  FROM flagged
), spans AS (
  SELECT id, min(pos) AS span_start,
         max(pos) + 19 - min(pos) + 1 AS span_len
  FROM sess GROUP BY id, span_id
), stext AS (
  SELECT s.id, s.span_start, s.span_len,
         substr(d.text, s.span_start, s.span_len) AS span_text
  FROM spans s JOIN documents d ON d.doc_id = s.id
), cuts AS (
  SELECT id, span_start, span_len
  FROM (SELECT *, min(id) OVER (PARTITION BY span_text) AS keep_doc FROM stext)
  WHERE id <> keep_doc
), gaps AS (
  SELECT id,
         coalesce(lag(span_start + span_len) OVER (PARTITION BY id ORDER BY span_start), 1) AS seg_start,
         span_start - coalesce(lag(span_start + span_len) OVER (PARTITION BY id ORDER BY span_start), 1) AS seg_len,
         span_len
  FROM cuts
), tails AS (
  SELECT id, max(span_start + span_len) AS seg_start,
         NULL::BIGINT AS seg_len, 0::BIGINT AS span_len
  FROM cuts GROUP BY id
), segs AS (
  SELECT * FROM gaps UNION ALL SELECT * FROM tails
), stitched AS (
  SELECT s.id,
         string_agg(CASE WHEN s.seg_len IS NULL THEN substr(d.text, s.seg_start)
                         ELSE substr(d.text, s.seg_start, s.seg_len) END,
                    '' ORDER BY s.seg_start) AS scrubbed_text,
         count(*) - 1 AS n_spans_cut,
         sum(s.span_len) AS chars_cut
  FROM segs s JOIN documents d ON d.doc_id = s.id
  GROUP BY s.id
)
SELECT d.doc_id,
       coalesce(st.scrubbed_text, d.text) AS scrubbed_text,
       coalesce(st.n_spans_cut, 0)::BIGINT AS n_spans_cut,
       coalesce(st.chars_cut, 0)::BIGINT AS chars_cut
FROM documents d LEFT JOIN stitched st ON st.id = d.doc_id
"""


# ---------------------------------------------------------------------------
# BPE tokenizer training (operators/bpe.py)
# ---------------------------------------------------------------------------


def bpe_pair_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-0 BPE pair statistics over the corpus — the
    SQL-expressible face of the tokenizer trainer (word-frequency
    aggregation + weighted adjacent-pair counts, Sennrich ACL 2016)."""
    from ..operators import bpe as B

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return B.bpe_pair_counts(docs, top=100)


BPE_PAIR_COUNTS_SQL = r"""
WITH words AS (
  SELECT w AS word, count(*) AS n
  FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS w FROM documents)
  WHERE w <> '' GROUP BY w
), pairs AS (
  SELECT substr(word, i, 1) AS left_sym,
         substr(word, i + 1, 1)
           || CASE WHEN i + 1 = length(word) THEN '</w>' ELSE '' END AS right_sym,
         n
  FROM words, unnest(range(1, length(word))) AS t(i)
  WHERE length(word) >= 2
)
SELECT left_sym, right_sym, sum(n)::BIGINT AS pair_count
FROM pairs GROUP BY left_sym, right_sym
ORDER BY pair_count DESC, left_sym, right_sym
LIMIT 100
"""


def bpe_merges_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned BPE merge table (8 merges) — the iterative trainer
    (one argmax job per merge over the persisted vocab; corpus
    touched once). Iterative algorithm → rows-only driver check;
    exact merge semantics pinned by the classic Sennrich
    low/lower/newest/widest example in tests/test_bpe.py."""
    from ..operators import bpe as B

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    merges = B.train_bpe(docs, n_merges=8)
    return spark.createDataFrame(
        merges, "rank BIGINT, left_sym STRING, right_sym STRING, pair_count BIGINT"
    )


def bpe_merges_fixed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hash-oracle twin of rows-only bpe_merges (r8 verdict item
    5, same recipe as bpe_encode_fixed): the SAME iterative trainer —
    per-merge distributed pair-count argmax, greedy vocab
    re-segmentation — run over the corpus's SF-INVARIANT categorical
    vocabulary (nation/region names + the part-type and part-brand
    enums; verified byte-identical at sf0.001/0.01/0.1), so the
    learned merge table is a deterministic constant the driver can
    hash against the pinned oracle. documents.text itself differs
    per SF, which is why plain bpe_merges stays rows-only. The tiny
    vocab trains at vocab_partitions=1 (see train_bpe) to avoid
    paying 32-thread task overhead per merge job."""
    from ..operators import bpe as B

    parts = [
        table(spark, sf_dir, "nation").select(F.col("n_name").alias("text")),
        table(spark, sf_dir, "region").select(F.col("r_name").alias("text")),
        table(spark, sf_dir, "part").select(F.col("p_type").alias("text")).distinct(),
        table(spark, sf_dir, "part").select(F.col("p_brand").alias("text")).distinct(),
    ]
    corpus = parts[0]
    for p in parts[1:]:
        corpus = corpus.unionByName(p)
    merges = B.train_bpe(corpus, n_merges=10, vocab_partitions=1)
    return spark.createDataFrame(
        merges, "rank BIGINT, left_sym STRING, right_sym STRING, pair_count BIGINT"
    )


# the pinned expected merge table — regenerate with
# `train_bpe(<the corpus above>, n_merges=10, vocab_partitions=1)`
# if the trainer's greedy/tie-break semantics ever deliberately
# change (then also re-validate tests/test_bpe.py and the fixtures)
BPE_MERGES_FIXED_SQL = """
SELECT "rank"::BIGINT AS rank, left_sym, right_sym, pair_count::BIGINT AS pair_count
FROM (VALUES
  (0, 'O', 'N', 26),
  (1, 'A', 'T', 25),
  (2, 'AT', 'I', 25),
  (3, 'ATI', 'ON', 25),
  (4, 'ATION', '_', 25),
  (5, 'B', 'r', 25),
  (6, 'Br', 'a', 25),
  (7, 'Bra', 'n', 25),
  (8, 'Bran', 'd', 25),
  (9, 'Brand', '#', 25)
) AS t("rank", left_sym, right_sym, pair_count)
"""


# ---------------------------------------------------------------------------
# corpus bigram-LM scoring (operators/lmscore.py)
# ---------------------------------------------------------------------------


def ngram_lm_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality gate under the corpus's own bigram
    LM, with exact integer log2 (floor(log2 n) = len(bin n) - 1) so
    the driver hash-checks it bit-for-bit."""
    from ..operators import lmscore as LM

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return LM.ngram_lm_score(docs, min_count=2)


NGRAM_LM_SCORE_SQL = f"""
WITH tok AS (
  SELECT doc_id AS id, {_TOKS} AS toks FROM documents
), bgs AS (
  SELECT id, md5(toks[i] || ' ' || toks[i + 1]) AS bg
  FROM tok, unnest(range(1, greatest(len(toks) - 1, 0) + 1)) AS t(i)
), lm AS (
  SELECT bg, (length(format('{{:b}}', count(*))) - 1)::BIGINT AS ilog2
  FROM bgs GROUP BY bg HAVING count(*) >= 2
), per_doc AS (
  SELECT b.id, count(*) AS n_bigrams,
         count(l.ilog2) AS known_bigrams,
         coalesce(sum(l.ilog2), 0)::BIGINT AS ilog2_sum
  FROM bgs b LEFT JOIN lm l USING (bg)
  GROUP BY b.id
)
SELECT d.doc_id,
       coalesce(p.n_bigrams, 0)::BIGINT AS n_bigrams,
       coalesce(p.known_bigrams, 0)::BIGINT AS known_bigrams,
       coalesce(p.ilog2_sum, 0)::BIGINT AS ilog2_sum,
       CASE WHEN coalesce(p.n_bigrams, 0) > 0
            THEN round(p.ilog2_sum::DOUBLE / p.n_bigrams::DOUBLE, 4)
            ELSE 0.0 END AS score
FROM documents d LEFT JOIN per_doc p ON p.id = d.doc_id
"""


# ---------------------------------------------------------------------------
# content-defined chunking (operators/suffix.py::cdc_chunks)
# ---------------------------------------------------------------------------


def cdc_chunks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash content-defined chunking with corpus-wide copy
    counts — boundaries move with content, so shared runs between
    near-identical docs land in identical chunks (the storage-dedup
    signal). Fully deterministic content math; the oracle replays
    boundary choice, segmentation, and copy counting."""
    from ..operators import suffix as SX

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return SX.cdc_chunks(docs, w=8)


CDC_CHUNKS_SQL = """
WITH docs0 AS (
  SELECT doc_id AS id, text, length(text) AS n FROM documents WHERE length(text) > 0
), bounds AS (
  SELECT id, i AS s
  FROM docs0, unnest(range(1, greatest(n - 7, 0) + 1)) AS t(i)
  WHERE substr(md5(substr(text, i, 8)), 1, 1) = '0'
), starts AS (
  SELECT DISTINCT id, s FROM (
    SELECT id, 1 AS s FROM docs0
    UNION ALL
    SELECT id, s FROM bounds
  )
), seg AS (
  SELECT st.id, st.s,
         coalesce(lead(st.s) OVER (PARTITION BY st.id ORDER BY st.s), d.n + 1) - st.s AS chunk_len,
         d.text
  FROM starts st JOIN docs0 d ON d.id = st.id
), chunks AS (
  SELECT id AS doc_id,
         s::BIGINT AS chunk_start,
         chunk_len::BIGINT AS chunk_len,
         md5(substr(text, s, chunk_len)) AS chunk_md5
  FROM seg WHERE chunk_len > 0
)
SELECT doc_id, chunk_start, chunk_len, chunk_md5,
       count(*) OVER (PARTITION BY chunk_md5) AS n_copies
FROM chunks
"""


# ---------------------------------------------------------------------------
# star-contraction connected components (dedup.py::connected_components_star)
# ---------------------------------------------------------------------------


def dedup_clusters_star_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The giant-component-safe cluster resolver: alternating
    large-star/small-star contraction (Kiveris et al., SoCC 2014)
    over the SAME minhash candidate pairs as dedup_clusters — and
    the SAME recursive-closure oracle, so the driver hash proves the
    two algorithms compute identical components."""
    pairs = minhash_pairs(spark, sf_dir)
    return D.resolve_duplicates_star(pairs)


# ---------------------------------------------------------------------------
# winnowing fingerprints (operators/suffix.py::winnowing_pairs)
# ---------------------------------------------------------------------------


def winnowing_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style containment candidates from shared winnowing
    fingerprints (Schleimer et al., SIGMOD 2003): the cross-doc join
    runs over the ~2/(w+1)-density selected-gram set, never the raw
    gram volume. The oracle replays hashing, window selection, and
    the pair count bit-for-bit."""
    from ..operators import suffix as SX

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return SX.winnowing_pairs(docs, k=12, w=8, min_shared=10, max_df=50)


WINNOWING_PAIRS_SQL = """
WITH grams AS (
  SELECT doc_id AS id, i AS pos, md5(substr(text, i, 12)) AS g
  FROM documents, unnest(range(1, greatest(length(text) - 11, 0) + 1)) AS t(i)
), keyed AS (
  SELECT id, pos, g,
         ('0x' || substr(g, 1, 10))::BIGINT * 1048576 + pos AS hk
  FROM grams
), winmin AS (
  SELECT id,
         min(hk) OVER (PARTITION BY id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS win_min,
         count(*) OVER (PARTITION BY id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS n_follow
  FROM keyed
), picked AS (
  SELECT DISTINCT id, win_min AS hk FROM winmin WHERE n_follow = 8
), fps0 AS (
  SELECT DISTINCT p.id, k.g AS fp
  FROM picked p JOIN keyed k ON k.id = p.id AND k.hk = p.hk
), keep AS (
  SELECT fp FROM fps0 GROUP BY fp HAVING count(*) <= 50
), fps AS (
  SELECT fps0.id, fps0.fp FROM fps0 JOIN keep USING (fp)
)
SELECT a.id AS id_a, b.id AS id_b, count(*)::BIGINT AS shared_fps
FROM fps a JOIN fps b ON a.fp = b.fp AND a.id < b.id
GROUP BY a.id, b.id
HAVING count(*) >= 10
"""


# ---------------------------------------------------------------------------
# incremental substring dedup (suffix.py::incremental_repeat_spans)
# ---------------------------------------------------------------------------


def incremental_repeat_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-batch-vs-index substring dedup: the new docs are clones of
    every 4th index doc with a fresh tail, so their bodies must come
    back as index-duplicated spans while the appended tail stays
    clean. The oracle replays gram membership and the islands merge."""
    from ..operators import suffix as SX

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 50000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" FRESH TAIL 9Z7Q UNIQUE")).alias("text"),
    )
    return SX.incremental_repeat_spans(new, docs, k=20)


INCREMENTAL_REPEAT_SPANS_SQL = """
WITH idx AS (
  SELECT DISTINCT md5(substr(text, i, 20)) AS g
  FROM documents, unnest(range(1, greatest(length(text) - 19, 0) + 1)) AS t(i)
), newc AS (
  SELECT doc_id + 50000 AS id, text || ' FRESH TAIL 9Z7Q UNIQUE' AS text
  FROM documents WHERE doc_id % 4 = 0
), ngrams AS (
  SELECT id, i AS pos, md5(substr(text, i, 20)) AS g
  FROM newc, unnest(range(1, greatest(length(text) - 19, 0) + 1)) AS t(i)
), hits AS (
  SELECT id, pos FROM ngrams WHERE g IN (SELECT g FROM idx)
), flagged AS (
  SELECT id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY id ORDER BY pos) > 20
              THEN 1 ELSE 0 END AS new_span
  FROM hits
), sess AS (
  SELECT id, pos,
         sum(new_span) OVER (PARTITION BY id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS span_id
  FROM flagged
), spans AS (
  SELECT id, min(pos) AS span_start,
         max(pos) + 19 - min(pos) + 1 AS span_len
  FROM sess GROUP BY id, span_id
)
SELECT s.id AS doc_id,
       s.span_start::BIGINT AS span_start,
       s.span_len::BIGINT AS span_len,
       substr(n.text, s.span_start, s.span_len) AS span_text
FROM spans s JOIN newc n ON n.id = s.id
"""


# ---------------------------------------------------------------------------
# curate -> scrub -> count: the suffix layer composed into the
# corpus-prep pipeline (one Catalyst plan).
# ---------------------------------------------------------------------------


def scrubbed_corpus_q(
    spark: SparkSession, sf_dir: str, pin_clean: bool = True
) -> DataFrame:
    """The scrub pass composed INTO corpus prep: language+quality
    gates → exact-dedup canonicalization → benchmark decontamination
    → cross-doc repeated-span scrub → post-scrub token accounting,
    one logical plan end-to-end. Output per surviving doc:
    (doc_id, n_spans_cut, chars_cut, n_tokens_after).

    ``pin_clean`` (default True) pins the decontaminated
    (doc_id, text) relation, a corpus-scale pin (tradeoff: ``pin()``);
    pin_clean=False keeps the lineage-recoverable plan."""
    from pyspark.sql.window import Window

    from ..operators.decontam import ngram_overlap
    from ..operators.suffix import scrub_repeated_spans
    from ..operators.textstats import add_text_stats, token_count

    docs = parallelize(table(spark, sf_dir, "documents").select("doc_id", "text"))
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    stats = add_text_stats(corpus).select(
        "doc_id", "text", "lang_guess", "quality", "fingerprint"
    )
    kept = stats.filter(
        F.col("lang_guess").isin("en", "es") & (F.col("quality") >= 0.5)
    )
    w = Window.partitionBy("fingerprint")
    canon = kept.withColumn("canonical_id", F.min("doc_id").over(w)).filter(
        F.col("doc_id") == F.col("canonical_id")
    )
    # scrub_repeated_spans references its input 3x (span mining, the
    # segment-text join, the final pass-through left join) — without
    # a barrier the whole gates→dedup→decontam chain above re-executes
    # per reference (the kmeans-barrier class; bench 7.3 s). One row
    # per surviving doc with full text.
    clean = pin(
        ngram_overlap(canon, bench, n=3, carry=("text",))
        .filter(~F.col("contaminated"))
        .select("doc_id", "text"),
        "corpus",
        enabled=pin_clean,
    )
    scrubbed = scrub_repeated_spans(clean, k=20, min_docs=2)
    return scrubbed.select(
        "doc_id",
        "n_spans_cut",
        "chars_cut",
        token_count(F.col("scrubbed_text")).cast("bigint").alias("n_tokens_after"),
    )


_SCRUB_TOKS = _TOKS.replace("text", "final_text")

SCRUBBED_CORPUS_SQL = (
    _CURATION_CTES
    + """, clean AS (
  SELECT doc_id, text FROM canon
  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
), sgrams AS (
  SELECT c.doc_id AS id, i AS pos, md5(substr(c.text, i, 20)) AS g
  FROM clean c, unnest(range(1, greatest(length(c.text) - 19, 0) + 1)) AS t(i)
), sshared AS (
  SELECT g FROM sgrams GROUP BY g HAVING count(DISTINCT id) >= 2
), shits AS (
  SELECT sgrams.id, sgrams.pos FROM sgrams JOIN sshared USING (g)
), sflagged AS (
  SELECT id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY id ORDER BY pos) > 20
              THEN 1 ELSE 0 END AS new_span
  FROM shits
), ssess AS (
  SELECT id, pos,
         sum(new_span) OVER (PARTITION BY id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS span_id
  FROM sflagged
), sspans AS (
  SELECT id, min(pos) AS span_start,
         max(pos) + 19 - min(pos) + 1 AS span_len
  FROM ssess GROUP BY id, span_id
), sstext AS (
  SELECT s.id, s.span_start, s.span_len,
         substr(c.text, s.span_start, s.span_len) AS span_text
  FROM sspans s JOIN clean c ON c.doc_id = s.id
), scuts AS (
  SELECT id, span_start, span_len
  FROM (SELECT *, min(id) OVER (PARTITION BY span_text) AS keep_doc FROM sstext)
  WHERE id <> keep_doc
), sgaps AS (
  SELECT id,
         coalesce(lag(span_start + span_len) OVER (PARTITION BY id ORDER BY span_start), 1) AS seg_start,
         span_start - coalesce(lag(span_start + span_len) OVER (PARTITION BY id ORDER BY span_start), 1) AS seg_len,
         span_len
  FROM scuts
), stails AS (
  SELECT id, max(span_start + span_len) AS seg_start,
         NULL::BIGINT AS seg_len, 0::BIGINT AS span_len
  FROM scuts GROUP BY id
), ssegs AS (
  SELECT * FROM sgaps UNION ALL SELECT * FROM stails
), sstitched AS (
  SELECT s.id,
         string_agg(CASE WHEN s.seg_len IS NULL THEN substr(c.text, s.seg_start)
                         ELSE substr(c.text, s.seg_start, s.seg_len) END,
                    '' ORDER BY s.seg_start) AS scrubbed_text,
         count(*) - 1 AS n_spans_cut,
         sum(s.span_len) AS chars_cut
  FROM ssegs s JOIN clean c ON c.doc_id = s.id
  GROUP BY s.id
), final AS (
  SELECT c.doc_id,
         coalesce(st.n_spans_cut, 0)::BIGINT AS n_spans_cut,
         coalesce(st.chars_cut, 0)::BIGINT AS chars_cut,
         coalesce(st.scrubbed_text, c.text) AS final_text
  FROM clean c LEFT JOIN sstitched st ON st.id = c.doc_id
)
SELECT doc_id, n_spans_cut, chars_cut,
       len("""
    + _SCRUB_TOKS
    + """)::BIGINT AS n_tokens_after
FROM final
"""
)


# ---------------------------------------------------------------------------
# fuzzy key join (operators/fuzzyjoin.py) — record linkage for dirty keys
# ---------------------------------------------------------------------------


def fuzzy_key_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-neighborhood fuzzy join: every 7th customer name gets
    one character deleted (a typo'd dirty feed) and must link back to
    clean names within edit distance 1 — candidates from the variant
    equi-join, exact Levenshtein verify, no all-pairs comparison.
    The oracle replays variant generation and the verify."""
    from ..operators.fuzzyjoin import fuzzy_key_join

    cust = table(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    pos = (ck % 10) + 5
    dirty = cust.filter(ck % 7 == 0).select(
        (ck + 500000).alias("d_key"),
        F.concat(
            F.substring(F.col("c_name"), F.lit(1), pos - 1),
            F.substring(F.col("c_name"), pos + 1, F.lit(64)),
        ).alias("d_name"),
    )
    clean = cust.select("c_custkey", "c_name")
    out = fuzzy_key_join(dirty, clean, "d_name", "c_name")
    return out.select("d_key", "d_name", "c_custkey", "c_name", "edit_distance")


FUZZY_KEY_JOIN_SQL = """
WITH dirty AS (
  SELECT c_custkey + 500000 AS d_key,
         substr(c_name, 1, (c_custkey % 10) + 4)
           || substr(c_name, (c_custkey % 10) + 6) AS d_name
  FROM customer WHERE c_custkey % 7 = 0
), clean AS (
  SELECT c_custkey, c_name FROM customer
), lv AS (
  SELECT d_key, d_name, unnest(list_distinct(list_prepend(d_name,
           list_transform(range(1, length(d_name) + 1),
             i -> substr(d_name, 1, i - 1) || substr(d_name, i + 1))))) AS v
  FROM dirty
), rv AS (
  SELECT c_custkey, c_name, unnest(list_distinct(list_prepend(c_name,
           list_transform(range(1, length(c_name) + 1),
             i -> substr(c_name, 1, i - 1) || substr(c_name, i + 1))))) AS v
  FROM clean
), cand AS (
  SELECT DISTINCT l.d_key, l.d_name, r.c_custkey, r.c_name
  FROM lv l JOIN rv r ON l.v = r.v
)
SELECT d_key, d_name, c_custkey, c_name,
       levenshtein(d_name, c_name)::BIGINT AS edit_distance
FROM cand
WHERE levenshtein(d_name, c_name) <= 1
"""


# ---------------------------------------------------------------------------
# binned interval join (operators/asof.py::interval_join_binned)
# ---------------------------------------------------------------------------


def interval_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big-big point-in-range join: event-derived integer points
    against document-derived ranges (the IP→CIDR / genomic-overlap
    shape). The binned plan replaces Spark's nested-loop theta join
    with one uniform-key hash join; the oracle is the plain BETWEEN
    theta join DuckDB optimizes natively (IEJoin), so the driver
    hash proves the decomposition exact."""
    from ..operators.asof import interval_join_binned

    ev = table(spark, sf_dir, "events")
    points = ev.select(
        "event_id",
        ((F.col("user_id").cast("bigint") * 104729 + F.col("event_id")) % 1048576).alias("p"),
    )
    docs = table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    intervals = docs.select(
        "doc_id",
        ((did * 7919) % 1048576).alias("r_start"),
        (((did * 7919) % 1048576) + (did % 997) + 1).alias("r_end"),
    )
    out = interval_join_binned(points, intervals, "p", "r_start", "r_end", bin_size=1024)
    return out.select("event_id", "doc_id", "p", "r_start", "r_end")


INTERVAL_JOIN_SQL = """
WITH pts AS (
  SELECT event_id, (user_id::BIGINT * 104729 + event_id) % 1048576 AS p
  FROM events
), intervals AS (
  SELECT doc_id,
         (doc_id * 7919) % 1048576 AS r_start,
         (doc_id * 7919) % 1048576 + (doc_id % 997) + 1 AS r_end
  FROM documents
)
SELECT pt.event_id, i.doc_id, pt.p, i.r_start, i.r_end
FROM pts pt JOIN intervals i
  ON pt.p >= i.r_start AND pt.p <= i.r_end
"""


# ---------------------------------------------------------------------------
# KMV sketch merge (sketches.py::kmv_sketch / kmv_merge_estimate)
# ---------------------------------------------------------------------------


def kmv_merge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGEABILITY as a driver row: build one KMV sketch per
    (event_type, day-parity shard), merge the shards, estimate. The
    oracle is the from-scratch single-pass estimate over all data —
    hash equality proves k-smallest-of-union == k-smallest of merged
    per-shard k-smallests, the algebra every distributed sketch
    rollup relies on."""
    from ..operators.sketches import kmv_merge_estimate, kmv_sketch

    ev = table(spark, sf_dir, "events")
    halves = ev.withColumn("_half", (F.col("event_id") % 2).cast("int"))
    shard_sketches = None
    for h in (0, 1):
        s = kmv_sketch(
            halves.filter(F.col("_half") == h), "event_type", "user_id", k=64
        )
        shard_sketches = s if shard_sketches is None else shard_sketches.unionByName(s)
    return kmv_merge_estimate(shard_sketches, "event_type", k=64)


KMV_MERGE_SQL = """
WITH hashes AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
  FROM events
), ranked AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM hashes
), topk AS (
  SELECT event_type, h, rn FROM ranked WHERE rn <= 64
), agg AS (
  SELECT event_type, max(rn) AS n_seen, max(h) AS kth FROM topk GROUP BY event_type
)
SELECT event_type,
       n_seen::BIGINT AS n_seen,
       round(CASE WHEN n_seen < 64 THEN n_seen::DOUBLE
                  ELSE 63.0 / (kth::DOUBLE / 1152921504606846976.0) END, 4) AS est_distinct
FROM agg
"""


# ---------------------------------------------------------------------------
# snapshot diff (sources/io.py::snapshot_diff)
# ---------------------------------------------------------------------------


def snapshot_diff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style reconciliation of two order-table snapshots: every
    13th order deleted, every 7th repriced, a synthetic range added —
    each key classified added/removed/changed/unchanged via
    engine-exact row hashes."""
    from ..sources.io import snapshot_diff

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    ok = F.col("o_orderkey")
    new = (
        orders.filter(ok % 13 != 0)
        .withColumn(
            "o_totalprice",
            F.when(ok % 7 == 0, F.round(F.col("o_totalprice") * 2, 2)).otherwise(
                F.col("o_totalprice")
            ),
        )
        .unionByName(
            orders.filter(ok % 11 == 0).select(
                (ok + 90000000).alias("o_orderkey"),
                "o_custkey",
                F.lit("N").alias("o_orderstatus"),
                "o_totalprice",
            )
        )
    )
    return snapshot_diff(orders, new, ["o_orderkey"]).filter(
        F.col("status") != "unchanged"
    )


SNAPSHOT_DIFF_SQL = """
WITH old_t AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
), new_t AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 7 = 0 THEN round(o_totalprice * 2, 2)
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 13 <> 0
  UNION ALL
  SELECT o_orderkey + 90000000, o_custkey, 'N', o_totalprice
  FROM orders WHERE o_orderkey % 11 = 0
), oh AS (
  SELECT o_orderkey,
         md5(concat_ws(chr(1),
             coalesce(o_custkey::VARCHAR, chr(0) || 'null'),
             coalesce(o_orderstatus, chr(0) || 'null'),
             coalesce(o_totalprice::VARCHAR, chr(0) || 'null'))) AS old_hash
  FROM old_t
), nh AS (
  SELECT o_orderkey,
         md5(concat_ws(chr(1),
             coalesce(o_custkey::VARCHAR, chr(0) || 'null'),
             coalesce(o_orderstatus, chr(0) || 'null'),
             coalesce(o_totalprice::VARCHAR, chr(0) || 'null'))) AS new_hash
  FROM new_t
), j AS (
  SELECT coalesce(oh.o_orderkey, nh.o_orderkey) AS o_orderkey, old_hash, new_hash
  FROM oh FULL OUTER JOIN nh ON oh.o_orderkey = nh.o_orderkey
)
SELECT o_orderkey,
       CASE WHEN old_hash IS NULL THEN 'added'
            WHEN new_hash IS NULL THEN 'removed'
            WHEN old_hash <> new_hash THEN 'changed'
            ELSE 'unchanged' END AS status,
       old_hash, new_hash
FROM j
WHERE (CASE WHEN old_hash IS NULL THEN 'added'
            WHEN new_hash IS NULL THEN 'removed'
            WHEN old_hash <> new_hash THEN 'changed'
            ELSE 'unchanged' END) <> 'unchanged'
"""


# ---------------------------------------------------------------------------
# HyperLogLog + theta-sketch overlap (operators/sketches.py)
# ---------------------------------------------------------------------------


def hll_user_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog per event_type, driver-hash-checkable: register
    state and the raw estimate derive from EXACT integer sufficient
    statistics (sum of 2^(55-register) as a bigint) with one IEEE
    multiply+divide at the end — no libm in the hash path (the
    ln-based range corrections are the consumer's, documented)."""
    from ..operators.sketches import hll_estimate, hll_registers

    ev = table(spark, sf_dir, "events")
    return hll_estimate(hll_registers(ev, "event_type", "user_id", m=64), "event_type", m=64)


HLL_USER_COUNTS_SQL = """
WITH base AS (
  SELECT event_type, ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
  FROM events
), reg AS (
  SELECT event_type, (h % 64)::INT AS bucket,
         max(CASE WHEN h // 64 > 0 THEN 55 - length(format('{:b}', h // 64))
                  ELSE 55 END)::INT AS register
  FROM base GROUP BY event_type, h % 64
), agg AS (
  SELECT event_type, count(*) AS n_buckets_used,
         sum(1::BIGINT << (55 - register))::BIGINT AS used_inv
  FROM reg GROUP BY event_type
)
SELECT event_type,
       n_buckets_used::BIGINT AS n_buckets_used,
       (used_inv + (64 - n_buckets_used) * (1::BIGINT << 55))::BIGINT AS inv_sum_scaled,
       round(2905.460551022604 * (1::BIGINT << 55)::DOUBLE
             / (used_inv + (64 - n_buckets_used) * (1::BIGINT << 55))::DOUBLE,
             4) AS est_distinct
FROM agg
"""


def kmv_overlap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap from two KMV sketches (theta-sketch set
    algebra): distinct click-users vs distinct view-users — union,
    intersection, and Jaccard estimated from two 64-hash sketches
    instead of a distinct-join over the raw stream."""
    from ..operators.sketches import kmv_overlap

    ev = table(spark, sf_dir, "events")
    return kmv_overlap(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "view"),
        "user_id",
        k=64,
    )


KMV_OVERLAP_SQL = """
WITH ha AS (
  SELECT DISTINCT ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
  FROM events WHERE event_type = 'click'
), hb AS (
  SELECT DISTINCT ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
  FROM events WHERE event_type = 'view'
), sa AS (SELECT h FROM ha ORDER BY h LIMIT 64),
sb AS (SELECT h FROM hb ORDER BY h LIMIT 64),
u AS (
  SELECT DISTINCT h FROM (SELECT h FROM sa UNION ALL SELECT h FROM sb)
  ORDER BY h LIMIT 64
), th AS (SELECT max(h) AS theta, count(*) AS n_u FROM u),
cm AS (
  SELECT count(*) AS n_common
  FROM sa JOIN sb USING (h), th WHERE sa.h <= th.theta
), raw AS (
  SELECT n_u::BIGINT AS union_sample,
         n_common::BIGINT AS common_sample,
         round(CASE WHEN n_u < 64 THEN n_u::DOUBLE
               ELSE 63.0 / (theta::DOUBLE / 1152921504606846976.0) END, 4) AS est_union,
         round(CASE WHEN n_u < 64 THEN n_common::DOUBLE
               ELSE n_common::DOUBLE * (1152921504606846976.0 / theta::DOUBLE) END, 4) AS est_intersection
  FROM th, cm
)
SELECT union_sample, common_sample, est_union, est_intersection,
       CASE WHEN est_union > 0 THEN round(est_intersection / est_union, 4)
            ELSE 0.0 END AS jaccard_est
FROM raw
"""


# ---------------------------------------------------------------------------
# exact whitening statistics (similarity.py::embedding_second_moments)
# ---------------------------------------------------------------------------


def embedding_moments_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact covariance sufficient statistics over the
    embedding corpus — the distributed half of PCA/whitening; every
    cell a bigint, driver-hash-checkable."""
    from ..operators.similarity import embedding_second_moments

    emb = parallelize(table(spark, sf_dir, "embeddings"))
    return embedding_second_moments(emb)


EMBEDDING_MOMENTS_SQL = """
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), g AS (
  SELECT CASE WHEN max(list_max(list_transform(e, x -> abs(x)))) > 0
              THEN max(list_max(list_transform(e, x -> abs(x)))) / 127.0
              ELSE 1.0 END AS scale
  FROM base
), v AS (
  SELECT vec_id, list_transform(e, x -> floor(x / scale + 0.5)::INTEGER) AS codes
  FROM base, g
), pairs AS (
  SELECT t1.i, t2.j,
         sum(codes[t1.i + 1]::BIGINT * codes[t2.j + 1]::BIGINT)::BIGINT AS sum_prod
  FROM v,
       unnest(range(0, len(codes))) AS t1(i),
       unnest(range(t1.i, len(codes))) AS t2(j)
  GROUP BY t1.i, t2.j
), sums AS (
  SELECT t.i, sum(codes[t.i + 1])::BIGINT AS dim_sum
  FROM v, unnest(range(0, len(codes))) AS t(i)
  GROUP BY t.i
), nn AS (
  SELECT count(*) AS n FROM v
)
SELECT p.i::BIGINT AS i, p.j::BIGINT AS j, p.sum_prod,
       si.dim_sum AS sum_i, sj.dim_sum AS sum_j, nn.n::BIGINT AS n
FROM pairs p
JOIN sums si ON si.i = p.i
JOIN sums sj ON sj.i = p.j, nn
"""


def embedding_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift monitor (similarity.py::embedding_drift)
    between the even/odd vec_id halves of the embeddings table —
    per-dimension mean shift under one shared quantization scale."""
    from ..operators.similarity import embedding_drift

    emb = parallelize(table(spark, sf_dir, "embeddings"))
    return embedding_drift(
        emb.filter(F.col("vec_id") % 2 == 0), emb.filter(F.col("vec_id") % 2 == 1)
    )


EMBEDDING_DRIFT_SQL = """
WITH base AS (
  SELECT vec_id % 2 AS snap, embedding::DOUBLE[] AS e FROM embeddings
), g AS (
  SELECT CASE WHEN max(list_max(list_transform(e, x -> abs(x)))) > 0
              THEN max(list_max(list_transform(e, x -> abs(x)))) / 127.0
              ELSE 1.0 END AS scale
  FROM base
), v AS (
  SELECT snap, list_transform(e, x -> floor(x / scale + 0.5)::INTEGER) AS codes
  FROM base, g
), d AS (
  SELECT snap, t.i AS dim, codes[t.i + 1] AS c
  FROM v, unnest(range(0, len(codes))) AS t(i)
), agg AS (
  SELECT dim::BIGINT AS dim,
         sum(CASE WHEN snap = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
         sum(CASE WHEN snap = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
         sum(CASE WHEN snap = 0 THEN c ELSE 0 END)::BIGINT AS sum_a,
         sum(CASE WHEN snap = 1 THEN c ELSE 0 END)::BIGINT AS sum_b
  FROM d GROUP BY 1
)
SELECT dim, n_a, n_b, sum_a, sum_b,
       sign(1000 * (sum_a * n_b - sum_b * n_a))::BIGINT AS shift_sign,
       ((1000 * abs(sum_a * n_b - sum_b * n_a)) // (n_a * n_b))::BIGINT
         AS shift_abs_milli
FROM agg
"""


# ---------------------------------------------------------------------------
# Sorted-neighborhood dedup (Hernandez-Stolfo): prefix-sorted corpus,
# window-4 neighbor candidates, exact 3-gram-Jaccard verify. The
# mutated clones share their source's prefix, so they are guaranteed
# adjacent in the sorted order — SNM's sweet spot. Oracle replays
# key, global rank, neighbor join, and jaccard bit-for-bit.
# ---------------------------------------------------------------------------


def snm_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_with_neardups(parallelize(table(spark, sf_dir, "documents")))
    return D.sorted_neighborhood_pairs(docs, window=4, min_jaccard=0.3)


SNM_PAIRS_SQL = f"""
WITH corpus AS (
  SELECT doc_id AS id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000, text || ' zz end marker' FROM documents WHERE doc_id % 4 = 0
), keyed AS (
  SELECT id, substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 24) AS k
  FROM corpus
), ranked AS (
  SELECT id, row_number() OVER (ORDER BY k, id) AS rnk FROM keyed
), cand AS (
  SELECT least(a.id, b.id) AS id_a, greatest(a.id, b.id) AS id_b
  FROM ranked a JOIN ranked b ON b.rnk BETWEEN a.rnk + 1 AND a.rnk + 3
), tok AS (
  SELECT id, {_TOKS} AS toks FROM corpus
), sh AS (
  SELECT id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                       i -> array_to_string(toks[i:i+2], ' '))) AS sh
  FROM tok
)
SELECT c.id_a, c.id_b,
       round(len(list_intersect(l.sh, r.sh))::DOUBLE
             / len(list_distinct(l.sh || r.sh)), 4) AS jaccard
FROM cand c
JOIN sh l ON l.id = c.id_a
JOIN sh r ON r.id = c.id_b
WHERE len(list_distinct(l.sh || r.sh)) > 0
  AND round(len(list_intersect(l.sh, r.sh))::DOUBLE
            / len(list_distinct(l.sh || r.sh)), 4) >= 0.3
"""


# ---------------------------------------------------------------------------
# Prefix-filtered EXACT set-similarity self-join (PPJoin family). The
# oracle is the plain ALL-PAIRS jaccard join — a green hash proves
# the prefix filter is LOSSLESS (recall exactly 1), not just fast.
# ---------------------------------------------------------------------------


def prefix_jaccard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_with_neardups(parallelize(table(spark, sf_dir, "documents")))
    subset = docs.filter((F.col("doc_id") % 10000) < 80)
    return D.prefix_filter_jaccard_pairs(subset, min_jaccard=0.5)


PREFIX_JACCARD_SQL = f"""
WITH corpus AS (
  SELECT doc_id AS id, text FROM documents WHERE doc_id < 80
  UNION ALL
  SELECT doc_id + 10000, text || ' zz end marker' FROM documents
  WHERE doc_id % 4 = 0 AND doc_id < 80
), tok AS (
  SELECT id, list_distinct({_TOKS}) AS s FROM corpus
  WHERE len(list_distinct({_TOKS})) > 0
)
SELECT l.id AS id_a, r.id AS id_b,
       round(len(list_intersect(l.s, r.s))::DOUBLE
             / len(list_distinct(l.s || r.s)), 4) AS jaccard
FROM tok l JOIN tok r ON l.id < r.id
WHERE round(len(list_intersect(l.s, r.s))::DOUBLE
            / len(list_distinct(l.s || r.s)), 4) >= 0.5
"""


# ---------------------------------------------------------------------------
# Curation funnel: per-gate in/out counts + selectivity, reusing the
# proven curation CTE chain (same corpus/benchmark split as
# curation_pipeline).
# ---------------------------------------------------------------------------


def curation_funnel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curate import curation_funnel

    docs = parallelize(table(spark, sf_dir, "documents").select("doc_id", "text"))
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return curation_funnel(corpus, bench, langs=("en", "es"), min_quality=0.5)


_CURATION_CHAIN = CURATION_PIPELINE_SQL.rsplit("SELECT doc_id, lang_guess", 1)[0]

CURATION_FUNNEL_SQL = (
    _CURATION_CHAIN
    + """, c0 AS (SELECT count(*)::BIGINT AS n FROM tok),
c1 AS (SELECT count(*)::BIGINT AS n FROM kept),
c2 AS (SELECT count(*)::BIGINT AS n FROM canon),
c3 AS (
  SELECT count(*)::BIGINT AS n FROM canon
  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
)
SELECT t.stage, t.rows_in, t.rows_out,
       round(t.rows_out::DOUBLE / t.rows_in, 6) AS selectivity
FROM (
  SELECT 'a_lang_quality' AS stage, c0.n AS rows_in, c1.n AS rows_out FROM c0, c1
  UNION ALL SELECT 'b_exact_dedup', c1.n, c2.n FROM c1, c2
  UNION ALL SELECT 'c_decontam', c2.n, c3.n FROM c2, c3
) t
"""
)


# ---------------------------------------------------------------------------
# Tokenizer APPLY with a FROZEN merge table: same apply operator as
# bpe_encode, but the merges are a fixture relation instead of the
# data-derived trainer output — which makes the greedy fold fully
# SQL-expressible and gives the apply path a hash oracle (bpe_merges
# / bpe_encode stay rows-only because their merge table is
# iterative). The frozen table mirrors what the trainer learns on
# this corpus and deliberately includes a STACKED merge ((a,r) then
# (p,ar)) and a SAME-SYMBOL merge ((l,l)) so the oracle exercises
# the greedy run-parity semantics, not just disjoint pair rewrites.
# ---------------------------------------------------------------------------

FIXED_BPE_MERGES: list[tuple[int, str, str]] = [
    (0, "e", "r</w>"),
    (1, "o", "w</w>"),
    (2, "t", "o"),
    (3, "a", "r"),
    (4, "p", "ar"),
    (5, "l", "l"),
    (6, "i", "n"),
    (7, "e", "r"),
]


def bpe_encode_fixed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus encode under FIXED_BPE_MERGES — per-doc exact
    subword/word/char counts, hash-checked against a DuckDB oracle
    that replays the greedy merge folds step by step (see
    _bpe_apply_sql)."""
    from ..operators import bpe as B

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    merges = [(r, l, rt, 0) for r, l, rt in FIXED_BPE_MERGES]
    return B.bpe_encode(docs, merges)


def _bpe_apply_sql(merges: list[tuple[int, str, str]]) -> str:
    """DuckDB replay of operators/bpe.py::bpe_segment_words under a
    FIXED merge list. Per merge step the greedy left-to-right fold
    is rewritten as run-parity window algebra — provably equivalent:
    a match at position i is consumed iff the pair (syms[i],
    syms[i+1]) equals (l, r) AND i's rank within its maximal run of
    consecutive matches is odd (overlapping matches only exist when
    l = r, and greedy consumption takes every other one). Each step
    is one unnest + three windows + one list() rebuild over the
    DISTINCT-word vocab — the oracle-side mirror of the fold running
    once per distinct word."""
    steps = []
    prev = "v0"
    for k, (_, l, r) in enumerate(merges, 1):
        ll, rr = _sql_lit(l), _sql_lit(r)
        steps.append(f"""x{k} AS (
  SELECT word, sym, pos,
         coalesce(sym = {ll} AND lead(sym) OVER w = {rr}, false) AS m,
         lead(sym) OVER w AS nxt
  FROM (SELECT word, unnest(syms) AS sym, generate_subscripts(syms, 1) AS pos FROM {prev})
  WINDOW w AS (PARTITION BY word ORDER BY pos)
), y{k} AS (
  SELECT word, sym, pos, nxt,
         CASE WHEN m THEN (row_number() OVER (PARTITION BY word, grp ORDER BY pos)) % 2 = 1
              ELSE false END AS merged
  FROM (SELECT *, pos - row_number() OVER (PARTITION BY word, m ORDER BY pos) AS grp FROM x{k})
), v{k} AS (
  SELECT word, list(CASE WHEN merged THEN sym || nxt ELSE sym END ORDER BY pos) AS syms
  FROM (SELECT *, coalesce(lag(merged) OVER (PARTITION BY word ORDER BY pos), false) AS pm
        FROM y{k})
  WHERE NOT pm
  GROUP BY word
)""")
        prev = f"v{k}"
    body = ",\n".join(steps)
    return f"""
WITH words AS (
  SELECT doc_id, w AS word
  FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS w FROM documents)
  WHERE w <> ''
), v0 AS (
  SELECT word,
         list_transform(string_split(word, ''),
                        (c, i) -> CASE WHEN i = length(word) THEN c || '</w>' ELSE c END) AS syms
  FROM (SELECT DISTINCT word FROM words)
),
{body},
seg AS (
  SELECT word, len(syms)::BIGINT AS nt, length(word)::BIGINT AS nc FROM {prev}
)
SELECT d.doc_id,
       count(w.word)::BIGINT AS n_words,
       coalesce(sum(s.nt), 0)::BIGINT AS n_subwords,
       coalesce(sum(s.nc), 0)::BIGINT AS n_chars
FROM documents d
LEFT JOIN words w ON d.doc_id = w.doc_id
LEFT JOIN seg s ON w.word = s.word
GROUP BY d.doc_id
"""


BPE_ENCODE_FIXED_SQL = _bpe_apply_sql(FIXED_BPE_MERGES)


def bpe_encode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY: encode the corpus with the 8 merges learned
    by bpe_merges_q — per-doc exact subword/word/char counts. The
    merge table is data-derived (an iterative trainer), so like
    bpe_merges this is rows-only for the driver; the full output is
    pinned value-for-value by tests/fixtures/bpe_encode_expected.json
    and the greedy-apply semantics by tests/test_bpe.py."""
    from ..operators import bpe as B

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    merges = B.train_bpe(docs, n_merges=8)
    return B.bpe_encode(docs, merges)


# ---------------------------------------------------------------------------
# Dedup-stack self-evaluation: recall of each near-dup method against
# the PLANTED clone ground truth (doc_id ↔ doc_id+10000, the same
# mutation every dedup query uses). The engine measuring its own
# candidate generators is how a production pipeline tunes thresholds
# — and the oracle re-embeds each method's PROVEN SQL as a CTE, so a
# green hash certifies the evaluation itself, not just the methods.
# ---------------------------------------------------------------------------


def dedup_method_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = table(spark, sf_dir, "documents")
    docs = _docs_with_neardups(parallelize(base))
    truth = base.filter(F.col("doc_id") % 4 == 0).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 10000).alias("id_b")
    )

    def method_row(name: str, pairs: DataFrame, truth_m: DataFrame) -> DataFrame:
        # ONE pass over the candidate chain (r9, the
        # ann_method_recall/band_sweep restructure): n_found and
        # n_hit come from the same left join — both pair sets are
        # duplicate-free (enforced per generator by
        # tests/test_pair_uniqueness.py), so counting matched
        # candidate rows equals the old truth-side semi-join count.
        # Before this, each method's full dedup chain executed twice
        # (count + semi).
        found = pairs.select("id_a", "id_b")
        t = truth_m.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
        fh = found.join(
            truth_m.withColumn("_t", F.lit(1)), ["id_a", "id_b"], "left"
        ).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_found"),
            F.count("_t").cast("bigint").alias("n_hit"),
        )
        return t.crossJoin(fh).select(
            F.lit(name).alias("method"),
            "n_truth",
            "n_found",
            "n_hit",
            F.try_divide(F.col("n_hit").cast("double"), F.col("n_truth")).alias("recall"),
        )

    rows = [
        method_row(
            "minhash_lsh",
            D.minhash_candidate_pairs(docs, min_jaccard=0.5),
            truth,
        ),
        method_row(
            "prefix_jaccard",
            D.prefix_filter_jaccard_pairs(
                docs.filter((F.col("doc_id") % 10000) < 80), min_jaccard=0.5
            ),
            truth.filter(F.col("id_a") < 80),
        ),
        method_row(
            "ngram_jaccard",
            D.ngram_jaccard_pairs(
                docs.filter((F.col("doc_id") % 10000) < 60), min_jaccard=0.3
            ),
            truth.filter(F.col("id_a") < 60),
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


DEDUP_METHOD_RECALL_SQL = f"""
WITH mh AS MATERIALIZED ({MINHASH_PAIRS_SQL}),
pj AS MATERIALIZED ({PREFIX_JACCARD_SQL}),
nj AS MATERIALIZED ({NGRAM_JACCARD_SQL}),
truth AS MATERIALIZED (
  SELECT doc_id AS id_a, doc_id + 10000 AS id_b FROM documents WHERE doc_id % 4 = 0
),
rows AS (
  -- n_hit via EXISTS, not inner-join count(*): the Spark side is a
  -- left_semi (each truth row counted at most once), so the oracle
  -- must stay duplicate-proof even if a future candidate generator
  -- emits the same (id_a, id_b) pair more than once.
  SELECT 'minhash_lsh' AS method,
         (SELECT count(*) FROM truth) AS n_truth,
         (SELECT count(*) FROM mh) AS n_found,
         (SELECT count(*) FROM truth t
          WHERE EXISTS (SELECT 1 FROM mh p WHERE t.id_a = p.id_a AND t.id_b = p.id_b)) AS n_hit
  UNION ALL
  SELECT 'prefix_jaccard',
         (SELECT count(*) FROM truth WHERE id_a < 80),
         (SELECT count(*) FROM pj),
         (SELECT count(*) FROM truth t
          WHERE t.id_a < 80
            AND EXISTS (SELECT 1 FROM pj p WHERE t.id_a = p.id_a AND t.id_b = p.id_b))
  UNION ALL
  SELECT 'ngram_jaccard',
         (SELECT count(*) FROM truth WHERE id_a < 60),
         (SELECT count(*) FROM nj),
         (SELECT count(*) FROM truth t
          WHERE t.id_a < 60
            AND EXISTS (SELECT 1 FROM nj p WHERE t.id_a = p.id_a AND t.id_b = p.id_b))
)
SELECT method, n_truth, n_found, n_hit, n_hit::DOUBLE / n_truth AS recall FROM rows
"""


# ---------------------------------------------------------------------------
# ANN self-evaluation: recall@k of the approximate indexes against
# the exact brute-force top-k — THE standard ANN quality metric,
# computed inside the engine. Same certification trick as
# dedup_method_recall: the oracle re-embeds the methods' proven SQL.
# knn_pq is omitted to keep the composed bench cost bounded (its PQ
# chain re-runs inside knn_ivfpq anyway).
#
# Expect LOW absolute recall on this synthetic corpus: the test
# embeddings are uniform random, so there is no cluster structure for
# IVF cells to exploit — nprobe/n_cells (≈0.15 here) is the chance
# floor, and the measured 0.3-0.4 (IVF) is what "above chance but no
# structure" looks like. On real embeddings with locality the same
# indexes measure 0.9+; surfacing that difference is precisely what
# this evaluation is for.
# ---------------------------------------------------------------------------


def ann_method_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import (
        knn_bruteforce as _bf,
        knn_ivf as _ivf,
        knn_ivfpq as _ivfpq,
        quantize_embeddings_global,
    )

    emb = parallelize(table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 5)
    # Each leg below references truth/found 2-3x (count aggs + the
    # hit semi-join), and Catalyst re-executes a referenced chain per
    # reference — the kmeans-barrier class (r8 lesson). A lazy pin
    # on each expensive scored relation (k neighbors x 5 queries) runs
    # its chain ONCE; construction stays action-free.
    truth = pin(
        _bf(emb, queries, k=10).select("query_id", "neighbor_id"), "bounded"
    )

    codes = quantize_embeddings_global(emb).select("vec_id", "q_codes")
    qcodes = codes.filter(F.col("vec_id") < 5)
    methods = [
        (
            "knn_ivf",
            _ivf(emb, queries, k=10, nprobe=3, every=25).select(
                "query_id", "neighbor_id"
            ),
        ),
        (
            "knn_ivfpq",
            # EXACT same config as the registered knn_ivfpq_q, so the
            # oracle can re-embed KNN_IVFPQ_SQL verbatim
            _ivfpq(
                codes, qcodes, k=10, nprobe=3, coarse_every=25,
                n_sub=4, k_every=50, iters=2, k_cap=100,
            ).select("query_id", "neighbor_id"),
        ),
    ]

    # One pass per method: n_found and n_hit come from the SAME left
    # join against the pinned truth (truth pairs are unique — every
    # pair side is uniqueness-guarded by tests/test_pair_uniqueness.py
    # — so the join preserves found's multiplicity and count(_t) ==
    # the old semi-join count); n_truth is computed once and cross-joined in
    # (1-row funnel). Before this restructuring each leg re-executed
    # its ANN chain twice and truth four times — bench 7.5 s; the
    # barrier + single-reference shape is the kmeans-barrier recipe.
    t = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
    rows = None
    for name, found in methods:
        fh = found.join(
            truth.withColumn("_t", F.lit(1)), ["query_id", "neighbor_id"], "left"
        ).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_found"),
            F.count("_t").cast("bigint").alias("n_hit"),
        )
        row = t.crossJoin(fh).select(
            F.lit(name).alias("method"),
            "n_truth",
            "n_found",
            "n_hit",
            F.try_divide(F.col("n_hit").cast("double"), F.col("n_truth")).alias("recall"),
        )
        rows = row if rows is None else rows.unionByName(row)
    return rows


ANN_METHOD_RECALL_SQL = f"""
WITH bf AS MATERIALIZED ({KNN_BRUTEFORCE_SQL}),
ivf AS MATERIALIZED ({KNN_IVF_SQL}),
ivfpq AS MATERIALIZED ({KNN_IVFPQ_SQL}),
truth AS MATERIALIZED (SELECT query_id, neighbor_id FROM bf),
rows AS (
  SELECT 'knn_ivf' AS method,
         (SELECT count(*) FROM truth) AS n_truth,
         (SELECT count(*) FROM ivf) AS n_found,
         (SELECT count(*) FROM truth t JOIN ivf p
          ON t.query_id = p.query_id AND t.neighbor_id = p.neighbor_id) AS n_hit
  UNION ALL
  SELECT 'knn_ivfpq',
         (SELECT count(*) FROM truth),
         (SELECT count(*) FROM ivfpq),
         (SELECT count(*) FROM truth t JOIN ivfpq p
          ON t.query_id = p.query_id AND t.neighbor_id = p.neighbor_id)
)
SELECT method, n_truth, n_found, n_hit, n_hit::DOUBLE / n_truth AS recall FROM rows
"""


# ---------------------------------------------------------------------------
# Round 7: corpus-economics probes.
#
# ngram_coverage — vocabulary coverage curve: what fraction of all
# token occurrences the top-k most frequent tokens cover (k = 10,
# 100, 1000). The standard tokenizer/corpus diagnostic — a steep
# curve means boilerplate-dominated text; a flat one, diverse text.
#
# dedup_inflation — token-weighted duplication economics over the
# exact-dedup clusters: how many tokens the corpus carries vs its
# deduplicated size (the "1.3x inflated" storage/compute headline
# number of a dedup pass).
# ---------------------------------------------------------------------------


def ngram_coverage_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rank import global_rank

    docs = parallelize(table(spark, sf_dir, "documents")).select("text")
    vocab = (
        docs.select(F.explode(TS.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    # frequency-descending unique rank WITHOUT a single-partition
    # window: distributed range sort on (-count, token)
    ranked = global_rank(
        vocab.withColumn("_negc", -F.col("c")), ["_negc", "tok"], out_col="r"
    )
    ks = [10, 100, 1000]
    agg = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
        F.sum("c").cast("bigint").alias("total_tokens"),
        *[
            F.sum(F.when(F.col("r") <= k, F.col("c")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias(f"_cov{k}")
            for k in ks
        ],
    )
    out = None
    for k in ks:
        row = agg.select(
            F.lit(k).cast("bigint").alias("k"),
            "vocab_size",
            "total_tokens",
            F.col(f"_cov{k}").alias("covered_tokens"),
            (F.col(f"_cov{k}").cast("double") / F.col("total_tokens")).alias(
                "coverage"
            ),
        )
        out = row if out is None else out.unionByName(row)
    return out


NGRAM_COVERAGE_SQL = f"""
WITH toks AS (SELECT unnest({_TOKS}) AS tok FROM documents),
vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
ranked AS (
  SELECT tok, c, row_number() OVER (ORDER BY c DESC, tok) AS r FROM vocab
),
agg AS (
  SELECT count(*)::BIGINT AS vocab_size,
         sum(c)::BIGINT AS total_tokens,
         sum(CASE WHEN r <= 10 THEN c ELSE 0 END)::BIGINT AS cov10,
         sum(CASE WHEN r <= 100 THEN c ELSE 0 END)::BIGINT AS cov100,
         sum(CASE WHEN r <= 1000 THEN c ELSE 0 END)::BIGINT AS cov1000
  FROM ranked
)
SELECT t.k::BIGINT AS k, vocab_size, total_tokens,
       (CASE t.k WHEN 10 THEN cov10 WHEN 100 THEN cov100 ELSE cov1000 END) AS covered_tokens,
       (CASE t.k WHEN 10 THEN cov10 WHEN 100 THEN cov100 ELSE cov1000 END)::DOUBLE
         / total_tokens AS coverage
FROM agg, (VALUES (10), (100), (1000)) t(k)
"""


def dedup_inflation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_with_clones(parallelize(table(spark, sf_dir, "documents")))
    d = D.exact_duplicates(docs)
    per_doc = d.select(
        "is_duplicate", TS.token_count(F.col("text")).cast("bigint").alias("nt")
    )
    return per_doc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("is_duplicate").cast("int")).cast("bigint").alias("n_dup_docs"),
        F.sum("nt").cast("bigint").alias("total_tokens"),
        F.sum(F.when(F.col("is_duplicate"), F.col("nt")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("dup_tokens"),
    ).select(
        "n_docs",
        "n_dup_docs",
        "total_tokens",
        "dup_tokens",
        (
            F.col("total_tokens").cast("double")
            / (F.col("total_tokens") - F.col("dup_tokens"))
        ).alias("inflation"),
    )


DEDUP_INFLATION_SQL = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000, text FROM documents WHERE doc_id % 7 = 0
),
fp AS (
  SELECT doc_id,
         len({_TOKS})::BIGINT AS nt,
         doc_id <> min(doc_id) OVER (
           PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
         ) AS is_dup
  FROM corpus
)
SELECT count(*)::BIGINT AS n_docs,
       sum(CASE WHEN is_dup THEN 1 ELSE 0 END)::BIGINT AS n_dup_docs,
       sum(nt)::BIGINT AS total_tokens,
       sum(CASE WHEN is_dup THEN nt ELSE 0 END)::BIGINT AS dup_tokens,
       sum(nt)::DOUBLE / (sum(nt) - sum(CASE WHEN is_dup THEN nt ELSE 0 END)) AS inflation
FROM fp
"""


# ---------------------------------------------------------------------------
# Line-level boilerplate removal (RefinedWeb/CCNet style): a crawl is
# synthesized by wrapping every document in a per-source navigation
# header and a global subscribe footer — the exact contamination
# shape line-dedup exists for. Lines occurring in > 20 distinct docs
# are dropped and documents reassembled in original line order; the
# oracle replays the md5 line-hash frequency join bit-for-bit.
# ---------------------------------------------------------------------------


def line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallelize(table(spark, sf_dir, "documents"))
    crawl = docs.select(
        "doc_id",
        F.concat(
            F.upper(F.col("source")),
            F.lit(" NAVIGATION MENU HOME ABOUT CONTACT\n"),
            F.col("text"),
            F.lit("\nSUBSCRIBE TO OUR NEWSLETTER FOR UPDATES"),
        ).alias("text"),
    )
    return D.line_level_dedup(crawl, max_docs=20)


LINE_DEDUP_SQL = """
WITH crawl AS (
  SELECT doc_id,
         upper(source) || ' NAVIGATION MENU HOME ABOUT CONTACT' || chr(10)
           || text || chr(10) || 'SUBSCRIBE TO OUR NEWSLETTER FOR UPDATES' AS text
  FROM documents
), lines AS (
  SELECT doc_id,
         generate_subscripts(string_split(text, chr(10)), 1) AS pos,
         unnest(string_split(text, chr(10))) AS line
  FROM crawl
), freq AS (
  SELECT ('0x' || substr(md5(line), 1, 15))::BIGINT AS line_h,
         count(DISTINCT doc_id) AS n_docs
  FROM lines GROUP BY 1
), flagged AS (
  SELECT l.doc_id, l.pos, l.line, f.n_docs <= 20 AS keep
  FROM lines l
  JOIN freq f ON ('0x' || substr(md5(l.line), 1, 15))::BIGINT = f.line_h
)
SELECT doc_id,
       coalesce(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE keep), '') AS clean_text,
       count(*) FILTER (WHERE keep)::BIGINT AS n_kept,
       count(*) FILTER (WHERE NOT keep)::BIGINT AS n_dropped
FROM flagged
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Gopher/MassiveText quality rules — the published pre-dedup filter
# set, in integer-exact form. Three planted pathological docs
# exercise the failure modes (too short / symbol soup / bullet list);
# the real corpus spreads across the word-count boundary on its own.
# ---------------------------------------------------------------------------

_GOPHER_PLANTS = [
    (900001, "the be to of short"),
    (900002, "# ## ### #### ... ... ..."),
    (
        900003,
        "\n".join(
            ["- the bullet item be of and that have with words here today"] * 60
        ),
    ),
]


def gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallelize(table(spark, sf_dir, "documents")).select("doc_id", "text")
    plants = spark.createDataFrame(_GOPHER_PLANTS, "doc_id bigint, text string")
    return TS.gopher_quality(docs.unionAll(plants))


_GOPHER_PLANT_ROWS = " UNION ALL ".join(
    "SELECT {0}::BIGINT AS doc_id, '{1}' AS text".format(i, t.replace("\n", "' || chr(10) || '"))
    for i, t in _GOPHER_PLANTS
)

def _gopher_sql(corpus_rows: str, min_words: int = 50, min_stop: int = 2) -> str:
    """Gopher flag SQL over a caller-supplied corpus body (doc_id,
    text) — the one proven flag chain, reused verbatim by every
    oracle that needs pass_gopher over a different corpus. The
    word-count and stopword-type floors are parameters, mirroring
    the Spark operator's tunable gates (defaults = published)."""
    return f"""
WITH corpus AS (
  {corpus_rows}
), stats AS (
  SELECT doc_id,
         len({_TOKS})::BIGINT AS n_words,
         coalesce(list_sum(list_transform({_TOKS}, x -> length(x))), 0)::BIGINT AS word_chars,
         len(list_filter({_TOKS}, x -> regexp_matches(x, '[a-z]')))::BIGINT AS n_alpha_words,
         ({" + ".join(f"CASE WHEN list_contains({{toks}}, '{w}') THEN 1 ELSE 0 END".format(toks=_TOKS) for w in ["the", "be", "to", "of", "and", "that", "have", "with"])})::BIGINT AS n_stopword_types,
         ((length(text) - length(replace(text, '#', '')))
          + (length(text) - length(replace(text, '...', ''))) // 3)::BIGINT AS n_symbols,
         len(string_split(text, chr(10)))::BIGINT AS n_lines,
         len(list_filter(string_split(text, chr(10)), l -> regexp_matches(l, '^\\s*[-*•]')))::BIGINT AS n_bullet_lines,
         len(list_filter(string_split(text, chr(10)), l -> regexp_matches(l, '\\.\\.\\.\\s*$')))::BIGINT AS n_ellipsis_lines
  FROM corpus
)
SELECT *,
       n_words >= {min_words} AND n_words <= 100000 AS ok_word_count,
       word_chars >= 3 * n_words AND word_chars <= 10 * n_words AS ok_mean_word_len,
       10 * n_symbols < n_words AS ok_symbol_ratio,
       5 * n_alpha_words >= 4 * n_words AS ok_alpha_ratio,
       n_stopword_types >= {min_stop} AS ok_stopwords,
       10 * n_bullet_lines < 9 * n_lines AS ok_bullets,
       10 * n_ellipsis_lines < 3 * n_lines AS ok_ellipsis,
       (n_words >= {min_words} AND n_words <= 100000)
         AND (word_chars >= 3 * n_words AND word_chars <= 10 * n_words)
         AND (10 * n_symbols < n_words)
         AND (5 * n_alpha_words >= 4 * n_words)
         AND (n_stopword_types >= {min_stop})
         AND (10 * n_bullet_lines < 9 * n_lines)
         AND (10 * n_ellipsis_lines < 3 * n_lines) AS pass_gopher
FROM stats
"""


GOPHER_QUALITY_SQL = _gopher_sql(
    f"""SELECT doc_id, text FROM documents
  UNION ALL
  {_GOPHER_PLANT_ROWS}"""
)

CHUNK_SALVAGE_SQL = _CHUNK_SALVAGE_TMPL.format(
    gopher=_gopher_sql(
        "SELECT doc_id * 10000 + chunk_index AS doc_id, chunk_text AS text FROM chunks3",
        min_words=10,
        min_stop=1,
    )
)


def source_gate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level suppression (curate.py::source_suppression) over
    the Gopher doc flags: 20 planted docs under source 'spamfarm'
    fail the word-count floor, so that source crosses the evidence
    bar (n_docs ≥ 10) with pass_bp 0 and is suppressed wholesale —
    the C4/RefinedWeb per-host policy step after per-doc filtering.
    In production the source column rides the narrow flag projection;
    here it rejoins on doc_id (an AQE-planned doc-keyed equi-join)."""
    from ..operators.curate import source_suppression

    docs = parallelize(table(spark, sf_dir, "documents")).select(
        "doc_id", "source", "text"
    )
    plants = spark.range(20).select(
        (F.col("id") + 700000).alias("doc_id"),
        F.lit("spamfarm").alias("source"),
        F.lit("### ### ###").alias("text"),
    )
    corpus = docs.unionAll(plants)
    flags = TS.gopher_quality(corpus.select("doc_id", "text")).select(
        "doc_id", "pass_gopher"
    )
    flagged = flags.join(corpus.select("doc_id", "source"), "doc_id")
    return source_suppression(flagged, min_docs=10, min_pass_bp=5000)


SOURCE_GATE_SQL = f"""
WITH corpus2 AS (
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT (700000 + r)::BIGINT, 'spamfarm', '### ### ###' FROM range(20) t(r)
), g AS ({_gopher_sql("SELECT doc_id, text FROM corpus2")}),
agg AS (
  SELECT c.source, count(*)::BIGINT AS n_docs,
         sum(CASE WHEN g.pass_gopher THEN 1 ELSE 0 END)::BIGINT AS n_pass
  FROM g JOIN corpus2 c USING (doc_id)
  GROUP BY c.source
)
SELECT source, n_docs, n_pass,
       ((10000 * n_pass) // n_docs)::BIGINT AS pass_bp,
       n_docs >= 10 AND (10000 * n_pass) // n_docs < 5000 AS suppressed
FROM agg
"""


def ngram_diversity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-n diversity per source (textstats.py::
    distinct_ngram_diversity): corpus-level mode-collapse check —
    distinct unigram and bigram mass in integer basis points."""
    docs = parallelize(table(spark, sf_dir, "documents")).select("source", "text")
    return TS.distinct_ngram_diversity(docs).withColumnRenamed("grp", "source")


NGRAM_DIVERSITY_SQL = f"""
WITH tok AS (
  SELECT source, {_TOKS} AS toks FROM documents
), uni AS (
  SELECT source, 1::BIGINT AS n, count(*)::BIGINT AS total_grams,
         count(DISTINCT g)::BIGINT AS distinct_grams
  FROM (SELECT source, unnest(toks) AS g FROM tok) GROUP BY source
), bi AS (
  SELECT source, 2::BIGINT AS n, count(*)::BIGINT AS total_grams,
         count(DISTINCT g)::BIGINT AS distinct_grams
  FROM (
    SELECT source,
           unnest(list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                  i -> array_to_string(toks[i:i+1], ' '))) AS g
    FROM tok
  ) GROUP BY source
)
SELECT source, n, total_grams, distinct_grams,
       ((10000 * distinct_grams) // total_grams)::BIGINT AS distinct_bp
FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
"""


# ---------------------------------------------------------------------------
# Semantic (embedding-space) test-set decontamination: vec_id % 23
# plays the benchmark; clones of every second benchmark vector are
# planted into the corpus under +50000 ids, so there IS leakage to
# find (cosine 1.0). Blocked by the same IVF-cell machinery as
# cosine_near_dups_blocked; the oracle replays centroid sampling,
# both assignments, and the within-cell scoring bit-for-bit.
# ---------------------------------------------------------------------------


def semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.decontam import semantic_decontam as sd

    emb = parallelize(table(spark, sf_dir, "embeddings"))
    bench = emb.filter(F.col("vec_id") % 23 == 0)
    leaked = bench.filter(F.col("vec_id") % 46 == 0).select(
        (F.col("vec_id") + 50000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.filter(F.col("vec_id") % 23 != 0).unionAll(leaked)
    return sd(corpus, bench, min_cosine=0.999)


def _lsh_bands_sql(src: str, prefix: str) -> str:
    """Band-rows CTE body for source CTE `src` (shares the `planes`
    CTE): {prefix}_bands(id, band, bucket)."""
    return f"""{prefix}_bits AS (
  SELECT c.id, pl.p,
         CASE WHEN list_dot_product(c.v, pl.h) >= 0 THEN 1 ELSE 0 END AS bit
  FROM {src} c CROSS JOIN planes pl
), {prefix}_bands AS (
  SELECT id, p // {SIM.LSH_ROWS_PER_BAND} AS band,
         sum(bit << (p % {SIM.LSH_ROWS_PER_BAND}))::BIGINT AS bucket
  FROM {prefix}_bits GROUP BY 1, 2
)"""


_SD_COS = _COS.format(a="cv.v", b="bv.v")

SEMANTIC_DECONTAM_SQL = f"""
WITH bench AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 23 = 0
), corpus AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 23 <> 0
  UNION ALL
  SELECT vec_id + 50000, embedding::DOUBLE[] FROM embeddings
  WHERE vec_id % 23 = 0 AND vec_id % 46 = 0
), planes AS (
  SELECT p,
         list_transform(range(0, 64),
           d -> ('0x' || substr(md5(p::VARCHAR || ':' || d::VARCHAR), 1, 15))::BIGINT::DOUBLE
                / {SIM._LSH_DENOM!r} - 1.0) AS h
  FROM (SELECT unnest(range(0, {SIM.LSH_PLANES})) AS p)
), {_lsh_bands_sql("corpus", "c")}, {_lsh_bands_sql("bench", "b")}, cand AS (
  SELECT DISTINCT c.id AS corpus_id, b.id AS bench_id
  FROM c_bands c JOIN b_bands b ON c.band = b.band AND c.bucket = b.bucket
), scored AS (
  SELECT cand.corpus_id, cand.bench_id, {_SD_COS} AS score
  FROM cand
  JOIN corpus cv ON cv.id = cand.corpus_id
  JOIN bench bv ON bv.id = cand.bench_id
  WHERE {_SD_COS} >= 0.999
)
SELECT corpus_id AS vec_id, bench_id AS best_bench_id, score AS best_score
FROM (
  SELECT corpus_id, bench_id, score,
         row_number() OVER (PARTITION BY corpus_id ORDER BY score DESC, bench_id) AS rk
  FROM scored)
WHERE rk = 1
"""


# ---------------------------------------------------------------------------
# Incremental line-dedup: doc_id % 5 == 0 plays today's crawl batch,
# the rest the already-ingested corpus whose line frequencies are the
# stored state. Boilerplate status comes from the MERGED frequency
# (index ∪ batch), only the batch is cleaned — O(new) per batch.
# ---------------------------------------------------------------------------

_CRAWL_TEXT = (
    "upper(source) || ' NAVIGATION MENU HOME ABOUT CONTACT' || chr(10) "
    "|| text || chr(10) || 'SUBSCRIBE TO OUR NEWSLETTER FOR UPDATES'"
)


def incremental_line_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallelize(table(spark, sf_dir, "documents"))
    crawl = docs.select(
        "doc_id",
        F.concat(
            F.upper(F.col("source")),
            F.lit(" NAVIGATION MENU HOME ABOUT CONTACT\n"),
            F.col("text"),
            F.lit("\nSUBSCRIBE TO OUR NEWSLETTER FOR UPDATES"),
        ).alias("text"),
    )
    batch = crawl.filter(F.col("doc_id") % 5 == 0)
    index = crawl.filter(F.col("doc_id") % 5 != 0)
    return D.incremental_line_dedup(batch, index, max_docs=20)


INCREMENTAL_LINE_DEDUP_SQL = f"""
WITH crawl AS (
  SELECT doc_id, {_CRAWL_TEXT} AS text FROM documents
), lines AS (
  SELECT doc_id,
         generate_subscripts(string_split(text, chr(10)), 1) AS pos,
         unnest(string_split(text, chr(10))) AS line
  FROM crawl
), freq AS (
  SELECT ('0x' || substr(md5(line), 1, 15))::BIGINT AS line_h,
         count(DISTINCT doc_id) AS n_docs
  FROM lines GROUP BY 1
), flagged AS (
  SELECT l.doc_id, l.pos, l.line, f.n_docs <= 20 AS keep
  FROM lines l
  JOIN freq f ON ('0x' || substr(md5(l.line), 1, 15))::BIGINT = f.line_h
  WHERE l.doc_id % 5 = 0
)
SELECT doc_id,
       coalesce(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE keep), '') AS clean_text,
       count(*) FILTER (WHERE keep)::BIGINT AS n_kept,
       count(*) FILTER (WHERE NOT keep)::BIGINT AS n_dropped
FROM flagged
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Line-frequency registry (batch spelling of the streaming
# boilerplate detector — stream-vs-batch equivalence is pinned in
# tests/test_streaming.py; this oracle proves the batch side's
# running-count semantics bit-for-bit).
# ---------------------------------------------------------------------------


def line_registry_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.pipeline import line_registry_batch

    docs = parallelize(table(spark, sf_dir, "documents"))
    crawl = docs.select(
        "doc_id",
        F.concat(
            F.upper(F.col("source")),
            F.lit(" NAVIGATION MENU HOME ABOUT CONTACT\n"),
            F.col("text"),
            F.lit("\nSUBSCRIBE TO OUR NEWSLETTER FOR UPDATES"),
        ).alias("text"),
    )
    return line_registry_batch(crawl, max_docs=20)


LINE_REGISTRY_SQL = f"""
WITH crawl AS (
  SELECT doc_id, {_CRAWL_TEXT} AS text FROM documents
), lines AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, chr(10)))) AS line
  FROM crawl
), hashed AS (
  SELECT doc_id, ('0x' || substr(md5(line), 1, 15))::BIGINT AS line_h
  FROM lines
)
SELECT line_h, doc_id,
       row_number() OVER (PARTITION BY line_h ORDER BY doc_id) AS n_docs,
       row_number() OVER (PARTITION BY line_h ORDER BY doc_id) > 20 AS is_boiler
FROM hashed
"""


# ---------------------------------------------------------------------------
# Encoding-corruption report (the ftfy class of curation filters):
# three planted docs carry the classic artifacts — UTF-8 read as
# Latin-1, U+FFFD replacement chars, embedded C0 control bytes — and
# the real corpus must come back clean. Counts travel via the
# engine-exact greedy replace trick on both sides.
# ---------------------------------------------------------------------------

_ENC_PLANTS = [
    (900101, "the caf\u00c3\u00a9 clich\u00c3\u00a9 \u00e2\u20ac\u0153quoted\u00e2\u20ac\u009d text body"),
    (900102, "lossy \ufffd transcode \ufffd\ufffd here"),
    (900103, "binary\u0001 contamination\u0007 in\u001f text"),
]


def encoding_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallelize(table(spark, sf_dir, "documents")).select("doc_id", "text")
    plants = spark.createDataFrame(_ENC_PLANTS, "doc_id bigint, text string")
    return TS.encoding_artifacts(docs.unionAll(plants))


_ENC_PLANT_ROWS = " UNION ALL ".join(
    f"SELECT {i}::BIGINT AS doc_id, {_sql_lit(t)} AS text" for i, t in _ENC_PLANTS
)

def _moji_count_sql(col: str) -> str:
    """Engine-exact mojibake-sequence count over `col` — the DuckDB
    twin of textstats._re_occurrences over MOJI_TWO_RE /
    MOJI_THREE_RE plus the literal BOM ghost. regexp_replace needs
    the 'g' flag in DuckDB (Spark replaces all by default)."""
    two, three = _sql_lit(TS.MOJI_TWO_RE), _sql_lit(TS.MOJI_THREE_RE)
    bom = _sql_lit(TS.BOM_GHOST)
    return (
        f"((length({col}) - length(regexp_replace({col}, {two}, '', 'g'))) // 2"
        f" + (length({col}) - length(regexp_replace({col}, {three}, '', 'g'))) // 3"
        f" + (length({col}) - length(replace({col}, {bom}, ''))) // 3)"
    )


_ENC_MOJI = _moji_count_sql("text")

def _encoding_sql(corpus_rows: str) -> str:
    """Encoding-artifact flag SQL over a caller-supplied corpus body
    (doc_id, text) — same builder pattern as _gopher_sql, so gate
    compositions reuse the proven detector chain verbatim."""
    return f"""
WITH corpus AS (
  {corpus_rows}
), stats AS (
  SELECT doc_id,
         ({_ENC_MOJI})::BIGINT AS n_mojibake,
         (length(text) - length(replace(text, {_sql_lit(chr(0xFFFD))}, '')))::BIGINT AS n_replacement,
         (length(text) - length(regexp_replace(text, '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]', '', 'g')))::BIGINT AS n_control
  FROM corpus
)
SELECT *, n_mojibake = 0 AND n_replacement = 0 AND n_control = 0 AS clean
FROM stats
"""


ENCODING_REPORT_SQL = _encoding_sql(
    f"""SELECT doc_id, text FROM documents
  UNION ALL
  {_ENC_PLANT_ROWS}"""
)


_REASON_PLANTS = _ENC_PLANTS + [(900104, "zxqv wvut qqq pqrs")]  # + an 'und' doc


def rejection_reasons_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc rejection-reason lookup — the debugging table behind
    'why was my document dropped': the FIRST failing gate in pipeline
    order (encoding → language → quality → exact-duplicate → kept),
    composed from the proven per-gate flag chains. Planted rows light
    every branch: the three encoding plants, one stopword-free 'und'
    doc, and the %7 clones.

    All four gates are narrow projections or one fingerprint window
    over the SAME corpus scan; the doc-keyed flag joins are
    AQE-planned equi-joins. Precedence is a CASE — one pass, no
    per-gate re-filtering."""
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    plants = spark.createDataFrame(_REASON_PLANTS, "doc_id bigint, text string")
    clones = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text"
    )
    corpus = docs.unionAll(plants).unionAll(clones)
    enc = TS.encoding_artifacts(corpus).select("doc_id", "clean")
    gq = TS.gopher_quality(
        corpus, min_words=10, min_stopword_types=1
    ).select("doc_id", "pass_gopher")
    base = corpus.select(
        "doc_id",
        TS.lang_guess(F.col("text")).alias("lang_guess"),
        TS.fingerprint(F.col("text")).alias("fp"),
    )
    w = Window.partitionBy("fp")
    flags = (
        base.withColumn("is_dup", F.col("doc_id") != F.min("doc_id").over(w))
        .join(enc, "doc_id")
        .join(gq, "doc_id")
    )
    return flags.select(
        "doc_id",
        "clean",
        "lang_guess",
        "pass_gopher",
        "is_dup",
        F.when(~F.col("clean"), F.lit("encoding"))
        .when(F.col("lang_guess") == "und", F.lit("lang"))
        .when(~F.col("pass_gopher"), F.lit("quality"))
        .when(F.col("is_dup"), F.lit("duplicate"))
        .otherwise(F.lit("kept"))
        .alias("reason"),
    )


_REASON_PLANT_ROWS = " UNION ALL ".join(
    f"SELECT {i}::BIGINT AS doc_id, {_sql_lit(t)} AS text" for i, t in _REASON_PLANTS
)

_REASON_CORPUS = f"""SELECT doc_id, text FROM documents
  UNION ALL
  {_REASON_PLANT_ROWS}
  UNION ALL
  SELECT doc_id + 10000, text FROM documents WHERE doc_id % 7 = 0"""

REJECTION_REASONS_SQL = f"""
WITH corpusr AS (
  {_REASON_CORPUS}
), e AS ({_encoding_sql("SELECT doc_id, text FROM corpusr")}),
g AS ({_gopher_sql("SELECT doc_id, text FROM corpusr", min_words=10, min_stop=1)}),
b AS (
  SELECT doc_id,
    CASE
      WHEN h_en > 0 AND h_en >= h_es AND h_en >= h_fr AND h_en >= h_de AND h_en >= h_zh THEN 'en'
      WHEN h_es > 0 AND h_es >= h_en AND h_es >= h_fr AND h_es >= h_de AND h_es >= h_zh THEN 'es'
      WHEN h_fr > 0 AND h_fr >= h_en AND h_fr >= h_es AND h_fr >= h_de AND h_fr >= h_zh THEN 'fr'
      WHEN h_de > 0 AND h_de >= h_en AND h_de >= h_es AND h_de >= h_fr AND h_de >= h_zh THEN 'de'
      WHEN h_zh > 0 AND h_zh >= h_en AND h_zh >= h_es AND h_zh >= h_fr AND h_zh >= h_de THEN 'zh'
      ELSE 'und'
    END AS lang_guess,
    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM (
    SELECT doc_id, text,
           {_hits("en")} AS h_en, {_hits("es")} AS h_es, {_hits("fr")} AS h_fr,
           {_hits("de")} AS h_de, {_hits("zh")} AS h_zh
    FROM (SELECT doc_id, text, {_TOKS} AS toks FROM corpusr)
  )
), d AS (
  SELECT doc_id,
         doc_id <> min(doc_id) OVER (PARTITION BY fp) AS is_dup,
         lang_guess
  FROM b
)
SELECT d.doc_id, e.clean, d.lang_guess, g.pass_gopher, d.is_dup,
       CASE WHEN NOT e.clean THEN 'encoding'
            WHEN d.lang_guess = 'und' THEN 'lang'
            WHEN NOT g.pass_gopher THEN 'quality'
            WHEN d.is_dup THEN 'duplicate'
            ELSE 'kept' END AS reason
FROM d JOIN e USING (doc_id) JOIN g USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Gopher funnel — corpus economics of the quality gate: how many
# docs each rule rejects and how many survive the whole set. The
# oracle re-embeds the proven GOPHER_QUALITY_SQL as a CTE, so the
# green hash certifies the funnel arithmetic on top of the certified
# per-doc flags.
# ---------------------------------------------------------------------------


def gopher_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = gopher_quality(spark, sf_dir)
    rules = [
        "ok_word_count",
        "ok_mean_word_len",
        "ok_symbol_ratio",
        "ok_alpha_ratio",
        "ok_stopwords",
        "ok_bullets",
        "ok_ellipsis",
    ]
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_docs")]
    aggs += [
        F.sum(F.when(~F.col(r), 1).otherwise(0)).cast("bigint").alias(f"fail_{r[3:]}")
        for r in rules
    ]
    aggs.append(
        F.sum(F.when(F.col("pass_gopher"), 1).otherwise(0)).cast("bigint").alias("n_pass")
    )
    return g.agg(*aggs)


GOPHER_FUNNEL_SQL = f"""
WITH g AS ({GOPHER_QUALITY_SQL})
SELECT count(*)::BIGINT AS n_docs,
       sum(CASE WHEN NOT ok_word_count THEN 1 ELSE 0 END)::BIGINT AS fail_word_count,
       sum(CASE WHEN NOT ok_mean_word_len THEN 1 ELSE 0 END)::BIGINT AS fail_mean_word_len,
       sum(CASE WHEN NOT ok_symbol_ratio THEN 1 ELSE 0 END)::BIGINT AS fail_symbol_ratio,
       sum(CASE WHEN NOT ok_alpha_ratio THEN 1 ELSE 0 END)::BIGINT AS fail_alpha_ratio,
       sum(CASE WHEN NOT ok_stopwords THEN 1 ELSE 0 END)::BIGINT AS fail_stopwords,
       sum(CASE WHEN NOT ok_bullets THEN 1 ELSE 0 END)::BIGINT AS fail_bullets,
       sum(CASE WHEN NOT ok_ellipsis THEN 1 ELSE 0 END)::BIGINT AS fail_ellipsis,
       sum(CASE WHEN pass_gopher THEN 1 ELSE 0 END)::BIGINT AS n_pass
FROM g
"""


# ---------------------------------------------------------------------------
# Tokenizer fertility by language — subword tokens per word per
# lang bucket, the standard tokenizer-adequacy diagnostic for a
# multilingual corpus (high fertility = the tokenizer fragments that
# language). Sums are exact bigints; fertility is ONE final IEEE
# division of those sums (the documented portable form).
# ---------------------------------------------------------------------------


def fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallelize(table(spark, sf_dir, "documents"))
    st = TS.add_text_stats(docs.select("doc_id", "text"))
    return st.groupBy("lang_guess").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_words"),
        F.sum("n_bpe_tokens").cast("bigint").alias("total_bpe_tokens"),
        F.when(
            F.sum("n_tokens") > 0,
            F.sum("n_bpe_tokens").cast("double") / F.sum("n_tokens").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("fertility"),
    )


FERTILITY_BY_LANG_SQL = f"""
WITH ts AS ({TEXT_STATS_SQL})
SELECT lang_guess,
       count(*)::BIGINT AS n_docs,
       sum(n_tokens)::BIGINT AS total_words,
       sum(n_bpe_tokens)::BIGINT AS total_bpe_tokens,
       CASE WHEN sum(n_tokens) > 0
            THEN sum(n_bpe_tokens)::BIGINT::DOUBLE / sum(n_tokens)::BIGINT::DOUBLE
            ELSE 0.0 END AS fertility
FROM ts
GROUP BY lang_guess
"""


# ---------------------------------------------------------------------------
# Preference-pair mining — best-vs-worst per source with an
# integer-exact score (total word chars: the certified Gopher
# word_chars statistic), the standard construction of DPO/RLHF
# training rows from scored candidate pools.
# ---------------------------------------------------------------------------


def preference_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.select import preference_pairs

    docs = parallelize(table(spark, sf_dir, "documents"))
    scored = docs.select(
        "doc_id",
        "source",
        TS.with_tokens(
            F.col("text"),
            lambda t: F.aggregate(
                t, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
            ),
        ).alias("score"),
    )
    return preference_pairs(scored, group_col="source", score_col="score", min_margin=10)


PREFERENCE_PAIRS_SQL = f"""
WITH scored AS (
  SELECT doc_id, source,
         coalesce(list_sum(list_transform({_TOKS}, x -> length(x))), 0)::BIGINT AS score
  FROM documents
), ranked AS (
  SELECT source AS grp, doc_id, score,
         row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id ASC) AS top_rn,
         row_number() OVER (PARTITION BY source ORDER BY score ASC, doc_id DESC) AS bot_rn
  FROM scored
)
SELECT c.grp AS "group",
       c.doc_id AS chosen_id,
       r.doc_id AS rejected_id,
       c.score AS chosen_score,
       r.score AS rejected_score,
       c.score - r.score AS margin
FROM (SELECT * FROM ranked WHERE top_rn = 1) c
JOIN (SELECT * FROM ranked WHERE bot_rn = 1) r ON c.grp = r.grp
WHERE c.doc_id <> r.doc_id AND c.score - r.score >= 10
"""


# ---------------------------------------------------------------------------
# Web-curation funnel — the RefinedWeb-style end-to-end chain over
# the round-7 operators: synthesized crawl (headers/footers + planted
# clones + planted encoding corruption) → line-level boilerplate
# removal → encoding gate → Gopher gate → exact dedup → benchmark
# n-gram decontam, with doc/token accounting per stage. ONE annotated
# per-doc plan feeds ONE aggregate (stack-unpivoted to stage rows),
# so the heavy chain is computed once, not once per stage. The oracle
# chains the already-proven per-stage SQL spellings.
# ---------------------------------------------------------------------------


def web_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..operators.decontam import ngram_overlap
    from ..operators.dedup import line_level_dedup

    docs = parallelize(table(spark, sf_dir, "documents")).select(
        "doc_id", "text", "source"
    )
    plants = spark.createDataFrame(
        [(i, t, "src0") for i, t in _ENC_PLANTS], "doc_id bigint, text string, source string"
    )
    clones = docs.filter(F.col("doc_id") % 6 == 0).select(
        (F.col("doc_id") + 70000).alias("doc_id"), "text", "source"
    )
    base = docs.unionAll(plants).unionAll(clones)
    bench = base.filter(F.col("doc_id") % 97 == 0).select("doc_id", "text")
    corp = base.filter(F.col("doc_id") % 97 != 0)
    crawl = corp.select(
        "doc_id",
        F.concat(
            F.upper(F.col("source")),
            F.lit(" NAVIGATION MENU HOME ABOUT CONTACT\n"),
            F.col("text"),
            F.lit("\nSUBSCRIBE TO OUR NEWSLETTER FOR UPDATES"),
        ).alias("text"),
    )
    # the line-dedup chain feeds three consumers (encoding gate,
    # gopher gate, the annotation join) — barrier it so the chain
    # runs once per action instead of once per consumer (solo-warm
    # median 8.2 -> 7.6 s; the kmeans-barrier class). Line-dedup
    # output of a max_docs=20 synthetic crawl.
    txt = pin(
        line_level_dedup(crawl, max_docs=20).select(
            "doc_id", F.col("clean_text").alias("text")
        ),
        "bounded",
    )
    enc = TS.encoding_artifacts(txt).select("doc_id", "clean")
    # tuned gate: the synthetic vocabulary carries only ONE of the
    # eight published stopwords, so the published floors reject the
    # whole corpus — per-corpus gate tuning is the operator's real
    # contract (thresholds are parameters, published values default)
    gq = TS.gopher_quality(txt, min_words=30, min_stopword_types=1).select(
        "doc_id", "pass_gopher"
    )
    ann = (
        txt.join(enc, "doc_id")
        .join(gq, "doc_id")
        .withColumn("nt", TS.token_count(F.col("text")).cast("bigint"))
        .withColumn("alive2", F.col("clean"))
        .withColumn("alive3", F.col("clean") & F.col("pass_gopher"))
    )
    a3 = ann.filter(F.col("alive3")).withColumn("fp", TS.fingerprint(F.col("text")))
    keep4 = a3.select(
        "doc_id",
        (
            F.col("doc_id") == F.min("doc_id").over(Window.partitionBy("fp"))
        ).alias("keep4"),
    )
    cont = ngram_overlap(txt, bench, n=3).select("doc_id", "contaminated")
    annot = (
        ann.join(keep4, "doc_id", "left")
        .join(cont, "doc_id")
        .withColumn("alive4", F.col("alive3") & F.coalesce(F.col("keep4"), F.lit(False)))
        .withColumn("alive5", F.col("alive4") & ~F.col("contaminated"))
    )
    crawl_toks = crawl.agg(
        F.count(F.lit(1)).cast("bigint").alias("d0"),
        F.sum(TS.token_count(F.col("text"))).cast("bigint").alias("t0"),
    )

    def _stage(flag: str, k: int):
        return [
            F.sum(F.when(F.col(flag), 1).otherwise(0)).cast("bigint").alias(f"d{k}"),
            F.sum(F.when(F.col(flag), F.col("nt")).otherwise(0)).cast("bigint").alias(f"t{k}"),
        ]

    wide = annot.agg(
        F.count(F.lit(1)).cast("bigint").alias("d1"),
        F.sum("nt").cast("bigint").alias("t1"),
        *_stage("alive2", 2),
        *_stage("alive3", 3),
        *_stage("alive4", 4),
        *_stage("alive5", 5),
    )
    names = ["crawl", "line_dedup", "encoding", "gopher", "exact_dedup", "decontam"]
    stack = ", ".join(
        f"{k}L, '{names[k]}', d{k}, t{k}" for k in range(6)
    )
    return crawl_toks.crossJoin(wide).selectExpr(
        f"stack(6, {stack}) AS (stage, stage_name, n_docs, n_tokens)"
    )


_WCP_CLEAN_TOKS = "CASE WHEN trim(lower(t.text)) = '' THEN []::VARCHAR[] ELSE string_split_regex(trim(lower(t.text)), '\\s+') END"

WEB_CURATION_PIPELINE_SQL = f"""
WITH base AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id, text, 'src0' FROM ({_ENC_PLANT_ROWS})
  UNION ALL
  SELECT doc_id + 70000, text, source FROM documents WHERE doc_id % 6 = 0
), bench AS (
  SELECT doc_id, text FROM base WHERE doc_id % 97 = 0
), crawl AS (
  SELECT doc_id, upper(source) || ' NAVIGATION MENU HOME ABOUT CONTACT' || chr(10)
           || text || chr(10) || 'SUBSCRIBE TO OUR NEWSLETTER FOR UPDATES' AS text
  FROM base WHERE doc_id % 97 <> 0
), lines AS (
  SELECT doc_id,
         generate_subscripts(string_split(text, chr(10)), 1) AS pos,
         unnest(string_split(text, chr(10))) AS line
  FROM crawl
), freq AS (
  SELECT ('0x' || substr(md5(line), 1, 15))::BIGINT AS line_h,
         count(DISTINCT doc_id) AS n_docs
  FROM lines GROUP BY 1
), flagged AS (
  SELECT l.doc_id, l.pos, l.line, f.n_docs <= 20 AS keep
  FROM lines l
  JOIN freq f ON ('0x' || substr(md5(l.line), 1, 15))::BIGINT = f.line_h
), txt AS (
  SELECT doc_id,
         coalesce(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE keep), '') AS text
  FROM flagged GROUP BY doc_id
), ann AS (
  SELECT t.doc_id, t.text,
         len({_WCP_CLEAN_TOKS})::BIGINT AS nt,
         {_moji_count_sql("t.text")}
           + (length(t.text) - length(replace(t.text, {_sql_lit(chr(0xFFFD))}, '')))
           + (length(t.text) - length(regexp_replace(t.text, '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]', '', 'g'))) = 0 AS clean,
         len({_WCP_CLEAN_TOKS}) AS n_words,
         coalesce(list_sum(list_transform({_WCP_CLEAN_TOKS}, x -> length(x))), 0) AS word_chars,
         len(list_filter({_WCP_CLEAN_TOKS}, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
         ({" + ".join(f"CASE WHEN list_contains({{toks}}, '{w}') THEN 1 ELSE 0 END".format(toks=_WCP_CLEAN_TOKS) for w in ["the", "be", "to", "of", "and", "that", "have", "with"])}) AS n_stop,
         ((length(t.text) - length(replace(t.text, '#', '')))
          + (length(t.text) - length(replace(t.text, '...', ''))) // 3) AS n_sym,
         len(string_split(t.text, chr(10))) AS n_lines,
         len(list_filter(string_split(t.text, chr(10)), l -> regexp_matches(l, '^\\s*[-*\u2022]'))) AS n_bul,
         len(list_filter(string_split(t.text, chr(10)), l -> regexp_matches(l, '\\.\\.\\.\\s*$'))) AS n_ell
  FROM txt t
), ann2 AS (
  SELECT doc_id, text, nt, clean,
         (n_words >= 30 AND n_words <= 100000
          AND word_chars >= 3 * n_words AND word_chars <= 10 * n_words
          AND 10 * n_sym < n_words
          AND 5 * n_alpha >= 4 * n_words
          AND n_stop >= 1
          AND 10 * n_bul < 9 * n_lines
          AND 10 * n_ell < 3 * n_lines) AS pass_gopher
  FROM ann
), a3 AS (
  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM ann2 WHERE clean AND pass_gopher
), keep4 AS (
  SELECT doc_id, doc_id = min(doc_id) OVER (PARTITION BY fp) AS keep4 FROM a3
), btok AS (
  SELECT {_TOKS} AS toks FROM bench
), bgrams AS (
  SELECT DISTINCT ('0x' || substr(md5(gram), 1, 15))::BIGINT AS gram_h
  FROM (SELECT unnest(list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
               i -> array_to_string(toks[i:i+2], ' ')))) AS gram FROM btok)
), ctok AS (
  SELECT doc_id, {_WCP_CLEAN_TOKS} AS toks FROM txt t
), cont AS (
  SELECT c.doc_id,
         count(b.gram_h) > 0 AS contaminated
  FROM (SELECT doc_id,
               unnest(list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                      i -> array_to_string(toks[i:i+2], ' ')))) AS gram
        FROM ctok) g
  RIGHT JOIN ctok c ON c.doc_id = g.doc_id
  LEFT JOIN bgrams b ON ('0x' || substr(md5(g.gram), 1, 15))::BIGINT = b.gram_h
  GROUP BY c.doc_id
), annot AS (
  SELECT a.doc_id, a.nt, a.clean AS alive2,
         a.clean AND a.pass_gopher AS alive3,
         a.clean AND a.pass_gopher AND coalesce(k.keep4, FALSE) AS alive4,
         a.clean AND a.pass_gopher AND coalesce(k.keep4, FALSE) AND NOT c.contaminated AS alive5
  FROM ann2 a
  LEFT JOIN keep4 k ON k.doc_id = a.doc_id
  JOIN cont c ON c.doc_id = a.doc_id
), stages AS (
  SELECT 0::BIGINT AS stage, 'crawl' AS stage_name,
         count(*)::BIGINT AS n_docs,
         sum(len({_TOKS}))::BIGINT AS n_tokens
  FROM crawl
  UNION ALL
  SELECT 1, 'line_dedup', count(*)::BIGINT, sum(nt)::BIGINT FROM annot
  UNION ALL
  SELECT 2, 'encoding', sum(CASE WHEN alive2 THEN 1 ELSE 0 END)::BIGINT,
         sum(CASE WHEN alive2 THEN nt ELSE 0 END)::BIGINT FROM annot
  UNION ALL
  SELECT 3, 'gopher', sum(CASE WHEN alive3 THEN 1 ELSE 0 END)::BIGINT,
         sum(CASE WHEN alive3 THEN nt ELSE 0 END)::BIGINT FROM annot
  UNION ALL
  SELECT 4, 'exact_dedup', sum(CASE WHEN alive4 THEN 1 ELSE 0 END)::BIGINT,
         sum(CASE WHEN alive4 THEN nt ELSE 0 END)::BIGINT FROM annot
  UNION ALL
  SELECT 5, 'decontam', sum(CASE WHEN alive5 THEN 1 ELSE 0 END)::BIGINT,
         sum(CASE WHEN alive5 THEN nt ELSE 0 END)::BIGINT FROM annot
)
SELECT stage, stage_name, n_docs, n_tokens FROM stages
"""


# ---------------------------------------------------------------------------
# Template-level dedup (operators/dedup.py::template_duplicates):
# digit-masked fingerprints catch machine-generated boilerplate
# families ("Order #123 shipped" vs "#456") that exact dedup is
# blind to. Two template instantiations per planted base (different
# numbers) prove the is_duplicate-but-not-exact split.
# ---------------------------------------------------------------------------


def template_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallelize(table(spark, sf_dir, "documents")).select("doc_id", "text")
    a = docs.filter(F.col("doc_id") % 9 == 0)
    planted = a.select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.concat(
            F.col("text"), F.lit(" ticket "), (F.col("doc_id") * 7).cast("string")
        ).alias("text"),
    ).unionAll(
        a.select(
            (F.col("doc_id") + 40000).alias("doc_id"),
            F.concat(
                F.col("text"), F.lit(" ticket "), (F.col("doc_id") * 13).cast("string")
            ).alias("text"),
        )
    )
    return D.template_duplicates(docs.unionAll(planted)).select(
        "doc_id", "template_fp", "canonical_id", "is_duplicate", "is_exact_duplicate"
    )


_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

TEMPLATE_DEDUP_SQL = f"""
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 20000, text || ' ticket ' || (doc_id * 7)::VARCHAR
  FROM documents WHERE doc_id % 9 = 0
  UNION ALL
  SELECT doc_id + 40000, text || ' ticket ' || (doc_id * 13)::VARCHAR
  FROM documents WHERE doc_id % 9 = 0
), fps AS (
  SELECT doc_id,
         md5(regexp_replace({_NORM}, '[0-9]+', '0', 'g')) AS template_fp,
         md5({_NORM}) AS exact_fp
  FROM base
)
SELECT doc_id, template_fp,
       min(doc_id) OVER (PARTITION BY template_fp) AS canonical_id,
       doc_id <> min(doc_id) OVER (PARTITION BY template_fp) AS is_duplicate,
       doc_id <> min(doc_id) OVER (PARTITION BY exact_fp) AS is_exact_duplicate
FROM fps
"""


# ---------------------------------------------------------------------------
# Concat-split packing contamination report (operators/sampling.py::
# packing_contamination): per-window doc/boundary economics of
# GPT-style packing — the diagnostic that motivates cross-doc
# attention masking and boundary-aware packers.
# ---------------------------------------------------------------------------


def packing_contamination_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import packing_contamination

    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return packing_contamination(
        docs, weight_col="n_chars", budget=10_000, order_col="doc_id", n_buckets=8
    )


PACKING_CONTAMINATION_SQL = """
WITH packed AS (
  SELECT doc_id, (doc_id % 8)::INTEGER AS bucket,
         (sum(n_chars) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id)
          - n_chars)::BIGINT AS s,
         n_chars::BIGINT AS w
  FROM documents
), spans AS (
  SELECT doc_id, bucket, s, s + w AS e,
         s // 10000 AS w0, (s + w - 1) // 10000 AS w1
  FROM packed WHERE w > 0
), x AS (
  SELECT bucket, s, e, w0, w1, u.wi AS window_id
  FROM spans, unnest(range(w0, w1 + 1)) AS u(wi)
)
SELECT bucket, window_id::BIGINT AS window_id,
       count(*)::BIGINT AS n_docs,
       sum(CASE WHEN w0 = window_id THEN 1 ELSE 0 END)::BIGINT AS n_starts,
       sum(CASE WHEN w1 > window_id THEN 1 ELSE 0 END)::BIGINT AS n_splits,
       sum(least(e, (window_id + 1) * 10000)
           - greatest(s, window_id * 10000))::BIGINT AS tokens
FROM x GROUP BY bucket, window_id
"""


# ---------------------------------------------------------------------------
# Round-7 batch 5: normalization-fingerprint dedup, symbol-density
# routing, k-anonymity audit, blocklist filter.
# ---------------------------------------------------------------------------


def normalized_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Punctuation/case-insensitive fuzzy-exact dedup
    (operators/dedup.py::normalized_duplicates). Two planted mutation
    classes per 11th doc — an uppercased copy with trailing bangs and
    a comma-injected copy — are invisible to exact dedup but collapse
    onto the base doc's normalized fingerprint."""
    docs = parallelize(table(spark, sf_dir, "documents")).select("doc_id", "text")
    a = docs.filter(F.col("doc_id") % 11 == 0)
    planted = a.select(
        (F.col("doc_id") + 60000).alias("doc_id"),
        F.concat(F.upper(F.col("text")), F.lit(" !!!")).alias("text"),
    ).unionAll(
        a.select(
            (F.col("doc_id") + 80000).alias("doc_id"),
            F.replace(F.col("text"), F.lit(" "), F.lit(" , ")).alias("text"),
        )
    )
    return D.normalized_duplicates(docs.unionAll(planted)).select(
        "doc_id", "norm_fp", "canonical_id", "is_duplicate", "is_exact_duplicate"
    )


_AGG_NORM = (
    "trim(regexp_replace(regexp_replace(lower(text),"
    " '[!-/:-@\\[-`{-~]', ' ', 'g'), '\\s+', ' ', 'g'))"
)

NORMALIZED_DEDUP_SQL = f"""
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 60000, upper(text) || ' !!!'
  FROM documents WHERE doc_id % 11 = 0
  UNION ALL
  SELECT doc_id + 80000, replace(text, ' ', ' , ')
  FROM documents WHERE doc_id % 11 = 0
), fps AS (
  SELECT doc_id,
         md5({_AGG_NORM}) AS norm_fp,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS exact_fp
  FROM base
)
SELECT doc_id, norm_fp,
       min(doc_id) OVER (PARTITION BY norm_fp) AS canonical_id,
       doc_id <> min(doc_id) OVER (PARTITION BY norm_fp) AS is_duplicate,
       doc_id <> min(doc_id) OVER (PARTITION BY exact_fp) AS is_exact_duplicate
FROM fps
"""


# Planted routing suffixes: repeated enough that the density clears
# the threshold even on the longest (~580-char) corpus doc.
_MATH_SFX = " 12 + 34 = 46" * 8
_CODE_SFX = " if (x) { y; }" * 8


def math_code_routing_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symbol-density corpus routing (operators/textstats.py::
    symbol_density_routing): every 17th doc gets a code-like suffix,
    every 13th a math-like one; the router reads the resulting
    character-class densities back out. Code precedence over math."""
    docs = parallelize(table(spark, sf_dir, "documents")).select("doc_id", "text")
    suffixed = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 17 == 0, F.concat(F.col("text"), F.lit(_CODE_SFX))
        )
        .when(F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(_MATH_SFX)))
        .otherwise(F.col("text")),
    )
    return TS.symbol_density_routing(suffixed)


MATH_CODE_ROUTING_SQL = f"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN doc_id % 17 = 0 THEN text || repeat(' if (x) {{ y; }}', 8)
              WHEN doc_id % 13 = 0 THEN text || repeat(' 12 + 34 = 46', 8)
              ELSE text END AS text
  FROM documents
), cnt AS (
  SELECT doc_id, len(text)::BIGINT AS n_chars,
         len(regexp_extract_all(text, '[0-9]'))::BIGINT AS dig,
         len(regexp_extract_all(text, '[+*/=<>%-]'))::BIGINT AS op,
         len(regexp_extract_all(text, '[{{}}()\\[\\];]'))::BIGINT AS code
  FROM base
), bp AS (
  SELECT doc_id, n_chars,
         CASE WHEN n_chars > 0 THEN (dig * 10000) // n_chars ELSE 0 END::BIGINT AS digit_bp,
         CASE WHEN n_chars > 0 THEN (op * 10000) // n_chars ELSE 0 END::BIGINT AS op_bp,
         CASE WHEN n_chars > 0 THEN (code * 10000) // n_chars ELSE 0 END::BIGINT AS code_bp
  FROM cnt
)
SELECT doc_id, n_chars, digit_bp, op_bp, code_bp,
       CASE WHEN code_bp >= 500 THEN 'code'
            WHEN digit_bp + op_bp >= 800 THEN 'math'
            ELSE 'prose' END AS route
FROM bp
"""


def k_anonymity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity release audit (operators/privacy.py)
    over the events table: QI = (event_type, hour-of-day, value
    decile-bin), sensitive = user_id. Generalization (the hour and
    value binning) happens scan-side before the one-shuffle audit."""
    from ..operators.privacy import k_anonymity

    ev = table(spark, sf_dir, "events")
    qi = ev.select(
        "event_type",
        F.hour("ts").cast("bigint").alias("hour"),
        F.floor(F.col("value") / 10).cast("bigint").alias("value_bin"),
        "user_id",
    )
    return k_anonymity(qi, ["event_type", "hour", "value_bin"], "user_id", k=5, l_div=2)


K_ANONYMITY_SQL = """
WITH qi AS (
  SELECT event_type, hour(ts)::BIGINT AS hour,
         floor(value / 10)::BIGINT AS value_bin, user_id
  FROM events
), g AS (
  SELECT event_type, hour, value_bin,
         count(*)::BIGINT AS group_n,
         count(DISTINCT user_id)::BIGINT AS l_distinct
  FROM qi GROUP BY 1, 2, 3
)
SELECT event_type, hour, value_bin, group_n, l_distinct,
       group_n >= 5 AS is_k_anonymous,
       l_distinct >= 2 AS is_l_diverse,
       (CASE WHEN group_n >= 5 AND l_distinct >= 2
             THEN 0 ELSE group_n END)::BIGINT AS suppressed_rows
FROM g
"""


def k_anon_gate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrival-order k-anonymity release gate (streaming/pipeline.py::
    k_anon_gate_batch, the driver-checkable twin of
    streaming_k_anon_gate): each event's QI-class size at arrival and
    whether it was releasable then (class already ≥ k). Same QI
    generalization as the k_anonymity audit."""
    from ..streaming.pipeline import k_anon_gate_batch

    ev = table(spark, sf_dir, "events")
    qi = ev.select(
        "event_type",
        F.hour("ts").cast("bigint").alias("hour"),
        F.floor(F.col("value") / 10).cast("bigint").alias("value_bin"),
        "event_id",
    )
    return k_anon_gate_batch(qi, ["event_type", "hour", "value_bin"], k=5)


K_ANON_GATE_SQL = """
WITH qi AS (
  SELECT event_type, hour(ts)::BIGINT AS hour,
         floor(value / 10)::BIGINT AS value_bin, event_id
  FROM events
)
SELECT event_type, hour, value_bin, event_id,
       row_number() OVER (
         PARTITION BY event_type, hour, value_bin ORDER BY event_id
       ) AS class_n,
       row_number() OVER (
         PARTITION BY event_type, hour, value_bin ORDER BY event_id
       ) >= 5 AS releasable
FROM qi
"""


def blocklist_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style blocklist rate gate (operators/curate.py::
    blocklist_hits) with the list derived in-pipeline as the top-5
    corpus tokens (top_frequency_blocklist) so hits are guaranteed
    on any corpus; max 10% blocked-token rate to keep."""
    from ..operators.curate import blocklist_hits, top_frequency_blocklist

    docs = parallelize(table(spark, sf_dir, "documents")).select("doc_id", "text")
    bl = top_frequency_blocklist(docs, top_n=5)
    return blocklist_hits(docs, bl, max_rate_bp=1000).select(
        F.col("id").alias("doc_id"),
        "n_tokens",
        "n_blocked",
        "n_blocked_types",
        "keep",
    )


BLOCKLIST_FILTER_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS}) AS word FROM documents
), bl AS (
  SELECT word FROM (
    SELECT word, count(*) AS c FROM tok GROUP BY word
    ORDER BY c DESC, word LIMIT 5
  )
), spine AS (
  SELECT doc_id, len({_TOKS})::BIGINT AS n_tokens FROM documents
), hits AS (
  SELECT t.doc_id, count(*)::BIGINT AS n_blocked,
         count(DISTINCT t.word)::BIGINT AS n_blocked_types
  FROM tok t JOIN bl USING (word) GROUP BY t.doc_id
)
SELECT s.doc_id, s.n_tokens,
       coalesce(h.n_blocked, 0)::BIGINT AS n_blocked,
       coalesce(h.n_blocked_types, 0)::BIGINT AS n_blocked_types,
       coalesce(h.n_blocked, 0) * 10000 <= s.n_tokens * 1000 AS keep
FROM spine s LEFT JOIN hits h ON s.doc_id = h.doc_id
"""


# ---------------------------------------------------------------------------
# Retrieval self-evaluation: recall@10 / reciprocal rank of BM25
# against planted relevance — three token-slice clones per query doc
# (half, two-thirds, tail-offset) are the relevant set; the metrics
# operator reads back how many the ranker surfaced and where.
# ---------------------------------------------------------------------------


def retrieval_metrics_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.tfidf import bm25_rank, retrieval_metrics

    docs = parallelize(table(spark, sf_dir, "documents").select("doc_id", "text"))
    q = docs.filter(F.col("doc_id") < 3)
    qt = q.select("doc_id", TS.tokens(F.col("text")).alias("toks"))
    # near-full-length slices: on a ~31-word vocabulary every doc
    # shares most TYPES with every query, so a relevant clone must
    # keep (nearly) the full distinct-term set and win on the
    # shorter-dl normalization — aggressive truncation buried the
    # clones below ordinary corpus docs
    clones = (
        qt.select(
            (F.col("doc_id") + 90000).alias("doc_id"),
            F.expr(
                "array_join(slice(toks, 1, greatest(size(toks) - 2, 0)), ' ')"
            ).alias("text"),
        )
        .unionAll(
            qt.select(
                (F.col("doc_id") + 91000).alias("doc_id"),
                F.expr(
                    "array_join(slice(toks, 4, greatest(size(toks) - 3, 0)), ' ')"
                ).alias("text"),
            )
        )
        .unionAll(
            qt.select(
                (F.col("doc_id") + 92000).alias("doc_id"),
                F.expr(
                    "array_join(slice(toks, 3, greatest(size(toks) - 4, 0)), ' ')"
                ).alias("text"),
            )
        )
    )
    truth = (
        q.select(F.col("doc_id").alias("query_id"), (F.col("doc_id") + 90000).alias("doc_id"))
        .unionAll(
            q.select(
                F.col("doc_id").alias("query_id"), (F.col("doc_id") + 91000).alias("doc_id")
            )
        )
        .unionAll(
            q.select(
                F.col("doc_id").alias("query_id"), (F.col("doc_id") + 92000).alias("doc_id")
            )
        )
    )
    ranked = bm25_rank(
        docs.unionAll(clones), q, k=10, max_df_ratio=(1, 1)
    ).select("query_id", "doc_id", "rank")
    return retrieval_metrics(ranked, truth)


RETRIEVAL_METRICS_SQL = f"""
WITH qtok AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents WHERE doc_id < 3
), corpus AS (
  SELECT doc_id AS id, text FROM documents
  UNION ALL
  SELECT doc_id + 90000, array_to_string(list_slice(toks, 1, len(toks) - 2), ' ')
  FROM qtok
  UNION ALL
  SELECT doc_id + 91000, array_to_string(list_slice(toks, 4, len(toks)), ' ')
  FROM qtok
  UNION ALL
  SELECT doc_id + 92000, array_to_string(list_slice(toks, 3, len(toks) - 2), ' ')
  FROM qtok
), {_BM25_CHAIN},
ranked AS (
  SELECT query_id, id AS doc_id, rank FROM (
    SELECT query_id, id,
           row_number() OVER (PARTITION BY query_id ORDER BY score_q DESC, id) AS rank
    FROM scored
  ) WHERE rank <= 10
), truth AS (
  SELECT doc_id AS query_id, doc_id + 90000 AS doc_id FROM documents WHERE doc_id < 3
  UNION ALL
  SELECT doc_id, doc_id + 91000 FROM documents WHERE doc_id < 3
  UNION ALL
  SELECT doc_id, doc_id + 92000 FROM documents WHERE doc_id < 3
), hits AS (
  SELECT t.query_id, count(*)::BIGINT AS n_hits_at_k,
         min(r.rank)::BIGINT AS first_rel_rank
  FROM truth t JOIN ranked r ON t.query_id = r.query_id AND t.doc_id = r.doc_id
  GROUP BY 1
), tn AS (
  SELECT query_id, count(*)::BIGINT AS n_relevant FROM truth GROUP BY 1
)
SELECT tn.query_id, tn.n_relevant,
       coalesce(h.n_hits_at_k, 0)::BIGINT AS n_hits_at_k,
       coalesce(h.first_rel_rank, 0)::BIGINT AS first_rel_rank,
       ((coalesce(h.n_hits_at_k, 0) * 10000) // tn.n_relevant)::BIGINT AS recall_bp,
       (CASE WHEN h.first_rel_rank IS NULL THEN 0
             ELSE 1000000 // h.first_rel_rank END)::BIGINT AS rr_ppm
FROM tn LEFT JOIN hits h ON tn.query_id = h.query_id
"""


# ---------------------------------------------------------------------------
# Waterfill budget allocation (operators/sampling.py::
# waterfill_allocation): max-min fair document budget across
# (source, lang) cells. The oracle replays the exact integer
# bracket-scan: feasibility prefix + c_i*(n-i+1) <= B, last feasible
# row fixes the water level T, remainder tops up the largest capped
# cells.
# ---------------------------------------------------------------------------


def waterfill_alloc_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import waterfill_allocation

    docs = table(spark, sf_dir, "documents").select(
        F.concat_ws("|", "source", "lang").alias("grp")
    )
    return waterfill_allocation(docs, "grp", budget=300)


def _waterfill_sql(sizes_body: str, budget: int) -> str:
    """Waterfill allocation SQL over a caller-supplied (grp, n_docs)
    sizes body — the one proven bracket-scan chain, reused verbatim
    by every oracle that needs max-min fair quotas over a different
    grouping. `grp` keeps the caller's type (ordering ties break on
    it, so the type must match the Spark side's)."""
    return f"""
WITH sizes AS (
  {sizes_body}
), nn AS (SELECT count(*)::BIGINT AS n FROM sizes),
ranked AS (
  SELECT grp, n_docs,
         row_number() OVER (ORDER BY n_docs, grp)::BIGINT AS i,
         coalesce(sum(n_docs) OVER (ORDER BY n_docs, grp
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS prefix
  FROM sizes
), bracket AS (
  SELECT max_by(i, i) AS bi, max_by(prefix, i) AS bprefix, max_by(n_docs, i) AS bc
  FROM ranked, nn WHERE prefix + n_docs * (n - i + 1) <= {budget}
), lvl AS (
  SELECT (CASE WHEN b.bi IS NULL THEN {budget} // n.n
               WHEN b.bi = n.n THEN b.bc
               ELSE ({budget} - b.bprefix - b.bc) // (n.n - b.bi) END)::BIGINT AS t
  FROM nn n CROSS JOIN bracket b
), alloc0 AS (
  SELECT grp, n_docs, least(n_docs, l.t)::BIGINT AS a0 FROM sizes, lvl l
), spent AS (SELECT sum(a0)::BIGINT AS used FROM alloc0),
capped AS (
  SELECT grp, row_number() OVER (ORDER BY n_docs DESC, grp)::BIGINT AS cr
  FROM alloc0 WHERE n_docs > a0
)
SELECT a.grp, a.n_docs,
       (a.a0 + CASE WHEN c.cr IS NOT NULL AND c.cr <= {budget} - s.used
                    THEN 1 ELSE 0 END)::BIGINT AS alloc
FROM alloc0 a LEFT JOIN capped c ON a.grp = c.grp, spent s
"""


WATERFILL_ALLOC_SQL = _waterfill_sql(
    """SELECT source || '|' || lang AS grp, count(*)::BIGINT AS n_docs
  FROM documents GROUP BY 1""",
    300,
)


# ---------------------------------------------------------------------------
# Cross-source quantile normalization (operators/select.py::
# quantile_normalize): per-source n_chars ranks mapped onto the
# pooled distribution — integer position arithmetic, id tiebreaks on
# both sides, so the oracle replays the map exactly.
# ---------------------------------------------------------------------------


def quantile_norm_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.select import quantile_normalize

    docs = parallelize(
        table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    )
    return quantile_normalize(docs, "source", "n_chars", "doc_id")


QUANTILE_NORM_SQL = """
WITH base AS (
  SELECT doc_id AS id, source AS grp, n_chars::BIGINT AS raw_score FROM documents
), nn AS (SELECT count(*)::BIGINT AS n FROM base),
pooled AS (
  SELECT raw_score AS pv,
         row_number() OVER (ORDER BY raw_score, id)::BIGINT AS pp
  FROM base
), ranked AS (
  SELECT id, grp, raw_score,
         row_number() OVER (PARTITION BY grp ORDER BY raw_score, id)::BIGINT AS src_rank,
         count(*) OVER (PARTITION BY grp)::BIGINT AS ng
  FROM base
), pos AS (
  SELECT r.*, (CASE WHEN ng > 1 THEN 1 + ((src_rank - 1) * (n - 1)) // (ng - 1)
                    ELSE (n + 1) // 2 END)::BIGINT AS p
  FROM ranked r, nn
)
SELECT pos.id, pos.grp, pos.raw_score, pos.src_rank, pooled.pv AS norm_score
FROM pos JOIN pooled ON pos.p = pooled.pp
"""


# ---------------------------------------------------------------------------
# Round 8 additions.
#
# zipf_fit — rank-frequency (Zipf) profile of the corpus vocabulary
# in log2-rank buckets: the standard "is this corpus natural text or
# template spam" diagnostic (natural text decays smoothly; boiler-
# plate puts a cliff in the curve). All integer: bucket =
# floor(log2 rank) via the bin-length idiom, decay as integer ppm.
#
# ivf_nprobe_sweep — the IVF recall/cost knob measured inside the
# engine: recall@10 vs exact brute force at nprobe = 1, 2, 4 from
# ONE shared candidate generation (probe once at the max nprobe,
# keep the centroid rank, re-rank per setting) — the sweep costs one
# index probe, not three.
#
# ppl_bucket_mixture — perplexity-quartile × language mixture table:
# bucket docs by corpus-LM score quartile (distributed rank, no
# global window) and report per-(quartile, lang) doc and char mass —
# the mixture diagnostic behind "is my perplexity gate secretly a
# language filter".
# ---------------------------------------------------------------------------


def zipf_fit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency profile. Scale: one vocab aggregation +
    distributed global_rank (range exchange, no one-partition sort);
    the final lag window runs over ≤ log2(vocab) ≈ 64 bucket rows —
    bounded, so the unpartitioned window is safe by construction."""
    from ..operators.rank import global_rank
    from pyspark.sql.window import Window as W

    docs = parallelize(table(spark, sf_dir, "documents")).select("text")
    vocab = (
        docs.select(F.explode(TS.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    ranked = global_rank(
        vocab.withColumn("_negc", -F.col("c")), ["_negc", "tok"], out_col="r"
    )
    buckets = ranked.groupBy(
        (F.length(F.bin(F.col("r"))) - 1).cast("bigint").alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum("c").cast("bigint").alias("bucket_tokens"),
    )
    w = W.orderBy("bucket")
    return (
        buckets.withColumn("prev_tokens", F.lag("bucket_tokens").over(w))
        .withColumn(
            "decay_ppm",
            F.expr(
                "CASE WHEN prev_tokens IS NOT NULL"
                " THEN (1000000 * bucket_tokens) div prev_tokens END"
            ),
        )
    )


ZIPF_FIT_SQL = f"""
WITH toks AS (SELECT unnest({_TOKS}) AS tok FROM documents),
vocab AS (SELECT tok, count(*)::BIGINT AS c FROM toks GROUP BY tok),
ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS r FROM vocab
),
b AS (
  SELECT (length(format('{{:b}}', r)) - 1)::BIGINT AS bucket,
         count(*)::BIGINT AS n_types,
         sum(c)::BIGINT AS bucket_tokens
  FROM ranked GROUP BY 1
)
SELECT bucket, n_types, bucket_tokens,
       lag(bucket_tokens) OVER (ORDER BY bucket) AS prev_tokens,
       CASE WHEN lag(bucket_tokens) OVER (ORDER BY bucket) IS NOT NULL
            THEN (1000000 * bucket_tokens) // lag(bucket_tokens) OVER (ORDER BY bucket)
       END AS decay_ppm
FROM b
"""


def ivf_nprobe_sweep_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF recall@10 at nprobe 1/2/4 against exact brute force.

    Shares ONE candidate generation across the sweep: probe the
    centroid table once at the maximum nprobe keeping each cell's
    rank (crank), score those candidates once, then each setting is
    a cheap filter + per-query window over the SAME scored relation
    — a sweep costs one index probe, not |settings| re-probes (the
    bench-tail lesson from the r7 self-eval composites).

    The centroid set is CAPPED (fixed nlist ≤ 128, the classic IVF
    index shape) so the assign stage is O(N·K) — linear in the
    corpus — instead of the O(N²/every) that K ∝ N stride sampling
    produces (measured 9.5x at a 10x probe before the cap; 128
    cells keep the sweep's recall curve meaningful at every SF)."""
    from ..operators.similarity import (
        as_double,
        cosine,
        ivf_assign,
        knn_bruteforce,
        sample_centroids,
    )
    from pyspark.sql.window import Window as W

    emb = parallelize(table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 5)
    truth = knn_bruteforce(emb, queries, k=10).select("query_id", "neighbor_id")

    centroids = sample_centroids(emb, 25, max_centroids=128)
    assigned = ivf_assign(emb, centroids)
    q = queries.select(
        F.col("vec_id").alias("query_id"), as_double(F.col("embedding")).alias("qv")
    )
    c = centroids.select("centroid_id", as_double(F.col("embedding")).alias("cv"))
    qprobe = (
        q.crossJoin(F.broadcast(c))
        .withColumn("cscore", cosine(F.col("qv"), F.col("cv")))
        .withColumn(
            "crank",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(
                    F.col("cscore").desc(), F.col("centroid_id")
                )
            ),
        )
        .filter(F.col("crank") <= 4)
        .select("query_id", "qv", "centroid_id", "crank")
    )
    scored = (
        qprobe.join(assigned, "centroid_id")
        .filter(F.col("query_id") != F.col("vec_id"))
        .withColumn("score", cosine(F.col("qv"), F.col("v")))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "score", "crank")
    )
    rows = None
    for n in (1, 2, 4):
        w = W.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("neighbor_id")
        )
        found = (
            scored.filter(F.col("crank") <= n)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 10)
            .select("query_id", "neighbor_id")
        )
        t = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
        f = found.agg(F.count(F.lit(1)).cast("bigint").alias("n_found"))
        h = truth.join(found, ["query_id", "neighbor_id"], "left_semi").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hit")
        )
        row = (
            t.crossJoin(f)
            .crossJoin(h)
            .select(
                F.lit(n).cast("bigint").alias("nprobe"),
                "n_truth",
                "n_found",
                "n_hit",
                F.try_divide(F.col("n_hit").cast("double"), F.col("n_truth")).alias("recall"),
            )
        )
        rows = row if rows is None else rows.unionByName(row)
    return rows


_IVF_COS = (
    "CASE WHEN sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})) > 0 "
    "THEN list_dot_product({a}, {b}) "
    "/ (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))) "
    "ELSE 0.0 END"
)

IVF_NPROBE_SWEEP_SQL = f"""
WITH bf AS MATERIALIZED ({{KNN_BRUTEFORCE_SQL}}),
truth AS MATERIALIZED (SELECT query_id, neighbor_id FROM bf),
v AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
c AS MATERIALIZED (SELECT vec_id AS centroid_id, e AS cv FROM v
                   WHERE vec_id % 25 = 0 AND vec_id < 25 * 128),
assigned AS MATERIALIZED (
  SELECT vec_id, e, centroid_id FROM (
    SELECT v.vec_id, v.e, c.centroid_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY {_IVF_COS.format(a="e", b="cv")} DESC, c.centroid_id) AS crank
    FROM v CROSS JOIN c)
  WHERE crank = 1
),
q AS (SELECT vec_id AS query_id, e AS qv FROM v WHERE vec_id < 5),
qprobe AS MATERIALIZED (
  SELECT query_id, qv, centroid_id, crank FROM (
    SELECT q.query_id, q.qv, c.centroid_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {_IVF_COS.format(a="qv", b="cv")} DESC, c.centroid_id) AS crank
    FROM q CROSS JOIN c)
  WHERE crank <= 4
),
scored AS MATERIALIZED (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {_IVF_COS.format(a="qv", b="a.e")} AS score, p.crank
  FROM qprobe p JOIN assigned a USING (centroid_id)
  WHERE p.query_id <> a.vec_id
),
rows AS (
  {{NPROBE_ROWS}}
)
SELECT nprobe::BIGINT AS nprobe, n_truth, n_found, n_hit,
       n_hit::DOUBLE / n_truth AS recall
FROM rows
"""


def _nprobe_row_sql(n: int) -> str:
    return f"""
  SELECT {n} AS nprobe,
         (SELECT count(*)::BIGINT FROM truth) AS n_truth,
         (SELECT count(*)::BIGINT FROM f{n}) AS n_found,
         (SELECT count(*)::BIGINT FROM truth t
          WHERE EXISTS (SELECT 1 FROM f{n} p
                        WHERE t.query_id = p.query_id
                          AND t.neighbor_id = p.neighbor_id)) AS n_hit"""


def _build_ivf_nprobe_sweep_sql() -> str:
    founds = ",\n".join(
        f"""f{n} AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, neighbor_id) AS rank
    FROM scored WHERE crank <= {n})
  WHERE rank <= 10
)"""
        for n in (1, 2, 4)
    )
    rows = "\n  UNION ALL\n".join(_nprobe_row_sql(n) for n in (1, 2, 4))
    sql = IVF_NPROBE_SWEEP_SQL.format(
        KNN_BRUTEFORCE_SQL=KNN_BRUTEFORCE_SQL, NPROBE_ROWS=rows
    )
    # the f{n} CTEs must be defined before `rows` references them
    return sql.replace("rows AS (", founds + ",\nrows AS (", 1)


IVF_NPROBE_SWEEP_SQL = _build_ivf_nprobe_sweep_sql()


def ppl_bucket_mixture_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-quartile × language mixture. The quartile is a
    DISTRIBUTED rank (global_rank range exchange) bucketed as
    ((r-1)·4) div n — no global ntile window, no single-task sort;
    the one-row count broadcasts."""
    from ..operators import lmscore as LM
    from ..operators.rank import global_rank

    docs = parallelize(table(spark, sf_dir, "documents"))
    scored = LM.ngram_lm_score(docs.select("doc_id", "text"), min_count=2).select(
        "doc_id", "score"
    )
    ranked = global_rank(scored, ["score", "doc_id"], out_col="r")
    n = ranked.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    return (
        ranked.crossJoin(F.broadcast(n))
        .withColumn("bucket", F.expr("((r - 1) * 4) div _n"))
        .join(docs.select("doc_id", "lang", "n_chars"), "doc_id")
        .groupBy("bucket", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


PPL_BUCKET_MIXTURE_SQL = f"""
WITH lm AS MATERIALIZED ({NGRAM_LM_SCORE_SQL}),
ranked AS (
  SELECT doc_id, row_number() OVER (ORDER BY score, doc_id) AS r,
         (SELECT count(*) FROM lm) AS n
  FROM lm
)
SELECT ((r - 1) * 4) // n AS bucket, d.lang,
       count(*)::BIGINT AS n_docs,
       sum(d.n_chars)::BIGINT AS total_chars
FROM ranked JOIN documents d USING (doc_id)
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Round 8 batch 4.
#
# quality_classifier — fastText-shaped linear quality model INFERENCE
# (the DCLM / FineWeb-Edu stage): hashed token-bigram features, the
# model as a broadcast (bucket, weight) relation, one per-doc sum.
# The weight table is md5-derived so the oracle rebuilds the whole
# inference bit-for-bit; a trained model swaps in as data.
#
# scene_cuts — video temporal analysis over the multimodal fake-
# decode chain: sample frames (metadata-first, decode-later), per-
# frame scalar signature, shot boundaries via one bounded per-video
# lag window. The decode is the documented deterministic fake; the
# plumbing (explode shape, window, rollup) is the production plan.
# ---------------------------------------------------------------------------


def quality_classifier_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import classify as CL

    docs = parallelize(table(spark, sf_dir, "documents")).select("doc_id", "text")
    return CL.hashed_linear_score(
        docs, CL.synthetic_weights(spark, 256), n_buckets=256, threshold_milli=0
    )


QUALITY_CLASSIFIER_SQL = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
bgs AS (
  SELECT doc_id, md5(t[i] || ' ' || t[i + 1]) AS bg
  FROM toks, unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS u(i)
),
w AS (
  SELECT i::BIGINT AS bucket,
         (('0x' || substr(md5('w:' || i::VARCHAR), 1, 15))::BIGINT % 2001 - 1000)::BIGINT AS w_milli
  FROM range(256) r(i)
),
f AS (SELECT doc_id, ('0x' || substr(bg, 1, 15))::BIGINT % 256 AS bucket FROM bgs),
per AS (
  SELECT doc_id, count(*)::BIGINT AS n_feats, sum(w_milli)::BIGINT AS score_milli
  FROM f JOIN w USING (bucket) GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(p.n_feats, 0)::BIGINT AS n_feats,
       coalesce(p.score_milli, 0)::BIGINT AS score_milli,
       coalesce(p.n_feats, 0) > 0 AND coalesce(p.score_milli, 0) > 0 AS keep
FROM documents d LEFT JOIN per p USING (doc_id)
"""


def scene_cuts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal as M

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    decoded = M.decode_video(M.attach_fake_payload(docs))
    frames = M.sample_frames(decoded, every_n=5)
    return M.scene_cuts(M.frame_signatures(frames), threshold=600)


# fake payload = 16-byte md5 digest -> n_frames = 16 % 64 + 8 = 24;
# every 5th frame -> sampled indices {0, 5, 10, 15, 20}
SCENE_CUTS_SQL = """
WITH f AS (
  SELECT doc_id, i,
         ('0x' || substr(md5('scene:' || doc_id::VARCHAR || ':' || i::VARCHAR), 1, 15))::BIGINT % 1000 AS sig
  FROM documents, (VALUES (0), (5), (10), (15), (20)) v(i)
), lagged AS (
  SELECT doc_id, i, sig,
         lag(sig) OVER (PARTITION BY doc_id ORDER BY i) AS prev
  FROM f
)
SELECT doc_id, count(*)::BIGINT AS n_sampled,
       sum(CASE WHEN prev IS NOT NULL AND abs(sig - prev) > 600 THEN 1 ELSE 0 END)::BIGINT AS n_cuts,
       min(CASE WHEN prev IS NOT NULL AND abs(sig - prev) > 600 THEN i END)::BIGINT AS first_cut
FROM lagged GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Round 8 batch 5.
#
# sensitive_homogeneity — the homogeneity-attack audit l-diversity
# misses: per QI class, the top sensitive value's share in basis
# points (round-half-up integer division) + the practical release
# gate (k AND l AND share cap). Two map-side-combinable shuffles.
#
# cheapest_supplier — TPC-H Q2's shape on this schema: per part, the
# ARGMIN-cost supplier (correlated min subquery decorrelated into a
# per-part window; unit cost as floor-div centi-cents, deterministic
# tie-break on suppkey).
#
# winrate_matrix — arena-style source-vs-source win rates from
# deterministic judge labels (the same n_chars + md5-coin judge the
# preference queries use): which SOURCE wins head-to-head matches,
# per unordered source pair, with the integer-bp rate.
# ---------------------------------------------------------------------------


def sensitive_homogeneity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.privacy import sensitive_homogeneity

    ev = table(spark, sf_dir, "events")
    qi = ev.select(
        "event_type",
        F.hour("ts").cast("bigint").alias("hour"),
        F.floor(F.col("value") / 10).cast("bigint").alias("value_bin"),
        "user_id",
    )
    return sensitive_homogeneity(
        qi, ["event_type", "hour", "value_bin"], "user_id", k=5, l_div=2,
        max_share_bp=8000,
    )


SENSITIVE_HOMOGENEITY_SQL = """
WITH qi AS (
  SELECT event_type, hour(ts)::BIGINT AS hour,
         floor(value / 10)::BIGINT AS value_bin, user_id
  FROM events
), pv AS (
  SELECT event_type, hour, value_bin, user_id, count(*)::BIGINT AS vn
  FROM qi GROUP BY 1, 2, 3, 4
), g AS (
  SELECT event_type, hour, value_bin,
         sum(vn)::BIGINT AS group_n,
         count(*)::BIGINT AS l_distinct,
         max(vn)::BIGINT AS top_n
  FROM pv GROUP BY 1, 2, 3
)
SELECT event_type, hour, value_bin, group_n, l_distinct, top_n,
       (2 * top_n * 10000 + group_n) // (2 * group_n) AS top_share_bp,
       group_n >= 5 AND l_distinct >= 2
         AND (2 * top_n * 10000 + group_n) // (2 * group_n) <= 8000 AS safe
FROM g
"""


def cheapest_supplier_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape: per-part argmin-cost supplier. The per-part window
    ranks over (min_unit_cc, suppkey) — supplier count per part is
    bounded, so no key ever owns more than a handful of rows."""
    from pyspark.sql.window import Window as W

    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.expr(
            "CAST(round(l_extendedprice * 100) AS BIGINT)"
            " div CAST(round(l_quantity) AS BIGINT)"
        ).alias("_unit_cc"),
    )
    per_ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min("_unit_cc").cast("bigint").alias("min_unit_cc")
    )
    w = W.partitionBy("l_partkey").orderBy("min_unit_cc", "l_suppkey")
    best = (
        per_ps.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        best.join(F.broadcast(sup), best.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .select("l_partkey", "s_suppkey", "s_name", "n_name", "min_unit_cc")
    )


CHEAPEST_SUPPLIER_SQL = """
WITH unit AS (
  SELECT l_partkey, l_suppkey,
         min(round(l_extendedprice * 100)::BIGINT // round(l_quantity)::BIGINT)::BIGINT AS min_unit_cc
  FROM lineitem GROUP BY 1, 2
), best AS (
  SELECT l_partkey, l_suppkey, min_unit_cc,
         row_number() OVER (PARTITION BY l_partkey
                            ORDER BY min_unit_cc, l_suppkey) AS rn
  FROM unit
)
SELECT l_partkey, s_suppkey, s_name, n_name, min_unit_cc
FROM best
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE rn = 1
"""


def winrate_matrix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import md5_int

    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    a, b = docs.alias("a"), docs.alias("b")
    pairs = a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1).filter(
        F.col("a.source") != F.col("b.source")
    )
    coin = (
        md5_int(
            F.concat(
                F.lit("wr:"),
                F.col("a.doc_id").cast("string"),
                F.lit(":"),
                F.col("b.doc_id").cast("string"),
            )
        )
        % 4
        == 0
    )
    a_wins = (
        (F.col("a.n_chars") > F.col("b.n_chars"))
        | ((F.col("a.n_chars") == F.col("b.n_chars")) & (F.col("a.doc_id") < F.col("b.doc_id")))
    ) != coin  # the coin flips 25% of length-judge verdicts
    judged = pairs.select(
        F.when(a_wins, F.col("a.source")).otherwise(F.col("b.source")).alias("win_src"),
        F.when(a_wins, F.col("b.source")).otherwise(F.col("a.source")).alias("lose_src"),
    )
    s1 = F.least("win_src", "lose_src")
    s2 = F.greatest("win_src", "lose_src")
    return (
        judged.select(
            s1.alias("source_a"),
            s2.alias("source_b"),
            (F.col("win_src") == s1).cast("bigint").alias("_a_won"),
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_matches"),
            F.sum("_a_won").cast("bigint").alias("wins_a"),
        )
        .withColumn(
            "win_bp_a",
            F.expr("(2 * wins_a * 10000 + n_matches) div (2 * n_matches)"),
        )
    )


WINRATE_MATRIX_SQL = """
WITH pairs AS (
  SELECT a.doc_id AS ai, a.source AS asrc, a.n_chars AS ac,
         b.doc_id AS bi, b.source AS bsrc, b.n_chars AS bc
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
  WHERE a.source <> b.source
), judged AS (
  SELECT CASE WHEN ((ac > bc) OR (ac = bc AND ai < bi))
                   <> (('0x' || substr(md5('wr:' || ai::VARCHAR || ':' || bi::VARCHAR), 1, 15))::BIGINT % 4 = 0)
              THEN asrc ELSE bsrc END AS win_src,
         CASE WHEN ((ac > bc) OR (ac = bc AND ai < bi))
                   <> (('0x' || substr(md5('wr:' || ai::VARCHAR || ':' || bi::VARCHAR), 1, 15))::BIGINT % 4 = 0)
              THEN bsrc ELSE asrc END AS lose_src
  FROM pairs
), m AS (
  SELECT least(win_src, lose_src) AS source_a,
         greatest(win_src, lose_src) AS source_b,
         (win_src = least(win_src, lose_src))::BIGINT AS a_won
  FROM judged
)
SELECT source_a, source_b,
       count(*)::BIGINT AS n_matches,
       sum(a_won)::BIGINT AS wins_a,
       (2 * sum(a_won)::BIGINT * 10000 + count(*)::BIGINT)
         // (2 * count(*)::BIGINT) AS win_bp_a
FROM m GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Round 8 batch 6: memorization-canary audit. Unique canary strings
# are planted into a known slice of the corpus (the Carlini secret-
# sharer methodology: if a canary's count in the TRAINING corpus is
# higher than you planted, ingestion is duplicating data; if a model
# later emits one, you have measured memorization). The scan is the
# operator: a tiny canary relation broadcast against the corpus scan,
# occurrences by the engine-exact greedy replace count — no regex,
# no UDF, one narrow pass.
# ---------------------------------------------------------------------------

_CANARIES = [
    (0, "canary-7f3a9d01-secret"),
    (1, "canary-b52e1c44-secret"),
    (2, "canary-09ddfa77-secret"),
    (3, "canary-e6104b2f-secret"),
    (4, "canary-38c7aa90-secret"),
]


def canary_scan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = parallelize(table(spark, sf_dir, "documents")).select("doc_id", "text")
    # plant: every 97th doc carries canary (doc_id % 5); one doc
    # (doc_id % 485 == 0) carries it TWICE — the duplication signal
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 97 == 0,
            F.concat(
                F.col("text"),
                F.lit(" "),
                F.element_at(
                    F.array(*[F.lit(c) for _, c in _CANARIES]),
                    (F.col("doc_id") % 5 + 1).cast("int"),
                ),
                F.when(
                    F.col("doc_id") % 485 == 0,
                    F.concat(
                        F.lit(" "),
                        F.element_at(
                            F.array(*[F.lit(c) for _, c in _CANARIES]),
                            (F.col("doc_id") % 5 + 1).cast("int"),
                        ),
                    ),
                ).otherwise(F.lit("")),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    canaries = spark.createDataFrame(_CANARIES, "canary_id bigint, canary string")
    hits = (
        planted.crossJoin(F.broadcast(canaries))
        .select(
            "canary_id",
            (
                (
                    F.length("text")
                    - F.length(F.replace(F.col("text"), F.col("canary"), F.lit("")))
                )
                / F.length("canary")
            )
            .cast("bigint")
            .alias("occ"),
        )
        .filter(F.col("occ") > 0)
    )
    return (
        canaries.join(
            hits.groupBy("canary_id").agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("occ").cast("bigint").alias("n_occurrences"),
            ),
            "canary_id",
            "left",
        )
        .select(
            "canary_id",
            "canary",
            F.coalesce("n_docs", F.lit(0)).cast("bigint").alias("n_docs"),
            F.coalesce("n_occurrences", F.lit(0)).cast("bigint").alias("n_occurrences"),
        )
    )


_CANARY_ROWS = " UNION ALL ".join(
    f"SELECT {i}::BIGINT AS canary_id, '{c}' AS canary" for i, c in _CANARIES
)

CANARY_SCAN_SQL = f"""
WITH canaries AS ({_CANARY_ROWS}),
planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 97 = 0 THEN
           text || ' ' || 'canary-' ||
             (CASE doc_id % 5 WHEN 0 THEN '7f3a9d01' WHEN 1 THEN 'b52e1c44'
                              WHEN 2 THEN '09ddfa77' WHEN 3 THEN 'e6104b2f'
                              ELSE '38c7aa90' END) || '-secret' ||
           CASE WHEN doc_id % 485 = 0 THEN
             ' ' || 'canary-' ||
               (CASE doc_id % 5 WHEN 0 THEN '7f3a9d01' WHEN 1 THEN 'b52e1c44'
                                WHEN 2 THEN '09ddfa77' WHEN 3 THEN 'e6104b2f'
                                ELSE '38c7aa90' END) || '-secret'
           ELSE '' END
         ELSE text END AS text
  FROM documents
), hits AS (
  SELECT c.canary_id,
         (length(p.text) - length(replace(p.text, c.canary, ''))) // length(c.canary) AS occ
  FROM planted p CROSS JOIN canaries c
), agg AS (
  SELECT canary_id,
         count(*) FILTER (WHERE occ > 0)::BIGINT AS n_docs,
         sum(occ) FILTER (WHERE occ > 0)::BIGINT AS n_occurrences
  FROM hits GROUP BY canary_id
)
SELECT c.canary_id, c.canary,
       coalesce(a.n_docs, 0)::BIGINT AS n_docs,
       coalesce(a.n_occurrences, 0)::BIGINT AS n_occurrences
FROM canaries c LEFT JOIN agg a USING (canary_id)
"""


# ---------------------------------------------------------------------------
# Round 8 batch 8.
#
# record_linkage — the full Fellegi-Sunter pipeline over a dirty
# customer feed: deletion-neighborhood blocking (the proven
# fuzzy-join candidate generator), per-field integer agreement
# weights (name exact/near, balance within 2 cents, nation equal),
# summed match weight, three-way match/possible/non_match decision.
# The synthesized feed exercises all three verdicts: clean-typo rows
# land 'match', nation-flipped rows land 'possible', and accidental
# same-variant collisions with the WRONG master row land 'non_match'.
#
# pca_power — dominant embedding direction by UNNORMALIZED power
# iteration on globally-quantized integer codes: two unrolled
# iterations of y ← Σᵢ cᵢ (cᵢ·y), overflow-controlled by a
# power-of-two right shift between iterations instead of a float
# norm — every number is an exact bigint, so the direction (and the
# driver hash) is partition-order-proof. The corpus is touched once
# per iteration (one dot-product projection + one dim-keyed sum).
# ---------------------------------------------------------------------------


def record_linkage_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.fuzzyjoin import fuzzy_key_join
    from ..operators.linkage import fs_score

    cust = table(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    pos = (ck % 10) + 5
    dirty = cust.filter(ck % 7 == 0).select(
        (ck + 500000).alias("d_key"),
        F.concat(
            F.substring(F.col("c_name"), F.lit(1), pos - 1),
            F.substring(F.col("c_name"), pos + 1, F.lit(64)),
        ).alias("d_name"),
        (F.round(F.col("c_acctbal") * 100).cast("bigint") + (ck % 5 - 2)).alias(
            "d_bal_c"
        ),
        F.when(ck % 21 == 0, (F.col("c_nationkey") + 1) % 25)
        .otherwise(F.col("c_nationkey"))
        .cast("int")
        .alias("d_nation"),
    )
    master = cust.select(
        "c_custkey",
        "c_name",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("m_bal_c"),
        F.col("c_nationkey").alias("m_nation"),
    )
    # Dedup on the ROW identifiers, not the join keys: two dirty rows
    # can share a d_name at large SF (e.g. custkey 49 and 70049 both
    # delete to 'Customer#00000049'), and the default
    # (d_name, c_name) dedup would collapse them to one arbitrary
    # carrier row — nondeterministic and diverging from the oracle's
    # DISTINCT, which keeps both d_keys.
    cand = fuzzy_key_join(
        dirty, master, "d_name", "c_name", dedup_keys=["d_key", "c_custkey"],
        # (d_key, c_custkey) are true row identifiers and every other
        # column is a deterministic function of them, so the full-row
        # distinct is result-identical and swaps the candidate dedup's
        # first()-buffered SortAggregate for a HashAggregate (r15 —
        # the last fixable SortAggregate carrier after span_unit_repeats)
        keys_identify_rows=True,
    )
    scored = fs_score(
        cand,
        {
            "name_w": F.when(F.col("edit_distance") == 0, F.lit(45)).otherwise(
                F.lit(20)
            ),
            "bal_w": F.when(
                F.abs(F.col("d_bal_c") - F.col("m_bal_c")) <= 2, F.lit(30)
            ).otherwise(F.lit(-25)),
            "nation_w": F.when(
                F.col("d_nation") == F.col("m_nation"), F.lit(15)
            ).otherwise(F.lit(-20)),
        },
    )
    return scored.select(
        "d_key", "c_custkey", "edit_distance",
        "name_w", "bal_w", "nation_w", "total_weight", "verdict",
    )


RECORD_LINKAGE_SQL = """
WITH dirty AS (
  SELECT c_custkey + 500000 AS d_key,
         substr(c_name, 1, (c_custkey % 10) + 4)
           || substr(c_name, (c_custkey % 10) + 6) AS d_name,
         round(c_acctbal * 100)::BIGINT + (c_custkey % 5 - 2) AS d_bal_c,
         CASE WHEN c_custkey % 21 = 0 THEN (c_nationkey + 1) % 25
              ELSE c_nationkey END AS d_nation
  FROM customer WHERE c_custkey % 7 = 0
), master AS (
  SELECT c_custkey, c_name,
         round(c_acctbal * 100)::BIGINT AS m_bal_c,
         c_nationkey AS m_nation
  FROM customer
), lv AS (
  SELECT d_key, d_name, d_bal_c, d_nation,
         unnest(list_distinct(list_prepend(d_name,
           list_transform(range(1, length(d_name) + 1),
             i -> substr(d_name, 1, i - 1) || substr(d_name, i + 1))))) AS v
  FROM dirty
), rv AS (
  SELECT c_custkey, c_name, m_bal_c, m_nation,
         unnest(list_distinct(list_prepend(c_name,
           list_transform(range(1, length(c_name) + 1),
             i -> substr(c_name, 1, i - 1) || substr(c_name, i + 1))))) AS v
  FROM lv_src
), cand AS (
  SELECT DISTINCT l.d_key, l.d_name, l.d_bal_c, l.d_nation,
                  r.c_custkey, r.c_name, r.m_bal_c, r.m_nation
  FROM lv l JOIN rv r ON l.v = r.v
  WHERE levenshtein(l.d_name, r.c_name) <= 1
), scored AS (
  SELECT d_key, c_custkey,
         levenshtein(d_name, c_name)::BIGINT AS edit_distance,
         (CASE WHEN levenshtein(d_name, c_name) = 0 THEN 45 ELSE 20 END)::BIGINT AS name_w,
         (CASE WHEN abs(d_bal_c - m_bal_c) <= 2 THEN 30 ELSE -25 END)::BIGINT AS bal_w,
         (CASE WHEN d_nation = m_nation THEN 15 ELSE -20 END)::BIGINT AS nation_w
  FROM cand
)
SELECT d_key, c_custkey, edit_distance, name_w, bal_w, nation_w,
       (name_w + bal_w + nation_w)::BIGINT AS total_weight,
       CASE WHEN name_w + bal_w + nation_w >= 60 THEN 'match'
            WHEN name_w + bal_w + nation_w >= 20 THEN 'possible'
            ELSE 'non_match' END AS verdict
FROM scored
"""
RECORD_LINKAGE_SQL = RECORD_LINKAGE_SQL.replace("FROM lv_src", "FROM master")


def pca_power_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant embedding direction (top principal component, up to
    scale) by two unrolled UNNORMALIZED power iterations over
    globally-quantized integer codes: y ← Σᵢ cᵢ (cᵢ·y), starting
    from the all-ones vector. Instead of a float norm between
    iterations (which would be partition-order-sensitive), overflow
    is controlled by an ARITHMETIC RIGHT SHIFT (shiftright 16 ==
    floor-division by 2^16). NB: DuckDB 1.0's integer `//`
    TRUNCATES toward zero on negatives, so the oracle spells the
    signed floor explicitly via the non-negative magnitude (a
    negative iterate component first appears at sf0.001 — the
    larger SFs never exercised the signed branch). Every
    intermediate is an exact bigint and the result hash-verifies.

    Scale: each iteration touches the corpus once — a scan-side dot
    product + one dim-keyed sum (8 groups); the iterate itself is a
    one-row broadcast. O(iters·N·d), no quadratic term."""
    from ..operators.similarity import quantize_embeddings_global

    emb = parallelize(table(spark, sf_dir, "embeddings"))
    codes = quantize_embeddings_global(emb).select("vec_id", "q_codes")
    d0 = codes.withColumn(
        "_dd",
        F.expr(
            "aggregate(q_codes, CAST(0 AS BIGINT), (a, x) -> a + CAST(x AS BIGINT))"
        ),
    )
    y1 = (
        d0.select(F.posexplode("q_codes").alias("dim", "c"), "_dd")
        .groupBy((F.col("dim") + 1).cast("bigint").alias("dim"))
        .agg(F.sum(F.col("c").cast("bigint") * F.col("_dd")).cast("bigint").alias("y1v"))
    )
    y1arr = y1.groupBy().agg(
        F.expr(
            "transform(array_sort(collect_list(struct(dim, y1v))),"
            " s -> shiftright(s.y1v, 16))"
        ).alias("_y1s")
    )
    d1 = codes.crossJoin(F.broadcast(y1arr)).withColumn(
        "_dd1",
        F.expr(
            "aggregate(zip_with(q_codes, _y1s, (c, y) -> CAST(c AS BIGINT) * y),"
            " CAST(0 AS BIGINT), (a, x) -> a + x)"
        ),
    )
    y2 = (
        d1.select(F.posexplode("q_codes").alias("dim", "c"), "_dd1")
        .groupBy((F.col("dim") + 1).cast("bigint").alias("dim"))
        .agg(
            F.sum(F.col("c").cast("bigint") * F.col("_dd1")).cast("bigint").alias("y2v")
        )
    )
    return y1.join(y2, "dim").select("dim", "y1v", "y2v").orderBy("dim")


PCA_POWER_SQL = """
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
gmax AS (SELECT max(list_max(list_transform(e, x -> abs(x)))) AS g FROM base),
v AS (
  SELECT vec_id,
         list_transform(e, x -> floor(x / (CASE WHEN g > 0 THEN g / 127.0 ELSE 1.0 END) + 0.5)::INTEGER) AS codes
  FROM base, gmax
), d0 AS (
  SELECT vec_id, codes, list_sum(codes)::BIGINT AS dd FROM v
), y1 AS (
  SELECT i::BIGINT AS dim, sum(codes[i]::BIGINT * dd)::BIGINT AS y1v
  FROM (SELECT codes, dd, unnest(codes) AS _c, generate_subscripts(codes, 1) AS i FROM d0)
  GROUP BY 1
), y1s AS (
  -- FLOOR division on the SIGNED domain: DuckDB 1.0's integer `//`
  -- TRUNCATES toward zero for negative operands (-7 // 2 = -3),
  -- while Spark's shiftright(y1v, 16) floors (-7 >> 1 = -4 class).
  -- Identical only for y1v >= 0 — which held at sf0.01/sf0.1 and
  -- masked this until the sf0.001 corpus produced a negative
  -- component sum (dim 60). Spell floor explicitly via the
  -- non-negative magnitude.
  SELECT dim,
         CASE WHEN y1v >= 0 THEN y1v // 65536
              ELSE -((-y1v + 65535) // 65536) END AS ys
  FROM y1
), d1 AS (
  SELECT vec_id, codes,
         (SELECT sum(codes[y.dim]::BIGINT * y.ys)::BIGINT FROM y1s y) AS dd1
  FROM v
), y2 AS (
  SELECT i::BIGINT AS dim, sum(codes[i]::BIGINT * dd1)::BIGINT AS y2v
  FROM (SELECT codes, dd1, unnest(codes) AS _c, generate_subscripts(codes, 1) AS i FROM d1)
  GROUP BY 1
)
SELECT y1.dim, y1.y1v, y2.y2v FROM y1 JOIN y2 USING (dim) ORDER BY dim
"""


# ---------------------------------------------------------------------------
# Round 8 batch 9: SimHash Hamming-radius pair join (Manku et al.,
# WWW'07) — the web-crawl near-dup method the simhash_docs signature
# query was missing its JOIN half for. Block pigeonhole (4 x 15-bit
# blocks for radius 3) makes candidates an equi-join; exact
# popcount(xor) verifies. The oracle replays signature, blocking,
# and verification; the corpus is built with _docs_with_neardups, so
# the planted ground truth is the %4 'zz end marker' mutations,
# which land at small nonzero Hamming distances (plus whatever
# template-induced collisions the corpus naturally contains).
# ---------------------------------------------------------------------------


def simhash_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered on a 1-in-3 corpus slice: this synthetic corpus is
    template-generated, so the Hamming<=3 neighborhood is genuinely
    DENSE (pair count grows ~quadratically with cluster density —
    an output property, not a plan property; the operator stays
    candidate-linear). The slice keeps the driver/bench output
    bounded, same precedent as prefix_jaccard / ngram_jaccard."""
    docs = _docs_with_neardups(
        parallelize(table(spark, sf_dir, "documents")).filter(
            F.col("doc_id") % 3 == 0
        )
    )
    return D.simhash_hamming_pairs(docs, max_hamming=3)


SIMHASH_PAIRS_SQL = f"""
WITH corpus AS (
  SELECT doc_id AS id, text FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + 10000, text || ' zz end marker' FROM documents WHERE doc_id % 4 = 0 AND doc_id % 3 = 0
), tokd AS (
  SELECT id, {_TOKS.replace("text", "corpus.text")} AS toks FROM corpus
), elig AS (
  SELECT id, toks FROM tokd WHERE len(toks) >= 3
), tok AS (
  SELECT id, unnest(list_distinct(toks)) AS tok FROM elig
), h AS (
  SELECT id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok
), bits AS (
  SELECT id, u.bit,
         CASE WHEN (h >> u.bit) & 1 = 1 THEN 1 ELSE -1 END AS vote
  FROM h, (SELECT unnest(range({D.SIMHASH_BITS})) AS bit) u
), votes AS (
  SELECT id, bit, sum(vote) AS v FROM bits GROUP BY id, bit
), sig AS (
  SELECT id,
         sum(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS sh
  FROM votes GROUP BY id
), blocks AS (
  SELECT id, sh, b.b, (sh >> (b.b * 15)) & 32767 AS bval
  FROM sig, (SELECT unnest(range(4)) AS b) b
), cand AS (
  SELECT DISTINCT a.id AS id_a, bb.id AS id_b, a.sh AS ha, bb.sh AS hb
  FROM blocks a JOIN blocks bb ON a.b = bb.b AND a.bval = bb.bval
  WHERE a.id < bb.id
)
SELECT id_a, id_b, bit_count(xor(ha, hb))::BIGINT AS hamming
FROM cand
WHERE bit_count(xor(ha, hb)) <= 3
"""


# ---------------------------------------------------------------------------
# Round 8 batch 10: LSH band-geometry sweep — the tuning workflow
# behind every MinHash deployment: with NUM_HASHES=16 fixed, compare
# (bands, rows_per_band) ∈ {(8,2), (4,4), (2,8)} on candidate count,
# verified-true count (exact Jaccard >= 0.5), integer-bp precision,
# and recall against the planted near-dup truth. ONE shared
# signature computation; each setting re-slices the SAME signature
# array into band keys (the nprobe-sweep lesson: a sweep costs one
# front end, not |settings|).
# ---------------------------------------------------------------------------

_BAND_CONFIGS = [(8, 2), (4, 4), (2, 8)]


def minhash_band_sweep_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_with_neardups(parallelize(table(spark, sf_dir, "documents")))
    sh, sigs, _ = D.minhash_base_and_bands(docs)
    truth = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 4 == 0)
        .select(
            F.col("doc_id").alias("id_a"),
            (F.col("doc_id") + 10000).alias("id_b"),
        )
    )
    rows = None
    for bands, rpb in _BAND_CONFIGS:
        banded = sigs.select(
            "id", F.explode(D.band_hashes(F.col("sig"), bands, rpb)).alias("bh")
        ).select("id", F.col("bh.band").alias("band"), F.col("bh.bucket").alias("bucket"))
        left, right = banded.alias("l"), banded.alias("r")
        cand = (
            left.join(
                right,
                (F.col("l.band") == F.col("r.band"))
                & (F.col("l.bucket") == F.col("r.bucket"))
                & (F.col("l.id") < F.col("r.id")),
            )
            .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
        # ONE pass per config (r9, same restructure as
        # ann_method_recall): the candidate self-join used to
        # re-execute 3x per config (count + verify + truth semi).
        # Both truth and cand are duplicate-free pair sets (guarded
        # by tests/test_pair_uniqueness.py), so the
        # truth hit count equals the count of candidate pairs that
        # ARE truth pairs — a left-join indicator — and the verify
        # flag rides the same relation.
        flagged = (
            cand.join(
                sh.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a")),
                "id_a",
            )
            .join(
                sh.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b")),
                "id_b",
            )
            .withColumn("_true", D.jaccard(F.col("sh_a"), F.col("sh_b")) >= 0.5)
            .join(truth.withColumn("_t", F.lit(1)), ["id_a", "id_b"], "left")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_cand"),
                F.sum(F.when(F.col("_true"), 1).otherwise(0))
                .cast("bigint")
                .alias("n_true"),
                F.count("_t").cast("bigint").alias("n_hit"),
            )
        )
        nt = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
        row = (
            flagged.crossJoin(nt)
            .select(
                F.lit(bands).cast("bigint").alias("bands"),
                F.lit(rpb).cast("bigint").alias("rows_per_band"),
                "n_cand",
                "n_true",
                F.expr(
                    "CASE WHEN n_cand > 0"
                    " THEN (2 * n_true * 10000 + n_cand) div (2 * n_cand) END"
                ).alias("precision_bp"),
                "n_truth",
                "n_hit",
                F.expr(
                    "CASE WHEN n_truth > 0"
                    " THEN (2 * n_hit * 10000 + n_truth) div (2 * n_truth) END"
                ).alias("recall_bp"),
            )
        )
        rows = row if rows is None else rows.unionByName(row)
    return rows


def _band_sweep_sql() -> str:
    jac = (
        "CASE WHEN len(list_distinct(a.shingles || b.shingles)) > 0 "
        "THEN len(list_intersect(a.shingles, b.shingles))::DOUBLE "
        "/ len(list_distinct(a.shingles || b.shingles)) ELSE 0.0 END"
    )
    cfg_ctes, cfg_rows = [], []
    for bands, rpb in _BAND_CONFIGS:
        tag = f"{bands}x{rpb}"
        cfg_ctes.append(f"""bands_{tag} AS (
  SELECT id, u.b AS band,
         md5(array_to_string(list_transform(sig[u.b*{rpb}+1 : u.b*{rpb}+{rpb}],
             v -> v::VARCHAR), ',')) AS bucket
  FROM sig, (SELECT unnest(range(0, {bands})) AS b) u
), cand_{tag} AS MATERIALIZED (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b
  FROM bands_{tag} l JOIN bands_{tag} r
    ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id
), ver_{tag} AS (
  SELECT count(*)::BIGINT AS n FROM cand_{tag} c
  JOIN sh a ON a.id = c.id_a JOIN sh b ON b.id = c.id_b
  WHERE {jac} >= 0.5
)""")
        cfg_rows.append(f"""  SELECT {bands}::BIGINT AS bands, {rpb}::BIGINT AS rows_per_band,
         (SELECT count(*)::BIGINT FROM cand_{tag}) AS n_cand,
         (SELECT n FROM ver_{tag}) AS n_true,
         (SELECT count(*)::BIGINT FROM truth) AS n_truth,
         (SELECT count(*)::BIGINT FROM truth t
          WHERE EXISTS (SELECT 1 FROM cand_{tag} c
                        WHERE c.id_a = t.id_a AND c.id_b = t.id_b)) AS n_hit""")
    ctes = ",\n".join(cfg_ctes)
    rows = "\n  UNION ALL\n".join(cfg_rows)
    return f"""
WITH corpus AS (
  SELECT doc_id AS id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000, text || ' zz end marker' FROM documents WHERE doc_id % 4 = 0
), tok AS (
  SELECT id, {_TOKS} AS toks FROM corpus
), sh AS MATERIALIZED (
  SELECT id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                       i -> array_to_string(toks[i:i+2], ' '))) AS shingles
  FROM tok
), sig AS MATERIALIZED (
  SELECT id, shingles,
         list_transform(range(0, {D.NUM_HASHES}),
           i -> list_aggregate(list_transform(shingles,
                  s -> ('0x' || substr(md5(i::VARCHAR || ':' || s), 1, 15))::BIGINT), 'min')) AS sig
  FROM sh WHERE len(shingles) > 0
),
truth AS (SELECT doc_id AS id_a, doc_id + 10000 AS id_b FROM documents WHERE doc_id % 4 = 0),
{ctes},
rows AS (
{rows}
)
SELECT bands, rows_per_band, n_cand, n_true,
       CASE WHEN n_cand > 0
            THEN (2 * n_true * 10000 + n_cand) // (2 * n_cand) END AS precision_bp,
       n_truth, n_hit,
       CASE WHEN n_truth > 0
            THEN (2 * n_hit * 10000 + n_truth) // (2 * n_truth) END AS recall_bp
FROM rows
"""


MINHASH_BAND_SWEEP_SQL = _band_sweep_sql()


# ---------------------------------------------------------------------------
# Round 9 batch 2: t-closeness (Li et al., ICDE 2007) — completes
# the privacy-release ladder k_anonymity → sensitive_homogeneity →
# t_closeness: a QI class passes only if its ordered-sensitive
# distribution stays within EMD t of the global one. Exact-integer
# cumulative-difference EMD (see operators/privacy.py); the oracle
# replays the m² bucket cumsum, the class-cumulative range join and
# the basis-point quotient bit-for-bit.
# ---------------------------------------------------------------------------


def t_closeness_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.privacy import t_closeness

    cust = table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.expr(
            "(CAST(round(c_acctbal * 100) AS BIGINT) + 100000) div 150000"
        ).alias("bal_bucket"),
    )
    return t_closeness(
        cust, ["c_nationkey", "c_mktsegment"], "bal_bucket", t_bp_max=2000
    )


T_CLOSENESS_SQL = """
WITH base AS (
  SELECT c_nationkey, c_mktsegment,
         (round(c_acctbal * 100)::BIGINT + 100000) // 150000 AS bal_bucket
  FROM customer
), pv AS (
  SELECT c_nationkey, c_mktsegment, bal_bucket, count(*)::BIGINT AS nb
  FROM base GROUP BY 1, 2, 3
), gb AS (
  SELECT bal_bucket, count(*)::BIGINT AS g_nb FROM base GROUP BY 1
), ga AS (
  SELECT sum(g_nb)::BIGINT AS n_total, count(*)::BIGINT AS m FROM gb
), cumg AS (
  SELECT g.bal_bucket, sum(l.g_nb)::BIGINT AS cnb
  FROM gb g JOIN gb l ON l.bal_bucket <= g.bal_bucket GROUP BY 1
), groups AS (
  SELECT c_nationkey, c_mktsegment, sum(nb)::BIGINT AS group_n
  FROM pv GROUP BY 1, 2
), grid AS (
  SELECT gr.c_nationkey, gr.c_mktsegment, gr.group_n,
         c.bal_bucket, c.cnb, a.n_total, a.m
  FROM groups gr CROSS JOIN cumg c CROSS JOIN ga a
), cum AS (
  SELECT g.c_nationkey, g.c_mktsegment, g.bal_bucket, g.group_n,
         g.cnb, g.n_total, g.m,
         coalesce(sum(p.nb), 0)::BIGINT AS cgb
  FROM grid g LEFT JOIN pv p
    ON p.c_nationkey = g.c_nationkey AND p.c_mktsegment = g.c_mktsegment
   AND p.bal_bucket <= g.bal_bucket
  GROUP BY 1, 2, 3, 4, 5, 6, 7
), agg AS (
  SELECT c_nationkey, c_mktsegment, group_n, m AS m_buckets, n_total,
         sum(abs(n_total * cgb - group_n * cnb))::BIGINT AS emd_scaled
  FROM cum GROUP BY 1, 2, 3, 4, 5
)
SELECT c_nationkey, c_mktsegment, group_n, m_buckets, emd_scaled,
       CASE WHEN m_buckets > 1 THEN
         (2 * emd_scaled * 10000 + group_n * n_total * (m_buckets - 1))
           // (2 * group_n * n_total * (m_buckets - 1))
       ELSE 0 END AS t_bp,
       (CASE WHEN m_buckets > 1 THEN
         (2 * emd_scaled * 10000 + group_n * n_total * (m_buckets - 1))
           // (2 * group_n * n_total * (m_buckets - 1))
       ELSE 0 END) <= 2000 AS is_t_close
FROM agg
"""
