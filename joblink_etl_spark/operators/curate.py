"""End-to-end corpus curation: the composed pipeline a training-data
run actually executes, built from the layer's individual operators —
language ID + quality gate (`textstats`), exact-dedup
canonicalization (`dedup`), benchmark decontamination (`decontam`),
and token accounting.

One call = one logical plan, so Catalyst fuses the whole thing: the
stats/filters are a single narrow scan pass, dedup is one shuffle on
the fingerprint, and decontamination joins the survivors (not the raw
corpus) against the broadcast benchmark gram set. Filter order is
cost-ordered — cheap scan-side predicates (lang, quality) run before
the shuffle, so the fingerprint exchange and the gram explode only
see documents that already passed.

At 100 TB: stages stay independently scalable (narrow pass → one
keyed shuffle → broadcast semi-join); nothing collects to the driver
and no stage holds more state than the benchmark gram set
(broadcast, bounded by the benchmark's size, not the corpus's).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .decontam import ngram_overlap
from .textstats import add_text_stats


def curate(
    docs: DataFrame,
    benchmark: DataFrame,
    langs: tuple[str, ...] = ("en", "es"),
    min_quality: float = 0.5,
    decontam_n: int = 3,
) -> DataFrame:
    """Curated corpus: documents in `langs` with quality ≥
    `min_quality`, exact-duplicate groups collapsed to their minimum
    doc_id, and any document sharing a word n-gram with `benchmark`
    dropped. Output: (doc_id, lang_guess, n_tokens, quality)."""
    stats = add_text_stats(docs).select(
        "doc_id", "text", "lang_guess", "n_tokens", "quality", "fingerprint"
    )
    kept = stats.filter(
        F.col("lang_guess").isin(*langs) & (F.col("quality") >= F.lit(min_quality))
    )
    w = Window.partitionBy("fingerprint")
    canon = kept.withColumn("canonical_id", F.min("doc_id").over(w)).filter(
        F.col("doc_id") == F.col("canonical_id")
    )
    # canon has exactly ONE consumer: the decontam stage carries the
    # stats columns through its aggregation as group keys, so there
    # is no join-back and no second pass over the corpus. (The
    # earlier two-consumer spelling needed a pin — persist paid a
    # columnar-encode tax on text, localCheckpoint ran jobs at
    # construction, and ReuseExchange can't kick in because column
    # pruning gives each consumer a different subtree.)
    return (
        ngram_overlap(
            canon,
            benchmark,
            n=decontam_n,
            carry=("lang_guess", "n_tokens", "quality"),
        )
        .filter(~F.col("contaminated"))
        .select("doc_id", "lang_guess", "n_tokens", "quality")
    )


def pick_canonical_by_source(
    docs,
    pairs,
    priority,
    id_col: str = "doc_id",
    source_col: str = "source",
):
    """Cross-source dedup POLICY: resolve near-dup clusters, then keep
    ONE representative per cluster chosen by source priority (curated
    > crawl > synthetic …), not by arbitrary id — the decision rule
    real multi-source corpora use when the same document arrives from
    several feeds. Ties inside a priority tier break on smallest id.

    `priority`: dict source -> rank (lower wins); unlisted sources
    rank after all listed ones. Scale: connected components run over
    the candidate-pair graph only; the pick is one window per cluster
    over cluster members (clusters ≪ corpus).

    Returns (id, cluster_id, source, keep)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from .dedup import resolve_duplicates

    comp = resolve_duplicates(pairs).select(id_col, "cluster_id")
    labeled = docs.select(id_col, source_col).join(comp, id_col, "left").select(
        id_col,
        F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
        source_col,
    )
    # fallback rank must be strictly AFTER every listed rank: with a
    # 1-based dict, len(priority) would TIE the last listed tier and
    # let an unlisted source win on smaller id (ADVICE r05)
    fallback = max(priority.values()) + 1 if priority else 0
    rank_expr = F.lit(fallback)
    for src, r in sorted(priority.items()):
        rank_expr = F.when(F.col(source_col) == src, F.lit(r)).otherwise(rank_expr)
    w = Window.partitionBy("cluster_id").orderBy("_prio", F.col(id_col))
    return (
        labeled.withColumn("_prio", rank_expr)
        .withColumn("_rn", F.row_number().over(w))
        .select(
            id_col,
            "cluster_id",
            source_col,
            (F.col("_rn") == 1).alias("keep"),
        )
    )


def curation_funnel(
    docs,
    benchmark,
    langs: tuple[str, ...] = ("en", "es"),
    min_quality: float = 0.5,
):
    """Per-gate selectivity report for the curation pipeline: how many
    documents enter and survive each stage (lang+quality gate → exact
    -dedup collapse → benchmark decontam). This is the observability
    a cost-ordered gate chain is tuned with — cheap selective gates
    must run before expensive ones, and this report is the evidence.

    One logical plan: stage populations are the same subtrees
    curate() builds; the counts are four one-row aggregates crossed
    into a 3-row (stage, rows_in, rows_out, selectivity) report.
    Integer counts; one division per row (NULL on an empty stage)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from .decontam import ngram_overlap
    from .textstats import add_text_stats

    stats = add_text_stats(docs).select(
        "doc_id", "text", "lang_guess", "quality", "fingerprint"
    )
    kept = stats.filter(
        F.col("lang_guess").isin(*langs) & (F.col("quality") >= F.lit(min_quality))
    )
    w = Window.partitionBy("fingerprint")
    canon = kept.withColumn("_cid", F.min("doc_id").over(w)).filter(
        F.col("doc_id") == F.col("_cid")
    )
    final = ngram_overlap(canon.select("doc_id", "text"), benchmark).filter(
        ~F.col("contaminated")
    )
    c0 = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n0"))
    c1 = kept.agg(F.count(F.lit(1)).cast("bigint").alias("n1"))
    c2 = canon.agg(F.count(F.lit(1)).cast("bigint").alias("n2"))
    c3 = final.agg(F.count(F.lit(1)).cast("bigint").alias("n3"))
    wide = c0.crossJoin(c1).crossJoin(c2).crossJoin(c3)
    stages = F.array(
        F.struct(F.lit("a_lang_quality").alias("stage"), F.col("n0").alias("rows_in"), F.col("n1").alias("rows_out")),
        F.struct(F.lit("b_exact_dedup").alias("stage"), F.col("n1").alias("rows_in"), F.col("n2").alias("rows_out")),
        F.struct(F.lit("c_decontam").alias("stage"), F.col("n2").alias("rows_in"), F.col("n3").alias("rows_out")),
    )
    return (
        wide.select(F.explode(stages).alias("s"))
        .select(
            F.col("s.stage").alias("stage"),
            F.col("s.rows_in").alias("rows_in"),
            F.col("s.rows_out").alias("rows_out"),
            F.round(
                F.try_divide(F.col("s.rows_out").cast("double"), F.col("s.rows_in")), 6
            ).alias("selectivity"),
        )
    )


def top_frequency_blocklist(
    docs: DataFrame, text_col: str = "text", top_n: int = 5
) -> DataFrame:
    """Derive a blocklist as the corpus's top_n most frequent tokens
    (ties broken alphabetically) — the data-driven seed a boilerplate
    blocklist starts from before human review. Returns (word).

    Scale: token counting is one map-side-combinable shuffle on the
    token; the sort ranks the VOCABULARY (≪ corpus, Heaps-law
    sublinear), and only top_n rows survive — Spark plans
    orderBy+limit as TakeOrdered (per-partition heaps, no global
    sort materialization)."""
    from .textstats import tokens

    return (
        docs.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("_c"))
        .orderBy(F.desc("_c"), F.asc("word"))
        .limit(top_n)
        .select("word")
    )


def blocklist_hits(
    docs: DataFrame,
    blocklist: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_rate_bp: int = 1000,
) -> DataFrame:
    """C4-style wordlist filter: per-document hit accounting against a
    blocklist relation (word), with a rate gate — keep while blocked
    tokens are ≤ max_rate_bp basis points of the document (integer
    arithmetic: 10000·n_blocked ≤ max_rate_bp·n_tokens, float-free).

    Output: (id, n_tokens, n_blocked, n_blocked_types, keep).

    The blocklist is a RELATION, not a literal array, on purpose:
    real lists are thousands of entries and maintained out-of-band,
    so the match must be a join. Plan shape at 100 TB: tokenize
    scan-side, explode, broadcast-hash-join the list (bounded —
    always ≪ corpus), map-side-combinable per-doc count; docs with
    zero tokens re-enter via the left join from the doc spine. No
    Python anywhere."""
    from .textstats import token_count, tokens

    spine = docs.select(
        F.col(id_col).alias("id"),
        token_count(F.col(text_col)).cast("bigint").alias("n_tokens"),
    )
    tok = docs.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("word"),
    )
    hits = (
        tok.join(F.broadcast(blocklist), "word")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_blocked"),
            F.count_distinct("word").cast("bigint").alias("n_blocked_types"),
        )
    )
    return (
        spine.join(hits, "id", "left")
        .withColumns(
            {
                "n_blocked": F.coalesce(F.col("n_blocked"), F.lit(0)).cast("bigint"),
                "n_blocked_types": F.coalesce(F.col("n_blocked_types"), F.lit(0)).cast(
                    "bigint"
                ),
            }
        )
        .withColumn(
            "keep", F.col("n_blocked") * 10000 <= F.col("n_tokens") * max_rate_bp
        )
    )


def source_suppression(
    flagged: DataFrame,
    source_col: str = "source",
    flag_col: str = "pass_gopher",
    min_docs: int = 10,
    min_pass_bp: int = 5000,
) -> DataFrame:
    """Domain-level suppression from doc-level quality flags — the
    C4/RefinedWeb move from per-document filtering to per-SOURCE
    policy: a host whose documents overwhelmingly fail the quality
    gate is dropped wholesale (its passing stragglers are usually
    boilerplate that slipped the gate, and fetching it again is pure
    cost). Takes any per-doc boolean flag relation; pairs naturally
    with textstats.gopher_quality.

    Output per source: (source, n_docs, n_pass, pass_bp, suppressed)
    where pass_bp = 10000·n_pass div n_docs and a source is
    suppressed when it has enough evidence (n_docs ≥ min_docs) AND
    pass_bp < min_pass_bp — small sources are never suppressed on
    thin evidence, they stay doc-level-filtered.

    Scale: ONE map-side-combinable groupBy; output cardinality is
    |sources|, and skewed sources are exactly the well-estimated
    ones. Integer basis points end-to-end."""
    return (
        flagged.groupBy(F.col(source_col).alias("source"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.col(flag_col).cast("bigint")).cast("bigint").alias("n_pass"),
        )
        .withColumn("pass_bp", F.expr("(10000 * n_pass) div n_docs"))
        .withColumn(
            "suppressed",
            (F.col("n_docs") >= min_docs) & (F.col("pass_bp") < min_pass_bp),
        )
    )
