"""Deduplication operators for training-data pipelines: exact
(hash-groupBy), MinHash+LSH banding, SimHash, and n-gram Jaccard —
the scale-out generalization of the reference's duplicate guard
(J4/A1, reference docs/setup.md:104-112).

Scale design (100 TB):
- Exact dedup is one shuffle on a 128-bit fingerprint — the optimal
  plan; AQE handles skew from boilerplate-heavy fingerprints.
- MinHash signatures are computed scan-side (narrow, codegen'd
  higher-order functions over the shingle array — no Python). LSH
  banding turns the quadratic all-pairs problem into
  groupBy(band_hash) buckets; only bucket-mates join. With b bands
  of r rows, P(candidate) = 1-(1-J^r)^b — b=4, r=4 targets J≳0.6.
- The exact-Jaccard verify runs only on the candidate pairs (tiny).
- SimHash is an alternative one-shuffle near-dup sketch: 60 bit
  positions unpivoted per token, aggregated per doc — hamming-close
  signatures mean similar token sets.

All hashes derive from md5 so results are reproducible across
engines (the DuckDB oracles replicate them bit-for-bit).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..pin import pin
from .textstats import PUNCT_CLASS, fingerprint, normalize_text, tokens

# MinHash geometry: NUM_HASHES = BANDS * ROWS_PER_BAND
NUM_HASHES = 16
BANDS = 4
ROWS_PER_BAND = 4
SIMHASH_BITS = 60  # 15 hex chars of md5 → fits a signed 64-bit int


def md5_int(c: Column) -> Column:
    """First 60 bits of md5 as a non-negative bigint — the portable
    hash primitive shared with the DuckDB oracles."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def ngrams_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-grams from an ALREADY-MATERIALIZED token array
    column. The column must be a plain reference, not an expression:
    expressions embedded in a higher-order-function lambda are
    re-evaluated per element (no common-subexpression elimination in
    the interpreted path), which turns an O(tokens) pass into
    O(tokens²) regex splits."""
    count = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    heads = F.slice(toks, 1, count)
    grams = F.transform(
        heads,
        lambda x, i: F.concat_ws(" ", x, *[F.get(toks, i + j) for j in range(1, n)]),
    )
    return F.array_distinct(grams)


def _bound_ngrams(text: Column, n: int) -> Column:
    """Distinct word n-grams with the token array bound as a lambda
    variable (textstats.with_tokens) — the tokenizer evaluates once
    per row regardless of what Catalyst collapses around it."""
    from .textstats import with_tokens

    return with_tokens(text, lambda t: ngrams_from_tokens(t, n))


def word_ngrams(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text (for
    one-off use; hot paths use _bound_ngrams / with_tokens)."""
    return ngrams_from_tokens(tokens(text), n)


def minhash_signature(shingles: Column, num_hashes: int = NUM_HASHES) -> Column:
    """Array of num_hashes minhash values: seed i's hash of shingle s
    is md5_int('i:s'); the signature element is the min over
    shingles. Empty shingle set → nulls (filtered by callers)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(
            F.transform(
                shingles,
                lambda s: F.conv(
                    F.substring(F.md5(F.concat(i.cast("string"), F.lit(":"), s)), 1, 15),
                    16,
                    10,
                ).cast("bigint"),
            )
        ),
    )


def band_hashes(signature: Column, bands: int = BANDS, rows: int = ROWS_PER_BAND) -> Column:
    """LSH band keys: md5 of each band's comma-joined signature
    slice. Returns array<struct<band:int, bucket:string>>."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.cast("int").alias("band"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.slice(signature, b * rows + 1, rows),
                        lambda v: v.cast("string"),
                    ),
                    ",",
                )
            ).alias("bucket"),
        ),
    )


def jaccard(a: Column, b: Column) -> Column:
    u = F.size(F.array_union(a, b))
    return F.when(
        u > 0, F.size(F.array_intersect(a, b)).cast("double") / u
    ).otherwise(F.lit(0.0))


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: md5 fingerprint → canonical id = min(id) within
    the fingerprint group. One shuffle on the fingerprint."""
    from pyspark.sql.window import Window

    fp = fingerprint(F.col(text_col))
    w = Window.partitionBy("fingerprint")
    return (
        df.withColumn("fingerprint", fp)
        .withColumn("canonical_id", F.min(id_col).over(w))
        .withColumn("is_duplicate", F.col(id_col) != F.col("canonical_id"))
    )


def repeated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated-span detection: the n-gram-granular
    form of exact substring deduplication (the pass suffix-array
    engines run single-node — Lee et al., "Deduplicating Training
    Data Makes Language Models Better", ACL 2022 — re-expressed as
    distributed relational algebra).

    A position's n-gram is "repeated" when the same n tokens appear
    in ≥ min_docs distinct documents; maximal runs of repeated
    positions merge into spans, which a scrubbing pass can cut or
    down-weight per doc.

    Plan shape (scale: corpus-linear, no suffix array):
    1. scan-side (id, pos, gram-md5) for every overlapping n-gram —
       narrow, codegen'd;
    2. one shuffle on the gram hash: distinct-doc counts (md5 keys
       are uniform — no hot keys);
    3. surviving grams semi-join back to their positions (same key,
       AQE reuses the exchange);
    4. per-doc gap-merge into maximal spans — lag + running-sum over
       the (id, pos) window, the session_windows shape: one shuffle
       on the doc id.

    Output: (doc_id, span_start, span_end, span_tokens, n_grams),
    token coordinates, span_end inclusive.
    """
    from pyspark.sql.window import Window

    from .textstats import with_tokens

    sc = df.sparkSession.sparkContext

    def build(t: Column) -> Column:
        count = F.greatest(F.size(t) - (ngram - 1), F.lit(0))
        return F.transform(
            F.slice(t, 1, count),
            lambda x, i: F.struct(
                i.alias("pos"),
                F.md5(
                    F.concat_ws(" ", x, *[F.get(t, i + j) for j in range(1, ngram)])
                ).alias("g"),
            ),
        )

    grams = (
        df.repartition(sc.defaultParallelism, F.col(id_col))
        .select(
            F.col(id_col).alias("id"),
            # with_tokens binds the token array as a lambda variable:
            # the tokenizer runs once per doc and cannot be inlined
            # per-position — no pin/materialization needed
            F.explode(with_tokens(F.col(text_col), build)).alias("pg"),
        )
        .select("id", F.col("pg.pos").alias("pos"), F.col("pg.g").alias("g"))
    )
    shared = (
        grams.groupBy("g")
        .agg(F.count_distinct("id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("g")
    )
    hits = grams.join(shared, "g")
    w = Window.partitionBy("id").orderBy("pos")
    new_span = F.coalesce(
        (F.col("pos") - F.lag("pos").over(w) > ngram).cast("int"), F.lit(0)
    )
    return (
        hits.withColumn("new_span", new_span)
        .withColumn(
            "span_id",
            F.sum("new_span").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("id", "span_id")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + (ngram - 1)).cast("bigint").alias("span_end"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .select(
            F.col("id").alias(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
            "n_grams",
        )
    )


def exact_duplicates_salted(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-hardened exact dedup — same rows as exact_duplicates,
    built for corpora where one fingerprint is pathologically hot
    (a boilerplate page duplicated millions of times).

    exact_duplicates uses a window over the fingerprint, which has no
    partial aggregation: every row of a hot fingerprint lands on ONE
    task. Here instead:

    1. canonical ids come from groupBy(fingerprint).min(id) — hash
       aggregation is map-side combinable, so a hot key collapses to
       one partial row per input partition before the exchange;
    2. the per-row canonical lookup is a salted_join (operators/
       skew.py): the fact side's rows get a deterministic salt, the
       canonical map is replicated ×salt_buckets, and the hot
       fingerprint's rows spread across salt_buckets shuffle
       partitions instead of pinning one.

    Result is bit-identical to exact_duplicates (the oracle SQL is
    the same window spelling).
    """
    from .skew import salted_join

    fp_df = df.withColumn("fingerprint", fingerprint(F.col(text_col)))
    canon = fp_df.groupBy("fingerprint").agg(F.min(id_col).alias("canonical_id"))
    out = salted_join(fp_df, canon, "fingerprint")
    return out.select(
        *df.columns,
        "fingerprint",
        "canonical_id",
        (F.col(id_col) != F.col("canonical_id")).alias("is_duplicate"),
    )


def minhash_base_and_bands(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared MinHash front end: returns (sh, sigs, banded) where sh
    is (id, shingles), sigs is (id, sig) and banded is
    (id, band, bucket).

    scan → shingles+signature (narrow) → explode bands (×BANDS).
    Band rows carry ONLY (id, band, bucket) — the shingle arrays
    would otherwise be duplicated ×BANDS through the explode and
    shuffled through the bucket join (dominates runtime/network at
    scale). Shingles rejoin by id on the tiny candidate-pair set.

    The three frames are deliberately SEPARATE (r14): no consumer
    ever needs (shingles, sig) in the same row — band construction
    reads sigs, the verify joins read sh — so gluing them into one
    relation costs either a corpus-scale join (the r13 x100
    broadcast-abort class) or an array-valued aggregate
    (first(shingles) has a variable-size buffer, which disqualifies
    HashAggregate: the signature aggregate becomes a SortAggregate
    whose per-partition sort carries the FULL shingle array on every
    exploded row — O(|shingles|²) bytes per doc through the sort).
    Split, the signature aggregate is a plain 16×min HashAggregate
    over (id, 16 bigints) rows and sh is the already-cached shingled
    relation itself.

    At 100 TB the banded/sigs frames of a standing corpus are
    precomputed and STORED (bucketed by (band, bucket)); incremental
    batches (see incremental_near_dups) only compute their own.

    PRECONDITION (ADVICE r14 low): `id_col` must be unique in `df`.
    `sh` is the raw shingled relation — one row per INPUT row, not
    one per id (the old groupBy('id') base collapsed duplicates; this
    one, deliberately, does not pay that aggregate) — so a duplicated
    doc_id would emit duplicate verify-join output pairs downstream.
    Every current caller feeds unique-id document tables; pinned by
    tests/test_operators.py::test_minhash_base_unique_id_precondition.
    """
    sc = df.sparkSession.sparkContext
    shingled = (
        # repartition spreads the hash-heavy work across all cores: a
        # small documents parquet arrives as one partition (at
        # cluster scale the scan is already partitioned and this is a
        # near-no-op); partitioning by id also lets the signature
        # groupBy below avoid a second shuffle
        df.repartition(sc.defaultParallelism, F.col(id_col))
        .select(
            F.col(id_col).alias("id"),
            # with_tokens binds the token array as a lambda variable,
            # so the tokenizer can't be inlined back into the n-gram
            # lambda (O(tokens²)) — replaces the old materialization
            # pin with a pure expression (action-free construction)
            _bound_ngrams(F.col(text_col), ngram).alias("shingles"),
        )
        .filter(F.size("shingles") > 0)
        .cache()
    )
    # Signature via explode + NUM_HASHES codegen'd md5 columns +
    # map-side-combined min aggregation — same values as
    # minhash_signature() (the DuckDB oracle replicates them), but
    # ~10× faster than the nested higher-order-function form, which
    # falls out of whole-stage codegen.
    #
    # No sig-onto-shingles join, no array through the aggregate
    # (r13 + r14): the r12 spelling re-joined sig back onto shingled
    # by id, and at x100 the exempt-audit caught Catalyst
    # broadcasting the CORPUS-SCALE sig relation on a post-aggregate
    # size guess (aborted four downstream graph queries; ~TBs at
    # 100 TB). The r13/early-r14 fix carried the array through the
    # aggregate instead — which silently turned the aggregate into a
    # SortAggregate (array-typed first() buffer) sorting the full
    # shingle array per exploded row. r14 final shape: the aggregate
    # sees ONLY (id, h0..h15) — 16 fixed-size bigint buffers, a real
    # HashAggregate with map-side combine — and consumers that need
    # shingles read the `shingled` cache directly. shingled is
    # already partitioned by id, so the aggregate needs no exchange.
    hashed = shingled.select("id", F.explode("shingles").alias("s")).select(
        "id",
        *[
            md5_int(F.concat(F.lit(f"{i}:"), F.col("s"))).alias(f"h{i}")
            for i in range(NUM_HASHES)
        ],
    )
    sigs = (
        hashed.groupBy("id")
        .agg(*[F.min(f"h{i}").alias(f"h{i}") for i in range(NUM_HASHES)])
        .select(
            "id",
            F.array(*[f"h{i}" for i in range(NUM_HASHES)]).alias("sig"),
        )
        .cache()
    )
    banded = sigs.select("id", F.explode(band_hashes(F.col("sig"))).alias("bh")).select(
        "id", F.col("bh.band").alias("band"), F.col("bh.bucket").alias("bucket")
    )
    return shingled, sigs, banded


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs with exact-Jaccard verify.

    Front end shared via minhash_base_and_bands; candidates from the
    groupBy-bucket self-join; exact Jaccard on the pair's shingle
    sets; threshold filter. Output: id_a < id_b, jaccard.
    """
    sh, _sigs, banded = minhash_base_and_bands(df, text_col, id_col, ngram)
    # merge hints (r13 x100 catch — same class as the sig join in
    # minhash_base_and_bands): `banded` (16 rows per doc) and the
    # (id, shingles) relation are CORPUS-SCALE, but both sit behind
    # aggregates/caches whose size Catalyst only guesses, and the
    # x100 exempt-audit observed BroadcastExchange on all three join
    # sides (the shingle sides are the worst — the full shingle sets
    # of the corpus in one hash table). The band self-join shuffles
    # on (band, bucket) and the verify joins shuffle the candidate
    # pairs on id — the documented scale design, now pinned.
    # 'merge' (sort-merge), not 'shuffle_hash' (ADVICE r13): SMJ
    # spills to disk, so a hot (band, bucket) — near-identical
    # boilerplate docs all hash to one bucket — degrades instead of
    # OOMing the per-partition build map SHJ would hold in memory;
    # at sf0.1 the two hints measured within noise (PERF.md r13).
    left, right = banded.alias("l"), banded.hint("merge").alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        # one exchange instead of two (r14): hash(id_a) satisfies the
        # dedup's (id_a, id_b) clustering AND is exactly what the
        # sh_a verify join needs — the old dropDuplicates shuffled on
        # (id_a, id_b) and the verify join immediately re-shuffled on
        # id_a (before-plan Exchanges 53+55). Partition count matches
        # the front end's id-partitioned cache so the join stays
        # aligned.
        .repartition(df.sparkSession.sparkContext.defaultParallelism, "id_a")
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = cand.join(
        sh.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a")).hint("merge"),
        "id_a",
    ).join(
        sh.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b")).hint("merge"),
        "id_b",
    )
    return (
        pairs.withColumn("jaccard", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 4))
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    min_jaccard: float = 0.3,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard (the verification baseline for
    the LSH path — quadratic, for modest partitions/samples only;
    at scale use minhash_candidate_pairs)."""
    base = df.select(
        F.col(id_col).alias("id"), word_ngrams(F.col(text_col), ngram).alias("sh")
    ).filter(F.size("sh") > 0)
    l, r = base.alias("l"), base.alias("r")
    return (
        l.join(r, F.col("l.id") < F.col("r.id"))
        .withColumn("jaccard", F.round(jaccard(F.col("l.sh"), F.col("r.sh")), 4))
        .filter(F.col("jaccard") >= min_jaccard)
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"), "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    min_containment_bp: int = 8000,
    max_gram_df: int | None = None,
) -> DataFrame:
    """Asymmetric containment near-dup pairs: containment(A in B) =
    |grams(A) ∩ grams(B)| / |grams(A)| — the metric that catches
    quote/subset documents symmetric Jaccard misses (a short doc
    fully quoted inside a long one has Jaccard ≈ |A|/|B| but
    containment 1.0; Lee et al. 2022 dedup on both for this reason).

    Output: one row per unordered candidate pair (id_a < id_b) with
    the shared-gram count, both gram-set sizes, and BOTH directed
    containments in integer basis points (10000·inter div n) —
    float-free, so thresholds compare exactly across engines. Pairs
    survive when either direction reaches min_containment_bp.

    Scale: never all-pairs — candidates and the intersection count
    come from ONE equi-join on the 60-bit gram hash followed by a
    map-side-combinable pair count; only docs that actually share a
    gram ever meet. `max_gram_df` excludes stop-grams (grams in more
    than max_gram_df documents) from BOTH the intersection and the
    denominators: ubiquitous boilerplate shingles fan the gram join
    quadratically while carrying no identity signal, and dropping
    them relationally keeps the semantics well-defined (containment
    over the filtered gram space) on Spark and oracle alike."""
    grams = df.select(
        F.col(id_col).alias("id"),
        F.explode(_bound_ngrams(F.col(text_col), ngram)).alias("g"),
    ).withColumn("g", md5_int(F.col("g")))
    if max_gram_df is not None:
        keep = (
            grams.groupBy("g")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_gram_df)
            .select("g")
        )
        grams = grams.join(keep, "g")
    sizes = grams.groupBy("id").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    inter = (
        grams.alias("l")
        .join(grams.alias("r"), "g")
        .filter(F.col("l.id") < F.col("r.id"))
        .groupBy(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b")), "id_b")
        .withColumn("contain_a_bp", F.expr("(10000 * inter) div n_a"))
        .withColumn("contain_b_bp", F.expr("(10000 * inter) div n_b"))
        .filter(
            F.greatest(F.col("contain_a_bp"), F.col("contain_b_bp"))
            >= F.lit(min_containment_bp)
        )
        .select("id_a", "id_b", "inter", "n_a", "n_b", "contain_a_bp", "contain_b_bp")
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """60-bit SimHash per document from md5 token hashes.

    Unpivots (doc, token) × bit-position, sums ±1 votes per bit,
    reassembles the signed-majority bits into one bigint. Two
    shuffles on (id, bit) then (id) — both map-side combinable.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok"),
    ).withColumn("h", md5_int(F.col("tok")))
    bits = toks.select(
        "id",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("bit"),
        "h",
    ).withColumn(
        # pyspark's shiftright/shiftleft helpers take a python int for
        # the distance; the SQL forms accept a column
        "vote",
        F.expr("shiftright(h, bit) & 1") * 2 - 1,
    )
    votes = bits.groupBy("id", "bit").agg(F.sum("vote").alias("v"))
    return votes.groupBy("id").agg(
        F.sum(
            F.when(F.col("v") > 0, F.expr("shiftleft(cast(1 as bigint), bit)")).otherwise(F.lit(0))
        ).alias("simhash")
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 10_000,
) -> DataFrame:
    """Connected components over an undirected edge list by iterative
    min-label propagation: each node repeatedly adopts the smallest
    label among itself and its neighbors until a fixpoint. Output:
    (node, cluster_id) where cluster_id is the component's minimum
    node id — only nodes that appear in the edge list.

    Near-duplicate candidate graphs converge in a handful of rounds
    (components are small and dense by construction). Each round is
    one shuffle on the edge key plus a broadcast-sized label join at
    candidate-pair scale; lineage is cut per materialization with a
    ``pin()`` so plans stay flat. Driver-job shape (r15 —
    per-round JOB latency was the measured residual after r14 proved
    the shuffles AQE-deduped): TWO propagation rounds run per Spark
    action (a min-label round is monotone, so "round 2k changed
    nothing" is exactly the fixpoint test — an extra identity round
    inside an already-running job is cheaper than a separate job),
    the checkpoint is LAZY, and the convergence count IS the
    materializing action — one count_if aggregate per job replaces
    the old eager-checkpoint job + separate filter/limit/count job.
    For graphs with giant components, swap the propagation step for
    alternating large-star/small-star rounds — the fixpoint and
    output contract are identical. ``max_iter`` caps the propagation
    rounds exactly; 0 returns the initial labels (each node's minimum
    over itself and its neighbors).
    """
    sym = pin(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct(),
        "candidate",
    )
    labels = pin(
        sym.groupBy("a")
        .agg(F.min("b").alias("nbr_min"))
        .select(
            F.col("a").alias("node"),
            F.least(F.col("a"), F.col("nbr_min")).alias("cluster_id"),
        ),
        "candidate",
    )

    def _round(lbl: DataFrame) -> DataFrame:
        nbr = (
            sym.join(lbl.withColumnRenamed("node", "b").drop("_chg"), "b")
            .groupBy("a")
            .agg(F.min("cluster_id").alias("nbr_lbl"))
            .withColumnRenamed("a", "node")
        )
        return lbl.drop("_chg").join(nbr, "node", "left").select(
            "node",
            F.least(
                F.col("cluster_id"), F.coalesce(F.col("nbr_lbl"), F.col("cluster_id"))
            ).alias("cluster_id"),
            # inline convergence flag: strictly-smaller neighbor
            # label means this node changed this round
            (
                F.coalesce(F.col("nbr_lbl"), F.col("cluster_id"))
                < F.col("cluster_id")
            ).alias("_chg"),
        )

    for done in range(0, max_iter, 2):
        new_labels = _round(labels)
        if done + 1 < max_iter:
            # the odd round is lazily pinned because the even round
            # references it TWICE (neighbor build keyed on b, label
            # join keyed on node — different exchanges, so Catalyst
            # would execute the subtree once per reference); the pin
            # makes both consumers share one computation in the job
            new_labels = _round(pin(new_labels, "candidate"))
        new_labels = pin(new_labels, "candidate")
        # the count_if action materializes the lazy checkpoint AND
        # reads the job's last round's convergence flag
        changed = new_labels.agg(
            F.count_if(F.col("_chg")).alias("_n")
        ).first()["_n"]
        labels = new_labels.drop("_chg")
        if changed == 0:
            break
    return labels.select("node", "cluster_id")


def resolve_duplicates(pairs: DataFrame) -> DataFrame:
    """Cluster near-duplicate pairs and elect one canonical doc per
    cluster (the minimum id). Input: (id_a, id_b[, ...]) candidate
    pairs; output: (doc_id, cluster_id, is_canonical) for every doc
    that appears in a pair. The keep-list for a dedup pass is then
    `is_canonical OR doc not in output` (singletons keep themselves).
    """
    cc = connected_components(pairs)
    return cc.select(
        F.col("node").alias("doc_id"),
        "cluster_id",
        (F.col("node") == F.col("cluster_id")).alias("is_canonical"),
    )


def incremental_near_dups(
    new_docs: DataFrame,
    index_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus without pairing
    the corpus with itself — the daily-crawl production shape.

    Candidates come from joining the new batch's band buckets against
    the index's (not a self-join); exact Jaccard verifies. Output:
    (new_id, index_id, jaccard).

    Scale: the index side's signatures/bands are computed here for
    self-containment, but at 100 TB they are written once (bucketed
    by (band, bucket) — see sources/io.write_table) and each
    incremental run computes bands only for the new batch, then does
    an exchange-free join against the stored index. Cost per batch is
    O(new) + O(matching buckets), never O(corpus)."""
    new_sh, _new_sigs, new_banded = minhash_base_and_bands(new_docs, text_col, id_col, ngram)
    idx_sh, _idx_sigs, idx_banded = minhash_base_and_bands(index_docs, text_col, id_col, ngram)
    # merge hints (r13 x100 catch, same class as minhash_candidate_
    # pairs): the INDEX side's bands and shingle sets are corpus-scale
    # behind guess-sized aggregates — the bucket join shuffles on
    # (band, bucket) and the verify joins shuffle the candidates on
    # id instead of broadcasting the standing index.
    cand = (
        new_banded.alias("n")
        .join(
            idx_banded.hint("merge").alias("i"),
            (F.col("n.band") == F.col("i.band"))
            & (F.col("n.bucket") == F.col("i.bucket")),
        )
        .select(F.col("n.id").alias("new_id"), F.col("i.id").alias("index_id"))
        # one exchange instead of two (r14, same as
        # minhash_candidate_pairs): hash(new_id) satisfies the dedup
        # clustering and pre-aligns the first verify join
        .repartition(new_docs.sparkSession.sparkContext.defaultParallelism, "new_id")
        .dropDuplicates(["new_id", "index_id"])
    )
    pairs = cand.join(
        new_sh.select(
            F.col("id").alias("new_id"), F.col("shingles").alias("sh_a")
        ).hint("merge"),
        "new_id",
    ).join(
        idx_sh.select(
            F.col("id").alias("index_id"), F.col("shingles").alias("sh_b")
        ).hint("merge"),
        "index_id",
    )
    return (
        pairs.withColumn("jaccard", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 4))
        .filter(F.col("jaccard") >= min_jaccard)
        .select("new_id", "index_id", "jaccard")
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., SoCC 2014): every neighbor
    v > u re-points to m = min(Γ(u) ∪ {u}). One symmetric groupBy
    min + one join — no node ever materializes its neighbor list, so
    giant components cost O(E) per round, not O(max-degree²)."""
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("_mn"))
        .select("u", F.least(F.col("u"), F.col("_mn")).alias("m"))
    )
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round: for each node u over its (all-smaller, by
    large-star's postcondition) neighbors N: everything in
    N ∪ {u} except the minimum re-points to the minimum."""
    mins = e.groupBy("u").agg(F.min("v").alias("m"))
    nbrs = e.join(mins, "u").filter(F.col("v") != F.col("m")).select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    selfs = mins.select(F.col("u"), F.col("m").alias("v"))
    return nbrs.unionByName(selfs).distinct()


def connected_components_star(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components by alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC 2014) — the giant-component-safe alternative to
    min-label propagation (`connected_components`), with the IDENTICAL
    output contract: (node, cluster_id = component min, nodes from
    the edge list only).

    Why it scales where propagation strains: propagation moves labels
    one hop per round (diameter rounds, each touching every edge);
    star contraction provably converges in O(log² n) rounds and each
    round SHRINKS the edge set toward the star graph, with per-round
    cost O(current edges) regardless of component diameter or a hot
    node's degree. The same candidate-pair graphs feed both; the
    driver oracle (`dedup_clusters_star`) hash-checks this
    implementation against the recursive-closure SQL, and a pytest
    property run pins star == propagation on adversarial shapes
    (paths, giant stars, cliques)."""
    e = pin(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct(),
        "candidate",
    )

    # fixpoint when the (u, v) edge set is unchanged: cheap
    # order-independent checksum first, exact anti-join only to
    # confirm (both frames are candidate-pair sized). ONE action per
    # round (r15 job-latency): the stats aggregate doubles as the
    # materializing action for the round's lazy checkpoint, and the
    # previous round's stats are CARRIED instead of recomputed (the
    # old spelling paid 3 driver jobs per round — eager checkpoint,
    # stats(e), stats(e2) — for the same numbers).
    def _stats(d: DataFrame):
        return (
            d.select(F.xxhash64("u", "v").alias("_x"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.expr("bit_xor(_x)"), F.lit(0)).alias("h"),
            )
            .collect()[0]
        )

    s_old = None
    for _ in range(max_iter):
        # the large-star output is referenced twice inside _small_star
        # (the per-node min aggregate and the re-point join) — the lazy
        # pin shares one computation between them within the round's job
        e2 = pin(_small_star(pin(_large_star(e), "candidate")), "candidate")
        if s_old is None:
            s_old = _stats(e)
        s_new = _stats(e2)
        if (
            s_old["n"] == s_new["n"]
            and s_old["h"] == s_new["h"]
            and e2.exceptAll(e).limit(1).count() == 0
        ):
            e = e2
            break
        e, s_old = e2, s_new
    # final graph is a star forest: children point at roots
    labels = (
        e.select(F.col("u").alias("node"), F.col("v").alias("cluster_id"))
        .unionByName(
            e.select(F.col("v").alias("node"), F.col("v").alias("cluster_id"))
        )
        .groupBy("node")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )
    return labels


def resolve_duplicates_star(pairs: DataFrame) -> DataFrame:
    """resolve_duplicates with the star-contraction engine — same
    output contract, giant-component-safe."""
    cc = connected_components_star(pairs)
    return cc.select(
        F.col("node").alias("doc_id"),
        "cluster_id",
        (F.col("node") == F.col("cluster_id")).alias("is_canonical"),
    )


def sorted_neighborhood_pairs(
    docs: DataFrame,
    window: int = 4,
    min_jaccard: float = 0.3,
    key_chars: int = 24,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sorted-neighborhood method (Hernandez & Stolfo 1995): sort the
    corpus by a normalized blocking key, compare each record only to
    its `window - 1` successors in the sorted order, verify with
    exact word-3-gram Jaccard. The classic record-linkage alternative
    to hash blocking: O(n·w) comparisons instead of O(n²), catches
    near-dups whose PREFIX agrees even when token sets diverge enough
    to dodge an LSH band.

    Distributed shape: the sort is a range exchange + per-partition
    rank (operators/rank.global_rank — no single-partition window),
    neighbors meet via an equi-join on rank+offset (explode of w-1
    offsets on the smaller left side), and only candidate pairs ever
    compute shingles-jaccard. Output (id_a, id_b, jaccard) with
    id_a < id_b, 4-decimal jaccard (same contract as
    minhash_candidate_pairs).

    NOTE: inherits global_rank's one bounded action at call time.
    """
    from .rank import global_rank

    key = F.substring(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", ""), 1, key_chars
    ).alias("_k")
    base = docs.select(F.col(id_col).alias("id"), key, F.col(text_col).alias("_t"))
    ranked = global_rank(base, ["_k", "id"], out_col="_r")
    offs = F.explode(F.sequence(F.lit(1), F.lit(window - 1))).alias("_o")
    left = ranked.select(F.col("id").alias("_ida"), "_r", offs).select(
        "_ida", (F.col("_r") + F.col("_o")).alias("_r2")
    )
    # merge hints (r13 x100 catch): `ranked` and the shingle relation
    # are corpus-scale behind guess-sized rank/projection stages —
    # shuffle on the rank/id keys instead of broadcasting the corpus.
    cand = left.join(
        ranked.select(F.col("id").alias("_idb"), F.col("_r").alias("_r2")).hint("merge"),
        "_r2",
    ).select(
        F.least("_ida", "_idb").alias("id_a"), F.greatest("_ida", "_idb").alias("id_b")
    )
    sh = base.select("id", _bound_ngrams(F.col("_t"), 3).alias("_sh"))
    return (
        cand.join(
            sh.select(F.col("id").alias("id_a"), F.col("_sh").alias("_sha")).hint(
                "merge"
            ),
            "id_a",
        )
        .join(
            sh.select(F.col("id").alias("id_b"), F.col("_sh").alias("_shb")).hint(
                "merge"
            ),
            "id_b",
        )
        .withColumn("jaccard", F.round(jaccard(F.col("_sha"), F.col("_shb")), 4))
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )


def prefix_filter_jaccard_pairs(
    docs: DataFrame,
    min_jaccard: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT set-similarity join via prefix filtering (PPJoin family,
    Xiao et al. WWW 2008): order each doc's distinct tokens globally
    by (document frequency, token) — rarest first — and keep only the
    first |T| - ceil(t·|T|) + 1 as the doc's PREFIX. Two docs with
    jaccard ≥ t MUST share a prefix token (pigeonhole on the overlap
    bound), so joining on prefix tokens is a LOSSLESS candidate
    generator; exact Jaccard verifies. Unlike MinHash-LSH this is
    exact (recall 1 by construction — the oracle is the plain
    all-pairs join, proving it), and the prefix join's fan-out is
    bounded by rare-token frequencies instead of band collisions.

    Scale: token df is one map-side-combined aggregate; the ordering
    is per-doc scan-side (array_sort over (df, token) structs after a
    broadcast-df join keyed by token — df table ≪ corpus after a
    min-df floor; here it rides a shuffle join keyed on the token).
    Candidates pair only through prefix tokens — with Zipfian
    vocabularies prefixes are dominated by rare tokens, so per-token
    fan-out stays small. Output (id_a, id_b, jaccard), same contract
    as ngram_jaccard_pairs.
    """
    toks = docs.select(
        F.col(id_col).alias("id"), _bound_ngrams(F.col(text_col), 1).alias("_t")
    ).filter(F.size("_t") > 0)
    tok_rows = toks.select("id", F.explode("_t").alias("tok"))
    dfreq = tok_rows.groupBy("tok").agg(F.count(F.lit(1)).alias("_df"))
    # per-doc tokens ordered (df, tok) ascending; prefix keeps the
    # first n - ceil(t*n) + 1
    ordered = (
        tok_rows.join(dfreq, "tok")
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_df", "tok"))), lambda s: s["tok"]
            ).alias("toks")
        )
        .withColumn("_n", F.size("toks"))
        .withColumn(
            "_plen",
            F.col("_n") - F.ceil(F.col("_n") * F.lit(float(min_jaccard))).cast("int") + 1,
        )
    )
    prefix = ordered.select(
        "id", F.explode(F.slice("toks", 1, F.col("_plen"))).alias("tok")
    )
    cand = (
        prefix.alias("l")
        .join(prefix.alias("r"), "tok")
        .filter(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    sets = toks.select("id", F.array_distinct("_t").alias("_s"))
    return (
        cand.join(sets.select(F.col("id").alias("id_a"), F.col("_s").alias("_sa")), "id_a")
        .join(sets.select(F.col("id").alias("id_b"), F.col("_s").alias("_sb")), "id_b")
        .withColumn("jaccard", F.round(jaccard(F.col("_sa"), F.col("_sb")), 4))
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )


def soft_dedup_weights(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """SOFT deduplication: instead of dropping near-duplicates, weight
    every document by 1/|its near-dup cluster| so each semantic unit
    contributes one unit of training mass however many copies exist —
    the loss-reweighting alternative to destructive dedup (keeps rare
    phrasing variants a hard collapse would lose).

    Exact-rational spelling: the weight rides as (1, cluster_size)
    integer columns and ONE final IEEE division — so downstream
    weighted samplers (priority_sample, temperature_mixture) can stay
    integer-exact by consuming the denominator directly.

    Scale: connected components over the candidate-pair graph only,
    one count per cluster, broadcast back. Returns
    (id, cluster_id, cluster_size, weight)."""
    comp = resolve_duplicates(pairs).select(id_col, "cluster_id")
    labeled = docs.select(id_col).join(comp, id_col, "left").select(
        id_col, F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id")
    )
    sizes = labeled.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return labeled.join(sizes, "cluster_id").select(
        id_col,
        "cluster_id",
        "cluster_size",
        (F.lit(1.0) / F.col("cluster_size").cast("double")).alias("weight"),
    )


def line_level_dedup(
    docs: DataFrame,
    max_docs: int = 30,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Line-level boilerplate removal (RefinedWeb/CCNet style): drop
    every line that occurs in more than `max_docs` DISTINCT documents
    (navigation menus, cookie banners, subscribe footers — the
    highest-volume contamination in web crawls), then reassemble each
    document from its surviving lines in original order.

    Generalizes the reference's whole-row duplicate guard
    (code-Extractor-withoutLLM.js:103-116 — key-seen-before set) to
    sub-document granularity over an unbounded corpus.

    Scale design (100 TB):
    - Lines travel as 60-bit md5 ints, never as strings, through the
      frequency aggregation — one map-side-combinable count-distinct
      shuffle keyed by line hash.
    - The frequency table holds only lines seen in >max_docs docs
      (the boilerplate set), which is tiny relative to the corpus —
      left unhinted so AQE's runtime stats pick broadcast when it
      fits and fall back to a keyed join (with skew split for the
      hot boilerplate hashes) when it doesn't; a static hint here
      would OOM the driver on a crawl with a huge boilerplate set.
    - Reassembly is one groupBy(id) with an ordered conditional
      collect — partial aggregation collapses line rows per doc
      before the exchange.

    Returns (id, clean_text, n_kept, n_dropped); clean_text is ''
    when every line was boilerplate.
    """
    lines = _doc_lines(docs, id_col, text_col)
    boiler = (
        lines.groupBy("line_h")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .filter(F.col("n_docs") > max_docs)
        .select("line_h", F.lit(True).alias("_boiler"))
    )
    flagged = lines.join(boiler, "line_h", "left").withColumn(
        "_keep", F.col("_boiler").isNull()
    )
    return _reassemble(flagged, id_col)


def _doc_lines(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("line_h", md5_int(F.col("line")))


def _reassemble(flagged: DataFrame, id_col: str) -> DataFrame:
    """Rebuild each doc from its _keep-flagged lines in original
    order; one groupBy(id) whose conditional collect partial-aggs
    line rows before the exchange."""
    return (
        flagged.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("_keep"), F.struct("pos", "line"))
                        )
                    ),
                    lambda s: s.line,
                ),
                "\n",
            ).alias("clean_text"),
            F.sum(F.when(F.col("_keep"), 1).otherwise(0)).cast("bigint").alias("n_kept"),
            F.sum(F.when(F.col("_keep"), 0).otherwise(1)).cast("bigint").alias("n_dropped"),
        )
        .select(id_col, "clean_text", "n_kept", "n_dropped")
    )


def incremental_line_dedup(
    new_docs: DataFrame,
    index_docs: DataFrame,
    max_docs: int = 30,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Line-level boilerplate removal for a NEW batch against an
    EXISTING corpus — the daily-crawl production shape of
    line_level_dedup: a line is boilerplate when its document
    frequency across index ∪ batch exceeds `max_docs`, and only the
    new batch is cleaned.

    Scale: the index side's line frequencies are computed here for
    self-containment, but at 100 TB they are a stored (line_h,
    n_docs) table maintained by exactly this aggregation — each
    incremental run explodes ONLY the new batch, merges its per-line
    doc counts into the stored state (a sum per touched line), and
    cleans the batch with one join. Cost per batch is O(new) +
    O(touched lines), never O(corpus). Same output contract as
    line_level_dedup, restricted to the new ids."""
    nl = _doc_lines(new_docs, id_col, text_col)
    il = _doc_lines(index_docs, id_col, text_col)
    boiler = (
        nl.select(id_col, "line_h")
        .unionAll(il.select(id_col, "line_h"))
        .groupBy("line_h")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .filter(F.col("n_docs") > max_docs)
        .select("line_h", F.lit(True).alias("_boiler"))
    )
    flagged = nl.join(boiler, "line_h", "left").withColumn(
        "_keep", F.col("_boiler").isNull()
    )
    return _reassemble(flagged, id_col)


def template_fingerprint(text: Column) -> Column:
    """Fingerprint of the DIGIT-MASKED normal form: digit runs
    collapse to a single '0' before hashing, so documents generated
    from one template with varying numbers (ids, prices, dates,
    counters — "Order #123 shipped" vs "Order #456 shipped") share a
    fingerprint. The masked-boilerplate sibling of fingerprint()."""
    return F.md5(F.regexp_replace(normalize_text(text), "[0-9]+", "0"))


def template_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Template-level dedup: exact_duplicates on the digit-masked
    fingerprint, plus the exact-fingerprint verdict side by side —
    `is_duplicate AND NOT is_exact_duplicate` isolates true template
    instantiations (machine-generated boilerplate families that
    exact dedup is blind to and near-dup may under-score when the
    numbers dominate short docs).

    Same one-shuffle-per-fingerprint window shape as
    exact_duplicates; the salted sibling's rewrite applies unchanged
    if a template family ever gets hot enough to skew."""
    from pyspark.sql.window import Window

    wt = Window.partitionBy("template_fp")
    we = Window.partitionBy("_exact_fp")
    return (
        df.withColumn("template_fp", template_fingerprint(F.col(text_col)))
        .withColumn("_exact_fp", fingerprint(F.col(text_col)))
        .withColumn("canonical_id", F.min(id_col).over(wt))
        .withColumn("is_duplicate", F.col(id_col) != F.col("canonical_id"))
        .withColumn(
            "is_exact_duplicate",
            F.col(id_col) != F.min(id_col).over(we),
        )
        .drop("_exact_fp")
    )


def aggressive_normalize(text: Column) -> Column:
    """The PUNCTUATION-INSENSITIVE normal form: lower, map every ASCII
    punctuation char to a space, collapse whitespace, trim. One step
    stronger than normalize_text (case+whitespace only) — "Foo, bar!"
    and "foo bar" coincide. This is the fuzzy-exact fingerprint basis
    most web-corpus pipelines use before hashing (punctuation and
    casing are the two highest-frequency trivial mutations).

    The class is the explicit ASCII range PUNCT_CLASS so Java regex
    (Spark) and RE2 (DuckDB oracle) agree byte-for-byte."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(text), PUNCT_CLASS, " "), r"\s+", " "
        )
    )


def normalized_fingerprint(text: Column) -> Column:
    """md5 of the punctuation-insensitive normal form."""
    return F.md5(aggressive_normalize(text))


def normalized_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Fuzzy-exact dedup on the punctuation-insensitive fingerprint,
    with the plain exact verdict side by side — `is_duplicate AND NOT
    is_exact_duplicate` isolates documents that differ ONLY in
    casing/punctuation/whitespace (the dominant trivial-mutation
    class in web crawls; near-dup machinery is overkill for them and
    exact dedup misses them entirely).

    Same one-shuffle-per-fingerprint window shape as
    exact_duplicates / template_duplicates; the salted sibling's
    rewrite applies unchanged under fingerprint skew."""
    from pyspark.sql.window import Window

    wn = Window.partitionBy("norm_fp")
    we = Window.partitionBy("_exact_fp")
    return (
        df.withColumn("norm_fp", normalized_fingerprint(F.col(text_col)))
        .withColumn("_exact_fp", fingerprint(F.col(text_col)))
        .withColumn("canonical_id", F.min(id_col).over(wn))
        .withColumn("is_duplicate", F.col(id_col) != F.col("canonical_id"))
        .withColumn(
            "is_exact_duplicate",
            F.col(id_col) != F.min(id_col).over(we),
        )
        .drop("_exact_fp")
    )


def simhash_hamming_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 3,
) -> DataFrame:
    """Near-duplicate pairs at Hamming distance <= max_hamming over
    the 60-bit SimHash — the Manku/Jain/Sarma (WWW'07) web-crawl
    dedup join, via BLOCK PIGEONHOLE: the hash splits into
    max_hamming+1 equal blocks, and any pair within the radius must
    agree EXACTLY on at least one block, so candidates come from an
    equi-join on (block_index, block_value) — never an all-pairs
    scan — and one exact popcount(xor) verifies each candidate once.

    Documents with fewer than `min_tokens` tokens are excluded: near-
    empty docs all hash to ~0, which would put the entire junk tail
    into one candidate bucket (the known degenerate bucket of the
    scheme; real crawls drop them long before dedup anyway).

    Output: (id_a, id_b, hamming), id_a < id_b.

    Scale: the join is keyed by 2^15 block values x block index;
    bucket sizes follow the hash distribution (uniform for natural
    text). Radius/blocks trade as in the paper — for a larger radius
    use more blocks (r+1), each correspondingly shorter."""
    n_blocks = max_hamming + 1
    block_bits = SIMHASH_BITS // n_blocks
    mask = (1 << block_bits) - 1
    eligible = df.filter(F.size(tokens(F.col(text_col))) >= min_tokens)
    sh = simhash(eligible, text_col, id_col)
    blocks = sh.select(
        "id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("b"),
    ).withColumn("bval", F.expr(f"shiftright(simhash, b * {block_bits}) & {mask}"))
    a = blocks.select(
        F.col("b"),
        F.col("bval"),
        F.col("id").alias("id_a"),
        F.col("simhash").alias("_ha"),
    )
    bb = blocks.select(
        F.col("b"),
        F.col("bval"),
        F.col("id").alias("id_b"),
        F.col("simhash").alias("_hb"),
    )
    cand = (
        a.join(bb, ["b", "bval"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn("hamming", F.expr("bit_count(_ha ^ _hb)").cast("bigint"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
