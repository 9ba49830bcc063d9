"""Suffix-array-fidelity exact substring deduplication.

``repeated_spans`` (dedup.py) merges runs of repeated token n-grams
into maximal spans — the candidate-generation granularity of Lee et
al., "Deduplicating Training Data Makes Language Models Better"
(ACL 2022). What a true suffix array adds is *span fidelity*: the
guarantee that a reported span repeats **as a unit** (the whole
string occurs elsewhere), including overlapping and nested repeats
that n-gram run evidence cannot distinguish (a run of promiscuous
grams — each repeated somewhere — merges into a span that never
occurs twice anywhere).

This module closes that gap Spark-first, without building a global
suffix array:

- ``char_repeat_spans``: char-granular candidate spans (gap-merged
  runs of repeated k-char grams) — one shuffle on the gram hash, one
  on the doc id; corpus-linear.
- ``span_unit_repeats``: verifies a bounded, deterministically-chosen
  candidate set as UNIT repeats by counting whole-span occurrences
  corpus-wide (greedy non-overlapping ``replace`` count — identical
  semantics in Spark and DuckDB, so the driver oracle is exact).
  The candidate set is broadcast; the corpus is scanned once.
- ``repeat_profile``: the corpus repeat-length profile at a fixed
  length grid — distinct repeated grams, repeated positions, max
  occurrence count per length. The SQL-expressible face of the
  doubling search below.
- ``longest_repeated_substring``: the EXACT corpus LRS via
  geometric doubling + batched grid search on "does any length-L
  substring occur >= min_count times" — 2-4 probe jobs, each a
  scan-side binary-lifting fingerprint build (per-position cost
  O(log L) TOTAL across all probe lengths, not O(L) per length —
  the r14 rewrite; see _lift_levels) plus one map-side-combined
  count shuffle of 8 B fingerprints. This is the iterative,
  non-SQL-expressible refinement; it is pinned by planted
  overlapping/nested boilerplate tests (tests/test_suffix.py) rather
  than a DuckDB oracle.

At 100 TB: every stage is either scan-side, a uniform-key hash
shuffle (md5 grams), or a broadcast of a bounded candidate set — the
same shapes as the minhash/LSH family. The LRS search multiplies the
scan by O(log L) ~ 10, the same factor a distributed suffix-array
sort (prefix doubling) pays, with none of its global sorts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..pin import pin


def _gram_hashes(
    df: DataFrame, k: int, text_col: str, id_col: str, spread: bool = True
) -> DataFrame:
    """(id, pos, g=md5 of the k-char gram at pos) for every stride-1
    position. Scan-side: explode over a position sequence, substring
    + md5 inside codegen; nothing but the 32 B hash ever shuffles.

    The doc scan is repartitioned to all cores first: a small corpus
    file arrives as ONE scan partition, which would serialize the
    ~1000× row-multiplying explode+hash onto a single thread (at
    cluster scale the scan is already split and this is a no-op
    beyond one cheap narrow-input shuffle). Same idiom as
    dedup.repeated_spans (dedup.py:185). Callers that already hold a
    spread (and possibly persisted) frame pass spread=False."""
    sc = df.sparkSession.sparkContext
    t = F.col(text_col)
    if spread:
        df = df.repartition(sc.defaultParallelism, F.col(id_col))
    return (
        df.filter(F.length(t) >= k)
        .select(
            F.col(id_col).alias("id"),
            t.alias("_t"),
            F.explode(F.sequence(F.lit(1), F.length(t) - (k - 1))).alias("pos"),
        )
        .select("id", "pos", F.md5(F.substring(F.col("_t"), F.col("pos"), k)).alias("g"))
    )


def char_repeat_spans(
    df: DataFrame,
    k: int = 20,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Char-granular candidate spans: maximal gap-merged runs of
    positions whose k-gram appears in >= min_docs distinct docs.
    Same plan shape as dedup.repeated_spans (dedup.py:134) but in
    character coordinates, so the span's literal text is
    recoverable with one substr. Output: (doc_id, span_start,
    span_len, span_text) — 1-based char start."""
    grams = _gram_hashes(df, k, text_col, id_col)
    if min_docs == 2:
        # "appears in >= 2 distinct docs" ⇔ min(id) < max(id): plain
        # min/max partial aggs, no COUNT DISTINCT expansion — the
        # distinct-count path was the single hottest stage of the
        # suffix family (7.1 s of a 19 s sf0.1 run)
        shared = (
            grams.groupBy("g")
            .agg(F.min("id").alias("_mn"), F.max("id").alias("_mx"))
            .filter(F.col("_mn") < F.col("_mx"))
            .select("g")
        )
    else:
        shared = (
            grams.groupBy("g")
            .agg(F.count_distinct("id").alias("nd"))
            .filter(F.col("nd") >= min_docs)
            .select("g")
        )
    hits = grams.join(shared, "g")
    return _runs_to_spans(hits, df, k, text_col, id_col)


def _runs_to_spans(
    hits: DataFrame, df: DataFrame, k: int, text_col: str, id_col: str
) -> DataFrame:
    """Gap-merge repeated gram positions (id, pos) into maximal char
    spans and recover the literal text — the islands tail shared by
    char_repeat_spans and incremental_repeat_spans."""
    w = Window.partitionBy("id").orderBy("pos")
    new_span = F.coalesce(
        (F.col("pos") - F.lag("pos").over(w) > k).cast("int"), F.lit(0)
    )
    spans = (
        hits.withColumn("new_span", new_span)
        .withColumn(
            "span_id",
            F.sum("new_span").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("id", "span_id")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (k - 1) - F.min("pos") + 1).alias("span_len"),
        )
    )
    texts = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
    return spans.join(texts, "id").select(
        F.col("id").alias(id_col),
        F.col("span_start").cast("bigint").alias("span_start"),
        F.col("span_len").cast("bigint").alias("span_len"),
        F.substring(F.col("_t"), F.col("span_start"), F.col("span_len")).alias(
            "span_text"
        ),
    )


def incremental_repeat_spans(
    new_docs: DataFrame,
    index_docs: DataFrame,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Substring-dedup a NEW batch against an EXISTING corpus without
    ever pairing the corpus with itself — the daily-crawl production
    shape of the suffix layer (mirrors dedup.incremental_near_dups
    for whole-doc near-dups).

    A new-doc position is index-duplicated when its k-gram exists
    ANYWHERE in the index; maximal runs gap-merge into spans exactly
    like char_repeat_spans. At 100 TB the index gram set is written
    once (bucketed by gram hash); each batch computes grams only for
    the new docs and semi-joins the stored index — cost per batch is
    O(new) + O(matched buckets), never O(corpus).

    Output: (doc_id, span_start, span_len, span_text) for NEW docs.
    """
    idx = _gram_hashes(index_docs, k, text_col, id_col).select("g").distinct()
    ng = _gram_hashes(new_docs, k, text_col, id_col)
    # The index gram set is CORPUS-SCALE by construction — explicitly
    # forbid broadcasting it (merge hint → spill-safe sort-merge semi
    # join on the gram hash). Without the hint Catalyst's size
    # estimate through the explode+md5+distinct chain is a guess; at
    # the x100 probe it picked BroadcastExchange on the index side
    # and aborted collecting a >1 GiB hashed relation — exactly the
    # misestimated-broadcast failure a 1000-executor run would hit.
    # The new-batch side stays whatever the planner likes (it is
    # O(new), small in the daily-crawl shape).
    hits = ng.join(idx.hint("merge"), "g", "left_semi")
    return _runs_to_spans(hits, new_docs, k, text_col, id_col)


def span_unit_repeats(
    df: DataFrame,
    k: int = 20,
    min_docs: int = 2,
    top_n: int = 200,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Unit-repeat verification of candidate spans — the fidelity
    step n-gram run evidence lacks.

    Takes the top_n longest distinct candidate span texts (ties
    broken on md5 — fully deterministic), broadcasts them against
    ONE corpus scan, and counts for each: how many docs contain the
    whole span (``instr``) and how many greedy non-overlapping
    occurrences exist corpus-wide (replace-count — both engines
    replace left-to-right, so the count is engine-exact).
    ``unit_repeat`` is false for exactly the spans that merged from
    promiscuous grams but never recur as a whole. Candidates are
    bounded (top_n) so the verify join is broadcast at any corpus
    size, like the minhash exact-verify pass (dedup.py:327)."""
    cands = (
        char_repeat_spans(df, k, min_docs, text_col, id_col)
        .select("span_text", "span_len")
        .distinct()
        .withColumn("span_md5", F.md5(F.col("span_text")))
        .orderBy(F.col("span_len").desc(), F.col("span_md5"))
        .limit(top_n)
        # a doc can contain the span only if it contains the span's
        # LEADING k-gram — key each candidate by that gram's hash so
        # the expensive instr/replace verify runs only on gram-matched
        # (candidate, doc) pairs instead of the full candidate × corpus
        # cross product (docs without the gram contribute exact zeros).
        # Result-identical; at sf0.1 this was the difference between
        # 69.6 s and ~7 s.
        .withColumn("first_g", F.md5(F.substring(F.col("span_text"), 1, k)))
    )
    doc_grams = _gram_hashes(df, k, text_col, id_col).select("id", "g")
    texts = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
    # join BEFORE deduplicating: the broadcast-hash probe drops the
    # non-matching 99%+ of gram rows scan-side, so the dedup shuffle
    # only ever sees matched (doc, candidate) pairs. The dedup itself
    # runs on the NARROW keys only (r14): carrying span_text through
    # dropDuplicates put a string in the aggregate buffer — a
    # SortAggregate whose shuffle rows each hauled the full span text
    # (the top_n LONGEST spans, by construction). Dedup (id, span_md5)
    # as a plain HashAggregate, then re-attach span_len/span_text from
    # the same ≤top_n broadcast relation — broadcast-safe by the same
    # bound as the gram probe, and result-identical (span_md5
    # functionally determines the candidate row; cands is distinct).
    # ONE materialization of cands serves BOTH the gram probe and the
    # re-attach (ADVICE r14 low): the two joins key on different
    # columns (first_g vs span_md5), so their BroadcastExchanges carry
    # different hashed-relation modes and can NEVER canonicalize to a
    # ReusedExchange — without a pin the whole candidate-generation
    # lineage (corpus gram explode + window span-merge + global top-n)
    # executes once per broadcast (verified in the r15 plan dumps: the
    # broadcast-once spelling alone left 2 full subtrees). The lazy pin
    # cuts that lineage once at ≤top_n rows; both
    # broadcasts then rebuild from the checkpointed partitions.
    # Construction runs the chain's jobs (AQE materializes lazy
    # checkpoints at .rdd) — span_unit_repeats is on the
    # CONSTRUCTION_JOB_EXEMPT list like every other barrier pin. The
    # dedup still sees only the narrow (id, span_md5) keys (r14).
    cands_b = F.broadcast(pin(cands, "bounded"))
    matched = (
        doc_grams.join(cands_b, doc_grams["g"] == F.col("first_g"))
        # fresh attribute for the pair key: the narrow row would
        # otherwise carry cands' own span_md5 exprId into the
        # re-attach join and self-join-disambiguate against cands_b
        .select("id", F.col("span_md5").alias("_smd5"))
        .dropDuplicates(["id", "_smd5"])
        .join(cands_b, F.col("_smd5") == F.col("span_md5"))
        .select("id", "span_md5", "span_len", "span_text")
        .join(texts, "id")
    )
    t, s = F.col("_t"), F.col("span_text")
    occ_in_doc = F.floor(
        (F.length(t) - F.length(F.replace(t, s, F.lit("")))) / F.col("span_len")
    )
    verified = (
        matched.select(
            "span_md5",
            "span_len",
            (F.instr(t, s) > 0).cast("int").alias("in_doc"),
            occ_in_doc.alias("occ"),
        )
        .groupBy("span_md5", "span_len")
        .agg(
            F.sum("in_doc").cast("bigint").alias("n_docs"),
            F.sum("occ").cast("bigint").alias("n_occurrences"),
        )
    )
    return verified.select(
        "span_md5",
        "span_len",
        "n_docs",
        "n_occurrences",
        (F.col("n_docs") >= min_docs).alias("unit_repeat"),
    )


def repeat_profile(
    df: DataFrame,
    lengths: tuple[int, ...] = (16, 32, 64),
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus repeat-length profile: for each probe length L, over
    all stride-1 L-char grams — how many distinct grams repeat
    (>= min_count occurrences, overlapping counted), how many
    positions they cover, the max occurrence count, and the
    deterministic champion gram (min md5 among max-count grams).
    One scan per length (unioned into one plan), one uniform-key
    shuffle each; the per-length output is ONE row."""
    profiles = None
    for L in lengths:
        per_gram = (
            _gram_hashes(df, L, text_col, id_col)
            .groupBy("g")
            .agg(F.count(F.lit(1)).alias("occ"))
            .filter(F.col("occ") >= min_count)
        )
        prof = per_gram.agg(
            F.count(F.lit(1)).alias("n_repeated_grams"),
            F.coalesce(F.sum("occ"), F.lit(0)).cast("bigint").alias("n_repeated_positions"),
            F.coalesce(F.max("occ"), F.lit(0)).cast("bigint").alias("max_occ"),
            F.coalesce(
                F.min_by("g", F.struct((-F.col("occ")).alias("n"), F.col("g"))),
                F.lit(""),
            ).alias("top_gram_md5"),
        ).select(
            F.lit(L).cast("bigint").alias("gram_len"),
            "n_repeated_grams",
            "n_repeated_positions",
            "max_occ",
            "top_gram_md5",
        )
        profiles = prof if profiles is None else profiles.unionByName(prof)
    return profiles


def _empty_longs() -> Column:
    return F.expr("CAST(array() AS ARRAY<BIGINT>)")


def _lift_levels(df: DataFrame, text_col: str, k_max: int) -> DataFrame:
    """Binary-lifting hash frames (r14, the lrs_exact floor chase):
    per doc, `lvl{k}` is the array of xxhash64 fingerprints of every
    length-2^k substring, built in O(n) combines per level from the
    previous level — lvl{k}[i] = H(lvl{k-1}[i], lvl{k-1}[i + 2^(k-1)])
    — instead of re-hashing O(L) characters per position per probe
    length. Equal substrings always collide (deterministic
    composition), so a probe keyed on these can only OVERSTATE like
    any 64-bit hash; the champion pass re-verifies against md5.
    All arrays live only inside one projection pipeline (never
    shuffled); transient row memory is ~8·(k_max+1)·len bytes."""
    out = df.select(F.col(text_col).alias("_t")).withColumn(
        "lvl0",
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length("_t"), F.lit(1))),
            lambda i: F.xxhash64(F.substring(F.col("_t"), i, 1)),
        ),
    )
    # closure FACTORY, not a defaulted lambda: Spark infers the SQL
    # lambda's arity from the Python signature, so `lambda i, p=prev`
    # would become a two-variable lambda and break (the r7 lesson)
    def _combine(prev: str, half: int):
        return lambda i: F.xxhash64(
            F.element_at(F.col(prev), i),
            F.element_at(F.col(prev), i + F.lit(half)),
        )

    for k in range(1, k_max + 1):
        span = 1 << k
        out = out.withColumn(
            f"lvl{k}",
            F.when(
                F.length("_t") >= span,
                F.transform(
                    F.sequence(F.lit(1), F.length("_t") - (span - 1)),
                    _combine(f"lvl{k - 1}", 1 << (k - 1)),
                ),
            ).otherwise(_empty_longs()),
        )
    return out


def _lifted_hashes(levels: DataFrame, L: int, k_max: int) -> Column:
    """Array of composed fingerprints for every length-L substring,
    assembled from the set bits of L: O(popcount(L)) combines per
    position, arbitrary L (the grid-search lengths are not powers of
    two). element_at is 1-based; position i covers [i, i+L)."""
    bits = [b for b in range(k_max, -1, -1) if (L >> b) & 1]

    def per_pos(i: Column) -> Column:
        h = F.element_at(F.col(f"lvl{bits[0]}"), i)
        off = 1 << bits[0]
        for b in bits[1:]:
            h = F.xxhash64(h, F.element_at(F.col(f"lvl{b}"), i + F.lit(off)))
            off += 1 << b
        return h

    n = F.length("_t")
    return F.when(
        n >= L,
        F.transform(F.sequence(F.lit(1), n - (L - 1)), per_pos),
    ).otherwise(_empty_longs())


def _best_repeat_len(
    df: DataFrame, lengths: list[int], min_count: int, text_col: str, id_col: str
) -> int | None:
    """Batched probe: the LARGEST L in `lengths` for which some
    length-L substring occurs >= min_count times ((doc,pos)
    occurrences, overlapping allowed) — or None. ONE job for the
    whole batch: binary-lifted fingerprints (see _lift_levels — the
    per-position cost is O(log L) total for the level build plus
    O(popcount(L)) per probe length, vs O(L) character re-hashing
    per position per length before r14), one map-side-combined count
    shuffle keyed on (len, fingerprint), and a max(len) reduction.
    Batching turns the classic ~2·log2(L) sequential probe jobs into
    2-4 total (latency, not work, is the local bottleneck; at
    cluster scale it is also 2-4 barriers instead of ~20). A 64-bit
    fingerprint collision can only OVERSTATE a probe; the champion
    pass re-verifies the final length against md5 and walks down on
    a miss, so the result stays exact."""
    k_max = max(lengths).bit_length() - 1
    levels = _lift_levels(df, text_col, k_max)

    # one projection for ALL probe lengths (a per-length union would
    # recompute the whole level pipeline once per branch): tag each
    # length's fingerprint array with its L, concat, explode once
    def _tag(L: int):
        return lambda g: F.struct(F.lit(L).alias("len"), g.alias("g"))

    tagged = [
        F.transform(_lifted_hashes(levels, L, k_max), _tag(L)) for L in lengths
    ]
    parts = levels.select(
        F.explode(tagged[0] if len(tagged) == 1 else F.concat(*tagged)).alias("x")
    ).select(F.col("x.len").alias("len"), F.col("x.g").alias("g"))
    row = (
        parts.groupBy("len", "g")
        .agg(F.count(F.lit(1)).alias("occ"))
        .filter(F.col("occ") >= min_count)
        .agg(F.max("len").alias("m"))
        .collect()[0]
    )
    return row["m"]


def longest_repeated_substring(
    df: DataFrame,
    min_count: int = 2,
    min_len: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    grid: int = 15,
    partitions: int | None = None,
) -> tuple[int, str, int]:
    """EXACT longest repeated substring of the corpus: the longest
    string occurring >= min_count times (occurrences are (doc, pos)
    pairs, so overlapping periodic repeats within one doc count —
    the case gram-run merging cannot express).

    One batched geometric-doubling probe bounds L*; batched grid
    search (up to `grid` interior lengths per round) pins it exactly;
    a final pass recovers the champion string (min md5 tie-break)
    and its occurrence count. 2-4 probe jobs total, each corpus
    O(n log L) scan-side (binary-lifting fingerprints, r14) with an
    8 B/row fingerprint shuffle payload.

    Returns (L*, champion_substring, occurrences); (0, "", 0) when
    nothing of length >= min_len repeats.
    """
    sc = df.sparkSession.sparkContext
    # one spread + persist across the whole probe sequence: every
    # probe job (and the champion/recovery passes) re-reads this
    # frame, so pinning the ~scan-sized base avoids a scan + spread
    # shuffle per job. The search drives execution itself (collect),
    # so the persist lifecycle is safely owned here. `partitions`
    # overrides the spread width: a bounded enum-sized corpus
    # (lrs_exact_fixed) wants 1 — otherwise every probe job pays
    # 32-task scheduling overhead on ~61 rows (the
    # train_bpe(vocab_partitions=1) lesson).
    base = (
        df.select(F.col(id_col), F.col(text_col))
        .repartition(partitions or sc.defaultParallelism, F.col(id_col))
        .persist()
    )
    try:
        max_len = base.agg(F.max(F.length(F.col(text_col))).alias("m")).collect()[0]["m"]
        if max_len is None or max_len < min_len:
            return (0, "", 0)
        # batched doubling: min_len, 2*min_len, 4*min_len, ... <= max_len
        ladder = []
        L = min_len
        while L <= max_len:
            ladder.append(L)
            L *= 2
        best = _best_repeat_len(base, ladder, min_count, text_col, id_col)
        if best is None:
            return (0, "", 0)
        # interval (lo, hi): lo satisfiable; hi = next ladder rung (or
        # max_len+1) unsatisfiable or untested-above
        lo, hi = best, min(best * 2, max_len + 1)
        while hi - lo > 1:
            step = max(1, (hi - lo) // (grid + 1))
            pts = sorted(set(range(lo + step, hi, step)))[:grid]
            got = _best_repeat_len(base, pts, min_count, text_col, id_col)
            if got is None:
                hi = pts[0]
            else:
                lo = got
                above = [p for p in pts if p > got]
                hi = above[0] if above else hi
        L = lo
        # champion is md5-verified; an xxhash64 probe collision that
        # overstated L shows up as an empty result here — walk down
        # (astronomically rare, but it keeps "EXACT" unconditional)
        champ = None
        while L >= min_len:
            rows = (
                _gram_hashes(base, L, text_col, id_col, spread=False)
                .groupBy("g")
                .agg(F.count(F.lit(1)).alias("occ"))
                .filter(F.col("occ") >= min_count)
                .orderBy(F.col("occ").desc(), F.col("g"))
                .limit(1)
                .collect()
            )
            if rows:
                champ = rows[0]
                break
            L -= 1
        if champ is None:
            return (0, "", 0)
        # recover the literal string for the champion hash: one more scan
        t = F.col(text_col)
        text = (
            base.filter(F.length(t) >= L)
            .select(
                t.alias("_t"),
                F.explode(F.sequence(F.lit(1), F.length(t) - (L - 1))).alias("pos"),
            )
            .select(F.substring(F.col("_t"), F.col("pos"), L).alias("s"))
            .filter(F.md5(F.col("s")) == champ["g"])
            .limit(1)
            .collect()[0]["s"]
        )
        return (L, text, champ["occ"])
    finally:
        base.unpersist()


def scrub_repeated_spans(
    df: DataFrame,
    k: int = 20,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The removal pass of exact-substring dedup (Lee et al. cut the
    duplicated spans from all but one occurrence; ACL 2022 §4): every
    char_repeat_spans span is cut from every doc EXCEPT the canonical
    keeper (min doc_id per distinct span text), and the surviving
    segments stitch back together in order.

    Plan: spans (two shuffles, see char_repeat_spans) → keeper window
    per span text → per-doc segment rows (the gaps between cut spans,
    plus the tail) → one groupBy doc that concatenates segments via a
    sorted array transform (collect_list order is made deterministic
    by array_sort on (seg_start, seg_text)). Docs with nothing cut
    pass through via the final left join. Spans within a doc are
    disjoint by construction (gap-merged islands), so segment
    arithmetic never overlaps.

    Output: (doc_id, scrubbed_text, n_spans_cut, chars_cut).
    """
    spans = char_repeat_spans(df, k, min_docs, text_col, id_col)
    # keeper window keyed on the span's md5, not the raw text — the
    # grouping is identical (md5 equality) but the keeper shuffle
    # carries 32 B keys instead of full span strings
    keeper = Window.partitionBy("span_md5")
    # Barrier on the cut list: it feeds BOTH the gap window and the
    # tail aggregate below, and everything above it (char_repeat_spans
    # = two gram passes + the islands window) would otherwise
    # re-execute per consumer. The pinned relation is small (one row
    # per cut span). Same class as the winnowing fps / bm25 tf
    # barriers; eager=False still runs bounded build-time jobs under
    # AQE — keep callers out of test_plans' action-free list.
    cuts = pin(
        spans.select(
            id_col, "span_start", "span_len", F.md5("span_text").alias("span_md5")
        )
        .withColumn("keep_doc", F.min(id_col).over(keeper))
        .filter(F.col(id_col) != F.col("keep_doc"))
        .select(id_col, "span_start", "span_len"),
        "candidate",
    )
    w = Window.partitionBy(id_col).orderBy("span_start")
    seg_start = F.coalesce(
        F.lag(F.col("span_start") + F.col("span_len")).over(w), F.lit(1)
    )
    gaps = cuts.select(
        F.col(id_col),
        seg_start.alias("seg_start"),
        (F.col("span_start") - seg_start).alias("seg_len"),
        F.col("span_len"),
    )
    tails = cuts.groupBy(id_col).agg(
        (F.max(F.col("span_start") + F.col("span_len"))).alias("seg_start"),
        F.lit(None).cast("bigint").alias("seg_len"),  # to end of text
        F.lit(0).cast("bigint").alias("span_len"),
    )
    segs = gaps.unionByName(tails)
    texts = df.select(F.col(id_col), F.col(text_col).alias("_t"))
    seg_text = F.when(
        F.col("seg_len").isNull(),
        F.substring(F.col("_t"), F.col("seg_start"), 1 << 30),
    ).otherwise(F.substring(F.col("_t"), F.col("seg_start"), F.col("seg_len")))
    scrubbed = (
        segs.join(texts, id_col)
        .select(
            F.col(id_col),
            F.struct(F.col("seg_start"), seg_text.alias("s")).alias("seg"),
            "span_len",
        )
        .groupBy(id_col)
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list("seg")), lambda x: x["s"]
                ),
            ).alias("scrubbed_text"),
            (F.count(F.lit(1)) - 1).alias("n_spans_cut"),  # minus tail row
            F.sum("span_len").cast("bigint").alias("chars_cut"),
        )
    )
    return (
        df.select(F.col(id_col), F.col(text_col))
        .join(scrubbed, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("scrubbed_text"), F.col(text_col)).alias("scrubbed_text"),
            F.coalesce(F.col("n_spans_cut"), F.lit(0)).cast("bigint").alias("n_spans_cut"),
            F.coalesce(F.col("chars_cut"), F.lit(0)).cast("bigint").alias("chars_cut"),
        )
    )


def cdc_chunks(
    df: DataFrame,
    w: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Content-defined chunking (the rolling-hash cut-point scheme of
    storage/corpus dedup — LBFS/rsync lineage): a chunk boundary
    opens wherever the w-char window's hash lands in a fixed 1/16
    slice of hash space (md5 first hex nibble == '0'), so boundaries
    move WITH the content — an insertion shifts at most its own
    chunk, not every later one (the fixed-stride failure mode).

    Chunk starts = {1} ∪ boundary positions; each chunk runs to the
    next start (tail to end-of-doc). Output one row per chunk:
    (doc_id, chunk_start, chunk_len, chunk_md5, n_copies) where
    n_copies counts the chunk's md5 across the whole corpus — the
    dedup-ratio signal CDC exists to surface.

    Plan: the boundary scan is _gram_hashes (spread, scan-side);
    one per-doc window orders starts; the copy count is one
    map-side-combinable shuffle on the chunk md5. Everything is
    deterministic content math — the oracle replays it exactly.
    """
    t = F.col(text_col)
    docs = df.filter(F.length(t) > 0).select(
        F.col(id_col).alias("id"), t.alias("_t"), F.length(t).alias("_n")
    )
    bounds = (
        _gram_hashes(df.filter(F.length(t) > 0), w, text_col, id_col)
        .filter(F.substring(F.col("g"), 1, 1) == "0")
        .select("id", F.col("pos").alias("s"))
    )
    starts = (
        docs.select("id", F.lit(1).alias("s"))
        .unionByName(bounds)
        .distinct()
    )
    win = Window.partitionBy("id").orderBy("s")
    seg = starts.withColumn("next_s", F.lead("s").over(win)).join(docs, "id").select(
        "id",
        "_t",
        F.col("s"),
        (F.coalesce(F.col("next_s"), F.col("_n") + 1) - F.col("s")).alias("chunk_len"),
    )
    chunks = seg.filter(F.col("chunk_len") > 0).select(
        F.col("id").alias(id_col),
        F.col("s").cast("bigint").alias("chunk_start"),
        F.col("chunk_len").cast("bigint").alias("chunk_len"),
        F.md5(F.substring(F.col("_t"), F.col("s"), F.col("chunk_len"))).alias("chunk_md5"),
    )
    copies = Window.partitionBy("chunk_md5")
    return chunks.withColumn(
        "n_copies", F.count(F.lit(1)).over(copies).cast("bigint")
    )


def _minimizer_key(g: Column, pos: Column) -> Column:
    """Strict total order for winnowing: 40 bits of the gram md5
    (collision-free enough for ranking; ties impossible because the
    position rides in the low 20 bits). Fits a bigint exactly the
    same way in DuckDB, so the oracle replays selection decisions
    bit-for-bit."""
    h40 = F.conv(F.substring(g, 1, 10), 16, 10).cast("bigint")
    return h40 * F.lit(1 << 20) + pos


def minimizer_fingerprints(
    df: DataFrame,
    k: int = 8,
    w: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the MOSS algorithm): every window of w consecutive
    k-gram hashes contributes its minimum; the distinct selected
    positions are the document's fingerprints. Guarantees: any
    shared substring of length >= k + w - 1 between two docs shares
    at least one fingerprint, while only ~2/(w+1) of positions are
    kept — the standard way to shrink gram volume before any
    cross-doc join.

    Scan-side hashes → one per-doc window pass (min over a w-row
    frame) → distinct. Output: (doc_id, pos, fp) where fp is the
    selected gram's md5.
    """
    grams = _gram_hashes(df, k, text_col, id_col)
    keyed = grams.select(
        "id",
        F.struct(
            _minimizer_key(F.col("g"), F.col("pos")).alias("hk"),
            F.col("pos").alias("pos"),
            F.col("g").alias("g"),
        ).alias("kd"),
        "pos",
    )
    win = Window.partitionBy("id").orderBy("pos").rowsBetween(0, w - 1)
    # the min key of the window STARTING at each position = that
    # window's selected fingerprint; the struct min (ordered by the
    # unique hk) carries the winner's (pos, g) along, so no recovery
    # join or second gram pass is needed; distinct across windows
    return (
        keyed.withColumn("win_min", F.min("kd").over(win))
        .withColumn("n_follow", F.count(F.lit(1)).over(win))
        # only full windows select (boundary windows at doc end are
        # suffixes of earlier full windows)
        .filter(F.col("n_follow") == w)
        .select("id", F.col("win_min.pos").alias("pos"), F.col("win_min.g").alias("g"))
        .distinct()
        .select(
            F.col("id").alias(id_col),
            F.col("pos").cast("bigint").alias("pos"),
            F.col("g").alias("fp"),
        )
    )


def winnowing_pairs(
    df: DataFrame,
    k: int = 8,
    w: int = 5,
    min_shared: int = 3,
    max_df: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-doc containment/plagiarism candidates from shared
    winnowing fingerprints: docs sharing >= min_shared selected
    grams. The join runs over the ~2/(w+1)-density fingerprint set
    keyed by the gram hash — the minhash-band join shape, never the
    raw gram volume. Output: (id_a, id_b, shared_fps).

    `max_df` drops fingerprints appearing in more than that many
    docs before the self-join — the stop-gram prune every inverted
    index ships (cf. the tfidf df-ratio prune, tfidf.py): a
    fingerprint in ten thousand docs is boilerplate, carries no
    containment signal, and alone would contribute O(df²) join rows.
    The 10× scale probe measured exactly that blow-up (36.8× wall
    at 10× data with clone-heavy fps); with the cap the join's
    per-key fan-out is bounded by construction."""
    # Barrier on the selected-fingerprint set: it feeds the df prune
    # aggregate AND both sides of the self-join, so without the pin
    # the whole explode+md5+window-select chain (the expensive part —
    # ~1000x row multiply) re-executes for the differently-shaped
    # groupBy(fp) branch (ReuseExchange dedups only the two identical
    # join sides). Same class as the semdedup with_c barrier
    # (similarity.py:1372); like it, eager=False still runs the
    # checkpointed stage's jobs at BUILD time under AQE — a bounded,
    # documented construction-time cost, so this builder must not
    # join test_plans' action-free list. Candidate scale: ~N_tokens/w
    # sampled grams per doc.
    fps = pin(
        minimizer_fingerprints(df, k, w, text_col, id_col)
        .select(F.col(id_col).alias("id"), "fp")
        .distinct(),
        "candidate",
    )
    if max_df is not None:
        keep = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("fp")
        )
        fps = fps.join(keep, "fp")
    pairs = (
        fps.alias("a")
        .join(fps.alias("b"), "fp")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )
    return pairs
