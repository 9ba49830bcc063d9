"""Deterministic hash-based sampling for training-data curation.

`df.sample()` is seed-dependent on partitioning and row order, so a
rerun (or a re-partitioned rerun) yields a different sample — useless
for reproducible dataset releases. Hashing the row id instead makes
the sample a pure function of the data: stable across runs, engines,
partitionings, and incremental appends (a doc either is or is not in
the release, forever). This is the standard trick for train/eval
splits and per-source mixing weights in large corpus pipelines.

Scale: a narrow filter — no shuffle, no state; the md5 is scan-side
work that whole-stage-codegens between the parquet reader and
whatever follows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..pin import pin
from .dedup import md5_int

BUCKETS = 10_000


def hash_bucket(id_col: Column, salt: str = "sample") -> Column:
    """Stable bucket in [0, BUCKETS) from a salted md5 of the id —
    same value in any engine that can md5 a string (the DuckDB
    oracles recompute it bit-identically)."""
    return F.pmod(md5_int(F.concat(F.lit(salt + ":"), id_col.cast("string"))), F.lit(BUCKETS))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    default_fraction: float = 1.0,
    salt: str = "sample",
) -> DataFrame:
    """Keep a per-stratum fraction of rows, deterministically.

    fractions maps stratum value -> keep fraction in [0, 1]; strata
    not listed use default_fraction. Row keep/drop depends only on
    (salt, id) — independent draws across salts let disjoint splits
    (train/eval) come from different salts without coordination.
    """
    frac: Column = F.lit(float(default_fraction))
    for value, p in sorted(fractions.items()):
        frac = F.when(F.col(strata_col) == value, F.lit(float(p))).otherwise(frac)
    return df.filter(hash_bucket(F.col(id_col), salt) < frac * BUCKETS)


def token_budget_sample(
    df: DataFrame,
    strata_col: str,
    budgets: dict[str, int],
    weight_col: str,
    id_col: str = "doc_id",
    default_budget: int | None = None,
    salt: str = "budget",
) -> DataFrame:
    """Keep ~budget total weight (tokens/chars) per stratum,
    deterministically — the domain-mixing step of a corpus pipeline
    ("200B tokens of web, 30B of code, ...").

    Docs hash into BUCKETS stable buckets per stratum; whole buckets
    are kept in bucket order while the stratum's running weight is
    under budget, so the kept set may overshoot by at most one
    bucket's weight (~1/BUCKETS of the stratum — the streaming-packer
    contract, same as pack_shards). Strata without a listed budget
    use default_budget; None means keep everything.

    Scale: the cutoff is decided on the (stratum, bucket) aggregate —
    at most |strata| x BUCKETS rows regardless of corpus size — so
    the corpus never sorts: one partial-agg shuffle to build the tiny
    table, a window over it, then a broadcast semi-join back. An
    exact per-doc running sum would instead serialize each stratum
    through one reducer; this is the formulation that survives a
    trillion-doc stratum.
    """
    from pyspark.sql import Window

    bucket = hash_bucket(F.col(id_col), salt).alias("bucket")
    with_bucket = df.withColumn("bucket", bucket)

    budget_expr: Column = (
        F.lit(None).cast("bigint")
        if default_budget is None
        else F.lit(int(default_budget))
    )
    for value, b in sorted(budgets.items()):
        budget_expr = F.when(F.col(strata_col) == value, F.lit(int(b))).otherwise(
            budget_expr
        )

    w = Window.partitionBy(strata_col).orderBy("bucket")
    kept_buckets = (
        with_bucket.groupBy(strata_col, "bucket")
        .agg(F.sum(weight_col).alias("w"))
        .withColumn("start", F.sum("w").over(w) - F.col("w"))
        .filter(budget_expr.isNull() | (F.col("start") < budget_expr))
        .select(strata_col, "bucket")
    )
    return with_bucket.join(
        F.broadcast(kept_buckets), [strata_col, "bucket"]
    ).drop("bucket")


def upsample_to_budget(
    df: DataFrame,
    budget: int,
    weight_col: str = "n_chars",
    id_col: str = "doc_id",
    salt: str = "epoch",
) -> DataFrame:
    """Repeat a (small, high-quality) corpus until it carries ~budget
    total weight — the epoch-upsampling step of a mixture recipe
    ("books ×4 epochs"): every doc appears floor(budget/total) times,
    and the fractional remainder epoch keeps a deterministic
    hash-selected subset so reruns and engines agree doc-for-doc.

    Output: input rows × their copy count, with an `epoch` column
    (0-based copy index); docs outside the partial epoch simply stop
    one copy earlier. budget ≤ total degenerates to a plain
    deterministic subsample (epoch 0 only).

    Scale: the corpus total rides in as a broadcast one-row aggregate
    (no driver action, same pattern as the TF-IDF n_docs join); the
    copy explode is scan-side and the output is ~budget/total × input
    rows — no shuffle at all.
    """
    total = df.select(F.sum(weight_col).cast("bigint").alias("_total"))
    tagged = df.join(F.broadcast(total))
    # integer div/mod keep the epoch count exact (a double quotient
    # can land one ulp under an exact multiple and floor() off by one)
    n_full = F.expr(f"cast({int(budget)} as bigint) div _total").cast("int")
    rem = F.lit(int(budget)).cast("bigint") % F.col("_total")
    # cross-multiplied comparison stays in exact bigints; bounds:
    # bucket < 10^4 and rem < total, so both products stay < 2^63
    # for corpus totals up to ~9e14 weight units
    in_partial = hash_bucket(F.col(id_col), salt) * F.col("_total") < rem * F.lit(BUCKETS)
    n_copies = n_full + in_partial.cast("int")
    return (
        tagged.withColumn("_n", n_copies)
        .filter(F.col("_n") > 0)
        .withColumn("epoch", F.explode(F.sequence(F.lit(0), F.col("_n") - 1)))
        .drop("_total", "_n")
    )


def pack_shards(
    df: DataFrame,
    weight_col: str = "n_chars",
    budget: int = 1 << 20,
    order_col: str = "doc_id",
    n_buckets: int = 32,
) -> DataFrame:
    """Assign docs to fixed-weight-budget output shards (sequence
    packing for training-data writes): deterministic bucket by id,
    then a running weight sum within the bucket; a doc's shard is its
    START offset divided by the budget, so every shard holds ~budget
    weight (the last doc of a shard may straddle the boundary — the
    standard streaming-packer contract).

    Scale: one shuffle on the bucket key; each bucket's cumulative
    sum is an independent window, so parallelism = n_buckets (set it
    ~= cluster cores; shard ids stay stable for fixed n_buckets).
    Output adds (bucket, shard_id, offset).
    """
    from pyspark.sql import Window

    bucket = F.pmod(F.col(order_col), F.lit(n_buckets))
    w = Window.partitionBy("bucket").orderBy(order_col)
    return (
        df.withColumn("bucket", bucket.cast("int"))
        .withColumn(
            "offset",
            (F.sum(weight_col).over(w) - F.col(weight_col)).cast("bigint"),
        )
        .withColumn("shard_id", F.floor(F.col("offset") / F.lit(budget)).cast("int"))
    )


def temperature_mixture(
    df, group_col: str, budget: int, id_col: str = "doc_id"
):
    """Temperature-based mixture reweighting — the standard recipe
    for balancing a multi-source/multilingual corpus: sampling weight
    ∝ count^α flattens the natural distribution so small groups are
    up-weighted (α=1 keeps natural proportions, α→0 approaches
    uniform). This implementation fixes α = 1/2 because sqrt is an
    IEEE-correctly-rounded operation — pow(x, α) is not, and a
    last-ulp libm difference would flip floor() boundaries between
    engines; a general-α variant slots in where cross-engine
    reproducibility isn't required.

    Returns per group: (group_col, n_docs, weight, target_rows) where
    weight = round(sqrt(n)/Σ sqrt(n), 8) (the rounding absorbs
    summation-order ulps before they can reach the floor boundary)
    and target_rows = min(floor(budget·weight), n_docs).

    Scale: one map-side-combinable count per group, a one-row
    broadcast total, pure column math after — the corpus is scanned
    once and only |groups| rows ever move. Compose with
    stratified_sample's per-group hash threshold to materialize the
    actual draw."""
    from pyspark.sql import functions as F

    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    total = counts.agg(F.sum(F.sqrt(F.col("n_docs"))).alias("_tw"))
    return (
        counts.crossJoin(F.broadcast(total))
        .withColumn("weight", F.round(F.sqrt(F.col("n_docs")) / F.col("_tw"), 8))
        .withColumn(
            "target_rows",
            F.least(
                F.floor(F.lit(float(budget)) * F.col("weight")).cast("bigint"),
                F.col("n_docs"),
            ),
        )
        .drop("_tw")
    )


def mixture_epochs(
    df,
    group_col: str,
    budget: int,
    weight_col: str = "n_chars",
    epoch_cap: int = 4,
):
    """Token-budget mixture table with epoch accounting — the
    "sampling proportion / epochs" table of a pretraining data
    recipe: given a total token budget and temperature-flattened
    (α = 1/2) mixture weights, how many tokens does each domain
    contribute, and how many times does its corpus repeat?

    Per group: n_docs, n_tokens (Σ weight_col), weight =
    round(sqrt(n_tokens)/Σ sqrt(n_tokens), 8), target_tokens =
    floor(budget · weight), epochs = round(target/n_tokens, 4), and
    capped_tokens = min(target, epoch_cap · n_tokens) — the standard
    guard against over-repeating a small domain (repeating data many
    epochs degrades quality, so recipes cap epochs and let the
    surplus budget flow to larger domains).

    Scale: one map-side-combinable aggregate per group, a one-row
    broadcast total, pure column math after — only |groups| rows
    move. α is fixed at 1/2 for the same IEEE-sqrt-exactness reason
    as temperature_mixture."""
    from pyspark.sql import functions as F

    per = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(weight_col).cast("bigint").alias("n_tokens"),
    )
    total = per.agg(F.sum(F.sqrt(F.col("n_tokens"))).alias("_tw"))
    return (
        per.crossJoin(F.broadcast(total))
        .withColumn("weight", F.round(F.sqrt(F.col("n_tokens")) / F.col("_tw"), 8))
        .withColumn(
            "target_tokens",
            F.floor(F.lit(float(budget)) * F.col("weight")).cast("bigint"),
        )
        .withColumn(
            "epochs",
            F.round(
                F.col("target_tokens").cast("double")
                / F.col("n_tokens").cast("double"),
                4,
            ),
        )
        .withColumn(
            "capped_tokens",
            F.least(
                F.col("target_tokens"), F.lit(epoch_cap) * F.col("n_tokens")
            ).cast("bigint"),
        )
        .drop("_tw")
    )


def temperature_sample(
    df, group_col: str, budget: int, id_col: str = "doc_id", salt: str = "temp"
):
    """Materialize temperature_mixture's targets as an actual draw:
    per group, keep rows whose salted hash bucket clears the group's
    target ratio. The keep test cross-multiplies integers
    (bucket · n_docs < target_rows · BUCKETS) so no rational ever
    becomes a float — the kept set is bit-stable across engines and
    partitionings. Draw size is target_rows ± O(n/BUCKETS) per group
    (hash granularity), the same contract as stratified_sample.

    One corpus scan + a broadcast of |groups| target rows."""
    from pyspark.sql import functions as F

    targets = temperature_mixture(df, group_col, budget, id_col).select(
        group_col, "n_docs", "target_rows"
    )
    return (
        df.join(F.broadcast(targets), group_col)
        .filter(
            hash_bucket(F.col(id_col), salt) * F.col("n_docs")
            < F.col("target_rows") * F.lit(BUCKETS)
        )
        .drop("n_docs", "target_rows")
    )


def priority_sample(
    df,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "pri",
):
    """Weighted sampling WITHOUT replacement via priority sampling
    (Duffield-Lund-Thorup): each row draws a deterministic uniform
    u from its salted md5 hash and gets priority q = w/u; the k
    highest-priority rows are the sample, and tau (the (k+1)-st
    priority) yields the unbiased weight estimator max(w, tau).

    Integer-exact spelling: u is an integer in [1, 2^30] and the
    priority is the bigint (w << 30) div u — floor of the real-valued
    priority, identical in any engine, so selection order (priority
    desc, id asc) is bit-stable. est_weight performs the ONE float
    division at the end (deterministic IEEE on exact inputs).

    Scale: top-(k+1) by priority is TakeOrdered — per-partition heaps
    merged on the driver, no global sort shuffle; the scan computes
    w, u, q scan-side. The weighted-without-replacement contract is
    what a mixture sampler needs when row weights vary by orders of
    magnitude (doc token counts) and k ≪ N.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    u = (
        md5_int(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
        % F.lit(1 << 30)
    ) + 1
    pri = df.select(
        F.col(id_col),
        F.col(weight_col).cast("bigint").alias("weight"),
        F.expr(f"(CAST({weight_col} AS BIGINT) * {1 << 30})").alias("_wq"),
    ).withColumn("_u", u).withColumn("priority", F.expr("_wq div _u")).drop("_wq", "_u")
    top = pri.orderBy(F.col("priority").desc(), F.col(id_col)).limit(k + 1)
    w_all = Window.orderBy(F.col("priority").desc(), F.col(id_col))
    ranked = top.withColumn("_rn", F.row_number().over(w_all))
    # one-row AGGREGATE (not a filter): with n <= k there is no
    # (k+1)-st row, and a crossJoin against an empty frame would wipe
    # the sample — tau degrades to 0 and est_weight = weight, the
    # estimator's exact-below-k behavior (hypothesis-found edge case)
    tau = ranked.agg(
        F.coalesce(
            F.max(F.when(F.col("_rn") == k + 1, F.col("priority"))), F.lit(0)
        ).alias("_tau")
    )
    return (
        ranked.filter(F.col("_rn") <= k)
        .crossJoin(F.broadcast(tau))
        .select(
            id_col,
            "weight",
            "priority",
            (
                F.greatest(F.col("weight") * F.lit(1 << 30), F.col("_tau")).cast(
                    "double"
                )
                / F.lit(float(1 << 30))
            ).alias("est_weight"),
        )
    )


def epoch_shuffle(
    df: DataFrame,
    epoch: int,
    n_shards: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-epoch training shuffle: a reproducible
    pseudo-random permutation of the corpus plus a balanced shard
    assignment — what a distributed dataloader consumes. Changing
    `epoch` re-permutes everything; re-running the same epoch yields
    the identical order on any engine, partitioning, or rerun (the
    md5 key is a pure function of (epoch, id), unlike orderBy(rand)).

    epoch_pos is the 1-based position in the permutation; shard is
    round-robin over that order, so shard sizes differ by at most 1
    and each shard is itself a uniform sample of the corpus.

    Scale: the permutation is a single distributed range sort
    (rank.global_rank — range-exchange + per-partition window +
    broadcast offsets; one bounded driver action for the offsets).
    No global single-partition window anywhere.

    Returns (id_col, epoch_pos, shard)."""
    from .rank import global_rank

    keyed = df.select(
        F.col(id_col),
        md5_int(
            F.concat(F.lit(f"epoch{epoch}:"), F.col(id_col).cast("string"))
        ).alias("_k"),
    )
    ranked = global_rank(keyed, ["_k", id_col], out_col="epoch_pos")
    return ranked.select(
        id_col,
        "epoch_pos",
        F.pmod(F.col("epoch_pos") - 1, F.lit(n_shards)).alias("shard"),
    )


def length_bucket_batches(
    df: DataFrame,
    batch_size: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "batch",
) -> DataFrame:
    """Length-bucketed batch assignment: group examples of similar
    token length into fixed-size batches so per-batch padding (every
    example pads to the batch max) is small — the standard dataloader
    trick that plain random batching can't give you. Buckets are
    power-of-two token-length bands (floor(log2(n_tokens)), exact via
    bit-length); WITHIN a bucket order is a salted-md5 shuffle, so
    batch composition is deterministic yet unbiased.

    Per batch, reports the exact integer padding economics:
    waste_tokens = n_examples·max_tokens − sum_tokens (the pad cost
    of batching these examples together).

    Scale: one distributed range sort over (bucket, key) assigns a
    global rank (rank.global_rank), so a hot bucket never serializes
    onto one task the way a per-bucket window would; per-bucket batch
    numbering subtracts broadcast bucket offsets (one tiny agg).

    Returns (bucket, batch_id, n_examples, max_tokens, sum_tokens,
    waste_tokens)."""
    from .rank import global_rank
    from .textstats import token_count

    toks = df.select(
        F.col(id_col),
        token_count(F.col(text_col)).alias("_nt"),
        md5_int(
            F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))
        ).alias("_k"),
    ).withColumn(
        # floor(log2(n)) via bit length (engine-exact; no libm):
        # empty docs (0 tokens) land in bucket -1, their own band.
        # bigint, not int32: the oracle's length() is BIGINT and the
        # driver's hash is Arrow-dtype-sensitive (the session_windows
        # decimal128 lesson) — match widths exactly, not by class.
        "bucket",
        F.when(F.col("_nt") > 0, F.length(F.bin(F.col("_nt"))) - 1)
        .otherwise(F.lit(-1))
        .cast("bigint"),
    )
    ranked = global_rank(toks, ["bucket", "_k", id_col], out_col="_rnk")
    starts = ranked.groupBy("bucket").agg(F.min("_rnk").alias("_start"))
    batched = ranked.join(F.broadcast(starts), "bucket").withColumn(
        "batch_id",
        F.expr(f"(_rnk - _start) div {int(batch_size)}"),
    )
    return (
        batched.groupBy("bucket", "batch_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_examples"),
            F.max("_nt").cast("bigint").alias("max_tokens"),
            F.sum("_nt").cast("bigint").alias("sum_tokens"),
        )
        .select(
            "bucket",
            "batch_id",
            "n_examples",
            "max_tokens",
            "sum_tokens",
            (F.col("n_examples") * F.col("max_tokens") - F.col("sum_tokens")).alias(
                "waste_tokens"
            ),
        )
    )


def curriculum_order(
    df: DataFrame,
    score_col: str,
    n_stages: int = 3,
    epoch: int = 0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Curriculum training order: rank the corpus by a difficulty
    score, cut it into `n_stages` equal-population stages
    (easy → hard), and emit a deterministic within-stage shuffle —
    the standard curriculum-learning dataloader contract (easy
    examples first, order reproducible per epoch; changing `epoch`
    re-shuffles within stages but never across stage boundaries).

    Determinism: stage cuts come from the exact global rank (ties by
    id), the shuffle key is md5(epoch:id) — a pure function of the
    input on any engine or partitioning, unlike orderBy(rand).

    Scale: two distributed range sorts (rank.global_rank, no global
    single-partition window); the corpus size joins in as a broadcast
    one-row aggregate. Returns (id_col, stage, curriculum_pos)."""
    from .rank import global_rank

    scored = df.select(F.col(id_col), F.col(score_col).alias("_s"))
    ranked = global_rank(scored, ["_s", id_col], out_col="_rnk")
    n = scored.agg(F.count(F.lit(1)).alias("_n"))
    staged = ranked.crossJoin(F.broadcast(n)).select(
        id_col,
        F.expr(f"(( _rnk - 1) * {int(n_stages)}) div _n").cast("bigint").alias("stage"),
    )
    keyed = staged.withColumn(
        "_k",
        md5_int(F.concat(F.lit(f"epoch{epoch}:"), F.col(id_col).cast("string"))),
    )
    out = global_rank(keyed, ["stage", "_k", id_col], out_col="curriculum_pos")
    return out.select(id_col, "stage", "curriculum_pos")


def packing_contamination(
    df: DataFrame,
    weight_col: str = "n_chars",
    budget: int = 1 << 20,
    order_col: str = "doc_id",
    n_buckets: int = 32,
) -> DataFrame:
    """Cross-contamination economics of concat-and-split packing:
    GPT-style packing (pack_shards) concatenates docs and cuts fixed
    windows, so windows mix unrelated documents (attention
    contamination unless the trainer masks cross-doc attention) and
    boundary docs split across windows. This report quantifies both,
    per (bucket, window): n_docs touching the window, n_starts
    beginning in it, n_splits continuing into the next window, and
    the exact token fill (= budget everywhere but each bucket's tail
    window — pinned in tests). Feed it beside
    length_bucket_batches' padding-waste numbers to choose between
    the two packing regimes.

    Scale: pack_shards' one bucket-key shuffle, then a per-doc
    window explode (each doc emits ceil(weight/budget)+1 ≤ tiny
    rows) and one map-side-combinable aggregate. Zero-weight docs
    touch no window and are excluded (mirrored in the oracle)."""
    packed = pack_shards(df, weight_col, budget, order_col, n_buckets)
    spans = (
        packed.filter(F.col(weight_col) > 0)
        .withColumn("_e", F.col("offset") + F.col(weight_col))
        .withColumn("_w0", F.expr(f"offset div {int(budget)}"))
        .withColumn("_w1", F.expr(f"(_e - 1) div {int(budget)}"))
    )
    x = spans.select(
        "bucket",
        "offset",
        "_e",
        "_w0",
        "_w1",
        F.explode(F.sequence("_w0", "_w1")).alias("window_id"),
    )
    b = F.lit(int(budget)).cast("bigint")
    return x.groupBy("bucket", F.col("window_id").cast("bigint").alias("window_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("_w0") == F.col("window_id"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_starts"),
        F.sum(F.when(F.col("_w1") > F.col("window_id"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_splits"),
        F.sum(
            F.least(F.col("_e"), (F.col("window_id") + 1) * b)
            - F.greatest(F.col("offset"), F.col("window_id") * b)
        )
        .cast("bigint")
        .alias("tokens"),
    )



def waterfill_allocation(
    df: DataFrame,
    group_col: str = "grp",
    budget: int = 1000,
) -> DataFrame:
    """Max-min fair (waterfilling) allocation of a row budget across
    groups: each group is allocated min(its size, T) where the water
    level T is the largest integer with Σ min(size_g, T) ≤ budget,
    and the sub-T remainder is topped up one row at a time to the
    largest capped groups (deterministic ties by group name). The
    balanced-mixture primitive: small domains keep everything, large
    domains are capped at a common level instead of swamping the mix.

    Exact integer algorithm. With groups sorted by size ascending
    (prefix = exclusive running sum, n groups, m = n − i remaining
    after bracket row i), level c_i is feasible iff
    prefix_i + c_i·(n−i+1) ≤ budget; for the LAST feasible row i*,
    T = (budget − prefix_{i*} − c_{i*}) div (n − i*). No feasible
    row → T = budget div n (flat floor); all rows feasible → the
    whole corpus fits and alloc = size everywhere. The top-up gives
    +1 to the first (budget − Σ alloc) capped groups ordered by
    (size desc, group asc); the remainder is < #capped by T's
    maximality, so every topped group has headroom.

    Scale: corpus-sized work is ONE map-side-combinable groupBy
    count; everything downstream (windows, bracket pick, top-up)
    runs on |groups| rows with one-row broadcast aggregates — the
    single-partition windows are over the group relation, never the
    corpus. Output: (group_col, n_docs, alloc), Σ alloc =
    min(budget, Σ n_docs). Row selection is the caller's
    deterministic per-group priority (e.g. priority_sample's
    md5-rank) limited to `alloc`."""
    from pyspark.sql.window import Window

    budget = int(budget)
    sizes = df.groupBy(F.col(group_col).alias("_g")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    w = Window.orderBy("n_docs", "_g")
    ranked = sizes.withColumns(
        {
            "_i": F.row_number().over(w).cast("bigint"),
            "_prefix": F.coalesce(
                F.sum("n_docs").over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ).cast("bigint"),
        }
    )
    nn = sizes.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    bracket = (
        ranked.crossJoin(F.broadcast(nn))
        .filter(
            F.col("_prefix") + F.col("n_docs") * (F.col("_n") - F.col("_i") + 1)
            <= F.lit(budget)
        )
        .agg(
            F.expr("max_by(_i, _i)").alias("_bi"),
            F.expr("max_by(_prefix, _i)").alias("_bprefix"),
            F.expr("max_by(n_docs, _i)").alias("_bc"),
        )
    )
    level = (
        nn.crossJoin(F.broadcast(bracket))
        .select(
            F.expr(
                f"CASE WHEN _bi IS NULL THEN {budget} div _n"
                f"     WHEN _bi = _n THEN _bc"
                f"     ELSE ({budget} - _bprefix - _bc) div (_n - _bi) END"
            )
            .cast("bigint")
            .alias("_T")
        )
    )
    alloc0 = sizes.crossJoin(F.broadcast(level)).select(
        "_g", "n_docs", F.least(F.col("n_docs"), F.col("_T")).cast("bigint").alias("_a0")
    )
    spent = alloc0.agg(F.sum("_a0").cast("bigint").alias("_used"))
    wc = Window.orderBy(F.col("n_docs").desc(), F.col("_g"))
    capped = (
        alloc0.filter(F.col("n_docs") > F.col("_a0"))
        .withColumn("_cr", F.row_number().over(wc).cast("bigint"))
        .select("_g", "_cr")
    )
    return (
        alloc0.join(capped, "_g", "left")
        .crossJoin(F.broadcast(spent))
        .select(
            F.col("_g").alias(group_col),
            "n_docs",
            (
                F.col("_a0")
                + F.when(
                    F.col("_cr").isNotNull()
                    & (F.col("_cr") <= F.lit(budget) - F.col("_used")),
                    F.lit(1),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("alloc"),
        )
    )


def cluster_balanced_sample(
    assigned: DataFrame,
    budget: int,
    id_col: str = "vec_id",
    cell_col: str = "cluster_id",
    salt: str = "cbs",
    pin_assign: bool = True,
) -> DataFrame:
    """Cluster-balanced (diversity-preserving) subsampling: draw a
    row budget spread max-min-fairly across embedding clusters — the
    DataComp/SemDeDup-era alternative to uniform sampling, which
    mirrors the head of the distribution and starves the tail. Cell
    quotas come from waterfill_allocation (small clusters keep
    everything, big clusters cap at a common water level); within a
    cell the draw is the deterministic salted-md5 rank, so the sample
    is reproducible in any engine and stable under re-partitioning.

    Input: any (id, cell) assignment — kmeans_codes/IVF cells for
    embeddings, or any categorical grouping. Output: the picked rows
    as (id, cell, cell_n, alloc, pick_rank); Σ picked =
    min(budget, N).

    Scale: quota math runs on |cells| rows (see
    waterfill_allocation); ranking is ONE row_number window
    partitioned by cell — the same shuffle shape as exact dedup, no
    global sort, no driver collect."""
    from pyspark.sql.window import Window

    from .dedup import md5_int

    # Lazy checkpoint of the slim (id, cell) projection: the quota
    # branch and the ranking branch both read it, and when the
    # caller's assignment is an expensive chain (kmeans cells) the
    # un-barriered plan executes that chain once per branch. Narrow
    # projection first so the checkpoint stores two columns, not the
    # caller's whole relation; eager=False keeps construction
    # action-free. The projection is still CORPUS-SCALE (one narrow
    # row per input row); pin_assign=False keeps the lineage-
    # recoverable plan (tradeoff: pin()).
    assigned = pin(assigned.select(id_col, cell_col), "corpus", enabled=pin_assign)

    quotas = waterfill_allocation(
        assigned.select(F.col(cell_col).alias("grp")), "grp", budget
    ).select(
        F.col("grp").alias(cell_col),
        F.col("n_docs").alias("cell_n"),
        "alloc",
    )
    w = Window.partitionBy(cell_col).orderBy("_rk", id_col)
    ranked = (
        assigned.select(id_col, cell_col)
        .withColumn(
            "_rk", md5_int(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
        )
        .withColumn("pick_rank", F.row_number().over(w).cast("bigint"))
    )
    return (
        ranked.join(quotas, cell_col)
        .filter(F.col("pick_rank") <= F.col("alloc"))
        .select(id_col, cell_col, "cell_n", "alloc", "pick_rank")
    )


def grouped_priority_sample(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "gpri",
) -> DataFrame:
    """Per-group weighted sampling without replacement: the top-k
    priority-sample rows WITHIN each group — the per-language /
    per-source hard-cap draw a mixture recipe needs when every
    stratum must get its own weighted sample (one global k would let
    a heavy stratum swallow the budget).

    Same integer-exact priority as priority_sample (u from the salted
    md5 in [1, 2^30], q = (w·2^30) div u — bit-stable selection order
    in any engine); the per-group top-k is a row_number window over
    the group key instead of a global TakeOrdered. Output:
    (group, id, weight, priority, pick_rank), rank 1..min(k, |group|).

    Scale: scan-side priorities + ONE window shuffle partitioned by
    group — the exact shape of exact-dedup's canonical pick; no
    global sort, no driver involvement; skewed groups parallelize
    across their partitions up to the window sort."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from .dedup import md5_int

    u = (
        md5_int(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
        % F.lit(1 << 30)
    ) + 1
    pri = (
        df.select(
            F.col(group_col).alias("grp"),
            F.col(id_col),
            F.col(weight_col).cast("bigint").alias("weight"),
        )
        .withColumn("_u", u)
        .withColumn("priority", F.expr(f"(weight * {1 << 30}) div _u"))
        .drop("_u")
    )
    w = Window.partitionBy("grp").orderBy(F.col("priority").desc(), F.col(id_col))
    return (
        pri.withColumn("pick_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("pick_rank") <= k)
        .select("grp", id_col, "weight", "priority", "pick_rank")
    )


def ab_assignment_report(
    events: DataFrame,
    unit_col: str = "user_id",
    value_col: str = "value",
    arms: int = 2,
    exposure_bp: int = 10000,
    salt: str = "exp1",
) -> DataFrame:
    """Experiment assignment + exposure report — the analytics side
    of deterministic A/B bucketing: units hash into [0, BUCKETS)
    with a per-experiment salt; buckets below `exposure_bp` basis
    points are in the experiment and split across `arms` by bucket
    residue, the rest are holdout (arm = -1). Deterministic unit-
    level assignment (same user, same arm, any engine, any run) is
    the property that makes the report reproducible and lets
    experiments layer via salts.

    Output per arm: n_units, n_events, sum_cents, mean_centi_cents
    (exact integer round-half-up division — the portable quotient
    form). Metric values travel as integer cents from the first
    projection, so the per-arm sums compare exactly across engines.

    Scale: assignment is scan-side (one md5 per row); the report is
    ONE map-side-combinable groupBy to |arms|+1 rows."""
    bucket = hash_bucket(F.col(unit_col), salt=salt)
    exposed = bucket * 10000 < F.lit(exposure_bp) * F.lit(BUCKETS)
    arm = F.when(exposed, F.pmod(bucket, F.lit(arms))).otherwise(F.lit(-1))
    base = events.select(
        arm.cast("bigint").alias("arm"),
        F.col(unit_col).alias("unit"),
        F.round(F.col(value_col) * 100).cast("bigint").alias("cents"),
    )
    return (
        base.groupBy("arm")
        .agg(
            F.count_distinct("unit").cast("bigint").alias("n_units"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        # mean in centi-cents, exact round-half-up: (2*s*100 + n) div (2*n)
        .withColumn(
            "mean_centi_cents",
            F.expr("(2 * sum_cents * 100 + n_events) div (2 * n_events)"),
        )
    )
