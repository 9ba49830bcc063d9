"""Similarity search over embedding columns (array<float>).

- Brute-force cosine top-k: the correctness baseline. Dot products
  run as codegen'd higher-order functions (zip_with + aggregate) in
  double precision with a fixed left-fold order, so results are
  bit-reproducible (and match the DuckDB oracle exactly).
- IVF (inverted-file) top-k: the scale path. Centroids are a
  deterministic sample; vectors are assigned to their nearest
  centroid once (narrow after a broadcast of centroids), and a query
  probes only its nprobe closest cells. At 100 TB: centroid
  assignment is one broadcast pass, the probe join hits ~nprobe/K of
  the data, and the per-cell top-k is a window over the probed
  subset — no all-pairs shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..pin import pin


def as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    d = norm(a) * norm(b)
    return F.when(d > 0, dot(a, b) / d).otherwise(F.lit(0.0))


def knn_bruteforce(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of each query vector against all vectors.

    The (small) query side is broadcast against the vector scan;
    ranking is a window per query with a deterministic id tie-break.
    Output: query_id, neighbor_id, score, rank.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("nv")
    )
    scored = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score", cosine(F.col("qv"), F.col("nv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid (broadcast join +
    per-vector argmax window)."""
    c = centroids.select(
        F.col("centroid_id"), as_double(F.col(vec_col)).alias("cv")
    )
    v = vectors.select(F.col(id_col), as_double(F.col(vec_col)).alias("v"))
    scored = v.crossJoin(F.broadcast(c)).withColumn(
        "cscore", cosine(F.col("v"), F.col("cv"))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("cscore").desc(), F.col("centroid_id"))
    return (
        scored.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") == 1)
        .select(id_col, "centroid_id", "v")
    )


def sample_centroids(
    vectors: DataFrame,
    every: int = 25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_centroids: int | None = None,
) -> DataFrame:
    """Deterministic centroid sample: every Nth vector by id (a
    k-means fit would drop in here; sampling keeps the pipeline
    reproducible for tests).

    With the default max_centroids=None the centroid count K grows
    ∝ N, so any single-level assign against the result is O(N²/every)
    — the quadratic-yardstick shape (knn_ivf keeps it deliberately;
    its recall is measured against it). Pass max_centroids to CAP K
    (ids < every·max_centroids): the classic fixed-nlist IVF, whose
    assign is O(N·K) — linear in the corpus — at the price of larger
    cells as N grows (the nprobe sweep uses this spelling)."""
    keep = F.col(id_col) % every == 0
    if max_centroids is not None:
        keep = keep & (F.col(id_col) < every * max_centroids)
    return vectors.filter(keep).select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col)
    )


def knn_ivf(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 3,
    every: int = 25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: probe only the nprobe nearest centroid
    cells per query. Recall < 1 by design; the pytest suite asserts
    recall against knn_bruteforce."""
    centroids = sample_centroids(vectors, every, id_col, vec_col)
    assigned = ivf_assign(vectors, centroids, id_col, vec_col)

    q = queries.select(F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv"))
    c = centroids.select("centroid_id", as_double(F.col(vec_col)).alias("cv"))
    qprobe = (
        q.crossJoin(F.broadcast(c))
        .withColumn("cscore", cosine(F.col("qv"), F.col("cv")))
        .withColumn(
            "crank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.col("cscore").desc(), F.col("centroid_id"))
            ),
        )
        .filter(F.col("crank") <= nprobe)
        .select("query_id", "qv", "centroid_id")
    )
    scored = (
        qprobe.join(assigned, "centroid_id")
        .filter(F.col("query_id") != F.col(id_col))
        .withColumn("score", cosine(F.col("qv"), F.col("v")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "score", "rank")
    )


def cosine_near_dup_pairs(
    vectors: DataFrame,
    min_cosine: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int = 100_000,
    allow_quadratic: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the ALL-PAIRS O(N²)
    recall yardstick for its two scale siblings
    (cosine_near_dup_pairs_blocked, cosine_near_dup_pairs_lsh). Never
    the production path: at 100 TB the theta self-join is a
    cluster-killer, so inputs larger than `max_rows` raise unless the
    caller explicitly opts in with ``allow_quadratic=True`` (the r05
    verdict's baseline guard). The probe is `LIMIT max_rows+1` then
    count — it short-circuits as soon as max_rows+1 rows exist
    instead of executing the full upstream plan (the r06 advice: a
    derived input was paying a complete second scan just to evaluate
    the guard, on every plan construction)."""
    if not allow_quadratic:
        n = vectors.limit(max_rows + 1).count()
        if n > max_rows:
            raise ValueError(
                f"cosine_near_dup_pairs is the O(N²) all-pairs baseline and the "
                f"input has > max_rows={max_rows} rows; use "
                f"cosine_near_dup_pairs_blocked / cosine_near_dup_pairs_lsh for "
                f"real corpora, or pass allow_quadratic=True to force it"
            )
    v = vectors.select(F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v"))
    l, r = v.alias("l"), v.alias("r")
    return (
        l.join(r, F.col("l.id") < F.col("r.id"))
        .withColumn("score", cosine(F.col("l.v"), F.col("r.v")))
        .filter(F.col("score") >= min_cosine)
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            "score",
        )
    )


def cosine_near_dup_pairs_blocked(
    vectors: DataFrame,
    min_cosine: float = 0.95,
    every: int = 25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs at scale: block the all-pairs join by
    IVF cell. Vectors are assigned to their nearest sampled centroid
    (one broadcast join + argmax), then pairs are scored only WITHIN
    a cell — the O(n²) corpus join becomes Σ O(cell²) with
    cells ≈ n/K. Near-identical vectors land in the same cell
    (identical argmax), so recall on true near-dups ≈ 1; pairs that
    straddle a cell boundary are the approximation cost (raise K
    coverage with multi-probe assignment if needed).

    Same output contract as cosine_near_dup_pairs (id_a < id_b,
    score).
    """
    centroids = sample_centroids(vectors, every, id_col, vec_col)
    assigned = ivf_assign(vectors, centroids, id_col, vec_col).select(
        F.col(id_col).alias("id"), "centroid_id", "v"
    )
    l, r = assigned.alias("l"), assigned.alias("r")
    return (
        l.join(
            r,
            (F.col("l.centroid_id") == F.col("r.centroid_id"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .withColumn("score", cosine(F.col("l.v"), F.col("r.v")))
        .filter(F.col("score") >= min_cosine)
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"), "score")
    )


def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", max_code: int = 127
) -> DataFrame:
    """Per-vector symmetric int8 scalar quantization — the storage
    layout an ANN index keeps at scale (4x smaller than float32, 8x
    smaller than the double intermediates): code_i = round(x_i /
    scale) with scale = max|x| / max_code, plus the reconstruction
    MSE so a pipeline can gate on quantization loss.

    Everything is a pure closed-form function of the vector (floor(x
    + 0.5) instead of engine round() so half-way cases agree across
    engines), hence DuckDB-oracle verifiable bit-for-bit.

    Scale: narrow scan-side codegen per row — no shuffle, no Python;
    the scale column is materialized BEFORE the code lambda so the
    max-abs fold runs once per vector, not once per element.

    Adds (q_scale, q_codes, q_mse); drops nothing.
    """
    e = as_double(F.col(vec_col))
    with_e = df.withColumn("_e", e)
    maxabs = F.array_max(F.transform(F.col("_e"), F.abs))
    scale = F.when(maxabs > 0, maxabs / F.lit(float(max_code))).otherwise(F.lit(1.0))
    with_scale = with_e.withColumn("q_scale", scale)
    codes = F.transform(
        F.col("_e"),
        lambda x: F.floor(x / F.col("q_scale") + F.lit(0.5)).cast("int"),
    )
    with_codes = with_scale.withColumn("q_codes", codes)
    sq_err = F.aggregate(
        F.zip_with(
            F.col("_e"),
            F.col("q_codes"),
            lambda x, c: (x - c * F.col("q_scale")) * (x - c * F.col("q_scale")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    mse = F.when(
        F.size("_e") > 0, sq_err / F.size("_e").cast("double")
    ).otherwise(F.lit(0.0))
    return with_codes.withColumn("q_mse", mse).drop("_e")


# --- random-hyperplane LSH (SimHash for dense vectors) -----------------

LSH_PLANES = 16
LSH_BANDS = 4
LSH_ROWS_PER_BAND = 4
_LSH_DENOM = float(1 << 59)


def lsh_hyperplane(p: int, dims: int) -> list[float]:
    """Deterministic pseudo-random hyperplane p: component d is a
    md5-derived uniform in [-1, 1). float(u) BEFORE the division
    mirrors DuckDB's BIGINT→DOUBLE cast-then-divide, keeping the
    literal bit-identical to the oracle's in-SQL derivation."""
    import hashlib

    comps = []
    for d in range(dims):
        u = int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:15], 16)
        comps.append(float(u) / _LSH_DENOM - 1.0)
    return comps


def lsh_banded(
    vectors: DataFrame,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = LSH_BANDS,
    rows_per_band: int = LSH_ROWS_PER_BAND,
) -> DataFrame:
    """(id, v, band, bucket) sign-LSH band rows — the shared front
    end of the LSH near-dup and semantic-decontam paths. One narrow
    scan-side pass: LSH_PLANES fixed-size dot products per vector, no
    shuffle; the hyperplanes ride along as a broadcast ONE-ROW
    array-of-arrays (a 1-row crossJoin keeps the 16×dims doubles out
    of the expression tree — big literal trees stall Catalyst, see
    PERF.md).

    SCALE KNOB: the per-band bucket space is 2^rows_per_band, so on a
    corpus with little true near-dup structure the self-join load per
    bucket grows as N / 2^rpb — at the 4-bit default the 10x probe
    measured ~8x candidate growth (N²/16 chance collisions). Size
    rows_per_band ≈ log2(N) - log2(target bucket load) so buckets
    stay executor-sized, and raise `bands` to hold recall (band
    collision p^rpb per band; recall ≈ 1-(1-p^rpb)^bands). Exact
    clones collide in every band at ANY geometry."""
    v = vectors.select(F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v"))
    spark = vectors.sparkSession
    planes = spark.createDataFrame(
        [([lsh_hyperplane(p, dims) for p in range(bands * rows_per_band)],)],
        "hs array<array<double>>",
    )
    rpb = rows_per_band

    def bucket_expr(band: int) -> Column:
        # Σ_j bit_j << j folded high-bit-first as acc*2 + bit — the
        # 16 dot products are UNROLLED in the plan (flat expression
        # tree, no nested HOF lambdas: higher-order functions are
        # interpreted, and nesting them re-evaluates inner folds per
        # outer element — measured 4× slower than this flat form)
        e: Column = F.lit(0).cast("bigint")
        for j in range(rpb - 1, -1, -1):
            e = e * F.lit(2) + (
                dot(F.col("v"), F.element_at(F.col("hs"), F.lit(band * rpb + j + 1))) >= 0
            ).cast("bigint")
        return e

    return v.crossJoin(F.broadcast(planes)).select(
        "id",
        "v",
        F.posexplode(F.array(*[bucket_expr(b) for b in range(bands)])).alias(
            "band", "bucket"
        ),
    )


def cosine_near_dup_pairs_lsh(
    vectors: DataFrame,
    min_cosine: float = 0.95,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = LSH_BANDS,
    rows_per_band: int = LSH_ROWS_PER_BAND,
) -> DataFrame:
    """Embedding near-dup pairs via random-hyperplane LSH banding —
    the sketch-based scale path (vs the IVF-cell blocked variant).

    Each vector gets LSH_PLANES sign bits (sign of the dot product
    with a fixed pseudo-random hyperplane); the bits are grouped into
    LSH_BANDS buckets and only bucket-mates are candidate-paired,
    then verified with the exact cosine. P(bit match) = 1 - θ/π, so
    at cosine 0.95 (θ≈18°) a 4-bit band matches with p≈0.65 and 4
    bands give ≈0.99 recall while unrelated vectors (p≈0.5 per bit)
    almost never collide in all 4 bits of any band.

    Scale: signatures are one narrow scan-side pass (16 fixed-size
    dot products per vector, no shuffle): the hyperplanes ride along
    as a broadcast ONE-ROW array-of-arrays (a 1-row crossJoin keeps
    the 16×dims doubles out of the expression tree — big literal
    trees stall Catalyst, see PERF.md — without paying the previous
    implementation's explode-×16 + groupBy re-assembly, which
    shuffled 16N rows just to compute a pure per-row function), and
    the per-band buckets come out of a single transform/aggregate
    projection + posexplode, all narrow. Candidates are a join on
    (band, bucket); the exact verify touches candidate pairs only.
    The corpus is never all-pairs joined.
    """
    banded = lsh_banded(vectors, dims, id_col, vec_col, bands, rows_per_band)
    v = vectors.select(F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v"))
    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    # per-vector norms are precomputed ONCE in the (tiny) vector scan
    # and carried through the candidate join — the exact verify then
    # costs one interpreted HOF fold per pair (the dot) instead of
    # three (dot + 2 norms); bit-identical, since sqrt(dot(v,v)) is a
    # deterministic per-vector value either way
    vn = v.withColumn("n", norm(F.col("v")))
    va = vn.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("n").alias("na"))
    vb = vn.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("n").alias("nb"))
    denom = F.col("na") * F.col("nb")
    score = F.when(denom > 0, dot(F.col("va"), F.col("vb")) / denom).otherwise(F.lit(0.0))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("score", score)
        .filter(F.col("score") >= min_cosine)
        .select("id_a", "id_b", "score")
    )


def _sq_dist(codes: Column, cv: Column) -> Column:
    """Exact bigint squared distance between two int-code arrays."""
    return F.aggregate(
        F.zip_with(codes, cv, lambda a, b: ((a - b).cast("bigint") * (a - b).cast("bigint"))),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _kmeans_assign(vectors: DataFrame, cents: DataFrame, id_col: str, codes_col: str) -> DataFrame:
    """Nearest centroid per vector by exact integer squared distance,
    as a PURE SCAN-SIDE PROJECTION: the K centroids collapse into ONE
    broadcast row (sorted array of (cid, cv) structs), and the winner
    is array_min over (d2, cid) structs — struct ordering gives the
    same smallest-distance-then-smallest-cid tie-break a row_number
    window would, with NO ×K row explosion, NO per-vector shuffle,
    and NO sort. (The previous crossJoin-per-centroid + window
    spelling cost ~4 tiny AQE stages per Lloyd iteration; at local
    scale the query was stage-latency-bound — 22 jobs for 2000 rows.
    Same fix as the LSH plane rewrite, see PERF.md. A statically
    unrolled distance tree was measured SLOWER than the HOF fold —
    codegen compile time swamps interpreted-fold overhead.)"""
    cents_row = cents.groupBy().agg(
        F.sort_array(F.collect_list(F.struct("_cid", "_cv"))).alias("_cents")
    )
    best = F.array_min(
        F.transform(
            F.col("_cents"),
            lambda c: F.struct(
                _sq_dist(F.col(codes_col), c["_cv"]).alias("_d2"),
                c["_cid"].alias("_cid"),
            ),
        )
    )
    return (
        vectors.crossJoin(F.broadcast(cents_row))
        .withColumn("_best", best)
        .withColumn("_d2", F.col("_best._d2"))
        .withColumn("_cid", F.col("_best._cid"))
        .drop("_best", "_cents")
    )


def _kmeans_assign_grouped(
    pts: DataFrame, cents_g: DataFrame, codes_col: str
) -> DataFrame:
    """Fine argmin WITHIN a point's coarse group: `pts` carries
    `_gid`; `cents_g` is (_cid, _cv, _gid). Group arrays broadcast
    (one row per gid), so the per-point work is |group| distances —
    K/√K on average — instead of K. Same (d2, cid) struct-min
    tie-break as the flat assign."""
    rows = cents_g.groupBy("_gid").agg(
        F.sort_array(F.collect_list(F.struct("_cid", "_cv"))).alias("_cents")
    )
    best = F.array_min(
        F.transform(
            F.col("_cents"),
            lambda c: F.struct(
                _sq_dist(F.col(codes_col), c["_cv"]).alias("_d2"),
                c["_cid"].alias("_cid"),
            ),
        )
    )
    return (
        pts.join(F.broadcast(rows), "_gid")
        .withColumn("_best", best)
        .withColumn("_d2", F.col("_best._d2"))
        .withColumn("_cid", F.col("_best._cid"))
        .drop("_best", "_cents")
    )


def kmeans_codes_2level(
    vectors: DataFrame,
    k_every: int = 20,
    iters: int = 1,
    id_col: str = "vec_id",
    codes_col: str = "q_codes",
    k_cap: int | None = None,
    cell_target: int | None = None,
    k_min: int = 8,
    coarse_stride: int = 5,
) -> DataFrame:
    """Two-level (IVF-style) variant of kmeans_codes: assignment cost
    per point drops from O(K·d) to O((K/stride + avg-group)·d) ≈
    O(2·√K·d) at stride ≈ √K — closing kmeans_codes' honest scale
    caveat that with K ∝ N (the cell_target policy) the flat assign
    is O(N·K·d), quadratic in corpus size. This is the frozen-coarse-
    quantizer compromise every production IVF index makes (FAISS
    add-after-train), spelled bit-exactly:

    - coarse quantizer = every `coarse_stride`-th initial centroid by
      cid rank, FROZEN (never updated by Lloyd's);
    - every centroid inherits the group of its INITIAL vector (argmin
      over the coarse set, smallest-gid ties) — frozen grouping means
      a point's candidate group provably always contains at least one
      surviving centroid (its own coarse member, or the centroid the
      point itself fed during the update);
    - each point's coarse group is computed ONCE (the coarse set is
      frozen) and reused across Lloyd iterations — per-iteration cost
      is only the grouped fine assign;
    - centroid means update exactly as in kmeans_codes (integer
      floor-mean, smallest-cid ties).

    Same determinism contract as kmeans_codes: a pure function of the
    input on any engine or partitioning (the DuckDB oracle replays
    the whole two-level chain). Clustering QUALITY differs from the
    flat assign (points only see their group's centroids) — that is
    the documented IVF trade, not drift.

    Returns (id_col, cluster_id, sq_dist)."""
    vectors = vectors.persist()
    if cell_target is not None:
        if k_cap is not None:
            raise ValueError("pass either k_cap or cell_target, not both")
        n = vectors.count()
        k_cap = max(k_min, -(-n // cell_target))
    seed = F.col(id_col) % k_every == 0
    if k_cap is not None:
        seed = seed & (F.col(id_col) < k_every * k_cap)
    cents = vectors.filter(seed).select(
        F.col(id_col).alias("_cid"), F.col(codes_col).alias("_cv")
    )
    # coarse pick by centroid RANK (not raw id, which may be sparse):
    # the window is unpartitioned but runs over ≤ k_cap rows — a
    # bounded-size sort, never corpus-sized
    wk = Window.orderBy("_cid")
    coarse = (
        cents.withColumn("_rn", F.row_number().over(wk))
        .filter((F.col("_rn") - 1) % coarse_stride == 0)
        .select(F.col("_cid").alias("_gid"), F.col("_cv").alias("_gv"))
    )
    # frozen grouping of centroid ids (argmin of the INITIAL vectors
    # over the coarse set) — inherited by every Lloyd update
    grp = _kmeans_assign(
        cents.select(F.col("_cid").alias("_ccid"), F.col("_cv").alias("_q")),
        coarse.select(F.col("_gid").alias("_cid"), F.col("_gv").alias("_cv")),
        "_ccid",
        "_q",
    ).select(F.col("_ccid").alias("_cid"), F.col("_cid").alias("_gid"))
    # per-point coarse group: computed once against the frozen coarse
    # set, persisted for reuse by every iteration's fine assign
    pts = (
        _kmeans_assign(
            vectors,
            coarse.select(F.col("_gid").alias("_cid"), F.col("_gv").alias("_cv")),
            id_col,
            codes_col,
        )
        .select(id_col, codes_col, F.col("_cid").alias("_gid"))
        .persist()
    )
    cents_g = cents.join(grp, "_cid")
    for _ in range(iters):
        assigned = _kmeans_assign_grouped(pts, cents_g, codes_col)
        by_dim = assigned.select(
            "_cid", F.posexplode(F.col(codes_col)).alias("_pos", "_v")
        )
        means = by_dim.groupBy("_cid", "_pos").agg(
            F.floor(F.sum("_v").cast("double") / F.count(F.lit(1))).cast("int").alias("_m")
        )
        new_cents = means.groupBy("_cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_m"))), lambda s: s["_m"]
            ).alias("_cv")
        )
        # lazy pin (r9, the _pq_train recipe): the pin must also
        # TRUNCATE the logical plan so each Lloyd iteration's analysis
        # stops re-walking all prior iterations' grouped-assign HOF
        # trees; ≤ K rows per pin, bounded build-time jobs under AQE
        # (documented tradeoff)
        cents_g = pin(new_cents.join(grp, "_cid"), "bounded")
    final = _kmeans_assign_grouped(pts, cents_g, codes_col)
    # lazy persist: the two-level chain is many small stages (coarse
    # window, grouping assigns, broadcast group arrays) — consumers
    # like semdedup's pair self-join read the result 3x, and at local
    # scale re-executing the chain per consumer is stage-latency-bound
    # (same class as the flat assign's crossJoin+window rewrite, see
    # PERF.md). Cache lifetime is the caller's responsibility.
    return final.select(
        F.col(id_col),
        F.col("_cid").alias("cluster_id"),
        F.col("_d2").alias("sq_dist"),
    ).persist()


def kmeans_codes(
    vectors: DataFrame,
    k_every: int = 20,
    iters: int = 2,
    id_col: str = "vec_id",
    codes_col: str = "q_codes",
    k_cap: int | None = None,
    cell_target: int | None = None,
    k_min: int = 8,
) -> DataFrame:
    """BIT-EXACT distributed k-means (Lloyd's) over integer-quantized
    vectors — the topic/semantic-balancing clustering step of a
    curation pipeline, made engine-reproducible.

    Float k-means cannot be oracle-checked across engines: centroid
    means depend on float summation order, and a one-ulp wobble flips
    boundary assignments. Operating on int8 codes (quantize_embeddings)
    removes all of it: squared distances are exact bigints, centroid
    updates are floor(sum/count) on exact integer sums, and ties break
    on the smallest centroid id — every iteration is a pure function
    of the input on any engine, partitioning, or rerun.

    Input codes: pass quantize_embeddings_global's shared-scale codes
    when clusters must reflect true inter-vector geometry; the
    per-vector-scale codes (quantize_embeddings) cluster direction
    patterns irrespective of magnitude — both are meaningful, pick
    per use case.

    Deterministic init: every k_every-th id seeds a centroid. Each
    iteration broadcasts the K centroids (≤ K·dims ints), assigns
    scan-side, and updates via one map-side-combinable shuffle on
    (cid, dim) — the corpus never shuffles its vectors. iters is fixed
    (not convergence-tested) so plan construction stays action-free.

    `k_cap` bounds the codebook: seeds come only from ids below
    k_every * k_cap, so K stays ≤ k_cap however large the corpus
    grows. Without it K = N / k_every — linear in corpus size, which
    turns the broadcast-assign into O(N²/k_every) work at 100 TB.
    Every production entry point passes a cap; None is the
    small-corpus/backwards-compatible default.

    `cell_target` AUTO-SCALES the cap with the data (the r05 verdict's
    semdedup finding: a FIXED k_cap makes any within-cell O(cell²)
    consumer O(N²/K) — 6.1x wall-clock at 10x data): k_cap is derived
    as max(k_min, ceil(n / cell_target)) from a one-row corpus count,
    so expected cell size stays ~cell_target (executor-sized) however
    large N grows and downstream Σ O(cell²) stays O(N·cell_target) —
    linear. The count is ONE bounded driver-side action at plan-build
    time (it also warms the Lloyd persist), the single deliberate
    exception to this module's action-free-construction rule.
    Mutually exclusive with an explicit k_cap.

    Returns (id_col, cluster_id, sq_dist).
    """
    # LAZY persists keep the Lloyd chain flat: without them iteration
    # i's broadcast-centroid job re-executes every earlier iteration's
    # assign (work grows 1+2+…+iters, and Catalyst replans the
    # deepening tree each time — measured 9.1 → ~4.5 s at sf0.1).
    # `vectors` here is the QUANTIZED code corpus (ints, not raw
    # floats) — caching it for an iterative clusterer is the standard
    # k-means shape (MEMORY_AND_DISK spills at scale); each cents pin
    # is ≤ K rows. Cache lifetime is the caller's responsibility
    # (bench.py / oracle_check clear between queries). Construction
    # stays action-free: persist() is lazy.
    vectors = vectors.persist()
    if cell_target is not None:
        if k_cap is not None:
            raise ValueError("pass either k_cap or cell_target, not both")
        # exact integer ceil(n / cell_target); the oracle spells the
        # same value greatest(k_min, ceil(count(*) / cell_target)) —
        # double division is exact-enough here (n < 2^53, quotient
        # error ~1e-13 cannot cross the 1/cell_target gap to an int)
        n = vectors.count()
        k_cap = max(k_min, -(-n // cell_target))
    seed = F.col(id_col) % k_every == 0
    if k_cap is not None:
        seed = seed & (F.col(id_col) < k_every * k_cap)
    cents = vectors.filter(seed).select(
        F.col(id_col).alias("_cid"), F.col(codes_col).alias("_cv")
    )
    for _ in range(iters):
        assigned = _kmeans_assign(vectors, cents, id_col, codes_col)
        by_dim = assigned.select(
            "_cid", F.posexplode(F.col(codes_col)).alias("_pos", "_v")
        )
        # floor(sum::double / count) — identical IEEE spelling in the
        # DuckDB oracle (integer `div` truncates toward zero in Spark
        # but floors in DuckDB, so the double floor is the portable
        # form; sums stay far below 2^53 exactness)
        means = by_dim.groupBy("_cid", "_pos").agg(
            F.floor(F.sum("_v").cast("double") / F.count(F.lit(1))).cast("int").alias("_m")
        )
        cents = means.groupBy("_cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_m"))), lambda s: s["_m"]
            ).alias("_cv")
        ).coalesce(1).persist()
        # coalesce(1): cents is ≤ k_cap rows — the next assign's
        # collect-to-one-row aggregate otherwise pays 32 task launches
        # per Lloyd round for a handful of rows (r9 train_bpe lesson)
    return _kmeans_assign(vectors, cents, id_col, codes_col).select(
        id_col,
        F.col("_cid").alias("cluster_id"),
        F.col("_d2").alias("sq_dist"),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): per-subspace codebooks + asymmetric
# distance computation — the compressed-index ANN layout (IVF-PQ
# minus the IVF list, which composes from knn_ivf's cells).
# ---------------------------------------------------------------------------


def _pq_subspaces(
    df: DataFrame,
    n_sub: int,
    id_col: str,
    codes_col: str,
    out_col: str = "_sc",
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """(id, [extra…], sub, subvector) — slice each vector into n_sub
    contiguous subspaces. Width is derived in-plan from
    size(codes)/n_sub (no driver action); callers must feed vectors
    whose dim divides n_sub. Narrow scan-side explode of n_sub short
    arrays. `extra_cols` ride along unchanged (the residual path keys
    query slices by (query, probed cell))."""
    extra = list(extra_cols or [])
    w = (F.size(F.col(codes_col)) / n_sub).cast("int")
    entries = F.array(
        *[
            F.struct(
                F.lit(s).cast("int").alias("sub"),
                F.slice(F.col(codes_col), F.lit(s) * w + 1, w).alias("sc"),
            )
            for s in range(n_sub)
        ]
    )
    return df.select(F.col(id_col), *extra, F.explode(entries).alias("_e")).select(
        id_col, *extra, F.col("_e.sub").alias("sub"), F.col("_e.sc").alias(out_col)
    )


def _pq_assign(subs: DataFrame, cents: DataFrame, id_col: str) -> DataFrame:
    """Nearest codebook entry per (vector, subspace): the per-subspace
    codebooks collapse into n_sub broadcast rows (sorted (cid, cv)
    struct arrays), the join on sub is a broadcast hash join, and the
    winner is a scan-side array_min over (d2, cid) structs — same
    smallest-distance-then-smallest-cid semantics as a row_number
    window with no ×K explosion and no per-(vector, sub) sort (see
    _kmeans_assign)."""
    cents_by_sub = cents.groupBy("sub").agg(
        F.sort_array(F.collect_list(F.struct("_cid", "_cv"))).alias("_cents")
    )
    best = F.array_min(
        F.transform(
            F.col("_cents"),
            lambda c: F.struct(
                _sq_dist(F.col("_sc"), c["_cv"]).alias("_d2"),
                c["_cid"].alias("_cid"),
            ),
        )
    )
    return (
        subs.join(F.broadcast(cents_by_sub), "sub")
        .withColumn("_best", best)
        .withColumn("_d2", F.col("_best._d2"))
        .withColumn("_cid", F.col("_best._cid"))
        .drop("_best", "_cents")
    )


def _pq_train(
    subs: DataFrame,
    k_every: int,
    iters: int,
    id_col: str,
    k_cap: int | None,
) -> DataFrame:
    """Lloyd's over pre-built (persisted) subspace slices. Split out
    so knn_pq/knn_ivfpq can train and encode from ONE cached `subs`
    instead of re-deriving the slice (scan + quantize + explode) per
    consumer. Each cents pin is ≤ n_sub × K rows; blocks are
    GC-reclaimed with the RDD reference.

    BOUNDED-ACTION NOTE (r9): the per-iteration pins are lazy
    ``pin()`` calls, which under AQE run the iteration's jobs at
    BUILD time (same documented tradeoff as semdedup's barrier) —
    callers of the pq family are exempt from the action-free
    construction test. The checkpoint (unlike persist) truncates the
    logical plan, so iteration i+1's analysis no longer re-walks
    every prior iteration's HOF assign tree."""
    seed = F.col(id_col) % k_every == 0
    if k_cap is not None:
        seed = seed & (F.col(id_col) < k_every * k_cap)
    cents = subs.filter(seed).select(
        "sub", F.col(id_col).alias("_cid"), F.col("_sc").alias("_cv")
    )
    for _ in range(iters):
        assigned = _pq_assign(subs, cents, id_col)
        by_dim = assigned.select(
            "sub", "_cid", F.posexplode(F.col("_sc")).alias("_pos", "_v")
        )
        means = by_dim.groupBy("sub", "_cid", "_pos").agg(
            F.floor(F.sum("_v").cast("double") / F.count(F.lit(1))).cast("int").alias("_m")
        )
        # lazy pin, not persist: the pin must also TRUNCATE the
        # logical plan — each Lloyd iteration otherwise
        # re-analyzes the whole HOF-heavy assign tree of every prior
        # iteration (the round-8 semdedup barrier class), and with
        # 2 consumers per cents (next assign + final encode) Catalyst
        # planning dominated knn_ivfpq's wall-clock. ≤ n_sub × K rows
        # per pin; blocks are GC-reclaimed with the RDD reference.
        cents = pin(
            means.groupBy("sub", "_cid").agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_m"))), lambda s: s["_m"]
                ).alias("_cv")
            ),
            "bounded",
        )
    return cents


def pq_codes(
    vectors: DataFrame,
    n_sub: int = 4,
    k_every: int = 50,
    iters: int = 2,
    id_col: str = "vec_id",
    codes_col: str = "q_codes",
    k_cap: int | None = None,
) -> DataFrame:
    """PQ-encode the corpus: (id, sub, code_id, sq_dist) — each vector
    compresses to n_sub codebook ids (the 100 TB index layout:
    n_sub × ~1 byte per vector instead of dim × 4). One broadcast
    assign over the trained codebooks, reading the SAME cached
    subspace slice the training loop used."""
    subs = _pq_subspaces(vectors, n_sub, id_col, codes_col).persist()
    cents = _pq_train(subs, k_every, iters, id_col, k_cap)
    return _pq_assign(subs, cents, id_col).select(
        id_col, "sub", F.col("_cid").alias("code_id"), F.col("_d2").alias("sq_dist")
    )


def knn_pq(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_sub: int = 4,
    k_every: int = 50,
    iters: int = 2,
    id_col: str = "vec_id",
    codes_col: str = "q_codes",
    k_cap: int | None = None,
) -> DataFrame:
    """ANN top-k by asymmetric distance computation (ADC) over the PQ
    index: each query precomputes a distance table (its exact sq
    distance to every codebook entry, Q × n_sub × K rows — tiny,
    broadcast), and a corpus vector's approximate distance is the SUM
    OF TABLE LOOKUPS for its n_sub stored codes. The corpus side
    never touches a query vector or a float: it joins its (sub,
    code_id) pairs against the broadcast table and partial-aggregates
    the n_sub lookups per (query, vector) — one map-side-combinable
    shuffle, then a per-query top-k window. Exact bigint arithmetic
    end to end, so rank order is engine-reproducible.

    Returns (query_id, neighbor_id, adist, rank)."""
    # the quantized corpus, its subspace slice, and the trained
    # codebooks each feed MULTIPLE consumers; LAZY persists keep the
    # iterative Lloyd chain from re-executing per consumer while
    # construction stays action-free (same pattern as
    # tfidf_cosine_pairs' postings pin). Cache lifetime is the
    # CALLER's responsibility — unpersist (or catalog.clearCache, as
    # bench.py does per query) after the consuming action, since this
    # builder never sees one.
    vectors = vectors.persist()
    subs = _pq_subspaces(vectors, n_sub, id_col, codes_col).persist()
    # _pq_train's output is already checkpoint-pinned; a second
    # persist layer only adds cache-write cost
    cents = _pq_train(subs, k_every, iters, id_col, k_cap)
    corpus = _pq_assign(subs, cents, id_col)
    qsubs = _pq_subspaces(
        queries.select(F.col(id_col).alias("query_id"), codes_col),
        n_sub,
        "query_id",
        codes_col,
    )
    qd2 = F.aggregate(
        F.zip_with(
            F.col("_sc"), F.col("_cv"),
            lambda a, b: ((a - b).cast("bigint") * (a - b).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    dtable = (
        qsubs.join(F.broadcast(cents), "sub")
        .withColumn("_qd2", qd2)
        .select("query_id", "sub", F.col("_cid").alias("code_id"), "_qd2")
    )
    adist = (
        corpus.select(id_col, "sub", F.col("_cid").alias("code_id"))
        .join(F.broadcast(dtable), ["sub", "code_id"])
        .filter(F.col("query_id") != F.col(id_col))
        .groupBy("query_id", id_col)
        .agg(F.sum("_qd2").alias("adist"))
    )
    w = Window.partitionBy("query_id").orderBy("adist", id_col)
    return (
        adist.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "adist", "rank")
    )


def hard_negatives(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query,
    the top-k most cosine-similar vectors whose label DIFFERS — the
    negatives closest to the decision boundary, which is what a
    contrastive/triplet objective wants in its batch. Same broadcast
    shape as knn_bruteforce (queries broadcast against the vector
    scan), with the different-label predicate applied scan-side
    BEFORE the ranking window so same-class pairs never enter the
    top-k sort. For corpora past brute-force reach, swap the scored
    source for the IVF cells or PQ ADC distances — the mining
    filter/rank composes unchanged.

    Output: query_id, neighbor_id, neighbor_label, score, rank."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double(F.col(vec_col)).alias("qv"),
        F.col(label_col).alias("_qlabel"),
    )
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("nv"),
        F.col(label_col).alias("neighbor_label"),
    )
    scored = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("_qlabel") != F.col("neighbor_label"))
        .withColumn("score", cosine(F.col("qv"), F.col("nv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "neighbor_label", "score", "rank")
    )


def knn_ivfpq(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 3,
    coarse_every: int = 25,
    n_sub: int = 4,
    k_every: int = 50,
    iters: int = 2,
    k_cap: int | None = None,
    id_col: str = "vec_id",
    codes_col: str = "q_codes",
    by_residual: bool = False,
) -> DataFrame:
    """IVF-PQ: the production ANN composition — a coarse inverted
    file gates WHICH vectors are scored, product quantization decides
    HOW CHEAPLY. The corpus is assigned once to deterministic coarse
    cells (every coarse_every-th id; exact integer distance) and
    PQ-encoded once; a query probes only its nprobe nearest cells and
    scores candidates by ADC table lookups — total per-query work is
    O(K_coarse + nprobe/K_coarse · N · n_sub lookups) instead of
    O(N · dim) floats.

    `by_residual=False` trains codebooks on raw vectors (FAISS's
    by_residual=false flavor). `by_residual=True` is the
    production-accuracy step: codebooks are trained on and encode the
    CELL RESIDUAL (codes − assigned cell centroid) — residual vectors
    concentrate near the origin, so the same codebook budget spends
    its resolution where the data is, and the query builds one
    distance table per PROBED CELL from its residual to that cell.
    Both flavors stay replayable pure functions (integer residuals,
    exact bigint distances), which is what lets the DuckDB oracle
    check the whole index bit-for-bit.

    Plan shape: the scan-side cell assign and the probe-cell pick are
    both array_min/array_sort over ONE broadcast centroid row (no ×K
    explosion — see _kmeans_assign); the only corpus shuffles are the
    id-keyed cells/residual join and the final (query, vec) partial
    aggregation — the residual path adds NO extra corpus shuffle (the
    cell-centroid join is against the broadcast K_coarse rows).
    Returns (query_id, neighbor_id, adist, rank)."""
    # lazy pins (quantized corpus, subspace slice, codebooks — each
    # has 2+ consumers); cache lifetime is the CALLER's
    # responsibility — see knn_pq's note.
    vectors = vectors.persist()
    cap = (F.col(id_col) % coarse_every == 0)
    if k_cap is not None:
        cap = cap & (F.col(id_col) < coarse_every * k_cap)
    coarse = vectors.filter(cap).select(
        F.col(id_col).alias("_cid"), F.col(codes_col).alias("_cv")
    )
    assigned_cells = _kmeans_assign(vectors, coarse, id_col, codes_col).select(
        id_col, codes_col, F.col("_cid").alias("cell")
    )
    residual = F.zip_with(F.col(codes_col), F.col("_ccv"), lambda a, b: a - b)
    if by_residual:
        # integer residual vs the OWN cell's centroid; the centroid
        # lookup is a broadcast join against the K_coarse rows
        rvec = (
            assigned_cells.join(
                F.broadcast(
                    coarse.select(F.col("_cid").alias("cell"), F.col("_cv").alias("_ccv"))
                ),
                "cell",
            )
            .select(id_col, "cell", residual.alias("_rc"))
        )
        subs = _pq_subspaces(rvec, n_sub, id_col, "_rc", extra_cols=["cell"]).persist()
        corpus_src = subs
    else:
        subs = _pq_subspaces(vectors, n_sub, id_col, codes_col).persist()
        corpus_src = None
    # _pq_train's output is already checkpoint-pinned; a second
    # persist layer only adds cache-write cost
    cents = _pq_train(subs, k_every, iters, id_col, k_cap)
    if by_residual:
        corpus = _pq_assign(corpus_src, cents, id_col).select(
            id_col, "cell", "sub", F.col("_cid").alias("code_id")
        )
    else:
        corpus = (
            _pq_assign(subs, cents, id_col)
            .select(id_col, "sub", F.col("_cid").alias("code_id"))
            .join(assigned_cells.select(id_col, "cell"), id_col)
        )

    coarse_row = coarse.groupBy().agg(
        F.sort_array(F.collect_list(F.struct("_cid", "_cv"))).alias("_cents")
    )
    ranked_cells = F.slice(
        F.array_sort(
            F.transform(
                F.col("_cents"),
                lambda c: F.struct(
                    _sq_dist(F.col(codes_col), c["_cv"]).alias("_d2"),
                    c["_cid"].alias("_cid"),
                    c["_cv"].alias("_ccv"),
                ),
            )
        ),
        1,
        nprobe,
    )
    qprobe = (
        queries.select(F.col(id_col).alias("query_id"), codes_col)
        .crossJoin(F.broadcast(coarse_row))
        .select("query_id", codes_col, F.explode(ranked_cells).alias("_pc"))
        .select(
            "query_id",
            codes_col,
            F.col("_pc._cid").alias("cell"),
            F.col("_pc._ccv").alias("_ccv"),
        )
    )
    qd2 = F.aggregate(
        F.zip_with(
            F.col("_sc"), F.col("_cv"),
            lambda a, b: ((a - b).cast("bigint") * (a - b).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    if by_residual:
        # one distance table per (query, probed cell): the query's
        # residual to THAT cell vs the shared residual codebooks
        qres = qprobe.select("query_id", "cell", residual.alias("_rq"))
        qsubs = _pq_subspaces(qres, n_sub, "query_id", "_rq", extra_cols=["cell"])
        probe_table = (
            qsubs.join(F.broadcast(cents), "sub")
            .withColumn("_qd2", qd2)
            .select("query_id", "cell", "sub", F.col("_cid").alias("code_id"), "_qd2")
        )
    else:
        qsubs = _pq_subspaces(
            queries.select(F.col(id_col).alias("query_id"), codes_col),
            n_sub,
            "query_id",
            codes_col,
        )
        dtable = (
            qsubs.join(F.broadcast(cents), "sub")
            .withColumn("_qd2", qd2)
            .select("query_id", "sub", F.col("_cid").alias("code_id"), "_qd2")
        )
        probe_table = qprobe.select("query_id", "cell").join(dtable, "query_id")
    adist = (
        corpus.join(F.broadcast(probe_table), ["cell", "sub", "code_id"])
        .filter(F.col("query_id") != F.col(id_col))
        .groupBy("query_id", id_col)
        .agg(F.sum("_qd2").alias("adist"))
    )
    w = Window.partitionBy("query_id").orderBy("adist", id_col)
    return (
        adist.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "adist", "rank")
    )


def quantize_embeddings_global(
    df: DataFrame, vec_col: str = "embedding", max_code: int = 127
) -> DataFrame:
    """int8 quantization with ONE corpus-wide scale (max |x| over all
    vectors, derived in-plan as a broadcast one-row aggregate — no
    driver action). Per-vector scaling (quantize_embeddings) is the
    right STORAGE layout (each vector uses its full code range), but
    integer distances between codes of differently-scaled vectors are
    not comparable — any index that ranks ACROSS vectors (PQ, ADC,
    integer k-means) needs this shared-scale variant. max is
    order-independent, so the codes are engine- and
    partitioning-reproducible.

    Adds q_codes; keeps id/other columns."""
    e = as_double(F.col(vec_col))
    with_e = df.withColumn("_e", e)
    gmax = with_e.agg(
        F.max(F.array_max(F.transform(F.col("_e"), F.abs))).alias("_gmax")
    )
    scale = F.when(F.col("_gmax") > 0, F.col("_gmax") / F.lit(float(max_code))).otherwise(
        F.lit(1.0)
    )
    return (
        with_e.crossJoin(F.broadcast(gmax))
        .withColumn("_scale", scale)
        .withColumn(
            "q_codes",
            F.transform(
                F.col("_e"), lambda x: F.floor(x / F.col("_scale") + F.lit(0.5)).cast("int")
            ),
        )
        .drop("_e", "_gmax", "_scale")
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 10,
    c: int = 60,
    query_col: str = "query_id",
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion for hybrid retrieval: each system's
    contribution is 1/(c + rank) and a candidate's score is the sum
    over systems (Cormack et al. 2009's robust rank combiner — no
    score calibration needed between BM25 and cosine). The inputs are
    ranked frames (query_col, id_col, rank); systems combine via
    full-outer joins IN LIST ORDER and a fixed chain of coalesce
    additions — never a SUM aggregate — so the double arithmetic has
    one deterministic association order on any engine or
    partitioning.

    Scale: ranked lists are per-query top-N (tiny relative to the
    corpus); the joins are on (query, id) keys of those lists only."""
    from functools import reduce

    contribs = [
        r.select(
            query_col,
            id_col,
            (F.lit(1.0) / (F.lit(float(c)) + F.col("rank").cast("double"))).alias(
                f"_s{i}"
            ),
        )
        for i, r in enumerate(rankings)
    ]
    fused = reduce(lambda a, b: a.join(b, [query_col, id_col], "outer"), contribs)
    score = reduce(
        lambda x, y: x + y,
        [F.coalesce(F.col(f"_s{i}"), F.lit(0.0)) for i in range(len(rankings))],
    )
    w = Window.partitionBy(query_col).orderBy(F.col("rrf_score").desc(), F.col(id_col))
    return (
        fused.withColumn("rrf_score", F.round(score, 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_col, id_col, "rrf_score", "rank")
    )


def embedding_second_moments(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """EXACT whitening/PCA statistics over the embedding corpus: the
    integer second-moment matrix of the globally-quantized codes.

    Covariance (and thus PCA/whitening transforms) is fully
    determined by (n, per-dim sums, pairwise product sums). Floats
    make those sums order-dependent; int8 codes make every entry an
    exact bigint (|code| <= 127 ⇒ a product is <= 16129, summed over
    even 10^12 rows stays far under 2^63), so the statistics are
    engine- and partition-reproducible and the driver can hash-check
    them. The eigen-solve itself is a tiny d×d driver-side problem
    downstream — the distributed part is exactly this operator.

    Plan: one broadcast one-row scale agg (quantize_embeddings_global)
    → scan-side upper-triangle pair explode (d(d+1)/2 structs per
    vector) → one map-side-combined SUM keyed by (i, j). Output:
    (i, j, sum_prod, sum_i, sum_j, n) for i <= j.
    """
    q = quantize_embeddings_global(df, vec_col).select("q_codes")
    pair_structs = F.expr(
        "flatten(transform(q_codes, (vi, i) -> "
        "transform(sequence(i, size(q_codes) - 1), j -> "
        "struct(i AS i, j AS j, "
        "cast(vi AS BIGINT) * cast(element_at(q_codes, j + 1) AS BIGINT) AS p))))"
    )
    moments = (
        q.select(F.explode(pair_structs).alias("s"))
        .select("s.i", "s.j", "s.p")
        .groupBy("i", "j")
        .agg(F.sum("p").cast("bigint").alias("sum_prod"))
    )
    sums = (
        q.select(F.posexplode("q_codes").alias("i", "v"))
        .groupBy("i")
        .agg(F.sum("v").cast("bigint").alias("dim_sum"))
    )
    n = q.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return (
        moments.join(sums.withColumnRenamed("dim_sum", "sum_i"), "i")
        .join(
            sums.withColumnRenamed("dim_sum", "sum_j").withColumnRenamed("i", "j"), "j"
        )
        .crossJoin(F.broadcast(n))
        .select(
            F.col("i").cast("bigint").alias("i"),
            F.col("j").cast("bigint").alias("j"),
            "sum_prod",
            "sum_i",
            "sum_j",
            "n",
        )
    )


# Sentinel for semdedup's k_cap default: distinguishes "caller said
# nothing" (→ 100, or derived when cell_target is set) from an
# EXPLICIT k_cap, so k_cap + cell_target together raise the same
# ValueError as kmeans_codes instead of silently dropping the cap.
_K_CAP_UNSET = object()


def semdedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k_every: int = 25,
    iters: int = 1,
    k_cap=_K_CAP_UNSET,
    eps_num: int = 95,
    eps_den: int = 100,
    cell_target: int | None = None,
    coarse_stride: int | None = None,
    pin_assign: bool = True,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by
    clustering embeddings, then pruning within-cluster near-
    duplicates — pairwise comparisons happen ONLY inside a cluster,
    turning the O(N²) semantic-dup scan into Σ O(cell²).

    Engine-exact spelling: vectors are globally-scale-quantized
    (quantize_embeddings_global) so the k-means step is the bit-exact
    integer Lloyd's of kmeans_codes, and the within-cluster cosine
    test is an exact integer cross-multiplication —
        dot > 0  AND  dot² · eps_den² ≥ eps_num² · |a|² · |b|²
    — no sqrt, no float, no partition-order sensitivity. A vector is
    PRUNED when a more-senior (smaller-id) ε-neighbor exists in its
    cluster: the keep-one-representative policy of the paper, made
    deterministic.

    Returns (id, cluster_id, kept). Scale: the codes corpus shuffles
    once on cluster_id for the self-join; cluster sizes are bounded
    by k_cap's geometry (K ≈ N/k_every up to k_cap — at 100 TB pick
    k_cap so N/k_cap rows fit an executor, exactly the IVF cell
    math). Better: pass cell_target instead of k_cap and the cap is
    DERIVED as ceil(n/cell_target) from a one-row count, keeping the
    within-cluster pair stage O(N·cell_target) — linear — as the
    corpus grows (a fixed cap makes it O(N²/K); the r05 scale probe
    measured 6.1x wall-clock at 10x data under k_cap=100)."""
    if cell_target is not None:
        # An explicit k_cap=None is the documented "uncapped" spelling
        # and is exactly what cell_target derives anyway — only a
        # non-None explicit cap conflicts with cell_target.
        if k_cap is not _K_CAP_UNSET and k_cap is not None:
            raise ValueError("pass either k_cap or cell_target, not both")
        k_cap = None  # derived inside kmeans_codes from the count
    elif k_cap is _K_CAP_UNSET:
        k_cap = 100  # the documented small-corpus default
    codes = quantize_embeddings_global(df, vec_col).select(id_col, "q_codes")
    if coarse_stride is not None:
        # IVF-style two-level assign: per-point work O(√K·d) instead
        # of O(K·d) — the scale path when cell_target makes K ∝ N
        clusters = kmeans_codes_2level(
            codes,
            k_every=k_every,
            iters=iters,
            id_col=id_col,
            k_cap=k_cap,
            cell_target=cell_target,
            coarse_stride=coarse_stride,
        ).select(id_col, "cluster_id")
    else:
        clusters = kmeans_codes(
            codes,
            k_every=k_every,
            iters=iters,
            id_col=id_col,
            k_cap=k_cap,
            cell_target=cell_target,
        ).select(id_col, "cluster_id")
    sq = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x.cast("long") * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # self-norms computed ONCE per vector (scan-side) and carried
    # into the pair join — recomputing them per candidate pair would
    # triple the interpreted-HOF element ops in the O(cell²) stage.
    # Lazy checkpoint (eager=False: construction stays action-free):
    # this relation has TWO consumers — the per-cell collect_list
    # aggregate (cells) and the final peers/cluster_id join — so
    # without the barrier the whole quantize+Lloyd+assign chain
    # re-executes once per consumer (measured ~2.5x wall-clock on
    # the bench tail before the r13 exists-prune rewrite).
    # with_c is CORPUS-SCALE (one row per vector: id, codes, cluster,
    # norm); pin_assign=False keeps the lineage-recoverable plan
    # (tradeoff: pin()).
    with_c = pin(
        codes.join(clusters, id_col).withColumn("_n2", sq(F.col("q_codes"))),
        "corpus",
        enabled=pin_assign,
    )
    # Within-cluster prune as ONE collect + short-circuiting exists
    # (r13 — replaces the cluster self-join + distinct + keep/prune
    # left join, ~35% of the query's exec): each cluster's peers
    # collapse into one bounded array (≤ ~cell_target rows by the
    # k_cap geometry — the same bound that makes the old self-join
    # Σ O(cell²)); a vector is pruned when a more-senior (smaller-id)
    # ε-neighbor EXISTS in its cluster's array. F.exists short-
    # circuits at the first senior match (the old spelling computed
    # every pair's dot and shuffled all surviving pair rows through a
    # distinct), the `_pid < id` conjunct fails fast for juniors
    # without touching the dot fold, and the peers join is
    # merge-hinted so the corpus-scale cell relation is never
    # broadcast on a post-aggregate size guess (the r13 minhash
    # lesson) AND the build stays spill-safe: sort-merge spills to
    # disk under a hot cluster_id, where ShuffledHashJoin's
    # per-partition map would OOM the task (ADVICE r13).
    # Same outputs row-for-row: (id, cluster_id, kept).
    cells = with_c.groupBy("cluster_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(id_col).alias("_pid"),
                    F.col("q_codes").alias("_pc"),
                    F.col("_n2").alias("_pn"),
                )
            )
        ).alias("_peers")
    )
    # seniors filtered WITHOUT touching codes (cheap id compare), then
    # each senior's dot fold evaluates exactly ONCE inside a transform
    # (interpreted HOF lambdas re-evaluate per reference — the r5
    # lesson — so the ε-test reads the materialized struct field, not
    # the fold)
    seniors = F.filter(F.col("_peers"), lambda p: p["_pid"] < F.col(id_col))
    sdots = F.transform(
        seniors,
        lambda p: F.struct(
            F.aggregate(
                F.zip_with(
                    p["_pc"], F.col("q_codes"), lambda x, y: x.cast("long") * y
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("_d"),
            p["_pn"].alias("_n"),
        ),
    )
    pruned = F.exists(
        sdots,
        lambda t: (t["_d"] > 0)
        & (
            t["_d"] * t["_d"] * F.lit(eps_den * eps_den)
            >= F.lit(eps_num * eps_num) * t["_n"] * F.col("_n2")
        ),
    )
    return (
        with_c.join(cells.hint("merge"), "cluster_id")
        .select(id_col, "cluster_id", (~pruned).alias("kept"))
    )


def mmr_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    rel_w: int = 2,
    div_w: int = 1,
    qid_col: str = "qid",
    did_col: str = "did",
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998): per
    query, greedily select k documents maximizing
        rel_w · rel(q, d) − div_w · max_{s ∈ selected} sim(d, s)
    — the diversity-aware rerank of a retrieval stack, which plain
    top-k cannot express (each pick depends on the picks before it).

    Physical design: relevance dots are computed scan-side (codegen'd
    zip_with/aggregate over the broadcast query set); the greedy loop
    itself is ONE applyInPandas over qid groups — the candidate set
    per query is bounded by construction (in production MMR reranks a
    per-query top-N list from knn_*, so each group is N rows), making
    per-group local selection the correct distributed shape: one
    shuffle on qid, then k·N int64 numpy dot-max updates per group.
    A first cut unrolled the k steps as k joined/windowed stages; the
    triple self-reference per step grew the logical plan ~3^k and
    Catalyst analysis alone took longer than the whole pandas path.

    Integer-exact: queries carry `q_codes`, corpus `d_codes` (shared-
    scale int codes from quantize_embeddings_global); rel and sim are
    exact int64 dot products, λ the rational rel_w:div_w, ties break
    on smallest did — bit-stable anywhere, so the DuckDB oracle
    replays all k greedy steps verbatim.

    Returns (qid, rank, did, score): rank 1 is pure relevance (no
    selected set yet); later ranks carry the MMR score.
    """
    import pandas as pd

    q = queries.select(F.col(qid_col).alias("qid"), F.col("q_codes"))
    c = corpus.select(F.col(did_col).alias("did"), F.col("d_codes"))
    dot_qc = F.aggregate(
        F.zip_with(F.col("q_codes"), F.col("d_codes"), lambda x, y: x.cast("long") * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cand = (
        c.crossJoin(F.broadcast(q))
        .withColumn("rel", dot_qc)
        .select("qid", "did", "rel", "d_codes")
    )
    return mmr_rerank_pairs(cand, k=k, rel_w=rel_w, div_w=div_w)


def mmr_rerank_pairs(
    cand: DataFrame,
    k: int = 5,
    rel_w: int = 2,
    div_w: int = 1,
) -> DataFrame:
    """MMR greedy selection over a PRECOMPUTED candidate set
    (qid, did, rel, d_codes) — the composition point: gate candidates
    however the index allows (IVF cells, BM25 top-N, a bloom filter)
    and rerank only the survivors. Same per-query applyInPandas
    greedy loop and integer contract as mmr_rerank."""
    import pandas as pd

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values("did").reset_index(drop=True)
        codes = np.array(pdf["d_codes"].tolist(), dtype=np.int64)
        rel = pdf["rel"].to_numpy(dtype=np.int64)
        dids = pdf["did"].to_numpy(dtype=np.int64)
        n = len(pdf)
        picked: list[int] = []
        scores: list[int] = []
        max_sim = None
        for t in range(min(k, n)):
            if t == 0:
                step = rel
            else:
                step = rel_w * rel - div_w * max_sim
            step = step.copy()
            if picked:
                step[np.array(picked)] = np.iinfo(np.int64).min
            i = int(np.argmax(step))  # first occurrence = smallest did
            picked.append(i)
            scores.append(int(step[i]) if t > 0 else int(rel[i]))
            sim_to_new = codes @ codes[i]
            max_sim = sim_to_new if max_sim is None else np.maximum(max_sim, sim_to_new)
        return pd.DataFrame(
            {
                "qid": pdf["qid"].iloc[:1].repeat(len(picked)).to_numpy(),
                "rank": np.arange(1, len(picked) + 1, dtype=np.int32),
                "did": dids[np.array(picked)],
                "score": np.array(scores, dtype=np.int64),
            }
        )

    return cand.groupBy("qid").applyInPandas(
        greedy, "qid long, rank int, did long, score long"
    )


def jl_project(
    df: DataFrame,
    dims: int,
    n_out: int = 8,
    vec_col: str = "q_codes",
    salt: str = "jl",
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with a
    deterministic ±1 sign matrix (Achlioptas 2003 database-friendly
    variant): output component p = Σ_d sign(p,d) · code_d, an exact
    bigint. Distances contract by ≈ √(n_out/dims) in expectation;
    the reduced vectors feed any downstream integer ANN at 1/8 the
    bytes and dot-product cost.

    The sign matrix is md5-parity derived (hashlib here, the md5()
    expression in the oracle — same digests) and rides as ONE
    broadcast row, same pattern as the LSH hyperplanes: no literal
    tree for Catalyst to chew, no shuffle — a pure scan-side
    projection at any scale. Adds `reduced` (array<long>)."""
    import hashlib

    signs = [
        [
            1
            if int(hashlib.md5(f"{salt}:{p}:{d}".encode()).hexdigest()[:15], 16) % 2 == 0
            else -1
            for d in range(dims)
        ]
        for p in range(n_out)
    ]
    srow = df.sparkSession.createDataFrame(
        [(signs,)], "_signs array<array<int>>"
    )
    reduced = F.transform(
        F.col("_signs"),
        lambda sv: F.aggregate(
            F.zip_with(F.col(vec_col), sv, lambda x, y: x.cast("long") * y),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ),
    )
    return (
        df.crossJoin(F.broadcast(srow)).withColumn("reduced", reduced).drop("_signs")
    )


def nearest_centroid_classify(
    df: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
    codes_col: str = "q_codes",
) -> DataFrame:
    """Rocchio / nearest-centroid classification over shared-scale
    integer codes: per-label centroids are floor(sum/count) integer
    means (ONE map-side-combined shuffle on (label, dim) — the
    kmeans update step with labels as fixed clusters), and prediction
    is the scan-side broadcast argmin of exact integer squared
    distance (_kmeans_assign — no ×K explosion). Returns
    (id, label, predicted, sq_dist, correct).

    The natural centroid-quality probe of an embedding pipeline:
    train/apply in one plan, resubstitution accuracy as the health
    metric."""
    by_dim = df.select(
        F.col(label_col).alias("_cid"), F.posexplode(F.col(codes_col)).alias("_pos", "_v")
    )
    means = by_dim.groupBy("_cid", "_pos").agg(
        F.floor(F.sum("_v").cast("double") / F.count(F.lit(1))).cast("int").alias("_m")
    )
    cents = means.groupBy("_cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_pos", "_m"))), lambda s: s["_m"]
        ).alias("_cv")
    )
    assigned = _kmeans_assign(df, cents, id_col, codes_col)
    return assigned.select(
        id_col,
        F.col(label_col),
        F.col("_cid").alias("predicted"),
        F.col("_d2").alias("sq_dist"),
        (F.col(label_col) == F.col("_cid")).alias("correct"),
    )


def centroid_outliers(
    df: DataFrame,
    id_col: str = "vec_id",
    codes_col: str = "q_codes",
    top_n: int = 100,
) -> DataFrame:
    """Global-centroid outlier scoring over integer codes — the
    embedding-space analogue of a quality filter: vectors farthest
    from the corpus centroid are candidate junk (mis-embedded,
    off-distribution, or adversarial documents) to route to review
    or prune before training.

    Engine-exact: the centroid is the per-dim floor(sum/count)
    integer mean (ONE map-side-combined shuffle on dim — the
    nearest_centroid_classify update step with a single global
    class), and the score is the exact bigint squared distance to
    it, so ranking is reproducible on any engine or partitioning.

    Scale: the centroid is a 1-row broadcast (≤ dims ints); scoring
    is scan-side; the global top-N is Spark's TakeOrdered (per-
    partition heaps, no full sort). Returns (id, sq_dist, rank) for
    the top_n farthest vectors, rank 1 = farthest, ties by id."""
    by_dim = df.select(F.posexplode(F.col(codes_col)).alias("_pos", "_v"))
    means = by_dim.groupBy("_pos").agg(
        F.floor(F.sum("_v").cast("double") / F.count(F.lit(1))).cast("int").alias("_m")
    )
    cent = means.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_pos", "_m"))), lambda s: s["_m"]
        ).alias("_cv")
    )
    scored = df.crossJoin(F.broadcast(cent)).withColumn(
        "sq_dist",
        F.aggregate(
            F.zip_with(
                F.col(codes_col),
                F.col("_cv"),
                lambda a, b: (a.cast("long") - b.cast("long"))
                * (a.cast("long") - b.cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    top = scored.orderBy(F.col("sq_dist").desc(), F.col(id_col)).limit(top_n)
    # rank over the already-bounded top_n rows only (single tiny task)
    w = Window.orderBy(F.col("sq_dist").desc(), F.col(id_col))
    return top.withColumn("rank", F.row_number().over(w).cast("bigint")).select(
        id_col, "sq_dist", "rank"
    )


def cluster_size_profile(
    assigned: DataFrame, cluster_col: str = "cluster_id"
) -> DataFrame:
    """One-row health profile of a clustering/IVF assignment — the
    index-maintenance metric that decides when to re-train an ANN
    index: cell-size min/max and the skew ratio (max cell vs the
    uniform expectation N/K). A skew ≫ 1 means probe latency is
    dominated by one hot cell and the codebook should be re-seeded
    or the cap re-derived (the cell_target math).

    Exact arithmetic: all counts are bigints; skew is the single
    double division (max_cell·n_cells)/n_points, deterministic on
    any engine. One map-side-combinable shuffle on the cluster id,
    then a 1-row agg."""
    cells = assigned.groupBy(cluster_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("_sz")
    )
    return cells.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum("_sz").cast("bigint").alias("n_points"),
        F.min("_sz").cast("bigint").alias("min_cell"),
        F.max("_sz").cast("bigint").alias("max_cell"),
    ).select(
        "n_cells",
        "n_points",
        "min_cell",
        "max_cell",
        (
            (F.col("max_cell") * F.col("n_cells")).cast("double") / F.col("n_points")
        ).alias("skew"),
    )


def label_separation(
    df: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
    codes_col: str = "q_codes",
) -> DataFrame:
    """Embedding-space health report: per label, how tight is the
    class (mean squared distance to its OWN centroid) versus how far
    the nearest OTHER centroid sits — the Davies-Bouldin-flavored
    separation signal that tells a pipeline whether its labels (or
    clusters) are collapsing before anything downstream trains on
    them.

    Exact arithmetic end-to-end: integer-mean centroids, exact bigint
    squared distances, per-label bigint sums; the two mean divisions
    and the ratio are the only float ops (deterministic IEEE on exact
    inputs). Scan-side shape: centroids collapse to ONE broadcast row
    (K·dims ints); per-vector intra/other distances are a pure
    projection; one map-side-combined shuffle on the label."""
    by_dim = df.select(
        F.col(label_col).alias("_cid"), F.posexplode(F.col(codes_col)).alias("_pos", "_v")
    )
    means = by_dim.groupBy("_cid", "_pos").agg(
        F.floor(F.sum("_v").cast("double") / F.count(F.lit(1))).cast("int").alias("_m")
    )
    cents = means.groupBy("_cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_pos", "_m"))), lambda s: s["_m"]
        ).alias("_cv")
    )
    cents_row = cents.groupBy().agg(
        F.sort_array(F.collect_list(F.struct("_cid", "_cv"))).alias("_cents")
    )
    dists = F.transform(
        F.col("_cents"),
        lambda c: F.struct(
            c["_cid"].alias("_cid"), _sq_dist(F.col(codes_col), c["_cv"]).alias("_d2")
        ),
    )
    with_d = (
        df.crossJoin(F.broadcast(cents_row))
        .withColumn("_ds", dists)
        .withColumn(
            "_intra",
            F.element_at(
                F.filter(F.col("_ds"), lambda s: s["_cid"] == F.col(label_col)), 1
            )["_d2"],
        )
        .withColumn(
            "_other",
            F.array_min(
                F.transform(
                    F.filter(F.col("_ds"), lambda s: s["_cid"] != F.col(label_col)),
                    lambda s: s["_d2"],
                )
            ),
        )
    )
    return (
        with_d.groupBy(label_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("_intra").cast("bigint").alias("_si"),
            F.sum("_other").cast("bigint").alias("_so"),
        )
        .select(
            label_col,
            "n",
            (F.col("_si").cast("double") / F.col("n")).alias("mean_intra_sq"),
            (F.col("_so").cast("double") / F.col("n")).alias("mean_other_sq"),
            F.round(
                (F.col("_so").cast("double") / F.col("n"))
                / (F.col("_si").cast("double") / F.col("n")),
                4,
            ).alias("separation"),
        )
    )


def pq_index_add(
    base: DataFrame,
    new: DataFrame,
    n_sub: int = 4,
    k_every: int = 50,
    iters: int = 2,
    k_cap: int | None = 100,
    coarse_every: int = 25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental ANN index maintenance: encode a NEW vector batch
    against a FROZEN index — the production lifecycle (FAISS
    add-after-train): quantization scale, coarse cells, and PQ
    codebooks are derived from the BASE corpus only; the new batch
    is scaled, cell-assigned, and PQ-encoded against them without
    touching base vectors or retraining anything.

    Per-batch cost is O(|new|) broadcast work (scale row, coarse
    row, codebook rows — all ≤ K·dims ints) + training over the base
    ONCE (amortized across batches when the codebooks are persisted
    to storage; here they rebuild in-plan so the oracle can replay
    end-to-end). The companion of incremental_near_dups for the ANN
    family. Returns (id, cell, sub, code_id, sq_dist) for the new
    batch."""
    e_b = base.withColumn("_e", as_double(F.col(vec_col)))
    e_n = new.withColumn("_e", as_double(F.col(vec_col)))
    gmax = e_b.agg(F.max(F.array_max(F.transform(F.col("_e"), F.abs))).alias("_gmax"))
    scale = F.when(
        F.col("_gmax") > 0, F.col("_gmax") / F.lit(127.0)
    ).otherwise(F.lit(1.0))

    def quant(df: DataFrame) -> DataFrame:
        return (
            df.crossJoin(F.broadcast(gmax))
            .withColumn("_scale", scale)
            .withColumn(
                "q_codes",
                F.transform(
                    F.col("_e"),
                    lambda x: F.floor(x / F.col("_scale") + F.lit(0.5)).cast("int"),
                ),
            )
            .select(id_col, "q_codes")
        )

    base_c = quant(e_b)
    new_c = quant(e_n)
    seed = F.col(id_col) % coarse_every == 0
    if k_cap is not None:
        seed = seed & (F.col(id_col) < coarse_every * k_cap)
    cc = base_c.filter(seed).select(
        F.col(id_col).alias("_cid"), F.col("q_codes").alias("_cv")
    )
    new_cells = _kmeans_assign(new_c, cc, id_col, "q_codes").select(
        id_col, F.col("_cid").alias("cell")
    )
    subs_base = _pq_subspaces(base_c, n_sub, id_col, "q_codes").persist()
    cents = _pq_train(subs_base, k_every, iters, id_col, k_cap)
    enc = _pq_assign(_pq_subspaces(new_c, n_sub, id_col, "q_codes"), cents, id_col)
    return enc.join(new_cells, id_col).select(
        id_col,
        "cell",
        "sub",
        F.col("_cid").alias("code_id"),
        F.col("_d2").alias("sq_dist"),
    )


def contrastive_triplets(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Contrastive training-pair assembly: per anchor, the nearest
    SAME-label vector is the positive and the nearest DIFFERENT-label
    vector the hard negative (both excluding self, deterministic id
    ties) — the triplet/InfoNCE mining step of embedding finetuning,
    with the margin as the difficulty signal.

    One scored pass (broadcast anchors × corpus, the knn_bruteforce
    shape) feeds BOTH windows; labels split the ranking, nothing is
    scored twice. Doubles follow the engine's bit-reproducible
    left-fold cosine, so the oracle matches exactly. Returns
    (anchor_id, positive_id, pos_score, negative_id, neg_score,
    margin)."""
    q = queries.select(
        F.col(id_col).alias("anchor_id"),
        as_double(F.col(vec_col)).alias("qv"),
        F.col(label_col).alias("qlabel"),
    )
    v = vectors.select(
        F.col(id_col).alias("nid"),
        as_double(F.col(vec_col)).alias("nv"),
        F.col(label_col).alias("nlabel"),
    )
    scored = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("anchor_id") != F.col("nid"))
        .withColumn("score", cosine(F.col("qv"), F.col("nv")))
        .withColumn("_same", F.col("qlabel") == F.col("nlabel"))
    )
    w = Window.partitionBy("anchor_id", "_same").orderBy(
        F.col("score").desc(), F.col("nid")
    )
    best = scored.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    pos = best.filter(F.col("_same")).select(
        "anchor_id", F.col("nid").alias("positive_id"), F.col("score").alias("pos_score")
    )
    neg = best.filter(~F.col("_same")).select(
        "anchor_id", F.col("nid").alias("negative_id"), F.col("score").alias("neg_score")
    )
    return pos.join(neg, "anchor_id").select(
        "anchor_id",
        "positive_id",
        "pos_score",
        "negative_id",
        "neg_score",
        (F.col("pos_score") - F.col("neg_score")).alias("margin"),
    )


def embedding_drift(
    snap_a: DataFrame,
    snap_b: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension drift between two embedding snapshots — the
    embedding-space counterpart of the token-level corpus_drift
    monitor: has the encoder (or the corpus it embeds) moved? One row
    per dimension with both snapshots' integer sufficient statistics
    and the exact mean shift in milli-code units.

    Both snapshots quantize under ONE shared scale (global max-|x|
    over the union — per-snapshot scales would make the means
    incomparable and silently absorb the drift being measured). The
    shift (1000·(sum_a·n_b − sum_b·n_a)) / (n_a·n_b) is emitted as a
    sign + non-negative magnitude pair, integer end-to-end: a signed
    single division would hit the floor-vs-truncate divergence
    between engines.

    Scale: union scan → broadcast one-row max → posexplode → ONE
    map-side-combinable groupBy on the dimension index; output
    cardinality = dims."""
    a = snap_a.select(F.col(vec_col).alias("_v")).withColumn("_snap", F.lit(0))
    b = snap_b.select(F.col(vec_col).alias("_v")).withColumn("_snap", F.lit(1))
    u = quantize_embeddings_global(a.unionAll(b), "_v")
    dims = u.select(
        "_snap", F.posexplode("q_codes").alias("dim", "c")
    ).withColumn("dim", F.col("dim").cast("bigint"))
    agg = dims.groupBy("dim").agg(
        F.sum(F.when(F.col("_snap") == 0, 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("_snap") == 1, 1).otherwise(0)).cast("bigint").alias("n_b"),
        F.sum(F.when(F.col("_snap") == 0, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("sum_a"),
        F.sum(F.when(F.col("_snap") == 1, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("sum_b"),
    )
    num = F.lit(1000) * (F.col("sum_a") * F.col("n_b") - F.col("sum_b") * F.col("n_a"))
    return agg.select(
        "dim",
        "n_a",
        "n_b",
        "sum_a",
        "sum_b",
        F.signum(num).cast("bigint").alias("shift_sign"),
        F.expr(
            "(1000 * abs(sum_a * n_b - sum_b * n_a)) div (n_a * n_b)"
        ).alias("shift_abs_milli"),
    )
