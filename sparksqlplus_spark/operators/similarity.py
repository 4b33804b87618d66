"""Similarity search over embedding columns (array<float>).

Engine extension (not in the reference). Two paths:

- :func:`cosine_topk` — brute-force exact top-k: fine when the query
  side is small (broadcast) — the O(N·Q) baseline.
- :func:`lsh_cosine_topk` — random-hyperplane LSH bucketing: at scale,
  candidates come from one shuffle on the bucket key instead of the
  full cross product; recall < 1 by construction.

All expression-level Spark SQL (``zip_with``/``aggregate`` fold the
dot products JVM-side; no Python UDFs in the hot path). Hyperplanes
are md5-derived so an SQL oracle can reproduce them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sparksqlplus_spark.expr_memo import expr_cache


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_similarity(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


@expr_cache
def _scored_cols(
    id_col: str, vec_col: str, query_id_col: str, query_vec_col: str
) -> tuple[Column, ...]:
    """The (query_id, neighbor_id, cosine) projection shared by the
    top-k rankers (memoized per name tuple — the cosine fold builds
    several higher-order-function lambdas through py4j on every call,
    ~0.1 s of per-call construction on the bench timing, round 18)."""
    sim = cosine_similarity(
        F.col(vec_col).cast("array<double>"),
        F.col(query_vec_col).cast("array<double>"),
    )
    return (
        F.col(query_id_col),
        F.col(id_col).alias("neighbor_id"),
        sim.alias("cosine"),
    )


@expr_cache
def _rank_window(query_id_col: str):
    """Per-query (cosine desc, neighbor asc) ranking window — a
    WindowSpec is as immutable as a Column, so it memoizes the same
    way."""
    return Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )


def cosine_topk(
    emb_df: DataFrame,
    query_df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    The query side is broadcast (small by contract); candidates rank
    per query with a deterministic tie-break on neighbor id.
    Self-matches (same id) are excluded.
    """
    q = F.broadcast(query_df)
    joined = emb_df.crossJoin(q).filter(F.col(id_col) != F.col(query_id_col))
    scored = joined.select(
        *_scored_cols(id_col, vec_col, query_id_col, query_vec_col)
    )
    w = _rank_window(query_id_col)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "cosine", "rank")
    )


def hyperplane_int(dim: int, plane_idx: int) -> list[int]:
    """Deterministic pseudo-random hyperplane with INTEGER components in
    [-1000, 1000]: component d of plane j =
    bigint(md5("{j}:{d}")[:13]) % 2001 - 1000 — reproducible in any
    engine with md5, and exact in integer arithmetic."""
    import hashlib

    out = []
    for d in range(dim):
        h = int(hashlib.md5(f"{plane_idx}:{d}".encode()).hexdigest()[:13], 16)
        out.append(h % 2001 - 1000)
    return out


def hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random hyperplane component values in [-1, 1]
    (the integer components of :func:`hyperplane_int` scaled by 1/1000)."""
    return [x / 1000.0 for x in hyperplane_int(dim, plane_idx)]


#: sign-decision quantization scale (a power of two, so ``x * QUANT`` is
#: exact for any float32-derived double)
LSH_QUANT = 1024


def lsh_bucket(
    vec_col: Column,
    dim: int,
    n_planes: int = 8,
    plane_offset: int = 0,
    quantize: int | None = LSH_QUANT,
) -> Column:
    """Sign-of-projection bit bucket (random-hyperplane LSH).

    ``plane_offset`` selects an independent plane family (planes
    ``offset .. offset+n_planes-1``) so callers can OR several bucket
    sets — the multi-band recall amplification trick.

    ``quantize`` (default on) makes the sign decision INTEGER-EXACT:
    the vector is quantized to ``floor(x * quantize)`` (exact — the
    scale is a power of two) and projected onto the integer hyperplane
    components, so every product and partial sum is an exactly
    representable integer and the ``>= 0`` decision is bit-identical in
    every engine at every summation order. Without it, a near-zero
    float projection can round to opposite signs in two engines that
    fold the dot product in different orders, silently desyncing an
    oracle's candidate set (a cross-engine flake class, not a Spark
    bug). ``quantize=None`` keeps raw-double projections.
    """
    bucket = F.lit(0).cast("long")
    v = vec_col.cast("array<double>")
    if quantize is not None:
        # floor() yields exact integral doubles; products with the
        # integer plane components stay ≲ 2^40 — exact in a double
        v = F.transform(v, lambda x: F.floor(x * F.lit(float(quantize))).cast("double"))
    for j in range(n_planes):
        plane = _plane_lit(dim, plane_offset + j, quantize is not None)
        bit = F.when(_dot(v, plane) >= 0, F.lit(2**j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bucket = bucket + bit
    return bucket


@expr_cache
def lsh_bucket_of(
    col_name: str,
    dim: int,
    n_planes: int = 8,
    plane_offset: int = 0,
    quantize: int | None = LSH_QUANT,
) -> Column:
    """:func:`lsh_bucket` of a named column, memoized per argument tuple:
    the plane fold is ``n_planes`` higher-order-function lambdas built
    through py4j (~0.1 s per bucket Column at dim 64), and the ANN and
    cosine-dedup operators build the same buckets on every call."""
    return lsh_bucket(F.col(col_name), dim, n_planes, plane_offset, quantize)


@expr_cache
def _plane_lit(dim: int, plane_idx: int, quantized: bool) -> Column:
    """One hyperplane as a literal array Column (memoized — the dim
    ``F.lit`` py4j round-trips per plane dominated lsh_bucket's
    per-call construction at dim=64)."""
    comps = (
        [float(x) for x in hyperplane_int(dim, plane_idx)]
        if quantized
        else hyperplane(dim, plane_idx)
    )
    return F.array(*[F.lit(x) for x in comps])


def ivf_cosine_topk(
    emb_df: DataFrame,
    query_df: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    seed: int = 42,
) -> DataFrame:
    """IVF-style ANN: coarse k-means quantization + probe-nearest-lists.

    The billion-vector scale path: vectors partition into `n_lists`
    Voronoi cells (one KMeans fit, deterministic via seed); each query
    scores only vectors in its `n_probe` closest cells — candidate
    volume drops by ~n_lists/n_probe versus brute force while the
    per-pair cosine stays exact. Centroids are tiny and broadcast.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = emb_df.select(
        F.col(id_col), array_to_vector(F.col(vec_col).cast("array<double>")).alias("fv")
    )
    model = KMeans(k=n_lists, seed=seed, featuresCol="fv", predictionCol="__list").fit(train)
    assigned = model.transform(train).select(id_col, "__list")
    e = emb_df.join(assigned, id_col)

    centers = model.clusterCenters()
    spark = emb_df.sparkSession
    centers_df = F.broadcast(
        spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(centers)],
            "__list int, centroid array<double>",
        )
    )
    # queries probe their n_probe nearest centroids
    q = query_df.crossJoin(centers_df)
    qdist = cosine_similarity(
        F.col(query_vec_col).cast("array<double>"), F.col("centroid")
    )
    wq = Window.partitionBy(query_id_col).orderBy(F.col("__cdist").desc(), F.col("__list"))
    probes = (
        q.withColumn("__cdist", qdist)
        .withColumn("__crank", F.row_number().over(wq))
        .filter(F.col("__crank") <= n_probe)
        .select(query_id_col, query_vec_col, "__list")
    )
    joined = e.join(F.broadcast(probes), "__list").filter(
        F.col(id_col) != F.col(query_id_col)
    )
    scored = joined.select(
        *_scored_cols(id_col, vec_col, query_id_col, query_vec_col)
    )
    w = _rank_window(query_id_col)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "cosine", "rank")
    )


def lsh_cosine_topk(
    emb_df: DataFrame,
    query_df: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Approximate top-k: rank only candidates in the query's LSH bucket.

    One equi-join on the bucket key (shuffle/broadcast decided by AQE);
    at 100 TB this is the difference between a bucket-local probe and an
    N×Q cross product.
    """
    e = emb_df.withColumn("__bucket", lsh_bucket_of(vec_col, dim, n_planes))
    q = query_df.withColumn("__bucket", lsh_bucket_of(query_vec_col, dim, n_planes))
    joined = e.join(F.broadcast(q), "__bucket").filter(
        F.col(id_col) != F.col(query_id_col)
    )
    scored = joined.select(
        *_scored_cols(id_col, vec_col, query_id_col, query_vec_col)
    )
    w = _rank_window(query_id_col)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "cosine", "rank")
    )


def _assign_to(
    emb_df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
    round_digits: int,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Max-cosine assignment against a python-side centroid list —
    the shared literal-fold projection behind :func:`centroid_assign`
    and :func:`kmeans_fit_assign` (zero shuffles, zero joins).
    ``extra_cols`` ride along unchanged (e.g. the vector itself for a
    following mean recompute, avoiding a join back)."""
    cents_lit = F.array(
        *[
            F.struct(
                F.lit(int(cid)).cast("bigint").alias("cid"),
                F.array(*[F.lit(float(x)) for x in cv]).alias("cv"),
            )
            for cid, cv in centroids
        ]
    )
    vec = F.col(vec_col).cast("array<double>")
    scored = F.transform(
        cents_lit,
        lambda c: F.struct(
            F.round(
                cosine_similarity(vec, c["cv"]), round_digits
            ).alias("cosine"),
            (-c["cid"]).alias("__negid"),
            c["cid"].alias("cid"),
        ),
    )
    best = F.array_max(scored)
    return emb_df.select(
        F.col(id_col),
        best["cid"].alias("cluster_id"),
        best["cosine"].alias("cosine"),
        *[F.col(c) for c in extra_cols],
    )


def kmeans_fit_assign(
    emb_df: DataFrame,
    k: int,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    mean_round_digits: int = 9,
) -> DataFrame:
    """Spherical k-means by ``iterations`` Lloyd rounds, returning the
    final ``(id, cluster_id, cosine)`` assignment — the fit step in
    front of :func:`centroid_assign`'s SemDeDup-style curation.

    Deterministic and oracle-reproducible by construction: centroids
    initialize from the k LOWEST ids' vectors (no RNG); each round's
    new centroid is the element-wise mean of its members rounded to
    ``mean_round_digits`` (absorbing the last-ulp difference between
    Spark's partition-order sum and a sequential oracle sum), and
    assignment rounds cosines to ``round_digits`` with ties to the
    smallest cluster id. Cosine is scale-invariant, so the means are
    NOT re-normalized between rounds (spherical k-means up to the
    per-round rounding).

    Scale shape per round: assignment is a pure projection (centroids
    fold into a literal, zero shuffles); the mean recompute is one
    ``posexplode`` + groupBy(cluster, dim) aggregate — partial
    aggregation collapses each partition to at most k x dim cells
    before the shuffle, and the k x dim result is collected once per
    round (metadata-scale, same class as the centroid collect above).
    A cluster that loses every member keeps its previous centroid.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    init = (
        emb_df.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(k)
        .collect()
    )
    if len(init) < k:
        raise ValueError(f"k={k} exceeds the {len(init)} input rows")
    cents = [
        (i, [float(x) for x in r[1]]) for i, r in enumerate(init)
    ]
    dim = len(cents[0][1])
    for _ in range(iterations):
        assigned = _assign_to(
            emb_df, cents, id_col, vec_col, round_digits,
            extra_cols=(vec_col,),
        )
        means = (
            assigned.select(
                "cluster_id",
                F.posexplode(F.col(vec_col).cast("array<double>")).alias(
                    "pos", "val"
                ),
            )
            .groupBy("cluster_id", "pos")
            .agg(
                F.round(F.avg("val"), mean_round_digits).alias("m")
            )
            .collect()
        )
        by_cid: dict[int, list[float]] = {}
        for r in means:
            by_cid.setdefault(int(r["cluster_id"]), [0.0] * dim)[
                r["pos"]
            ] = float(r["m"])
        cents = [
            (cid, by_cid.get(cid, cv)) for cid, cv in cents
        ]
    return _assign_to(emb_df, cents, id_col, vec_col, round_digits)


def centroid_assign(
    emb_df: DataFrame,
    centroid_ids: list[int],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Nearest-centroid (max-cosine) assignment against a FIXED
    centroid set — the cluster-assign step of SemDeDup-style semantic
    curation and of IVF list routing, made oracle-checkable by taking
    the centroids from ``emb_df`` itself (rows whose id is in
    ``centroid_ids``) instead of a k-means fit.

    Scale shape: the centroid set is metadata-scale (k rows) — it is
    collected once and folded into a LITERAL array, so the assignment
    is a pure projection over the vector table: zero shuffles, zero
    joins, no per-row Python. Cosines round to ``round_digits`` before
    the argmax so the decision is stable across dot-product fold
    orders (same protocol as the ANN entries); ties break to the
    smallest centroid id via struct comparison."""
    cents = sorted(
        (r[0], [float(x) for x in r[1]])
        for r in emb_df.filter(F.col(id_col).isin(list(centroid_ids)))
        .select(id_col, vec_col)
        .collect()
    )
    if len(cents) != len(set(centroid_ids)):
        raise ValueError("some centroid_ids are missing from emb_df")
    return _assign_to(emb_df, cents, id_col, vec_col, round_digits)
