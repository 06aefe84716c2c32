"""Similarity search over embedding columns (extension goal, SURVEY M5).

Brute-force cosine top-k as the correctness baseline; sign-LSH bucketing as
the scale path (restricts candidate generation to matching buckets — at 100 TB
the bucket join replaces the all-pairs scan; recall is tunable via number of
hyperplanes / probe multiplicity and is property-tested against brute force).
"""

from __future__ import annotations

import pandas as pd  # module-scope so pandas_udf type hints resolve
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from duckdb_parachute_spark.functions.vector import array_cosine_similarity


def brute_force_topk(
    df: DataFrame, query_vec: list[float], k: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Exact cosine top-k against one query vector: a single scan + TopK
    (Catalyst plans TakeOrderedAndProject — no full sort)."""
    return _cosine_topk(df, F.col(id_col), F.col(vec_col), query_vec, k)


def _cosine_topk(
    df: DataFrame, id_col: Column, vec_col: Column, query_vec: list[float], k: int
) -> DataFrame:
    """(id, cosine) of the ``k`` rows of ``df`` closest in cosine to the
    literal ``query_vec``, ties broken by id."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    out = df.select(id_col, array_cosine_similarity(vec_col, q).alias("cosine"))
    return out.orderBy(F.desc("cosine"), out.columns[0]).limit(k)


def _lsh_sign_matrix(dim: int, num_planes: int, seed: int):
    """Deterministic ±1 hyperplane matrix (dim × num_planes), derived from
    sha256 of (seed, plane, counter) — stable across machines, Python and
    numpy versions forever (unlike numpy Generator streams, which NEP 19
    allows to change), so persisted LSH indexes written years apart agree."""
    import hashlib

    import numpy as np

    cols = []
    need = (dim + 7) // 8
    for p in range(num_planes):
        buf = b""
        ctr = 0
        while len(buf) < need:
            buf += hashlib.sha256(f"lsh:{seed}:{p}:{ctr}".encode()).digest()
            ctr += 1
        bits = np.unpackbits(np.frombuffer(buf[:need], dtype=np.uint8))[:dim]
        cols.append(bits.astype(np.float64) * 2.0 - 1.0)
    return np.stack(cols, axis=1)


def _lsh_stacked_matrix(dim: int, num_tables: int, num_planes: int, seed: int):
    import numpy as np

    return np.concatenate(
        [_lsh_sign_matrix(dim, num_planes, seed + t) for t in range(num_tables)], axis=1
    )


def lsh_query_buckets(
    query_vec: list[float], num_tables: int, num_planes: int, seed: int = 7
) -> list[int]:
    """The query's bucket id in every table — pure numpy, NO Spark job (the
    round-7 version scheduled a driver job just to hash one vector)."""
    import numpy as np

    q = np.asarray(query_vec, dtype=np.float64)
    bits = (q @ _lsh_stacked_matrix(len(q), num_tables, num_planes, seed)) >= 0
    w = (2 ** np.arange(num_planes - 1, -1, -1)).astype(np.int64)
    return [int(b) for b in bits.reshape(num_tables, num_planes).astype(np.int64) @ w]


def lsh_buckets_udf(num_tables: int, num_planes: int, seed: int = 7):
    """Arrow-batched bucket computation: ONE numpy matmul per batch yields
    every table's bucket id for every row (array<int>, position = table).

    This is the measured exception to "stay JVM-side": a Catalyst
    higher-order spelling (aggregate over zip_with of the vector and ±1
    hyperplane components, one expression per plane) evaluates
    tables × planes × dim interpreted expression nodes PER ROW — ~4096 for
    the default 16×4×64 probe, 3.9 s over sf0.1 embeddings (the whole
    sim_lsh_topk operation: 3.24 s against 0.31 s) — while the Arrow
    batch path is a single (batch × dim) @ (dim × tables·planes)
    BLAS call (~0.2 s same data). Hyperplanes come from the sha256 family
    above, shared with lsh_query_buckets, so probe and corpus can never
    disagree."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def buckets(v: pd.Series) -> pd.Series:
        import numpy as np

        if v.empty:
            return pd.Series([], dtype=object)
        X = np.asarray([np.asarray(x, dtype=np.float64) for x in v])
        S = _lsh_stacked_matrix(X.shape[1], num_tables, num_planes, seed)
        bits = (X @ S >= 0).reshape(len(v), num_tables, num_planes)
        w = (2 ** np.arange(num_planes - 1, -1, -1)).astype(np.int64)
        ids = bits.astype(np.int64) @ w
        return pd.Series([row.astype("int32").tolist() for row in ids])

    return buckets


def lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    num_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: score only vectors sharing an LSH bucket with the
    query in at least one of ``num_tables`` independent tables
    (OR-amplification — the banding construction every production LSH
    deployment uses; one table has near-zero recall when neighbors are not
    dramatically closer than the bulk).

    Recall/cost dial: more tables → higher recall, larger candidate set. On
    near-uniform random embeddings the candidate fraction is inherently large
    (neighbors barely beat the bulk in cosine); on real clustered embeddings
    the same setting prunes hard. At scale, write-side: persist the per-table
    bucket ids as cluster columns so probes prune files; here computed on the
    fly — the probe is one scan whatever the table count."""
    # Query buckets: pure numpy, zero Spark jobs; corpus buckets: ONE
    # Arrow-batched matmul per batch computing all tables at once
    # (lsh_buckets_udf docstring has the measured JVM-vs-Arrow comparison).
    # No repartition ahead of the UDF: Catalyst pushes its filter below a
    # round-robin exchange, so the UDF would still run in the scan's tasks
    # and the shuffle would be pure cost (measured on a one-split sf0.1
    # embeddings scan).
    qb = lsh_query_buckets(query_vec, num_tables, num_planes, seed=7)
    bks = lsh_buckets_udf(num_tables, num_planes, seed=7)(F.col(vec_col))
    qarr = F.array(*[F.lit(int(b)) for b in qb])
    hit = F.exists(F.zip_with(bks, qarr, lambda x, y: x == y), lambda m: m)
    return _cosine_topk(df.where(hit), F.col(id_col), F.col(vec_col), query_vec, k)


def pairwise_knn(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str | None = None,
    allow_bruteforce: bool = False,
    dim: int | None = None,
) -> DataFrame:
    """k nearest neighbors for every vector (within optional buckets).

    Without a bucket column this is the O(n²) brute-force building block, so
    the unbucketed form must be requested explicitly with
    ``allow_bruteforce=True`` — callers at scale must provide bucketing
    (LSH/IVF partition) instead of silently cross-joining the corpus.

    ``dim`` (round 17): optional fixed vector width — unrolls the per-pair
    dot product and per-row norms (functions.vector.dot_product, up to
    ``MAX_UNROLL_DIM`` wide; bit-identical fold order; other-width rows and
    wider hints take the interpreted fold)."""
    if bucket_col is None and not allow_bruteforce:
        raise ValueError(
            "pairwise_knn without bucket_col is O(n²); pass a bucket_col "
            "(LSH bucket / IVF centroid) or opt in explicitly with "
            "allow_bruteforce=True on small inputs"
        )
    joined, sim = _norm_hoisted_self_join(df, id_col, vec_col, bucket_col, dim)
    w = Window.partitionBy("id1").orderBy(F.desc("cosine"), F.col("id2"))
    return (
        joined.where(F.col("id1") != F.col("id2"))
        .select("id1", "id2", sim.alias("cosine"))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def _norm_hoisted_self_join(
    df: DataFrame, id_col: str, vec_col: str, bucket_col: str | None, dim: int | None
) -> tuple[DataFrame, Column]:
    """``df`` joined with itself within ``bucket_col`` (all pairs when None)
    as ``[bucket_col,] id1, __v1, __n1, id2, __v2, __n2``, and the pair
    cosine over it. Each row's norm is computed once, below the join. The
    bucketed join is pinned to shuffle-merge: both sides are the corpus,
    and a locally estimated broadcast join would run all pair work in the
    streamed side's (often single) input partition."""
    from duckdb_parachute_spark.functions.vector import cosine_from_norms, row_norm

    keys = [bucket_col] if bucket_col else []
    a, b = (
        df.select(
            *keys,
            F.col(id_col).alias(f"id{s}"),
            F.col(vec_col).alias(f"__v{s}"),
            row_norm(F.col(vec_col), dim).alias(f"__n{s}"),
        )
        for s in (1, 2)
    )
    joined = a.join(b.hint("merge"), keys) if keys else a.crossJoin(b)
    sim = cosine_from_norms(F.col("__v1"), F.col("__v2"), F.col("__n1"), F.col("__n2"), dim)
    return joined, sim


def ivf_build_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantizer: distributed Lloyd's k-means over the embedding
    column, entirely in DataFrame ops (no driver-side vector math).

    - init: the n_centroids vectors with the smallest md5(id) — deterministic,
      sample-free, engine-independent;
    - assign: broadcast centroids, argmin cosine via max_by;
    - update: element-wise mean via posexplode → groupBy(centroid, dim) →
      avg → re-assemble with array_agg sorted by dim.
    Each iteration is one broadcast join + one (rows × dims) shuffle —
    at 100 TB with dim≤1k this is the standard IVF training shape (train on a
    sample in practice; the plumbing is identical).
    Returns (centroid_id, centroid: array<double>)."""
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = df.select(F.col(id_col).alias("__id"), vec_d.alias("__v"))
    # Seed enumeration happens DRIVER-side: collect the ≤ n_centroids smallest
    # md5(id) rows (TakeOrderedAndProject — bounded driver metadata, the same
    # class as the pivot-value probe) and number them in Python. Round 8: this
    # replaces a WindowExec over a constant partition key — Catalyst
    # constant-folds `partitionBy(lit(0))` away, so that plan still logged
    # "No Partition Defined" warnings despite the bounded input
    # (BENCH_r07 tail, VERDICT r7 nit #1).
    seed_rows = (
        base.withColumn("__h", F.md5(F.col("__id").cast("string")))
        .orderBy("__h")
        .limit(n_centroids)
        .select("__v")
        .collect()
    )
    spark = df.sparkSession
    cents = spark.createDataFrame(
        [(i + 1, list(r["__v"])) for i, r in enumerate(seed_rows)],
        "centroid_id int, centroid array<double>",
    )
    for _ in range(iters):
        assigned = _assign_nearest(base, cents)
        cents = (
            assigned.select("centroid_id", F.posexplode("__v").alias("dim", "val"))
            .groupBy("centroid_id", "dim")
            .agg(F.avg("val").alias("m"))
            .groupBy("centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("__dm"))
            .select("centroid_id", F.transform("__dm", lambda s: s.getField("m")).alias("centroid"))
        )
    return cents


def _assign_nearest(base: DataFrame, cents: DataFrame) -> DataFrame:
    """Assign each vector to its max-cosine centroid (broadcast centroids,
    max_by over the joined candidates — one narrow shuffle on the group)."""
    sim = array_cosine_similarity(F.col("__v"), F.col("centroid"))
    return (
        base.crossJoin(F.broadcast(cents))
        .select("__id", "__v", "centroid_id", sim.alias("__sim"))
        .groupBy("__id")
        .agg(
            F.max_by("centroid_id", F.struct("__sim", (-F.col("centroid_id")).alias("t"))).alias("centroid_id"),
            F.first("__v").alias("__v"),
        )
    )


def ivf_topk(
    df: DataFrame,
    centroids: DataFrame,
    query_vec: list[float],
    k: int,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe: rank centroids by cosine to the query, scan only the
    vectors assigned to the nprobe closest lists, exact-rerank those.

    At scale the assignment is precomputed and used as a partition/cluster
    column so the probe reads nprobe/n_centroids of the data; here it is
    derived on the fly (same plan shape, minus the file pruning)."""
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = df.select(F.col(id_col).alias("__id"), vec_d.alias("__v"))
    assigned = _assign_nearest(base, centroids)
    return _cosine_topk(
        assigned.where(F.col("centroid_id").isin(_probe_ids(centroids, query_vec, nprobe))),
        F.col("__id").alias(id_col), F.col("__v"), query_vec, k,
    )


def _probe_ids(centroids: DataFrame, query_vec: list[float], nprobe: int) -> list[int]:
    """The ids of the ``nprobe`` centroids closest in cosine to the query."""
    top = _cosine_topk(centroids, F.col("centroid_id"), F.col("centroid"), query_vec, nprobe)
    return [r.centroid_id for r in top.collect()]


# -- persisted (file-pruning) indexes ----------------------------------------


def write_ivf_index(
    df: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the IVF assignment as a PARTITION column: one parquet
    directory per inverted list. A probe filtering on centroid_id then prunes
    whole directories at planning time — it reads nprobe/n_centroids of the
    files, which is the difference between an index and a scan at 100 TB.
    (Write-side analogue of the reference's row-group zonemap skipping,
    src/storage/table/column_data.cpp:386 — made explicit as layout.)"""
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = df.select(F.col(id_col).alias("__id"), vec_d.alias("__v"))
    assigned = _assign_nearest(base, centroids).select(
        F.col("__id").alias(id_col), F.col("__v").alias(vec_col), "centroid_id"
    )
    assigned.write.mode("overwrite").partitionBy("centroid_id").parquet(path)


def ivf_topk_indexed(
    spark,
    path: str,
    centroids: DataFrame,
    query_vec: list[float],
    k: int,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a persisted IVF index: rank centroids by query cosine, read ONLY
    the nprobe closest lists' partitions (Catalyst partition pruning — the
    isin filter never touches the other directories), exact-rerank inside."""
    idx = spark.read.parquet(path).where(
        F.col("centroid_id").isin(_probe_ids(centroids, query_vec, nprobe))
    )
    return _cosine_topk(idx, F.col(id_col), F.col(vec_col), query_vec, k)


def write_lsh_index(
    df: DataFrame,
    path: str,
    num_planes: int = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist sign-LSH bucket ids as a partition column (2^num_planes
    directories); bucket-equality probes prune to one directory per table.
    Buckets come from the same sha256 hyperplane family as lsh_topk /
    lsh_query_buckets (Arrow-batched matmul), so a flyweight probe and an
    index probe with the same (num_planes, seed) always agree."""
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    out = df.select(F.col(id_col), vec_d.alias(vec_col)).withColumn(
        "lsh_bucket",
        lsh_buckets_udf(1, num_planes, seed)(F.col(vec_col)).getItem(0),
    )
    out.write.mode("overwrite").partitionBy("lsh_bucket").parquet(path)


def lsh_topk_indexed(
    spark,
    path: str,
    query_vec: list[float],
    k: int,
    num_planes: int = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a persisted LSH index: compute the query's bucket (pure numpy,
    no Spark job scheduled), read only that partition directory,
    exact-rerank inside it."""
    qb = lsh_query_buckets(list(map(float, query_vec)), 1, num_planes, seed)[0]
    idx = spark.read.parquet(path).where(F.col("lsh_bucket") == F.lit(int(qb)))
    return _cosine_topk(idx, F.col(id_col), F.col(vec_col), query_vec, k)


def quantize_int8(vec: Column, scale_out: str = "scale") -> tuple[Column, Column]:
    """Symmetric per-vector int8 quantization: (scale, int8 codes).

    codes[i] = floor(x[i] / scale * 127 + 0.5), scale = max(|x|) (1.0 for an
    all-zero vector). At 100 TB this is the embedding-storage workhorse —
    4x smaller vectors mean 4x smaller shuffles and broadcast blocks for
    every ANN stage, with dot products reconstructable as
    (a.scale/127)*(b.scale/127)*int_dot. floor(x+0.5) instead of round():
    the two engines' round() disagree on negative halves, floor is exact and
    identical everywhere. All arithmetic in DOUBLE (float32 inputs widen
    exactly), so codes are bit-reproducible cross-engine."""
    absmax = F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))
    scale = F.when(absmax == 0.0, F.lit(1.0)).otherwise(absmax)
    codes = F.transform(
        vec, lambda x: F.floor(x.cast("double") / scale * 127 + F.lit(0.5)).cast("int")
    )
    return scale.alias(scale_out), codes
