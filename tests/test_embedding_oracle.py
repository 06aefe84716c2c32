"""Embedding pair and cluster operators against DuckDB on planted near-duplicates.

The shared test data holds 64-wide embeddings only, and at every scale
factor its pair queries return no rows (no pair reaches their thresholds),
so the registry's oracle sweep never compares a cosine or a cluster id of
these operators. Here a fixed-seed table with planted near-duplicate groups
is written at 64, 768 and 1536 wide, and every operator's rows, with
unrounded cosines, must equal the same SQL run by DuckDB over the same file.
The SQL mirrors the registry oracles of ``dedup_embedding_neardup``,
``dedup_semantic_pairs``, ``dedup_semantic_probes`` and
``sim_topk_bruteforce``.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from duckdb_parachute_spark import dedup as D
from duckdb_parachute_spark.similarity import brute_force_topk

COS = "list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))"

ASSIGNED = """
WITH cents AS (
    SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS centroid
    FROM embeddings WHERE vec_id < {k}
), assigned AS (
    SELECT vec_id, embedding, centroid_id FROM (
        SELECT e.vec_id, e.embedding, c.centroid_id,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.centroid) DESC,
                            c.centroid_id
               ) AS rn
        FROM embeddings e CROSS JOIN cents c
    ) WHERE rn <= {probes}
)
"""

SEMANTIC_PAIRS = ASSIGNED + f"""
SELECT a.vec_id, b.vec_id, a.centroid_id, {COS}
FROM assigned a JOIN assigned b ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
WHERE {COS} >= {{threshold}}
"""

NEARDUP_PAIRS = f"""
SELECT a.vec_id, b.vec_id, {COS}
FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {COS} >= 0.8
"""

TOPK = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id, list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv) AS cosine
FROM embeddings, q WHERE vec_id <> 0
ORDER BY cosine DESC, vec_id LIMIT 10
"""


def _planted(path, dim: int, seed: int) -> None:
    """Twelve random vectors (ids 0-11, the centroid candidates), then six
    groups of three near-duplicates (pairwise cosine about 0.997), labels
    shared within a group; float32 like the shared test data."""
    rng = np.random.default_rng(seed)
    vecs = [rng.standard_normal(dim) for _ in range(12)]
    labels = [i % 3 for i in range(12)]
    for g in range(6):
        base = rng.standard_normal(dim)
        vecs += [base + 0.05 * rng.standard_normal(dim) for _ in range(3)]
        labels += [g % 3] * 3
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(len(vecs)), pa.int64()),
            "embedding": pa.array([v.astype(np.float32).tolist() for v in vecs], pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }),
        path,
    )


# (width, centroids): the pair cosine unrolls at 64 wide and takes the fold
# at 768 and 1536
@pytest.mark.parametrize("dim,k", [(64, 2), (768, 8), (1536, 4)])
def test_embedding_operators_match_duckdb(spark, tmp_path, dim, k):
    path = str(tmp_path / f"emb{dim}.parquet")
    _planted(path, dim, seed=dim)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")

    def same(df, sql):
        got = sorted(map(tuple, df.collect()))
        want = sorted(con.sql(sql).fetchall())
        assert got == want
        return got

    e = spark.read.parquet(path)
    cents = e.where(F.col("vec_id") < k).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").cast("array<double>").alias("centroid"),
    )
    assigned = D.semantic_cluster_assign(e, cents, "vec_id", "embedding")
    same(
        assigned.select("vec_id", "centroid_id"),
        ASSIGNED.format(k=k, probes=1) + "SELECT vec_id, centroid_id FROM assigned",
    )
    for probes, threshold in ((1, 0.85), (2, 0.8)):
        pairs = D.semantic_dup_pairs(e, cents, "vec_id", "embedding", threshold, probes=probes)
        got = same(
            pairs.select("id1", "id2", "centroid_id", "cosine"),
            SEMANTIC_PAIRS.format(k=k, probes=probes, threshold=threshold),
        )
        # centroids are random, so a group's members may land apart
        assert len(got) >= 6
    got = same(
        D.embedding_neardup_pairs(
            e, "vec_id", "embedding", 0.8, bucket_col="label", dim=dim
        ).select("id1", "id2", "cosine"),
        NEARDUP_PAIRS,
    )
    assert len(got) == 18
    qvec = e.where(F.col("vec_id") == 0).select("embedding").head()[0]
    same(brute_force_topk(e.where(F.col("vec_id") != 0), qvec, 10), TOPK)
