"""Approximate-nearest-neighbor search at scale: IVF (inverted-file)
partitioning over an embedding column.

Brute force (operators/vector.py) is exact and embarrassingly parallel,
but at 100 TB you don't want every query to scan every vector. IVF is
the scale path the reference's FAISS-flat usage (IotVectorDb.cs:151-190)
would graduate to:

  build:  pick K centroids (deterministically here: the K lowest-id
          vectors; k-means at production scale), assign every vector to
          its nearest centroid — a bucket column, which at storage level
          becomes the partition key of the vectors table.
  search: find the query's `nprobe` nearest centroids, scan ONLY those
          buckets (partition pruning!), brute-force top-k within.

Everything is DataFrame ops: the assignment is a broadcast join against
the (tiny) centroid set + argmin, the probe is a partition filter.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from iot_database_spark.operators.vector import cosine_similarity, l2_distance_sq


def ivf_assign(
    items: DataFrame,
    centroids: DataFrame,
    embedding: str = "embedding",
    id_col: str = "vec_id",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid_vec",
) -> DataFrame:
    """Assign each vector to its nearest centroid (L2, ties -> lowest
    centroid id).

    Pure scan: the centroid set collapses to ONE broadcast row holding
    an id-sorted array<struct>, and the argmin is a per-row HOF fold —
    no expansion to |items|*K rows and no shuffle (the previous
    crossJoin + row_number window re-partitioned that expansion by
    vec_id, which at cluster scale is K times the table through the
    wire). array_position takes the FIRST match of the min distance, so
    the id-sorted array keeps the lowest-id tie-break. The distance
    array is bound once as the lambda variable `ds` of a one-element
    transform, so the argmin reads it twice without recomputing it."""
    packed = centroids.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(centroid_id).alias("cid"),
                    F.col(centroid_vec).alias("cvec"),
                )
            )
        ).alias("_cents")
    )
    joined = items.crossJoin(F.broadcast(packed))
    dists = f"transform(_cents, c -> {l2_distance_sq(embedding, 'c.cvec')})"
    best = F.expr(
        f"transform(array({dists}), ds -> element_at(_cents,"
        " CAST(array_position(ds, array_min(ds)) AS INT)).cid)[0]"
    )
    return joined.withColumn("bucket", best).drop("_cents")


def default_centroids(
    items: DataFrame,
    k: int,
    embedding: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic centroid pick: the k lowest-id vectors. (Production:
    k-means|| on a sample; any centroid set works with the same plans.)"""
    return (
        items.orderBy(F.col(id_col).asc())
        .limit(k)
        .select(
            F.col(id_col).alias("centroid_id"),
            F.col(embedding).alias("centroid_vec"),
        )
    )


def kmeans_refine(
    items: DataFrame,
    centroids: DataFrame,
    iters: int = 3,
    embedding: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Lloyd k-means refinement of a centroid set, as pure DataFrame ops
    (the production build step `default_centroids` stands in for).

    Each iteration: assign every vector to its nearest centroid (pure
    broadcast scan, no shuffle), then recompute each centroid as the
    per-dimension mean of its bucket — posexplode to (bucket, dim,
    value), partial+final avg, re-assemble the array ordered by dim.
    Two keyed shuffles per iteration, both on small keys; the wide
    embedding column crosses the wire only as (dim, value) pairs that
    combine map-side. Empty buckets keep their previous centroid.
    Deterministic throughout — no sampling, stable tie-breaks."""
    for _ in range(iters):
        assigned = ivf_assign(items, centroids, embedding=embedding, id_col=id_col)
        means = (
            assigned.select(
                "bucket", F.posexplode(F.col(embedding)).alias("dim", "v")
            )
            .groupBy("bucket", "dim")
            .agg(F.avg("v").alias("m"))
            .groupBy("bucket")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "m"))),
                    lambda s: s["m"].cast("float"),
                ).alias("new_vec")
            )
        )
        centroids = (
            centroids.join(
                means, centroids["centroid_id"] == means["bucket"], "left"
            )
            .select(
                "centroid_id",
                F.coalesce(F.col("new_vec"), F.col("centroid_vec")).alias(
                    "centroid_vec"
                ),
            )
        )
    return centroids


def ivf_probe_buckets(
    query_vec: Column, centroids: DataFrame, nprobe: int
) -> DataFrame:
    """The nprobe centroid ids nearest to the query (driver-small)."""
    return (
        centroids.withColumn("_qv", query_vec)
        .withColumn("_d", F.expr(l2_distance_sq("centroid_vec", "_qv")))
        .orderBy(F.col("_d").asc(), F.col("centroid_id").asc())
        .limit(nprobe)
        .select("centroid_id")
    )


def ivf_search_cosine(
    assigned: DataFrame,
    centroids: DataFrame,
    query_vec: Column,
    k: int,
    nprobe: int = 2,
    embedding: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN top-k by cosine: scan only the nprobe probed buckets.

    `assigned` is the ivf_assign output; when the table is written
    partitioned by `bucket`, the semi-join below prunes whole partitions
    at the scan."""
    probed = ivf_probe_buckets(query_vec, centroids, nprobe)
    candidates = assigned.join(
        F.broadcast(probed),
        assigned["bucket"] == probed["centroid_id"],
        "left_semi",
    )
    scored = candidates.withColumn("_qv", query_vec).withColumn(
        "relevance", cosine_similarity(embedding, "_qv")
    )
    return (
        scored.orderBy(F.col("relevance").desc(), F.col(id_col).asc())
        .limit(k)
        .drop(embedding, "_qv")
    )


class VectorIndex:
    """Persisted IVF index lifecycle — build once, query many (the
    IotVectorDb persistence pattern, IotVectorDb.cs:39-120, graduated to
    partition-pruned storage).

    `build` trains centroids (deterministic seed + Lloyd refinement),
    assigns every vector, and writes BOTH tables through the database's
    commit log — so the index versions/timestamps like any other table,
    participates in transactions, and `search` on a reopened database
    reads straight from storage with no rebuild. On a cluster the
    assigned table would additionally be `partitionBy(centroid_id)` so a
    probe is literal partition pruning."""

    def __init__(self, db, name: str, dim_hint: int = 64):
        self.db = db
        self.name = name
        self.centroids_table = f"{name}__centroids"
        self.vectors_table = f"{name}__vectors"
        self._dim = dim_hint

    def build(
        self,
        items: DataFrame,
        k: int = 16,
        refine_iters: int = 2,
        embedding: str = "embedding",
        id_col: str = "vec_id",
    ) -> None:
        cents = default_centroids(items, k=k, embedding=embedding, id_col=id_col)
        for _ in range(refine_iters):
            cents = kmeans_refine(items, cents, embedding=embedding)
        assigned = ivf_assign(items, cents, embedding=embedding, id_col=id_col)
        ct = self.db.tables(
            self.centroids_table,
            "id bigint, centroid_vec array<double>",
        )
        vt = self.db.tables(
            self.vectors_table,
            "id bigint, embedding array<float>, bucket bigint",
        )
        ct._write(
            cents.select(
                F.col("centroid_id").cast("bigint").alias("id"),
                F.col("centroid_vec").cast("array<double>").alias("centroid_vec"),
            )
        )
        vt._write(
            assigned.select(
                F.col(id_col).cast("bigint").alias("id"),
                F.col(embedding).alias("embedding"),
                F.col("bucket").cast("bigint").alias("bucket"),
            )
        )

    def search(self, query_vec, k: int = 10, nprobe: int = 4) -> DataFrame:
        """Top-k cosine within the nprobe nearest buckets, straight from
        the persisted tables."""
        cents = self.db.table(self.centroids_table).df.select(
            F.col("id").alias("centroid_id"),
            F.col("centroid_vec"),
        )
        assigned = self.db.table(self.vectors_table).df.select(
            F.col("id").alias("vec_id"), "embedding", "bucket"
        )
        return ivf_search_cosine(assigned, cents, query_vec, k=k, nprobe=nprobe)
