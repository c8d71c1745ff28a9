"""Vector similarity search (reference: Iot.Database/IotVectorDb.cs).

Reference surface:
- SearchCosSimilarityAsync (:244-316): brute-force cosine vs all rows,
  score >= minRelevanceScore (default 0.55), top `limit` (default 150),
  embeddings stripped from results.
- SearchFaissTopKAsync (:151-190): L2 top-k (FAISS flat — i.e. exact
  brute force over everything).
- SearchFaissRadiusAsync (:192-235): L2 distance <= radius.
- InsertUpdateQueue/ProcessQueueAsync (:39-149): per-guid dedup (latest
  wins) before upsert.

Spark-first design: distances are built-in higher-order-function
expressions over array<float> columns — JVM-side, codegen'd, no Python.
The cosine and L2 folds are Spark SQL strings parsed once by F.expr:
building them from Python-lambda F.aggregate/F.zip_with/
F.transform calls costs a py4j round trip per node, which dominated
plan building on small interactive searches. Exact determinism across
engines: element products are summed by an ORDERED left fold
(`aggregate(products, 0D, (acc, v) -> acc + v)` walks the array
sequentially; DuckDB's list_reduce folds the same way), so both engines
perform the identical sequence of IEEE double additions and produce
bit-identical results. (A plain SUM over unnested elements would not —
aggregation order is engine-dependent. The accumulator is written `0D`
because `0.0` in Spark SQL is a decimal.) A zero vector has no cosine:
the division is a try_divide, so its relevance is NULL instead of an
ANSI DIVIDE_BY_ZERO failing the whole search.

Scale path: brute-force is embarrassingly parallel (scan + local top-k +
global top-k merge: Spark's TakeOrderedAndProject). For 100 TB an IVF
variant lives in operators/similarity.py (bucket by nearest centroid,
search only the probed buckets).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

def _seq_sum_sql(products: str) -> str:
    """Ordered left-fold sum in double: ((0+p1)+p2)+... — deterministic
    and reproducible by DuckDB's list_reduce for oracle checks."""
    return f"aggregate({products}, 0D, (acc, v) -> acc + v)"


def dot(a: str, b: str) -> str:
    """SQL dot product of two array expressions."""
    return _seq_sum_sql(
        f"zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE))"
    )


def norm_sq(a: str) -> str:
    """SQL squared norm of an array expression."""
    return _seq_sum_sql(f"transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")


def cosine_similarity(a: str, b: str) -> Column:
    """dot / (|a| * |b|)  (IotVectorDb.ComputeCosineSimilarity) over two
    SQL array expressions, e.g. "embedding" or "slice(embedding, 1, 16)";
    NULL when either vector is zero."""
    return F.expr(
        f"try_divide({dot(a, b)}, sqrt({norm_sq(a)}) * sqrt({norm_sq(b)}))"
    )


def l2_distance_sq(a: str, b: str) -> str:
    """SQL squared L2 distance of two array expressions."""
    return _seq_sum_sql(
        f"zip_with({a}, {b}, (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
        " * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)))"
    )


def search_cosine(
    items: DataFrame,
    query_vec: Column,
    embedding: str = "embedding",
    min_score: float = 0.55,
    limit: int = 150,
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force cosine top-k (IotVectorDb.cs:244-316). Results exclude
    the embedding column, like the reference strips embeddings. A zero
    stored or query vector scores NULL and never passes min_score.

    The score filter applies after the top-k: the passing rows are a
    prefix of the (relevance DESC NULLS LAST, id) order (NaN sorts first
    and passes, NULL sorts last and fails), so the rows are the same,
    and Spark cannot push the filter below the Project that computes
    relevance, which would inline the cosine a second time per row."""
    scored = items.withColumn("_qv", query_vec).withColumn(
        "relevance", cosine_similarity(embedding, "_qv")
    )
    return (
        scored.orderBy(F.col("relevance").desc(), F.col(id_col))
        .limit(limit)
        .filter(F.col("relevance") >= min_score)
        .drop(embedding, "_qv")
    )


def search_l2_topk(
    items: DataFrame,
    query_vec: Column,
    k: int,
    embedding: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact L2 top-k (IotVectorDb.cs:151-190). Spark compiles the
    orderBy+limit to TakeOrderedAndProject: per-partition local top-k,
    then a k-row merge on the driver — no full sort, no full shuffle."""
    scored = items.withColumn("_qv", query_vec).withColumn(
        "distance_sq", F.expr(l2_distance_sq(embedding, "_qv"))
    )
    return (
        scored.orderBy(F.col("distance_sq").asc(), F.col(id_col))
        .limit(k)
        .drop(embedding, "_qv")
    )


def search_l2_radius(
    items: DataFrame,
    query_vec: Column,
    radius: float,
    embedding: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """L2 radius filter (IotVectorDb.cs:192-235) — distance <= radius."""
    scored = items.withColumn("_qv", query_vec).withColumn(
        "distance_sq", F.expr(l2_distance_sq(embedding, "_qv"))
    )
    return scored.filter(F.col("distance_sq") <= radius * radius).drop(
        embedding, "_qv"
    )


def upsert_dedup(
    queue: DataFrame, guid: str = "guid", ts: str = "ts"
) -> DataFrame:
    """Per-guid latest-wins dedup of the embedding upsert queue
    (IotVectorDb.InsertUpdateQueue :39-66) — the foreachBatch pre-merge
    step: row_number over (guid order by ts desc) = 1."""
    from pyspark.sql import Window as W

    w = W.partitionBy(guid).orderBy(F.col(ts).desc())
    return (
        queue.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
