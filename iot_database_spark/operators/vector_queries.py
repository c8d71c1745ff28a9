"""Oracle-checked queries for vector similarity search (SURVEY.md §2.10 —
reference Iot.Database/IotVectorDb.cs) over the embeddings table
(vec_id, embedding array<float> x64, label).

Query vector = the embedding of vec_id 0 (derived in-query on both sides;
the reference's API takes a caller-provided vector).

Determinism: dot products / norms are ORDERED left folds in double on
both sides (Spark F.aggregate ≡ DuckDB list_reduce) — identical IEEE
addition sequences, bit-identical results. See operators/vector.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iot_database_spark.operators import vector as vec
from iot_database_spark.registry import load_views, register

# DuckDB-side dot/norm machinery: ordered left folds over per-dimension
# product lists — the same addition sequence Spark's F.aggregate performs.
# 0.0 is prepended so the fold is ((0+p1)+p2)+..., matching the Spark
# initial accumulator exactly.
_ORACLE_SCORED = """
    WITH q AS (
        SELECT embedding AS qv FROM embeddings WHERE CAST(vec_id AS BIGINT) = 0
    ), scored AS (
        SELECT CAST(e.vec_id AS BIGINT) AS vec_id,
               CAST(e.label AS BIGINT) AS label,
               list_reduce(
                   list_prepend(0.0, list_transform(range(1, 65),
                       i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))),
                   (acc, x) -> acc + x)
               / (SQRT(list_reduce(
                      list_prepend(0.0, list_transform(range(1, 65),
                          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
                      (acc, x) -> acc + x))
                  * SQRT(list_reduce(
                      list_prepend(0.0, list_transform(range(1, 65),
                          i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))),
                      (acc, x) -> acc + x))) AS relevance,
               list_reduce(
                   list_prepend(0.0, list_transform(range(1, 65),
                       i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(q.qv[i] AS DOUBLE))
                          * (CAST(e.embedding[i] AS DOUBLE) - CAST(q.qv[i] AS DOUBLE)))),
                   (acc, x) -> acc + x) AS distance_sq
        FROM embeddings e, q
    )
"""


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables = load_views(spark, sf_dir)
    emb = tables["embeddings"].select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("embedding"),
        F.col("label").cast("bigint").alias("label"),
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return emb.crossJoin(F.broadcast(q))


@register(
    "vector_cosine_topk",
    oracle=_ORACLE_SCORED
    + """
    SELECT vec_id, label, relevance FROM scored
    WHERE relevance >= 0.55
    ORDER BY relevance DESC, vec_id
    LIMIT 150
    """,
)
def vector_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine search, minRelevanceScore 0.55, limit 150 — the
    reference's defaults (IotVectorDb.cs:244,263)."""
    scored = _scored(spark, sf_dir).withColumn(
        "relevance", vec.cosine_similarity(F.col("embedding"), F.col("qv"))
    )
    return (
        scored.filter(F.col("relevance") >= 0.55)
        .orderBy(F.col("relevance").desc(), F.col("vec_id"))
        .limit(150)
        .select("vec_id", "label", "relevance")
    )


@register(
    "vector_l2_topk",
    oracle=_ORACLE_SCORED
    + """
    SELECT vec_id, label, distance_sq FROM scored
    ORDER BY distance_sq ASC, vec_id
    LIMIT 25
    """,
)
def vector_l2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact L2 top-k (FAISS-flat semantics, IotVectorDb.cs:151-190);
    plan is TakeOrderedAndProject — local top-k + k-row merge, no full
    sort even at cluster scale."""
    scored = _scored(spark, sf_dir).withColumn(
        "distance_sq", vec.l2_distance_sq(F.col("embedding"), F.col("qv"))
    )
    return (
        scored.orderBy(F.col("distance_sq").asc(), F.col("vec_id"))
        .limit(25)
        .select("vec_id", "label", "distance_sq")
    )


@register(
    "vector_l2_radius",
    oracle=_ORACLE_SCORED
    + """
    SELECT vec_id, label, distance_sq FROM scored
    WHERE distance_sq <= 1.0
    """,
)
def vector_l2_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 radius search (IotVectorDb.cs:192-235): distance² <= 1.0."""
    scored = _scored(spark, sf_dir).withColumn(
        "distance_sq", vec.l2_distance_sq(F.col("embedding"), F.col("qv"))
    )
    return scored.filter(F.col("distance_sq") <= 1.0).select(
        "vec_id", "label", "distance_sq"
    )


@register(
    "vector_upsert_dedup",
    oracle="""
    SELECT CAST(user_id AS BIGINT) AS guid,
           CAST(event_id AS BIGINT) AS event_id,
           CAST(value AS DOUBLE) AS value
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY CAST(user_id AS BIGINT)
                                     ORDER BY ts DESC, CAST(event_id AS BIGINT) DESC) AS rn
        FROM events
    ) t WHERE rn = 1
    """,
)
def vector_upsert_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert-queue dedup, latest write per guid wins
    (IotVectorDb.InsertUpdateQueue :39-66)."""
    tables = load_views(spark, sf_dir)
    queue = tables["events"].select(
        F.col("user_id").cast("bigint").alias("guid"),
        F.col("ts"),
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("value").cast("double").alias("value"),
    )
    deduped = vec.upsert_dedup(queue.withColumn("_ord", F.struct("ts", "event_id")), ts="_ord")
    return deduped.select("guid", "event_id", "value")


# ---------------------------------------------------------------------------
# IVF approximate-nearest-neighbor (operators/similarity.py) — the 100 TB
# scale path: assign vectors to centroid buckets, probe only nprobe buckets.
# ---------------------------------------------------------------------------

def _duck_fold(a: str, b: str, mode: str, dims: int = 64) -> str:
    """DuckDB ordered-fold dot/l2 text mirroring vector.py's F.aggregate.
    `dims` bounds the fold (prefix folds for two-stage coarse search)."""
    if mode == "dot":
        prod = f"CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)"
    else:  # l2
        prod = (
            f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
            f" * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
        )
    return (
        f"list_reduce(list_prepend(0.0, list_transform(range(1, {dims + 1}), "
        f"i -> {prod})), (acc, x) -> acc + x)"
    )


def _duck_cos(a: str, b: str, dims: int = 64) -> str:
    return (
        f"{_duck_fold(a, b, 'dot', dims)} / "
        f"(SQRT({_duck_fold(a, a, 'dot', dims)}) * SQRT({_duck_fold(b, b, 'dot', dims)}))"
    )


_ANN_IVF_ORACLE = f"""
    WITH e AS (
        SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding,
               CAST(label AS BIGINT) AS label
        FROM embeddings
    ),
    q AS (SELECT embedding AS qv FROM e WHERE vec_id = 0),
    c AS (SELECT vec_id AS centroid_id, embedding AS cv FROM e WHERE vec_id < 8),
    assign AS (
        SELECT e.vec_id, e.label, e.embedding, c.centroid_id,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {_duck_fold('e.embedding', 'c.cv', 'l2')} ASC,
                            c.centroid_id ASC) AS rk
        FROM e, c
    ),
    buckets AS (
        SELECT vec_id, label, embedding, centroid_id AS bucket
        FROM assign WHERE rk = 1
    ),
    probe AS (
        SELECT centroid_id FROM c, q
        ORDER BY {_duck_fold('c.cv', 'q.qv', 'l2')} ASC, centroid_id ASC
        LIMIT 2
    )
    SELECT b.vec_id, b.label, b.bucket,
           {_duck_cos('b.embedding', 'q.qv')} AS relevance
    FROM buckets b JOIN probe p ON b.bucket = p.centroid_id, q
    ORDER BY relevance DESC, b.vec_id ASC
    LIMIT 10
"""


@register("ann_ivf_cosine", oracle=_ANN_IVF_ORACLE)
def ann_ivf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: 8 deterministic centroids, nprobe=2, cosine top-10 within
    the probed buckets only (partition pruning at cluster scale)."""
    from iot_database_spark.operators import similarity as sim

    tables = load_views(spark, sf_dir)
    emb = tables["embeddings"].select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        "embedding",
        F.col("label").cast("bigint").alias("label"),
    )
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    q_col = F.array(*[F.lit(x) for x in qvec])
    centroids = sim.default_centroids(emb, k=8)
    assigned = sim.ivf_assign(emb, centroids)
    return sim.ivf_search_cosine(assigned, centroids, q_col, k=10, nprobe=2)


_RERANK_COARSE_K = 100
_RERANK_DIMS = 16

_TWO_STAGE_ORACLE = f"""
    WITH e AS (
        SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding,
               CAST(label AS BIGINT) AS label
        FROM embeddings
    ),
    q AS (SELECT embedding AS qv FROM e WHERE vec_id = 0),
    coarse AS (
        SELECT e.vec_id, e.embedding, e.label,
               {_duck_cos('e.embedding', 'q.qv', _RERANK_DIMS)} AS coarse_score
        FROM e, q WHERE e.vec_id <> 0
        ORDER BY coarse_score DESC, e.vec_id
        LIMIT {_RERANK_COARSE_K}
    )
    SELECT c.vec_id, c.label,
           {_duck_cos('c.embedding', 'q.qv')} AS relevance
    FROM coarse c, q
    ORDER BY relevance DESC, c.vec_id
    LIMIT 10
"""


@register("ann_two_stage_rerank", oracle=_TWO_STAGE_ORACLE)
def ann_two_stage_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage (coarse -> exact) retrieval: rank the corpus by cosine
    over only the FIRST 16 dimensions, keep the top 100, then re-rank
    those exactly over all 64 dimensions — the memory-bandwidth shape
    production vector search uses (matryoshka/PCA-front embeddings: the
    coarse pass reads a 4x narrower slice of every row, the exact pass
    touches only k' << N rows). Complements the bucket-pruning path
    (`ann_ivf_cosine`) with the rerank pattern it feeds into. Reference anchor: the reference's search is single-stage
    brute force (VectorCollection.SearchCosine) — this is the declared
    scale superset.

    Determinism: both stages are ordered double folds (F.aggregate ==
    list_reduce) with unique (score, vec_id) sort keys, so both LIMIT
    boundaries are engine-exact. Plan: broadcast 1-row query,
    TakeOrderedAndProject(100) -> per-row fold -> TakeOrderedAndProject(10)
    — one corpus scan, no shuffle."""
    from iot_database_spark.operators import vector as vec

    tables = load_views(spark, sf_dir)
    emb = tables["embeddings"].select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        "embedding",
        F.col("label").cast("bigint").alias("label"),
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("_qv"))
    pref = lambda c: F.slice(c, 1, _RERANK_DIMS)  # noqa: E731
    coarse = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .withColumn(
            "coarse_score",
            vec.cosine_similarity(pref(F.col("embedding")), pref(F.col("_qv"))),
        )
        .orderBy(F.col("coarse_score").desc(), F.col("vec_id"))
        .limit(_RERANK_COARSE_K)
    )
    return (
        coarse.withColumn(
            "relevance", vec.cosine_similarity(F.col("embedding"), F.col("_qv"))
        )
        .orderBy(F.col("relevance").desc(), F.col("vec_id"))
        .limit(10)
        .select("vec_id", "label", "relevance")
    )


# DuckDB cosine fold against an arbitrary query column `qv` (same
# ordered-left-fold recipe as _ORACLE_SCORED, factored so multi-query
# oracles can reuse it).
_DUCK_COSINE = """
               list_reduce(
                   list_prepend(0.0, list_transform(range(1, 65),
                       i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))),
                   (acc, x) -> acc + x)
               / (SQRT(list_reduce(
                      list_prepend(0.0, list_transform(range(1, 65),
                          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
                      (acc, x) -> acc + x))
                  * SQRT(list_reduce(
                      list_prepend(0.0, list_transform(range(1, 65),
                          i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))),
                      (acc, x) -> acc + x)))
"""


@register(
    "vector_filtered_topk",
    oracle=_ORACLE_SCORED
    + """
    SELECT vec_id, label, relevance FROM scored
    WHERE label = 2 AND relevance >= 0.2
    ORDER BY relevance DESC, vec_id
    LIMIT 50
    """,
)
def vector_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search — the production ANN shape the reference's
    single-stage scan cannot express (metadata predicate + similarity
    top-k, e.g. 'nearest docs WITHIN this tenant/category'): the label
    predicate applies BEFORE scoring, so the similarity fold runs only
    over the filtered slice.

    Scale shape: the filter is a plain parquet predicate — it reaches
    the scan (PushedFilters, asserted in test_plans.py), so with
    label-partitioned or label-sorted storage (`ensure_index`) whole
    files/row-groups skip and the scored fraction is the selectivity,
    not the corpus. Post-filter ANN (score everything, filter after) is
    the naive alternative that wastes exactly 1/selectivity of the
    scoring work. TakeOrderedAndProject keeps top-k local+merge as in
    vector_l2_topk."""
    scored = _scored(spark, sf_dir).filter(F.col("label") == 2).withColumn(
        "relevance", vec.cosine_similarity(F.col("embedding"), F.col("qv"))
    )
    return (
        scored.filter(F.col("relevance") >= 0.2)
        .orderBy(F.col("relevance").desc(), F.col("vec_id"))
        .limit(50)
        .select("vec_id", "label", "relevance")
    )


@register(
    "vector_multi_query_topk",
    oracle=f"""
    WITH q AS (
        SELECT CAST(vec_id AS BIGINT) AS qid, embedding AS qv
        FROM embeddings WHERE CAST(vec_id AS BIGINT) < 8
    ), scored AS (
        SELECT q.qid,
               CAST(e.vec_id AS BIGINT) AS vec_id,
               CAST(e.label AS BIGINT) AS label,
               {_DUCK_COSINE} AS relevance
        FROM embeddings e, q
        WHERE CAST(e.vec_id AS BIGINT) >= 8
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY qid ORDER BY relevance DESC, vec_id) AS rn
        FROM scored
    )
    SELECT qid, vec_id, label, relevance FROM ranked WHERE rn <= 5
    """,
)
def vector_multi_query_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED vector search: a query batch (8 vectors) against the
    corpus in ONE scan, per-query cosine top-5 — how retrieval actually
    runs in production (embedding a request batch and searching once),
    vs looping vector_cosine_topk 8 times = 8 corpus scans.

    Scale shape: the query batch broadcasts (requests are always the
    small side); the corpus is scanned ONCE and never shuffled for
    scoring; the only exchange is the per-qid hash for the grouped
    top-k window, and Spark compiles the row_number cut to
    WindowGroupLimit Partial->Final: each input partition keeps only
    its local top-5 per query BEFORE the exchange, so ~5 rows per
    (partition, query) shuffle — not the scored corpus (plan-asserted
    in test_plans.py; with thousands of concurrent queries the same
    plan spreads queries across the cluster). Determinism: the ordered-fold cosine recipe plus the
    (relevance DESC, vec_id) tie-break, as everywhere in this module."""
    from pyspark.sql import Window

    tables = load_views(spark, sf_dir)
    emb = tables["embeddings"].select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        "embedding",
        F.col("label").cast("bigint").alias("label"),
    )
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    scored = (
        emb.filter(F.col("vec_id") >= 8)
        .crossJoin(F.broadcast(q))
        .select(
            "qid",
            "vec_id",
            "label",
            vec.cosine_similarity(F.col("embedding"), F.col("qv")).alias(
                "relevance"
            ),
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("qid").orderBy(F.col("relevance").desc(), F.col("vec_id"))
    )
    return (
        scored.withColumn("rn", rn)
        .filter(F.col("rn") <= 5)
        .select("qid", "vec_id", "label", "relevance")
    )
