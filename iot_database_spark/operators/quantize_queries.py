"""Driver-graded int8-quantization queries (operators/quantize.py).

Two entries, both integer-exact end to end (see quantize.py's
determinism notes — FLOOR(x+0.5) quantization, then pure int math):

- `embedding_quantize_int8`: the full corpus quantized against
  per-dimension max-|v| scales, graded as the CSV of int8 codes plus a
  floor-scaled micro-unit max reconstruction error per vector.
- `ann_int8_cosine`: top-10 by INTEGER dot product over the quantized
  corpus against the quantized query vector (vec_id 0) — the 4x-smaller,
  SIMD-friendly scale path next to the exact float `vector_cosine_topk`
  and the bucketed `ann_ivf_cosine`.

Reference parity anchor: the reference's vector surface is brute-force
float cosine/L2 (VectorIndex.cs, VectorCollection.cs Search*); this
module is the declared scale superset, not a ported algorithm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iot_database_spark.operators import quantize as qz
from iot_database_spark.registry import load_views, register

# Shared oracle prelude: corpus, per-dimension scales (dim-agnostic —
# derived from len(embedding), never hardcoded), quantized codes.
_QUANT_CTES = """
    WITH e AS (
        SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding
        FROM embeddings
    ),
    exploded AS (
        SELECT u.i AS dim, abs(CAST(e.embedding[u.i] AS DOUBLE)) AS av
        FROM e, LATERAL (SELECT unnest(range(1, len(e.embedding)+1)) AS i) u
    ),
    scales AS (
        SELECT list(s ORDER BY dim) AS sv
        FROM (SELECT dim, max(av) AS s FROM exploded GROUP BY dim)
    ),
    q AS (
        SELECT e.vec_id, e.embedding, s.sv,
               list_transform(range(1, len(e.embedding)+1),
                 i -> CASE WHEN s.sv[i] = 0 THEN 0
                      ELSE GREATEST(-127, LEAST(127,
                        CAST(FLOOR(CAST(e.embedding[i] AS DOUBLE)
                                   / s.sv[i] * 127.0 + 0.5) AS INTEGER)))
                      END) AS qv
        FROM e, scales s
    )
"""

_QUANTIZE_ORACLE = f"""
    {_QUANT_CTES}
    SELECT vec_id,
           array_to_string(qv, ',') AS qvec_csv,
           list_max(list_transform(range(1, len(embedding)+1),
             i -> CAST(FLOOR(abs(CAST(embedding[i] AS DOUBLE)
                                 - qv[i] * sv[i] / 127.0)
                             * 1000000.0) AS BIGINT))) AS max_err_micro
    FROM q
"""


@register("embedding_quantize_int8", oracle=_QUANTIZE_ORACLE)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantize every embedding to int8 codes. Plan: ONE tiny
    dim-aggregate (posexplode -> groupBy(64 dims) -> max) whose single
    result row broadcasts back onto the corpus; the quantizer itself is
    a map-side zip_with. At 100 TB the scales row is computed once and
    persisted (VectorIndex-style); the corpus pass is shuffle-free.

    Graded columns are engine-exact: the codes as CSV text (ints), and
    max reconstruction error folded from per-element floor-scaled
    micro-units (ints)."""
    tables = load_views(spark, sf_dir)
    emb = tables["embeddings"].select(
        F.col("vec_id").cast("bigint").alias("vec_id"), "embedding"
    )
    dfq = qz.quantize_int8(
        qz.attach_scales(emb, qz.dim_scales(emb))
    ).withColumn("_emb", F.col("embedding").cast("array<double>"))
    return dfq.select(
        "vec_id",
        F.concat_ws(",", F.expr("transform(qvec, x -> cast(x as string))")).alias(
            "qvec_csv"
        ),
        F.expr(
            "array_max(transform(sequence(1, size(_emb)), i -> "
            "cast(floor(abs(element_at(_emb, i) "
            "- element_at(qvec, i) * element_at(_scales, i) / 127.0D) "
            "* 1000000.0D) as bigint)))"
        ).alias("max_err_micro"),
    )


_ANN_INT8_ORACLE = f"""
    {_QUANT_CTES},
    qq AS (SELECT qv AS qref FROM q WHERE vec_id = 0)
    SELECT q.vec_id,
           CAST(list_sum(list_transform(range(1, len(q.qv)+1),
               i -> CAST(q.qv[i] AS BIGINT) * qq.qref[i])) AS BIGINT) AS dot_q
    FROM q, qq
    WHERE q.vec_id <> 0
    ORDER BY dot_q DESC, q.vec_id
    LIMIT 10
"""


@register("ann_int8_cosine", oracle=_ANN_INT8_ORACLE)
def ann_int8_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 neighbours of vec_id 0 by INTEGER dot product over int8
    codes (embeddings are unit-norm, so int8 dot ranking tracks cosine).
    Plan: broadcast 1-row query, per-row int64 fold (codegen, no
    Python, no float), TakeOrderedAndProject — one corpus scan. The
    sort key (dot_q, vec_id) is unique, so the LIMIT boundary is
    engine-deterministic."""
    tables = load_views(spark, sf_dir)
    emb = tables["embeddings"].select(
        F.col("vec_id").cast("bigint").alias("vec_id"), "embedding"
    )
    dfq = qz.quantize_int8(qz.attach_scales(emb, qz.dim_scales(emb))).select(
        "vec_id", "qvec"
    )
    return qz.int8_topk(
        dfq.filter(F.col("vec_id") != 0), dfq.filter(F.col("vec_id") == 0), k=10
    )
