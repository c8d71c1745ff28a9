"""Oracle-checked queries exercising the BsonExpression scalar dialect
(SURVEY.md §2.8 — reference: LiteDB/Document/Expression/Methods/*.cs).

Where Spark SQL and DuckDB disagree on function names/semantics, the two
texts differ but compute the same values (e.g. format_string vs printf,
sha2 vs sha256, get_json_object vs json_extract_string).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from iot_database_spark.registry import load_views, register


def _sql(name: str, spark_sql: str, oracle: str | None = None) -> None:
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        load_views(spark, sf_dir)
        return spark.sql(spark_sql)

    fn.__name__ = f"q_{name}"
    register(name, oracle if oracle is not None else spark_sql)(fn)


# String.cs surface: LOWER/UPPER/TRIM/SUBSTRING/REPLACE/LPAD/RPAD/INDEXOF
_sql(
    "string_funcs",
    """
    SELECT c_custkey,
           LOWER(c_name)                       AS lower_name,
           UPPER(c_mktsegment)                 AS upper_seg,
           TRIM(CONCAT('  ', c_name, '  '))    AS trimmed,
           SUBSTRING(c_name, 1, 8)             AS name_prefix,
           REPLACE(c_name, 'Customer', 'Cst')  AS replaced,
           LPAD(CAST(c_custkey AS STRING), 10, '0') AS padded_key,
           INSTR(c_name, '0')                  AS zero_pos,
           LENGTH(c_name)                      AS name_len
    FROM customer
    """,
    oracle="""
    SELECT c_custkey,
           LOWER(c_name)                       AS lower_name,
           UPPER(c_mktsegment)                 AS upper_seg,
           TRIM(CONCAT('  ', c_name, '  '))    AS trimmed,
           SUBSTRING(c_name, 1, 8)             AS name_prefix,
           REPLACE(c_name, 'Customer', 'Cst')  AS replaced,
           LPAD(CAST(c_custkey AS VARCHAR), 10, '0') AS padded_key,
           CAST(INSTR(c_name, '0') AS INT)     AS zero_pos,
           CAST(LENGTH(c_name) AS INT)         AS name_len
    FROM customer
    """,
)

# String.cs FORMAT/JOIN/IS_MATCH/MATCH (format_string, concat_ws, rlike,
# regexp_extract)
_sql(
    "string_format_regex",
    """
    SELECT p_partkey,
           FORMAT_STRING('%s/%d', p_brand, p_size)     AS brand_size,
           CONCAT_WS('-', p_brand, p_type)             AS joined,
           p_name RLIKE '^[a-f]'                       AS starts_af,
           REGEXP_EXTRACT(p_type, '([A-Z]+)', 1)       AS first_upper_word
    FROM part
    """,
    oracle="""
    SELECT p_partkey,
           PRINTF('%s/%d', p_brand, CAST(p_size AS BIGINT))  AS brand_size,
           CONCAT_WS('-', p_brand, p_type)                   AS joined,
           REGEXP_MATCHES(p_name, '^[a-f]')                  AS starts_af,
           COALESCE(REGEXP_EXTRACT(p_type, '([A-Z]+)', 1), '') AS first_upper_word
    FROM part
    """,
)

# Date.cs surface: YEAR..SECOND, DATEADD, DATEDIFF
_sql(
    "date_funcs",
    """
    SELECT o_orderkey,
           YEAR(o_orderdate)    AS y,
           MONTH(o_orderdate)   AS mo,
           DAY(o_orderdate)     AS d,
           HOUR(o_orderdate)    AS h,
           MINUTE(o_orderdate)  AS mi,
           SECOND(o_orderdate)  AS s,
           TIMESTAMPADD(DAY, 30, o_orderdate)            AS due_date,
           TIMESTAMPDIFF(DAY, o_orderdate, TIMESTAMP '1998-12-31 00:00:00') AS days_to_eoy
    FROM orders
    """,
    oracle="""
    SELECT o_orderkey,
           CAST(YEAR(o_orderdate) AS INT)    AS y,
           CAST(MONTH(o_orderdate) AS INT)   AS mo,
           CAST(DAY(o_orderdate) AS INT)     AS d,
           CAST(HOUR(o_orderdate) AS INT)    AS h,
           CAST(MINUTE(o_orderdate) AS INT)  AS mi,
           CAST(SECOND(o_orderdate) AS INT)  AS s,
           o_orderdate + INTERVAL 30 DAY     AS due_date,
           CAST(DATEDIFF('day', o_orderdate, TIMESTAMP '1998-12-31 00:00:00') AS BIGINT) AS days_to_eoy
    FROM orders
    """,
)

# Math.cs: ABS/ROUND/POW  (exact on decimal inputs so both engines agree)
# both engines compute on exact DECIMALs, then surface as DOUBLE —
# Spark would otherwise return DECIMAL where DuckDB returns DOUBLE and
# the value-hash would diverge on type alone (values identical)
_sql(
    "math_funcs",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(ABS(CAST(l_discount AS DECIMAL(4,2)) - 0.05) AS DOUBLE) AS abs_from_mid,
           CAST(ROUND(CAST(l_extendedprice AS DECIMAL(12,2)) / 100, 1) AS DOUBLE) AS price_hundreds,
           CAST(POW(l_quantity, 2) AS DOUBLE)                 AS qty_sq
    FROM lineitem
    WHERE l_orderkey <= 1000
    """,
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(ABS(CAST(l_discount AS DECIMAL(4,2)) - 0.05) AS DOUBLE) AS abs_from_mid,
           CAST(ROUND(CAST(l_extendedprice AS DECIMAL(12,2)) / 100, 1) AS DOUBLE) AS price_hundreds,
           CAST(POW(l_quantity, 2) AS DOUBLE)                 AS qty_sq
    FROM lineitem
    WHERE l_orderkey <= 1000
    """,
)

# Misc.cs IIF/COALESCE/LENGTH + DataTypes casts
_sql(
    "conditional_cast",
    """
    SELECT o_orderkey,
           IF(o_totalprice > 100000, 'big', 'small')  AS bucket,
           COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS status_or_open,
           CAST(FLOOR(o_totalprice) AS BIGINT)        AS price_int,
           CAST(CAST(o_orderdate AS DATE) AS STRING)  AS order_day
    FROM orders
    """,
    oracle="""
    SELECT o_orderkey,
           IF(o_totalprice > 100000, 'big', 'small')  AS bucket,
           COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS status_or_open,
           CAST(FLOOR(o_totalprice) AS BIGINT)        AS price_int,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_day
    FROM orders
    """,
)

# Misc.cs JSON() — parse the events.props JSON blob (reference parses BSON
# docs from JSON strings; Misc.cs:17-42)
_sql(
    "json_extract",
    """
    SELECT event_id,
           CAST(GET_JSON_OBJECT(props, '$.k') AS INT) AS k_value,
           event_type
    FROM events
    WHERE GET_JSON_OBJECT(props, '$.k') IS NOT NULL
    """,
    oracle="""
    SELECT event_id,
           CAST(JSON_EXTRACT_STRING(props, '$.k') AS INT) AS k_value,
           event_type
    FROM events
    WHERE JSON_EXTRACT_STRING(props, '$.k') IS NOT NULL
    """,
)

# Higher-order array ops (BsonExpressionFunctions MAP/FILTER/SORT +
# Misc.cs ITEMS/CONCAT/DISTINCT) over tokenized document text.
_sql(
    "array_higher_order",
    """
    SELECT doc_id,
           SIZE(SPLIT(text, ' '))                                   AS n_tokens,
           SIZE(FILTER(SPLIT(text, ' '), w -> LENGTH(w) > 4))       AS n_long_tokens,
           SIZE(ARRAY_DISTINCT(SPLIT(text, ' ')))                   AS n_unique_tokens,
           ELEMENT_AT(ARRAY_SORT(ARRAY_DISTINCT(SPLIT(text, ' '))), 1) AS first_token_sorted,
           ARRAY_JOIN(SLICE(TRANSFORM(SPLIT(text, ' '), w -> UPPER(w)), 1, 3), '_') AS first3_upper
    FROM documents
    """,
    oracle="""
    SELECT doc_id,
           CAST(LEN(STRING_SPLIT(text, ' ')) AS INT)                      AS n_tokens,
           CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), w -> LENGTH(w) > 4)) AS INT) AS n_long_tokens,
           CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS INT)       AS n_unique_tokens,
           LIST_SORT(LIST_DISTINCT(STRING_SPLIT(text, ' ')))[1]           AS first_token_sorted,
           ARRAY_TO_STRING(LIST_TRANSFORM(STRING_SPLIT(text, ' '), w -> UPPER(w))[1:3], '_') AS first3_upper
    FROM documents
    """,
)

# DataTypes.cs try-parse predicates over the dynamic string slots
# (IotValue.AsDouble/IsNumeric model — IotValue.cs:410-520)
_sql(
    "try_cast_predicates",
    """
    SELECT event_id,
           TRY_CAST(GET_JSON_OBJECT(props, '$.k') AS DOUBLE) IS NOT NULL AS k_is_number,
           TRY_CAST(event_type AS DOUBLE) IS NOT NULL                    AS type_is_number,
           TRY_CAST(CAST(value AS STRING) AS DOUBLE)                     AS value_roundtrip
    FROM events
    """,
    oracle="""
    SELECT event_id,
           TRY_CAST(JSON_EXTRACT_STRING(props, '$.k') AS DOUBLE) IS NOT NULL AS k_is_number,
           TRY_CAST(event_type AS DOUBLE) IS NOT NULL                        AS type_is_number,
           TRY_CAST(CAST(value AS VARCHAR) AS DOUBLE)                        AS value_roundtrip
    FROM events
    """,
)

# sha2 digests (the blockchain + password surface primitive —
# Blockchain/Block.cs:24-39, IotValue.ToPasswordHash:1117-1145)
_sql(
    "sha256_hash",
    """
    SELECT c_custkey,
           SHA2(c_name, 256) AS name_sha,
           MD5(c_mktsegment) AS seg_md5
    FROM customer
    """,
    oracle="""
    SELECT c_custkey,
           SHA256(c_name)  AS name_sha,
           MD5(c_mktsegment) AS seg_md5
    FROM customer
    """,
)

# Misc.cs EXTEND/KEYS/VALUES — document/map surface over parsed JSON
# (EXTEND = map merge Misc.cs:44-67; KEYS :102-114; VALUES :116-128)
_sql(
    "map_functions",
    """
    WITH m AS (
        SELECT event_id,
               FROM_JSON(props, 'map<string,string>') AS doc
        FROM events
    )
    SELECT event_id,
           ARRAY_JOIN(ARRAY_SORT(MAP_KEYS(doc)), ',')      AS keys_joined,
           SIZE(MAP_KEYS(doc))                             AS n_keys,
           CAST(doc['k'] AS INT)                           AS k_value,
           ARRAY_JOIN(ARRAY_SORT(MAP_KEYS(
               MAP_CONCAT(doc, MAP('extra', '1')))), ',')  AS extended_keys
    FROM m
    """,
    oracle="""
    SELECT CAST(event_id AS BIGINT) AS event_id,
           array_to_string(list_sort(json_keys(props)), ',') AS keys_joined,
           CAST(len(json_keys(props)) AS INT)                AS n_keys,
           CAST(json_extract_string(props, '$.k') AS INT)    AS k_value,
           array_to_string(list_sort(list_append(json_keys(props), 'extra')), ',')
               AS extended_keys
    FROM events
    """,
)
