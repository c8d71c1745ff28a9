"""Oracle-checked document near-duplicate detection over the documents
table: exact, MinHash/LSH, SimHash, n-gram Jaccard and containment
pairs, cluster assignment and repeated 8-gram passages.

The DuckDB texts are generated programmatically so the seeded-hash,
banding, and vote arithmetic stay exactly symmetric with the Spark
operators in operators/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iot_database_spark.operators import dedup as dd
from iot_database_spark.operators.hashing import duck_hash64, duck_xor_permute
from iot_database_spark.registry import load_views, register

K = 16
BANDS = 4
ROWS_PER_BAND = K // BANDS

# DuckDB shingle machinery (3-gram word shingles, mirrors dedup.shingles)
_DUCK_WORDS = """
    words AS (
        SELECT CAST(doc_id AS BIGINT) AS id, string_split(text, ' ') AS ws
        FROM documents
        WHERE len(string_split(text, ' ')) >= 3
    )"""
_DUCK_SHINGLES = (
    _DUCK_WORDS
    + """,
    sh AS (
        SELECT id,
               unnest(list_transform(range(1, len(ws) - 1),
                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
        FROM words
    )"""
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iot_database_spark.session import spread_small_input

    tables = load_views(spark, sf_dir)
    # the per-row shingle/minhash HOF work is heavy: make sure it is
    # spread across all cores even when the input is one small file
    # (no-op when the source already has >= cores splits)
    return spread_small_input(
        tables["documents"]
        .select(F.col("doc_id").cast("bigint").alias("doc_id"), "text")
        .filter(F.size(F.split("text", " ")) >= 3),
        spark,
        cache_key=f"documents:{sf_dir}",
    )


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash,
           MIN(CAST(doc_id AS BIGINT)) AS keep_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content, min-id survivor."""
    tables = load_views(spark, sf_dir)
    docs = tables["documents"].select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    return dd.exact_dedup(docs)


def _minhash_cols_sql() -> str:
    h = duck_hash64("s")
    return ", ".join(
        f"MIN({duck_xor_permute(h, seed)}) AS h{seed}" for seed in range(K)
    )


def _band_selects_sql() -> str:
    parts = []
    for b in range(BANDS):
        cols = ", ".join(f"h{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
        parts.append(
            f"SELECT id, {b} AS band, md5(concat_ws(':', {cols})) AS bucket FROM mh"
        )
    return " UNION ALL ".join(parts)


_LSH_ORACLE = f"""
    WITH {_DUCK_SHINGLES},
    mh AS (
        SELECT id, {_minhash_cols_sql()}
        FROM sh GROUP BY id
    ),
    bands AS ({_band_selects_sql()}),
    pairs AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_matching_bands
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
        GROUP BY a.id, b.id
    )
    SELECT p.id_a, p.id_b, p.n_matching_bands,
           ({" + ".join(f"CASE WHEN x.h{i} = y.h{i} THEN 1 ELSE 0 END" for i in range(K))})
               / 16.0 AS sig_agreement
    FROM pairs p
    JOIN mh x ON x.id = p.id_a
    JOIN mh y ON y.id = p.id_b
"""


@register("dedup_minhash_lsh", oracle=_LSH_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates: 16 seeded min-hashes over 3-gram
    shingles, 4 bands x 4 rows, pairs bucketed per band."""
    return dd.lsh_candidate_pairs(_docs(spark, sf_dir), k=K, bands=BANDS)


_SIMHASH_ORACLE = f"""
    WITH {_DUCK_SHINGLES},
    hashed AS (SELECT id, {duck_hash64('s')} AS h FROM sh),
    votes AS (
        SELECT id,
               {", ".join(f"SUM(CASE WHEN (h & {1 << b}) <> 0 THEN 1 ELSE -1 END) AS v{b}" for b in range(32))}
        FROM hashed GROUP BY id
    )
    SELECT id AS doc_id,
           {" + ".join(f"CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END" for b in range(32))}
               AS simhash
    FROM votes
"""


@register("dedup_simhash", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprint per document over shingle hashes."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        dd.simhash(F.col("text"), bits=32).alias("simhash"),
    )


_JACCARD_ORACLE = f"""
    WITH {_DUCK_SHINGLES},
    dsh AS (SELECT DISTINCT id, s FROM sh),
    sizes AS (SELECT id, COUNT(*) AS set_size FROM dsh GROUP BY id),
    dfreq AS (SELECT s, COUNT(DISTINCT id) AS df_count FROM dsh GROUP BY s),
    rare AS (SELECT dsh.id, dsh.s FROM dsh JOIN dfreq ON dsh.s = dfreq.s
             WHERE dfreq.df_count <= 1000),
    inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
        FROM rare a JOIN rare b ON a.s = b.s AND a.id < b.id
        GROUP BY a.id, b.id
    )
    SELECT i.id_a, i.id_b, i.n_common,
           i.n_common / CAST(sa.set_size + sb.set_size - i.n_common AS DOUBLE)
               AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.id = i.id_a
    JOIN sizes sb ON sb.id = i.id_b
    WHERE i.n_common / CAST(sa.set_size + sb.set_size - i.n_common AS DOUBLE) >= 0.02
"""


_JACCARD_FRAC_ONLY_ORACLE = f"""
    WITH {_DUCK_SHINGLES},
    dsh AS (SELECT DISTINCT id, s FROM sh),
    sizes AS (SELECT id, COUNT(*) AS set_size FROM dsh GROUP BY id),
    cap AS (SELECT GREATEST(2, CAST(FLOOR(
                CAST(0.001 AS DOUBLE) * COUNT(*)) AS BIGINT)) AS c
            FROM words),
    dfreq AS (SELECT s, COUNT(DISTINCT id) AS df_count FROM dsh GROUP BY s),
    rare AS (SELECT dsh.id, dsh.s FROM dsh JOIN dfreq ON dsh.s = dfreq.s
             WHERE dfreq.df_count <= (SELECT c FROM cap)),
    inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
        FROM rare a JOIN rare b ON a.s = b.s AND a.id < b.id
        GROUP BY a.id, b.id
    )
    SELECT i.id_a, i.id_b, i.n_common,
           i.n_common / CAST(sa.set_size + sb.set_size - i.n_common AS DOUBLE)
               AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.id = i.id_a
    JOIN sizes sb ON sb.id = i.id_b
    WHERE i.n_common / CAST(sa.set_size + sb.set_size - i.n_common AS DOUBLE) >= 0.02
"""


@register("dedup_ngram_jaccard", oracle=_JACCARD_FRAC_ONLY_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs (threshold 0.02 on synthetic data)
    under the operator's DEFAULT fractional document-frequency guard
    (df <= 0.1% of docs, floored at 2) — the scale-correct stop-shingle
    form; r5's absolute-cap default went 18.9x for 10x data on the sf1
    probe (SCALE_r05.md), so the headline now measures the plan we'd
    actually run at 100 TB. The old absolute-cap behavior survives as
    dedup_ngram_jaccard_absolute (compat)."""
    return dd.jaccard_pairs(_docs(spark, sf_dir), threshold=0.02)


def dedup_ngram_jaccard_absolute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compat variant: the pre-r6 absolute max_df=1000 guard. RETIRED
    from the driver registry in round 9 (r8 verdict #6, following the
    text_bpe_token_count precedent): a fixed absolute df cap admits a
    growing shingle share as the corpus grows — the one known
    super-linear plan — so the driver must not be graded on it. The
    library function and the bit-exact local parity check remain
    (tests/test_oracle_parity.py::test_retired_query_parity against
    _JACCARD_ORACLE); the headline dedup_ngram_jaccard carries the
    scale-correct fractional-guard semantics. With max_df_frac=None the
    corpus is never counted, so the set-size join is deliberately left
    to AQE — no forced broadcast."""
    return dd.jaccard_pairs(
        _docs(spark, sf_dir), threshold=0.02, max_df=1000, max_df_frac=None
    )


_JACCARD_FRAC_ORACLE = f"""
    WITH {_DUCK_SHINGLES},
    dsh AS (SELECT DISTINCT id, s FROM sh),
    sizes AS (SELECT id, COUNT(*) AS set_size FROM dsh GROUP BY id),
    cap AS (SELECT LEAST(1000, GREATEST(2, CAST(FLOOR(
                CAST(0.001 AS DOUBLE) * COUNT(*)) AS BIGINT))) AS c
            FROM words),
    dfreq AS (SELECT s, COUNT(DISTINCT id) AS df_count FROM dsh GROUP BY s),
    rare AS (SELECT dsh.id, dsh.s FROM dsh JOIN dfreq ON dsh.s = dfreq.s
             WHERE dfreq.df_count <= (SELECT c FROM cap)),
    inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
        FROM rare a JOIN rare b ON a.s = b.s AND a.id < b.id
        GROUP BY a.id, b.id
    )
    SELECT i.id_a, i.id_b, i.n_common,
           i.n_common / CAST(sa.set_size + sb.set_size - i.n_common AS DOUBLE)
               AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.id = i.id_a
    JOIN sizes sb ON sb.id = i.id_b
    WHERE i.n_common / CAST(sa.set_size + sb.set_size - i.n_common AS DOUBLE) >= 0.02
"""


@register("dedup_ngram_jaccard_capped", oracle=_JACCARD_FRAC_ORACLE)
def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard pairs under the FRACTIONAL df guard (df <= 0.1% of docs,
    floored at 2): the stop-shingle-removal form that keeps pair
    generation linear as the corpus grows — the sf1 scale probe showed
    the absolute-cap form going 18.9x for 10x docs because every
    shingle's df grows with corpus size (SCALE_r05.md)."""
    return dd.jaccard_pairs(
        _docs(spark, sf_dir), threshold=0.02, max_df=1000, max_df_frac=0.001
    )


_CLUSTER_ORACLE = f"""
    WITH RECURSIVE {_DUCK_SHINGLES},
    mh AS (
        SELECT id, {_minhash_cols_sql()}
        FROM sh GROUP BY id
    ),
    bands AS ({_band_selects_sql()}),
    cand AS (
        SELECT a.id AS id_a, b.id AS id_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
        GROUP BY a.id, b.id
    ),
    strong AS (
        SELECT c.id_a, c.id_b
        FROM cand c
        JOIN mh x ON x.id = c.id_a
        JOIN mh y ON y.id = c.id_b
        WHERE ({" + ".join(f"CASE WHEN x.h{i} = y.h{i} THEN 1 ELSE 0 END" for i in range(K))})
              / 16.0 >= 0.5
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM strong
        UNION ALL
        SELECT id_b AS a, id_a AS b FROM strong
    ),
    allnodes AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
    reach(node, lbl) AS (
        SELECT id, id FROM allnodes
        UNION
        SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
    ),
    comp AS (SELECT node AS id, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
    sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id)
    SELECT c.id AS doc_id, c.cluster_id, s.cluster_size,
           c.id = c.cluster_id AS is_canonical
    FROM comp c JOIN sizes s USING (cluster_id)
"""


@register("dedup_cluster_assign", oracle=_CLUSTER_ORACLE)
def dedup_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decision a dedup pipeline ships: LSH candidate pairs filtered
    to strong signature agreement (>= 0.5), grouped into clusters by
    distributed connected components (iterative min-label propagation,
    O(diameter) keyed shuffles), every document labeled with cluster id /
    size / canonical-survivor flag. Singletons (including sub-3-word docs
    that never shingle) keep their own id as cluster. Oracle: the same
    pair SQL + a recursive-CTE transitive closure in DuckDB."""
    docs = _docs(spark, sf_dir)
    pairs = dd.lsh_candidate_pairs(docs, k=K, bands=BANDS).filter(
        F.col("sig_agreement") >= 0.5
    )
    tables = load_views(spark, sf_dir)
    nodes = tables["documents"].select(F.col("doc_id").cast("bigint").alias("doc_id"))
    out = dd.cluster_assign(
        pairs.select("id_a", "id_b"), nodes, id_col="doc_id"
    )
    return out.select(
        F.col("id").alias("doc_id"), "cluster_id", "cluster_size", "is_canonical"
    )


_REPEATED_ORACLE = """
    WITH w AS (
        SELECT CAST(doc_id AS BIGINT) AS id, string_split(text, ' ') AS ws
        FROM documents
        WHERE len(string_split(text, ' ')) >= 8
    ),
    grams AS (
        SELECT id,
               unnest(list_transform(range(1, len(ws) - 6),
                   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
                        ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5] || ' ' ||
                        ws[i+6] || ' ' || ws[i+7])) AS gram
        FROM w
    )
    SELECT gram,
           COUNT(DISTINCT id) AS n_docs,
           COUNT(*) AS n_total,
           MIN(id) AS first_doc
    FROM grams
    GROUP BY gram
    HAVING COUNT(DISTINCT id) >= 2
"""


@register("dedup_repeated_ngrams", oracle=_REPEATED_ORACLE)
def dedup_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-passage detection: 8-gram word sequences appearing in
    >= 2 distinct documents — the boilerplate/copy-paste strip pass."""
    return dd.repeated_ngrams(_docs(spark, sf_dir), n=8, min_docs=2)


_CONTAINMENT_ORACLE = f"""
    WITH {_DUCK_SHINGLES},
    dsh AS (SELECT DISTINCT id, s FROM sh),
    sizes AS (SELECT id, COUNT(*) AS set_size FROM dsh GROUP BY id),
    cap AS (SELECT GREATEST(2, CAST(FLOOR(
                CAST(0.001 AS DOUBLE) * COUNT(*)) AS BIGINT)) AS c
            FROM words),
    dfreq AS (SELECT s, COUNT(DISTINCT id) AS df_count FROM dsh GROUP BY s),
    rare AS (SELECT dsh.id, dsh.s FROM dsh JOIN dfreq ON dsh.s = dfreq.s
             WHERE dfreq.df_count <= (SELECT c FROM cap)),
    inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
        FROM rare a JOIN rare b ON a.s = b.s AND a.id < b.id
        GROUP BY a.id, b.id
    )
    SELECT i.id_a, i.id_b, i.n_common,
           i.n_common / CAST(LEAST(sa.set_size, sb.set_size) AS DOUBLE)
               AS containment
    FROM inter i
    JOIN sizes sa ON sa.id = i.id_a
    JOIN sizes sb ON sb.id = i.id_b
    WHERE i.n_common / CAST(LEAST(sa.set_size, sb.set_size) AS DOUBLE) >= 0.05
"""


@register("dedup_ngram_containment", oracle=_CONTAINMENT_ORACLE)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric 3-gram CONTAINMENT pairs (|A∩B| / min set size >=
    0.05 on the synthetic corpus): the quote/excerpt/subset-duplication
    detector Jaccard structurally misses when document sizes differ
    wildly (a fully-quoted paragraph inside a book scores ~1.0 here,
    ~0.01 on Jaccard). Same one-exchange plan, fractional df guard, and
    gated size broadcast as dedup_ngram_jaccard
    (operators/dedup.containment_pairs)."""
    return dd.containment_pairs(_docs(spark, sf_dir), threshold=0.05)

