"""Oracle-checked dedup queries over the documents/embeddings tables.

The DuckDB texts are generated programmatically so the seeded-hash,
banding, and vote arithmetic stay exactly symmetric with the Spark
operators in operators/dedup.py.
"""

from __future__ import annotations

import os

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


# Materialization-strategy helpers — moved to operators/dedup.py in r13
# so the library-level pair generators (jaccard_pairs) can use them
# without a circular import; re-exported here because the span family
# and its tests address them via this module.
from iot_database_spark.operators.dedup import (  # noqa: E402,F401
    _materialize_mode,
    _materialize_once,
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


_EMB_NEARDUP_ORACLE = """
    WITH e AS (
        SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding,
               CAST(label AS BIGINT) AS label
        FROM embeddings
    ),
    wide AS (
        SELECT label FROM e GROUP BY label HAVING COUNT(*) > 4096
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS blk,
           list_reduce(list_prepend(0.0, list_transform(range(1, 65),
               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
               (acc, x) -> acc + x)
           / (SQRT(list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                  i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))),
                  (acc, x) -> acc + x))
              * SQRT(list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                  i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
                  (acc, x) -> acc + x))) AS cosine
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE a.label NOT IN (SELECT label FROM wide)
      AND list_reduce(list_prepend(0.0, list_transform(range(1, 65),
               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
               (acc, x) -> acc + x)
           / (SQRT(list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                  i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))),
                  (acc, x) -> acc + x))
              * SQRT(list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                  i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
                  (acc, x) -> acc + x))) >= 0.4
"""


@register("dedup_embedding_cosine", oracle=_EMB_NEARDUP_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by label (at scale the
    block is an LSH/IVF bucket)."""
    tables = load_views(spark, sf_dir)
    emb = tables["embeddings"].select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        "embedding",
        F.col("label").cast("bigint").alias("label"),
    )
    return dd.embedding_neardup_pairs(emb, block_col="label", min_cosine=0.4)


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


_FUZZY_ORACLE = """
    WITH c AS (
        SELECT CAST(c_custkey AS BIGINT) AS id, c_name,
               CAST(c_nationkey AS BIGINT) AS blk
        FROM customer
    ),
    wide AS (
        SELECT blk FROM c GROUP BY blk HAVING COUNT(*) > 4096
    )
    SELECT a.id AS id_a, b.id AS id_b,
           levenshtein(a.c_name, b.c_name) AS edit_dist
    FROM c a JOIN c b ON a.blk = b.blk AND a.id < b.id
    WHERE a.blk NOT IN (SELECT blk FROM wide)
      AND levenshtein(a.c_name, b.c_name) <= 2
"""

# Blocked-self-join width guard (r10 cap audit — same role as
# lsh_candidate_pairs' max_bucket / DECON_MAX_BUCKET): nation is a
# FIXED-cardinality key, so per-block width grows linearly with the
# corpus and the blocked join quadratically. Blocks wider than this are
# dropped — a >4096-member block means the key no longer blocks and the
# caller must re-block (e.g. nation + name n-gram). No effect at the
# graded SFs (widest nation block: ~60 docs at sf0.01, ~600 at sf0.1).
_FUZZY_MAX_BLOCK = 4096


@register("dedup_fuzzy_name_match", oracle=_FUZZY_ORACLE)
def dedup_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy matching: candidate pairs within a blocking key
    (nation) at edit distance <= 2 — the record-linkage primitive.
    Blocking bounds the quadratic join exactly like LSH bands bound
    near-dup pair generation (over-wide blocks drop — _FUZZY_MAX_BLOCK);
    levenshtein runs JVM-side in both engines."""
    tables = load_views(spark, sf_dir)
    c = tables["customer"].select(
        F.col("c_custkey").cast("bigint").alias("id"),
        "c_name",
        F.col("c_nationkey").cast("bigint").alias("blk"),
    )
    wide = (
        c.groupBy("blk")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > _FUZZY_MAX_BLOCK)
        .select("blk")
    )
    a = c.join(F.broadcast(wide), "blk", "left_anti").alias("a")
    b = c.alias("b")
    dist = F.levenshtein(F.col("a.c_name"), F.col("b.c_name"))
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            dist.alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 2)
    )


# Decontamination banding: 16 bands x 1 row (every signature position is
# its own bucket key) — the HIGH-RECALL setting: a candidate needs only
# one agreeing minhash (~ any Jaccard overlap at all), and the agreement
# score then grades severity. Near-dup detection (above) wants precision
# and uses 4x4; decontamination must not miss, so it nets wide.
DECON_BANDS = 16

# broadcast the eval tables only while they are provably small. The
# broadcast side carries ONLY (eid, band, bucket) — ~50 B/row — never
# the 16-slot bigint signature (r9 advice: at the old 125k-doc bound
# the signature-carrying banded rows were ~400-500 MB, an executor OOM
# exactly at the documented boundary). At this bound: 400k banded
# bucket rows ~ 20 MB + 25k signature rows ~ 4 MB. Above it AQE
# decides the join strategy.
_EVAL_BROADCAST_MAX_DOCS = 400_000 // DECON_BANDS

# Band-bucket width cap (r9 verdict #1) — the same skew guard the
# near-dup path carries (dedup.lsh_candidate_pairs max_bucket): a
# (band, bucket) shared by more than this many documents (train + eval
# combined) is a DEGENERATE band — boilerplate/low-entropy content that
# collides with everything — and generating its train x eval cross
# product grows candidate pairs super-linearly (measured 8.8x for a
# 3.33x corpus step at sf10 before the cap). Dropping such buckets
# bounds total candidate pairs by cap * 16 * |eval|, i.e. LINEAR in the
# held-out set at any corpus scale. Recall trade (documented like
# dedup_ngram_jaccard_capped): a contaminated pair detected ONLY
# through a >cap bucket is missed — but a band that wide carries no
# targeted signal (it matches thousands of docs indiscriminately), and
# any real overlap still collides in the other 15 bands.
DECON_MAX_BUCKET = 4096


def _decon_band_selects_sql(src: str = "mh") -> str:
    rpb = K // DECON_BANDS
    parts = []
    for b in range(DECON_BANDS):
        cols = ", ".join(f"h{b * rpb + r}" for r in range(rpb))
        parts.append(
            f"SELECT id, {b} AS band, md5(concat_ws(':', {cols})) AS bucket FROM {src}"
        )
    return " UNION ALL ".join(parts)


_DECON_MH_SCORED = f"""
    WITH {_DUCK_SHINGLES},
    mh AS (
        SELECT id, {_minhash_cols_sql()}
        FROM sh GROUP BY id
    ),
    bands AS ({_decon_band_selects_sql()}),
    wide AS (
        SELECT band, bucket FROM bands
        GROUP BY band, bucket HAVING COUNT(*) > {DECON_MAX_BUCKET}
    ),
    pairs AS (
        SELECT DISTINCT a.id AS tid, b.id AS eid
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
        WHERE a.id % 50 <> 0 AND b.id % 50 = 0
          AND NOT EXISTS (
              SELECT 1 FROM wide w
              WHERE w.band = a.band AND w.bucket = a.bucket
          )
    ),
    scored AS (
        SELECT p.tid, p.eid,
               ({" + ".join(f"CASE WHEN x.h{i} = y.h{i} THEN 1 ELSE 0 END" for i in range(K))})
                   AS agree
        FROM pairs p
        JOIN mh x ON x.id = p.tid
        JOIN mh y ON y.id = p.eid
    )
"""

_DECON_MH_ORACLE = f"""{_DECON_MH_SCORED}
    SELECT tid AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_eval_candidates,
           CAST(MAX(agree) AS INTEGER) AS max_agreement,
           MAX(agree) >= {K // 2} AS contaminated
    FROM scored
    GROUP BY tid
"""

_DECON_LEAK_ORACLE = f"""{_DECON_MH_SCORED}
    SELECT eid AS eval_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_train_candidates,
           CAST(MAX(agree) AS INTEGER) AS max_agreement,
           MAX(agree) >= {K // 2} AS leaked
    FROM scored
    GROUP BY eid
"""


def _sig_table(docs: DataFrame, *metrics) -> tuple:
    """(id, sig array<bigint>, buckets array<string>) — ONE row per doc,
    the corpus minhash banding computed EXACTLY ONCE and materialized
    (mode-routed like the span streams — _materialize_once), plus the
    gating scalars observed DURING the materialization job.

    Why materialize (r13, guide §2.4/§8): the decontamination plans had
    every consumer — the width census, the train band stream, and (in
    the %-50 variant) the eval bucket/signature sides — re-run the full
    per-shingle md5/minhash chain from the text scan: 2 full corpus
    minhash passes per query (4 scans total), when the decision data is
    a ~0.5 KB/doc signature row. Storing the slim signature table moves
    the heavy compute to exactly one pass; every consumer reads stored
    columnar rows and the scalars ride the materialization job as an
    Observation instead of a separate count action. Unlike the sufstr
    lesson (SCALE_r13.md #8 — 99.9% of that stream never reached a
    second consumer), every signature row here feeds at least two
    consumers, so the store is pure win."""
    from pyspark.sql import Observation

    obs = Observation()
    raw = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(F.array(dd.minhash_banded(F.col("text"), K, DECON_BANDS))).alias(
            "x"
        ),
    ).select(
        "id", F.col("x.sig").alias("sig"), F.col("x.buckets").alias("buckets")
    )
    sigs = _materialize_once(raw.observe(obs, *metrics))
    return sigs, obs.get


def _decon_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared candidate scoring for the two decontamination reports:
    (tid, eid, agree) — one row per colliding (train, eval) pair with
    the 0..16 signature agreement. See decontaminate_minhash for the
    full scale-shape story (this is its plan verbatim up to the final
    aggregation).

    Degenerate (band, bucket) groups wider than DECON_MAX_BUCKET
    members are dropped before pair generation (r9 verdict #1 — see the
    constant's comment for the bound and the recall trade). The width
    census is a partial-aggregated groupBy over slim (band, bucket)
    keys — the exchange carries one partial count per distinct bucket
    per input partition, not corpus rows — and only the (few, by
    definition degenerate) over-cap buckets flow into the broadcast
    anti-join that prunes the train side. As of r13 the census (and
    every other consumer) reads the materialized signature table
    (_sig_table) instead of re-running the corpus minhash."""
    docs = _docs(spark, sf_dir)
    # the two scalars that gate the plan ride the materialization job:
    # corpus size (can any bucket reach the width cap at all?) and eval
    # size (broadcast gate below)
    sigs, gates = _sig_table(
        docs,
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("id") % 50 == 0, 1)).alias("n_eval"),
    )
    n_docs, n_eval = gates["n_docs"], gates["n_eval"]
    banded = sigs.select(
        "id",
        "sig",
        F.posexplode(F.col("buckets")).alias("band", "bucket"),
    )
    is_eval = F.col("id") % 50 == 0
    train = banded.filter(~is_eval).select(
        F.col("id").alias("tid"), F.col("sig").alias("tsig"), "band", "bucket"
    )
    if n_docs > DECON_MAX_BUCKET:
        # width census: a (band, bucket) group can only exceed the cap
        # when the corpus itself does, so the extra pass over the stored
        # signatures is skipped below that size (where the plan — and
        # the oracle's no-op HAVING cut — degenerate to the uncapped
        # form anyway)
        wide = (
            banded.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > DECON_MAX_BUCKET)
            .select("band", "bucket")
        )
        # pruning the TRAIN side alone kills every pair from a wide
        # bucket (a pair needs both sides); the eval side needs no
        # second anti-join
        train = train.join(F.broadcast(wide), ["band", "bucket"], "left_anti")
    ev_buckets = banded.filter(is_eval).select(
        F.col("id").alias("eid"), "band", "bucket"
    )
    # one (eid -> signature) row per eval doc — the signature table is
    # per-doc already, no band filter needed
    ev_sigs = sigs.filter(is_eval).select(
        F.col("id").alias("eid"), F.col("sig").alias("esig")
    )
    gate = n_eval <= _EVAL_BROADCAST_MAX_DOCS
    bucket_side = F.broadcast(ev_buckets) if gate else ev_buckets
    sig_side = F.broadcast(ev_sigs) if gate else ev_sigs
    pairs = (
        train.join(bucket_side, ["band", "bucket"])
        .select("tid", "tsig", "eid")
        .dropDuplicates(["tid", "eid"])
    )
    scored = pairs.join(sig_side, "eid").select(
        "tid",
        "eid",
        F.size(
            F.filter(
                F.zip_with("tsig", "esig", lambda u, v: u == v),
                lambda eq: eq,
            )
        ).alias("agree"),
    )
    return scored


@register("decontaminate_minhash", oracle=_DECON_MH_ORACLE)
def decontaminate_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY benchmark decontamination — the MinHash sibling of
    `decontaminate_ngram_overlap` (which needs an EXACT shared 8-gram;
    a paraphrased eval answer slips through it, but still collides in
    MinHash band space). Training docs (doc_id % 50 != 0) are flagged
    when any eval doc (doc_id % 50 == 0) lands in a shared LSH band
    bucket; the signature-position agreement (0..16, >= 8 ~ estimated
    Jaccard >= 0.5) grades HOW contaminated.

    Scale shape: the eval slice here is doc_id %% 50 == 0 — 2%% of the
    corpus, which GROWS with the data — so the broadcast hint is
    size-gated like every other gated broadcast in this repo (one
    count() scalar against _EVAL_BROADCAST_MAX_DOCS): under the gate
    the training corpus is never shuffled at all; above it the join is
    left to Catalyst/AQE, which shuffle-joins on (band, bucket) —
    still one corpus exchange. The broadcast side is the SLIM
    (eid, band, bucket) table; the 16-slot signatures stay out of pair
    generation entirely — candidate pairs dedup per (tid, eid) FIRST,
    then the per-eval-doc signature table (one row per eval doc) joins
    back onto the pair-sized frame (r9 advice fix: the old plan
    broadcast esig with every banded row — 400+ MB at the bound). A
    real deployment passes an actual bounded held-out set, which
    always gates in. Per-pair agreement is a zip_with fold over two
    16-slot arrays; the only other exchange is the final per-train-doc
    groupBy. Band buckets wider than DECON_MAX_BUCKET are dropped
    before pair generation (r10: the skew guard the near-dup path
    already had — bounds candidate pairs to cap * bands * |eval| at any
    corpus scale; see _decon_scored). Same seeded-md5/XOR machinery as
    `dedup_minhash_lsh`, so the DuckDB text stays exactly symmetric."""
    return _decon_scored(spark, sf_dir).groupBy(F.col("tid").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_eval_candidates"),
        F.max("agree").cast("int").alias("max_agreement"),
        (F.max("agree") >= K // 2).alias("contaminated"),
    )


@register("decontaminate_eval_leak_report", oracle=_DECON_LEAK_ORACLE)
def decontaminate_eval_leak_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EVAL-side view of decontamination — the report a curation
    team actually reads first: per held-out document, how many training
    docs collide with it and how badly (a benchmark item with hundreds
    of high-agreement training collisions is COMPROMISED and should be
    dropped from the eval, not just scrubbed from training). Same
    candidate machinery as decontaminate_minhash (shared _decon_scored
    plan — one corpus exchange, slim gated broadcasts), aggregated per
    eval doc instead of per training doc; output is eval-set-sized,
    i.e. bounded by the held-out set at any corpus scale."""
    return _decon_scored(spark, sf_dir).groupBy(F.col("eid").alias("eval_doc_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_train_candidates"),
        F.max("agree").cast("int").alias("max_agreement"),
        (F.max("agree") >= K // 2).alias("leaked"),
    )


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


@register(
    "corpus_ngram_novelty",
    oracle=f"""
    WITH {_DUCK_SHINGLES},
    dsh AS (SELECT DISTINCT id, s FROM sh),
    firsts AS (SELECT s, MIN(id) AS first_id FROM dsh GROUP BY s),
    per_doc AS (
        SELECT dsh.id,
               COUNT(*) AS n_shingles,
               COUNT(*) FILTER (f.first_id = dsh.id) AS n_novel
        FROM dsh JOIN firsts f ON dsh.s = f.s
        GROUP BY dsh.id
    )
    SELECT id AS doc_id, n_shingles, n_novel,
           n_novel / CAST(n_shingles AS DOUBLE) AS novelty
    FROM per_doc
    """,
)
def corpus_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY: the fraction of a doc's distinct
    3-gram shingles whose first corpus occurrence (min doc_id — the
    deterministic stand-in for ingest order) is this document. The
    data-curation dual of dedup: low novelty = mostly-recycled text
    (boilerplate, syndication) even when no single pair crosses a
    near-dup threshold; streaming-ingest pipelines score batches
    against the seen-shingle set the same way.

    Scale shape (skew-proofed r12 — r11 verdict finding #1): the
    exploded (doc, shingle) stream is MATERIALIZED ONCE
    (_materialize_once) and first-occurrence owners come from
    groupBy(s).min(id) — map-side partial aggregation collapses a hot
    boilerplate shingle to one row per input task, where the r11
    min(id) OVER (PARTITION BY s) form sort-shuffled every occurrence
    of the Zipf-distributed key into one window partition with no AQE
    mitigation (skew splitting applies to joins, not windows). No
    join-back at all: each shingle's first occurrence belongs to
    exactly ONE document (its min id), so per-doc novel counts fall
    out of the owners table alone via a second tiny
    groupBy(first_id), and n_shingles is a doc-keyed partial-agg
    count over the materialized stream (uniform key) — both
    full-stream exchanges partially aggregated, final join doc-sized
    vs doc-sized. String shingles here (not the xxhash64 trick of
    jaccard_pairs) because the per-shingle MIN must match the
    oracle's exactly — group keys ARE compared cross-engine via the
    counts. Bit-identical to the r11 window form (plan change only).

    Measured at sf1 (min of 3, same process): 1.90 s vs the r11
    window form's 1.81 s — a 1.05x price for the skew-proof plan.
    Materializing the doc-level shingle ARRAY instead (the winner for
    dedup_span_exact's 8-byte hashes) measured WORSE here (3.32 s):
    these are ~20-byte STRING shingles, and serializing large string
    arrays into checkpoint blocks costs more than the stream rows."""
    docs = _docs(spark, sf_dir)
    dsh = _materialize_once(
        docs.select(
            F.col("doc_id").alias("id"),
            F.explode(F.array_distinct(dd.shingles(F.col("text")))).alias("s"),
        )
    )
    firsts = dsh.groupBy("s").agg(F.min("id").alias("first_id"))
    n_novel = firsts.groupBy(F.col("first_id").alias("id")).agg(
        F.count(F.lit(1)).alias("n_novel")
    )
    n_shingles = dsh.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    return (
        n_shingles.join(n_novel, "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            "n_shingles",
            F.coalesce(F.col("n_novel"), F.lit(0).cast("bigint")).alias("n_novel"),
        )
        .withColumn(
            "novelty",
            F.col("n_novel") / F.col("n_shingles").cast("double"),
        )
    )


# ---------------------------------------------------------------------------
# Span-level duplication (Lee et al., "Deduplicating Training Data Makes
# Language Models Better"): the unit of harmful duplication is the
# repeated SPAN, not the whole document. `dedup_span_exact` PROFILES it
# (which docs carry cross-corpus-repeated spans); `dedup_span_removal`
# REPAIRS it (every non-canonical occurrence of a repeated span is cut
# from the text, first occurrence kept). Registered r11; parity-tested
# since r10 (the profile staged in operators/staged_r11.py, now here).
# ---------------------------------------------------------------------------

SPAN_N = 8  # tokens per span — long enough that collisions mean copying

# Span EXCHANGES are keyed on the portable 60-bit hash of the span, not
# the span string itself: an 8-token span is 60-100 bytes of key, and
# the sf1->sf3 probe measured the string-keyed sort-merge join
# super-linear in wall-clock (12.6 s vs 7.9 s hashed at sf3; hashed is
# 3.24x for the 3.33x sf3->sf10 step — clean linear). Both engines
# apply the SAME hash (hashing.duck_hash64), so a collision merges the
# same two spans on both sides and parity is unaffected; expected
# colliding pairs at sf10 are ~2e-4 (23.6M spans over a 2^60 domain).

SPAN_EXACT_ORACLE = f"""
    WITH words AS (
        SELECT CAST(doc_id AS BIGINT) AS id, string_split(text, ' ') AS ws
        FROM documents
        WHERE len(string_split(text, ' ')) >= {SPAN_N}
    ),
    sp AS (
        SELECT DISTINCT id, {duck_hash64('s')} AS s FROM (
            SELECT id,
                   unnest(list_transform(range(1, len(ws) - {SPAN_N - 2}),
                          i -> {" || ' ' || ".join(f"ws[i+{k}]" for k in range(SPAN_N))})) AS s
            FROM words
        )
    ),
    dfreq AS (SELECT s, COUNT(*) AS df FROM sp GROUP BY s)
    SELECT sp.id AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(COUNT(CASE WHEN dfreq.df >= 2 THEN 1 END) AS BIGINT)
               AS n_dup_spans,
           COUNT(CASE WHEN dfreq.df >= 2 THEN 1 END)
               / CAST(COUNT(*) AS DOUBLE) AS dup_fraction
    FROM sp JOIN dfreq ON sp.s = dfreq.s
    GROUP BY sp.id
"""


@register("dedup_span_exact", oracle=SPAN_EXACT_ORACLE)
def dedup_span_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document CROSS-DOC span duplication profile: the fraction of
    a doc's distinct {SPAN_N}-token spans that appear verbatim in at
    least one OTHER document — the span-level signal document-level
    dedup (exact or MinHash) structurally misses when only a paragraph
    is copied.

    Scale shape (skew-proofed r12 — r11 verdict finding #1): per-doc
    span dedup is NARROW (array_distinct over the shingle array — no
    exchange); the per-doc span-hash ARRAY is MATERIALIZED ONCE
    (_materialize_once — the r11 groupBy+join A/B lost only because
    the shingling recomputed, not because the agg shape was wrong), so
    the explode runs once over materialized arrays and n_spans is a
    narrow size(arr) over the same doc-level rows. Per-span document
    frequency comes from groupBy(s) — map-side
    partial aggregation collapses a hot span to ONE row per input
    task, so a fleet-scale boilerplate span (license headers,
    templates: the EXPECTED case at 100 TB, with 1e8-1e9 occurrences)
    costs the reduce side #tasks rows instead of landing its entire
    occurrence set in one partition. The r11 form computed the same df
    as count(*) OVER (PARTITION BY s) — a full sort-shuffle on the
    Zipf-distributed span key that AQE cannot split (skew mitigation
    applies to joins, not windows), so a hot span degraded to a
    sort-spill straggler; scripts/probe_span_skew.py reproduces that
    straggler and shows this form flat (SCALE_r12.md).

    The join-back the window form existed to avoid is not needed at
    all: a span with df == 1 belongs to exactly ONE document, which is
    its min_doc — so per-doc unique-span counts fall out of the stats
    table alone (groupBy(min_doc) over df==1 rows), n_spans is the
    narrow size(arr), and n_dup_spans = n_spans - n_unique. The one
    full-stream exchange is partially aggregated; the only join is
    doc-sized vs doc-sized. Output rows = docs, stream rows = distinct (doc, span)
    pairs — linear in corpus at any scale, no cross-doc pair
    generation anywhere (a span profile never needs the quadratic
    join, which is why it needs no max_bucket guard). Span keys are
    hashed before any exchange (see SPAN_EXACT_ORACLE's comment); the
    per-doc distinct is taken over the HASHES in both engines so an
    intra-doc collision dedups identically. Bit-identical to the r11
    window form (plan change only; same driver hash).

    What exactly is materialized, measured three ways at sf1 (min of
    3, same process): the DOC-LEVEL span-hash array (one row per doc,
    same bytes as the stream without 50-100x the row overhead) at
    2.30 s beat both checkpointing the exploded stream itself (3.14 s)
    and recomputing the shingling in a narrow n_spans branch with no
    checkpoint at all (3.02 s — the same recompute loss the r11 A/B
    measured). The r11 window form was 1.88 s at sf1; 2.30 s is the
    1.22x price of the skew-proof plan, inside the verdict's 1.3x
    budget — and the explode runs once, from materialized arrays."""
    from iot_database_spark.operators.hashing import hash64

    docs = _docs(spark, sf_dir).filter(F.size(F.split("text", " ")) >= SPAN_N)
    doc_arrays = _materialize_once(
        docs.select(
            "doc_id",
            F.array_distinct(
                F.transform(dd.shingles(F.col("text"), SPAN_N), hash64)
            ).alias("arr"),
        )
    )
    spans = doc_arrays.select("doc_id", F.explode("arr").alias("s"))
    stats = spans.groupBy("s").agg(
        F.count(F.lit(1)).alias("df"), F.min("doc_id").alias("min_doc")
    )
    n_uniq = (
        stats.filter(F.col("df") == 1)
        .groupBy(F.col("min_doc").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_uniq"))
    )
    n_spans = doc_arrays.select(
        "doc_id", F.size("arr").cast("bigint").alias("n_spans")
    )
    return (
        n_spans.join(n_uniq, "doc_id", "left")
        .select(
            "doc_id",
            "n_spans",
            (F.col("n_spans") - F.coalesce(F.col("n_uniq"), F.lit(0)))
            .cast("bigint")
            .alias("n_dup_spans"),
        )
        .withColumn(
            "dup_fraction",
            F.col("n_dup_spans") / F.col("n_spans").cast("double"),
        )
    )


# Occurrence key: doc_id * 2^32 + 1-based position. A plain BIGINT min
# is the keeper rule both engines order identically (struct MIN ordering
# is engine-specific; integer MIN is not). Positions are < 2^32 by
# construction (a single document's token count), doc ids < 2^31.
_SPAN_KEY = 4294967296

SPAN_REMOVAL_ORACLE = f"""
    WITH alld AS (
        SELECT CAST(doc_id AS BIGINT) AS id,
               string_split(coalesce(text, ''), ' ') AS ws
        FROM documents
    ),
    sp AS (
        SELECT id, u['p'] AS pos, {duck_hash64("u['s']")} AS s
        FROM (
            SELECT id, unnest(list_transform(range(1, len(ws) - {SPAN_N - 2}),
                       i -> {{'p': i, 's': {" || ' ' || ".join(f"ws[i+{k}]" for k in range(SPAN_N))}}})) AS u
            FROM alld WHERE len(ws) >= {SPAN_N}
        )
    ),
    stats AS (
        SELECT s, COUNT(*) AS occ,
               MIN(id * {_SPAN_KEY} + pos) AS keep_key
        FROM sp GROUP BY s
    ),
    rmocc AS (
        SELECT sp.id, sp.pos
        FROM sp JOIN stats ON sp.s = stats.s
        WHERE stats.occ >= 2 AND sp.id * {_SPAN_KEY} + sp.pos <> stats.keep_key
    ),
    rmpos AS (
        SELECT DISTINCT id, CAST(pos + k AS INTEGER) AS ti
        FROM rmocc, LATERAL unnest(range(0, {SPAN_N})) t(k)
    ),
    rmset AS (SELECT id, list(ti) AS rm FROM rmpos GROUP BY id),
    rep AS (
        SELECT a.id,
               len(a.ws) AS n_tokens,
               COALESCE(len(r.rm), 0) AS n_removed,
               COALESCE(array_to_string(
                 list_transform(
                   list_filter(range(1, len(a.ws) + 1),
                               i -> r.rm IS NULL
                                    OR NOT list_contains(r.rm, CAST(i AS INTEGER))),
                   i -> a.ws[i]), ' '), '') AS cleaned
        FROM alld a LEFT JOIN rmset r ON a.id = r.id
    )
    SELECT id AS doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_removed AS BIGINT) AS n_removed,
           md5(cleaned) AS clean_md5
    FROM rep
"""


@register("dedup_span_removal", oracle=SPAN_REMOVAL_ORACLE)
def dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document span REMOVAL — the repair `dedup_span_exact` only
    profiles: every occurrence of a corpus-repeated {SPAN_N}-token span
    except the canonical one (min (doc_id, position), encoded as one
    BIGINT key so both engines order identically) is cut from the text;
    surviving tokens keep their order (Lee et al.'s train-set dedup,
    graded like text_repetition_trim: counts + an md5 of the repaired
    document, so the oracle compares the actual repaired text without
    moving its body).

    Scale shape (skew-proofed r12 — r11 verdict finding #1): the
    posexploded (doc, pos, span-hash) stream is MATERIALIZED ONCE
    (_materialize_once; the r11 groupBy+join-back A/B lost to the
    window form only because the explode recomputed). Per-span
    (count, keeper) stats come from groupBy(s) — map-side partial
    aggregation collapses a fleet-scale boilerplate span to one row
    per input task, where the r11 count(*)/min(key) OVER (PARTITION BY
    span) form sort-shuffled every occurrence of the Zipf-distributed
    key into a single window partition with no AQE mitigation (skew
    splitting applies to joins, not windows — the straggler
    scripts/probe_span_skew.py reproduces). Unlike the span PROFILE,
    removal genuinely needs per-occurrence keeper identity, so the
    stats (filtered to the repeated minority, occ >= 2) join back to
    the materialized stream — a join AQE CAN skew-split at runtime,
    and one it converts to a broadcast hash join outright when the
    repeated-span set is small (no probe-side exchange at all).
    Removed positions then shuffle once on doc_id into a per-doc
    position set (bounded by document length), and one join hands
    each document its removal set. The repair itself is NARROW
    per-row array work. No pair generation anywhere — removal is
    linear in corpus size at any scale, which is exactly why Lee et
    al. repair spans rather than joining candidate document pairs.
    Bit-identical to the r11 window form (plan change only).

    Measured at sf1 (min of 3, same process): 3.10 s vs the r11
    window form's 2.74 s — the 1.13x price of the skew-proof plan,
    inside the verdict's 1.3x budget. Materializing the doc-level
    hash array instead of the posexploded stream (the shape that won
    for dedup_span_exact) measured a wash here (3.16 s): removal
    consumes POSITIONS, so the explode re-runs for both consumers
    either way and the stream form feeds the join probe directly."""
    from iot_database_spark.operators.hashing import hash64

    tables = load_views(spark, sf_dir)
    alld = tables["documents"].select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.split(F.coalesce(F.col("text"), F.lit("")), " ").alias("ws"),
    )
    docs = _docs(spark, sf_dir).filter(F.size(F.split("text", " ")) >= SPAN_N)
    # span keys hashed before any exchange (SPAN_EXACT_ORACLE's comment:
    # the string-keyed exchange measured super-linear; the oracle hashes
    # in lockstep so a collision repairs identically on both sides)
    sp = _materialize_once(
        docs.select(
            "doc_id",
            F.posexplode(
                F.transform(dd.shingles(F.col("text"), SPAN_N), hash64)
            ).alias("p0", "s"),
        ).select("doc_id", (F.col("p0") + 1).cast("bigint").alias("pos"), "s")
    )
    occ_key = F.col("doc_id") * _SPAN_KEY + F.col("pos")
    stats = sp.groupBy("s").agg(
        F.count(F.lit(1)).alias("occ"), F.min(occ_key).alias("keep_key")
    )
    rmocc = (
        sp.join(stats.filter(F.col("occ") >= 2), "s")
        .filter(occ_key != F.col("keep_key"))
        .select("doc_id", "pos")
    )
    rmset = (
        rmocc.select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.col("pos").cast("int"),
                    (F.col("pos") + (SPAN_N - 1)).cast("int"),
                )
            ).alias("ti"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("ti").alias("rm"))
    )
    rep = alld.join(rmset, "doc_id", "left")
    kept = F.filter(
        F.col("ws"),
        lambda w, i: F.col("rm").isNull()
        | ~F.array_contains(F.col("rm"), (i + 1).cast("int")),
    )
    return rep.select(
        "doc_id",
        F.size("ws").cast("bigint").alias("n_tokens"),
        F.when(F.col("rm").isNull(), F.lit(0))
        .otherwise(F.size("rm"))
        .cast("bigint")
        .alias("n_removed"),
        F.md5(F.array_join(kept, " ")).alias("clean_md5"),
    )


# ---------------------------------------------------------------------------
# Variable-length exact substring duplication via the sorted-suffix
# (distributed suffix-array) method — the Lee et al. companion the span
# family approximates at fixed N (r12 verdict task #6). dedup_span_exact
# answers "does this fixed {SPAN_N}-token window repeat?"; this profile
# answers "HOW LONG is the repeat at each position?" — license headers,
# syndicated paragraphs, and template boilerplate are 20-200 tokens,
# and their extent (not just presence) decides whether to cut or drop.
#
# Method: every token position emits its suffix TRUNCATED to
# SUFFIX_MAX_W tokens; suffixes sharing a first-{SPAN_N}-token prefix
# land in one group (any pair with a common run >= SPAN_N shares that
# prefix by construction), and within a group, lexicographic suffix
# order makes each position's maximal match length = max(LCP with its
# two sorted neighbors) — the classic suffix-array LCP property, here
# per bounded group instead of over one global order (a global ORDER BY
# is a single-partition sort at any scale). Match lengths cap at
# SUFFIX_MAX_W by construction: "24+" is one answer, which is what a
# curation decision needs.
# ---------------------------------------------------------------------------

SUFFIX_MAX_W = 24  # truncation: the longest extent the profile resolves
SUFFIX_MAX_BUCKET = 4096  # group-width cap (same knob as the LSH family)
# broadcast the duplicated-key set below this many keys (8 B hash each:
# 4M keys ~ 32 MB — inside the session's 64 MB broadcast threshold);
# above it the rebuilt suffix stream shuffle-joins on k instead
SUFFIX_BROADCAST_KEYS = 4_000_000


def _suffix_lcp_sql(b: str) -> str:
    """DuckDB token-LCP between sufstr and neighbor column `b`: compare
    the first least(len) tokens pairwise; first mismatch index - 1 is
    the LCP, no mismatch (list_position = 0) means the shorter is a
    prefix of the longer. Mirrors the Spark lcp() in
    dedup_substring_suffix token for token."""
    a_ws = "string_split(sufstr, ' ')"
    b_ws = f"string_split({b}, ' ')"
    m = f"least(len({a_ws}), len({b_ws}))"
    pos = (
        f"list_position(list_transform(range(1, {m} + 1), "
        f"j -> {a_ws}[j] = {b_ws}[j]), false)"
    )
    return (
        f"CASE WHEN {b} IS NULL THEN 0 "
        f"WHEN {pos} = 0 THEN {m} ELSE {pos} - 1 END"
    )


SUFFIX_SUBSTRING_ORACLE = f"""
    WITH words AS (
        SELECT CAST(doc_id AS BIGINT) AS id, string_split(text, ' ') AS ws
        FROM documents
        WHERE len(string_split(text, ' ')) >= {SPAN_N}
    ),
    keyed AS (
        SELECT id, i AS pos,
               array_to_string(list_slice(ws, i, i + {SUFFIX_MAX_W - 1}), ' ')
                   AS sufstr,
               {duck_hash64(f"array_to_string(list_slice(ws, i, i + {SPAN_N - 1}), ' ')")}
                   AS k
        FROM words, LATERAL unnest(range(1, len(ws) - {SPAN_N - 2})) t(i)
    ),
    census AS (SELECT k, COUNT(*) AS n FROM keyed GROUP BY k),
    neigh AS (
        SELECT id, sufstr,
               LAG(sufstr) OVER w AS prev, LEAD(sufstr) OVER w AS nxt
        FROM keyed JOIN census USING (k)
        WHERE n BETWEEN 2 AND {SUFFIX_MAX_BUCKET}
        WINDOW w AS (PARTITION BY k ORDER BY sufstr)
    ),
    scored AS (
        SELECT id,
               GREATEST({_suffix_lcp_sql('prev')}, {_suffix_lcp_sql('nxt')})
                   AS ml,
               FALSE AS boiler
        FROM neigh
        UNION ALL
        SELECT id, {SPAN_N} AS ml, TRUE AS boiler
        FROM keyed JOIN census USING (k) WHERE n > {SUFFIX_MAX_BUCKET}
    ),
    per_doc AS (
        SELECT id,
               CAST(COUNT(CASE WHEN ml >= {SPAN_N} THEN 1 END) AS BIGINT)
                   AS n_dup_positions,
               CAST(COUNT(CASE WHEN boiler THEN 1 END) AS BIGINT)
                   AS n_boilerplate_positions,
               CAST(COALESCE(MAX(CASE WHEN ml >= {SPAN_N} THEN ml END), 0)
                    AS INTEGER) AS max_dup_len
        FROM scored
        GROUP BY id
    )
    SELECT t.id AS doc_id,
           CAST(t.n_positions AS BIGINT) AS n_positions,
           COALESCE(p.n_dup_positions, 0) AS n_dup_positions,
           COALESCE(p.n_boilerplate_positions, 0) AS n_boilerplate_positions,
           COALESCE(p.max_dup_len, 0) AS max_dup_len
    FROM (SELECT id, COUNT(*) AS n_positions FROM keyed GROUP BY id) t
    LEFT JOIN per_doc p ON t.id = p.id
"""


def substring_suffix_profile(
    docs: DataFrame,
    min_len: int = SPAN_N,
    max_w: int = SUFFIX_MAX_W,
    max_bucket: int = SUFFIX_MAX_BUCKET,
) -> DataFrame:
    """Per-document variable-length duplication profile over an
    arbitrary (doc_id, text) corpus — the library form of
    dedup_substring_suffix's registered/graded shape (see the section
    comment for the method).

    Scale shape (r13.1 — the sf10 decade probe caught the r13.0 form
    super-linear: 10.4x time at 3.33x data, and the isolated A/B showed
    STORING the full per-position sufstr stream cost 2.7-3.7x its own
    compute while only ~0.1% of positions ever reached the window):
    only the SLIM (id, k) stream — 16 B/position — is materialized
    (_materialize_once), feeding the group census and per-doc totals.
    The group key is the 60-bit hash of the first-{{min_len}}-token
    prefix — 8 bytes on the exchange instead of a 60-100-byte string.
    The census is a map-side-combinable groupBy (a fleet-scale
    boilerplate prefix collapses to one row per input task). The
    {{max_w}}-token sufstr stream is REBUILT lazily from the source and
    immediately joined against the duplicated-key set (broadcast under
    the counted SUFFIX_BROADCAST_KEYS gate, shuffle join above it), so
    the ~99.9% singleton majority is dropped in the scan stage and no
    corpus-sized wide stream is ever stored or shuffled. The per-group
    sort window only ever sees groups <= max_bucket rows — width-capped
    by construction, which is what makes a window legal here where the
    span family had to eliminate it (the r11 straggler's partitions
    were the raw Zipf span distribution, scripts/probe_span_skew.py).
    Over-cap positions are profiled wholesale at the only honest answer
    a truncated sort could give anyway (ml = min_len lower bound,
    counted as boilerplate). At 100 TB the dup-key set can exceed the
    broadcast gate; the shuffle fallback keys on the 8-byte hash, and
    the method can also run per-shard behind the mixture sampler.

    Hash-collision note: a second prefix colliding into a group cannot
    create false duplicates — LCP is computed on the actual tokens, and
    lexicographic order keeps same-prefix suffixes contiguous, so
    neighbor LCPs are exactly what the uncollided groups would give."""
    from pyspark.sql import Window

    from iot_database_spark.operators.hashing import hash64

    def lcp(a_str, b_str):
        a, b = F.split(a_str, " "), F.split(b_str, " ")
        m = F.least(F.size(a), F.size(b))
        eq = F.zip_with(
            F.slice(a, F.lit(1), m), F.slice(b, F.lit(1), m),
            lambda x, y: x == y,
        )
        p = F.array_position(eq, F.lit(False))
        return (
            F.when(b_str.isNull(), F.lit(0))
            .when(p > 0, p - 1)
            .otherwise(m)
        )

    ws = F.split("text", " ")
    base = docs.filter(F.size(ws) >= min_len).select(
        F.col("doc_id").cast("bigint").alias("id"), ws.alias("ws")
    )
    pos = F.explode(F.sequence(F.lit(1), F.size("ws") - (min_len - 1))).alias(
        "pos"
    )
    # SLIM materialization (r13 sf10 finding): the r13.0 form stored the
    # full {max_w}-token sufstr per position — ~150 B/row, and STORING
    # that stream cost 2.7-3.7x its compute at sf10 (13.8 s compute vs
    # 50.5 s localCheckpoint / 44.5 s persist) while only ~0.1% of
    # positions (22k of 23.5M) ever reached the sort window. Store only
    # (id, k) — 16 B/row — for the census and per-doc totals; the
    # sufstr stream is rebuilt lazily below and FILTERED to duplicated
    # keys before any concat survives the scan stage.
    slim = _materialize_once(
        base.select("id", "ws", pos).select(
            "id",
            hash64(
                F.concat_ws(" ", F.slice("ws", F.col("pos"), min_len))
            ).alias("k"),
        )
    )
    # ~95% of positions sit in SINGLETON prefix groups (sf0.01 census:
    # 21.6k of 22.6k) whose ml is 0 by definition — keep them out of
    # the sort window entirely. The census is one map-side-combinable
    # groupBy; per-doc position totals come from a doc-keyed
    # partial-agg count over the same materialized slim stream.
    census = slim.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    # the dup-key set is ~0.1% of positions — pin it once so the census
    # shuffle over the materialized slim stream runs ONCE (r14: the
    # broadcast-gate count() and the join's broadcast build each
    # re-executed the full groupBy — one census pass cut; above the
    # gate the shuffle join reads the pinned set instead of re-reducing)
    dup_keys = _materialize_once(
        census.filter(F.col("n") >= 2).select(
            "k", (F.col("n") > max_bucket).alias("wide")
        )
    )
    # broadcast it under a counted gate so the rebuilt suffix stream
    # joins map-side with NO shuffle of the exploded rows — above the
    # gate the join falls back to a plain shuffle join on k. count()
    # over the pinned set is a local scan, not a recompute.
    n_dup_keys = dup_keys.count()
    dk = F.broadcast(dup_keys) if n_dup_keys <= SUFFIX_BROADCAST_KEYS else dup_keys
    keyed_dup = (
        base.select("id", "ws", pos)
        .select(
            "id",
            F.concat_ws(" ", F.slice("ws", F.col("pos"), max_w)).alias(
                "sufstr"
            ),
            hash64(
                F.concat_ws(" ", F.slice("ws", F.col("pos"), min_len))
            ).alias("k"),
        )
        .join(dk, "k")
    )
    # repeated groups (2..cap) flow through the width-capped sort
    # window; over-cap groups take the boilerplate branch at the
    # min_len lower bound (the only honest answer a truncated sort
    # could give anyway).
    w = Window.partitionBy("k").orderBy("sufstr")
    neigh = keyed_dup.filter(~F.col("wide")).select(
        "id",
        "sufstr",
        F.lag("sufstr").over(w).alias("prev"),
        F.lead("sufstr").over(w).alias("nxt"),
    )
    scored = neigh.select(
        "id",
        F.greatest(
            lcp(F.col("sufstr"), F.col("prev")),
            lcp(F.col("sufstr"), F.col("nxt")),
        ).alias("ml"),
        F.lit(False).alias("boiler"),
    ).unionAll(
        keyed_dup.filter(F.col("wide")).select(
            "id",
            F.lit(min_len).cast("bigint").alias("ml"),
            F.lit(True).alias("boiler"),
        )
    )
    dup = F.col("ml") >= min_len
    per_doc = scored.groupBy("id").agg(
        F.count(F.when(dup, 1)).cast("bigint").alias("n_dup_positions"),
        F.count(F.when(F.col("boiler"), 1))
        .cast("bigint")
        .alias("n_boilerplate_positions"),
        F.coalesce(F.max(F.when(dup, F.col("ml"))), F.lit(0))
        .cast("int")
        .alias("max_dup_len"),
    )
    totals = slim.groupBy("id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_positions")
    )
    return totals.join(per_doc, "id", "left").select(
        F.col("id").alias("doc_id"),
        "n_positions",
        F.coalesce("n_dup_positions", F.lit(0).cast("bigint")).alias(
            "n_dup_positions"
        ),
        F.coalesce("n_boilerplate_positions", F.lit(0).cast("bigint")).alias(
            "n_boilerplate_positions"
        ),
        F.coalesce("max_dup_len", F.lit(0).cast("int")).alias("max_dup_len"),
    )


@register("dedup_substring_suffix", oracle=SUFFIX_SUBSTRING_ORACLE)
def dedup_substring_suffix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-position VARIABLE-LENGTH exact substring duplication profile
    (sorted-suffix method — see the section comment): for every token
    position, the maximal run of tokens shared verbatim with ANY other
    position in the corpus (intra- or cross-document), resolved up to
    {SUFFIX_MAX_W} tokens; per document, how many positions sit inside
    a repeat of at least {SPAN_N} tokens and how long the longest one
    is. The fixed-N span family reports presence; this reports EXTENT —
    the signal that separates an 8-token idiom from a 200-token
    license header. Implementation and scale notes:
    substring_suffix_profile (this query pins its grading defaults)."""
    return substring_suffix_profile(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Decontamination against a FIXED external held-out set (r10 verdict #4).
# The registered decontaminate_minhash/_eval_leak_report queries carve
# the eval side out of the corpus itself (doc_id % 50 == 0) so their
# output grows with the corpus BY CONSTRUCTION (SCALE_r10.md's honest
# note). Production decontamination reads the held-out benchmark from
# its own small table; this variant is that shape: the eval side is the
# FIXED sf0.001 documents table (500 rows, never scales with the graded
# corpus), the train side is the whole graded corpus. Output is
# <= |eval| rows at ANY corpus scale, and candidate pairs stay bounded
# by DECON_MAX_BUCKET * bands * |eval| — corpus-independent.
# ---------------------------------------------------------------------------

# The held-out benchmark table the registered query decontaminates
# against. The grading default is the driver sandbox's fixed sf0.001
# table; a deployment points SPARK_GRAFT_DECON_EVAL_PATH at its real
# benchmark parquet, or skips paths entirely and hands
# decontaminate_against() an eval DataFrame (r11 verdict task #4).
# The env var is resolved at CALL time — both when the registered query
# runs and when the (lazy) oracle SQL is built — so repointing it in a
# long-lived session takes effect, and the two sides can never read
# different values (r12 verdict task #5; the r11 form read it once at
# import, silently ignoring later changes).
_DEFAULT_EVAL_PATH = "/root/testdata/sf0.001/documents.parquet"


def _fixed_eval_path() -> str:
    """Current held-out-eval parquet path, validated for safe embedding
    in the DuckDB oracle string (single quotes would terminate the SQL
    literal — an injection/divergence, not a legal parquet path on any
    deployment we support, so reject loudly rather than guess at
    escaping; same for newlines)."""
    path = os.environ.get("SPARK_GRAFT_DECON_EVAL_PATH") or _DEFAULT_EVAL_PATH
    if "'" in path or "\n" in path or "\r" in path or "\x00" in path:
        raise ValueError(
            "SPARK_GRAFT_DECON_EVAL_PATH contains a quote/newline/NUL — "
            f"refusing to embed it in oracle SQL: {path!r}"
        )
    return path


def _duck_eval_shingles(path: str) -> str:
    return f"""
    ewords AS (
        SELECT CAST(doc_id AS BIGINT) AS id, string_split(text, ' ') AS ws
        FROM '{path}'
        WHERE len(string_split(text, ' ')) >= 3
    ),
    esh AS (
        SELECT id,
               unnest(list_transform(range(1, len(ws) - 1),
                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
        FROM ewords
    )"""


def _decon_fixed_oracle() -> str:
    return f"""
    WITH {_DUCK_SHINGLES},
    {_duck_eval_shingles(_fixed_eval_path())},
    mh AS (SELECT id, {_minhash_cols_sql()} FROM sh GROUP BY id),
    emh AS (SELECT id, {_minhash_cols_sql()} FROM esh GROUP BY id),
    bands AS ({_decon_band_selects_sql("mh")}),
    ebands AS ({_decon_band_selects_sql("emh")}),
    wide AS (
        SELECT band, bucket FROM bands
        GROUP BY band, bucket HAVING COUNT(*) > {DECON_MAX_BUCKET}
    ),
    pairs AS (
        SELECT DISTINCT a.id AS tid, b.id AS eid
        FROM bands a
        JOIN ebands b ON a.band = b.band AND a.bucket = b.bucket
        WHERE NOT EXISTS (
            SELECT 1 FROM wide w
            WHERE w.band = a.band AND w.bucket = a.bucket
        )
    ),
    scored AS (
        SELECT p.tid, p.eid,
               ({" + ".join(f"CASE WHEN x.h{i} = y.h{i} THEN 1 ELSE 0 END" for i in range(K))})
                   AS agree
        FROM pairs p
        JOIN mh x ON x.id = p.tid
        JOIN emh y ON y.id = p.eid
    )
    SELECT eid AS eval_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_train_candidates,
           CAST(MAX(agree) AS INTEGER) AS max_agreement,
           MAX(agree) >= {K // 2} AS leaked
    FROM scored
    GROUP BY eid
"""


@register("decontaminate_fixed_eval", oracle=_decon_fixed_oracle)
def decontaminate_fixed_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-eval-doc leak report against a FIXED external held-out table
    (the production decontamination shape — see the section comment):
    which benchmark documents collide with ANY training document, with
    the 0..{K} minhash-signature agreement grading severity.

    The eval table is _fixed_eval_path() — the grading default, or
    whatever SPARK_GRAFT_DECON_EVAL_PATH points at WHEN THE QUERY RUNS
    (the lazy oracle resolves the same env var when the driver asks for
    its SQL, so the two sides stay in lockstep). Library callers with a
    benchmark table already loaded skip paths entirely:
    decontaminate_against(train_docs, eval_docs) is this exact shape
    with both sides as DataFrames (r11 verdict task #4)."""
    eval_docs = (
        spark.read.parquet(_fixed_eval_path())
        .select(F.col("doc_id").cast("bigint").alias("doc_id"), "text")
        .filter(F.size(F.split("text", " ")) >= 3)
    )
    return decontaminate_against(_docs(spark, sf_dir), eval_docs)


def decontaminate_against(
    train_docs: DataFrame, eval_docs: DataFrame
) -> DataFrame:
    """Decontaminate an arbitrary (doc_id, text) train corpus against an
    arbitrary (doc_id, text) held-out eval table — the library form of
    decontaminate_fixed_eval's registered/graded shape.

    Scale shape: the train corpus is banded and width-capped exactly
    like _decon_scored (census gated on corpus size; the over-cap
    buckets broadcast into an anti-join); the eval side is a constant-
    size table whose (eid, band, bucket) rows and (eid, signature) rows
    BROADCAST under the same measured gate, so the corpus never
    re-shuffles: candidate generation is a broadcast-hash join against
    the train band stream, and the final aggregate groups <= |eval|
    keys. Candidate pairs <= DECON_MAX_BUCKET * bands * |eval| —
    independent of corpus size, unlike the %-50 variant whose eval
    slice (and therefore output) grows with the corpus."""
    # train-side minhash computed ONCE into the materialized signature
    # table (r13 — see _sig_table): the census and the band stream both
    # read stored rows, and the gate scalar rides the materialization
    # job instead of a separate corpus count action
    tsigs, tgates = _sig_table(
        train_docs, F.count(F.lit(1)).alias("n_train")
    )
    train = tsigs.select(
        F.col("id").alias("tid"),
        F.col("sig").alias("tsig"),
        F.posexplode(F.col("buckets")).alias("band", "bucket"),
    )
    if tgates["n_train"] > DECON_MAX_BUCKET:
        # width census over the TRAIN side only (the fixed eval table is
        # bounded at ~500 docs — it cannot push a bucket over the cap,
        # and keeping it out holds the oracle's HAVING cut in lockstep)
        wide = (
            train.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > DECON_MAX_BUCKET)
            .select("band", "bucket")
        )
        train = train.join(F.broadcast(wide), ["band", "bucket"], "left_anti")
    # eval side likewise: one banding pass + one materialization serves
    # the bucket stream, the signature lookup, AND the broadcast-gate
    # count (the old form banded the eval table twice and paid a third
    # scan for the count)
    esigs, egates = _sig_table(eval_docs, F.count(F.lit(1)).alias("n_eval"))
    ev_buckets = esigs.select(
        F.col("id").alias("eid"),
        F.posexplode(F.col("buckets")).alias("band", "bucket"),
    ).select("eid", "band", "bucket")
    ev_sigs = esigs.select(F.col("id").alias("eid"), F.col("sig").alias("esig"))
    gate = egates["n_eval"] <= _EVAL_BROADCAST_MAX_DOCS
    bucket_side = F.broadcast(ev_buckets) if gate else ev_buckets
    sig_side = F.broadcast(ev_sigs) if gate else ev_sigs
    pairs = (
        train.join(bucket_side, ["band", "bucket"])
        .select("tid", "tsig", "eid")
        .dropDuplicates(["tid", "eid"])
    )
    scored = pairs.join(sig_side, "eid").select(
        "tid",
        "eid",
        F.size(
            F.filter(
                F.zip_with("tsig", "esig", lambda u, v: u == v),
                lambda eq: eq,
            )
        ).alias("agree"),
    )
    return scored.groupBy(F.col("eid").alias("eval_doc_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_train_candidates"),
        F.max("agree").cast("int").alias("max_agreement"),
        (F.max("agree") >= K // 2).alias("leaked"),
    )
