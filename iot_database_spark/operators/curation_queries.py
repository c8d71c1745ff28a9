"""Oracle-checked corpus-curation queries (operators/curation.py):
benchmark decontamination, deterministic mixture sampling, heavy-hitter
n-grams, embedding outliers, and hyperplane-LSH ANN.

Determinism discipline (the repo-wide rules that make the driver's
value-hash gate achievable): cross-engine hashes are the portable 60-bit
md5 prefix (operators/hashing.py), float reductions are ORDERED per-row
folds (Spark F.aggregate ≡ DuckDB list_reduce), cross-ROW float sums go
through floor-scaled int64 (partial-sum order is engine-dependent;
integer sums are not), and every top-k sort key is made unique with an
id tie-break.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from iot_database_spark.operators import curation as cu
from iot_database_spark.operators import vector as vec
from iot_database_spark.operators.hashing import duck_hash64
from iot_database_spark.operators.vector_queries import _duck_cos
from iot_database_spark.registry import load_views, register


def _gram_sql(n: int) -> str:
    """DuckDB word n-gram list over `ws` (mirrors dedup.shingles)."""
    parts = " || ' ' || ".join(f"ws[i+{off}]" if off else "ws[i]" for off in range(n))
    return f"list_transform(range(1, len(ws) - {n - 2}), i -> {parts})"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, text) spread across cores — the gram-explode queries
    here amplify each row ~100x, so a small single-file corpus must not
    run its explode stages on 1-2 scan splits; spread_small_input fans
    out by data volume and no-ops at scale (dedup_queries._docs'
    rationale)."""
    from iot_database_spark.session import spread_small_input

    tables = load_views(spark, sf_dir)
    return spread_small_input(
        tables["documents"].select(
            F.col("doc_id").cast("bigint").alias("doc_id"), "text"
        ),
        spark,
        cache_key=f"documents:{sf_dir}",
    )


_DECON_ORACLE = f"""
    WITH docs AS (
        SELECT CAST(doc_id AS BIGINT) AS id, string_split(text, ' ') AS ws
        FROM documents
    ),
    grams AS (
        SELECT id, unnest(list_distinct({_gram_sql(8)})) AS gram
        FROM docs WHERE len(ws) >= 8
    ),
    eval_grams AS (SELECT DISTINCT gram FROM grams WHERE id % 50 = 0)
    SELECT g.id AS doc_id,
           COUNT(*) AS n_shared_grams,
           TRUE AS contaminated
    FROM grams g JOIN eval_grams e USING (gram)
    WHERE g.id % 50 <> 0
    GROUP BY g.id
"""


@register("decontaminate_ngram_overlap", oracle=_DECON_ORACLE)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs (doc_id % 50 != 0)
    sharing any 8-gram with the held-out eval slice (doc_id % 50 == 0).
    The eval gram set is broadcast — the corpus side is never shuffled;
    the only exchange is the final per-doc count."""
    docs = _docs(spark, sf_dir)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    eval_set = docs.filter(F.col("doc_id") % 50 == 0)
    return cu.ngram_decontaminate(train, eval_set, n=8)


_MIX_ORACLE = f"""
    WITH d AS (
        SELECT source,
               CASE CAST(substring(source, 4) AS INT) % 4
                    WHEN 0 THEN 10000 WHEN 1 THEN 5000
                    WHEN 2 THEN 2500 ELSE 1250 END AS rate_bp,
               {duck_hash64("'mix-v1:' || CAST(CAST(doc_id AS BIGINT) AS VARCHAR)")}
                 % 10000 AS bucket
        FROM documents
    )
    SELECT source, CAST(rate_bp AS INT) AS rate_bp,
           COUNT(*) AS n_total,
           COUNT(*) FILTER (WHERE bucket < rate_bp) AS n_sampled
    FROM d GROUP BY source, rate_bp
"""


@register("corpus_mixture_sample", oracle=_MIX_ORACLE)
def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source mixture sampling: each source gets a
    rate in basis points (here derived from the source id: 100%, 50%,
    25%, 12.5%); a doc is kept iff hash(salt:doc_id) % 10000 < rate.
    Reproducible across engines and stable under corpus growth — the
    sampling decision never depends on other rows. Output: per-source
    accounting of the sampled mixture."""
    tables = load_views(spark, sf_dir)
    docs = tables["documents"].select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "source"
    )
    rate = (
        F.when(F.substring("source", 4, 10).cast("int") % 4 == 0, 10000)
        .when(F.substring("source", 4, 10).cast("int") % 4 == 1, 5000)
        .when(F.substring("source", 4, 10).cast("int") % 4 == 2, 2500)
        .otherwise(1250)
    )
    flagged = cu.mixture_sample(
        docs.withColumn("rate_bp", rate.cast("int")), rate_bp=F.col("rate_bp")
    )
    return flagged.groupBy("source", "rate_bp").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count_if(F.col("sampled")).alias("n_sampled"),
    )


_HH_ORACLE = f"""
    WITH docs AS (
        SELECT CAST(doc_id AS BIGINT) AS id, string_split(text, ' ') AS ws
        FROM documents
    ),
    grams AS (
        SELECT id, unnest({_gram_sql(2)}) AS gram
        FROM docs WHERE len(ws) >= 2
    )
    SELECT gram, COUNT(*) AS n_total, COUNT(DISTINCT id) AS n_docs
    FROM grams GROUP BY gram
    ORDER BY n_total DESC, gram ASC
    LIMIT 20
"""


@register("heavy_hitter_ngrams", oracle=_HH_ORACLE)
def heavy_hitter_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most frequent 2-grams corpus-wide with document spread —
    the stop-gram/boilerplate detector. One hash-groupBy + top-k as
    TakeOrderedAndProject; the (count, gram) sort key is unique so the
    cut is deterministic."""
    return cu.heavy_hitters(_docs(spark, sf_dir), n=2, k=20)


def _sv_sql(dim: int = 64) -> str:
    terms = ", ".join(
        f"SUM(CAST(FLOOR(CAST(embedding[{i + 1}] AS DOUBLE) * 1000000) AS BIGINT))"
        for i in range(dim)
    )
    return f"[{terms}]"


_OUTLIER_ORACLE = f"""
    WITH s AS (
        SELECT COUNT(*) AS n, {_sv_sql(64)} AS sv FROM embeddings
    )
    SELECT CAST(e.vec_id AS BIGINT) AS vec_id,
           list_reduce(list_prepend(0.0, list_transform(range(1, 65),
               i -> (CAST(e.embedding[i] AS DOUBLE) - s.sv[i] / (s.n * 1000000.0))
                  * (CAST(e.embedding[i] AS DOUBLE) - s.sv[i] / (s.n * 1000000.0)))),
               (acc, x) -> acc + x) AS dist_sq
    FROM embeddings e, s
    ORDER BY dist_sq DESC, vec_id ASC
    LIMIT 10
"""


@register("embedding_outliers", oracle=_OUTLIER_ORACLE)
def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 embedding outliers by L2² distance to the exact corpus
    mean (floor-scaled int64 sums make the mean bit-identical across
    engines and partitionings; the distance is an ordered per-row
    fold). The triage pass for encoder failures / garbage inputs."""
    tables = load_views(spark, sf_dir)
    emb = tables["embeddings"].select(
        F.col("vec_id").cast("bigint").alias("vec_id"), "embedding"
    )
    return cu.embedding_outliers(emb, k=10)


_LSH_PLANES = 6
_HP = cu.hyperplane_matrix(_LSH_PLANES, 64)


def _duck_bucket(emb: str) -> str:
    terms = []
    for p, row in enumerate(_HP):
        lits = ", ".join(f"{float(h)}" for h in row)
        fold = (
            f"list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
            f"i -> CAST({emb}[i] AS DOUBLE) * ([{lits}][i]))), (acc, x) -> acc + x)"
        )
        terms.append(f"CASE WHEN {fold} > 0 THEN {1 << p} ELSE 0 END")
    return "(" + " + ".join(terms) + ")"


_ANN_LSH_ORACLE = f"""
    WITH b AS (
        SELECT CAST(vec_id AS BIGINT) AS vec_id,
               CAST(label AS BIGINT) AS label,
               embedding,
               {_duck_bucket('embedding')} AS bucket
        FROM embeddings
    ),
    q AS (SELECT bucket AS qb, embedding AS qv FROM b WHERE vec_id = 0),
    probes AS (
        SELECT DISTINCT unnest([qb, {", ".join(f"xor(qb, {1 << j})" for j in range(_LSH_PLANES))}]) AS pb, qv
        FROM q
    )
    SELECT b.vec_id, b.label, CAST(b.bucket AS BIGINT) AS bucket,
           {_duck_cos('b.embedding', 'p.qv')} AS relevance
    FROM b JOIN probes p ON b.bucket = p.pb
    ORDER BY relevance DESC, b.vec_id ASC
    LIMIT 10
"""


@register("ann_lsh_cosine", oracle=_ANN_LSH_ORACLE)
def ann_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN: 6 sign-bit planes -> 64 buckets;
    multi-probe search visits the query's bucket plus its 6 Hamming-1
    neighbors, ranks candidates by exact cosine, returns top-10.

    Scale path: bucket assignment is a narrow per-row fold (the +-1
    plane matrix is inlined literals — no per-row hashing); at cluster
    scale the table is partitioned by bucket so a search touches
    nprobe/2^planes of the data. The brute-force cosine operators remain
    the exact baseline; IVF (ann_ivf_cosine) is the learned-centroid
    alternative."""
    tables = load_views(spark, sf_dir)
    emb = tables["embeddings"].select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        "embedding",
        F.col("label").cast("bigint").alias("label"),
    )
    b = emb.withColumn(
        "bucket", cu.hyperplane_lsh_bucket(F.col("embedding"), _HP)
    )
    q = b.filter(F.col("vec_id") == 0).select(
        F.col("bucket").alias("qb"), F.col("embedding").alias("qv")
    )
    probes = q.select(
        F.explode(
            F.array_distinct(
                F.array(
                    F.col("qb"),
                    *[
                        F.col("qb").bitwiseXOR(F.lit(1 << j).cast("bigint"))
                        for j in range(_LSH_PLANES)
                    ],
                )
            )
        ).alias("pb"),
        "qv",
    )
    return (
        b.join(F.broadcast(probes), b["bucket"] == F.col("pb"))
        .withColumn(
            "relevance", vec.cosine_similarity(F.col("embedding"), F.col("qv"))
        )
        .orderBy(F.col("relevance").desc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", "label", "bucket", "relevance")
    )


_QC_ORACLE = """
    WITH feat AS (
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(LEN(string_split(text, ' ')) AS DOUBLE) AS n_tokens,
               LEN(list_distinct(string_split(text, ' ')))
                 / CAST(GREATEST(LEN(string_split(text, ' ')), 1) AS DOUBLE) AS uniq,
               LEN(list_filter(string_split(text, ' '),
                   w -> list_contains(['the','a','of','and','to','in','is'], LOWER(w))))
                 / CAST(GREATEST(LEN(string_split(text, ' ')), 1) AS DOUBLE) AS stop_r
        FROM documents
    ),
    scored AS (
        SELECT doc_id,
               ((-2.0 + 0.01 * LEAST(n_tokens, 400.0)) + 3.0 * uniq) + 4.0 * stop_r
                 AS quality_score
        FROM feat
    )
    SELECT CAST(CASE WHEN quality_score < 0 THEN 0
                     WHEN quality_score >= 5 THEN 9
                     ELSE FLOOR(quality_score * 2) END AS INT) AS bucket,
           COUNT(*) AS n_docs,
           MIN(quality_score) AS min_score,
           MAX(quality_score) AS max_score
    FROM scored GROUP BY 1
"""


# Minimal English stopword profile read by the quality classifier.
EN_STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "to", "in", "is")


def stopword_ratio(text: Column) -> Column:
    words = F.split(text, " ")
    sw = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    hits = F.size(F.filter(words, lambda w: F.array_contains(sw, F.lower(w))))
    return hits / F.greatest(F.size(words), F.lit(1)).cast("double")


@register("text_quality_classifier", oracle=_QC_ORACLE)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring: a linear classifier over curation
    features (token count capped at 400, uniqueness, stopword ratio)
    with fixed exported weights, bucketed into score deciles with
    per-bucket accounting — the calibration histogram a quality-filter
    rollout reads. Weights are inline literals (the deployment shape of
    a small exported logreg); the score is an ORDERED sum of products so
    both engines add in the same sequence. Deliberately no sigmoid:
    exp() is not guaranteed bit-identical across libm implementations,
    and a monotone transform changes neither ranking nor buckets."""
    docs = _docs(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    nw = F.greatest(F.size(toks), F.lit(1)).cast("double")
    feat = docs.select(
        "doc_id",
        F.size(toks).cast("double").alias("n_tokens"),
        (F.size(F.array_distinct(toks)) / nw).alias("uniq"),
        stopword_ratio(F.col("text")).alias("stop_r"),
    )
    score = (
        (F.lit(-2.0) + F.lit(0.01) * F.least(F.col("n_tokens"), F.lit(400.0)))
        + F.lit(3.0) * F.col("uniq")
    ) + F.lit(4.0) * F.col("stop_r")
    scored = feat.select("doc_id", score.alias("quality_score"))
    bucket = (
        F.when(F.col("quality_score") < 0, 0)
        .when(F.col("quality_score") >= 5, 9)
        .otherwise(F.floor(F.col("quality_score") * 2))
        .cast("int")
    )
    return scored.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("quality_score").alias("min_score"),
        F.max("quality_score").alias("max_score"),
    )


_PACK_ORACLE = """
    WITH d AS (
        SELECT source, CAST(doc_id AS BIGINT) AS doc_id,
               len(string_split(text, ' ')) AS toks
        FROM documents
    ),
    c AS (
        SELECT source, doc_id, toks,
               CAST(SUM(toks) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS end_cum
        FROM d
    ),
    s AS (
        SELECT source, doc_id, end_cum - toks AS strt, end_cum - 1 AS lst
        FROM c
    ),
    x AS (
        SELECT source, doc_id, strt, lst,
               unnest(range(
                   CAST(FLOOR(CAST(strt AS DOUBLE) / 64.0) AS BIGINT),
                   CAST(FLOOR(CAST(lst AS DOUBLE) / 64.0) AS BIGINT) + 1
               )) AS pack_id
        FROM s
    )
    SELECT source, doc_id, pack_id,
           GREATEST(strt, pack_id * 64) - pack_id * 64 AS pack_off,
           GREATEST(strt, pack_id * 64) - strt AS doc_off,
           LEAST(lst, (pack_id + 1) * 64 - 1)
               - GREATEST(strt, pack_id * 64) + 1 AS n_tok
    FROM x
"""


@register("corpus_pack_sequences", oracle=_PACK_ORACLE)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk packing into 64-token context windows,
    one token stream per source: every (document, pack) overlap with
    offsets, sufficient to reassemble each pack bit-for-bit. One
    cumulative-sum window per source + a per-row explode — all integer
    arithmetic (curation.pack_sequences)."""
    tables = load_views(spark, sf_dir)
    docs = tables["documents"].select(
        "source", F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    return cu.pack_sequences(docs, budget=64)


def _zorder_oracle(bits: int = 16) -> str:
    """DuckDB mirror of layout.zorder_value over events (user_id, value):
    identical min/max linear quantization and bit interleave, so the
    Morton-key arithmetic is cross-engine hash-checked."""
    levels = (1 << bits) - 1
    qa = f"LEAST({levels}, CAST(FLOOR((CAST(user_id AS DOUBLE) - s.lo_a) / s.span_a * {levels}) AS BIGINT))"
    qb = f"LEAST({levels}, CAST(FLOOR((CAST(value AS DOUBLE) - s.lo_b) / s.span_b * {levels}) AS BIGINT))"
    terms = []
    for bit in range(bits):
        terms.append(f"((qa >> {bit}) & 1) * CAST({1 << (bit * 2)} AS BIGINT)")
        terms.append(f"((qb >> {bit}) & 1) * CAST({1 << (bit * 2 + 1)} AS BIGINT)")
    return f"""
    WITH s AS (
        SELECT MIN(CAST(user_id AS DOUBLE)) AS lo_a,
               CASE WHEN MAX(CAST(user_id AS DOUBLE)) = MIN(CAST(user_id AS DOUBLE))
                    THEN 1.0 ELSE MAX(CAST(user_id AS DOUBLE)) - MIN(CAST(user_id AS DOUBLE)) END AS span_a,
               MIN(CAST(value AS DOUBLE)) AS lo_b,
               CASE WHEN MAX(CAST(value AS DOUBLE)) = MIN(CAST(value AS DOUBLE))
                    THEN 1.0 ELSE MAX(CAST(value AS DOUBLE)) - MIN(CAST(value AS DOUBLE)) END AS span_b
        FROM events
    ),
    q AS (
        SELECT CAST(event_id AS BIGINT) AS event_id, {qa} AS qa, {qb} AS qb
        FROM events, s
    )
    SELECT event_id, {" + ".join(terms)} AS zkey
    FROM q
"""


@register("zorder_key_events", oracle=_zorder_oracle())
def zorder_key_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) clustering key over events (user_id, value) —
    the exact bit-interleave arithmetic `layout.write_zordered` sorts
    by, hash-checked against a DuckDB mirror (both engines quantize
    with identical IEEE-double min/max scaling, so the keys match
    bit-for-bit)."""
    from iot_database_spark.layout import zorder_value

    tables = load_views(spark, sf_dir)
    ev = tables["events"].select(
        F.col("event_id").cast("bigint").alias("event_id"), "user_id", "value"
    )
    keyed, key = zorder_value(ev, ["user_id", "value"])
    return keyed.select("event_id", F.col(key).alias("zkey"))


@register(
    "text_trigram_coverage",
    oracle="""
    WITH d AS (
        SELECT CAST(doc_id AS BIGINT) AS doc_id, LOWER(text) AS t
        FROM documents
    ), tl AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, GREATEST(LENGTH(t) - 1, 1)),
                   i -> substr(t, CAST(i AS INT), 3))) AS tris
        FROM d
    ), dt AS (
        SELECT doc_id, UNNEST(tris) AS tri FROM tl
    ), topk AS (
        SELECT tri FROM (
            SELECT tri, COUNT(*) AS df FROM dt
            GROUP BY tri ORDER BY df DESC, tri LIMIT 1000
        )
    ), hit AS (
        SELECT doc_id, COUNT(*) AS n_hit
        FROM dt WHERE tri IN (SELECT tri FROM topk)
        GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(LEN(t.tris) AS BIGINT) AS n_tri,
           CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
           CAST(COALESCE(h.n_hit, 0) AS DOUBLE)
             / GREATEST(LEN(t.tris), 1) AS coverage
    FROM tl t LEFT JOIN hit h USING (doc_id)
    """,
)
def text_trigram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-domain quality signal without transcendentals: fraction of a
    document's DISTINCT character trigrams that appear in the corpus's
    top-1000 trigrams by document frequency — the exact-arithmetic
    cousin of CCNet-style LM-perplexity filtering (a low-coverage doc
    is the same outlier a high-perplexity doc is, but integer counts +
    one final division hash-compare across engines where log-probs
    cannot).

    Scale shape: one explode of per-doc distinct trigrams (bounded:
    <= len(text) entries/doc), one groupBy for document frequencies,
    TakeOrderedAndProject for the top-1000, which then BROADCASTS into
    a left-semi join — the corpus never re-shuffles on the doc axis,
    and the model table is 1000 rows no matter how big the corpus."""
    return cu.trigram_coverage(_docs(spark, sf_dir), k=1000)


_TRIM_ORACLE = """
    WITH d AS (
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               string_split(coalesce(text, ''), ' ') AS ws
        FROM documents
    ),
    w AS (
        SELECT doc_id,
               list_transform(range(0, CAST(ceil(len(ws) / 2.0) AS BIGINT)),
                 i -> array_to_string(ws[i*2+1 : i*2+2], ' ')) AS wins
        FROM d
    ),
    k AS (
        SELECT doc_id, wins,
               list_filter(wins,
                 (x, i) -> list_position(wins[1 : i-1], x) = 0) AS kept
        FROM w
    )
    SELECT doc_id,
           CAST(len(wins) AS INTEGER) AS n_windows,
           CAST(len(kept) AS INTEGER) AS n_kept,
           md5(array_to_string(kept, ' ')) AS trimmed_md5
    FROM k
"""


@register("text_repetition_trim", oracle=_TRIM_ORACLE)
def text_repetition_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repeated-passage removal (2-word windows, first
    occurrence kept, order preserved) — see
    curation.trim_repeated_windows for the shuffle-free scale shape.
    Graded as counts + an md5 of the trimmed text, so the oracle
    compares the actual repaired document without moving its body.
    Window width 2 is deliberate on this corpus: the synthetic docs
    draw from a small vocabulary, so bigram windows actually collide
    and the trim does real work here."""
    return cu.trim_repeated_windows(_docs(spark, sf_dir), n=2)


_ZIPF_ORACLE = """
    WITH toks AS (
        SELECT t AS tok
        FROM documents, LATERAL unnest(string_split(lower(text), ' ')) u(t)
        WHERE t <> ''
    ),
    tf AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY tok),
    totals AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
               CAST(SUM(cnt) AS BIGINT) AS total_tokens
        FROM tf
    ),
    top AS (SELECT tok, cnt FROM tf ORDER BY cnt DESC, tok LIMIT 1000),
    ranked AS (
        SELECT cnt,
               row_number() OVER (ORDER BY cnt DESC, tok) AS rank
        FROM top
    ),
    fit AS (
        SELECT cnt, rank,
               CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000) AS BIGINT) AS lx,
               CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000) AS BIGINT) AS ly
        FROM ranked
    ),
    sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS fit_n,
               CAST(SUM(CASE WHEN rank <= 100 THEN cnt ELSE 0 END) AS BIGINT)
                   AS top100_tokens,
               CAST(SUM(lx) AS BIGINT) AS sx,
               CAST(SUM(ly) AS BIGINT) AS sy,
               CAST(SUM(lx * lx) AS BIGINT) AS sxx,
               CAST(SUM(lx * ly) AS BIGINT) AS sxy
        FROM fit
    )
    SELECT vocab_size, total_tokens, top100_tokens, fit_n,
           fit_n * sxy - sx * sy AS zipf_num,
           fit_n * sxx - sx * sx AS zipf_den,
           CAST(fit_n * sxy - sx * sy AS DOUBLE)
               / CAST(fit_n * sxx - sx * sx AS DOUBLE) AS zipf_slope
    FROM totals, sums
"""


@register("corpus_zipf_stats", oracle=_ZIPF_ORACLE)
def corpus_zipf_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary / Zipf-slope statistics — the sanity panel a
    training-data pipeline reads before and after every cleaning stage
    (a slope collapsing toward 0 means boilerplate flooding; top-100
    mass exploding means dedup failed). See curation.zipf_stats: one
    token exchange, TakeOrderedAndProject head, NO full-vocabulary
    window, and a regression on integer milli-unit log sums whose one
    final double division is bit-exact across engines."""
    tables = load_views(spark, sf_dir)
    return cu.zipf_stats(tables["documents"], fit_k=1000, mass_k=100)


# Messy-URL fixture: the testdata has no URL column, so both engines
# derive the SAME deterministic mess from (doc_id, source) — mixed-case
# scheme/host, www. prefixes, default ports, trailing slashes, tracking
# params, fragments — and the graded operator is the canonicalizer +
# dedup over it. The derivation is spelled twice (Column expr + SQL
# text) like every other cross-engine expression in this repo.
_DUCK_MESSY_URL = """
    (CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'HTTPS' END || '://'
     || CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END
     || CASE WHEN doc_id % 4 = 0 THEN upper(source) ELSE source END
     || CASE WHEN doc_id % 5 = 0 THEN '.Example.COM' ELSE '.example.com' END
     || CASE WHEN doc_id % 7 = 0 THEN
            CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END
        ELSE '' END
     || '/d/' || CAST(doc_id % 6 AS VARCHAR)
     || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
     || CASE doc_id % 6
            WHEN 0 THEN '?utm_source=tw&b=2&a=1'
            WHEN 1 THEN '?a=1&b=2'
            WHEN 2 THEN '?b=2&a=1&fbclid=xyz'
            WHEN 3 THEN ''
            WHEN 4 THEN '?gclid=g1'
            ELSE '?a=1' END
     || CASE WHEN doc_id % 2 = 1 THEN '#frag' ELSE '' END)
"""


def _spark_messy_url() -> F.Column:
    did = F.col("doc_id")
    return F.concat(
        F.when(did % 2 == 0, F.lit("http")).otherwise(F.lit("HTTPS")),
        F.lit("://"),
        F.when(did % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.when(did % 4 == 0, F.upper("source")).otherwise(F.col("source")),
        F.when(did % 5 == 0, F.lit(".Example.COM")).otherwise(
            F.lit(".example.com")
        ),
        F.when(
            did % 7 == 0,
            F.when(did % 2 == 0, F.lit(":80")).otherwise(F.lit(":443")),
        ).otherwise(F.lit("")),
        F.lit("/d/"),
        (did % 6).cast("string"),
        F.when(did % 4 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(did % 6 == 0, F.lit("?utm_source=tw&b=2&a=1"))
        .when(did % 6 == 1, F.lit("?a=1&b=2"))
        .when(did % 6 == 2, F.lit("?b=2&a=1&fbclid=xyz"))
        .when(did % 6 == 3, F.lit(""))
        .when(did % 6 == 4, F.lit("?gclid=g1"))
        .otherwise(F.lit("?a=1")),
        F.when(did % 2 == 1, F.lit("#frag")).otherwise(F.lit("")),
    )


_URL_ORACLE = f"""
    WITH d AS (
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               {_DUCK_MESSY_URL} AS url
        FROM documents
    ),
    c AS (
        SELECT doc_id, url,
               {cu.duck_canonicalize_url('url')} AS canonical_url
        FROM d
    )
    SELECT canonical_url,
           CAST(COUNT(*) AS BIGINT) AS n_dups,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_id,
           CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_variants
    FROM c
    GROUP BY canonical_url
"""


@register("dedup_url_canonical", oracle=_URL_ORACLE)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup (see curation.canonicalize_url): the
    canonicalizer is a map-side codegen chain, so the whole operator is
    ONE exchange — the groupBy on the canonical key. keeper_id =
    min(doc_id) is the crawl-pipeline convention (keep the earliest
    fetch); n_raw_variants proves the merge did work (variants > 1
    means distinct raw URLs collapsed)."""
    tables = load_views(spark, sf_dir)
    d = tables["documents"].select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "source"
    ).withColumn("url", _spark_messy_url())
    c = d.withColumn("canonical_url", cu.canonicalize_url(F.col("url")))
    return c.groupBy("canonical_url").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dups"),
        F.min("doc_id").cast("bigint").alias("keeper_id"),
        F.countDistinct("url").cast("bigint").alias("n_raw_variants"),
    )


_WEB_INGEST_ORACLE = f"""
    WITH d AS (
        SELECT CAST(doc_id AS BIGINT) AS doc_id, text, lang, source,
               {_DUCK_MESSY_URL} AS url
        FROM documents
    ),
    c AS (
        SELECT *, {cu.duck_canonicalize_url('url')} AS canonical_url FROM d
    ),
    keep AS (
        SELECT doc_id, text, lang, source FROM (
            SELECT *, row_number() OVER (
                PARTITION BY canonical_url ORDER BY doc_id) AS rn
            FROM c
        ) WHERE rn = 1
    ),
    w AS (
        SELECT doc_id, lang, source,
               list_transform(range(0, CAST(ceil(len(ws) / 2.0) AS BIGINT)),
                 i -> array_to_string(ws[i*2+1 : i*2+2], ' ')) AS wins
        FROM (SELECT doc_id, lang, source,
                     string_split(coalesce(text, ''), ' ') AS ws
              FROM keep)
    ),
    t AS (
        SELECT doc_id, lang, source,
               CAST(len(wins) AS BIGINT) AS n_windows,
               CAST(len(list_filter(wins,
                 (x, i) -> list_position(wins[1 : i-1], x) = 0)) AS BIGINT)
                   AS n_kept
        FROM w
    )
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_windows) AS BIGINT) AS sum_windows,
           CAST(SUM(n_kept) AS BIGINT) AS sum_kept,
           CAST(SUM(n_kept) AS DOUBLE) / CAST(SUM(n_windows) AS DOUBLE)
               AS keep_ratio
    FROM t
    WHERE n_kept >= 10
    GROUP BY source, lang
"""


@register("pipeline_web_ingest", oracle=_WEB_INGEST_ORACLE)
def pipeline_web_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-8 capstone: a web-crawl ingest pass composed ENTIRELY of
    this round's operators in one declarative plan — URL-canonical
    dedup (keep the earliest fetch per canonical URL), within-doc
    repeated-passage trim, a minimum-content gate (>= 10 surviving
    windows ~ 20 words), and per-(source, lang) accounting. Two
    exchanges total: the canonical-URL window and the final small
    groupBy; the canonicalizer and the trim are both map-side, and
    the trim carries (lang, source) through as passthrough columns so
    nothing re-joins on doc_id. All graded aggregates are integer sums
    plus one final double division."""
    from pyspark.sql import Window

    tables = load_views(spark, sf_dir)
    # deliberately NOT spread: the canonical-url window shuffle right
    # below repartitions anyway, so a spread exchange is pure cost
    # (measured 1.59 -> 1.81 s at sf1)
    d = tables["documents"].select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text", "lang", "source"
    ).withColumn("url", _spark_messy_url())
    c = d.withColumn("canonical_url", cu.canonicalize_url(F.col("url")))
    keep = (
        c.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("canonical_url").orderBy("doc_id")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("doc_id", "text", "lang", "source")
    )
    t = cu.trim_repeated_windows(keep, n=2, keep_cols=("lang", "source"))
    return (
        t.filter(F.col("n_kept") >= 10)
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_windows").cast("bigint").alias("sum_windows"),
            F.sum("n_kept").cast("bigint").alias("sum_kept"),
            (
                F.sum("n_kept").cast("double")
                / F.sum("n_windows").cast("double")
            ).alias("keep_ratio"),
        )
    )


_QRS_ORACLE = f"""
    WITH d AS (
        SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
               LEAST(10000, len(string_split(text, ' ')) * 40) AS rate_bp
        FROM documents
    ),
    flagged AS (
        SELECT *,
               {duck_hash64("'qrs-v1:' || CAST(doc_id AS VARCHAR)")}
                 % 10000 < rate_bp AS sampled
        FROM d
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(CASE WHEN sampled THEN 1 END) AS BIGINT) AS n_kept,
           CAST(SUM(rate_bp) AS BIGINT) AS sum_rate_bp
    FROM flagged
    GROUP BY source
"""


@register("corpus_quality_resample", oracle=_QRS_ORACLE)
def corpus_quality_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quality-PROPORTIONAL sampling: each doc's keep
    probability is its own quality signal (here length-proportional,
    capped at 100% for >=250-word docs — the stand-in for any scored
    quality column), decided by hash(salt:doc_id) %% 10000 < rate_bp.
    Unlike corpus_mixture_sample (one fixed rate per SOURCE), the rate
    varies per DOCUMENT — the importance-resampling shape training-data
    curation uses to up-weight high-quality text without a global sort
    or any cross-row dependence (pure narrow compute + one partial-
    aggregated groupBy). The decision column itself is
    cu.mixture_sample's, so Spark and DuckDB share one hash recipe.
    Registered r11; parity-tested since r10 (staged in
    operators/staged_r11.py, now here)."""
    tables = load_views(spark, sf_dir)
    docs = tables["documents"].select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "source",
        F.least(
            F.lit(10000), F.size(F.split("text", " ")) * 40
        ).cast("bigint").alias("rate_bp"),
    )
    flagged = cu.mixture_sample(docs, rate_bp=F.col("rate_bp"), salt="qrs-v1")
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count(F.when(F.col("sampled"), 1)).cast("bigint").alias("n_kept"),
        F.sum("rate_bp").cast("bigint").alias("sum_rate_bp"),
    )
