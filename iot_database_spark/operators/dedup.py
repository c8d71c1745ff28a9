"""Deduplication operators for training-data pipelines.

Not present in the reference (its closest op is the upsert-queue dedup,
IotVectorDb.cs:39-66); these are the standard large-corpus dedup family,
built Spark-first:

- exact_dedup           hash-groupBy on content (one shuffle)
- shingles / minhash    word n-gram shingles -> k seeded min-hashes,
                        all computed with array HOFs (NO explode, no
                        shuffle until the LSH band join)
- lsh_candidate_pairs   band the signatures, group per bucket, generate
                        i<j pairs in-place — the only O(pairs) work
                        happens inside buckets, after ONE exchange
- simhash               sign-aggregated token hashes -> n-bit fingerprint
- jaccard_pairs         shingle-set overlap via explode + grouped
                        posting lists, with a document-frequency cap to
                        bound pair fan-out (the classic skew guard: a
                        shingle appearing in half the corpus would
                        otherwise quadratically explode)

Scale notes: minhash signatures are computed per-row with higher-order
functions (codegen'd, linear scan). LSH banding turns all-pairs O(n²)
into per-bucket joins; bucket sizes are bounded by data similarity, and
the df-cap guard bounds jaccard joins. At 100 TB every step here is a
scan or a keyed shuffle — nothing driver-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from iot_database_spark.operators.hashing import hash64, xor_permute


def _materialize_mode(master: str | None) -> str:
    """The stream materialization strategy for a Spark master: local[*]
    masters, where every "executor" is a thread in the one JVM and
    executor loss means the whole job is gone anyway, use
    localCheckpoint ("local"); any other master gets replicated persist
    ("persist2"), so a cluster deployment is recompute-safe."""
    return "local" if (master or "").startswith("local") else "persist2"


def _materialize_once(df: DataFrame) -> DataFrame:
    """Eagerly materialize an exploded shingle stream so every
    downstream consumer reads stored blocks instead of re-running the
    explode. The stream is shuffle-input-sized scratch data: on local
    masters it is localCheckpointed (written node-locally with no
    network hop, freed by the ContextCleaner when the returned frame is
    GC'd); on any other master it is persisted MEMORY_AND_DISK_2. The
    plan shape downstream is identical either way, only the
    executor-loss story differs."""
    if _materialize_mode(df.sparkSession.sparkContext.master) == "local":
        return df.localCheckpoint(eager=True)
    from pyspark import StorageLevel

    out = df.persist(StorageLevel.MEMORY_AND_DISK_2)
    out.count()  # eager, like localCheckpoint
    return out


def exact_dedup(df: DataFrame, content: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One surviving row per distinct content value: (content_hash,
    keep_id = min id, n_dups)."""
    return (
        df.groupBy(F.md5(F.col(content)).alias("content_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingle array, computed with HOFs (no explode).

    The token array is let-bound so `split(text)` evaluates ONCE per row:
    a plain `words = F.split(...)` referenced inside the lambda is inlined
    at every `element_at` call site (lambda bodies get no CSE), turning an
    O(len) tokenize into O(n_shingles * n * len) — the dominant cost of
    every shingle consumer before this binding."""
    from iot_database_spark.operators.hof import let

    def build(words: Column) -> Column:
        # guard: sequence(1, 0) would generate a DESCENDING [1, 0] for
        # docs shorter than n tokens — emit an empty array instead
        idx = F.when(
            F.size(words) >= n,
            F.sequence(F.lit(1), F.size(words) - (n - 1)),
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(words, i + off) for off in range(n)]
            ),
        )

    return let(F.split(text, " "), build)


def minhash_signature(text: Column, k: int = 16, n: int = 3) -> Column:
    """k seeded min-hashes over the shingle set — an array<bigint> column.
    Entirely per-row: transform(seeds, s -> array_min(transform(shingles,
    sh -> hash64(seed#sh))))."""
    # hash each shingle ONCE, then derive the k permutations by XOR with
    # fixed constants (16x less md5 work than per-seed hashing; XOR with
    # a constant is a bijection, so the min-wise property holds)
    hashes = F.transform(shingles(text, n), lambda s: hash64(s))

    def min_hash(seed: int) -> Column:
        # NB: the seed must be captured by closure, not as a lambda
        # default — PySpark binds every lambda parameter (including
        # defaulted ones) to higher-order-function variables
        return F.array_min(F.transform(hashes, lambda h: xor_permute(h, seed)))

    return F.array(*[min_hash(seed) for seed in range(k)])


def _explode_pairs(grouped: DataFrame, member_col: str, build) -> DataFrame:
    """All i<j member pairs of each group's `member_col` array, exploded.

    `build(x, y) -> Column(struct)` shapes each pair. Replaces a
    bucket-key self-join: the grouped rows are already co-located after
    one groupBy exchange, so pair generation is pure per-row compute —
    no second shuffle of the (wide) member payload and no join sort.

    Two-step explode on purpose: posexplode fans each n-member group to
    n rows, then row i pairs member i with members i+1.. via a slice, so
    the largest single array any row materializes is n-1 structs.  The
    round-3 shape (flatten(transform(...)) of ALL pairs, exploded from
    ONE row) held the full C(n,2) set in a single value — ~8.4 M structs
    (hundreds of MB) at max_bucket=4096, an executor-OOM risk even
    though total work was bounded. Total pair output is identical."""
    m = F.col(member_col)
    return (
        grouped.select(m.alias("_m"), F.posexplode(m).alias("_i", "_x"))
        # slice start is 1-based, posexplode pos 0-based: i+2 = strictly after i
        .select(
            F.explode(
                F.transform(
                    F.slice(F.col("_m"), F.col("_i") + 2, F.size(F.col("_m"))),
                    lambda y: build(F.col("_x"), y),
                )
            ).alias("p")
        )
        .select("p.*")
    )


def minhash_banded(text: Column, k: int = 16, bands: int = 4) -> Column:
    """Struct column (sig array<bigint>, buckets array<string>): the
    k-permutation MinHash signature plus the per-band bucket hashes.

    The per-shingle md5 chain is referenced k times (one per permutation)
    and the signature array bands*rows_per_band more times. let-binding
    evaluates each exactly once per row (CollapseProject inlines plain
    column references k times and HOF lambdas get no CSE); callers wrap
    the struct in explode(array(...)) for a Generate barrier that
    downstream multi-reference cannot collapse through. Pure narrow
    compute — no shuffle."""
    from iot_database_spark.operators.hof import let

    rows_per_band = k // bands
    return let(
        F.transform(shingles(text), lambda s: hash64(s)),
        lambda hs: let(
            F.array(
                *[
                    F.array_min(F.transform(hs, lambda h: xor_permute(h, seed)))
                    for seed in range(k)
                ]
            ),
            lambda sig: F.struct(
                sig.alias("sig"),
                F.array(
                    *[
                        F.md5(
                            F.concat_ws(
                                ":",
                                *[
                                    F.element_at(sig, b * rows_per_band + r + 1)
                                    for r in range(rows_per_band)
                                ],
                            )
                        )
                        for b in range(bands)
                    ]
                ).alias("buckets"),
            ),
        ),
    )


def lsh_candidate_pairs(
    df: DataFrame,
    content: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    min_matching_bands: int = 1,
    max_bucket: int = 4096,
) -> DataFrame:
    """MinHash-LSH candidate pairs: (id_a, id_b, n_matching_bands,
    sig_agreement). Docs land in the same bucket when a whole band of
    their signatures agrees; pairs are generated per (band, band_hash)
    bucket after a single groupBy exchange.

    max_bucket is the skew guard (same role as jaccard's max_df): a
    degenerate bucket — e.g. thousands of identical/empty documents
    colliding on a band hash — would otherwise emit a quadratic pair
    blow-up (C(n,2) total output). Such buckets are dropped; at that
    size the members are candidate-duplicates of each other by
    construction, and exact_dedup is the right tool for them. Per-row
    memory is bounded separately by _explode_pairs (max n-1 structs in
    any single array value)."""
    packed = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array(minhash_banded(F.col(content), k, bands))).alias("x"),
    )
    banded = packed.select(
        "id",
        F.col("x.sig").alias("sig"),
        F.posexplode(F.col("x.buckets")).alias("band", "bucket"),
    )

    # one exchange co-locates each bucket; pairs + signature agreement
    # are then pure per-row compute (agreement is symmetric in x/y, so
    # id ordering via least/greatest needs no sig swap)
    def build(x: Column, y: Column) -> Column:
        return F.struct(
            F.least(x["id"], y["id"]).alias("id_a"),
            F.greatest(x["id"], y["id"]).alias("id_b"),
            (
                F.size(
                    F.filter(
                        F.zip_with(x["sig"], y["sig"], lambda u, v: u == v),
                        lambda eq: eq,
                    )
                )
                / F.lit(k)
            ).alias("agree"),
        )

    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.collect_list(F.struct("id", "sig")).alias("m"))
        .filter(F.size("m").between(2, max_bucket))
    )
    pairs = (
        _explode_pairs(buckets, "m", build)
        .groupBy("id_a", "id_b")
        .agg(
            F.count("*").alias("n_matching_bands"),
            F.first("agree").alias("sig_agreement"),
        )
        .filter(F.col("n_matching_bands") >= min_matching_bands)
    )
    return pairs


def simhash(text: Column, bits: int = 32, n: int = 3) -> Column:
    """n-bit SimHash over shingle hashes: bit b set iff the sum of
    (+1 / -1) votes from each shingle's hash bit b is positive."""
    sh_hashes = F.transform(shingles(text, n), lambda s: hash64(s))

    def vote(bit: int) -> Column:
        mask = F.lit(1 << bit)
        return F.aggregate(
            sh_hashes,
            F.lit(0),
            lambda acc, h: acc + F.when(h.bitwiseAND(mask) != 0, 1).otherwise(-1),
        )

    votes = [vote(b) for b in range(bits)]
    out = F.lit(0).cast("bigint")
    for b, v in enumerate(votes):
        out = out + F.when(v > 0, F.lit(1 << b).cast("bigint")).otherwise(0)
    return out


def jaccard_pairs(
    df: DataFrame,
    content: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.2,
    max_df: int | None = None,
    max_df_frac: float | None = 0.001,
    broadcast_sizes_max_docs: int = 2_000_000,
    _score: str = "jaccard",
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs >= threshold.
    (`_score` is internal — `containment_pairs` reuses this plan with
    the |A∩B| / min(|A|,|B|) scoring instead.)

    max_df drops shingles present in more than max_df documents before
    the self-join — the skew guard that keeps the join linear in the
    number of truly-shared rare shingles.

    max_df_frac is the SCALE-CORRECT form of that guard and the
    DEFAULT (0.1% of docs, floored at 2): a shingle is dropped when
    its document frequency exceeds max_df_frac * n_docs. An absolute
    cap stops engaging exactly when it's needed most — as the corpus
    grows, every shingle's df grows with it, so pair generation is
    Θ(Σ df²) ~ quadratic in corpus size until df crosses the fixed cap
    (measured: 10x docs -> 18.9x runtime on the sf1 probe,
    SCALE_r05.md). A fractional cap keeps the per-shingle pair budget
    proportional to corpus size (stop-shingle removal, the same reason
    search engines df-prune), at the cost of one extra count() scalar.
    When both are given the tighter bound wins; both None means no df
    guard at all (explicit opt-out, quadratic on dup-heavy data).

    broadcast_sizes_max_docs gates the broadcast hint on the per-doc
    set-size frame: the frame is one row PER DOCUMENT, so an
    unconditional hint would force-broadcast billions of rows at the
    100 TB design point, past AQE's own size check (r5 verdict). The
    hint is applied only when the corpus row count — already known when
    the fractional guard is on — is at or below this bound (~2M rows,
    tens of MB); above it (or when n_docs was never counted) the join
    is left to Catalyst/AQE, which shuffle-joins and may still convert
    to broadcast from runtime stats if the aggregated pairs side turns
    out small.
    """
    from iot_database_spark.operators.hof import let

    # Plan shape (each piece chosen by measurement — see the sf1 probe in
    # SCALE_r05.md):
    # - shingles never materialize as strings: each n-gram is hashed
    #   straight from its word tuple with multi-arg xxhash64 (Spark
    #   chains the per-column hashes, so token boundaries are
    #   preserved), and the distinct runs on 8-byte longs. The hash is a
    #   GROUP KEY only, never output, so cross-engine portability
    #   doesn't apply; tokens come from split(text, " ") and contain no
    #   spaces, so distinct-on-hash counts the same sets as string
    #   shingles would. Collisions would merge two shingles' posting
    #   lists (P ~ n_shingles²/2^64 — negligible far beyond 100 TB, and
    #   a collision only perturbs one pair count by 1).
    # - set sizes are NOT carried through the token explode / posting
    #   lists / pair generation: df is one row per document, so the
    #   sizes frame is a plain second projection of it (no exchange) and
    #   joins back — broadcast only while the corpus is provably small,
    #   see broadcast_sizes_max_docs above — onto the AGGREGATED pairs.
    #   Carrying two int fields per pair row made the pair shuffle the
    #   bottleneck: dropping them measured 31.9 s -> 11.2 s at sf1.
    # - one groupBy(s) exchange co-locates each shingle's posting list;
    #   the df-cap filter and i<j pair generation are per-row compute on
    #   the grouped arrays — no self-join, no second token shuffle.
    def hashed_distinct(words: Column) -> Column:
        idx = F.when(
            F.size(words) >= n,
            F.sequence(F.lit(1), F.size(words) - (n - 1)),
        ).otherwise(F.array().cast("array<int>"))
        return F.array_distinct(
            F.transform(
                idx,
                lambda i: F.xxhash64(
                    *[F.element_at(words, i + off) for off in range(n)]
                ),
            )
        )

    hashed = let(F.split(F.col(content), " "), hashed_distinct)
    # the per-doc hash-set table is computed EXACTLY ONCE and
    # materialized (r13): its three consumers — the posting-list
    # explode, the size_a join side, and the size_b join side — each
    # re-ran the full split/xxhash64/distinct chain from the text scan
    # (3 scans in the before-plan), and the fractional-cap n_docs count
    # paid a fourth pass; the count now rides the materialization job
    # as an Observation. The store is the hash arrays (~8 B/shingle —
    # a fraction of the text it replaces) and every row feeds at least
    # two consumers, so the sufstr filter-first lesson (SCALE_r13 #8)
    # does not apply.
    from pyspark.sql import Observation

    obs = Observation()
    hs_tbl = _materialize_once(
        df.select(F.col(id_col).alias("id"), hashed.alias("hs")).observe(
            obs, F.count(F.lit(1)).alias("n")
        )
    )
    toks = hs_tbl.select("id", F.explode("hs").alias("s"))
    sizes = hs_tbl.select("id", F.size("hs").alias("set_size"))

    def build(x: Column, y: Column) -> Column:
        return F.struct(
            F.least(x, y).alias("id_a"), F.greatest(x, y).alias("id_b")
        )

    n_docs: int | None = None
    cap: int | None = max_df
    if max_df_frac is not None:
        n_docs = int(obs.get["n"])
        frac_cap = max(2, int(max_df_frac * n_docs))
        cap = frac_cap if max_df is None else min(max_df, frac_cap)
    member_count = F.size("m")
    postings = (
        toks.groupBy("s")
        .agg(F.collect_list("id").alias("m"))
        .filter(
            member_count >= 2 if cap is None else member_count.between(2, cap)
        )
    )
    inter = (
        _explode_pairs(postings, "m", build)
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    # broadcast only when the per-doc sizes frame is provably bounded
    # (docstring: broadcast_sizes_max_docs) — at 100 TB it is not
    hint = (
        F.broadcast
        if n_docs is not None and n_docs <= broadcast_sizes_max_docs
        else (lambda side: side)
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("set_size").alias("size_b"))
    score_col = (
        F.col("n_common")
        / (F.col("size_a") + F.col("size_b") - F.col("n_common")).cast("double")
        if _score == "jaccard"
        else F.col("n_common")
        / F.least("size_a", "size_b").cast("double")
    )
    out = (
        inter.join(hint(sa), "id_a")
        .join(hint(sb), "id_b")
        .withColumn(_score, score_col)
        .filter(F.col(_score) >= threshold)
    )
    return out.select("id_a", "id_b", "n_common", _score)


def containment_pairs(
    df: DataFrame,
    content: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    max_df_frac: float | None = 0.001,
    broadcast_sizes_max_docs: int = 2_000_000,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT pairs: score = |A∩B| / min(|A|, |B|)
    (Broder's containment, symmetrized by the smaller set). The dedup
    primitive Jaccard structurally misses: a 100-word quote inside a
    10k-word page has Jaccard ~0.01 but containment ~1.0 — this is how
    quote/excerpt/subset duplication is caught in a corpus.

    Same plan, guards, and cost model as `jaccard_pairs` (one shingle
    exchange, fractional df cap, per-bucket i<j pairs, pair-sized size
    join with the gated broadcast) — only the final score differs; see
    jaccard_pairs' docstring for the measured plan rationale.
    Returns (id_a, id_b, n_common, containment >= threshold)."""
    return jaccard_pairs(
        df,
        content,
        id_col,
        n,
        threshold=threshold,
        max_df=max_df,
        max_df_frac=max_df_frac,
        broadcast_sizes_max_docs=broadcast_sizes_max_docs,
        _score="containment",
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "id",
    max_iter: int = 20,
) -> DataFrame:
    """Group near-duplicate PAIRS into clusters: undirected connected
    components by iterative min-label propagation. Returns one row per
    node: (id, cluster_id) where cluster_id = min node id reachable.

    `pairs` needs columns (id_a, id_b); `nodes` provides the full vertex
    set (so singletons — documents with no near-dup — get their own
    cluster).

    Scale notes: each iteration is one keyed shuffle (labels ⋈ edges +
    groupBy min) and converges in O(graph diameter) rounds — near-dup
    graphs are unions of small cliques, so 2-4 rounds in practice;
    `max_iter` bounds pathological chains. Lineage is cut per round with
    localCheckpoint so the plan doesn't grow unboundedly. For graphs with
    giant components (web-crawl link graphs, not dedup graphs) switch to
    the large-star/small-star algorithm; min-propagation is the right
    cost model here because components are tiny.
    """
    # both edge orientations from ONE pass over `pairs` (a union of two
    # selects would execute the whole upstream pair-generation plan —
    # the LSH shuffle included — once per branch)
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
                F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    sym = sym.localCheckpoint(eager=False)

    # iterate ONLY over edge-incident nodes — singletons (the vast
    # majority of a dedup corpus) can never change label, so they join
    # back in constant work at the end instead of riding every round
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("cluster_id"))
        .localCheckpoint(eager=True)
    )
    # labels only ever DECREASE (least of self and neighbors), so
    # sum(cluster_id) is strictly monotone while anything changes. The
    # sum rides the SAME job that materializes the round's labels (an
    # Observation fires during the eager localCheckpoint), so each round
    # is exactly ONE keyed shuffle + one materialization — no separate
    # convergence action.
    from pyspark.sql import Observation

    prev_sum = None
    converged = False
    for i in range(max_iter):
        nbr_min = (
            sym.join(labels, sym["dst"] == labels["id"])
            .select(F.col("src").alias("id"), "cluster_id")
            .groupBy("id")
            .agg(F.min("cluster_id").alias("_nbr"))
        )
        stepped = labels.join(nbr_min, "id", "left").select(
            "id",
            F.least(
                F.col("cluster_id"), F.coalesce(F.col("_nbr"), F.col("cluster_id"))
            ).alias("cluster_id"),
        )
        obs = Observation(f"cc_round_{i}")
        labels = stepped.observe(obs, F.sum("cluster_id").alias("s")).localCheckpoint(
            eager=True
        )
        cur_sum = obs.get["s"]
        if cur_sum is None or (prev_sum is not None and cur_sum == prev_sum):
            converged = True  # empty edge set converges trivially
            break
        prev_sum = cur_sum
    if not converged:
        # Exhausting max_iter with the label sum still moving means a
        # component with diameter > max_iter (not a dedup-shaped graph of
        # small cliques). Silently returning partial labels would split
        # one true cluster into several with no signal (r4 verdict) —
        # fail loudly and let the caller raise max_iter or switch to a
        # large-star/small-star CC for giant components.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations; "
            "the pair graph has a component with larger diameter — raise "
            "max_iter or use a star-contraction CC for giant components"
        )

    singletons = (
        nodes.select(F.col(id_col).alias("id"))
        .join(labels.select("id"), "id", "left_anti")
        .select("id", F.col("id").alias("cluster_id"))
    )
    return labels.unionByName(singletons)


def cluster_assign(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "id",
) -> DataFrame:
    """The keep/drop decision a dedup pipeline actually ships: every
    document labeled with its near-dup cluster, the cluster size, and
    whether it is the canonical survivor (min id in cluster)."""
    comp = connected_components(pairs, nodes, id_col=id_col)
    sizes = comp.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return (
        comp.join(sizes, "cluster_id")
        .select(
            "id",
            "cluster_id",
            "cluster_size",
            (F.col("id") == F.col("cluster_id")).alias("is_canonical"),
        )
    )


def repeated_ngrams(
    df: DataFrame,
    content: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated-passage detection — the scalable
    approximation of suffix-array substring dedup used to strip
    boilerplate/copy-paste from training corpora: every word n-gram that
    appears in >= min_docs distinct documents, with its spread.

    Shape: per-row shingling (HOF, no shuffle) -> explode -> ONE
    hash-groupBy. Output: (gram, n_docs, n_total, first_doc)."""
    sh = df.select(
        F.col(id_col).alias("_id"), F.explode(shingles(F.col(content), n)).alias("gram")
    )
    return (
        sh.groupBy("gram")
        .agg(
            F.countDistinct("_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_total"),
            F.min("_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


class MinHashIndex:
    """Persisted MinHash-LSH index — build once over the corpus, then
    dedup every INCREMENTAL batch against it without recomputing corpus
    signatures (the production shape of continuous-ingest dedup; the
    same build/extend/query lifecycle as similarity.VectorIndex).

    Storage: a buckets table (band, bucket, id) and a signatures table
    (id, sig) written through the database's commit log, so the index
    versions like any other table, participates in transactions, and
    survives a database reopen. On a cluster the buckets table would be
    `partitionBy(band)` + bucketed by `bucket`, so a batch probe is a
    co-located join instead of a shuffle.

    query(batch) returns (batch_id, corpus_id, n_matching_bands,
    sig_agreement) — candidate near-dup links of NEW docs against the
    INDEXED corpus. extend(batch) appends the batch's signatures and
    buckets (O(batch), not O(corpus)).
    """

    def __init__(self, db, name: str, k: int = 16, bands: int = 4):
        self.db = db
        self.name = name
        self.k = k
        self.bands = bands
        self.buckets_table = f"{name}__buckets"
        self.sigs_table = f"{name}__sigs"

    def _tables(self):
        bt = self.db.tables(
            self.buckets_table, "id bigint, band int, bucket string"
        )
        st = self.db.tables(self.sigs_table, "id bigint, sig array<bigint>")
        return bt, st

    def _banded(
        self, docs: DataFrame, content: str, id_col: str
    ) -> DataFrame:
        packed = docs.select(
            F.col(id_col).cast("bigint").alias("id"),
            F.explode(
                F.array(minhash_banded(F.col(content), self.k, self.bands))
            ).alias("x"),
        )
        return packed.select(
            "id",
            F.col("x.sig").alias("sig"),
            F.posexplode(F.col("x.buckets")).alias("band", "bucket"),
        )

    def build(
        self, docs: DataFrame, content: str = "text", id_col: str = "doc_id"
    ) -> None:
        banded = self._banded(docs, content, id_col)
        bt, st = self._tables()
        bt._write(banded.select("id", "band", "bucket"))
        st._write(banded.filter(F.col("band") == 0).select("id", "sig"))

    def extend(
        self, batch: DataFrame, content: str = "text", id_col: str = "doc_id"
    ) -> None:
        """Append a batch to the index: O(batch) signature compute + two
        commit-log appends; the existing corpus is not touched."""
        banded = self._banded(batch, content, id_col)
        bt, st = self._tables()
        bt.insert(banded.select("id", "band", "bucket"))
        st.insert(banded.filter(F.col("band") == 0).select("id", "sig"))

    def query(
        self,
        batch: DataFrame,
        content: str = "text",
        id_col: str = "doc_id",
        min_matching_bands: int = 1,
    ) -> DataFrame:
        """Candidate near-dup links (batch_id, corpus_id) — batch bucket
        rows joined against the stored buckets on (band, bucket), then
        signature agreement from the stored signature table. The batch
        side is typically tiny relative to the corpus: Spark broadcasts
        it, so the corpus-side bucket table is only scanned (and at
        cluster scale partition-pruned on band)."""
        bt, st = self._tables()
        b = self._banded(batch, content, id_col)
        new_buckets = b.select(
            F.col("id").alias("batch_id"), "band", "bucket"
        )
        new_sigs = b.filter(F.col("band") == 0).select(
            F.col("id").alias("batch_id"), F.col("sig").alias("batch_sig")
        )
        links = (
            bt.df.join(F.broadcast(new_buckets), ["band", "bucket"])
            .filter(F.col("id") != F.col("batch_id"))
            .groupBy("batch_id", F.col("id").alias("corpus_id"))
            .agg(F.count(F.lit(1)).alias("n_matching_bands"))
            .filter(F.col("n_matching_bands") >= min_matching_bands)
        )
        return (
            links.join(F.broadcast(new_sigs), "batch_id")
            .join(st.df.select(F.col("id").alias("corpus_id"), "sig"), "corpus_id")
            .withColumn(
                "sig_agreement",
                F.size(
                    F.filter(
                        F.zip_with(
                            F.col("batch_sig"), F.col("sig"), lambda u, v: u == v
                        ),
                        lambda eq: eq,
                    )
                )
                / F.lit(self.k),
            )
            .select("batch_id", "corpus_id", "n_matching_bands", "sig_agreement")
        )
