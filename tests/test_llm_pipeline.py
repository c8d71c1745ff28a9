"""Tests for the LLM-pipeline operators: dedup behavior on known
near-dups, IVF recall vs brute force, text statistics, BPE and the
frame-store codec."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iot_database_spark.operators import dedup as dd
from iot_database_spark.operators import similarity as sim
from iot_database_spark.operators import vector as vec


@pytest.fixture(scope="module")
def corpus(spark):
    chunk = "the quick brown fox jumps over the lazy dog while rain falls on the quiet grey town and children play near the old stone bridge by the river"
    base = chunk + " today"
    near = chunk + " tomorrow"  # one-word diff -> jaccard ~0.97
    other = "completely different words about spark shuffles and parquet files here"
    return spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, other)], ["doc_id", "text"]
    )


def test_exact_dedup_groups_identical(corpus):
    out = {r["keep_id"]: r["n_copies"] for r in dd.exact_dedup(corpus).collect()}
    assert out[1] == 2  # docs 1,2 identical -> survivor id 1
    assert out[3] == 1 and out[4] == 1


def test_minhash_lsh_finds_neardups(corpus):
    pairs = {
        (r["id_a"], r["id_b"]): r["sig_agreement"]
        for r in dd.lsh_candidate_pairs(corpus).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0  # identical docs
    assert (1, 3) in pairs and pairs[(1, 3)] > 0.5  # near-dup caught
    assert (1, 4) not in pairs and (3, 4) not in pairs  # unrelated not paired


def test_explode_pairs_complete_and_row_bounded(spark):
    """_explode_pairs must emit exactly the C(n,2) ordered pairs AND keep
    every per-row array at <= n-1 elements (the r3 single-row quadratic
    spike regression guard)."""
    import itertools

    n = 40
    grouped = spark.createDataFrame(
        [(list(range(n)),)], "m: array<int>"
    )

    def build(x, y):
        return F.struct(
            F.least(x, y).alias("id_a"), F.greatest(x, y).alias("id_b")
        )

    got = {
        (r["id_a"], r["id_b"])
        for r in dd._explode_pairs(grouped, "m", build).collect()
    }
    assert got == set(itertools.combinations(range(n), 2))

    # per-row bound: the largest array any intermediate row materializes
    # is the per-element slice (n-1), never the flattened C(n,2) set
    m = F.col("m")
    max_arr = (
        grouped.select(m.alias("_m"), F.posexplode(m).alias("_i", "_x"))
        .select(
            F.size(
                F.slice(F.col("_m"), F.col("_i") + 2, F.size(F.col("_m")))
            ).alias("sz")
        )
        .agg(F.max("sz"))
        .collect()[0][0]
    )
    assert max_arr == n - 1

    # the generating plan must not contain the old single-row flatten
    plan = dd._explode_pairs(grouped, "m", build)._jdf.queryExecution().toString()
    assert "flatten" not in plan.lower()


def test_simhash_close_for_neardups(corpus):
    rows = {
        r["doc_id"]: r["sh"]
        for r in corpus.select(
            "doc_id", dd.simhash(F.col("text")).alias("sh")
        ).collect()
    }
    assert rows[1] == rows[2]
    hamming_13 = bin(rows[1] ^ rows[3]).count("1")
    hamming_14 = bin(rows[1] ^ rows[4]).count("1")
    assert hamming_13 < hamming_14  # near-dup closer than unrelated


def test_jaccard_pairs_ranks_neardups(corpus):
    # explicit absolute cap, no fractional guard: on a 4-doc corpus the
    # default 0.1% fractional cap floors at 2 and drops shingles the
    # near-dup TRIPLE shares, which is the guard working as designed —
    # this test checks raw jaccard arithmetic, so guards are disabled
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.jaccard_pairs(
            corpus, threshold=0.01, max_df=1000, max_df_frac=None
        ).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert 0.5 < pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


def test_jaccard_fractional_df_guard(spark):
    """max_df_frac drops shingles whose df exceeds frac*n_docs: with a
    stop-shingle shared by ALL docs and a rare shingle shared by two,
    a 50% cap keeps only the rare-shingle pair evidence; the absolute
    cap alone (1000) would count the stop shingle into every pair."""
    rows = [
        (1, "common common common rare rare rare"),
        (2, "common common common rare rare rare"),
        (3, "common common common x y z"),
        (4, "common common common p q r"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = {
        (r["id_a"], r["id_b"]): r["n_common"]
        for r in dd.jaccard_pairs(
            df, threshold=0.0, max_df=1000, max_df_frac=None
        ).collect()
    }
    # every doc pair shares the 'common common common' shingle
    assert len(uncapped) == 6
    capped = {
        (r["id_a"], r["id_b"]): r["n_common"]
        for r in dd.jaccard_pairs(
            df, threshold=0.0, max_df=1000, max_df_frac=0.5
        ).collect()
    }
    # cap = 0.5*4 = 2: the all-docs shingle (df 4) is dropped, the
    # rare 'rare rare rare' shingle (df 2) survives -> only (1,2) pairs
    assert set(capped) == {(1, 2)}
    # tighter-bound-wins: an absolute cap of 1 beats the frac cap
    none = dd.jaccard_pairs(df, threshold=0.0, max_df=1, max_df_frac=0.5)
    assert none.count() == 0
    # the DEFAULT is the fractional guard (0.1%, floored at 2): on this
    # 4-doc corpus that is the same cap=2 as above — the all-docs stop
    # shingle is dropped without any explicit argument
    dflt = {
        (r["id_a"], r["id_b"]) for r in dd.jaccard_pairs(df, threshold=0.0).collect()
    }
    assert dflt == {(1, 2)}


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").cast("bigint").alias("vec_id"), "embedding"
    )
    qvec = [float(x) for x in emb.filter("vec_id = 0").collect()[0]["embedding"]]
    q = F.array(*[F.lit(x) for x in qvec])

    brute = [r["vec_id"] for r in vec.search_cosine(emb, q, min_score=-1, limit=10).collect()]
    centroids = sim.default_centroids(emb, k=8)
    assigned = sim.ivf_assign(emb, centroids)
    approx = [
        r["vec_id"]
        for r in sim.ivf_search_cosine(assigned, centroids, q, k=10, nprobe=4).collect()
    ]
    recall = len(set(brute) & set(approx)) / 10
    assert approx[0] == 0  # the query vector itself is found
    assert recall >= 0.3  # random embeddings: probing 4/8 buckets


def test_hll_sketch_within_tolerance(spark, sf_dir):
    """approx_count_distinct (HLL sketch) — the cardinality primitive for
    100 TB profiling; no cross-engine oracle (sketches differ), so assert
    tolerance against the exact count."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    exact = li.select("l_partkey").distinct().count()
    approx = li.select(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("a")
    ).collect()[0]["a"]
    assert abs(approx - exact) / exact < 0.06


def test_kmeans_refine_improves_objective(spark, sf_dir):
    """Lloyd iterations must not increase the k-means objective (sum of
    squared distances to the assigned centroid), and the refined set
    still drives the same IVF search path."""
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select(F.col("vec_id").cast("bigint").alias("vec_id"), "embedding")
        .limit(400)
    )

    def objective(centroids):
        assigned = sim.ivf_assign(emb, centroids)
        packed = centroids.agg(
            F.map_from_arrays(
                F.collect_list("centroid_id"), F.collect_list("centroid_vec")
            ).alias("_m")
        )
        d = assigned.crossJoin(F.broadcast(packed)).select(
            vec.l2_distance_sq(
                F.col("embedding"), F.element_at(F.col("_m"), F.col("bucket"))
            ).alias("d2")
        )
        return d.agg(F.sum("d2")).collect()[0][0]

    c0 = sim.default_centroids(emb, k=8)
    c1 = sim.kmeans_refine(emb, c0, iters=2)
    obj0, obj1 = objective(c0), objective(c1)
    assert obj1 <= obj0 + 1e-6
    assert c1.count() == 8
    # refined centroids keep the schema contract for search
    qvec = [float(x) for x in emb.filter("vec_id = 0").collect()[0]["embedding"]]
    q = F.array(*[F.lit(x) for x in qvec])
    assigned = sim.ivf_assign(emb, c1)
    top = sim.ivf_search_cosine(assigned, c1, q, k=5, nprobe=4).collect()
    assert top[0]["vec_id"] == 0


def test_connected_components_multi_hop(spark):
    """A chain a-b-c-d must collapse to one cluster (requires multiple
    propagation rounds), plus a pair and singletons."""
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (4, 3), (10, 11)], "id_a bigint, id_b bigint"
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 99]], "id bigint")
    out = {r["id"]: r for r in dd.cluster_assign(pairs, nodes).collect()}
    assert all(out[i]["cluster_id"] == 1 for i in (1, 2, 3, 4))
    assert out[1]["cluster_size"] == 4 and out[1]["is_canonical"]
    assert not out[4]["is_canonical"]
    assert out[10]["cluster_id"] == 10 and out[11]["cluster_id"] == 10
    assert out[99]["cluster_size"] == 1 and out[99]["is_canonical"]


def test_connected_components_nonconvergence_raises(spark):
    """r4 verdict: exhausting max_iter with labels still moving must
    fail loudly, not return silently-partial clusters. A 9-node path
    graph has diameter 8 > max_iter=3; min-label propagation moves one
    hop per round, so 3 rounds cannot converge."""
    import pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)], "id_a bigint, id_b bigint"
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 10)], "id bigint")
    with pytest.raises(RuntimeError, match="did not converge in 3"):
        dd.connected_components(chain, nodes, max_iter=3)
    # an ample max_iter converges the same graph to a single cluster
    ok = dd.connected_components(chain, nodes, max_iter=15)
    assert set(r["cluster_id"] for r in ok.collect()) == {1}


def test_connected_components_empty_pairs(spark):
    """No edges at all: every node is its own cluster, no false
    non-convergence on the empty label frame."""
    pairs = spark.createDataFrame([], "id_a bigint, id_b bigint")
    nodes = spark.createDataFrame([(1,), (2,)], "id bigint")
    rows = {r["id"]: r["cluster_id"] for r in dd.connected_components(pairs, nodes).collect()}
    assert rows == {1: 1, 2: 2}


def test_repeated_ngrams_finds_shared_passages(corpus):
    """Docs 1,2,3 share the long chunk -> its 8-grams span >= 2 docs; the
    unrelated doc contributes none."""
    out = dd.repeated_ngrams(corpus, n=8, min_docs=2).collect()
    assert len(out) > 0
    assert all(r["n_docs"] >= 2 and r["first_doc"] == 1 for r in out)
    assert all(len(r["gram"].split(" ")) == 8 for r in out)
    # the shared prefix 8-gram appears in all three near-dup docs
    top = max(out, key=lambda r: r["n_docs"])
    assert top["n_docs"] == 3


def test_vector_index_persists_and_searches(spark, tmp_path, sf_dir):
    """VectorIndex: build writes centroid+assigned tables through the
    commit log; a REOPENED database searches without rebuilding and
    matches a fresh in-memory IVF search."""
    from iot_database_spark.database import IotDatabase

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").cast("bigint").alias("vec_id"), "embedding"
    )
    db = IotDatabase("vecdb", str(tmp_path), spark)
    idx = sim.VectorIndex(db, "emb_idx")
    idx.build(emb, k=8, refine_iters=1)

    qvec = [float(x) for x in emb.filter("vec_id = 3").collect()[0]["embedding"]]
    q = F.array(*[F.lit(x) for x in qvec])
    got = [r["vec_id"] for r in idx.search(q, k=5, nprobe=4).collect()]
    assert got[0] == 3  # the query vector finds itself first

    # reopen: fresh database object, same storage
    db2 = IotDatabase("vecdb", str(tmp_path), spark)
    idx2 = sim.VectorIndex(db2, "emb_idx")
    got2 = [r["vec_id"] for r in idx2.search(q, k=5, nprobe=4).collect()]
    assert got2 == got
    # index tables are ordinary versioned tables (history, introspection)
    assert "emb_idx__centroids" in db2.list_tables()
    assert db2.table("emb_idx__vectors").count() == emb.count()


def test_decontaminate_flags_planted_overlap(spark):
    """A train doc sharing an 8-gram with the eval set is flagged with
    the right collision count; disjoint docs are not."""
    from iot_database_spark.operators import curation as cu

    passage = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    train = spark.createDataFrame(
        [
            (1, passage + " kilo lima"),          # shares 8-grams with eval
            (2, "totally unrelated words that never appear in any eval set"),
            (3, "short doc"),                      # < 8 tokens -> no grams
        ],
        ["doc_id", "text"],
    )
    eval_set = spark.createDataFrame([(100, passage)], ["doc_id", "text"])
    out = {r["doc_id"]: r["n_shared_grams"] for r in cu.ngram_decontaminate(train, eval_set, n=8).collect()}
    # passage has 10 tokens -> 3 distinct 8-grams; train doc 1 contains
    # all 3 of them (plus 2 more grams crossing into ' kilo lima')
    assert out == {1: 3}


def test_mixture_sample_rate_and_determinism(spark):
    from iot_database_spark.operators import curation as cu

    df = spark.range(0, 4000).withColumnRenamed("id", "doc_id")
    out = cu.mixture_sample(df, rate_bp=F.lit(2500))
    n = out.filter("sampled").count()
    assert abs(n / 4000 - 0.25) < 0.03  # hash-uniformity, not exactness
    # decisions are per-row pure: a subset sees identical flags
    sub = cu.mixture_sample(df.filter("doc_id < 100"), rate_bp=F.lit(2500))
    full = {r["doc_id"]: r["sampled"] for r in out.filter("doc_id < 100").collect()}
    assert {r["doc_id"]: r["sampled"] for r in sub.collect()} == full


def test_lsh_ann_recall_vs_brute_force(spark, sf_dir):
    """Multi-probe hyperplane LSH must recover a decent fraction of the
    true cosine top-10 (same bar as the IVF recall test)."""
    from iot_database_spark import registry
    from iot_database_spark.registry import load_views

    qs = registry.queries()
    emb = load_views(spark, sf_dir)["embeddings"].select(
        F.col("vec_id").cast("bigint").alias("vec_id"), "embedding"
    )
    q = emb.filter("vec_id = 0").select(F.col("embedding").alias("qv"))
    truth = {
        r["vec_id"]
        for r in emb.crossJoin(F.broadcast(q))
        .withColumn("rel", vec.cosine_similarity(F.col("embedding"), F.col("qv")))
        .orderBy(F.desc("rel"), "vec_id")
        .limit(10)
        .collect()
    }
    got = {r["vec_id"] for r in qs["ann_lsh_cosine"](spark, sf_dir).collect()}
    assert len(truth & got) >= 3  # ANN tradeoff; 3/10 proves bucketing works


def test_minhash_index_incremental_dedup(spark, tmp_path, corpus):
    """MinHashIndex: build over the corpus, then an incremental batch
    containing a near-dup of an indexed doc links to it after a database
    REOPEN; extend() makes later batches dedup against earlier ones."""
    from iot_database_spark.database import IotDatabase

    db = IotDatabase("dedupdb", str(tmp_path), spark)
    idx = dd.MinHashIndex(db, "corpus_idx")
    idx.build(corpus)

    # batch doc 10 is a near-dup of indexed docs 1/2/3; doc 11 is novel
    base = corpus.filter("doc_id = 1").collect()[0]["text"]
    batch = spark.createDataFrame(
        [(10, base + " yesterday"), (11, "entirely novel content with no twin here at all")],
        ["doc_id", "text"],
    )
    db2 = IotDatabase("dedupdb", str(tmp_path), spark)
    idx2 = dd.MinHashIndex(db2, "corpus_idx")
    links = idx2.query(batch).collect()
    linked = {(r["batch_id"], r["corpus_id"]) for r in links}
    assert any(b == 10 for b, _ in linked)      # near-dup found
    assert all(b != 11 for b, _ in linked)      # novel doc clean
    assert all(r["sig_agreement"] >= 0.25 for r in links)

    # extend with the batch; a copy of doc 11 now links against it
    idx2.extend(batch)
    batch2 = spark.createDataFrame(
        [(20, "entirely novel content with no twin here at all")],
        ["doc_id", "text"],
    )
    links2 = {(r["batch_id"], r["corpus_id"]) for r in idx2.query(batch2).collect()}
    assert (20, 11) in links2


def test_range_join_boundary_semantics(spark):
    """range_join window is half-open [start, end): an event exactly at
    `end` does not match; one exactly at `start` does — including when
    the boundary falls exactly on a bucket edge (the exploded interval
    must not leak into the bucket that starts at its exclusive end)."""
    from datetime import datetime

    from iot_database_spark.operators.timeseries import range_join

    t0 = datetime(2024, 1, 1, 0, 0, 0)
    ev = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 0, 0, 0)),   # == start: in
            (2, datetime(2024, 1, 1, 0, 59, 59)), # inside
            (3, datetime(2024, 1, 1, 1, 0, 0)),   # == end: out
            (4, datetime(2023, 12, 31, 23, 59, 59)),  # before: out
        ],
        "event_id bigint, ts timestamp",
    )
    # window [00:00, 01:00) with end on an exact 30-min bucket boundary
    iv = spark.createDataFrame(
        [(7, t0, datetime(2024, 1, 1, 1, 0, 0))],
        "iv_id bigint, start_ts timestamp, end_ts timestamp",
    )
    got = sorted(
        r["event_id"]
        for r in range_join(ev, iv, bucket_s=1800).collect()
    )
    assert got == [1, 2]


def test_range_join_drops_inverted_and_empty_intervals(spark):
    """Inverted (end < start) and empty (end == start) windows match
    nothing — and must not reach sequence(), which would otherwise
    explode a descending bucket run for the inverted window."""
    from datetime import datetime

    from iot_database_spark.operators.timeseries import range_join

    ev = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 0, 30))], "event_id bigint, ts timestamp"
    )
    iv = spark.createDataFrame(
        [
            (7, datetime(2024, 1, 1, 1, 0), datetime(2024, 1, 1, 0, 0)),
            (8, datetime(2024, 1, 1, 0, 0), datetime(2024, 1, 1, 0, 0)),
            (9, datetime(2024, 1, 1, 0, 0), datetime(2024, 1, 1, 1, 0)),
        ],
        "iv_id bigint, start_ts timestamp, end_ts timestamp",
    )
    got = [(r["event_id"], r["iv_id"]) for r in range_join(ev, iv).collect()]
    assert got == [(1, 9)]


def test_trigram_coverage_separates_garbage(spark, sf_dir):
    """A doc made of characters the corpus never uses must score far
    below in-domain docs (the perplexity-filter contract)."""
    from iot_database_spark.operators.curation import trigram_coverage
    from iot_database_spark.operators.curation_queries import (
        text_trigram_coverage,
    )

    rows = [
        (i, "the quick brown fox jumps over the lazy dog again and again")
        for i in range(1, 10)
    ] + [(10, "qz7#x9@k!m2$w8%v4^b6&n1*p3(j5)")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in trigram_coverage(df, k=50).collect()}
    assert all(0.0 <= r.coverage <= 1.0 and r.n_hit <= r.n_tri for r in got.values())
    assert got[1].coverage > 0.9  # in-domain: nearly all head trigrams
    assert got[10].coverage < 0.2  # out-of-domain garbage scores low
    # short/empty docs are well-defined, not division errors
    tiny = spark.createDataFrame([(1, "ab"), (2, "")], ["doc_id", "text"])
    t = {r.doc_id: r for r in trigram_coverage(tiny, k=10).collect()}
    assert t[1].n_tri == 0 and t[1].coverage == 0.0
    assert t[2].n_tri == 0 and t[2].coverage == 0.0
    # the oracle-gated query runs end-to-end on the parquet corpus
    out = text_trigram_coverage(spark, sf_dir).collect()
    assert all(0.0 <= r.coverage <= 1.0 for r in out)


def test_framestore_golden_and_roundtrip():
    """The reference's RTSP full/delta frame store. The golden stream is
    built BY HAND from the format spec (RtspClient.cs AddHeader /
    GetFrameDifferences) so encode is checked against the wire layout
    itself, not against this repo's own decoder."""
    import struct

    from iot_database_spark.operators import framestore as fs

    f0 = bytes(range(16))
    f1 = bytearray(f0)
    f1[1], f1[3] = 99, 77  # 2 patches = 10-byte diff < 16-byte frame
    f1 = bytes(f1)
    f2 = f1  # identical -> zero-patch difference record
    golden = (
        struct.pack("<BI", 1, 16) + f0
        + struct.pack("<BI", 0, 10)
        + struct.pack("<IB", 1, 99) + struct.pack("<IB", 3, 77)
        + struct.pack("<BI", 0, 0)
    )
    assert fs.encode_frames([f0, f1, f2]) == golden
    assert list(fs.decode_frames(golden)) == [f0, f1, f2]

    # diff not smaller than the frame -> full frame, counter resets
    g0 = bytes([1, 2, 3, 4])
    g1 = bytes([9, 8, 7, 4])  # 3 changed bytes = 15-byte diff > 4
    enc = fs.encode_frames([g0, g1])
    assert enc == struct.pack("<BI", 1, 4) + g0 + struct.pack("<BI", 1, 4) + g1

    # full frame every FULL_FRAME_INTERVAL difference frames: frame k
    # differs from frame k-1 in one byte, so fulls land exactly where
    # the reference's counter (incremented on deltas only) resets
    frames = [bytes([i] + [0] * 63) for i in range(25)]
    enc = fs.encode_frames(frames)
    kinds = [is_full for is_full, _ in fs.iter_records(enc)]
    assert kinds == [i % (fs.FULL_FRAME_INTERVAL + 1) == 0 for i in range(25)]
    assert list(fs.decode_frames(enc)) == frames

    # size change forces a full frame (the reference differ would crash)
    mixed = [bytes(8), bytes(12), bytes(12)]
    enc = fs.encode_frames(mixed)
    assert [k for k, _ in fs.iter_records(enc)] == [True, True, False]
    assert list(fs.decode_frames(enc)) == mixed

    # random-ish round-trip, patch indices spanning >255 (4-byte LE)
    import random

    rng = random.Random(11)
    seq = [bytes(rng.randrange(256) for _ in range(400))]
    for _ in range(30):
        nxt = bytearray(seq[-1])
        for _ in range(rng.randrange(0, 12)):
            nxt[rng.randrange(400)] = rng.randrange(256)
        seq.append(bytes(nxt))
    assert list(fs.decode_frames(fs.encode_frames(seq))) == seq


def test_framestore_rejects_malformed_and_sniffs():
    import struct

    import pytest as _pytest

    from iot_database_spark.operators import framestore as fs

    ok = fs.encode_frames([b"abcd", b"abce"])
    assert fs.sniff(ok)
    # other containers must not sniff as framestore
    for other in (b"GIF89a\x00\x00", b"\xff\xd8\xff\xe0junk",
                  b"RIFF\x00\x00\x00\x00AVI ", b"YUV4MPEG2 ", b""):
        assert not fs.sniff(other)
    # truncated payload / truncated header / delta-first all raise
    with _pytest.raises(ValueError):
        list(fs.decode_frames(ok[:-1]))
    with _pytest.raises(ValueError):
        list(fs.decode_frames(ok + b"\x01"))
    with _pytest.raises(ValueError):
        list(fs.decode_frames(struct.pack("<BI", 0, 0)))
    # record-0 damage fails EAGERLY at the call site (r7 advice): no
    # list() needed — a foreign/truncated blob never hands back a
    # time-bomb generator
    for bad0 in (b"\x01", struct.pack("<BI", 0, 0), struct.pack("<BI", 7, 0),
                 struct.pack("<BI", 1, 99) + b"xy"):
        with _pytest.raises(ValueError):
            fs.decode_frames(bad0)
    # ...but a ZERO-byte blob is a valid zero-frame capture, not an error
    assert list(fs.decode_frames(b"")) == []
    # patch index outside the previous frame
    bad = struct.pack("<BI", 1, 2) + b"ab" + struct.pack("<BI", 0, 5) + struct.pack("<IB", 9, 1)
    with _pytest.raises(ValueError):
        list(fs.decode_frames(bad))
    assert not fs.sniff(ok[:-1])


def test_framestore_decode_is_lazy_generator():
    """Pin the r6-advice laziness contract: decode_frames returns a
    generator (after an eager record-0 header check — see the malformed
    test), the valid prefix of a blob with a corrupt TAIL is fully
    consumable, and the structural error surfaces exactly when iteration
    reaches the bad record — so list(...) is what triggers validation
    past record 0 in the pytest.raises tests above."""
    import types

    import pytest as _pytest

    from iot_database_spark.operators import framestore as fs

    frames = [bytes([i] + [0] * 15) for i in range(5)]
    blob = fs.encode_frames(frames)

    gen = fs.decode_frames(blob + b"\x01")  # corrupt tail: short header
    assert isinstance(gen, types.GeneratorType)
    assert [next(gen) for _ in range(5)] == frames
    with _pytest.raises(ValueError):
        next(gen)


