"""Non-vacuity + cap-binding guards for the round-11 registrations.

Bit-exact oracle parity for all five new queries runs in
tests/test_oracle_parity.py automatically (they are registered); these
tests assert the GATE IS REAL — the graded corpus actually exercises
each operator's interesting branch — and enforce the r10 advisor's ask
that the "caps are no-ops at graded SFs" claim be checked, not asserted
in a comment.
"""

from __future__ import annotations

import duckdb
import pytest

from iot_database_spark.operators import dedup_queries as dq


def test_phrase_and_span_results_nonempty(spark, sf_dir):
    """Guard against a vacuous gate: the synthetic corpus actually
    contains cross-doc duplicate spans, so the parity check compares
    real rows, not empty sets."""
    dup = dq.dedup_span_exact(spark, sf_dir).filter("n_dup_spans > 0")
    assert dup.count() > 0


def test_span_removal_repairs_and_preserves(spark, sf_dir):
    """The repair does real work (some docs lose tokens), never invents
    or drops documents, and untouched docs keep their exact text hash
    (n_removed == 0  <=>  clean_md5 == md5(original))."""
    from pyspark.sql import functions as F

    from iot_database_spark.registry import load_views

    out = dq.dedup_span_removal(spark, sf_dir).cache()
    docs = load_views(spark, sf_dir)["documents"]
    try:
        assert out.count() == docs.count()
        repaired = out.filter("n_removed > 0")
        assert repaired.count() > 0
        assert out.filter("n_removed > n_tokens").count() == 0
        untouched_mismatch = (
            out.filter("n_removed = 0")
            .join(
                docs.select(
                    F.col("doc_id").cast("bigint").alias("doc_id"),
                    F.md5(F.coalesce("text", F.lit(""))).alias("orig_md5"),
                ),
                "doc_id",
            )
            .filter("clean_md5 <> orig_md5")
        )
        assert untouched_mismatch.count() == 0
    finally:
        out.unpersist()


def test_fixed_eval_decon_nonvacuous(spark, sf_dir):
    """The fixed held-out table shares enough vocabulary with the
    graded corpora that band collisions exist — the leak report grades
    real candidates."""
    out = dq.decontaminate_fixed_eval(spark, sf_dir)
    assert out.count() > 0


def test_decontaminate_against_custom_eval(spark, sf_dir):
    """r11 verdict task #4: the production shape takes an ARBITRARY
    eval table, not the module's grading-default path. Wire a custom
    held-out set that is literally a subset of the train corpus: every
    eval doc must come back a perfect-agreement leak."""
    from iot_database_spark.operators.dedup_queries import (
        K,
        _docs,
        decontaminate_against,
    )

    train = _docs(spark, sf_dir)
    held_out = train.orderBy("doc_id").limit(5)
    out = decontaminate_against(train, held_out).collect()
    assert len(out) == 5
    by_id = {r.eval_doc_id: r for r in out}
    for r in by_id.values():
        assert r.leaked and r.max_agreement == K


def test_decon_eval_path_resolved_at_call_time(
    spark, sf_dir, tmp_path, monkeypatch
):
    """r12 verdict task #5: SPARK_GRAFT_DECON_EVAL_PATH set AFTER the
    module imports must reach both the registered query and its (lazy)
    oracle SQL — no reload required — and a path that can't embed
    safely in the oracle string fails loudly instead of injecting."""
    from iot_database_spark import registry

    # a custom eval set written after import: two docs lifted verbatim
    # from the graded corpus, so they must come back as leaks
    docs = dq._docs(spark, sf_dir)
    eval_path = str(tmp_path / "my_eval.parquet")
    docs.orderBy("doc_id").limit(2).write.parquet(eval_path)
    monkeypatch.setenv("SPARK_GRAFT_DECON_EVAL_PATH", eval_path)
    assert dq._fixed_eval_path() == eval_path
    rows = dq.decontaminate_fixed_eval(spark, sf_dir).collect()
    assert len(rows) == 2 and all(r.leaked for r in rows)
    # the lazily-built oracle embeds the SAME call-time path
    assert eval_path in registry.oracles()["decontaminate_fixed_eval"]
    # un-embeddable values are rejected, not interpolated
    monkeypatch.setenv("SPARK_GRAFT_DECON_EVAL_PATH", "/tmp/o'brien.parquet")
    with pytest.raises(ValueError):
        dq._fixed_eval_path()
    monkeypatch.delenv("SPARK_GRAFT_DECON_EVAL_PATH")
    assert dq._fixed_eval_path() == dq._DEFAULT_EVAL_PATH


@pytest.mark.parametrize("sf", ["0.01", "0.1"])
def test_graded_sf_block_widths_under_cap(sf):
    """r10 advisor item: dedup_fuzzy_name_match and
    dedup_embedding_cosine gained max_block=4096 guards whose
    no-output-change-at-graded-SF justification lived in a comment.
    Enforce it: the widest nation block and the widest embedding-label
    block at both graded scale factors stay under the cap, so the
    capped and uncapped plans are bit-identical where the driver
    grades."""
    con = duckdb.connect()
    widest_nation = con.execute(
        f"SELECT MAX(n) FROM (SELECT COUNT(*) AS n FROM "
        f"'/root/testdata/sf{sf}/customer.parquet' GROUP BY c_nationkey)"
    ).fetchone()[0]
    assert widest_nation <= dq._FUZZY_MAX_BLOCK
    widest_label = con.execute(
        f"SELECT MAX(n) FROM (SELECT COUNT(*) AS n FROM "
        f"'/root/testdata/sf{sf}/embeddings.parquet' GROUP BY label)"
    ).fetchone()[0]
    assert widest_label <= 4096


def test_stream_state_config_routing(tmp_path, monkeypatch):
    """The stream-state crossover routing (SCALE_r11.md): env pins win,
    big sources pick RocksDB at the measured partition count, small
    sources keep the HDFS-map/8 optimum, and a missing source falls
    back to small-state."""
    from iot_database_spark.operators import streaming_queries as sq

    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE_PROVIDER", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", raising=False)
    small = tmp_path / "events.parquet"
    small.write_bytes(b"x" * 1024)
    assert sq._stream_state_config(str(tmp_path), "events.parquet") == (
        "",
        sq._STREAM_STATE_PARTITIONS,
    )
    big = tmp_path / "big" / "events.parquet"
    big.mkdir(parents=True)
    (big / "part-0.parquet").write_bytes(b"x" * (sq._BIG_STATE_SOURCE_BYTES))
    assert sq._stream_state_config(str(tmp_path / "big"), "events.parquet") == (
        "rocksdb",
        sq._BIG_STATE_PARTITIONS,
    )
    # the r12 two-tier route: past the huge threshold the partition
    # count scales to compute parallelism (sf1 vs sf10 A/B, SCALE_r12)
    huge = tmp_path / "huge" / "events.parquet"
    huge.mkdir(parents=True)
    (huge / "part-0.parquet").write_bytes(b"x" * (sq._HUGE_STATE_SOURCE_BYTES))
    assert sq._stream_state_config(str(tmp_path / "huge"), "events.parquet") == (
        "rocksdb",
        sq._HUGE_STATE_PARTITIONS,
    )
    # the huge tier tracks the session's compute parallelism (r12
    # advice: a literal 32 pinned this host's core count), but never
    # drops below the big tier's measured count
    assert sq._stream_state_config(
        str(tmp_path / "huge"), "events.parquet", parallelism=64
    ) == ("rocksdb", 64)
    assert sq._stream_state_config(
        str(tmp_path / "huge"), "events.parquet", parallelism=4
    ) == ("rocksdb", sq._BIG_STATE_PARTITIONS)
    # parallelism never changes the small/big tiers
    assert sq._stream_state_config(
        str(tmp_path / "big"), "events.parquet", parallelism=64
    ) == ("rocksdb", sq._BIG_STATE_PARTITIONS)
    # absent source -> small-state default, never an exception
    assert sq._stream_state_config(str(tmp_path / "nope"), "events.parquet") == (
        "",
        sq._STREAM_STATE_PARTITIONS,
    )
    # env pins override the size routing entirely
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PROVIDER", "rocksdb")
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "19")
    assert sq._stream_state_config(str(tmp_path), "events.parquet") == (
        "rocksdb",
        19,
    )
    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS")
    assert sq._stream_state_config(str(tmp_path / "big"), "events.parquet") == (
        "rocksdb",
        sq._STREAM_STATE_PARTITIONS,
    )


def test_materialize_mode_routing(monkeypatch, spark):
    """r12 verdict task #4: the span-stream materialization strategy is
    env-configurable with a master-aware default — localCheckpoint only
    where executor loss already means job loss (local[*]); replicated
    persist anywhere else; explicit pins win; garbage fails loudly."""
    monkeypatch.delenv("SPARK_GRAFT_MATERIALIZE", raising=False)
    assert dq._materialize_mode("local[32]") == "local"
    assert dq._materialize_mode("local") == "local"
    assert dq._materialize_mode("spark://host:7077") == "persist2"
    assert dq._materialize_mode("yarn") == "persist2"
    assert dq._materialize_mode("k8s://https://host") == "persist2"
    assert dq._materialize_mode(None) == "persist2"
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "reliable")
    assert dq._materialize_mode("local[32]") == "reliable"
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "PERSIST2")
    assert dq._materialize_mode("spark://h:7077") == "persist2"
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "bogus")
    with pytest.raises(ValueError):
        dq._materialize_mode("local[2]")

    # every strategy materializes the same rows (plan shape downstream
    # is strategy-independent); persist2 really replicates to disk-able
    # storage, reliable really checkpoints to the reliable dir
    src = spark.range(0, 100).selectExpr("id", "id % 7 AS k")
    want = sorted((r["id"], r["k"]) for r in src.collect())
    for mode in ("local", "persist2", "reliable"):
        monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", mode)
        out = dq._materialize_once(src)
        assert sorted((r["id"], r["k"]) for r in out.collect()) == want
        if mode == "persist2":
            assert out.storageLevel.replication == 2
            assert out.storageLevel.useDisk
            out.unpersist(blocking=False)
        if mode == "reliable":
            assert spark.sparkContext.getCheckpointDir() is not None


def test_substring_suffix_variable_length_signal(spark, sf_dir):
    """r12 verdict task #6 non-vacuity: the sorted-suffix profile must
    report what the fixed-N span family structurally cannot — repeat
    EXTENT. The synthetic corpus carries multi-span duplicate runs, so
    some doc must hit the SUFFIX_MAX_W truncation cap and some doc must
    land strictly between SPAN_N and the cap (a genuinely resolved
    variable length, not presence recoded)."""
    rows = dq.dedup_substring_suffix(spark, sf_dir).collect()
    assert rows
    lens = {r.max_dup_len for r in rows}
    assert dq.SUFFIX_MAX_W in lens
    assert any(dq.SPAN_N < ml < dq.SUFFIX_MAX_W for ml in lens)
    for r in rows:
        assert 0 <= r.n_dup_positions <= r.n_positions
        assert r.max_dup_len == 0 or r.max_dup_len >= dq.SPAN_N
        assert (r.n_dup_positions == 0) == (r.max_dup_len == 0)


def test_substring_suffix_supersets_span_profile(spark, sf_dir):
    """Every doc the fixed-N profile flags (a cross-doc duplicated
    8-token span) must also be flagged by the suffix profile — the
    suffix method additionally sees intra-doc repeats, never less."""
    span_dup = {
        r.doc_id
        for r in dq.dedup_span_exact(spark, sf_dir).collect()
        if r.n_dup_spans > 0
    }
    suf_dup = {
        r.doc_id
        for r in dq.dedup_substring_suffix(spark, sf_dir).collect()
        if r.n_dup_positions > 0
    }
    assert span_dup
    assert span_dup <= suf_dup


def test_substring_suffix_cap_branch(spark):
    """The over-cap (boilerplate) branch does real work: with the width
    cap forced below a hot prefix's occurrence count, its positions are
    counted wholesale at the min_len lower bound instead of entering
    the sort window, and the totals still cover every position."""
    boiler = (
        "lorem ipsum dolor sit amet consectetur adipiscing elit"
        " sed do eiusmod tempor"
    )
    rows = [(i, f"{boiler} tail{i} x y z w") for i in range(6)]
    rows.append((99, "entirely unique words nothing shared here at all"))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {
        r.doc_id: r
        for r in dq.substring_suffix_profile(docs, max_bucket=4).collect()
    }
    # the 6 boiler docs share the first 8-token prefix at position 1:
    # 6 > max_bucket -> boilerplate branch, ml pinned to min_len
    for i in range(6):
        assert out[i].n_boilerplate_positions >= 1
        assert out[i].n_dup_positions >= out[i].n_boilerplate_positions
        assert out[i].max_dup_len >= dq.SPAN_N
    assert out[99].n_dup_positions == 0
    assert out[99].n_boilerplate_positions == 0
    # and with the default cap the same corpus resolves full extents:
    # the shared run is longer than 8 tokens, so extents exceed min_len
    full = {
        r.doc_id: r
        for r in dq.substring_suffix_profile(docs).collect()
    }
    assert all(full[i].n_boilerplate_positions == 0 for i in range(6))
    assert any(full[i].max_dup_len > dq.SPAN_N for i in range(6))
