"""Deterministic scale-up of the driver's synthetic testdata.

Produces an sfN directory with the SAME schema/key layout a driver-
generated one would have: every table's 0-based contiguous key space is
extended by stacking `copies` shifted replicas (copy k adds k*N to each
key, where N is the source row count), so each replica is a closed
join universe — join fan-in, group cardinalities per key, and skew
shape are preserved exactly while distinct-key counts and row counts
scale linearly. Non-key columns:

- customer/supplier names are re-printf'd from the new key (the
  source's own 'Customer#%09d' format), so names stay unique;
- document text is REGENERATED per copy from the corpus vocabulary
  (hash-seeded word choice, original word-count preserved) — verbatim
  copies would manufacture 10-way duplicate clusters and quadratic
  near-dup pair growth that a driver-generated sfN would not have;
- embeddings get deterministic per-dim jitter and are re-normalized
  (the source vectors are unit-L2);
- events shift by k*30 days (the source spans one month, so a 10x
  corpus covers 10 months — window/bucket counts scale linearly) with
  per-copy user populations;
- region/nation stay fixed (dimension tables don't scale in TPC-H).

Everything is content-hash deterministic: same inputs -> same bytes.
Output tables are single parquet files named <table>.parquet to match
the driver layout (the streaming queries glob on the file name).

Usage: python scripts/gen_scale_data.py [--src /root/testdata/sf0.1]
           [--out /root/repo/.scale/sf1] [--copies 10]
"""

from __future__ import annotations

import argparse
import glob
import os
import shutil
import sys
from typing import Callable

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Column, DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def let(value: Column, body: Callable[[Column], Column]) -> Column:
    """Evaluate `value` once per row; `body` may reference it freely.
    `transform(array(x), f)[0]` binds x to a lambda variable, where a
    plain column referenced k times would be inlined k times."""
    return F.transform(F.array(value), body)[0]


def _with_copies(df: DataFrame, copies: int) -> DataFrame:
    return df.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(copies - 1))).alias("k")
    )


# Row-group bound for generated files (r9 verdict #2): with parquet's
# default 128 MB block size a coalesce(1) writer emits 1-2 giant row
# groups per table, and since Spark's scan parallelism comes from
# byte-range splits over row groups, any single-table probe at sf10 ran
# on at most 2 tasks — which poisoned every per-query scaling
# measurement (ts_cusum_drift's 9.2x "step" was the layout, not the
# plan). 16 MB row groups give a 150 MB table ~10 independently
# readable groups; pair with spark.sql.files.maxPartitionBytes (see
# session.get_spark's SPARK_GRAFT_MAX_PARTITION_BYTES knob) sized so
# splits ~ cores when probing locally.
_ROW_GROUP_BYTES = 16 * 1024 * 1024


def _write_single(df: DataFrame, out_dir: str, name: str) -> None:
    """Write as ONE parquet file named <name>.parquet (driver layout),
    with bounded row groups so the single file still scans in
    parallel."""
    tmp = os.path.join(out_dir, f"_tmp_{name}")
    (
        df.coalesce(1)
        .write.mode("overwrite")
        .option("parquet.block.size", str(_ROW_GROUP_BYTES))
        .parquet(tmp)
    )
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))
    assert len(part) == 1, part
    shutil.move(part[0], os.path.join(out_dir, f"{name}.parquet"))
    shutil.rmtree(tmp)


def generate(spark: SparkSession, src: str, out: str, copies: int) -> None:
    os.makedirs(out, exist_ok=True)
    read = lambda t: spark.read.parquet(os.path.join(src, f"{t}.parquet"))  # noqa: E731
    counts = {
        t: read(t).count()
        for t in (
            "customer",
            "supplier",
            "part",
            "orders",
            "lineitem",
            "events",
            "documents",
            "embeddings",
        )
    }
    n_users = read("events").select("user_id").distinct().count()

    # dimensions pass through unchanged
    for t in ("region", "nation"):
        shutil.copyfile(
            os.path.join(src, f"{t}.parquet"), os.path.join(out, f"{t}.parquet")
        )

    k = F.col("k").cast("bigint")

    cust = _with_copies(read("customer"), copies).select(
        (F.col("c_custkey") + k * counts["customer"]).alias("c_custkey"),
        F.format_string(
            "Customer#%09d", F.col("c_custkey") + k * counts["customer"]
        ).alias("c_name"),
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
    )
    _write_single(cust.orderBy("c_custkey"), out, "customer")

    supp = _with_copies(read("supplier"), copies).select(
        (F.col("s_suppkey") + k * counts["supplier"]).alias("s_suppkey"),
        F.format_string(
            "Supplier#%09d", F.col("s_suppkey") + k * counts["supplier"]
        ).alias("s_name"),
        "s_nationkey",
        "s_acctbal",
    )
    _write_single(supp.orderBy("s_suppkey"), out, "supplier")

    part_df = _with_copies(read("part"), copies).select(
        (F.col("p_partkey") + k * counts["part"]).alias("p_partkey"),
        "p_name",
        "p_brand",
        "p_type",
        "p_size",
        "p_retailprice",
    )
    _write_single(part_df.orderBy("p_partkey"), out, "part")

    orders = _with_copies(read("orders"), copies).select(
        (F.col("o_orderkey") + k * counts["orders"]).alias("o_orderkey"),
        (F.col("o_custkey") + k * counts["customer"]).alias("o_custkey"),
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    )
    _write_single(orders.orderBy("o_orderkey"), out, "orders")

    li = _with_copies(read("lineitem"), copies).select(
        (F.col("l_orderkey") + k * counts["orders"]).alias("l_orderkey"),
        (F.col("l_partkey") + k * counts["part"]).alias("l_partkey"),
        (F.col("l_suppkey") + k * counts["supplier"]).alias("l_suppkey"),
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    )
    _write_single(li.orderBy("l_orderkey", "l_linenumber"), out, "lineitem")

    ev = _with_copies(read("events"), copies).select(
        (F.col("event_id") + k * counts["events"]).alias("event_id"),
        F.expr("timestampadd(DAY, CAST(k AS INT) * 30, ts)").alias("ts"),
        (F.col("user_id") + k * n_users).alias("user_id"),
        "event_type",
        "value",
        "props",
    )
    _write_single(ev.orderBy("event_id"), out, "events")

    # documents: copy 0 verbatim; copies 1+ regenerate word sequences
    # from the corpus vocabulary, preserving each source row's word
    # count (so length/quality distributions hold) with hash-seeded
    # deterministic word choice.
    docs_src = read("documents")
    vocab = sorted(
        r[0]
        for r in docs_src.select(
            F.explode(F.split("text", " ")).alias("w")
        )
        .distinct()
        .collect()
    )
    varr = F.array(*[F.lit(w) for w in vocab])
    new_doc_id = F.col("doc_id") + k * counts["documents"]
    regen_text = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.size(F.split(F.col("text"), " "))),
            lambda i: F.element_at(
                varr,
                (
                    F.pmod(F.xxhash64(new_doc_id, i, F.lit("docgen")), F.lit(len(vocab)))
                    + 1
                ).cast("int"),
            ),
        ),
    )
    docs = (
        _with_copies(docs_src, copies)
        .withColumn("new_text", F.when(k == 0, F.col("text")).otherwise(regen_text))
        .select(
            new_doc_id.alias("doc_id"),
            F.col("new_text").alias("text"),
            "lang",
            "source",
            F.length("new_text").alias("n_chars"),
        )
    )
    _write_single(docs.orderBy("doc_id"), out, "documents")

    # embeddings: copy 0 verbatim; copies 1+ jitter each dim by a
    # deterministic hash draw in [-0.05, 0.05] then re-normalize to
    # unit L2 (the source vectors are unit-norm).
    emb_src = read("embeddings")
    new_vec_id = F.col("vec_id") + k * counts["embeddings"]
    jittered = F.transform(
        F.col("embedding"),
        lambda x, i: x.cast("double")
        + F.when(
            k == 0, F.lit(0.0)
        ).otherwise(
            (
                F.pmod(F.xxhash64(new_vec_id, i, F.lit("embgen")), F.lit(10001))
                / 10000.0
                - 0.5
            )
            * 0.1
        ),
    )
    renorm = let(
        jittered,
        lambda v: let(
            F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x)),
            lambda nrm: F.transform(v, lambda x: (x / nrm).cast("float")),
        ),
    )
    emb = _with_copies(emb_src, copies).select(
        new_vec_id.alias("vec_id"),
        renorm.alias("embedding"),
        "label",
    )
    _write_single(emb.orderBy("vec_id"), out, "embeddings")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/root/repo/.scale/sf1")
    ap.add_argument("--copies", type=int, default=10)
    args = ap.parse_args()
    from iot_database_spark.session import get_spark

    spark = get_spark("gen-scale-data")
    generate(spark, args.src, args.out, args.copies)
    for t in sorted(os.listdir(args.out)):
        p = os.path.join(args.out, t)
        if os.path.isfile(p):
            print(f"{t}: {os.path.getsize(p) / 1e6:.1f} MB")


if __name__ == "__main__":
    main()
