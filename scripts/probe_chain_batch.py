"""Scale probe for the r9 incremental chain append (r8 verdict #1):
per-batch write cost must stay FLAT as the chain history grows.

Method: one PointStore with `n_guids` BlockChain-flagged points. Grow
the history by writing `grow` fixed-size batches, timing each
`write_batch` call. Under the old full-history rebuild the k-th batch
re-folded all k*batch_rows prior blocks (linear growth in k); under the
incremental append every batch folds only its own rows seeded from the
per-guid heads table, so the per-batch time converges to a constant
(manifest/commit fixed costs) independent of k.

Each batch runs under its own Spark job group, so the probe also
reports how many Spark jobs every write_batch launched (the steady-state
count should not move with history either).

Prints one JSON line: {"batch_rows": N, "per_batch_s": [...],
"per_batch_jobs": [...], "history_at_end": M, "tail_vs_head_ratio": r}
— plus verifies every chain at the end.

Usage: python scripts/probe_chain_batch.py [--batches 12] [--rows 2000]
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from iot_database_spark.database import IotDatabase  # noqa: E402
from iot_database_spark.operators import iotvalue as iv  # noqa: E402
from iot_database_spark.points import PointStore  # noqa: E402
from iot_database_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--batches", type=int, default=12)
    ap.add_argument("--rows", type=int, default=2000)
    ap.add_argument("--guids", type=int, default=8)
    args = ap.parse_args()

    spark = get_spark("chain-batch-probe")
    root = tempfile.mkdtemp(prefix="chain_probe_")
    db = IotDatabase("probe", root, spark)
    store = PointStore(db)
    for g in range(args.guids):
        store.register_point(f"g{g}", flags=iv.FLAG_BLOCK_CHAIN)

    sc = spark.sparkContext
    t0 = dt.datetime(2024, 1, 1)
    times: list[float] = []
    jobs: list[int] = []
    for b in range(args.batches):
        # distinct (ts, value) per row so no consecutive-dup drops and
        # each batch strictly follows the previous in (ts, data) order
        batch = spark.range(args.rows).select(
            F.concat(F.lit("g"), (F.col("id") % args.guids).cast("string")).alias(
                "guid"
            ),
            (
                F.lit(t0)
                + F.make_dt_interval(secs=(F.col("id") + b * args.rows).cast("double"))
            ).alias("ts"),
            F.lit(15).alias("priority"),
            (F.col("id") + b * args.rows).cast("string").alias("value"),
        )
        group = f"chain-probe-{b}"
        sc.setJobGroup(group, "probe write_batch", False)
        start = time.perf_counter()
        counts = store.write_batch(batch)
        times.append(round(time.perf_counter() - start, 3))
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        assert counts["chain"] == args.rows, counts
    sc.setLocalProperty("spark.jobGroup.id", None)

    bad = [r for r in store.verify_chains().collect() if not r["valid"]]
    assert not bad, bad
    # fixed costs dominate batch 0 (table creation, codegen warm-up);
    # compare the steady-state head (batch 1-2 mean) to the tail
    head = sum(times[1:3]) / 2
    tail = sum(times[-2:]) / 2
    print(
        json.dumps(
            {
                "batch_rows": args.rows,
                "n_guids": args.guids,
                "per_batch_s": times,
                "per_batch_jobs": jobs,
                "history_at_end": args.rows * args.batches,
                "steady_head_s": round(head, 3),
                "tail_s": round(tail, 3),
                "tail_vs_head_ratio": round(tail / head, 3),
            }
        )
    )


if __name__ == "__main__":
    main()
