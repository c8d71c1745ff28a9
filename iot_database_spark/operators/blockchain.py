"""Hash-chained audit log (reference: Iot.Database/Blockchain/).

Reference semantics:
- hash = SHA256(timestamp + previousHash + data), first block's
  previousHash = "" (Block.CalculateHash — Blockchain/Block.cs:24-39).
- consecutive duplicate data is not re-appended
  (BlockCollection.Insert — BlockCollection.cs:52-68).
- verify recomputes each hash and the prev-hash linkage, reporting the
  first break (VerifyBlockList — BlockCollection.cs:131-155).

Scale design: the reference keeps ONE global chain — inherently
sequential, a non-starter at 100 TB. We chain **per key** (per device
guid): each chain is still sequential internally (the hash recurrence is
irreducible), but chains build in parallel across keys. Both APPEND and
VERIFY are pure JVM plans: append folds each key's sorted block list with
the `aggregate` higher-order function (collect_list -> fold -> posexplode
— no Python workers, no Arrow hops); verify is window lag + sha2.
Per-key chains must fit in one aggregation buffer (~millions of blocks);
beyond that, chain per (key, epoch) and link epoch heads.

Canonical hash input (documented so external verifiers can reproduce):
    sha256( epoch_micros_string || prev_hash || data )
with prev_hash = '' for the first block of a key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from iot_database_spark.functions.time import epoch_us, epoch_us_sql


def dedup_consecutive(
    blocks: DataFrame, key: str = "guid", ts: str = "ts", data: str = "data"
) -> DataFrame:
    """Drop rows whose data equals the previous row's data within a key
    (BlockCollection.Insert dedup, :56-60)."""
    w = W.partitionBy(key).orderBy(ts)
    return (
        blocks.withColumn("_prev_data", F.lag(data).over(w))
        .filter(F.col("_prev_data").isNull() | (F.col(data) != F.col("_prev_data")))
        .drop("_prev_data")
    )


def append_chain(
    blocks: DataFrame, key: str = "guid", ts: str = "ts", data: str = "data"
) -> DataFrame:
    """Compute (prev_hash, hash) for every block, chaining per key.

    Plan: groupBy(key) -> sort_array(collect_list(struct(ts, data, ...)))
    -> `aggregate` fold computing the running sha256 -> posexplode back to
    rows. One shuffle, all codegen'd JVM expressions. Input rows may
    arrive in any order; each key's blocks are ordered by (ts, data).

    hash_i = sha256( epoch_micros || hash_{i-1} || data ), first prev = ''
    (Block.CalculateHash — Blockchain/Block.cs:24-39).
    """
    others = [c for c in blocks.columns if c not in (key, ts, data)]
    item = F.struct(F.col(ts), F.col(data), *[F.col(c) for c in others])
    g = blocks.groupBy(key).agg(
        F.sort_array(F.collect_list(item)).alias("_items")
    )
    # fold left over the sorted blocks, accumulating the hash list. The
    # accumulator is JUST the hash array — prev is its tail (empty-string
    # seed on the first block) — so the sha2 appears ONCE per step; the
    # r12 form carried a separate 'prev' field and, because SQL lambdas
    # cannot bind locals, evaluated the identical sha2 twice per block
    # (confirmed in the executed plan; halving the digest work is the
    # whole win — the shuffle shape is unchanged).
    # size-guarded tail read: ANSI mode (this engine's default) makes a
    # bare element_at(acc, -1) on the empty first-step array an error
    step_hash = (
        f"sha2(concat(cast({epoch_us_sql(f'x.{ts}')} as string), "
        f"CASE WHEN size(acc) = 0 THEN '' ELSE element_at(acc, -1) END, "
        f"cast(x.{data} as string)), 256)"
    )
    hashes = F.expr(
        f"""
        aggregate(
            _items,
            cast(array() as array<string>),
            (acc, x) -> array_append(acc, {step_hash})
        )
        """
    )
    exploded = g.select(
        key, F.col("_items"), hashes.alias("_hs")
    ).select(
        key,
        "_hs",
        F.posexplode("_items").alias("_pos", "_item"),
    )
    return exploded.select(
        key,
        *[F.col(f"_item.{c}") for c in (ts, data, *others)],
        F.when(F.col("_pos") == 0, F.lit(""))
        .otherwise(F.element_at("_hs", F.col("_pos")))
        .alias("prev_hash"),
        F.element_at("_hs", F.col("_pos") + 1).alias("hash"),
    )


def chain_heads(
    chain: DataFrame, key: str = "guid", ts: str = "ts", data: str = "data"
) -> DataFrame:
    """Last block per key — the seed `append_chain_incremental` folds
    from: (key, ts, data, hash). Ordering matches append_chain's
    sort key (ts, data). One aggregation over the chain; callers that
    ingest continuously should PERSIST this (PointStore.chain_heads)
    and merge per batch instead of recomputing."""
    h = F.max_by(
        F.struct(F.col(ts), F.col(data), F.col("hash")),
        F.struct(F.col(ts), F.col(data)),
    )
    return chain.groupBy(key).agg(h.alias("_h")).select(
        key,
        F.col(f"_h.{ts}").alias(ts),
        F.col(f"_h.{data}").alias(data),
        F.col("_h.hash").alias("hash"),
    )


def append_chain_incremental(
    new_blocks: DataFrame,
    heads: DataFrame,
    key: str = "guid",
    ts: str = "ts",
    data: str = "data",
) -> DataFrame:
    """Chain ONLY the new blocks, seeding each key's hash fold from that
    key's current head instead of re-folding its whole history — the
    O(batch) append the write path needs (r8 verdict: the full-history
    union+rebuild in PointStore made every ingest batch cost O(total
    chain), a scale-killer at ingest frequency).

    `heads` is (key, ts, data, hash) — one row per key, either the
    persisted heads table a continuous writer maintains
    (PointStore.chain_heads, merged per batch)
    or a one-off `chain_heads(chain)`. Keys absent from `heads` start a
    fresh chain (prev_hash = '').

    Semantics match a full `append_chain(dedup_consecutive(existing ∪
    new))` rebuild exactly, GIVEN the append-only log contract that new
    rows sort after the head per key in (ts, data) order: in-batch
    consecutive duplicates drop inside the fold, and a batch's leading
    block drops when its data equals the head's (the cross-batch
    consecutive-dup case). Output is ONLY the newly chained rows —
    append them; nothing existing is rewritten.

    RETRO rows — (ts, data) NOT strictly after the head — are DROPPED
    before the fold (r9 self-review): appending one would sort before
    the head in verify_chain's (ts, data) ordering and silently break
    the linkage of a chain whose every hash is genuinely intact. A
    chain orders by time by construction (the reference's chain is
    arrival-ordered and never reorders either, Blockchain/
    BlockCollection.cs:52-68); callers wanting a retro-capable history
    rebuild use the full `append_chain` path.

    This is `fold_seeded_batch(seed_chain_batch(...))`; a writer that
    also wants the drop census and the new tips uses the two steps
    directly (PointStore._append_chain_batch).
    """
    seeded = seed_chain_batch(new_blocks, heads, key, ts, data)
    return fold_seeded_batch(seeded, key, ts, data).drop("_tip")


def seed_chain_batch(
    new_blocks: DataFrame,
    heads: DataFrame,
    key: str = "guid",
    ts: str = "ts",
    data: str = "data",
) -> DataFrame:
    """One row per key of `new_blocks`: its blocks sorted by (ts, data)
    with the RETRO ones removed (`_items`), the head the fold seeds from
    (`_seed_hash`, '' for a key without a head, and `_seed_data`), and
    `_n_retro` — how many of the key's blocks sort STRICTLY before its
    head in (ts, data-string) order. A block equal to the head is not
    retro: it leaves `_items` too, but it is the cross-batch consecutive
    duplicate and is counted with the duplicates. Summing `_n_retro` (an
    Observation on this frame rides whatever job runs the fold) is the
    batch's retro-drop census without a second pass over the batch."""
    others = [c for c in new_blocks.columns if c not in (key, ts, data)]
    item = F.struct(F.col(ts), F.col(data), *[F.col(c) for c in others])
    g = new_blocks.groupBy(key).agg(
        F.sort_array(F.collect_list(item)).alias("_items")
    )
    seed = heads.select(
        key,
        F.col("hash").alias("_seed_hash"),
        F.col(data).cast("string").alias("_seed_data"),
        F.col(ts).alias("_seed_ts"),
    )
    x_data = f"cast(x.{data} as string)"
    # heads is one row per key — small next to any corpus; broadcast so
    # the batch never shuffles (gated by Spark's own autoBroadcast
    # threshold is not possible on a hint, but a per-key heads table at
    # 100 TB is device-count-sized, the canonical broadcast dim)
    return g.join(F.broadcast(seed), key, "left").select(
        key,
        # retro guard (append_chain_incremental): keep only items
        # strictly after the head in (ts, data) order; keys without a
        # head keep everything
        F.when(
            F.col("_seed_ts").isNull(), F.col("_items")
        ).otherwise(
            F.expr(
                f"filter(_items, x -> x.{ts} > _seed_ts OR "
                f"(x.{ts} = _seed_ts AND {x_data} > _seed_data))"
            )
        ).alias("_items"),
        # null comparisons (no head, null data) count as not retro
        F.expr(
            f"size(filter(_items, x -> x.{ts} < _seed_ts OR "
            f"(x.{ts} = _seed_ts AND {x_data} < _seed_data)))"
        ).alias("_n_retro"),
        F.coalesce("_seed_hash", F.lit("")).alias("_seed_hash"),
        F.col("_seed_data"),
    )


def fold_seeded_batch(
    seeded: DataFrame, key: str = "guid", ts: str = "ts", data: str = "data"
) -> DataFrame:
    """Fold a `seed_chain_batch` frame into new blocks: (key, ts, data,
    *other item fields, prev_hash, hash, _tip). `_tip` marks each key's
    last appended block — its new head — so a writer keeping a heads log
    takes the new heads with a narrow filter instead of a per-key
    aggregation over the output."""
    item_type = seeded.schema["_items"].dataType.elementType
    others = [f.name for f in item_type.fields if f.name not in (ts, data)]
    step_hash = (
        f"sha2(concat(cast({epoch_us_sql(f'x.{ts}')} as string), acc.prev, "
        f"cast(x.{data} as string)), 256)"
    )
    out_elem = (
        f"named_struct('item', x, 'prev_hash', acc.prev, 'hash', {step_hash})"
    )
    # fold over the SORTED batch rows only: acc tracks the running hash
    # and the last (kept-or-seed) data for the consecutive-dup drop —
    # the drop condition mirrors dedup_consecutive's lag() predicate
    # (keep iff prev IS NULL OR data != prev evaluates true)
    chained = F.expr(
        f"""
        aggregate(
            _items,
            named_struct(
                'prev', _seed_hash, 'last', _seed_data,
                'out', cast(array() as array<struct<
                    item: {item_type.simpleString()},
                    prev_hash: string, hash: string>>)),
            (acc, x) -> CASE
                WHEN acc.last IS NOT NULL
                     AND (cast(x.{data} as string) != acc.last) IS NOT TRUE
                THEN acc
                ELSE named_struct(
                    'prev', {step_hash},
                    'last', cast(x.{data} as string),
                    'out', array_append(acc.out, {out_elem}))
                END,
            acc -> acc.out
        )
        """
    )
    # posexplode_OUTER + a filter above it, not posexplode: over a plain
    # posexplode the optimizer infers `size(_out) > 0 AND isnotnull(_out)`
    # and pushes it below the projection, inlining the fold into it —
    # every sha2 chain would then run three times instead of once
    exploded = (
        seeded.select(key, chained.alias("_out"))
        .select(key, "_out", F.posexplode_outer("_out").alias("_pos", "_b"))
        .filter(F.col("_pos").isNotNull())
    )
    return exploded.select(
        key,
        *[F.col(f"_b.item.{c}") for c in (ts, data, *others)],
        F.col("_b.prev_hash"),
        F.col("_b.hash"),
        (F.col("_pos") == F.size("_out") - 1).alias("_tip"),
    )


def verify_chain(
    chain: DataFrame, key: str = "guid", ts: str = "ts", data: str = "data"
) -> DataFrame:
    """Recompute hashes + linkage; per key report chain length and the
    first broken position (null when intact). Pure JVM (window lag + sha2)
    — VerifyBlockList semantics (BlockCollection.cs:131-155)."""
    w = W.partitionBy(key).orderBy(ts, data)
    checked = (
        chain.withColumn("_expected_prev", F.coalesce(F.lag("hash").over(w), F.lit("")))
        .withColumn(
            "_recomputed",
            F.sha2(
                F.concat(
                    epoch_us(ts).cast("string"),
                    F.col("prev_hash"),
                    F.col(data).cast("string"),
                ),
                256,
            ),
        )
        .withColumn("_pos", F.row_number().over(w))
        .withColumn(
            "_broken",
            (F.col("prev_hash") != F.col("_expected_prev"))
            | (F.col("hash") != F.col("_recomputed")),
        )
    )
    return checked.groupBy(key).agg(
        F.count("*").alias("n_blocks"),
        F.min(F.when(F.col("_broken"), F.col("_pos"))).alias("first_break"),
        (F.count(F.when(F.col("_broken"), 1)) == 0).alias("valid"),
        F.max_by("hash", "_pos").alias("head_hash"),
    )
