"""Partitioning, stable turn ordering, and skew salting.

north_rule requirements made explicit:
  * bucketed by conv_id (+ salting for hot conversations),
  * sortWithinPartitions(conv_id, turn_idx) for stable turn ordering,
  * per-turn text equality under stable turn ordering as the
    correctness invariant.

Reference analog: the fileconsumer guarantees per-file line order
(pkg/stanza/fileconsumer/design.md:38-49); our per-conversation analog
is (conv_id, turn_idx) order, which must be *reconstructed* after any
shuffle — Spark never promises row order across exchanges, so every
order-sensitive computation here either sorts within partitions after
partitioning by conv, or sorts an array per group (shuffle-order-proof
on any cluster size).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

__all__ = [
    "sorted_conv_partitions",
    "bucketed_table",
    "with_salt",
    "salted_count",
    "conv_text_digest",
    "conv_text_digest_hier",
    "salted_conv_text_digest",
]


def sorted_conv_partitions(
    df: DataFrame, *, conv_col: str = "conv_id", order_col: str = "turn_idx",
    num_partitions: int | None = None,
) -> DataFrame:
    """Co-locate each conversation and order its turns within the
    partition: the precondition for any order-sensitive per-conv scan
    (mapPartitions consumers, streaming hand-off, export order)."""
    parts = [F.col(conv_col)]
    out = (
        df.repartition(num_partitions, *parts)
        if num_partitions
        else df.repartition(*parts)
    )
    return out.sortWithinPartitions(conv_col, order_col)


def bucketed_table(
    df: DataFrame,
    table: str,
    *,
    buckets: int = 32,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    path: str | None = None,
) -> None:
    """Persist as a bucketed+sorted table: later joins/groupBys on
    conv_id read co-located, pre-sorted buckets with NO exchange —
    the Iceberg-partitioning analog for repeated per-conv workloads."""
    w = (
        df.write.bucketBy(buckets, conv_col)
        .sortBy(conv_col, order_col)
        .mode("overwrite")
        .format("parquet")
    )
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def with_salt(df: DataFrame, *, n_salt: int, cols: list[str] | None = None) -> DataFrame:
    """Add a deterministic salt in [0, n_salt): hash of (cols or all-row)
    modulo n — NOT rand(), so retries/recomputation are stable."""
    basis = [F.col(c) for c in (cols or df.columns)]
    return df.withColumn("_salt", F.pmod(F.hash(*basis), F.lit(n_salt)))


def salted_count(
    df: DataFrame,
    keys: list[str],
    *,
    n_salt: int = 16,
    salt_basis: list[str] | None = None,
    name: str = "n",
) -> DataFrame:
    """Two-phase count for skewed keys: groupBy(keys + salt) fans a hot
    key across n_salt reducers, then a tiny second aggregation (one row
    per key-salt) merges. Identical result to a plain groupBy-count; the
    first shuffle is what stops a single hot conv_id from pinning one
    reducer at 100 TB. (Map-side partial aggregation already helps; the
    salt matters when a hot key's partials still overwhelm one task.)"""
    salted = with_salt(df, n_salt=n_salt, cols=salt_basis)
    partial = salted.groupBy(*keys, "_salt").agg(F.count(F.lit(1)).alias("_pn"))
    return partial.groupBy(*keys).agg(F.sum("_pn").alias(name))


def conv_text_digest(
    df: DataFrame,
    *,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    text_col: str = "text",
) -> DataFrame:
    """Per-conversation digest of ALL turn texts in turn order — the
    'per-turn text equality under stable turn ordering' invariant as one
    comparable row per conversation.

    Implementation sorts (turn_idx, text) structs *inside* the aggregate
    (array_sort after collect_list), so the digest is identical no matter
    how rows were partitioned or which order the shuffle delivered them —
    the property a bare concat_ws(collect_list) would NOT have."""
    pair = F.struct(F.col(order_col).alias("o"), F.col(text_col).alias("t"))
    return df.groupBy(conv_col).agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.md5(
            F.concat_ws(
                "\n", F.transform(F.array_sort(F.collect_list(pair)), lambda x: x["t"])
            )
        ).alias("digest"),
    )


def conv_text_digest_hier(
    df: DataFrame,
    *,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    text_col: str = "text",
    block: int = 4096,
) -> DataFrame:
    """Hierarchical per-conversation digest: md5 over ordered BLOCK
    digests (each block = `block` consecutive turns, digested in
    parallel). The value differs from :func:`conv_text_digest` (it's a
    digest-of-digests) but carries the same invariant — any change to
    any turn's text or order changes it — while removing the hot-conv
    bottleneck: BENCH/BASELINE.md §1b records the flat digest spending
    ~10 s single-task on a 3M-turn conversation because the final
    sort+concat+md5 of one conversation is inherently one task (salting
    the collect phase doesn't help — the phase-2 merge re-sorts
    everything; measured 0.9x). Here phase 1 digests blocks across the
    cluster and phase 2 concatenates ~n/block tiny strings."""
    bucket = F.floor(F.col(order_col) / block).alias("_blk")
    pair = F.struct(F.col(order_col).alias("o"), F.col(text_col).alias("t"))
    sub = (
        df.groupBy(F.col(conv_col), bucket)
        .agg(
            F.md5(
                F.concat_ws(
                    "\n",
                    F.transform(F.array_sort(F.collect_list(pair)), lambda x: x["t"]),
                )
            ).alias("_sub"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    spair = F.struct(F.col("_blk").alias("b"), F.col("_sub").alias("d"))
    return sub.groupBy(conv_col).agg(
        F.sum("_n").alias("n_turns"),
        F.md5(
            F.concat_ws(
                "\n", F.transform(F.array_sort(F.collect_list(spair)), lambda x: x["d"])
            )
        ).alias("digest"),
    )


def salted_conv_text_digest(
    df: DataFrame,
    *,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    text_col: str = "text",
    n_salt: int = 16,
    hot_keys: list[str] | None = None,
) -> DataFrame:
    """Skew-hardened :func:`conv_text_digest`: identical output, two-phase.

    A hot conversation sends ALL its rows to one reducer in the plain
    digest (collect_list has no useful map-side combine for a single hot
    key). Here phase 1 groups by (conv, salt(turn_idx)) — the hot conv
    fans across n_salt reducers, each collecting a partial (order, text)
    array — and phase 2 merges the ≤n_salt partial arrays per conv
    (flatten → array_sort → concat). Merging sorted-pair ARRAYS is
    associative, which is what makes an order-sensitive aggregation
    saltable at all; the final shuffle carries n_salt rows per conv, not
    every turn.

    ``hot_keys``: salting every key makes the LONG TAIL pay a second
    shuffle for nothing (measured 0.75x on a 50%-hot dataset, recorded
    in BENCH/BASELINE.md §1b). Production shape: pass the known/detected heavy
    hitters; only they take the two-phase path, the tail aggregates
    plain, results union. With ``hot_keys=None`` everything is salted
    (correct, rarely optimal)."""
    if hot_keys is not None:
        hot_lits = F.array(*[F.lit(k) for k in hot_keys])
        is_hot = F.array_contains(hot_lits, F.col(conv_col))
        hot_part = salted_conv_text_digest(
            df.filter(is_hot),
            conv_col=conv_col,
            order_col=order_col,
            text_col=text_col,
            n_salt=n_salt,
        )
        cold_part = conv_text_digest(
            df.filter(~is_hot),
            conv_col=conv_col,
            order_col=order_col,
            text_col=text_col,
        )
        return cold_part.unionAll(hot_part)
    salt = F.pmod(F.hash(F.col(order_col)), F.lit(n_salt))
    pair = F.struct(F.col(order_col).alias("o"), F.col(text_col).alias("t"))
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(conv_col, "_salt")
        .agg(F.collect_list(pair).alias("_pairs"), F.count(F.lit(1)).alias("_n"))
    )
    merged = F.array_sort(F.flatten(F.collect_list("_pairs")))
    return partial.groupBy(conv_col).agg(
        F.sum("_n").alias("n_turns"),
        F.md5(F.concat_ws("\n", F.transform(merged, lambda x: x["t"]))).alias(
            "digest"
        ),
    )
