"""Stanza transformer operators as declarative DataFrame stages.

Shared semantics (pkg/stanza/operator/helper/transformer.go):
  * ``if`` expression gate — non-matching rows pass through unmodified
    (transformer.go:88-102) -> modeled as ``F.when(cond, new).otherwise(old)``.
  * ``on_error send|drop`` -> parse_ok column / filter (see parsers.py).

Every function takes and returns a DataFrame; nothing here leaves the
Catalyst expression layer, so the whole transformer chain compiles into
one WholeStageCodegen span.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

__all__ = [
    "add",
    "move",
    "copy",
    "remove",
    "retain",
    "flatten",
    "assign_keys",
    "unquote",
    "regex_replace",
    "filter_drop",
    "router_tag",
    "recombine",
    "noop",
]


def _gate(df: DataFrame, col: str, new: Column, if_cond: Column | None) -> DataFrame:
    """`if` gate semantics: rows failing the predicate keep the old value
    (transformer/…; helper/transformer.go:88-102)."""
    if if_cond is None:
        return df.withColumn(col, new)
    old = F.col(col) if col in df.columns else F.lit(None).cast("string")
    return df.withColumn(col, F.when(if_cond, new).otherwise(old))


def add(df: DataFrame, field: str, value, *, if_cond: Column | None = None) -> DataFrame:
    """transformer/add/transformer.go:36 — set field to literal or Column."""
    v = value if isinstance(value, Column) else F.lit(value)
    return _gate(df, field, v, if_cond)


def move(df: DataFrame, src: str, dst: str) -> DataFrame:
    """transformer/move/transformer.go:31 — rename/relocate a field."""
    return df.withColumnRenamed(src, dst)


def copy(df: DataFrame, src: str, dst: str) -> DataFrame:
    """transformer/copy/transformer.go:31 — duplicate a field."""
    return df.withColumn(dst, F.col(src))


def remove(df: DataFrame, *fields: str) -> DataFrame:
    """transformer/remove/transformer.go:30 — delete field(s)."""
    return df.drop(*fields)


def retain(df: DataFrame, fields: list[str]) -> DataFrame:
    """transformer/retain/transformer.go:32 — keep only listed fields."""
    return df.select(*fields)


def flatten(df: DataFrame, struct_field: str) -> DataFrame:
    """transformer/flatten — promote a struct's fields one level up."""
    others = [c for c in df.columns if c != struct_field]
    return df.select(*others, f"{struct_field}.*")


def assign_keys(df: DataFrame, list_field: str, keys: list[str], out: str) -> DataFrame:
    """transformer/assignkeys/transformer.go:30 — zip list with key names."""
    return df.withColumn(
        out, F.map_from_arrays(F.array(*[F.lit(k) for k in keys]), F.col(list_field))
    )


def unquote(df: DataFrame, field: str) -> DataFrame:
    """transformer/unquote — strip symmetric quotes from a string field."""
    c = F.col(field)
    return df.withColumn(
        field,
        F.when(
            c.rlike(r'^".*"$') | c.rlike(r"^'.*'$"),
            F.expr(f"substring({field}, 2, length({field}) - 2)"),
        ).otherwise(c),
    )


def regex_replace(df: DataFrame, field: str, pattern: str, repl: str) -> DataFrame:
    """transformer/regexreplace — regex substitution on a field."""
    return df.withColumn(field, F.regexp_replace(F.col(field), pattern, repl))


def filter_drop(
    df: DataFrame, cond: Column, *, drop_ratio: float = 1.0, seed: int = 42
) -> DataFrame:
    """filter transformer (transformer/filter/transformer.go:29-46):
    DROPS rows matching ``cond``; ``drop_ratio`` samples the drops
    (config.go:60-67). Survivors = NOT(cond AND sampled).

    The ratio draw is a seeded hash of the whole row mapped to [0, 1) —
    the reference uses math/rand, but rand() in Spark is re-drawn per
    task attempt, so a retried task drops a DIFFERENT sample (silent
    row drift at scale). Content-hashing keeps the op deterministic
    under retries; identical rows share one draw, which for log streams
    (timestamped, keyed) is statistically immaterial and documented.

    Map-typed columns (attribute maps, ``key_value_parse`` output)
    are not hashable by Spark's xxhash64 (AnalysisException under the
    default spark.sql.legacy.allowHashOnMapType=false), so any column
    whose type contains a MapType is hashed via its canonical
    ``to_json`` rendering instead — same determinism, no analysis
    error."""
    drop = cond
    if drop_ratio < 1.0:
        from pyspark.sql.types import ArrayType, MapType, StructType

        def _has_map(dt) -> bool:
            if isinstance(dt, MapType):
                return True
            if isinstance(dt, ArrayType):
                return _has_map(dt.elementType)
            if isinstance(dt, StructType):
                return any(_has_map(f.dataType) for f in dt.fields)
            return False

        cols = [
            F.to_json(F.col(f.name)) if _has_map(f.dataType) else F.col(f.name)
            for f in df.schema.fields
        ]
        h = F.xxhash64(F.lit(seed), *cols)
        u = (h.cast("double") / F.lit(float(2**64))) + F.lit(0.5)
        drop = cond & (u < F.lit(float(drop_ratio)))
    return df.filter(~F.coalesce(drop, F.lit(False)))


def router_tag(
    routes: list[tuple[Column, str]], *, default: str | None = "default"
) -> Column:
    """router transformer / routing connector: ordered route list,
    FIRST MATCH WINS (transformer/router/transformer.go:47-90 `break`;
    connector/routingconnector/logs.go:65-100 progressive move).

    A when-chain evaluates conditions in order and stops at the first
    match — exactly the reference's semantics, computed once per row.
    Rows matching nothing get ``default`` (None -> null => caller drops,
    matching the router's drop-unmatched behavior).
    """
    expr = None
    for cond, name in routes:
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    if expr is None:
        return F.lit(default)
    return expr.otherwise(F.lit(default)) if default is not None else expr


def recombine(
    df: DataFrame,
    *,
    source_col: str = "conv_id",
    order_col: str = "turn_idx",
    combine_field: str = "text",
    combine_with: str = "\n",
    is_last: Column | None = None,
    is_first: Column | None = None,
    max_batch_size: int | None = None,
    max_log_size: int | None = None,
    overwrite_with: str = "oldest",
) -> DataFrame:
    """recombine transformer (transformer/recombine/transformer.go:25-232):
    stateful multi-line merge keyed by source, boundaries marked by
    ``is_first_entry`` / ``is_last_entry`` expressions.

    Spark-first formulation: the group id is a running sum of boundary
    flags over a window partitioned by source and ordered by the turn
    order; then one hash aggregation concatenates each group.  Ordering
    inside the concat does NOT rely on shuffle order — we sort an array
    of (order, text) structs per group, which is deterministic on any
    cluster size.

    Scale: one shuffle on (source_col) for the window + map-side partial
    aggregation for the groupBy. Hot sources are bounded by conversation
    length, not corpus size, so no salting is needed here.
    """
    w = Window.partitionBy(source_col).orderBy(order_col)
    if is_last is not None:
        # rows after a `last` start a new group: gid = count of `last`
        # flags strictly before this row
        flag = F.lag(is_last.cast("int"), 1, 0).over(w)
        gid = F.sum(flag).over(w)
    elif is_first is not None:
        gid = F.sum(is_first.cast("int")).over(w)
    else:
        raise ValueError("need is_first or is_last")
    tagged = df.withColumn("_gid", gid)
    if max_batch_size is not None:
        # flush every max_batch_size entries within a group
        # (transformer.go:60-70): sub-group by position // size
        pos = F.row_number().over(
            Window.partitionBy(source_col, "_gid").orderBy(order_col)
        )
        tagged = tagged.withColumn(
            "_gid2", F.floor((pos - 1) / max_batch_size)
        )
    else:
        tagged = tagged.withColumn("_gid2", F.lit(0))
    pair = F.struct(F.col(order_col).alias("o"), F.col(combine_field).alias("t"))
    if max_log_size is not None:
        return _recombine_by_bytes(
            tagged, pair, source_col=source_col, order_col=order_col,
            combine_field=combine_field, combine_with=combine_with,
            max_log_size=max_log_size, overwrite_with=overwrite_with,
            order_dtype=dict(df.dtypes)[order_col],
        )
    # base-entry choice (transformer.go:154-166): oldest keeps the first
    # row's order key, newest the last's
    base_order = (
        F.max(order_col) if overwrite_with == "newest" else F.min(order_col)
    )
    return (
        tagged.groupBy(source_col, "_gid", "_gid2")
        .agg(
            F.concat_ws(
                combine_with,
                F.transform(F.array_sort(F.collect_list(pair)), lambda x: x["t"]),
            ).alias(combine_field),
            base_order.alias(order_col),
            F.count(F.lit(1)).alias("n_combined"),
        )
        .drop("_gid", "_gid2")
    )


def _recombine_by_bytes(
    tagged: DataFrame,
    pair: Column,
    *,
    source_col: str,
    order_col: str,
    combine_field: str,
    combine_with: str,
    max_log_size: int,
    overwrite_with: str,
    order_dtype: str,
) -> DataFrame:
    """max_log_size flush (recombine transformer.go:188): an entry is
    ADDED to the batch, then the batch flushes once the concatenated
    length exceeds the cap — so a batch may exceed the cap by its last
    entry, and the next entry opens a fresh batch.

    Greedy reset-on-flush bucketing can't be a window running sum (each
    reset depends on the previous one), so each group's sorted entry
    array is split by ONE ``F.aggregate`` fold — per-row JVM execution,
    no UDF — into an array of sub-batches, then exploded."""
    sep_len = len(combine_with)
    # Keep the order column's own type in the pair struct: array_sort
    # compares structs field-wise for any orderable type, so string /
    # timestamp order columns work and sub-second precision survives
    # (a bigint hard-cast would ANSI-fail on strings).
    pair_t = f"struct<o:{order_dtype},t:string>"
    zero = F.expr(
        f"named_struct('batches', cast(array() as array<array<{pair_t}>>), "
        f"'cur', cast(array() as array<{pair_t}>), 'sz', cast(0 as bigint))"
    )

    def merge(acc, x):
        grown = F.concat(acc["cur"], F.array(x))
        new_sz = (
            acc["sz"]
            + F.when(F.size(acc["cur"]) > 0, F.lit(sep_len)).otherwise(F.lit(0))
            + F.length(x["t"])
        ).cast("bigint")
        overflow = new_sz > max_log_size
        return F.struct(
            F.when(overflow, F.concat(acc["batches"], F.array(grown)))
            .otherwise(acc["batches"])
            .alias("batches"),
            F.when(overflow, F.expr(f"cast(array() as array<{pair_t}>)"))
            .otherwise(grown)
            .alias("cur"),
            F.when(overflow, F.lit(0).cast("bigint"))
            .otherwise(new_sz)
            .alias("sz"),
        )

    def finish(acc):
        return F.when(
            F.size(acc["cur"]) > 0, F.concat(acc["batches"], F.array(acc["cur"]))
        ).otherwise(acc["batches"])

    grouped = tagged.groupBy(source_col, "_gid", "_gid2").agg(
        F.array_sort(F.collect_list(pair)).alias("_pairs")
    )
    batches = F.aggregate(F.col("_pairs"), zero, merge, finish)
    b = F.col("_b")
    base = b[F.size(b) - 1]["o"] if overwrite_with == "newest" else b[0]["o"]
    return (
        grouped.select(source_col, F.explode(batches).alias("_b"))
        .select(
            F.col(source_col),
            F.concat_ws(
                combine_with, F.transform(b, lambda x: x["t"])
            ).alias(combine_field),
            base.alias(order_col),
            F.size(b).cast("long").alias("n_combined"),
        )
    )


def noop(df: DataFrame) -> DataFrame:
    """transformer/noop — identity."""
    return df
