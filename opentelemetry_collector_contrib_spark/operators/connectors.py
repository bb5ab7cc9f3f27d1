"""Pipeline-to-pipeline connectors: routing, count, sum.

Reference: connector/routingconnector (logs.go:62-107), countconnector
(counter.go:38-128), sumconnector (config.go:33-44).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window, functions as F

from .transformers import router_tag

__all__ = [
    "Route",
    "route_logs",
    "routed_union",
    "count_connector",
    "sum_connector",
    "MetricSpec",
    "count_connector_multi",
    "sum_connector_multi",
]


@dataclass
class Route:
    """One routing table entry (connector/routingconnector/config.go:24-104).

    ``context`` ∈ {"log", "resource", "request"}:

      * a resource-context condition matches *every* row of a
        conversation when ANY row satisfies it — evaluated as a
        window-any over conv_id (the flat-model analog of evaluating
        the condition once per ResourceLogs subtree);
      * a request-context condition is ``request["k"] == "v"`` /
        ``!=`` over per-run metadata
        (routingconnector/internal/request.go:19-64) — evaluated ONCE
        on the driver against ``route_logs(request_metadata=...)``, so
        whole runs route to sinks without touching row data (the
        condition string goes in ``condition`` in place of a Column).
    ``sinks``: one route may feed several pipelines (duplication,
    logs.go:76-84).
    """

    condition: Column | str
    sinks: list[str]
    context: str = "log"
    name: str | None = None
    #: attributes stamped onto rows taking this route (router transformer's
    #: per-route attach attributes, transformer/router/transformer.go:47-90)
    attach: dict[str, str] | None = None

    def label(self, i: int) -> str:
        return self.name or f"route_{i}"


_REQUEST_COND = re.compile(
    r'^\s*request\[\s*"([^"]+)"\s*\]\s*(==|!=)\s*"([^"]*)"\s*$'
)


def eval_request_condition(cond: str, metadata: dict | None) -> bool:
    """Evaluate one request-context condition against this run's
    metadata (internal/request.go:19-64: only ``request["key"] == val``
    and ``!=`` are legal; a missing key never equals anything)."""
    m = _REQUEST_COND.match(cond)
    if not m:
        raise ValueError(f"unsupported request condition: {cond!r}")
    key, op, val = m.groups()
    actual = (metadata or {}).get(key)
    eq = actual is not None and str(actual) == val
    return eq if op == "==" else not eq


def route_logs(
    df: DataFrame,
    routes: list[Route],
    *,
    default_sinks: list[str] | None = None,
    conv_col: str = "conv_id",
    request_metadata: dict | None = None,
) -> tuple[DataFrame, dict[str, list[str]]]:
    """Compile the routing table into ONE first-match-wins tag column.

    The reference moves matched records out of the batch route by route
    (plogutil/logs.go:26-57) — semantically identical to an ordered
    when-chain evaluated once per row, but we do it in a single pass with
    no data movement.  Returns (tagged df with ``_route`` column,
    route-label -> sink-list map).  Rows with ``_route`` null matched
    nothing and there is no default: they are dropped by the writer.

    A resource-context condition ("any row of the conversation matches
    ⇒ the whole conversation matches") is ``max(cond) OVER (PARTITION BY
    conv_col)``. That is a full shuffle of ``df`` unless ``df`` is
    already hash-partitioned by ``conv_col``, as the flagship's source is
    (it numbers the turns in a window partitioned by conv_id): then the
    route adds no exchange and no second pass over the input.
    """
    conds: list[tuple[Column, str]] = []
    sink_map: dict[str, list[str]] = {}
    for i, r in enumerate(routes):
        cond = r.condition
        if r.context == "request":
            # resolved once, driver-side: the whole run matches or not —
            # a constant the optimizer folds (matched: rows take this
            # route unless an earlier one won; unmatched: route is inert)
            cond = F.lit(eval_request_condition(str(cond), request_metadata))
        elif r.context == "resource":
            cond = F.max(cond.cast("int")).over(Window.partitionBy(conv_col)) == 1
        label = r.label(i)
        conds.append((F.coalesce(cond, F.lit(False)), label))
        sink_map[label] = list(r.sinks)
    default = "default" if default_sinks else None
    tagged = df.withColumn("_route", router_tag(conds, default=default))
    # per-route attach attributes: stamped after the first-match tag so a
    # row gets exactly its winning route's attributes
    attach_keys = {k for r in routes if r.attach for k in r.attach}
    for key in sorted(attach_keys):
        expr = None
        for i, r in enumerate(routes):
            if r.attach and key in r.attach:
                c = F.col("_route") == r.label(i)
                expr = (
                    F.when(c, r.attach[key])
                    if expr is None
                    else expr.when(c, r.attach[key])
                )
        old = F.col(key) if key in df.columns else F.lit(None).cast("string")
        tagged = tagged.withColumn(key, expr.otherwise(old))
    if default_sinks:
        sink_map["default"] = list(default_sinks)
    return tagged, sink_map


def routed_union(tagged: DataFrame, sink_map: dict[str, list[str]]) -> DataFrame:
    """Explode route labels into (sink, row) pairs — a route feeding N sinks
    duplicates its rows N times (logs.go:76-84). Output column: ``sink``.

    ``explode`` of a literal-array-by-route via a when-chain keeps this a
    single narrow stage (no join, no shuffle)."""
    expr = None
    for label, sinks in sink_map.items():
        arr = F.array(*[F.lit(s) for s in sinks])
        expr = (
            F.when(F.col("_route") == label, arr)
            if expr is None
            else expr.when(F.col("_route") == label, arr)
        )
    out = tagged.withColumn("sink", F.explode(expr))
    return out.drop("_route")


def write_routed(
    tagged: DataFrame, sink_map: dict[str, list[str]], base_path: str
) -> dict[str, str]:
    """Exporter stage: one partitioned parquet write fans rows out to
    per-sink tables (fileexporter group_by semantics,
    exporter/fileexporter/grouping_file_exporter.go:116-152). One write
    action, partitioned by ``sink`` — the shuffle-free analog of N
    filtered writes (AQE still runs it as several jobs: one per
    broadcast and shuffle stage of the input plan, then the write).

    The job writes ``{base_path}/routed__staging``. Only after it
    commits is the new tree swapped in, in three steps: the live
    ``routed`` tree moves aside to ``routed__old``, staging renames to
    ``routed``, and ``routed__old`` is deleted. Each step is one checked
    rename or delete, so a failed job, or a crash at any step, leaves
    every sink holding either the whole old output or the whole new
    one; the next call's ``_recover_or_clear_staging`` finishes or
    discards an interrupted swap. A sink on disk that this run does not
    write leaves with the old tree.

    ``base_path`` must have a single writer at a time: the staging and
    old-tree names are fixed, so two concurrent calls on one base path
    could promote or delete each other's trees."""
    spark = tagged.sparkSession
    path = f"{base_path.rstrip('/')}/routed"
    staging, old = f"{path}__staging", f"{path}__old"
    _recover_or_clear_staging(spark, staging, path)
    writer = routed_union(tagged, sink_map).write.mode("overwrite")
    writer.partitionBy("sink").parquet(staging)
    fs, live, _ = _fs(spark, path)
    if fs.exists(live):
        # an old tree that recovery kept (live held no sinks) takes live
        # inside it — Hadoop renames into an existing directory — and the
        # delete below removes both
        _fs_rename(spark, path, old)
    _fs_rename(spark, staging, path)
    _fs_delete_if_exists(spark, old)
    sinks = sorted({s for v in sink_map.values() for s in v})
    return {s: f"{path}/sink={s}" for s in sinks}


def _fs(spark, path_str: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path_str)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p, jvm


def _fs_delete_if_exists(spark, path_str: str) -> None:
    fs, p, _ = _fs(spark, path_str)
    if fs.exists(p):
        if not fs.delete(p, True):
            raise IOError(f"failed to delete {path_str}")


def _fs_rename(spark, src: str, dst: str) -> None:
    fs, p, jvm = _fs(spark, src)
    if not fs.rename(p, jvm.org.apache.hadoop.fs.Path(dst)):
        raise IOError(f"rename failed: {src} -> {dst}")


def _recover_or_clear_staging(spark, staging: str, path: str) -> None:
    """Finish or discard a swap that a crashed prior ``write_routed``
    left. Staging carrying Spark's _SUCCESS marker while the live path
    holds no sink dirs is a committed tree whose swap stopped after the
    live tree moved aside: promote it to live. Any other staging — a
    failed job's debris, or a committed tree next to an intact live one
    (a crash before the swap began; that run's caller already saw the
    failure) — is discarded. A leftover ``{path}__old`` is deleted only
    once a live tree with sinks is in place, so the old output is never
    deleted while it is the only output on disk."""
    fs, lp, jvm = _fs(spark, path)

    def live_has_sinks() -> bool:
        return fs.exists(lp) and any(
            st.getPath().getName().startswith("sink=")
            for st in fs.listStatus(lp)
        )

    if fs.exists(jvm.org.apache.hadoop.fs.Path(staging)):
        success = jvm.org.apache.hadoop.fs.Path(f"{staging}/_SUCCESS")
        if fs.exists(success) and not live_has_sinks():
            _fs_delete_if_exists(spark, path)
            _fs_rename(spark, staging, path)
        else:
            _fs_delete_if_exists(spark, staging)
    if live_has_sinks():
        _fs_delete_if_exists(spark, f"{path}__old")


def count_connector(
    df: DataFrame,
    attrs: list[str],
    *,
    condition: Column | None = None,
    defaults: dict[str, str] | None = None,
    name: str = "log_record_count",
) -> DataFrame:
    """countconnector (connector/countconnector/counter.go:38-128).

    * optional OTTL ``condition`` pre-filter (counter.go:76-86)
    * group by extracted attrs; a row whose attr is MISSING and has no
      configured default is EXCLUDED (counter.go:71-73) — '' and null
      both count as missing for string attrs;
    * with a default, missing values take it (config.go:186-190).
    """
    out = df
    if condition is not None:
        out = out.filter(condition)
    defaults = defaults or {}
    keys = []
    for a in attrs:
        c = F.col(a)
        missing = c.isNull() | (c.cast("string") == F.lit(""))
        if a in defaults:
            keys.append(F.when(missing, F.lit(defaults[a])).otherwise(c).alias(a))
        else:
            out = out.filter(~missing)
            keys.append(c.alias(a))
    return out.groupBy(*keys).agg(F.count(F.lit(1)).alias(name))


def sum_connector(
    df: DataFrame,
    source_attribute: Column | str,
    attrs: list[str],
    *,
    condition: Column | None = None,
    name: str = "sum_value",
) -> DataFrame:
    """sumconnector (connector/sumconnector/config.go:33-44): sum a numeric
    source attribute grouped by attrs; missing group attrs excluded like
    the count connector."""
    src = F.col(source_attribute) if isinstance(source_attribute, str) else source_attribute
    out = df
    if condition is not None:
        out = out.filter(condition)
    for a in attrs:
        c = F.col(a)
        out = out.filter(c.isNotNull() & (c.cast("string") != F.lit("")))
    return out.groupBy(*attrs).agg(F.sum(src).alias(name))


@dataclass
class MetricSpec:
    """One named metric inside a count/sum connector config block
    (connector/countconnector/config.go:35-51: each metric has its own
    description, OR'd ``conditions`` and ``attributes`` with optional
    ``default_value``; sumconnector adds ``source_attribute``).

    ``conditions`` are OTTL condition strings OR'd together
    (counter.go:76-86); ``condition`` may carry a pre-built Column
    instead. ``source`` (sum metrics only) is the source attribute."""

    attrs: list[str] = field(default_factory=list)
    defaults: dict[str, str] = field(default_factory=dict)
    conditions: list[str] | None = None
    condition: Column | None = None
    source: str | Column | None = None

    def gate(self, df: DataFrame) -> Column:
        from . import ottl

        parts: list[Column] = []
        if self.condition is not None:
            parts.append(self.condition)
        for c in self.conditions or []:
            parts.append(ottl.compile_condition(df, c))
        if not parts:
            return F.lit(True)
        out = parts[0]
        for p in parts[1:]:
            out = out | p
        return out


def _multi_metric(
    df: DataFrame, metrics: dict[str, MetricSpec], *, kind: str
) -> DataFrame:
    """Compile a whole count/sum connector config block to ONE pass over
    the fact table (the reference consumes each batch once for all its
    metrics, counter.go:38-66 — N separate count_connector calls would be
    N scans).

    Plan shape: one GROUPING SETS aggregate — one set per distinct
    effective attribute list (default_value substitution is applied to
    the key *before* grouping, so a defaulted attr is its own grouping
    column) — computes every metric's conditional partial aggregate
    map-side behind a single scan + single shuffle; ``grouping_id()``
    tags which set each output group belongs to.  The long-format
    ``(metric, *superset_attrs, value)`` result is then produced by ONE
    explode over the tiny grouped intermediate — deliberately not a
    union, which would duplicate the aggregate subtree and re-execute
    the scan per metric (no ReusedExchange guarantee).  Expand cost
    before the partial agg is bounded by the number of distinct attr
    sets, not metric count."""
    # effective grouping column per (attr, default) combination
    def _key(attr: str, spec: MetricSpec) -> tuple[str, str | None]:
        return (attr, spec.defaults.get(attr))

    key_cols: dict[tuple[str, str | None], str] = {}
    for spec in metrics.values():
        for a in spec.attrs:
            k = _key(a, spec)
            if k not in key_cols:
                key_cols[k] = f"_k_{len(key_cols)}"
    base = df
    for (attr, dflt), cname in key_cols.items():
        c = F.col(attr)
        if dflt is None:
            base = base.withColumn(cname, c)
        else:
            missing = c.isNull() | (c.cast("string") == F.lit(""))
            base = base.withColumn(
                cname, F.when(missing, F.lit(dflt)).otherwise(c)
            )
    ordered = list(key_cols.values())  # leftmost = grouping_id MSB
    # one grouping set per distinct effective attr MEMBERSHIP: grouping_id
    # is membership-based, so two metrics listing the same attrs in a
    # different order must share ONE set (canonicalize by position in
    # `ordered`) — duplicate sets would each match every metric's
    # keep-filter and double-count
    set_of_metric: list[tuple[str, ...]] = []
    distinct_sets: list[tuple[str, ...]] = []
    for spec in metrics.values():
        cols = tuple(
            sorted(
                {key_cols[_key(a, spec)] for a in spec.attrs},
                key=ordered.index,
            )
        )
        set_of_metric.append(cols)
        if cols not in distinct_sets:
            distinct_sets.append(cols)

    def _gid(cols: tuple[str, ...]) -> int:
        g = 0
        for j, c in enumerate(ordered):
            if c not in cols:
                g |= 1 << (len(ordered) - 1 - j)
        return g

    aggs = [F.grouping_id().alias("_gid")]
    # internal partial-agg aliases are index-based (metric names contain
    # dots, which a column reference would parse as struct fields)
    for i, (name, spec) in enumerate(metrics.items()):
        gate = spec.gate(df)
        if kind == "count":
            aggs.append(F.count(F.when(gate, F.lit(1))).alias(f"_m_{i}"))
        else:
            src = (
                F.col(spec.source)
                if isinstance(spec.source, str)
                else spec.source
            )
            aggs.append(F.sum(F.when(gate, src)).alias(f"_m_{i}"))
    pre = base.groupingSets(
        [[F.col(c) for c in cols] for cols in distinct_sets],
        *[F.col(c) for c in ordered],
    ).agg(*aggs)
    superset: list[str] = []
    for spec in metrics.values():
        for a in spec.attrs:
            if a not in superset:
                superset.append(a)
    # one output struct per metric; explode + keep-flag filter replaces a
    # union of N re-aggregations
    structs = []
    for i, (name, spec) in enumerate(metrics.items()):
        keep = F.col("_gid") == _gid(set_of_metric[i])
        for a in spec.attrs:
            if a not in spec.defaults:
                # missing-attr exclusion (counter.go:71-73): '' and null
                # both count as missing
                c = F.col(key_cols[_key(a, spec)])
                keep = keep & c.isNotNull() & (c.cast("string") != F.lit(""))
        val = F.col(f"_m_{i}")
        # a group with no matching rows has no data point in the reference
        keep = keep & (val > 0 if kind == "count" else val.isNotNull())
        fields = [F.lit(name).alias("metric")]
        for a in superset:
            # metric attributes are strings in the reference's pdata model
            fields.append(
                F.col(key_cols[_key(a, spec)]).cast("string").alias(a)
                if a in spec.attrs
                else F.lit(None).cast("string").alias(a)
            )
        # uniform value type across the long format: counts are long;
        # sums go to double so metrics with different source dtypes can
        # share one schema
        v = val.cast("long") if kind == "count" else val.cast("double")
        fields.append(v.alias("value"))
        fields.append(keep.alias("_keep"))
        structs.append(F.struct(*fields))
    out = pre.select(F.explode(F.array(*structs)).alias("_x"))
    out = out.filter(F.col("_x._keep"))
    return out.select("_x.metric", *[f"_x.{a}" for a in superset], "_x.value")


def count_connector_multi(
    df: DataFrame, metrics: dict[str, MetricSpec]
) -> DataFrame:
    """countconnector full config shape: N named metrics, each with own
    OR'd conditions + attributes (+default_value), ONE pass over the
    stream (connector/countconnector/config.go:35-51, counter.go:38-128)."""
    return _multi_metric(df, metrics, kind="count")


def sum_connector_multi(
    df: DataFrame, metrics: dict[str, MetricSpec]
) -> DataFrame:
    """sumconnector full config shape (config.go:33-44): N named sum
    metrics over their source_attribute, one pass."""
    return _multi_metric(df, metrics, kind="sum")
