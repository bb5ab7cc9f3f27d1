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
    resource_strategy: str = "broadcast",
    request_metadata: dict | None = None,
) -> tuple[DataFrame, dict[str, list[str]]]:
    """Compile the routing table into ONE first-match-wins tag column.

    The reference moves matched records out of the batch route by route
    (plogutil/logs.go:26-57) — semantically identical to an ordered
    when-chain evaluated once per row, but we do it in a single pass with
    no data movement.  Returns (tagged df with ``_route`` column,
    route-label -> sink-list map).  Rows with ``_route`` null matched
    nothing and there is no default: they are dropped by the writer.

    Resource-context conditions ("any row of the conversation matches
    ⇒ the whole conversation matches") have two physical strategies:

      * ``broadcast`` (default): aggregate the DISTINCT matching conv ids
        (a second pass over ``df``'s lineage + map-side-combined
        distinct) and broadcast them back as a semi-join flag. For an
        input not partitioned by conversation this avoids exchanging
        every routed column. Matches the k8sattributes informer-cache
        shape.
      * ``window``: ``max(cond) OVER (PARTITION BY conv)``. A full
        shuffle of ``df`` unless it is already hash-partitioned by
        ``conv_col``, in which case it adds no exchange and no second
        pass. The flagship (plans.pipeline.build) uses it: its source
        numbers the turns in a window partitioned by conv_id. Also the
        fallback when the matching conv set could be too large to
        broadcast.
    """
    conds: list[tuple[Column, str]] = []
    sink_map: dict[str, list[str]] = {}
    needs_window = any(r.context == "resource" for r in routes)
    w = (
        Window.partitionBy(conv_col)
        if needs_window and resource_strategy == "window"
        else None
    )
    for i, r in enumerate(routes):
        cond = r.condition
        if r.context == "request":
            # resolved once, driver-side: the whole run matches or not —
            # a constant the optimizer folds (matched: rows take this
            # route unless an earlier one won; unmatched: route is inert)
            cond = F.lit(eval_request_condition(str(cond), request_metadata))
        elif r.context == "resource":
            if resource_strategy == "window":
                cond = F.max(cond.cast("int")).over(w) == 1
            else:
                flag = f"_rc_{i}"
                matches = (
                    df.filter(F.coalesce(r.condition, F.lit(False)))
                    .select(F.col(conv_col))
                    .distinct()
                    .withColumn(flag, F.lit(True))
                )
                df = df.join(F.broadcast(matches), on=conv_col, how="left")
                cond = F.col(flag).isNotNull()
        label = r.label(i)
        conds.append((F.coalesce(cond, F.lit(False)), label))
        sink_map[label] = list(r.sinks)
    default = "default" if default_sinks else None
    tagged = df.withColumn("_route", router_tag(conds, default=default)).drop(
        *[f"_rc_{i}" for i in range(len(routes))]
    )
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
    tagged: DataFrame,
    sink_map: dict[str, list[str]],
    base_path: str,
    *,
    fmt: str = "parquet",
    files_per_sink: int | None = None,
    salt_col: str = "conv_id",
    compression: str | None = None,
    max_records_per_file: int | None = None,
    max_megabytes: int | None = None,
    max_backups: int | None = None,
    max_days: int | None = None,
) -> dict[str, str]:
    """Exporter stage: one partitioned write fans rows out to per-sink
    tables (fileexporter group_by semantics,
    exporter/fileexporter/grouping_file_exporter.go:116-152). One write
    action, partitioned by ``sink`` — the shuffle-free analog of N
    filtered writes (AQE still runs it as several jobs: one per
    broadcast and shuffle stage of the input plan, then the write).

    ``files_per_sink`` bounds output file count (the batchperresourceattr
    re-batching analog, pkg/batchperresourceattr): without it, every
    write task emits one file per sink it touches (tasks × sinks files at
    scale). A deterministic salt ``hash(salt_col) % files_per_sink``
    shuffles each sink's rows into exactly that many partitions — one
    file each — while avoiding the single-hot-partition skew that a bare
    ``repartition("sink")`` would create for the catchall sink.

    The ``rotation`` block (exporter/fileexporter/config.go:58-79) maps
    as: ``max_megabytes`` → per-file byte cap via records-per-file;
    ``max_backups`` → N newest complete prior generations retained under
    ``{base}/routed_backups`` (0 = retain ALL, lumberjack's MaxBackups
    zero value); ``max_days`` → backup generations older than 24h·N (by
    filesystem modification time) are deleted, the lumberjack MaxAge
    analog. ``localtime`` has no analog — backup names are ordinal
    generations, not timestamps. With rotation on, the new generation
    is written to a staging dir and swapped in AFTER the job commits,
    so a failed write never leaves the live sink paths empty."""
    if max_days is not None and max_days <= 0:
        # lumberjack's MaxAge=0 means DISABLED (config.go:64-69); pass
        # None for that here — accepting 0 would silently mean "delete
        # every backup including the one just rotated", never intended
        raise ValueError("max_days must be >= 1 (or None to disable)")
    if max_backups is not None and max_backups < 0:
        # (rotate-but-keep-zero-backups needs no knob: live-only output
        # is exactly what plain overwrite — no rotation args — does)
        raise ValueError("max_backups must be >= 0 (0 = retain all)")
    routed = routed_union(tagged, sink_map)
    # cap estimation reads THIS frame, captured before the
    # files_per_sink repartition below — estimating after it would run
    # the full wide shuffle once for the estimate and again for the
    # write
    est_src = routed
    if files_per_sink is not None:
        salt = F.pmod(F.hash(F.col(salt_col)), F.lit(files_per_sink))
        n_sinks = len({s for v in sink_map.values() for s in v})
        routed = routed.repartition(
            files_per_sink * n_sinks, F.col("sink"), salt
        )
    path = f"{base_path.rstrip('/')}/routed"
    writer = routed.write.mode("overwrite").partitionBy("sink").format(fmt)
    if compression is not None:
        # fileexporter compression passthrough (exporter/fileexporter/
        # config.go:22-52): codec applies per output file
        writer = writer.option("compression", compression)
    if max_megabytes is not None and max_records_per_file is None:
        # rotation.max_megabytes (exporter/fileexporter/config.go:60-62):
        # lumberjack rotates by file size. Spark's knob is records per
        # file, so translate: average serialized row size (JSON length —
        # exact for fmt=json, a conservative overestimate for columnar
        # parquet) -> records that fit the cap. maxRecordsPerFile is one
        # GLOBAL writer option, while lumberjack caps each sink's file
        # independently — so size the cap for the LARGEST-rowed sink
        # (min records over per-sink averages): no sink's files exceed
        # the cap, small-rowed sinks just rotate early (lumberjack never
        # over-sizes either). The per-sink averages come from ONE full
        # narrow aggregate pass, NOT a limit(N) head sample: limit pulls
        # from the first partitions only, so a large-rowed sink routed
        # later would escape the estimate entirely and its files would
        # blow the cap. The extra pass is a projection + map-side-
        # combined agg (no wide shuffle of data rows); callers who can't
        # afford it at extreme scale pass max_records_per_file directly.
        cols = [c for c in est_src.columns]
        per_sink = (
            est_src.groupBy("sink")
            .agg(F.avg(F.length(F.to_json(F.struct(*cols)))).alias("b"))
            .collect()
        )
        worst = max((r["b"] for r in per_sink if r["b"]), default=None)
        if worst:
            max_records_per_file = max(
                1, int(max_megabytes * (1 << 20) // max(worst, 1.0))
            )
    if max_records_per_file is not None:
        # rotation analog (fileexporter rotation.max_megabytes/backups,
        # config.go:58-79): bound each output file; Spark rolls to a new
        # file within the same task once the cap is hit
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    sinks = sorted({s for v in sink_map.values() for s in v})
    paths = {s: f"{path}/sink={s}" for s in sinks}
    if max_backups is not None or max_days is not None:
        # rotation.max_backups (fileexporter config.go:71-73): lumberjack
        # keeps the live file plus up to N complete rotated files. The
        # analog: the new generation is WRITTEN TO A STAGING DIR first;
        # only after the (potentially minutes-long, failable) Spark job
        # commits does the live generation rotate: the WHOLE live tree
        # moves in ONE checked rename to the sibling
        # {base}/routed_backups/gen-K/ dir (generation-first layout —
        # every sink on disk travels together, so there is no per-sink
        # loop that a crash could interrupt half-way), then staging
        # renames into place. Properties, each matching lumberjack:
        #   * a failed/interrupted write leaves the live tree UNTOUCHED
        #     (the vulnerable window is two metadata renames, not the
        #     whole job, and each is all-or-nothing);
        #   * a sink present on disk but absent from this run's config
        #     still rotates to a backup before the old tree goes away;
        #   * reads of the returned sink paths see ONLY the live
        #     generation (backups live outside the read path);
        #   * a retained backup is a COMPLETE generation — all sinks,
        #     all part-files — a usable rollback point;
        #   * max_backups=0 retains ALL generations (lumberjack's
        #     MaxBackups zero value), max_days prunes by age.
        staging = f"{path}__staging"
        _recover_or_clear_staging(tagged.sparkSession, staging, path)
        writer.save(staging)
        _rotate_generations(tagged.sparkSession, path)
        _fs_rename(tagged.sparkSession, staging, path)
        if max_backups is not None and max_backups > 0:
            _prune_backup_generations(
                tagged.sparkSession, path, max_backups
            )
        if max_days is not None:
            _prune_backups_older_than(
                tagged.sparkSession, path, max_days
            )
    else:
        writer.save(path)
    return paths


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
    """Handle a staging dir left by a crashed prior run. The one unsafe
    crash window in the swap protocol is after the live tree's delete
    and before the staging rename — there the fully-committed new
    generation exists ONLY in staging (it carries Spark's _SUCCESS
    marker) while the live path is gone — or holds no sink dirs, the
    state a crash between the rotation and the live-tree delete leaves.
    Recover it by promoting staging to live (this run will then rotate
    it into a backup like any other prior generation). In every other
    state — staging without _SUCCESS (a failed job's debris) or staging
    alongside an intact live tree (crash before the swap began; that
    run's caller already saw the failure) — staging is discarded."""
    fs, sp, _ = _fs(spark, staging)
    if not fs.exists(sp):
        return
    _, lp, jvm = _fs(spark, path)
    success = jvm.org.apache.hadoop.fs.Path(f"{staging}/_SUCCESS")
    live_has_sinks = fs.exists(lp) and any(
        st.getPath().getName().startswith("sink=")
        for st in fs.listStatus(lp)
    )
    if fs.exists(success) and not live_has_sinks:
        _fs_delete_if_exists(spark, path)
        _fs_rename(spark, staging, path)
    else:
        _fs_delete_if_exists(spark, staging)


def _backup_generations(spark, path: str):
    """Return [(gen_index, FileStatus)] for every generation dir under
    the backup tree, unsorted."""
    fs, root, _ = _fs(spark, _backup_root(path))
    if not fs.exists(root):
        return []
    return [
        (int(st.getPath().getName()[4:]), st)
        for st in fs.listStatus(root)
        if st.getPath().getName().startswith("gen-")
    ]


def _backup_root(path: str) -> str:
    return f"{path}_backups"


def _rotate_generations(spark, path: str) -> None:
    """Move the WHOLE live tree (every sink on disk, not just this
    run's sink set — a sink dropped from the config still deserves its
    backup) to the next gen-K backup dir in ONE checked rename. A
    single directory move is all-or-nothing: no crash can leave some
    sinks rotated and others live, which a per-sink loop could. A live
    root with no sink dirs (only a _SUCCESS marker — debris from a
    crash between rotation and swap) is deleted, not enshrined as a
    generation."""
    fs, live_root, jvm = _fs(spark, path)
    if not fs.exists(live_root):
        return
    # a generation must carry DATA: a live tree whose sink dirs hold no
    # part-files (debris from a crashed write, or just the _SUCCESS
    # marker) is deleted, not enshrined as a backup — it would consume
    # a max_backups slot and evict a real rollback point
    has_data = any(
        st.getPath().getName().startswith("sink=")
        and any(
            f.getPath().getName().startswith("part-")
            for f in fs.listStatus(st.getPath())
        )
        for st in fs.listStatus(live_root)
    )
    if not has_data:
        _fs_delete_if_exists(spark, path)
        return
    broot = _backup_root(path)
    fs_b, broot_p, _ = _fs(spark, broot)
    if not fs_b.exists(broot_p) and not fs_b.mkdirs(broot_p):
        raise IOError(f"failed to create backup root {broot}")
    nxt = max((g for g, _ in _backup_generations(spark, path)), default=-1) + 1
    _fs_rename(spark, path, f"{broot}/gen-{nxt}")


def _prune_backups_older_than(spark, path: str, max_days: int) -> None:
    """rotation.max_days (fileexporter config.go:64-69, lumberjack
    MaxAge): delete backup generations whose filesystem modification
    time is older than 24h·``max_days``. A day is exactly 24 hours, as
    the reference documents."""
    import time

    cutoff_ms = int((time.time() - max_days * 86400) * 1000)
    fs, _, _ = _fs(spark, _backup_root(path))
    for _g, st in _backup_generations(spark, path):
        if st.getModificationTime() < cutoff_ms:
            fs.delete(st.getPath(), True)


def _prune_backup_generations(spark, path: str, max_backups: int) -> None:
    """Keep the ``max_backups`` newest COMPLETE backup generations;
    delete older ones (lumberjack's bounded retention, with a
    generation — one whole prior write, all sinks — as the rotation
    unit). Callers pass ``max_backups >= 1``; zero means retain-all
    upstream (lumberjack's MaxBackups zero value) and never reaches
    here."""
    gens = sorted(
        _backup_generations(spark, path), key=lambda t: t[0], reverse=True
    )
    fs, _, _ = _fs(spark, _backup_root(path))
    for _g, st in gens[max_backups:]:
        fs.delete(st.getPath(), True)


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
