"""Layer wrappers of the lake benchmark.

``Tracer.install`` replaces public entry points of ``icebergplus_spark``
(class methods and module functions) with wrappers owned by this file,
and ``uninstall`` puts the originals back. The program itself is not
changed: every span is taken from outside, around a call into a layer.

A span is ``[name, start, end, parent, op]``: the layer name below, the
``perf_counter`` interval, the index of the enclosing span (or -1) and
the benchmark op it belongs to. Spans stay in memory until the run ends.

``inject`` adds a fixed sleep inside one layer's wrapper, so a test can
check that the benchmark's bounds flag a slowed layer as a regression.
"""

from __future__ import annotations

import functools
import time
import uuid
from typing import Any, Callable

from icebergplus_spark.lake import catalog as _catalog
from icebergplus_spark.lake import commitio as _commitio
from icebergplus_spark.lake import maintenance as _maintenance
from icebergplus_spark.lake import sql_dml as _sql_dml
from icebergplus_spark.lake import table as _table

# layer name → (owner, attribute names) of the public entry points it wraps
LAYERS: dict[str, tuple[Any, tuple[str, ...]]] = {
    "catalog.load_table": (_catalog.LocalLakeCatalog, ("load_table",)),
    "sql_dml.lake_sql": (_sql_dml, ("lake_sql",)),
    "table.plan": (
        _table.LakeTable,
        ("plan_files", "plan_files_any", "plan_files_ranges", "plan_files_topk"),
    ),
    "table.fold": (
        _table.LakeTable,
        ("count_rows", "count_rows_by", "stats_extrema", "agg_by",
         "hll_count_distinct", "hll_count_distinct_by"),
    ),
    "table.write": (
        _table.LakeTable,
        ("append", "add_files", "delete", "delete_where", "update_where",
         "merge_into", "overwrite", "upsert"),
    ),
    "commitio.publish": (_commitio.RenameCommitIO, ("publish",)),
    "maintenance.compact": (_maintenance, ("compact",)),
    "maintenance.expire": (_maintenance, ("expire_snapshots", "remove_orphan_files")),
}

# meters of the catalog's MetricsSink reported under their own names
SINK_COUNTERS = [
    "iceberg.commitReport.attempts",
    "iceberg.commitReport.addedDataFiles",
    "iceberg.commitReport.addedRecords",
    "iceberg.commitReport.addedFilesSizeInBytes",
    "iceberg.scanReport.resultDataFiles",
    "iceberg.scanReport.resultDeleteFiles",
    "iceberg.scanReport.totalFileSizeInBytes",
]
SINK_TIMERS = [
    "iceberg.commitReport.totalDuration",
    "iceberg.scanReport.totalPlanningDuration",
]


def sink_totals(sink) -> dict[str, float]:
    """Counter totals summed over tags; timer totals in milliseconds."""
    out = {n: 0.0 for n in SINK_COUNTERS + SINK_TIMERS}
    for c in sink._counters.values():
        if c.name in out:
            out[c.name] += c.value
    for n in SINK_TIMERS:
        t = sink.get_timer(n)
        if t is not None:
            out[n] = t.total_time_s * 1000.0
    return out


class Tracer:
    def __init__(self, spark, record: bool, inject: dict[str, float] | None = None):
        self.sc = spark.sparkContext
        self.record = record
        self.inject = dict(inject or {})
        unknown = set(self.inject) - set(LAYERS)
        if unknown:
            raise ValueError(f"unknown layer(s) to inject into: {sorted(unknown)}")
        self.spans: list[list] = []
        self.attrs: dict[int, dict[str, float]] = {}  # span index → measured extras
        self.stack: list[int] = []
        self.op: Any = None  # id of the current benchmark op
        self.group: str | None = None  # Spark job group of the current op
        self._run = uuid.uuid4().hex[:8]  # keeps groups of earlier runs apart
        self.conflicts = 0
        self._saved: list[tuple[Any, str, Any]] = []

    # -- install / uninstall ----------------------------------------------
    def install(self) -> "Tracer":
        layers = LAYERS if self.record else {k: LAYERS[k] for k in self.inject}
        for layer, (owner, names) in layers.items():
            for name in names:
                orig = owner.__dict__[name] if isinstance(owner, type) else getattr(owner, name)
                self._saved.append((owner, name, orig))
                setattr(owner, name, self._wrap(layer, orig))
        return self

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._saved):
            setattr(owner, name, orig)
        self._saved.clear()

    def _wrap(self, layer: str, fn: Callable) -> Callable:
        delay = self.inject.get(layer, 0.0) / 1000.0
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.record:
                time.sleep(delay)
                return fn(*args, **kwargs)
            idx = len(tracer.spans)
            parent = tracer.stack[-1] if tracer.stack else -1
            span = [layer, time.perf_counter(), 0.0, parent, tracer.op]
            tracer.spans.append(span)
            tracer.stack.append(idx)
            jobs0 = tracer._jobs_so_far() if layer == "table.fold" else 0
            try:
                if delay:
                    time.sleep(delay)
                out = fn(*args, **kwargs)
            except _commitio.ConcurrentCommitError:
                tracer.conflicts += 1
                raise
            finally:
                span[2] = time.perf_counter()
                tracer.stack.pop()
            if layer == "table.fold":
                tracer.attrs[idx] = {"jobs": tracer._jobs_so_far() - jobs0}
            elif layer == "table.plan" and out is not None:
                snap = args[0].snapshot(kwargs.get("snapshot_id"))
                total = int(snap["summary"].get("total-data-files", 0)) if snap else 0
                tracer.attrs[idx] = {"kept": len(out), "total": total}
            elif layer == "commitio.publish":
                payload = args[3] if len(args) > 3 else kwargs["payload"]
                tracer.attrs[idx] = {"bytes": len(payload.encode())}
            elif layer == "maintenance.compact" and isinstance(out, dict):
                tracer.attrs[idx] = {"bytes": out.get("bytes_rewritten", 0)}
            return out

        return wrapper

    # -- Spark job groups -------------------------------------------------
    def begin_op(self, op_id: Any) -> None:
        self.op = op_id
        if self.record:
            self.group = f"perfbench-{self._run}-{op_id}"
            self.sc.setJobGroup(self.group, str(op_id), interruptOnCancel=False)

    def end_op(self) -> dict[str, float] | None:
        """Spark jobs, stages, tasks and busy time of the op just ended."""
        if not self.record:
            return None
        ids = list(self.sc.statusTracker().getJobIdsForGroup(self.group))
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        store = self.sc._jsc.sc().statusStore()
        out = {"jobs": len(ids), "stages": 0, "tasks": 0, "failed_tasks": 0}
        intervals = []
        for j in ids:
            d = store.job(j)
            out["stages"] += d.stageIds().size()
            out["tasks"] += d.numTasks()
            out["failed_tasks"] += d.numFailedTasks()
            if d.submissionTime().isDefined() and d.completionTime().isDefined():
                intervals.append(
                    (d.submissionTime().get().getTime(), d.completionTime().get().getTime())
                )
        out["action_ms"] = float(_union_length(intervals))
        self.group = None
        return out

    def _jobs_so_far(self) -> int:
        if self.group is None:
            return 0
        return len(self.sc.statusTracker().getJobIdsForGroup(self.group))

    # -- aggregation ------------------------------------------------------
    def layer_metrics(self, keep: Callable[[Any], bool]) -> dict[str, float]:
        """Per-layer calls, ms, self ms and extras over the spans whose op
        passes ``keep``. A span nested in a span of the same layer counts
        toward that outer span only."""
        spans = self.spans
        child_ms = [0.0] * len(spans)
        for s in spans:
            if s[3] >= 0:
                child_ms[s[3]] += (s[2] - s[1]) * 1000.0

        def nested_in_same(i: int) -> bool:
            layer, p = spans[i][0], spans[i][3]
            while p >= 0:
                if spans[p][0] == layer:
                    return True
                p = spans[p][3]
            return False

        agg: dict[str, dict[str, float]] = {
            k: {"calls": 0, "ms": 0.0, "self_ms": 0.0, "kept": 0, "total": 0,
                "no_job": 0, "bytes": 0}
            for k in LAYERS
        }
        for i, s in enumerate(spans):
            if not keep(s[4]):
                continue
            a = agg[s[0]]
            dur = (s[2] - s[1]) * 1000.0
            a["self_ms"] += dur - child_ms[i]
            if nested_in_same(i):
                continue
            a["calls"] += 1
            a["ms"] += dur
            extra = self.attrs.get(i, {})
            a["kept"] += extra.get("kept", 0)
            a["total"] += extra.get("total", 0)
            a["bytes"] += extra.get("bytes", 0)
            a["no_job"] += int(s[0] == "table.fold" and extra.get("jobs", 0) == 0)
        return agg


def _union_length(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
