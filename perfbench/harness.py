"""Run one workload: set up, warm up, measure, check, report.

One client drives the program in a closed loop from this process: the
next op starts when the previous one has returned and its result has
been read. After one warm-up cycle of the workload's op shapes, ops run
in whole cycles until ``seconds`` have passed and at least the
workload's ``min_cycles`` cycles are done.

End-to-end metrics come from an untraced run. A traced run installs the
layer wrappers of ``trace.py``, puts every op in its own Spark job
group, and reports per-layer metrics over the first ``min_cycles``
cycles plus the closing maintenance, so counts repeat exactly for a
fixed seed.

A latency metric of an op kind is shape-balanced: the geometric mean,
over the kind's statement shapes, of each shape's median (``p50``) or
tail. A shape's tail is its 11th-largest sample (the highest percentile
with ten samples beyond it) once it has 20 samples, else its median.

Times in the ``_ref`` metrics are scaled to a reference machine speed.
Before each op, outside its timed region, the client times a fixed
piece of pure Python and a fixed number of round trips to the JVM
(``speed_probe``); the median of the five probes around an op, over
``PROBE_REF_MS``, is how much slower than the reference the machine
ran this process at that moment, and the op's ``_ref`` time is its
measured time divided by it. On a shared
host the speed a process gets moves by up to 1.7x from one minute to
the next, and two runs started together slow together; the probe runs
no program code, so a change to the program moves the scaled times as
it moves the measured ones. The measured (unscaled) values are printed
in the log beside them.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import time
from typing import Any

import numpy as np
import pyarrow as pa

from perfbench.trace import SINK_COUNTERS, SINK_TIMERS, Tracer, sink_totals
from perfbench.workloads import KINDS, WORKLOADS, Op, check

SETUP_REPS = 3
# the probe's median on an idle core of the 4-core x86 machine the
# baseline was taken on: a ``_ref`` ms is a measured ms at that speed
PROBE_REF_MS = 10.0
TAIL_BEYOND = 10  # samples beyond the tail percentile

END_TO_END_UNITS = {
    "setup_s": "s",
    "ops_per_ref_s": "1/s",
    "ingest_rows_per_ref_s": "1/s",
    **{f"{k}_p50_ref_ms": "ms" for k in KINDS},
    "write_amp": "ratio",
    "space_amp": "ratio",
    "peak_rss_mb": "MB",
}

PER_LAYER_UNITS = {
    "catalog.load_table.calls": "count",
    "catalog.load_table.ms": "ms",
    "sql_dml.lake_sql.calls": "count",
    "sql_dml.lake_sql.ms": "ms",
    "sql_dml.lake_sql.self_ms": "ms",
    "table.plan.calls": "count",
    "table.plan.ms": "ms",
    "table.plan.files_kept_ratio": "ratio",
    "table.fold.calls": "count",
    "table.fold.ms": "ms",
    "table.fold.no_job_ratio": "ratio",
    "table.write.calls": "count",
    "table.write.ms": "ms",
    "table.write.self_ms": "ms",
    "commitio.publish.calls": "count",
    "commitio.publish.ms": "ms",
    "commitio.publish.payload_bytes": "bytes",
    "commitio.conflicts": "count",
    **{n: ("bytes" if "Bytes" in n else "count") for n in SINK_COUNTERS},
    **{n: "ms" for n in SINK_TIMERS},
    "maintenance.compact.calls": "count",
    "maintenance.compact.ms": "ms",
    "maintenance.expire.ms": "ms",
    "maintenance.bytes_rewritten": "bytes",
    **{f"spark.jobs.{k}": "count" for k in KINDS},
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.action.ms": "ms",
    "trace.ops_per_ref_s": "1/s",
}


class Env:
    """What a workload's ops run against: the session, one catalog over a
    fresh warehouse directory, and the modules whose entry points the
    tracer may wrap (looked up at call time, so wrappers take effect)."""

    def __init__(self, spark, root: str, inputs: str, sink) -> None:
        from icebergplus_spark.lake import LocalLakeCatalog
        from icebergplus_spark.lake import maintenance, sql_dml

        self.spark = spark
        self.root = root  # the warehouse: everything the program writes
        self.inputs = inputs  # files the user hands over (``add_files``)
        self.catalog = LocalLakeCatalog(spark, root, metrics_sink=sink).start()
        self.maintenance = maintenance
        self._sql_dml = sql_dml

    def lake_sql(self, stmt: str):
        return self._sql_dml.lake_sql(self.catalog, stmt)

    def frame(self, tbl: pa.Table):
        return self.spark.createDataFrame(tbl.to_pandas(), schema=self.spark_schema(tbl.schema))

    @staticmethod
    def spark_schema(schema: pa.Schema):
        from pyspark.sql.types import (IntegerType, LongType, StringType,
                                       StructField, StructType)

        types = {pa.int64(): LongType(), pa.int32(): IntegerType(), pa.string(): StringType()}
        return StructType([StructField(f.name, types[f.type], True) for f in schema])


def speed_probe(jmath) -> float:
    """Seconds this process takes for a fixed piece of pure-Python work
    plus a fixed number of round trips to the JVM (``jmath`` is the
    gateway's ``java.lang.Math``): the two things every op is made of."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(50_000):
        acc = (acc * 31 + i) % 1_000_003
    for i in range(40):
        jmath.abs(-i)
    return time.perf_counter() - t0


def _dir_files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, fns in os.walk(root):
        for fn in fns:
            p = os.path.join(d, fn)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with ``TAIL_BEYOND``
    samples beyond it, or the median while that is below p50."""
    n = len(values)
    if n < 2 * TAIL_BEYOND:
        return 50.0, float(statistics.median(values))
    return 100.0 * (n - TAIL_BEYOND) / n, float(sorted(values)[n - TAIL_BEYOND - 1])


def _geomean(values: list[float]) -> float:
    return float(np.exp(np.mean(np.log(values))))


def kind_latency(by_shape: dict[str, list[float]]) -> tuple[float, float, float]:
    """(p50, tail, lowest tail percentile) over the shapes of one kind."""
    tails = [_tail(v) for v in by_shape.values()]
    return (
        _geomean([statistics.median(v) for v in by_shape.values()]),
        _geomean([t for _, t in tails]),
        min(p for p, _ in tails),
    )


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus the Spark JVM."""
    kb = _vm_hwm_kb("self")
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        kb += _vm_hwm_kb(proc.pid)
    return kb / 1024.0


def run_workload(
    spark,
    name: str,
    seed: int,
    seconds: float,
    trace: bool,
    work_dir: str,
    size: str = "full",
    inject: dict[str, float] | None = None,
    setup_reps: int = SETUP_REPS,
    trace_out: str | None = None,
) -> dict[str, Any]:
    """Run one workload and return the result object the benchmark prints,
    plus ``details`` (sample counts, check failures) for the log."""
    from icebergplus_spark.lake import MetricsSink

    wl = WORKLOADS[name](seed, size)
    inputs = os.path.join(work_dir, f"{name}-inputs")
    shutil.rmtree(inputs, ignore_errors=True)
    wl.stage(inputs)

    # -- set-up, repeated on fresh warehouses; the last one is kept -------
    setup_s = []
    t_setup = time.perf_counter()
    for rep in range(setup_reps):
        root = os.path.join(work_dir, f"{name}-rep{rep}")
        shutil.rmtree(root, ignore_errors=True)
        sink = MetricsSink()
        t0 = time.perf_counter()
        env = Env(spark, root, inputs, sink)
        wl.setup(env)
        setup_s.append(time.perf_counter() - t0)
        if rep + 1 < setup_reps:
            shutil.rmtree(root, ignore_errors=True)

    ops = wl.ops()
    failures: list[str] = []

    def run_op(op: Op) -> tuple[float, bool]:
        wl.prepare(env, op)
        t0 = time.perf_counter()
        try:
            got = wl.execute(env, op)
        except Exception as e:  # a failed op is counted, never retried
            dt = time.perf_counter() - t0
            failures.append(f"{op.name}: {type(e).__name__}: {str(e)[:200]}")
            return dt, False
        dt = time.perf_counter() - t0
        ok = check(op, got)
        if not ok:
            failures.append(f"{op.name}: wrong result {str(got)[:120]} != {str(op.expect)[:120]}")
        return dt, ok

    # -- warm-up: one cycle of op shapes, untimed but checked --------------
    t_warm = time.perf_counter()
    warm_ops = warm_failed = 0
    while True:
        op = next(ops)
        warm_ops += 1
        warm_failed += not run_op(op)[1]
        if op.ends_cycle:
            break
    t_loop = time.perf_counter()

    tracer = Tracer(spark, record=trace, inject=inject)
    if trace or inject:
        tracer.install()
    lat: dict[str, dict[str, list[float]]] = {k: {} for k in KINDS}
    probe_s: list[float] = []  # probe_s[i] ran just before loop op i
    op_log: list[tuple[str, str, float, bool]] = []  # (name, kind, ms, ok)
    jmath = spark.sparkContext._jvm.java.lang.Math
    by_name: dict[str, list[float]] = {}
    rows = user_bytes = 0
    attempted = failed = cycles = 0
    cycle_busy = [0.0]  # time inside ops, per cycle
    counted_ops = None
    op_spark: dict[Any, dict] = {}
    op_kind: dict[Any, str] = {}
    before = _dir_files(root)
    sink0 = sink_totals(sink)
    sink1 = None
    deadline = time.perf_counter() + seconds
    try:
        while True:
            op = next(ops)
            probe_s.append(speed_probe(jmath))
            tracer.begin_op(attempted)
            dt, ok = run_op(op)
            js = tracer.end_op()
            if js is not None:
                op_spark[attempted] = js
            op_kind[attempted] = op.kind
            attempted += 1
            failed += not ok
            cycle_busy[-1] += dt
            by_name.setdefault(op.name, []).append(dt * 1000.0)
            op_log.append((op.name, op.kind, dt * 1000.0, ok))
            if ok:
                if op.kind in lat:
                    lat[op.kind].setdefault(op.name, []).append(dt * 1000.0)
                rows += op.rows_written if op.kind == "append" else 0
                user_bytes += op.user_bytes
            if op.ends_cycle:
                cycles += 1
                cycle_busy.append(0.0)
                if cycles == wl.min_cycles:
                    sink1 = sink_totals(sink)
                    counted_ops = attempted
                if cycles >= wl.min_cycles and time.perf_counter() >= deadline:
                    break
        after = _dir_files(root)
        written = sum(s for p, (s, m) in after.items() if before.get(p) != (s, m))
        # -- closing maintenance and final checks -------------------------
        sink2 = sink_totals(sink)
        t_finish = time.perf_counter()
        tracer.begin_op("finish")
        try:
            final = wl.finish(env)
        except Exception as e:
            final = [(f"finish: {type(e).__name__}: {str(e)[:200]}", False)]
        js = tracer.end_op()
        if js is not None:
            op_spark["finish"] = js
        sink3 = sink_totals(sink)
        t_end = time.perf_counter()
    finally:
        tracer.uninstall()
    final_failed = [n for n, ok in final if not ok]
    failures += [f"final check failed: {n}" for n in final_failed]
    loop_ops = attempted
    attempted += len(final) + warm_ops
    failed += len(final_failed) + warm_failed

    # busy time with each op's time replaced by its shape's median: a
    # stall in a few ops (GC, a neighbour's burst) does not move it
    typical_busy = sum(len(v) * statistics.median(v) for v in by_name.values()) / 1000.0
    # each op's time at reference speed, scaled by the median of the five
    # probes around it, so that a burst of contention inside a run is
    # scaled out too
    ref_lat: dict[str, dict[str, list[float]]] = {k: {} for k in KINDS}
    ref_by_name: dict[str, list[float]] = {}
    for i, (name, kind, ms, ok) in enumerate(op_log):
        near_ms = statistics.median(probe_s[max(0, i - 2):i + 3]) * 1000.0
        ref = ms * PROBE_REF_MS / near_ms
        ref_by_name.setdefault(name, []).append(ref)
        if ok and kind in ref_lat:
            ref_lat[kind].setdefault(name, []).append(ref)
    ref_busy = sum(len(v) * statistics.median(v) for v in ref_by_name.values()) / 1000.0
    probe_ms = statistics.median(probe_s) * 1000.0
    space = sum(s for d in (root, inputs) for s, _ in _dir_files(d).values())
    details = {"samples": {k: sum(map(len, v.values())) for k, v in lat.items()},
               "failures": failures[:20], "cycle_busy_s": cycle_busy[:-1],
               "setup_runs_s": setup_s, "ops": loop_ops, "probe_ms": probe_ms,
               "by_name": {n: (len(v), statistics.median(v)) for n, v in sorted(by_name.items())},
               "phases_s": {"setup": t_warm - t_setup, "warm-up": t_loop - t_warm,
                            "loop": t_finish - t_loop, "finish": t_end - t_finish}}

    if not trace:
        metrics: dict[str, float] = {"setup_s": statistics.median(setup_s)}
        metrics["ops_per_ref_s"] = loop_ops / ref_busy
        metrics["ingest_rows_per_ref_s"] = rows / ref_busy
        measured = details["measured"] = {"ops_per_s": loop_ops / typical_busy,
                                          "ingest_rows_per_s": rows / typical_busy}
        details["tails"] = {}
        for k in KINDS:
            p50, tail, pct = kind_latency(lat[k]) if lat[k] else (math.nan, math.nan, 0.0)
            metrics[f"{k}_p50_ref_ms"] = kind_latency(ref_lat[k])[0] if ref_lat[k] else math.nan
            measured[f"{k}_p50_ms"] = p50
            details["tails"][k] = (pct, tail)
        metrics["write_amp"] = written / max(user_bytes, 1)
        metrics["space_amp"] = space / max(wl.live_bytes(), 1)
        metrics["peak_rss_mb"] = peak_rss_mb(spark)
        units = END_TO_END_UNITS
    else:
        counted = set(range(counted_ops)) | {"finish"}
        agg = tracer.layer_metrics(lambda o: o in counted)
        sink_sum = {n: (sink1[n] - sink0[n]) + (sink3[n] - sink2[n]) for n in sink0}
        metrics = {}
        for layer in ("catalog.load_table", "sql_dml.lake_sql", "table.plan", "table.fold",
                      "table.write", "commitio.publish"):
            metrics[f"{layer}.calls"] = agg[layer]["calls"]
            metrics[f"{layer}.ms"] = agg[layer]["ms"]
        for layer in ("sql_dml.lake_sql", "table.write"):
            metrics[f"{layer}.self_ms"] = agg[layer]["self_ms"]
        plan = agg["table.plan"]
        metrics["table.plan.files_kept_ratio"] = plan["kept"] / max(plan["total"], 1)
        fold = agg["table.fold"]
        metrics["table.fold.no_job_ratio"] = fold["no_job"] / max(fold["calls"], 1)
        metrics["commitio.publish.payload_bytes"] = agg["commitio.publish"]["bytes"]
        metrics["commitio.conflicts"] = tracer.conflicts
        metrics.update(sink_sum)
        metrics["maintenance.compact.calls"] = agg["maintenance.compact"]["calls"]
        metrics["maintenance.compact.ms"] = agg["maintenance.compact"]["ms"]
        metrics["maintenance.expire.ms"] = agg["maintenance.expire"]["ms"]
        metrics["maintenance.bytes_rewritten"] = agg["maintenance.compact"]["bytes"]
        counted_spark = [(op_kind.get(o), s) for o, s in op_spark.items() if o in counted]
        for k in KINDS:
            metrics[f"spark.jobs.{k}"] = sum(s["jobs"] for kind, s in counted_spark if kind == k)
        for f in ("stages", "tasks", "failed_tasks"):
            metrics[f"spark.{f}"] = sum(s[f] for _, s in counted_spark)
        metrics["spark.action.ms"] = sum(s["action_ms"] for _, s in counted_spark)
        metrics["trace.ops_per_ref_s"] = loop_ops / ref_busy
        units = PER_LAYER_UNITS
        if trace_out:
            os.makedirs(os.path.dirname(trace_out), exist_ok=True)
            with open(trace_out, "w") as f:
                json.dump({"workload": name, "seed": seed,
                           "spans": tracer.spans,
                           "span_attrs": {str(k): v for k, v in tracer.attrs.items()},
                           "spark_by_op": {str(k): v for k, v in op_spark.items()},
                           "op_kinds": {str(k): v for k, v in op_kind.items()},
                           "sink": sink_sum}, f)

    shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(inputs, ignore_errors=True)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        "details": details,
    }
