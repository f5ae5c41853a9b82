"""Lake benchmark: one workload, one run, one JSON line.

Run from the repository root:

    python3 perfbench/run.py --workload metadata_reads --seed 1 --seconds 15 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics (and writes the spans to ``.perfbench_run/traces/``). The last
line of standard output is ``{"correct", "attempted", "failed",
"metrics"}``; the lines before it name every metric with its unit and
sample count. Workloads and metrics are described in ``BENCHMARK.json``
and ``perfbench/README.md``.

Spark runs in this process on ``local[k]`` with ``k = min(2, nproc)`` and
``k`` shuffle partitions, so the result does not depend on
``SPARK_GRAFT_CPUS``. Everything the run writes stays under
``.perfbench_run/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import time

T_START = time.perf_counter()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAX_LOCAL_CORES = 2


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_spark(k: int, work: str):
    """A local[k] session whose scratch space and Python workers stay
    inside ``work`` and see this checkout's package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    from icebergplus_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{k}]",
        shuffle_partitions=k,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData "
                "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM (and its Python workers,
    which exit with it) has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits at EOF on stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def cpu_times() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat (jiffies per state)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def environment_line(k: int, seed: int) -> str:
    import pyarrow
    import pyspark

    return (
        f"env nproc={os.cpu_count()} local_k={k} loadavg_1m={os.getloadavg()[0]:.2f} "
        f"seed={seed} spark={pyspark.__version__} pyarrow={pyarrow.__version__} "
        f"python={sys.version.split()[0]}"
    )


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "icebergplus_spark")):
        print(f"perfbench: no icebergplus_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.harness import PROBE_REF_MS, run_workload
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    k = max(1, min(MAX_LOCAL_CORES, os.cpu_count() or 1))
    out_dir = os.path.join(ROOT, ".perfbench_run")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    print(environment_line(k, args.seed), flush=True)
    cpu0 = cpu_times()
    spark = start_spark(k, work)
    try:
        result = run_workload(
            spark, args.workload, args.seed, args.seconds, bool(args.trace), work,
            trace_out=os.path.join(out_dir, "traces",
                                   f"{args.workload}-seed{args.seed}.json"),
        )
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    cpu1 = cpu_times()
    if cpu0 and cpu1:
        d = [b - a for a, b in zip(cpu0, cpu1)]
        busy = sum(d) - d[3] - d[4]  # minus idle and iowait
        print(f"machine cpu during run: busy {busy / max(sum(d), 1):.0%}, "
              f"steal {d[7] / max(sum(d), 1):.1%}, loadavg_1m {os.getloadavg()[0]:.2f}")
    details = result.pop("details")
    samples = details["samples"]
    for name, m in result["metrics"].items():
        kind = name.split("_")[0]
        extra = f"  (n={samples[kind]})" if name.endswith("_p50_ref_ms") else ""
        print(f"metric {name} = {m['value']:.6g} {m['unit']}{extra}")
    print(f"speed probe median {details['probe_ms']:.3f} ms (reference {PROBE_REF_MS} ms); "
          "measured, unscaled:")
    for name, v in details.get("measured", {}).items():
        print(f"  {name} = {v:.6g}")
    for kind, (pct, tail) in details.get("tails", {}).items():
        print(f"  {kind}_tail_ms = {tail:.6g} ms  (p{pct:.0f}, n={samples[kind]})")
    print("busy time per cycle (s): " + ", ".join(f"{c:.2f}" for c in details["cycle_busy_s"]))
    print(f"setup runs (s): {', '.join(f'{s:.3f}' for s in details['setup_runs_s'])}; "
          f"loop ops: {details['ops']}; phases (s): "
          + ", ".join(f"{k} {v:.1f}" for k, v in details["phases_s"].items()))
    print("op medians (ms): " + ", ".join(
        f"{n} {med:.0f} (n={cnt})" for n, (cnt, med) in details["by_name"].items()))
    print(f"run wall time before the result line: {time.perf_counter() - T_START:.1f} s")
    ratio = result["failed"] / result["attempted"]
    print(f"failed_op_ratio = {ratio:.6g} ({result['failed']}/{result['attempted']})")
    for f in details["failures"]:
        print(f"failure: {f}")
    if any(math.isnan(m["value"]) for m in result["metrics"].values()):
        print("perfbench: a metric has no samples in this run", file=sys.stderr)
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
