"""Spread and regression checks against the bounds in ``BENCHMARK.json``.

Run the benchmark over several seeds and print, per end-to-end metric,
the median and the spread (interquartile range over median) next to the
metric's bound:

    python3 perfbench/compare.py spread --workload sql_dml_mix --seeds 1 2 3 4 5

Compare two sets of saved results (one JSON result per line, as the
benchmark prints them) and list the metrics whose median got worse by
more than the bound:

    python3 perfbench/compare.py regress base.jsonl new.jsonl
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_spec(path: str | None = None) -> dict:
    with open(path or os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def spread(values: list[float]) -> float:
    """Interquartile range as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def medians(results: list[dict]) -> dict[str, float]:
    names = results[0]["metrics"]
    return {n: statistics.median(r["metrics"][n]["value"] for r in results) for n in names}


def regressions(base: list[dict], new: list[dict], spec: dict) -> list[str]:
    """End-to-end metrics whose median in ``new`` is worse than in
    ``base`` by more than the metric's bound."""
    mb, mn = medians(base), medians(new)
    out = []
    for m in spec["end_to_end"]:
        name, bound = m["name"], m["bound"]
        if name not in mb or name not in mn:
            continue
        change = (mn[name] - mb[name]) / mb[name]
        worse = change if m["better"] == "lower" else -change
        if worse > bound:
            out.append(f"{name}: {mb[name]:.6g} -> {mn[name]:.6g} ({worse:+.1%}, bound {bound:.0%})")
    return out


def run_once(workload: str, seed: int, seconds: float) -> tuple[dict, str]:
    """One untraced run in a subprocess: (result, log lines before it)."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), "\n".join(lines[:-1])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    sp = sub.add_parser("spread")
    sp.add_argument("--workload", required=True)
    sp.add_argument("--seeds", type=int, nargs="+", required=True)
    sp.add_argument("--seconds", type=float, default=None)
    sp.add_argument("--save", default=None,
                    help="append each result to this JSONL file, and its log to <save>.log")
    rg = sub.add_parser("regress")
    rg.add_argument("base")
    rg.add_argument("new")
    args = ap.parse_args(argv)
    spec = load_spec()

    if args.cmd == "regress":
        def read(p):
            with open(p) as f:
                return [json.loads(line) for line in f if line.strip()]
        bad = regressions(read(args.base), read(args.new), spec)
        for line in bad:
            print("regression:", line)
        return 1 if bad else 0

    results = []
    for seed in args.seeds:
        r, log = run_once(args.workload, seed, args.seconds or spec["run_seconds"])
        results.append(r)
        print(f"seed {seed}: correct={r['correct']} attempted={r['attempted']} "
              f"failed={r['failed']}", flush=True)
        if args.save:
            with open(args.save, "a") as f:
                f.write(json.dumps(r) + "\n")
            with open(args.save + ".log", "a") as f:
                f.write(log + "\n")
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for name, med in medians(results).items():
        vals = [r["metrics"][name]["value"] for r in results]
        sp_ = spread(vals) if len(vals) >= 2 else float("nan")
        b = bounds.get(name, float("nan"))
        flag = "" if sp_ < b / 3 or name == "setup_s" else "  <-- above a third of the bound"
        print(f"{name:20s} median {med:12.6g}  spread {sp_:7.3f}  bound {b:.2f}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
