"""Steadiness check: run workloads over several seeds and report spreads.

Usage, from the repository root::

    python3 perfbench/steady.py --seeds 1-10 [--workloads a,b] [--out FILE]
    python3 perfbench/steady.py --compare A.json B.json

The first form runs ``run.py`` once per (workload, seed), untraced, and
prints, per end-to-end metric, the median of the runs and the distance
between their first and third quartiles as a share of that median
(``statistics.quantiles(values, n=4)``), next to the metric's bound from
``BENCHMARK.json``. ``--out`` writes every run's stamp and result too.

Next to each run it records what the run cannot control: how long a
fixed pure-Python loop takes just before it (``host_loop_s``, a gauge of
the host's speed), the share of CPU time the hypervisor stole during it
(``steal_frac``, from ``/proc/stat``), and how many Spark or PySpark
processes of an earlier run were still alive when it was due
(``stray_procs``; the run waits up to a minute for them to end).

``--compare`` puts two such files side by side: the change of each
median as a share of the first. It refuses files whose environment
stamps (cores, master, parallelism, Spark and Python versions) differ.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENV_KEYS = ("nproc", "master", "default_parallelism", "spark", "python")


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in spec.split(",")]


def host_loop_s() -> float:
    """Best of three timings of a fixed pure-Python loop."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        s = 0
        for i in range(2_000_000):
            s += i * i
        best = min(best, time.perf_counter() - t0)
    return best


def _cpu_times() -> list[int] | None:
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def _steal_frac(a: list[int] | None, b: list[int] | None) -> float | None:
    if a is None or b is None:
        return None
    d = [y - x for x, y in zip(a, b)]
    return d[7] / sum(d) if sum(d) else 0.0


def spark_processes() -> list[int]:
    """Pids of Spark JVMs and PySpark workers alive on this machine."""
    pids = []
    for pid in os.listdir("/proc") if os.path.isdir("/proc") else []:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        argv = cmd.split(b"\0")
        if any(a.endswith(b"org.apache.spark.deploy.SparkSubmit")
               or a == b"pyspark.daemon" for a in argv):
            pids.append(int(pid))
    return pids


def one_run(workload: str, seed: int, seconds: int) -> dict:
    stray = spark_processes()
    deadline = time.monotonic() + 60
    while spark_processes() and time.monotonic() < deadline:
        time.sleep(1)
    loop_s = host_loop_s()
    cpu0 = _cpu_times()
    t0 = time.monotonic()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    stamp = next(
        (json.loads(line.split(" ", 2)[2]) for line in lines
         if line.startswith("perfbench stamp ")), None)
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    detail = {
        line.split(" ", 2)[1]: json.loads(line.split(" ", 2)[2]) for line in lines
        if line.startswith(("perfbench pass_s ", "perfbench op_median_s "))
    }
    return {"workload": workload, "seed": seed, "exit": proc.returncode,
            "wall_s": round(time.monotonic() - t0, 1), "stamp": stamp,
            "host_loop_s": round(loop_s, 4),
            "steal_frac": _steal_frac(cpu0, _cpu_times()),
            "stray_procs": len(stray),
            "detail": detail, "result": result}


def spread(values: list[float]) -> tuple[float, float]:
    """(median, interquartile distance as a share of the median)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med


def summarize(runs: list[dict], spec: dict) -> dict:
    out = {}
    for wl in sorted({r["workload"] for r in runs}):
        rs = [r for r in runs if r["workload"] == wl and r["result"]]
        row = {
            "runs": len(rs),
            "all_correct": all(r["result"]["correct"] for r in rs),
            "wall_s_median": statistics.median(r["wall_s"] for r in rs),
        }
        for m in spec["end_to_end"]:
            vals = [r["result"]["metrics"][m["name"]]["value"] for r in rs]
            if len(vals) >= 2:
                med, sp = spread(vals)
                row[m["name"]] = {"median": med, "spread": sp, "bound": m["bound"]}
        out[wl] = row
    return out


def _env(stamp: dict) -> tuple:
    return tuple(stamp.get(k) for k in ENV_KEYS)


def compare(a_path: str, b_path: str) -> int:
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    envs = {_env(r["stamp"]) for r in a["runs"] + b["runs"] if r["stamp"]}
    if len(envs) != 1:
        print(f"refusing to compare: environment stamps differ: {sorted(envs)}",
              file=sys.stderr)
        return 2
    for wl, row in a["summary"].items():
        other = b["summary"].get(wl, {})
        for name, m in row.items():
            if isinstance(m, dict) and name in other:
                change = other[name]["median"] / m["median"] - 1.0
                print(f"{wl} {name} {m['median']:.4f} -> {other[name]['median']:.4f} "
                      f"({change:+.1%}; bound {m['bound']:.0%}; "
                      f"spreads {m['spread']:.1%} / {other[name]['spread']:.1%})")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads")
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2, metavar="FILE")
    args = ap.parse_args()
    if args.compare:
        return compare(*args.compare)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = args.workloads.split(",") if args.workloads else [
        w["name"] for w in spec["workloads"]]
    runs = []
    for wl in names:
        for seed in _seeds(args.seeds):
            r = one_run(wl, seed, spec["run_seconds"])
            runs.append(r)
            res = r["result"] or {}
            vals = {k: round(v["value"], 4) for k, v in res.get("metrics", {}).items()}
            print(f"{wl} seed={seed} exit={r['exit']} wall={r['wall_s']}s "
                  f"loop={r['host_loop_s']}s steal={r['steal_frac'] or 0:.1%} "
                  f"stray={r['stray_procs']} correct={res.get('correct')} {vals}",
                  flush=True)
    envs = {_env(r["stamp"]) for r in runs if r["stamp"]}
    if len(envs) > 1:
        print(f"runs disagree on their environment stamps: {sorted(envs)}", file=sys.stderr)
        return 2
    summary = summarize(runs, spec)
    print(json.dumps(summary, indent=1))
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"summary": summary, "runs": runs}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
