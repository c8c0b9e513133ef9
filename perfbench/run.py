"""Run one benchmark workload and print its metrics.

Usage, from the repository root::

    python3 perfbench/run.py --workload analyst_session --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics and writes the run's spans to
``.perfbench/traces/<workload>-seed<n>.json``. Every metric is printed
as ``metric <name> <value> <unit>``; the last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``. The
run exits 1 when any operation raised or failed its correctness check,
and 2 when the repository it should measure is not there.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 2
HEAP = "2g"
UNITS = {
    "setup_s": "s", "pass_s": "s", "action_gmean_s": "s", "action_p50_s": "s",
    "ops_failed_frac": "1", "rows_per_s": "1/s",
}
#: the end-to-end metrics of the last line of an untraced run
END_TO_END = ("setup_s", "pass_s", "action_gmean_s")
#: untimed passes after the checked warm pass, still inside set-up: the
#: first ``count()`` pass after the warm pass is ~50% slower than the
#: rest (its plans and the JIT are still cold); later passes are level
WARM_PASSES = 1
#: fewest timed passes a run makes, whatever ``--seconds`` says: the
#: median of three ignores one pass slowed by the host
MIN_PASSES = 3


def _environment(work_dir: str) -> None:
    """Settings every run shares; set before the JVM starts. The Python
    workers import the package, so the repository goes on their path."""
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def _session(work_dir: str):
    from pybabe_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    spark = get_spark(
        "perfbench",
        extra_conf={
            # the JIT and heap settings make a run reach steady state
            # inside set-up: C1 only (the default tiered JIT kept passes
            # falling for ~5 passes), a fixed heap (a Full GC between
            # passes otherwise shrinks it and young-GC sizing restarts)
            # and a code cache large enough for Spark's generated classes
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Xms{HEAP} -XX:TieredStopAtLevel=1 "
                "-XX:ReservedCodeCacheSize=512m"
            ),
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads per-stage bytes from the status store;
            # keep every stage of the run in it
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _source_digest() -> str:
    """Digest of the Python sources measured (tests excluded), so a
    stamp names the code even in a checkout without git metadata."""
    h = hashlib.sha256()
    for base in ("pybabe_spark", "perfbench"):
        for dirpath, dirnames, files in os.walk(os.path.join(ROOT, base)):
            dirnames.sort()
            for f in sorted(files):
                if f.endswith(".py") and not f.startswith("test_"):
                    p = os.path.join(dirpath, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    with open(os.path.join(ROOT, "bench.py"), "rb") as fh:
        h.update(fh.read())
    return "src-" + h.hexdigest()[:12]


def stamp(spark, workload: str, seed: int) -> dict:
    import pyspark

    sc = spark.sparkContext
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "workload": workload,
        "seed": seed,
        "commit": _source_digest(),
    }


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _gmean(xs) -> float:
    """Geometric mean of the positive values (a failed pipeline records
    0 s; the failure itself is counted in ``failed``)."""
    xs = [x for x in xs if x > 0]
    return statistics.geometric_mean(xs) if xs else 0.0


def run(args) -> int:
    work_dir = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work_dir, exist_ok=True)
    _environment(work_dir)
    try:
        return _run(args, work_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def _setup(wl) -> tuple[float, float]:
    """Generate inputs, then warm: the checked pass and the untimed
    warm-up passes. Returns (generation s, warm s without checks)."""
    t0 = time.perf_counter()
    wl.prepare()
    gen_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.warm()
    wl.between_passes()
    for i in range(WARM_PASSES):
        ops = wl.run_pass(-1 - i)
        wl.check_pass(ops)
        wl.warm_failures += [
            f"warm-up pass {i}: {op.name}: {op.error}" for op in ops if not op.ok
        ]
        wl.between_passes()
    return gen_s, time.perf_counter() - t0 - wl.oracle_s


def _traced_pass(ctx, wl, index: int):
    """Run pass ``index`` with spans and probe reads on; return its
    seconds, operations and layer values."""
    from spans import self_times, total_time
    from workloads import layer_counts

    probe = ctx.probe
    gc0, in0, sb0 = probe.gc_s(), probe.input_bytes(), probe.stage_bytes()
    n_spans, n_cat = len(ctx.recorder.spans), len(ctx.catalyst)
    t0 = time.perf_counter()
    with ctx.tracer.span("pass", op=f"p{index}"):
        ops = wl.run_pass(index)
    dt = time.perf_counter() - t0

    layers = layer_counts(ctx)
    sb1 = probe.stage_bytes()
    layers["jvm.gc_s"] = probe.gc_s() - gc0
    layers["scan.input_bytes"] = float(probe.input_bytes() - in0)
    layers["exec.shuffle_write_bytes"] = float(sb1["shuffle_write"] - sb0["shuffle_write"])
    layers["exec.spill_bytes"] = float(sb1["spill"] - sb0["spill"])
    files, size = wl.output_files(index)
    layers["push.files"], layers["push.bytes"] = float(files), float(size)
    spans = ctx.recorder.spans[n_spans:]
    for name in ("construct", "plan", "exec", "pull", "typedetect", "push"):
        layers[f"{name}.s"] = total_time(spans, name)
    for name, v in self_times(spans).items():
        layers[f"self.{name}_s"] = v
    cat = ctx.catalyst[n_cat:]
    for k in ("analysis", "optimization", "planning", "nodes"):
        name = "plan.nodes" if k == "nodes" else f"plan.{k}_ms"
        layers[name] = _median([c[k] for c in cat])
    return dt, ops, layers


def _run(args, work_dir: str) -> int:
    from workloads import WORKLOADS, Ctx

    traced = bool(args.trace)
    t0 = time.perf_counter()
    spark = _session(work_dir)
    session_s = time.perf_counter() - t0
    try:
        env = stamp(spark, args.workload, args.seed)
        print("perfbench stamp " + json.dumps(env, sort_keys=True), flush=True)
        ctx = Ctx(spark, work_dir, args.seed, traced)
        wl = WORKLOADS[args.workload](ctx)
        gen_s, warm_s = _setup(wl)
        setup_s = time.perf_counter() - T_START - gen_s - wl.oracle_s

        # a traced run alternates untraced and traced passes, U T U ...,
        # and ends on an untraced one
        passes = []  # (traced, seconds, ops, layers)
        t_measure = time.perf_counter()
        while True:
            i = len(passes)
            ctx.tracing = traced and i % 2 == 1
            if ctx.tracing:
                dt, ops, layers = _traced_pass(ctx, wl, i)
            else:
                t0 = time.perf_counter()
                ops = wl.run_pass(i)
                dt, layers = time.perf_counter() - t0, {}
            wl.check_pass(ops)
            passes.append((ctx.tracing, dt, ops, layers))
            wl.between_passes()
            n = len(passes)
            enough = n >= MIN_PASSES and (not traced or (n >= 3 and n % 2 == 1))
            if enough and time.perf_counter() - t_measure >= args.seconds:
                break
        ctx.tracing = False

        ops_all = [op for _, _, ops, _ in passes for op in ops]
        attempted = len(ops_all) + wl.warm_checks
        failed = sum(not op.ok for op in ops_all) + len(wl.warm_failures)
        for msg in wl.warm_failures:
            print(f"perfbench FAIL warm {msg}", file=sys.stderr)
        for op in ops_all:
            if not op.ok:
                print(f"perfbench FAIL {op.name}: {op.error}", file=sys.stderr)

        plain = [(dt, ops) for t, dt, ops, _ in passes if not t]
        pass_s = _median([dt for dt, _ in plain])
        by_op: dict[str, list[float]] = {}
        for _, ops in plain:
            for op in ops:
                by_op.setdefault(op.name, []).append(op.seconds)
        op_medians = {k: _median(v) for k, v in by_op.items()}
        report = {
            "setup_s": setup_s,
            "pass_s": pass_s,
            # geometric mean over operations of each one's median over the
            # passes: every operation moves it by its own relative change
            "action_gmean_s": _gmean(list(op_medians.values())),
            # the middle operation's median: with 6-7 operations a pass
            # this is one operation's time, printed, not bounded
            "action_p50_s": _median(list(op_medians.values())),
            "ops_failed_frac": failed / attempted,
        }
        if wl.input_rows:
            report["rows_per_s"] = wl.input_rows / pass_s
        print(
            f"perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
            f"passes={len(passes)} actions={len(ops_all)} "
            f"input_rows_per_pass={wl.input_rows}"
        )
        print("perfbench pass_s " + json.dumps([round(dt, 4) for dt, _ in plain]))
        if wl.warm_times:
            print("perfbench warm_op_s " + json.dumps(
                {k: round(v, 4) for k, v in wl.warm_times.items()}))
        print("perfbench op_median_s " + json.dumps(
            {k: round(v, 4) for k, v in op_medians.items()}))
        for k, v in report.items():
            print(f"metric {k} {v!r} {UNITS[k]}")

        if traced:
            metrics = _layer_metrics(passes, session_s, warm_s, gen_s)
            trace_dir = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            ctx.recorder.dump(
                os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"),
                {"stamp": env, "metrics": metrics},
            )
            out = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in metrics.items()}
            for k, v in out.items():
                print(f"metric {k} {v['value']!r} {v['unit']}")
        else:
            out = {k: {"value": report[k], "unit": UNITS[k]} for k in END_TO_END}
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": out,
        }), flush=True)
        return 0 if failed == 0 else 1
    finally:
        gateway = spark.sparkContext._gateway
        spark.stop()
        _stop_jvm(gateway)


def _stop_jvm(gateway) -> None:
    """End the JVM the session launched and wait until it has exited, so
    no process of the run outlives it: the JVM exits when its stdin
    closes."""
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


#: the per-layer metrics a traced run prints, in order
LAYER_METRICS = [
    ("session.start_s", "s"), ("warm.s", "s"), ("gen.s", "s"),
    ("construct.s", "s"), ("construct.jobs", "count"),
    ("plan.analysis_ms", "ms"), ("plan.optimization_ms", "ms"),
    ("plan.planning_ms", "ms"), ("plan.nodes", "count"),
    ("exec.s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.shuffle_write_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"),
    ("typedetect.s", "s"), ("typedetect.jobs", "count"),
    ("pull.s", "s"), ("push.s", "s"), ("push.bytes", "bytes"),
    ("push.files", "count"), ("scan.input_bytes", "bytes"),
    ("jvm.gc_s", "s"),
    ("self.pass_s", "s"), ("self.op_s", "s"), ("self.construct_s", "s"),
    ("self.plan_s", "s"), ("self.exec_s", "s"), ("self.pull_s", "s"),
    ("self.typedetect_s", "s"), ("self.push_s", "s"),
    ("trace.overhead_frac", "1"),
]


LAYER_UNITS = dict(LAYER_METRICS)


def _layer_metrics(passes, session_s, warm_s, gen_s) -> dict[str, float]:
    """Per traced pass: the mean of each layer value over the traced
    passes (Catalyst values are already per-action medians)."""
    traced = [layers for t, _, _, layers in passes if t]
    out = {"session.start_s": session_s, "warm.s": warm_s, "gen.s": gen_s}
    for name, _ in LAYER_METRICS:
        if name not in out and name != "trace.overhead_frac":
            out[name] = sum(lay.get(name, 0.0) for lay in traced) / len(traced)
    t_traced = _median([dt for t, dt, _, _ in passes if t])
    t_plain = _median([dt for t, dt, _, _ in passes if not t])
    out["trace.overhead_frac"] = t_traced / t_plain - 1.0
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    for need in ("bench.py", "pybabe_spark", "tests"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
