"""Benchmark entry point.

    python3 benchmark/run.py --workload serve_explore --seed 1 --seconds 10 --trace 0

Generates the seeded inputs inside a private run directory of the
checkout, starts one Spark session pinned to this host's cores and a
heap sized from its memory, runs the workload's closed loop, checks
every answer, and prints one JSON object as the last line of stdout:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. The run directory (inputs, Spark scratch, checkpoints,
temp files) is deleted before exit, and every process started is
stopped and waited for.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_LIMIT_S = 165.0  # no pass is started that would end after this, so a run ends within 180 s


def _heap() -> str:
    """Driver heap: a fifth of physical memory, between 1 and 4 GB, so the
    JVM, the Python workers and the oracle fit a no-swap host."""
    import probe

    gb = max(1, min(4, int(probe.host_memory_gb() / 5)))
    return f"{gb}g"


def _isolate(workdir: str) -> None:
    """Pin the engine's environment and point every scratch location
    at the run directory (Spark local dirs, JVM and Python temp dirs,
    the default warehouse via the working directory)."""
    import probe

    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(probe.core_count())
    os.environ["SPARK_DRIVER_MEM"] = _heap()
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = tmp
    os.chdir(workdir)


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            # The JVM exits when its stdin closes.
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _reap_children() -> None:
    """Stop and wait for anything this process started that is still up."""
    import signal

    import probe

    me = os.getpid()
    for pid in reversed(probe.tree(me)):
        if pid != me:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
    while True:
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            break


def _walls(bench, info) -> dict[str, float]:
    """The run's wall-clock figures over its counted ops: median and
    nearest-rank p90 op, and the median pass."""
    walls = sorted(r["wall_s"] * 1000 for r in bench.measured())
    return {
        "ops.latency_p50_ms": statistics.median(walls),
        "ops.latency_p90_ms": walls[math.ceil(0.9 * len(walls)) - 1],
        "ops.pass_s": statistics.median(info["passes_s"]),
    }


def _metrics(bench, info, session_s: float, trace: bool, host: dict) -> dict:
    import workloads as W

    if trace:
        values = bench.layer_metrics(info.get("extra", {}))
        values.update(_walls(bench, info))
        values["process.peak_rss_mb"] = bench.tree.peak_rss_mb()
        values["host.steal_frac"] = host["steal_frac"]
        values["host.loadavg_start"] = host["loadavg_start"]
        units = W.per_layer_units()
    else:
        ops = bench.measured()
        values = {
            "setup_s": info["setup_cpu_s"],
            "cpu_s_per_op": sum(r["cpu_s"] for r in ops) / len(ops),
        }
        units = W.END_TO_END
    return {name: {"value": values[name], "unit": unit} for name, unit in units.items()}


def _write_trace(args, bench, info, session_s: float, host: dict) -> None:
    """Every op's record (wall, CPU, steal, job-group counters) and every
    layer sample, written once at the end to .bench_out/ in the checkout."""
    out = os.path.join(ROOT, ".bench_out")
    os.makedirs(out, exist_ok=True)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "host": {
            "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
            "heap": os.environ["SPARK_DRIVER_MEM"],
            "loadavg_start": host["loadavg_start"],
            "steal_frac": host["steal_frac"],
        },
        "session_s": session_s,
        "build_s": info["build_s"],
        "warmup_s": info["warmup_s"],
        "setup_cpu_s": info["setup_cpu_s"],
        "warmup_replays_s": info.get("warmup_replays_s", []),
        "passes_s": info["passes_s"],
        "ops": bench.ops,
        "layer_samples_ms": dict(bench.layer),
        "failures": bench.failures,
    }
    with open(os.path.join(out, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
        json.dump(detail, f, indent=1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "panditya_spark", "__init__.py")):
        print(f"panditya_spark not found next to {HERE}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import corpus
    import probe
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2

    t_begin = time.monotonic()
    host = {"loadavg_start": probe.loadavg(), "stat0": probe.cpu_times()}
    workdir = os.path.join(ROOT, ".bench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir)
    cwd = os.getcwd()
    spark = None
    try:
        _isolate(workdir)
        c = corpus.generate(args.seed, W.SCALE[args.workload])
        data_dir = os.path.join(workdir, "data")
        corpus.write_csvs(c, data_dir)
        corpus.write_entity_snapshot(c, data_dir)
        tables_dir = None
        if args.workload == "analytics_batch":
            tables_dir = corpus.write_tables(args.seed, os.path.join(workdir, "tables"), W.REGISTRY_SF)

        from panditya_spark.session import get_spark

        cpu_start = probe.Tree().cpu()
        t0 = probe.now()
        spark = get_spark(f"bench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = probe.now() - t0

        ctx = argparse.Namespace(
            spark=spark, corpus=c, seed=args.seed, data_dir=data_dir, tables_dir=tables_dir,
            seconds=args.seconds, trace=bool(args.trace), cpu_start=cpu_start,
            deadline=probe.now() + RUN_LIMIT_S - (time.monotonic() - t_begin),
        )
        bench, info = W.WORKLOADS[args.workload](ctx)
        host["steal_frac"] = probe.steal_frac(host["stat0"], probe.cpu_times())
        metrics = _metrics(bench, info, session_s, bool(args.trace), host)
        for f in bench.failures[:20]:
            print(f"FAILED {f}", file=sys.stderr)
        print(
            f"host: cores={os.environ['SPARK_GRAFT_CPUS']} heap={os.environ['SPARK_DRIVER_MEM']} "
            f"loadavg_start={host['loadavg_start']:.2f} steal={host['steal_frac']:.4f} "
            f"ops={len(bench.ops)} passes={len(info['passes_s'])} wall={time.monotonic() - t_begin:.1f}s "
            f"session_s={session_s:.2f} build_s={info['build_s']:.2f} warmup_s={info['warmup_s']:.2f} "
            f"setup_cpu_s={info['setup_cpu_s']:.2f} "
            f"warmup_replays_s={','.join(f'{x:.2f}' for x in info.get('warmup_replays_s', []))} "
            f"passes_s={','.join(f'{x:.2f}' for x in info['passes_s'])} "
            + " ".join(f"{k}={v:.1f}" for k, v in _walls(bench, info).items()),
            file=sys.stderr,
        )
        if args.trace:
            _write_trace(args, bench, info, session_s, host)
        result = {
            "correct": not bench.failures,
            "attempted": len(bench.ops),
            "failed": len(bench.failures),
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            _stop_spark(spark)
        _reap_children()
        os.chdir(cwd)
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
