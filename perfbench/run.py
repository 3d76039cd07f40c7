"""Benchmark entry point.

    python3 perfbench/run.py --workload pipeline_sweep --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. One process, one
closed-loop client, Spark on ``local[min(4, nproc)]``. The last line of
stdout is ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics of ``BENCHMARK.json`` with ``--trace 0``, the
per-layer metrics with ``--trace 1``. The line before it records the
pinned environment. A traced run also writes its spans and per-query
counters to ``.perfbench_out/``. See ``README.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "ccxt_ohlcv_fetcher_spark"
# Fits a 15 GB host shared with other work. The initial heap is pinned to
# the maximum (-Xms): while G1 sized the heap as it went, whole runs of
# candle_ingest came out 15-20% apart in CPU time (IQR over median, 5
# runs); pinned, 5-8%.
DRIVER_MEMORY = "1g"
SETUP_REPS = 3

# Bounded metrics. Apart from setup_s and peak_rss_mb they are the CPU
# time of the program's processes, not wall time: see
# workloads.program_cpu_s. The wall-time twins of the pass and
# operation metrics are printed on the line before the result.
E2E_UNITS = {
    "setup_s": "s",
    "cold_pass_cpu_s": "cpu_s",
    "pass_cpu_s": "cpu_s",
    "query_cpu_geomean_s": "cpu_s",
    "op_cpu_p50_s": "cpu_s",
    "op_cpu_p90_s": "cpu_s",
    "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "plans.builder_s": "s",
    "plans.builder_jobs": "count",
    "catalyst.plan_s": "s",
    "exec.run_s": "s",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.result_bytes": "B",
    "exec.jvm_gc_s": "s",
    "exec.spill_bytes": "B",
    "operators.pins": "count",
    "operators.live_pins": "count",
    "candle_log.resume_offset_s": "s",
    "candle_log.append_s": "s",
    "candle_log.append_jobs": "count",
    "snapshots.head_tail_manifests": "count",
    "snapshots.live_files": "count",
    "snapshots.files_scanned_ratio": "ratio",
    "snapshots.bytes_written": "B",
    "paging.useful_row_ratio": "ratio",
    "read_p50_s": "s",
    "read_p90_s": "s",
    "compact_s": "s",
    "rows_per_s": "rows/s",
    "stored_bytes_per_row": "B",
    "fail_ratio": "ratio",
    "trace.pass_s": "s",
}


def _process_start_epoch() -> float:
    """Wall-clock start of this process, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _competing_processes() -> list[str]:
    """Other Spark JVMs or pytest runs: their load skews every timing."""
    me = os.getpid()
    hits = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if int(pid) != me and ("SparkSubmit" in cmd or "pytest" in cmd):
            hits.append(cmd[:160])
    return hits


def _cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies of all CPUs. Steal is time the host ran
    other guests while this one wanted the CPU."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return sum(fields), fields[7]


def _git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _pin_environment(work: str) -> dict:
    cores = min(4, os.cpu_count() or 1)
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "TMPDIR": os.path.join(work, "tmp"),
            "TZ": "UTC",
            # Python workers import the package by path, whatever the cwd
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        }
    )
    time.tzset()
    return {"cores": cores, "nproc": os.cpu_count(), "driver_memory": DRIVER_MEMORY}


def _log(proc_start: float, what: str) -> None:
    print(f"perfbench: {time.time() - proc_start:7.2f} s  {what}", file=sys.stderr, flush=True)


def _geomean(xs: list[float]) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else 0.0


def main(argv: list[str] | None = None) -> int:
    proc_start = _process_start_epoch()
    ticks0 = _cpu_ticks()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package next to perfbench/", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from workloads import TIMED_FROM, WORKLOADS, Ctx, median, percentile

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    make_inputs, run_workload = WORKLOADS[args.workload]

    work = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    env = _pin_environment(work)
    env["contended_by"] = _competing_processes()
    if env["contended_by"]:
        print(f"perfbench: WARNING, contended run: {env['contended_by']}", file=sys.stderr)

    # --- set-up. Imports and the session (with the JVM) start once per process;
    # input generation, the one part that can repeat, runs SETUP_REPS times
    # and its median is taken.
    import pyspark
    from pyspark import SparkContext

    from ccxt_ohlcv_fetcher_spark.plans import load_all
    from ccxt_ohlcv_fetcher_spark.session import get_spark

    load_all()
    t_import = time.time() - proc_start
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            },
        )
        session_s = time.perf_counter() - t0
        inputs_s = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            inputs = make_inputs(args.seed, os.path.join(work, f"inputs{rep}"))
            inputs_s.append(time.perf_counter() - t0)
        setup_s = t_import + session_s + median(inputs_s)
        _log(
            proc_start,
            f"set-up done: imports {t_import:.2f} s, JVM and session {session_s:.2f} s, "
            f"inputs {median(inputs_s):.2f} s",
        )

        env.update(
            {
                "workload": args.workload,
                "seed": args.seed,
                "seconds": args.seconds,
                "trace": args.trace,
                "spark_local_dirs": os.environ["SPARK_LOCAL_DIRS"],
                "git_commit": _git_commit(),
                "pyspark": pyspark.__version__,
                "java": spark._jvm.System.getProperty("java.version"),
                "python": sys.version.split()[0],
                "master": spark.sparkContext.master,
            }
        )
        from spans import Tracer

        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = Ctx(spark, inputs, work, args.seed, args.seconds, tracer)
        rec = run_workload(ctx)
        _log(proc_start, f"workload done, passes {[round(x, 2) for x in rec.passes]} s")
        rss_mb = (
            _vm_hwm_kb("self") + _vm_hwm_kb(SparkContext._gateway.proc.pid)
        ) / 1024.0
    finally:
        if spark is not None:
            spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        shutil.rmtree(work, ignore_errors=True)
        _log(proc_start, "stopped")

    ticks1 = _cpu_ticks()
    env["cpu_steal_share"] = (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0])
    timed = [o for o in rec.ops if o["pass"] >= TIMED_FROM and o["kind"] in ("query", "poll") and o["ok"]]
    failed = sum(not o["ok"] for o in rec.ops)
    for o in rec.ops:
        if not o["ok"]:
            print(f"perfbench: FAILED {o['kind']} {o['name']}: {o['why']}", file=sys.stderr)

    def pass_metrics(key: str, passes: list[float]) -> dict:
        """cold pass, median timed pass, median per-pass geomean and the
        op percentiles, of wall time (key "s") or program CPU ("cpu_s")."""
        per_pass: dict[int, list[float]] = {}
        for o in timed:
            per_pass.setdefault(o["pass"], []).append(o[key])
        lat = sorted(o[key] for o in timed)
        return {
            "cold_pass": passes[0],
            "pass": median(passes[TIMED_FROM:]),
            "geomean": median([_geomean(v) for v in per_pass.values()]),
            "p50": median(lat),
            "p90": percentile(lat, 0.9),
        }

    wall = pass_metrics("s", rec.passes)
    cpu = pass_metrics("cpu_s", rec.passes_cpu)
    if args.trace:
        values = {k: 0 for k in LAYER_UNITS}
        values.update(rec.layer)
        values["session.start_s"] = session_s
        values["fail_ratio"] = failed / len(rec.ops)
        values["trace.pass_s"] = wall["pass"]
        units = LAYER_UNITS
        tracer.write(
            os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"),
            {"env": env, "layer": values, "per_query": rec.detail, "ops": rec.ops,
             "passes": rec.passes},
        )
    else:
        values = {
            "setup_s": setup_s,
            "cold_pass_cpu_s": cpu["cold_pass"],
            "pass_cpu_s": cpu["pass"],
            "query_cpu_geomean_s": cpu["geomean"],
            "op_cpu_p50_s": cpu["p50"],
            "op_cpu_p90_s": cpu["p90"],
            "peak_rss_mb": rss_mb,
        }
        units = E2E_UNITS
    print(json.dumps({"env": env, "timed_ops": len(timed), "passes_s": rec.passes,
                      "passes_cpu_s": rec.passes_cpu, "wall": wall}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(rec.ops),
                "failed": failed,
                "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
