"""A/A steadiness check for the benchmark.

Run every workload N times, each with another seed, and print for each
metric the median, the quartiles and the IQR as a share of the median:

    python3 perfbench/steady.py run --runs 10 --out set_a.json
    python3 perfbench/steady.py run --runs 10 --seed0 200 --out set_b.json

Compare two sets against the bounds in ``BENCHMARK.json`` (the spread of
each set must stay within the bound, and the second
median may not be worse than the first by more than the bound):

    python3 perfbench/steady.py compare set_a.json set_b.json

Traced runs (``run --trace 1``) check that the deterministic counters
repeat exactly across runs; ``overhead`` compares a traced set's
``trace.pass_s`` with an untraced set's wall-time pass:

    python3 perfbench/steady.py overhead set_a.json traced.json
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
DETERMINISTIC = (
    "plans.builder_jobs",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "operators.pins",
    "candle_log.append_jobs",
)


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def cmd_run(args) -> int:
    bench = _bench()
    out: dict = {"trace": args.trace, "runs": {}}
    for w in (w["name"] for w in bench["workloads"]):
        runs = out["runs"][w] = []
        for i in range(args.runs):
            seed = args.seed0 + i
            cmd = [*bench["command"], "--workload", w, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            if p.returncode != 0:
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                return 1
            *_, info, last = p.stdout.strip().splitlines()
            result = json.loads(last)
            info = json.loads(info)
            runs.append({"seed": seed, "steal": info["env"]["cpu_steal_share"],
                         "passes_s": info["passes_s"], "wall": info["wall"], **result})
            print(f"{w} seed {seed}: failed {result['failed']}/{result['attempted']}", flush=True)
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1)
    report(out)
    return 0


def _values(runs: list[dict]) -> dict[str, list[float]]:
    vals: dict[str, list[float]] = {}
    for r in runs:
        for k, m in r["metrics"].items():
            vals.setdefault(k, []).append(m["value"])
    return vals


def report(data: dict) -> None:
    bounds = {m["name"]: m["bound"] for m in _bench()["end_to_end"]}
    for w, runs in data["runs"].items():
        print(f"\n{w}: {len(runs)} runs, failed ops {sum(r['failed'] for r in runs)}")
        print(f"  {'metric':32s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'iqr/med':>8s} {'bound':>6s}")
        for k, v in _values(runs).items():
            med, q1, q3, share = _spread(v)
            b = bounds.get(k)
            flag = "" if b is None else ("  ok" if share < b / 3 else ("  <bound" if share < b else "  NOISY"))
            print(f"  {k:32s} {med:12.4f} {q1:12.4f} {q3:12.4f} {share:8.3f} {b if b is not None else '':>6}{flag}")
        if not data.get("trace"):
            for k in ("pass", "geomean", "p50", "p90"):
                med, q1, q3, share = _spread([r["wall"][k] for r in runs])
                print(f"  {'wall ' + k:32s} {med:12.4f} {q1:12.4f} {q3:12.4f} {share:8.3f}  (unbounded)")
            steal = sorted(r["steal"] for r in runs)
            print(f"  steal share: min {steal[0]:.3f}, median {statistics.median(steal):.3f}, max {steal[-1]:.3f}")
        if data.get("trace"):
            for k in DETERMINISTIC:
                seen = {r["metrics"][k]["value"] for r in runs}
                print(f"  {k:32s} {'repeats exactly' if len(seen) == 1 else 'VARIES: ' + str(sorted(seen))}")


def cmd_compare(args) -> int:
    bench = _bench()
    with open(args.a) as fh:
        a = json.load(fh)
    with open(args.b) as fh:
        b = json.load(fh)
    ok = True
    for w in a["runs"]:
        va, vb = _values(a["runs"][w]), _values(b["runs"][w])
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            ma, _, _, sa = _spread(va[name])
            mb, _, _, sb = _spread(vb[name])
            worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            good = worse <= bound and sa <= bound and sb <= bound
            ok &= good
            print(f"{w:15s} {name:16s} median {ma:10.4f} -> {mb:10.4f} worse {worse:+.3f} "
                  f"spread {sa:.3f}/{sb:.3f} bound {bound}  {'ok' if good else 'FAIL'}")
    return 0 if ok else 1


def cmd_overhead(args) -> int:
    with open(args.untraced) as fh:
        plain = json.load(fh)
    with open(args.traced) as fh:
        traced = json.load(fh)
    for w in traced["runs"]:
        base = statistics.median(r["wall"]["pass"] for r in plain["runs"][w])
        t = statistics.median(r["metrics"]["trace.pass_s"]["value"] for r in traced["runs"][w])
        print(f"{w:15s} wall pass untraced {base:.3f} s, traced {t:.3f} s, overhead {(t - base) / base:+.1%}")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--seed0", type=int, default=1)
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    r.add_argument("--out", required=True)
    c = sub.add_parser("compare")
    c.add_argument("a")
    c.add_argument("b")
    o = sub.add_parser("overhead")
    o.add_argument("untraced")
    o.add_argument("traced")
    p = sub.add_parser("report")
    p.add_argument("file")
    args = ap.parse_args()
    if args.cmd == "run":
        return cmd_run(args)
    if args.cmd == "compare":
        return cmd_compare(args)
    if args.cmd == "overhead":
        return cmd_overhead(args)
    with open(args.file) as fh:
        report(json.load(fh))
    return 0


if __name__ == "__main__":
    sys.exit(main())
