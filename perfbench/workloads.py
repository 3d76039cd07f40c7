"""The two workloads. Each runs one closed-loop client: an operation
starts only when the previous one has returned.

Every workload records its operations as ``{"pass", "kind", "name", "s",
"ok", "why"}`` (pass 0 is the cold pass) plus the wall time of each pass,
and, when tracing, per-layer values. ``run.py`` turns these into metrics.
Why each workload and each frozen list was chosen is in ``README.md``.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from datagen import MINUTE_MS, candle_grid, write_fixture_tables
from checks import mismatch, rows_digest

EXPECTED_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected")

# Frozen by name. A subset of the iterative / eager-build families, sized
# so a cold pass plus timed passes fit one run (README.md, "Why the list
# is a subset").
PIPELINE_SWEEP = [
    "ann_cosine_topk_ivf",
    "dedup_incremental_minhash",
    "embedding_mutual_knn",
    "part_pagerank",
]

SYMBOLS = ["BTC/USD", "ETH/USD", "XRP/USD", "LTC/USD"]
EXCHANGE = "perfbench"
TIMEFRAME = "1m"
PAGE_ROWS = 500
GRID_PAGES = 40
# one pass = one poll cycle per symbol, then a compaction
CYCLES_PER_PASS = len(SYMBOLS)
TAIL_MS = 59 * MINUTE_MS  # a tail read covers the symbol's last hour

# Pass 0 is the cold pass. Passes 1-3 are untimed warm-ups: in a fresh
# JVM a pass keeps getting cheaper until about the fourth (JIT); in one
# 12-pass run, pass CPU time fell 30% from pass 1 to pass 4, then moved
# only with pass-to-pass noise. Timing the still-warming passes made a
# run's figures depend on how fast its JIT settled. Passes from
# TIMED_FROM on are timed.
TIMED_FROM = 4

# Pass times keep falling through a run. So a loop bounded by time ran
# 2 passes in some runs and 3 in others, and that alone moved pass_s by
# about 15%. Instead, ``--seconds`` becomes a fixed number of timed
# passes at the nominal pass time of a 4-core host.
PASS_SECONDS = 4.0


def timed_passes(seconds: float) -> int:
    return max(1, round(seconds / PASS_SECONDS))


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def program_cpu_s() -> float:
    """CPU seconds used so far by this process and every process below it:
    the JVM, its Python daemon and workers. Each counts user and system
    time plus that of the children it has reaped, so a worker that exits
    still counts, through its parent. Other processes on the machine do
    not count.

    Wall time on a shared host grows with steal, the time the host runs
    other guests on this machine's CPUs: runs with 10% steal measured about
    30% slower, run to run. The kernel leaves steal out of a process's CPU
    time, so the bounded metrics use it."""
    parent, ticks = {}, {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited meanwhile
            continue
        parent[int(pid)] = int(f[1])
        ticks[int(pid)] = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / _CLK_TCK


@dataclass
class Ctx:
    spark: object
    inputs: object  # fixture-table directory (sweep) or candle grid (ingest)
    work_dir: str
    seed: int
    seconds: float
    tracer: object


@dataclass
class Record:
    ops: list[dict] = field(default_factory=list)
    passes: list[float] = field(default_factory=list)  # wall s
    passes_cpu: list[float] = field(default_factory=list)  # program CPU s
    layer: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)

    def op(
        self, pass_no: int, kind: str, name: str, s: float, cpu: float, why: str | None
    ) -> None:
        self.ops.append(
            {"pass": pass_no, "kind": kind, "name": name, "s": s, "cpu_s": cpu,
             "ok": why is None, "why": why}
        )


def median(xs: list[float]) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2


# --- pipeline sweep --------------------------------------------------------


def pipeline_sweep(ctx: Ctx) -> Record:
    from ccxt_ohlcv_fetcher_spark.plans import load_all

    registry = load_all()
    with open(os.path.join(EXPECTED_DIR, "pipeline_sweep.json")) as fh:
        expected = json.load(fh)["queries"]
    spark, tracer, rec = ctx.spark, ctx.tracer, Record()
    per_pass: list[dict] = []

    def run_pass(pass_no: int) -> None:
        # The cold pass keeps the frozen order, so that the same query pays
        # the JVM's first-use costs in every run. Later passes rotate it,
        # starting at a rotation the seed picks. Any len(PIPELINE_SWEEP)
        # consecutive passes (the timed phase at run_seconds = 16) hold
        # every rotation once, so every seed times the same orders. A
        # shuffle per pass spread pass_cpu_s 0.15-0.25 (IQR over median,
        # 10 seeds); one seed repeated spread 0.06, rotation 0.12.
        shift = 0 if pass_no == 0 else (ctx.seed + pass_no) % len(PIPELINE_SWEEP)
        order = PIPELINE_SWEEP[shift:] + PIPELINE_SWEEP[:shift]
        acc = {k: 0.0 for k in LAYER_KEYS.values()}
        t_pass = cpu_pass = 0.0
        for name in order:
            why = None
            with tracer.span("op", query=name, pass_no=pass_no) as op:
                t0, c0 = time.perf_counter(), program_cpu_s()
                try:
                    with tracer.span("builder"):
                        df = registry[name].builder(spark, ctx.inputs)
                    if tracer.enabled:
                        with tracer.span("plan"):
                            df._jdf.queryExecution().executedPlan()
                    with tracer.span("execute"):
                        if pass_no == 0:
                            rows = df.collect()  # checked below, untimed
                        else:
                            df.write.format("noop").mode("overwrite").save()
                except Exception as e:  # noqa: BLE001 - a failed query is a counted failure
                    why = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
                s, cpu = time.perf_counter() - t0, program_cpu_s() - c0
            t_pass += s
            cpu_pass += cpu
            if pass_no == 0 and why is None:
                why = mismatch(expected[name], rows_digest(df.columns, rows))
            rec.op(pass_no, "query", name, s, cpu, why)
            if op is not None:
                _sweep_layer(tracer, op, name, acc, rec.detail)
        rec.passes.append(t_pass)
        rec.passes_cpu.append(cpu_pass)
        if tracer.enabled:
            acc["operators.live_pins"] = tracer.live_pins()
            per_pass.append(acc)

    for pass_no in range(TIMED_FROM + timed_passes(ctx.seconds)):
        run_pass(pass_no)
    if tracer.enabled:
        rec.layer = _pass_medians(per_pass[TIMED_FROM:])
    return rec


# per-query span values -> the per-layer metric they are summed into
LAYER_KEYS = {
    "builder_s": "plans.builder_s",
    "builder_jobs": "plans.builder_jobs",
    "plan_s": "catalyst.plan_s",
    "run_s": "exec.run_s",
    "pins": "operators.pins",
}


def _sweep_layer(tracer, op: dict, name: str, acc: dict, detail: dict) -> None:
    spans = {s["name"]: s for s in tracer.children(op)}
    build, plan, exe = spans.get("builder"), spans.get("plan"), spans.get("execute")
    row = {
        "builder_s": build["end"] - build["start"] if build else 0.0,
        "plan_s": plan["end"] - plan["start"] if plan else 0.0,
        "run_s": exe["end"] - exe["start"] if exe else 0.0,
        "builder_jobs": build["counters"]["jobs"] if build else 0,
        "pins": op["counters"]["pins"],
    }
    exec_counters = {}
    for s in (plan, exe):
        for k, v in (s or {}).get("counters", {}).items():
            if k != "pins":
                exec_counters[k] = exec_counters.get(k, 0) + v
    if op["pass_no"] >= TIMED_FROM:
        for k, layer_key in LAYER_KEYS.items():
            acc[layer_key] += row[k]
        for k, v in exec_counters.items():
            acc[f"exec.{k}"] = acc.get(f"exec.{k}", 0) + v
    detail.setdefault(name, []).append({"pass": op["pass_no"], **row, **exec_counters})


def _pass_medians(timed: list[dict]) -> dict:
    """Per-layer values: each counter's median over the timed passes."""
    keys = {k for p in timed for k in p}
    return {k: median([p.get(k, 0) for p in timed]) for k in keys}


# --- candle ingest ---------------------------------------------------------


class _CountingSource:
    """Delegates to the program's ``FixturePagingSource``; counts rows
    fetched so the useful-row ratio can be taken."""

    def __init__(self, source):
        self.source = source
        self.page_size = source.page_size
        self.rows_fetched = 0

    def fetch_ohlcv(self, since_ms: int) -> list[list]:
        page = self.source.fetch_ohlcv(since_ms)
        self.rows_fetched += len(page)
        return page


class _DatasetProbe:
    """The dataset as ``ingest_candles`` sees it: records every
    ``resume_offset`` answer for the correctness check and, when tracing,
    puts a span around the resume and append calls."""

    def __init__(self, dataset, tracer):
        self.dataset = dataset
        self.tracer = tracer
        self.offsets: list[int | None] = []

    def resume_offset(self, *args):
        with self.tracer.span("resume"):
            off = self.dataset.resume_offset(*args)
        self.offsets.append(off)
        return off

    def append_idempotent(self, batch):
        with self.tracer.span("append"):
            return self.dataset.append_idempotent(batch)


def candle_ingest(ctx: Ctx) -> Record:
    from ccxt_ohlcv_fetcher_spark.operators.candle_log import SnapshotCandleDataset
    from ccxt_ohlcv_fetcher_spark.sources.paging import FixturePagingSource, ingest_candles
    from pyspark.sql import functions as F

    spark, tracer, rec = ctx.spark, ctx.tracer, Record()
    grid = ctx.inputs
    now_ms = max(rows[-1][0] for rows in grid.values()) + 2 * MINUTE_MS
    sources = {s: _CountingSource(FixturePagingSource(grid[s], PAGE_ROWS)) for s in SYMBOLS}
    table = os.path.join(ctx.work_dir, "candles")
    ds = SnapshotCandleDataset(spark, table)
    probe = _DatasetProbe(ds, tracer)
    stored = {s: 0 for s in SYMBOLS}  # rows of the grid committed so far
    layer = {k: [] for k in ("resume", "append", "append_jobs", "tail", "ratio", "read", "compact")}
    per_pass: list[dict] = []
    cycle = 0

    def add_counters(span: dict) -> None:
        """Fold a timed op's or compaction's Spark work into its pass."""
        acc = per_pass[-1]
        for k in span["counters"]:
            key = "operators.pins" if k == "pins" else f"exec.{k}"
            value = span["counters"]["pins"] if k == "pins" else tracer.subtree_counter(span, k)
            acc[key] = acc.get(key, 0) + value

    def poll(pass_no: int, sym: str) -> None:
        n_prev = stored[sym]
        want_resume = grid[sym][n_prev - 1][0] if n_prev else None
        want_rows = PAGE_ROWS if n_prev == 0 else PAGE_ROWS - 1
        n_offsets = len(probe.offsets)
        why = None
        with tracer.span("op", symbol=sym, pass_no=pass_no) as op:
            t0, c0 = time.perf_counter(), program_cpu_s()
            try:
                stats = ingest_candles(
                    spark, sources[sym], probe, EXCHANGE, sym, TIMEFRAME, now_ms, max_pages=1
                )
                last = grid[sym][n_prev + want_rows - 1][0]
                with tracer.span("read"):
                    t_read = time.perf_counter()
                    n_tail = ds.read(EXCHANGE, sym, TIMEFRAME, since_ms=last - TAIL_MS).count()
                    read_s = time.perf_counter() - t_read
            except Exception as e:  # noqa: BLE001 - a failed cycle is a counted failure
                why = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
            s, cpu = time.perf_counter() - t0, program_cpu_s() - c0
        if why is None:
            stored[sym] = n_prev + stats.rows_appended
            offsets = probe.offsets[n_offsets:]
            if offsets != [want_resume]:
                why = f"resume_offset {offsets} != expected [{want_resume}]"
            elif stats.rows_appended != want_rows:
                why = f"appended {stats.rows_appended} != expected {want_rows}"
            elif n_tail != min(60, stored[sym]):
                why = f"tail read {n_tail} rows != expected {min(60, stored[sym])}"
        rec.op(pass_no, "poll", sym, s, cpu, why)
        if why is None and pass_no >= TIMED_FROM:
            layer["read"].append(read_s)
        if op is not None and pass_no >= TIMED_FROM:
            add_counters(op)
            spans = {c["name"]: c for c in tracer.children(op)}
            for name in ("resume", "append"):
                sp = spans.get(name)
                if sp:
                    layer[name].append(sp["end"] - sp["start"])
            if "append" in spans:
                layer["append_jobs"].append(spans["append"]["counters"]["jobs"])
            head = ds.store.last_head_read or {}
            layer["tail"].append(head.get("tail_manifests", 0))
            ranges = ds._ranges(EXCHANGE, sym, TIMEFRAME, last - TAIL_MS, None)
            layer["ratio"].append(
                len(ds.store.pruned_files(ranges)) / max(1, len(ds.store.manifest()["files"]))
            )

    def run_pass(pass_no: int) -> None:
        nonlocal cycle
        per_pass.append({})
        t0, c0 = time.perf_counter(), program_cpu_s()
        for _ in range(CYCLES_PER_PASS):
            poll(pass_no, SYMBOLS[cycle % len(SYMBOLS)])
            cycle += 1
        why = None
        with tracer.span("compact", pass_no=pass_no) as span:
            t_c, c_c = time.perf_counter(), program_cpu_s()
            try:
                ds.compact()
            except Exception as e:  # noqa: BLE001
                why = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
            s, cpu = time.perf_counter() - t_c, program_cpu_s() - c_c
        rec.op(pass_no, "compact", "compact", s, cpu, why)
        if pass_no >= TIMED_FROM:
            layer["compact"].append(s)
            if span is not None:
                add_counters(span)
        rec.passes.append(time.perf_counter() - t0)
        rec.passes_cpu.append(program_cpu_s() - c0)
        if tracer.enabled:
            per_pass[-1]["operators.live_pins"] = tracer.live_pins()

    def grid_left() -> bool:
        return all(stored[s] + PAGE_ROWS <= len(grid[s]) for s in SYMBOLS)

    for pass_no in range(TIMED_FROM):
        run_pass(pass_no)
    t_timed = time.perf_counter()
    for pass_no in range(TIMED_FROM, TIMED_FROM + timed_passes(ctx.seconds)):
        if not grid_left():
            break
        run_pass(pass_no)
    timed_s = time.perf_counter() - t_timed
    rows_timed = sum(
        (PAGE_ROWS - 1) for o in rec.ops if o["kind"] == "poll" and o["pass"] >= TIMED_FROM and o["ok"]
    )

    # final state against the grid: row count, key uniqueness, values
    why = None
    try:
        final = ds.read().select(
            "symbol", "timestamp", *(F.col(c).cast("double") for c in ("open", "high", "low", "close", "volume"))
        )
        got = final.collect()
        n_keys = final.select("symbol", "timestamp").distinct().count()
        want = [
            (sym.replace("/", ""), *row)
            for sym in SYMBOLS
            for row in grid[sym][: stored[sym]]
        ]
        cols = ["symbol", "timestamp", "open", "high", "low", "close", "volume"]
        if n_keys != len(got):
            why = f"{len(got) - n_keys} duplicate keys"
        else:
            why = mismatch(rows_digest(cols, want), rows_digest(cols, got))
    except Exception as e:  # noqa: BLE001
        why = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
    rec.op(-1, "final_check", "table", 0.0, 0.0, why)

    table_bytes = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(table) for f in fs
    )
    live_rows = sum(stored.values())
    fetched = sum(src.rows_fetched for src in sources.values())
    appended = sum(stored.values())
    reads = sorted(layer["read"])
    rec.layer = {
        "read_p50_s": median(reads),
        "read_p90_s": percentile(reads, 0.9),
        "compact_s": median(layer["compact"]),
        "rows_per_s": rows_timed / timed_s,
        "stored_bytes_per_row": table_bytes / max(1, live_rows),
        "snapshots.bytes_written": table_bytes,
        "snapshots.live_files": len(ds.store.manifest()["files"]),
        "paging.useful_row_ratio": appended / max(1, fetched),
    }
    if tracer.enabled:
        rec.layer.update(_pass_medians(per_pass[TIMED_FROM:]))
        rec.layer.update(
            {
                "candle_log.resume_offset_s": median(layer["resume"]),
                "candle_log.append_s": median(layer["append"]),
                "candle_log.append_jobs": median(layer["append_jobs"]),
                "snapshots.head_tail_manifests": sum(layer["tail"]) / max(1, len(layer["tail"])),
                "snapshots.files_scanned_ratio": sum(layer["ratio"]) / max(1, len(layer["ratio"])),
            }
        )
    return rec


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    return xs[min(len(xs) - 1, max(0, int(-(-q * len(xs) // 1)) - 1))]


def _fixture_inputs(seed: int, out_dir: str) -> str:
    write_fixture_tables(out_dir)
    return out_dir


def _grid_inputs(seed: int, out_dir: str) -> dict[str, list[list]]:
    return candle_grid(seed, SYMBOLS, PAGE_ROWS * GRID_PAGES)


# name -> (make inputs from the seed, run)
WORKLOADS = {
    "pipeline_sweep": (_fixture_inputs, pipeline_sweep),
    "candle_ingest": (_grid_inputs, candle_ingest),
}
