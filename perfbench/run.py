"""Benchmark of the paper's pipeline: Cricsheet ingest, the reference's
queries, duel-graph PageRank and corpus curation.

Run from the repository root:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Workloads: query_mix and corpus_curation, and duel_graph and ingest,
which ``BENCHMARK.json`` leaves out (see ``README.md`` and
``workloads.py``). Each run is one fresh ``local[nproc]`` Spark process.
It makes its inputs from the seed (cached under ``.bench_cache/``), sets
up, repeats the workload's pass until ``--seconds`` would be exceeded,
then checks every answer. ``run_cpu_s``, the bounded time, is the median
CPU time of the process tree in a pass; ``run_s`` is the wall time of
the fastest pass. It prints a full record as one JSON line and, last,
the result line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of ``BENCHMARK.json`` (``--trace 0``) or its
per-layer metrics (``--trace 1``). A traced run first repeats the pass
untraced for ``--seconds`` and reports the difference as
``trace.overhead_s``; its spans are written to ``.bench_cache/traces/``.

``--self-check`` runs every workload at a tiny size, traced and
untraced, and fails unless each prints every metric ``BENCHMARK.json``
names.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

MAX_KEPT = 40  # trace and log files kept under .bench_cache


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _tree_pids(root: int) -> list[int]:
    pids, stack = [], [root]
    while stack:
        pid = stack.pop()
        pids.append(pid)
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as fh:
                    stack.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return pids


def _pss_kb(pid: int) -> int:
    """Proportional resident memory of a process: pages it shares (such
    as a freshly forked child's) are split among the sharers, so the
    tree's sum counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _resident_kb(pid: int, root: int) -> int:
    """RSS for this process and the JVM, which share no pages with the
    rest of the tree; PSS for the Python workers, which the worker
    daemon forks. (PSS of the JVM walks its page tables: ~50 ms a read
    at a 2 GB heap, holding the JVM's memory-map lock.)"""
    try:
        with open(f"/proc/{pid}/comm") as fh:
            forked = pid != root and fh.read().startswith("python")
        if forked:
            return _pss_kb(pid)
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * PAGE_KB
    except OSError:
        return 0


class PeakRss(threading.Thread):
    """Samples the resident memory of this process tree (Python, the
    JVM, the Python workers) every 200 ms and keeps the peak."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self.at_peak: dict[int, int] = {}  # pid -> resident kB at the peak
        self._stop_evt = threading.Event()

    def run(self):
        root = os.getpid()
        while not self._stop_evt.wait(0.2):
            rss = {p: _resident_kb(p, root) for p in _tree_pids(root)}
            if sum(rss.values()) > self.peak_kb:
                self.peak_kb, self.at_peak = sum(rss.values()), rss

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak_kb / 1024.0


def _host() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "ram_mb": mem_kb // 1024}


def _prune(directory: str) -> None:
    files = sorted(
        (os.path.join(directory, f) for f in os.listdir(directory)),
        key=os.path.getmtime,
    )
    for f in files[:-MAX_KEPT]:
        os.remove(f)


def _timed(wl, ctx, seconds: float, between) -> list[tuple[float, float, list]]:
    """A batch workload's one submission, or a closed loop of passes
    repeated while another one fits in ``seconds``. Returns (pass wall
    time, pass CPU time of the process tree, ops) per pass."""
    from bench import _tree_cpu_jiffies

    from spans import median

    hz = os.sysconf("SC_CLK_TCK")
    passes = []
    start = time.perf_counter()
    while True:
        t0, c0 = time.perf_counter(), _tree_cpu_jiffies()
        ops = wl.one_pass(ctx)
        passes.append(
            (time.perf_counter() - t0, (_tree_cpu_jiffies() - c0) / hz, ops)
        )
        between()
        elapsed = time.perf_counter() - start
        if wl.batch or elapsed + median(p[0] for p in passes) > seconds:
            return passes


def _results_path() -> str:
    import gen

    return os.path.join(gen.CACHE_DIR, "untraced_runs.jsonl")


def _untraced_run_s(args) -> float:
    """Median run_s of the untraced runs of this workload recorded in
    this checkout; with none recorded, of one made now in a child
    process (which records itself)."""
    from spans import median

    def recorded():
        if not os.path.exists(_results_path()):
            return []
        with open(_results_path()) as fh:
            rows = [json.loads(line) for line in fh if line.strip()]
        return [r["run_s"] for r in rows
                if r["workload"] == args.workload and r["tiny"] == args.tiny
                and r["seconds"] == args.seconds]

    if not recorded():
        cmd = [sys.executable, os.path.abspath(__file__), "--workload",
               args.workload, "--seed", str(args.seed), "--seconds",
               str(args.seconds), "--trace", "0"]
        subprocess.run(cmd + (["--tiny"] if args.tiny else []), cwd=ROOT,
                       capture_output=True, timeout=170, check=True)
    return median(recorded())


def _tail(lat: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum when there are fewer than eleven."""
    lat = sorted(lat)
    n = len(lat)
    if n < 11:
        return lat[-1], 100.0
    return lat[n - 11], 100.0 * (n - 10) / n


def _spark_totals(spark) -> dict:
    from spans import seq

    jsc = spark.sparkContext._jsc.sc()
    store = jsc.statusStore()
    n_jobs = 1 + max((j.jobId() for j in seq(store.jobsList(None))), default=-1)
    failed = sum(e.failedTasks() for e in seq(store.executorList(False)))
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gcs = beans.getGarbageCollectorMXBeans()
    gc_ms = sum(gcs.get(i).getCollectionTime() for i in range(gcs.size()))
    return {"spark.jobs": n_jobs, "spark.gc_s": gc_ms / 1e3,
            "spark.failed_tasks": failed}


def run(args) -> int:
    if importlib.util.find_spec("cricket_analytics_nosql_spark") is None:
        print("perfbench: the cricket_analytics_nosql_spark package is not in "
              f"{ROOT}; run from the repository root", file=sys.stderr)
        return 2
    import gen
    from workloads import WORKLOADS, Ctx, install_hooks

    from spans import Tracer, median

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    spec = _spec()
    wl = WORKLOADS[args.workload]
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(gen.CACHE_DIR, "runs", run_id)
    logs = os.path.join(gen.CACHE_DIR, "logs")
    traces = os.path.join(gen.CACHE_DIR, "traces")
    for d in (work, logs, traces):
        os.makedirs(d, exist_ok=True)
    host = _host()
    os.environ["SPARK_GRAFT_CPUS"] = str(host["nproc"])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # below physical RAM: session.py's default driver heap is 16g. The
    # heap starts at its maximum, so peak RSS does not depend on when
    # the collector decides to grow it.
    mem = f"{min(2048, host['ram_mb'] // 4)}m"
    os.environ["SPARK_DRIVER_MEM"] = mem
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Xms{mem}"

    # the driver log (the JVM inherits fd 2) is read per span for
    # codegen-fallback lines
    log_path = os.path.join(logs, run_id + ".log")
    err = os.fdopen(os.dup(2), "w")
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC)
    os.dup2(log_fd, 2)
    os.close(log_fd)

    rss = PeakRss()
    spark = None
    record: dict = {"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace, "host": host}
    try:
        untraced_s = _untraced_run_s(args) if args.trace else None
        ctx = Ctx(None, None, args.seed, args.tiny, work)
        t0 = time.perf_counter()
        wl.inputs(ctx)
        record["gen_s"] = time.perf_counter() - t0
        import pyspark

        from bench import ExternalLoadMeter
        from cricket_analytics_nosql_spark.session import get_spark

        rss.start()
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        record["session_s"] = time.perf_counter() - t0
        record["host"].update(
            spark=pyspark.__version__,
            java=spark.sparkContext._jvm.java.lang.System.getProperty(
                "java.version"
            ),
            driver_mem=os.environ["SPARK_DRIVER_MEM"],
        )
        tracer = Tracer(spark, run_id, log_path, enabled=bool(args.trace))
        ctx.spark, ctx.tracer = spark, tracer
        install_hooks(tracer)
        wl.setup(ctx)
        record["setup_s"] = record["session_s"] + ctx.setup_s
        tracer.harvest()

        meter = ExternalLoadMeter()
        m0 = meter.start()
        tracer.phase = "timed"
        passes = _timed(wl, ctx, args.seconds, tracer.harvest)
        record["ext_cores"] = meter.external_cores(m0)
        record["peak_rss_mb"] = rss.stop()
        record["peak_rss_by_pid_mb"] = {
            p: kb / 1024 for p, kb in rss.at_peak.items() if kb
        }
        tracer.unhook()

        ops = [op for *_, p in passes for op in p]
        wl.check(ctx, ops)
        lat = [op.latency_s for op in ops]
        tail, pct = _tail(lat)
        kind_p50_ms = {
            k: median(op.latency_s for op in ops if op.kind == k) * 1e3
            for k in sorted({op.kind for op in ops})
        }
        checked = ctx.setup_ops + ops
        failed = sum(1 for op in checked if not op.ok)
        record.update(
            passes=len(passes),
            pass_s=[p[0] for p in passes],
            pass_cpu_s=[p[1] for p in passes],
            # the bounded time: CPU seconds (user + system) of Python,
            # the JVM and the Python workers. Host CPU steal, which slows
            # whole runs of these sub-second jobs by up to 65%, is not
            # charged to them.
            run_cpu_s=median(p[1] for p in passes),
            # the fastest pass: one quiet pass is enough for the minimum
            run_s=min(p[0] for p in passes),
            op_p50_ms=median(lat) * 1e3,
            op_tail_ms=tail * 1e3,
            op_tail_pct=pct,
            op_samples=len(lat),
            op_kind_p50_ms=kind_p50_ms,
            op_kind_ms={
                k: [op.latency_s * 1e3 for op in ops if op.kind == k]
                for k in kind_p50_ms
            },
            setup_op_s={op.kind: op.latency_s for op in ctx.setup_ops},
            attempted=len(checked),
            failed=failed,
            failed_frac=failed / len(checked),
            errors=[f"{op.kind}: {op.error}" for op in checked if not op.ok][:5],
            **ctx.record,
            **_spark_totals(spark),
        )
        if args.trace:
            from layers import per_layer

            values = per_layer(spark, tracer.spans, record)
            values.update({k: record[k] for k in record if k.startswith("spark.")})
            values["trace.overhead_s"] = record["run_s"] - untraced_s
            names = spec["per_layer"]
            tracer.write(os.path.join(traces, run_id + ".json"))
        else:
            values = record
            names = spec["end_to_end"]
        metrics = {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in names
        }
    except Exception:
        traceback.print_exc(file=err)
        err.write(f"perfbench: run failed; driver log in {log_path}\n")
        return 1
    finally:
        if rss.is_alive():
            rss.stop()
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        _prune(logs)
        _prune(traces)
        os.dup2(err.fileno(), 2)
    if not args.trace and failed == 0:
        with open(_results_path(), "a") as fh:
            fh.write(json.dumps({"workload": args.workload, "seed": args.seed,
                                 "tiny": args.tiny, "seconds": args.seconds,
                                 "run_s": record["run_s"]}) + "\n")
    print(json.dumps(record, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(checked),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    SparkContext._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def self_check(seeds=(1,)) -> int:
    """Run every workload tiny, traced and untraced, and fail unless
    each run is correct and prints every metric BENCHMARK.json names."""
    spec = _spec()
    bad = 0
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            for seed in seeds:
                cmd = [sys.executable, os.path.abspath(__file__), "--workload",
                       w["name"], "--seed", str(seed), "--seconds", "1",
                       "--trace", str(trace), "--tiny"]
                out = subprocess.run(cmd, cwd=ROOT, capture_output=True,
                                     text=True, timeout=300)
                lines = out.stdout.strip().splitlines()
                res = json.loads(lines[-1]) if out.returncode == 0 else {}
                missing = sorted(
                    {m["name"] for m in spec[key]} - set(res.get("metrics", {}))
                )
                ok = res.get("correct") is True and not missing
                bad += not ok
                print(f"{w['name']} trace={trace} seed={seed}: "
                      f"{'ok' if ok else 'FAIL'}"
                      + (f" missing={missing}" if missing else "")
                      + ("" if res else f" exit={out.returncode} "
                         + out.stderr[-400:]))
    return 1 if bad else 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="tiny inputs (self-check only)")
    p.add_argument("--self-check", action="store_true")
    args = p.parse_args()
    if args.self_check:
        return self_check()
    if not args.workload:
        p.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
