"""Per-layer metrics of a traced run, computed from its spans.

Spans are grouped by their top-level span: one query of ``query_mix``,
one pass of the batch workloads, or the set-up ingest. A layer's value
is summed over its spans within each group; times (and ratios of times)
are then the median over groups, counts and sizes the mean.
"""

from __future__ import annotations

import statistics

from spans import MB, job_gap_ms, median, stage_sum, subtree_jobs, task_skew


def _mean(xs) -> float:
    xs = list(xs)
    return float(statistics.fmean(xs)) if xs else 0.0


class Layers:
    def __init__(self, spark, spans: list[dict]):
        self.spark = spark
        self.spans = [s for s in spans if "dur_s" in s]
        root = {}
        for s in spans:
            root[s["id"]] = s["id"] if s["parent"] is None else root[s["parent"]]
        self.root = root
        self._jobs = {s["id"]: subtree_jobs(spans, s["id"]) for s in self.spans}

    def groups(self, names, kind=None, phase=None) -> list[list[dict]]:
        """Spans named ``names`` grouped by top-level span; warm-up
        spans are left out, and with ``phase`` so is any other phase."""
        names = {names} if isinstance(names, str) else set(names)
        out: dict[int, list[dict]] = {}
        for s in self.spans:
            if (
                s["name"] in names
                and s["phase"] != "warmup"
                and phase in (None, s["phase"])
                and (kind is None or s["kind"] == kind)
            ):
                out.setdefault(self.root[s["id"]], []).append(s)
        return list(out.values())

    def jobs(self, group) -> list[dict]:
        return [j for s in group for j in self._jobs[s["id"]]]

    # per-group quantities
    def dur(self, g):
        return sum(s["dur_s"] for s in g)

    def n_jobs(self, g):
        return len(self.jobs(g))

    def gap_ms(self, g):
        return sum(job_gap_ms(s, self._jobs[s["id"]]) for s in g)

    def cpu_s(self, g):
        return stage_sum(self.jobs(g), "cpu_ns") / 1e9

    def mb(self, key):
        return lambda g: stage_sum(self.jobs(g), key) / MB

    def rows(self, key):
        return lambda g: stage_sum(self.jobs(g), key)

    def skew(self, g):
        stages = [st for j in self.jobs(g) for st in j["stages"]]
        if not stages:
            return 0.0
        return task_skew(self.spark, max(stages, key=lambda st: st["run_ms"]))

    def fallbacks(self, g):
        return sum(s["codegen_fallbacks"] for s in g)

    def med(self, names, fn, kind=None, scale=1.0, phase=None) -> float:
        return median(fn(g) for g in self.groups(names, kind, phase)) * scale

    def mean(self, names, fn, kind=None, phase=None) -> float:
        return _mean(fn(g) for g in self.groups(names, kind, phase))


def per_layer(spark, spans: list[dict], record: dict) -> dict[str, float]:
    """Every per-layer metric; a layer the workload does not reach
    reads 0."""
    L = Layers(spark, spans)
    m: dict[str, float] = {"session.start_s": record["session_s"]}
    for cmd in ("etl", "graph"):
        m[f"cli.{cmd}.jobs"] = L.mean(f"cli.{cmd}", L.n_jobs)
        m[f"cli.{cmd}.job_gap_ms"] = L.med(f"cli.{cmd}", L.gap_ms)

    scan = "sources.cricsheet.scan"
    m["sources.cricsheet.scan_s"] = L.med(scan, L.dur)
    m["sources.cricsheet.exec_cpu_s"] = L.med(scan, L.cpu_s)
    m["sources.cricsheet.input_mb"] = L.mean(scan, L.mb("input_b"))
    m["sources.cricsheet.task_skew"] = L.med(scan, L.skew)
    m["sources.cricsheet.quarantined"] = float(record.get("quarantined", 0))

    w = "operators.etl.write"
    m["operators.etl.write_s"] = L.med(w, L.dur)
    m["operators.etl.exec_cpu_s"] = L.med(w, L.cpu_s)
    m["operators.etl.rows_out"] = L.mean(w, L.rows("output_rows"))
    m["operators.etl.output_mb"] = L.mean(w, L.mb("output_b"))
    m["operators.etl.spill_mb"] = L.mean(w, L.mb("spill_b"))
    m["stored_bytes_ratio"] = float(record.get("stored_bytes_ratio", 0.0))

    # the queries of the timed loop; the gds.pageRank statement, which
    # query_mix runs in set-up, gives plans.cypher.build_jobs
    for layer, build, run, extra in (
        ("plans.mongo_pipeline", "compile", "exec", "shuffle_read_mb"),
        ("plans.cypher", "compile", "exec", "build_jobs"),
        ("operators.cricket", "build", "exec", None),
    ):
        b, r = f"{layer}.{build}", f"{layer}.{run}"
        m[f"{b}_ms"] = L.med(b, L.dur, scale=1e3, phase="timed")
        m[f"{r}_ms"] = L.med(r, L.dur, scale=1e3, phase="timed")
        m[f"{layer}.jobs_per_query"] = L.mean((b, r), L.n_jobs, phase="timed")
        if extra == "shuffle_read_mb":
            m[f"{layer}.shuffle_read_mb"] = L.mean(
                (b, r), L.mb("shuffle_read_b"), phase="timed"
            )
        elif extra == "build_jobs":
            graph_phase = "timed" if record["workload"] == "duel_graph" else "setup"
            m[f"{layer}.build_jobs"] = L.mean(b, L.n_jobs, phase=graph_phase)

    pr = "operators.graph.pagerank"
    m["operators.graph.pagerank_s"] = L.med(pr, L.dur)
    m["operators.graph.pagerank_jobs"] = L.mean(pr, L.n_jobs)
    m["operators.graph.build_jobs"] = L.mean(pr, L.n_jobs, kind="call")
    m["operators.graph.job_gap_ms"] = L.med(pr, L.gap_ms)
    m["operators.graph.shuffle_write_mb"] = L.mean(pr, L.mb("shuffle_write_b"))
    m["operators.graph.exec_cpu_s"] = L.med(pr, L.cpu_s)
    m["operators.graph.edges"] = float(record.get("edges", 0))

    m["operators.sinks.write_s"] = L.med("operators.sinks.write", L.dur)
    m["operators.sinks.output_mb"] = L.mean(
        "operators.sinks.write", L.mb("output_b")
    )

    for layer in ("operators.dedup", "operators.similarity", "operators.text"):
        m[f"{layer}.exec_s"] = L.med(layer, L.dur)
        m[f"{layer}.exec_cpu_s"] = L.med(layer, L.cpu_s)
        m[f"{layer}.shuffle_write_mb"] = L.mean(layer, L.mb("shuffle_write_b"))
        m[f"{layer}.jobs"] = L.mean(layer, L.n_jobs)
        if layer != "operators.text":
            m[f"{layer}.spill_mb"] = L.mean(layer, L.mb("spill_b"))
            m[f"{layer}.codegen_fallbacks"] = L.mean(layer, L.fallbacks)
    return m
