"""Per-layer metrics of a traced run.

``TracedRun`` switches tracing on for a pass (function spans, the
streaming listener, /proc counters) and off again, and ``finish`` joins
the spans with the jobs of Spark's event log into the ``per_layer``
metrics of BENCHMARK.json. Every metric is a figure of the traced pass
unless its name says otherwise.
"""

from __future__ import annotations

import os
import statistics
import time

from tracing import (
    JOB_METRICS,
    FunctionWrapper,
    Span,
    Tracer,
    in_window,
    innermost,
    jvm_pid,
    parse_event_log,
    python_workers_cpu_s,
    self_times,
    settle,
    union_s,
)

OPERATORS = ("joins", "windows", "aggregates", "corrections", "grids", "dedup", "lm",
             "text", "cleaning", "sampling", "similarity", "search")
PLANS = ("stations", "ldist", "landings", "shrimp")
PHASES = ("analysis", "optimization", "planning")
STREAM_KEYS = ("add_batch_s", "wal_commit_s", "commit_s", "query_planning_s",
               "latest_offset_s", "state_commit_s")

#: the per_layer metrics, in BENCHMARK.json order: name → unit
PER_LAYER: dict[str, str] = {
    "session.start_s": "s", "session.ship_s": "s", "session.release_s": "s",
    "catalog.load_table.calls": "count", "catalog.load_table.s": "s",
    "suite.construct_s": "s", "suite.construct_jobs": "count",
    "spark.analysis_s": "s", "spark.optimization_s": "s", "spark.planning_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_s": "s", "spark.cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
    "spark.input_mb": "MB", "spark.busy_frac": "frac", "spark.job_s": "s",
    "spark.driver_gap_s": "s",
    "transfer.s": "s", "transfer.rows": "count", "transfer.mb": "MB",
    **{f"plans.{p}.{k}": u for p in PLANS for k, u in (("s", "s"), ("jobs", "count"))},
    **{f"operators.{m}.{k}": u for m in OPERATORS for k, u in (("s", "s"), ("jobs", "count"))},
    "pyworker.cpu_s": "s", "process.peak_rss_mb": "MB", "api.s": "s",
    "sinks.s": "s", "sinks.mb_written": "MB", "sinks.files_written": "count",
    "sinks.write_amp": "ratio", "sources.s": "s", "streaming.s": "s",
    "streaming.batches": "count", "streaming.input_rows": "count",
    "streaming.batch_p50_s": "s",
    **{f"streaming.{k}": "s" for k in STREAM_KEYS},
    "streaming.state_rows": "count", "streaming.state_mb": "MB",
    "trace.wall_s": "s", "trace.overhead_frac": "frac", "trace.jobs_unattributed": "count",
    "trace.unattributed_frac": "frac",
}

_SLACK = 0.005  # event-log times are whole milliseconds


class TracedRun:
    """Tracing for the traced pass of one run."""

    def __init__(self, spark, cpus: int, scratch: str, progress: list[dict]) -> None:
        self.spark = spark
        self.cpus = cpus
        self.scratch = scratch
        self.tracer = Tracer()
        self.wrapper = FunctionWrapper(self.tracer)
        self.jvm_pid = jvm_pid(spark)
        self.progress = progress  # filled by the run's StreamingQueryListener
        self.ops: dict[int, dict] = {}  # op id → plan phases, result size, files written

    # -------------------------------------------------- pass bracketing
    def begin_pass(self) -> None:
        self._cpu0 = python_workers_cpu_s(self.jvm_pid)
        self.wrapper.install()
        self._t0 = time.time()

    def on_result(self, res) -> None:
        """After each traced op: its plan phases, result size, and the
        files it wrote (charged to the trace layer, not to the op's)."""
        tr = self.tracer
        sp = tr.open("trace", "trace.collect")
        phases = dict.fromkeys(PHASES, 0.0)
        if res.df is not None:
            try:
                ph = res.df._jdf.queryExecution().tracker().phases()
                for k in PHASES:
                    opt = ph.get(k)
                    if opt.isDefined():
                        phases[k] = opt.get().durationMs() / 1e3
            except Exception as e:  # noqa: BLE001 - a missing tracker must not fail the op
                print(f"trace: no plan phases for {res.name}: {e!r}")
        t0 = tr.op_root.t0
        files = []
        for dirpath, _, names in os.walk(self.scratch):
            for n in names:
                try:
                    st = os.stat(os.path.join(dirpath, n))
                except FileNotFoundError:
                    continue
                if st.st_mtime >= t0:
                    files.append((st.st_mtime, st.st_size))
        self.ops[tr.op_root.op] = {
            "phases": phases,
            "rows": res.table.num_rows if res.table is not None else 0,
            "mb": res.table.nbytes / 1e6 if res.table is not None else 0.0,
            "files": files,
        }
        tr.close(sp)

    def end_pass(self, wall: float) -> None:
        self.window = (self._t0, time.time())
        self.wall = wall
        self.wrapper.uninstall()
        settle(self.progress)
        self.pyworker_cpu_s = python_workers_cpu_s(self.jvm_pid) - self._cpu0

    # ------------------------------------------------------ aggregation
    def finish(self, event_log: str, setups: list[dict], peak_rss_mb: float,
               spans_path: str) -> dict:
        jobs = parse_event_log(event_log)
        spans = self.tracer.spans
        roots = sorted((s for s in spans if s.layer == "op"), key=lambda s: s.t0)
        by_op: dict[int, list] = {}
        for s in spans:
            by_op.setdefault(s.op, []).append(s)
        t0, t1 = self.window

        # attribute jobs to ops by time window (ops run serially), and
        # record each as a "spark" span under the span that submitted it,
        # so the other layers' self times exclude Spark execution
        op_jobs: dict[int, list[dict]] = {r.op: [] for r in roots}
        job_spans = []
        unattributed = 0
        for j in jobs:
            if not t0 - _SLACK <= j["t0"] <= t1 + _SLACK:
                continue
            r = next((r for r in roots if r.t0 - _SLACK <= j["t0"] <= r.t1 + _SLACK), None)
            if r is None:
                unattributed += 1
                continue
            op_jobs[r.op].append(j)
            parent = innermost(by_op[r.op], j["t0"]) or r
            j["layer"] = parent.layer
            job_spans.append(Span(
                -j["id"] - 1, parent.sid, r.op, "spark", f"spark.job.{j['id']}",
                max(j["t0"], r.t0), min(j["t1"] or r.t1, r.t1),
                attrs={k: j[k] for k in ("stages", "tasks", "task_s", "cpu_s")}))
        for s in job_spans:
            by_op[s.op].append(s)
        spans = spans + job_spans
        selfs = self_times(spans)
        os.makedirs(os.path.dirname(spans_path), exist_ok=True)
        self.tracer.dump(spans_path, job_spans)

        layer_s: dict[str, float] = {}
        layer_jobs: dict[str, int] = {}
        name_s: dict[str, float] = {}
        name_calls: dict[str, int] = {}
        construct_s = construct_jobs = job_s = 0.0
        sink_bytes = sink_files = 0
        sink_out_mb = 0.0
        worst = 0.0
        for r in roots:
            op_spans = by_op[r.op]
            for s in op_spans:
                layer_s[s.layer] = layer_s.get(s.layer, 0.0) + selfs[s.sid]
                name_s[s.name] = name_s.get(s.name, 0.0) + selfs[s.sid]
                name_calls[s.name] = name_calls.get(s.name, 0) + 1
            suites = [s for s in op_spans if s.layer == "suite"]
            construct_s += sum(s.t1 - s.t0 for s in suites)
            sinks = [s for s in op_spans if s.layer == "sinks"]
            for j in op_jobs[r.op]:
                layer_jobs[j["layer"]] = layer_jobs.get(j["layer"], 0) + 1
                if any(s.t0 - _SLACK <= j["t0"] <= s.t1 + _SLACK for s in suites):
                    construct_jobs += 1
                if j["layer"] == "sinks":
                    sink_out_mb += j["output_mb"]
            wall = r.t1 - r.t0
            job_s += union_s([(j["t0"], j["t1"] or r.t1) for j in op_jobs[r.op]], r.t0, r.t1)
            for mtime, size in self.ops[r.op]["files"]:
                if any(s.t0 - _SLACK <= mtime <= s.t1 + _SLACK for s in sinks):
                    sink_bytes += size
                    sink_files += 1
            # layer self-times account for the op: only the root's own
            # (harness) time is in no layer
            worst = max(worst, selfs[r.sid] / wall if wall else 0.0)

        traced_wall = sum(r.t1 - r.t0 for r in roots)
        all_jobs = [j for js in op_jobs.values() for j in js]
        spark = {k: sum(j[k] for j in all_jobs) for k in JOB_METRICS}
        prog = in_window(self.progress, t0, t1)
        results = [self.ops[r.op] for r in roots]
        m: dict[str, float] = {
            "session.start_s": statistics.median(s["start_s"] for s in setups),
            "session.ship_s": statistics.median(s["ship_s"] for s in setups),
            "session.release_s": layer_s.get("session", 0.0),
            "catalog.load_table.calls": name_calls.get("catalog.load_table", 0),
            "catalog.load_table.s": name_s.get("catalog.load_table", 0.0),
            "suite.construct_s": construct_s,
            "suite.construct_jobs": construct_jobs,
            **{f"spark.{k}_s": sum(o["phases"][k] for o in results) for k in PHASES},
            "spark.jobs": len(all_jobs),
            "spark.stages": sum(j["stages"] for j in all_jobs),
            "spark.tasks": sum(j["tasks"] for j in all_jobs),
            **{f"spark.{k}": spark[k] for k in
               ("task_s", "cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb",
                "spill_mb", "input_mb")},
            "spark.busy_frac": spark["task_s"] / (traced_wall * self.cpus) if traced_wall else 0.0,
            "spark.job_s": job_s,
            "spark.driver_gap_s": traced_wall - job_s,
            "transfer.s": layer_s.get("transfer", 0.0),
            "transfer.rows": sum(o["rows"] for o in results),
            "transfer.mb": sum(o["mb"] for o in results),
        }
        for layer in [f"plans.{p}" for p in PLANS] + [f"operators.{o}" for o in OPERATORS]:
            m[f"{layer}.s"] = layer_s.get(layer, 0.0)
            m[f"{layer}.jobs"] = layer_jobs.get(layer, 0)
        m.update({
            "pyworker.cpu_s": self.pyworker_cpu_s,
            "process.peak_rss_mb": peak_rss_mb,
            "api.s": layer_s.get("api", 0.0),
            "sinks.s": layer_s.get("sinks", 0.0),
            "sinks.mb_written": sink_bytes / 1e6,
            "sinks.files_written": sink_files,
            "sinks.write_amp": sink_bytes / 1e6 / sink_out_mb if sink_out_mb else 0.0,
            "sources.s": layer_s.get("sources", 0.0),
            "streaming.s": layer_s.get("streaming", 0.0),
            "streaming.batches": len(prog),
            "streaming.input_rows": sum(p["input_rows"] for p in prog),
            "streaming.batch_p50_s": statistics.median(p["batch_s"] for p in prog) if prog else 0.0,
            **{f"streaming.{k}": sum(p[k] for p in prog) for k in STREAM_KEYS},
            "streaming.state_rows": statistics.mean(p["state_rows"] for p in prog) if prog else 0.0,
            "streaming.state_mb": statistics.mean(p["state_mb"] for p in prog) if prog else 0.0,
            "trace.wall_s": self.wall,
            "trace.overhead_frac": self.tracer.own_s / self.wall,
            "trace.jobs_unattributed": float(unattributed),
            "trace.unattributed_frac": layer_s.get("op", 0.0) / traced_wall if traced_wall else 0.0,
        })
        print(f"trace: {len(roots)} traced ops, {len(all_jobs)} jobs; "
              f"largest share of an op's wall in no layer: {worst:.4f}; "
              f"spans in {os.path.relpath(spans_path)}")
        return {k: (float(m[k]), u) for k, u in PER_LAYER.items()}
