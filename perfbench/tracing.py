"""Per-layer tracing for the benchmark, from outside the program.

Three sources, all attached at run time without editing the program:

- Spans around calls into the program's modules. ``instrument`` wraps
  every public function of ``riptable_spark.operators.*``,
  ``riptable_spark.functions.*``, ``riptable_spark.sources.io`` and
  ``riptable_spark.streaming.*`` (and the ``DataFrameWriter`` calls the
  queries make), so a call records a span with its parent. A layer's
  self time is its spans' time minus the time of their child spans.
  Spans stay in memory and are written out when the run ends.
- Spark's event log (``SPARK_GRAFT_EVENTLOG_DIR``, which
  ``riptable_spark.session`` honours): jobs, stages and task metrics.
  Each request tags its jobs with ``setJobGroup(request_id)``; untagged
  jobs are attributed to the request in flight when they were submitted.
- A Python ``StreamingQueryListener`` for micro-batch progress.
"""

from __future__ import annotations

import datetime as dt
import functools
import glob
import importlib
import inspect
import json
import os
import pkgutil
import sys
import time

_PACKAGES = ("riptable_spark.operators", "riptable_spark.functions", "riptable_spark.streaming")
_WRITER_METHODS = ("save", "parquet", "csv", "json", "orc", "text", "saveAsTable", "insertInto")


class Tracer:
    """In-memory span recorder. Spans are recorded only while ``enabled``
    is set, so the same process can run traced and untraced passes."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.request: str | None = None
        self.load_table_hits = 0
        self._seen_tables: list = []  # keeps returned objects alive so id() stays unique

    def begin(self, layer: str, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append({
            "layer": layer, "name": name, "request": self.request, "parent": parent,
            "t0": time.perf_counter(), "w0": time.time(), "t1": None, "w1": None,
        })
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        span = self.spans[idx]
        span["t1"] = time.perf_counter()
        span["w1"] = time.time()
        self._stack.pop()

    def in_build(self) -> bool:
        return any(self.spans[i]["layer"] == "build" for i in self._stack)

    def wrap(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled or (layer == "io.write" and not tracer.in_build()):
                return fn(*args, **kwargs)
            idx = tracer.begin(layer, fn.__name__)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.end(idx)
            if layer == "io.load_table":
                if any(out is seen for seen in tracer._seen_tables):
                    tracer.load_table_hits += 1
                else:
                    tracer._seen_tables.append(out)
            return out

        return traced


def _io_layer(name: str) -> str | None:
    if name == "load_table":
        return "io.load_table"
    if name.startswith("save_"):
        return "io.write"
    return None


def instrument(tracer: Tracer) -> list[str]:
    """Wrap the program's public functions in place and rebind every
    reference other program modules imported by name. Returns the layer
    keys of the instrumented operator and function modules."""
    from pyspark.sql import readwriter

    originals: dict[int, object] = {}
    modules: list[str] = []

    def patch(module, layer_of) -> None:
        for attr, obj in list(vars(module).items()):
            if attr.startswith("_") or not inspect.isfunction(obj):
                continue
            if obj.__module__ != module.__name__:
                continue
            layer = layer_of(attr)
            if layer is None:
                continue
            wrapped = tracer.wrap(obj, layer)
            setattr(module, attr, wrapped)
            originals[id(obj)] = wrapped

    for pkg_name in _PACKAGES:
        pkg = importlib.import_module(pkg_name)
        for info in pkgutil.iter_modules(pkg.__path__):
            mod = importlib.import_module(f"{pkg_name}.{info.name}")
            if pkg_name.endswith(".streaming"):
                key = "stream"
            else:  # build.operators.<module> / build.functions.<module>
                key = f"build.{pkg_name.rsplit('.', 1)[1]}.{info.name}"
                modules.append(key)
            patch(mod, lambda _attr, k=key: k)
    patch(importlib.import_module("riptable_spark.sources.io"), _io_layer)

    # names imported with ``from x import f`` still point at the originals
    for name, mod in list(sys.modules.items()):
        if not name.startswith("riptable_spark") or mod is None:
            continue
        for attr, obj in list(vars(mod).items()):
            if inspect.isfunction(obj) and id(obj) in originals:
                setattr(mod, attr, originals[id(obj)])

    for meth in _WRITER_METHODS:
        fn = getattr(readwriter.DataFrameWriter, meth)
        setattr(readwriter.DataFrameWriter, meth, tracer.wrap(fn, "io.write"))
    return sorted(modules)


class StreamStats:
    """Collects micro-batch progress from a StreamingQueryListener."""

    def __init__(self) -> None:
        self.batches: list[dict] = []

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        stats = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                ts = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
                stats.batches.append({
                    "query": str(p.id),
                    "w": ts.timestamp(),
                    "batch_s": p.batchDuration / 1000.0,
                    "input_rows": p.numInputRows,
                    "state_rows": sum(op.numRowsTotal for op in p.stateOperators),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()


_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


def _codegen_stages(plan: dict) -> int:
    own = plan.get("nodeName", "").startswith("WholeStageCodegen")
    return own + sum(_codegen_stages(c) for c in plan.get("children", []))


def _shuffles(plan: dict) -> int:
    """Hash and range shuffle exchanges, as ``plans.inspect.count_shuffles``
    counts them in a DataFrame's plan."""
    own = plan.get("simpleString", "").startswith(
        ("Exchange hashpartitioning", "Exchange rangepartitioning"))
    return own + sum(_shuffles(c) for c in plan.get("children", []))


def read_event_log(log_dir: str) -> tuple[list[dict], list[dict]]:
    """Jobs of the (stopped) application with their stages' task metrics
    summed, one dict per job; and its SQL executions with their start
    (posted once the execution's plan is built), the shuffles of their
    initial plan and the number of whole-stage-codegen stages in their
    final (post-AQE) plan."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    sql: dict[int, dict] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == _SQL_START:
                    plan = ev["sparkPlanInfo"]
                    sql[ev["executionId"]] = {"w": ev["time"] / 1000.0,
                                              "exchanges": _shuffles(plan),
                                              "codegen_stages": _codegen_stages(plan)}
                elif kind == _SQL_AQE_UPDATE and ev["executionId"] in sql:
                    sql[ev["executionId"]]["codegen_stages"] = _codegen_stages(ev["sparkPlanInfo"])
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = {
                        "id": ev["Job ID"], "submit_w": ev["Submission Time"] / 1000.0,
                        "end_w": None, "group": props.get("spark.jobGroup.id"),
                        "phase": props.get("spark.job.description"),
                        "stages": set(), "tasks": 0, "failed_tasks": 0,
                        "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                        "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
                        "fetch_wait_s": 0.0, "input_rows": 0, "input_bytes": 0,
                        "spill_bytes": 0,
                    }
                    jobs[job["id"]] = job
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = job["id"]
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end_w"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    if job is None:
                        continue
                    job["stages"].add(ev["Stage ID"])
                    job["tasks"] += 1
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        job["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    im = m.get("Input Metrics") or {}
                    job["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    job["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    job["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    job["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    job["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    job["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1000.0
                    job["input_rows"] += im.get("Records Read", 0)
                    job["input_bytes"] += im.get("Bytes Read", 0)
                    job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return list(jobs.values()), list(sql.values())


def _self_and_inclusive(spans: list[dict]) -> tuple[dict, dict, dict]:
    """Per layer: self seconds, inclusive seconds of the outermost spans
    of that layer, and call counts."""
    child_s = [0.0] * len(spans)
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] += s["t1"] - s["t0"]
    self_s: dict[str, float] = {}
    incl_s: dict[str, float] = {}
    calls: dict[str, int] = {}
    for i, s in enumerate(spans):
        dur = s["t1"] - s["t0"]
        layer = s["layer"]
        self_s[layer] = self_s.get(layer, 0.0) + dur - child_s[i]
        calls[layer] = calls.get(layer, 0) + 1
        p = s["parent"]
        while p is not None and spans[p]["layer"] != layer:
            p = spans[p]["parent"]
        if p is None:
            incl_s[layer] = incl_s.get(layer, 0.0) + dur
    return self_s, incl_s, calls


def layer_metrics(tracer: Tracer, jobs: list[dict], sql: list[dict], streams: StreamStats,
                  requests: list[dict], cores: int, modules: list[str]) -> dict[str, float]:
    """Per-layer metrics of the traced requests, each per traced pass.

    ``requests`` holds one record per traced request: its id, wall span
    (``w0``, ``w1``), start of its exec phase (``exec_w0``), sink and
    rows returned. A request's own SQL execution is the first one to
    start in its exec phase; its plan gives ``plan.exchanges``. A noop
    write plans its tree inside that execution, so for the noop sink the
    time from ``exec_w0`` to the execution's start counts as ``plan.s``,
    not ``exec.s``."""
    passes = max(1, len({r["pass"] for r in requests}))
    spans = [s for s in tracer.spans if s["t1"] is not None]
    self_s, incl_s, calls = _self_and_inclusive(spans)

    def owner(w: float, slack: float = 0.0) -> str | None:
        """The request in flight at wall time ``w``."""
        return next((r["rid"] for r in requests if r["w0"] - slack <= w <= r["w1"]), None)

    mine: dict[str, list[dict]] = {r["rid"]: [] for r in requests}
    for job in jobs:
        rid = job["group"] if job["group"] in mine else owner(job["submit_w"])
        if rid is not None:
            mine[rid].append(job)
    traced_jobs = [j for js in mine.values() for j in js]

    def total(key: str) -> float:
        return sum(j[key] for j in traced_jobs)

    collect_s = 0.0
    for r in requests:
        if r["sink"] == "collect" and mine[r["rid"]]:
            last = max(j["end_w"] or r["w1"] for j in mine[r["rid"]])
            collect_s += max(0.0, r["w1"] - max(last, r.get("exec_w0", r["w1"])))

    exchanges = 0
    write_plan_s = 0.0
    for r in requests:
        if "exec_w0" not in r:
            continue  # failed in build
        # event times are whole milliseconds: allow one below exec_w0
        own = min((e for e in sql if r["exec_w0"] - 0.001 <= e["w"] <= r["w1"]),
                  key=lambda e: e["w"], default=None)
        if own is None:
            continue
        exchanges += own["exchanges"]
        if r["sink"] == "noop":
            write_plan_s += max(0.0, own["w"] - r["exec_w0"])
    plan_s = incl_s.get("plan", 0.0) + write_plan_s
    exec_s = incl_s.get("exec", 0.0) - write_plan_s
    wall = incl_s.get("build", 0.0) + plan_s + exec_s
    # a progress timestamp is its trigger's start, which may round below w0
    batches = [b for b in streams.batches if owner(b["w"], slack=1.0)]
    last_state: dict[str, int] = {}
    for b in batches:
        last_state[b["query"]] = b["state_rows"]

    lt_calls = calls.get("io.load_table", 0)
    m = {
        "io.load_table.calls": lt_calls,
        "io.load_table.s": incl_s.get("io.load_table", 0.0),
        "io.write.s": incl_s.get("io.write", 0.0),
        "build.s": incl_s.get("build", 0.0),
        "build.eager_jobs": sum(1 for j in traced_jobs if j["phase"] == "build"),
        "plan.s": plan_s,
        "plan.exchanges": exchanges,
        "plan.codegen_stages": sum(e["codegen_stages"] for e in sql if owner(e["w"])),
        "exec.s": exec_s,
        "exec.jobs": len(traced_jobs),
        "exec.stages": sum(len(j["stages"]) for j in traced_jobs),
        "exec.tasks": total("tasks"),
        "exec.task_run_s": total("run_s"),
        "exec.task_cpu_s": total("cpu_s"),
        "exec.gc_s": total("gc_s"),
        "exec.shuffle_write_bytes": total("shuffle_write_bytes"),
        "exec.shuffle_read_bytes": total("shuffle_read_bytes"),
        "exec.shuffle_fetch_wait_s": total("fetch_wait_s"),
        "exec.input_rows": total("input_rows"),
        "exec.input_bytes": total("input_bytes"),
        "exec.spill_bytes": total("spill_bytes"),
        "exec.failed_tasks": total("failed_tasks"),
        "collect.s": collect_s,
        "collect.rows": sum(r["rows"] for r in requests if r["sink"] == "collect"),
        "stream.batches": len(batches),
        "stream.batch_s": sum(b["batch_s"] for b in batches),
        "stream.input_rows": sum(b["input_rows"] for b in batches),
        "stream.state_rows": sum(last_state.values()),
        "stream.s": incl_s.get("stream", 0.0),
    }
    for key in modules:
        m[f"{key}.self_s"] = self_s.get(key, 0.0)
        m[f"{key}.calls"] = calls.get(key, 0)
    # everything above is a sum over the traced passes: report per pass;
    # the ratios below are not
    m = {k: v / passes for k, v in m.items()}
    m["io.load_table.hit_ratio"] = tracer.load_table_hits / lt_calls if lt_calls else 0.0
    m["exec.core_utilization"] = total("run_s") / (wall * cores) if wall else 0.0
    return m
