"""Benchmark runner: one workload, one seed, one process, closed loop
with one client on ``local[nproc]``.

    python3 perfbench/run.py --workload batch_sf0.05 --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all          # every workload, one child each

A run:

1. pins the environment (cores, JVM heap, temp and Spark local
   dirs, PYTHONPATH) and generates the workload's dataset once into
   ``.perfbench_cache/``, in a child process (generation time is
   reported apart from set-up, and its memory peak is not this one's);
2. set-up, timed as ``setup_s``: import ``riptable_spark`` and every
   query batch, ``get_spark``, and one warm-up pass that collects each
   request's result into Python;
3. measures a fixed number of whole passes over the workload's requests,
   each in an order drawn from the seed: ``--seconds`` over the
   workload's nominal pass time, at least MIN_PASSES. The count does
   not depend on how fast the program runs, so two commits run the same
   requests and report the same tail percentile. The temp dir is
   emptied and RSS recorded after every pass;
4. checks, untimed, every result the warm-up pass collected against the
   query's DuckDB oracle on the same files;
5. prints a human-readable report, then one JSON line: the end-to-end
   metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

With ``--trace 1`` passes alternate between untraced and traced; the
per-layer metrics are per traced pass, and ``trace.overhead_s`` is the
median traced pass time minus the median untraced one.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import pkgutil
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import tracing  # noqa: E402
from workloads import WORKLOADS, Workload  # noqa: E402

CACHE = os.path.join(ROOT, ".perfbench_cache")
OUT = os.path.join(ROOT, ".perfbench_out")
DATA_SEED = 42
# The program defaults to a 16 GiB JVM heap. The datasets here are a few MB: a
# 1 GiB heap holds them, fills up within a run, so peak RSS settles instead
# of tracking lazy heap growth, and leaves the rest of a shared box alone.
JVM_HEAP = "1g"
MIN_PASSES = 4
TAIL_BEYOND = 10


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def pin_environment(work: str) -> dict[str, str]:
    """Environment the program and its JVM and Python workers run in.
    Must be set before pyspark is imported."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    jvm_tmp = os.path.join(work, "jvm-tmp")
    for d in (tmp, jvm_tmp):
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": JVM_HEAP,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        # keep the JVM's own temp files (native libs, perf data) in the checkout
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={jvm_tmp} -XX:-UsePerfData",
    }
    # no setting of the caller's shell may change the plans or the engine
    for var in list(os.environ):
        if var.startswith("SPARK_GRAFT_") or var == "SPARK_MASTER":
            del os.environ[var]
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return env


def ensure_data(wl: Workload) -> tuple[str, float | None]:
    """Dataset directory of the workload, generated and its row counts
    checked by ``datagen.py`` in a child process on first use; returns the
    generation time, or None when it was cached."""
    path = os.path.join(CACHE, f"sf{wl.sf:g}-seed{DATA_SEED}")
    if os.path.isdir(path):
        return path, None
    os.makedirs(CACHE, exist_ok=True)
    shutil.rmtree(path + ".partial", ignore_errors=True)
    t0 = time.perf_counter()
    rc = subprocess.call([sys.executable, os.path.join(HERE, "datagen.py"),
                          path, f"{wl.sf:g}", str(DATA_SEED)])
    if rc != 0:
        raise SystemExit(f"generating {path} failed with exit code {rc}")
    return path, time.perf_counter() - t0


def import_program():
    """Import riptable_spark and every query batch (registration is an
    import side effect)."""
    import riptable_spark
    from riptable_spark.queries import ORACLES, QUERIES

    for info in pkgutil.iter_modules(riptable_spark.__path__):
        if info.name.startswith("queries") and info.name[7:].isdigit():
            importlib.import_module(f"riptable_spark.{info.name}")
    return QUERIES, ORACLES


def proc_status(pid: int | str, field: str) -> float:
    """A /proc/<pid>/status memory field in MB (0 when the process is gone)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def jvm_pid() -> int | None:
    """The Spark JVM: the gateway process or its first ``java`` descendant."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    todo = [proc.pid] if proc is not None else []
    while todo:
        pid = todo.pop(0)
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    return pid
            with open(f"/proc/{pid}/task/{pid}/children") as fh:
                todo.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return None


def rss_mb(field: str, jpid: int | None) -> float:
    return proc_status("self", field) + (proc_status(jpid, field) if jpid else 0.0)


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(base, f)).st_size
            except OSError:
                pass
    return total


def empty_dir(path: str) -> None:
    for entry in os.listdir(path):
        p = os.path.join(path, entry)
        if os.path.isdir(p) and not os.path.islink(p):
            shutil.rmtree(p, ignore_errors=True)
        else:
            try:
                os.remove(p)
            except OSError:
                pass


class Runner:
    def __init__(self, spark, queries, wl: Workload, data: str, tracer=None) -> None:
        self.spark = spark
        self.queries = queries
        self.wl = wl
        self.data = data
        self.tracer = tracer
        self.traced: list[dict] = []  # one record per traced request
        self.errors: list[str] = []

    def request(self, name: str, rid: str, pass_no: int, traced: bool) -> tuple[float, bool]:
        """Run one request; returns (latency seconds, succeeded)."""
        sc = self.spark.sparkContext
        tr = self.tracer if traced else None
        rec = {"rid": rid, "pass": pass_no, "name": name, "sink": self.wl.sink, "rows": 0}
        t0 = time.perf_counter()
        rec["w0"] = time.time()
        try:
            if tr is None:
                df = self.queries[name](self.spark, self.data)
                if self.wl.sink == "collect":
                    df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
            else:
                from riptable_spark.plans import inspect as pin

                tr.request = rid
                tr.enabled = True
                sc.setJobGroup(rid, "build")
                idx = tr.begin("build", name)
                try:
                    df = self.queries[name](self.spark, self.data)
                finally:
                    tr.end(idx)
                if self.wl.sink == "collect":
                    # toPandas runs df's own QueryExecution: plan it here.
                    # A noop write plans the tree anew inside its own
                    # execution; its planning time comes from the event log
                    sc.setJobGroup(rid, "plan")
                    idx = tr.begin("plan", name)
                    try:
                        pin.simple_plan(df)  # forces Catalyst planning
                    finally:
                        tr.end(idx)
                sc.setJobGroup(rid, "exec")
                idx = tr.begin("exec", name)
                rec["exec_w0"] = time.time()
                try:
                    if self.wl.sink == "collect":
                        rec["rows"] = len(df.toPandas())
                    else:
                        df.write.format("noop").mode("overwrite").save()
                finally:
                    tr.end(idx)
            ok = True
        except Exception as e:  # a failed request is counted, not fatal
            ok = False
            self.errors.append(f"{rid} {name}: {type(e).__name__}: {str(e)[:300]}")
        finally:
            if tr is not None:
                tr.request = None
                tr.enabled = False
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
        latency = time.perf_counter() - t0
        rec["w1"] = time.time()
        if tr is not None:
            self.traced.append(rec)
        return latency, ok


def quantile(xs: list[float], p: float) -> float:
    """Harrell-Davis estimate of the p-quantile: a Beta-weighted average
    of all order statistics. A workload mixes queries of different
    latency, so the sample has gaps; a single order statistic jumps
    across a gap when noise swaps two neighbours, this estimate does not."""
    import numpy as np

    n = len(xs)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    grid = np.linspace(0.0, 1.0, 20001)
    mid = (grid[1:] + grid[:-1]) / 2
    logpdf = (a - 1) * np.log(mid) + (b - 1) * np.log1p(-mid)
    mass = np.exp(logpdf - logpdf.max())
    cdf = np.concatenate([[0.0], np.cumsum(mass)]) / mass.sum()
    weights = np.diff(np.interp(np.arange(n + 1) / n, grid, cdf))
    return float(np.dot(weights, np.sort(xs)))


def tail_percentile(n: int) -> float:
    """The highest percentile with TAIL_BEYOND of n samples beyond it."""
    return max(0.5, (n - TAIL_BEYOND) / n)


def warm_up(spark, queries, wl: Workload, data: str, tmp: str) -> tuple[float, dict]:
    """The set-up's first pass: every request once, its result collected
    into Python so that it can be checked after the measured passes.
    Returns the pass time and the result (or the error) per query."""
    from tools.verify_local import normalize

    spent = 0.0
    results: dict = {}
    for name in wl.queries:
        t0 = time.perf_counter()
        try:
            got = queries[name](spark, data).toPandas()
        except Exception as e:
            got = f"{type(e).__name__}: {str(e)[:300]}"
        spent += time.perf_counter() - t0
        results[name] = normalize(got) if not isinstance(got, str) else got
        empty_dir(tmp)
    return spent, results


def verify(oracles, results: dict, data: str) -> list[str]:
    """Every warm-up result against its DuckDB oracle on the same files.
    Returns one message per exception or mismatch."""
    from tools.verify_local import compare, duck_connection, normalize

    con = duck_connection(data)
    bad = []
    for name, got in results.items():
        if isinstance(got, str):
            bad.append(f"{name}: {got}")
            continue
        try:
            ok, msg = compare(got, normalize(con.execute(oracles[name]).fetchdf()))
        except Exception as e:
            ok, msg = False, f"{type(e).__name__}: {str(e)[:300]}"
        if not ok:
            bad.append(f"{name}: {msg}")
    con.close()
    return bad


def input_bytes(data: str, tables: tuple[str, ...]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_table(os.path.join(data, f"{t}.parquet")).nbytes for t in tables)


def run(args) -> int:
    wl = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    env = pin_environment(work)
    cores = int(env["SPARK_GRAFT_CPUS"])
    data, gen_s = ensure_data(wl)
    tmp = env["TMPDIR"]
    if args.trace:
        os.environ["SPARK_GRAFT_EVENTLOG_DIR"] = os.path.join(work, "eventlog")

    # ---- set-up (timed) ---------------------------------------------------
    t0 = time.perf_counter()
    queries, oracles = import_program()
    import_s = time.perf_counter() - t0
    missing = [q for q in wl.queries if q not in queries or q not in oracles]
    if missing:
        log(f"queries missing from the registry or without an oracle: {missing}")
        return 1
    from riptable_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark("perfbench")
    get_spark_s = time.perf_counter() - t1
    jpid = jvm_pid()

    tracer = modules = streams = None
    if args.trace:
        tracer = tracing.Tracer()
        modules = tracing.instrument(tracer)
        streams = tracing.StreamStats()
        spark.streams.addListener(streams.listener())
    runner = Runner(spark, queries, wl, data, tracer)

    warmup_s, results = warm_up(spark, queries, wl, data, tmp)
    setup_s = import_s + get_spark_s + warmup_s

    # ---- measured passes ---------------------------------------------------
    rng = random.Random(args.seed)
    latencies: list[float] = []
    by_query: dict[str, list[float]] = {q: [] for q in wl.queries}
    pass_times = {True: [], False: []}  # traced -> pass seconds
    rss_after: list[float] = []
    tmp_bytes: list[int] = []
    stored = {"bytes": 0, "passes": 0}
    attempted = failed = 0
    passes = max(MIN_PASSES, round(args.seconds / wl.pass_s))
    for p in range(passes):
        # untraced, traced, traced, untraced, ...: balanced against the
        # passes still speeding up as the JIT warms
        traced = bool(args.trace) and p % 4 in (1, 2)
        order = list(wl.queries)
        rng.shuffle(order)
        pass_s = 0.0
        for i, name in enumerate(order):
            before = dir_bytes(tmp) if traced and name in wl.writes else 0
            lat, ok = runner.request(name, f"p{p}r{i}-{name}", p, traced)
            if traced and name in wl.writes:
                stored["bytes"] += dir_bytes(tmp) - before
            attempted += 1
            failed += not ok
            latencies.append(lat)
            by_query[name].append(lat)
            pass_s += lat
        pass_times[traced].append(pass_s)
        if traced:
            tmp_bytes.append(dir_bytes(tmp))
            stored["passes"] += 1
        empty_dir(tmp)
        rss_after.append(round(rss_mb("VmRSS", jpid), 1))
    peak_rss = rss_mb("VmHWM", jpid)

    # ---- verification (untimed) -------------------------------------------
    mismatches = verify(oracles, results, data)
    attempted += len(results)
    failed += len(mismatches)
    for e in runner.errors + mismatches:
        log(f"FAILED {e}")

    timed = pass_times[bool(args.trace)]
    pct_tail = tail_percentile(len(latencies))
    value_tail = quantile(latencies, pct_tail)
    e2e = {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(timed), "s"),
        "latency_p50_s": (quantile(latencies, 0.5), "s"),
        "latency_tail_s": (value_tail, "s"),
        "peak_rss_mb": (peak_rss, "MB"),
    }
    error_rate = failed / attempted

    per_layer = {}
    if args.trace:
        spark.stop()  # completes the event log
        jobs, sql = tracing.read_event_log(os.environ["SPARK_GRAFT_EVENTLOG_DIR"])
        per_layer = tracing.layer_metrics(tracer, jobs, sql, streams, runner.traced, cores, modules)
        per_layer.update({
            "session.import_s": import_s,
            "session.get_spark_s": get_spark_s,
            "io.tmp_bytes_written": statistics.mean(tmp_bytes) if tmp_bytes else 0,
            "io.stored_bytes_per_input_byte": 0.0,
            "error_rate": error_rate,
            "rss.pass_growth_mb": rss_after[-1] - rss_after[0],
            "trace.overhead_s": statistics.median(pass_times[True]) - statistics.median(pass_times[False]),
        })
        if wl.writes and stored["passes"]:
            per_pass_in = sum(input_bytes(data, t) for t in wl.writes.values())
            per_layer["io.stored_bytes_per_input_byte"] = stored["bytes"] / stored["passes"] / per_pass_in
        os.makedirs(OUT, exist_ok=True)
        with open(os.path.join(OUT, f"trace-{wl.name}-seed{args.seed}.json"), "w") as fh:
            json.dump({"spans": tracer.spans, "requests": runner.traced,
                       "streams": streams.batches, "metrics": per_layer}, fh, default=str)

    # ---- report ------------------------------------------------------------
    n = len(latencies)
    print(f"workload {wl.name}  seed {args.seed}  trace {args.trace}  "
          f"local[{cores}]  heap {env['SPARK_GRAFT_DRIVER_MEM']}")
    print(f"  data            {data}  "
          + (f"generated in {gen_s:.2f} s" if gen_s is not None else "cached"))
    print(f"  setup_s         {setup_s:9.3f} s   import {import_s:.3f}, get_spark "
          f"{get_spark_s:.3f}, warm-up pass {warmup_s:.3f}")
    print(f"  pass_s          {e2e['pass_s'][0]:9.3f} s   median of {len(timed)} passes: "
          f"{[round(x, 3) for x in timed]}")
    print(f"  latency_p50_s   {e2e['latency_p50_s'][0]:9.3f} s   n={n}")
    print(f"  latency_tail_s  {value_tail:9.3f} s   p{100 * pct_tail:.1f}, "
          f"{min(TAIL_BEYOND, n - 1)} samples beyond, n={n}")
    print(f"  peak_rss_mb     {peak_rss:9.1f} MB  rss after each pass: {rss_after}")
    print(f"  error_rate      {error_rate:9.4f}     {failed} failed of {attempted} attempted "
          f"({len(mismatches)} in the checked warm-up pass)")
    for q, xs in by_query.items():
        print(f"    {q:36s} median {statistics.median(xs):8.3f} s  max {max(xs):8.3f} s")
    if args.trace:
        for k in sorted(per_layer):
            print(f"  {k:40s} {per_layer[k]:.6g}")

    if args.trace:
        # every per-layer metric BENCHMARK.json declares, 0 where a layer did no work
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            metrics = {m["name"]: (per_layer.get(m["name"], 0), m["unit"])
                       for m in json.load(fh)["per_layer"]}
    else:
        metrics = e2e
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def stop_spark() -> None:
    """Stop the SparkContext, if any, and wait for the Spark JVM to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run_all(args) -> int:
    """Every workload, each in its own process (fresh JVM)."""
    rc = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        rc |= subprocess.call(cmd)
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "riptable_spark")):
        log(f"riptable_spark not found under {ROOT}: run from a checkout of the repository")
        return 2
    if args.workload == "all":
        return run_all(args)
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    try:
        return run(args)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
