"""Repository benchmark: closed-loop workloads with one client (the
driver thread) on ``local[nproc]``.  BENCHMARK.json lists the workloads
the repository benchmark runs; ``relational_sf0.01`` is kept for local
runs and the self-test.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                             [--smoke] [--corrupt]

Run from the root of a checkout.  Workloads:

* ``relational_sf0.01`` / ``operators_sf0.01``: headline registry entries
  (perfbench/entries.py: all 26 relational ones, and the fixed timed
  subset of the operator ones) on the sf0.01 copy under perfbench/data;
  the seed permutes entry order within each pass.  Every result is
  checked against its stored DuckDB-oracle digest (perfbench/oracle.py).
* ``excel_etl``: ``QueryEngine.process_queries()`` over seeded
  workbooks (perfbench/workbooks.py), checked against sqlite3.

After a cold pass (the first execution of every operation), warm passes
repeat until ``--seconds`` have elapsed.  With ``--trace 0`` the last
stdout line carries the end-to-end metrics; with ``--trace 1`` warm
passes alternate traced and untraced and it carries the per-layer
metrics (perfbench/spark_counters.py), with spans written to
``.perfbench_work/traces/``.

``setup_s`` is the median of SETUPS set-ups, each timed from the start
of its own process to a warmed session: the run's own, then SETUPS - 1
more in fresh processes (``--setup-probe``) after its session has
stopped.  ``--smoke`` uses sf0.001, every entry of a query workload's
list, and two small workbooks; ``--corrupt`` damages the first result
before its check (the self-test uses it to prove the check fails).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".perfbench_work")
REQUIRED = ["bench.py", "__spark_entry__.py", "tools/parity.py",
            "etl_excel_to_hyper_tableau_spark/__init__.py"]
MB = 1e6

# workload -> (entry list of a smoke run, entry list of a timed run)
QUERY_WORKLOADS = {"relational_sf0.01": ("RELATIONAL", "RELATIONAL"),
                   "operators_sf0.01": ("OPERATORS", "OPERATORS_TIMED")}
WORKLOADS = [*QUERY_WORKLOADS, "excel_etl"]

# excel_etl input size: (workbooks, rows per workbook)
WORKBOOKS = (2, 2000)
SMOKE_WORKBOOKS = (2, 200)
# warm passes at least: untraced runs, and each kind in traced runs
MIN_WARM_PASSES = 1
MIN_TRACED_PASSES = 2
SETUPS = 3

END_TO_END = {"setup_s": "s", "cold_s": "s", "warm_s": "s", "output_mb": "MB"}
# Every traced run prints all of these, 0 where its workload does not
# reach the layer.
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s", "session.peak_rss_mb": "MB",
    "sources.parse_s": "s", "sources.stage_s": "s", "sources.rows": "count",
    "plans.plan_s": "s", "plans.rewrite_s": "s", "plans.bare_column_retries": "count",
    "engine.run_query_s": "s",
    "operators.build_s": "s", "operators.build_jobs": "count",
    "operators.combine_s": "s", "operators.combine_jobs": "count",
    "functions.python_s": "s", "functions.python_start_s": "s", "functions.python_mb": "MB",
    "sinks.excel_s": "s", "sinks.parquet_s": "s", "sinks.export_jobs": "count",
    "sinks.rows_written": "count", "sinks.output_mb": "MB",
    "exec.wall_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.skipped_stages": "count", "exec.tasks": "count", "exec.driver_gap_s": "s",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s", "exec.busy_frac": "frac",
    "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB",
    "exec.failed_tasks": "count", "exec.retried_stages": "count",
    "trace.overhead_s": "s", "trace.unattributed_jobs": "count",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--corrupt", action="store_true")
    ap.add_argument("--setup-probe", action="store_true",
                    help="only set the session up, print its set-up time and stop")
    return ap.parse_args(argv)


def configure_env(tmp: str) -> None:
    """Host-sized cores, as Tier-1 sets them; every other session setting
    stays at the program's default.  Scratch files stay in the checkout."""
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)


def host_record() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": round(mem_kb * 1024 / MB),
            "loadavg_at_start": os.getloadavg()}


def vm_hwm_mb(pid) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        return kb * 1024 / MB
    except (OSError, StopIteration):
        return 0.0


def dir_mb(path: str) -> float:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs) / MB


def med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class Bench:
    """One run of one workload: session, passes, checks, metrics."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.layer: dict[str, float] = {}

    # -- session ------------------------------------------------------
    def tables_dir(self) -> str | None:
        """The parquet tables the set-up resolves, if the workload has any."""
        return None

    def setup(self) -> None:
        """Build the session with the program's defaults and warm it: one
        tiny action, then (query workloads) resolving every table, as
        bench.py does.  setup_s runs from process start (imports, JVM
        launch) to here."""
        import __spark_entry__ as entry
        from etl_excel_to_hyper_tableau_spark import get_spark

        self.spark = get_spark(app_name="perfbench")
        t1 = time.perf_counter()
        self.spark.range(1000).selectExpr("sum(id)").collect()
        if self.tables_dir():
            for t in entry.TABLES:
                entry._t(self.spark, self.tables_dir(), t).count()
        t2 = time.perf_counter()
        self.layer["session.start_s"] = t1 - T_START
        self.layer["session.warmup_s"] = t2 - t1
        self.setup_s = t2 - T_START

    def session_record(self) -> dict:
        conf = self.spark.sparkContext.getConf()
        return {"master": self.spark.sparkContext.master,
                "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
                "driver_memory": conf.get("spark.driver.memory", "(JVM default)")}

    def peak_rss_mb(self) -> float:
        from pyspark import SparkContext
        return vm_hwm_mb(SparkContext._gateway.proc.pid) + vm_hwm_mb("self")

    def stop(self) -> None:
        """Stop the session and wait for the JVM (and its Python workers)
        to exit."""
        from pyspark import SparkContext
        gw = SparkContext._gateway
        self.spark.stop()
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()
            gw.proc.wait(timeout=60)

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def warm_loop(self, run_pass) -> tuple[list[float], list[float]]:
        """Run warm passes until --seconds elapse (at least
        MIN_WARM_PASSES; with tracing, at least MIN_TRACED_PASSES of each
        kind, in the order traced, untraced, untraced, traced, ... so that
        warm-up still in progress does not bias the tracing overhead).
        Returns (untraced, traced) pass walls."""
        walls: tuple[list[float], list[float]] = ([], [])
        kinds = walls if self.args.trace else walls[:1]
        least = MIN_TRACED_PASSES if self.args.trace else MIN_WARM_PASSES
        t0 = time.perf_counter()
        i = 0
        while (time.perf_counter() - t0 < self.args.seconds
               or min(len(w) for w in kinds) < least):
            traced = bool(self.args.trace) and i % 4 in (0, 3)
            walls[traced].append(run_pass(traced, f"warm{i}"))
            print(f"# warm{i} {'traced ' if traced else ''}{walls[traced][-1]:.3f}s",
                  file=sys.stderr)
            i += 1
        return walls


# -- query workloads -----------------------------------------------------
class QueryBench(Bench):
    def sf(self) -> str:
        return "sf0.001" if self.args.smoke else "sf0.01"

    def tables_dir(self) -> str:
        import oracle
        return os.path.join(oracle.DATA, self.sf())

    def run(self) -> dict:
        import __spark_entry__ as entry
        import entries
        import oracle

        self.sf_dir = self.tables_dir()
        lists = QUERY_WORKLOADS[self.args.workload]
        self.names = list(getattr(entries, lists[0] if self.args.smoke else lists[1]))
        self.digests = oracle.load()[self.sf()]
        self.digest = oracle.digest
        self.setup()
        self.qs = entry.queries()
        self.tracer = None
        if self.args.trace:
            from spark_counters import Tracer
            self.tracer = Tracer(self.spark)

        self.latencies: dict[str, list[float]] = {n: [] for n in self.names}
        self.cold_latency: dict[str, float] = {}
        self.output_mb = 0.0
        self.cold_s = self.run_pass(bool(self.args.trace), "cold", cold=True)
        untraced, traced = self.warm_loop(self.run_pass)
        self.layer["session.peak_rss_mb"] = self.peak_rss_mb()
        for name, v in self.latencies.items():
            print(f"# {name} cold {self.cold_latency[name]:.3f}s warm "
                  + " ".join(f"{x:.3f}" for x in v), file=sys.stderr)
        # a typical warm pass: each entry at its median warm latency
        metrics = {
            "setup_s": self.setup_s, "cold_s": self.cold_s,
            "warm_s": sum(med(v) for v in self.latencies.values()),
            "output_mb": self.output_mb,
        }
        if self.args.trace:
            self.layer_metrics(med(traced) - med(untraced))
        return metrics

    def run_pass(self, traced: bool, label: str, cold: bool = False) -> float:
        order = self.rng.sample(self.names, len(self.names))
        tr = self.tracer if traced else None
        wall, out_mb = 0.0, 0.0
        pass_span = tr.span("pass", trace_id=label) if tr else contextlib.nullcontext()
        with pass_span:
            for name in order:
                done = self.run_entry(name, tr, cold)
                if done:
                    wall, out_mb = wall + done[0], out_mb + done[1]
        self.output_mb = out_mb
        if tr is not None:
            tr.resolve()
        return wall

    def run_entry(self, name: str, tr, cold: bool) -> tuple[float, float] | None:
        """Run and check one entry: (latency, result MB), None if it raised."""
        try:
            if tr is None:
                t0 = time.perf_counter()
                pdf = self.qs[name](self.spark, self.sf_dir).toPandas()
                dt = time.perf_counter() - t0
            else:
                with tr.span(f"entry:{name}") as e:
                    with tr.span("build"):
                        df = self.qs[name](self.spark, self.sf_dir)
                    with tr.span("plan"):
                        df._jdf.queryExecution().executedPlan()
                    with tr.span("exec"):
                        pdf = df.toPandas()
                dt = e.dur
        except Exception as exc:    # an operation that raises counts as failed
            self.record(False, f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
            return None
        if self.args.corrupt and self.attempted == 0:
            pdf = pdf.iloc[1:] if len(pdf) else pdf.assign(extra=1)
        self.record(self.digest(pdf) == self.digests[name],
                    f"{name}: result differs from its oracle digest")
        if cold:
            self.cold_latency[name] = dt
        elif tr is None:
            self.latencies[name].append(dt)
        return dt, pdf.memory_usage(index=False, deep=True).sum() / MB

    def layer_metrics(self, overhead_s: float) -> None:
        import entries
        from spark_counters import driver_gap

        tr = self.tracer
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        per_pass: dict[str, dict[str, float]] = {}
        unattributed = 0
        for i, s in enumerate(tr.spans):
            if not s.name.startswith("entry:"):
                continue
            kids = {k.name: j for j, k in enumerate(tr.spans) if k.parent == i}
            kid_spans = [tr.spans[j] for j in kids.values()]
            if len(kids) < 3:     # the entry raised; it is counted as failed
                continue
            unattributed += (s.job1 - s.job0) - sum(k.job1 - k.job0 for k in kid_spans)
            py_mb = sum(k.counters["python_mb"] for k in kid_spans)
            name = s.name.split(":", 1)[1]
            if name in entries.RELATIONAL and py_mb > 0:
                self.problems.append(f"{name}: relational entry moved {py_mb:.3f} MB "
                                     "through Python workers")
            if s.trace_id == "cold":
                continue
            p = per_pass.setdefault(s.trace_id, {})
            ex, b = tr.spans[kids["exec"]], tr.spans[kids["build"]]

            def add(key, v):
                p[key] = p.get(key, 0.0) + v
            add("operators.build_s", b.dur)
            add("operators.build_jobs", b.counters["jobs"])
            add("plans.plan_s", tr.spans[kids["plan"]].dur)
            add("exec.wall_s", ex.dur)
            add("exec.driver_gap_s", driver_gap(tr.spans, kids["exec"]))
            for c in ("jobs", "stages", "skipped_stages", "tasks", "task_run_s",
                      "task_cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb",
                      "spill_mb"):
                add(f"exec.{c}", ex.counters[c])
            for c in ("failed_tasks", "retried_stages"):
                add(f"exec.{c}", sum(k.counters[c] for k in kid_spans))
            for c in ("python_s", "python_start_s", "python_mb"):
                add(f"functions.{c}", sum(k.counters[c] for k in kid_spans))
        for p in per_pass.values():
            p["exec.busy_frac"] = p["exec.task_run_s"] / max(p["exec.wall_s"] * cores, 1e-9)
        for key in per_pass[next(iter(per_pass))]:
            self.layer[key] = med([p[key] for p in per_pass.values()])
        self.layer["trace.unattributed_jobs"] = unattributed
        self.layer["trace.overhead_s"] = overhead_s
        if unattributed:
            self.problems.append(f"{unattributed} jobs launched outside build/plan/exec spans")


# -- excel_etl -------------------------------------------------------------
class ExcelBench(Bench):
    def run(self) -> dict:
        import workbooks
        from etl_excel_to_hyper_tableau_spark.sources import xlsx_io

        self.setup()
        n_files, n_rows = SMOKE_WORKBOOKS if self.args.smoke else WORKBOOKS
        self.in_dir = os.path.join(self.work, "inputs")
        self.out_dir = os.path.join(self.work, "exports")
        rows = workbooks.write_inputs(self.in_dir, self.args.seed, n_files, n_rows,
                                      xlsx_io.write_workbook)
        self.files = sorted(rows)
        self.want = workbooks.expected(rows)
        self.tracer = None
        if self.args.trace:
            from spark_counters import Tracer
            self.tracer = Tracer(self.spark)
        self.runs: list[dict] = []
        self.cold_s = self.run_pass(bool(self.args.trace), "cold")
        untraced, traced = self.warm_loop(self.run_pass)
        self.layer["session.peak_rss_mb"] = self.peak_rss_mb()
        metrics = {
            "setup_s": self.setup_s, "cold_s": self.cold_s, "warm_s": med(untraced),
            "output_mb": self.output_mb,
        }
        if self.args.trace:
            self.layer_metrics(med(traced) - med(untraced))
        return metrics

    def run_pass(self, traced: bool, label: str) -> float:
        import workbooks
        from etl_excel_to_hyper_tableau_spark import QueryBundle, QueryEngine
        from etl_excel_to_hyper_tableau_spark.sources import xlsx_io

        shutil.rmtree(self.out_dir, ignore_errors=True)
        engine = QueryEngine(self.spark, self.in_dir,
                             workbooks.make_bundles(QueryBundle, self.files), self.out_dir)
        counts = {"rows": 0, "bare": 0}
        try:
            if traced:
                with patched_layers(self.tracer, counts), \
                        self.tracer.span("pipeline", trace_id=label) as s:
                    engine.process_queries()
                wall = s.dur
            else:
                t0 = time.perf_counter()
                engine.process_queries()
                wall = time.perf_counter() - t0
        except Exception as exc:    # a pipeline run that raises counts as failed
            self.record(False, f"pipeline: {type(exc).__name__}: {str(exc)[:300]}")
            return 0.0
        read = xlsx_io.read_sheet
        if self.args.corrupt and self.attempted == 0:
            def read(*a, **k):
                cols, rows = xlsx_io.read_sheet(*a, **k)
                return cols, rows[1:]
        rows_written, problems = workbooks.check_outputs(
            self.out_dir, self.files, self.want, read)
        self.record(not problems, "; ".join(problems))
        self.output_mb = dir_mb(self.out_dir)
        if traced:
            self.tracer.resolve()
            self.runs.append({"label": label, "rows": counts["rows"], "bare": counts["bare"],
                              "rows_written": rows_written, "output_mb": self.output_mb})
        return wall

    def layer_metrics(self, overhead_s: float) -> None:
        from spark_counters import COUNTERS, driver_gap

        tr = self.tracer
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        per_run = []
        for run in self.runs:
            if run["label"] == "cold":
                continue
            top = next(i for i, s in enumerate(tr.spans)
                       if s.name == "pipeline" and s.trace_id == run["label"])
            fam = [s for s in tr.spans if s.trace_id == run["label"]]
            idx = {id(s): i for i, s in enumerate(tr.spans)}

            def dur(name):
                return sum(s.dur for s in fam if s.name == name)

            def jobs(name):
                return sum(s.counters["jobs"] for s in fam if s.name == name)
            tot = {c: sum(s.counters[c] for s in fam) for c in COUNTERS}
            p = {
                "sources.parse_s": dur("parse"), "sources.stage_s": dur("stage"),
                "sources.rows": run["rows"], "plans.rewrite_s": dur("rewrite"),
                "plans.bare_column_retries": run["bare"],
                "engine.run_query_s": sum(tr.self_time(idx[id(s)]) for s in fam
                                          if s.name == "run_query"),
                "operators.combine_s": dur("combine"), "operators.combine_jobs": jobs("combine"),
                "sinks.excel_s": dur("export.excel"), "sinks.parquet_s": dur("export.parquet"),
                "sinks.export_jobs": jobs("export.excel") + jobs("export.parquet"),
                "sinks.rows_written": run["rows_written"], "sinks.output_mb": run["output_mb"],
                "exec.wall_s": tr.spans[top].dur,
                "exec.driver_gap_s": driver_gap(tr.spans, top),
            }
            for c in COUNTERS:
                key = f"functions.{c}" if c.startswith("python") else f"exec.{c}"
                p[key] = tot[c]
            p["exec.busy_frac"] = p["exec.task_run_s"] / max(p["exec.wall_s"] * cores, 1e-9)
            per_run.append(p)
        for key in per_run[0]:
            self.layer[key] = med([p[key] for p in per_run])
        self.layer["trace.overhead_s"] = overhead_s


@contextlib.contextmanager
def patched_layers(tracer, counts: dict):
    """Wrap the pipeline's layer entry points in spans for one traced run:
    ``xlsx_io.read_sheet`` (parse), ``QueryEngine.stage`` / ``run_query`` /
    ``combine``, the rewrite functions and the sink writers, as the engine
    module looks them up."""
    import etl_excel_to_hyper_tableau_spark.engine as eng
    from etl_excel_to_hyper_tableau_spark.sources import xlsx_io

    def span(name, fn, count):
        def wrapped(*a, **k):
            with tracer.span(name):
                out = fn(*a, **k)
            if count == "rows":
                counts["rows"] += len(out[1])
            elif count:
                counts[count] += 1
            return out
        return wrapped

    swaps = [
        (xlsx_io, "read_sheet", "parse", "rows"),
        (eng.QueryEngine, "stage", "stage", None),
        (eng.QueryEngine, "run_query", "run_query", None),
        (eng.QueryEngine, "combine", "combine", None),
        (eng, "format_query", "rewrite", None),
        (eng, "sqlite_to_spark", "rewrite", None),
        (eng, "rewrite_bare_column", "rewrite", "bare"),
        (eng, "write_excel", "export.excel", None),
        (eng, "write_parquet", "export.parquet", None),
    ]
    saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _, _ in swaps]
    try:
        for obj, attr, name, count in swaps:
            setattr(obj, attr, span(name, getattr(obj, attr), count))
        yield
    finally:
        for obj, attr, orig in saved:
            setattr(obj, attr, orig)


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the repository (missing {missing}); "
              "run from its root", file=sys.stderr)
        return 2
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    configure_env(os.path.join(work, "tmp"))
    host = host_record()
    sys.path[:0] = [ROOT, HERE]
    import bench
    import entries

    partition = entries.check_partition(bench.HEADLINE)
    if partition:
        print(f"perfbench: workload lists out of date: {partition}", file=sys.stderr)
        return 3
    b = (ExcelBench if args.workload == "excel_etl" else QueryBench)(args, work)
    try:
        if args.setup_probe:
            b.setup()
            print(json.dumps({"setup_s": b.setup_s}))
            return 0
        metrics = b.run()
        session = b.session_record()
    finally:
        if hasattr(b, "spark"):
            b.stop()
        shutil.rmtree(work, ignore_errors=True)
    if not args.trace:
        setups = [b.setup_s] + [probe_setup(args) for _ in range(SETUPS - 1)]
        print("# setups " + " ".join(f"{x:.3f}s" for x in setups), file=sys.stderr)
        metrics["setup_s"] = med(setups)
    for p in b.problems:
        print(f"perfbench: FAILED {p}", file=sys.stderr)
    record = {"workload": args.workload, "seed": args.seed, "host": host,
              "session": session, "attempted": b.attempted, "failed": b.failed}
    print("# " + json.dumps(record))
    if args.trace:
        write_spans(args, b, record)
        metrics = {k: {"value": float(b.layer.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(metrics[k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": not b.problems, "attempted": b.attempted,
                      "failed": b.failed, "metrics": metrics}))
    return 0


def probe_setup(args) -> float:
    """One set-up in a fresh process, timed from its own start."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", "0", "--setup-probe"]
    p = subprocess.run(cmd + (["--smoke"] if args.smoke else []), cwd=ROOT,
                       capture_output=True, text=True, timeout=120)
    if p.returncode != 0:
        raise RuntimeError(f"set-up probe exited {p.returncode}: {p.stderr[-500:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])["setup_s"]


def write_spans(args, b: Bench, record: dict) -> None:
    out = os.path.join(WORK, "traces")
    os.makedirs(out, exist_ok=True)
    tr = b.tracer
    spans = [{"name": s.name, "trace_id": s.trace_id, "parent": s.parent,
              "start": s.start, "end": s.end, "self_s": tr.self_time(i),
              "job_ids": [s.job0, s.job1], **s.counters}
             for i, s in enumerate(tr.spans)]
    with open(os.path.join(out, f"{args.workload}-seed{args.seed}.json"), "w") as f:
        json.dump({"run": record, "layers": b.layer, "spans": spans}, f, indent=1)


if __name__ == "__main__":
    raise SystemExit(main())
