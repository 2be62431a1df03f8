#!/usr/bin/env python3
"""Benchmark driver for r2rml_parser_spark.

    python3 perfbench/run.py --workload docs_canon --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. One run: start the Spark session (process
start to its first answered job is ``setup_s``), generate the workload's
inputs from ``--seed`` (cached per seed), run an untimed warm-up at the
real size, then cycle
through the workload's operations for ``--seconds``, check each
operation's output off the clock, and print one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json; ``--trace 1``
runs one untraced and one traced cycle with the event log on and reports
the per-layer metrics (see NOTES.md for definitions and the steadiness
protocol). Everything the run writes stays under ``.perfbench_work/`` in
the checkout. ``--smoke`` runs every workload once at a tiny size in
both modes and asserts that every metric prints with its unit and that
every output check ran.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
#: JVM heap of the local-mode driver (the only JVM): small enough to keep
#: a shared host safe, large enough that no workload spills
DRIVER_MEMORY = "2g"


def process_age_s() -> float:
    """Seconds since this process started (kernel start time, so the
    interpreter's own start-up counts)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _process_tree() -> list[int]:
    """This process and all its descendants (the Python driver and the JVM
    it launched)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(d))
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo += children.get(pid, [])
    return tree


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by the process tree."""
    ticks = 0
    for pid in _process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += int(fields[11]) + int(fields[12])
        except OSError:
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> float:
    """Sum of the peak resident sets (VmHWM) over the process tree."""
    total_kb = 0
    for pid in _process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024


class Session:
    """The benchmark's Spark session: fixed ``local[nproc - 1]``, shuffle
    partitions fixed to the same count, UI off, all scratch inside the run
    directory, and the event log only when tracing."""

    def __init__(self, run_dir: str, trace: bool):
        self.run_dir, self.trace = run_dir, trace
        # one core stays free for the Python driver, the JIT compiler and
        # GC threads: at local[nproc] they compete with the tasks, and the
        # run-to-run spread of tpch_store doubled (see NOTES.md)
        self.cores = max(len(os.sched_getaffinity(0)) - 1, 1)
        self.starts = 0
        self.spark = None
        #: wall of the last ``build_session`` call (JVM launch + context)
        self.build_s = 0.0

    def start(self):
        from pyspark.sql import SparkSession

        from r2rml_parser_spark.session import build_session

        tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        conf = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            # prepended to the program's own extraJavaOptions
            "spark.driver.defaultJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.eventLog.enabled": str(self.trace).lower(),
        }
        if self.trace:
            log_dir = os.path.join(self.run_dir, "eventlog", str(self.starts))
            os.makedirs(log_dir, exist_ok=True)
            conf["spark.eventLog.dir"] = "file://" + log_dir
            conf["spark.eventLog.compress"] = "false"
            self.log_dir = log_dir
        SparkSession.builder._options = {}
        t0 = time.perf_counter()
        self.spark = build_session(
            app_name="perfbench", master=f"local[{self.cores}]",
            shuffle_partitions=self.cores, extra_conf=conf)
        self.build_s = time.perf_counter() - t0
        self.spark.range(0, 1000, 1, self.cores).count()  # the first answered job
        self.starts += 1
        return self.spark

    def clean_slate(self) -> None:
        """Between operations: drop every cached plan (operator-internal
        persists would otherwise be reused by the next operation) and
        collect the JVM heap so no operation pays for another's garbage."""
        self.spark.catalog.clearCache()
        self.spark._jvm.System.gc()

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


class Outcome:
    """Operations attempted and failed; a failed check fails its op."""

    def __init__(self):
        self.attempted = self.failed = 0
        self.checks_run: dict[str, int] = {}
        self.check_s = 0.0
        self.errors: list[str] = []

    def op(self, label: str, fn):
        self.attempted += 1
        try:
            dt, checks = fn()
            return dt, checks
        except Exception:
            self.failed += 1
            self.errors.append(f"{label}: {traceback.format_exc(limit=3)}")
            return None, []

    def check(self, label: str, checks) -> None:
        ok = True
        t0 = time.perf_counter()
        for name, fn in checks:
            self.checks_run[name] = self.checks_run.get(name, 0) + 1
            try:
                good, detail = fn()
            except Exception:
                good, detail = False, traceback.format_exc(limit=3)
            if not good:
                ok = False
                self.errors.append(f"{label}: check {name} failed: {detail}")
        self.check_s += time.perf_counter() - t0
        if not ok:
            self.failed += 1


def run_cycles(wl, session: Session, outcome: Outcome,
               seconds: float) -> list[tuple[str, float]]:
    """Run the workload's cycle once, then keep cycling while the next
    operation is expected to end within ``seconds`` of operation time.
    Checks run after each operation, off the clock."""
    done: list[tuple[str, float]] = []
    last: dict[str, float] = {}
    t_start = time.perf_counter()
    i = 0
    while True:
        kind = wl.CYCLE[i % len(wl.CYCLE)]
        busy = sum(dt for _k, dt in done)
        if i >= len(wl.CYCLE) and busy + last.get(kind, 0.0) > seconds:
            break
        if time.perf_counter() - t_start > 3 * seconds + 60:  # never hang a run
            break
        wl.before(kind)
        session.clean_slate()
        cpu0 = tree_cpu_s()
        dt, checks = outcome.op(kind, getattr(wl, kind))
        cpu = tree_cpu_s() - cpu0
        print(f"op {kind}: wall {dt} s, cpu {cpu:.2f} s", file=sys.stderr)
        outcome.check(kind, checks)
        if dt is not None:
            wl.record(f"{kind}_cpu_s", cpu)
            last[kind] = dt
            done.append((kind, dt))
        i += 1
    return done


def run_workload(name: str, seed: int, seconds: float, trace: bool, size: str) -> dict:
    import workloads

    wl_cls = workloads.WORKLOADS[name]
    run_dir = os.path.join(WORK, "runs", f"{name}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    session = Session(run_dir, trace)
    session.start()
    # process start → first answered job: interpreter, imports, JVM launch
    # and Spark context (one sample: a second JVM launch costs as much
    # again, see NOTES.md)
    setup_s = process_age_s()

    outcome = Outcome()
    inputs_dir = os.path.join(WORK, "inputs", f"{name}-{workloads.SIZES[name][size]}-seed{seed}")
    wl = wl_cls(session.spark, run_dir, inputs_dir, seed, size)
    try:
        t_prep = time.perf_counter()
        wl.prepare()
        phases = {"setup": setup_s, "prepare": time.perf_counter() - t_prep}
        t_warm = time.perf_counter()
        session.clean_slate()
        set_desc(session.spark, "perfbench.warm_up" if trace else None)
        wl.warming = True
        for op in wl.warm_up_ops():
            session.clean_slate()
            outcome.check("warm_up", outcome.op("warm_up", op)[1])
        wl.warming = False
        wl.samples.clear()
        phases["warm_up"] = time.perf_counter() - t_warm
        t_run = time.perf_counter()
        if trace:
            metrics = traced_cycle(wl, session, outcome, setup_s)
        else:
            ops = run_cycles(wl, session, outcome, seconds)
            phases["timed_ops"] = sum(dt for _k, dt in ops)
            s = wl.samples
            metrics = {
                "setup_s": (setup_s, "s"),
                "triples_per_cpu_s": (statistics.median(
                    n / c for n, c in zip(s["triples"], s["build_cpu_s"])), "1/s"),
                "update_cpu_s": (statistics.median(s[f"{wl.UPDATE}_cpu_s"]), "s"),
                "query_cpu_ms": (
                    statistics.fmean(s["query_cpu_s"]) / len(wl.mix) * 1e3, "ms"),
                "bytes_per_triple": (statistics.median(s["bytes_per_triple"]), "bytes"),
                "peak_rss_mb": (peak_rss_mb(), "MB"),
            }
    finally:
        wl.close()
        session.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    phases["cycles"] = time.perf_counter() - t_run
    phases["checks"] = outcome.check_s
    print("phases: " + " ".join(f"{k}={v:.1f}s" for k, v in phases.items()), file=sys.stderr)
    for e in outcome.errors:
        print(e, file=sys.stderr)
    return {
        "correct": outcome.failed == 0 and bool(outcome.checks_run),
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "checks_run": outcome.checks_run,
    }


def set_desc(spark, layer: str | None) -> None:
    """Attribute the calling thread's next jobs to ``layer`` in the event log."""
    import eventlog

    spark.sparkContext.setLocalProperty(
        "spark.job.description", None if layer is None else eventlog.DESC_PREFIX + layer)


def traced_cycle(wl, session: Session, outcome: Outcome, setup_s: float) -> dict:
    """One untraced cycle, then the same cycle with every layer wrapped;
    per-layer numbers from the spans and from the event log's jobs
    submitted during the traced operations (not their checks)."""
    import eventlog
    from tracing import Tracer

    spark = session.spark
    untraced = 0.0
    for kind in wl.CYCLE:
        wl.before(kind)
        session.clean_slate()
        set_desc(spark, "perfbench.untraced")
        t0 = time.perf_counter()
        _dt, checks = outcome.op(kind, getattr(wl, kind))
        untraced += time.perf_counter() - t0
        set_desc(spark, "perfbench.checks")
        outcome.check(kind, checks)

    tracer = Tracer(spark)
    traced = 0.0
    windows = []  # epoch ms of each traced operation, to pick its jobs
    for kind in wl.CYCLE:
        wl.before(kind)
        session.clean_slate()
        set_desc(spark, None)
        wl.collect = lambda df: traced_collect(tracer, df)
        tracer.install()
        w0, t0 = time.time() * 1e3, time.perf_counter()
        try:
            _dt, checks = outcome.op(kind, getattr(wl, kind))
        finally:
            traced += time.perf_counter() - t0
            windows.append((w0, time.time() * 1e3))
            tracer.uninstall()
            del wl.collect
        set_desc(spark, "perfbench.checks")
        outcome.check(kind, checks)
    n_queries = len(wl.mix)  # the cycle has one query operation
    rss = peak_rss_mb()
    session.stop()  # flushes the event log

    events = eventlog.read_events(eventlog.find_log(session.log_dir))
    jobs = eventlog.jobs_in_windows(events, windows)
    table = eventlog.layer_table(events, jobs)
    totals = eventlog.log_totals(events, jobs)
    gap = eventlog.reconcile(table, totals)
    if gap > eventlog.RECONCILE_TOLERANCE:
        outcome.failed += 1
        outcome.errors.append(f"layer executor time off the log total by {gap:.2e}")
    cand = eventlog.sql_metric(events, lambda s: "Join" in s and "band_key" in s,
                               "number of output rows", layer="operators.dedup")
    tracer.count("operators.dedup", "candidate_pairs", cand)
    # the queries' own scans of the store (executed under plans.sparql)
    scans = eventlog.scan_totals(events, "plans.sparql")
    store_files = len(glob.glob(os.path.join(wl.store.base, "graph", "**", "*.parquet"),
                                recursive=True))
    tracer.count("sinks.checkpoint.read", "rows_scanned", scans["rows"])
    tracer.count("sinks.checkpoint.read", "files_total", store_files)
    tracer.count("sinks.checkpoint.read", "files_read", scans["files"])
    tracer.count("sinks.checkpoint.read", "scans", scans["scans"])
    print_layer_table(table, tracer, totals, traced, untraced)
    return layer_metrics(table, tracer, totals, gap, traced, untraced,
                         (setup_s, session.build_s), rss, n_queries)


def traced_collect(tracer, df):
    """A query's execute, timed apart from its compile (``sparql_select``)."""
    rows = tracer.span("plans.sparql", "collect", df.collect)
    tracer.count("plans.sparql", "rows_out", len(rows))
    return rows


def print_layer_table(table, tracer, totals, traced, untraced) -> None:
    import eventlog

    layers = sorted(set(table) | set(tracer.wall))
    print(f"{'layer':28s} {'wall_s':>8s} {'exec_s':>8s} {'cpu_s':>8s} {'gc_s':>6s} "
          f"{'jobs':>5s} {'tasks':>6s} {'skew':>6s} {'shuffle_B':>10s} counts")
    for layer in layers:
        r = table.get(layer, eventlog.new_row())
        counts = dict(tracer.counts.get(layer, {}))
        print(f"{layer:28s} {tracer.wall.get(layer, 0.0):8.3f} {r['executor_run_s']:8.3f} "
              f"{r['executor_cpu_s']:8.3f} {r['gc_s']:6.3f} {r['jobs']:5d} {r['tasks']:6d} "
              f"{r['task_skew']:6.2f} {r['shuffle_write_bytes']:10d} {counts}")
    print(f"{'log total (stages)':28s} {'':8s} {totals['executor_run_s']:8.3f}   "
          f"jobs={totals['jobs']} tasks={totals['tasks']}")
    print(f"traced cycle {traced:.3f} s, untraced {untraced:.3f} s, "
          f"tracing overhead {traced - untraced:.3f} s")


def layer_metrics(table, tracer, totals, gap, traced, untraced, setup, rss, n_queries):
    """The per_layer metrics of BENCHMARK.json (see NOTES.md)."""
    import eventlog

    def row(layer):
        return table.get(layer, eventlog.new_row())

    def cnt(layer, name):
        return tracer.counts.get(layer, {}).get(name, 0)

    m = {
        "tracing_overhead_s": (traced - untraced, "s"),
        "traced_cycle_s": (traced, "s"),
        "log.executor_run_s": (totals["executor_run_s"], "s"),
        "log.jobs": (totals["jobs"], "count"),
        "log.reconcile_gap": (gap, "ratio"),
        "log.gc_s": (sum(r["gc_s"] for r in table.values()), "s"),
        "unattributed.executor_run_s": (row(eventlog.UNATTRIBUTED)["executor_run_s"], "s"),
        "unattributed.jobs": (row(eventlog.UNATTRIBUTED)["jobs"], "count"),
        "session.setup_cold_s": (setup[0], "s"),
        "session.wall_s": (setup[1], "s"),
        "session.peak_rss_mb": (rss, "MB"),
    }
    cpu_total = sum(r["executor_cpu_s"] for r in table.values()) or 1.0
    for layer in LAYERS:
        r = row(layer)
        m[f"{layer}.wall_share"] = (tracer.wall.get(layer, 0.0) / traced, "ratio")
        m[f"{layer}.cpu_share"] = (r["executor_cpu_s"] / cpu_total, "ratio")
        for k in ("jobs", "tasks", "failed_tasks"):
            m[f"{layer}.{k}"] = (r[k], "count")
        m[f"{layer}.shuffle_write_bytes"] = (r["shuffle_write_bytes"], "bytes")
        m[f"{layer}.spill_bytes"] = (r["spill_bytes"], "bytes")
        m[f"{layer}.task_skew"] = (r["task_skew"], "ratio")
    for layer in WALL_LAYERS:
        m[f"{layer}.wall_s"] = (tracer.wall.get(layer, 0.0), "s")
    for layer in CPU_LAYERS:
        m[f"{layer}.executor_cpu_s"] = (row(layer)["executor_cpu_s"], "s")
    m["plans.engine.rows_out"] = (cnt("plans.engine", "rows_out"), "count")
    m["plans.engine.maps_emitted"] = (cnt("plans.engine", "maps_emitted"), "count")
    m["plans.sparql.queries"] = (n_queries, "count")
    per_q = 1e3 / max(n_queries, 1)
    m["plans.sparql.compile_ms"] = (tracer.call_wall["sparql_select"] * per_q, "ms")
    m["plans.sparql.execute_ms"] = (tracer.call_wall["collect"] * per_q, "ms")
    m["plans.sparql.jobs_per_query"] = (row("plans.sparql")["jobs"] / max(n_queries, 1), "count")
    m["plans.sparql.rows_out"] = (cnt("plans.sparql", "rows_out"), "count")
    m["sinks.checkpoint.read.rows_out"] = (cnt("sinks.checkpoint.read", "rows_out"), "count")
    m["sources.docs.rows_out"] = (cnt("sources.docs", "rows_out"), "count")
    m["operators.mentions.rows_out"] = (cnt("operators.mentions", "rows_out"), "count")
    cand = cnt("operators.dedup", "candidate_pairs")
    edges = cnt("operators.dedup", "rows_out")
    m["operators.dedup.candidate_pairs"] = (cand, "count")
    m["operators.dedup.edges"] = (edges, "count")
    m["operators.dedup.verify_yield"] = (edges / cand if cand else 0.0, "ratio")
    m["operators.components.nodes"] = (cnt("operators.components", "rows_out"), "count")
    m["operators.components.components"] = (cnt("operators.components", "components"), "count")
    m["sinks.ntriples.bytes_written"] = (cnt("sinks.ntriples", "bytes_written"), "bytes")
    m["sinks.checkpoint.write.bytes_written"] = (
        cnt("sinks.checkpoint.write", "bytes_written"), "bytes")
    read = "sinks.checkpoint.read"
    m[f"{read}.rows_scanned"] = (cnt(read, "rows_scanned"), "count")
    m[f"{read}.files_total"] = (cnt(read, "files_total"), "count")
    files_scanned = cnt(read, "files_total") * cnt(read, "scans")
    m[f"{read}.files_read_share"] = (
        cnt(read, "files_read") / files_scanned if files_scanned else 0.0, "ratio")
    m["plans.rewrite.parts"] = (cnt("plans.rewrite", "parts"), "count")
    m["plans.rewrite.parts_joined"] = (cnt("plans.rewrite", "parts_joined"), "count")
    m["sinks.checkpoint.write.maps_generated"] = (
        cnt("sinks.checkpoint.write", "maps_generated"), "count")
    m["sinks.checkpoint.write.maps_skipped"] = (
        cnt("sinks.checkpoint.write", "maps_skipped"), "count")
    return m


LAYERS = ["pipeline", "sources.docs", "operators.mentions", "operators.dedup",
          "operators.components", "plans.engine", "plans.rewrite", "sinks.ntriples",
          "sinks.checkpoint.write", "sinks.checkpoint.read", "plans.sparql"]
#: Every layer's time is in the JSON as a share of the traced cycle's wall
#: and executor CPU. Absolute times only for the layers that spend them on
#: both workloads, because a time that reads 0 on every run of a workload
#: (a layer that workload never calls, or whose calls there start no Spark
#: job, as plans.engine's on docs_canon) is not a measurement. The printed
#: table has all of them.
WALL_LAYERS = ["plans.engine", "plans.sparql", "sinks.checkpoint.read"]
CPU_LAYERS = ["plans.sparql", "sinks.checkpoint.read"]


def stop_jvm() -> None:
    """Shut down the JVM PySpark launched and wait until it has exited
    (its gateway server ends when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def smoke() -> int:
    """Every workload once, tiny inputs, both modes, in this process (the
    later sessions reuse its JVM, so only names, units and checks count)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    for w in bench["workloads"]:
        for trace in (0, 1):
            res = run_workload(w["name"], 7, 1, bool(trace), "smoke")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want[trace] or not res["correct"]:
                print(json.dumps({"workload": w["name"], "trace": trace, "result": res,
                                  "metric_diff": sorted(set(got) ^ set(want[trace]))}))
                return 1
            print(json.dumps({"workload": w["name"], "trace": trace,
                              "checks_run": res["checks_run"]}))
    print("smoke ok")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "r2rml_parser_spark")):
        print(f"r2rml_parser_spark not found under {ROOT}: run from a checkout of the "
              "repository", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    os.environ.setdefault("SPARK_DRIVER_MEMORY", DRIVER_MEMORY)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    import workloads

    if not args.smoke and args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    try:
        if args.smoke:
            return smoke()
        res = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), "full")
    finally:
        stop_jvm()
    res.pop("checks_run")
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
