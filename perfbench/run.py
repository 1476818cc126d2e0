#!/usr/bin/env python3
"""duckdb_spark benchmark: one closed-loop client per workload.

    python3 perfbench/run.py --workload dialect_mix --seed 1 --seconds 5 --trace 0

Run from the repository root. The first run in a checkout generates the
fixtures and DuckDB's expected answers under ``.perfbench_data/``; later
runs reuse them. Each run then sets up the engine several times
(``get_spark`` + ``Connection`` + view registration), makes one untimed
warm-up pass, runs whole timed passes of the workload until ``--seconds`` of
operation time have passed, at least ``MIN_SAMPLES`` operations ran and
the workload's ``MIN_PASSES`` passes are done,
checks every answer against DuckDB outside the timed calls, and prints
one JSON object as its last line: end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``. Workloads, data sizes and the
layer-to-end-to-end mapping are described in ``perfbench/workloads.json``.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import random
import resource
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(ROOT, ".perfbench_data")

SETUPS = 3             # set-ups per run; setup_s is their median
DEADLINE_S = 30.0      # per operation, Spark jobs and driver Python alike
OVERRUN_S = 60.0       # a pass still running this long past --seconds is cut
TAIL_SAMPLES = 10      # the tail percentile has at least this many samples beyond it
MIN_SAMPLES = 2 * TAIL_SAMPLES + 2  # timed operations per run: the tail lies above the median
KEEP_ROUNDS = 4        # collections before the kept Java heap is read


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def pin_environment(run_dir: str) -> None:
    """Everything the engine reads from the environment, fixed here."""
    cpus = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        # heap well below physical RAM (the session default is 24g)
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(3, int(mem_gb * 0.4)))}g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
        "TZ": "UTC",
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_TPCDS_DIR": os.path.join(DATA, "tpcds"),
        "SPARK_GRAFT_CLICKBENCH_DIR": os.path.join(DATA, "clickbench"),
    })
    time.tzset()
    import tempfile

    tempfile.tempdir = None


def spark_conf(run_dir: str) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # the whole heap committed and touched at start: the JVM's resident
        # size then no longer depends on when G1 decides to grow the heap
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                                         f"-Xms{heap} -XX:+AlwaysPreTouch",
    }


class Context:
    """What the workloads need: fixture dirs, the package modules, the run dir."""

    def __init__(self, dirs, run_dir):
        import bench
        from duckdb_spark import queries

        queries.load_all()
        self.dirs, self.run_dir, self.data_dir = dirs, run_dir, DATA
        self.queries, self.bench = queries, bench


def percentile_tail(latencies: list[float]) -> tuple[float, str]:
    """Highest percentile with at least TAIL_SAMPLES samples beyond it
    (never below the median: a run cut short by OVERRUN_S with fewer than
    MIN_SAMPLES operations reports its median, and the label says so)."""
    s = sorted(latencies)
    i = max(len(s) - TAIL_SAMPLES - 1, (len(s) - 1) // 2)
    return s[i], f"p{100 * (i + 1) / len(s):.1f} of {len(s)}"


def _jvm():
    from pyspark import SparkContext

    return SparkContext._gateway.jvm


def kept_heap_mb() -> list[float]:
    """Java heap still in use after the timed passes (MB), cached plans,
    persisted blocks and broadcasts included: KEEP_ROUNDS rounds of
    Python's collection (dead Python proxies release their JVM objects),
    a full JVM collection and a pause in which Spark's ContextCleaner
    frees the blocks of what was collected. Outside the timed calls."""
    import gc

    jvm = _jvm()
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = []
    for i in range(KEEP_ROUNDS):
        if i:
            time.sleep(0.5)
        gc.collect()
        jvm.java.lang.System.gc()
        used.append(bean.getHeapMemoryUsage().getUsed() / 2**20)
    return used


def peak_memory_mb() -> tuple[float, float]:
    """Peak resident set of this Python process, and of the driver JVM
    outside its Java heap (the heap is committed and pre-touched at start,
    so its resident size is constant; kept_heap_mb measures its use)."""
    from pyspark import SparkContext

    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as f:
        hwm = next(int(line.split()[1]) / 1024 for line in f if line.startswith("VmHWM:"))
    heap = _jvm().java.lang.management.ManagementFactory.getMemoryMXBean() \
        .getHeapMemoryUsage().getCommitted() / 2**20
    return py, hwm - heap


def cpu_ticks() -> list[int]:
    """The host's CPU time counters (/proc/stat): user ... steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def stop_jvm() -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — last resort, then reap
            proc.kill()
            proc.wait()


def set_up(tracer, conf, sf_dir):
    """SETUPS times: get_spark + Connection (which registers the views).
    Returns the last session and connection, each set-up's seconds and
    span totals, and every session (kept alive so that ids stay unique:
    the package's table cache keys on id(spark))."""
    import duckdb_spark.relation as relation
    import duckdb_spark.session as session

    times, sessions, spans = [], [], []
    for i in range(SETUPS):
        if tracer:
            tracer.totals.clear()
        t0 = time.perf_counter()
        spark = session.get_spark(app_name="perfbench", extra_conf=conf)
        con = relation.Connection(spark, sf_dir)
        times.append(time.perf_counter() - t0)
        spans.append(dict(tracer.totals) if tracer else {})
        spark.sparkContext.setLogLevel("OFF")
        sessions.append(spark)
        if i < SETUPS - 1:
            spark.stop()
    return spark, con, times, spans, sessions


def run_op(op, con, spark, sf_dir, queries, tracer, group):
    """One operation under the deadline. Returns its seconds, columns,
    rows, error (None on success) and the epoch ms its final action began."""
    from deadline import DeadlineExceeded, deadline

    cols, rows, err, final_ms = [], [], None, None
    t0 = time.perf_counter()
    fired = None
    try:
        with deadline(spark.sparkContext, group, DEADLINE_S) as fired:
            if op.sql is not None:
                rel = con.sql(op.sql)
                final_ms = time.time() * 1000
                if rel is not None:
                    rows = rel.fetchall()
                    cols = rel.columns
            else:
                df = queries.QUERIES[op.builder](spark, sf_dir)
                final_ms = time.time() * 1000
                if tracer is not None:
                    with tracer.span("queries.exec"):
                        rows = df.collect()
                else:
                    rows = df.collect()
                cols = df.columns
    except DeadlineExceeded:
        err = "deadline"
    except Exception as e:  # noqa: BLE001 — every failure is counted and named
        kind = "deadline" if fired is not None and fired.is_set() else type(e).__name__
        err = f"{kind}: {str(e).strip().splitlines()[0][:160] if str(e).strip() else ''}"
    seconds = time.perf_counter() - t0
    if err is None and fired is not None and fired.is_set():
        err = "deadline"
    return seconds, cols, rows, err, final_ms


def main() -> int:
    args = parse_args()
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "duckdb_spark")) or not os.path.exists(
            os.path.join(ROOT, "bench.py")):
        print("perfbench: run from a duckdb_spark checkout (duckdb_spark/ and "
              "bench.py not found next to perfbench/)", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    os.makedirs(DATA, exist_ok=True)
    run_dir = os.path.join(DATA, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        pin_environment(run_dir)
        import fixtures

        with open(os.path.join(DATA, ".lock"), "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)  # one build per checkout
            dirs = fixtures.ensure_all(DATA, log=lambda m: print(m, file=sys.stderr))
            prepare_expected(dirs, run_dir)
        result, summary = measure(args, dirs, run_dir)
    finally:
        try:
            stop_jvm()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    for line in summary:
        print(line)
    print(json.dumps(result))
    return 0


def prepare_expected(dirs, run_dir) -> None:
    """DuckDB's answers for the fixed panels, once per checkout, so that no
    later run pays for them (single-threaded DuckDB at sf1 takes seconds
    per query)."""
    import hashlib

    from fixtures import FIXTURE_VERSION
    from workloads import ANALYTICS_PANEL, DIALECT_PANEL, AnalyticsSF1, DialectMix

    panels = ",".join([FIXTURE_VERSION] + DIALECT_PANEL + ANALYTICS_PANEL).encode()
    marker = os.path.join(DATA, f".expected-{hashlib.sha1(panels).hexdigest()[:12]}")
    if os.path.exists(marker):
        return
    ctx = Context(dirs, run_dir)
    for cls in (DialectMix, AnalyticsSF1):
        cls(ctx).prefetch()
    with open(marker, "w") as f:
        f.write("ok\n")


def measure(args, dirs, run_dir):
    from check import answer
    from workloads import WORKLOADS

    tracer = None
    ctx = Context(dirs, run_dir)
    if args.trace:
        from spans import Tracer

        tracer = Tracer()
        tracer.install(ctx.queries)
    workload = WORKLOADS[args.workload](ctx)
    sf_dir = dirs[workload.tier]
    spark, con, setup_times, setup_spans, _sessions = set_up(
        tracer, spark_conf(run_dir), sf_dir)
    stats = None
    if tracer:
        from spans import SparkStats

        stats = SparkStats(spark)
    # untimed warm-up pass: class loading, JIT and code generation
    t_warm = time.perf_counter()
    warm_ops, warm_tier = workload.warm_up(random.Random(-args.seed))
    for i, op in enumerate(warm_ops):
        _, cols, rows, err, _ = run_op(op, con, spark, dirs[warm_tier], ctx.queries, None,
                                       f"perfbench-warm-{i}")
        if op.write and err is None:
            op.verify(answer(cols, rows))  # keeps a write session's DuckDB mirror in step
    workload.end_pass(con)
    if tracer:
        tracer.totals.clear()

    lat, failures, layer, order = [], [], {}, []  # lat: (statement, seconds)
    timed = 0.0
    disk = []
    n = passes = 0
    t_loop, ticks = time.perf_counter(), cpu_ticks()
    for ops in workload.passes(random.Random(args.seed)):
        for op in ops:
            n += 1
            group = f"perfbench-{n}"
            before = layer_snapshot(con) if tracer and op.write else None
            first_exec = stats.executions() if stats else 0
            if tracer:
                tracer.op = n
            seconds, cols, rows, err, final_ms = run_op(
                op, con, spark, sf_dir, ctx.queries, tracer, group)
            if tracer:
                tracer.op = None
            timed += seconds
            if err is None:
                try:
                    got = answer(cols, rows)
                    d = op.verify(got)
                except Exception as e:  # noqa: BLE001 — a broken answer is wrong
                    d = f"check failed: {type(e).__name__}: {str(e)[:120]}"
                if d:
                    err = f"wrong answer: {d[:200]}"
            if err is not None:
                failures.append((op.name, err))
                if err.startswith("AnalysisException") and tracer:
                    tracer.count("relation.analysis_propagated")
            lat.append((op.name, DEADLINE_S if err and err.startswith("deadline") else seconds))
            order.append(f"{op.name}={lat[-1][1]:.3f}")
            if tracer:
                collect_layers(layer, stats, group, final_ms, first_exec,
                               con, op, before, rows if err is None else None)
            if timed >= args.seconds + OVERRUN_S:
                break
        passes += 1
        disk.append(workload.end_pass(con))
        failures += [("stored_table", f"wrong answer: {w[:200]}")
                     for w in (disk[-1] or {}).get("wrong", [])]
        if (len(lat) >= MIN_SAMPLES and passes >= workload.MIN_PASSES
                and timed >= args.seconds) or timed >= args.seconds + OVERRUN_S:
            break
    workload.close()
    t_end = time.perf_counter()
    ticks = [b - a for a, b in zip(ticks, cpu_ticks())]

    attempted = len(lat)
    ok = attempted - sum(1 for name, _ in failures if name != "stored_table")
    p50 = statistics.median(t for _, t in lat)
    tail, tail_label = percentile_tail([t for _, t in lat])
    mem_py, mem_jvm = peak_memory_mb()
    del rows, cols
    heap = kept_heap_mb()
    on_disk = sum(d["on_disk"] for d in disk if d)
    live = sum(d["live"] for d in disk if d)
    e2e = {
        "setup_s": (statistics.median(setup_times), "s"),
        "ops_per_s": (ok / timed, "1/s"),
        "latency_p50_s": (p50, "s"),
        "latency_tail_s": (tail, "s"),
        "peak_rss_mb": (mem_py + mem_jvm + heap[-1], "MB"),
        # 1.0 where nothing is written: no amplification
        "space_amp": (on_disk / live if live else 1.0, "ratio"),
    }
    summary = [
        f"workload {args.workload} seed {args.seed}: {attempted} operations in "
        f"{timed:.2f} s of operation time, {len(failures)} failed",
        f"error_share {len(failures) / attempted:.4f} (share) failing: "
        + (", ".join(sorted({f'{n} [{e[:80]}]' for n, e in failures})) or "none"),
        f"latency_tail_s is {tail_label}; setups {[round(t, 3) for t in setup_times]}; "
        f"peak_rss_mb: Python {mem_py:.1f} MB + JVM outside the heap {mem_jvm:.1f} MB "
        f"+ Java heap kept {heap[-1]:.1f} MB (after each collection: "
        f"{[round(h, 1) for h in heap]})",
        f"phases (s): set-ups {sum(setup_times):.1f}, warm-up {t_loop - t_warm:.1f}, "
        f"passes {t_end - t_loop:.1f} of which operations {timed:.1f}; "
        f"host CPU steal during the passes {100 * ticks[7] / max(1, sum(ticks)):.1f}%",
        "operations in order (s): " + " ".join(order),
    ]
    summary += [f"{k} {v:.6g} ({u})" for k, (v, u) in e2e.items()]
    if tracer:
        metrics = layer_metrics(tracer, layer, setup_spans, attempted, ok / timed)
        tracer.uninstall()
        trace_dir = os.path.join(DATA, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"))
        summary.append(tracing_overhead(args.workload, ok / timed))
        out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    else:
        remember_untraced(args.workload, ok / timed)
        out = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    result = {"correct": not any(e.startswith("wrong answer") for _, e in failures),
              "attempted": attempted, "failed": len(failures), "metrics": out}
    return result, summary


# -- traced-run bookkeeping --------------------------------------------------

def layer_snapshot(con):
    """Bytes, files and version directories under the managed tables."""
    from workloads import dir_bytes

    base = con.managed.base
    files = versions = 0
    for root, dnames, fnames in os.walk(base):
        files += len(fnames)
        if root == base:
            continue
        versions += sum(1 for d in dnames if d.startswith("v"))
    return {"bytes": dir_bytes(base), "files": files, "versions": versions}


def collect_layers(layer, stats, group, final_ms, first_exec, con, op, before, rows):
    for k, v in stats.read(group, final_ms, first_exec).items():
        layer[k] = layer.get(k, 0.0) + v
    if before is None:
        return
    after = layer_snapshot(con)
    written = after["bytes"] - before["bytes"]
    for key, name in (("bytes", "managed.bytes_written"), ("files", "managed.files_written"),
                      ("versions", "managed.versions")):
        layer[name] = layer.get(name, 0.0) + after[key] - before[key]
    if op.output:
        from workloads import dir_bytes

        layer["io.copy_bytes"] = layer.get("io.copy_bytes", 0.0) + dir_bytes(op.output)
    elif op.table and rows:  # DML: rows == [(rows changed,)]
        changed_bytes = int(rows[0][0]) * live_row_bytes(con, op.table)
        layer["managed.dml_bytes"] = layer.get("managed.dml_bytes", 0.0) + max(0, written)
        layer["managed.changed_bytes"] = layer.get("managed.changed_bytes", 0.0) + changed_bytes


def live_row_bytes(con, table: str) -> float:
    import pyarrow.parquet as pq

    from workloads import dir_bytes

    _, version = con.managed.tables[table]
    path = os.path.join(con.managed.base, table, f"v{version}")
    rows = sum(pq.read_metadata(os.path.join(path, f)).num_rows
               for f in os.listdir(path) if f.endswith(".parquet"))
    return dir_bytes(path) / rows if rows else 0.0


PER_OP_SPANS = [
    ("relation.sql_s", "s"), ("relation.fetch_s", "s"), ("sql.translate_s", "s"),
    ("sql.macro_expand_s", "s"), ("queries.build_s", "s"), ("queries.exec_s", "s"),
    ("io.copy_to_s", "s"),
]
SPARK_COUNTS = [
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.executor_cpu_s", "s"), ("spark.executor_run_s", "s"), ("spark.gc_s", "s"),
    ("spark.scan_bytes", "B"), ("spark.scan_rows", "count"), ("spark.shuffle_read_bytes", "B"),
    ("spark.shuffle_write_bytes", "B"), ("spark.spill_bytes", "B"), ("spark.idle_s", "s"),
    ("spark.python_rows", "count"), ("spark.python_bytes", "B"),
    ("operators.eager_jobs", "count"), ("operators.eager_s", "s"),
    ("managed.bytes_written", "B"), ("managed.files_written", "count"),
    ("managed.versions", "count"), ("io.copy_bytes", "B"),
]
MANAGED_KINDS = ("create", "update", "delete", "merge")


def layer_metrics(tracer, layer, setup, ops, traced_ops_per_s):
    """Per-layer metrics: set-up spans as the median over set-ups (like
    setup_s), everything else per operation, handle times per handled
    statement of each type."""
    t = tracer.totals

    def per_setup(f):
        return statistics.median(f(s) for s in setup), "s"

    m = {
        "session.get_spark_s": per_setup(lambda s: s.get("session.get_spark_s", 0.0)),
        "catalog.register_views_s": per_setup(
            lambda s: s.get("catalog.register_views_s", 0.0)),
        # self time: Connection.__init__ minus the view registration it calls
        "relation.connection_init_s": per_setup(
            lambda s: s.get("relation.connection_init_s", 0.0)
            - s.get("catalog.register_views_s", 0.0)),
        "relation.sql_attempts": (t.get("relation.sql_attempts", 0.0) / ops, "count"),
        "relation.analysis_errors": (
            (t.get("relation.analysis_raised", 0.0)
             - t.get("relation.analysis_propagated", 0.0)) / ops, "count"),
        "sql.translate_calls": (t.get("sql.translate.calls", 0.0) / ops, "count"),
    }
    for name, unit in PER_OP_SPANS:
        m[name] = (t.get(name, 0.0) / ops, unit)
    for name, unit in SPARK_COUNTS:
        m[name] = (layer.get(name, 0.0) / ops, unit)
    for kind in MANAGED_KINDS:
        calls = t.get(f"managed.handle.{kind}.calls", 0.0)
        m[f"managed.handle_s.{kind}"] = (
            t.get(f"managed.handle_s.{kind}", 0.0) / calls if calls else 0.0, "s")
    changed = layer.get("managed.changed_bytes", 0.0)
    m["managed.write_amp"] = (layer.get("managed.dml_bytes", 0.0) / changed
                              if changed else 0.0, "ratio")
    m["trace.ops_per_s"] = (traced_ops_per_s, "1/s")
    return m


def _untraced_path(workload: str) -> str:
    return os.path.join(DATA, f"untraced-{workload}.json")


def remember_untraced(workload: str, ops_per_s: float) -> None:
    with open(_untraced_path(workload), "w") as f:
        json.dump({"ops_per_s": ops_per_s}, f)


def tracing_overhead(workload: str, traced: float) -> str:
    path = _untraced_path(workload)
    if not os.path.exists(path):
        return f"tracing overhead: no untraced run of {workload} in this checkout yet"
    with open(path) as f:
        untraced = json.load(f)["ops_per_s"]
    return (f"tracing overhead: traced ops_per_s {traced:.4g} vs last untraced "
            f"{untraced:.4g} ({100 * (1 - traced / untraced):+.1f}%)")


if __name__ == "__main__":
    sys.exit(main())
