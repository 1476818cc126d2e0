#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Mirrors the reference harness protocol (benchmark/README.md: warmup + timed
runs); here: 1 warmup action to amortize session/JIT, then 1 timed run per
query (the driver repeats rounds).

PRIMARY GATE SCALE (BASELINE.md protocol, VERDICT r05 item 10): sf0.1 sits
on Spark's ~0.2-1s per-job floor, so per-query ratios there measure job
launch, not operators. When the primary pass runs at sf0.1, a second pass
runs the same queries at sf1 (self-generated via scripts/gen_scaled_sf.py,
FK-preserving 10× replication; TPC-DS/ClickBench fixtures scale via their
own mult) and reports it under the extra "sf1" key — same JSON line, same
driver contract, gate judged at sf1.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# Must end in "sf1" so queries.bench_scale_mult scales the TPC-DS/CB fixtures.
SF1_DIR = os.environ.get("SPARK_GRAFT_BENCH_SF1_DIR", "/tmp/duckdb_spark_bench_sf1")

# Headline set: the most plan-diverse queries (scan-agg, multi-join,
# semi/anti, window, asof, dedup, similarity, streaming) — extended as
# coverage grows.
HEADLINE = [
    "tpch_q01", "tpch_q03", "tpch_q05", "tpch_q06", "tpch_q08", "tpch_q09",
    "tpch_q13", "tpch_q18", "tpch_q21",
    "win_topk_per_group", "ev_timeseries", "ev_asof_join",
    "dedup_minhash_lsh", "text_quality", "sim_cosine_topk",
    # TPC-DS secondary gate (BASELINE.md): fact tables now scale with sf
    # (queries/tpcds.py ensure_fixture mult), so these measure star-join
    # throughput rather than the engines' per-job floors.
    "tpcds_q07", "tpcds_q25",
    # ClickBench slice: phrase top-k and the wide two-key group-by — the
    # scan-agg shapes of that workload; hits row count scales with sf too.
    "cb_q12", "cb_q32",
]


def ensure_sf1() -> str | None:
    """Generate the sf1 fixture (10× sf0.1) if missing; None on failure."""
    marker = os.path.join(SF1_DIR, ".complete")
    if os.path.exists(marker):
        return SF1_DIR
    script = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "scripts", "gen_scaled_sf.py")
    try:
        subprocess.run([sys.executable, script, "10", SF1_DIR], check=True,
                       capture_output=True, timeout=1200)
        open(marker, "w").write("ok\n")
        return SF1_DIR
    except Exception as e:  # noqa: BLE001 — sf1 pass is best-effort extra
        print(f"sf1 fixture generation failed: {e}", file=sys.stderr)
        return None


RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

# Calibration probe (VERDICT r12 item 2): the r12 32-core artifact was
# inflated ~1.7× by a hypervisor-steal window that the loadavg gate cannot
# see (load read 2.66) and the per-query outlier rules cannot catch when
# the inflation is UNIFORM across a pass. Fix: time a fixed-cost canonical
# job immediately before each timed pass; after all passes, any pass whose
# probe reading exceeds PROBE_TOLERANCE × the session's best probe was
# measured in a steal window — re-run it once (after the probe recovers)
# and keep the per-query min, recording both. Methodology of the passes
# themselves (same queries, same scales, warmup + median of RUNS) is
# unchanged.
PROBE_TOLERANCE = 1.4


def spark_probe(spark, runs: int = 3) -> float:
    """Seconds for a canonical CPU-bound scan-agg (64M xxhash64 on all
    cores): depends only on host compute throughput, not on any query or
    fixture, so run-to-run drift measures host contention/steal."""
    from pyspark.sql import functions as F

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 32))
    # % bounds the summand: a raw sum of 64-bit hashes overflows LONG after
    # ~2 rows and ANSI mode (Spark 4 default) turns that into a hard error.
    df = spark.range(0, 64_000_000, 1, cpus).agg(
        F.sum(F.xxhash64("id") % 1_000_003))
    df.collect()  # warm
    samples = []
    for _ in range(max(1, runs)):
        t0 = time.perf_counter()
        df.collect()
        samples.append(time.perf_counter() - t0)
    return round(min(samples), 3)


def wait_for_quiet(spark, best: float, max_wait_s: int = 120) -> float:
    """Wait (bounded) for the probe to return to the session's steady band
    before a recovery rerun; returns the last probe reading."""
    deadline = time.time() + max_wait_s
    p = spark_probe(spark)
    while p > PROBE_TOLERANCE * best and time.time() < deadline:
        time.sleep(10)
        p = spark_probe(spark)
    return p


def run_pass(spark, q, names: list[str], sf_dir: str,
             probes_out: dict[str, float] | None = None) -> dict[str, float]:
    import gc
    import statistics

    timings: dict[str, float] = {}

    def _reclaim():
        # release checkpoint blocks before the next measurement (see the
        # long note below — Python gc alone never triggers the
        # ContextCleaner)
        spark.catalog.clearCache()
        gc.collect()
        try:
            spark._jvm.System.gc()
        except Exception:  # noqa: BLE001 — GC nudge is best-effort
            pass

    for name in names:
        if probes_out is not None:
            # r13.3 mid-pass burst detection: one cheap probe reading per
            # query (~30 ms — outside the timed loop, between queries).
            # The pass-level probe is point-in-time and a steal window
            # that starts MID-pass is invisible to it (final run 4: a
            # clean 0.032 pass probe followed by q01 at 6.5× baseline).
            probes_out[name] = spark_probe(spark, runs=2)
        q.QUERIES[name](spark, sf_dir).collect()  # warmup run
        # NOTE: no reclaim between warmup and the timed loop — a full
        # System.gc right before measurement left cold CPU caches and
        # consistently slowed every timed run ~20% (three full-harness
        # A/B runs); the median of 3 absorbs a first-run outlier instead.
        # Median of >=3 timed runs: the committed r06 numbers were single
        # runs and 2-7x off a clean re-run (VERDICT r06 wrong-item 3).
        samples = []
        for _ in range(max(1, RUNS)):
            t0 = time.perf_counter()
            q.QUERIES[name](spark, sf_dir).collect()
            samples.append(time.perf_counter() - t0)
        timings[name] = round(statistics.median(samples), 3)
        _reclaim()
        # Checkpoint blocks (minhash/sessionization eager localCheckpoint)
        # accumulate across queries and later queries degrade under
        # block-manager eviction pressure (measured 6s → 35s drift, and
        # dedup 5.5s isolated vs 8.6s mid-bench). _reclaim() runs after the
        # warmup and after each query's timed loop — NOT between samples
        # (a full System.gc between samples measured ~15% slower across
        # the board).
    if probes_out is not None and names:
        # trailing reading: a burst starting during the LAST query's loop
        # would otherwise be invisible
        probes_out["__after"] = spark_probe(spark, runs=2)
    return timings


def _burst_suspects(names: list[str], probes_by_q: dict[str, float],
                    best: float, tol: float = 3.0) -> list[str]:
    """Queries whose adjacent probe readings (before it, or before the
    NEXT query — a burst during query k's timed loop shows in reading
    k+1) exceeded tol × the session's best probe. The min-of-2 readings
    still jitter more than the min-of-3 pass probes (measured 0.05–0.15 s
    spread on a quiet host for min-of-1), hence the wider 3× — the
    mid-pass bursts this targets read ~6× (final run 4)."""
    seq = [probes_by_q.get(n) for n in names] + [probes_by_q.get("__after")]
    sus = []
    for i, n in enumerate(names):
        before, after = seq[i], seq[i + 1]
        if (before is not None and before > tol * best) or (
                after is not None and after > tol * best):
            sus.append(n)
    return sus


def duckdb_qprobe(con) -> float:
    """Small per-query probe for the DuckDB companion (~0.15 s: 8M-row
    hash-agg, vs ~1.1 s for the 64M pass probe; min of 2 to damp
    single-reading jitter). Compared only within its own reading series."""
    samples = []
    for _ in range(2):
        t0 = time.perf_counter()
        con.execute("SELECT sum(hash(i)) FROM range(8000000) t(i)").fetchall()
        samples.append(time.perf_counter() - t0)
    return round(min(samples), 3)


def duckdb_pass(q, names: list[str], sf_dir: str,
                probes_out: dict[str, float] | None = None) -> dict[str, float]:
    """Same-day DuckDB companion (BASELINE protocol): run each query's
    ORACLE SQL on the same parquet, median of the same RUNS count. Lives
    in the SAME JSON line as the Spark numbers so a round's artifact is
    self-contained (VERDICT r07 item 7 — three irreconcilable sf1 tables
    existed for round 7 because Spark and DuckDB were measured in
    different sessions on different days)."""
    import statistics

    import duckdb

    tables = ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split()
    con = duckdb.connect()
    con.execute(
        f"SET threads TO {os.environ.get('SPARK_GRAFT_CPUS', os.cpu_count())}")
    for t in tables:
        suffix = "/*.parquet" if os.path.isdir(
            f"{sf_dir}/{t}.parquet") else ""
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet{suffix}')"
        )
    from duckdb_spark.queries import bench_scale_mult, clickbench, tpcds

    mult = bench_scale_mult(sf_dir)
    subs = {}
    if mult > 1:
        subs[tpcds.fixture_dir(1)] = tpcds.ensure_fixture(mult)
        subs[clickbench.fixture_dir(1)] = clickbench.ensure_fixture(mult)
    timings: dict[str, float] = {}
    for name in names:
        if name not in q.ORACLE:
            continue
        if probes_out is not None:
            probes_out[name] = duckdb_qprobe(con)
        sql = q.ORACLE[name]
        for base, scaled in subs.items():
            sql = sql.replace(base + "/", scaled + "/")
        con.execute(sql).fetchall()  # warmup
        samples = []
        for _ in range(max(1, RUNS)):
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            samples.append(time.perf_counter() - t0)
        timings[name] = round(statistics.median(samples), 3)
    if probes_out is not None and names:
        probes_out["__after"] = duckdb_qprobe(con)
    con.close()
    return timings


def duckdb_probe(runs: int = 3) -> float:
    """DuckDB twin of spark_probe: fixed-cost hash-agg over range(64M) on
    the same core count — calibrates the companion's passes against the
    same steal windows (a contaminated denominator flatters our ratio)."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"SET threads TO {os.environ.get('SPARK_GRAFT_CPUS', os.cpu_count())}")
    sql = "SELECT sum(hash(i)) FROM range(64000000) t(i)"
    con.execute(sql).fetchall()  # warm
    samples = []
    for _ in range(max(1, runs)):
        t0 = time.perf_counter()
        con.execute(sql).fetchall()
        samples.append(time.perf_counter() - t0)
    con.close()
    return round(min(samples), 3)


def main() -> None:
    from duckdb_spark import queries as q
    from duckdb_spark.session import get_spark

    q.load_all()
    spark = get_spark(app_name="duckdb_spark_bench")

    # warmup: touch the biggest table so file listing/JIT are out of the way
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()

    names = [n for n in HEADLINE if n in q.QUERIES]
    extra = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if extra:
        names = [n.strip() for n in extra.split(",") if n.strip() in q.QUERIES]

    # Host-noise gate (r12): this sandbox shows multi-minute windows where
    # BOTH engines run 3-20× slow (r12 baseline: q01 13.4s at sf0.1 vs
    # 0.9s committed r11; DuckDB's own companion doubled in the same
    # window). Wait for load to drain before the timed passes and record
    # what we saw so the artifact is interpretable.
    load_seen = []
    for _ in range(24):  # up to ~2 min
        load = os.getloadavg()[0]
        load_seen.append(round(load, 2))
        if load < max(4.0, 0.25 * (os.cpu_count() or 32)):
            break
        time.sleep(5)

    probes: dict[str, float] = {}
    # Discard one probe reading first: the first probe of a session reads
    # ~2-4x high from JIT warm-up (r13 baseline: 0.108 first vs 0.025-0.042
    # steady), which made the pass-rerun rule fire on a clean pass.
    spark_probe(spark)
    probes["pass_sf0.1"] = spark_probe(spark)
    qprobes01: dict[str, float] = {}
    timings = run_pass(spark, q, names, SF_DIR, probes_out=qprobes01)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    result = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "loadavg_at_start": load_seen,
        "probes": probes,
    }

    # Secondary pass at the primary gate scale (sf1). Best-effort: any
    # failure leaves the primary contract output intact.
    if (
        os.environ.get("SPARK_GRAFT_BENCH_SF1", "1") != "0"
        and sf == "0.1"
        and ensure_sf1()
    ):
        try:
            probes["pass_sf1"] = spark_probe(spark)
            qprobes1: dict[str, float] = {}
            sf1_timings = run_pass(spark, q, names, SF1_DIR,
                                   probes_out=qprobes1)
            # Per-query cross-check against the same pass's sf0.1 time:
            # the fixture grows 10×, so a query whose sf1 time exceeds
            # 12× its sf0.1 time (with a 2s absolute floor for job-launch
            # noise) was almost certainly contaminated — rerun it once
            # and keep the better median rather than committing the
            # outlier (VERDICT r07 item 7: q21 published 21.1s, clean
            # rerun 3.4s). Reruns are recorded in the artifact.
            # r12: threshold 12 → 6. The r12 baseline caught q18 (34.6s →
            # 1.9s on rerun) but missed q21 at ratio 10.5 because its
            # sf0.1 counterpart was itself contaminated. A genuinely
            # ~6-12× query only costs one redundant rerun (min() keeps
            # the honest larger time); a contaminated one is recovered.
            reruns = []
            for name, t1 in list(sf1_timings.items()):
                t0 = timings.get(name, 0.0)
                if t1 > 2.0 and t0 > 0 and t1 / t0 > 6.0:
                    redo = run_pass(spark, q, [name], SF1_DIR)[name]
                    sf1_timings[name] = min(t1, redo)
                    reruns.append(
                        {"query": name, "first": t1, "rerun": redo})
            result["sf1"] = {
                "value": round(sum(sf1_timings.values()), 3),
                "queries": sf1_timings,
            }
            if reruns:
                result["sf1"]["reruns"] = reruns
            # r12: symmetric recovery for the sf0.1 pass — a query whose
            # sf0.1 time EXCEEDS its sf1 time on 10× the data was measured
            # inside a noise window (r12 baseline: q05 32.2s at sf0.1 vs
            # 4.8s at sf1). Rerun it now that the window has passed and
            # keep the min; reruns recorded.
            reruns01 = []
            for name, t0 in list(timings.items()):
                t1 = sf1_timings.get(name, 0.0)
                if t0 > 2.0 and t1 > 0 and t0 > 1.5 * t1:
                    redo = run_pass(spark, q, [name], SF_DIR)[name]
                    timings[name] = min(t0, redo)
                    reruns01.append(
                        {"query": name, "first": t0, "rerun": redo})
            if reruns01:
                result["queries"] = timings
                result["value"] = round(sum(timings.values()), 3)
                result["reruns"] = reruns01
            # r13 pass-level steal recovery (VERDICT r12 item 2): a UNIFORM
            # slowdown across a whole pass defeats both per-query rules
            # above (r12's committed 32-core pass was ~1.7× inflated with
            # zero rule hits). The calibration probe timed right before
            # each pass sees host steal regardless of query shape: re-run
            # any pass whose probe exceeded PROBE_TOLERANCE× the session's
            # best Spark probe, after waiting for the probe to recover;
            # keep the per-query min and record both readings.
            # r13.2: sweep until stable — the best probe may only be
            # DISCOVERED during a recovery rerun (r13 final run 1: probes
            # read 0.211/0.054, so 0.054 was "best" and the sf1 pass it
            # measured — genuinely 2.25× steal-inflated, untouched queries
            # at 3-4× — passed the gate; the sf0.1 rerun then probed
            # 0.024, exposing it). Each pass re-runs at most once.
            pass_reruns = []
            redone: set[str] = set()
            while True:
                spark_best = min(
                    [probes["pass_sf0.1"], probes["pass_sf1"]]
                    + [pr["probe_at_rerun"] for pr in pass_reruns])
                todo = [
                    (key, tgt, d)
                    for key, tgt, d in (("pass_sf0.1", timings, SF_DIR),
                                        ("pass_sf1", sf1_timings, SF1_DIR))
                    if key not in redone
                    and probes[key] > PROBE_TOLERANCE * spark_best
                ]
                if not todo:
                    break
                key, tgt, d = todo[0]
                p2 = wait_for_quiet(spark, spark_best)
                redo = run_pass(spark, q, names, d)
                for name, t in redo.items():
                    tgt[name] = min(tgt.get(name, t), t)
                pass_reruns.append({"pass": key, "probe_first": probes[key],
                                    "probe_at_rerun": p2,
                                    "rerun_queries": redo})
                redone.add(key)
            if pass_reruns:
                result["pass_reruns"] = pass_reruns
            # r13.3 per-query burst recovery: a steal window that starts
            # MID-pass is invisible to the point-in-time pass probe (final
            # run 4: clean 0.032 pass probe, then q01 at 6.5× baseline).
            # The per-query readings bracket every timed loop; re-run
            # queries whose adjacent readings exceeded 3× the session's
            # best reading (_burst_suspects' tol) — unless the whole pass
            # was already re-run by the sweep above. min() keeps honest
            # larger times; everything recorded.
            all_readings = (
                [probes["pass_sf0.1"], probes["pass_sf1"]]
                + [pr["probe_at_rerun"] for pr in pass_reruns]
                + [v for d in (qprobes01, qprobes1) for v in d.values()])
            qbest = min(all_readings)
            burst_reruns = []
            for key, tgt, d, qpr in (("sf0.1", timings, SF_DIR, qprobes01),
                                     ("sf1", sf1_timings, SF1_DIR, qprobes1)):
                if any(pr["pass"].endswith(key) for pr in pass_reruns):
                    continue
                for name in _burst_suspects(names, qpr, qbest):
                    redo = run_pass(spark, q, [name], d)[name]
                    prev = tgt[name]
                    tgt[name] = min(prev, redo)
                    burst_reruns.append({"pass": key, "query": name,
                                         "first": prev, "rerun": redo})
            if burst_reruns:
                result["burst_reruns"] = burst_reruns
            # the per-query reading series justify (or rule out) burst
            # reruns — keep them in the artifact
            probes["by_query_sf0.1"] = qprobes01
            probes["by_query_sf1"] = qprobes1
            if pass_reruns or burst_reruns:
                result["queries"] = timings
                result["value"] = round(sum(timings.values()), 3)
                result["sf1"]["queries"] = sf1_timings
                result["sf1"]["value"] = round(sum(sf1_timings.values()), 3)
            # sf0.1 wall-time above sf1 means the smaller pass was
            # contaminated (GC, eviction, host noise) — flag it rather
            # than publishing it silently (VERDICT r06 wrong-item 3).
            if result["value"] > result["sf1"]["value"]:
                result["note"] = (
                    "sf0.1 total exceeds sf1 total: sf0.1 pass likely "
                    "contaminated; trust sf1"
                )
        except Exception as e:  # noqa: BLE001
            print(f"sf1 pass failed: {e}", file=sys.stderr)

    # Same-line DuckDB companion at both scales (best-effort).
    if os.environ.get("SPARK_GRAFT_BENCH_DUCKDB", "1") != "0":
        try:
            probes["duckdb_sf0.1"] = duckdb_probe()
            ddb_qpr01: dict[str, float] = {}
            ddb = duckdb_pass(q, names, SF_DIR, probes_out=ddb_qpr01)
            result["duckdb"] = {
                "value": round(sum(ddb.values()), 3), "queries": ddb}
            if "sf1" in result:
                probes["duckdb_sf1"] = duckdb_probe()
                ddb_qpr1: dict[str, float] = {}
                ddb1 = duckdb_pass(q, names, SF1_DIR, probes_out=ddb_qpr1)
                # Same noise-window recovery as the Spark passes (the
                # denominator must be equally honest: a contaminated
                # DuckDB run flatters our ratio). Rerun sf1 outliers vs
                # their sf0.1 counterpart, then sf0.1 rows slower than
                # their 10×-data sf1 counterpart; keep the min.
                ddb_reruns = []
                for name, t1 in list(ddb1.items()):
                    t0 = ddb.get(name, 0.0)
                    if t1 > 1.0 and t0 > 0 and t1 / t0 > 6.0:
                        redo = duckdb_pass(q, [name], SF1_DIR)[name]
                        ddb1[name] = min(t1, redo)
                        ddb_reruns.append(
                            {"query": name, "sf": 1, "first": t1,
                             "rerun": redo})
                for name, t0 in list(ddb.items()):
                    t1 = ddb1.get(name, 0.0)
                    if t0 > 1.0 and t1 > 0 and t0 > 1.5 * t1:
                        redo = duckdb_pass(q, [name], SF_DIR)[name]
                        ddb[name] = min(t0, redo)
                        ddb_reruns.append(
                            {"query": name, "sf": 0.1, "first": t0,
                             "rerun": redo})
                # r13: same pass-level probe recovery as the Spark side,
                # r13.2: same until-stable sweep (best probe may only be
                # discovered during a rerun). Each pass re-runs at most
                # once.
                ddb_redone: set[str] = set()
                while True:
                    ddb_best = min(
                        [probes["duckdb_sf0.1"], probes["duckdb_sf1"]]
                        + [pr["probe_at_rerun"] for pr in ddb_reruns
                           if "probe_at_rerun" in pr])
                    todo = [
                        (key, tgt, d)
                        for key, tgt, d in (("duckdb_sf0.1", ddb, SF_DIR),
                                            ("duckdb_sf1", ddb1, SF1_DIR))
                        if key not in ddb_redone
                        and probes[key] > PROBE_TOLERANCE * ddb_best
                    ]
                    if not todo:
                        break
                    key, tgt, d = todo[0]
                    p2 = duckdb_probe()
                    redo = duckdb_pass(q, names, d)
                    for name, t in redo.items():
                        tgt[name] = min(tgt.get(name, t), t)
                    ddb_reruns.append({"pass": key,
                                       "probe_first": probes[key],
                                       "probe_at_rerun": p2,
                                       "rerun_queries": redo})
                    ddb_redone.add(key)
                # r13.3: per-query burst recovery, identical rule to the
                # Spark side (a contaminated companion flatters our
                # ratio). The small 8M-row readings form their own series.
                ddb_qbest = min(
                    v for d in (ddb_qpr01, ddb_qpr1) for v in d.values())
                ddb_passes_redone = {pr["pass"] for pr in ddb_reruns
                                     if "pass" in pr}
                for key, tgt, d, qpr in (
                        ("duckdb_sf0.1", ddb, SF_DIR, ddb_qpr01),
                        ("duckdb_sf1", ddb1, SF1_DIR, ddb_qpr1)):
                    if key in ddb_passes_redone:
                        continue
                    for name in _burst_suspects(names, qpr, ddb_qbest):
                        if name not in tgt:
                            continue
                        redo = duckdb_pass(q, [name], d)[name]
                        prev = tgt[name]
                        tgt[name] = min(prev, redo)
                        ddb_reruns.append({"pass": key, "query": name,
                                           "burst": True, "first": prev,
                                           "rerun": redo})
                if ddb_reruns:
                    result["duckdb"]["queries"] = ddb
                    result["duckdb"]["value"] = round(sum(ddb.values()), 3)
                    result["duckdb"]["reruns"] = ddb_reruns
                result["sf1"]["duckdb"] = {
                    "value": round(sum(ddb1.values()), 3), "queries": ddb1}
                if result["sf1"]["duckdb"]["value"] > 0:
                    result["sf1"]["ratio_vs_duckdb"] = round(
                        result["sf1"]["value"]
                        / result["sf1"]["duckdb"]["value"], 3)
        except Exception as e:  # noqa: BLE001
            print(f"duckdb companion failed: {e}", file=sys.stderr)

    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
