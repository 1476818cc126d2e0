#!/usr/bin/env python3
"""Audit of the dialect_mix pool: every registered DuckDB-dialect statement
through ``Connection.sql`` at sf0.01, under the benchmark's deadline,
checked against DuckDB.

    python3 perfbench/audit.py [name ...]

Prints one line per statement and, last, a JSON object mapping each
failing statement to its failure. The timed workloads run only
statements that pass here in the seed state; this is how the ones that
fail are found and named (``seed_failures`` in ``workloads.json``).
Takes ~13 minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run


def main() -> int:
    sys.path[:0] = [run.HERE, run.ROOT]
    os.makedirs(run.DATA, exist_ok=True)
    run_dir = os.path.join(run.DATA, f"audit-{os.getpid()}")
    os.makedirs(run_dir)
    failures = {}
    try:
        run.pin_environment(run_dir)
        import fixtures
        from check import Oracle, answer, diff
        from workloads import Op

        from duckdb_spark.queries import tpcds

        dirs = fixtures.ensure_all(run.DATA, log=lambda m: print(m, file=sys.stderr))
        tpcds.ensure_fixture(1)  # the registered tpcds_* strings read the x1 fixture
        ctx = run.Context(dirs, run_dir)
        oracle = Oracle(dirs["sf0.01"], run.DATA)
        spark, con, *_ = run.set_up(None, run.spark_conf(run_dir), dirs["sf0.01"])
        names = sys.argv[1:] or list(ctx.queries.ORACLE)
        for i, name in enumerate(names):
            sql = ctx.queries.ORACLE[name]
            op = Op(name, sql=sql)
            seconds, cols, rows, err, _ = run.run_op(
                op, con, spark, dirs["sf0.01"], ctx.queries, None, f"audit-{i}")
            if err is None:
                want = oracle.expected(sql)
                err = ("oracle: " + want["error"] if "error" in want
                       else diff(answer(cols, rows), want))
                err = err and f"wrong answer: {err[:200]}"
            if err:
                failures[name] = err
            print(f"{name} {seconds:.2f}s {err or 'ok'}", flush=True)
        oracle.save()
    finally:
        try:
            run.stop_jvm()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(failures, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
