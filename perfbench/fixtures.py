"""Benchmark fixtures, built inside the checkout before any timing.

``perfbench/testdata/`` holds a byte-for-byte copy of the engine's test
tables at sf0.01 and sf0.1: the seed-42 TPC-H-style tables plus the
events, documents and embeddings corpora described in TESTDATA.md, which
``tests/`` and ``bench.py`` read. ``testdata/SHA256SUMS`` pins their
bytes. From them:

- ``sf0.01``: read in place;
- ``sf1``: ``scripts/gen_scaled_sf.py`` with K=10 over ``sf0.1``, the
  way ``bench.py`` builds its sf1;
- the ClickBench fixture at x1 (what the registered ``cb_*`` oracle
  strings read), from the package's own ``ensure_fixture``.

The workload seed never reaches this module: it only picks and orders
statements, so every seed runs against the same bytes.
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib.util
import os
import shutil
import sys

SCALE_K = 10        # sf1 = 10 replicas of sf0.1
# bump when a generated fixture changes: stale ones and DuckDB's cached
# answers over them are then rebuilt
FIXTURE_VERSION = "2"

TESTDATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata")


def verify_testdata() -> None:
    """Fail loudly if the shipped tables are not the pinned bytes."""
    with open(os.path.join(TESTDATA, "SHA256SUMS")) as f:
        for line in f:
            digest, name = line.split()
            with open(os.path.join(TESTDATA, name), "rb") as g:
                if hashlib.sha256(g.read()).hexdigest() != digest:
                    raise RuntimeError(f"perfbench/testdata/{name} differs from SHA256SUMS")


def _done(path: str) -> bool:
    try:
        with open(os.path.join(path, ".complete")) as f:
            return f.read().strip() == FIXTURE_VERSION
    except FileNotFoundError:
        return False


def _mark(path: str) -> None:
    with open(os.path.join(path, ".complete"), "w") as f:
        f.write(FIXTURE_VERSION + "\n")


def write_scaled(src: str, out_dir: str, k: int) -> None:
    """Replicate `src` k times with the repo's own scaling script."""
    if _done(out_dir):
        return
    shutil.rmtree(out_dir, ignore_errors=True)
    script = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "scripts", "gen_scaled_sf.py")
    spec = importlib.util.spec_from_file_location("gen_scaled_sf", script)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.SRC = src
    argv, sys.argv = sys.argv, [script, str(k), out_dir]
    try:
        with contextlib.redirect_stdout(sys.stderr):  # it prints row counts
            mod.main()
    finally:
        sys.argv = argv
    _mark(out_dir)


def ensure_all(data_dir: str, log=print) -> dict[str, str]:
    """Build every generated fixture under `data_dir` (idempotent) and
    return the tier directories. ClickBench lands where the environment
    variable set by the runner points, through the package's generator."""
    verify_testdata()
    dirs = {"sf0.01": os.path.join(TESTDATA, "sf0.01"),
            "sf0.1": os.path.join(TESTDATA, "sf0.1"),
            "sf1": os.path.join(data_dir, "sf1")}
    write_scaled(dirs["sf0.1"], dirs["sf1"], SCALE_K)
    from duckdb_spark.queries import clickbench

    clickbench.ensure_fixture(1)
    log(f"fixtures ready under {data_dir}")
    return dirs
