"""Traced runs: spans around the package's public entry points, plus the
Spark executor numbers of each operation's job group.

Spans come only from wrappers installed here, at module boundaries; the
package itself is not changed. A wrapper replaces a module attribute or
a class method, so it sees every caller that looks the name up at call
time. Callers that bound the name at import time are not seen:

- ``duckdb_spark.sql.translate`` (package re-export of
  ``sql.dialect.translate``),
- ``duckdb_spark.io.copy_to`` (package re-export of ``io.writers.copy_to``),
- ``duckdb_spark.get_spark`` and ``duckdb_spark.register_views``
  (package re-exports; ``relation``'s own imported names are wrapped).

None of the benchmarked paths call through those re-exports.

Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# Spans whose time counts only at the outermost level (they recurse).
_OUTERMOST = {"relation.sql", "sql.translate", "sql.macro_expand", "managed.handle"}

_PY_NODES = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op: int | None = None
        self.totals: dict[str, float] = defaultdict(float)
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "op": self.op, "start": time.perf_counter(),
               "parent": self.stack[-1] if self.stack else None}
        nested = name in _OUTERMOST and any(
            self.spans[i]["name"] == name for i in self.stack)
        self.spans.append(rec)
        self.stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self.stack.pop()
            rec["end"] = time.perf_counter()
            if not nested:
                self._add(rec)

    def _add(self, rec: dict) -> None:
        name, seconds = rec["name"], rec["end"] - rec["start"]
        if rec.get("handled"):  # managed.handle: per statement type
            self.totals[f"{name}.{rec['kind']}.calls"] += 1
            self.totals[f"{name}_s.{rec['kind']}"] += seconds
        else:
            self.totals[name + ".calls"] += 1
            self.totals[name + "_s"] += seconds

    def count(self, name: str, n: float = 1) -> None:
        self.totals[name] += n

    # -- wrappers ----------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, on_result=None):
        """Replace owner.attr (owner[attr] for a dict) with a traced call."""
        is_dict = isinstance(owner, dict)
        orig = owner[attr] if is_dict else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                result = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, args, result)
                return result

        if is_dict:
            owner[attr] = wrapper
        else:
            setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def install(self, queries_module) -> None:
        """Wrap the public calls into each layer."""
        from pyspark.errors import AnalysisException
        from pyspark.sql import SparkSession

        import duckdb_spark.catalog as catalog
        import duckdb_spark.io.writers as writers
        import duckdb_spark.relation as relation
        import duckdb_spark.session as session
        import duckdb_spark.sql.dialect as dialect
        from duckdb_spark.managed import ManagedTables
        from duckdb_spark.sql.macros import MacroRegistry

        self.wrap(session, "get_spark", "session.get_spark")
        self.wrap(catalog, "register_views", "catalog.register_views")
        self.wrap(relation, "register_views", "catalog.register_views")
        self.wrap(relation.Connection, "__init__", "relation.connection_init")
        self.wrap(relation.Connection, "sql", "relation.sql")
        self.wrap(relation.Relation, "fetchall", "relation.fetch")
        self.wrap(dialect, "translate", "sql.translate")
        self.wrap(MacroRegistry, "expand", "sql.macro_expand")

        def handled(rec, args, result):
            rec["handled"] = result is not False
            rec["kind"] = (args[2].split(None, 1) or ["?"])[0].lower()

        self.wrap(ManagedTables, "handle", "managed.handle", on_result=handled)
        self.wrap(writers, "copy_to", "io.copy_to")
        for qname in list(queries_module.QUERIES):
            self.wrap(queries_module.QUERIES, qname, "queries.build")

        orig_sql = SparkSession.sql
        tracer = self

        @functools.wraps(orig_sql)
        def spark_sql(*args, **kwargs):
            if tracer.op is not None:
                tracer.count("relation.sql_attempts")
            try:
                return orig_sql(*args, **kwargs)
            except AnalysisException:
                if tracer.op is not None:
                    tracer.count("relation.analysis_raised")
                raise

        SparkSession.sql = spark_sql
        self._patched.append((SparkSession, "sql", orig_sql))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            if isinstance(owner, dict):
                owner[attr] = orig
            else:
                setattr(owner, attr, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# -- Spark status stores -----------------------------------------------------

def _bytes(text: str) -> float:
    """'2.8 KiB' or 'total (min, med, max ...)\\n2.8 KiB (...)' -> bytes."""
    m = re.search(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b", text.split("\n")[-1])
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


def _count(text: str) -> float:
    m = re.search(r"[\d,]+", text.split("\n")[-1])
    return float(m.group(0).replace(",", "")) if m else 0.0


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class SparkStats:
    """Reads one job group's jobs, stages and tasks from the AppStatusStore,
    and the Python-boundary SQL metrics from the SQLAppStatusStore."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = spark._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.om = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self.om.registerModule(getattr(scala, "MODULE$"))

    def _json(self, obj):
        return json.loads(self.om.writeValueAsString(obj))

    def executions(self) -> int:
        return self.sql_store.executionsCount()

    def read(self, group: str, final_start_ms: float | None,
             first_execution: int) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        job_spans, task_spans = [], []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self._json(self.store.job(jid))
            sub, done = job.get("submissionTime"), job.get("completionTime")
            out["spark.jobs"] += 1
            if sub and done:
                job_spans.append((sub, done))
                if final_start_ms is not None and done < final_start_ms:
                    out["operators.eager_jobs"] += 1
                    out["operators.eager_s"] += (done - sub) / 1000
            for sid in job["stageIds"]:
                try:
                    st = self._json(self.store.lastStageAttempt(sid))
                except Py4JJavaError:  # a stage that was never submitted
                    continue
                if st["status"] == "SKIPPED":
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += st["numCompleteTasks"]
                out["spark.executor_cpu_s"] += st["executorCpuTime"] / 1e9
                out["spark.executor_run_s"] += st["executorRunTime"] / 1e3
                out["spark.gc_s"] += st["jvmGcTime"] / 1e3
                out["spark.scan_bytes"] += st["inputBytes"]
                out["spark.scan_rows"] += st["inputRecords"]
                out["spark.shuffle_read_bytes"] += st["shuffleReadBytes"]
                out["spark.shuffle_write_bytes"] += st["shuffleWriteBytes"]
                out["spark.spill_bytes"] += st["diskBytesSpilled"] + st["memoryBytesSpilled"]
                for t in self._json(self.store.taskList(sid, st["attemptId"], 100000)):
                    if t.get("duration") is not None:
                        task_spans.append((t["launchTime"], t["launchTime"] + t["duration"]))
        # job wall time not covered by any running task
        out["spark.idle_s"] = max(0.0, _union(job_spans) - _union(task_spans)) / 1000
        n = self.executions()
        if n > first_execution:
            execs = self.sql_store.executionsList(first_execution, n - first_execution)
            for i in range(execs.size()):
                self._python_metrics(execs.apply(i).executionId(), out)
        return out

    def _python_metrics(self, eid: int, out: dict) -> None:
        nodes = self.sql_store.planGraph(eid).allNodes()
        values = None
        for k in range(nodes.size()):
            node = nodes.apply(k)
            if not node.name().startswith(_PY_NODES):
                continue
            if values is None:
                values = self.sql_store.executionMetrics(eid)
            metrics = node.metrics()
            for m in range(metrics.size()):
                metric = metrics.apply(m)
                acc = metric.accumulatorId()
                if not values.contains(acc):
                    continue
                text, name = values.apply(acc), metric.name()
                if name == "number of output rows":
                    out["spark.python_rows"] += _count(text)
                elif name.startswith("data sent to") or name.startswith("data returned"):
                    out["spark.python_bytes"] += _bytes(text)
