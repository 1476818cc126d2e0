"""The workloads. Each yields passes of operations; the run loop executes
whole passes. The seed orders the reads of a pass and picks the key
ranges of the write statements; the statement texts are the program's
only input.

An operation is either DuckDB-dialect SQL through ``Connection.sql``
(``sql``) or a registered query builder (``builder``). Its ``verify``
runs after the timed call and returns None or the first difference
from DuckDB.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field
from typing import Callable

from check import Oracle, answer, diff

# Registered statements that dialect_mix reads through Connection.sql at
# sf0.01: ones that return DuckDB's answer in the seed state, spread over
# the query families and dialect features (NOT EXISTS and scalar
# subqueries, QUALIFY, DISTINCT ON, UNPIVOT, read_parquet), each under
# ~1 s warm on 4 cores, so that a run stays short. The registered
# statements that fail in the seed state are listed in workloads.json
# ("seed_failures"), with their reasons; perfbench/audit.py re-checks them.
DIALECT_PANEL = ["tpch_q22", "win_qualify", "ev_distinct_on", "unpivot_part", "cb_q19"]

# bench.HEADLINE builders that analytics_sf1 runs: scans with a shuffle
# join and aggregation, the as-of join and similarity top-k operators,
# each 2-3 s at sf1 on 4 cores, with a DuckDB answer that takes seconds
# to compute at sf1.
ANALYTICS_PANEL = ["tpch_q13", "ev_asof_join", "sim_cosine_topk"]


# what end_pass compares between a stored table and the DuckDB mirror
TABLE_DIGEST = ("SELECT l_returnflag, COUNT(*) AS n, "
                "SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS qty_c, "
                "SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS price_c, "
                "SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) AS disc_c "
                "FROM {src} GROUP BY l_returnflag")


@dataclass
class Op:
    name: str
    sql: str | None = None
    builder: str | None = None
    write: bool = False        # part of a write session
    table: str | None = None   # managed table a DML statement changes
    output: str | None = None  # directory a COPY statement writes
    verify: Callable[[dict], str | None] = field(default=lambda got: None)


class PanelWorkload:
    """A fixed panel of reads, each pass in a seeded order, with answers
    checked against DuckDB on the same fixture tier."""

    tier = "sf0.01"  # fixture tier whose views the Connection registers
    MIN_PASSES = 1   # whole passes a run makes at least

    def __init__(self, ctx, oracle_sqls: dict[str, str]):
        self.ctx = ctx
        self.oracle = Oracle(ctx.dirs[self.tier], ctx.data_dir)
        self.oracle_sqls = oracle_sqls
        self.reads = [self.op(n, oracle_sqls[n]) for n in oracle_sqls]

    def op(self, name: str, oracle_sql: str) -> Op:
        raise NotImplementedError

    def expects(self, oracle_sql: str):
        return lambda got: diff(got, self.oracle.expected(oracle_sql))

    def shuffled(self, rng) -> list[Op]:
        ops = list(self.reads)
        rng.shuffle(ops)
        return ops

    def passes(self, rng):
        while True:
            yield self.shuffled(rng)

    def warm_up(self, rng) -> tuple[list[Op], str]:
        """The untimed pass before timing, and the tier it reads."""
        return self.shuffled(rng), self.tier

    def end_pass(self, con) -> dict | None:
        """Disk use and wrong contents of what the pass wrote, if anything."""
        return None

    def prefetch(self) -> None:
        """Compute DuckDB's answers ahead of the first timed run."""
        for sql in self.oracle_sqls.values():
            self.oracle.expected(sql)
        self.oracle.save()

    def close(self) -> None:
        self.oracle.save()


class DialectMix(PanelWorkload):
    """DuckDB-dialect text through Connection.sql at sf0.01: a pass is the
    panel's reads READS times, each time in a seeded order, then one write
    session on a managed table, mirrored statement by statement in DuckDB
    (outside the timed calls): CTAS, UPDATE and DELETE over seeded key
    ranges, MERGE INTO (whose unmatched rows are inserted) and COPY ... TO
    parquet. After the session the stored table is checked against the
    mirror, dropped and its files removed."""

    KEYS = 15_000   # o_orderkey range at sf0.01
    READS = 2       # runs of the read panel per pass: 10 reads + 5 writes
    WARM_READS = 6  # runs of the read panel in the warm-up
    WIDTH = 300     # keys per write statement
    # 3 passes: 30 reads + 15 writes, so that the median lies among the
    # reads, the tail (10 samples beyond it) among the writes, and each
    # write statement has 3 samples
    MIN_PASSES = 3

    def __init__(self, ctx):
        import duckdb

        super().__init__(ctx, {n: ctx.queries.ORACLE[n] for n in DIALECT_PANEL})
        self.mirror = duckdb.connect()
        self.mirror.execute("SET threads TO 1")
        self.mirror.execute("CREATE VIEW lineitem AS SELECT * FROM "
                            f"read_parquet('{ctx.dirs[self.tier]}/lineitem.parquet')")
        self.copy_dir = os.path.join(ctx.run_dir, "copy")
        os.makedirs(self.copy_dir, exist_ok=True)
        self.session = 0

    def op(self, name, oracle_sql):
        return Op(name, sql=oracle_sql, verify=self.expects(oracle_sql))

    def warm_up(self, rng):
        # the reads keep speeding up over their first runs, and a write
        # session's first run costs about twice a later one
        reads = [op for _ in range(self.WARM_READS) for op in self.shuffled(rng)]
        return reads + self._session(rng, 0), self.tier

    def passes(self, rng):
        # every read re-run (a dashboard), so that reads, not the slower
        # writes, hold the median
        while True:
            self.session += 1
            reads = [op for _ in range(self.READS) for op in self.shuffled(rng)]
            yield reads + self._session(rng, self.session)

    # -- write session ---------------------------------------------------
    def _mirror_answer(self, sql: str) -> dict:
        cur = self.mirror.execute(sql)
        return answer([d[0] for d in cur.description], cur.fetchall())

    def _write(self, name: str, sql: str, mirror_sql: str | list[str]) -> Op:
        """DML: the mirror applies the same change; the affected-row
        counts must agree."""
        stmts = [mirror_sql] if isinstance(mirror_sql, str) else mirror_sql

        def verify(got):
            n = sum(self.mirror.execute(s).fetchall()[0][0] for s in stmts)
            rows = got["rows"]
            if not rows:
                return None if n == 0 else f"no count returned, DuckDB changed {n}"
            return None if rows == [[str(n)]] else f"count {rows} != DuckDB {n}"
        return Op(name, sql=sql, write=True, table="li", verify=verify)

    def _ddl(self, name: str, sql: str) -> Op:
        def verify(got):
            self.mirror.execute(sql)
            return None
        return Op(name, sql=sql, write=True, verify=verify)

    def _copy(self, name: str, select: str, s: int) -> Op:
        path = os.path.join(self.copy_dir, f"{name}_s{s}.parquet")
        check = ("SELECT COUNT(*) AS n, SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS c "
                 "FROM {src}")

        def verify(got):
            want = self._mirror_answer(check.format(src=f"({select})"))
            spark_out = self._mirror_answer(check.format(
                src=f"read_parquet('{path}/*.parquet')"))
            return diff(spark_out, want)
        return Op(name, sql=f"COPY ({select}) TO '{path}' (FORMAT PARQUET)", write=True,
                  output=path, verify=verify)

    def _session(self, rng, s: int) -> list[Op]:
        keys, w = self.KEYS, self.WIDTH
        a, b, c, d = (rng.randrange(0, keys - w) for _ in range(4))  # a: COPY range
        cols = "l_orderkey, l_partkey, l_quantity, l_extendedprice, l_discount, l_returnflag"
        src = (f"SELECT l_orderkey AS k, SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS q "
               f"FROM lineitem WHERE l_orderkey BETWEEN {d} AND {d + w} "
               f"GROUP BY l_orderkey")
        shift = keys // 2  # about half the MERGE source matches, the rest is new
        merge = (f"MERGE INTO li USING ({src}) s ON li.l_orderkey = s.k + {shift} "
                 f"WHEN MATCHED THEN UPDATE SET l_quantity = l_quantity + s.q "
                 f"WHEN NOT MATCHED THEN INSERT VALUES (s.k + {shift}, 0, s.q, 0.0, 0.0, 'M')")
        # DuckDB 1.0 has no MERGE: the same change as UPDATE ... FROM + INSERT
        merge_mirror = [
            f"UPDATE li SET l_quantity = l_quantity + s.q FROM ({src}) s "
            f"WHERE li.l_orderkey = s.k + {shift}",
            f"INSERT INTO li SELECT s.k + {shift}, 0, s.q, 0.0, 0.0, 'M' FROM ({src}) s "
            f"WHERE NOT EXISTS (SELECT 1 FROM li WHERE li.l_orderkey = s.k + {shift})",
        ]
        upd = (f"UPDATE li SET l_discount = l_discount + 0.01 "
               f"WHERE l_orderkey BETWEEN {b} AND {b + w}")
        dele = f"DELETE FROM li WHERE l_orderkey BETWEEN {c} AND {c + w}"
        return [
            self._ddl("ctas_li", f"CREATE TABLE li AS SELECT {cols} FROM lineitem "
                                 f"WHERE l_orderkey % 2 = 0"),
            self._write("update_li", upd, upd),
            self._write("delete_li", dele, dele),
            self._write("merge_li", merge, merge_mirror),
            self._copy("copy_li", f"SELECT l_orderkey, l_extendedprice FROM li "
                                  f"WHERE l_orderkey BETWEEN {a} AND {a + 4 * w}", s),
        ]

    def end_pass(self, con):
        """Check the live version of each session table against the mirror,
        measure bytes on disk (all versions, and the live one), then drop
        the tables and remove their files."""
        base = con.managed.base
        on_disk = live = 0
        wrong = []
        for name, (_, version) in list(con.managed.tables.items()):
            for v in os.listdir(os.path.join(base, name)):
                size = dir_bytes(os.path.join(base, name, v))
                on_disk += size
                if v == f"v{version}":
                    live += size
            stored = os.path.join(base, name, f"v{version}", "*.parquet")
            d = diff(self._mirror_answer(TABLE_DIGEST.format(src=f"read_parquet('{stored}')")),
                     self._mirror_answer(TABLE_DIGEST.format(src=name)))
            if d:
                wrong.append(f"{name} contents: {d}")
        for name in list(con.managed.tables):
            con.sql(f"DROP TABLE {name}")
            self.mirror.execute(f"DROP TABLE IF EXISTS {name}")
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)
        return {"on_disk": on_disk, "live": live, "wrong": wrong}


class AnalyticsSF1(PanelWorkload):
    """bench.HEADLINE builders at sf1, each pass in a seeded order."""

    tier = "sf1"

    def __init__(self, ctx):
        missing = [n for n in ANALYTICS_PANEL if n not in ctx.bench.HEADLINE]
        if missing:
            raise ValueError(f"not in bench.HEADLINE: {missing}")
        super().__init__(ctx, {n: ctx.queries.ORACLE[n] for n in ANALYTICS_PANEL})

    def op(self, name, oracle_sql):
        return Op(name, builder=name, verify=self.expects(oracle_sql))

    def warm_up(self, rng):
        # the same builders on sf0.01: the same plans on a hundredth of the
        # data; a pass on sf1 costs twice as long and still leaves the first
        # timed pass slower than the later ones
        return self.shuffled(rng), "sf0.01"


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


WORKLOADS = {
    "dialect_mix": DialectMix,
    "analytics_sf1": AnalyticsSF1,
}
