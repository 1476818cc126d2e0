"""Writable managed tables through Connection.sql (duckdb_spark/managed.py;
reference physical_insert.cpp / physical_delete.cpp / physical_update.cpp).

INSERT must be a native executor-side file append (no driver rows);
UPDATE/DELETE are copy-on-write version rewrites — asserted behaviorally:
results stay correct across interleaved mutations and reads.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

import duckdb_spark


@pytest.fixture(scope="module")
def con(spark):
    return duckdb_spark.Connection(spark)


def test_create_insert_select(con):
    con.sql("DROP TABLE IF EXISTS mt1")
    con.sql("CREATE TABLE mt1 (a INTEGER, b VARCHAR)")
    assert con.sql("SELECT COUNT(*) AS n FROM mt1").df().collect()[0].n == 0
    r = con.sql("INSERT INTO mt1 VALUES (1, 'x'), (2, 'y'), (3, NULL)")
    assert r.df().collect()[0].Count == 3
    rows = con.sql("SELECT * FROM mt1 ORDER BY a").df().collect()
    assert [(x.a, x.b) for x in rows] == [(1, "x"), (2, "y"), (3, None)]


def test_insert_column_list_and_returning(con):
    r = con.sql(
        "INSERT INTO mt1 (b, a) VALUES ('w', 9) RETURNING a + 1 AS a1, b"
    ).df().collect()
    assert (r[0].a1, r[0].b) == (10, "w")
    assert con.sql("SELECT COUNT(*) AS n FROM mt1").df().collect()[0].n == 4


def test_insert_from_select(con):
    con.sql("INSERT INTO mt1 SELECT a + 100, upper(b) FROM mt1 WHERE a <= 2")
    rows = con.sql(
        "SELECT a, b FROM mt1 WHERE a > 100 ORDER BY a").df().collect()
    assert [(x.a, x.b) for x in rows] == [(101, "X"), (102, "Y")]


def test_update_where(con):
    r = con.sql("UPDATE mt1 SET b = 'z' WHERE a = 2").df().collect()
    assert r[0].Count == 1
    assert con.sql(
        "SELECT b FROM mt1 WHERE a = 2").df().collect()[0].b == "z"
    # untouched rows survive the copy-on-write rewrite
    assert con.sql(
        "SELECT b FROM mt1 WHERE a = 1").df().collect()[0].b == "x"


def test_update_expression_multi_column(con):
    con.sql("UPDATE mt1 SET a = a * 2, b = b || '!' WHERE a > 100")
    rows = con.sql(
        "SELECT a, b FROM mt1 WHERE a > 150 ORDER BY a").df().collect()
    assert [(x.a, x.b) for x in rows] == [(202, "X!"), (204, "Y!")]


def test_delete_where_and_counts(con):
    before = con.sql("SELECT COUNT(*) AS n FROM mt1").df().collect()[0].n
    r = con.sql("DELETE FROM mt1 WHERE a > 150").df().collect()
    assert r[0].Count == 2
    after = con.sql("SELECT COUNT(*) AS n FROM mt1").df().collect()[0].n
    assert after == before - 2


def test_ctas_and_drop(con):
    con.sql("DROP TABLE IF EXISTS mt2")
    con.sql("CREATE TABLE mt2 AS SELECT a * 10 AS a10 FROM mt1 WHERE a <= 3")
    vals = sorted(
        x.a10 for x in con.sql("SELECT a10 FROM mt2").df().collect())
    assert vals == [10, 20, 30]
    con.sql("DROP TABLE mt2")
    con.sql("DROP TABLE IF EXISTS mt2")  # idempotent


def test_truncate(con):
    con.sql("TRUNCATE mt1")
    assert con.sql("SELECT COUNT(*) AS n FROM mt1").df().collect()[0].n == 0
    # still writable after truncate
    con.sql("INSERT INTO mt1 VALUES (5, 'v')")
    assert con.sql("SELECT COUNT(*) AS n FROM mt1").df().collect()[0].n == 1
    con.sql("DROP TABLE mt1")


def test_create_after_drop_or_replace_starts_empty(con):
    con.sql("DROP TABLE IF EXISTS cd_t")
    con.sql("CREATE TABLE cd_t (x INTEGER)")
    con.sql("INSERT INTO cd_t VALUES (1), (2)")
    con.sql("DROP TABLE cd_t")
    con.sql("CREATE TABLE cd_t (x INTEGER)")
    assert con.sql("SELECT COUNT(*) AS n FROM cd_t").df().collect()[0].n == 0
    con.sql("INSERT INTO cd_t VALUES (3)")
    con.sql("CREATE OR REPLACE TABLE cd_t (x INTEGER)")
    assert con.sql("SELECT COUNT(*) AS n FROM cd_t").df().collect()[0].n == 0
    con.sql("DROP TABLE cd_t")


def test_create_duplicate_raises(con):
    con.sql("DROP TABLE IF EXISTS mt3")
    con.sql("CREATE TABLE mt3 (x INTEGER)")
    with pytest.raises(Exception, match="already exists"):
        con.sql("CREATE TABLE mt3 (x INTEGER)")
    con.sql("CREATE TABLE IF NOT EXISTS mt3 (x INTEGER)")  # no raise
    con.sql("DROP TABLE mt3")


def test_merge_into_sql(con):
    con.sql("DROP TABLE IF EXISTS mtgt")
    con.sql("DROP TABLE IF EXISTS msrc")
    con.sql("CREATE TABLE mtgt (k INTEGER, v VARCHAR)")
    con.sql("INSERT INTO mtgt VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    con.sql("CREATE TABLE msrc AS SELECT * FROM "
            "(VALUES (2, 'B'), (3, 'C'), (4, 'D')) AS t(k, v)")
    r = con.sql(
        "MERGE INTO mtgt USING msrc s ON mtgt.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.v)"
    ).df().collect()
    assert r[0].Count == 3  # 2 updates + 1 insert
    rows = sorted((x.k, x.v) for x in
                  con.sql("SELECT * FROM mtgt").df().collect())
    assert rows == [(1, "a"), (2, "B"), (3, "C"), (4, "D")]
    r2 = con.sql(
        "MERGE INTO mtgt USING msrc s ON mtgt.k = s.k "
        "WHEN MATCHED AND s.k = 2 THEN DELETE"
    ).df().collect()
    assert r2[0].Count == 1
    rows = sorted((x.k, x.v) for x in
                  con.sql("SELECT * FROM mtgt").df().collect())
    assert rows == [(1, "a"), (3, "C"), (4, "D")]
    con.sql("DROP TABLE mtgt")
    con.sql("DROP TABLE msrc")


def test_merge_multiple_matched_clauses(con):
    """First matching WHEN MATCHED clause wins per row; later clauses see
    only not-yet-consumed rows; counts don't double-count (ADVICE r06)."""
    con.sql("DROP TABLE IF EXISTS mm_t")
    con.sql("DROP TABLE IF EXISTS mm_s")
    con.sql("CREATE TABLE mm_t (k INTEGER, v INTEGER)")
    con.sql("INSERT INTO mm_t VALUES (1, 10), (2, 20), (3, 30), (4, 40)")
    con.sql("CREATE TABLE mm_s AS SELECT * FROM "
            "(VALUES (1), (2), (3), (5)) AS t(k)")
    r = con.sql(
        "MERGE INTO mm_t USING mm_s s ON mm_t.k = s.k "
        "WHEN MATCHED AND mm_t.v < 15 THEN DELETE "
        "WHEN MATCHED AND mm_t.v < 25 THEN UPDATE SET v = v + 1 "
        "WHEN MATCHED THEN UPDATE SET v = 0 "
        "WHEN NOT MATCHED THEN INSERT VALUES (s.k, -1)"
    ).df().collect()
    # k=1 deleted, k=2 updated to 21, k=3 updated to 0, k=5 inserted
    assert r[0].Count == 4
    rows = sorted((x.k, x.v) for x in
                  con.sql("SELECT * FROM mm_t").df().collect())
    assert rows == [(2, 21), (3, 0), (4, 40), (5, -1)]
    con.sql("DROP TABLE mm_t")
    con.sql("DROP TABLE mm_s")


def test_insert_self_referential(con):
    """INSERT INTO t SELECT ... FROM t must count/return the pre-append
    source, not re-scan the table including the new files (ADVICE r06)."""
    con.sql("DROP TABLE IF EXISTS sr_t")
    con.sql("CREATE TABLE sr_t (a INTEGER)")
    con.sql("INSERT INTO sr_t VALUES (1), (2), (3)")
    r = con.sql("INSERT INTO sr_t SELECT a + 10 FROM sr_t").df().collect()
    assert r[0].Count == 3  # not 6
    assert con.sql(
        "SELECT COUNT(*) AS n FROM sr_t").df().collect()[0].n == 6
    r2 = con.sql(
        "INSERT INTO sr_t SELECT a + 100 FROM sr_t WHERE a <= 2 "
        "RETURNING a").df().collect()
    assert sorted(x.a for x in r2) == [101, 102]
    con.sql("DROP TABLE sr_t")


def test_drop_if_exists_falls_through_to_views(con, spark):
    """DROP TABLE IF EXISTS on a non-managed temp view must still drop it
    (ADVICE r06: the managed layer used to swallow the statement)."""
    spark.range(3).createOrReplaceTempView("dv_view")
    con.sql("DROP TABLE IF EXISTS dv_view")
    assert not any(t.name == "dv_view"
                   for t in spark.catalog.listTables())
    # and a genuinely missing name stays a no-op
    con.sql("DROP TABLE IF EXISTS definitely_not_a_table_xyz")


def test_keywords_inside_string_literals(con):
    """WHERE/RETURNING inside string literals or subqueries must not split
    the statement (ADVICE r06)."""
    con.sql("DROP TABLE IF EXISTS kw_t")
    con.sql("CREATE TABLE kw_t (a INTEGER, note VARCHAR)")
    con.sql("INSERT INTO kw_t VALUES (1, 'x'), (2, 'y')")
    con.sql("UPDATE kw_t SET note = 'see where clause' WHERE a = 1")
    assert con.sql("SELECT note FROM kw_t WHERE a = 1").df() \
        .collect()[0].note == "see where clause"
    con.sql("UPDATE kw_t SET a = (SELECT max(a) FROM kw_t WHERE a < 10) + 5 "
            "WHERE a = 2")
    assert con.sql("SELECT a FROM kw_t WHERE note = 'y'").df() \
        .collect()[0].a == 7
    r = con.sql("DELETE FROM kw_t WHERE note = 'see where clause' "
                "RETURNING a").df().collect()
    assert [x.a for x in r] == [1]
    con.sql("DROP TABLE kw_t")


# -- statements checked against DuckDB on the same tables -------------------

_MIRROR_SETUP = [
    "CREATE TABLE {t} (k INTEGER, v VARCHAR, n DOUBLE)",
    "INSERT INTO {t} VALUES (1, 'a', 1.5), (2, 'b', NULL), (3, 'c', 3.0), "
    "(4, NULL, 4.5), (5, 'e', 5.0)",
    "CREATE TABLE {s} (k INTEGER, w INTEGER)",
    "INSERT INTO {s} VALUES (2, 20), (3, 30), (9, 90)",
]


def _sorted_rows(rows):
    return sorted((tuple(r) for r in rows), key=repr)


@pytest.fixture
def both(con, request):
    """Run each statement on a managed table and on DuckDB; assert that the
    returned rows (a count or RETURNING rows) and then the table agree.
    `{t}` and `{s}` in a statement name a target and a source table of
    this test's own."""
    import duckdb

    names = {"t": f"{request.node.name[5:]}_t", "s": f"{request.node.name[5:]}_s"}
    duck = duckdb.connect()
    for stmt in _MIRROR_SETUP:
        con.sql(stmt.format(**names))
        duck.execute(stmt.format(**names))

    def run(sql):
        sql = sql.format(**names)
        got = _sorted_rows(con.sql(sql).df().collect())
        want = _sorted_rows(duck.execute(sql).fetchall())
        assert got == want, sql
        table = "SELECT * FROM {t}".format(**names)
        assert _sorted_rows(con.sql(table).df().collect()) == \
            _sorted_rows(duck.execute(table).fetchall()), sql
        return got

    yield run
    for name in names.values():
        con.sql(f"DROP TABLE {name}")
    duck.close()


def test_update_delete_returning_match_duckdb(both):
    assert both("UPDATE {t} SET v = v || '!', n = n * 2 WHERE k >= 3 "
                "RETURNING k, v, n") == [(3, "c!", 6.0), (4, None, 9.0),
                                         (5, "e!", 10.0)]
    assert both("DELETE FROM {t} WHERE n > 8 RETURNING *") == [
        (4, None, 9.0), (5, "e!", 10.0)]
    assert both("UPDATE {t} SET n = 0 WHERE k = 99 RETURNING k") == []


def test_correlated_in_and_exists_where(both):
    assert both("UPDATE {t} AS x SET n = 0 WHERE x.k IN "
                "(SELECT k FROM {s} WHERE {s}.w > x.k * 10 - 1)") == [(2,)]
    assert both("DELETE FROM {t} WHERE EXISTS (SELECT 1 FROM {s} "
                "WHERE {s}.k = {t}.k AND {s}.w > 25)") == [(1,)]
    assert both("DELETE FROM {t} WHERE k NOT IN (SELECT k FROM {s}) AND "
                "EXISTS (SELECT 1 FROM {s} WHERE {s}.w > {t}.k * 20)") == [(2,)]


def test_aliased_delete_returning(both):
    assert both("DELETE FROM {t} AS x WHERE EXISTS "
                "(SELECT 1 FROM {s} WHERE {s}.k = x.k) RETURNING x.k") == [(2,), (3,)]


def test_delete_without_where_counts_rows(both):
    assert both("DELETE FROM {t}") == [(5,)]
    assert both("DELETE FROM {t}") == [(0,)]


def test_merge_conditional_insert_and_insert_star(con):
    """DuckDB 1.0 has no MERGE: the expected tables are written out."""
    for s in ["DROP TABLE IF EXISTS mi_t", "DROP TABLE IF EXISTS mi_s",
              "CREATE TABLE mi_t (k INTEGER, v VARCHAR)",
              "INSERT INTO mi_t VALUES (1, 'a'), (2, 'b')",
              "CREATE TABLE mi_s AS SELECT * FROM "
              "(VALUES (2, 'B'), (3, 'C'), (4, 'D'), (5, 'E')) AS t(k, v)"]:
        con.sql(s)
    r = con.sql(
        "MERGE INTO mi_t USING mi_s s ON mi_t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED AND s.k % 2 = 1 THEN INSERT VALUES (s.k, lower(s.v))"
    ).df().collect()
    assert r[0].Count == 3  # k=2 updated, k=3 and k=5 inserted
    assert _sorted_rows(con.sql("SELECT * FROM mi_t").df().collect()) == [
        (1, "a"), (2, "B"), (3, "c"), (5, "e")]
    r = con.sql(
        "MERGE INTO mi_t USING mi_s s ON mi_t.k = s.k "
        "WHEN NOT MATCHED THEN INSERT *"
    ).df().collect()
    assert r[0].Count == 1  # k=4
    assert _sorted_rows(con.sql("SELECT * FROM mi_t").df().collect()) == [
        (1, "a"), (2, "B"), (3, "c"), (4, "D"), (5, "e")]
    con.sql("DROP TABLE mi_t")
    con.sql("DROP TABLE mi_s")


def _fetch_counting_jobs(spark, rel, group):
    """rel.fetchall() under its own job group; returns the rows and the
    number of Spark jobs the fetch started (counted after the listener
    bus has delivered every event)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "fetch of a statement result")
    try:
        rows = rel.fetchall()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


def test_write_results_are_job_free_and_match_duckdb(con, spark, tmp_path):
    """UPDATE, DELETE, MERGE, COPY TO and COPY FROM return their count as
    a local frame: fetching it starts no Spark job. The counts are DuckDB's,
    including 0 for a DELETE on an empty table and for COPY of an empty
    SELECT. A PARTITION_BY COPY counts the rows it wrote (DuckDB 1.0
    reports 0 there), checked by reading its files back."""
    import duckdb

    names = {"t": "jf_t", "s": "jf_s"}
    duck = duckdb.connect()
    for stmt in _MIRROR_SETUP:
        con.sql(stmt.format(**names))
        duck.execute(stmt.format(**names))

    def count(stmt, **paths):
        got, jobs = _fetch_counting_jobs(
            spark, con.sql(stmt.format(**names, **paths)), stmt)
        assert jobs == 0, stmt
        return [tuple(r) for r in got]

    for i, stmt in enumerate([
        "UPDATE {t} SET n = n + 1 WHERE k >= 3",
        "DELETE FROM {t} WHERE k = 1",
        "COPY (SELECT * FROM {t}) TO '{p}/all.parquet'",
        "COPY (SELECT * FROM {t} WHERE k < 0) TO '{p}/none.parquet'",
    ]):
        (tmp_path / f"duck{i}").mkdir()
        want = duck.execute(
            stmt.format(**names, p=tmp_path / f"duck{i}")).fetchall()
        assert count(stmt, p=tmp_path / f"spark{i}") == want, stmt
    assert want == [(0,)]
    stmt = "COPY {t} FROM '{p}/all.parquet'"  # each engine's own file
    assert count(stmt, p=tmp_path / "spark2") == duck.execute(
        stmt.format(**names, p=tmp_path / "duck2")).fetchall() == [(4,)]
    got = count("COPY (SELECT k, v FROM {t}) TO '{p}/parts' "
                "(FORMAT csv, PARTITION_BY (v))", p=tmp_path)
    assert got == duck.execute(
        f"SELECT count(*) FROM read_csv('{tmp_path}/parts/*/*.csv')"
    ).fetchall() == [(8,)]
    for stmt in ["DELETE FROM {t}"] * 2:
        want = duck.execute(stmt.format(**names)).fetchall()
        assert count(stmt) == want, stmt
    assert want == [(0,)]
    assert count("MERGE INTO {t} USING {s} AS src ON {t}.k = src.k "
                 "WHEN NOT MATCHED THEN INSERT VALUES (src.k, 'm', src.w)"
                 ) == [(3,)]
    for name in names.values():
        con.sql(f"DROP TABLE {name}")
    duck.close()


def test_returning_keeps_rows_and_dtypes(con):
    """RETURNING rows round-trip through Arrow with the query's exact
    Spark types (decimal, timestamp, list, struct) and DuckDB's values."""
    import duckdb

    duck = duckdb.connect()
    stmts = [
        "CREATE TABLE rt_t (k INTEGER, d DECIMAL(10,2), ts TIMESTAMP, "
        "l INTEGER[], s STRUCT(a INTEGER, b VARCHAR))",
        "INSERT INTO rt_t VALUES (1, 2.50, TIMESTAMP '2020-01-02 "
        "03:04:05.123456', [1, 2, NULL], {'a': 1, 'b': 'x'}), "
        "(2, NULL, NULL, [], NULL), (3, -7.25, TIMESTAMP '1999-12-31 "
        "23:59:59', NULL, {'a': NULL, 'b': 'z'})",
    ]
    for stmt in stmts:
        con.sql(stmt)
        duck.execute(stmt)
    table = con.sql("SELECT * FROM rt_t").df().schema

    def plain(v):
        return v.asDict() if hasattr(v, "asDict") else v

    for stmt, cols in [
        ("UPDATE rt_t SET d = d * 2 WHERE k >= 2 RETURNING *", table.names),
        ("DELETE FROM rt_t WHERE k = 1 RETURNING s, l, ts, d",
         ["s", "l", "ts", "d"]),
    ]:
        got = con.sql(stmt).df()
        assert got.schema == T.StructType([table[c] for c in cols]), stmt
        rows = [tuple(plain(v) for v in r) for r in got.collect()]
        assert _sorted_rows(rows) == _sorted_rows(duck.execute(stmt).fetchall())
    con.sql("DROP TABLE rt_t")
    duck.close()
