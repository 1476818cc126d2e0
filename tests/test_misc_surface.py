"""Tests for type mapping, introspection, sketch operators, Relation order."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duckdb_spark.introspection import (
    duckdb_columns,
    duckdb_functions,
    duckdb_settings,
    duckdb_tables,
)
from duckdb_spark.operators.sketch import approx_top_k, lttb, summarize
from duckdb_spark.types import duckdb_type_to_spark, spark_type_to_duckdb


def test_type_mapping_roundtrip():
    cases = {
        "BOOLEAN": T.BooleanType(),
        "BIGINT": T.LongType(),
        "DECIMAL(15,2)": T.DecimalType(15, 2),
        "HUGEINT": T.DecimalType(38, 0),
        "VARCHAR": T.StringType(),
        "TIMESTAMP": T.TimestampNTZType(),
        "INTEGER[]": T.ArrayType(T.IntegerType()),
        "MAP(VARCHAR, BIGINT)": T.MapType(T.StringType(), T.LongType()),
    }
    for name, expected in cases.items():
        assert duckdb_type_to_spark(name) == expected, name
    st = duckdb_type_to_spark('STRUCT("a" INTEGER, "b" VARCHAR[])')
    assert st == T.StructType(
        [
            T.StructField("a", T.IntegerType()),
            T.StructField("b", T.ArrayType(T.StringType())),
        ]
    )
    assert spark_type_to_duckdb(T.DecimalType(20, 0)) == "DECIMAL(20,0)"
    assert spark_type_to_duckdb(T.ArrayType(T.LongType())) == "BIGINT[]"
    with pytest.raises(ValueError):
        duckdb_type_to_spark("NOT_A_TYPE")


def test_introspection(spark):
    spark.range(3).selectExpr("id", "id * 2 AS d").createOrReplaceTempView("intro_t")
    tables = duckdb_tables(spark)
    assert "intro_t" in [r["table_name"] for r in tables.collect()]
    cols = duckdb_columns(spark).filter(F.col("table_name") == "intro_t").collect()
    assert [(c["column_name"], c["data_type"]) for c in cols] == [
        ("id", "BIGINT"), ("d", "BIGINT"),
    ]
    fns = duckdb_functions(spark)
    names = {r["function_name"] for r in fns.collect()}
    assert {"list_cosine_similarity", "time_bucket", "strpos"} <= names
    assert duckdb_settings(spark).count() > 10


def test_approx_top_k_grouped(spark):
    df = spark.createDataFrame(
        [("a", "x")] * 5 + [("a", "y")] * 3 + [("a", "z")] + [("b", "q")] * 2,
        "g string, v string",
    )
    out = approx_top_k(df, "v", k=2, by=["g"]).collect()
    got = {(r["g"], r["rank"]): (r["value"], r["cnt"]) for r in out}
    assert got[("a", 1)] == ("x", 5) and got[("a", 2)] == ("y", 3)
    assert got[("b", 1)] == ("q", 2)


def test_lttb_properties(spark):
    import math

    rows = [(float(i), math.sin(i / 10.0)) for i in range(200)]
    df = spark.createDataFrame(rows, "x double, y double")
    out = sorted(r["x"] for r in lttb(df, "x", "y", n_out=20).collect())
    assert len(out) == 20
    assert out[0] == 0.0 and out[-1] == 199.0  # endpoints retained
    # deterministic
    out2 = sorted(r["x"] for r in lttb(df, "x", "y", n_out=20).collect())
    assert out == out2


def test_summarize(spark):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", None), (3, None, 3.5)], "id int, s string, v double"
    )
    out = {r["column_name"]: r for r in summarize(df).collect()}
    assert out["id"]["min"] == "1" and out["id"]["max"] == "3"
    assert out["v"]["null_percentage"] == pytest.approx(33.33, abs=0.01)
    assert out["s"]["avg"] is None  # non-numeric
    assert out["id"]["count"] == 3


def test_relation_order_strings(spark):
    from duckdb_spark.relation import Connection

    con = Connection(spark=spark)
    df = spark.createDataFrame([(1, None), (2, 5), (3, 1)], "id int, v int")
    rel = con.from_df(df)
    # DuckDB default: ASC → NULLS LAST
    asc = [r["v"] for r in rel.order("v").fetchall()]
    assert asc == [1, 5, None]
    desc = [r["v"] for r in rel.order("v DESC").fetchall()]
    assert desc == [None, 5, 1]
    explicit = [r["v"] for r in rel.order("v DESC NULLS LAST").fetchall()]
    assert explicit == [5, 1, None]
    multi = [r["id"] for r in rel.order("v IS NULL, v DESC").fetchall()]
    assert multi == [2, 3, 1]


def test_prepared_statements_and_params(spark):
    from duckdb_spark.relation import Connection

    con = Connection(spark)
    spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id long, s string") \
        .createOrReplaceTempView("pt")
    assert con.sql("PREPARE q1 AS SELECT s FROM pt WHERE id >= $1 ORDER BY id") is None
    assert [r.s for r in con.sql("EXECUTE q1(2)").fetchall()] == ["b", "c"]
    assert [r.s for r in con.sql("EXECUTE q1(3)").fetchall()] == ["c"]
    # positional ? binding through execute()
    out = con.execute("SELECT s FROM pt WHERE id = ? OR s = ?", [1, "c"]).fetchall()
    assert sorted(r.s for r in out) == ["a", "c"]
    # named parameters; quoting of embedded quotes
    out = con.execute(
        "SELECT COUNT(*) AS n FROM pt WHERE s != $odd", {"odd": "it's"}
    ).fetchone()
    assert out.n == 3
    assert con.sql("DEALLOCATE q1") is None
    import pytest as _pytest
    with _pytest.raises(KeyError):
        con.sql("EXECUTE q1(1)")


def test_read_duckdb_and_export_import(spark, tmp_path):
    import duckdb

    from duckdb_spark.relation import Connection

    dbfile = str(tmp_path / "side.duckdb")
    d = duckdb.connect(dbfile)
    d.execute("CREATE TABLE t AS SELECT range AS id, 'v' || range AS s FROM range(100)")
    d.close()
    con = Connection(spark)
    rel = con.read_duckdb(dbfile, "t")
    assert rel.df().count() == 100
    assert rel.df().filter("id = 7").collect()[0].s == "v7"

    rel.df().createOrReplaceTempView("exp_t")
    out = str(tmp_path / "exported")
    manifest = con.export_database(out, ["exp_t"])
    assert manifest == {"exp_t": ["id", "s"]}
    spark.catalog.dropTempView("exp_t")
    names = con.import_database(out)
    assert names == ["exp_t"] and spark.table("exp_t").count() == 100
    # the export is directly loadable by DuckDB by executing its own
    # schema.sql + load.sql manifests verbatim
    d2 = duckdb.connect()
    with open(f"{out}/schema.sql") as fh:
        d2.execute(fh.read())
    with open(f"{out}/load.sql") as fh:
        for stmt in fh.read().split(";"):
            if stmt.strip():
                d2.execute(stmt)
    n = d2.execute("SELECT COUNT(*) FROM exp_t").fetchone()[0]
    assert n == 100


def test_csv_rejects_and_sniffer_depth(spark, tmp_path):
    from duckdb_spark.io.readers import read_csv_with_rejects, sniff_csv

    p = str(tmp_path / "messy.csv")
    with open(p, "w") as fh:
        fh.write("id;price;day\n1;2.5;2020-01-01\nnot_a_number;x;y\n3;4.5;2020-03-05\n")
    clean, rejects = read_csv_with_rejects(
        spark, p, "id BIGINT, price DOUBLE, day DATE", sep=";"
    )
    assert clean.count() == 2 and rejects.count() == 1
    r = rejects.collect()[0]
    assert "not_a_number" in r.csv_line and r.file.endswith("messy.csv")

    sn = sniff_csv(p)
    assert sn["Delimiter"] == ";"  # header/type detection on a corrupt
    # sample is best-effort; exact checks below use the clean file
    # clean file sniffs exact types + emits a usable Prompt
    p2 = str(tmp_path / "clean.csv")
    with open(p2, "w") as fh:
        fh.write("a|b|c\n1|2.5|2020-01-01\n2|3.5|2020-02-02\n")
    sn2 = sniff_csv(p2)
    assert sn2["Delimiter"] == "|"
    assert [c["type"] for c in sn2["Columns"]] == ["BIGINT", "DOUBLE", "DATE"]
    assert sn2["Prompt"].startswith("FROM read_csv(")
    import duckdb
    got = duckdb.sql("SELECT Delimiter, HasHeader FROM sniff_csv('" + p2 + "')").fetchone()
    assert (sn2["Delimiter"], sn2["HasHeader"]) == got


def test_load_tables_from_threads_keeps_tables_cache_and_job_group(spark):
    """catalog.load_tables opens the uncached tables from a thread pool:
    each table is what a plain parquet read gives (events.ts normalized
    to TIMESTAMP), later calls are served from the cache, and every
    schema-inference job runs in the caller's job group."""
    from duckdb_spark import catalog
    from tests.conftest import SF_DIR as sf_dir

    for name in catalog.ALL_TABLES:
        catalog._TABLE_CACHE.pop((id(spark), sf_dir, name), None)
    sc = spark.sparkContext
    sc.setJobGroup("load-tables", "catalog.load_tables from threads")
    try:
        tables = catalog.load_tables(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("load-tables")) >= \
        len(catalog.ALL_TABLES)
    for name, df in tables.items():
        raw = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        if name == "events":
            assert df.schema["ts"].dataType == T.TimestampType()
            raw = T.StructType([f for f in raw if f.name != "ts"])
            assert T.StructType([f for f in df.schema if f.name != "ts"]) == raw
        else:
            assert df.schema == raw, name
        assert catalog.load_table(spark, sf_dir, name) is df
