"""Local replica of the driver's correctness gate: every queries() entry
with an oracle must match DuckDB on row count and order-insensitive values
(at sf0.001 for speed; the driver runs sf0.01)."""

import datetime as dt
import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


@pytest.fixture(scope="module")
def con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF_DIR}/{t}.parquet')")
    return con


def normalize(value):
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        return round(value, 6)
    if isinstance(value, dt.datetime):
        return value.replace(tzinfo=None).isoformat()
    if isinstance(value, dt.date):
        return value.isoformat()
    return value


def canon_rows(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(normalize(r[i]) for i in order) for r in rows)


ORACLE_NAMES = sorted(entry_mod.oracle_sql())


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle(spark, con, name):
    fn = entry_mod.queries()[name]
    df = fn(spark, SF_DIR)
    spark_cols = df.columns
    spark_rows = [tuple(r) for r in df.collect()]
    res = con.execute(entry_mod.oracle_sql()[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    assert sorted(spark_cols) == sorted(duck_cols), \
        f"{name}: columns {spark_cols} vs {duck_cols}"
    assert len(spark_rows) == len(duck_rows), \
        f"{name}: rowcount {len(spark_rows)} vs {len(duck_rows)}"
    sc = canon_rows(spark_rows, spark_cols)
    dc = canon_rows(duck_rows, duck_cols)
    mismatch = [(a, b) for a, b in zip(sc, dc) if a != b][:5]
    assert sc == dc, f"{name}: first diffs {mismatch}"


def test_rows_only_queries_run(spark):
    for name in sorted(set(entry_mod.queries()) - set(entry_mod.oracle_sql())):
        df = entry_mod.queries()[name](spark, SF_DIR)
        assert df.count() >= 0, name


def test_events_hourly_stream_runs_its_stream(spark):
    # the entry's stream query must end cleanly: a failed stream used to
    # be swallowed, and the entry returned the batch plan instead
    spark.streams.resetTerminated()
    entry_mod.queries()["events_hourly_stream"](spark, SF_DIR).count()
    spark.streams.awaitAnyTermination(5)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"seq", "url_canon", "host_key", "priority"}


_KINDS = {
    # Spark simple-string -> kind
    "tinyint": "int", "smallint": "int", "int": "int", "bigint": "int",
    "float": "float", "double": "float", "boolean": "bool",
    "string": "str", "timestamp": "ts", "timestamp_ntz": "ts",
    "date": "date",
}


def _duck_kind(t: str) -> str:
    t = t.upper()
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER"):
        return "int"
    if t in ("FLOAT", "DOUBLE", "REAL") or t.startswith("DECIMAL") \
            or t in ("HUGEINT", "UBIGINT"):
        # HUGEINT/UBIGINT/DECIMAL all materialize as float64/object in
        # pandas — the dtype class that hash-diverges from Spark ints
        # (the events_sessionize round-1/2 red row); treated as float so
        # an integral Spark column against them FAILS this test
        return "float"
    if t == "BOOLEAN":
        return "bool"
    if t.startswith("VARCHAR"):
        return "str"
    if t.startswith("TIMESTAMP"):
        return "ts"
    if t == "DATE":
        return "date"
    return t


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_result_dtype_kinds_match(spark, con, name):
    """The driver's value-hash is dtype-sensitive: bit-equal values in an
    int64 vs float64 column still hash-diverge (DuckDB HUGEINT windowed
    sums were exactly this, red for two rounds).  Compare the dtype KIND
    of every output column; DECIMAL/DOUBLE vs float is fine, anything
    integral-vs-floating across engines fails."""
    sdf = entry_mod.queries()[name](spark, SF_DIR)
    spark_kinds = {f.name: _KINDS.get(f.dataType.simpleString().split("(")[0],
                                      f.dataType.simpleString())
                   for f in sdf.schema.fields}
    desc = con.execute(
        f"DESCRIBE {entry_mod.oracle_sql()[name]}").fetchall()
    duck_kinds = {r[0]: _duck_kind(r[1]) for r in desc}
    assert spark_kinds == duck_kinds
