"""IcebergSnapshotStore tests — run only when an iceberg-spark-runtime jar
is on the classpath (the sandbox image ships none; on a real cluster these
exercise the production store branch the parquet fallback mirrors)."""

import pytest
from pyspark.sql import functions as F

from kit_spark.sources.tables import IcebergSnapshotStore, iceberg_available


@pytest.fixture(scope="module")
def iceberg_store(spark):
    from kit_spark.sources.tables import iceberg_catalog_name

    if not iceberg_available(spark):
        pytest.skip("no iceberg runtime jar + catalog configured")
    return IcebergSnapshotStore(spark, catalog=iceberg_catalog_name(spark),
                                namespace="kit_test")


def test_write_read_history_roundtrip(iceberg_store, spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    snap1 = iceberg_store.write("t1", df)
    assert iceberg_store.exists("t1")
    assert iceberg_store.read("t1").count() == 2
    snap2 = iceberg_store.write("t1", df.limit(1))
    assert snap2 != snap1
    # time travel back to the first commit
    assert iceberg_store.read("t1", snap1).count() == 2
    assert iceberg_store.read("t1").count() == 1
    assert iceberg_store.history("t1")[-1] == snap2


def test_replay_over_an_orphan_appends_once(iceberg_store, spark):
    """A round replayed after a torn commit chains its delta on the
    commit's pin, not on the orphan the crash left at the head: the
    replayed rows land once, and the orphan's rows drop out."""
    rows = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    pin = iceberg_store.write("t_replay", rows)
    delta = spark.createDataFrame([(3, "c")], "id long, v string")
    orphan = iceberg_store.append("t_replay", delta)  # the torn commit
    assert orphan != pin
    head = iceberg_store.append("t_replay", delta, parent=pin)
    assert iceberg_store.current_snapshot("t_replay") == head
    assert sorted(r["id"] for r in iceberg_store.read("t_replay").collect()) \
        == [1, 2, 3]
    # parent=None starts a new chain: the table holds the delta alone
    iceberg_store.append("t_replay", delta, parent=None)
    assert iceberg_store.read("t_replay").count() == 1


def test_sql_surface_parses(spark):
    """Pure-metadata dry check, runs WITHOUT the Iceberg jar: every SQL
    statement the store can issue must parse under Spark's SQL parser.
    Catches drift between the store's string builders and Spark's grammar
    (VERSION AS OF time travel, metadata tables, TBLPROPERTIES, CALL
    procedure syntax) even though execution needs a real catalog."""
    store = IcebergSnapshotStore.__new__(IcebergSnapshotStore)  # no catalog:
    store.spark = spark                      # skip __init__'s CREATE NAMESPACE
    store.catalog, store.namespace = "local", "kit"
    parser = spark._jsparkSession.sessionState().sqlParser()  # noqa: SLF001
    surface = store.sql_surface()
    assert set(surface) == {"create_namespace", "snapshots",
                            "current_snapshot", "set_meta", "time_travel",
                            "show_props", "rollback"}
    for key, sql in surface.items():
        parser.parsePlan(sql)  # raises ParseException on invalid syntax
    # a commit-log meta carries the pins as a nested dict
    assert "kit.meta.pins" in surface["set_meta"]
    parser.parsePlan(store.set_meta_sql(
        "curation_metrics", {"epoch": 1, "pins": {"para_index": "snap-00001"},
                             "run_id": "it's"}))


def test_meta_literal_round_trips(spark):
    """``meta`` decodes what ``set_meta_sql`` encodes: each value goes
    through Spark's own string-literal unescaping and back to JSON."""
    import json

    for value in (3, "snap-00001", {"pins": {"url_seen": "42"}},
                  {"odd": "it's a \\ and a \" quote"}):
        literal = IcebergSnapshotStore.meta_literal(value)
        got = spark.sql(f"SELECT {literal} AS v").first()["v"]
        assert json.loads(got) == value


def test_append_to_existing_table_sets_meta():
    """Runs WITHOUT the Iceberg jar: a stub session records the SQL and
    the writes in one event list.  An append to an existing table must
    still apply its meta — the commit log's pins ride on it — and honour
    ``parent`` as the parquet store does: the head (default or named)
    appends, an older snapshot is rolled back to before the append, and
    ``None`` replaces the table with the delta."""
    from types import SimpleNamespace

    events = []

    def sql(text):
        events.append(text)
        return SimpleNamespace(collect=lambda: [(42,)])  # the head is 42

    class Writer:
        def __init__(self, ident):
            self.ident = ident

        def append(self):
            events.append(("append", self.ident))

        def using(self, _):
            return self

        def tableProperty(self, *_):
            return self

        def createOrReplace(self):
            events.append(("replace", self.ident))

    store = IcebergSnapshotStore.__new__(IcebergSnapshotStore)
    store.spark = SimpleNamespace(
        sql=sql, catalog=SimpleNamespace(tableExists=lambda ident: True))
    store.catalog, store.namespace = "local", "kit"
    delta = SimpleNamespace(writeTo=Writer)
    meta = {"round": 2, "pins": {"schedule": "7"}, "counts": {"schedule": 5}}
    ident = "local.kit.driver_state"
    set_meta = store.set_meta_sql("driver_state", meta)
    rollback = store.rollback_sql("driver_state", "7")
    for parent in ({}, {"parent": "42"}):
        events.clear()
        assert store.append("driver_state", delta, meta=meta, **parent) \
            == "42"
        assert ("append", ident) in events and set_meta in events
        assert rollback not in events
    events.clear()
    store.append("driver_state", delta, meta=meta, parent="7")
    assert events.index(rollback) < events.index(("append", ident))
    assert set_meta in events
    events.clear()
    store.append("driver_state", delta, meta=meta, parent=None)
    assert ("replace", ident) in events and ("append", ident) not in events
    assert rollback not in events and set_meta in events


def test_sql_surface_is_what_executes(spark):
    """The executing methods must go through the same dry builders the
    parse test covers (no second, unchecked SQL path)."""
    import inspect

    from kit_spark.sources import tables

    src = inspect.getsource(tables.IcebergSnapshotStore)
    # every spark.sql(...) call inside the store references a *_sql builder
    import re

    for call in re.findall(r"self\.spark\.sql\(([^)]*)\)", src):
        assert "_sql(" in call or "sql_surface" in call, call
