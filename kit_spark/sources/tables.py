"""Snapshot table store — checkpointable state tables (D8).

On a production cluster this layer is Iceberg (atomic snapshots, MERGE INTO,
hidden bucket partitioning); the sandbox image ships no Iceberg runtime jar
(spark.read.format("iceberg") is probed at import), so the same narrow API —
``write(name, df)`` / ``read(name)`` / ``history(name)`` — is implemented
over parquet snapshot directories with an atomically-replaced ``_CURRENT``
pointer.  Semantics preserved relative to Iceberg:

* every commit is a new immutable snapshot directory (``snap-00007/``);
* readers resolve through ``_CURRENT`` (os.replace — atomic on POSIX), so a
  crash mid-write leaves the previous snapshot current: checkpoint/resume
  reads a consistent set of tables;
* ``history`` exposes snapshot ids.

The checkpoint protocol the crawl driver, the curation stream and
``curate_job --state-dir`` share lives here too (``read_pinned``,
``append_pinned``, ``commit_log``): state tables are delta chains, and a
step commits with ONE append to a commit-log table whose snapshot meta
carries the pins (table -> snapshot).  Resume is one ``meta`` read.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession


def iceberg_catalog_name(spark: SparkSession) -> str | None:
    """Name of a configured Iceberg Spark catalog, or None."""
    for key, value in spark.sparkContext.getConf().getAll():
        if (key.startswith("spark.sql.catalog.") and key.count(".") == 3
                and "iceberg" in value.lower()):
            return key.rsplit(".", 1)[1]
    return None


def iceberg_available(spark: SparkSession) -> bool:
    """True only when BOTH the runtime jar and a catalog are configured.

    NOTE: probing ``spark._jvm.org.apache.iceberg.Table`` is a false
    positive — py4j returns a JavaPackage placeholder for missing classes
    instead of raising — so the class check must go through
    ``java.lang.Class.forName`` (which genuinely throws)."""
    if iceberg_catalog_name(spark) is None:
        return False
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.Table")
        return True
    except Exception:
        return False


class IcebergSnapshotStore:
    """Iceberg-backed implementation of the same narrow store API
    (``write/append/read/exists/current_snapshot/history/meta``),
    used when an iceberg-spark-runtime jar and a catalog are on the
    classpath (``snapshot_store`` picks it automatically).

    Mapping to Iceberg:

    * ``write(name, df)`` -> ``writeTo(...).createOrReplace()`` — one
      atomic Iceberg snapshot commit per call; the returned id is the
      table's new head ``snapshot_id`` (read back from the ``.refs``
      metadata table), so commit pins carry real Iceberg snapshot ids.
    * ``append(name, delta, parent=...)`` -> an Iceberg append chained
      as the parquet store chains its deltas: on the table head by
      default, on a new table for ``parent=None``, and on an older
      snapshot after rolling the head back to it
      (``rollback_to_snapshot``) — so a round replayed after a torn
      commit appends past the orphan instead of on top of it.
    * ``read(name, snapshot)`` -> time travel (``VERSION AS OF``).

    The execution paths need an Iceberg jar (tests/test_iceberg_store.py
    runs them when one is present; the sandbox ships none), but every SQL
    statement the store issues is built by the dry ``*_sql`` builders
    below and asserted parseable by Spark's own SQL parser in
    ``test_sql_surface_parses`` — so the SQL surface is verified even
    where the catalog cannot run.
    """

    def __init__(self, spark: SparkSession, catalog: str = "local",
                 namespace: str = "kit") -> None:
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        spark.sql(self.create_namespace_sql())

    def _ident(self, name: str) -> str:
        return f"{self.catalog}.{self.namespace}.{name}"

    # --- SQL surface (dry string builders) ---------------------------------
    # Every statement the store runs is built here and ONLY executed through
    # these, so the sandbox (which ships no iceberg-spark-runtime jar) can
    # still assert the whole surface parses — tests/test_iceberg_store.py::
    # test_sql_surface_parses feeds each through Spark's SQL parser.

    def create_namespace_sql(self) -> str:
        return (f"CREATE NAMESPACE IF NOT EXISTS "
                f"{self.catalog}.{self.namespace}")

    def snapshots_sql(self, name: str) -> str:
        return (f"SELECT snapshot_id FROM {self._ident(name)}.snapshots "
                f"ORDER BY committed_at")

    def current_snapshot_sql(self, name: str) -> str:
        """The table head: the ``main`` branch's snapshot, which after a
        rollback is older than the newest committed snapshot."""
        return (f"SELECT snapshot_id FROM {self._ident(name)}.refs "
                f"WHERE name = 'main'")

    @staticmethod
    def meta_literal(value) -> str:
        """A meta value as a SQL string literal: JSON (so ``meta`` decodes
        ints and nested pins back), with backslashes and quotes escaped."""
        text = json.dumps(value).replace("\\", "\\\\").replace("'", "\\'")
        return f"'{text}'"

    def set_meta_sql(self, name: str, meta: dict) -> str:
        props = ", ".join(f"'kit.meta.{k}'={self.meta_literal(v)}"
                          for k, v in meta.items())
        return f"ALTER TABLE {self._ident(name)} SET TBLPROPERTIES ({props})"

    def time_travel_sql(self, name: str, snapshot: str) -> str:
        return f"SELECT * FROM {self._ident(name)} VERSION AS OF {snapshot}"

    def show_props_sql(self, name: str) -> str:
        return f"SHOW TBLPROPERTIES {self._ident(name)}"

    def rollback_sql(self, name: str, snapshot: str) -> str:
        """Roll the table head back to ``snapshot`` before an append
        chained on it (an Iceberg stored procedure; needs the Iceberg SQL
        extensions on a real cluster)."""
        return (f"CALL {self.catalog}.system.rollback_to_snapshot"
                f"('{self.namespace}.{name}', {snapshot})")

    def sql_surface(self) -> dict[str, str]:
        """One representative instance of every statement the store can
        issue — the dry-testable contract."""
        return {
            "create_namespace": self.create_namespace_sql(),
            "snapshots": self.snapshots_sql("url_seen"),
            "current_snapshot": self.current_snapshot_sql("url_seen"),
            "set_meta": self.set_meta_sql("driver_state", {
                "round": 3, "counts": {"url_seen": 100},
                "pins": {"url_seen": "4216516472974892331"}}),
            "time_travel": self.time_travel_sql("url_seen",
                                                "4216516472974892331"),
            "show_props": self.show_props_sql("url_seen"),
            "rollback": self.rollback_sql("url_seen", "4216516472974892331"),
        }

    # --- execution ---------------------------------------------------------

    def _head(self, name: str) -> str:
        row = self.spark.sql(self.current_snapshot_sql(name)).collect()
        return str(row[0][0])

    def write(self, name: str, df: DataFrame,
              meta: dict | None = None) -> str:
        df.writeTo(self._ident(name)).using("iceberg") \
            .tableProperty("commit.retry.num-retries", "4") \
            .createOrReplace()
        if meta:
            self.spark.sql(self.set_meta_sql(name, meta))
        return self._head(name)

    _CURRENT_PARENT = "__current__"

    def append(self, name: str, delta: DataFrame, meta: dict | None = None,
               parent: str | None = _CURRENT_PARENT) -> str:
        """True Iceberg append — one snapshot commit containing the delta,
        then ``meta`` as table properties.

        ``parent`` has the parquet store's meaning: by default the delta
        chains on the table head; ``None`` starts a new chain (the table
        is replaced by the delta); any other snapshot first becomes the
        head again (``rollback_sql``), so the snapshots a torn commit
        left past it drop out of the table, and the delta chains on it.

        Crash window: a kill between the append and the ``ALTER`` leaves
        the rows committed under the previous meta.  For a commit log
        (``commit_log``) that means the previous pins, so the step replays
        from them, as after any other torn commit."""
        if parent is None or not self.exists(name):
            return self.write(name, delta, meta)
        if parent != self._CURRENT_PARENT and parent != self._head(name):
            self.spark.sql(self.rollback_sql(name, parent))
        delta.writeTo(self._ident(name)).append()
        if meta:
            self.spark.sql(self.set_meta_sql(name, meta))
        return self._head(name)

    def exists(self, name: str) -> bool:
        return self.spark.catalog.tableExists(self._ident(name))

    def current_snapshot(self, name: str) -> str | None:
        return self._head(name) if self.exists(name) else None

    def read(self, name: str, snapshot: str | None = None) -> DataFrame:
        if snapshot is None:
            return self.spark.table(self._ident(name))
        return self.spark.sql(self.time_travel_sql(name, snapshot))

    def history(self, name: str) -> list[str]:
        rows = self.spark.sql(self.snapshots_sql(name)).collect()
        return [str(r[0]) for r in rows]

    def meta(self, name: str, snapshot: str | None = None) -> dict:
        if not self.exists(name):  # as the parquet store: no commit yet
            return {}
        rows = self.spark.sql(self.show_props_sql(name)).collect()
        prefix = "kit.meta."
        return {r["key"][len(prefix):]: json.loads(r["value"]) for r in rows
                if r["key"].startswith(prefix)}


def snapshot_store(spark: SparkSession, root: str):
    """Factory: Iceberg-backed store when the runtime jar + catalog are
    configured, parquet snapshot-directory fallback otherwise (same API)."""
    if iceberg_available(spark):
        return IcebergSnapshotStore(spark, catalog=iceberg_catalog_name(spark))
    return SnapshotStore(spark, root)


class SnapshotStore:
    """Parquet snapshot directories with an atomic current-pointer."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- paths ---------------------------------------------------------------

    def _table_dir(self, name: str) -> str:
        path = os.path.join(self.root, name)
        os.makedirs(path, exist_ok=True)
        return path

    def _pointer(self, name: str) -> str:
        return os.path.join(self._table_dir(name), "_CURRENT")

    def current_snapshot(self, name: str) -> str | None:
        try:
            with open(self._pointer(name)) as fh:
                return fh.read().strip() or None
        except FileNotFoundError:
            return None

    def exists(self, name: str) -> bool:
        return self.current_snapshot(name) is not None

    # -- io ------------------------------------------------------------------

    def write(self, name: str, df: DataFrame, meta: dict | None = None) -> str:
        """Commit a new snapshot of ``name``; returns the snapshot id."""
        table_dir = self._table_dir(name)
        current = self.current_snapshot(name)
        next_id = 0 if current is None else int(current.split("-")[1]) + 1
        snap = f"snap-{next_id:05d}"
        out_dir = os.path.join(table_dir, snap)
        df.write.mode("overwrite").parquet(out_dir)
        if meta:
            with open(os.path.join(out_dir, "_meta.json"), "w") as fh:
                json.dump(meta, fh)
        # atomic pointer swap: readers never see a half-written snapshot
        fd, tmp = tempfile.mkstemp(dir=table_dir, prefix=".ptr-")
        with os.fdopen(fd, "w") as fh:
            fh.write(snap)
        os.replace(tmp, self._pointer(name))
        return snap

    _CURRENT_PARENT = "__current__"

    def append(self, name: str, delta: DataFrame, meta: dict | None = None,
               parent: str | None = _CURRENT_PARENT) -> str:
        """Delta commit (Iceberg append analog): the new snapshot holds only
        ``delta``'s rows plus a parent pointer; readers resolve the chain.
        Keeps per-round write cost O(delta) instead of O(total) for the
        monotonically growing tables (schedule, fetch_log, url_seen,
        robots_cache, metrics, driver_state) — at the 10^10-row design
        point a full rewrite per round would dominate the round.

        ``parent`` defaults to the current pointer; a checkpointing caller
        replaying a torn commit MUST chain from its last commit's pin
        instead (``append_pinned``) so the replayed delta chains past any
        orphan left by the crash — otherwise the orphan's rows would be
        double-counted through the chain.
        """
        merged = dict(meta or {})
        merged["parent"] = (self.current_snapshot(name)
                            if parent == self._CURRENT_PARENT else parent)
        return self.write(name, delta, merged)

    def _chain(self, name: str, snap: str) -> list[str]:
        paths = []
        current: str | None = snap
        while current is not None:
            paths.append(os.path.join(self.root, name, current))
            current = self.meta(name, current).get("parent")
        return paths

    def read(self, name: str, snapshot: str | None = None) -> DataFrame:
        snap = snapshot or self.current_snapshot(name)
        if snap is None:
            raise FileNotFoundError(f"table {name} has no current snapshot")
        # resolving through the *pinned* snapshot (not the pointer) keeps
        # torn-commit resume consistent: orphan deltas past the pinned
        # snapshot are invisible
        return self.spark.read.parquet(*self._chain(name, snap))

    def history(self, name: str) -> list[str]:
        table_dir = self._table_dir(name)
        return sorted(d for d in os.listdir(table_dir) if d.startswith("snap-"))

    def meta(self, name: str, snapshot: str | None = None) -> dict:
        snap = snapshot or self.current_snapshot(name)
        try:
            with open(os.path.join(self.root, name, snap, "_meta.json")) as fh:
                return json.load(fh)
        except (FileNotFoundError, TypeError):
            return {}


def committed_pins(committed: dict) -> dict[str, str]:
    """The pins (table -> snapshot) of a commit-log meta."""
    return committed.get("pins", {})


def read_pinned(store, committed: dict, name: str) -> DataFrame | None:
    """``name`` as of the commit whose log meta is ``committed``; None
    before its first commit.  Never the table's current pointer: orphan
    snapshots a torn commit left behind stay invisible."""
    snap = committed_pins(committed).get(name)
    return store.read(name, snap) if snap else None


def append_pinned(store, committed: dict, name: str, delta: DataFrame,
                  meta: dict | None = None) -> str:
    """Append ``delta`` to ``name`` chained onto its pin in ``committed``
    (past any orphan), not onto the current pointer; returns the new
    snapshot for the next commit's pins."""
    return store.append(name, delta, meta=meta,
                        parent=committed_pins(committed).get(name))


def commit_log(store, log: str, rows: DataFrame, pins: dict[str, str],
               **meta) -> None:
    """The commit point: append ``rows`` to the ``log`` table with a
    snapshot meta of ``meta`` plus ``pins``, after every state table the
    pins name is written.  The log's pointer moves only here, so its
    default parent is the last commit, and ``store.meta(log)`` is the
    committed state a resume reads."""
    store.append(log, rows, meta={**meta, "pins": pins})
