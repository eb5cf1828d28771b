"""Iceberg adapter for the catalog interface.

``ParquetCatalog`` (catalog.py) is the sandbox shim: it reproduces the
Iceberg semantics the engine needs (snapshot log, append /
overwrite-partitions / predicate delete commits, time-travel reads) on
bare parquet directories, because the Iceberg Spark runtime jar and
pyiceberg are not available in this environment.

This module is the REAL adapter behind the same interface, written
against the public Iceberg Spark integration (DataFrameWriterV2
``writeTo(...).append()/createOrReplace()``, ``DELETE FROM ... WHERE``,
``snapshot-id`` read option, the ``<table>.snapshots`` metadata table).
It is import-safe without the jar; constructing it on a session whose
classpath lacks ``org.apache.iceberg.spark.SparkCatalog`` raises a
clear ``IcebergUnavailableError``. The shared contract tests
(tests/test_catalog_contract.py) run the full semantics suite against
``ParquetCatalog`` always and against this adapter whenever the
runtime is present, so a cluster deployment flips one constructor:

    cat = IcebergCatalog(spark, catalog="prod", namespace="tiers")
    cat.append(df_1m, "tier_1m", partition_by=["day"])
    old = cat.read(spark, "tier_1m", snapshot_id=sid)  # time travel
    cat.delete_where(spark, "tier_1m", "bucket < '2020-01-01'")  # TTL

To enable on a real cluster (public Iceberg quickstart config):

    spark.jars.packages  org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>
    spark.sql.catalog.<name>  org.apache.iceberg.spark.SparkCatalog
    spark.sql.catalog.<name>.type  hadoop          # or hive / rest
    spark.sql.catalog.<name>.warehouse  <path>

Mapping to the shim, method by method:

    append               -> writeTo(t).append()      (create on first write;
                            a partition_by other than the spec raises)
    overwrite_table      -> writeTo(t).createOrReplace() with partition_by,
                            else writeTo(t).overwrite(TRUE) (keeps the spec)
    delete_where         -> DELETE FROM t WHERE p    (Iceberg retains
                            NULL-predicate rows natively — the shim
                            reproduces this with ``(p) IS NOT TRUE``)
    snapshots            -> SELECT ... FROM <t>.snapshots
    read(snapshot_id=..) -> spark.read.option("snapshot-id", ..).table(t)

The TTL/retention semantics the engine relies on hold natively in
Iceberg: partition-predicate deletes are metadata-only for fully
matched files (copy-on-write rewrites only partially matched files),
which the shim reproduces per partition leaf under a one-column spec.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession

from .catalog import Snapshot


class IcebergUnavailableError(RuntimeError):
    """The Iceberg Spark runtime is not on this session's classpath."""


def iceberg_available(spark: SparkSession) -> bool:
    """True if the Iceberg SparkCatalog class is loadable in this JVM."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001 - public jar probe
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class IcebergCatalog:
    """``ParquetCatalog``-compatible adapter over a configured Iceberg
    Spark catalog.

    Parameters
    ----------
    spark:
        Session with the Iceberg runtime jar and a catalog configured
        under ``spark.sql.catalog.<catalog>`` (see module docstring).
    catalog:
        Spark catalog name the Iceberg catalog is registered as.
    namespace:
        Namespace (database) all tables live in; created if missing.
    """

    def __init__(self, spark: SparkSession, catalog: str = "local",
                 namespace: str = "yads"):
        if not iceberg_available(spark):
            raise IcebergUnavailableError(
                "org.apache.iceberg.spark.SparkCatalog is not on the "
                "classpath; add the iceberg-spark-runtime package and a "
                f"spark.sql.catalog.{catalog} config (module docstring), "
                "or use sources.catalog.ParquetCatalog."
            )
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}")

    def _fqn(self, table: str) -> str:
        return f"{self.catalog}.{self.namespace}.{table}"

    # ---------- manifest ----------
    def snapshots(self, table: str) -> list[Snapshot]:
        """Commit log, oldest first, as the shim's ``Snapshot`` rows.

        ``paths`` carries the manifest-list location (one per
        snapshot) rather than the shim's flat data-dir list — callers
        that only use snapshot_id / operation / summary (all engine
        call sites) see identical shapes.
        """
        if not self.exists(table):
            return []
        rows = self.spark.sql(
            f"SELECT snapshot_id, parent_id, operation, manifest_list, "
            f"summary FROM {self._fqn(table)}.snapshots "
            f"ORDER BY committed_at, snapshot_id"
        ).collect()
        return [
            Snapshot(
                snapshot_id=str(r.snapshot_id),
                parent_id=None if r.parent_id is None else str(r.parent_id),
                operation=r.operation,
                paths=[r.manifest_list],
                summary=dict(r.summary or {}),
            )
            for r in rows
        ]

    def current_snapshot_id(self, table: str) -> str | None:
        snaps = self.snapshots(table)
        return snaps[-1].snapshot_id if snaps else None

    def _spec(self, table: str) -> list[str]:
        """The table's partition spec from ``DESCRIBE TABLE``: identity
        columns by name (under ``# Partition Information``), any other
        transform as Spark describes it (``Part <i>`` rows under
        ``# Partitioning``, e.g. ``days(ts)``); ``[]`` if unpartitioned."""
        rows = [(r.col_name, r.data_type) for r in self.spark.sql(
            f"DESCRIBE TABLE {self._fqn(table)}").collect()]
        names = [n for n, _ in rows]
        for header, skip, pick in (("# Partition Information", 2, 0),
                                   ("# Partitioning", 1, 1)):
            if header in names:
                out = []
                for row in rows[names.index(header) + skip:]:
                    if not row[0] or row[0].startswith("#"):
                        break
                    out.append(row[pick])
                return out
        return []

    def _check_spec(self, table: str, partition_by: list[str] | None,
                    what: str) -> None:
        """The shim's spec rule: only a whole-view write with an
        explicit ``partition_by`` changes a table's spec."""
        if partition_by is None:
            return
        spec = self._spec(table)
        if list(partition_by) != spec:
            raise ValueError(
                f"{what} {table!r} with partition_by={partition_by} but "
                f"the table spec is {spec}: only "
                "overwrite_table(partition_by=...) changes a table's spec")

    # ---------- writes ----------
    def append(self, df: DataFrame, table: str,
               partition_by: list[str] | None = None) -> str:
        w = df.writeTo(self._fqn(table))
        if not self.exists(table):
            if partition_by:
                from pyspark.sql import functions as F
                w = w.partitionedBy(*[F.col(c) for c in partition_by])
            w.create()
        else:
            self._check_spec(table, partition_by, "append to")
            w.append()
        return self.current_snapshot_id(table)

    def overwrite_table(self, df: DataFrame, table: str,
                        partition_by: list[str] | None = None) -> str:
        """Replace the whole view. An explicit ``partition_by`` (re)sets
        the spec (``createOrReplace``); ``None`` keeps the existing
        table, its spec and schema, and replaces every row
        (``overwrite(TRUE)``), as the shim keeps its spec."""
        from pyspark.sql import functions as F

        w = df.writeTo(self._fqn(table))
        if partition_by is None and self.exists(table):
            w.overwrite(F.lit(True))
            return self.current_snapshot_id(table)
        if partition_by:
            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        w.createOrReplace()
        return self.current_snapshot_id(table)

    def delete_where(self, spark: SparkSession, table: str,
                     predicate: str) -> str:
        """Iceberg ``DELETE FROM t WHERE p``.

        Native semantics match the shim by construction: only
        predicate=TRUE rows are deleted (NULL rows retained), fully
        matched files drop via metadata, partially matched files are
        rewritten (copy-on-write).
        """
        if not self.exists(table):
            raise FileNotFoundError(f"no snapshots for table {table!r}")
        spark.sql(f"DELETE FROM {self._fqn(table)} WHERE {predicate}")
        return self.current_snapshot_id(table)

    def replace_where(self, spark: SparkSession, df: DataFrame, table: str,
                      predicate: str) -> str:
        """Iceberg dynamic predicate overwrite:
        ``df.writeTo(t).overwrite(expr(p))`` — rows matching the
        predicate are replaced by ``df`` in one atomic commit (the
        continuous-aggregate refresh primitive)."""
        from pyspark.sql import functions as F

        if not self.exists(table):
            raise FileNotFoundError(
                f"no snapshots for table {table!r} — create it with "
                "append()/overwrite_table() first"
            )
        df.writeTo(self._fqn(table)).overwrite(F.expr(predicate))
        return self.current_snapshot_id(table)

    def merge_upsert(self, spark: SparkSession, source: DataFrame,
                     table: str, key_cols: list[str]) -> str:
        """Native ``MERGE INTO t USING s ON t.k = s.k WHEN MATCHED
        THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *``.

        Semantics match the shim by construction: NULL keys never
        match (``=``), duplicate non-NULL source keys raise at runtime
        (Iceberg's "multiple source rows matched"), copy-on-write
        rewrites only the files containing matches."""
        if not self.exists(table):
            raise FileNotFoundError(
                f"no snapshots for table {table!r} — create it with "
                "append()/overwrite_table() first"
            )
        if not key_cols:
            raise ValueError("merge_upsert needs at least one key column")
        view = f"_merge_src_{uuid.uuid4().hex[:8]}"
        source.createOrReplaceTempView(view)
        try:
            on = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
            spark.sql(
                f"MERGE INTO {self._fqn(table)} t USING {view} s "
                f"ON {on} "
                "WHEN MATCHED THEN UPDATE SET * "
                "WHEN NOT MATCHED THEN INSERT *"
            )
        finally:
            spark.catalog.dropTempView(view)
        return self.current_snapshot_id(table)

    # ---------- maintenance ----------
    def expire_snapshots(self, table: str, keep_last: int = 1) -> dict:
        """Iceberg's ``expire_snapshots`` maintenance procedure.

        ``older_than`` is pinned to *now* so exactly the newest
        ``keep_last`` snapshots survive regardless of age — the shim's
        semantics (the procedure's default ``older_than`` of 5 days ago
        would silently retain every recent snapshot).
        """
        if keep_last < 1:
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        if not self.exists(table):
            raise FileNotFoundError(f"no snapshots for table {table!r}")
        now = self.spark.sql(
            "SELECT CAST(current_timestamp() AS STRING) AS t"
        ).collect()[0].t
        row = self.spark.sql(
            f"CALL {self.catalog}.system.expire_snapshots("
            f"table => '{self.namespace}.{table}', "
            f"older_than => TIMESTAMP '{now}', "
            f"retain_last => {keep_last})"
        ).collect()[0].asDict()
        return {"expired_snapshots": None,  # not reported by the proc
                "removed_dirs": row.get("deleted_data_files_count"),
                "retained_snapshots": keep_last,
                **row}

    def remove_orphan_files(self, table: str,
                            older_than_s: float = 3 * 86400) -> dict:
        """Iceberg's ``remove_orphan_files`` procedure. The age guard
        (default 3 days, Iceberg's own) protects in-flight writers
        whose data files exist before their commit."""
        if not self.exists(table):
            raise FileNotFoundError(f"no snapshots for table {table!r}")
        rows = self.spark.sql(
            f"CALL {self.catalog}.system.remove_orphan_files("
            f"table => '{self.namespace}.{table}', "
            f"older_than => current_timestamp() - "
            f"INTERVAL {int(older_than_s)} SECONDS)"
        ).collect()
        return {"removed_dirs": len(rows)}

    def compact(self, spark: SparkSession, table: str,
                partition_by: list[str] | None = None) -> str:
        """Iceberg's ``rewrite_data_files`` (bin-packing compaction),
        within the table's own partition spec: a ``partition_by`` other
        than the spec raises ``ValueError`` (the procedure cannot
        re-partition; ``overwrite_table(partition_by=...)`` can)."""
        if not self.exists(table):
            raise FileNotFoundError(f"no snapshots for table {table!r}")
        self._check_spec(table, partition_by, "compact")
        spark.sql(
            f"CALL {self.catalog}.system.rewrite_data_files("
            f"table => '{self.namespace}.{table}')"
        ).collect()
        return self.current_snapshot_id(table)

    def partition_values(self, table: str, col: str,
                         snapshot_id: str | None = None) -> set[str] | None:
        """Always ``None``: Iceberg answers a partition-only delete from
        its own metadata, so callers take the ``delete_where`` path."""
        return None

    # ---------- reads ----------
    def read(self, spark: SparkSession, table: str,
             snapshot_id: str | None = None) -> DataFrame:
        if not self.exists(table):
            raise FileNotFoundError(f"no snapshots for table {table!r}")
        r = spark.read
        if snapshot_id is not None:
            r = r.option("snapshot-id", int(snapshot_id))
        return r.table(self._fqn(table))

    def read_appended(self, spark: SparkSession, table: str,
                      since_snapshot_id: str | None,
                      until_snapshot_id: str | None = None) -> DataFrame:
        """Iceberg incremental scan: rows appended in
        (``since``, ``until``] via the ``start-snapshot-id`` /
        ``end-snapshot-id`` read options (``since`` exclusive).
        ``since=None`` reads the full ``until`` view. Iceberg itself
        raises if the range contains a non-append snapshot — same
        contract as the shim."""
        if not self.exists(table):
            raise FileNotFoundError(f"no snapshots for table {table!r}")
        if since_snapshot_id is None:
            return self.read(spark, table, until_snapshot_id)
        r = spark.read.option("start-snapshot-id", int(since_snapshot_id))
        if until_snapshot_id is not None:
            r = r.option("end-snapshot-id", int(until_snapshot_id))
        return r.table(self._fqn(table))

    def exists(self, table: str) -> bool:
        return self.spark.catalog.tableExists(self._fqn(table))
