"""Iceberg-style catalog shim over parquet directories.

pyiceberg / an Iceberg runtime catalog is not available in this
sandbox, so tier tables, checkpoints and lineage use this shim. It
reproduces the Iceberg semantics the engine needs — snapshot ids,
append / dynamic-partition-overwrite commits, time-travel reads and
partition-level deletes — behind an interface an Iceberg adapter can
implement verbatim (``writeTo(tbl).append()`` /
``overwritePartitions()`` / ``VERSION AS OF``).

Layout on disk::

    <root>/<table>/
        _snapshots.json          # ordered commit log
        _manifest.lock           # exclusive commit mutex (transient)
        snap=<id>/...parquet     # data files of commit <id>
        snap=<id>/<col>=<v>/...  # ... hive-partitioned by the spec

Each snapshot is a FULL logical view assembled from parent snapshot
data minus replaced/deleted partitions plus new files — implemented
here by listing paths per snapshot in the manifest (classic Iceberg
manifest-list behavior, simplified). A path is a commit dir
``snap=<id>``, or, when the table's spec is one column, a **leaf**
``snap=<id>/<col>=<v>`` of one: whole-view writes and appends record
their commit dir, and a commit that drops or swaps some partitions of
a dir records the dir's other leaves instead. So a delete or replace
whose predicate references only the spec column (``day < DATE '…'``,
``day IN (…)``) is metadata-only, as on Iceberg: it is evaluated
against the view's partition values, and the matching leaves leave
the view without a probe, a rewrite or a Spark job.

Concurrency model (mirrors Iceberg's optimistic commits): data files
are written OUTSIDE any lock (long Spark jobs never serialize); the
manifest read-modify-write is atomic under a per-table lock file.
Appends and full overwrites rebase onto whatever parent is current at
commit time (Iceberg fast-append semantics). ``delete_where``,
``replace_where`` and ``merge_upsert`` are copy-on-write operations
whose probe/rewrite depend on the snapshot they read — if another
commit lands in between they raise :class:`CommitConflictError`
instead of silently dropping that commit's rows (Iceberg's
serializable-isolation validation; the caller retries). A commit that
raises it first removes the data dirs it wrote.
``expire_snapshots`` deletes ONLY data dirs and leaves that the
expired snapshots referenced and no retained snapshot still does —
never "any dir not in the manifest", because a concurrent append
writes its data dir before taking the commit lock, and never a commit
dir that still holds live leaves. Dirs orphaned by crashed writers
are reclaimed by :meth:`remove_orphan_files` (age-guarded, exactly
like Iceberg's ``remove_orphan_files`` procedure).

Every data dir of a view is laid out in its snapshot's partition spec
(``summary["partition_by"]``), so the spec alone tells how the files
are laid out. Only writes that lay out the whole view set it: a
table's first write, :meth:`overwrite_table` and
``compact(partition_by=...)``. Appends and copy-on-write commits
inherit it, so compaction and TTL rewrites keep the hive layout that
partition pruning relies on. An ``append`` whose explicit
``partition_by`` differs from the table's spec raises ``ValueError``;
one whose spec another commit changed mid-write raises
:class:`CommitConflictError`.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_LOCK_TIMEOUT_S = 60.0
HIVE_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"  # dir name of a NULL value


class CommitConflictError(RuntimeError):
    """A concurrent commit invalidated this copy-on-write operation
    (Iceberg validation failure) — re-read and retry."""


@dataclass
class Snapshot:
    snapshot_id: str
    parent_id: str | None
    operation: str  # append | overwrite | delete_where | replace_where | merge | compact
    paths: list[str] = field(default_factory=list)  # commit dirs and leaves composing the view
    summary: dict = field(default_factory=dict)


def _commit_dir(path: str) -> str:
    """The ``snap=<id>`` commit dir a view path is or lies in."""
    if os.path.basename(path).startswith("snap="):
        return path
    return os.path.dirname(path)


def _leaf_col(snap: Snapshot) -> str | None:
    """The spec column when the spec is exactly one column (then the
    view may name leaves), else None."""
    spec = snap.summary.get("partition_by")
    return spec[0] if spec and len(spec) == 1 else None


def _hive_leaves(commit_dir: str) -> list[str]:
    """Every ``<col>=<v>`` leaf on disk of a commit dir, sorted."""
    return sorted(os.path.join(commit_dir, n)
                  for n in os.listdir(commit_dir) if "=" in n)


def _leaves(path: str, col: str | None) -> list[str]:
    """The units a view path stands for under spec column ``col``: the
    leaves of a commit dir, or ``[path]`` for a leaf or when ``col`` is
    None."""
    if col is None or path != _commit_dir(path):
        return [path]
    return _hive_leaves(path)


class ParquetCatalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ---------- manifest ----------
    def _manifest_path(self, table: str) -> str:
        return os.path.join(self.root, table, "_snapshots.json")

    def snapshots(self, table: str) -> list[Snapshot]:
        p = self._manifest_path(table)
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return [Snapshot(**s) for s in json.load(f)]

    def current_snapshot_id(self, table: str) -> str | None:
        snaps = self.snapshots(table)
        return snaps[-1].snapshot_id if snaps else None

    @contextmanager
    def _lock(self, table: str):
        """Per-table exclusive commit mutex: O_CREAT|O_EXCL lock file
        (atomic on POSIX local FS and NFS; a distributed deployment
        swaps this for the real Iceberg catalog's atomic swap). A
        crashed holder surfaces as a loud TimeoutError, never a silent
        lost update."""
        os.makedirs(os.path.join(self.root, table), exist_ok=True)
        lock = os.path.join(self.root, table, "_manifest.lock")
        deadline = time.time() + _LOCK_TIMEOUT_S
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                break
            except FileExistsError:
                if time.time() > deadline:
                    raise TimeoutError(
                        f"manifest lock {lock!r} held for > "
                        f"{_LOCK_TIMEOUT_S}s (crashed writer? delete the "
                        "lock file after verifying no live commit)"
                    ) from None
                time.sleep(0.05)
        try:
            os.write(fd, f"{os.getpid()} {time.time()}".encode())
            os.close(fd)
            yield
        finally:
            os.unlink(lock)

    def _write_manifest(self, table: str, snaps: list[Snapshot]) -> None:
        tmp = self._manifest_path(table) + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump([s.__dict__ for s in snaps], f, indent=1)
        os.replace(tmp, self._manifest_path(table))  # atomic commit

    def _commit(self, table: str,
                make_snap: Callable[[list[Snapshot]], Snapshot],
                written: list[str]) -> str:
        """Atomic manifest commit: under the table lock, re-read the
        CURRENT snapshot list and let ``make_snap`` build the new
        snapshot against it (rebase) or raise CommitConflictError
        (validate). One manifest parse per commit.

        ``written`` are the data dirs the caller wrote for this commit.
        A conflict removes them before re-raising: they are named after
        this commit's fresh snapshot id, so no snapshot and no other
        writer can reference them, and nothing else would reclaim them
        before :meth:`remove_orphan_files`' age guard."""
        try:
            with self._lock(table):
                snaps = self.snapshots(table)
                snap = make_snap(snaps)
                self._write_manifest(table, snaps + [snap])
                return snap.snapshot_id
        except CommitConflictError:
            for d in written:
                shutil.rmtree(d, ignore_errors=True)
            raise

    @staticmethod
    def _new_snap_id() -> str:
        return f"{int(time.time() * 1e6)}_{uuid.uuid4().hex[:8]}"

    def _new_data_dir(self, table: str, snap_id: str) -> str:
        return os.path.join(self.root, table, f"snap={snap_id}")

    def _current_spec(self, table: str) -> list[str] | None:
        """The table's partition spec (latest snapshot summary)."""
        snaps = self.snapshots(table)
        return snaps[-1].summary.get("partition_by") if snaps else None

    # ---------- writes ----------
    def _write_data(self, df: DataFrame, data_dir: str,
                    partition_by: list[str] | None) -> None:
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(data_dir)

    def append(self, df: DataFrame, table: str, partition_by: list[str] | None = None) -> str:
        snaps = self.snapshots(table)
        pb = snaps[-1].summary.get("partition_by") if snaps else partition_by
        if partition_by is not None and partition_by != pb:
            raise ValueError(
                f"append to {table!r} with partition_by={partition_by} but "
                f"the table spec is {pb}: only overwrite_table() or "
                "compact(partition_by=...) change a table's spec")
        snap_id = self._new_snap_id()
        data_dir = self._new_data_dir(table, snap_id)
        self._write_data(df, data_dir, pb)

        def make(snaps: list[Snapshot]) -> Snapshot:
            # rebase: parent/paths come from the manifest AS OF commit
            # time, not the possibly-stale pre-write read — unless the
            # spec changed meanwhile: the new dir is laid out in the old
            # one, and committing it would break the layout rule
            if snaps and snaps[-1].summary.get("partition_by") != pb:
                raise CommitConflictError(
                    f"partition spec of table {table!r} changed during "
                    "append — re-run the append")
            parent = snaps[-1].snapshot_id if snaps else None
            parent_paths = snaps[-1].paths if snaps else []
            return Snapshot(snap_id, parent, "append",
                            parent_paths + [data_dir],
                            {"added_path": data_dir, "partition_by": pb,
                             "schema": df.schema.jsonValue()})

        return self._commit(table, make, [data_dir])

    def overwrite_table(self, df: DataFrame, table: str,
                        partition_by: list[str] | None = None) -> str:
        snap_id = self._new_snap_id()
        data_dir = self._new_data_dir(table, snap_id)
        # an explicit partition_by (re)sets the table spec; None keeps
        # it, so compaction never silently flattens a partitioned table
        pb = partition_by if partition_by is not None \
            else self._current_spec(table)
        self._write_data(df, data_dir, pb)
        return self._commit(
            table,
            lambda snaps: Snapshot(
                snap_id, snaps[-1].snapshot_id if snaps else None,
                "overwrite", [data_dir],
                {"partition_by": pb, "schema": df.schema.jsonValue()},
            ),
            [data_dir],
        )

    def _cow_commit(self, spark: SparkSession, table: str, op: str,
                    matches: Callable, keep: Callable, summary: dict,
                    new_df: DataFrame | None = None,
                    predicate: str | None = None) -> str:
        """Copy-on-write commit of ``op`` against the current snapshot
        (the base), touching only the partitions it affects — the
        manifest-filtering analog behind :meth:`delete_where`,
        :meth:`replace_where` and :meth:`merge_upsert`.

        ``new_df`` (if any) is written first as ``snap=<id>`` and read
        back as ``written``: the probes and the rewrite then scan a
        stable delta instead of recomputing an arbitrary upstream plan
        per dir.

        The unit of pruning is a leaf ``snap=<id>/<col>=<v>`` when the
        spec is one column ``col``, else a commit dir. A ``predicate``
        that references only ``col`` is decided from the leaf names
        (:meth:`_partition_only`): the matching leaves leave the view
        with no probe, no rewrite and no Spark job, as Iceberg's
        whole-partition deletes are metadata-only. Otherwise every
        commit dir of the base is probed once with
        ``matches(rows, written)`` — ``limit(1)``, or under a ``col``
        spec the distinct ``col`` values of the matches, which name the
        affected leaves; partition pruning and parquet min-max pushdown
        make this a metadata read for partition- and range-predicates.
        Unaffected dirs and leaves carry over into the new snapshot
        untouched: their files stay byte-identical on disk (asserted in
        tests). The affected ones are rewritten together as
        ``keep(rows, written)`` into ``snap=<id>_rw`` next to new data,
        or ``snap=<id>`` without. The snapshot inherits the base's spec
        and schema, and the delete and the insert are atomic together,
        so a reader never sees the gap between them.

        Dirs are probed CONCURRENTLY (Spark job submission is
        thread-safe): each probe is a Spark job of its own, which
        pruning keeps small but never free, and a long-history table
        has one dir per un-compacted commit, so a sequential driver
        loop would serialize that many jobs; the pool bounds latency by
        ceil(dirs/8) round-trips instead of dirs.

        NULL retention: ``keep`` must retain exactly the rows
        ``matches`` does not return, under SQL's three-valued logic. A
        predicate ``p`` therefore pairs ``p`` with ``(p) IS NOT TRUE``
        (:meth:`_predicate`), not ``NOT (p)``: the probe detects TRUE
        matches only, so ``NOT (p)`` would drop NULL-predicate rows
        from rewritten dirs while leaving them alive in untouched dirs,
        making survival depend on physical dir layout. Only
        predicate=TRUE rows go (Iceberg / ANSI DELETE semantics).

        Validation: the probe and rewrite are computed against the
        base; if another commit lands before this one,
        :class:`CommitConflictError` is raised and nothing commits (the
        rewrite would silently drop the concurrent commit's rows
        otherwise). Callers retry — Iceberg serializable isolation.
        """
        from concurrent.futures import ThreadPoolExecutor

        base = self._snapshot(table)
        spec = base.summary.get("partition_by")
        schema = base.summary.get("schema")
        col = _leaf_col(base)
        snap_id = self._new_snap_id()
        data_dir = self._new_data_dir(table, snap_id)
        written = None
        new_paths = []
        if new_df is not None:
            self._write_data(new_df, data_dir, spec)
            new_paths.append(data_dir)
            written = self._read_dirs(spark, [data_dir],
                                      new_df.schema.jsonValue())

        groups: dict[str, list[str]] = {}  # commit dir -> its leaves
        for p in base.paths:
            groups.setdefault(_commit_dir(p), []).extend(_leaves(p, col))
        units = [u for us in groups.values() for u in us]
        rel = self._leaf_relation(units, col, schema)
        gone = self._partition_only(spark, rel, units, col, predicate)
        rewritten = 0
        if gone is not None:
            summary = {**summary, "dropped_leaves": len(gone)}
        else:
            value = ({units[r[0]]: r[col] for r in spark.sql(rel).collect()}
                     if rel is not None else {})

            def affected(leaves: list[str]) -> list[str]:
                if not leaves:  # an empty commit under a col spec
                    return []
                hit = matches(self._read_dirs(spark, leaves, schema),
                              written)
                if col is None:
                    return leaves if hit.limit(1).count() else []
                vals = {r[0] for r in hit.select(col).distinct().collect()}
                out = [u for u in leaves if u in value and value[u] in vals]
                # a matched value that names no leaf: rewrite them all
                return out if len(vals) == len({value[u] for u in out}) \
                    else leaves

            with ThreadPoolExecutor(
                max_workers=max(1, min(8, len(groups)))
            ) as ex:
                hits = [h for h in ex.map(affected, groups.values()) if h]
            gone = [u for h in hits for u in h]
            rewritten = len(hits)
            if gone:
                rewrite_dir = data_dir + "_rw" if new_df is not None \
                    else data_dir
                kept = keep(self._read_dirs(spark, gone, schema), written)
                self._write_data(kept, rewrite_dir, spec)
                if _leaves(rewrite_dir, col):
                    new_paths.insert(0, rewrite_dir)
                else:  # under a col spec: the rewrite kept no row
                    shutil.rmtree(rewrite_dir)
        summary = {**summary, "rewritten_dirs": rewritten,
                   "pruned_dirs": len(groups) - rewritten}
        return self._swap_commit(table, base, snap_id, op, set(gone),
                                 new_paths, summary)

    def _swap_commit(self, table: str, base: Snapshot, snap_id: str,
                     op: str, gone: set[str], new_paths: list[str],
                     summary: dict) -> str:
        """Commit ``base``'s view minus the ``gone`` leaves (or commit
        dirs) plus ``new_paths`` as snapshot ``snap_id``, in the base's
        spec and schema. A path with nothing gone carries over as it
        is; a commit dir with some leaves gone is replaced by its other
        leaves. Raises :class:`CommitConflictError`, removing
        ``new_paths``, if another commit landed after ``base``."""
        col = _leaf_col(base)
        paths = []
        for p in base.paths:
            units = _leaves(p, col)
            if gone.isdisjoint(units):
                paths.append(p)
            else:
                paths.extend(u for u in units if u not in gone)
        summary = {**summary,
                   "partition_by": base.summary.get("partition_by"),
                   "schema": base.summary.get("schema")}

        def make(cur: list[Snapshot]) -> Snapshot:
            if not cur or cur[-1].snapshot_id != base.snapshot_id:
                raise CommitConflictError(
                    f"table {table!r} advanced past {base.snapshot_id!r} "
                    f"during {op} — re-run against the new snapshot")
            return Snapshot(snap_id, base.snapshot_id, op,
                            paths + new_paths, summary)

        return self._commit(table, make, new_paths)

    @staticmethod
    def _leaf_relation(leaves: list[str], col: str | None,
                       schema_json: dict | None) -> str | None:
        """SQL of one row per leaf: ``_leaf`` (its index in ``leaves``),
        then every column of the table — ``col`` as the leaf's
        partition value cast to the column's type, the others as typed
        NULLs. A ``VALUES`` relation, which Spark folds at optimization
        time: filtering and collecting it start no job. None when
        there is no leaf or no recorded type for ``col``."""
        from urllib.parse import unquote

        if col is None or not leaves or schema_json is None:
            return None
        types = {f.name: f.dataType.simpleString()
                 for f in StructType.fromJson(schema_json).fields}
        if col not in types:
            return None

        def value(leaf: str) -> str:
            v = os.path.basename(leaf).split("=", 1)[1]
            if v == HIVE_NULL_PARTITION:
                return "NULL"
            v = unquote(v).replace("\\", "\\\\").replace("'", "\\'")
            return f"'{v}'"

        rows = ", ".join(f"({i}, {value(u)})" for i, u in enumerate(leaves))
        cols = ", ".join(f"CAST({'v' if c == col else 'NULL'} AS {t}) AS `{c}`"
                         for c, t in types.items())
        return f"SELECT _leaf, {cols} FROM VALUES {rows} AS t(_leaf, v)"

    @staticmethod
    def _partition_only(spark: SparkSession, rel: str | None,
                        leaves: list[str], col: str | None,
                        predicate: str | None) -> set[str] | None:
        """The leaves whose every row satisfies ``predicate`` — when it
        is deterministic and references no column but the spec column
        ``col``, so that it has one value per leaf — evaluated over
        :meth:`_leaf_relation` with no Spark job; else None: the rows
        must be probed."""
        if rel is None or predicate is None:
            return None
        hit = spark.sql(f"SELECT _leaf FROM ({rel}) WHERE {predicate}")
        cond = hit._jdf.queryExecution().analyzed().child().condition()
        refs = cond.references().toSeq().mkString(",")  # "day#12,..."
        if not cond.deterministic() or any(
                a.rsplit("#", 1)[0] != col for a in refs.split(",") if a):
            return None
        return {leaves[r[0]] for r in hit.collect()}

    @staticmethod
    def _predicate(predicate: str) -> tuple[Callable, Callable]:
        """``(matches, keep)`` of a predicate copy-on-write: ``p`` and
        ``(p) IS NOT TRUE`` (see :meth:`_cow_commit` for why not
        ``NOT (p)``)."""
        return (lambda rows, _: rows.where(predicate),
                lambda rows, _: rows.where(f"({predicate}) IS NOT TRUE"))

    def delete_where(self, spark: SparkSession, table: str,
                     predicate: str) -> str:
        """Iceberg ``DELETE FROM t WHERE p`` → new snapshot: only
        predicate=TRUE rows go, and only the dirs or leaves holding
        them are rewritten (:meth:`_cow_commit`); a predicate on the
        spec column alone drops whole leaves with no rewrite. A delete
        that matches nothing commits a metadata-only snapshot over the
        same paths."""
        return self._cow_commit(spark, table, "delete_where",
                                *self._predicate(predicate),
                                {"predicate": predicate},
                                predicate=predicate)

    def replace_where(self, spark: SparkSession, df: DataFrame, table: str,
                      predicate: str) -> str:
        """Iceberg ``writeTo(t).overwrite(p)`` — dynamic predicate
        overwrite in ONE commit: rows matching ``predicate`` are
        replaced by ``df``; everything else, NULL-predicate rows
        included, carries over (:meth:`_cow_commit`).

        This is the continuous-aggregate refresh primitive: an
        incremental tier refresh replaces ONLY the affected day
        partitions (``day IN (...)``) with freshly merged rows — a
        predicate on the spec column alone, so the replaced leaves are
        swapped for ``df``'s dir with no probe and no rewrite, and
        commit cost scales with the delta, never with table history.
        """
        return self._cow_commit(spark, table, "replace_where",
                                *self._predicate(predicate),
                                {"predicate": predicate}, new_df=df,
                                predicate=predicate)

    def merge_upsert(self, spark: SparkSession, source: DataFrame,
                     table: str, key_cols: list[str]) -> str:
        """Iceberg ``MERGE INTO t USING s ON t.k = s.k WHEN MATCHED
        THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`` — the
        keyed upsert, in ONE atomic commit.

        Because the only clauses are update-all and insert-all, the
        post-merge view is exactly ``(target ANTI-JOIN source ON keys)
        ∪ source`` — so the copy-on-write plan (:meth:`_cow_commit`)
        probes each data dir for key matches (left_semi, source keys
        broadcast — the CDC / refresh delta is small by construction),
        rewrites ONLY affected dirs with a left_anti filter and adds the
        source rows as one new dir. Commit cost scales with the delta
        and the dirs it touches, never with the 10^12-turn table.

        Semantics pinned to SQL MERGE:

        - a source key matching >1 target row updates them all (the
          target is not required to be key-unique — matching Spark's
          MERGE, where it is the SOURCE side that must not fan out);
        - >1 NON-NULL-key source rows sharing a key raise
          ``ValueError`` (Iceberg/Delta raise "multiple source rows
          matched" at runtime; the shim validates up front);
        - NULL join keys never match (``=``, not ``<=>``): a
          NULL-key source row is an insert, a NULL-key target row
          always survives;
        - source columns must equal the target's by name — MERGE is
          not a schema-evolution path (``allowMissingColumns`` is for
          reads of historic dirs, not new writes).

        ``read_appended`` correctly refuses incremental reads across a
        merge (operation != append).
        """
        from pyspark.sql import functions as F

        tgt_cols = self.read(spark, table).columns
        if not key_cols:
            raise ValueError("merge_upsert needs at least one key column")
        missing = [k for k in key_cols if k not in source.columns]
        if missing:
            raise ValueError(f"key columns {missing} not in source "
                             f"columns {source.columns}")
        if set(source.columns) != set(tgt_cols):
            raise ValueError(
                f"merge_upsert source columns {sorted(source.columns)} != "
                f"target columns {sorted(tgt_cols)}: MERGE is not a "
                "schema-evolution path"
            )
        if (source.dropna(subset=key_cols).groupBy(*key_cols).count()
                .where(F.col("count") > 1).limit(1).count()):
            raise ValueError(
                "merge_upsert source has duplicate rows per key "
                f"{key_cols} — a MERGE target row would match multiple "
                "source rows; de-duplicate the source first"
            )

        def keys(src: DataFrame) -> DataFrame:
            return F.broadcast(src.select(*key_cols))

        return self._cow_commit(
            spark, table, "merge",
            lambda rows, src: rows.join(keys(src), key_cols, "left_semi"),
            lambda rows, src: rows.join(keys(src), key_cols, "left_anti"),
            {"merge_keys": list(key_cols)}, new_df=source)

    # ---------- maintenance ----------
    def expire_snapshots(self, table: str, keep_last: int = 1) -> dict:
        """Retire all but the newest ``keep_last`` snapshots and delete
        the data dirs and leaves they referenced that no retained
        snapshot still does (Iceberg's ``expire_snapshots`` maintenance
        procedure).

        Without this, every append/delete commit dir lives forever —
        at 100 TB with high-frequency appends that is a multiple of
        the live data in dead storage. Time travel to an expired id
        raises afterwards (as in Iceberg). The manifest rewrite runs
        under the commit lock, so a commit landing concurrently is
        never erased; deletion targets are ONLY dirs the expired
        snapshots referenced (a concurrent writer's data dir exists on
        disk before its commit — sweeping "unreferenced" dirs would
        destroy it; those are :meth:`remove_orphan_files`'s job, with
        an age guard). A dead commit dir that still holds live leaves
        loses only its dead leaves. Dir removal happens after the new
        manifest is in place, so a crash mid-GC leaves orphan dirs,
        never a manifest referencing deleted data.
        """
        if keep_last < 1:
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        with self._lock(table):
            snaps = self.snapshots(table)
            if not snaps:
                raise FileNotFoundError(f"no snapshots for table {table!r}")
            kept, expired = snaps[-keep_last:], snaps[:-keep_last]
            if expired:
                self._write_manifest(table, kept)
            live = {os.path.abspath(p) for s in kept for p in s.paths}
            dead = {os.path.abspath(p) for s in expired
                    for p in s.paths} - live
        live_dirs = {_commit_dir(p) for p in live}
        targets = set()
        for p in dead:
            d = _commit_dir(p)
            if d not in live_dirs:
                targets.add(d)
            elif d not in live:  # a retained snapshot reads some leaves
                targets.update(u for u in _hive_leaves(d) if u not in live
                               and (p == d or u == p))
        removed = 0
        for full in sorted(targets):
            if os.path.exists(full):
                shutil.rmtree(full)
                removed += 1
        return {"expired_snapshots": len(expired), "removed_dirs": removed,
                "retained_snapshots": len(kept)}

    def remove_orphan_files(self, table: str,
                            older_than_s: float = 3 * 86400) -> dict:
        """Delete ``snap=`` dirs and leaves no snapshot references
        (Iceberg's ``remove_orphan_files``): leftovers of crashed
        writers and of GC interrupted between manifest rewrite and dir
        removal. A commit dir counts as referenced when any of its
        leaves is; then only its unreferenced leaves can go.

        The age guard is load-bearing, exactly as in Iceberg: an
        in-flight writer's data dir exists on disk BEFORE its manifest
        commit, so only dirs older than ``older_than_s`` (default 3
        days — Iceberg's own default) are eligible. The referenced-set
        snapshot is taken under the commit lock."""
        with self._lock(table):
            snaps = self.snapshots(table)
            referenced = {os.path.abspath(p) for s in snaps for p in s.paths}
            ref_dirs = {_commit_dir(p) for p in referenced}
            tdir = os.path.abspath(os.path.join(self.root, table))
            cutoff = time.time() - older_than_s
            orphans = []
            for name in os.listdir(tdir):
                full = os.path.join(tdir, name)
                if not name.startswith("snap=") or full in referenced:
                    continue
                units = ([full] if full not in ref_dirs else
                         [u for u in _hive_leaves(full)
                          if u not in referenced])
                orphans += [u for u in units if os.path.getmtime(u) < cutoff]
        for full in orphans:
            shutil.rmtree(full, ignore_errors=True)
        return {"removed_dirs": len(orphans)}

    def compact(self, spark: SparkSession, table: str,
                partition_by: list[str] | None = None) -> str:
        """Rewrite the current view into fewer data dirs (Iceberg's
        ``rewrite_data_files``), collapsing the union that ``read``
        otherwise plans over a long append history, in a snapshot of
        the table's partition spec unless ``partition_by`` overrides
        it — compaction never flattens a partitioned table. Time
        travel to pre-compaction snapshots keeps working until
        ``expire_snapshots`` retires them.

        Under a one-column spec only the partition values that more
        than one path holds are rewritten, into one new dir that
        replaces their leaves (a copy-on-write ``compact`` commit);
        under another spec, or with a new ``partition_by``, the whole
        view is rewritten as one dir (an ``overwrite``). No-op when
        there is nothing to merge — every partition value in one path,
        or the view at most one dir — and ``partition_by`` is ``None``
        or the table's spec: returns the current snapshot id, rewrites
        nothing and commits nothing (a rewrite would only copy files).
        """
        cur = self._snapshot(table)
        spec = cur.summary.get("partition_by")
        col = _leaf_col(cur)
        if partition_by in (None, spec) and col is not None:
            by_value: dict[str, list[str]] = {}
            for p in cur.paths:
                for u in _leaves(p, col):
                    by_value.setdefault(os.path.basename(u), []).append(u)
            gone = [u for us in by_value.values() if len(us) > 1 for u in us]
            if not gone:
                return cur.snapshot_id
            snap_id = self._new_snap_id()
            data_dir = self._new_data_dir(table, snap_id)
            self._write_data(
                self._read_dirs(spark, gone, cur.summary.get("schema")),
                data_dir, spec)
            return self._swap_commit(table, cur, snap_id, "compact",
                                     set(gone), [data_dir],
                                     {"rewritten_leaves": len(gone)})
        if len(cur.paths) <= 1 and partition_by in (None, spec):
            return cur.snapshot_id
        return self.overwrite_table(self.read(spark, table), table,
                                    partition_by=partition_by)

    def partition_values(self, table: str, col: str,
                         snapshot_id: str | None = None) -> set[str] | None:
        """Hive ``col=`` values of a snapshot's leaves (default:
        current), read with ``os.listdir`` alone — no Spark job, no
        parquet footer. A NULL value shows as
        :data:`HIVE_NULL_PARTITION`. ``None`` unless the table spec
        is exactly ``[col]``: every dir is laid out in the spec, so
        then the names stand for every row of the view."""
        snap = self._snapshot(table, snapshot_id)
        if snap.summary.get("partition_by") != [col]:
            return None
        return {os.path.basename(u).split("=", 1)[1]
                for p in snap.paths for u in _leaves(p, col)}

    # ---------- reads ----------
    @staticmethod
    def _read_dirs(spark: SparkSession, paths: list[str],
                   schema_json: dict | None) -> DataFrame:
        """Union of per-commit-dir scans. One scan per commit dir: a
        multi-path ``spark.read.parquet()`` refuses partitionBy'd
        commit dirs ("multiple root directories") because hive-style
        partition discovery needs a single root per scan. Found by the
        catalog contract suite; Catalyst still prunes columns/filters
        into every branch of the union. The leaves a view names of one
        commit dir are one scan with the dir as ``basePath``, so they
        keep their partition column.

        When the snapshot recorded its schema (``schema_json``), the
        scan applies it explicitly — schema lives in table metadata,
        as in Iceberg, so (a) empty commits (even hive-partitioned
        ones, which write NO parquet footers) stay readable, and
        (b) older dirs null-fill columns added by later commits
        without per-file inference. Legacy manifests without a
        recorded schema fall back to inference + allowMissingColumns.
        An empty path list reads as the empty view.
        """
        if not paths:
            if schema_json is not None:
                return spark.createDataFrame(
                    [], schema=StructType.fromJson(schema_json))
            return spark.createDataFrame([], schema="dummy string").limit(0)

        def one(d: str, ps: list[str]) -> DataFrame:
            r = spark.read.option("mergeSchema", "false")
            if schema_json is not None:
                r = r.schema(StructType.fromJson(schema_json))
            if ps != [d]:
                r = r.option("basePath", d)
            return r.parquet(*ps)

        groups: dict[str, list[str]] = {}
        for p in paths:
            groups.setdefault(_commit_dir(p), []).append(p)
        scans = [one(d, ps) for d, ps in groups.items()]
        out = scans[0]
        for s in scans[1:]:
            out = out.unionByName(s, allowMissingColumns=True)
        return out

    def _snapshot(self, table: str,
                  snapshot_id: str | None = None) -> Snapshot:
        """Snapshot ``snapshot_id`` of ``table`` (default: current)."""
        snaps = self.snapshots(table)
        if not snaps:
            raise FileNotFoundError(f"no snapshots for table {table!r}")
        if snapshot_id is None:
            return snaps[-1]
        try:
            return next(s for s in snaps if s.snapshot_id == snapshot_id)
        except StopIteration:
            raise ValueError(
                f"snapshot {snapshot_id!r} not found for table "
                f"{table!r} (expired or never existed)"
            ) from None

    def read(self, spark: SparkSession, table: str,
             snapshot_id: str | None = None) -> DataFrame:
        snap = self._snapshot(table, snapshot_id)
        # Trade: the plan is one scan per commit dir the view still
        # reads, so a long-lived high-frequency append table wants
        # periodic compaction (:meth:`compact`, which the retention
        # and refresh jobs run). Iceberg plans any number of commits
        # in a single scan node from its manifest list, which is one
        # of the reasons the real deployment uses sources/iceberg.py.
        return self._read_dirs(spark, snap.paths,
                               snap.summary.get("schema"))

    def read_appended(self, spark: SparkSession, table: str,
                      since_snapshot_id: str | None,
                      until_snapshot_id: str | None = None) -> DataFrame:
        """Incremental read: ONLY the rows appended after
        ``since_snapshot_id`` up to ``until_snapshot_id`` (default:
        current). Iceberg's incremental scan
        (``start-snapshot-id``/``end-snapshot-id`` read options);
        ``since`` is EXCLUSIVE, matching Iceberg.

        ``since_snapshot_id=None`` reads the full ``until`` view (first
        refresh of a consumer). Raises ``ValueError`` if any snapshot
        in the range is not an append — an overwrite/delete rewrote
        history, so "rows added since" is undefined and the consumer
        must fall back to a full recompute (Iceberg's incremental scan
        refuses the same way).
        """
        until = self._snapshot(table, until_snapshot_id)
        if since_snapshot_id is None:
            return self._read_dirs(spark, until.paths,
                                   until.summary.get("schema"))
        since = self._snapshot(table, since_snapshot_id)
        snaps = self.snapshots(table)
        lo, hi = snaps.index(since), snaps.index(until)
        if hi < lo:
            raise ValueError(
                f"until snapshot {until.snapshot_id!r} predates since "
                f"snapshot {since.snapshot_id!r} for table {table!r}")
        rng = snaps[lo + 1: hi + 1]
        non_append = [s.snapshot_id for s in rng if s.operation != "append"]
        if non_append:
            raise ValueError(
                f"incremental read of table {table!r} is undefined: "
                f"snapshots {non_append} in ({since.snapshot_id!r}, "
                f"{until.snapshot_id!r}] are not appends — fall back to "
                "a full recompute from the current view")
        since_paths = set(since.paths)
        new_paths: list[str] = []
        for s in rng:
            for p in s.paths:
                if p not in since_paths and p not in new_paths:
                    new_paths.append(p)
        return self._read_dirs(spark, new_paths, until.summary.get("schema"))

    def exists(self, table: str) -> bool:
        return bool(self.snapshots(table))
