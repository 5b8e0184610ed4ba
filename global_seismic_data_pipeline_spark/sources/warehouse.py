"""Parquet-backed warehouse: named managed tables without a metastore.

Provides the reference's table surface (ref: saveAsTable/spark.table
everywhere, e.g. 02_ingestion.py:214-217, 03_bronze_processing.py:20) on a
plain directory of parquet tables, including the two semantics vanilla
parquet lacks:

- **atomic overwrite**: Spark writes the new table to a staging directory,
  then a directory rename swaps it in. Readers never observe a half-written
  table, and a mid-write crash leaves the old table intact (the staging dir
  is garbage, cleaned on the next write).
- **MERGE upsert** (ref: 04_silver_transformation.py:194-202
  ``WHEN MATCHED UPDATE SET * / WHEN NOT MATCHED INSERT *``): expressed as
  ``target ANTI-JOIN updates  UNION ALL  updates`` + atomic overwrite —
  update-wins semantics, idempotent under re-runs.

Scale notes (100 TB): the anti-join shuffles both sides on the merge key —
same cost class as Delta's inner-join + file rewrite, but rewrites the whole
table instead of touched files only. At cluster scale you'd bound the rewrite
by partitioning the table (e.g. by event month) and merging only partitions
that contain update keys; ``merge`` takes ``prune_partition_col`` to do
exactly that when the table is directory-partitioned.

Reads: ``spark.read.load(path)`` launches one schema-inference job per
call, even for a table that has not changed — on a dashboard page that is
9 of its 22–23 jobs. Each ``Warehouse`` therefore remembers, per table, the
schema it last inferred together with a fingerprint of what inference
depends on: the sorted ``(relative path, size, mtime_ns)`` of every file
under the table directory (summary files included — parquet inference
reads ``_metadata``/``_common_metadata`` when present) and the session
confs that change what inference returns (``_SCHEMA_CONFS``). On a
match the read passes the remembered schema to ``spark.read.schema(...)``;
Spark still lists the files fresh, so a read never sees a stale file list,
and the file set is taken again after the load so that a write landing
mid-read falls back to inference. The memo cannot go stale without hooks
in the write paths: every writer — this instance, another ``Warehouse`` on
the same root, or raw Spark — adds, removes or replaces files, which
changes the fingerprint and forces a fresh inference. The same files under the same confs give the same
inferred schema, so a hit only skips work whose result is already known.
The Delta and Iceberg backends override ``read`` and take the schema from
their logs, so they never infer and need no memo.

Layout: ``overwrite_clustered`` writes a table in the layout OPTIMIZE
gives it (``lay_out``: target-sized files, range-clustered and sorted on
the table's keys) and remembers the keys with the file set it left, so
``maintenance.compact`` can skip a table its last write already laid out.
The same fingerprint argument as the read memo keeps that safe: any later
writer changes the file set, and a changed file set rewrites.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# session confs whose value changes the schema that file-source inference
# returns for the same files (part of the read memo's fingerprint)
_SCHEMA_CONFS = (
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.caseSensitive",
    "spark.sql.session.timeZone",
)


# data-file size a clustered write aims for (OPTIMIZE's default target)
TARGET_FILE_MB = 128


def target_files(size_bytes: int, target_file_mb: int = TARGET_FILE_MB) -> int:
    """How many ~``target_file_mb`` files a table of ``size_bytes`` gets."""
    return max(1, size_bytes // (target_file_mb * 1024 * 1024))


def lay_out(df: DataFrame, keys: Sequence[str], n_files: int) -> DataFrame:
    """The physical layout of a clustered table, shared by OPTIMIZE
    (``maintenance.compact``) and every whole-table write of a clustered
    table: ``n_files`` files, range-clustered on ``keys`` across files and
    sorted on them inside each, so parquet min/max stats prune on the
    leading key. One file needs no range bounds: ``coalesce(1)`` plus the
    sort adds no exchange, where ``repartitionByRange(1, ...)`` would cost
    one more Spark job per write."""
    if n_files == 1:
        return df.coalesce(1).sortWithinPartitions(*keys)
    return df.repartitionByRange(n_files, *keys).sortWithinPartitions(*keys)


def _file_set(path: str) -> tuple:
    """Sorted (relative path, size, mtime_ns) of every file under ``path``
    — what schema inference reads, summary files included."""
    out = []
    for root_, _dirs, fnames in os.walk(path):
        for f in fnames:
            full = os.path.join(root_, f)
            try:
                st = os.stat(full)
            except FileNotFoundError:  # a concurrent writer moved it
                continue
            out.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


class Warehouse:
    """A directory of named parquet tables with atomic replacement."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        # set by merge() while a schema-evolving rewrite is in flight;
        # the lakehouse backends' commit paths consult it
        self._pending_merge_schema = False
        # table name -> (inference fingerprint, inferred schema); see read()
        self._schemas: dict[str, tuple[tuple, StructType]] = {}
        # table name -> (clustering keys, file set just after the
        # clustered write); see overwrite_clustered() / laid_out()
        self._layouts: dict[str, tuple[tuple[str, ...], tuple]] = {}
        os.makedirs(root, exist_ok=True)

    # -- paths ------------------------------------------------------------
    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        p = self.path(name)
        if not os.path.isdir(p):
            return False
        for _root, _dirs, files in os.walk(p):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def drop(self, name: str) -> None:
        if os.path.isdir(self.path(name)):
            shutil.rmtree(self.path(name))
        # a dropped table's constraints must not haunt a later CREATE
        cfile = self._constraints_file(name)
        if os.path.isfile(cfile):
            os.remove(cfile)
        # ...nor its COPY INTO ledger (a re-created table reloads fresh)
        lfile = self._copy_ledger_file(name)
        if os.path.isfile(lfile):
            os.remove(lfile)

    # -- COPY INTO (idempotent file-level batch ingest) ---------------------
    def _copy_ledger_file(self, name: str) -> str:
        return os.path.join(self.root, f"_copy_into_{name}.json")

    def copy_into(
        self,
        name: str,
        src: str,
        *,
        fmt: str = "parquet",
        pattern: str | None = None,
        force: bool = False,
    ) -> dict[str, int]:
        """Idempotent FILE-LEVEL batch ingest (Delta's ``COPY INTO``):
        load the source directory's data files into the table, skipping
        every file a previous COPY INTO into this table already loaded —
        re-running after new files land ingests exactly the delta;
        re-running unchanged is a no-op. Per Delta's contract the
        skip keys on the file PATH (a modified already-loaded file stays
        skipped; ``force=True`` reloads everything). The ledger write is
        atomic (tmp + rename) and lands AFTER the data commit, so a
        crash in between re-loads at most the in-flight batch on the
        next run — never silently skips unloaded files.

        Scale shape: the file listing is driver-side metadata work; the
        load itself is ONE distributed columnar read of only the new
        files — a daily re-run over a 100 TB landing zone reads the new
        day, never the zone."""
        import glob as _glob
        import json as _json

        pat = pattern or f"*.{fmt}"
        paths = sorted(
            p
            for p in _glob.glob(
                os.path.join(src, "**", pat), recursive=True
            )
            if os.path.isfile(p)
        )
        if not paths and not os.path.isdir(src) and os.path.isfile(src):
            paths = [src]  # FROM '<one file>'
        ledger_path = self._copy_ledger_file(name)
        loaded: list[str] = []
        if os.path.isfile(ledger_path):
            with open(ledger_path) as fh:
                loaded = _json.load(fh)
        seen = set(loaded)
        todo = list(paths) if force else [p for p in paths if p not in seen]
        if not todo:
            return {"files_loaded": 0, "rows_loaded": 0}
        df = self.spark.read.format(fmt).load(todo)
        n = df.count()
        self.append(df, name)
        new_loaded = loaded + [p for p in todo if p not in seen]
        tmp = ledger_path + ".tmp"
        with open(tmp, "w") as fh:
            _json.dump(new_loaded, fh)
        os.replace(tmp, ledger_path)
        return {"files_loaded": len(todo), "rows_loaded": n}

    # -- read / write -----------------------------------------------------
    def read(self, name: str) -> DataFrame:
        """The table as a DataFrame. Skips schema inference (one Spark
        job) when the table's files and the inference confs match the
        last inference this instance made (module docstring, "Reads")."""
        path = self.path(name)
        files = _file_set(path)
        key = (files, tuple(self.spark.conf.get(k) for k in _SCHEMA_CONFS))
        memo = self._schemas.get(name)
        if memo is not None and memo[0] == key:
            df = self.spark.read.schema(memo[1]).parquet(path)
            # Spark listed the files inside load(); unchanged on both
            # sides of it means it listed exactly the fingerprinted set
            if _file_set(path) == files:
                return df
        df = self.spark.read.parquet(path)
        self._schemas[name] = (key, df.schema)
        return df

    def append(
        self, df: DataFrame, name: str, partition_by: Sequence[str] = ()
    ) -> None:
        """Append-only write (bronze semantics, ref: 02_ingestion.py:214-217).

        STAGED: the batch is written to a private staging directory, then
        its data files rename into the table (same filesystem — atomic
        per-file moves; Spark part names embed a per-job UUID, so names
        never collide). A direct ``mode("append")`` into the table would
        share Hadoop's ``_temporary/0`` committer scratch across
        concurrent jobs — one writer's commit deletes the other's attempt
        directory mid-flight (observed as a chmod-on-vanished-path task
        failure). With staging, concurrent appends from one session or
        many are safe, existing files are never touched, and readers stay
        consistent per-file."""
        if not partition_by and self.exists(name):
            # same auto-fill as overwrite(): a flat append into a hive-
            # partitioned table writes files partition discovery DROPS —
            # silent row loss (caught by the façade INSERT test)
            partition_by = self.partition_columns(name)
        staging = os.path.join(self.root, f".staging-{name}-{uuid.uuid4().hex}")
        df, obs, cons = self._observe_constraints(df, name)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(staging)
        self._abort_staging_if_violated(obs, cons, staging)
        final = self.path(name)
        os.makedirs(final, exist_ok=True)
        for root_, _dirs, files in os.walk(staging):
            rel = os.path.relpath(root_, staging)
            for f in files:
                if not f.endswith(".parquet"):
                    continue  # _SUCCESS markers stay behind
                dst_dir = final if rel == "." else os.path.join(final, rel)
                os.makedirs(dst_dir, exist_ok=True)
                os.rename(os.path.join(root_, f), os.path.join(dst_dir, f))
        shutil.rmtree(staging)

    def overwrite(
        self, df: DataFrame, name: str, partition_by: Sequence[str] = ()
    ) -> None:
        """Atomic full replace (gold semantics, ref: 05_gold_aggregation.py:79).

        The plan is fully executed into a staging dir before the swap, so
        ``df`` may be derived from the current contents of ``name``.

        An existing table's hive partition layout is preserved by default
        (flattening it would corrupt later partition-pruned merges); pass
        ``partition_by`` explicitly to change the layout.
        """
        if not partition_by and self.exists(name):
            partition_by = self.partition_columns(name)
        final = self.path(name)
        staging = os.path.join(self.root, f".staging-{name}-{uuid.uuid4().hex}")
        trash = os.path.join(self.root, f".trash-{name}-{uuid.uuid4().hex}")
        df, obs, cons = self._observe_constraints(df, name)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(staging)
        self._abort_staging_if_violated(obs, cons, staging)
        if os.path.isdir(final):
            os.rename(final, trash)
        os.rename(staging, final)
        if os.path.isdir(trash):
            shutil.rmtree(trash)

    def overwrite_clustered(
        self,
        df: DataFrame,
        name: str,
        keys: Sequence[str],
        *,
        partition_by: Sequence[str] = (),
        target_file_mb: int = TARGET_FILE_MB,
    ) -> None:
        """``overwrite`` in the layout OPTIMIZE gives a table clustered on
        ``keys`` (``lay_out``): max(1, size // target) files, sized from
        the table being replaced. Remembers the keys and the file set the
        write left, so ``maintenance.compact`` on the same keys can skip
        the table until any writer changes it (``laid_out``). No ``keys``
        is a plain ``overwrite``."""
        if not keys:
            self.overwrite(df, name, partition_by=partition_by)
            return
        size = self.table_stats(name)["size_bytes"] if self.exists(name) else 0
        n_files = target_files(size, target_file_mb)
        self.overwrite(lay_out(df, keys, n_files), name, partition_by=partition_by)
        self._layouts[name] = (tuple(keys), _file_set(self.path(name)))

    def laid_out(self, name: str, keys: Sequence[str]) -> bool:
        """True when this instance's last ``overwrite_clustered`` of
        ``name`` used ``keys`` and no file under the table has changed
        since. An append, a pruned merge, another instance's write or a
        raw Spark write all change the file set, so this never vouches
        for files it did not lay out."""
        memo = self._layouts.get(name)
        return (
            memo is not None
            and memo[0] == tuple(keys)
            and memo[1] == _file_set(self.path(name))
        )

    # -- MERGE ------------------------------------------------------------
    def overwrite_dynamic(self, df: DataFrame, name: str) -> dict[str, int]:
        """Dynamic partition overwrite (Spark's
        ``partitionOverwriteMode=dynamic`` / Iceberg's
        ``overwritePartitions``): replace exactly the partitions PRESENT
        IN THE BATCH; every other partition survives untouched —
        reprocessing one day of a 100 TB table swaps one day's
        directories. Unpartitioned tables degrade to the plain atomic
        overwrite. The touched set is the staged write's own directory
        layout (no hive-escape reimplementation), each partition dir
        swaps whole; a crash between swaps leaves a replaced prefix and
        re-running the same batch is idempotent — the same contract as
        the partition-pruned MERGE."""
        pcols = (
            self.partition_columns(name) if self.exists(name) else []
        )
        if not pcols:
            self.overwrite(df, name)
            return {"partitions_replaced": 0}
        df, obs, cons = self._observe_constraints(df, name)
        staging = os.path.join(
            self.root, f".staging-{name}-{uuid.uuid4().hex}"
        )
        df.write.mode("overwrite").partitionBy(*pcols).parquet(staging)
        self._abort_staging_if_violated(obs, cons, staging)
        final = self.path(name)
        leaves = [
            root_
            for root_, _dirs, files in os.walk(staging)
            if any(f.endswith(".parquet") for f in files)
        ]
        # rename-to-trash, never rmtree-then-rename: a crash mid-swap
        # must leave every partition's data in EITHER the table or the
        # trash dir — recoverable, not deleted (same discipline as
        # overwrite()'s whole-table swap)
        trash = staging + ".trash"
        for i, root_ in enumerate(leaves):
            rel = os.path.relpath(root_, staging)
            dst = os.path.join(final, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            if os.path.isdir(dst):
                tr = os.path.join(trash, str(i))
                os.makedirs(trash, exist_ok=True)
                os.rename(dst, tr)
            os.rename(root_, dst)
        shutil.rmtree(trash, ignore_errors=True)
        shutil.rmtree(staging, ignore_errors=True)
        return {"partitions_replaced": len(leaves)}

    def show_partitions(self, name: str) -> DataFrame:
        """Partition inventory (Spark's ``SHOW PARTITIONS``), METADATA
        ONLY — the hive directory names here, the log's partitionValues
        on the Delta backend, the manifests on Iceberg; no data file
        opens at any size. One row per partition: the spec string
        (``a=1/b=x``) plus its data-file count. Unpartitioned tables
        return zero rows."""
        pcols = self.partition_columns(name)
        if not pcols:
            return self.spark.createDataFrame(
                [], "partition string, num_files long"
            )
        counts: dict[str, int] = {}
        base = self.path(name)
        for root_, _dirs, files in os.walk(base):
            n = sum(1 for f in files if f.endswith(".parquet"))
            if not n:
                continue
            rel = os.path.relpath(root_, base)
            counts[rel] = counts.get(rel, 0) + n
        from .. import session as _session

        return _session.tiny_df(
            self.spark,
            sorted(counts.items()),
            "partition string, num_files long",
        )

    def _merge_read_target(self, name: str) -> DataFrame:
        """The target frame MERGE rewrites against — a hook so a backend
        can attach carry-through columns (the Delta backend reads row
        ids here when rowTracking is enabled)."""
        return self.read(name)

    # True on backends whose metadata separates schema from files, so a
    # PRUNED (partial) rewrite may carry a widened schema while untouched
    # files keep the old one and read the new columns as NULL. The plain
    # backend would leave mixed-schema parquet behind a schema-inferring
    # reader — refuse there.
    _evolves_partial_rewrites = False

    def merge(
        self,
        updates: DataFrame,
        name: str,
        keys: Sequence[str],
        *,
        prune_partition_col: str | None = None,
        merge_schema: bool = False,
        cluster_by: Sequence[str] = (),
    ) -> None:
        """Upsert: matched target rows are replaced by update rows, unmatched
        update rows are inserted (ref MERGE, 04_silver_transformation.py:196-202).

        ``updates`` must be key-unique (the silver flow dedups upstream).
        First call creates the table (ref: 04_silver_transformation.py:204-205).

        With ``prune_partition_col`` (a column of both sides; the table is
        stored directory-partitioned by it) only the partitions containing
        update rows are read, merged, and swapped — at 100 TB this bounds
        the rewrite to the touched slice (e.g. event month) instead of the
        whole table, the same file-pruning idea as Delta's MERGE. Each
        partition swap is atomic; a crash between swaps leaves a prefix
        updated, and re-running the same merge is a no-op for them
        (idempotent by keys).

        A source carrying columns the table lacks REFUSES by default (the
        alternative — ``.select(*target.columns)`` — would silently drop
        them). ``merge_schema=True`` evolves instead (Delta
        ``withSchemaEvolution``): the new columns enter the table schema
        in the same commit, surviving target rows backfill NULL.

        ``cluster_by`` writes the table in its OPTIMIZE layout wherever
        the merge replaces it whole — the unpartitioned create and the
        unpruned rewrite (``overwrite_clustered``); with
        ``prune_partition_col`` the table keeps its partition layout.
        """
        pcol = prune_partition_col
        if not self.exists(name):
            if pcol:
                self.overwrite(updates, name, partition_by=[pcol])
            else:
                self.overwrite_clustered(updates, name, cluster_by)
            return
        target = self._merge_read_target(name)
        # case-INSENSITIVE drift detection: Spark resolves column
        # references case-insensitively, so 'Depth_KM' vs table
        # 'depth_km' is the same column — treating it as new would
        # refuse falsely (or, evolving, mint a case-duplicate field
        # that makes every later read ambiguous)
        tset = {c.lower() for c in target.columns}
        new_cols = [c for c in updates.columns if c.lower() not in tset]
        if new_cols and not merge_schema:
            raise ValueError(
                f"MERGE source carries columns {new_cols} the table "
                f"{name!r} lacks — pass merge_schema=True to evolve "
                "(new columns append, existing rows read NULL); refusing "
                "to silently drop them"
            )
        if new_cols and pcol is not None and not self._evolves_partial_rewrites:
            raise ValueError(
                f"pruned MERGE with schema evolution ({new_cols}) on the "
                "plain backend would leave mixed-schema parquet files — "
                "use the delta/iceberg backend or merge without "
                "prune_partition_col"
            )
        for c in new_cols:
            target = target.withColumn(
                c, F.lit(None).cast(updates.schema[c].dataType)
            )
        self._pending_merge_schema = bool(new_cols)
        try:
            if pcol is None:
                kept = target.join(
                    updates.select(*keys), on=list(keys), how="left_anti"
                )
                merged = kept.unionByName(updates.select(*target.columns))
                self.overwrite_clustered(merged, name, cluster_by)
                return

            # compare partition values in string form: hive-style directory
            # reads type-infer the partition column (e.g. "2025" → int), and a
            # typed isin against differently-typed literals silently mismatches.
            # NULL partition values map to hive's default-partition sentinel so
            # isin / movers logic is null-safe (plain isin never matches NULL).
            null_dir = "__HIVE_DEFAULT_PARTITION__"
            pstr = F.coalesce(F.col(pcol).cast("string"), F.lit(null_dir))
            touched = [r[0] for r in updates.select(pstr).distinct().collect()]
            # a key may have MOVED partitions (e.g. a revised event time crosses
            # a year boundary): find update keys living in untouched partitions
            # via a column-pruned scan of (pcol, keys) only — cheap on parquet —
            # and pull those partitions into the rewrite so the old copy dies
            movers = (
                target.filter(~pstr.isin(touched))
                .select(pstr.alias("__p"), *keys)
                .join(updates.select(*keys), on=list(keys), how="inner")
                .select("__p")
                .distinct()
                .collect()
            )
            touched = touched + [r[0] for r in movers]
            pruned = target.filter(pstr.isin(touched))
            kept = pruned.join(
                updates.select(*keys), on=list(keys), how="left_anti"
            )
            merged = kept.unionByName(updates.select(*target.columns))
            self._rewrite_partitions(name, pcol, merged, touched)
        finally:
            self._pending_merge_schema = False

    def _rewrite_partitions(
        self, name: str, pcol: str, merged: DataFrame, touched: Sequence
    ) -> None:
        """Replace exactly the ``touched`` partitions (string-form values
        of ``pcol``) of ``name`` with ``merged``'s rows: stage the write,
        atomically swap each staged directory in, and remove touched
        directories that staged EMPTY (all their rows gone). Untouched
        partition directories — and their files — are never opened or
        replaced. The partition-bounded rewrite primitive behind pruned
        MERGE / UPDATE / DELETE."""
        staging = os.path.join(self.root, f".staging-{name}-{uuid.uuid4().hex}")
        merged, obs, cons = self._observe_constraints(merged, name)
        merged.write.mode("overwrite").partitionBy(pcol).parquet(staging)
        self._abort_staging_if_violated(obs, cons, staging)
        final = self.path(name)
        swapped = set()
        for d in os.listdir(staging):
            if not d.startswith(f"{pcol}="):
                continue
            trash = os.path.join(self.root, f".trash-{name}-{uuid.uuid4().hex}")
            dst = os.path.join(final, d)
            if os.path.isdir(dst):
                os.rename(dst, trash)
            os.rename(os.path.join(staging, d), dst)
            swapped.add(d)
            if os.path.isdir(trash):
                shutil.rmtree(trash)
        shutil.rmtree(staging)
        # a touched partition with NO staged dir ended up empty (its only
        # rows moved elsewhere or were all deleted) — its directory goes too
        from urllib.parse import unquote

        touched_set = {str(v) for v in touched}
        for d in os.listdir(final):
            if not d.startswith(f"{pcol}=") or d in swapped:
                continue
            if unquote(d.split("=", 1)[1]) in touched_set:
                shutil.rmtree(os.path.join(final, d))

    # -- persistent CHECK constraints -------------------------------------
    #
    # Delta's ALTER TABLE … ADD CONSTRAINT … CHECK, persisted beside the
    # data (one JSON per table under .constraints/) and enforced on EVERY
    # staged write path (append / overwrite / partition rewrite) with
    # ZERO extra passes: the violation counts ride the staging write as
    # an Observation, and a violated batch aborts BEFORE the publish
    # step — the table never sees a row that fails a constraint.

    def _constraints_file(self, name: str) -> str:
        return os.path.join(self.root, ".constraints", f"{name}.json")

    def _sidecar_constraints(self, name: str) -> dict[str, str]:
        """The constraints stored in THIS warehouse's sidecar file only —
        mutation paths operate on this, because ``constraints()`` may be
        overridden to merge in externally-declared sets (the Delta
        backend merges the log's delta.constraints.*)."""
        p = self._constraints_file(name)
        if not os.path.isfile(p):
            return {}
        with open(p) as fh:
            return json.load(fh)

    def constraints(self, name: str) -> dict[str, str]:
        """The table's persistent CHECK constraints, {name: boolean SQL}."""
        return self._sidecar_constraints(name)

    def add_constraint(self, name: str, cname: str, expr: str) -> None:
        """Persist a CHECK constraint (Delta ALTER TABLE ADD CONSTRAINT):
        existing rows must already satisfy it (validated in one aggregate
        pass, like Delta), and every later write through this warehouse
        enforces it at the staging boundary."""
        if cname in self.constraints(name):
            raise ValueError(f"{name}: constraint {cname!r} already exists")
        cons = self._sidecar_constraints(name)
        if self.exists(name):
            enforce_constraints(self.read(name), {cname: expr})
        cons[cname] = expr
        os.makedirs(os.path.dirname(self._constraints_file(name)), exist_ok=True)
        tmp = self._constraints_file(name) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(cons, fh)
        os.replace(tmp, self._constraints_file(name))

    def drop_constraint(self, name: str, cname: str) -> bool:
        cons = self._sidecar_constraints(name)
        if cname not in cons:
            return False
        del cons[cname]
        if cons:
            tmp = self._constraints_file(name) + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(cons, fh)
            os.replace(tmp, self._constraints_file(name))
        else:
            os.remove(self._constraints_file(name))
        return True

    # ------------------------------------------------------------------
    # column evolution (ALTER TABLE ADD/RENAME/DROP COLUMN)
    #
    # The plain parquet backend has no table metadata separating logical
    # from physical column names — every file IS the schema. Any column
    # change therefore means rewriting all data, which a metadata-shaped
    # verb must never do silently; the lakehouse backends (Delta column
    # mapping / Iceberg field ids) override these with metadata-only
    # commits.

    def _ddl_type(self, type_str: str):
        """Parse a DDL type string (``bigint``, ``decimal(12,2)``,
        ``array<string>``) into a Spark DataType via the engine's own
        parser — the single source of type-name truth. Refuses a string
        that parses as MORE than one field ("int, b string") — taking
        field[0] would silently drop the rest."""
        st = StructType.fromDDL(f"__c {type_str}")
        if len(st.fields) != 1:
            raise ValueError(
                f"expected ONE column type, got {type_str!r} (parses as "
                f"{len(st.fields)} fields)"
            )
        return st.fields[0].dataType

    def add_column(self, name: str, column: str, type_str: str) -> None:
        raise ValueError(
            f"ADD COLUMN on {name!r}: the plain parquet backend stores "
            "no table schema — adding a column would require rewriting "
            "every file; use the delta/iceberg backend"
        )

    def add_columns(
        self, name: str, entries: Sequence[tuple[str, str]]
    ) -> None:
        raise ValueError(
            f"ADD COLUMNS on {name!r}: the plain parquet backend stores "
            "no table schema — adding columns would require rewriting "
            "every file; use the delta/iceberg backend"
        )

    def rename_column(self, name: str, old: str, new: str) -> None:
        raise ValueError(
            f"RENAME COLUMN on {name!r}: files are keyed by column name "
            "on the plain backend — a rename would require rewriting "
            "every file; use the delta/iceberg backend"
        )

    def drop_column(self, name: str, column: str) -> None:
        raise ValueError(
            f"DROP COLUMN on {name!r}: the plain backend cannot drop a "
            "column without rewriting every file (and a later same-name "
            "re-add would resurrect old values); use the delta/iceberg "
            "backend"
        )

    def widen_column(self, name: str, column: str, type_str: str) -> None:
        raise ValueError(
            f"ALTER COLUMN TYPE on {name!r}: the plain parquet backend "
            "stores no table schema to widen against — use the "
            "delta/iceberg backend"
        )

    def enable_column_mapping(self, name: str) -> int:
        raise ValueError(
            f"column mapping on {name!r} is a delta-backend feature "
            "(Iceberg renames are metadata-only already; plain parquet "
            "has no table metadata to map through)"
        )

    def set_table_properties(self, name: str, props: dict[str, str]) -> None:
        raise ValueError(
            f"SET TBLPROPERTIES on {name!r}: the plain parquet backend "
            "has no table metadata store; use the delta/iceberg backend"
        )

    def _observe_constraints(self, df: DataFrame, name: str):
        """(observed df, observation, constraints) — or (df, None, None)
        when the table has no constraints (the common case costs one
        os.path check, no Spark work)."""
        cons = self.constraints(name)
        if not cons:
            return df, None, None
        from pyspark.sql import Observation

        obs = Observation()
        observed = df.observe(
            obs,
            *[
                F.sum(
                    (~F.coalesce(F.expr(expr), F.lit(True))).cast("long")
                ).alias(cname)
                for cname, expr in cons.items()
            ],
        )
        return observed, obs, cons

    def _abort_staging_if_violated(self, obs, cons, staging: str) -> None:
        if obs is None:
            return
        row = obs.get
        bad = {n: int(row[n]) for n in cons if row[n]}
        if bad:
            shutil.rmtree(staging, ignore_errors=True)
            raise ConstraintViolation(bad)

    # -- bucketing --------------------------------------------------------
    def save_bucketed(
        self,
        df: DataFrame,
        name: str,
        bucket_cols: Sequence[str],
        *,
        num_buckets: int = 8,
        sort_cols: Sequence[str] | None = None,
    ) -> DataFrame:
        """Write ``name`` hash-bucketed on ``bucket_cols`` (catalog-backed;
        files live under the warehouse root as an external table).

        Two tables bucketed on the same keys with the same bucket count
        join WITHOUT a shuffle — Spark reads matching buckets pairwise
        (SortMergeJoin with no Exchange; ``sort_cols`` also drops the
        per-task Sort). This is the co-located-join path for repeated big
        joins at 100 TB: pay one shuffle at write time, none per query.
        Unlike the plain tables, bucketed tables go through
        ``saveAsTable`` (bucket metadata needs the session catalog).

        The batch is repartitioned on the bucket columns first:
        ``repartition(num_buckets, cols)`` uses the SAME HashPartitioning
        expression that assigns bucket ids, so every write task holds
        exactly one bucket and the table lands as ONE file per bucket.
        Without it each input partition emits a file per bucket it
        touches — measured 512 files for a 16-bucket table written from
        32 scan partitions, and every probe pays the per-file open cost
        (guide: small files hurt twice). num_buckets is the scale knob:
        size it to the cluster so the one-shuffle write is parallel
        enough AND files land in the 128 MB–1 GB band.
        """
        self.spark.sql(f"DROP TABLE IF EXISTS {name}")
        self.drop(name)
        writer = (
            df.repartition(num_buckets, *[F.col(c) for c in bucket_cols])
            .write.mode("overwrite")
            .format("parquet")
            .option("path", self.path(name))
            .bucketBy(num_buckets, *bucket_cols)
        )
        if sort_cols:
            writer = writer.sortBy(*sort_cols)
        writer.saveAsTable(name)
        return self.spark.table(name)

    def append_bucketed(
        self,
        df: DataFrame,
        name: str,
        bucket_cols: Sequence[str],
        *,
        num_buckets: int = 8,
        sort_cols: Sequence[str] | None = None,
    ) -> DataFrame:
        """Append to a table created by :meth:`save_bucketed` with the SAME
        bucket spec. Each append writes its own bucketed file set (one more
        file per bucket — compact periodically via maintenance), and the
        table keeps its shuffle-free join property: this is the
        incremental-index write path (a daily batch adds its signatures
        without rewriting the corpus index). Same bucket-aligned
        repartition as :meth:`save_bucketed`, so each append adds exactly
        one file per bucket instead of one per (task × bucket)."""
        writer = (
            df.repartition(num_buckets, *[F.col(c) for c in bucket_cols])
            .write.mode("append")
            .format("parquet")
            .option("path", self.path(name))
            .bucketBy(num_buckets, *bucket_cols)
        )
        if sort_cols:
            writer = writer.sortBy(*sort_cols)
        writer.saveAsTable(name)
        return self.spark.table(name)

    # -- SQL surface ------------------------------------------------------
    def register_views(self, names: Sequence[str] | None = None) -> list[str]:
        """Register every table as a temp view so spark.sql sees the same
        names the reference's SQL uses (SURVEY.md §3 E3)."""
        if names is None:
            names = [
                d
                for d in sorted(os.listdir(self.root))
                if not d.startswith(".") and self.exists(d)
            ]
        for n in names:
            self.read(n).createOrReplaceTempView(n)
        return list(names)

    def table_stats(self, name: str) -> dict[str, int]:
        """File count + total bytes (ref: DESCRIBE DETAIL,
        TABLE OPTIMIZATION.py:24-26) from the filesystem directly
        (recursive — partitioned tables keep files under key=value dirs)."""
        files = []
        for root_, _dirs, fnames in os.walk(self.path(name)):
            files += [os.path.join(root_, f) for f in fnames if f.endswith(".parquet")]
        return {
            "num_files": len(files),
            "size_bytes": sum(os.path.getsize(f) for f in files),
        }

    def partition_columns(self, name: str) -> list[str]:
        """Directory-partition columns of ``name`` (outermost first), from
        the key=value directory layout; [] for flat tables."""
        cols: list[str] = []
        p = self.path(name)
        while True:
            sub = [
                d for d in os.listdir(p)
                if "=" in d and os.path.isdir(os.path.join(p, d))
            ]
            if not sub:
                return cols
            cols.append(sub[0].split("=", 1)[0])
            p = os.path.join(p, sub[0])


def overwrite_counted(
    wh: Warehouse, df: DataFrame, name: str, cluster_by: Sequence[str] = ()
) -> int:
    """``wh.overwrite_clustered(df, name, cluster_by)`` returning the rows
    written, counted by an ``Observation`` that rides the write — no
    read-back count job."""
    from pyspark.sql import Observation

    obs = Observation()
    wh.overwrite_clustered(
        df.observe(obs, F.count(F.lit(1)).alias("n")), name, cluster_by
    )
    return obs.get["n"]


class ConstraintViolation(ValueError):
    """Raised by :func:`enforce_constraints`; carries per-constraint
    violation counts in ``violations``."""

    def __init__(self, violations: dict[str, int]):
        self.violations = violations
        super().__init__(
            "CHECK constraint violation: "
            + ", ".join(f"{k}={v} rows" for k, v in violations.items())
        )


def enforce_constraints(df: DataFrame, constraints: dict[str, str]) -> DataFrame:
    """Delta CHECK-constraint analogue at the write boundary: evaluate
    every named boolean SQL expression over ``df`` in ONE aggregate pass
    and raise :class:`ConstraintViolation` (with per-constraint counts)
    if any row makes any expression strictly FALSE — SQL CHECK
    semantics: NULL passes, only FALSE violates. Returns ``df`` for
    fluent chaining::

        wh.append(enforce_constraints(df, {"mag_range": "mag BETWEEN 0 AND 10"}), "t")

    One job, map-side-combined counts — the validation never rescans per
    constraint. Validation-as-filter (quarantine instead of abort) stays
    in ``functions/cleaning.py``; this is the ABORT path a warehouse
    table contract wants."""
    if not constraints:
        raise ValueError("no constraints given")
    aggs = [
        F.sum(
            (~F.coalesce(F.expr(expr), F.lit(True))).cast("long")
        ).alias(name)
        for name, expr in constraints.items()
    ]
    row = df.agg(*aggs).collect()[0]
    bad = {n: int(row[n]) for n in constraints if row[n]}
    if bad:
        raise ConstraintViolation(bad)
    return df
