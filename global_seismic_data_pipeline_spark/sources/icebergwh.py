"""Warehouse API over Apache Iceberg tables — the medallion round-trip
through the SECOND open lakehouse format.

``DeltaLogWarehouse`` (sources/deltawh.py) gives the reference's
bronze-append / silver-MERGE / gold-overwrite storage contract (ref:
02_ingestion.py:214-217, 04_silver_transformation.py:196-202,
05_gold_aggregation.py:79) on real ``_delta_log`` tables; this module
gives the same contract on real Iceberg tables (sources/iceberg.py —
metadata JSON + Avro manifests + v2 sequence numbers), so a user whose
catalog is Iceberg can run the whole pipeline against it:

- **append** → an ``append`` snapshot (new manifest carried alongside
  the prior ones — O(Δ) tail consumers see exactly the new files);
- **overwrite** → an ``overwrite`` snapshot referencing only the new
  manifest (old snapshots stay time-travelable);
- **merge** → update-wins upsert; with ``prune_partition_col`` the
  rewrite is FILE-LEVEL pruned through the manifests' partition values:
  untouched partitions' data files are carried into the new snapshot
  verbatim — never opened, never moved (the Delta backend's pruned
  MERGE, realized with Iceberg metadata);
- **CHECK constraints** ride the staging write as an Observation and a
  violating batch never publishes a snapshot (the staged data files are
  unlinked) — the same commit-boundary contract as every other backend;
- time travel / history / tail delegate to the IcebergTable reader.

Scale notes (100 TB): manifests are driver-side metadata (the point of
the format); data moves only through distributed Spark writes. Pruned
MERGE reads (pcol, keys)-projected untouched files once to find movers,
identical to the base warehouse's column-pruned mover scan.

Publication is OCC: ``_publish`` claims ``vN.metadata.json``
put-if-absent; a lost race recomputes the metadata against the winner's
state and republishes THE SAME staged data files (no re-write).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame

from . import iceberg as ib
from .warehouse import Warehouse


class IcebergWarehouse(Warehouse):
    """Named Iceberg tables under one root, with the Warehouse API."""

    _evolves_partial_rewrites = True

    # -- existence is a METADATA property ----------------------------------
    def _is_table(self, name: str) -> bool:
        return os.path.isdir(os.path.join(self.path(name), "metadata"))

    def exists(self, name: str) -> bool:
        if not self._is_table(name):
            return False
        t = ib.IcebergTable(self.spark, self.path(name))
        sid = t.current_snapshot_id()
        if sid is None or sid == -1:
            return False
        return bool(t.data_files())

    def table(self, name: str) -> ib.IcebergTable:
        return ib.IcebergTable(self.spark, self.path(name))

    # -- column evolution: metadata-only schema commits ---------------------
    def _require_table(self, name: str) -> str:
        if not self._is_table(name):
            raise ValueError(f"{name!r} is not an iceberg table")
        return self.path(name)

    def add_column(self, name: str, column: str, type_str: str) -> None:
        ib.alter_add_column(
            self.spark, self._require_table(name), column,
            self._ddl_type(type_str),
        )

    def add_columns(
        self, name: str, entries: Sequence[tuple[str, str]]
    ) -> None:
        # one metadata commit for the whole list — never half-applies
        ib.alter_add_columns(
            self.spark, self._require_table(name),
            [(c, self._ddl_type(t)) for c, t in entries],
        )

    def rename_column(self, name: str, old: str, new: str) -> None:
        ib.alter_rename_column(self.spark, self._require_table(name), old, new)

    def drop_column(self, name: str, column: str) -> None:
        ib.alter_drop_column(self.spark, self._require_table(name), column)

    def widen_column(self, name: str, column: str, type_str: str) -> None:
        ib.alter_widen_column(
            self.spark, self._require_table(name), column,
            self._ddl_type(type_str),
        )

    def set_table_properties(self, name: str, props: dict[str, str]) -> None:
        ib.set_properties(self.spark, self._require_table(name), props)

    # -- read / write -------------------------------------------------------
    def read(self, name: str, filters=None) -> DataFrame:
        """``filters`` (optional ``(col, op, value)`` conjunction)
        engages manifest/partition/column-bounds scan pruning — see
        ``IcebergTable.read``; the result always equals an unpruned
        read + filter."""
        return self.table(name).read(filters=filters)

    def append(
        self, df: DataFrame, name: str, partition_by: Sequence[str] = ()
    ) -> None:
        self._commit(df, name, carry_prior=True, operation="append",
                     partition_by=partition_by)

    def overwrite(
        self, df: DataFrame, name: str, partition_by: Sequence[str] = ()
    ) -> None:
        self._commit(df, name, carry_prior=False, operation="overwrite",
                     partition_by=partition_by)

    def _commit(
        self,
        df: DataFrame,
        name: str,
        *,
        carry_prior: bool,
        operation: str,
        partition_by: Sequence[str] = (),
        keep_files: list[dict] | None = None,
        max_retries: int = 20,
    ) -> None:
        """Stage → (CHECK constraints veto) → snapshot publish, with the
        same crash/OCC discipline as the Delta backend: the Observation
        rides the staging write (zero extra passes), a violating batch
        unlinks its staged files and never publishes, and a lost
        metadata race recomputes against the winner WITHOUT rewriting
        the staged data."""
        loc = self.path(name)
        df, obs, cons = self._observe_constraints(df, name)
        schema_json_override = None
        if self._is_table(name):
            t = self.table(name)
            if self._pending_merge_schema:
                # schema-evolving MERGE: new batch columns get the next
                # field ids in the SAME commit (type conflicts refuse
                # inside); files the rewrite kept read them as NULL
                schema_json_override = ib._evolved_schema_json(t, df.schema)
            else:
                ib._check_schema(t, df, operation)
                # the TABLE's schema json, not one regenerated
                # positionally from the batch: after ALTER TABLE the
                # field ids are no longer 1..n, and a positional rebuild
                # would commit ids the staged files (and every older
                # file) don't carry
                schema_json_override = t.schema_json()
            part_fields, fv = ib._table_write_shape(t)
            base = t.metadata
            field_ids = {
                f["name"]: f["id"] for f in schema_json_override["fields"]
            }
        else:
            part_fields = ib._parse_partition_by(list(partition_by), df.schema)
            fv = 2 if partition_by else 1
            base = None
            field_ids = {
                f.name: i for i, f in enumerate(df.schema.fields, start=1)
            }
        data_dir = os.path.join(loc, "data")
        os.makedirs(data_dir, exist_ok=True)
        next_id = max(
            (s["snapshot-id"] for s in (base or {}).get("snapshots", [])),
            default=0,
        ) + 1
        files = ib._stage_data_files(
            loc, df, part_fields, next_id, data_dir, field_ids=field_ids
        )
        # the staging write materialized the Observation
        if obs is not None:
            row = obs.get
            bad = {n: int(row[n]) for n in cons if row[n]}
            if bad:
                for f in files:
                    try:
                        os.remove(ib._strip_scheme(f["file_path"]))
                    except FileNotFoundError:
                        pass
                from .warehouse import ConstraintViolation

                raise ConstraintViolation(bad)
        schema_df = self.spark.createDataFrame([], df.schema)
        records = list(keep_files or []) + files
        for _attempt in range(max_retries):
            meta = ib._write_snapshot(
                loc, schema_df, base=base, carry_prior=carry_prior,
                operation=operation, part_fields=part_fields,
                format_version=fv, data_files=records,
                schema_json_override=schema_json_override,
                # records = carried keep_files + the staged batch; only
                # the batch counts as added in the snapshot summary
                fresh_adds=len(files),
            )
            try:
                ib._publish(loc, meta)
                return
            except ib.IcebergError:
                if keep_files is not None:
                    # the carried file set was computed against a state
                    # a concurrent commit just replaced — republishing it
                    # could resurrect or lose files; the merge must
                    # re-plan from the winner's snapshot
                    raise
                # plain append/overwrite: re-plan against the winner,
                # same staged files. The schema override must refresh
                # too — re-publishing the pre-race schema would point
                # current-schema-id back at it and silently revert a
                # concurrent ALTER's column. A winner whose schema the
                # batch no longer matches refuses (restage), same
                # contract as the Delta mapping-fingerprint gate.
                t2 = self.table(name)
                base = t2.metadata
                if self._pending_merge_schema:
                    schema_json_override = ib._evolved_schema_json(
                        t2, df.schema
                    )
                else:
                    ib._check_schema(t2, df, operation)
                    schema_json_override = t2.schema_json()
                # id-drift gate: the staged parquet files were STAMPED
                # with the pre-race field ids — if the winner's commit
                # (a drop+re-add, or a racing evolution that took "our"
                # next id) changed any staged column's id, publishing
                # would bind the files' ids to the WRONG columns
                # (silent data corruption under id resolution). Refuse
                # and make the caller restage.
                new_ids = {
                    f["name"]: f["id"]
                    for f in schema_json_override["fields"]
                }
                drifted = {
                    n: (i, new_ids.get(n))
                    for n, i in field_ids.items()
                    if new_ids.get(n) != i
                }
                if drifted:
                    raise ib.IcebergError(
                        f"field ids changed between staging and publish "
                        f"({drifted}) — the staged files' parquet field "
                        "ids no longer match the table; restage the "
                        "write"
                    )
        raise ib.IcebergError(
            f"lost the publish race {max_retries} times on {loc!r}"
        )

    # -- MERGE: file-level pruned rewrite through manifests ------------------
    def _rewrite_partitions(
        self, name: str, pcol: str, merged: DataFrame, touched: Sequence
    ) -> None:
        """Replace exactly the touched partitions in ONE ``overwrite``
        snapshot: untouched partitions' data-file RECORDS carry into the
        new manifest verbatim (never opened, never moved); only the
        merged slice writes. Requires the table to be identity-
        partitioned on ``pcol`` (how the Warehouse merge contract stores
        it)."""
        t = self.table(name)
        spec = t.partition_spec()
        if [
            (f["transform"], self._source_name(t, f)) for f in spec
        ] != [("identity", pcol)]:
            raise ib.IcebergError(
                f"pruned merge needs identity partitioning on {pcol!r}; "
                f"table spec is {spec}"
            )
        touched_set = {str(v) for v in touched}
        pname = spec[0]["name"]
        keep = [
            {k: v for k, v in f.items() if not k.startswith("_")}
            for f in t.data_files()
            if self._part_str(f["partition"].get(pname)) not in touched_set
        ]
        self._commit(
            merged, name, carry_prior=False, operation="overwrite",
            keep_files=keep,
        )

    def overwrite_dynamic(self, df: DataFrame, name: str) -> dict[str, int]:
        """Dynamic partition overwrite as ONE Iceberg snapshot (the real
        ``overwritePartitions``), COPY-ON-WRITE at the file level:
        untouched partitions' data-file RECORDS carry into the new
        manifest verbatim (never opened, never moved); touched
        partitions' files drop out of the live set — a metadata-only
        removal, so reprocessing one day of a 100 TB table costs the
        batch write alone. The touched set is the batch's TRANSFORMED
        partition tuples (bucket/truncate included), the same values
        the staging write lays out. Refuses on live row-level delete
        files (carried tombstones would need sequence re-scoping — run
        compact_data_files first) and across partition-spec evolution
        (old-spec files' tuples are under different fields — use
        overwrite_where with an explicit predicate)."""
        if not self._is_table(name):
            self.overwrite(df, name)
            return {"partitions_replaced": 0}
        t = self.table(name)
        part_fields, _fv = ib._table_write_shape(t)
        if not part_fields:
            self.overwrite(df, name)
            return {"partitions_replaced": 0}
        if t.delete_files():
            raise ib.IcebergError(
                "dynamic partition overwrite with live row-level delete "
                "files would need tombstone re-scoping — run "
                "compact_data_files first"
            )
        pnames = [pf["name"] for pf in part_fields]
        exprs = [
            ib._transform_expr(pf, df.schema).alias(pf["name"])
            for pf in part_fields
        ]
        touched = {
            tuple(self._canon_part(v) for v in r)
            for r in df.select(*exprs).distinct().collect()
        }
        files = t.data_files()
        # spec-EVOLUTION guard by spec id, not field names: a bucket
        # width / truncate length change keeps the field name, but the
        # old files' tuples were computed under the old transform —
        # comparing across transforms loses or duplicates rows
        cur_spec = t.metadata.get("default-spec-id", 0)
        if any(f.get("_spec_id", cur_spec) != cur_spec for f in files):
            raise ib.IcebergError(
                "dynamic partition overwrite across partition-spec "
                "evolution is ambiguous — use overwrite_where with an "
                "explicit predicate"
            )
        keep = [
            {k: v for k, v in f.items() if not k.startswith("_")}
            for f in files
            if tuple(
                self._canon_part((f.get("partition") or {}).get(n))
                for n in pnames
            ) not in touched
        ]
        self._commit(
            df, name, carry_prior=False, operation="overwrite",
            keep_files=keep,
        )
        return {"partitions_replaced": len(touched)}

    @staticmethod
    def _part_str(v) -> str:
        return "__HIVE_DEFAULT_PARTITION__" if v is None else str(v)

    @staticmethod
    def _canon_part(v) -> str:
        """Canonical string for a partition value that may arrive as
        the BATCH-side logical type (datetime.date from a collected
        identity-on-date transform) or the MANIFEST-side physical type
        (days-since-epoch int) — both map to the same key, like
        ``iceberg._part_eq``. NULL and '' share the hive default
        partition."""
        import datetime as dt

        if v is None or v == "":
            return "__HIVE_DEFAULT_PARTITION__"
        if isinstance(v, dt.datetime):
            epoch = dt.datetime(1970, 1, 1, tzinfo=v.tzinfo)
            return str(int((v - epoch).total_seconds() * 1_000_000))
        if isinstance(v, dt.date):
            return str((v - dt.date(1970, 1, 1)).days)
        return str(v)

    @staticmethod
    def _source_name(t: ib.IcebergTable, field: dict) -> str:
        return t._column_name(field["source-id"])

    def partition_columns(self, name: str) -> list[str]:
        if not self._is_table(name):
            return []
        t = self.table(name)
        return [
            self._source_name(t, f)
            for f in t.partition_spec()
            if f["transform"] == "identity"
        ]

    # -- time travel / history / maintenance --------------------------------
    def snapshots(self, name: str) -> list[int]:
        return [s["snapshot-id"] for s in self.table(name).snapshots()]

    def read_snapshot(self, name: str, snapshot_id: int) -> DataFrame:
        return self.table(name).read(snapshot_id=snapshot_id)

    def tail(self, name: str, after_snapshot_id: int | None, **kw):
        return self.table(name).tail(after_snapshot_id, **kw)

    def compact(self, name: str, **kw) -> dict:
        return ib.compact_data_files(self.spark, self.path(name), **kw)

    def expire_snapshots(self, name: str, **kw) -> dict:
        return ib.expire_snapshots(self.spark, self.path(name), **kw)

    def expire_metadata_versions(self, name: str, **kw) -> dict:
        return ib.expire_metadata_versions(self.path(name), **kw)

    def rewrite_manifests(self, name: str, **kw) -> dict:
        return ib.rewrite_manifests(self.spark, self.path(name), **kw)

    def rewrite_position_deletes(self, name: str) -> dict:
        return ib.rewrite_position_deletes(self.spark, self.path(name))

    def remove_orphan_files(self, name: str, **kw) -> dict:
        return ib.remove_orphan_files(self.spark, self.path(name), **kw)

    def changelog(self, name: str, **kw) -> DataFrame:
        """Row-level insert/delete feed between snapshots (Iceberg's
        create_changelog_view): from_snapshot_id/to_snapshot_id kwargs."""
        return ib.changelog(self.spark, self.path(name), **kw)

    def rollback_to_snapshot(self, name: str, snapshot_id: int) -> dict:
        """Undo bad commits: move main back to an ancestor snapshot
        (metadata-only; retracted commits stay time-travelable until
        expiry but leave main's lineage immediately)."""
        return ib.rollback_to_snapshot(
            self.spark, self.path(name), snapshot_id
        )

    def set_current_snapshot(self, name: str, snapshot_id: int) -> dict:
        return ib.set_current_snapshot(
            self.spark, self.path(name), snapshot_id
        )

    def update_partition_spec(self, name: str, partition_by) -> None:
        """ALTER TABLE ... partition-spec evolution: metadata-only —
        new writes lay out under the new spec, old files stay under
        theirs and keep pruning correctly."""
        ib.update_partition_spec(
            self.spark, self.path(name), partition_by
        )

    def show_partitions(self, name: str) -> DataFrame:
        """SHOW PARTITIONS from the MANIFESTS' partition records (live
        file set, current-spec field names) — the base dir walk would
        count snapshot-retained dead files."""
        if not self._is_table(name):
            return super().show_partitions(name)
        t = self.table(name)
        part_fields, _fv = ib._table_write_shape(t)
        if not part_fields:
            return self.spark.createDataFrame(
                [], "partition string, num_files long"
            )
        pnames = [pf["name"] for pf in part_fields]
        counts: dict[str, int] = {}
        for f in t.data_files():
            pv = f.get("partition") or {}
            spec = "/".join(
                f"{n}={self._part_str(pv.get(n))}" for n in pnames
            )
            counts[spec] = counts.get(spec, 0) + 1
        from .. import session as _session

        return _session.tiny_df(
            self.spark,
            sorted(counts.items()),
            "partition string, num_files long",
        )

    def metadata_table(self, name: str, kind: str) -> DataFrame:
        """The db.table.<kind> metadata surface (snapshots, history,
        refs, manifests, files, delete_files, partitions)."""
        return self.table(name).inspect(kind)

    def cherry_pick(self, name: str, snapshot_id: int) -> dict:
        return ib.cherry_pick(self.spark, self.path(name), snapshot_id)

    def create_ref(self, name: str, ref: str, **kw) -> dict:
        return ib.create_ref(self.spark, self.path(name), ref, **kw)

    def drop_ref(self, name: str, ref: str) -> dict:
        return ib.drop_ref(self.spark, self.path(name), ref)

    def append_to_ref(self, df: DataFrame, name: str, ref: str) -> None:
        """Stage rows on a branch (WAP write half); ``publish_ref``
        fast-forwards main once the audit passes."""
        ib.append(self.spark, self.path(name), df, to_ref=ref)

    def publish_ref(self, name: str, ref: str) -> dict:
        return ib.fast_forward(self.spark, self.path(name), "main", ref)

    def read_ref(self, name: str, ref: str) -> DataFrame:
        return self.table(name).read(ref=ref)

    def delete_where(self, name: str, condition: str, **kw) -> dict:
        return ib.delete_where(self.spark, self.path(name), condition, **kw)

    def upsert(self, df: DataFrame, name: str, keys: list, **kw) -> dict:
        """O(batch) MERGE: one equality-delete + data-append snapshot
        (``iceberg.upsert_by_keys``) — no existing file read or moved.
        The rewrite ``merge`` remains for v1 tables and bulk batches."""
        return ib.upsert_by_keys(self.spark, self.path(name), df, keys, **kw)

    def describe_detail(self, name: str) -> dict:
        """DESCRIBE DETAIL from the table metadata: the live data files
        of the current snapshot, whose id is the table's version."""
        return {
            "format": "iceberg",
            "location": self.path(name),
            **self.table_stats(name),
            "partition_columns": self.partition_columns(name),
            "version": self.table(name).current_snapshot_id(),
        }

    def table_stats(self, name: str) -> dict[str, int]:
        files = self.table(name).data_files()
        return {
            "num_files": len(files),
            "size_bytes": sum(f["file_size_in_bytes"] for f in files),
        }
