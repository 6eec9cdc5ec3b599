"""LakeTable — a snapshot-versioned, bucket-partitioned lake table on parquet.

The production design targets Apache Iceberg (``MERGE INTO`` with
``bucket(16, repo)`` partitioning); this sandbox has no Iceberg runtime jar, so
LakeTable implements the same contract on plain parquet + an atomic manifest
pointer, matching Iceberg's model piece for piece:

  * snapshot isolation  — readers resolve ``_current`` -> manifest vN -> file list;
    writers never mutate committed files (copy-on-write).
  * atomic commit       — manifest written to a temp name then ``os.replace``d;
    a crash mid-write leaves only orphan data files, never a torn table.
  * MERGE               — per-batch copy-on-write: only buckets containing changed
    keys are read and rewritten; untouched buckets carry their files forward in the
    new manifest. Merge cost scales with the batch's key footprint, not table size.
  * exactly-once        — each manifest records ``batch_id``/``max_offset``; a replayed
    batch with ``batch_id <= committed`` is skipped, and within a racing batch the
    per-row guard ``source._offset > target._offset`` keeps the merge idempotent
    (SURVEY.md §4.2 — the `WHEN MATCHED AND s._offset > t._offset` guard).
  * schema evolution    — manifests carry a schema registry {version: StructType};
    files remember the schema version they were written under; readers align old
    files to the current schema (null-fill new columns, upcast widened ones) —
    exactly Iceberg's add-column / type-widening evolution.

Every write (merge, the staged initial load, vacuum) is one stage step
(``_stage``: flatten actions to the physical layout, join against the touched
buckets' committed files if there are any, write partitioned by bucket) and
one commit step (``_commit``: next manifest -> atomic pointer swap). A row
with a null key column lands in a quarantine partition that no manifest
references, on every write, so it is never readable.

Ordering contract (same as a database WAL): batches are applied in offset order —
the engine slices the log by offset range, so a later batch never carries an offset
below an applied one. Within a batch, order is resolved by the LWW reducer before
merge, and cross-batch replays are defused by the offset guard.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from typing import Any, Iterable
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from debezium_spark.operators.resolver import ACTION_DELETE, ACTION_UPSERT

_MANIFEST_DIR = "_manifests"
_CURRENT = "_current"
_DATA_DIR = "data"


def bucket_expr(repo_col: F.Column, n_buckets: int) -> F.Column:
    """Deterministic bucket id for a key — the bucket(16, repo) transform."""
    return F.pmod(F.xxhash64(repo_col), F.lit(n_buckets)).cast("int")


def key_bucket(key_cols, n_buckets: int) -> F.Column:
    """Bucket of a row's key (first key column); null when any key column is
    null — a malformed key, bound for the quarantine partition."""
    key_null = F.lit(False)
    for c in key_cols:
        key_null = key_null | F.col(c).isNull()
    return F.when(~key_null, bucket_expr(F.col(key_cols[0]), n_buckets))


class LakeTable:
    """A versioned lake table. See module docstring for the storage contract."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._manifest: dict[str, Any] | None = None

    # ------------------------------------------------------------- lifecycle
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        *,
        key_cols: tuple[str, ...] = ("repo", "path"),
        n_buckets: int = 16,
        overwrite: bool = False,
    ) -> "LakeTable":
        if os.path.exists(os.path.join(path, _CURRENT)):
            if not overwrite:
                raise FileExistsError(f"table exists at {path}")
            shutil.rmtree(path)
        os.makedirs(os.path.join(path, _MANIFEST_DIR), exist_ok=True)
        os.makedirs(os.path.join(path, _DATA_DIR), exist_ok=True)
        t = cls(spark, path)
        manifest = {
            "version": 0,
            "batch_id": -1,
            "max_offset": -1,
            "key_cols": list(key_cols),
            "n_buckets": n_buckets,
            "schema_version": 1,
            "schemas": {"1": schema.json()},
            "files": [],
            "ts": time.time(),
            "stats": {},
        }
        t._commit_manifest(manifest)
        return t

    @classmethod
    def exists(cls, path: str) -> bool:
        return os.path.exists(os.path.join(path, _CURRENT))

    # ------------------------------------------------------------- manifest io
    def _commit_manifest(self, manifest: dict[str, Any]) -> None:
        v = manifest["version"]
        mpath = os.path.join(self.path, _MANIFEST_DIR, f"v{v:010d}.json")
        tmp = mpath + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, mpath)
        cur_tmp = os.path.join(self.path, _CURRENT + f".tmp.{uuid.uuid4().hex}")
        with open(cur_tmp, "w") as f:
            f.write(str(v))
            f.flush()
            os.fsync(f.fileno())
        os.replace(cur_tmp, os.path.join(self.path, _CURRENT))
        self._manifest = manifest

    def manifest(self, *, refresh: bool = False) -> dict[str, Any]:
        if self._manifest is None or refresh:
            with open(os.path.join(self.path, _CURRENT)) as f:
                v = int(f.read().strip())
            with open(
                os.path.join(self.path, _MANIFEST_DIR, f"v{v:010d}.json")
            ) as f:
                self._manifest = json.load(f)
        return self._manifest

    def manifest_at(self, version: int) -> dict[str, Any]:
        """Manifest of a specific committed snapshot version. Raises if the
        version was expired (:meth:`expire_snapshots`) or never existed —
        the Iceberg snapshot-not-found contract for time travel."""
        mpath = os.path.join(self.path, _MANIFEST_DIR, f"v{version:010d}.json")
        if not os.path.exists(mpath):
            raise ValueError(
                f"snapshot version {version} is unknown or expired at {self.path}"
            )
        with open(mpath) as f:
            return json.load(f)

    def snapshots(self) -> list[dict[str, Any]]:
        """Snapshot log (Iceberg table.snapshots() analogue): one row per
        retained manifest version, oldest first — {version, batch_id,
        max_offset, ts, n_files, schema_version}. Driver-side: the log is
        one small JSON per commit, never data-file reads."""
        out = []
        mdir = os.path.join(self.path, _MANIFEST_DIR)
        for fn in sorted(os.listdir(mdir)):
            if not (fn.startswith("v") and fn.endswith(".json")):
                continue
            with open(os.path.join(mdir, fn)) as f:
                m = json.load(f)
            out.append(
                {
                    "version": m["version"],
                    "batch_id": m["batch_id"],
                    "max_offset": m["max_offset"],
                    "ts": m["ts"],
                    "n_files": len(m["files"]),
                    "schema_version": m["schema_version"],
                }
            )
        return out

    # ------------------------------------------------------------- properties
    @property
    def schema(self) -> T.StructType:
        m = self.manifest()
        return T.StructType.fromJson(
            json.loads(m["schemas"][str(m["schema_version"])])
        )

    @property
    def key_cols(self) -> tuple[str, ...]:
        return tuple(self.manifest()["key_cols"])

    @property
    def n_buckets(self) -> int:
        return self.manifest()["n_buckets"]

    @property
    def committed_batch_id(self) -> int:
        return self.manifest(refresh=True)["batch_id"]

    @property
    def committed_max_offset(self) -> int:
        return self.manifest(refresh=True)["max_offset"]

    # ------------------------------------------------------------- read path
    def _full_schema(
        self, version: int, m: dict[str, Any] | None = None
    ) -> T.StructType:
        """Stored file schema = payload schema + engine metadata columns.

        ``_deleted`` marks a retained delete-tombstone row (key + delete offset, null
        payload). Keeping tombstones makes the offset guard total: a stale CREATE
        replayed after a newer DELETE compares against the tombstone's offset and
        loses, so merge is idempotent and order-tolerant across batches — the same
        reason Kafka compaction retains tombstones for delete.retention.ms. vacuum()
        purges tombstones once the replay watermark passes them.
        """
        m = m if m is not None else self.manifest()
        base = T.StructType.fromJson(json.loads(m["schemas"][str(version)]))
        return T.StructType(
            list(base.fields)
            + [
                T.StructField("_offset", T.LongType()),
                T.StructField("_ts_ms", T.LongType()),
                T.StructField("_deleted", T.BooleanType()),
            ]
        )

    def read(
        self,
        *,
        buckets: list[int] | None = None,
        include_deleted: bool = False,
        at_version: int | None = None,
    ) -> DataFrame:
        """Snapshot as a DataFrame, optionally pruned to a bucket subset.

        Files written under older schema versions are aligned to the current schema:
        missing columns null-filled, widened columns upcast — Iceberg read-evolution.

        ``at_version``: time-travel read of a retained snapshot version
        (Iceberg ``VERSION AS OF``): the file list AND the schema are the
        ones that manifest committed — a reader sees exactly what a reader
        at that commit saw. Raises for expired versions.
        """
        m = self.manifest() if at_version is None else self.manifest_at(at_version)
        return self._read_files(
            m["files"], m, buckets=buckets, include_deleted=include_deleted
        )

    def _read_files(
        self,
        files: list[dict[str, Any]],
        m: dict[str, Any],
        *,
        buckets: list[int] | None = None,
        include_deleted: bool = False,
        align_to: int | None = None,
    ) -> DataFrame:
        """Read a manifest file list aligned to a schema version.

        ``m`` supplies the schema machinery (schemas dict, rename chain,
        defaults); ``align_to`` overrides the target schema version (used by
        :meth:`changes_between` to align an OLD snapshot's files to the new
        snapshot's schema — ``m`` must then be the newer manifest, whose
        ``schemas`` map contains every older version)."""
        cur_sv = align_to if align_to is not None else m["schema_version"]
        cur = self._full_schema(cur_sv, m)
        groups: dict[int, list[str]] = {}
        for fe in files:
            if buckets is not None and fe["bucket"] not in buckets:
                continue
            groups.setdefault(fe["schema_version"], []).append(
                os.path.join(self.path, fe["path"])
            )
        if not groups:
            out = self.spark.createDataFrame([], cur)
        else:
            renames = {int(k): v for k, v in m.get("renames", {}).items()}

            def name_at(name: str, sv: int) -> str:
                # Walk the rename chain backwards from the target version to
                # the file's version — Iceberg-field-id-style name resolution.
                n = name
                for v in range(cur_sv, sv, -1):
                    r = renames.get(v)
                    if r and r[1] == n:
                        n = r[0]
                return n

            dflts = m.get("defaults", {})
            parts = []
            for sv, paths in sorted(groups.items()):
                df = self.spark.read.schema(self._full_schema(sv, m)).parquet(*paths)
                name_map = {f.name: name_at(f.name, sv) for f in cur.fields}
                parts.append(_align(df, cur, name_map, defaults=dflts))
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
        if not include_deleted:
            out = out.where(~F.coalesce(F.col("_deleted"), F.lit(False))).drop("_deleted")
        return out

    @property
    def defaults(self) -> dict:
        """Column DEFAULT values (relational/Column.defaultValue — the
        reference's DefaultValueConverter surface): {current column name ->
        {"value": literal, "below_offset": add_offset}}. The backfill applies
        to every row whose latest write PRE-dates the ADD COLUMN (the rows
        the source database materializes the default into): on read for files
        committed under pre-add schema versions, and on merge for events with
        ``_offset < below_offset`` whose slot is null (pre-add events cannot
        have written the column, so a null there means 'column did not
        exist', never 'explicit NULL'). Post-add explicit NULLs are real
        values and stay NULL."""
        return self.manifest().get("defaults", {})

    # ------------------------------------------------------------- DDL
    def add_column(
        self, name: str, dtype: T.DataType, default=None, default_below_offset: int = 0
    ) -> None:
        """ALTER TABLE ADD COLUMN — new schema version; rows last written
        before ``default_below_offset`` (the DDL's WAL offset) fill with
        ``default`` (NULL when none), mirroring the DB's backfill."""
        m = dict(self.manifest(refresh=True))
        cur = self.schema
        if name in cur.fieldNames():
            return  # idempotent
        if default is not None:
            m["defaults"] = {
                **m.get("defaults", {}),
                name: {"value": default, "below_offset": default_below_offset},
            }
        new_schema = T.StructType(list(cur.fields) + [T.StructField(name, dtype)])
        self._bump_schema(m, new_schema)

    def widen_column(self, name: str, dtype: T.DataType) -> None:
        """ALTER COLUMN TYPE widening (int->long etc.); old files upcast on read."""
        m = dict(self.manifest(refresh=True))
        cur = self.schema
        if name not in cur.fieldNames():
            raise KeyError(name)
        if cur[name].dataType == dtype:
            return  # idempotent
        new_fields = [
            T.StructField(f.name, dtype if f.name == name else f.dataType, f.nullable)
            for f in cur.fields
        ]
        self._bump_schema(m, T.StructType(new_fields))

    def drop_column(self, name: str) -> None:
        """ALTER TABLE DROP COLUMN — new schema version; old files' values are
        projected away on read (TableChanges.java drop serialization analogue)."""
        m = dict(self.manifest(refresh=True))
        cur = self.schema
        if name not in cur.fieldNames():
            return  # idempotent
        if name in m["key_cols"]:
            raise ValueError(f"cannot drop key column {name!r}")
        if name in m.get("defaults", {}):
            m["defaults"] = {k: v for k, v in m["defaults"].items() if k != name}
        self._bump_schema(m, T.StructType([f for f in cur.fields if f.name != name]))

    def rename_column(self, old: str, new: str) -> None:
        """ALTER TABLE RENAME COLUMN — new schema version plus a manifest rename
        record so files committed under the old name read back aligned (the
        field-id indirection Iceberg uses, reduced to a per-version chain)."""
        m = dict(self.manifest(refresh=True))
        cur = self.schema
        if old not in cur.fieldNames():
            if new in cur.fieldNames():
                return  # idempotent replay
            raise KeyError(old)
        if old in m["key_cols"]:
            raise ValueError(f"cannot rename key column {old!r}")
        new_schema = T.StructType(
            [
                T.StructField(new if f.name == old else f.name, f.dataType, f.nullable)
                for f in cur.fields
            ]
        )
        renames = dict(m.get("renames", {}))
        renames[str(m["schema_version"] + 1)] = [old, new]
        m["renames"] = renames
        if old in m.get("defaults", {}):
            d = dict(m["defaults"])
            d[new] = d.pop(old)  # the default follows the column's new name
            m["defaults"] = d
        self._bump_schema(m, new_schema)

    def _bump_schema(self, m: dict[str, Any], new_schema: T.StructType) -> None:
        sv = m["schema_version"] + 1
        m["schemas"] = dict(m["schemas"])
        m["schemas"][str(sv)] = new_schema.json()
        m["schema_version"] = sv
        m["version"] += 1
        m["ts"] = time.time()
        self._commit_manifest(m)

    # ------------------------------------------------------------- write path
    def stage_initial(
        self,
        actions: DataFrame,
        *,
        batch_id: int,
        truncate_below: int | None = None,
        by: str | None = None,
    ) -> dict[str, Any] | None:
        """Stage a batch into an EMPTY table (no committed files): write only.

        The initial consistent snapshot / whole-log replay into a fresh table is
        the dominant batch by volume, and against an empty target every resolved
        action wins by construction — no join, no pre-computed lineage, no
        cache: one pipeline execution straight into the bucket-partitioned
        staging layout. When ``actions`` carries a ``_bucket`` column (resolver
        ``bucket_into``), the data is already clustered in the write layout and
        no exchange happens here at all.

        Rows whose key has a null column land in the quarantine partition
        (see :meth:`_stage`), which the caller can inspect (a cheap narrow
        scan of the staging files) BEFORE :meth:`commit_staged` makes
        anything visible. Nothing is committed by this method; a crash
        leaves only orphan staging files.

        Returns {"staging", "staging_rel", "new_files", "has_malformed",
        "truncate_below"}, or None if ``batch_id`` was already committed
        (replay skip).

        ``by``: a column of ``actions`` naming each row's table, for several
        empty tables laid out like this one (schema, key columns, buckets,
        defaults, truncate watermark). All their rows go out in ONE write
        partitioned by (``by``, bucket); :meth:`split_staged` then hands each
        table its part. Returns {"staging", "tables" (table -> its partition
        dir), "truncate_below"} then.
        """
        m = self.manifest(refresh=True)
        if batch_id <= m["batch_id"]:
            return None
        if m["files"]:
            raise ValueError("stage_initial requires an empty table; use merge()")
        return self._stage(
            m, actions, name=f"commit-{batch_id}", truncate_below=truncate_below,
            partitions=m["n_buckets"], by=by,
        )

    def split_staged(
        self, staged: dict[str, Any], tables: dict[str, tuple["LakeTable", int]]
    ) -> dict[str, dict[str, Any]]:
        """Parts of a ``by`` staging (:meth:`stage_initial`) -> one staged
        dict per table of ``tables`` ({name: (lake, batch_id)}), each part
        moved under its table's ``data/`` dir and ready for that table's
        :meth:`commit_staged`. A table with no rows gets an empty part."""
        root, trunc = staged["staging"], staged["truncate_below"]
        out = {
            name: {"new_files": [], "has_malformed": False, "truncate_below": trunc}
            for name in tables
        }
        for name, d in staged["tables"].items():
            lake, batch_id = tables[name]
            rel = f"{_DATA_DIR}/commit-{batch_id}-{uuid.uuid4().hex[:8]}"
            shutil.move(os.path.join(root, d), os.path.join(lake.path, rel))
            out[name] = lake._staged(lake.manifest(), rel, trunc)
        shutil.rmtree(root, ignore_errors=True)
        return out

    def commit_staged(
        self,
        staged: dict[str, Any],
        *,
        batch_id: int,
        max_offset: int,
        stats: dict[str, Any] | None = None,
    ) -> dict[str, Any]:
        """Atomically commit files staged by :meth:`stage_initial`. The
        quarantine partition (if any) is never referenced by the manifest, so
        malformed rows stay invisible to readers forever."""
        m = self.manifest(refresh=True)
        if batch_id <= m["batch_id"]:
            return {"applied": False, "batch_id": batch_id}
        self._commit(m, staged, replaced=(), batch_id=batch_id,
                     max_offset=max(max_offset, m["max_offset"]), stats=stats or {})
        return {
            "applied": True,
            "batch_id": batch_id,
            "touched_buckets": len({fe["bucket"] for fe in staged["new_files"]}),
            "new_files": len(staged["new_files"]),
        }

    def merge(
        self,
        actions: DataFrame,
        *,
        batch_id: int,
        max_offset: int,
        stats: dict[str, Any] | None = None,
        touched_buckets: list[int] | None = None,
        truncate_below: int | None = None,
    ) -> dict[str, Any]:
        """Copy-on-write MERGE of resolved actions into the table.

        ``actions`` schema: key_cols*, action('upsert'|'delete'), after(payload
        struct), _offset, _ts_ms — the output of resolve_lww(). Exactly one row per
        key (the resolver guarantees it).

        Only buckets whose keys appear in the batch are read/rewritten (the
        ``touched_buckets`` the caller already knows, else one distinct-bucket
        job); the offset guard makes replays idempotent. Returns commit stats;
        ``{"applied": False}`` if this batch_id was already committed
        (exactly-once on replay).

        ``truncate_below``: a TRUNCATE event at that offset was observed — every
        target row (incl. tombstones) with ``_offset < truncate_below`` is dropped,
        all buckets are rewritten, and the watermark is persisted in the manifest so
        replayed/out-of-order source rows below it are discarded forever after
        (Envelope truncate semantics, order-tolerant).
        """
        m = self.manifest(refresh=True)
        if batch_id <= m["batch_id"]:
            return {"applied": False, "batch_id": batch_id}
        trunc = max(m.get("truncate_below", 0), truncate_below or 0)
        if trunc > m.get("truncate_below", 0):
            touched = set(range(m["n_buckets"]))  # every bucket rewrites under the watermark
        elif touched_buckets is not None:
            touched = set(touched_buckets)
        else:
            touched = {
                r[0]
                for r in actions.where(F.col("_offset") >= trunc)
                .select(key_bucket(m["key_cols"], m["n_buckets"]))
                .distinct()
                .collect()
            } - {None}
        # No fixed partitions: the write's partition count comes from
        # spark.sql.shuffle.partitions and AQE then coalesces it by size — a
        # small incremental trigger writes with a handful of tasks instead of
        # one tiny task per bucket (touched can be 128+ while carrying a few
        # thousand rows), while a bulk merge still fans out. No touched
        # bucket: nothing to write, the batch commits its offset alone.
        staged = self._stage(
            m, actions, name=f"commit-{batch_id}", truncate_below=trunc,
            against=[fe for fe in m["files"] if fe["bucket"] in touched],
        ) if touched else {"new_files": [], "truncate_below": trunc}
        self._commit(m, staged, replaced=touched, batch_id=batch_id,
                     max_offset=max(max_offset, m["max_offset"]), stats=stats or {})
        return {
            "applied": True,
            "batch_id": batch_id,
            "touched_buckets": len(touched),
            "new_files": len(staged["new_files"]),
        }

    def vacuum(self, *, upto_offset: int | None = None) -> dict[str, Any]:
        """Purge delete-tombstone rows with _offset <= watermark (full rewrite).

        Safe once every offset at-or-below the watermark is durably applied — the
        log-compaction retention analogue. Default watermark: committed_max_offset.
        """
        m = self.manifest(refresh=True)
        wm = upto_offset if upto_offset is not None else m["max_offset"]
        deleted = F.coalesce(F.col("_deleted"), F.lit(False))
        kept = self.read(include_deleted=True).where(~deleted | (F.col("_offset") > wm))
        # The table's own rows, re-expressed as resolved actions.
        key_cols = m["key_cols"]
        data_cols = [c for c in self.schema.fieldNames() if c not in key_cols]
        actions = kept.select(
            *key_cols,
            F.when(deleted, F.lit(ACTION_DELETE))
            .otherwise(F.lit(ACTION_UPSERT))
            .alias("action"),
            F.struct(*data_cols).alias("after"),
            "_offset",
            "_ts_ms",
        )
        staged = self._stage(
            m, actions, name=f"vacuum-{m['version'] + 1}", partitions=m["n_buckets"]
        )
        self._commit(m, staged, replaced=range(m["n_buckets"]))
        return {"vacuumed_below": wm, "files": len(staged["new_files"])}

    def _stage(
        self,
        m: dict[str, Any],
        actions: DataFrame,
        *,
        name: str,
        truncate_below: int | None = None,
        against: list[dict[str, Any]] | None = None,
        partitions: int | None = None,
        by: str | None = None,
    ) -> dict[str, Any]:
        """The copy-on-write stage step of every write: flatten resolved
        ``actions`` to the physical layout, merge them against the committed
        files ``against`` (when there are any), and write the result under a
        fresh ``data/<name>-<uuid>`` dir partitioned by bucket. Nothing is
        committed; a crash leaves only orphan files.

        A row whose key has a null column gets a null ``_bucket``: it lands in
        the quarantine partition (``_bucket=__HIVE_DEFAULT_PARTITION__``),
        which sets ``has_malformed`` and which no manifest references, so
        null-key rows are never readable, whichever write staged them.

        The write is clustered by ``_bucket``: actions that already carry it
        (resolver ``bucket_into``) and need no join are written with no
        exchange; otherwise into ``partitions`` partitions, or as many as
        AQE coalesces to when None. ``by``: a table column kept as the outer
        partition level (:meth:`stage_initial`).
        """
        key_cols = m["key_cols"]
        payload = self.schema
        data_cols = [c for c in payload.fieldNames() if c not in key_cols]
        trunc = max(m.get("truncate_below", 0), truncate_below or 0)
        dflts = m.get("defaults", {})
        after_fields = set(actions.schema["after"].dataType.fieldNames())

        # after.* aligned to the current schema. Columns with a registered
        # DEFAULT backfill upsert rows whose _offset predates the ADD COLUMN
        # (the DB materializes defaults into row images the moment the DDL
        # runs, so a pre-add event merging late gets what the source would
        # have emitted); pre-add nulls mean 'column did not exist', post-add
        # nulls are explicit and survive. Deletes carry a null payload (the
        # resolver nulls it).
        def payload_col(c: str) -> F.Column:
            dt = payload[c].dataType
            base = (
                F.col("after").getField(c).cast(dt)
                if c in after_fields
                else F.lit(None).cast(dt)
            )
            d = dflts.get(c)
            if not d:
                return base
            backfill = F.when(
                (F.col("action") != ACTION_DELETE)
                & (F.col("_offset") < F.lit(d["below_offset"])),
                F.lit(d["value"]),
            ).cast(dt)
            return F.coalesce(base, backfill)

        rows = actions.select(
            *key_cols,
            *[payload_col(c).alias(c) for c in data_cols],
            F.col("_offset").cast("long"),
            F.col("_ts_ms").cast("long"),
            (F.col("action") == ACTION_DELETE).alias("_deleted"),
            (
                F.col("_bucket")
                if "_bucket" in actions.columns
                else key_bucket(key_cols, m["n_buckets"])
            ).alias("_bucket"),
            *([by] if by else []),
        )
        if trunc > 0:
            rows = rows.where(F.col("_offset") >= trunc)
        if against:
            target = self._read_files(against, m, include_deleted=True)
            if trunc > 0:
                target = target.where(F.col("_offset") >= trunc)
            # Hint the per-key-unique source side as the hash-build side: a
            # shuffled-hash full-outer join (Spark 3.1+) skips the two full
            # sorts a SortMergeJoin would run over payload-width rows. Falls
            # back to SMJ automatically where inapplicable.
            j = target.alias("t").join(
                rows.hint("SHUFFLE_HASH").alias("s"), on=list(key_cols), how="full"
            )
            s_present = F.col("s._offset").isNotNull()
            t_present = F.col("t._offset").isNotNull()
            # Strict '>' keeps re-delivery of the same event a no-op (idempotence)
            # and makes a stale event lose against both live rows and delete
            # tombstones.
            s_wins = s_present & (
                ~t_present | (F.col("s._offset") > F.col("t._offset"))
            )
            rows = j.where(s_wins | t_present).select(
                *key_cols,
                *[
                    F.when(s_wins, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
                    for c in (*data_cols, "_offset", "_ts_ms")
                ],
                F.when(s_wins, F.col("s._deleted"))
                .otherwise(F.coalesce(F.col("t._deleted"), F.lit(False)))
                .alias("_deleted"),
                key_bucket(key_cols, m["n_buckets"]).alias("_bucket"),
            )
        if against or "_bucket" not in actions.columns:
            rows = (
                rows.repartition(partitions, "_bucket")
                if partitions
                else rows.repartition("_bucket")
            )

        rel = f"{_DATA_DIR}/{name}-{uuid.uuid4().hex[:8]}"
        staging = os.path.join(self.path, rel)
        rows.write.partitionBy(*([by] if by else []), "_bucket").mode(
            "overwrite"
        ).parquet(staging)
        if by:
            tables = {
                unquote(d.split("=", 1)[1]): d
                for d in os.listdir(staging) if d.startswith(by + "=")
            }
            return {"staging": staging, "tables": tables, "truncate_below": trunc}
        return self._staged(m, rel, trunc)

    def _staged(self, m: dict[str, Any], rel: str, trunc: int) -> dict[str, Any]:
        """The staged dict of the bucket partitions under ``rel``: its data
        files as manifest entries, and whether the null-key quarantine
        partition is among them."""
        staging = os.path.join(self.path, rel)
        new_files, has_malformed = [], False
        for bdir in sorted(os.listdir(staging)):
            if not bdir.startswith("_bucket="):
                continue
            b = bdir.split("=", 1)[1]
            if not b.isdigit():
                has_malformed = True  # the null-key quarantine partition
                continue
            new_files += [
                {"path": f"{rel}/{bdir}/{fn}", "bucket": int(b),
                 "schema_version": m["schema_version"]}
                for fn in sorted(os.listdir(os.path.join(staging, bdir)))
                if fn.endswith(".parquet")
            ]
        return {
            "staging": staging,
            "staging_rel": rel,
            "new_files": new_files,
            "has_malformed": has_malformed,
            "truncate_below": trunc,
        }

    def _commit(
        self,
        m: dict[str, Any],
        staged: dict[str, Any],
        *,
        replaced: Iterable[int],
        **fields: Any,
    ) -> None:
        """The commit step of every write: the next manifest is ``m`` with
        the files of the ``replaced`` buckets swapped for the staged files,
        the staged truncate watermark, and ``fields`` (batch_id, max_offset,
        stats of a data commit) — then one atomic :meth:`_commit_manifest`."""
        replaced = set(replaced)
        self._commit_manifest({
            **m,
            **fields,
            "version": m["version"] + 1,
            "files": [fe for fe in m["files"] if fe["bucket"] not in replaced]
            + staged["new_files"],
            "truncate_below": max(m.get("truncate_below", 0), staged["truncate_below"]),
            "ts": time.time(),
        })

    def changes_between(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Changelog scan between two retained snapshot versions (the Iceberg
        incremental/changelog read — ``create_changelog_view``): one row per
        key whose state changed, with Debezium-shaped columns ``op``
        ('c'|'u'|'d'), ``before``, ``after`` (payload structs in the NEWER
        version's schema), and ``_offset`` (the newer row's offset; for 'd'
        the delete's offset when the tombstone is retained).

        The engine ingests CDC; this emits CDC back out of the lake — a
        downstream incremental consumer (index refresh, re-tokenization,
        feature backfill over a 100 TB corpus) re-processes only what the
        replay window actually changed instead of re-reading the table.

        Scale shape: buckets whose file lists are identical between the two
        manifests are skipped outright (copy-on-write means an untouched
        bucket carries the same file entries forward), so both scans and the
        full-outer key join cover only rewritten buckets — cost follows the
        replay window's key footprint, never table size. The join keys on the
        bucketed PK; payload width flows through once per side.

        Semantics per key (absent ≡ retained tombstone for 'live-ness'):
          * not-live -> live  ⇒ 'c' (before = NULL)
          * live -> live, offset advanced ⇒ 'u'
          * live -> not-live ⇒ 'd' (after = NULL)
        Keys whose row (offset + liveness) did not change emit nothing;
        a vacuum between the versions (tombstone purge rewrites buckets
        without changing live state) therefore emits nothing for purged keys.
        """
        m_to = (
            self.manifest(refresh=True)
            if to_version is None
            else self.manifest_at(to_version)
        )
        m_from = self.manifest_at(from_version)
        if m_from["version"] > m_to["version"]:
            raise ValueError(
                f"from_version {m_from['version']} is newer than to_version "
                f"{m_to['version']}"
            )
        key_cols = tuple(m_to["key_cols"])
        # Bucket pruning off the manifests alone (driver-side set algebra).
        from_paths = {fe["path"]: fe["bucket"] for fe in m_from["files"]}
        to_paths = {fe["path"]: fe["bucket"] for fe in m_to["files"]}
        changed = {b for p, b in from_paths.items() if p not in to_paths}
        changed |= {b for p, b in to_paths.items() if p not in from_paths}
        payload = T.StructType.fromJson(
            json.loads(m_to["schemas"][str(m_to["schema_version"])])
        )
        data_cols = [c for c in payload.fieldNames() if c not in key_cols]
        img_t = T.StructType([payload[c] for c in data_cols])
        out_schema = T.StructType(
            [payload[c] for c in key_cols]
            + [
                T.StructField("op", T.StringType()),
                T.StructField("before", img_t),
                T.StructField("after", img_t),
                T.StructField("_offset", T.LongType()),
            ]
        )
        if not changed:
            return self.spark.createDataFrame([], out_schema)
        bl = sorted(changed)
        # Old snapshot's files aligned to the NEW schema (m_to carries every
        # older schema version + the full rename chain), so before/after line
        # up column-for-column across a mid-window ADD/RENAME/DROP.
        old = self._read_files(
            m_from["files"], m_to, buckets=bl, include_deleted=True,
            align_to=m_to["schema_version"],
        ).alias("o")
        new = self._read_files(
            m_to["files"], m_to, buckets=bl, include_deleted=True
        ).alias("n")
        j = old.join(new.hint("SHUFFLE_HASH"), on=list(key_cols), how="full")
        o_present = F.col("o._offset").isNotNull()
        n_present = F.col("n._offset").isNotNull()
        o_live = o_present & ~F.coalesce(F.col("o._deleted"), F.lit(False))
        n_live = n_present & ~F.coalesce(F.col("n._deleted"), F.lit(False))
        op = (
            F.when(~o_live & n_live, F.lit("c"))
            .when(
                o_live & n_live & (F.col("o._offset") != F.col("n._offset")),
                F.lit("u"),
            )
            .when(o_live & ~n_live, F.lit("d"))
        )

        def img(side: str) -> F.Column:
            return F.struct(*[F.col(f"{side}.{c}").alias(c) for c in data_cols])

        return (
            j.where(op.isNotNull())
            .select(
                *key_cols,
                op.alias("op"),
                F.when(o_live, img("o")).alias("before"),
                F.when(n_live, img("n")).alias("after"),
                F.when(n_present, F.col("n._offset"))
                .otherwise(F.col("o._offset"))
                .alias("_offset"),
            )
        )

    def expire_snapshots(
        self, *, keep_last: int = 2, grace_seconds: float = 3600.0
    ) -> dict[str, Any]:
        """Expire old snapshot versions and physically delete unreferenced
        data files (Iceberg ``expireSnapshots`` + ``removeOrphanFiles``).

        Copy-on-write means every merge strands the rewritten buckets' old
        files; without expiry a 10^10-event replay retains every superseded
        file forever — unbounded storage. This keeps the newest ``keep_last``
        manifests (time travel and :meth:`changes_between` keep working
        within that window), deletes older manifest JSONs, then removes any
        file under ``data/`` that (a) no retained manifest references and
        (b) is older than ``grace_seconds``. The grace window protects a
        concurrent in-flight commit's staging files, which are referenced by
        no manifest until their atomic commit lands — the same reason
        Iceberg's orphan cleanup defaults to a 3-day cutoff. Pass 0 only when
        no writer can be active (tests, offline maintenance).

        Crash-safe without coordination: expiry only DELETES files that the
        retained manifests can never resolve, and readers resolve
        ``_current`` first — a reader racing an expiry either sees the old
        manifest before its files vanish (grace window) or the new one.
        Returns {"expired_manifests": n, "deleted_files": n, "kept_files": n}.
        """
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        cur = self.manifest(refresh=True)["version"]
        keep_from = cur - keep_last + 1
        mdir = os.path.join(self.path, _MANIFEST_DIR)
        referenced: set[str] = set()
        expired = 0
        for fn in sorted(os.listdir(mdir)):
            if not (fn.startswith("v") and fn.endswith(".json")):
                continue
            v = int(fn[1:-5])
            if v >= keep_from:
                with open(os.path.join(mdir, fn)) as f:
                    referenced.update(fe["path"] for fe in json.load(f)["files"])
        now = time.time()
        deleted = 0
        data_root = os.path.join(self.path, _DATA_DIR)
        for root, _dirs, files in os.walk(data_root, topdown=False):
            for fn in files:
                ap = os.path.join(root, fn)
                rel = os.path.relpath(ap, self.path)
                if rel in referenced:
                    continue
                try:
                    if now - os.path.getmtime(ap) < grace_seconds:
                        continue
                    os.remove(ap)
                    deleted += 1
                except OSError:
                    continue  # racing writer/reader; next expiry sweeps it
            try:
                os.rmdir(root)  # only succeeds when emptied
            except OSError:
                pass
        # Manifests go LAST: a crash mid-expiry must never leave a retained
        # manifest pointing at already-deleted files.
        for fn in sorted(os.listdir(mdir)):
            if not (fn.startswith("v") and fn.endswith(".json")):
                continue
            if int(fn[1:-5]) < keep_from:
                os.remove(os.path.join(mdir, fn))
                expired += 1
        return {
            "expired_manifests": expired,
            "deleted_files": deleted,
            "kept_files": len(referenced),
        }


def _align(
    df: DataFrame,
    target: T.StructType,
    name_map: dict[str, str] | None = None,
    defaults: dict | None = None,
) -> DataFrame:
    """Project df onto `target` schema: fill missing fields with their column
    DEFAULT (NULL when none — ``defaults`` keys are target names), cast
    widened ones, and resolve renamed fields through ``name_map`` (target
    name -> name the column had when the file was written)."""
    cols = []
    have = {f.name: f.dataType for f in df.schema.fields}
    for f in target.fields:
        src = (name_map or {}).get(f.name, f.name)
        if src in have:
            c = F.col(src)
            if have[src] != f.dataType:
                c = c.cast(f.dataType)
            cols.append(c.alias(f.name))
        else:
            d = (defaults or {}).get(f.name)
            cols.append(
                F.lit(d["value"] if d else None).cast(f.dataType).alias(f.name)
            )
    return df.select(*cols)
