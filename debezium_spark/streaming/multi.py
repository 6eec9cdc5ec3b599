"""Multi-table capture: one heterogeneous WAL stream -> per-table lakes.

The reference dispatches every change event through a per-table schema registry
(relational/Tables.java:1, TableSchemaBuilder.java:122-165) and routes it to its
table's topic (EventDispatcher.java:189-196). Spark-first, the same shape is a
*dispatcher* over typed projections of one log:

  * the shared WAL carries a ``table`` column and schema-opaque JSON payloads
    (``before_json`` / ``after_json``) — exactly what a binlog is: one ordered
    byte stream of heterogeneous row events;
  * each captured table declares its payload schema + key columns
    (:class:`TableSpec` — the Tables registry analogue) and owns a
    :class:`CdcEngine`: lake, work dir, registry, signals, metrics;
  * ``run`` reads the log once, runs one bounds pass for every table, then one
    LWW pipeline per *payload shape* (tables sharing ``payload_ddl`` and key
    columns, see :meth:`MultiTableEngine._groups`): a ``CdcEngine`` drive over
    the group's projection (pushed ``table`` filter, one from_json, keys
    lifted top-level, the table as the ``TABLE`` column that keys the LWW)
    whose members are the tables' engines, each committing to its own lake.

The groups run concurrently on a thread pool, one worker per group; each
worker inherits the caller thread's Spark local properties (job group,
description, tags) and tags its jobs ``dbz-table-<name>`` per member. Offsets
stay globally ordered, so each table's resume watermark is exact even when
the tables of a group stand at different offsets; the per-table offset map is
replaced atomically and fsync'd after each drive. ``run_streaming`` keeps one
query per table.
"""

from __future__ import annotations

import os
import re
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, replace
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from debezium_spark.config import EngineConfig
from debezium_spark.plans.lake import LakeTable
from debezium_spark.storage import atomic_write
from debezium_spark.streaming.engine import TABLE, CdcEngine

# Cap on concurrently driven groups. Not the core count: a drive spends much
# of its wall time between small jobs, so more drives than task slots still
# overlap usefully.
_MAX_WORKERS = 16


@dataclass
class TableSpec:
    """Per-table capture declaration (Tables.java registry entry analogue)."""

    payload_ddl: str                     # e.g. "repo string, path string, ..."
    key_columns: tuple[str, ...]
    schema_changes: DataFrame | None = None
    snapshot_source: str | None = None


class MultiTableEngine:
    """Dispatcher: one WAL directory, one lake per captured table.

    ``table_include`` / ``table_exclude`` regexes select captured tables at the
    dispatcher level (EventDispatcher.java:189-196) — an excluded table's
    events are never read past the pushed-down ``table`` filter.
    """

    def __init__(
        self,
        spark: SparkSession,
        config: EngineConfig,
        *,
        wal_path: str,
        target_root: str,
        work_root: str,
        tables: dict[str, TableSpec],
    ):
        self.spark = spark
        self.wal_path = wal_path
        self.work_root = work_root
        self.tables = {
            name: spec
            for name, spec in tables.items()
            if self._captured(name, config)
        }
        self.engines: dict[str, CdcEngine] = {}
        for name, spec in self.tables.items():
            cfg = replace(
                config,
                key_columns=tuple(spec.key_columns),
                table_name=name,
                # the dispatcher already routed; per-engine regex would
                # re-filter against the single-table literal and mis-match
                table_include=None,
                table_exclude=None,
            )
            self.engines[name] = CdcEngine(
                spark,
                cfg,
                wal_path=wal_path,
                target_path=os.path.join(target_root, name),
                work_dir=os.path.join(work_root, name),
                schema_changes=spec.schema_changes,
                snapshot_source=spec.snapshot_source,
                wal_projection=lambda wal, p=self._projection([name]): (
                    p(wal).drop(TABLE)
                ),
            )

    @staticmethod
    def _captured(name: str, config: EngineConfig) -> bool:
        if config.table_include and not re.search(config.table_include, name):
            return False
        if config.table_exclude and re.search(config.table_exclude, name):
            return False
        return True

    def _projection(self, names: list[str]):
        """Pure column-algebra projection raw-WAL -> the typed rows of the
        tables ``names``, which share one payload shape (no actions, no
        reads — streaming-safe), plus the ``TABLE`` column naming each row's
        table: the frame of their group's drive. Without that column it is a
        table's ``wal_projection``, applied to its own reads and file stream.

        Signal rows (op='s') are routed to EVERY per-table engine — the
        reference's signal table is one captured collection whose events
        address any subset of tables via the signal's data-collections
        field (Signal.java:1-178, ExecuteSnapshot.java:48). Each engine
        applies only signals whose data-collections match its table
        (engine._apply_signal_action routing); the raw signal JSON rides
        in ``_signal_data`` because the per-table payload schema can't
        represent it. The OR filter still pushes to the scan; signal
        rows are rare so pruning stays effective."""
        spec = self.tables[names[0]]

        def project(wal: DataFrame) -> DataFrame:
            is_sig = F.col("op") == "s"
            wal = wal.where(F.col("table").isin(*names) | is_sig)
            before = F.from_json(F.col("before_json"), spec.payload_ddl)
            after = F.from_json(F.col("after_json"), spec.payload_ddl)
            # key resolution: after-image, else before-image (deletes), else
            # the explicit key record (tombstones carry only the key)
            key_parts = [
                F.when(F.col("after_json").isNotNull(), after),
                before,
            ]
            if "key_json" in wal.columns:
                key_parts.append(F.from_json(F.col("key_json"), spec.payload_ddl))
            key_src = F.coalesce(*key_parts)
            return wal.select(
                "offset",
                "ts_ms",
                "op",
                *[key_src.getField(k).alias(k) for k in spec.key_columns],
                before.alias("before"),
                after.alias("after"),
                "is_tombstone",
                "tx_id",
                "schema_version",
                F.when(is_sig, F.col("after_json")).alias("_signal_data"),
                F.col("table").alias(TABLE),
            )

        return project

    def _groups(self) -> list[list[str]]:
        """Captured tables by payload shape: tables whose specs share
        ``payload_ddl`` and key columns, with no schema history or snapshot
        source of their own, the same snapshot mode and lake bucket count,
        share one drive. A table with its own DDL or snapshot source drives
        alone, and so does every table under settings that act per table id
        (converters, message key columns) or per transaction."""
        groups: dict[Any, list[str]] = {}
        for name, eng in self.engines.items():
            spec, cfg = self.tables[name], eng.config
            key: Any = name
            if (
                spec.schema_changes is None
                and not spec.snapshot_source
                and not (cfg.custom_converters or cfg.message_key_columns
                         or cfg.provide_transaction_metadata)
                and not eng.registry().changes
            ):
                n_buckets = (
                    LakeTable(self.spark, eng.target_path).n_buckets
                    if LakeTable.exists(eng.target_path)
                    else cfg.target_buckets
                )
                key = (spec.payload_ddl, tuple(spec.key_columns),
                       eng._effective_snapshot_mode(), n_buckets)
            groups.setdefault(key, []).append(name)
        return list(groups.values())

    def run(self, **kw) -> dict[str, list[dict[str, Any]]]:
        """Replay every captured table into its lake: one WAL read and one
        bounds pass for all tables (each table's last offset among them),
        then one ``CdcEngine`` drive per payload-shape group over its
        projection of that read, concurrently (:meth:`_drive`). Each table
        keeps its own batch ids, lineage, failure handling and committed
        offset, and its drive ends at its own last row: a quiet table gets no
        batch. Returns per-table batch results.

        After the pass, the dispatcher's per-partition offset map (one
        partition per captured table — GtidSet.java:36's per-source-UUID shape
        specialized to tables) is checked monotone against the persisted map
        and re-persisted: a resumed dispatcher can never move any table's
        committed offset backwards, even though each table commits
        independently."""
        if not self.engines:
            return self._drive([], None)
        raw = self.spark.read.parquet(self.wal_path)
        captured = list(self.engines)
        bounds = self.engines[captured[0]]._bounds(
            self._projection(captured)(raw), captured
        )

        def drive(names: list[str]) -> dict[str, list[dict[str, Any]]]:
            engines = [self.engines[n] for n in names]
            project = self._projection(names)
            out = engines[0]._run_group(
                engines, projection=project, scan=(project(raw), bounds), **kw
            )
            return dict(zip(names, out))

        return self._drive(self._groups(), drive)

    def run_streaming(self, *, max_files_per_trigger: int | None = None):
        """Streaming drive parity: each per-table pipeline runs its own
        Structured Streaming query (availableNow) over the SHARED WAL
        directory — the raw file stream is narrowed to the table's typed
        shape by the pure projection, so filters/from_json run inside the
        query. The N queries run concurrently (independent sinks +
        checkpoints, the reference's task-per-connector shape), driven like
        run() by :meth:`_drive`; the per-table offset map is
        containment-checked and persisted exactly like run()."""
        return self._drive(
            [[n] for n in self.engines],
            lambda names: {
                n: self.engines[n].run_streaming(
                    max_files_per_trigger=max_files_per_trigger
                )
                for n in names
            },
        )

    def _drive(self, groups: list[list[str]], drive_group) -> dict[str, Any]:
        """``drive_group(names) -> {name: result}`` for every group of
        captured tables on a thread pool (one worker per group, at most
        ``_MAX_WORKERS``). Each task carries the caller's Spark local
        properties (job group, description, tags) plus one
        ``dbz-table-<name>`` job tag per member (Spark refuses a comma in a
        tag, so the tags stay separate). Every group runs to completion; then
        the first failure in group order is re-raised and the offset map is
        not persisted."""
        from debezium_spark.sources.gtids import PartitionedOffsets

        prior = self.offsets(persisted=True)
        sc = self.spark.sparkContext

        def task(names: list[str]) -> dict[str, Any]:
            tags = [f"dbz-table-{n}".replace(",", "_") for n in names]
            for t in tags:
                sc.addJobTag(t)
            try:
                return drive_group(names)
            finally:
                for t in tags:
                    sc.removeJobTag(t)

        workers = max(1, min(len(groups), _MAX_WORKERS))
        with ThreadPoolExecutor(max_workers=workers) as pool:
            # one wrap per group: each gets its own copy of the properties
            futures = [
                pool.submit(inheritable_thread_target(self.spark)(task), names)
                for names in groups
            ]
        # every group has finished; result() re-raises in group order
        results: dict[str, Any] = {}
        for fut in futures:
            results.update(fut.result())
        now = self.offsets()
        # Monotonicity is asserted only over CURRENTLY captured tables — a
        # table excluded on restart keeps its persisted watermark (carried
        # forward by the merge below) without failing the check, the same way
        # the reference retains offsets for no-longer-captured collections.
        captured_prior = PartitionedOffsets(
            {t: prior.get(t) for t in self.engines if prior.get(t) >= 0}
        )
        if not captured_prior.is_contained_within(now):
            raise RuntimeError(
                f"offset regression: persisted {captured_prior} not contained in {now}"
            )
        self._persist_offsets(now.merge(prior))
        return {n: results[n] for n in self.engines}

    # ------------------------------------------------- per-partition offsets
    @property
    def _offsets_path(self) -> str:
        return os.path.join(self.work_root, "_offsets.json")

    def offsets(self, *, persisted: bool = False) -> "PartitionedOffsets":
        """Per-table committed offsets as one PartitionedOffsets map
        (sources/gtids.py:241): ``persisted=True`` reads the dispatcher's last
        durably stored map; otherwise the map is derived live from each
        engine's lake manifest (`committed_max_offset`) — the map is pure
        metadata, no data scan."""
        from debezium_spark.sources.gtids import PartitionedOffsets

        if persisted:
            try:
                with open(self._offsets_path) as f:
                    return PartitionedOffsets.from_json(f.read())
            except FileNotFoundError:
                return PartitionedOffsets()
        po = PartitionedOffsets()
        for name, eng in self.engines.items():
            if not LakeTable.exists(eng.target_path):
                continue  # lake not created yet (no batch committed)
            off = LakeTable(self.spark, eng.target_path).committed_max_offset
            if off >= 0:
                po = po.advance(name, off)
        return po

    def _persist_offsets(self, po) -> None:
        os.makedirs(self.work_root, exist_ok=True)
        atomic_write(self._offsets_path, po.to_json())

    # ------------------------------------------- multi-table snapshot signals
    def _matching(self, data_collections) -> list[str]:
        """Captured tables addressed by a ``data-collections`` array — each
        entry is a regex fully matched against the table id (bare or
        ``<database>.<name>``-qualified), the reference's
        SnapshotDataCollection semantics (ExecuteSnapshot.java:48); malformed
        patterns never match (engine.data_collections_match)."""
        from debezium_spark.streaming.engine import data_collections_match

        return [
            n
            for n, eng in self.engines.items()
            if data_collections_match(
                data_collections, n, eng.config.database
            )
        ]

    def execute_snapshot(
        self,
        data_collections,
        *,
        source_offset: int | None = None,
        chunk_size: int | None = None,
    ) -> list[str]:
        """Start chunked ad-hoc incremental snapshots on every captured table
        matched by ``data_collections`` — the multi-table ExecuteSnapshot
        (ExecuteSnapshot.java:48: the signal REQUIRES data-collections; each
        addressed collection gets its own chunk progress). Chunk state is
        per-table (each engine's durable ``_incr_snapshot.json``), so tables
        snapshot and resume independently, exactly like the reference's
        per-DataCollection progress in IncrementalSnapshotContext. Returns the
        addressed table names. The fan-out is validated up front: if ANY
        addressed table lacks a snapshot_source the call raises before any
        table's durable snapshot state is touched (no partial application)."""
        names = self._matching(data_collections)
        if not names:
            raise ValueError(
                f"data-collections {data_collections!r} match no captured table "
                f"(captured: {sorted(self.engines)})"
            )
        missing = [n for n in names if not self.engines[n].snapshot_source]
        if missing:
            raise ValueError(
                f"execute_snapshot addresses {sorted(missing)} but those "
                f"TableSpecs have no snapshot_source; nothing was started"
            )
        for n in names:
            self.engines[n].execute_snapshot(
                source_offset=source_offset, chunk_size=chunk_size
            )
        return names

    def stop_snapshot(self, data_collections=None) -> list[str]:
        """Cancel in-flight ad-hoc snapshots (StopSnapshot.java — its
        data-collections field is optional: absent means stop everywhere)."""
        names = (
            list(self.engines)
            if data_collections is None
            else self._matching(data_collections)
        )
        for n in names:
            self.engines[n].stop_snapshot()
        return names

    def pause_snapshot(self) -> None:
        """PauseIncrementalSnapshot.java carries no data-collections — the
        pause is global; so is the resume."""
        for eng in self.engines.values():
            eng.pause_snapshot()

    def resume_snapshot(self) -> None:
        for eng in self.engines.values():
            eng.resume_snapshot()

    def target(self, name: str):
        return self.engines[name].target()
