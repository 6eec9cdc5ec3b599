"""CdcEngine — the embedded-engine analogue (EmbeddedEngine.run(), SURVEY.md §3.2).

Pipeline per micro-batch (offset-range slice of the WAL):

    read WAL slice -> op/table/malformed filters -> envelope wrap
      -> PK-change split -> SMT column transforms -> LWW resolve (packed-string
      max(), hash-partial; duplicate offsets collapse here, so no separate dedup)
      -> schema DDL (if the batch crosses a schema-change offset)
      -> offset-guarded copy-on-write MERGE into the lake table
      -> lineage checkpoint (_checkpoints) + metrics (_metrics)

Exactly-once = atomic manifest commit (batch_id recorded in the same commit as the
data) + per-row offset guard for replay overlap; the Debezium analogues are the
offset flush after batch ack (EmbeddedEngine.java:923-1017 maybeFlush) and the
restart LSN skip (PostgresStreamingChangeEventSource.java:318).

Resume = read ``committed_max_offset`` from the lake manifest (the transactional
source of truth), replay schema history up to it (AbstractDatabaseHistory.recover
analogue), continue from the next offset. Lineage rows in ``_checkpoints`` are
observability, not the recovery source — they can trail the manifest after a crash
and the engine still recovers exactly.

Three drive modes over one micro-batch core:
  * run(): deterministic offset-range batch replay (Trigger.AvailableNow analogue,
    what the bench measures);
  * run_streaming(): Structured Streaming file source over the WAL directory with
    foreachBatch + checkpointLocation (the production shape);
  * run_streaming_stateful(): the same stream through a per-key LWW state store,
    merging only the keys whose winner changed.
Each drive reads the WAL once, at its start (``_read_wal``: the raw log through
the optional ``wal_projection``), and hands that frame down. run() and every
run_streaming() epoch drive their offset range through one range loop
(``_run_range``: pause poll, empty-gap jump, in-band signal split) into
``_step``, and drain pending snapshot chunks through ``_drain_snapshot``; the
two streaming drives share the stream starter ``_run_stream``; the incremental
batch and the stateful trigger merge through ``_merge_actions``, schema changes
reach the lake through ``_apply_ddl``, and every drive commits through
``_commit_batch``. The core takes a list of *members*, each one lake with its
engine: a plain engine is the one-member case, and a multi-table dispatcher
drives the tables of one payload shape as the members of one ``run()``
(``_run_group``) over a frame whose ``TABLE`` column names each row's table.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from debezium_spark.config import (
    SNAPSHOT_INITIAL,
    SNAPSHOT_INITIAL_ONLY,
    SNAPSHOT_NEVER,
    SNAPSHOT_SCHEMA_ONLY,
    SNAPSHOT_SCHEMA_ONLY_RECOVERY,
    SNAPSHOT_WHEN_NEEDED,
    EngineConfig,
)
from debezium_spark.functions import envelope as E
from debezium_spark.functions import transforms as X
from debezium_spark.operators import resolver as R
from debezium_spark.plans.lake import LakeTable, bucket_expr, key_bucket
from debezium_spark.plans.registry import SchemaHistoryStore, SchemaRegistry
from debezium_spark.storage import atomic_write

# The column naming each row's captured table in a multi-table frame (one LWW
# pipeline for the lakes of several tables, MultiTableEngine): it keys the
# LWW after the table's own key columns and routes every resolved row to its
# table's lake. A single-table frame has no such column.
TABLE = "_table"


def data_collections_match(
    dcs, table_name: str, database: str | None = None
) -> bool:
    """Does a signal's ``data-collections`` value address this table?

    Reference semantics (ExecuteSnapshot.java:48): entries are regexes fully
    matched against the captured table id. Both the bare table name and the
    conventional fully-qualified ``<database>.<table_name>`` id match, so
    Debezium-style signals (``["lake.repos"]``) and short forms
    (``["repos"]``) both route. Robustness rules: a bare string counts as a
    one-element list (a common hand-written-signal mistake that must not
    silently char-iterate), and a malformed regex entry simply never matches
    (an unparseable pattern in a durable signal channel must not poison-pill
    every restart)."""
    if isinstance(dcs, str):
        dcs = [dcs]
    ids = [table_name]
    if database:
        ids.append(f"{database}.{table_name}")
    for p in dcs:
        try:
            if any(re.fullmatch(str(p), i) for i in ids):
                return True
        except re.error:
            continue
    return False


class CdcEngine:
    def __init__(
        self,
        spark: SparkSession,
        config: EngineConfig,
        *,
        wal_path: str,
        target_path: str,
        work_dir: str,
        schema_changes: DataFrame | None = None,
        snapshot_source: str | None = None,
        wal_projection=None,
        history_store=None,
    ):
        self.spark = spark
        self.config = config
        self.wal_path = wal_path
        # The WAL as this engine sees it: a PURE projection
        # (Callable[[DataFrame], DataFrame], no actions, no reads) of the raw
        # log, applied to the batch read and to the streaming file source
        # alike — a dispatcher (MultiTableEngine) feeds a typed per-table
        # shape of a heterogeneous log through it. Default: the raw log.
        self._wal_projection = wal_projection or (lambda df: df)
        self.target_path = target_path
        self.work_dir = work_dir
        # parquet path of the captured table's current state — what an
        # execute-snapshot signal re-reads (the DBLog chunk SELECT source)
        self.snapshot_source = snapshot_source
        os.makedirs(work_dir, exist_ok=True)
        # pluggable schema-history backend (storage.py — file/memory/log,
        # the debezium-storage module seam); default file, the r2 behavior
        self.history = history_store or SchemaHistoryStore(
            os.path.join(work_dir, "_schema_history.jsonl")
        )
        self._ckpt_path = os.path.join(work_dir, "_checkpoints.jsonl")
        self._metrics_path = os.path.join(work_dir, "_metrics.jsonl")
        self._schema_changes_df = schema_changes
        self._registry: SchemaRegistry | None = None
        self._signal_state_path = os.path.join(work_dir, "_signals_consumed")
        # high-water mark of applied IN-BAND (op='s') signal offsets
        self._inband_state_path = os.path.join(work_dir, "_inband_consumed")
        self._incr_state_path = os.path.join(work_dir, "_incr_snapshot.json")
        # durable per-chunk key bounds of the in-flight ad-hoc snapshot (one
        # JSONL line per chunk, written once at snapshot start)
        self._incr_bounds_path = os.path.join(work_dir, "_incr_chunks.jsonl")
        # big-plan variant: bounds as a range-clustered parquet sidecar
        self._incr_bounds_parquet = os.path.join(work_dir, "_incr_chunks.parquet")
        self._bounds_cache: list[dict] | None = None
        self._snapshot_mode_resolved: str | None = None
        self._msg_key_resolved = False

    def _resolve_message_key(self, wal_schema: T.StructType) -> None:
        """message.key.columns -> effective key_columns, resolved ONCE against
        the captured table id and the WAL payload columns
        (relational/Key.java:92-148 via transforms.resolve_message_key). The
        resolved tuple replaces config.key_columns for the whole run, so every
        downstream consumer (envelope keys, LWW, PK split, merge) re-keys
        consistently — the reference's KeyMapper likewise feeds
        TableSchemaBuilder once per table schema."""
        cfg = self.config
        if self._msg_key_resolved or not cfg.message_key_columns:
            return
        import dataclasses

        cols = [f.name for f in wal_schema["after"].dataType.fields]
        resolved = X.resolve_message_key(
            cfg.message_key_columns,
            f"{cfg.database}.{cfg.table_name}",
            cols,
            cfg.key_columns,
        )
        self.config = dataclasses.replace(cfg, key_columns=tuple(resolved))
        self._msg_key_resolved = True

    # ------------------------------------------------------------------ setup
    def _read_wal(self) -> tuple[DataFrame, DataFrame]:
        """The raw WAL and its ``wal_projection``: one parquet read (one footer
        job). Each drive reads once, at its start (a restart reads again)."""
        raw = self.spark.read.parquet(self.wal_path)
        return raw, self._wal_projection(raw)

    def _wal(self) -> DataFrame:
        return self._read_wal()[1]

    def _base_payload_schema(self, wal_schema: T.StructType) -> T.StructType:
        """v1 payload schema = WAL payload minus columns introduced by later DDL."""
        full = wal_schema["after"].dataType
        added = set()
        for c in self.registry().changes:
            kind, *args = c.table_changes.split(":")
            if kind == "add_column":
                added.add(args[0])
            elif kind == "rename_column":
                added.add(args[1])  # the new name only exists from the rename on
        return T.StructType([f for f in full.fields if f.name not in added])

    def registry(self) -> SchemaRegistry:
        if self._registry is None:
            base = E.payload_schema()
            if self._schema_changes_df is not None:
                rows = [r.asDict() for r in self._schema_changes_df.collect()]
            else:
                rows = [
                    {"offset": c.offset, "version": c.version, "ddl": c.ddl,
                     "table_changes": c.table_changes}
                    for c in self.history.replay()
                ]
            self._registry = SchemaRegistry.from_history_rows(base, rows)
        return self._registry

    def target(self) -> LakeTable:
        if LakeTable.exists(self.target_path):
            return LakeTable(self.spark, self.target_path)
        return self._open_lake(self._wal().schema)

    def _open_lake(self, wal_schema: T.StructType) -> LakeTable:
        """Resolve the message key against ``wal_schema``, then open the
        target lake, created from ``wal_schema`` if it does not exist yet."""
        self._resolve_message_key(wal_schema)
        if not LakeTable.exists(self.target_path):
            LakeTable.create(
                self.spark,
                self.target_path,
                self._base_payload_schema(wal_schema),
                key_cols=self.config.key_columns,
                n_buckets=self.config.target_buckets,
            )
        return LakeTable(self.spark, self.target_path)

    # ------------------------------------------------------------- control ops
    def _truncate_offsets(self, df: DataFrame) -> F.Column:
        """Aggregate column ``truncates``: (offset, table) of each TRUNCATE
        ('t') row in ``df``, the table null in a single-table frame. Each
        drive folds it into the bounds aggregation it already runs, so the
        offsets always describe the log as read now, not as it was when the
        engine first looked."""
        if not self.config.handle_truncate or "op" not in df.columns:
            return (
                F.array().cast("array<struct<offset:bigint,table:string>>")
                .alias("truncates")
            )
        table = F.col(TABLE) if TABLE in df.columns else F.lit(None).cast("string")
        return F.collect_list(
            F.when(
                F.col("op") == "t",
                F.struct(F.col("offset").alias("offset"), table.alias("table")),
            )
        ).alias("truncates")

    def _bounds(self, wal: DataFrame, names: list[str] = ()) -> dict[str, Any]:
        """The bounds pass of a drive: ``hi`` (the highest offset),
        ``truncates`` and, of a multi-table frame, ``ends``: for each table
        of ``names`` the highest offset of its own rows and the signal rows,
        where its drive ends. One aggregation."""
        own = [] if TABLE not in wal.columns else [
            F.max(F.when((F.col(TABLE) == n) | (F.col("op") == "s"), F.col("offset")))
            .alias(f"_end{i}")
            for i, n in enumerate(names)
        ]
        row = wal.agg(F.max("offset").alias("hi"), self._truncate_offsets(wal), *own).first()
        return {
            "hi": row["hi"],
            "truncates": row["truncates"],
            "ends": {n: row[f"_end{i}"] for i, n in enumerate(names) if own},
        }

    def _apply_signal_action(
        self, sig: dict[str, Any], *, at_offset: int | None = None
    ) -> dict[str, Any]:
        """Apply one signal action (pipeline/signal/*.java action classes).

        ``at_offset``: the WAL offset the signal rode in on (in-band channel) —
        None for the out-of-band file channel. Returns {"pause": bool}.

        ``data-collections`` routing (ExecuteSnapshot.java:48 — the signal
        names the collections it applies to; SnapshotDataCollection entries
        are regexes fully matched against the captured table id): when the
        signal carries a ``data-collections`` array and none of its patterns
        full-matches this engine's ``table_name``, the signal is a no-op here.
        This is what makes ONE signal channel shared by N per-table engines
        (MultiTableEngine) address a subset of tables — exactly the
        reference's one-signal-table-many-collections shape. A signal without
        ``data-collections`` addresses every engine (broadcast), preserving
        the single-table behaviour.
        """
        out: dict[str, Any] = {"pause": False}
        dcs = sig.get("data-collections")
        if dcs is not None and self.config.table_name:
            if not data_collections_match(
                dcs, self.config.table_name, self.config.database
            ):
                return out
        t = sig.get("type")
        # every action but pause leaves an operator-visible marker in the
        # metrics stream (Log.java's whole purpose)
        mark: dict[str, Any] | None = {"signal": t}
        if t == "log":
            mark["message"] = sig.get("message", "")
        elif t == "pause":
            out["pause"] = True
            mark = None
        elif t == "execute-snapshot":
            # ExecuteSnapshot.java:34 — start a chunked ad-hoc snapshot;
            # durable state => consumed exactly once across restarts and
            # chunk position survives a crash (offset-embedded chunk
            # progress, AbstractIncrementalSnapshotChangeEventSource:294-358).
            #
            # source_offset = the source table's consistency position (DBLog
            # low watermark): chunk rows merge at this offset, so every
            # stream event past it wins. An IN-BAND signal defaults it to the
            # signal's own offset — the read-only watermark semantics
            # (MySqlReadOnlyIncrementalSnapshotChangeEventSource: watermarks
            # are observed log positions, nothing is written back): whoever
            # emitted the signal at offset S reads the source AFTER S, so the
            # chunk content reflects every change <= S. The out-of-band file
            # channel defaults to 0 ("source predates the stream") —
            # conservative and always safe: it can only under-prioritize a
            # chunk row whose content the stream already wrote identically.
            default_off = at_offset if at_offset is not None else 0
            self._save_incr_state(
                {
                    "active": True,
                    "position": 0,
                    "chunk_size": int(
                        sig.get("chunk_size", self.config.incremental_chunk_size)
                    ),
                    "source_offset": int(sig.get("source_offset", default_off)),
                }
            )
        elif t == "stop-snapshot":
            # StopSnapshot.java — cancel the in-flight ad-hoc snapshot.
            self._save_incr_state({"active": False, "position": 0, "chunk_size": 0})
        elif t == "pause-snapshot":
            # PauseIncrementalSnapshot.java — durably pause the in-flight
            # chunked snapshot AT its current chunk position; the stream keeps
            # applying. Survives restart (the flag lives in the same durable
            # state as the chunk position).
            st = self._incr_state()
            if st.get("active"):
                self._save_incr_state({**st, "paused": True})
        elif t == "resume-snapshot":
            # ResumeIncrementalSnapshot.java — resume chunk emission exactly
            # where pause-snapshot left it.
            st = self._incr_state()
            if st.get("active"):
                self._save_incr_state({**st, "paused": False})
        elif t == "schema-changes":
            # SchemaChanges.java — ad-hoc schema-change injection: apply the
            # payload's TableChanges to the registry + durable history as if
            # they had arrived from the schema-change source. Idempotent by
            # version (replaying an already-known version is a no-op).
            from debezium_spark.plans.registry import SchemaChange

            for ch in sig.get("changes", []):
                change = SchemaChange(
                    int(ch["offset"]), int(ch["version"]), ch.get("ddl", ""),
                    ch["table_changes"],
                )
                if self.registry().inject(change) and change.table_changes != "create":
                    # durable immediately — the signal is consumed exactly once,
                    # so a restart before the change offset is crossed must
                    # recover it from history (replay() dedups by version, so
                    # the later batch-crossing record is a no-op)
                    self.history.record(change)
            mark["message"] = f"{len(sig.get('changes', []))} change(s) injected"
        else:
            mark = None
        if mark is not None:
            self._append_jsonl(self._metrics_path, [mark])
        return out

    def _poll_signals(self) -> dict[str, Any]:
        """Out-of-band signal file poll at the batch boundary (the Kafka signal
        topic analogue). Each JSONL row is applied via
        :meth:`_apply_signal_action`; consumed signals never re-fire — the
        consumed count is durable in the work dir. For signals totally ordered
        with the data, use the in-band channel
        (``signal_data_collection=True``, op='s' WAL rows)."""
        cfg = self.config
        out: dict[str, Any] = {"pause": False}
        if not cfg.signal_path or not os.path.exists(cfg.signal_path):
            return out
        consumed = 0
        if os.path.exists(self._signal_state_path):
            with open(self._signal_state_path) as f:
                consumed = int(f.read().strip() or 0)
        with open(cfg.signal_path) as f:
            lines = [x for x in f if x.strip()]
        for line in lines[consumed:]:
            res = self._apply_signal_action(json.loads(line))
            out["pause"] = out["pause"] or res["pause"]
        atomic_write(self._signal_state_path, str(len(lines)))
        return out

    # --------------------------------------------------- in-band signal channel
    def _inband_marker(self) -> int:
        if os.path.exists(self._inband_state_path):
            with open(self._inband_state_path) as f:
                return int(f.read().strip() or -1)
        return -1

    def _save_inband_marker(self, off: int) -> None:
        atomic_write(self._inband_state_path, str(int(off)))

    def _inband_signals_in(
        self, wal: DataFrame, lo: int, hi: int
    ) -> list[tuple[int, dict[str, Any]]]:
        """op='s' signal rows in (lo, hi], offset order. Shape mirrors the
        reference's captured signal table (id, type, data) mapped onto the
        repo-table WAL: repo=id, path=type, after.content=JSON args
        (Signal.java:1-178 — the signal table is itself captured, so signals
        are totally ordered with the data stream). The scan is offset-sliced
        (pushed down) and op-filtered — a no-match batch costs one pruned
        2-column scan."""
        if "op" not in wal.columns:
            return []
        # Multi-table shape: the dispatcher routes every op='s' row to every
        # per-table engine with the raw signal JSON lifted into
        # ``_signal_data`` (the per-table payload schema can't carry it —
        # Signal.java's signal table has its own schema).
        data_col = self._content_col(wal, "_signal_data")
        rows = (
            wal.where(
                (F.col("op") == "s")
                & (F.col("offset") > lo)
                & (F.col("offset") <= hi)
            )
            .select(
                "offset",
                data_col.alias("data"),
                (F.col("path") if "path" in wal.columns else F.lit(None)).alias(
                    "sig_type"
                ),
            )
            .orderBy("offset")
            .collect()
        )
        out = []
        for r in rows:
            try:
                d = json.loads(r["data"]) if r["data"] else {}
            except ValueError:
                d = {}
            if "type" not in d and r["sig_type"]:
                d["type"] = r["sig_type"]
            out.append((int(r["offset"]), d))
        return out

    @staticmethod
    def _content_col(df: DataFrame, column: str) -> F.Column:
        """``column`` if ``df`` has it, else the payload's ``after.content``,
        else null: where a control row (signal, message) keeps its text."""
        if column in df.columns:
            return F.col(column)
        if "after" in df.columns and "content" in df.schema["after"].dataType.names:
            return F.col("after").getField("content")
        return F.lit(None).cast("string")

    # ------------------------------------------------- programmatic signal API
    def execute_snapshot(
        self, *, source_offset: int | None = None, chunk_size: int | None = None
    ) -> None:
        """Start a chunked ad-hoc incremental snapshot programmatically — the
        READ-ONLY variant: no writable signal file/table is required
        (MySqlReadOnlyIncrementalSnapshotChangeEventSource.java:1 — watermarks
        come from observed log positions instead of signal-table writes).

        ``source_offset`` is the snapshot's low watermark: chunk rows merge at
        this offset, so stream events past it win and lake rows below it lose.
        Default (None) = the lake's committed offset — the observed-WAL
        watermark — which REQUIRES that ``snapshot_source`` reflects every
        change up to that offset (true whenever the source is exported from
        the live table now). Pass 0 for a source of unknown freshness."""
        if not self.snapshot_source:
            raise ValueError("execute_snapshot requires snapshot_source")
        if source_offset is None:
            source_offset = (
                LakeTable(self.spark, self.target_path).committed_max_offset
                if LakeTable.exists(self.target_path)
                else 0
            )
        self._apply_signal_action(
            {
                "type": "execute-snapshot",
                "source_offset": max(int(source_offset), 0),
                "chunk_size": int(chunk_size or self.config.incremental_chunk_size),
            }
        )

    def stop_snapshot(self) -> None:
        self._apply_signal_action({"type": "stop-snapshot"})

    def pause_snapshot(self) -> None:
        self._apply_signal_action({"type": "pause-snapshot"})

    def resume_snapshot(self) -> None:
        self._apply_signal_action({"type": "resume-snapshot"})

    # ----------------------------------------- signal-driven incremental snapshot
    def _incr_state(self) -> dict[str, Any]:
        if os.path.exists(self._incr_state_path):
            with open(self._incr_state_path) as f:
                return json.load(f)
        return {"active": False, "position": 0, "chunk_size": 0}

    def _save_incr_state(self, st: dict[str, Any]) -> None:
        atomic_write(self._incr_state_path, json.dumps(st))

    def _ensure_chunk_plan(self, st: dict[str, Any]) -> dict[str, Any]:
        """Compute per-chunk key bounds ONCE per execute-snapshot and persist
        them (``_incr_chunks.jsonl``). Every later batch reads its chunk window
        with pushed-down key-range predicates — O(chunk), not O(table) — the
        keyset pagination of
        AbstractIncrementalSnapshotChangeEventSource.java:199-259. Recompute
        after a crash-before-save is idempotent: the snapshot source is an
        immutable parquet snapshot and no chunk was emitted yet."""
        if st.get("n_chunks") is not None:
            return st
        from debezium_spark.sources.snapshot import chunk_bounds_frame

        cs = st["chunk_size"] or self.config.incremental_chunk_size
        src = self.spark.read.parquet(self.snapshot_source)
        bf, total, persisted = chunk_bounds_frame(
            src, self.config.key_columns, chunk_size=cs
        )
        n_chunks = (total + cs - 1) // cs
        fmt = (
            "jsonl"
            if n_chunks <= self.config.incremental_bounds_driver_max
            else "parquet"
        )
        try:
            if fmt == "jsonl":
                # small plan: driver-resident list + JSONL sidecar (no per-batch
                # read job — the common case and the bench path)
                key_cols = self.config.key_columns
                rows = bf.collect()
                by_chunk = {int(r["_chunk"]): [r[c] for c in key_cols] for r in rows}
                bounds = [
                    {"chunk": c, "hi": by_chunk[c]} for c in range(n_chunks)
                ]
                atomic_write(
                    self._incr_bounds_path,
                    "".join(json.dumps(b) + "\n" for b in bounds),
                )
                self._bounds_cache = bounds
            else:
                # big plan: bounds NEVER materialize on the driver — land them
                # range-clustered on _chunk so each batch's window read prunes
                # to one file via parquet min/max stats (10^8 chunks = a few GB
                # of parquet, a per-batch read of <= chunks_per_batch+1 rows)
                n_files = max(n_chunks // 65536, 1)
                bf.repartitionByRange(n_files, F.col("_chunk")).write.mode(
                    "overwrite"
                ).parquet(self._incr_bounds_parquet)
                self._bounds_cache = None
        finally:
            persisted.unpersist()
        st = {
            **st,
            "chunk_size": cs,
            "n_chunks": n_chunks,
            "total_rows": total,
            "bounds_format": fmt,
        }
        self._save_incr_state(st)
        return st

    def _chunk_window_bounds(
        self, lo_chunk: int, hi_chunk: int, *, fmt: str = "jsonl"
    ) -> tuple[list[dict], list | None]:
        """Bounds of chunks [lo_chunk, hi_chunk) + the exclusive lower key
        (the previous chunk's hi), from the in-memory cache / durable JSONL
        sidecar (small plans), or from the parquet sidecar (plans too big for
        driver memory): a pushed-down ``_chunk`` range read of at most
        ``chunks_per_batch + 1`` rows — per-batch driver memory is O(window)
        no matter how many chunks the snapshot has."""
        if fmt == "parquet":
            key_cols = self.config.key_columns
            rows = sorted(
                self.spark.read.parquet(self._incr_bounds_parquet)
                .where(
                    (F.col("_chunk") >= lo_chunk - 1) & (F.col("_chunk") < hi_chunk)
                )
                .collect(),
                key=lambda r: r["_chunk"],
            )
            by_chunk = {int(r["_chunk"]): [r[c] for c in key_cols] for r in rows}
            window = [
                {"chunk": c, "hi": by_chunk[c]} for c in range(lo_chunk, hi_chunk)
            ]
            lo_key = by_chunk[lo_chunk - 1] if lo_chunk > 0 else None
            return window, lo_key
        if self._bounds_cache is None:
            self._bounds_cache = self._read_jsonl(self._incr_bounds_path)
        window = self._bounds_cache[lo_chunk:hi_chunk]
        lo_key = self._bounds_cache[lo_chunk - 1]["hi"] if lo_chunk > 0 else None
        return window, lo_key

    def _snapshot_chunk_rows(
        self, wal_schema, lo: int
    ) -> DataFrame | None:
        """Next chunk window of the in-flight ad-hoc snapshot as WAL-shaped READ
        rows at the snapshot's source_offset (the DBLog low watermark).

        The window is read by key range against the chunk plan computed once at
        snapshot start (:meth:`_ensure_chunk_plan`): the leading key column's
        [lo, hi] range is pushed to the parquet scan (row-group pruning on a
        key-clustered source) and the exact lexicographic tuple filter runs
        post-scan — per-batch work scales with the chunk window, never the
        table.

        The DBLog window dedup is subsumed by the LWW reduce + merge offset
        guard: every stream event past the watermark outranks a chunk row, so
        a chunk row loses against any event that touched its key — in this
        batch, an earlier batch, or a retained delete tombstone. No key is
        ever lost or resurrected; chunk lineage is appended to metrics per
        batch."""
        st = self._incr_state()
        if not st["active"] or not self.snapshot_source:
            return None
        if st.get("paused"):
            return None  # pause-snapshot in force; position is durable
        cfg = self.config
        st = self._ensure_chunk_plan(st)
        cs = st["chunk_size"]
        if st["n_chunks"] == 0 or st["position"] >= st["n_chunks"]:
            self._save_incr_state(
                {"active": False, "position": st["position"], "chunk_size": cs}
            )
            return None
        key_cols = cfg.key_columns
        p = st["position"]
        p_hi = min(p + cfg.incremental_chunks_per_batch, st["n_chunks"])
        window_bounds, lo_key = self._chunk_window_bounds(
            p, p_hi, fmt=st.get("bounds_format", "jsonl")
        )
        hi_key = window_bounds[-1]["hi"]

        def lit_key(kv: list) -> F.Column:
            return F.struct(
                *[F.lit(v).alias(c) for c, v in zip(key_cols, kv)]
            )

        src = self.spark.read.parquet(self.snapshot_source)
        # Leading-column range reaches the parquet scan as PushedFilters
        # (PLANS.md §CDC incremental chunk read); struct comparisons don't
        # push down, so the exact window membership is a post-scan filter.
        k0 = key_cols[0]
        src = src.where(F.col(k0) <= F.lit(hi_key[0]))
        if lo_key is not None:
            src = src.where(F.col(k0) >= F.lit(lo_key[0]))
        tup = F.struct(*[F.col(c) for c in key_cols])
        pred = tup <= lit_key(hi_key)
        if lo_key is not None:
            pred = pred & (tup > lit_key(lo_key))
        window = src.where(pred)
        # Exact chunk id by bound (first-match when-chain over <= chunks_per_batch
        # bounds) — lineage counts are actual rows read, not the nominal plan.
        chunk_id = None
        for b in window_bounds:
            cond = tup <= lit_key(b["hi"])
            chunk_id = (
                F.when(cond, F.lit(b["chunk"]))
                if chunk_id is None
                else chunk_id.when(cond, F.lit(b["chunk"]))
            )

        lineage = (
            window.groupBy(chunk_id.cast("long").alias("chunk_id"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.max(F.struct(*[F.col(c) for c in key_cols])).alias("max_key"),
            )
            .collect()
        )
        self._append_jsonl(
            self._metrics_path,
            [
                {
                    "incremental_chunk": int(r["chunk_id"]),
                    "n_rows": int(r["n_rows"]),
                    "max_key": list(r["max_key"]),
                }
                for r in lineage
            ],
        )
        # Advance the durable position only AFTER the batch commits (run()
        # saves _incr_pending_state post-merge): a crash in between re-reads
        # the same chunks, and re-merging them is a no-op under the strict
        # offset guard — at-least-once chunks + idempotent merge = exactly-once.
        done = p_hi >= st["n_chunks"]
        self._incr_pending_state = {**st, "active": not done, "position": p_hi}
        after_t = wal_schema["after"].dataType
        src_cols = set(window.columns)
        after = F.struct(
            *[
                (F.col(f.name).cast(f.dataType) if f.name in src_cols
                 else F.lit(None).cast(f.dataType)).alias(f.name)
                for f in after_t.fields
            ]
        )
        src_off = int(st.get("source_offset", 0))
        rows = window.select(
            F.lit(src_off).cast("long").alias("offset"),
            F.lit(0).cast("long").alias("ts_ms"),
            F.lit(E.OP_READ).alias("op"),
            *[F.col(c) for c in cfg.key_columns],
            F.lit(None).cast(wal_schema["before"].dataType).alias("before"),
            after.alias("after"),
            F.lit(False).alias("is_tombstone"),
            F.lit(0).cast("long").alias("tx_id"),
            F.lit(self.registry().version_at_offset(src_off)).alias("schema_version"),
            F.lit(True).alias("_adhoc"),
            *(
                [F.lit(cfg.table_name).alias(TABLE)]
                if TABLE in wal_schema.names else []
            ),
        )
        return rows

    # ------------------------------------------------------------- transforms
    def _effective_snapshot_mode(self) -> str:
        """Resolve when_needed/schema_only_recovery to a concrete mode, decided
        once per engine lifetime (the reference decides at connector start —
        MySqlConnectorConfig.java:131-167).

          * when_needed -> initial if there is no resumable lake state, else
            never (snapshot only when required);
          * schema_only_recovery -> schema_only for event filtering; the
            history rebuild happens at run() start.
        """
        if self._snapshot_mode_resolved is None:
            mode = self.config.snapshot_mode
            if mode == SNAPSHOT_WHEN_NEEDED:
                resumable = (
                    LakeTable.exists(self.target_path)
                    and LakeTable(self.spark, self.target_path).committed_batch_id >= 0
                )
                mode = SNAPSHOT_NEVER if resumable else SNAPSHOT_INITIAL
            elif mode == SNAPSHOT_SCHEMA_ONLY_RECOVERY:
                mode = SNAPSHOT_SCHEMA_ONLY
            self._snapshot_mode_resolved = mode
        return self._snapshot_mode_resolved

    def _prefilter(self, slice_df: DataFrame) -> DataFrame:
        """Pre-envelope WAL row filters: table include/exclude, snapshot mode,
        truncate control rows. Shared by the envelope pipeline and the DLQ
        quarantine so a row the pipeline would never process is never DLQ'd."""
        cfg = self.config
        df = slice_df
        if cfg.table_include or cfg.table_exclude:
            # Dispatcher-level table filter (EventDispatcher.java:189-196). A WAL
            # with a `table` column filters per event; the single-table WAL
            # filters on the configured table id — constant-folded by Catalyst.
            tbl = (
                F.col("table")
                if "table" in df.columns
                else F.lit(f"{cfg.database}.{cfg.table_name}")
            )
            df = X.table_filter(
                df.withColumn("_tbl", tbl), cfg.table_include, cfg.table_exclude,
                col="_tbl",
            ).drop("_tbl")
        # Ad-hoc (signal-driven) snapshot chunks bypass the snapshot-mode op
        # filter: execute-snapshot exists precisely for snapshot.mode=never
        # (AbstractIncrementalSnapshotChangeEventSource is the never-mode path).
        adhoc = (
            F.coalesce(F.col("_adhoc"), F.lit(False))
            if "_adhoc" in df.columns
            else F.lit(False)
        )
        mode = self._effective_snapshot_mode()
        if mode in (SNAPSHOT_NEVER, SNAPSHOT_SCHEMA_ONLY):
            df = df.where((F.col("op") != E.OP_READ) | adhoc)  # stream-only (S4)
        elif mode == SNAPSHOT_INITIAL_ONLY:
            df = df.where((F.col("op") == E.OP_READ) | adhoc)
        if cfg.handle_truncate:
            df = df.where(F.col("op") != "t")  # control event, applied in merge
        # Logical decoding messages ('m') are published on their own topic by a
        # separate sender (LogicalDecodingMessageMonitor.java:70,114) and never
        # carry a table row — they must not reach the merge/DLQ paths. In-band
        # signal rows ('s') are control rows consumed by the run loop at their
        # exact offset (Signal.java — the signal table's own change events are
        # not data either).
        df = df.where(~F.col("op").isin(E.OP_MESSAGE, "s"))
        if "_signal_data" in df.columns:
            df = df.drop("_signal_data")  # signal payload never reaches the lake
        # ``_adhoc`` is kept: wrap_wal turns it into the source.snapshot
        # 'incremental' marker and its fixed projection drops it afterwards
        # (SnapshotRecord.INCREMENTAL tagging).
        return df

    def _publish_side_channels(self, slice_df: DataFrame, *, batch_id: int) -> None:
        """Engine-level heartbeat + logical-decoding-message topic sinks.

        The reference dispatches heartbeats alongside data
        (EventDispatcher.java:237-240) and publishes MESSAGE events via a
        separate monitor (LogicalDecodingMessageMonitor.java:70,114) — neither
        touches the table merge. Here both land as parquet topic sinks under
        ``<work_dir>/_topics/<topic>/batch_id=N`` with batch-scoped OVERWRITE
        (replaying a crashed batch rewrites, never duplicates — same pattern
        as the DLQ). Disabled by default (heartbeat_interval_ms=0,
        publish_messages=False): the enabled cost is one slim map-side-combined
        aggregation and/or one op-pruned scan per batch."""
        cfg = self.config
        cols = slice_df.columns
        root = os.path.join(self.work_dir, "_topics")
        if cfg.heartbeat_interval_ms > 0 and {"ts_ms", "offset"} <= set(cols):
            from debezium_spark.functions.transforms import heartbeat_records

            data = slice_df
            if "op" in cols:  # heartbeats describe DATA progress, not control rows
                data = data.where(~F.col("op").isin(E.OP_MESSAGE, "s"))
            hb = heartbeat_records(
                data,
                interval_ms=cfg.heartbeat_interval_ms,
                server_name=cfg.server_name,
                topics_prefix=cfg.heartbeat_topics_prefix,
            )
            hb.write.mode("overwrite").parquet(
                os.path.join(
                    root,
                    f"{cfg.heartbeat_topics_prefix}.{cfg.server_name}",
                    f"batch_id={batch_id}",
                )
            )
        if cfg.publish_messages and "op" in cols:
            m = slice_df.where(F.col("op") == E.OP_MESSAGE)
            prefix = (
                F.col("msg_prefix") if "msg_prefix" in cols else F.col("repo")
            )
            msgs = E.wrap_messages(
                m,
                prefix=prefix,
                content=self._content_col(slice_df, "msg_content"),
                offset=F.col("offset"),
                ts_ms=F.col("ts_ms").cast("long") if "ts_ms" in cols else None,
                prefix_include=cfg.message_prefix_include,
                prefix_exclude=cfg.message_prefix_exclude,
                connector=cfg.connector,
                server_name=cfg.server_name,
                db=cfg.database,
                version=cfg.version,
            )
            msgs.write.mode("overwrite").parquet(
                os.path.join(root, f"{cfg.server_name}.message", f"batch_id={batch_id}")
            )
        if (
            cfg.provide_transaction_metadata
            and {"tx_id", "offset", "op"} <= set(cols)
        ):
            # TransactionMonitor.java:36-37,168-203 — BEGIN/END boundary
            # records on the dedicated <server>.transaction topic, emitted
            # alongside the enriched data events. Batch-scoped like the other
            # side channels: a tx spanning two offset slices emits per-slice
            # boundaries (the reference likewise restarts its tx context on
            # task restart). Counts tally DISPATCHED events only — the monitor
            # sits after the table/op filters, so rows that table_include or
            # the snapshot-mode filter exclude never reach a boundary record.
            from debezium_spark.operators.resolver import transaction_boundaries

            tb = transaction_boundaries(
                self._prefilter(slice_df),
                topic_prefix=cfg.server_name,
                collection=f"{cfg.database}.{cfg.table_name}",
            )
            tb.write.mode("overwrite").parquet(
                os.path.join(
                    root, f"{cfg.server_name}.transaction", f"batch_id={batch_id}"
                )
            )

    def topic(self, name: str) -> DataFrame:
        """Read a published side-channel topic sink (heartbeats, messages) —
        e.g. ``engine.topic('repos.message')``."""
        return self.spark.read.parquet(
            os.path.join(self.work_dir, "_topics", name)
        )

    def _envelope(
        self, slice_df: DataFrame, *, upto_offset: int | None = None
    ) -> DataFrame:
        """WAL slice -> filtered, SMT-transformed envelope stream (what Debezium
        would publish to Kafka). ``upto_offset``: the batch's high watermark —
        only schema renames/drops already in force are applied, so the envelope
        always matches the lake schema the merge will see."""
        cfg = self.config
        df = self._prefilter(slice_df)
        # Malformed events (unresolvable key) flow through the resolver under
        # their null key and surface as action rows with a null key column —
        # detected for free in the lineage aggregation (no dedicated scan job)
        # and excluded from the merge; see _commit_batch for the P18 modes.
        # No dropDuplicates here: duplicate offsets are identical re-deliveries and
        # the per-key max_by((offset,seq)) reduce is invariant to them, so the LWW
        # phase subsumes dedup-by-offset (S8) without its full-width shuffle.
        # dedup_by_offset stays available for consumers of raw envelope streams.
        key_cols = self._keys(slice_df)
        env = E.wrap_wal(
            df,
            key_cols=key_cols,
            connector=cfg.connector,
            server_name=cfg.server_name,
            db=cfg.database,
            version=cfg.version,
        )
        reg = self.registry()
        # Align to the LAKE's schema, not just this batch's watermark: the file
        # source may deliver a pre-rename segment after the rename was already
        # applied by a higher-offset batch (order-tolerance, test_streaming).
        ddl_hi = (
            None if upto_offset is None  # None = align the full history
            else max(upto_offset, reg.applied_offset)
        )
        renames = reg.payload_renames(ddl_hi)
        drops = reg.payload_drops(ddl_hi)
        if renames or drops:
            # Pre-rename events carry the old column name; coalesce them into
            # the current name and project dropped columns away (TableChanges
            # drop/rename — see registry.align_envelope_columns).
            from debezium_spark.plans.registry import align_envelope_columns

            env = align_envelope_columns(env, renames, drops)
        if not cfg.tombstones_on_delete:
            # tombstones.on.delete=false (EventDispatcher.java:119,408-420):
            # suppress the (key, null) companion records. Lake state is
            # unaffected — the delete itself still resolves to ACTION_DELETE.
            env = env.where(F.col("value").isNotNull())
        env = X.op_skip_filter(env, cfg.skipped_operations)
        env = R.split_pk_changes(env, key_cols)
        chain = list(cfg.custom_converters)
        if (
            cfg.decimal_handling_mode
            or cfg.time_precision_mode
            or cfg.binary_handling_mode
        ):
            # engine-wide handling modes (JdbcValueConverters.java:73-136,
            # CommonConnectorConfig BinaryHandlingMode): packaged as a
            # built-in converter APPENDED to the user chain — user converters
            # are consulted first, matching CustomConverterRegistry's
            # converters-before-builtins order.
            from debezium_spark.functions.converters import handling_mode_converter

            chain.append(
                handling_mode_converter(
                    cfg.decimal_handling_mode,
                    cfg.time_precision_mode,
                    cfg.binary_handling_mode,
                )
            )
        if chain:
            # converters option (CustomConverterRegistry.java:32): plug-ins
            # claim payload columns at plan-build time; conversions are pure
            # column algebra applied to both images. After PK-split/alignment
            # so a claim sees the lake-schema column names.
            from debezium_spark.functions.custom import CustomConverterRegistry

            env = CustomConverterRegistry(chain).apply_to_envelope(
                env,
                f"{cfg.database}.{cfg.table_name}",
                skip_columns=cfg.key_columns,
            )
        for col, mask in cfg.mask_columns.items():
            env = X.mask_column(env, col, mask)
        for col, salt in cfg.hash_mask_columns.items():
            env = X.hash_mask_column(env, col, salt)
        for col, n in cfg.truncate_columns.items():
            env = X.truncate_column(env, col, n)
        if cfg.column_include or cfg.column_exclude:
            env = X.project_columns(
                env, cfg.column_include, cfg.column_exclude, cfg.key_columns
            )
        if cfg.provide_transaction_metadata:
            # TransactionMonitor.java:56-72: attach transaction{id, total_order,
            # data_collection_order}. Opt-in — it costs a per-tx ranking window.
            env = R.transaction_metadata(env)
        return env

    def _keys(self, df: DataFrame) -> tuple[str, ...]:
        """The LWW key of ``df``'s rows: the table's key columns, then the
        table column of a multi-table frame (the lake bucket stays a function
        of the first key column)."""
        keys = tuple(self.config.key_columns)
        return (*keys, TABLE) if TABLE in df.columns else keys

    def envelope_stream(
        self, lo: int | None = None, hi: int | None = None
    ) -> DataFrame:
        """Public envelope stream over a WAL offset range — the record stream a
        Kafka sink would see, honoring table filters, skipped ops, SMTs,
        tombstones_on_delete, and provide_transaction_metadata."""
        wal = self._wal()
        if lo is not None:
            wal = wal.where(F.col("offset") > lo)
        if hi is not None:
            wal = wal.where(F.col("offset") <= hi)
        return self._envelope(wal, upto_offset=hi)

    def _winner_env(self, slice_df: DataFrame) -> DataFrame | None:
        """Key-only replica of the envelope row semantics for the LWW winner
        phase.

        The full envelope materializes ``value`` as one projection alias, and
        Catalyst will not inline a multi-referenced complex alias — so any
        consumer that extracts several value fields (the PK-split decision)
        pins the FULL payload into the scan, content column included, even
        though the winner aggregation only ranks (key, offset, seq). This
        replica re-runs exactly the row-set-determining steps (prefilter,
        envelope wrap, tombstone suppression, op skip, PK split) over a
        payload projection that carries ONLY the key fields, so "read the
        whole value" is itself slim. Steps that never change (key, offset,
        seq) — column masks/truncates/projections, rename/drop alignment
        (key columns cannot be renamed/dropped), transaction metadata — are
        skipped; resolve_lww uses this stream solely to pick winning
        ordinals, and every payload byte flows through the broadcast-filtered
        phase 2 of the full pipeline.
        """
        cfg = self.config
        key_cols = self._keys(slice_df)
        df = self._prefilter(slice_df)
        if not {"before", "after"}.issubset(set(df.columns)):
            return None  # non-standard WAL shape: fall back to the full env

        def slim(col: str) -> F.Column:
            return F.struct(
                *[F.col(col).getField(c).alias(c) for c in cfg.key_columns]
            )

        cols = [
            F.col("offset"), F.col("ts_ms"), F.col("op"),
            *[F.col(c) for c in key_cols if c in df.columns],
            slim("before").alias("before"),
            slim("after").alias("after"),
        ]
        for opt in ("is_tombstone", "tx_id", "schema_version"):
            if opt in df.columns:
                cols.append(F.col(opt))
        env = E.wrap_wal(
            df.select(*cols),
            key_cols=key_cols,
            connector=cfg.connector,
            server_name=cfg.server_name,
            db=cfg.database,
            version=cfg.version,
        )
        if not cfg.tombstones_on_delete:
            env = env.where(F.col("value").isNotNull())
        env = X.op_skip_filter(env, cfg.skipped_operations)
        return R.split_pk_changes(env, key_cols)

    def _transform(
        self,
        slice_df: DataFrame,
        *,
        upto_offset: int | None = None,
        bucket_into: int | None = None,
        offset_span: int | None = None,
    ) -> DataFrame:
        """WAL slice -> resolved actions (one per key). ``bucket_into``:
        cluster the LWW output by the lake bucket transform (single payload
        shuffle straight into the write layout — resolver docstring).
        ``offset_span``: ``hi - lo`` of the slice when known — offsets are
        unique per event and PK-split emits at most 2 keys per event, so
        ``2 * span (+ chunk rows)`` bounds the live-key count for free and
        lets strategy='auto' skip its probe job on every batch that cannot
        possibly exceed the broadcast budget."""
        bound = None
        if offset_span is not None:
            chunk_rows = (
                self.config.incremental_chunks_per_batch
                * max(self._incr_state().get("chunk_size", 0), 1024)
                if self.snapshot_source
                else 0
            )
            bound = 2 * offset_span + chunk_rows
        return R.resolve_lww(
            self._envelope(slice_df, upto_offset=upto_offset),
            key_cols=self._keys(slice_df),
            bucket_into=(
                (bucket_into, lambda k: bucket_expr(k, bucket_into))
                if bucket_into
                else None
            ),
            winner_source=self._winner_env(slice_df),
            broadcast_key_budget=self.config.lww_broadcast_key_budget,
            live_key_bound=bound,
        )

    # ------------------------------------------------------------- batch apply
    def _key_null(self) -> F.Column:
        """True where a key column is null: a malformed event (P18)."""
        null = F.lit(False)
        for c in self.config.key_columns:
            null = null | F.col(c).isNull()
        return null

    @staticmethod
    def _own(df: DataFrame, members: list[_Member]) -> DataFrame:
        """The rows of ``df`` that belong to ``members``: every row of a
        single-table frame."""
        if TABLE not in df.columns:
            return df
        return df.where(F.col(TABLE).isin([m.name for m in members]))

    @staticmethod
    def _lineage(rows: DataFrame, bucket: F.Column, is_delete: F.Column) -> list:
        """Per-lake-bucket lineage in ONE aggregation job: max offset, upserts
        and deletes per ``bucket`` (and per table of a multi-table frame).
        Rows whose key has a null column carry a null bucket and land in the
        null ``_bucket`` row (P18, EventDispatcher.java:244-258), so malformed
        keys are detected without a dedicated scan job."""
        return [
            r.asDict()
            for r in rows.withColumn("_bucket", bucket)
            .groupBy(*([TABLE] if TABLE in rows.columns else []), "_bucket")
            .agg(
                F.max("_offset").alias("max_offset"),
                F.sum(F.when(~is_delete, 1).otherwise(0)).alias("rows_applied"),
                F.sum(F.when(is_delete, 1).otherwise(0)).alias("rows_deleted"),
            )
            .collect()
        ]

    def _commit_batch(
        self,
        members: list[_Member],
        lineage_all: list,
        *,
        hi: int,
        t0: float,
        malformed: Callable[[_Member], DataFrame],
        commit: Callable[[_Member, dict, list[int]], dict[str, Any]],
    ) -> None:
        """Commit epilogue of every drive mode, one member at a time.

        ``lineage_all``: per-bucket rows (``_bucket``, max_offset,
        rows_applied, rows_deleted, and the table of a multi-table frame)
        whose null-``_bucket`` rows count the malformed keys;
        ``malformed(m)``: the rows quarantined under failure_handling='warn';
        ``commit(m, stats, touched_buckets)``: the lake commit of the
        member's well-keyed rows (a merge, or the staged-file commit).

        Per member, under its own engine's settings: the malformed-key policy
        runs BEFORE the commit ('fail' leaves the table unchanged, staged
        files stay orphaned, the same crash contract as a mid-write failure;
        the 'warn' DLQ is written before the batch becomes visible); a
        committed batch then appends its ``_checkpoints`` lineage and
        ``_metrics`` rows and runs the bounded-storage sweep; the result is
        appended to ``m.results``. A member that fails keeps the error in
        ``m.error`` and the others still commit."""
        for m in members:
            eng = m.eng
            cfg = eng.config
            rows = [r for r in lineage_all if r.get(TABLE, m.name) == m.name]
            lineage = [r for r in rows if r["_bucket"] is not None]
            n_bad = sum(
                r["rows_applied"] + r["rows_deleted"]
                for r in rows
                if r["_bucket"] is None
            )
            try:
                if n_bad:
                    if cfg.failure_handling == "fail":
                        raise ValueError(
                            f"batch {m.batch_id}: {n_bad} malformed key(s) (null "
                            "key column); set failure_handling='warn'|'skip' to "
                            "quarantine/drop"
                        )
                    if cfg.failure_handling == "warn":
                        # Batch-scoped overwrite => replaying a crashed batch
                        # rewrites (not duplicates) its quarantine.
                        malformed(m).write.mode("overwrite").parquet(
                            os.path.join(eng.work_dir, "_dlq", f"batch_id={m.batch_id}")
                        )
                    eng._append_jsonl(
                        eng._metrics_path,
                        [{"batch_id": m.batch_id, "malformed_skipped": int(n_bad)}],
                    )
                stats = {
                    "rows_applied": int(sum(r["rows_applied"] for r in lineage)),
                    "rows_deleted": int(sum(r["rows_deleted"] for r in lineage)),
                }
                res = commit(m, stats, [int(r["_bucket"]) for r in lineage])
            except Exception as e:  # noqa: BLE001 — the other members go on
                m.error = e
                continue
            wall_ms = int((time.time() - t0) * 1000)
            if res.get("applied"):
                eng._append_jsonl(
                    eng._ckpt_path,
                    [
                        {
                            "batch_id": m.batch_id,
                            "partition_id": int(r["_bucket"]),
                            "max_offset": int(r["max_offset"]),
                            "rows_applied": int(r["rows_applied"]),
                            "rows_deleted": int(r["rows_deleted"]),
                            "wall_ms": wall_ms,
                        }
                        for r in lineage
                    ],
                )
                eng._append_jsonl(
                    eng._metrics_path,
                    [
                        {
                            "batch_id": m.batch_id,
                            "lo": m.lo,
                            "hi": hi,
                            "keys_touched": stats["rows_applied"] + stats["rows_deleted"],
                            "rows_applied": stats["rows_applied"],
                            "rows_deleted": stats["rows_deleted"],
                            "wall_ms": wall_ms,
                        }
                    ],
                )
                eng._maybe_expire(m.lake, m.batch_id + 1)
            m.results.append({**res, **stats, "wall_ms": wall_ms})

    def _apply_batch(
        self, members: list[_Member], slice_df: DataFrame, hi: int
    ) -> None:
        """Apply one batch, the rows of ``slice_df`` up to ``hi``, to the
        lakes of ``members`` (their ``batch_id``, ``lo`` and ``trunc`` set):
        schema DDL, then one LWW pipeline for all of them. Results and
        failures land on the members (:meth:`_commit_batch`)."""
        t0 = time.time()
        for m in members:
            m.eng._apply_ddl(m.lake, hi)
        span = max(hi - min(m.lo for m in members), 0)

        def malformed(m: _Member) -> DataFrame:
            return self._own(self._prefilter(slice_df), [m]).where(self._key_null())

        if not self._stageable(members):
            self._merge_actions(
                members, self._transform(slice_df, upto_offset=hi, offset_span=span),
                hi=hi, t0=t0, malformed=malformed,
            )
            return
        # Empty targets (initial snapshot / whole-log replay / post-truncate):
        # transform -> stage (one job) -> lineage from a narrow scan of the
        # staged files -> commit epilogue. vs the merge path this runs ONE
        # pipeline execution with ONE payload shuffle (resolver
        # ``bucket_into``), bucket-clustered end-to-end, no persist/columnar
        # cache, no merge join — the per-event cost that dominates a
        # 10^10-event replay. A multi-table frame stages every member's rows
        # in the same write and hands each lake its part.
        lake, by = members[0].lake, TABLE if TABLE in slice_df.columns else None
        staged = lake.stage_initial(
            self._transform(
                slice_df, upto_offset=hi, bucket_into=lake.n_buckets, offset_span=span
            ),
            batch_id=members[0].batch_id, truncate_below=members[0].trunc, by=by,
        )
        if staged is None:  # replayed batch (batch_id already committed)
            for m in members:
                m.results.append({"applied": False, "batch_id": m.batch_id,
                                  "rows_applied": 0, "rows_deleted": 0, "wall_ms": 0})
            return
        # One narrow aggregation over the staged files (offset/_deleted columns
        # + the partition values) yields lineage, batch stats, AND the
        # malformed count — the null-bucket partition rows.
        lineage_all = []
        if staged.get("tables") or staged.get("new_files") or staged.get("has_malformed"):
            lineage_all = self._lineage(
                self.spark.read.schema(
                    f"_offset bigint, _deleted boolean, {by + ' string, ' if by else ''}"
                    "_bucket int"
                ).parquet(staged["staging"]),
                F.col("_bucket"),
                F.col("_deleted"),
            )
        parts = (
            lake.split_staged(staged, {m.name: (m.lake, m.batch_id) for m in members})
            if by else {members[0].name: staged}
        )
        self._commit_batch(
            members, lineage_all, hi=hi, t0=t0, malformed=malformed,
            commit=lambda m, stats, _touched: m.lake.commit_staged(
                parts[m.name], batch_id=m.batch_id, max_offset=hi, stats=stats
            ),
        )

    @staticmethod
    def _stageable(members: list[_Member]) -> bool:
        """Whether the batch can go out in one staged write: every member's
        lake is empty and laid out like the others (schema, key columns,
        buckets, defaults, truncate watermark). Otherwise every member
        merges its own rows."""
        def layout(m: _Member):
            mf = m.lake.manifest(refresh=True)
            if mf["files"]:
                return None
            return (
                mf["schemas"][str(mf["schema_version"])], mf["key_cols"],
                mf["n_buckets"], mf.get("defaults"),
                max(mf.get("truncate_below", 0), m.trunc or 0),
            )

        layouts = [layout(m) for m in members]
        return layouts[0] is not None and all(x == layouts[0] for x in layouts)

    def _apply_ddl(self, lake: LakeTable, upto: int) -> None:
        """Apply the schema changes at offsets <= ``upto`` not yet in the lake
        (Iceberg-DDL analogue, idempotent) and record them in the history."""
        reg = self.registry()
        for change in reg.pending_upto(upto):
            reg.apply_to_lake(lake, change)
            if change.table_changes != "create":
                # The base CREATE is implicit in the registry's base schema;
                # durable history (B5) records only lake-mutating deltas.
                self.history.record(change)

    def _merge_actions(
        self, members: list[_Member], actions: DataFrame, *, hi: int | None,
        t0: float, malformed: Callable[[_Member], DataFrame] | None = None,
    ) -> None:
        """Merge step of the incremental batch and the stateful trigger:
        resolved ``actions`` -> per-bucket lineage -> :meth:`_commit_batch`
        with each member's ``lake.merge`` of its own rows. Persisted, so the
        pipeline behind the actions runs once for the lineage (which yields
        the touched buckets) and every merge join. ``hi=None``: the batch
        ends at its highest offset, and no actions commit nothing.
        ``malformed(m)``: the rows quarantined under failure_handling='warn'
        (default: the actions' null-key rows)."""
        actions = actions.persist()
        try:
            lineage = self._lineage(
                actions,
                key_bucket(self.config.key_columns, members[0].lake.n_buckets),
                F.col("action") == R.ACTION_DELETE,
            )
            if hi is None:
                if not lineage:
                    return
                hi = max(int(r["max_offset"]) for r in lineage)
            well_keyed = actions.where(~self._key_null())
            self._commit_batch(
                members, lineage, hi=hi, t0=t0,
                malformed=malformed
                or (lambda m: self._own(actions, [m]).where(self._key_null())),
                commit=lambda m, stats, touched: m.lake.merge(
                    self._own(well_keyed, [m]), batch_id=m.batch_id, max_offset=hi,
                    stats=stats, touched_buckets=touched, truncate_below=m.trunc,
                ),
            )
        finally:
            actions.unpersist()

    @staticmethod
    def _read_jsonl(path: str) -> list[dict]:
        if not os.path.exists(path):
            return []
        with open(path) as f:
            return [json.loads(x) for x in f if x.strip()]

    @staticmethod
    def _append_jsonl(path: str, rows: list[dict]) -> None:
        with open(path, "a") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    # ------------------------------------------------------ retriable restarts
    def _is_retriable(self, exc: BaseException) -> bool:
        """ErrorHandler.isRetriable + isCustomRetriable (ErrorHandler.java:
        56-85): base retriable class = storage-connectivity failures (an
        OSError anywhere in the cause chain — the connection-loss analogue of
        the per-connector isRetriable overrides); custom_retriable_exception
        widens it with a regex full-matched against every message in the
        chain, exactly like isCustomRetriable walking getCause()."""
        pattern = self.config.custom_retriable_exception
        seen: set[int] = set()
        e: BaseException | None = exc
        while e is not None and id(e) not in seen:
            seen.add(id(e))
            if isinstance(e, OSError):
                return True
            if pattern is not None:
                try:
                    if re.fullmatch(pattern, str(e), flags=re.DOTALL):
                        return True
                except re.error:
                    pass  # a bad pattern must not mask the real failure
            e = e.__cause__ or e.__context__
        return False

    def _with_restarts(self, fn) -> None:
        """Run ``fn`` to completion, restarting it after retriable failures
        (BaseSourceTask.java:204-261 startIfNeededAndPossible: stop, wait
        retriable.restart.connector.wait.ms, start from the last committed
        offset). Non-retriable failures and exhausted budgets propagate —
        the ConnectException path that stops the connector for good."""
        attempts = 0
        while True:
            try:
                return fn()
            except _PauseSignal:
                raise
            except Exception as e:  # noqa: BLE001 — classification is the point
                budget = self.config.errors_max_retries
                if not self._is_retriable(e) or (0 <= budget <= attempts):
                    raise
                attempts += 1
                self._append_jsonl(
                    self._metrics_path,
                    [{"connector_restart": attempts, "error": str(e)[:500]}],
                )
                time.sleep(self.config.retriable_restart_wait_ms / 1000.0)

    # ------------------------------------------------------- micro-batch core
    @staticmethod
    def _slice(src: DataFrame, members: list[_Member], hi: int) -> DataFrame:
        """The rows of ``src`` in (lo, hi] of each member, ``lo`` its own: a
        multi-table frame keeps each table's rows above its table's offset."""
        df = src.where(
            (F.col("offset") > min(m.lo for m in members)) & (F.col("offset") <= hi)
        )
        if TABLE not in src.columns:
            return df
        own = F.lit(False)
        for m in members:
            own = own | ((F.col(TABLE) == m.name) & (F.col("offset") > m.lo))
        return df.where(own)

    def _step(self, members: list[_Member], src: DataFrame, hi: int) -> None:
        """One micro-batch of run() and run_streaming() for ``members``, the
        lakes whose ``lo`` is below ``hi``: each member's rows of ``src`` (the
        whole WAL, or one streaming epoch) in offsets (lo, hi] plus the next
        window of its in-flight ad-hoc snapshot (the reference's incremental
        snapshot runs WHILE streaming) -> side-channel topics -> apply +
        commit (:meth:`_apply_batch`) -> durable snapshot position -> the
        in-band signal the batch ends at (the member's next pending signal,
        at ``hi``), applied only after the commit: every event before the
        signal is processed pre-action, every event after it post-action; a
        pause sets ``m.paused``. The highest of a member's TRUNCATE offsets in
        (lo, hi] clears its lake below it. A failure in the batch's shared
        steps (DDL, the LWW pipeline, the staged write, the lineage read)
        becomes ``m.error`` of every member of the batch that has no result
        yet, so the drive's other members go on."""
        for m in members:
            m.batch_id = m.lake.committed_batch_id + 1
            m.trunc = max((o for o in m.truncates if m.lo < o <= hi), default=None)
        slice_df = self._slice(src, members, hi)
        chunked = []
        for m in members:
            m.eng._publish_side_channels(self._own(slice_df, [m]), batch_id=m.batch_id)
            chunks = m.eng._snapshot_chunk_rows(src.schema, m.lo)
            if chunks is not None:
                slice_df = slice_df.unionByName(chunks, allowMissingColumns=True)
                chunked.append(m)
        done = [len(m.results) for m in members]
        try:
            self._apply_batch(members, slice_df, hi)
        except Exception as e:  # noqa: BLE001 — a shared step failed
            # every member without a result of this batch fails with it; the
            # members outside the batch go on (a failure is raised at the end)
            for m, n in zip(members, done):
                if m.error is None and len(m.results) == n:
                    m.error = e
        for m in members:
            if m.error is not None:
                continue
            if m in chunked:
                m.eng._save_incr_state(m.eng._incr_pending_state)
            m.lo = hi
            if m.pending and m.pending[0][0] == hi:
                off, sig = m.pending.pop(0)
                m.paused = m.eng._apply_signal_action(sig, at_offset=off)["pause"]
                m.eng._save_inband_marker(off)

    def _drain_snapshot(
        self, m: _Member, wal_schema: T.StructType, max_batches: int | None = None
    ) -> None:
        """The log is exhausted but this engine's in-flight ad-hoc snapshot
        may still have chunk windows left: emit chunk-only batches
        (WAL-shaped rows of ``wal_schema``) into member ``m``'s lake until it
        completes, a pause signal arrives, the member fails or its results
        reach ``max_batches``."""
        m.lo = m.lake.committed_max_offset
        while (
            self._incr_state()["active"]
            and self.snapshot_source
            and m.error is None
            and (max_batches is None or len(m.results) < max_batches)
            and not self._poll_signals()["pause"]
        ):
            chunks = self._snapshot_chunk_rows(wal_schema, m.lo)
            if chunks is None:
                break
            m.batch_id, m.trunc = m.lake.committed_batch_id + 1, None
            self._apply_batch([m], chunks, m.lo)
            if m.error is None:
                self._save_incr_state(self._incr_pending_state)

    # -------------------------------------------------------------- run modes
    def run(self, *, max_batches: int | None = None) -> list[dict[str, Any]]:
        """Deterministic offset-range batch replay until the WAL is exhausted.

        Resumable: picks up after the lake manifest's committed_max_offset. Batch
        slicing is by offset range, so parquet min/max stats prune unread segments
        (predicate pushdown on `offset`).

        Retriable failures (see :meth:`_is_retriable`) restart the replay in
        place after ``retriable_restart_wait_ms``; committed batches survive
        (``results`` accumulates across restarts), uncommitted work re-runs
        idempotently under the offset guard.
        """
        return self._run_group([self], max_batches=max_batches)[0]

    def _run_group(
        self,
        engines: list["CdcEngine"],
        *,
        projection: Callable[[DataFrame], DataFrame] | None = None,
        scan: tuple[DataFrame, Any] | None = None,
        max_batches: int | None = None,
    ) -> list[list[dict[str, Any]]]:
        """run() for the lakes of ``engines`` (this engine first: its settings
        drive the shared steps) over one WAL frame: ``projection`` of the raw
        log, by default this engine's ``wal_projection``. Each attempt reads
        the WAL once and runs one bounds pass; ``scan`` is the (frame,
        bounds) of a read already made for the first attempt. Returns each
        engine's batch results.

        A member that fails stops and the others run to the end; then the
        first failure is raised, and a retriable one restarts the drive, each
        member from its own committed offset."""
        members = [_Member(e) for e in engines]

        def attempt() -> None:
            nonlocal scan
            if scan is None:
                wal = (
                    self._wal() if projection is None
                    else projection(self.spark.read.parquet(self.wal_path))
                )
                scan = (wal, self._bounds(wal, [m.name for m in members]))
            (wal, bounds), scan = scan, None  # a restart reads again
            self._run_batches(members, wal, bounds, max_batches)

        self._with_restarts(attempt)
        return [m.results for m in members]

    def _run_batches(
        self, members: list[_Member], wal: DataFrame, bounds, max_batches: int | None
    ) -> None:
        for m in members:
            m.error, m.paused = None, False
            m.lake = m.eng._open_lake(wal.schema)
            if m.eng.config.snapshot_mode == SNAPSHOT_SCHEMA_ONLY_RECOVERY:
                # History store was lost/corrupted: re-record every
                # already-crossed schema delta from the schema-change source
                # before streaming (MySqlConnectorConfig schema_only_recovery;
                # replay() dedups by version, so recovery is idempotent).
                for c in m.eng.registry().changes:
                    if (
                        c.offset <= m.lake.committed_max_offset
                        and c.table_changes != "create"
                    ):
                        m.eng.history.record(c)
        wal_hi = bounds["hi"]
        if wal_hi is None:
            return
        for m in members:
            m.lo = m.lake.committed_max_offset
            end = bounds["ends"].get(m.name, wal_hi)
            m.end = m.lo if end is None else end  # None: no row of its table
            m.truncates = m.own_truncates(bounds["truncates"])
        if self.config.signal_data_collection:
            # Crash-window recovery: in-band signals whose batch committed but
            # whose action never applied (crash between commit and marker
            # save) re-apply here — at-least-once for the action, exact for
            # the data (actions are idempotent or restart-safe).
            behind = [(m, m.eng._inband_marker()) for m in members]
            behind = [(m, k) for m, k in behind if m.lo > k]
            if behind:
                sigs = self._inband_signals_in(
                    wal, min(k for _, k in behind), max(m.lo for m, _ in behind)
                )
                for m, k in behind:
                    for off, sig in sigs:
                        if k < off <= m.lo:
                            m.eng._apply_signal_action(sig, at_offset=off)
                            m.eng._save_inband_marker(off)
        # Never past the last offset read: the committed max_offset is the
        # resume point, so a batch ending beyond the log's end would skip
        # events appended to the WAL after this run.
        self._run_range(
            members, wal, step=self.config.max_offsets_per_batch, max_batches=max_batches
        )
        for m in members:
            if m.error is None and not m.paused:  # P17 pause: call run() again
                m.eng._drain_snapshot(m, wal.schema, max_batches)
            if m.error is None:
                m.eng._maybe_expire(m.lake, None)  # bound storage before returning
        failed = [m.error for m in members if m.error is not None]
        if failed:
            raise failed[0]

    def _run_range(
        self, members: list[_Member], src: DataFrame, *,
        step: int | None = None, max_batches: int | None = None,
    ) -> None:
        """Range loop of run() and of each run_streaming epoch: each member's
        offsets (lo, end] of ``src`` through :meth:`_step`, one result per
        batch appended to its ``results``. Per batch: every member's
        out-of-band pause poll; after a batch that applied nothing, in a
        ``step``-limited loop, a jump over the offset gap; the end
        ``lo + step`` (else the highest member ``end``) from the lowest
        member ``lo``, pulled back to the first in-band signal a member has
        pending above its marker, so the batch ends AT it (Signal.java:
        signals are totally ordered with the data); the step, for the members
        below the batch's end. A member leaves the loop once it reaches its
        ``end``, is paused, fails or has ``max_batches`` results."""
        if self.config.signal_data_collection:
            sigs = self._inband_signals_in(
                src, min(m.lo for m in members), max(m.end for m in members)
            )
            for m in members:
                floor = max(m.lo, m.eng._inband_marker())
                m.pending = [s for s in sigs if s[0] > floor]
        idle = False
        while True:
            live = [
                m for m in members
                if m.lo < m.end and not m.paused and m.error is None
                and (max_batches is None or len(m.results) < max_batches)
            ]
            for m in live:
                m.paused = m.eng._poll_signals()["pause"]
            live = [m for m in live if not m.paused]
            if not live:
                return
            lo, end = min(m.lo for m in live), max(m.end for m in live)
            if step and idle:
                nxt = src.where(F.col("offset") > lo).agg(F.min("offset")).first()[0]
                lo = max(lo, min(end if nxt is None else int(nxt), end) - 1)
                for m in live:
                    m.lo = max(m.lo, lo)
            hi = min(lo + step, end) if step else end
            hi = min([hi] + [m.pending[0][0] for m in live if m.pending])
            batch = [m for m in live if m.lo < hi]
            self._step(batch, src, hi)
            idle = all(
                m.results[-1]["rows_applied"] + m.results[-1]["rows_deleted"] == 0
                for m in batch if m.error is None
            )

    def _maybe_expire(self, lake: LakeTable, n: int | None) -> None:
        """Bounded-storage maintenance inside the drive loops: expire lake
        snapshots past ``snapshot_retention`` every ``expire_every_batches``
        committed batches (n = committed batch count; None forces a sweep).
        Off by default — see config.py. Failure to expire must never fail the
        replay: expiry is garbage collection, the data path owns correctness."""
        cfg = self.config
        if cfg.snapshot_retention is None:
            return
        if n is not None and n % cfg.expire_every_batches != 0:
            return
        try:
            res = lake.expire_snapshots(
                keep_last=cfg.snapshot_retention,
                grace_seconds=cfg.expire_grace_seconds,
            )
        except OSError:
            return
        if res["expired_manifests"] or res["deleted_files"]:
            self._append_jsonl(
                self._metrics_path,
                [{
                    "expired_manifests": res["expired_manifests"],
                    "deleted_files": res["deleted_files"],
                }],
            )

    def _run_stream(
        self,
        handle,
        plan: Callable[[DataFrame], tuple[str, DataFrame]],
        max_files_per_trigger: int | None,
        raw_schema: T.StructType,
    ) -> str:
        """Structured Streaming starter shared by the streaming drives: file
        source over the WAL directory with the raw log's ``raw_schema``,
        then ``wal_projection`` (streaming-safe column algebra applied inside
        the query), then ``plan(stream) -> (checkpoint, query frame)``, then
        ``handle(df)`` per epoch via foreachBatch under an availableNow
        trigger, checkpointed in ``<work_dir>/<checkpoint>`` (the name is
        returned).

        An out-of-band pause signal (polled per epoch) or a ``_PauseSignal``
        raised by ``handle`` stops the query cleanly before the epoch commits;
        resume = call the drive again. Retriable failures restart the query
        from its checkpoint (committed epochs never re-run; the failed epoch
        replays idempotently under the offset guard). Classification is
        message-based here: a foreachBatch failure crosses the JVM boundary
        as a StreamingQueryException whose message embeds the Python
        traceback, so custom_retriable_exception patterns match that text
        (use '.*pattern.*'-style regexes)."""
        reader = self.spark.readStream.schema(raw_schema)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        checkpoint, stream = plan(self._wal_projection(reader.parquet(self.wal_path)))
        self._pause_requested = False

        def on_epoch(df: DataFrame, epoch_id: int) -> None:
            if self._poll_signals()["pause"]:
                self._pause_requested = True  # flag, not string-matching: a real
                # failure whose message mentions _PauseSignal must still raise
                raise _PauseSignal()
            handle(df)

        def drive() -> None:
            q = (
                stream.writeStream.outputMode("update")
                .foreachBatch(on_epoch)
                .option("checkpointLocation", os.path.join(self.work_dir, checkpoint))
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.awaitTermination()
            except Exception:  # pause is a clean stop, not a failure
                if not self._pause_requested:
                    raise

        self._with_restarts(drive)
        return checkpoint

    def run_streaming(self, *, max_files_per_trigger: int | None = None) -> None:
        """Structured Streaming drive: file-source over the WAL directory,
        foreachBatch -> the same micro-batch core as run(), availableNow
        trigger, Spark checkpoint for source progress (offset store B3
        analogue). WAL segments are written in offset order
        (sources/wal.write_wal), matching binlog segment ordering.
        """
        raw, wal = self._read_wal()
        lake = self._open_lake(wal.schema)

        def handle(df: DataFrame) -> None:
            # No offset pre-filter: the file source may deliver segments in any
            # order, and restart may replay the last epoch. Both are safe — the
            # per-row offset guard + retained delete tombstones make merge
            # idempotent and order-tolerant (plans/lake.py module docstring).
            rng = df.agg(
                F.min("offset").alias("lo"),
                F.max("offset").alias("hi"),
                self._truncate_offsets(df),
            ).first()
            if rng["hi"] is None:
                return
            # In-band signals order exactly within the epoch, as in run(). A
            # signal in a late-delivered low-offset segment applies when that
            # segment's epoch arrives (the durable marker dedups replays).
            m = _Member(self, lake=lake, lo=int(rng["lo"]) - 1, end=int(rng["hi"]))
            m.truncates = m.own_truncates(rng["truncates"])
            self._run_range([m], df)
            if m.error is not None:
                raise m.error
            if m.paused:
                self._pause_requested = True
                raise _PauseSignal()

        self._run_stream(
            handle, lambda s: ("stream_ckpt", s), max_files_per_trigger, raw.schema
        )
        if not self._pause_requested:
            m = _Member(self, lake=lake)
            self._drain_snapshot(m, wal.schema)
            if m.error is not None:
                raise m.error
        self._maybe_expire(lake, None)

    def run_streaming_stateful(
        self, *, max_files_per_trigger: int | None = None
    ) -> None:
        """Continuous-materialization drive: the streaming state store resolves
        per-key LWW winners against ALL history (streaming/stateful.stateful_lww,
        one native streaming aggregation) and each micro-batch MERGEs only the
        keys whose winner CHANGED — the Spark-native analogue of consuming a
        compacted topic (RelationalChangeRecordEmitter -> Kafka log compaction;
        SURVEY §2.4) straight into the lake, kept incrementally instead of
        re-resolved per batch like run()/run_streaming().

        Scale shape: per-key state shards across executors with
        ``spark.sql.shuffle.partitions``; each trigger shuffles only its own
        events, and the merge's source side carries at most one row per
        changed key — batches late in a long tail touch (and rewrite) only the
        buckets that actually changed, where the batch path re-resolves every
        batch from scratch.

        Crash safety / exactly-once: the state store checkpoints with the
        query in ``<work_dir>/stateful_ckpt_<layout>``, named after its state
        layout (stateful.stateful_lww_plan), which follows the payload schema: when
        new DDL, a converter setting or a code change alters the layout, the
        query starts a fresh checkpoint and re-reads the WAL from scratch,
        which the lake's offset guard makes converge. A drive that returns
        without a pause deletes the other layouts' ``stateful_ckpt_<layout>``
        dirs (any other dir in ``work_dir`` is left alone). A replayed epoch
        re-emits the same transitions, and the lake merge's strict
        ``s._offset > t._offset`` guard makes the re-apply a no-op. Re-delivered WAL files lose the all-history ordinal
        comparison inside the state store and never reach the merge at all.
        Each trigger commits through the same epilogue as the batch drives
        (failure handling, lineage, metrics, snapshot expiry); the stream
        starter is shared with run_streaming (pause, retriable restarts).

        Scope: the final schema is fixed for the life of the query (a state
        store's payload schema cannot change mid-stream), so all schema-history
        DDL is applied to the lake up-front and envelopes align to the final
        schema (``upto_offset=None``). ``provide_transaction_metadata`` is
        unsupported here (per-tx ranking needs a window over the unbounded
        stream); signals/incremental snapshots remain batch-engine features.
        """
        from debezium_spark.streaming.stateful import stateful_lww_plan

        cfg = self.config
        if cfg.provide_transaction_metadata:
            raise ValueError(
                "provide_transaction_metadata is not supported in stateful "
                "streaming mode (unbounded per-tx ranking window); use run() "
                "or run_streaming()"
            )
        raw, wal = self._read_wal()
        lake = self._open_lake(wal.schema)
        self._apply_ddl(lake, 2**62)  # fixed final schema up-front
        key_cols = self.config.key_columns

        def handle(df: DataFrame) -> None:
            # a trigger that resolved no state transition commits nothing
            m = _Member(self, lake=lake, lo=None, batch_id=lake.committed_batch_id + 1)
            self._merge_actions([m], df, hi=None, t0=time.time())
            if m.error is not None:
                raise m.error

        def plan(stream: DataFrame) -> tuple[str, DataFrame]:
            # one envelope per drive, for the layout hash and the query alike
            layout, changelog = stateful_lww_plan(
                self._envelope(stream), key_cols=key_cols
            )
            return "stateful_ckpt_" + layout, changelog

        ckpt = self._run_stream(handle, plan, max_files_per_trigger, raw.schema)
        if not self._pause_requested:
            # The current layout's checkpoint has read the whole log: the
            # checkpoints of superseded layouts are dead weight.
            for d in os.listdir(self.work_dir):
                if d != ckpt and re.fullmatch(r"stateful_ckpt_[0-9a-f]{12}", d):
                    shutil.rmtree(os.path.join(self.work_dir, d), ignore_errors=True)
        self._maybe_expire(lake, None)

    # ------------------------------------------------------------- inspection
    def checkpoints(self) -> DataFrame:
        schema = (
            "batch_id bigint, partition_id int, max_offset bigint, "
            "rows_applied bigint, rows_deleted bigint, wall_ms bigint"
        )
        return self.spark.createDataFrame(self._read_jsonl(self._ckpt_path), schema)

    def metrics(self) -> DataFrame:
        schema = (
            "batch_id bigint, lo bigint, hi bigint, keys_touched bigint, "
            "rows_applied bigint, rows_deleted bigint, wall_ms bigint, "
            "malformed_skipped bigint, signal string, message string"
        )
        keys = [f.strip().split(" ")[0] for f in schema.split(",")]
        rows = [{k: r.get(k) for k in keys} for r in self._read_jsonl(self._metrics_path)]
        return self.spark.createDataFrame(rows, schema)

    def meters(self, *, per_op_counts: bool = False) -> dict[str, Any]:
        """Reference-named monitoring attributes (the JMX MBean surface:
        pipeline/meters/CommonEventMeter.java, SnapshotMeter.java,
        StreamingMeter.java getters), derived entirely from the engine's
        durable metrics / lineage / snapshot-state files — a pure driver-side
        file read, zero Spark jobs, so a monitoring poller costs nothing.

        ``per_op_counts=True`` additionally reports
        TotalNumberOf{Create,Update,Delete}EventsSeen
        (CommonEventMetricsMXBean.java:19-23; the reference tallies them on
        each dispatched event, CommonEventMeter.java:53-66). The batch engine
        has no per-event hook, so these are derived by ONE extra Spark job: a
        (op, offset)-pruned scan of the committed WAL range (offset predicate
        pushed to parquet) through the same table filter the dispatcher
        applies — opt-in so the default poller stays zero-job.

        Semantics mapping (single-captured-table engine): events seen = sum of
        committed batch offset spans (offsets are the event currency here);
        filtered/erroneous = malformed-key quarantine counts (P18);
        a committed micro-batch is the transaction analogue for
        NumberOfCommittedTransactions (each batch commits atomically);
        RowsScanned = per-source incremental-snapshot chunk rows
        (SnapshotMeter.rowsScanned); SnapshotAborted = a stop-snapshot signal
        was consumed (StopSnapshot.java)."""
        raw = self._read_jsonl(self._metrics_path)
        batches = [r for r in raw if r.get("hi") is not None]
        chunks = [r for r in raw if "incremental_chunk" in r]
        malformed = sum(int(r.get("malformed_skipped") or 0) for r in raw)
        signals = [r["signal"] for r in raw if r.get("signal")]
        st = self._incr_state()
        last = batches[-1] if batches else None
        table = self.config.table_name or "captured"
        snapshot_running = bool(st.get("active")) and not st.get("paused")
        op_counts: dict[str, int] = {}
        if per_op_counts and batches:
            hi = max(int(r["hi"]) for r in batches)
            seen = self._prefilter(
                self._wal().where(F.col("offset") <= hi)
            )
            # 'r' (snapshot read) rows count toward the total only — the
            # reference's switch tallies CREATE/UPDATE/DELETE and falls
            # through for READ (CommonEventMeter.java:56-67).
            op_counts = {
                r["op"]: int(r["n"])
                for r in seen.groupBy("op").agg(F.count("*").alias("n")).collect()
                if r["op"] in ("c", "u", "d")
            }
        return {
            # CommonEventMeter.java getters
            "TotalNumberOfEventsSeen": sum(
                max(int(r["hi"]) - int(r["lo"]), 0)
                for r in batches
                if r.get("lo") is not None  # stateful-mode triggers have no lo
            ),
            **(
                {
                    "TotalNumberOfCreateEventsSeen": op_counts.get("c", 0),
                    "TotalNumberOfUpdateEventsSeen": op_counts.get("u", 0),
                    "TotalNumberOfDeleteEventsSeen": op_counts.get("d", 0),
                }
                if per_op_counts
                else {}
            ),
            "NumberOfEventsFiltered": malformed,
            "NumberOfErroneousEvents": malformed,
            "LastEvent": (
                f"offset={last['hi']}, batch_id={last['batch_id']}" if last else None
            ),
            # SnapshotMeter.java getters
            "SnapshotRunning": snapshot_running,
            "SnapshotPaused": bool(st.get("paused")),
            "SnapshotCompleted": (
                not st.get("active") and int(st.get("position") or 0) > 0
            ),
            "SnapshotAborted": "stop-snapshot" in signals,
            "RowsScanned": {
                table: sum(int(c.get("n_rows") or 0) for c in chunks)
            },
            "ChunkId": (
                f"incremental-{chunks[-1]['incremental_chunk']}" if chunks else None
            ),
            "CapturedTables": [table],
            "TotalTableCount": 1,
            "RemainingTableCount": 1 if snapshot_running else 0,
            # StreamingMeter.java getters
            "NumberOfCommittedTransactions": len(batches),
            "SourceEventPosition": (
                {"offset": str(last["hi"])} if last else {}
            ),
        }


@dataclass(eq=False)
class _Member:
    """One lake of a drive: the engine that owns it and the drive's state
    for it — the offset its next batch starts after (``lo``), the offset
    its drive ends at (``end``), its TRUNCATE offsets and pending in-band
    signals, the current batch's id and truncate watermark, its batch
    results, and whether it paused or failed."""

    eng: CdcEngine
    lake: LakeTable | None = None
    lo: int | None = -1
    end: int = -1
    batch_id: int = 0
    trunc: int | None = None
    truncates: list[int] = field(default_factory=list)
    pending: list[tuple[int, dict[str, Any]]] = field(default_factory=list)
    results: list[dict[str, Any]] = field(default_factory=list)
    paused: bool = False
    error: Exception | None = None

    @property
    def name(self) -> str | None:
        return self.eng.config.table_name

    def own_truncates(self, truncates) -> list[int]:
        """This member's offsets among bounds ``truncates`` rows (a
        single-table frame's rows name no table)."""
        return [int(t["offset"]) for t in truncates if t["table"] in (None, self.name)]


class _PauseSignal(Exception):
    """In-band pause signal received; the streaming query stops cleanly before
    the paused epoch commits, so a restart resumes exactly there."""
