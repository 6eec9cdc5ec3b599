"""Pluggable offset and schema-history storage backends — the
`debezium-storage` module analogue (debezium-storage-file /
debezium-storage-kafka; offset stores come from Kafka Connect's
``offset.storage`` class property, histories from
``schema.history.internal``).

The reference selects storage BY CLASS NAME in configuration:

    offset.storage=org.apache.kafka.connect.storage.FileOffsetBackingStore
    schema.history.internal=io.debezium.storage.file.history.FileSchemaHistory

This module accepts those exact class names (plus short aliases
``file`` / ``memory`` / ``log``) and resolves them onto Spark-friendly
backends:

- **file** — one JSON document, atomic tmp+rename write
  (FileOffsetBackingStore / FileSchemaHistory semantics; fsync'd).
- **memory** — process-lifetime store registered by name
  (MemoryOffsetBackingStore / MemorySchemaHistory: survives engine
  rebuilds within the process, lost on restart — the reference's exact
  contract, used by tests and ephemeral pipelines).
- **log** — an append-only segmented JSONL directory standing in for the
  Kafka topic backends (KafkaOffsetBackingStore's compacted topic /
  KafkaSchemaHistory's unbounded topic). Offset segments COMPACT (only
  the newest record per store is live — a single-key compacted topic);
  history segments never compact (the reference's history topic must
  retain every DDL forever). Segment rotation bounds per-file size the
  way topic segments do, and recovery replays segments in name order —
  the same totally-ordered-log recovery the Kafka backends rely on.

Offset stores persist ONE JSON state document (the engine's offset map);
`when` to persist stays with the engine's commit policy (always/periodic,
EmbeddedEngine's OffsetCommitPolicy), `how` lives here.
"""

from __future__ import annotations

import json
import logging
import os
from typing import Any

_LOG = logging.getLogger(__name__)

from debezium_spark.plans.registry import SchemaChange, SchemaHistoryStore


def atomic_write(path: str, text: str) -> None:
    """Replace ``path``'s content with ``text`` in one step: write a temp file,
    fsync it and ``os.replace`` it over ``path``. A crash or a failed write
    leaves the old content whole."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


# ------------------------------------------------------------ offset stores


class OffsetBackingStore:
    """Interface: load() -> dict (empty when never written), save(dict)."""

    def load(self) -> dict[str, Any]:
        raise NotImplementedError

    def save(self, state: dict[str, Any]) -> None:
        raise NotImplementedError


class FileOffsetBackingStore(OffsetBackingStore):
    """Atomic single-file JSON store (tmp + rename, fsync)."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)

    def load(self) -> dict[str, Any]:
        if not os.path.exists(self.path):
            return {}
        with open(self.path) as f:
            return json.load(f)

    def save(self, state: dict[str, Any]) -> None:
        atomic_write(self.path, json.dumps(state))


_MEMORY_OFFSETS: dict[str, dict[str, Any]] = {}
_MEMORY_HISTORIES: dict[str, list[SchemaChange]] = {}


class MemoryOffsetBackingStore(OffsetBackingStore):
    """Process-lifetime store registered by name: a rebuilt engine in the
    same process resumes (Connect's worker-scoped memory store); a new
    process starts empty. Use for tests/ephemeral pipelines only."""

    def __init__(self, name: str):
        self.name = name

    def load(self) -> dict[str, Any]:
        return dict(_MEMORY_OFFSETS.get(self.name, {}))

    def save(self, state: dict[str, Any]) -> None:
        _MEMORY_OFFSETS[self.name] = dict(state)


class _SegmentedLog:
    """Shared segmented append-log machinery (segment listing, zero-padded
    naming, line-count rotation) for the Kafka-topic-analogue stores. The
    active segment path and its record count are CACHED on the instance —
    save()/record() is O(1) file I/O (one append) instead of re-reading and
    line-counting the active segment every call; the cache is rebuilt once
    per instance (cheap: one listdir + one line count) so fresh instances
    over an existing directory stay correct."""

    def __init__(self, log_dir: str, segment_records: int):
        if segment_records < 1:
            raise ValueError("segment_records must be >= 1")
        self.dir = log_dir
        self.segment_records = segment_records
        os.makedirs(log_dir, exist_ok=True)
        self._active_path: str | None = None
        self._active_count = 0

    def _segments(self) -> list[str]:
        return sorted(
            f for f in os.listdir(self.dir)
            if f.endswith(".jsonl") and f.split(".")[0].isdigit()
        )

    def _truncate_torn_tail(self, path: str) -> None:
        """Drop a torn final record left by a crash mid-append (the append
        is write+flush+fsync of one line, not atomic). A log consumer
        discards a torn tail record the same way; without this, the next
        append would CONCATENATE onto the partial line and corrupt both
        records."""
        size = os.path.getsize(path)
        if size == 0:
            return
        with open(path, "rb+") as f:
            f.seek(-1, os.SEEK_END)
            if f.read(1) == b"\n":
                return
            f.seek(0)
            data = f.read()
            keep = data.rfind(b"\n") + 1  # 0 when the whole file is one torn line
            _LOG.warning(
                "discarding torn tail record (%d bytes) in %s",
                size - keep, path,
            )
            f.truncate(keep)

    def _refresh_active(self) -> None:
        segs = self._segments()
        if segs:
            last = os.path.join(self.dir, segs[-1])
            self._truncate_torn_tail(last)
            with open(last) as f:
                n = sum(1 for _ in f)
            if n < self.segment_records:
                self._active_path, self._active_count = last, n
                return
            nxt = int(segs[-1].split(".")[0]) + 1
        else:
            nxt = 0
        self._active_path = os.path.join(self.dir, f"{nxt:010d}.jsonl")
        self._active_count = 0

    def _replay_records(self):
        """Yield parsed records across segments in name order. A record is
        COMMITTED iff its line ends with a newline (the writer appends
        json+'\\n' in one write; a crash mid-append leaves the final line
        without its terminator). The single uncommitted candidate — the
        last line of the last segment, missing its newline — is skipped
        with a warning, the SAME definition ``_truncate_torn_tail`` uses,
        so replay and the next writer agree on which record was last
        committed. A newline-terminated line that fails to parse is real
        corruption and raises, wherever it sits."""
        segs = self._segments()
        for si, seg in enumerate(segs):
            with open(os.path.join(self.dir, seg)) as f:
                lines = f.read().splitlines(keepends=True)
            for li, line in enumerate(lines):
                if not line.strip():
                    continue
                if (
                    si == len(segs) - 1
                    and li == len(lines) - 1
                    and not line.endswith("\n")
                ):
                    _LOG.warning(
                        "skipping torn (uncommitted) tail record in %s", seg
                    )
                    return
                yield json.loads(line)

    def _append(self, obj: dict) -> None:
        if self._active_path is None or self._active_count >= self.segment_records:
            if self._active_path is not None and self._active_count >= self.segment_records:
                # rotate: next index after the cached active segment
                idx = int(os.path.basename(self._active_path).split(".")[0]) + 1
                self._active_path = os.path.join(self.dir, f"{idx:010d}.jsonl")
                self._active_count = 0
            else:
                self._refresh_active()
        with open(self._active_path, "a") as f:
            f.write(json.dumps(obj) + "\n")
            f.flush()
            os.fsync(f.fileno())
        self._active_count += 1


class LogOffsetBackingStore(_SegmentedLog, OffsetBackingStore):
    """Segmented append-only log with single-key compaction — the
    KafkaOffsetBackingStore analogue. Every save() appends one JSONL
    record to the active segment; load() replays segments in name order
    and keeps the LAST record (compacted-topic read); rotation caps the
    active segment and compaction deletes every whole segment before the
    newest record."""

    def __init__(self, log_dir: str, *, segment_records: int = 1024):
        super().__init__(log_dir, segment_records)

    def load(self) -> dict[str, Any]:
        state: dict[str, Any] = {}
        for rec in self._replay_records():
            state = rec
        return state

    def save(self, state: dict[str, Any]) -> None:
        self._append(state)
        self._maybe_compact()

    def _maybe_compact(self) -> None:
        # drop whole segments that precede the newest record — every record
        # in them is shadowed (single-key compaction)
        segs = self._segments()
        for seg in segs[:-1]:
            os.remove(os.path.join(self.dir, seg))


# ------------------------------------------------------------ history stores


class MemorySchemaHistory:
    """Process-lifetime schema history (MemorySchemaHistory parity):
    record/replay against a named in-process list."""

    def __init__(self, name: str):
        self.name = name
        _MEMORY_HISTORIES.setdefault(name, [])

    def record(self, change: SchemaChange) -> None:
        _MEMORY_HISTORIES[self.name].append(change)

    def replay(self, upto_offset: int | None = None) -> list[SchemaChange]:
        out: list[SchemaChange] = []
        seen: set[int] = set()
        for c in _MEMORY_HISTORIES[self.name]:
            if upto_offset is not None and c.offset > upto_offset:
                continue
            if c.version in seen:
                continue
            seen.add(c.version)
            out.append(c)
        out.sort(key=lambda c: (c.offset, c.version))
        return out


class LogSchemaHistory(_SegmentedLog):
    """Segmented append-only schema history — the KafkaSchemaHistory
    analogue. NEVER compacts (the history topic retains every DDL);
    rotation only bounds per-file size. replay() streams segments in name
    order, filters at-or-before the restart offset, and dedups by schema
    version (idempotent re-record, HistoryRecordComparator semantics —
    same contract as the file store)."""

    def __init__(self, log_dir: str, *, segment_records: int = 1024):
        super().__init__(log_dir, segment_records)

    def record(self, change: SchemaChange) -> None:
        self._append(
            {
                "offset": change.offset,
                "version": change.version,
                "ddl": change.ddl,
                "table_changes": change.table_changes,
            }
        )

    def replay(self, upto_offset: int | None = None) -> list[SchemaChange]:
        out: list[SchemaChange] = []
        seen: set[int] = set()
        for d in self._replay_records():
            if upto_offset is not None and d["offset"] > upto_offset:
                continue
            if d["version"] in seen:
                continue
            seen.add(d["version"])
            out.append(
                SchemaChange(d["offset"], d["version"], d["ddl"], d["table_changes"])
            )
        out.sort(key=lambda c: (c.offset, c.version))
        return out


# ------------------------------------------------------------- resolvers

_OFFSET_CLASS_ALIASES = {
    "org.apache.kafka.connect.storage.fileoffsetbackingstore": "file",
    "org.apache.kafka.connect.storage.memoryoffsetbackingstore": "memory",
    "org.apache.kafka.connect.storage.kafkaoffsetbackingstore": "log",
    "file": "file",
    "memory": "memory",
    "log": "log",
    "kafka": "log",
}

_HISTORY_CLASS_ALIASES = {
    "io.debezium.storage.file.history.fileschemahistory": "file",
    "io.debezium.relational.history.filedatabasehistory": "file",
    "io.debezium.relational.history.memorydatabasehistory": "memory",
    "io.debezium.relational.history.memoryschemahistory": "memory",
    "io.debezium.storage.kafka.history.kafkaschemahistory": "log",
    "io.debezium.relational.history.kafkadatabasehistory": "log",
    "file": "file",
    "memory": "memory",
    "log": "log",
    "kafka": "log",
}


def offset_store_from_properties(
    props: dict[str, str], *, default_path: str
) -> OffsetBackingStore:
    """Resolve ``offset.storage`` (reference Connect class name or short
    alias; default file) onto a backend. Backend knobs:
    ``offset.storage.file.filename`` (file), ``offset.storage.log.dir`` +
    ``offset.storage.log.segment.records`` (log); memory keys off the
    filename/default path so a rebuilt engine finds the same store."""
    kind = _OFFSET_CLASS_ALIASES.get(
        str(props.get("offset.storage", "file")).strip().lower()
    )
    if kind is None:
        raise ValueError(f"unknown offset.storage {props['offset.storage']!r}")
    if kind == "file":
        return FileOffsetBackingStore(
            props.get("offset.storage.file.filename", default_path)
        )
    if kind == "memory":
        return MemoryOffsetBackingStore(
            props.get("offset.storage.file.filename", default_path)
        )
    return LogOffsetBackingStore(
        props.get("offset.storage.log.dir", default_path + ".log"),
        segment_records=int(props.get("offset.storage.log.segment.records", 1024)),
    )


def schema_history_from_properties(
    props: dict[str, str], *, default_path: str
):
    """Resolve ``schema.history.internal`` (reference class name or alias;
    default file) onto a history backend sharing SchemaHistoryStore's
    record/replay contract. Knobs: ``schema.history.internal.file.filename``
    (file), ``schema.history.internal.log.dir`` + ``...log.segment.records``
    (log)."""
    kind = _HISTORY_CLASS_ALIASES.get(
        str(props.get("schema.history.internal", "file")).strip().lower()
    )
    if kind is None:
        raise ValueError(
            f"unknown schema.history.internal {props['schema.history.internal']!r}"
        )
    if kind == "file":
        return SchemaHistoryStore(
            props.get("schema.history.internal.file.filename", default_path)
        )
    if kind == "memory":
        return MemorySchemaHistory(
            props.get("schema.history.internal.file.filename", default_path)
        )
    return LogSchemaHistory(
        props.get("schema.history.internal.log.dir", default_path + ".log"),
        segment_records=int(
            props.get("schema.history.internal.log.segment.records", 1024)
        ),
    )
