"""Engine configuration.

Mirrors Debezium's connector config surface (reference:
``debezium-core/src/main/java/io/debezium/config/CommonConnectorConfig.java`` and
``relational/RelationalDatabaseConnectorConfig.java``) reduced to the knobs that are
meaningful on Spark. Defaults follow the reference where one exists.
"""

from __future__ import annotations

from dataclasses import dataclass, field


# Snapshot modes — reference: MySqlConnectorConfig.java:131-167 (SnapshotMode enum).
SNAPSHOT_INITIAL = "initial"            # snapshot then stream
SNAPSHOT_INITIAL_ONLY = "initial_only"  # snapshot, no stream
SNAPSHOT_NEVER = "never"                # stream only
SNAPSHOT_SCHEMA_ONLY = "schema_only"    # capture schema, stream from current position
SNAPSHOT_WHEN_NEEDED = "when_needed"    # snapshot only if there is no resumable state
SNAPSHOT_SCHEMA_ONLY_RECOVERY = "schema_only_recovery"  # rebuild lost schema history

VALID_SNAPSHOT_MODES = {
    SNAPSHOT_INITIAL,
    SNAPSHOT_INITIAL_ONLY,
    SNAPSHOT_NEVER,
    SNAPSHOT_SCHEMA_ONLY,
    SNAPSHOT_WHEN_NEEDED,
    SNAPSHOT_SCHEMA_ONLY_RECOVERY,
}


@dataclass
class EngineConfig:
    """All knobs of the CDC engine.

    Attributes map 1:1 to reference configuration options (cited per field).
    """

    # --- identity / source block (AbstractSourceInfoStructMaker.java:39-48) ---
    connector: str = "spark-cdc"
    server_name: str = "repos"          # topic.prefix / logical server name
    database: str = "lake"
    table_name: str = "repos"           # captured table id = "<database>.<table_name>"
    version: str = "0.1.0"

    # --- capture filters ---
    # table.include.list / table.exclude.list regexes
    # (RelationalDatabaseConnectorConfig.java:212,56-57)
    table_include: str | None = None
    table_exclude: str | None = None
    # column.include.list / column.exclude.list
    # (RelationalDatabaseConnectorConfig.java:251,266)
    column_include: list[str] | None = None
    column_exclude: list[str] | None = None
    # skipped.operations (CommonConnectorConfig.java:465); ops are {c,u,d,t}
    skipped_operations: list[str] = field(default_factory=list)

    # --- column mappers (relational/mapping/MaskStrings.java, TruncateStrings.java) ---
    # {column_name: mask_string} constant masks
    mask_columns: dict[str, str] = field(default_factory=dict)
    # {column_name: (salt, hash)} -> salted sha256 masking
    hash_mask_columns: dict[str, str] = field(default_factory=dict)  # col -> salt
    # {column_name: max_len}
    truncate_columns: dict[str, int] = field(default_factory=dict)
    # custom converter plug-in chain (spi/converter/CustomConverter.java:18-47,
    # CustomConverterRegistry.java:32 — the `converters` connector option):
    # ordered list of (RelationalColumn) -> ConverterDefinition | None
    # callables; the first converter claiming a column wins, unclaimed columns
    # keep the built-in conversion. See functions/custom.py.
    custom_converters: list = field(default_factory=list)

    # --- behavior flags ---
    # tombstones.on.delete default true (EventDispatcher.java:119)
    tombstones_on_delete: bool = True
    snapshot_mode: str = SNAPSHOT_INITIAL
    # event.processing.failure.handling.mode = fail|warn|skip (EventDispatcher.java:244-258)
    # fail: raise on malformed events (null key); warn: quarantine to the _dlq
    # dir + count in metrics; skip: silently drop (counted only).
    failure_handling: str = "fail"
    # apply TRUNCATE ('t') events: drop all target rows below the truncate offset
    # (Envelope.java:363-369 truncate(); RelationalChangeRecordEmitter emits them)
    handle_truncate: bool = True
    # out-of-band signal file (the Kafka-topic signal channel analogue,
    # KafkaSignalChannel): JSONL rows {"type": "log"|"pause"|
    # "execute-snapshot"|"stop-snapshot"|"pause-snapshot"|"resume-snapshot"|
    # "schema-changes", ...} polled at each batch boundary
    signal_path: str | None = None
    # in-band signal rows riding the WAL itself (pipeline/signal/Signal.java:
    # the signal table is a CAPTURED table, so signals are totally ordered
    # with data). When True, WAL rows with op='s' are signal rows — repo=id,
    # path=type, after.content=JSON args — and each takes effect at EXACTLY
    # its offset: the engine ends the enclosing batch at the signal offset,
    # commits, then applies the action (SourceSignalChannel analogue).
    signal_data_collection: bool = False
    # provide transaction metadata block (pipeline/txmetadata/TransactionMonitor.java)
    provide_transaction_metadata: bool = False
    # heartbeat.interval.ms (Heartbeat.java:31: DEFAULT_INTERVAL=0 -> heartbeat
    # disabled). When > 0, run() publishes one heartbeat record per elapsed
    # interval window per batch to the work dir's
    # _topics/<heartbeat_topics_prefix>.<server_name>/ sink (batch-scoped
    # overwrite, replay-safe) — the engine-level analogue of the reference
    # dispatching heartbeats alongside data (EventDispatcher.java:237-240).
    heartbeat_interval_ms: int = 0
    # heartbeat.topics.prefix (HeartbeatImpl.java:60)
    heartbeat_topics_prefix: str = "__debezium-heartbeat"
    # publish logical decoding MESSAGE ('m') WAL rows to the
    # '<server_name>.message' topic sink during run() — the reference's
    # LogicalDecodingMessageMonitor is a separate sender from the relational
    # dispatcher (LogicalDecodingMessageMonitor.java:70,114), so 'm' rows are
    # routed as a side channel, never into the table merge.
    publish_messages: bool = False
    # message.prefix.include/exclude.list (LogicalDecodingMessageFilter.java:22-31):
    # comma-separated regexes, case-insensitive full-string match; include wins
    message_prefix_include: str | None = None
    message_prefix_exclude: str | None = None

    # --- signal-driven incremental snapshot (S5/P17) ---
    # chunk size + chunks interleaved per micro-batch for execute-snapshot
    # (AbstractIncrementalSnapshotChangeEventSource.java:199-259 readChunk pacing)
    incremental_chunk_size: int = 1024
    incremental_chunks_per_batch: int = 4
    # chunk plans with more chunks than this leave the driver entirely: the
    # key bounds land in a range-clustered parquet sidecar and each batch
    # reads only its window (pushed-down _chunk range). 64k bounds ~ a few MB
    # of driver memory — above that a 10^8-chunk plan would be driver-OOM.
    incremental_bounds_driver_max: int = 65_536

    # --- batching / replay (ChangeEventQueue.java:62-106 analogues) ---
    # max offsets pulled into one micro-batch during batch replay
    max_offsets_per_batch: int = 5_000_000
    # max live keys per batch whose winning-ordinal set may broadcast: LWW
    # picks its plan per batch (resolver.resolve_lww strategy="auto") —
    # "ordinal" (shuffle key + ordinal only, broadcast-filter the payload
    # rows) while the live-key count fits, else the one-shuffle max_by
    # "aggregate". ~8 B/key + LongHashedRelation overhead ≈ 100 MB per 6M
    # keys; 16M keys ≈ 270 MB — comfortably under a 4 GB executor's
    # broadcast headroom.
    lww_broadcast_key_budget: int = 16_000_000

    # --- target layout ---
    target_buckets: int = 16            # bucket(16, repo) partitioning (FIXTURES.md §4)
    key_columns: tuple[str, ...] = ("repo", "path")
    # message.key.columns custom key mapper (relational/Key.java:92-148):
    # '<tableRegex>:<col1,col2>;...' — the engine resolves it against the
    # captured table id '<database>.<table_name>' and the WAL payload columns
    # at run start; matches override key_columns, no match keeps the PK above
    message_key_columns: str | None = None

    # --- lake snapshot retention (storage maintenance DURING replay) ---
    # Copy-on-write merges strand the rewritten buckets' old files; a
    # 10^10-event replay without expiry retains every superseded file plus
    # one manifest per batch — unbounded storage. When set, run() calls
    # LakeTable.expire_snapshots(keep_last=snapshot_retention) every
    # `expire_every_batches` applied batches and once at drain, so the table
    # directory stays O(live data + retention window) for the whole replay.
    # None (default) retains every version: full-history time travel,
    # caller-managed storage. Resume/exactly-once are unaffected — recovery
    # only ever reads the CURRENT manifest.
    snapshot_retention: int | None = None
    expire_every_batches: int = 8
    # protects a concurrent writer's not-yet-committed staging files (the
    # engine itself is a single writer; 0 is safe for run()'s own loop, the
    # default stays conservative for external readers doing time travel)
    expire_grace_seconds: float = 0.0

    # --- engine-wide value handling modes (JdbcValueConverters.java:73-136,
    # CommonConnectorConfig.java:177-197 BinaryHandlingMode). None means
    # Spark-native: payload columns keep their typed Spark representation
    # (decimal/timestamp/binary are already exact); a set mode opts into the
    # reference's WIRE representation (decimal.handling.mode =
    # precise|double|string, time.precision.mode =
    # adaptive|adaptive_time_microseconds|connect, binary.handling.mode =
    # bytes|base64|hex). Applied through the same plug-in seam as
    # custom_converters, after the user chain.
    decimal_handling_mode: str | None = None
    time_precision_mode: str | None = None
    binary_handling_mode: str | None = None

    # --- retriable failure restarts (pipeline/ErrorHandler.java:56-85;
    # CommonConnectorConfig.java:308-319,536,937; BaseSourceTask.java:204-261
    # startIfNeededAndPossible) --- A retriable failure stops the run, waits
    # retriable_restart_wait_ms, and restarts from the durable committed
    # state (resume is exact, so a restart re-applies nothing). Base
    # retriable class = storage-connectivity failures (OSError and Spark
    # task failures wrapping one — the connection-loss analogue of each
    # connector's ErrorHandler.isRetriable override);
    # custom_retriable_exception widens it exactly like
    # custom.retriable.exception: a regex full-matched against every message
    # in the failure's cause chain (isCustomRetriable walks getCause()).
    custom_retriable_exception: str | None = None
    # retriable.restart.connector.wait.ms (DEFAULT_RETRIABLE_RESTART_WAIT)
    retriable_restart_wait_ms: int = 10_000
    # restart budget per run()/run_streaming() call: -1 = unlimited (a
    # Connect worker restarts a retriable task forever); >= 0 bounds the
    # number of restarts before the failure propagates.
    errors_max_retries: int = -1

    def __post_init__(self) -> None:
        if self.snapshot_mode not in VALID_SNAPSHOT_MODES:
            raise ValueError(f"invalid snapshot_mode {self.snapshot_mode!r}")
        bad = set(self.skipped_operations) - {"c", "u", "d", "t", "r"}
        if bad:
            raise ValueError(f"invalid skipped_operations {sorted(bad)}")
        if self.failure_handling not in {"fail", "warn", "skip"}:
            raise ValueError(f"invalid failure_handling {self.failure_handling!r}")
        if self.decimal_handling_mode not in (None, "precise", "double", "string"):
            raise ValueError(
                f"invalid decimal_handling_mode {self.decimal_handling_mode!r}"
            )
        if self.time_precision_mode not in (
            None, "adaptive", "adaptive_time_microseconds", "connect",
        ):
            raise ValueError(
                f"invalid time_precision_mode {self.time_precision_mode!r}"
            )
        if self.binary_handling_mode not in (None, "bytes", "base64", "hex"):
            raise ValueError(
                f"invalid binary_handling_mode {self.binary_handling_mode!r}"
            )
        if self.snapshot_retention is not None and self.snapshot_retention < 1:
            raise ValueError("snapshot_retention must be >= 1 when set")
        if self.expire_every_batches < 1:
            raise ValueError("expire_every_batches must be >= 1")
        if self.retriable_restart_wait_ms < 0:
            raise ValueError("retriable_restart_wait_ms must be >= 0")
        if self.errors_max_retries < -1:
            raise ValueError("errors_max_retries must be >= -1")

    @classmethod
    def from_properties(cls, props: dict[str, str], **overrides) -> "EngineConfig":
        """Build a config from the REFERENCE's own dotted connector
        properties (config/CommonConnectorConfig.java,
        relational/RelationalDatabaseConnectorConfig.java,
        config/Configuration.java:1 `Configuration.from(props)`) — a Debezium
        user's existing `.properties` keys keep working verbatim.

        Recognized keys map 1:1 onto fields (see _PROPERTY_MAP); the
        parameterized column mappers use the reference's key-embedded-config
        forms (`column.mask.with.<n>.chars`, `column.truncate.to.<n>.chars`,
        `column.mask.hash.<algo>.with.salt.<salt>` —
        RelationalDatabaseConnectorConfig.java:56-57 validation pattern);
        fully-qualified column values keep only the column segment (the
        engine captures one table per instance). Transport-only keys with no
        Spark analogue (connector.class, database.hostname, ...) are accepted
        and ignored, like a Connect worker passing them through. Anything
        else raises — `Configuration.validateAndRecord` likewise rejects
        unknown knobs instead of silently dropping a typo. `overrides` are
        applied last as constructor kwargs."""
        kwargs: dict = {}
        for key, raw in props.items():
            k = key.strip()
            if k in _IGNORED_PROPERTIES or k.startswith(_IGNORED_PREFIXES):
                continue
            m = _MASK_CHARS.match(k)
            if m:
                kwargs.setdefault("mask_columns", {}).update(
                    {_col(c): "*" * int(m.group(1)) for c in _csv(raw)}
                )
                continue
            m = _TRUNCATE_CHARS.match(k)
            if m:
                kwargs.setdefault("truncate_columns", {}).update(
                    {_col(c): int(m.group(1)) for c in _csv(raw)}
                )
                continue
            m = _MASK_HASH.match(k)
            if m:
                kwargs.setdefault("hash_mask_columns", {}).update(
                    {_col(c): m.group(2) for c in _csv(raw)}
                )
                continue
            if k not in _PROPERTY_MAP:
                raise ValueError(f"unknown connector property {k!r}")
            field_name, conv = _PROPERTY_MAP[k]
            kwargs[field_name] = conv(raw)
        kwargs.update(overrides)
        return cls(**kwargs)

    @classmethod
    def validate_properties(cls, props: dict[str, str]) -> list[dict]:
        """Connect-style validation: ALL problems at once, never an exception
        (the contract of the reference's connector-validation REST surface —
        debezium-connect-rest-extension's ``/validate/connector`` endpoints
        returning per-config ``{name, errors[]}`` — and of
        ``Configuration.validateAndRecord``). An empty list means
        ``from_properties(props)`` will succeed.

        One entry per offending property: ``{"name": <property>, "value":
        <raw>, "errors": [<message>, ...]}``; cross-field failures from the
        constructor (e.g. an invalid ``snapshot.mode`` enum value) are
        attributed to the property that carried them."""
        findings: list[dict] = []

        def add(name: str, value, msg: str) -> None:
            for f in findings:
                if f["name"] == name:
                    f["errors"].append(msg)
                    return
            findings.append({"name": name, "value": value, "errors": [msg]})

        parsed: dict[str, str] = {}  # field -> property that set it
        for key, raw in props.items():
            k = key.strip()
            if k in _IGNORED_PROPERTIES or k.startswith(_IGNORED_PREFIXES):
                continue
            if _MASK_CHARS.match(k) or _TRUNCATE_CHARS.match(k) or _MASK_HASH.match(k):
                if not _csv(raw):
                    add(k, raw, "expects a comma-separated column list")
                continue
            if k not in _PROPERTY_MAP:
                add(k, raw, "unknown connector property")
                continue
            field_name, conv = _PROPERTY_MAP[k]
            try:
                conv(raw)
            except (ValueError, TypeError) as e:
                add(k, raw, str(e) or f"invalid value for {k}")
                continue
            parsed[field_name] = k
        if not findings:
            try:
                cls.from_properties(props)
            except ValueError as e:
                # attribute the constructor's complaint to the property that
                # carried the offending field, when we can tell which
                msg = str(e)
                owner = next(
                    (prop for field, prop in parsed.items() if field in msg),
                    None,
                )
                add(owner or "<configuration>", None if owner is None else props[owner], msg)
        return findings


def _csv(v: str) -> list[str]:
    return [p.strip() for p in str(v).split(",") if p.strip()]


def _col(fq: str) -> str:
    """Fully-qualified '<db>.<table>.<col>' (or bare) -> column name."""
    return fq.rsplit(".", 1)[-1]


def _bool(v: str) -> bool:
    s = str(v).strip().lower()
    if s not in {"true", "false"}:
        raise ValueError(f"invalid boolean property value {v!r}")
    return s == "true"


def _skipped_ops(v: str) -> list[str]:
    ops = _csv(v)
    return [] if ops == ["none"] else ops  # 'none' sentinel (CommonConnectorConfig)


# reference property -> (EngineConfig field, parser)
_PROPERTY_MAP: dict[str, tuple[str, callable]] = {
    "topic.prefix": ("server_name", str),
    "database.server.name": ("server_name", str),  # legacy alias
    "database.dbname": ("database", str),
    "table.include.list": ("table_include", str),
    "table.exclude.list": ("table_exclude", str),
    "column.include.list": ("column_include", _csv),
    "column.exclude.list": ("column_exclude", _csv),
    "skipped.operations": ("skipped_operations", _skipped_ops),
    "tombstones.on.delete": ("tombstones_on_delete", _bool),
    "snapshot.mode": ("snapshot_mode", str),
    "event.processing.failure.handling.mode": ("failure_handling", str),
    "provide.transaction.metadata": ("provide_transaction_metadata", _bool),
    "heartbeat.interval.ms": ("heartbeat_interval_ms", int),
    "heartbeat.topics.prefix": ("heartbeat_topics_prefix", str),
    "incremental.snapshot.chunk.size": ("incremental_chunk_size", int),
    "max.batch.size": ("max_offsets_per_batch", int),
    "message.key.columns": ("message_key_columns", str),
    "message.prefix.include.list": ("message_prefix_include", str),
    "message.prefix.exclude.list": ("message_prefix_exclude", str),
    # the reference's value is the signal table id; presence enables the
    # in-band channel here (the WAL carries op='s' rows for that table)
    "signal.data.collection": ("signal_data_collection", lambda v: bool(str(v).strip())),
    # engine-wide value handling modes (validated in __post_init__)
    "decimal.handling.mode": ("decimal_handling_mode", lambda v: str(v).strip().lower()),
    "time.precision.mode": ("time_precision_mode", lambda v: str(v).strip().lower()),
    "binary.handling.mode": ("binary_handling_mode", lambda v: str(v).strip().lower()),
    # retriable failure restarts (ErrorHandler.java, CommonConnectorConfig
    # CUSTOM_RETRIABLE_EXCEPTION:536 / RETRIABLE_RESTART_WAIT:311)
    "custom.retriable.exception": ("custom_retriable_exception", str),
    "retriable.restart.connector.wait.ms": ("retriable_restart_wait_ms", int),
    "errors.max.retries": ("errors_max_retries", int),
}

import re as _re  # noqa: E402  (module-tail helpers for from_properties)

_MASK_CHARS = _re.compile(r"^column\.mask\.with\.(\d+)\.chars$")
_TRUNCATE_CHARS = _re.compile(r"^column\.truncate\.to\.(\d+)\.chars$")
_MASK_HASH = _re.compile(r"^column\.mask\.hash\.([\w-]+)\.with\.salt\.(.+)$")

# transport/connection keys a Connect worker consumes — no Spark analogue
_IGNORED_PROPERTIES = {
    "name", "connector.class", "tasks.max", "database.hostname",
    "database.port", "database.user", "database.password",
    "database.connectionTimeZone", "schema.history.internal",
    "schema.history.internal.kafka.topic",
    "schema.history.internal.kafka.bootstrap.servers",
    "key.converter", "value.converter", "key.converter.schemas.enable",
    "value.converter.schemas.enable", "include.schema.changes",
    "max.queue.size", "poll.interval.ms",
    # standard embedded-engine / file-store keys every reference config
    # carries (EmbeddedEngine.java offset-store and MySQL server-id options);
    # transport-level here — the Spark engine's checkpoints replace them
    "offset.storage", "offset.flush.timeout.ms", "offset.flush.interval.ms",
    "database.server.id",
}
_IGNORED_PREFIXES = (
    "database.history.",
    "schema.history.internal.",  # file/kafka history store knobs (all stores)
    "offset.storage.",  # e.g. offset.storage.file.filename (api.build pops its own)
)
