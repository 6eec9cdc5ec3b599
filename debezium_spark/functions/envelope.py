"""Debezium change-event envelope as pure Spark column algebra.

Reference semantics: ``debezium-core/src/main/java/io/debezium/data/Envelope.java``
  - operations READ("r"), CREATE("c"), UPDATE("u"), DELETE("d"), TRUNCATE("t")
    (Envelope.java:33-57)
  - fields before/after/op/source/transaction/ts_ms (Envelope.java:82-112)
  - read()/create() set only ``after`` (Envelope.java:274-306), update() sets both
    (317-331), delete() only ``before`` (341-354), truncate() neither (363-369)
  - envelope schema name "<prefix>.<table>.Envelope" (Envelope.java:138,392-394)

The ``source`` block mirrors
``debezium-core/.../connector/AbstractSourceInfoStructMaker.java:39-48``
(version, connector, name, ts_ms, snapshot, db, sequence).

Everything here is `F.struct` / `F.when` column expressions — whole-stage-codegen
friendly, no Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Operation codes — Envelope.java:33-57.
OP_READ = "r"
OP_CREATE = "c"
OP_UPDATE = "u"
OP_DELETE = "d"
OP_TRUNCATE = "t"
OP_MESSAGE = "m"

ALL_OPS = (OP_READ, OP_CREATE, OP_UPDATE, OP_DELETE, OP_TRUNCATE, OP_MESSAGE)

# Snapshot marker values — AbstractSourceInfoStructMaker.java:27 (enum
# true,last,false,incremental) plus first/first_in_data_collection/last_in_data_collection
# from RelationalSnapshotChangeEventSource.java:404-428.
SNAPSHOT_TRUE = "true"
SNAPSHOT_FIRST = "first"
SNAPSHOT_LAST = "last"
SNAPSHOT_FALSE = "false"
SNAPSHOT_INCREMENTAL = "incremental"


def source_schema() -> T.StructType:
    """Schema of the envelope ``source`` block (AbstractSourceInfoStructMaker.java:39-48)."""
    return T.StructType(
        [
            T.StructField("version", T.StringType()),
            T.StructField("connector", T.StringType()),
            T.StructField("name", T.StringType()),
            T.StructField("ts_ms", T.LongType()),
            T.StructField("snapshot", T.StringType()),
            T.StructField("db", T.StringType()),
            T.StructField("sequence", T.StringType()),
        ]
    )


def payload_schema(extra_fields: list[T.StructField] | None = None) -> T.StructType:
    """Row schema of the captured table (BASELINE.json input_hint):
    (repo, path, commit, lang, content) all strings; schema evolution may append
    extra fields (e.g. size_bytes) — see registry.py.
    """
    fields = [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content", T.StringType()),
    ]
    return T.StructType(fields + list(extra_fields or []))


def envelope_schema(
    payload: T.StructType | None = None, key_cols: tuple[str, ...] = ("repo", "path")
) -> T.StructType:
    """Full change-event schema: key struct + envelope value struct.

    Tombstone representation (EventDispatcher.java:408-420: record with same key and
    null value): ``value IS NULL``.
    """
    p = payload or payload_schema()
    key = T.StructType([T.StructField(c, p[c].dataType) for c in key_cols])
    value = T.StructType(
        [
            T.StructField("before", p),
            T.StructField("after", p),
            T.StructField("op", T.StringType(), nullable=False),
            T.StructField("ts_ms", T.LongType()),
            T.StructField("source", source_schema()),
            T.StructField(
                "transaction",
                T.StructType(
                    [
                        T.StructField("id", T.StringType()),
                        T.StructField("total_order", T.LongType()),
                        T.StructField("data_collection_order", T.LongType()),
                    ]
                ),
            ),
        ]
    )
    return T.StructType(
        [
            T.StructField("key", key, nullable=False),
            T.StructField("value", value),  # nullable: null => tombstone
            T.StructField("offset", T.LongType(), nullable=False),
        ]
    )


def source_block(
    *,
    version: str = "0.1.0",
    connector: str = "spark-cdc",
    name: str = "repos",
    db: str = "lake",
    ts_ms: Column | None = None,
    snapshot: Column | None = None,
    sequence: Column | None = None,
) -> Column:
    """Build the ``source`` struct column (AbstractSourceInfoStructMaker.java:39-48)."""
    return F.struct(
        F.lit(version).alias("version"),
        F.lit(connector).alias("connector"),
        F.lit(name).alias("name"),
        (ts_ms if ts_ms is not None else F.lit(None).cast("long")).alias("ts_ms"),
        (snapshot if snapshot is not None else F.lit(SNAPSHOT_FALSE)).alias("snapshot"),
        F.lit(db).alias("db"),
        (sequence if sequence is not None else F.lit(None).cast("string")).alias(
            "sequence"
        ),
    )


def _key_struct(key_cols: tuple[str, ...], from_struct: Column | None = None) -> Column:
    if from_struct is not None:
        return F.struct(*[from_struct.getField(c).alias(c) for c in key_cols])
    return F.struct(*[F.col(c) for c in key_cols])


def _value_struct(
    before: Column, after: Column, op: str | Column, ts_ms: Column, source: Column
) -> Column:
    op_col = F.lit(op) if isinstance(op, str) else op
    return F.struct(
        before.alias("before"),
        after.alias("after"),
        op_col.alias("op"),
        ts_ms.alias("ts_ms"),
        source.alias("source"),
        F.lit(None)
        .cast("struct<id:string,total_order:bigint,data_collection_order:bigint>")
        .alias("transaction"),
    )


def read_events(
    df: DataFrame,
    *,
    key_cols: tuple[str, ...] = ("repo", "path"),
    offset: Column,
    ts_ms: Column | None = None,
    source: Column | None = None,
    snapshot_marker: Column | None = None,
) -> DataFrame:
    """Wrap a snapshot scan as READ envelopes — Envelope.read(), Envelope.java:274-285:
    only ``after`` is set. ``snapshot_marker`` implements the first/true/last tagging of
    RelationalSnapshotChangeEventSource.java:404-428.
    """
    payload_cols = [c for c in df.columns]
    after = F.struct(*[F.col(c) for c in payload_cols])
    ts = ts_ms if ts_ms is not None else F.lit(0).cast("long")
    src = source if source is not None else source_block(
        ts_ms=ts, snapshot=snapshot_marker if snapshot_marker is not None else F.lit(SNAPSHOT_TRUE)
    )
    null_payload = F.lit(None).cast(
        T.StructType([T.StructField(c, df.schema[c].dataType) for c in payload_cols])
    )
    return df.select(
        _key_struct(key_cols).alias("key"),
        _value_struct(null_payload, after, OP_READ, ts, src).alias("value"),
        offset.cast("long").alias("offset"),
    )


def wrap_wal(
    wal: DataFrame,
    *,
    key_cols: tuple[str, ...] = ("repo", "path"),
    connector: str = "spark-cdc",
    server_name: str = "repos",
    db: str = "lake",
    version: str = "0.1.0",
) -> DataFrame:
    """Wrap flat WAL rows (offset, ts_ms, op, repo, path, before, after, is_tombstone,
    tx_id, schema_version[, source]) into the envelope schema.

    Per-op before/after presence follows Envelope.java:274-369:
      r/c -> after only; u -> both; d -> before only; tombstone -> value IS NULL.
    """
    has_source = "source" in wal.columns
    # source.snapshot marker: ad-hoc (signal-driven) chunk rows carry
    # 'incremental' (SnapshotRecord.INCREMENTAL — the reference tags every
    # incremental-snapshot window row), initial-snapshot reads 'true',
    # stream events 'false'. The ``_adhoc`` column is the engine's chunk
    # lineage flag and never reaches the envelope output (fixed projection).
    snap = F.when(F.col("op") == OP_READ, F.lit(SNAPSHOT_TRUE)).otherwise(
        F.lit(SNAPSHOT_FALSE)
    )
    if "_adhoc" in wal.columns:
        snap = (
            F.when(
                (F.col("op") == OP_READ)
                & F.coalesce(F.col("_adhoc"), F.lit(False)),
                F.lit(SNAPSHOT_INCREMENTAL),
            )
            .when(F.col("op") == OP_READ, F.lit(SNAPSHOT_TRUE))
            .otherwise(F.lit(SNAPSHOT_FALSE))
        )
    src = (
        F.col("source")
        if has_source
        else source_block(
            version=version,
            connector=connector,
            name=server_name,
            db=db,
            ts_ms=F.col("ts_ms"),
            snapshot=snap,
            sequence=F.col("offset").cast("string"),
        )
    )
    before = F.when(F.col("op").isin(OP_UPDATE, OP_DELETE), F.col("before")).otherwise(
        F.lit(None).cast(wal.schema["before"].dataType)
    )
    after = F.when(
        F.col("op").isin(OP_READ, OP_CREATE, OP_UPDATE), F.col("after")
    ).otherwise(F.lit(None).cast(wal.schema["after"].dataType))

    value = _value_struct(before, after, F.col("op"), F.col("ts_ms"), src)
    # Tombstone: same key, null value (EventDispatcher.java:408-420).
    is_tomb = (
        F.coalesce(F.col("is_tombstone"), F.lit(False))
        if "is_tombstone" in wal.columns
        else F.lit(False)
    )
    # Per-field extraction BEFORE the op branch: getField over a
    # coalesce/when of whole structs defeats Catalyst's nested-schema pruning
    # (the scan then reads every payload column — content included — into the
    # winner-ordinal aggregation, which only needs the key). With
    # GetStructField applied directly to the before/after attributes, the
    # phase-1 scan prunes to the key fields (PLANS.md §CDC replay ReadSchema).
    # Semantics identical: delete keys come from before; otherwise after when
    # the after image exists (even if its field is null — same as selecting
    # the after struct), else before; top-level repo/path as the last resort.
    # A key column the payload does not carry (a multi-table frame's table
    # column) is the top-level column itself.
    payload_names = set(wal.schema["after"].dataType.names)

    def _key_field(c: str) -> Column:
        if c not in payload_names:
            return F.col(c)
        b, a = F.col("before").getField(c), F.col("after").getField(c)
        src = F.when(F.col("op") == OP_DELETE, b).otherwise(
            F.when(F.col("after").isNotNull(), a).otherwise(b)
        )
        return F.coalesce(src, F.col(c))

    key = F.struct(*[_key_field(c).alias(c) for c in key_cols])
    out = wal.select(
        key.alias("key"),
        F.when(is_tomb, F.lit(None).cast(value_dtype(wal))).otherwise(value).alias(
            "value"
        ),
        F.col("offset").cast("long").alias("offset"),
        *([F.col("tx_id")] if "tx_id" in wal.columns else []),
        *([F.col("schema_version")] if "schema_version" in wal.columns else []),
    )
    return out


def value_dtype(wal: DataFrame) -> T.StructType:
    """DataType of the envelope value struct for this WAL's payload schema."""
    p = wal.schema["after"].dataType
    return T.StructType(
        [
            T.StructField("before", p),
            T.StructField("after", p),
            T.StructField("op", T.StringType()),
            T.StructField("ts_ms", T.LongType()),
            T.StructField("source", source_schema()),
            T.StructField(
                "transaction",
                T.StructType(
                    [
                        T.StructField("id", T.StringType()),
                        T.StructField("total_order", T.LongType()),
                        T.StructField("data_collection_order", T.LongType()),
                    ]
                ),
            ),
        ]
    )


def unwrap(
    envelopes: DataFrame,
    *,
    drop_deletes: bool = False,
    delete_handling: str | None = None,
    add_fields: list[str] | None = None,
    add_headers: list[str] | None = None,
    route_by_field: str | None = None,
    drop_tombstones: bool = True,
) -> DataFrame:
    """ExtractNewRecordState SMT (transforms/ExtractNewRecordState.java:126-191):
    envelope -> flat row of ``after.*`` plus ``__op`` / ``__deleted`` metadata.

    Options mirror the reference SMT's config surface:
      * ``delete_handling`` — 'drop' | 'rewrite' | 'none'
        (DeleteHandling enum, ExtractNewRecordState.java:64-87): drop removes
        delete records, rewrite keeps them flattened with ``__deleted=true``
        (the default here), none passes the delete through untouched.
        ``drop_deletes=True`` is shorthand for 'drop'.
      * ``add_fields`` — envelope/source paths copied to ``__<path>`` columns
        (add.fields: e.g. 'op', 'ts_ms', 'source.lsn', 'transaction.id').
      * ``add_headers`` — same paths as ``__header_<path>`` columns (Spark has
        no record-header channel; headers surface as prefixed columns).
      * ``route_by_field`` — route.by.field: emits a ``__route`` column from
        the given flattened column (downstream writers partition by it).
      * ``drop_tombstones`` — drop.tombstones (default true, as the reference).
    """
    if delete_handling is None:
        delete_handling = "drop" if drop_deletes else "rewrite"
    if delete_handling not in ("drop", "rewrite", "none"):
        raise ValueError(f"invalid delete_handling {delete_handling!r}")

    flat = (
        envelopes.where(F.col("value").isNotNull())
        if drop_tombstones
        else envelopes
    )
    op = F.col("value.op")
    deleted = F.col("value").isNotNull() & (op == OP_DELETE)
    # rewrite flattens the before-image for deletes; 'none' leaves the delete's
    # (null) after-image untouched, as the reference's NONE mode does
    row_src = F.when(
        deleted & F.lit(delete_handling != "none"), F.col("value.before")
    ).otherwise(F.col("value.after"))
    payload_fields = envelopes.schema["value"].dataType["after"].dataType.fieldNames()

    def _env_path(path: str) -> F.Column:
        # paths resolve against the envelope value struct: 'op', 'ts_ms',
        # 'source.<f>', 'transaction.<f>' (ExtractNewRecordState.java:318-343)
        return F.col("value." + path)

    extra = [
        _env_path(p).alias("__" + p.replace(".", "_")) for p in (add_fields or [])
    ] + [
        _env_path(p).alias("__header_" + p.replace(".", "_"))
        for p in (add_headers or [])
    ]
    out = flat.select(
        *[row_src.getField(c).alias(c) for c in payload_fields],
        op.alias("__op"),
        deleted.alias("__deleted"),
        F.col("offset").alias("__offset"),
        F.col("value.ts_ms").alias("__ts_ms"),
        *extra,
    )
    if delete_handling == "drop":
        out = out.where(~F.col("__deleted"))
    if route_by_field:
        out = out.withColumn("__route", F.col(route_by_field).cast("string"))
    return out


def wrap_messages(
    df: DataFrame,
    *,
    prefix: Column,
    content: Column,
    offset: Column,
    ts_ms: Column | None = None,
    prefix_include: str | None = None,
    prefix_exclude: str | None = None,
    connector: str = "spark-cdc",
    server_name: str = "repos",
    db: str = "lake",
    version: str = "0.1.0",
) -> DataFrame:
    """Logical decoding messages (``pg_logical_emit_message``) as MESSAGE('m')
    envelopes on the ``<server_name>.message`` topic.

    Reference: ``debezium-connector-postgres/.../LogicalDecodingMessageMonitor.java``
      - topic = ``<logicalName>.message``; field names prefix/content/message
        (LogicalDecodingMessageMonitor.java:43-46,70)
      - key = struct{prefix} ("struct over the plain prefix ... for better
        evolvability", :58-76); value = {op='m', ts_ms, source,
        message{prefix, content}} with NO before/after image (:85-96,100-115)
    Prefix filtering per message.prefix.include/exclude.list regexes —
    ``LogicalDecodingMessageFilter.java:22-31`` (include wins when both set).
    Reference semantics (``Predicates.java:205,235``): the list is
    COMMA-SEPARATED regexes, each matched case-insensitively against the FULL
    prefix (``Pattern.matches`` anchoring) — a prefix passes the include list
    if ANY pattern fully matches it. Each pattern here is wrapped as
    ``(?i)^(?:p)$`` accordingly; unanchored substring matching is NOT applied.
    Messages are control-plane records: they never reach the table merge path
    (the engine excludes op='m' from _prefilter, mirroring the monitor being a
    separate sender from the relational dispatcher).
    """
    def _any_full_match(patterns: str) -> Column:
        # comma-separated regex list, each case-insensitive + full-string
        # anchored (Predicates.java:205,235 — Pattern.CASE_INSENSITIVE,
        # Predicate.matches); ANY pattern matching admits the prefix
        terms = [p.strip() for p in patterns.split(",") if p.strip()]
        cond = F.lit(False)
        for p in terms:
            cond = cond | F.col("_msg_prefix").rlike(f"(?i)^(?:{p})$")
        return cond

    out = df.withColumn("_msg_prefix", prefix)
    if prefix_include:
        out = out.where(_any_full_match(prefix_include))
    elif prefix_exclude:  # include wins over exclude, as the reference filter
        out = out.where(~_any_full_match(prefix_exclude))
    ts = ts_ms if ts_ms is not None else F.lit(None).cast("long")
    src = source_block(
        version=version,
        connector=connector,
        name=server_name,
        db=db,
        ts_ms=ts,
        snapshot=F.lit(SNAPSHOT_FALSE),
        sequence=offset.cast("string"),
    )
    message = F.struct(
        F.col("_msg_prefix").alias("prefix"), content.alias("content")
    )
    value = F.struct(
        F.lit(OP_MESSAGE).alias("op"),
        ts.alias("ts_ms"),
        src.alias("source"),
        message.alias("message"),
    )
    return out.select(
        F.struct(F.col("_msg_prefix").alias("prefix")).alias("key"),
        value.alias("value"),
        offset.cast("long").alias("offset"),
        F.lit(f"{server_name}.message").alias("topic"),
    )
