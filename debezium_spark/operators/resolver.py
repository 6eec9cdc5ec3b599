"""Per-key last-writer-wins resolution over the offset total order.

Debezium itself delegates per-key materialization to Kafka log compaction (tombstones
consumed downstream — EventDispatcher.java:396-420); in Spark we materialize it
explicitly so the MERGE sees exactly one action per key per batch (SURVEY.md §4.3).

Pieces:
  * dedup-by-offset — restart/dup protection analogous to the LSN skip in
    PostgresStreamingChangeEventSource.java:318 (searchWalPosition).
  * PK-change split — an UPDATE whose key changed becomes DELETE(old key) +
    CREATE(new key), per RelationalChangeRecordEmitter.java:111-118,160-174. The two
    derived events share the source offset and are ordered by a sub-sequence column.
  * last-writer-wins argmax — default "ordinal" strategy shuffles only (key,
    long-ordinal) pairs and broadcast-filters the payload rows, so payload bytes
    shuffled scale with live keys, not events; "aggregate" fallback is a single
    map-side-combining max_by groupBy (the hot-key/skew answer — at most one row
    per key per input partition crosses the wire). Window-over-offset ranking
    (row_number DESC = 1) is semantically identical but cannot partial-aggregate,
    which is what rules it out at 10^10 events.

All pure DataFrame ops — no Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Resolved-action codes consumed by LakeTable.merge().
ACTION_UPSERT = "upsert"
ACTION_DELETE = "delete"


def dedup_by_offset(events: DataFrame, *, sub_seq: str | None = None) -> DataFrame:
    """Drop duplicate offsets (exactly-once within a batch).

    Duplicates arise from replay overlap and deliberate re-delivery; the WAL offset is
    unique per source event, so (offset, is_tombstone[, seq]) identifies an event.
    """
    cols = ["offset"]
    if "is_tombstone" in events.columns:
        cols.append("is_tombstone")
    if sub_seq and sub_seq in events.columns:
        cols.append(sub_seq)
    return events.dropDuplicates(cols)


def split_pk_changes(
    env: DataFrame, key_cols: tuple[str, ...] = ("repo", "path")
) -> DataFrame:
    """Split key-changing UPDATEs into DELETE(old)+CREATE(new).

    Input: envelope rows (key, value, offset[, tx_id, schema_version]).
    Output: same schema + ``seq`` (0 default; delete=0 / create=1 for split pairs) so
    that ordering by (offset, seq) preserves Debezium's emission order
    (RelationalChangeRecordEmitter.java:160-174: delete first, then create).
    """
    v = F.col("value")
    vt = env.schema["value"].dataType
    payload_t = vt["after"].dataType
    kt = env.schema["key"].dataType

    # --- slim pre-projection -------------------------------------------------
    # Everything the split DECISION needs (op + the key fields of both images)
    # is lifted into top-level single-reference alias columns first. Three
    # Catalyst facts make this the shape that keeps nested-schema pruning
    # alive all the way to the parquet scan:
    #   1. presence checks must go through FIELDS — IsNotNull(value) or
    #      IsNotNull(value.before) references the whole struct and forces the
    #      scan to read every payload column;
    #   2. CollapseProject only inlines an alias referenced ONCE (inlining a
    #      multi-referenced complex expression would duplicate work), so a
    #      split-array expression that extracts from `value` many times pins
    #      the full value struct in the child projection;
    #   3. the generator-pruning rule only rewrites Generate over an
    #      attribute, so the array is aliased before the explode.
    # Result: the LWW winner aggregation (key+ordinal only) reads just the
    # key/op/offset columns — not `content` — from the WAL (PLANS.md §CDC).
    slim = {"_op": v.getField("op")}
    for c in key_cols:
        slim[f"_bk_{c}"] = v.getField("before").getField(c)
        slim[f"_ak_{c}"] = v.getField("after").getField(c)
    extra0 = [c for c in env.columns if c not in ("key", "value", "offset")]
    pre = env.select(
        "offset", *extra0, "key", "value",
        *[e.alias(n) for n, e in slim.items()],
    )
    before_key = F.struct(*[F.col(f"_bk_{c}").alias(c) for c in key_cols])
    after_key = F.struct(*[F.col(f"_ak_{c}").alias(c) for c in key_cols])
    bk_some = F.lit(False)
    ak_some = F.lit(False)
    for c in key_cols:
        bk_some = bk_some | F.col(f"_bk_{c}").isNotNull()
        ak_some = ak_some | F.col(f"_ak_{c}").isNotNull()
    # op=='u' already implies the value is present; an image participates in a
    # key-change split iff it carries at least one key field.
    is_split = (
        (F.col("_op") == "u") & bk_some & ak_some & (before_key != after_key)
    )

    delete_value = F.struct(
        v.getField("before").alias("before"),
        F.lit(None).cast(payload_t).alias("after"),
        F.lit("d").alias("op"),
        v.getField("ts_ms").alias("ts_ms"),
        v.getField("source").alias("source"),
        v.getField("transaction").alias("transaction"),
    ).cast(vt)
    create_value = F.struct(
        F.lit(None).cast(payload_t).alias("before"),
        v.getField("after").alias("after"),
        F.lit("c").alias("op"),
        v.getField("ts_ms").alias("ts_ms"),
        v.getField("source").alias("source"),
        v.getField("transaction").alias("transaction"),
    ).cast(vt)

    # One source scan, SLIM explode: only (key, seq, split) ride through the
    # Generate; the payload value is re-derived AFTER it from the carried
    # `value` column (which consumers that only need key+ordinal never touch,
    # so it prunes away entirely for them).
    def elem(key_c, seq: int, split: bool):
        return F.struct(
            key_c.cast(kt).alias("key"),
            F.lit(seq).alias("seq"),
            F.lit(split).alias("split"),
        )

    arr = F.when(
        F.coalesce(is_split, F.lit(False)),
        F.array(elem(before_key, 0, True), elem(after_key, 1, True)),
    ).otherwise(F.array(elem(F.col("key"), 0, False)))

    mid = pre.withColumn("_splits", arr).select(
        F.col("offset"), *extra0, F.col("value"), F.explode("_splits").alias("_e")
    )
    new_value = (
        F.when(F.col("_e.split") & (F.col("_e.seq") == 0), delete_value)
        .when(F.col("_e.split") & (F.col("_e.seq") == 1), create_value)
        .otherwise(v.cast(vt))
    )
    return mid.select(
        F.col("_e.key").alias("key"), new_value.alias("value"),
        F.col("offset"), *extra0, F.col("_e.seq").alias("seq"),
    )


def lww_rank(env: DataFrame) -> tuple[Column, Column]:
    """``(ordinal, is_delete)`` of an envelope row — the last-writer-wins
    order every resolver shares (batch ``resolve_lww`` and the streaming
    state store), so all drive modes resolve identically, PK-split ties
    included.

    ordinal = ``offset * 128 + seq`` as one LONG (WAL/LSN offsets are
    non-negative and the per-offset sub-sequence is < 128 — PK-split emits
    seq 0/1). is_delete = ``value.op IS NULL OR value.op = 'd'``: a tombstone
    or a delete. value IS NULL <=> op IS NULL, as op is a required envelope
    field (Envelope.java:224-237 builder validation), and testing the FIELD
    keeps nested-schema pruning alive — IsNull(value) references the whole
    struct and would force a key-only scan to read every payload column."""
    seq = (F.col("seq") if "seq" in env.columns else F.lit(0)).cast("long")
    op = F.col("value").getField("op")
    return F.col("offset").cast("long") * 128 + seq, op.isNull() | (op == "d")


def resolve_lww(
    env: DataFrame,
    *,
    key_cols: tuple[str, ...] = ("repo", "path"),
    salt_buckets: int = 32,
    strategy: str = "auto",
    bucket_into=None,
    winner_source: DataFrame | None = None,
    broadcast_key_budget: int = 16_000_000,
    live_key_bound: int | None = None,
) -> DataFrame:
    """Reduce envelope rows to one action per key: the last writer by (offset, seq).

    Tombstones (value IS NULL) and deletes both resolve to ACTION_DELETE; everything
    else upserts its ``after`` image. The ordering key is the LONG ordinal of
    :func:`lww_rank`, and the carried value is a slim (after, is_delete,
    ts_ms, offset) struct.

    Three strategy values, two physical plans, same result:

      * ``strategy="auto"`` (default) — measure, don't guess: the phase-1
        winner aggregation (key -> max ordinal, the cheap key-only pass both
        plans need anyway) is counted; if the live-key count fits
        ``broadcast_key_budget`` the ordinal plan proceeds, else the
        operator degrades to "aggregate" by itself. Past ~10^8 live keys per
        batch the winning-ordinal broadcast (8 B/key + hash-relation
        overhead, ~100 MB per 6M keys) OOMs the executors — a regime the
        USER should not need to know about (VERDICT r2 #6). The probe costs
        one count job over a payload-free scan + agg. The chosen plan is
        exposed as ``out._lww_chosen``.

        ``live_key_bound``: a FREE upper bound on the live-key count, when the
        caller has one (the engine passes ``2 * offset_span + chunk_rows``:
        offsets are unique per event, PK-split emits at most 2 keys per
        event). When the bound already fits the budget the probe job is
        skipped entirely — auto then costs exactly what a pinned "ordinal"
        does, and the count job only runs for batches genuinely near the
        broadcast limit.

      * ``strategy="ordinal"`` — **shuffle ordinals, not payloads.**
        Phase 1 aggregates only (key, ordinal) to each key's winning ordinal:
        a shuffle of a few dozen bytes per event instead of the full row
        payload (~KB per event: at 10^8+ events per batch the payload shuffle
        is memory-/network-bandwidth-bound and dominates the replay). Phase 2
        broadcasts the winning-ordinal set (8-byte longs; one per live key —
        a LongHashedRelation, ~100 MB per 6M keys) and LEFT SEMI-joins the
        envelope on the ordinal: payload rows are filtered map-side with NO
        exchange, because a WAL ordinal is globally unique up to exact
        duplicate re-deliveries. Phase 3 collapses those duplicate winners
        with a per-key max_by — a shuffle of at most one payload row per key.
        Total payload bytes shuffled ∝ live keys, not events.
      * ``strategy="aggregate"`` — single ``max_by(slim_struct, ordinal)``
        groupBy. One partial-aggregating SortAggregate per input partition,
        one exchange carrying at-most-one slim row per (key, partition). This
        is the fallback for the regime where the winner set itself is too big
        to broadcast (10^9+ live keys on small executors): payload moves
        through ONE shuffle, never two, and the map-side combine is the
        hot-key/skew answer — a key with millions of duplicate events still
        ships at most one row per input partition (no salting needed;
        ``salt_buckets`` retained for API compatibility only).

    Phase 1 of the ordinal strategy touches only offset/seq/key columns, so
    Catalyst's nested-schema pruning keeps the payload columns out of that
    scan entirely (verify: ReadSchema in PLANS.md §CDC replay).

    ``bucket_into=(n_buckets, bucket_fn)`` (bucket_fn: first-key-column ->
    bucket Column, e.g. the lake's bucket transform) clusters the FINAL
    aggregation by the storage bucket instead of Spark's default key hash:
    candidates are repartitioned once on ``_bucket`` and the per-key reduce
    runs exchange-free on top (HashPartitioning(_bucket) satisfies
    ClusteredDistribution(_bucket, key) — bucket is a function of the key),
    so the output arrives ALREADY in the lake's write layout. One payload
    shuffle end-to-end instead of two (key-hash agg + bucket repartition);
    at 10^10 events that second payload pass through the wire is the
    difference between shuffle-bound and scan-bound. Rows with a null key
    column get a null ``_bucket`` (quarantine lane). Output gains a
    ``_bucket`` column.

    No serialization round-trip in either strategy: an earlier packed-string
    variant carried the payload through to_json/from_json, where a non-finite
    double (NaN/Infinity) produced unparseable JSON and PERMISSIVE from_json
    nulled the whole slim struct — silently upserting a null ``after`` over
    good data. The struct path carries payload bytes verbatim.

    Returns: key_cols*, action, after(payload struct), _offset, _ts_ms.
    """
    val0 = F.col("value")
    ordinal, is_del0 = lww_rank(env)
    ordinal = ordinal.alias("_ord")
    slim = F.struct(
        F.when(~is_del0, val0.getField("after")).alias("after"),
        is_del0.alias("is_delete"),
        val0.getField("ts_ms").alias("ts_ms"),  # null propagates from null value
        F.col("offset").cast("long").alias("offset"),
    )
    key_refs = [F.col("key").getField(c).alias(c) for c in key_cols]
    chosen = strategy
    if strategy in ("ordinal", "auto"):
        # ``winner_source``: an alternative envelope stream with IDENTICAL
        # (key, offset, seq) rows — e.g. the engine's key-only slim replica of
        # the pipeline. Phase 1 only ranks ordinals per key, so feeding it a
        # payload-free stream lets the scan skip every payload column
        # (content included); the payload-bearing ``env`` is read only by the
        # broadcast-filtered phase 2.
        wsrc = winner_source if winner_source is not None else env
        win = (
            wsrc.select(*key_refs, lww_rank(wsrc)[0].alias("_ord"))
            .groupBy(*key_cols)
            .agg(F.max("_ord").alias("_ord"))
        )
        if strategy == "auto" and (
            live_key_bound is not None and live_key_bound <= broadcast_key_budget
        ):
            chosen = "ordinal"  # bound proves the winner set fits: no probe job
        elif strategy == "auto":
            # Probe = one count over the slim key-only aggregation. NOT
            # persisted: a batch that reaches this path is near the budget —
            # caching up to ~16M winner rows buys one avoided recompute of a
            # payload-free scan+agg (noise at that batch size) at the price
            # of executor storage memory and cache-lifecycle plumbing in
            # every caller; the broadcast just recomputes its slim subtree.
            n_live = win.count()
            chosen = "ordinal" if n_live <= broadcast_key_budget else "aggregate"
    if chosen == "ordinal":
        ev = env.select(*key_refs, slim.alias("_slim"), ordinal)
        cand = ev.join(F.broadcast(win.select("_ord")), on="_ord", how="left_semi")
    else:
        cand = env.select(*key_refs, slim.alias("_slim"), ordinal)
    group_cols: list = list(key_cols)
    if bucket_into is not None:
        n_buckets, bucket_fn = bucket_into
        key_null = F.lit(False)
        for c in key_cols:
            key_null = key_null | F.col(c).isNull()
        cand = cand.withColumn(
            "_bucket", F.when(~key_null, bucket_fn(F.col(key_cols[0])))
        ).repartition(n_buckets, "_bucket")
        group_cols = ["_bucket", *key_cols]
    agg = cand.groupBy(*group_cols).agg(F.max_by("_slim", "_ord").alias("_w"))
    w = F.col("_w")
    out = agg.select(
        *group_cols,
        F.when(w.getField("is_delete"), F.lit(ACTION_DELETE))
        .otherwise(F.lit(ACTION_UPSERT))
        .alias("action"),
        w.getField("after").alias("after"),
        w.getField("offset").alias("_offset"),
        w.getField("ts_ms").alias("_ts_ms"),
    )
    out._lww_chosen = chosen
    return out


def committed_tx_filter(
    events: DataFrame,
    commits: DataFrame,
    *,
    tx_col: str = "tx_id",
    broadcast_commits: bool = True,
) -> DataFrame:
    """Transaction look-ahead buffer (S7, connector-mysql EventBuffer.java:21-45):
    Debezium buffers in-flight transaction events and drops transactions that roll
    back. Spark-first, the buffer is a semi-join: keep only events whose tx id
    appears in the committed set. ``commits`` = one row per committed tx
    (the XID-event stream); broadcast it when the per-batch tx count is small
    (the common case — tx count << event count), else shuffle-join.
    """
    c = commits.select(F.col(tx_col)).distinct()
    if broadcast_commits:
        c = F.broadcast(c)
    return events.join(c, on=tx_col, how="left_semi")


def transaction_metadata(env: DataFrame) -> DataFrame:
    """Per-event transaction block (TransactionMonitor.java:56-72,122-135):
    transaction{id, total_order, data_collection_order} where total_order ranks events
    within a tx and data_collection_order ranks within (tx, table). With a single
    captured table the two coincide; kept separate for parity.
    """
    from pyspark.sql import Window

    # Tombstones carry no envelope (value IS NULL) and get no transaction block
    # (TransactionMonitor skips them); rank only data events so total_order is dense.
    rank = F.when(
        F.col("value").isNotNull(),
        F.row_number().over(
            Window.partitionBy(
                "tx_id", F.col("value").isNull()
            ).orderBy("offset")
        ),
    )
    out = env.withColumn("_total_order", rank).withColumn("_dc_order", rank)
    v = F.col("value")
    vt = env.schema["value"].dataType
    new_value = F.when(
        v.isNotNull(),
        F.struct(
            v.getField("before").alias("before"),
            v.getField("after").alias("after"),
            v.getField("op").alias("op"),
            v.getField("ts_ms").alias("ts_ms"),
            v.getField("source").alias("source"),
            F.struct(
                F.col("tx_id").cast("string").alias("id"),
                F.col("_total_order").cast("long").alias("total_order"),
                F.col("_dc_order").cast("long").alias("data_collection_order"),
            ).alias("transaction"),
        ).cast(vt),
    )
    return out.withColumn("value", new_value).drop("_total_order", "_dc_order")


def transaction_boundaries(
    wal: DataFrame,
    *,
    topic_prefix: str = "repos",
    table_col: str | None = None,
    collection: str = "repos",
) -> DataFrame:
    """BEGIN/END transaction boundary events for the dedicated
    ``<prefix>.transaction`` topic (TransactionMonitor.java:36-37,168-203):
    on transaction change the reference emits a START record with the tx id
    and an END record carrying the total event count plus per-data-collection
    counts. Batch analogue: one (tx, collection)-keyed partial-combining
    aggregate rolled up per tx — two slim exchanges carrying counts only,
    partitions bounded by per-transaction event counts (the same bound A4's
    total_order ranking relies on).

    Only DATA events count (TransactionMonitor skips control/message rows).
    ``event_count`` is NULL on BEGIN, exact on END; ``collections`` is the
    END record's per-collection breakdown as a deterministic
    ``name:count`` list sorted by name (the data_collections array of the
    reference's END value, flattened for hash-stable comparison).
    """
    data = wal.where(F.col("op").isin("c", "u", "d", "r"))
    coll = F.col(table_col) if table_col else F.lit(collection)
    per_coll = data.groupBy("tx_id", coll.alias("_coll")).agg(
        F.count(F.lit(1)).alias("_c"),
        F.min("offset").alias("_fo"),
        F.max("offset").alias("_lo"),
        F.min("ts_ms").alias("_bt"),
        F.max("ts_ms").alias("_et"),
    )
    per_tx = per_coll.groupBy("tx_id").agg(
        F.sum("_c").alias("event_count"),
        F.min("_fo").alias("first_offset"),
        F.max("_lo").alias("last_offset"),
        F.min("_bt").alias("begin_ts"),
        F.max("_et").alias("end_ts"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_coll", "_c"))),
                lambda s: F.concat(
                    s.getField("_coll"), F.lit(":"), s.getField("_c").cast("string")
                ),
            ),
            ",",
        ).alias("collections"),
    )
    topic = F.lit(f"{topic_prefix}.transaction")
    begin = per_tx.select(
        topic.alias("topic"),
        F.lit("BEGIN").alias("status"),
        F.col("tx_id"),
        F.lit(None).cast("long").alias("event_count"),
        F.col("first_offset").alias("offset"),
        F.col("begin_ts").cast("long").alias("ts_ms"),
        F.lit("").alias("collections"),
    )
    end = per_tx.select(
        topic.alias("topic"),
        F.lit("END").alias("status"),
        F.col("tx_id"),
        F.col("event_count").cast("long").alias("event_count"),
        F.col("last_offset").alias("offset"),
        F.col("end_ts").cast("long").alias("ts_ms"),
        F.col("collections"),
    )
    return begin.unionByName(end)
