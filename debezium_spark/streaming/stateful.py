"""Continuous per-key LWW materialization with Structured Streaming state.

The batch engine resolves last-writer-wins per micro-batch and MERGEs into the
lake (operators/resolver.py + plans/lake.py). This module is the *continuous*
variant: per-key state lives in Spark's streaming state store as one native
streaming aggregation (``groupBy(keys).agg(max_by(...))`` in update mode), so
the winner comparison happens against ALL history, not just the current batch
— the Spark-native analogue of the reference connector's compacted-topic
materialization (RelationalChangeRecordEmitter -> Kafka log compaction on the
key; SURVEY.md §2.4), kept incrementally instead of re-derived. No Python
runs on the data path.

State shards by key with ``spark.sql.shuffle.partitions``; each micro-batch
shuffles only its own events, and the changelog carries at most one row per
(key, batch). The store checkpoints with the query, so re-delivered events
lose the ordinal comparison after a restart too.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# same changelog vocabulary and LWW order as the batch resolver
from ..operators.resolver import ACTION_DELETE, ACTION_UPSERT, lww_rank


def stateful_lww(
    env: DataFrame,
    *,
    key_cols: tuple[str, ...] = ("repo", "path"),
) -> DataFrame:
    """Envelope stream -> per-key changelog of state transitions.

    Input: a (streaming or batch) envelope frame ``(key, value, offset[, seq])``
    (envelope.wrap_wal schema). Output: one row per key whose winner CHANGED in
    the trigger — ``key_cols*, action ('upsert'|'delete'), after (non-key
    payload struct), _offset, _ts_ms``, the resolver's action shape, directly
    mergeable by LakeTable.merge; a stale
    re-delivery (lower or equal ordinal) emits nothing, the dedup rule S8
    applied against all history. The ordinal is the batch resolver's
    (resolver.lww_rank), so both modes resolve identically. A deleted key's
    state row is kept, so a late lower-ordinal upsert cannot resurrect it.

    Trade-off: the state holds each live key's whole winning row, like a
    compacted topic, not just its 8-byte ordinal: memory grows with payload
    width, in exchange for a plan Catalyst runs natively. Its layout follows
    the payload schema (``stateful_lww_plan``).
    """
    return stateful_lww_plan(env, key_cols=key_cols)[1]


def stateful_lww_plan(
    env: DataFrame, *, key_cols: tuple[str, ...]
) -> tuple[str, DataFrame]:
    """(state layout, :func:`stateful_lww` changelog) of ``env``, from one
    build of the aggregation's input. The layout is a short hash of the
    state the changelog keeps: the keys plus the ``max_by`` buffer (winner
    row, rank), so DDL or a converter setting changes it as surely as a code
    change. Spark refuses to resume a state store under another layout; a
    checkpoint named by this hash is only resumed by a query that can read
    it."""
    ranked = _ranked(env, key_cols)
    layout = hashlib.sha256(ranked.schema.json().encode()).hexdigest()[:12]
    now = F.current_timestamp()
    after = [F.col("_w").getField(c).alias(c) for c in _data_names(env, key_cols)]
    changelog = (
        ranked.groupBy(*key_cols)
        .agg(F.max_by("_w", "_r").alias("_w"))
        .where(F.col("_w._seen") == now)
        .select(
            *key_cols, "_w.action", F.struct(*after).alias("after"),
            "_w._offset", "_w._ts_ms",
        )
    )
    return layout, changelog


def _ranked(env: DataFrame, key_cols: tuple[str, ...]) -> DataFrame:
    """Envelope -> (key_cols*, _w winner-row struct, _r rank struct): the
    input of stateful_lww's aggregation."""
    data_names = _data_names(env, key_cols)
    val = F.col("value")
    ordinal, is_del = lww_rank(env)
    now = F.current_timestamp()
    winner = F.struct(
        F.when(is_del, ACTION_DELETE).otherwise(ACTION_UPSERT).alias("action"),
        *[
            F.when(~is_del, val.getField("after").getField(c)).alias(c)
            for c in data_names
        ],
        F.col("offset").cast("long").alias("_offset"),
        F.coalesce(val.getField("ts_ms").cast("long"), F.lit(0)).alias("_ts_ms"),
        now.alias("_seen"),
    )
    # In a streaming query current_timestamp() is the micro-batch timestamp,
    # recorded in the offset log so a replayed batch sees the same value. The
    # rank breaks an ordinal tie (a re-delivered copy) in favour of the first
    # arrival, and update mode emits every key the trigger touched, so keeping
    # only winners first seen in THIS trigger (stateful_lww's filter) silences
    # stale and re-delivered events. Were two triggers ever to share a
    # timestamp, the worst case is an unchanged winner emitted again, which the
    # lake merge's strict `s._offset > t._offset` guard absorbs.
    rank = F.struct(ordinal.alias("_ord"), (-F.unix_micros(now)).alias("_arrival"))
    return env.select(
        *[F.col("key").getField(c).alias(c) for c in key_cols],
        winner.alias("_w"),
        rank.alias("_r"),
    )


def _data_names(env: DataFrame, key_cols: tuple[str, ...]) -> list[str]:
    """The envelope payload's non-key columns, in payload order."""
    payload_t = env.schema["value"].dataType["after"].dataType
    return [f.name for f in payload_t.fields if f.name not in key_cols]
