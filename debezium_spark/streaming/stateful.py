"""Continuous per-key LWW materialization with Structured Streaming state.

The batch engine resolves last-writer-wins per micro-batch and MERGEs into the
lake (operators/resolver.py + plans/lake.py). This module is the *continuous*
variant: per-key state lives in Spark's streaming state store
(``applyInPandasWithState``), so the winner comparison happens against ALL
history, not just the current batch — the Spark-native analogue of the
reference connector's compacted-topic materialization
(RelationalChangeRecordEmitter -> Kafka log compaction on the key;
SURVEY.md §2.4), kept incrementally instead of re-derived.

Scale shape: state is hash-partitioned by key across executors (the state
store shards with ``spark.sql.shuffle.partitions``), each micro-batch
shuffles only its own events, and the emitted changelog carries at most one
row per (key, batch) — downstream sinks see exactly the keys that changed.
Arrow-batched pandas on the grouped path (the sanctioned vectorized seam for
custom stateful operators); payload columns stay typed end-to-end (no JSON
round-trip — see resolver.py's NaN note).

Crash safety: the state store checkpoints with the query (WAL + snapshot
under ``checkpointLocation``); on restart the store resumes at the last
committed epoch, so re-delivered events lose the ordinal comparison and the
changelog stays exactly-once w.r.t. state transitions.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# same changelog vocabulary and LWW order as the batch resolver
from ..operators.resolver import ACTION_DELETE, ACTION_UPSERT, lww_rank


def _payload_type(env: DataFrame) -> T.StructType:
    return env.schema["value"].dataType["after"].dataType


def stateful_lww(
    env: DataFrame,
    *,
    key_cols: tuple[str, ...] = ("repo", "path"),
) -> DataFrame:
    """Envelope stream -> per-key changelog of state transitions.

    Input: a (streaming or batch) envelope frame ``(key, value, offset[, seq])``
    (envelope.wrap_wal schema). Output: one row per key whose winner CHANGED in
    the trigger — ``key_cols*, action ('upsert'|'delete'), <non-key payload
    cols>, _offset, _ts_ms`` — i.e. the stream a sink would apply; unchanged
    keys emit nothing (a stale re-delivery with a lower ordinal is absorbed by
    the state comparison, the resume/dedup rule S8 applied against all
    history). ``_ts_ms`` is the winning event's source timestamp, so the row
    is directly mergeable by LakeTable.merge (run_streaming_stateful).

    Ordering key: the batch resolver's ordinal (resolver.lww_rank), so batch
    and continuous modes resolve identically, including PK-split sub-sequence
    ties.

    Tombstones and deletes both transition the key to deleted; the state row
    is kept (ordinal memory) so late lower-ordinal upserts cannot resurrect a
    deleted key — the state-store twin of the lake's retained delete
    tombstones (plans/lake.py merge guard).
    """
    payload_t = _payload_type(env)
    data_fields = [f for f in payload_t.fields if f.name not in key_cols]
    key_t = env.schema["key"].dataType

    val = F.col("value")
    ordinal, is_del = lww_rank(env)
    flat = env.select(
        *[F.col("key").getField(c).alias(c) for c in key_cols],
        ordinal.alias("_ord"),
        F.coalesce(val.getField("ts_ms").cast("long"), F.lit(0)).alias("_ts"),
        is_del.alias("_is_delete"),
        *[
            F.when(~is_del, val.getField("after").getField(f.name))
            .cast(f.dataType)
            .alias(f.name)
            for f in data_fields
        ],
    )

    # State carries ONLY the winning ordinal: the resolver reads nothing else
    # back (emissions always come from the current trigger's winning row), so
    # persisting the payload would round-trip every payload column through
    # Arrow state serialization per touched key per trigger for zero reads —
    # measured ~25% of stateful-path wall at full-key-touch triggers.
    state_t = T.StructType([T.StructField("_ord", T.LongType())])
    out_t = T.StructType(
        [
            *[T.StructField(c, key_t[c].dataType) for c in key_cols],
            T.StructField("action", T.StringType()),
            *[T.StructField(f.name, f.dataType) for f in data_fields],
            T.StructField("_offset", T.LongType()),
            T.StructField("_ts_ms", T.LongType()),
        ]
    )
    data_names = [f.name for f in data_fields]
    n_keys = len(key_cols)

    out_cols = [*key_cols, "action", *data_names, "_offset", "_ts_ms"]

    def resolve(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # Hot path: called once per TOUCHED KEY per trigger (a full-replay
        # trigger touches every key), so per-call pandas overhead multiplies
        # by the key count. numpy argmax + positional .iat scalar reads beat
        # idxmax/.loc row materialization ~2x at realistic 3-8 rows/group.
        best_ord = -1
        best: tuple[pd.DataFrame, int] | None = None
        for pdf in pdfs:
            if not len(pdf):
                continue
            ords = pdf["_ord"].to_numpy()
            i = int(ords.argmax())
            o = int(ords[i])
            if o > best_ord:
                best_ord = o
                best = (pdf, i)
        if best is None:
            return
        if state.exists and int(state.get[0]) >= best_ord:
            return  # stale re-delivery: all-history dedup, no emission
        state.update((best_ord,))
        pdf, i = best
        # flat layout: key_cols*, _ord, _ts, _is_delete, data_names*
        ts = int(pdf.iat[i, n_keys + 1])
        is_delete = bool(pdf.iat[i, n_keys + 2])
        action = ACTION_DELETE if is_delete else ACTION_UPSERT
        vals = [
            v
            if isinstance(v, (list, tuple, np.ndarray))
            # scalar-safe null check: pd.isna on an array-typed cell returns
            # elementwise and would raise on truth-testing — arrays are
            # never "missing"
            else (None if pd.isna(v) else v)
            for v in (pdf.iat[i, j] for j in range(n_keys + 3, pdf.shape[1]))
        ]
        yield pd.DataFrame(
            [[*key, action, *vals, best_ord // 128, ts]], columns=out_cols
        )

    return flat.groupBy(*key_cols).applyInPandasWithState(
        resolve, out_t, state_t, "update", GroupStateTimeout.NoTimeout
    )
