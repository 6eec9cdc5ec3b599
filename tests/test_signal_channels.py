"""Round-3 signal surface: pause/resume-snapshot actions
(PauseIncrementalSnapshot.java:1, ResumeIncrementalSnapshot.java:1), in-band
signal rows riding the WAL (Signal.java:1-178 — the signal table is itself a
captured table, so signals are totally ordered with data), the read-only
execute-snapshot watermark variant
(MySqlReadOnlyIncrementalSnapshotChangeEventSource.java:1 — watermarks are
observed log positions, nothing written back), and the SchemaChanges signal
action (pipeline/signal/SchemaChanges.java:1)."""

import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from debezium_spark import CdcEngine, EngineConfig
from debezium_spark.sources import wal as W
from tests import oracle


def _stream_wal(spark, spec):
    return W.wal_events(spark, spec).where(F.col("op") != "r")


def _seed_as_read_rows(seed_pd: pd.DataFrame) -> pd.DataFrame:
    """Seed table as synthetic READ rows at distinct negative offsets, so the
    pandas reducer can replay (seed + stream) into the true database state."""
    rows = []
    for i, r in enumerate(seed_pd.itertuples(index=False)):
        rows.append(
            {
                "offset": -(i + 1),
                "is_tombstone": False,
                "op": "r",
                "repo": r.repo,
                "path": r.path,
                "after": {"repo": r.repo, "path": r.path, "content": r.content},
            }
        )
    return pd.DataFrame(rows)


def _engine(spark, tmpdir_path, wal_dir, src_dir, sub, **cfg):
    return CdcEngine(
        spark,
        EngineConfig(
            snapshot_mode="never",
            max_offsets_per_batch=2000,
            incremental_chunk_size=64,
            incremental_chunks_per_batch=2,
            **cfg,
        ),
        wal_path=wal_dir,
        target_path=os.path.join(tmpdir_path, "t" + sub),
        work_dir=os.path.join(tmpdir_path, "w" + sub),
        snapshot_source=src_dir,
    )


# --------------------------------------------------- pause / resume snapshot
def test_pause_resume_snapshot_across_restart(spark, tmpdir_path):
    spec = W.WalSpec(n_keys=300, n_events=900, seed=77, schema_changes=False)
    src_dir = os.path.join(tmpdir_path, "source")
    W.seed_table(spark, spec).write.parquet(src_dir)
    wal_dir = os.path.join(tmpdir_path, "wal")
    _stream_wal(spark, spec).write.parquet(wal_dir)
    sig = os.path.join(tmpdir_path, "signals.jsonl")
    with open(sig, "w") as f:
        f.write(json.dumps({"type": "execute-snapshot"}) + "\n")

    e1 = _engine(spark, tmpdir_path, wal_dir, src_dir, "a", signal_path=sig)
    e1.run(max_batches=2)  # snapshot in flight
    st_mid = e1._incr_state()
    assert st_mid["active"] and st_mid["position"] > 0

    with open(sig, "a") as f:
        f.write(json.dumps({"type": "pause-snapshot"}) + "\n")
    e2 = _engine(spark, tmpdir_path, wal_dir, src_dir, "a", signal_path=sig)
    e2.run()  # WAL drains fully, but the paused snapshot emits NO chunks
    st_paused = e2._incr_state()
    assert st_paused["active"] and st_paused.get("paused") is True
    # the chunk position did not advance while paused
    assert st_paused["position"] == st_mid["position"]

    with open(sig, "a") as f:
        f.write(json.dumps({"type": "resume-snapshot"}) + "\n")
    e3 = _engine(spark, tmpdir_path, wal_dir, src_dir, "a", signal_path=sig)
    e3.run()  # drains the remaining chunks
    assert not e3._incr_state()["active"]

    # final state identical to an uninterrupted snapshot+stream replay
    stream_pd = (
        spark.read.parquet(wal_dir)
        .select("offset", "is_tombstone", "op", "repo", "path", "after")
        .toPandas()
    )
    seed_pd = W.seed_table(spark, spec).toPandas()
    expected = oracle.state_hashes(
        oracle.reduce_wal(pd.concat([_seed_as_read_rows(seed_pd), stream_pd]))
    )
    got = oracle.target_hashes(
        e3.target().read().select("repo", "path", "content").toPandas()
    )
    assert got == expected


# ------------------------------- in-band signals + read-only watermark
def _inband_fixture(spark, tmpdir_path):
    """Stream WAL with an execute-snapshot signal ROW at offset S, one lost
    event (the ad-hoc-snapshot repair scenario), and a snapshot source that is
    the exact database state at S (what an operator exporting the live table
    at signal time gets)."""
    spec = W.WalSpec(n_keys=200, n_events=600, seed=31, schema_changes=False)
    wal_df = _stream_wal(spark, spec)
    wal_pd = wal_df.select(
        "offset", "is_tombstone", "op", "repo", "path", "after"
    ).toPandas()
    seed_pd = W.seed_table(spark, spec).toPandas()
    offs = sorted(wal_pd["offset"].unique())
    s_off = int(offs[len(offs) // 2]) + 3  # unused slot on the stride-8 grid
    assert s_off not in set(offs)

    # the "lost" event: a key whose LAST event is a non-delete at offset < S —
    # dropping it from the engine's WAL simulates divergence the ad-hoc
    # snapshot must repair (chunk watermark S > stale lake offset)
    live = wal_pd[(~wal_pd.is_tombstone) & (wal_pd.op != "d")]
    last_by_key = wal_pd.groupby(["repo", "path"])["offset"].max()
    lost = None
    for r in live.sort_values("offset", ascending=False).itertuples(index=False):
        if r.offset < s_off and last_by_key[(r.repo, r.path)] == r.offset:
            a = r.after if isinstance(r.after, dict) else r.after.asDict()
            if (a["repo"], a["path"]) == (r.repo, r.path):  # not a PK change
                lost = r
                break
    assert lost is not None

    # snapshot source = true state at S (seed + ALL events <= S, lost one incl.)
    state_at_s = oracle.reduce_wal(
        pd.concat([_seed_as_read_rows(seed_pd), wal_pd[wal_pd.offset <= s_off]])
    )
    src_rows = []
    for (repo, path), v in state_at_s.items():
        src_rows.append({"repo": repo, "path": path, "content": v.get("content")})
    src_dir = os.path.join(tmpdir_path, "source")
    spark.createDataFrame(
        pd.DataFrame(src_rows), "repo string, path string, content string"
    ).write.parquet(src_dir)

    payload_t = wal_df.schema["after"].dataType
    sig_row = spark.range(1).select(
        F.lit(s_off).cast("long").alias("offset"),
        F.lit(0).cast("long").alias("ts_ms"),
        F.lit("s").alias("op"),
        F.lit("sig-1").alias("repo"),
        F.lit("execute-snapshot").alias("path"),
        F.lit(None).cast(payload_t).alias("before"),
        F.struct(
            F.lit("sig-1").alias("repo"),
            F.lit("execute-snapshot").alias("path"),
            F.lit(None).cast("string").alias("commit"),
            F.lit(None).cast("string").alias("lang"),
            F.lit(json.dumps({"type": "execute-snapshot"})).alias("content"),
            F.lit(None).cast("long").alias("size_bytes"),
        ).cast(payload_t).alias("after"),
        F.lit(False).alias("is_tombstone"),
        F.lit(0).cast("long").alias("tx_id"),
        F.lit(1).alias("schema_version"),
    )
    wal_dir = os.path.join(tmpdir_path, "wal")
    (
        wal_df.where(F.col("offset") != int(lost.offset))
        .unionByName(sig_row)
        .write.parquet(wal_dir)
    )
    # expected final state = the true database state (seed + FULL wal): the
    # chunk at watermark S repairs the lost event's key
    expected = oracle.state_hashes(
        oracle.reduce_wal(pd.concat([_seed_as_read_rows(seed_pd), wal_pd]))
    )
    return spec, wal_dir, src_dir, s_off, lost, expected


def test_inband_execute_snapshot_applies_at_exact_offset(spark, tmpdir_path):
    spec, wal_dir, src_dir, s_off, lost, expected = _inband_fixture(
        spark, tmpdir_path
    )
    eng = _engine(
        spark, tmpdir_path, wal_dir, src_dir, "ib", signal_data_collection=True
    )
    eng.run()
    got = oracle.target_hashes(
        eng.target().read().select("repo", "path", "content").toPandas()
    )
    assert got == expected  # lost event repaired by the watermarked chunk read

    # exact-offset semantics: some batch ended EXACTLY at the signal offset,
    # and the snapshot's watermark is the signal's own offset
    batches = [
        json.loads(x)
        for x in open(os.path.join(tmpdir_path, "wib", "_metrics.jsonl"))
        if '"hi"' in x
    ]
    assert any(b["hi"] == s_off for b in batches)
    st = eng._incr_state()
    assert int(st["source_offset"]) == s_off and not st["active"]


def test_file_channel_offset0_does_not_repair(spark, tmpdir_path):
    """Contrast case: the out-of-band channel's conservative source_offset=0
    under-prioritizes the chunk, so the lost event stays lost — proving the
    in-band/observed watermark is what makes the repair happen."""
    spec, wal_dir, src_dir, s_off, lost, expected = _inband_fixture(
        spark, tmpdir_path
    )
    sig = os.path.join(tmpdir_path, "signals0.jsonl")
    with open(sig, "w") as f:
        f.write(json.dumps({"type": "execute-snapshot"}) + "\n")
    eng = _engine(spark, tmpdir_path, wal_dir, src_dir, "f0", signal_path=sig)
    eng.run()
    got = oracle.target_hashes(
        eng.target().read().select("repo", "path", "content").toPandas()
    )
    assert got != expected  # the stale row survives under watermark 0


def test_execute_snapshot_api_observed_watermark(spark, tmpdir_path):
    """Programmatic (read-only) trigger: no signal file, no signal rows —
    execute_snapshot() watermarks at the lake's committed offset."""
    spec, wal_dir, src_dir, s_off, lost, expected = _inband_fixture(
        spark, tmpdir_path
    )
    # strip the signal row: pure data WAL
    wal2 = os.path.join(tmpdir_path, "wal2")
    spark.read.parquet(wal_dir).where(F.col("op") != "s").write.parquet(wal2)
    eng = _engine(spark, tmpdir_path, wal2, src_dir, "api")
    # replay everything up to S first (the operator exports the source at S)
    eng.config.max_offsets_per_batch = s_off + 1
    eng.run(max_batches=1)
    assert eng.target().committed_max_offset >= s_off
    eng.execute_snapshot()  # observed watermark = committed offset >= stale rows
    eng.config.max_offsets_per_batch = 2000
    eng.run()
    got = oracle.target_hashes(
        eng.target().read().select("repo", "path", "content").toPandas()
    )
    assert got == expected


# ------------------------------------------------------- schema-changes signal
def test_schema_changes_signal_injects_ddl(spark, tmpdir_path):
    spec = W.WalSpec(n_keys=100, n_events=300, seed=13, schema_changes=False)
    wal_dir = os.path.join(tmpdir_path, "wal")
    W.wal_events(spark, spec).write.parquet(wal_dir)
    sig = os.path.join(tmpdir_path, "signals.jsonl")
    with open(sig, "w") as f:
        f.write(
            json.dumps(
                {
                    "type": "schema-changes",
                    "changes": [
                        {
                            "offset": 10,
                            "version": 2,
                            "ddl": "ALTER TABLE repos ADD COLUMN stars int",
                            "table_changes": "add_column:stars:int",
                        }
                    ],
                }
            )
            + "\n"
        )
    eng = CdcEngine(
        spark,
        EngineConfig(max_offsets_per_batch=1000, signal_path=sig),
        wal_path=wal_dir,
        target_path=os.path.join(tmpdir_path, "t"),
        work_dir=os.path.join(tmpdir_path, "w"),
    )
    eng.run()
    assert "stars" in eng.target().read().columns

    # durable: a fresh engine rebuilt from history still knows the injection
    e2 = CdcEngine(
        spark,
        EngineConfig(max_offsets_per_batch=1000),
        wal_path=wal_dir,
        target_path=os.path.join(tmpdir_path, "t"),
        work_dir=os.path.join(tmpdir_path, "w"),
    )
    assert any(
        c.table_changes == "add_column:stars:int" for c in e2.registry().changes
    )


# ------------------------------------------- streaming-drive parity (S5/P17)
def test_inband_signal_and_chunks_under_streaming_drive(spark, tmpdir_path):
    """run_streaming applies in-band signals at their exact offset and
    interleaves ad-hoc snapshot chunks per micro-batch, exactly like run() —
    the reference's incremental snapshot runs WHILE streaming."""
    spec, wal_dir, src_dir, s_off, lost, expected = _inband_fixture(
        spark, tmpdir_path
    )
    eng = _engine(
        spark, tmpdir_path, wal_dir, src_dir, "sib", signal_data_collection=True
    )
    eng.run_streaming()
    got = oracle.target_hashes(
        eng.target().read().select("repo", "path", "content").toPandas()
    )
    assert got == expected  # lost event repaired by the watermarked chunk read
    # some sub-batch ended exactly at the signal offset
    batches = [
        json.loads(x)
        for x in open(os.path.join(tmpdir_path, "wsib", "_metrics.jsonl"))
        if '"hi"' in x
    ]
    assert any(b["hi"] == s_off for b in batches)
    st = eng._incr_state()
    assert int(st["source_offset"]) == s_off and not st["active"]


def test_streaming_drains_chunks_after_wal_exhausted(spark, tmpdir_path):
    """A programmatic execute-snapshot with more chunks than stream epochs:
    the drain tail keeps emitting chunk-only batches after availableNow ends,
    so the snapshot completes in one run_streaming() call."""
    spec = W.WalSpec(n_keys=300, n_events=60, seed=31, schema_changes=False)
    src_dir = os.path.join(tmpdir_path, "src_drain")
    W.seed_table(spark, spec).write.parquet(src_dir)
    wal_dir = os.path.join(tmpdir_path, "wal_drain")
    _stream_wal(spark, spec).write.parquet(wal_dir)
    eng = _engine(spark, tmpdir_path, wal_dir, src_dir, "drain")
    eng.execute_snapshot()
    eng.run_streaming()
    st = eng._incr_state()
    assert not st["active"], "snapshot must complete within one streaming run"
    # every source key materialized (stream wins where it touched)
    n_keys = eng.target().read().count()
    assert n_keys >= spec.n_keys - int(
        spec.n_events  # deletes can remove at most n_events keys
    )
    wal_pd = (
        spark.read.parquet(wal_dir)
        .select("offset", "is_tombstone", "op", "repo", "path", "after")
        .toPandas()
    )
    seed_pd = spark.read.parquet(src_dir).toPandas()
    exp = oracle.state_hashes(
        oracle.reduce_wal(pd.concat([_seed_as_read_rows(seed_pd), wal_pd]))
    )
    got = oracle.target_hashes(
        eng.target().read().select("repo", "path", "content").toPandas()
    )
    assert got == exp


def test_failed_consumed_count_write_reapplies_no_consumed_signal(
    spark, tmpdir_path, monkeypatch
):
    """The out-of-band channel's consumed count is replaced atomically: a
    write that fails after its file is opened leaves the old count whole, so
    the next poll re-applies no signal an earlier poll consumed (only the one
    whose consumption never became durable)."""
    import builtins

    sig_path = os.path.join(tmpdir_path, "signals.jsonl")
    eng = CdcEngine(
        spark, EngineConfig(signal_path=sig_path),
        wal_path=os.path.join(tmpdir_path, "wal"),
        target_path=os.path.join(tmpdir_path, "t"),
        work_dir=os.path.join(tmpdir_path, "w"),
    )

    def emit(message):
        with open(sig_path, "a") as f:
            f.write(json.dumps({"type": "log", "message": message}) + "\n")

    emit("a")
    eng._poll_signals()
    emit("b")
    real_open = builtins.open

    class FailingWrite:
        def __init__(self, f):
            self._f = f

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self._f.close()

        def write(self, _):
            raise OSError("disk full")

        def __getattr__(self, name):
            return getattr(self._f, name)

    def open_(path, mode="r", *a, **kw):
        f = real_open(path, mode, *a, **kw)
        if "w" in mode and os.path.basename(str(path)).startswith("_signals_consumed"):
            return FailingWrite(f)
        return f

    monkeypatch.setattr(builtins, "open", open_)
    with pytest.raises(OSError, match="disk full"):
        eng._poll_signals()
    monkeypatch.undo()
    eng._poll_signals()
    with open(eng._metrics_path) as f:
        logged = [r["message"] for r in map(json.loads, f) if r.get("signal") == "log"]
    assert logged == ["a", "b", "b"]
