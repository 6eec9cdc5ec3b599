"""Control-path operators: TRUNCATE events, event-failure handling (P18),
signals (P17), tx look-ahead commit filter (S7), vacuum retention.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from debezium_spark import CdcEngine, EngineConfig
from debezium_spark.operators import resolver as R
from debezium_spark.sources import wal as W
from tests import oracle


def _engine(spark, tmpdir_path, wal_dir, spec, cfg=None, sub=""):
    return CdcEngine(
        spark,
        cfg or EngineConfig(),
        wal_path=wal_dir,
        target_path=os.path.join(tmpdir_path, "t" + sub),
        work_dir=os.path.join(tmpdir_path, "w" + sub),
        schema_changes=W.schema_history(spark, spec),
    )


def _with_truncate(spark, spec):
    """The spec's events plus one TRUNCATE ('t') row mid-log: (events, its offset)."""
    wal = W.wal_events(spark, spec)
    bounds = wal.agg(F.min("offset"), F.max("offset")).first()
    t_off = int((bounds[0] + bounds[1]) // 2)
    trunc_row = spark.createDataFrame(
        [(t_off, 0, "t", None, None)],
        "offset bigint, ts_ms bigint, op string, repo string, path string",
    )
    full = wal.unionByName(trunc_row, allowMissingColumns=True).withColumn(
        "is_tombstone", F.coalesce(F.col("is_tombstone"), F.lit(False))
    )
    return full, t_off


def _post_truncate_oracle(spark, wal_dir, t_off):
    """Oracle state hashes over the events after the TRUNCATE at ``t_off``."""
    post = (
        spark.read.parquet(wal_dir)
        .where((F.col("offset") > t_off) & (F.col("op") != "t"))
        .select("offset", "is_tombstone", "op", "repo", "path", "after")
        .toPandas()
    )
    return oracle.state_hashes(oracle.reduce_wal(post))


def test_truncate_event_clears_prior_state(spark, tmpdir_path):
    """A TRUNCATE ('t') row at offset T drops every row written before T; later
    events rebuild state (Envelope.java:363-369: neither before nor after)."""
    spec = W.WalSpec(n_keys=200, n_events=800, seed=31, schema_changes=False)
    full, t_off = _with_truncate(spark, spec)
    wal_dir = os.path.join(tmpdir_path, "walt")
    full.repartition(2).write.parquet(wal_dir)

    eng = _engine(spark, tmpdir_path, wal_dir, spec, sub="t")
    eng.run()
    final = eng.target().read()
    # nothing from before the truncate survives
    assert final.where(F.col("_offset") < t_off).count() == 0
    # state equals the oracle reduce over post-truncate events only
    got = oracle.target_hashes(final.select("repo", "path", "content").toPandas())
    assert got == _post_truncate_oracle(spark, wal_dir, t_off)
    # watermark is durable: a fresh engine replaying the same WAL converges too
    eng2 = _engine(spark, tmpdir_path, wal_dir, spec, sub="t")
    eng2.run()
    assert eng.target().manifest(refresh=True)["truncate_below"] == t_off


@pytest.mark.parametrize("drive", ["run", "run_streaming"])
def test_truncate_reaches_a_reused_engine(spark, tmpdir_path, drive):
    """One engine drives half the log, a segment carrying a TRUNCATE is
    appended, and the SAME engine drives again: the TRUNCATE must apply, in
    the drive that reads it, however much log the engine has read before."""
    spec = W.WalSpec(n_keys=200, n_events=800, seed=31, schema_changes=False)
    full, t_off = _with_truncate(spark, spec)
    wal_dir = os.path.join(tmpdir_path, "walr")
    full.where(F.col("offset") < t_off).repartition(1).write.parquet(wal_dir)

    eng = _engine(spark, tmpdir_path, wal_dir, spec, sub="r")
    getattr(eng, drive)()
    assert eng.target().read().where(F.col("_offset") < t_off).count() > 0
    full.where(F.col("offset") >= t_off).repartition(1).write.mode("append").parquet(
        wal_dir
    )
    getattr(eng, drive)()

    lake = eng.target()
    assert lake.committed_max_offset >= t_off
    assert lake.manifest(refresh=True)["truncate_below"] == t_off
    final = lake.read()
    assert final.where(F.col("_offset") < t_off).count() == 0
    got = oracle.target_hashes(final.select("repo", "path", "content").toPandas())
    assert got == _post_truncate_oracle(spark, wal_dir, t_off)


@pytest.mark.parametrize("drive", ["run", "run_streaming", "run_streaming_stateful"])
def test_failure_handling_modes(spark, tmpdir_path, drive):
    """P18: malformed events (null key) fail/quarantine/skip by mode, in every
    drive mode (stateful quarantines its null-key changelog rows)."""
    spec = W.WalSpec(n_keys=100, n_events=300, seed=32, schema_changes=False)
    wal = W.wal_events(spark, spec)
    bad = spark.createDataFrame(
        [(10**9, 0, "c", None, None, False)],
        "offset bigint, ts_ms bigint, op string, repo string, path string, is_tombstone boolean",
    )
    wal_dir = os.path.join(tmpdir_path, "walb")
    wal.unionByName(bad, allowMissingColumns=True).repartition(2).write.parquet(wal_dir)
    good = (
        spark.read.parquet(wal_dir)
        .where(F.col("repo").isNotNull())
        .select("offset", "is_tombstone", "op", "repo", "path", "after")
        .toPandas()
    )
    want = oracle.state_hashes(oracle.reduce_wal(good))

    def drive_mode(eng):
        getattr(eng, drive)()
        return oracle.target_hashes(
            eng.target().read().select("repo", "path", "content").toPandas()
        )

    eng = _engine(spark, tmpdir_path, wal_dir, spec, EngineConfig(), sub="f")
    with pytest.raises(Exception, match="malformed"):
        drive_mode(eng)
    # aborted before the commit: the malformed event's batch never landed
    assert eng.target().committed_max_offset < 10**9

    engw = _engine(
        spark, tmpdir_path, wal_dir, spec,
        EngineConfig(failure_handling="warn"), sub="w",
    )
    assert drive_mode(engw) == want  # good rows all applied despite the bad one
    dlq = os.path.join(tmpdir_path, "ww", "_dlq")
    assert spark.read.parquet(dlq).count() == 1
    m = engw.metrics().where(F.col("malformed_skipped").isNotNull()).first()
    assert m["malformed_skipped"] == 1

    engs = _engine(
        spark, tmpdir_path, wal_dir, spec,
        EngineConfig(failure_handling="skip"), sub="s",
    )
    assert drive_mode(engs) == want
    assert not os.path.exists(os.path.join(tmpdir_path, "ws", "_dlq"))


def test_pause_signal_stops_and_resumes(spark, tmpdir_path):
    """P17: a pause signal stops before the next batch; a later run() resumes and
    converges; log signals land in metrics."""
    spec = W.WalSpec(n_keys=150, n_events=600, seed=33, schema_changes=False)
    wal_dir = os.path.join(tmpdir_path, "walp")
    W.write_wal(spark, spec, wal_dir, n_files=2)
    sig_path = os.path.join(tmpdir_path, "signals.jsonl")
    with open(sig_path, "w") as f:
        f.write(json.dumps({"type": "log", "message": "hello"}) + "\n")
        f.write(json.dumps({"type": "pause"}) + "\n")

    cfg = EngineConfig(signal_path=sig_path, max_offsets_per_batch=1000)
    eng = _engine(spark, tmpdir_path, wal_dir, spec, cfg, sub="p")
    results = eng.run()
    assert results == []  # paused before the first batch
    logged = eng.metrics().where(F.col("signal") == "log").first()
    assert logged["message"] == "hello"

    # signals are consumed exactly once: the next run replays to completion
    eng2 = _engine(spark, tmpdir_path, wal_dir, spec, cfg, sub="p")
    eng2.run()
    wal_pd = spark.read.parquet(wal_dir).select(
        "offset", "is_tombstone", "op", "repo", "path", "after"
    ).toPandas()
    got = oracle.target_hashes(
        eng2.target().read().select("repo", "path", "content").toPandas()
    )
    assert got == oracle.state_hashes(oracle.reduce_wal(wal_pd))


def test_committed_tx_filter(spark):
    """S7 EventBuffer analogue: events of rolled-back transactions are dropped."""
    ev = spark.createDataFrame(
        [(i, i // 4) for i in range(40)], "offset bigint, tx_id bigint"
    )
    commits = spark.createDataFrame(
        [(t,) for t in range(10) if t % 2 == 0], "tx_id bigint"
    )
    kept = R.committed_tx_filter(ev, commits)
    assert kept.count() == 20
    assert kept.where((F.col("tx_id") % 2) == 1).count() == 0


def test_vacuum_purges_tombstones(spark, tmpdir_path):
    """Retention: vacuum drops delete-tombstone rows at or below the watermark."""
    spec = W.WalSpec(n_keys=150, n_events=900, seed=34, schema_changes=False)
    wal_dir = os.path.join(tmpdir_path, "walv")
    W.write_wal(spark, spec, wal_dir, n_files=2)
    eng = _engine(spark, tmpdir_path, wal_dir, spec, sub="v")
    eng.run()
    lake = eng.target()
    before = lake.read(include_deleted=True)
    n_tombs = before.where(F.col("_deleted")).count()
    assert n_tombs > 0
    visible_before = oracle.target_hashes(
        lake.read().select("repo", "path", "content").toPandas()
    )
    lake.vacuum()
    after = lake.read(include_deleted=True)
    assert after.where(F.col("_deleted")).count() == 0
    visible_after = oracle.target_hashes(
        lake.read().select("repo", "path", "content").toPandas()
    )
    assert visible_before == visible_after


def test_truncate_out_of_order_delivery(spark, tmpdir_path):
    """Order-tolerance for TRUNCATE: the post-truncate segment (containing the
    't' row) is delivered FIRST, the pre-truncate segment LAST — its rows are
    all below the persisted truncate_below watermark and must stay dead."""
    import shutil

    spec = W.WalSpec(n_keys=150, n_events=600, seed=32, schema_changes=False)
    full, t_off = _with_truncate(spark, spec)
    staging = os.path.join(tmpdir_path, "stage")
    full.where(F.col("offset") < t_off).repartition(1).write.parquet(
        os.path.join(staging, "pre")
    )
    full.where(F.col("offset") >= t_off).repartition(1).write.parquet(
        os.path.join(staging, "post")
    )

    live = os.path.join(tmpdir_path, "wal_ooo_t")
    os.makedirs(live)
    t0 = 1_700_000_000
    for age, name in enumerate(["post", "pre"]):  # post-truncate arrives first
        src_dir = os.path.join(staging, name)
        part = next(f for f in os.listdir(src_dir) if f.endswith(".parquet"))
        dst = os.path.join(live, f"{name}.parquet")
        shutil.copy2(os.path.join(src_dir, part), dst)
        os.utime(dst, (t0 + age * 60, t0 + age * 60))

    eng = _engine(spark, tmpdir_path, live, spec, sub="oot")
    eng.run_streaming(max_files_per_trigger=1)
    final = eng.target().read()
    assert final.where(F.col("_offset") < t_off).count() == 0
    got = oracle.target_hashes(final.select("repo", "path", "content").toPandas())
    assert got == _post_truncate_oracle(spark, live, t_off)


def test_message_events_never_reach_merge(spark, tmpdir_path):
    """Logical decoding messages (op='m') are control-plane records published
    on their own topic by a separate sender (LogicalDecodingMessageMonitor
    .java:70,114); they must not mutate table state, be DLQ'd, or fail the
    run. Final state over a WAL with interleaved 'm' rows equals the oracle
    reduce over the data events alone."""
    from debezium_spark.functions.envelope import wrap_messages

    spec = W.WalSpec(n_keys=150, n_events=700, seed=37, schema_changes=False)
    wal = W.wal_events(spark, spec)
    hi = int(wal.agg(F.max("offset")).first()[0])
    msg_rows = spark.createDataFrame(
        [(hi + 8 * (i + 1), 0, "m", None, None, f"txmark-{i % 2}", f"body-{i}")
         for i in range(6)],
        "offset bigint, ts_ms bigint, op string, repo string, path string,"
        " msg_prefix string, msg_content string",
    )
    full = wal.unionByName(msg_rows, allowMissingColumns=True).withColumn(
        "is_tombstone", F.coalesce(F.col("is_tombstone"), F.lit(False))
    )
    wal_dir = os.path.join(tmpdir_path, "walm")
    full.repartition(2).write.parquet(wal_dir)

    eng = _engine(spark, tmpdir_path, wal_dir, spec, sub="m")
    eng.run()
    data_only = (
        spark.read.parquet(wal_dir)
        .where(F.col("op") != "m")
        .select("offset", "is_tombstone", "op", "repo", "path", "after")
        .toPandas()
    )
    got = oracle.target_hashes(
        eng.target().read().select("repo", "path", "content").toPandas()
    )
    assert got == oracle.state_hashes(oracle.reduce_wal(data_only))

    # the message side-channel routes the same rows to <server>.message
    m = spark.read.parquet(wal_dir).where(F.col("op") == "m")
    routed = wrap_messages(
        m,
        prefix=F.col("msg_prefix"),
        content=F.col("msg_content"),
        offset=F.col("offset"),
        prefix_include="^txmark-0$",
        server_name="repos",
    ).collect()
    assert len(routed) == 3
    assert {r["topic"] for r in routed} == {"repos.message"}
    assert all(r["value"]["op"] == "m" for r in routed)


def test_engine_side_channel_topics(spark, tmpdir_path):
    """Engine-level heartbeat + message topic sinks (ADVICE r2: wire the
    side channels into run(), not just the library surface): with
    heartbeat_interval_ms > 0 and publish_messages=True, run() publishes
    heartbeats per elapsed interval window and routes op='m' rows to
    '<server>.message' (prefix include filter honored), both readable via
    engine.topic(); re-running after a wipe overwrites, never duplicates."""
    spec = W.WalSpec(n_keys=120, n_events=500, seed=41, schema_changes=False)
    wal = W.wal_events(spark, spec)
    hi = int(wal.agg(F.max("offset")).first()[0])
    msg_rows = spark.createDataFrame(
        [(hi + 8 * (i + 1), (hi + 8 * (i + 1)) * 10, "m", None, None,
          f"pref-{i % 2}", f"body-{i}")
         for i in range(6)],
        "offset bigint, ts_ms bigint, op string, repo string, path string,"
        " msg_prefix string, msg_content string",
    )
    full = wal.unionByName(msg_rows, allowMissingColumns=True).withColumn(
        "is_tombstone", F.coalesce(F.col("is_tombstone"), F.lit(False))
    )
    wal_dir = os.path.join(tmpdir_path, "walsc")
    full.repartition(2).write.parquet(wal_dir)

    cfg = EngineConfig(
        heartbeat_interval_ms=5000,
        publish_messages=True,
        message_prefix_include="pref-0",
        max_offsets_per_batch=2000,
    )
    eng = _engine(spark, tmpdir_path, wal_dir, spec, cfg=cfg, sub="sc")
    eng.run()

    # data state unaffected by the side channels
    data_only = (
        spark.read.parquet(wal_dir)
        .where(F.col("op") != "m")
        .select("offset", "is_tombstone", "op", "repo", "path", "after")
        .toPandas()
    )
    got = oracle.target_hashes(
        eng.target().read().select("repo", "path", "content").toPandas()
    )
    assert got == oracle.state_hashes(oracle.reduce_wal(data_only))

    msgs = eng.topic("repos.message")
    rows = msgs.collect()
    assert len(rows) == 3  # include filter kept pref-0 only
    assert all(r["value"]["op"] == "m" for r in rows)
    assert {r["key"]["prefix"] for r in rows} == {"pref-0"}

    hb = eng.topic("__debezium-heartbeat.repos")
    hbr = hb.collect()
    assert len(hbr) > 0
    assert all(r["topic"] == "__debezium-heartbeat.repos" for r in hbr)
    # one record per elapsed interval window per batch, ts/offset paired:
    # every heartbeat's offset is <= the engine's committed watermark
    assert max(r["offset"] for r in hbr) <= eng.target().committed_max_offset


def test_engine_transaction_topic(spark, tmpdir_path):
    """provide_transaction_metadata also publishes BEGIN/END boundary records
    to '<server>.transaction' (TransactionMonitor.java:36-37,168-203): one
    BEGIN + one END per tx_id with the END carrying the exact data-event
    count; control rows never count."""
    spec = W.WalSpec(n_keys=80, n_events=400, seed=43, schema_changes=False)
    wal_dir = os.path.join(tmpdir_path, "waltx")
    W.wal_events(spark, spec).repartition(2).write.parquet(wal_dir)

    cfg = EngineConfig(provide_transaction_metadata=True,
                       max_offsets_per_batch=10**9)
    eng = _engine(spark, tmpdir_path, wal_dir, spec, cfg=cfg, sub="tx")
    eng.run()

    tb = eng.topic("repos.transaction").collect()
    by_tx = {}
    for r in tb:
        by_tx.setdefault(r["tx_id"], {})[r["status"]] = r
    want = {
        r["tx_id"]: r["n"]
        for r in spark.read.parquet(wal_dir)
        .where(F.col("op").isin("c", "u", "d", "r"))
        .groupBy("tx_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert set(by_tx) == set(want)
    for tx, pair in by_tx.items():
        assert set(pair) == {"BEGIN", "END"}
        assert pair["BEGIN"]["event_count"] is None
        assert pair["END"]["event_count"] == want[tx]
        assert pair["BEGIN"]["offset"] <= pair["END"]["offset"]
        assert pair["END"]["collections"] == f"lake.repos:{want[tx]}"
