"""Engine-integrated stateful-LWW sink mode (run_streaming_stateful).

The state store resolves winners against ALL history and the lake merge
applies only changed keys — the final lake state must equal the batch
engine's, and a full re-delivery of the log must leave the lake untouched
(the state store absorbs every stale ordinal before the merge ever runs).
"""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from debezium_spark import CdcEngine, EngineConfig
from debezium_spark.sources import wal as W
from tests import oracle


def _want(spark, wal_dir):
    wal_pd = spark.read.parquet(wal_dir).select(
        "offset", "is_tombstone", "op", "repo", "path", "after"
    ).toPandas()
    return oracle.state_hashes(oracle.reduce_wal(wal_pd))


def _got(eng):
    return oracle.target_hashes(
        eng.target().read().select("repo", "path", "content").toPandas()
    )


def _engine(spark, root, wal_dir, spec, sub, **cfg):
    return CdcEngine(
        spark,
        EngineConfig(**cfg),
        wal_path=wal_dir,
        target_path=os.path.join(root, sub, "target"),
        work_dir=os.path.join(root, sub, "work"),
        schema_changes=W.schema_history(spark, spec),
    )


def test_stateful_redelivered_offsets_land_one_row_per_key(spark, tmpdir_path):
    """A WAL carrying identical duplicate-offset re-deliveries lands exactly
    one lake row per key (deleted rows included) and the oracle's state: a
    re-delivered event ties its original's ordinal, so the state store emits
    at most one transition per key per trigger."""
    spec = W.WalSpec(n_keys=200, n_events=1100, seed=33)
    wal_dir = os.path.join(tmpdir_path, "wal_dup")
    W.write_wal(spark, spec, wal_dir, n_files=4)
    wal = spark.read.parquet(wal_dir)
    assert wal.groupBy("offset", "is_tombstone").count().where("count > 1").count() > 0
    want = _want(spark, wal_dir)

    es = _engine(spark, tmpdir_path, wal_dir, spec, "dup")
    es.run_streaming_stateful(max_files_per_trigger=2)
    assert _got(es) == want
    t = es.target().read(include_deleted=True)
    assert (
        t.groupBy("repo", "path").count().where("count > 1").count() == 0
    )


def test_stateful_sink_matches_batch_and_absorbs_redelivery(spark, tmpdir_path):
    spec = W.WalSpec(n_keys=250, n_events=1400, seed=21)
    src = os.path.join(tmpdir_path, "wal_src")
    W.write_wal(spark, spec, src, n_files=5)
    wal_dir = os.path.join(tmpdir_path, "wal")
    shutil.copytree(src, wal_dir)
    want = _want(spark, src)

    es = _engine(spark, tmpdir_path, wal_dir, spec, "stateful")
    es.run_streaming_stateful(max_files_per_trigger=2)
    assert _got(es) == want

    lake = es.target()
    committed = lake.committed_batch_id
    assert committed >= 1 and lake.committed_max_offset > 0

    # engine metrics recorded per applied trigger (keys_touched > 0)
    m = es.metrics().collect()
    assert m and all(r["keys_touched"] > 0 for r in m)

    # re-deliver the ENTIRE log under fresh file names: the state store
    # absorbs every stale ordinal, the changelog stays silent, and the lake
    # commits nothing new
    for i, f in enumerate(sorted(glob.glob(f"{src}/*.parquet"))):
        shutil.copy(f, os.path.join(wal_dir, f"redeliver_{i:03d}.parquet"))
    es2 = _engine(spark, tmpdir_path, wal_dir, spec, "stateful")
    es2.run_streaming_stateful(max_files_per_trigger=2)
    assert _got(es2) == want
    assert es2.target().committed_batch_id == committed

    # batch engine over the same (un-redelivered) log converges identically
    eb = _engine(spark, tmpdir_path, src, spec, "batch")
    eb.run()
    assert _got(eb) == want


def test_stateful_sink_leaves_other_operator_checkpoint_alone(spark, tmpdir_path):
    """A stateful checkpoint another operator wrote under the unversioned
    `stateful_ckpt` name (older engines kept theirs there) is neither resumed
    nor touched: the drive starts its own checkpoint, named after its state
    layout, re-reads the WAL from scratch and lands the oracle state."""
    spec = W.WalSpec(n_keys=120, n_events=600, seed=41)
    wal_dir = os.path.join(tmpdir_path, "wal")
    W.write_wal(spark, spec, wal_dir, n_files=3)
    es = _engine(spark, tmpdir_path, wal_dir, spec, "legacy")
    legacy = os.path.join(es.work_dir, "stateful_ckpt")

    def _drain(df, _bid):
        df.write.format("noop").mode("append").save()

    wal = spark.read.parquet(wal_dir)
    q = (
        spark.readStream.schema(wal.schema)
        .parquet(wal_dir)
        .groupBy("repo", "path")
        .agg(F.max("offset"))
        .writeStream.outputMode("update")
        .foreachBatch(_drain)
        .option("checkpointLocation", legacy)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    def listing():
        paths = [os.path.join(d, f) for d, _, fs in os.walk(legacy) for f in fs]
        return sorted((os.path.relpath(p, legacy), os.path.getsize(p)) for p in paths)

    before = listing()
    es.run_streaming_stateful(max_files_per_trigger=2)
    assert _got(es) == _want(spark, wal_dir)
    assert listing() == before


def test_stateful_sink_resumes_across_drop_column(spark, tmpdir_path):
    """A DROP COLUMN entering the schema history between two drives narrows
    the payload the state store holds; the second drive must not try to
    resume the first one's state (Spark refuses a changed state schema) but
    start a fresh checkpoint, still land the oracle state, and sweep the
    superseded checkpoint."""
    spec = W.WalSpec(n_keys=150, n_events=800, seed=47)
    src = os.path.join(tmpdir_path, "wal_src")
    W.write_wal(spark, spec, src, n_files=4)
    files = sorted(glob.glob(f"{src}/*.parquet"))
    wal_dir = os.path.join(tmpdir_path, "wal")
    os.makedirs(wal_dir)
    for f in files[:2]:
        shutil.copy(f, wal_dir)
    es = _engine(spark, tmpdir_path, wal_dir, spec, "ddl")
    es.run_streaming_stateful(max_files_per_trigger=2)
    assert _got(es) == _want(spark, wal_dir)

    history = W.schema_history(spark, spec)
    hi = spark.read.parquet(wal_dir).agg(F.max("offset")).first()[0]
    ddl_offset = max(hi, history.agg(F.max("offset")).first()[0]) + 1
    history = history.union(
        spark.createDataFrame(
            [(ddl_offset, 4, "ALTER TABLE repos DROP COLUMN lang", "drop_column:lang")],
            history.schema,
        )
    )
    for f in files[2:]:
        shutil.copy(f, wal_dir)

    def resume():
        eng = CdcEngine(
            spark,
            EngineConfig(),
            wal_path=wal_dir,
            target_path=es.target_path,
            work_dir=es.work_dir,
            schema_changes=history,
        )
        eng.run_streaming_stateful(max_files_per_trigger=2)
        return eng

    first = glob.glob(os.path.join(es.work_dir, "stateful_ckpt_*"))
    es2 = resume()
    assert "lang" not in es2.target().schema.fieldNames()
    assert _got(es2) == _want(spark, src)
    # only the new layout's checkpoint remains: the superseded one is swept
    ckpts = sorted(glob.glob(os.path.join(es.work_dir, "stateful_ckpt_*")))
    assert len(first) == 1 and len(ckpts) == 1 and ckpts != first

    # an unchanged layout resumes its own checkpoint: nothing new commits
    committed = es2.target().committed_batch_id
    resume()
    assert es2.target().committed_batch_id == committed
    assert sorted(glob.glob(os.path.join(es.work_dir, "stateful_ckpt_*"))) == ckpts


def test_stateful_sink_rejects_tx_metadata(spark, tmpdir_path):
    eng = CdcEngine(
        spark,
        EngineConfig(provide_transaction_metadata=True),
        wal_path=os.path.join(tmpdir_path, "nowal"),
        target_path=os.path.join(tmpdir_path, "t"),
        work_dir=os.path.join(tmpdir_path, "w"),
    )
    with pytest.raises(ValueError, match="transaction_metadata"):
        eng.run_streaming_stateful()
