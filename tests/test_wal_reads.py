"""Each drive reads the WAL once, at its start: one ``spark.read.parquet`` of
the WAL path (one parquet footer job), whose frame every later step reuses —
bounds, batches, signals, lake creation and snapshot chunks alike. A
multi-table run reads it once for all of its tables."""

import os

import pytest
from pyspark.sql.readwriter import DataFrameReader

from debezium_spark import CdcEngine, EngineConfig
from debezium_spark.api import DebeziumEngine, Json
from debezium_spark.sources import wal as W
from tests.test_multi_table import WAL_SCHEMA, _mk, _wal_rows


@pytest.fixture(scope="module")
def wal_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("wal_reads"))
    W.write_wal(spark, W.WalSpec(n_keys=20, n_events=80, seed=5), d, n_files=2)
    return d


@pytest.fixture()
def reads(monkeypatch):
    """Every path passed to ``DataFrameReader.parquet`` while the test runs."""
    paths: list[str] = []
    orig = DataFrameReader.parquet

    def parquet(self, *p, **kw):
        paths.extend(p)
        return orig(self, *p, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    return paths


def _engine(spark, wal_dir, d, **cfg):
    return CdcEngine(
        spark, EngineConfig(**cfg), wal_path=wal_dir,
        target_path=f"{d}/t", work_dir=f"{d}/w",
    )


def test_run_reads_the_wal_once_fresh_and_resumed(spark, wal_dir, tmpdir_path, reads):
    first = _engine(spark, wal_dir, tmpdir_path, max_offsets_per_batch=50).run(
        max_batches=1
    )
    assert len(first) == 1 and reads.count(wal_dir) == 1
    reads.clear()
    resumed = _engine(spark, wal_dir, tmpdir_path, max_offsets_per_batch=50).run()
    assert resumed and reads.count(wal_dir) == 1


@pytest.mark.parametrize("drive", ["run_streaming", "run_streaming_stateful"])
def test_streaming_drives_read_the_wal_once(spark, wal_dir, tmpdir_path, reads, drive):
    eng = _engine(spark, wal_dir, tmpdir_path)
    getattr(eng, drive)()
    assert eng.target().committed_batch_id >= 0
    assert reads.count(wal_dir) == 1


def test_stateful_drive_builds_the_envelope_once(
    spark, wal_dir, tmpdir_path, monkeypatch
):
    # one envelope names the checkpoint (state layout) and feeds the query
    calls = []
    envelope = CdcEngine._envelope

    def counted(self, *a, **kw):
        calls.append(1)
        return envelope(self, *a, **kw)

    monkeypatch.setattr(CdcEngine, "_envelope", counted)
    eng = _engine(spark, wal_dir, tmpdir_path)
    eng.run_streaming_stateful()
    assert eng.target().committed_batch_id >= 0 and len(calls) == 1


def test_multi_table_run_reads_the_wal_once(spark, tmpdir_path, reads):
    # one read for the dispatcher run, whatever the number of tables
    wal = os.path.join(tmpdir_path, "wal")
    spark.createDataFrame(_wal_rows(), WAL_SCHEMA).repartition(1).write.parquet(wal)
    meng = _mk(spark, tmpdir_path, wal, "")
    meng.run()
    assert len(meng.engines) == 2 and reads.count(wal) == 1


def test_debezium_engine_run_reads_the_wal_once(spark, wal_dir, tmpdir_path, reads):
    seen = []
    DebeziumEngine.create(Json).using({
        "topic.prefix": "repos", "database.dbname": "lake", "wal.path": wal_dir,
        "work.dir": f"{tmpdir_path}/w", "max.batch.size": "30",
    }).using_spark(spark).notifying(seen.append).build().run()
    assert {r.offset for r in seen} and reads.count(wal_dir) == 1
