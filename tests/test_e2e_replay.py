"""End-to-end: full WAL replay -> lake state == pandas oracle (sha256 per key).

Mirrors the reference's golden-state tests (ConnectorOutputTest replay-and-diff) and
the BASELINE.json invariant: per-row content sha256 equality after full replay.
"""

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from debezium_spark import CdcEngine, EngineConfig
from debezium_spark.sources import wal as W
from tests import oracle


@pytest.fixture(scope="module")
def small_spec():
    return W.WalSpec(n_keys=800, n_events=4000, seed=42)


@pytest.fixture(scope="module")
def wal_dir(spark, small_spec, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("wal"))
    W.write_wal(spark, small_spec, d, n_files=8)
    return d


def _final_hashes(spark, lake):
    pdf = lake.read().select("repo", "path", "content").toPandas()
    return oracle.target_hashes(pdf)


def _oracle_hashes(spark, wal_dir):
    wal_pd = spark.read.parquet(wal_dir).select(
        "offset", "is_tombstone", "op", "repo", "path", "after"
    ).toPandas()
    return oracle.state_hashes(oracle.reduce_wal(wal_pd))


def test_full_replay_matches_oracle(spark, small_spec, wal_dir, tmpdir_path):
    eng = CdcEngine(
        spark,
        EngineConfig(max_offsets_per_batch=10_000),
        wal_path=wal_dir,
        target_path=os.path.join(tmpdir_path, "target"),
        work_dir=os.path.join(tmpdir_path, "work"),
        schema_changes=W.schema_history(spark, small_spec),
    )
    results = eng.run()
    assert len(results) > 1  # multiple micro-batches
    assert all(r["applied"] for r in results)

    got = _final_hashes(spark, eng.target())
    want = _oracle_hashes(spark, wal_dir)
    assert got == want

    # no duplicate keys in the target
    lake = eng.target()
    n = lake.read().count()
    nk = lake.read().select("repo", "path").distinct().count()
    assert n == nk

    # schema evolved to v3: size_bytes present and bigint
    sch = dict((f.name, f.dataType.simpleString()) for f in lake.schema.fields)
    assert sch.get("size_bytes") == "bigint"

    # lineage: per-partition max offsets recorded for every batch
    ck = eng.checkpoints().toPandas()
    assert set(ck["batch_id"]) == {r["batch_id"] for r in results if r["applied"]}
    assert (ck["max_offset"] > 0).all()


def test_resume_from_checkpoint_identical(spark, small_spec, wal_dir, tmpdir_path):
    """FIXTURES.md scenario 5: stop after k batches, restart, final state identical."""
    cfg = EngineConfig(max_offsets_per_batch=8_000)
    kwargs = dict(
        wal_path=wal_dir,
        target_path=os.path.join(tmpdir_path, "target"),
        work_dir=os.path.join(tmpdir_path, "work"),
    )
    eng1 = CdcEngine(spark, cfg, schema_changes=W.schema_history(spark, small_spec), **kwargs)
    part1 = eng1.run(max_batches=2)
    assert len(part1) == 2

    # fresh engine instance == process restart; resumes from manifest offset
    eng2 = CdcEngine(spark, cfg, schema_changes=W.schema_history(spark, small_spec), **kwargs)
    part2 = eng2.run()
    assert part2, "second run should process remaining batches"

    got = _final_hashes(spark, eng2.target())
    want = _oracle_hashes(spark, wal_dir)
    assert got == want


def test_replayed_batch_is_skipped(spark, small_spec, wal_dir, tmpdir_path):
    """Exactly-once: re-merging an already-committed batch id is a no-op."""
    cfg = EngineConfig(max_offsets_per_batch=100_000)
    eng = CdcEngine(
        spark, cfg,
        wal_path=wal_dir,
        target_path=os.path.join(tmpdir_path, "target"),
        work_dir=os.path.join(tmpdir_path, "work"),
        schema_changes=W.schema_history(spark, small_spec),
    )
    eng.run()
    lake = eng.target()
    v_before = lake.manifest(refresh=True)["version"]
    # replay the whole WAL as an already-committed batch id
    slice_df = spark.read.parquet(wal_dir)
    res = lake.merge(
        eng._transform(slice_df), batch_id=lake.committed_batch_id, max_offset=10**9
    )
    assert res["applied"] is False
    assert lake.manifest(refresh=True)["version"] == v_before


def test_resume_over_grown_wal(spark, small_spec, wal_dir, tmpdir_path):
    """run() over the first half of the log, segments appended, run() again:
    the second run applies the appended events. The committed max offset is
    the resume point, so it must never pass the last offset a run read."""
    grown = os.path.join(tmpdir_path, "wal")
    os.makedirs(grown)
    segments = sorted(glob.glob(os.path.join(wal_dir, "*.parquet")))
    half = len(segments) // 2
    kwargs = dict(
        wal_path=grown,
        target_path=os.path.join(tmpdir_path, "target"),
        work_dir=os.path.join(tmpdir_path, "work"),
    )
    for seg in segments[:half]:
        shutil.copy(seg, grown)
    eng1 = CdcEngine(
        spark, EngineConfig(), schema_changes=W.schema_history(spark, small_spec), **kwargs
    )
    eng1.run()
    read_hi = spark.read.parquet(grown).agg(F.max("offset")).first()[0]
    assert eng1.target().committed_max_offset == read_hi

    for seg in segments[half:]:
        shutil.copy(seg, grown)
    eng2 = CdcEngine(
        spark, EngineConfig(), schema_changes=W.schema_history(spark, small_spec), **kwargs
    )
    assert eng2.run(), "the appended events must be applied"
    assert _final_hashes(spark, eng2.target()) == _oracle_hashes(spark, wal_dir)
