"""Continuous stateful LWW (native streaming aggregation) vs the batch resolver.

The state-store variant must produce the same final per-key state as
resolve_lww over the whole log, regardless of how the WAL files are sliced
into micro-batches (Spark's file source delivers parquet segments in no
guaranteed order — the state comparison absorbs stale deliveries)."""

import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from debezium_spark.functions import envelope as E
from debezium_spark.operators import resolver as R
from debezium_spark.sources import wal as W
from debezium_spark.streaming.stateful import stateful_lww


@pytest.fixture(scope="module")
def wal_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stateful-wal"))
    spec = W.WalSpec(n_keys=150, n_events=900, seed=13)
    W.write_wal(spark, spec, d, n_files=5)
    return d


def _final_state_from_changelog(rows):
    """Per key, the last emitted transition (highest _offset) wins."""
    best = {}
    for r in rows:
        k = (r["repo"], r["path"])
        if k not in best or r["_offset"] > best[k]["_offset"]:
            best[k] = r
    return best


def test_streaming_state_matches_batch_resolver(spark, wal_dir, tmpdir_path):
    batch_wal = spark.read.parquet(wal_dir)
    env_batch = E.wrap_wal(batch_wal)
    expect = {
        (r["repo"], r["path"]): r
        for r in R.resolve_lww(env_batch).collect()
    }

    stream = (
        spark.readStream.schema(batch_wal.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(wal_dir)
    )
    env_stream = E.wrap_wal(stream)
    changelog = stateful_lww(env_stream)
    q = (
        changelog.writeStream.outputMode("update")
        .format("memory")
        .queryName("lww_changelog")
        .option("checkpointLocation", f"{tmpdir_path}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.sql("SELECT * FROM lww_changelog").collect()
    assert rows, "changelog emitted nothing"

    got = _final_state_from_changelog(rows)
    assert set(got) == set(expect)
    for k, g in got.items():
        e = expect[k]
        assert g["action"] == e["action"], k
        assert g["_offset"] == e["_offset"], k
        if e["action"] == R.ACTION_UPSERT:
            for f in ("commit", "lang", "content"):
                assert g["after"][f] == e["after"][f], (k, f)
        else:
            assert g["after"]["commit"] is None and g["after"]["content"] is None

    # changelog emits at most one transition per (key, micro-batch), and
    # per-key ordinals are strictly increasing (stale deliveries absorbed)
    per_key = {}
    for r in sorted(rows, key=lambda r: r["_offset"]):
        k = (r["repo"], r["path"])
        per_key.setdefault(k, []).append(r["_offset"])
    for k, offs in per_key.items():
        assert offs == sorted(set(offs)), f"non-monotonic emissions for {k}"


def test_stateful_plan_has_no_python(spark, wal_dir):
    """The stateful path is one native streaming aggregation: its plan holds
    a state store but no pandas state operator and no Python/Arrow
    evaluation node."""
    stream = spark.readStream.schema(spark.read.parquet(wal_dir).schema).parquet(
        wal_dir
    )
    out = stateful_lww(E.wrap_wal(stream))
    plan = spark._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "extended"
    )
    assert "StateStoreSave" in plan
    assert "FlatMapGroupsInPandasWithState" not in plan
    assert not re.search(r"EvalPython|PythonUDF|Pandas|Arrow", plan), plan


def test_redelivery_emits_nothing(spark, wal_dir, tmpdir_path):
    """Exactly-once across restart: run to completion, then re-deliver the
    ENTIRE log as new files against the same checkpoint — the persisted state
    store absorbs every stale ordinal and the changelog stays silent."""
    import glob
    import shutil

    src_dir = f"{tmpdir_path}/wal"
    out_dir = f"{tmpdir_path}/out"
    ckpt = f"{tmpdir_path}/ckpt2"
    shutil.copytree(wal_dir, src_dir)
    batch_wal = spark.read.parquet(wal_dir)

    def run_once():
        stream = (
            spark.readStream.schema(batch_wal.schema)
            .option("maxFilesPerTrigger", 3)
            .parquet(src_dir)
        )
        q = (
            stateful_lww(E.wrap_wal(stream))
            .writeStream.outputMode("update")
            .foreachBatch(
                lambda df, _bid: df.write.mode("append").parquet(out_dir)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once()
    n_first = spark.read.parquet(out_dir).count()
    assert n_first > 0
    # re-deliver every event under fresh file names (same offsets/ordinals)
    for i, f in enumerate(sorted(glob.glob(f"{wal_dir}/*.parquet"))):
        shutil.copy(f, f"{src_dir}/redeliver_{i:03d}.parquet")
    run_once()
    assert spark.read.parquet(out_dir).count() == n_first