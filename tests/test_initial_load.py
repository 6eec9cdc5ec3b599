"""Initial-load fast path: bucket-clustered LWW + staged commit.

Covers the empty-target fork of the engine's batch apply (_apply_batch /
LakeTable.stage_initial+commit_staged) added for the whole-log replay:
one pipeline execution, one payload shuffle, lineage from the staged files.
Reference semantics unchanged: RelationalSnapshotChangeEventSource bulk
snapshot + EventDispatcher ordering; correctness gate = equality with the
generic merge path and the offset-order oracle.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from debezium_spark import CdcEngine, EngineConfig
from debezium_spark.operators.resolver import resolve_lww
from debezium_spark.plans.lake import LakeTable, bucket_expr
from debezium_spark.sources import wal as W


@pytest.fixture(scope="module")
def wal_df(spark):
    spec = W.WalSpec(n_keys=400, n_events=3000, seed=7)
    return W.wal_events(spark, spec), spec


def _env(spark, wal):
    from debezium_spark.functions import envelope as E
    from debezium_spark.operators import resolver as R

    return R.split_pk_changes(E.wrap_wal(wal))


def test_bucketed_resolve_matches_unbucketed(spark, wal_df):
    wal, _ = wal_df
    env = _env(spark, wal)
    plain = resolve_lww(env).orderBy("repo", "path")
    bucketed = resolve_lww(
        env, bucket_into=(16, lambda k: bucket_expr(k, 16))
    )
    # same rows, plus a _bucket column consistent with the bucket transform
    assert "_bucket" in bucketed.columns
    b = bucketed.drop("_bucket").orderBy("repo", "path")
    assert [r.asDict() for r in plain.collect()] == [
        r.asDict() for r in b.collect()
    ]
    bad = bucketed.where(
        F.col("_bucket") != bucket_expr(F.col("repo"), 16)
    ).count()
    assert bad == 0


def test_initial_path_equals_merge_path(spark, tmp_path, wal_df):
    """Replaying the whole WAL in ONE fresh-table batch (initial fast path)
    must produce byte-identical state to a 3-batch replay (generic merge)."""
    wal, spec = wal_df
    wal_dir = str(tmp_path / "wal")
    W.write_wal(spark, spec, wal_dir, n_files=4)

    def run(n_batches, root):
        eng = CdcEngine(
            spark,
            EngineConfig(
                max_offsets_per_batch=(spec.n_events * 8) // n_batches
                + spec.n_keys
                + 16,
                target_buckets=8,
            ),
            wal_path=wal_dir,
            target_path=os.path.join(root, "target"),
            work_dir=os.path.join(root, "work"),
            schema_changes=W.schema_history(spark, spec),
        )
        eng.run()
        return eng

    e1 = run(1, str(tmp_path / "one"))
    e3 = run(3, str(tmp_path / "three"))
    d1 = e1.target().read().orderBy("repo", "path")
    d3 = e3.target().read().orderBy("repo", "path").select(*d1.columns)
    h1 = d1.select(F.sha2(F.concat_ws("|", *[F.coalesce(F.col(c).cast("string"), F.lit("∅")) for c in d1.columns]), 256).alias("h"))
    h3 = d3.select(F.sha2(F.concat_ws("|", *[F.coalesce(F.col(c).cast("string"), F.lit("∅")) for c in d3.columns]), 256).alias("h"))
    assert h1.count() == h3.count()
    assert h1.exceptAll(h3).count() == 0
    # lineage checkpoints exist for the single-batch path too
    assert e1.checkpoints().count() > 0


def test_initial_path_writes_lineage_and_stats(spark, tmp_path, wal_df):
    wal, spec = wal_df
    wal_dir = str(tmp_path / "wal")
    W.write_wal(spark, spec, wal_dir, n_files=2)
    eng = CdcEngine(
        spark,
        EngineConfig(max_offsets_per_batch=10**9, target_buckets=4),
        wal_path=wal_dir,
        target_path=str(tmp_path / "target"),
        work_dir=str(tmp_path / "work"),
        schema_changes=W.schema_history(spark, spec),
    )
    res = eng.run()
    assert len(res) == 1 and res[0]["applied"]
    lake = eng.target()
    m = lake.manifest(refresh=True)
    # manifest stats survived the staged-commit flow
    assert m["stats"]["rows_applied"] > 0
    ck = eng.checkpoints()
    assert ck.agg(F.sum("rows_applied")).first()[0] == m["stats"]["rows_applied"]


def test_stage_initial_refuses_nonempty_table(spark, tmp_path, wal_df):
    wal, spec = wal_df
    wal_dir = str(tmp_path / "wal")
    W.write_wal(spark, spec, wal_dir, n_files=2)
    eng = CdcEngine(
        spark,
        EngineConfig(max_offsets_per_batch=10**9, target_buckets=4),
        wal_path=wal_dir,
        target_path=str(tmp_path / "target"),
        work_dir=str(tmp_path / "work"),
        schema_changes=W.schema_history(spark, spec),
    )
    eng.run()
    lake = eng.target()
    actions = eng._transform(spark.read.parquet(wal_dir), upto_offset=None)
    with pytest.raises(ValueError, match="empty table"):
        lake.stage_initial(actions, batch_id=99)


def test_initial_path_malformed_fail_aborts_before_commit(spark, tmp_path):
    """A null key column in the first (fresh) batch must raise under
    failure_handling='fail' and leave the table uncommitted (batch_id -1)."""
    spec = W.WalSpec(n_keys=50, n_events=200, seed=3)
    wal_dir = str(tmp_path / "wal")
    W.write_wal(spark, spec, wal_dir, n_files=1)
    # corrupt: null out `path` for a handful of stream rows
    wal = spark.read.parquet(wal_dir)
    bad = wal.withColumn(
        "path",
        F.when(F.col("offset") % 97 == 0, F.lit(None)).otherwise(F.col("path")),
    ).withColumn(
        "after",
        F.when(
            F.col("offset") % 97 == 0,
            F.col("after").withField("path", F.lit(None).cast("string")),
        ).otherwise(F.col("after")),
    ).withColumn(
        "before",
        F.when(
            F.col("offset") % 97 == 0,
            F.col("before").withField("path", F.lit(None).cast("string")),
        ).otherwise(F.col("before")),
    )
    bad_dir = str(tmp_path / "wal_bad")
    bad.write.parquet(bad_dir)
    eng = CdcEngine(
        spark,
        EngineConfig(
            max_offsets_per_batch=10**9, target_buckets=4,
            failure_handling="fail",
        ),
        wal_path=bad_dir,
        target_path=str(tmp_path / "target"),
        work_dir=str(tmp_path / "work"),
        schema_changes=W.schema_history(spark, spec),
    )
    with pytest.raises(ValueError, match="malformed"):
        eng.run()
    assert LakeTable(spark, str(tmp_path / "target")).committed_batch_id == -1


def test_initial_path_malformed_warn_quarantines(spark, tmp_path):
    spec = W.WalSpec(n_keys=50, n_events=200, seed=3)
    wal_dir = str(tmp_path / "wal")
    W.write_wal(spark, spec, wal_dir, n_files=1)
    wal = spark.read.parquet(wal_dir)
    bad = wal.withColumn(
        "path",
        F.when(F.col("offset") % 97 == 0, F.lit(None)).otherwise(F.col("path")),
    ).withColumn(
        "after",
        F.when(
            F.col("offset") % 97 == 0,
            F.col("after").withField("path", F.lit(None).cast("string")),
        ).otherwise(F.col("after")),
    ).withColumn(
        "before",
        F.when(
            F.col("offset") % 97 == 0,
            F.col("before").withField("path", F.lit(None).cast("string")),
        ).otherwise(F.col("before")),
    )
    bad_dir = str(tmp_path / "wal_bad")
    bad.write.parquet(bad_dir)
    work = str(tmp_path / "work")
    eng = CdcEngine(
        spark,
        EngineConfig(
            max_offsets_per_batch=10**9, target_buckets=4,
            failure_handling="warn",
        ),
        wal_path=bad_dir,
        target_path=str(tmp_path / "target"),
        work_dir=work,
        schema_changes=W.schema_history(spark, spec),
    )
    res = eng.run()
    assert res and res[0]["applied"]
    # quarantine written, metrics row recorded, no null keys in the table
    dlq = spark.read.parquet(os.path.join(work, "_dlq", "batch_id=0"))
    assert dlq.count() > 0
    tbl = eng.target().read()
    assert tbl.where(F.col("path").isNull()).count() == 0
    mets = eng.metrics().where(F.col("malformed_skipped") > 0)
    assert mets.count() == 1


@pytest.mark.parametrize("write", ["merge_empty", "merge_join", "staged"])
def test_null_key_is_quarantined_on_every_write(spark, tmp_path, write):
    """A row whose key has a null column goes to the quarantine partition
    whichever write stages it — a merge into an empty table, a merge whose
    touched bucket holds files (the join), or stage_initial+commit_staged:
    it is never readable, and merging the same action again adds no row."""
    lake = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame([], "repo string, path string, a string").schema,
        n_buckets=4,
    )

    def actions(rows):
        return spark.createDataFrame(
            rows,
            "repo string, path string, action string, after struct<a:string>, "
            "_offset bigint, _ts_ms bigint",
        )

    batch = actions([("r", "p1", "upsert", ("v1",), 10, 10),
                     (None, "p2", "upsert", ("v2",), 11, 11)])
    want = [("r", "p1")]
    if write == "merge_join":
        lake.merge(actions([("r", "p0", "upsert", ("v0",), 1, 1)]),
                   batch_id=0, max_offset=1)
        want = [("r", "p0"), ("r", "p1")]
    if write == "staged":
        staged = lake.stage_initial(batch, batch_id=1)
        assert staged["has_malformed"]
        lake.commit_staged(staged, batch_id=1, max_offset=11)
    else:
        lake.merge(batch, batch_id=1, max_offset=11)

    def rows():
        return sorted(
            (r["repo"], r["path"], r["_offset"])
            for r in lake.read(include_deleted=True).collect()
        )

    assert sorted((r["repo"], r["path"]) for r in lake.read().collect()) == want
    before = rows()
    assert all(repo is not None for repo, _, _ in before)
    lake.merge(batch, batch_id=2, max_offset=11)
    assert rows() == before
