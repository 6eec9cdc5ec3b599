"""Multi-table capture: one heterogeneous WAL (table column + JSON payloads)
dispatched to per-table typed pipelines with independent lake targets —
relational/Tables.java registry + EventDispatcher.java:189-196 routing."""

import json
import os

import pytest
from pyspark.sql import functions as F

from debezium_spark import EngineConfig, MultiTableEngine, TableSpec

REPOS_DDL = "repo string, path string, commit string, content string"
USERS_DDL = "user_id bigint, name string, email string"


def _j(**kw):
    return json.dumps(kw)


def _wal_rows():
    """Interleaved two-table log with creates/updates/deletes/tombstones."""
    rows = []

    def repos(offset, op, repo, path, content=None, tomb=False):
        img = None if content is None else _j(repo=repo, path=path, commit=f"c{offset}", content=content)
        key = _j(repo=repo, path=path)
        rows.append(
            (offset, offset * 10, op, "repos",
             key,
             img if op in ("u", "d") and not tomb else None,
             None if (op == "d" or tomb) else img,
             tomb, offset // 8, 1)
        )

    def users(offset, op, uid, name=None, tomb=False):
        img = None if name is None else _j(user_id=uid, name=name, email=f"{name}@x.io")
        key = _j(user_id=uid)
        rows.append(
            (offset, offset * 10, op, "users",
             key,
             img if op in ("u", "d") and not tomb else None,
             None if (op == "d" or tomb) else img,
             tomb, offset // 8, 1)
        )

    repos(1, "c", "r1", "a.py", "v1")
    users(2, "c", 10, "ann")
    repos(3, "u", "r1", "a.py", "v2")
    users(4, "u", 10, "ann2")
    repos(5, "c", "r2", "b.go", "w1")
    users(6, "c", 11, "bob")
    repos(7, "d", "r2", "b.go", "w1")          # delete r2/b.go
    rows.append((8, 80, "d", "repos", _j(repo="r2", path="b.go"), None, None,
                 True, 1, 1))                   # its tombstone
    users(9, "c", 12, "cyd")
    users(10, "d", 11, "bob")                   # delete bob
    repos(11, "c", "r3", "c.rs", "x1")
    return rows


WAL_SCHEMA = (
    "offset bigint, ts_ms bigint, op string, table string, key_json string, "
    "before_json string, after_json string, is_tombstone boolean, "
    "tx_id bigint, schema_version int"
)


def _mk(spark, tmpdir_path, wal_dir, sub, **cfg):
    return MultiTableEngine(
        spark,
        EngineConfig(**cfg),
        wal_path=wal_dir,
        target_root=os.path.join(tmpdir_path, "targets" + sub),
        work_root=os.path.join(tmpdir_path, "work" + sub),
        tables={
            "repos": TableSpec(payload_ddl=REPOS_DDL, key_columns=("repo", "path")),
            "users": TableSpec(payload_ddl=USERS_DDL, key_columns=("user_id",)),
        },
    )


def test_two_table_dispatch(spark, tmpdir_path):
    wal_dir = os.path.join(tmpdir_path, "mwal")
    spark.createDataFrame(_wal_rows(), WAL_SCHEMA).repartition(1).write.parquet(wal_dir)

    eng = _mk(spark, tmpdir_path, wal_dir, "a")
    eng.run()

    repos = {(r["repo"], r["path"]): r for r in eng.target("repos").read().collect()}
    assert set(repos) == {("r1", "a.py"), ("r3", "c.rs")}
    assert repos[("r1", "a.py")]["content"] == "v2"

    users = {r["user_id"]: r for r in eng.target("users").read().collect()}
    assert set(users) == {10, 12}
    assert users[10]["name"] == "ann2" and users[10]["email"] == "ann2@x.io"

    # per-table resume watermarks are independent and exact
    assert eng.target("repos").committed_max_offset >= 11
    # replay converges (idempotent)
    eng2 = _mk(spark, tmpdir_path, wal_dir, "a")
    eng2.run()
    assert {(r["repo"], r["path"]) for r in eng2.target("repos").read().collect()} == set(repos)


def test_dispatcher_table_exclude(spark, tmpdir_path):
    wal_dir = os.path.join(tmpdir_path, "mwal2")
    spark.createDataFrame(_wal_rows(), WAL_SCHEMA).repartition(1).write.parquet(wal_dir)

    eng = _mk(spark, tmpdir_path, wal_dir, "b", table_exclude="^users$")
    assert set(eng.engines) == {"repos"}
    eng.run()
    assert eng.target("repos").read().count() == 2
    assert not os.path.exists(os.path.join(tmpdir_path, "targetsb", "users"))


def test_partitioned_offsets_map(spark, tmpdir_path):
    """The dispatcher maintains one PartitionedOffsets map (partition = table,
    sources/gtids.py:241): persisted atomically after run(), monotone across
    replays, and containment-checked so a resume can never regress a table."""
    from debezium_spark.sources.gtids import PartitionedOffsets

    wal_dir = os.path.join(tmpdir_path, "mwal3")
    spark.createDataFrame(_wal_rows(), WAL_SCHEMA).repartition(1).write.parquet(wal_dir)

    eng = _mk(spark, tmpdir_path, wal_dir, "c")
    assert eng.offsets(persisted=True) == PartitionedOffsets()  # nothing yet
    eng.run()
    po = eng.offsets()
    # committed watermark = batch window hi (>= last event offset per table)
    assert po.get("repos") >= 11 and po.get("users") >= 10
    # persisted map matches the live manifests
    assert eng.offsets(persisted=True) == po

    # replay on a fresh dispatcher: same targets, map unchanged (monotone)
    eng2 = _mk(spark, tmpdir_path, wal_dir, "c")
    assert eng2.offsets(persisted=True) == po
    eng2.run()
    assert eng2.offsets(persisted=True) == po
    assert po.is_contained_within(eng2.offsets())

    # merge algebra: a foreign map with a lagging table and an extra partition
    other = PartitionedOffsets({"repos": 5, "audit": 3})
    merged = po.merge(other)
    assert merged.get("repos") == po.get("repos") and merged.get("audit") == 3
    assert other.is_contained_within(merged) and po.is_contained_within(merged)


def test_offsets_survive_table_exclusion_on_restart(spark, tmpdir_path):
    """Narrowing the captured set on restart must not trip the monotonicity
    check: the excluded table's persisted watermark is retained (carried
    through the merge), not compared against a non-existent engine."""
    wal_dir = os.path.join(tmpdir_path, "mwal4")
    spark.createDataFrame(_wal_rows(), WAL_SCHEMA).repartition(1).write.parquet(wal_dir)

    eng = _mk(spark, tmpdir_path, wal_dir, "d")
    eng.run()
    po_full = eng.offsets(persisted=True)
    assert po_full.get("users") >= 10

    eng2 = _mk(spark, tmpdir_path, wal_dir, "d", table_exclude="^users$")
    assert set(eng2.engines) == {"repos"}
    eng2.run()  # must not raise
    po_after = eng2.offsets(persisted=True)
    # excluded table's watermark retained; captured table stayed monotone
    assert po_after.get("users") == po_full.get("users")
    assert po_after.get("repos") >= po_full.get("repos")


def test_job_group_reaches_every_table(spark, tmpdir_path):
    """The dispatcher drives each table on its own worker thread; a job group
    the caller set must still reach every job of the run, every table's
    included."""
    wal_dir = os.path.join(tmpdir_path, "mwal5")
    spark.createDataFrame(_wal_rows(), WAL_SCHEMA).repartition(1).write.parquet(wal_dir)
    sc = spark.sparkContext
    eng = _mk(spark, tmpdir_path, wal_dir, "e")

    def tag_jobs(real, tag):
        # runs on the table's worker thread: tags that table's jobs only
        def run(**kw):
            sc.addJobTag(tag)
            try:
                return real(**kw)
            finally:
                sc.removeJobTag(tag)

        return run

    for name, e in eng.engines.items():
        e.run = tag_jobs(e.run, f"dbz-test-table-{name}")

    sc.setJobGroup("dbz-test-before", "marks the job id before the run")
    spark.range(1).count()
    sc.setJobGroup("dbz-test-run", "multi-table run")
    try:
        eng.run()
    finally:
        sc.setJobGroup("dbz-test-after", "marks the job id after the run")
        spark.range(1).count()
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)

    tracker = sc.statusTracker()
    before = max(tracker.getJobIdsForGroup("dbz-test-before"))
    after = min(tracker.getJobIdsForGroup("dbz-test-after"))
    in_group = set(tracker.getJobIdsForGroup("dbz-test-run"))
    run_jobs = set(range(before + 1, after))
    assert run_jobs and run_jobs <= in_group
    tagged = {
        name: set(
            sc._jsc.sc().statusTracker().getJobIdsForTag(f"dbz-test-table-{name}")
        )
        for name in eng.engines
    }
    for name, table_jobs in tagged.items():
        assert table_jobs and table_jobs <= in_group, name
    # each table's threads got their own copy of the properties: a tag added
    # on one table's thread never reaches another table's jobs
    assert not tagged["repos"] & tagged["users"]


def test_failed_table_does_not_stop_the_others(spark, tmpdir_path):
    """One table's failure is re-raised only after every table has run, and
    the dispatcher's persisted offset map stays as it was."""
    wal_dir = os.path.join(tmpdir_path, "mwal6")
    spark.createDataFrame(_wal_rows(), WAL_SCHEMA).repartition(1).write.parquet(wal_dir)
    eng = _mk(spark, tmpdir_path, wal_dir, "f", failure_handling="fail")
    eng.run()
    persisted = eng.offsets(persisted=True)

    # 'repos' (driven first) gets a null-key row; 'users' gets a new user
    more = [
        (12, 120, "c", "repos", None, None, _j(path="x.py", content="z"), False, 1, 1),
        (13, 130, "c", "users", _j(user_id=13), None,
         _j(user_id=13, name="dee", email="dee@x.io"), False, 1, 1),
    ]
    spark.createDataFrame(more, WAL_SCHEMA).repartition(1).write.mode("append").parquet(
        wal_dir
    )
    eng2 = _mk(spark, tmpdir_path, wal_dir, "f", failure_handling="fail")
    assert list(eng2.engines)[0] == "repos"
    with pytest.raises(ValueError, match="malformed key"):
        eng2.run()

    users = {r["user_id"]: r["name"] for r in eng2.target("users").read().collect()}
    assert users == {10: "ann2", 12: "cyd", 13: "dee"}
    repos = {(r["repo"], r["path"]) for r in eng2.target("repos").read().collect()}
    assert repos == {("r1", "a.py"), ("r3", "c.rs")}
    assert eng2.offsets(persisted=True) == persisted
