"""Multi-table capture: one heterogeneous WAL (table column + JSON payloads)
dispatched to per-table typed pipelines with independent lake targets —
relational/Tables.java registry + EventDispatcher.java:189-196 routing."""

import json
import os
import re

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
    """The dispatcher drives each payload-shape group on its own worker
    thread; a job group the caller set must still reach every job of the
    run, and the engine tags every table's jobs ``dbz-table-<name>`` on its
    group's thread only."""
    wal_dir = os.path.join(tmpdir_path, "mwal5")
    spark.createDataFrame(_wal_rows(), WAL_SCHEMA).repartition(1).write.parquet(wal_dir)
    sc = spark.sparkContext
    eng = _mk(spark, tmpdir_path, wal_dir, "e")

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
        name: set(sc._jsc.sc().statusTracker().getJobIdsForTag(f"dbz-table-{name}"))
        & run_jobs
        for name in eng.engines
    }
    for name, table_jobs in tagged.items():
        assert table_jobs, name
    # repos and users differ in shape, so they run on different threads: a
    # tag added on one group's thread never reaches the other's jobs
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


# -- tables of one payload shape: one LWW pipeline, per-table lakes ----------

SHAPE = ("a", "b", "c")


def _shape_rows(offsets, tables=SHAPE):
    """Same-DDL tables writing the SAME keys: creates, updates, deletes and
    key-changing updates, round-robin over ``tables``."""
    rows = []
    for o in offsets:
        t = tables[o % len(tables)]
        key = dict(repo=f"r{o % 4}", path=f"p{o % 2}.py")
        img = dict(key, commit=f"c{o}", content=f"{t}{o}")
        kind = o % 6
        if kind == 4:
            op, before, after = "d", img, None
        elif kind == 5:  # key change: the row moves to repo r?x
            op, before, after = "u", img, dict(img, repo=key["repo"] + "x")
            key = dict(key, repo=after["repo"])
        elif kind >= 2:
            op, before, after = "u", img, img
        else:
            op, before, after = "c", None, img
        rows.append((
            o, o * 10, op, t, _j(**key), before and _j(**before),
            after and _j(**after), False, o // 8, 1,
        ))
    return rows


def _append(spark, wal_dir, rows):
    spark.createDataFrame(rows, WAL_SCHEMA).repartition(1).write.mode(
        "append"
    ).parquet(wal_dir)


def _mk_shape(spark, tmpdir_path, wal_dir, sub, tables=SHAPE, **cfg):
    return MultiTableEngine(
        spark,
        EngineConfig(**cfg),
        wal_path=wal_dir,
        target_root=os.path.join(tmpdir_path, "targets" + sub),
        work_root=os.path.join(tmpdir_path, "work" + sub),
        tables={
            t: TableSpec(payload_ddl=REPOS_DDL, key_columns=("repo", "path"))
            for t in tables
        },
    )


def _state(lake):
    return sorted(tuple(r) for r in lake.read().select(
        "repo", "path", "commit", "content", "_offset").collect())


def test_same_shape_group_matches_single_table_runs(spark, tmpdir_path):
    """Same-DDL tables run as one group, fresh over several batches and then
    resumed in one batch from unequal per-table offsets with one table still
    empty, land exactly the lakes a single-table run of each table lands."""
    wal = os.path.join(tmpdir_path, "swal")
    _append(spark, wal, _shape_rows(range(1, 31)))
    _mk_shape(spark, tmpdir_path, wal, "g", tables=("a", "b"),
              max_offsets_per_batch=12).run()
    _append(spark, wal, _shape_rows(range(31, 46)))
    _mk_shape(spark, tmpdir_path, wal, "g", tables=("a",)).run()
    _append(spark, wal, _shape_rows(range(46, 61)))

    eng = _mk_shape(spark, tmpdir_path, wal, "g")
    assert eng._groups() == [list(SHAPE)]
    assert eng.offsets().get("a") == 45 and eng.offsets().get("b") == 30
    assert eng.offsets().get("c") == -1  # no lake yet
    eng.run()
    for t in SHAPE:
        solo = _mk_shape(spark, tmpdir_path, wal, "s" + t, tables=(t,))
        solo.run()
        assert _state(eng.target(t)) == _state(solo.target(t)), t
        assert eng.target(t).committed_max_offset == 60
    assert {r["content"][0] for r in eng.target("b").read().collect()} == {"b"}


def test_group_member_failure_leaves_the_others_committed(spark, tmpdir_path):
    """A null key in one table of a group under failure_handling='fail': the
    other tables commit, the error is raised after them and the offset map
    is not persisted."""
    wal = os.path.join(tmpdir_path, "fwal")
    _append(spark, wal, _shape_rows(range(1, 13)))
    eng = _mk_shape(spark, tmpdir_path, wal, "f", failure_handling="fail")
    eng.run()
    persisted = eng.offsets(persisted=True)
    more = [
        (13, 130, "c", "b", None, None, _j(path="x.py", content="z"), False, 1, 1),
    ] + [
        (o, o * 10, "c", t, _j(repo="new", path="n.py"), None,
         _j(repo="new", path="n.py", commit="c", content=t), False, 1, 1)
        for o, t in ((14, "a"), (15, "c"))
    ]
    _append(spark, wal, more)
    eng2 = _mk_shape(spark, tmpdir_path, wal, "f", failure_handling="fail")
    with pytest.raises(ValueError, match="malformed key"):
        eng2.run()
    for t in ("a", "c"):
        assert ("new", "n.py") in {
            (r["repo"], r["path"]) for r in eng2.target(t).read().collect()
        }, t
        assert eng2.target(t).committed_max_offset == 15
    assert eng2.target("b").committed_max_offset == persisted.get("b")
    assert eng2.offsets(persisted=True) == persisted


def _jobs_of(spark, fn, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_group_jobs_grow_at_most_two_per_table(spark, tmpdir_path):
    wal = os.path.join(tmpdir_path, "jwal")
    _append(spark, wal, _shape_rows(range(1, 25)))
    one = _jobs_of(
        spark, _mk_shape(spark, tmpdir_path, wal, "j1", tables=("a",)).run,
        "dbz-test-jobs-1",
    )
    three = _jobs_of(
        spark, _mk_shape(spark, tmpdir_path, wal, "j3").run, "dbz-test-jobs-3"
    )
    assert one > 0 and three <= one + 2 * 2, (one, three)


def test_group_projection_is_one_pushed_scan(spark, tmpdir_path):
    """The group's projection of the shared WAL: the table filter reaches
    the parquet scan, payloads are typed by one from_json, no Exchange and
    no Python in the row path."""
    wal = os.path.join(tmpdir_path, "pwal")
    _append(spark, wal, _shape_rows(range(1, 7)))
    eng = _mk_shape(spark, tmpdir_path, wal, "p")
    frame = eng._projection(list(SHAPE))(spark.read.parquet(wal))
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PushedFilters: \[[^\]]*In\(table", plan), plan
    assert "from_json" in plan
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_offsets_of_a_fresh_dispatcher_read_no_data(spark, tmpdir_path):
    """offsets() reads manifests only: on a fresh dispatcher it is empty,
    creates no lake and runs no Spark job."""
    from debezium_spark.sources.gtids import PartitionedOffsets

    wal = os.path.join(tmpdir_path, "owal")
    _append(spark, wal, _shape_rows(range(1, 4)))
    eng = _mk(spark, tmpdir_path, wal, "o")
    got = {}
    assert _jobs_of(spark, lambda: got.update(po=eng.offsets()), "dbz-test-offsets") == 0
    assert got["po"] == PartitionedOffsets()
    assert not os.path.exists(os.path.join(tmpdir_path, "targetso"))


def test_quiet_tables_end_at_their_own_last_row(spark, tmpdir_path):
    """Each table's drive ends at its own last row: in a step-limited run, a
    table of a group that ends far below its group mate, and a table of
    another shape, take only the batches their own rows need, and a later
    run that only another table advanced commits nothing to them."""
    wal = os.path.join(tmpdir_path, "qwal")
    users = [
        (o, o * 10, "c", "u", _j(user_id=o), None,
         _j(user_id=o, name=f"n{o}", email="e"), False, 1, 1)
        for o in (13, 14)
    ]
    _append(spark, wal, _shape_rows(range(1, 13), tables=("a", "b")) + users
            + _shape_rows(range(15, 61), tables=("b",)))

    def mk():
        return MultiTableEngine(
            spark, EngineConfig(max_offsets_per_batch=6), wal_path=wal,
            target_root=os.path.join(tmpdir_path, "targetsq"),
            work_root=os.path.join(tmpdir_path, "workq"),
            tables={
                "a": TableSpec(payload_ddl=REPOS_DDL, key_columns=("repo", "path")),
                "b": TableSpec(payload_ddl=REPOS_DDL, key_columns=("repo", "path")),
                "u": TableSpec(payload_ddl=USERS_DDL, key_columns=("user_id",)),
            },
        )

    res = mk().run()
    # a: (-1, 5], (5, 11], (11, 17]; u: one empty batch, then a jump to 14
    assert len(res["a"]) == 3 and len(res["u"]) == 2, res
    assert len(res["b"]) == 11
    eng = mk()
    assert {r["user_id"] for r in eng.target("u").read().collect()} == {13, 14}
    ids = {t: eng.target(t).committed_batch_id for t in ("a", "u")}
    _append(spark, wal, _shape_rows(range(61, 64), tables=("b",)))
    res = eng.run()
    assert res["a"] == [] and res["u"] == [] and len(res["b"]) == 1
    assert {t: eng.target(t).committed_batch_id for t in ("a", "u")} == ids


def test_group_stage_failure_spares_the_members_outside_the_batch(
    spark, tmpdir_path, monkeypatch
):
    """A failure in the shared stage of a group's batch fails the members of
    that batch only: a member whose lake is ahead of the failed batch still
    runs to the end, then the error is raised and the offset map is not
    persisted."""
    from debezium_spark.plans.lake import LakeTable

    wal = os.path.join(tmpdir_path, "xwal")
    _append(spark, wal, _shape_rows(range(1, 31)))
    _mk_shape(spark, tmpdir_path, wal, "x", tables=("a",)).run()
    _append(spark, wal, _shape_rows(range(31, 46)))
    eng = _mk_shape(spark, tmpdir_path, wal, "x", tables=("a", "b"),
                    max_offsets_per_batch=10)
    persisted = eng.offsets(persisted=True)

    def boom(self, *a, **kw):
        raise RuntimeError("injected staged-write failure")

    # b's lake is empty, so its batches stage; a's lake is not, so a merges
    monkeypatch.setattr(LakeTable, "stage_initial", boom)
    with pytest.raises(RuntimeError, match="injected"):
        eng.run()
    assert eng.target("a").committed_max_offset == 45
    assert "a45" in {r["content"] for r in eng.target("a").read().collect()}
    assert eng.target("b").committed_max_offset == -1
    assert eng.offsets(persisted=True) == persisted
