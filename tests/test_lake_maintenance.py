"""Lake snapshot lifecycle: time travel, changelog scan, snapshot expiry.

Iceberg-parity maintenance surface (SURVEY.md §2.3 sink contract): the lake is
snapshot-versioned (one manifest per commit), so it must also offer what a
snapshot-versioned table needs at 10^10-event scale —

  * ``read(at_version=)``   — VERSION AS OF time travel (old file list + the
    schema THAT commit had);
  * ``changes_between``     — changelog scan (CDC back out of the lake) pruned
    to buckets the window actually rewrote;
  * ``expire_snapshots``    — physical deletion of superseded copy-on-write
    files; without it a long replay retains every stranded file forever.

Correctness gates here: time-travel state equals the pandas reference reducer
over the WAL prefix (tests/oracle.py), and applying the changelog to the old
snapshot reproduces the new snapshot exactly.
"""

from __future__ import annotations

import os

import pytest

from debezium_spark import CdcEngine, EngineConfig
from debezium_spark.sources import wal as W
from tests.oracle import reduce_wal, state_hashes, target_hashes


@pytest.fixture(scope="module")
def replayed(spark, tmp_path_factory):
    """One multi-batch engine replay shared by the module's read-only tests."""
    root = str(tmp_path_factory.mktemp("lake_maint"))
    spec = W.WalSpec(n_keys=300, n_events=2500, seed=11)
    wal_dir = os.path.join(root, "wal")
    W.write_wal(spark, spec, wal_dir, n_files=4)
    eng = CdcEngine(
        spark,
        EngineConfig(max_offsets_per_batch=900, target_buckets=8),
        wal_path=wal_dir,
        target_path=os.path.join(root, "target"),
        work_dir=os.path.join(root, "work"),
        schema_changes=W.schema_history(spark, spec),
    )
    results = eng.run()
    wal_pd = spark.read.parquet(wal_dir).toPandas()
    return eng, spec, wal_pd, results


def test_snapshot_log_records_every_commit(replayed):
    eng, _, _, results = replayed
    lake = eng.target()
    snaps = lake.snapshots()
    # v0 (create) + one per applied batch + one per lake-mutating DDL
    assert len(snaps) >= 1 + len([r for r in results if r.get("applied")])
    assert [s["version"] for s in snaps] == sorted(s["version"] for s in snaps)
    assert snaps[-1]["version"] == lake.manifest(refresh=True)["version"]
    # max_offset is monotone across the log
    offs = [s["max_offset"] for s in snaps]
    assert offs == sorted(offs)


def test_time_travel_matches_oracle_prefix(replayed):
    """read(at_version=v) must equal the pandas reference reducer applied to
    the WAL prefix offset <= that snapshot's max_offset — for EVERY retained
    mid-replay version with data."""
    eng, _, wal_pd, _ = replayed
    lake = eng.target()
    snaps = [s for s in lake.snapshots() if s["max_offset"] >= 0]
    assert len(snaps) >= 2
    for s in snaps:
        expected = state_hashes(
            reduce_wal(wal_pd[wal_pd["offset"] <= s["max_offset"]])
        )
        got = target_hashes(
            lake.read(at_version=s["version"])
            .select("repo", "path", "content")
            .toPandas()
        )
        assert got == expected, f"version {s['version']} diverges from oracle"


def test_time_travel_sees_that_commits_schema(replayed):
    """A snapshot before the ADD COLUMN DDL must not show the added column —
    time travel restores the schema of the commit, not just its rows."""
    eng, spec, _, _ = replayed
    lake = eng.target()
    add_off = spec.schema_change_offsets()[2]
    snaps = [s for s in lake.snapshots() if s["max_offset"] >= 0]
    pre = [s for s in snaps if s["max_offset"] < add_off]
    post = [s for s in snaps if s["max_offset"] >= add_off]
    assert pre and post, "need snapshots straddling the DDL offset"
    assert "size_bytes" not in lake.read(at_version=pre[0]["version"]).columns
    assert "size_bytes" in lake.read(at_version=post[-1]["version"]).columns


def test_changes_between_replays_old_to_new(replayed):
    """THE changelog contract: applying changes_between(v1, v2) to snapshot v1
    reproduces snapshot v2 exactly (insert/update set after, delete removes).
    Runs across the mid-replay schema change, so old rows align to the new
    schema inside the diff."""
    eng, _, _, _ = replayed
    lake = eng.target()
    snaps = [s for s in lake.snapshots() if s["max_offset"] >= 0]
    v1, v2 = snaps[0]["version"], snaps[-1]["version"]
    diff = lake.changes_between(v1, v2).toPandas()
    assert set(diff["op"]) <= {"c", "u", "d"}

    state = {
        (r["repo"], r["path"]): r
        for r in lake.read(at_version=v1).toPandas().to_dict("records")
    }
    for r in diff.to_dict("records"):
        k = (r["repo"], r["path"])
        if r["op"] == "d":
            assert k in state, "delete for a key not live in the old snapshot"
            assert r["after"] is None
            state.pop(k)
        else:
            if r["op"] == "c":
                assert k not in state, "insert for an already-live key"
                assert r["before"] is None
            else:
                assert k in state, "update for a key not live in the old snapshot"
            after = r["after"]
            a = after if isinstance(after, dict) else after.asDict()
            state[k] = {"repo": k[0], "path": k[1], **a}
    expected = {
        (r["repo"], r["path"]): r.get("content")
        for r in lake.read(at_version=v2)
        .select("repo", "path", "content")
        .toPandas()
        .to_dict("records")
    }
    got = {k: v.get("content") for k, v in state.items()}
    assert got == expected


def test_changes_between_self_is_empty(replayed):
    eng, _, _, _ = replayed
    lake = eng.target()
    v = lake.manifest(refresh=True)["version"]
    assert lake.changes_between(v, v).count() == 0
    with pytest.raises(ValueError):
        lake.changes_between(v, v - 1)


def test_expire_snapshots_deletes_stranded_files(spark, tmpdir_path):
    """After expiry with keep_last=1: current state intact, expired versions
    unreadable, and the data dir holds EXACTLY the referenced files — the
    copy-on-write strands are physically gone."""
    spec = W.WalSpec(n_keys=120, n_events=1000, seed=23, schema_changes=False)
    wal_dir = os.path.join(tmpdir_path, "wal")
    W.write_wal(spark, spec, wal_dir, n_files=2)
    eng = CdcEngine(
        spark,
        EngineConfig(max_offsets_per_batch=500, target_buckets=4),
        wal_path=wal_dir,
        target_path=os.path.join(tmpdir_path, "target"),
        work_dir=os.path.join(tmpdir_path, "work"),
    )
    eng.run()
    lake = eng.target()
    before = target_hashes(
        lake.read().select("repo", "path", "content").toPandas()
    )
    old_versions = [s["version"] for s in lake.snapshots()][:-1]
    assert old_versions, "need >1 version to expire"

    def disk_files():
        out = set()
        for root, _d, files in os.walk(os.path.join(lake.path, "data")):
            for fn in files:
                if fn.endswith(".parquet"):
                    out.add(
                        os.path.relpath(os.path.join(root, fn), lake.path)
                    )
        return out

    n_disk_before = len(disk_files())
    res = lake.expire_snapshots(keep_last=1, grace_seconds=0.0)
    assert res["expired_manifests"] == len(old_versions)
    assert res["deleted_files"] > 0
    assert len(disk_files()) < n_disk_before
    # exactly the referenced set survives
    referenced = {fe["path"] for fe in lake.manifest(refresh=True)["files"]}
    assert disk_files() == referenced
    # current read unchanged; expired version now raises
    after = target_hashes(
        lake.read().select("repo", "path", "content").toPandas()
    )
    assert after == before
    with pytest.raises(ValueError):
        lake.read(at_version=old_versions[0])


def test_retention_bounds_storage_during_replay(spark, tmpdir_path, replayed):
    """snapshot_retention sweeps INSIDE the replay loop: after a multi-batch
    run with retention=1, only one manifest survives, no stranded data file
    remains on disk, and the final state is identical to the unconstrained
    replay (expiry is pure GC — it must never touch the data path)."""
    eng_ref, spec, wal_pd, _ = replayed
    wal_dir = os.path.join(tmpdir_path, "wal")
    W.write_wal(spark, spec, wal_dir, n_files=4)
    eng = CdcEngine(
        spark,
        EngineConfig(
            max_offsets_per_batch=900,
            target_buckets=8,
            snapshot_retention=1,
            expire_every_batches=1,
            expire_grace_seconds=0.0,
        ),
        wal_path=wal_dir,
        target_path=os.path.join(tmpdir_path, "target"),
        work_dir=os.path.join(tmpdir_path, "work"),
        schema_changes=W.schema_history(spark, spec),
    )
    eng.run()
    lake = eng.target()
    assert len(lake.snapshots()) == 1
    referenced = {fe["path"] for fe in lake.manifest(refresh=True)["files"]}
    on_disk = set()
    for root, _d, files in os.walk(os.path.join(lake.path, "data")):
        for fn in files:
            if fn.endswith(".parquet"):
                on_disk.add(os.path.relpath(os.path.join(root, fn), lake.path))
    assert on_disk == referenced
    got = target_hashes(
        lake.read().select("repo", "path", "content").toPandas()
    )
    want = target_hashes(
        eng_ref.target().read().select("repo", "path", "content").toPandas()
    )
    assert got == want


def test_retention_bounds_storage_in_stateful_drive(spark, tmpdir_path, replayed):
    """The stateful drive commits through the same epilogue as run(), so its
    triggers sweep expired snapshots too, and the state still equals the
    batch replay."""
    eng_ref, spec, _, _ = replayed
    wal_dir = os.path.join(tmpdir_path, "wal")
    W.write_wal(spark, spec, wal_dir, n_files=4)
    eng = CdcEngine(
        spark,
        EngineConfig(
            target_buckets=8,
            snapshot_retention=1,
            expire_every_batches=1,
            expire_grace_seconds=0.0,
        ),
        wal_path=wal_dir,
        target_path=os.path.join(tmpdir_path, "target"),
        work_dir=os.path.join(tmpdir_path, "work"),
        schema_changes=W.schema_history(spark, spec),
    )
    eng.run_streaming_stateful(max_files_per_trigger=1)
    lake = eng.target()
    assert lake.committed_batch_id >= 1  # several triggers committed
    assert len(lake.snapshots()) == 1
    got = target_hashes(
        lake.read().select("repo", "path", "content").toPandas()
    )
    want = target_hashes(
        eng_ref.target().read().select("repo", "path", "content").toPandas()
    )
    assert got == want


def test_expire_grace_window_protects_fresh_files(spark, tmpdir_path):
    """grace_seconds guards in-flight commits: freshly-written unreferenced
    files survive an expiry with a large grace window."""
    spec = W.WalSpec(n_keys=50, n_events=300, seed=5, schema_changes=False)
    wal_dir = os.path.join(tmpdir_path, "wal")
    W.write_wal(spark, spec, wal_dir, n_files=1)
    eng = CdcEngine(
        spark,
        EngineConfig(max_offsets_per_batch=200, target_buckets=2),
        wal_path=wal_dir,
        target_path=os.path.join(tmpdir_path, "target"),
        work_dir=os.path.join(tmpdir_path, "work"),
    )
    eng.run()
    lake = eng.target()
    res = lake.expire_snapshots(keep_last=1, grace_seconds=86400.0)
    assert res["deleted_files"] == 0  # everything is younger than the grace
    # manifests still expired (metadata-only; they reference retained files)
    assert len(lake.snapshots()) == 1
