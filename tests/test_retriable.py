"""Retriable-failure restarts (pipeline/ErrorHandler.java:56-85,
CommonConnectorConfig.java:308-319,536,937, BaseSourceTask.java:204-261).

Semantics under test:
  * a failure whose message chain full-matches ``custom.retriable.exception``
    restarts the run from durable state (isCustomRetriable walks getCause());
  * an OSError anywhere in the chain is base-retriable (the connection-loss
    analogue of per-connector ErrorHandler.isRetriable overrides);
  * any other failure propagates immediately (the ConnectException path);
  * ``errors.max.retries`` bounds restarts; exhausting it propagates;
  * restarts are exact: final lake state equals a clean run's (committed
    batches never re-apply, the failed batch replays idempotently).
"""

import json

import pytest

from debezium_spark import CdcEngine, EngineConfig, LakeTable
from debezium_spark.sources import wal as W
from tests import oracle


@pytest.fixture(scope="module")
def wal_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("retriable_wal"))
    W.write_wal(spark, W.WalSpec(n_keys=120, n_events=600, seed=23), d, n_files=4)
    return d


def _oracle_hashes(spark, wal_dir):
    wal_pd = (
        spark.read.parquet(wal_dir)
        .select("offset", "is_tombstone", "op", "repo", "path", "after")
        .toPandas()
    )
    return oracle.state_hashes(oracle.reduce_wal(wal_pd))


def _flaky_projection(exc: Exception):
    """WAL projection that raises ``exc`` on its first call, then heals —
    the transient-outage shape ErrorHandler classifies as retriable. A drive
    applies it once, to the WAL read at its start, so ``calls["n"]`` counts
    the drive's attempts."""
    calls = {"n": 0}

    def project(wal):
        calls["n"] += 1
        if calls["n"] == 1:
            raise exc
        return wal

    return project, calls


def _engine(spark, wal_dir, d, projection=None, **cfg):
    cfg.setdefault("max_offsets_per_batch", 200)
    cfg.setdefault("retriable_restart_wait_ms", 0)
    return CdcEngine(
        spark,
        EngineConfig(**cfg),
        wal_path=wal_dir,
        target_path=f"{d}/target",
        work_dir=f"{d}/work",
        wal_projection=projection,
    )


def _restart_lines(eng):
    import os

    if not os.path.exists(eng._metrics_path):
        return []
    with open(eng._metrics_path) as f:
        return [json.loads(x) for x in f if "connector_restart" in x]


def test_custom_retriable_pattern_restarts_and_state_matches(
    spark, wal_dir, tmpdir_path
):
    projection, calls = _flaky_projection(
        RuntimeError("simulated source outage: connection reset"),
    )
    eng = _engine(
        spark, wal_dir, tmpdir_path, projection,
        custom_retriable_exception=".*source outage.*",
    )
    eng.run()
    assert calls["n"] == 2  # it failed once and came back
    restarts = _restart_lines(eng)
    assert len(restarts) == 1 and "source outage" in restarts[0]["error"]
    lake = LakeTable(spark, f"{tmpdir_path}/target")
    got = oracle.target_hashes(
        lake.read().select("repo", "path", "content").toPandas()
    )
    assert got == _oracle_hashes(spark, wal_dir)


def test_oserror_is_base_retriable(spark, wal_dir, tmpdir_path):
    projection, calls = _flaky_projection(OSError("storage blip"))
    eng = _engine(spark, wal_dir, tmpdir_path, projection)
    eng.run()
    assert calls["n"] == 2
    assert len(_restart_lines(eng)) == 1
    lake = LakeTable(spark, f"{tmpdir_path}/target")
    got = oracle.target_hashes(
        lake.read().select("repo", "path", "content").toPandas()
    )
    assert got == _oracle_hashes(spark, wal_dir)


def test_wrapped_cause_is_classified_through_the_chain(
    spark, wal_dir, tmpdir_path
):
    # isCustomRetriable walks getCause(): an opaque wrapper around a
    # retriable root cause still restarts.
    try:
        raise OSError("root connectivity loss")
    except OSError as root:
        wrapped = RuntimeError("pipeline stage failed")
        wrapped.__cause__ = root
    projection, calls = _flaky_projection(wrapped)
    eng = _engine(spark, wal_dir, tmpdir_path, projection)
    eng.run()
    assert calls["n"] == 2
    assert len(_restart_lines(eng)) == 1


def test_non_retriable_propagates_immediately(spark, wal_dir, tmpdir_path):
    projection, calls = _flaky_projection(RuntimeError("schema mismatch"))
    eng = _engine(
        spark, wal_dir, tmpdir_path, projection,
        custom_retriable_exception=".*source outage.*",  # does not match
    )
    with pytest.raises(RuntimeError, match="schema mismatch"):
        eng.run()
    assert calls["n"] == 1  # no second attempt
    assert _restart_lines(eng) == []


def test_errors_max_retries_bounds_restarts(spark, wal_dir, tmpdir_path):
    projection, calls = _flaky_projection(OSError("storage blip"))
    eng = _engine(spark, wal_dir, tmpdir_path, projection, errors_max_retries=0)
    with pytest.raises(OSError, match="storage blip"):
        eng.run()
    assert calls["n"] == 1
    assert _restart_lines(eng) == []


def test_resume_after_restart_does_not_reapply_committed_batches(
    spark, wal_dir, tmpdir_path
):
    # Fail AFTER a batch committed: the restart must pick up past the
    # committed offset and the final state must still match the oracle.
    # Injection point = the batch apply itself (the shape of a transient
    # storage failure inside a merge job).
    eng = _engine(spark, wal_dir, tmpdir_path)
    orig_apply = eng._apply_batch
    state = {"n": 0}

    def flaky_apply(*a, **k):
        state["n"] += 1
        if state["n"] == 2:  # batch 1 committed; batch 2 dies pre-commit
            raise OSError("mid-run outage")
        return orig_apply(*a, **k)

    eng._apply_batch = flaky_apply
    results = eng.run()
    assert len(_restart_lines(eng)) == 1
    applied = [r["batch_id"] for r in results if r.get("applied")]
    assert applied == sorted(set(applied))  # no batch applied twice
    lake = LakeTable(spark, f"{tmpdir_path}/target")
    got = oracle.target_hashes(
        lake.read().select("repo", "path", "content").toPandas()
    )
    assert got == _oracle_hashes(spark, wal_dir)


def test_properties_map_retriable_keys(tmpdir_path):
    cfg = EngineConfig.from_properties(
        {
            "custom.retriable.exception": ".*deadlock.*",
            "retriable.restart.connector.wait.ms": "250",
            "errors.max.retries": "3",
        }
    )
    assert cfg.custom_retriable_exception == ".*deadlock.*"
    assert cfg.retriable_restart_wait_ms == 250
    assert cfg.errors_max_retries == 3
