"""Config knobs wired through the engine: table include/exclude (P1),
tombstones.on.delete (P7/EventDispatcher.java:119), and
provide.transaction.metadata (P16/TransactionMonitor.java:56-72) — each
observable at the public API (envelope_stream / final lake state)."""

import os

from pyspark.sql import functions as F

from debezium_spark import CdcEngine, EngineConfig
from debezium_spark.sources import wal as W
from tests import oracle


def _engine(spark, tmpdir_path, wal_dir, spec, cfg, sub):
    return CdcEngine(
        spark,
        cfg,
        wal_path=wal_dir,
        target_path=os.path.join(tmpdir_path, "t" + sub),
        work_dir=os.path.join(tmpdir_path, "w" + sub),
        schema_changes=W.schema_history(spark, spec),
    )


def _wal(spark, tmpdir_path, spec, name):
    wal_dir = os.path.join(tmpdir_path, name)
    W.write_wal(spark, spec, wal_dir, n_files=4)
    return wal_dir


def test_table_exclude_drops_all_capture(spark, tmpdir_path):
    """table.exclude.list matching the captured table => nothing merges; an
    include list matching it => identical state to the unfiltered run."""
    spec = W.WalSpec(n_keys=120, n_events=600, seed=41, schema_changes=False)
    wal_dir = _wal(spark, tmpdir_path, spec, "wal_tf")

    excl = _engine(
        spark, tmpdir_path, wal_dir, spec,
        EngineConfig(table_exclude=r"lake\.repos"), "x",
    )
    excl.run()
    assert excl.target().read().count() == 0

    incl = _engine(
        spark, tmpdir_path, wal_dir, spec,
        EngineConfig(table_include=r"lake\..*"), "i",
    )
    incl.run()
    plain = _engine(spark, tmpdir_path, wal_dir, spec, EngineConfig(), "p")
    plain.run()
    want = oracle.target_hashes(
        plain.target().read().select("repo", "path", "content").toPandas()
    )
    got = oracle.target_hashes(
        incl.target().read().select("repo", "path", "content").toPandas()
    )
    assert got == want


def test_tombstones_on_delete_false_suppresses_tombstones(spark, tmpdir_path):
    """With the knob off the envelope stream carries no (key, null) records,
    and the lake state is unchanged (the delete itself still applies)."""
    spec = W.WalSpec(n_keys=120, n_events=600, seed=42, schema_changes=False)
    wal_dir = _wal(spark, tmpdir_path, spec, "wal_tomb")

    on = _engine(spark, tmpdir_path, wal_dir, spec, EngineConfig(), "on")
    off = _engine(
        spark, tmpdir_path, wal_dir, spec,
        EngineConfig(tombstones_on_delete=False), "off",
    )
    assert on.envelope_stream().where(F.col("value").isNull()).count() > 0
    assert off.envelope_stream().where(F.col("value").isNull()).count() == 0

    on.run()
    off.run()
    h = lambda e: oracle.target_hashes(  # noqa: E731
        e.target().read().select("repo", "path", "content").toPandas()
    )
    assert h(on) == h(off)


def test_snapshot_mode_when_needed(spark, tmpdir_path):
    """when_needed (MySqlConnectorConfig.java:131-167): snapshot READ events
    apply only when there is no resumable lake state; once state exists a
    late re-snapshot is skipped exactly like mode=never."""
    spec = W.WalSpec(n_keys=100, n_events=400, seed=44, schema_changes=False)
    wal_dir = _wal(spark, tmpdir_path, spec, "wal_wn")

    # fresh target: behaves like initial — snapshot-only keys are present
    e1 = _engine(
        spark, tmpdir_path, wal_dir, spec,
        EngineConfig(snapshot_mode="when_needed"), "wn",
    )
    e1.run()
    n1 = e1.target().read().count()
    ref = _engine(spark, tmpdir_path, wal_dir, spec, EngineConfig(), "wnref")
    ref.run()
    assert n1 == ref.target().read().count()

    # existing state: a late READ row (re-snapshot at a fresh offset) is skipped
    top = spark.read.parquet(wal_dir).agg(F.max("offset")).first()[0]
    late = spark.read.parquet(wal_dir).where("op = 'r'").limit(1).select(
        (F.lit(top) + 10).alias("offset"), "ts_ms", "op", "repo",
        F.concat(F.col("path"), F.lit(".late")).alias("path"),
        "before",
        F.col("after").withField("path", F.concat(F.col("after.path"), F.lit(".late"))).alias("after"),
        "is_tombstone", "tx_id", "schema_version",
    )
    wal2 = os.path.join(tmpdir_path, "wal_wn2")
    spark.read.parquet(wal_dir).unionByName(late).write.parquet(wal2)
    e2 = CdcEngine(
        spark, EngineConfig(snapshot_mode="when_needed"),
        wal_path=wal2, target_path=os.path.join(tmpdir_path, "twn"),
        work_dir=os.path.join(tmpdir_path, "wwn2"),
        schema_changes=W.schema_history(spark, spec),
    )
    e2.run()
    assert e2.target().read().where(F.col("path").endswith(".late")).count() == 0


def test_snapshot_mode_schema_only_recovery(spark, tmpdir_path):
    """schema_only_recovery rebuilds a lost schema-history store from the
    schema-change source and streams without snapshotting."""
    spec = W.WalSpec(n_keys=100, n_events=400, seed=45)  # with schema changes
    wal_dir = _wal(spark, tmpdir_path, spec, "wal_rec")
    e1 = _engine(spark, tmpdir_path, wal_dir, spec, EngineConfig(), "rc")
    e1.run()
    assert [c.version for c in e1.history.replay()] == [2, 3]
    os.remove(e1.history.path)  # the "lost" history store

    e2 = _engine(
        spark, tmpdir_path, wal_dir, spec,
        EngineConfig(snapshot_mode="schema_only_recovery"), "rc",
    )
    e2.run()
    assert [c.version for c in e2.history.replay()] == [2, 3]


def test_provide_transaction_metadata_emits_block(spark, tmpdir_path):
    """Opt-in transaction block: every data event carries transaction{id,
    total_order, data_collection_order}; default leaves it null."""
    spec = W.WalSpec(n_keys=80, n_events=400, seed=43, schema_changes=False)
    wal_dir = _wal(spark, tmpdir_path, spec, "wal_tx")

    plain = _engine(spark, tmpdir_path, wal_dir, spec, EngineConfig(), "n")
    env0 = plain.envelope_stream().where(F.col("value").isNotNull())
    assert env0.where(F.col("value.transaction").isNotNull()).count() == 0

    meta = _engine(
        spark, tmpdir_path, wal_dir, spec,
        EngineConfig(provide_transaction_metadata=True), "m",
    )
    env = meta.envelope_stream().where(F.col("value").isNotNull())
    assert env.where(F.col("value.transaction").isNull()).count() == 0
    t = env.select(
        F.col("value.transaction.id").alias("txid"),
        F.col("value.transaction.total_order").alias("to"),
    )
    # dense 1..n ranking inside each tx
    agg = t.groupBy("txid").agg(
        F.count("*").alias("n"), F.max("to").alias("mx"), F.min("to").alias("mn")
    )
    assert agg.where("mx != n or mn != 1").count() == 0
    # and the run with metadata enabled still converges to the same state
    meta.run()
    plain.run()
    h = lambda e: oracle.target_hashes(  # noqa: E731
        e.target().read().select("repo", "path", "content").toPandas()
    )
    assert h(meta) == h(plain)


def test_resolve_message_key_mapper():
    """message.key.columns resolution (relational/Key.java:92-148): full-match
    case-insensitive regexes over '<table_id>.<col>', candidates in TABLE
    column order, no-match -> default PK, malformed part raises."""
    import pytest

    from debezium_spark.functions.transforms import resolve_message_key

    cols = ["repo", "path", "commit", "lang", "content"]
    # spec order (path,repo) does NOT dictate key order — table order does
    assert resolve_message_key(
        "lake\\.repos:path,repo", "lake.repos", cols, ("repo", "path")
    ) == ("repo", "path")
    # regex table part + case-insensitive match
    assert resolve_message_key(
        "(.*)\\.REPOS:LANG", "lake.repos", cols, ("repo", "path")
    ) == ("lang",)
    # multiple ';' entries; only the matching one applies
    assert resolve_message_key(
        "other\\.tbl:commit;lake\\.repos:commit,lang", "lake.repos", cols,
        ("repo", "path"),
    ) == ("commit", "lang")
    # substring-only match must NOT qualify (full-match anchoring)
    assert resolve_message_key(
        "repos:lang", "lake.repos", cols, ("repo", "path")
    ) == ("repo", "path")
    # no candidates -> default PK; empty/None spec -> default PK
    assert resolve_message_key(
        "lake\\.repos:nope", "lake.repos", cols, ("repo", "path")
    ) == ("repo", "path")
    assert resolve_message_key(None, "lake.repos", cols, ("repo", "path")) == (
        "repo", "path",
    )
    with pytest.raises(ValueError):
        resolve_message_key("no-colon-part", "lake.repos", cols, ("repo",))


def test_engine_resolves_message_key_columns(spark, tmpdir_path):
    """An engine with message.key.columns matching the captured table re-keys
    the run; an equivalent spec naming the default PK converges to the
    identical state as the unconfigured engine."""
    spec = W.WalSpec(n_keys=80, n_events=320, seed=46, schema_changes=False)
    wal_dir = _wal(spark, tmpdir_path, spec, "mkwal")
    plain = _engine(spark, tmpdir_path, wal_dir, spec, EngineConfig(), "mk0")
    same = _engine(
        spark, tmpdir_path, wal_dir, spec,
        # resolves to (repo, path) — table column order, same as the default
        EngineConfig(message_key_columns="lake\\.repos:path,repo"), "mk1",
    )
    plain.run()
    same.run()
    assert same.config.key_columns == ("repo", "path")
    h = lambda e: oracle.target_hashes(  # noqa: E731
        e.target().read().select("repo", "path", "content").toPandas()
    )
    assert h(plain) == h(same)
    # non-matching spec falls back to the configured PK before running
    fallback = _engine(
        spark, tmpdir_path, wal_dir, spec,
        EngineConfig(message_key_columns="other\\.table:commit"), "mk2",
    )
    fallback._resolve_message_key(fallback._wal().schema)
    assert fallback.config.key_columns == ("repo", "path")
