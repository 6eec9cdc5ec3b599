"""Schema evolution beyond add/widen: column rename + drop mid-stream
(TableChanges.java:31-54,201-204; MySqlSchemaMigrationIT scenarios).

The WAL's physical payload is the union schema (old + new name columns);
events written before the rename populate only the old column, later events
only the new one. Batches are sized so files commit under the pre-rename
schema version before the DDL applies — exercising both the envelope
alignment (registry.align_envelope_columns) and the lake's manifest rename
chain on read."""

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from debezium_spark import CdcEngine, EngineConfig

PAYLOAD_T = (
    "struct<repo:string,path:string,commit:string,lang:string,content:string,"
    "m_old:string,m_new:string>"
)


def _row(offset, op, k, content=None, m_old=None, m_new=None):
    repo, path = f"r{k % 4}", f"p{k}"
    img = (repo, path, f"c{offset}", "py", content, m_old, m_new)
    return (
        offset, offset * 1000, op, repo, path,
        img if op in ("u", "d") else None,
        img if op in ("r", "c", "u") else None,
        False, offset // 8, 1,
    )


def _wal_df(spark):
    rows = []
    # phase A (v1, offsets 1..20): create keys 0..9 with m_old populated
    for k in range(10):
        rows.append(_row(1 + k, "c", k, content=f"c1:{k}", m_old=f"old{k}"))
    # rename m_old -> m_new lands at offset 30 (schema v2)
    # phase B (offsets 31..40): update keys 5..9 with m_new populated
    for j, k in enumerate(range(5, 10)):
        rows.append(_row(31 + j, "u", k, content=f"c2:{k}", m_new=f"new{k}"))
    # drop lang at offset 45 (schema v3)
    # phase C (offsets 51..55): update keys 8..9
    for j, k in enumerate(range(8, 10)):
        rows.append(_row(51 + j, "u", k, content=f"c3:{k}", m_new=f"vv{k}"))
    schema = T.StructType.fromDDL(
        f"offset bigint, ts_ms bigint, op string, repo string, path string, "
        f"before {PAYLOAD_T.replace('struct<', 'struct<').replace('>', '>')}, "
        f"after {PAYLOAD_T}, is_tombstone boolean, tx_id bigint, schema_version int"
    )
    return spark.createDataFrame(rows, schema)


def _history(spark):
    return spark.createDataFrame(
        [
            (0, 1, "CREATE TABLE t (...)", "create"),
            (30, 2, "ALTER TABLE t RENAME COLUMN m_old TO m_new",
             "rename_column:m_old:m_new"),
            (45, 3, "ALTER TABLE t DROP COLUMN lang", "drop_column:lang"),
        ],
        "offset bigint, version int, ddl string, table_changes string",
    )


def _mk(spark, tmpdir_path, wal_dir, sub):
    return CdcEngine(
        spark,
        EngineConfig(max_offsets_per_batch=20),
        wal_path=wal_dir,
        target_path=os.path.join(tmpdir_path, "t" + sub),
        work_dir=os.path.join(tmpdir_path, "w" + sub),
        schema_changes=_history(spark),
    )


def test_rename_and_drop_mid_stream(spark, tmpdir_path):
    wal_dir = os.path.join(tmpdir_path, "wal_ddl")
    _wal_df(spark).repartition(1).write.parquet(wal_dir)

    eng = _mk(spark, tmpdir_path, wal_dir, "a")
    eng.run()
    lake = eng.target()

    # final schema: m_old renamed away, lang dropped
    names = lake.schema.fieldNames()
    assert "m_new" in names and "m_old" not in names and "lang" not in names

    final = {r["path"]: r for r in lake.read().collect()}
    assert len(final) == 10
    # keys last written before the rename: m_old value surfaces under m_new
    for k in range(5):
        assert final[f"p{k}"]["m_new"] == f"old{k}"
        assert final[f"p{k}"]["content"] == f"c1:{k}"
    # keys updated after the rename carry the new column's value
    for k in range(5, 8):
        assert final[f"p{k}"]["m_new"] == f"new{k}"
    for k in range(8, 10):
        assert final[f"p{k}"]["m_new"] == f"vv{k}"
        assert final[f"p{k}"]["content"] == f"c3:{k}"
    # lang projected away even for rows committed before the drop
    assert "lang" not in final["p0"].asDict()

    # durable history replays: a fresh engine over the same WAL converges
    eng2 = _mk(spark, tmpdir_path, wal_dir, "b")
    eng2.run()
    final2 = {r["path"]: r["m_new"] for r in eng2.target().read().collect()}
    assert final2 == {p: r["m_new"] for p, r in final.items()}


def test_lake_rename_chain_reads_old_files(spark, tmpdir_path):
    """Unit-level: files written under the old name read back under the new
    one through the manifest rename record (no engine involved)."""
    from debezium_spark.plans.lake import LakeTable

    schema = T.StructType(
        [T.StructField("repo", T.StringType()), T.StructField("path", T.StringType()),
         T.StructField("a", T.StringType())]
    )
    lake = LakeTable.create(
        spark, os.path.join(tmpdir_path, "lt"), schema, key_cols=("repo", "path"),
        n_buckets=2,
    )
    actions = spark.createDataFrame(
        [("r", "p1", "upsert", ("v1",), 1, 1), ("r", "p2", "upsert", ("v2",), 2, 2)],
        "repo string, path string, action string, after struct<a:string>, "
        "_offset bigint, _ts_ms bigint",
    )
    lake.commit_staged(
        lake.stage_initial(actions, batch_id=0), batch_id=0, max_offset=2
    )
    lake.rename_column("a", "b")
    got = {r["path"]: r["b"] for r in lake.read().collect()}
    assert got == {"p1": "v1", "p2": "v2"}
    # chained rename b -> c still resolves
    lake.rename_column("b", "c")
    got2 = {r["path"]: r["c"] for r in lake.read().collect()}
    assert got2 == {"p1": "v1", "p2": "v2"}
    # drop is idempotent and removes the column
    lake.drop_column("c")
    lake.drop_column("c")
    assert "c" not in lake.schema.fieldNames()


def test_rename_and_drop_out_of_order_delivery(spark, tmpdir_path):
    """Order-tolerance across DDL boundaries: the post-rename phase-C segment
    is delivered FIRST (the rename+drop apply to the lake immediately), then
    the pre-rename phase-A segment arrives late — its m_old payloads must
    still surface under m_new, aligned to the lake's already-renamed schema,
    and the LWW winner per key must equal the in-order result."""
    import shutil

    base = os.path.join(tmpdir_path, "wal_phases")
    wal = _wal_df(spark)
    phases = [
        ("pA", wal.where(F.col("offset") <= 20)),
        ("pB", wal.where((F.col("offset") > 20) & (F.col("offset") <= 45))),
        ("pC", wal.where(F.col("offset") > 45)),
    ]
    for name, df in phases:
        df.repartition(1).write.parquet(os.path.join(base, name))

    live = os.path.join(tmpdir_path, "wal_ooo")
    os.makedirs(live)
    t0 = 1_700_000_000
    for age, name in enumerate(["pC", "pB", "pA"]):  # oldest mtime = phase C
        src_dir = os.path.join(base, name)
        part = next(f for f in os.listdir(src_dir) if f.endswith(".parquet"))
        dst = os.path.join(live, f"{name}.parquet")
        shutil.copy2(os.path.join(src_dir, part), dst)
        os.utime(dst, (t0 + age * 60, t0 + age * 60))

    eng = _mk(spark, tmpdir_path, live, "ooo")
    eng.run_streaming(max_files_per_trigger=1)
    lake = eng.target()
    names = lake.schema.fieldNames()
    assert "m_new" in names and "m_old" not in names and "lang" not in names
    final = {r["path"]: r for r in lake.read().collect()}
    assert len(final) == 10
    for k in range(5):  # late-arriving pre-rename creates
        assert final[f"p{k}"]["m_new"] == f"old{k}"
    for k in range(5, 8):
        assert final[f"p{k}"]["m_new"] == f"new{k}"
    for k in range(8, 10):
        assert final[f"p{k}"]["m_new"] == f"vv{k}"
