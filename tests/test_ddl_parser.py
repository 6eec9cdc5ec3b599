"""DDL parser -> schema-registry deltas (relational/ddl/DdlParser.java:18-42,
DdlParserListener.java:35-90, DdlChanges.java). Pure driver-side parsing —
no SparkSession needed."""

import pytest

from debezium_spark.plans import ddl as D


def test_create_table_columns_and_constraints():
    [e] = D.parse_ddl(
        """
        CREATE TABLE IF NOT EXISTS lake.`repos` (
          repo VARCHAR(255) NOT NULL,
          path TEXT,
          "commit" CHAR(40) DEFAULT 'x, y',
          size_bytes BIGINT,
          score NUMERIC(10, 2),
          created TIMESTAMP WITH TIME ZONE,
          PRIMARY KEY (repo, path),
          CONSTRAINT fk FOREIGN KEY (repo) REFERENCES r(id)
        )
        """
    )
    assert e.event_type == "CREATE_TABLE"
    assert e.table_id == "lake.repos"
    assert e.table_changes == "create"
    assert e.columns == [
        ("repo", "string"),
        ("path", "string"),
        ("commit", "string"),
        ("size_bytes", "bigint"),
        ("score", "decimal(10,2)"),
        ("created", "timestamp"),
    ]


def test_alter_actions_one_event_each():
    evs = D.parse_ddl(
        "ALTER TABLE lake.repos "
        "ADD COLUMN size_bytes BIGINT NOT NULL DEFAULT 0, "
        "DROP COLUMN IF EXISTS lang, "
        "RENAME COLUMN `commit` TO commit_sha;"
        "ALTER TABLE lake.repos MODIFY score DOUBLE;"
        "ALTER TABLE ONLY lake.repos ALTER COLUMN path SET DATA TYPE TEXT"
    )
    assert [e.table_changes for e in evs] == [
        "add_column:size_bytes:bigint:0",  # static DEFAULT rides the delta
        "drop_column:lang",
        "rename_column:commit:commit_sha",
        "widen:score:double",
        "widen:path:string",
    ]
    assert all(e.event_type == "ALTER_TABLE" for e in evs)
    assert all(e.table_id == "lake.repos" for e in evs)


def test_comments_use_set_truncate_drop():
    evs = D.parse_ddl(
        """
        -- captured preamble
        USE lake;
        SET time_zone = '+00:00';
        /* multi
           line */
        TRUNCATE TABLE lake.repos;
        DROP TABLE IF EXISTS lake.old_repos;
        """
    )
    assert [e.event_type for e in evs] == [
        "USE_DATABASE", "SET_VARIABLE", "TRUNCATE_TABLE", "DROP_TABLE",
    ]
    assert evs[3].table_id == "lake.old_repos"
    assert all(e.table_changes is None for e in evs)


def test_unsupported_statement_raises():
    with pytest.raises(ValueError):
        D.parse_ddl("ALTER TABLE lake.repos FROBNICATE widget")
    with pytest.raises(ValueError):
        D.parse_ddl("MERGE INTO lake.repos USING x ON 1=1")


def test_skip_unparseable_knob():
    """database.history.skip.unparseable.ddl (DatabaseHistory.java:46):
    unclassifiable statements become logged SKIPPED events instead of
    crashing replay; shape changes around them still land."""
    ddl = (
        "ALTER TABLE lake.repos ADD size_bytes BIGINT;"
        "ALTER TABLE lake.repos FROBNICATE widget;"
        "MERGE INTO lake.repos USING x ON 1=1;"
        "ALTER TABLE lake.repos DROP COLUMN lang"
    )
    evs = D.parse_ddl(ddl, skip_unparseable=True)
    assert [e.event_type for e in evs] == [
        "ALTER_TABLE", "SKIPPED", "SKIPPED", "ALTER_TABLE",
    ]
    assert [e.table_changes for e in evs if e.table_changes] == [
        "add_column:size_bytes:bigint", "drop_column:lang",
    ]


def test_shape_neutral_statements_ignored():
    """The reference parses-and-ignores DDL that doesn't change a captured
    table's shape (indexes, constraints, grants, analyze, views, triggers);
    a realistic binlog history replays without raising and yields exactly
    the same shape deltas as the clean script."""
    realistic = (
        "CREATE TABLE lake.repos (repo TEXT, path TEXT);"
        "CREATE INDEX idx_repo ON lake.repos (repo);"
        "ALTER TABLE lake.repos ADD COLUMN size_bytes BIGINT,"
        " ADD INDEX idx_sz (size_bytes), ENGINE=InnoDB;"
        "ANALYZE TABLE lake.repos;"
        "GRANT SELECT ON lake.repos TO 'reader'@'%';"
        "ALTER TABLE lake.repos ADD CONSTRAINT pk PRIMARY KEY (repo, path);"
        "CREATE OR REPLACE VIEW lake.v AS SELECT 1;"
        "ALTER TABLE lake.repos MODIFY size_bytes BIGINT, "
        " DROP INDEX idx_sz, AUTO_INCREMENT=100;"
        "LOCK TABLES lake.repos WRITE;"
        "ALTER TABLE lake.repos RENAME COLUMN path TO file_path;"
        "UNLOCK TABLES;"
        "ALTER TABLE lake.repos ALTER COLUMN repo SET NOT NULL;"
        "DROP INDEX idx_repo ON lake.repos"
    )
    clean = (
        "CREATE TABLE lake.repos (repo TEXT, path TEXT);"
        "ALTER TABLE lake.repos ADD COLUMN size_bytes BIGINT;"
        "ALTER TABLE lake.repos MODIFY size_bytes BIGINT;"
        "ALTER TABLE lake.repos RENAME COLUMN path TO file_path"
    )
    deltas = lambda ddl: [  # noqa: E731
        e.table_changes for e in D.parse_ddl(ddl) if e.table_changes
    ]
    assert deltas(realistic) == deltas(clean)
    rows_r = D.history_rows_from_ddl(
        realistic, offsets=[10, 20, 30], table_filter="lake.repos"
    )
    rows_c = D.history_rows_from_ddl(
        clean, offsets=[10, 20, 30], table_filter="lake.repos"
    )
    assert [r["table_changes"] for r in rows_r] == [
        r["table_changes"] for r in rows_c
    ]


def test_create_table_trailing_clauses_and_generated_columns():
    """MySQL/PG option clauses after the column list — including ones that
    carry their OWN parens (PARTITION BY, WITH (storage options)) — must not
    bleed into the last column's type; generated columns parse to their base
    type (the expression is shape-neutral metadata)."""
    [e] = D.parse_ddl(
        "CREATE TABLE t (a INT, b TEXT) PARTITION BY RANGE (a) "
        "(PARTITION p0 VALUES LESS THAN (10))"
    )
    assert e.columns == [("a", "int"), ("b", "string")]
    [e2] = D.parse_ddl("CREATE TABLE t (a INT) WITH (fillfactor=70)")
    assert e2.columns == [("a", "int")]
    [e3] = D.parse_ddl(
        "CREATE TABLE t (a INT, g INT GENERATED ALWAYS AS (a+1) STORED)"
    )
    assert e3.columns == [("a", "int"), ("g", "int")]
    [e4] = D.parse_ddl(
        "ALTER TABLE t ADD COLUMN g INT GENERATED ALWAYS AS (a*2) VIRTUAL"
    )
    assert e4.table_changes == "add_column:g:int"


def test_bare_generated_columns_store_base_type():
    """MySQL's bare generated-column form `v INT AS (expr) [STORED|VIRTUAL]`
    (MySqlParser.g4 generatedColumn — no GENERATED ALWAYS keyword) must store
    the BASE type. Before r5 it parsed to the whole string
    `'int as (id*2) stored'`, which recorded fine but poisoned history replay
    at registry.parse_type — a delayed failure skip_unparseable can't catch."""
    [e] = D.parse_ddl("CREATE TABLE t (id INT, v INT AS (id*2) STORED)")
    assert e.columns == [("id", "int"), ("v", "int")]
    [e2] = D.parse_ddl(
        "CREATE TABLE t (id INT, v DECIMAL(10,2) AS (id/4) VIRTUAL NOT NULL)"
    )
    assert e2.columns == [("id", "int"), ("v", "decimal(10,2)")]
    [e3] = D.parse_ddl("ALTER TABLE t ADD COLUMN v INT AS (id*2) STORED")
    assert e3.table_changes == "add_column:v:int"
    evs = D.parse_ddl("ALTER TABLE t CHANGE v v2 BIGINT AS (id*3) VIRTUAL")
    assert [e.table_changes for e in evs] == [
        "rename_column:v:v2", "widen:v2:bigint",
    ]
    # end-to-end: the generated-column script replays onto the registry to
    # the same state as the clean script (the r5 "Done =" criterion)
    from pyspark.sql import types as T

    from debezium_spark.plans.registry import SchemaRegistry

    base = T.StructType([T.StructField("id", T.IntegerType())])
    rows = D.history_rows_from_ddl(
        "ALTER TABLE t ADD COLUMN v INT AS (id*2) STORED", offsets=[10]
    )
    reg = SchemaRegistry.from_history_rows(base, rows)
    assert reg.schema_at(2)["v"].dataType == T.IntegerType()


def test_partition_maintenance_is_shape_neutral():
    """Partition maintenance (MySqlParser.g4 alterPartition /
    partitionDefinitions) reshapes storage layout, never the column set —
    all forms pass through with no registry delta and no raise, interleaved
    with real shape changes."""
    realistic = (
        "CREATE TABLE lake.repos (repo TEXT, path TEXT);"
        "ALTER TABLE lake.repos PARTITION BY KEY (repo) PARTITIONS 8;"
        "ALTER TABLE lake.repos ADD COLUMN size_bytes BIGINT,"
        " ADD PARTITION (PARTITION p8 VALUES LESS THAN (100));"
        "ALTER TABLE lake.repos DROP PARTITION p0, ANALYZE PARTITION p1;"
        "ALTER TABLE lake.repos REORGANIZE PARTITION p1 INTO"
        " (PARTITION p1a VALUES LESS THAN (10),"
        "  PARTITION p1b VALUES LESS THAN (20));"
        "ALTER TABLE lake.repos TRUNCATE PARTITION p2;"
        "ALTER TABLE lake.repos REMOVE PARTITIONING;"
        "ALTER TABLE lake.repos RENAME COLUMN path TO file_path"
    )
    clean = (
        "CREATE TABLE lake.repos (repo TEXT, path TEXT);"
        "ALTER TABLE lake.repos ADD COLUMN size_bytes BIGINT;"
        "ALTER TABLE lake.repos RENAME COLUMN path TO file_path"
    )
    deltas = lambda ddl: [  # noqa: E731
        e.table_changes for e in D.parse_ddl(ddl) if e.table_changes
    ]
    assert deltas(realistic) == deltas(clean)


def test_neutral_action_tightening():
    """Table-option neutrality requires an assignment (`=` or a value token);
    DROP KEY/CHECK are neutral only with a following identifier — so a drop
    of an unquoted column NAMED key/check still parses as a column drop."""
    # assignments and value forms are neutral
    for act in ("ENGINE=InnoDB", "ENGINE InnoDB", "COMMENT='x y'",
                "COMMENT 'x y'", "AUTO_INCREMENT = 100"):
        evs = D.parse_ddl(f"ALTER TABLE t {act}")
        assert [e.table_changes for e in evs] == [None], act
    # named index/check drops are neutral
    for act in ("DROP INDEX idx_a", "DROP KEY idx_a", "DROP CHECK chk_1",
                "DROP CONSTRAINT IF EXISTS c1"):
        evs = D.parse_ddl(f"ALTER TABLE t {act}")
        assert [e.table_changes for e in evs] == [None], act
    # bare DROP of a column that happens to be named `key` / `check`
    [e] = D.parse_ddl("ALTER TABLE t DROP key")
    assert e.table_changes == "drop_column:key"
    [e] = D.parse_ddl("ALTER TABLE t DROP COLUMN `check`")
    assert e.table_changes == "drop_column:check"


def test_multi_option_table_alters_are_neutral():
    """A table-option value may be followed by more table options; a value
    followed by anything else (a column definition after a column named
    `comment`) is still not a table option."""
    for stmt in (
        "ALTER TABLE repos ENGINE InnoDB ROW_FORMAT DYNAMIC",
        "ALTER TABLE repos COMMENT 'x' ENGINE=InnoDB",
        "ALTER TABLE repos AUTO_INCREMENT 100 COMMENT 'y'",
        "ALTER TABLE repos CHARACTER SET utf8mb4 COLLATE utf8mb4_bin",
        "ALTER TABLE repos DEFAULT CHARSET=utf8 ENGINE=InnoDB",
        "ALTER TABLE repos CONVERT TO CHARACTER SET utf8mb4",
    ):
        evs = D.parse_ddl(stmt)
        assert [(e.event_type, e.table_changes) for e in evs] == [
            ("ALTER_TABLE", None)
        ], stmt
    for stmt in (
        "ALTER TABLE repos COMMENT int NOT NULL",
        "ALTER TABLE repos COLLATE utf8_bin ADD COLUMN x int",
    ):
        with pytest.raises(ValueError):
            D.parse_ddl(stmt)


def test_mysql_change_column():
    """MySQL CHANGE [COLUMN] old new type — rename AND retype in one action,
    emitted as one event per registry delta (rename, then widen); same-name
    CHANGE is a pure retype."""
    evs = D.parse_ddl(
        "ALTER TABLE lake.repos CHANGE COLUMN `commit` commit_sha CHAR(64) NOT NULL;"
        "ALTER TABLE lake.repos CHANGE score score DOUBLE DEFAULT 0"
    )
    assert [e.table_changes for e in evs] == [
        "rename_column:commit:commit_sha",
        "widen:commit_sha:string",
        "widen:score:double",
    ]
    assert all(e.event_type == "ALTER_TABLE" for e in evs)


def test_sql_type_mapping():
    f = D.sql_type_to_spark
    assert f("VARCHAR(255)") == "string"
    assert f("double precision") == "double"
    assert f("NUMERIC(12,4)") == "decimal(12,4)"
    assert f("DECIMAL(9)") == "decimal(9,0)"
    assert f("numeric") == "decimal(38,18)"
    assert f("timestamptz") == "timestamp"
    assert f("array<int>") == "array<int>"  # unknown: verbatim Spark DDL


def test_history_rows_versions_and_filter():
    ddl = (
        "CREATE TABLE lake.repos (repo TEXT, path TEXT);"
        "ALTER TABLE lake.repos ADD size_bytes BIGINT;"
        "ALTER TABLE other.t ADD x INT;"
        "ALTER TABLE lake.repos RENAME COLUMN path TO file_path"
    )
    rows = D.history_rows_from_ddl(
        ddl, offsets=[100, 250], table_filter="lake.repos"
    )
    assert [(r["offset"], r["version"], r["table_changes"]) for r in rows] == [
        (100, 2, "add_column:size_bytes:bigint"),
        (250, 3, "rename_column:path:file_path"),
    ]
    with pytest.raises(ValueError):
        D.history_rows_from_ddl(ddl, offsets=[1], table_filter="lake.repos")


def test_registry_replays_parsed_ddl():
    """Parsed rows drive SchemaRegistry.schema_at exactly like the engine's
    schema-change source (registry.py from_history_rows/schema_at)."""
    from pyspark.sql import types as T

    from debezium_spark.plans.registry import SchemaRegistry

    base = T.StructType(
        [T.StructField("repo", T.StringType()), T.StructField("path", T.StringType())]
    )
    rows = D.history_rows_from_ddl(
        "ALTER TABLE lake.repos ADD score DOUBLE;"
        "ALTER TABLE lake.repos RENAME COLUMN path TO file_path;"
        "ALTER TABLE lake.repos DROP COLUMN repo",
        offsets=[10, 20, 30],
    )
    reg = SchemaRegistry.from_history_rows(base, rows)
    assert [f.name for f in reg.schema_at(2).fields] == ["repo", "path", "score"]
    assert [f.name for f in reg.schema_at(3).fields] == [
        "repo", "file_path", "score",
    ]
    assert [f.name for f in reg.schema_at(4).fields] == ["file_path", "score"]
    assert reg.schema_at(2)["score"].dataType == T.DoubleType()


def test_engine_runs_from_parsed_ddl(spark, tmpdir_path):
    """schema_changes_frame(ddl) drives CdcEngine to the same final state as
    the structured schema_history fixture — raw captured DDL text is a
    complete substitute input (DdlParser.parse -> Tables, engine-side)."""
    import os

    from debezium_spark import CdcEngine, EngineConfig
    from debezium_spark.plans.ddl import schema_changes_frame
    from debezium_spark.sources import wal as W
    from tests import oracle

    spec = W.WalSpec(n_keys=80, n_events=400, seed=47)  # with schema changes
    wal_dir = os.path.join(tmpdir_path, "ddlwal")
    W.write_wal(spark, spec, wal_dir, n_files=4)
    sco = spec.schema_change_offsets()
    ddl = (
        "CREATE TABLE lake.repos (repo TEXT, path TEXT, \"commit\" TEXT,"
        " lang TEXT, content TEXT);"
        "ALTER TABLE lake.repos ADD COLUMN size_bytes INT;"
        "ALTER TABLE lake.repos ALTER COLUMN size_bytes TYPE BIGINT"
    )
    frames = {
        "ref": W.schema_history(spark, spec),
        "ddl": schema_changes_frame(
            spark, ddl, offsets=[sco[2], sco[3]], table_filter="lake.repos"
        ),
    }
    got = {}
    for name, sc in frames.items():
        eng = CdcEngine(
            spark, EngineConfig(),
            wal_path=wal_dir,
            target_path=os.path.join(tmpdir_path, f"t_{name}"),
            work_dir=os.path.join(tmpdir_path, f"w_{name}"),
            schema_changes=sc,
        )
        eng.run()
        got[name] = oracle.target_hashes(
            eng.target().read().select("repo", "path", "content", "size_bytes").toPandas()
        )
    assert got["ref"] == got["ddl"]
