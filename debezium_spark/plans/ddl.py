"""DDL-statement parser feeding the schema registry.

Reference surface: ``relational/ddl/DdlParser.java:18-42`` (``parse(ddl,
Tables)`` + current-schema resolution), ``DdlParserListener.java:35-47``
(event types CREATE/ALTER/DROP/TRUNCATE TABLE, USE/SET passthrough) and
``DdlChanges.java`` (events grouped per database, in statement order). The
connectors feed captured DDL strings through a parser to evolve the
in-memory relational model; here the same role is: raw DDL text ->
``SchemaChange``-compatible ``table_changes`` strings
(``plans/registry.py:13-16`` — ``create`` / ``add_column:<n>:<t>`` /
``widen:<n>:<t>`` / ``drop_column:<n>`` / ``rename_column:<o>:<n>``) that
``SchemaRegistry``/``LakeTable`` replay onto the lake.

Scope: the ANSI/MySQL/Postgres subset Debezium's own history records for a
captured table's evolution — CREATE TABLE with a column list (option clauses
after the balanced paren group ignored), ALTER TABLE ADD/DROP/RENAME/MODIFY/
CHANGE/ALTER COLUMN (one event per registry delta, like the reference's
per-action listener callbacks; MySQL CHANGE emits rename+widen), DROP/
TRUNCATE TABLE, USE and SET recognized-but-schema-neutral, plus the
shape-neutral statement/action families (indexes, constraints, grants,
views, triggers, storage options) passed through without deltas and a
``skip_unparseable`` knob for everything else. Parsing is driver-side pure Python — DDL
volume is O(schema changes), never O(data), so this is the one place a loop
beats a DataFrame at any scale.
"""

from __future__ import annotations

import json
import logging
import re
from dataclasses import dataclass

__all__ = ["DdlEvent", "parse_ddl", "history_rows_from_ddl", "sql_type_to_spark"]

_LOG = logging.getLogger(__name__)

# SQL type -> Spark DDL type (registry.parse_type consumes the right side).
# Sizes on character types are capture-metadata only (Spark strings are
# unbounded); numeric precision maps onto the engine's decimal convention.
_SQL_TYPES = {
    "int": "int", "integer": "int", "int4": "int", "mediumint": "int",
    "smallint": "smallint", "int2": "smallint", "tinyint": "tinyint",
    "bigint": "bigint", "int8": "bigint", "serial": "int",
    "bigserial": "bigint",
    "float": "float", "real": "float", "float4": "float",
    "double": "double", "float8": "double", "double precision": "double",
    "boolean": "boolean", "bool": "boolean", "bit": "boolean",
    "date": "date",
    "timestamp": "timestamp", "datetime": "timestamp",
    "timestamptz": "timestamp", "timestamp with time zone": "timestamp",
    "timestamp without time zone": "timestamp",
    "text": "string", "varchar": "string", "char": "string",
    "character": "string", "character varying": "string", "json": "string",
    "jsonb": "string", "uuid": "string", "xml": "string", "enum": "string",
    "longtext": "string", "mediumtext": "string", "tinytext": "string",
    "binary": "binary", "varbinary": "binary", "blob": "binary",
    "bytea": "binary", "longblob": "binary",
    "numeric": "decimal(38,18)", "decimal": "decimal(38,18)",
}

_COMMENT = re.compile(r"--[^\n]*|/\*.*?\*/", re.DOTALL)
_IDENT = r"(?:`[^`]+`|\"[^\"]+\"|\[[^\]]+\]|[A-Za-z_][\w$]*)"
_QUALIFIED = rf"{_IDENT}(?:\.{_IDENT})*"


def _unquote(ident: str) -> str:
    if ident and ident[0] in "`\"[":
        return ident[1:-1]
    return ident


def _norm_table(raw: str) -> str:
    return ".".join(_unquote(p) for p in re.findall(_IDENT, raw))


def sql_type_to_spark(sql_type: str) -> str:
    """'VARCHAR(255)' -> 'string', 'NUMERIC(10,2)' -> 'decimal(10,2)', ...
    Unknown types fall through verbatim (registry.parse_type accepts any
    Spark DDL type string, so 'array<int>' etc. just work)."""
    t = re.sub(r"\s+", " ", sql_type.strip().lower())
    m = re.match(r"^([a-z ]+?)\s*(?:\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\))?$", t)
    if not m:
        return t
    base, p, s = m.group(1).strip(), m.group(2), m.group(3)
    if base in ("numeric", "decimal", "dec") and p:
        return f"decimal({p},{s or 0})"
    return _SQL_TYPES.get(base, t)


@dataclass
class DdlEvent:
    """One listener event (DdlParserListener.java:49-90): the statement, the
    table it affects, and — for schema-shape changes — the registry delta."""

    event_type: str          # CREATE_TABLE | ALTER_TABLE | DROP_TABLE |
    #                          TRUNCATE_TABLE | USE_DATABASE | SET_VARIABLE
    table_id: str | None     # schema-qualified, unquoted
    table_changes: str | None  # registry delta, None for non-shape events
    statement: str           # the normalized single statement
    columns: list[tuple[str, str]] | None = None  # CREATE TABLE column list


_ADD = re.compile(
    rf"^add\s+(?:column\s+)?(?:if\s+not\s+exists\s+)?({_IDENT})\s+(.+?)"
    r"(?:\s+(?:not\s+null|null|default\s+.+|primary\s+key.*|unique.*|"
    r"comment\s+.+|first|after\s+.+))*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP = re.compile(
    rf"^drop\s+(?:column\s+)?(?:if\s+exists\s+)?({_IDENT})"
    r"(?:\s+(?:cascade|restrict))?$",
    re.IGNORECASE,
)
_RENAME = re.compile(
    rf"^rename\s+(?:column\s+)?({_IDENT})\s+to\s+({_IDENT})$", re.IGNORECASE
)
_CHANGE = re.compile(  # MySQL CHANGE [COLUMN] old new type [options]
    rf"^change\s+(?:column\s+)?({_IDENT})\s+({_IDENT})\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_MODIFY = re.compile(  # MySQL MODIFY col type | ANSI/PG ALTER col [SET DATA] TYPE t
    rf"^(?:modify\s+(?:column\s+)?({_IDENT})\s+(.+)"
    rf"|alter\s+(?:column\s+)?({_IDENT})\s+(?:set\s+data\s+)?type\s+(.+))$",
    re.IGNORECASE | re.DOTALL,
)
_DEFAULT = re.compile(
    r"\bdefault\s+('(?:[^']|'')*'|\"[^\"]*\"|[^\s,)]+)", re.IGNORECASE
)


def _parse_default_literal(action: str):
    """ADD COLUMN ... DEFAULT <literal> -> a JSON-encodable backfill value
    (relational/Column.defaultValue). Only STATIC literals qualify — quoted
    strings, numbers, booleans; NULL and function defaults (CURRENT_TIMESTAMP
    etc.) return None, because a non-literal default cannot be replayed as a
    backfill (the reference likewise resolves only parseable defaults via its
    DefaultValueConverters)."""
    m = _DEFAULT.search(action)
    if not m:
        return None
    t = m.group(1).strip()
    if len(t) >= 2 and t[0] == "'" and t[-1] == "'":
        return t[1:-1].replace("''", "'")
    if len(t) >= 2 and t[0] == '"' and t[-1] == '"':
        return t[1:-1]
    low = t.lower()
    if low in ("true", "false"):
        return low == "true"
    try:
        return int(t)
    except ValueError:
        try:
            return float(t)
        except ValueError:
            return None  # NULL / function / expression defaults: no backfill


def _balanced_group(s: str, open_idx: int) -> str | None:
    """Contents of the balanced paren group opening at ``open_idx`` (which
    must point at '('), honoring quotes; None when unbalanced."""
    depth, q = 0, None
    for i in range(open_idx, len(s)):
        ch = s[i]
        if q:
            if ch == q:
                q = None
        elif ch in "'\"`":
            q = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return s[open_idx + 1 : i]
    return None


def _split_top_level(s: str, sep: str) -> list[str]:
    """Split on ``sep`` outside parentheses and quotes."""
    parts, depth, cur, q = [], 0, [], None
    for ch in s:
        if q:
            if ch == q:
                q = None
        elif ch in "'\"`":
            q = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == sep and depth == 0:
            parts.append("".join(cur))
            cur = []
            continue
        cur.append(ch)
    parts.append("".join(cur))
    return [p.strip() for p in parts if p.strip()]


_CONSTRAINT_LEAD = re.compile(
    r"^(?:primary\s+key|foreign\s+key|unique|key|index|constraint|check|"
    r"period\s+for)\b",
    re.IGNORECASE,
)


def _parse_create_columns(body: str) -> list[tuple[str, str]]:
    cols = []
    for item in _split_top_level(body, ","):
        if _CONSTRAINT_LEAD.match(item):
            continue
        m = re.match(rf"^({_IDENT})\s+(.+)$", item, re.DOTALL)
        if not m:
            continue
        name, rest = _unquote(m.group(1)), m.group(2)
        # the type runs until the first constraint-ish keyword; `as\s*\(`
        # stops MySQL's bare generated-column form `v INT AS (id*2) STORED`
        # (MySqlParser.g4 generatedColumn) — without it the whole expression
        # rode into the type string ('int as (id*2) stored'), which recorded
        # fine but poisoned history REPLAY at registry.parse_type, the worst
        # failure timing for a history store. The base type is stored; the
        # generation expression is source-side metadata the lake never needs.
        tm = re.match(
            r"^(.+?)(?:\s+(?:not\s+null|null|default\b|primary\s+key|unique|"
            r"references\b|check\b|comment\b|auto_increment|generated\b|"
            r"as\s*\(|"
            r"collate\b|character\s+set\b).*)?$",
            rest,
            re.IGNORECASE | re.DOTALL,
        )
        cols.append((name, sql_type_to_spark(tm.group(1) if tm else rest)))
    return cols


# Statements a real binlog/WAL DDL stream carries that never change a
# captured table's SHAPE. The reference parses-and-ignores these (its
# listener has no shape callback for them) rather than erroring — see
# relational/history/DatabaseHistory.java:46 (`skip.unparseable.ddl` exists
# only for statements the parser can't even recognize).
_NEUTRAL_STMT = re.compile(
    r"^(?:"
    r"create\s+(?:unique\s+|fulltext\s+|spatial\s+)?index\b"
    r"|drop\s+index\b"
    r"|alter\s+index\b"
    r"|analyze\b|optimize\s+table\b|repair\s+table\b|vacuum\b"
    r"|grant\b|revoke\b|flush\b"
    r"|lock\s+tables?\b|unlock\s+tables?\b"
    r"|comment\s+on\b"
    r"|create\s+(?:or\s+replace\s+)?view\b|drop\s+view\b|alter\s+view\b"
    r"|create\s+(?:or\s+replace\s+)?(?:definer\s*=\s*\S+\s+)?trigger\b"
    r"|drop\s+trigger\b"
    r"|create\s+(?:database|schema)\b|drop\s+(?:database|schema)\b"
    r"|alter\s+(?:database|schema)\b"
    r"|begin\b|start\s+transaction\b|commit\b|rollback\b|savepoint\b"
    r")",
    re.IGNORECASE,
)

# MySQL table options (ALTER TABLE t ENGINE InnoDB ROW_FORMAT DYNAMIC ...).
_TABLE_OPTION = (
    r"(?:engine|auto_increment|comment|row_format|algorithm|lock|"
    r"tablespace|stats_persistent|checksum|delay_key_write|key_block_size|"
    r"(?:default\s+)?(?:character\s+set|charset|collate))\b"
)

# ALTER TABLE actions that touch indexes/constraints/storage, not columns —
# the registry's shape deltas (add/widen/drop/rename column) are unaffected,
# so these emit an ALTER_TABLE event with no table_changes. Checked BEFORE
# the ADD-column regex: 'ADD CONSTRAINT pk PRIMARY KEY (x)' would otherwise
# parse as a column named 'pk'.
_NEUTRAL_ACTION = re.compile(
    r"^(?:"
    r"add\s+(?:constraint\b|(?:unique\s+)?(?:index|key)\b|primary\s+key\b"
    r"|foreign\s+key\b|fulltext\b|spatial\b|check\b|unique\b|period\s+for\b)"
    # DROP INDEX/KEY/CHECK/CONSTRAINT are neutral only when followed by the
    # index/constraint NAME and not COLUMN — a bare `DROP key` (column named
    # `key`, unquoted) must fall through to the column-drop regex instead of
    # being silently classified neutral (the module's silent-skip corruption
    # class). PRIMARY KEY / FOREIGN KEY keep their bare forms (PRIMARY KEY
    # names no identifier; FOREIGN KEY always carries one).
    rf"|drop\s+(?:primary\s+key\b|foreign\s+key\b"
    rf"|constraint\s+(?:if\s+exists\s+)?{_IDENT}"
    rf"|(?:index|key|check)\s+(?!column\b){_IDENT})"
    r"|rename\s+(?:index|key)\b"
    r"|alter\s+(?:index|constraint)\b"
    r"|(?:enable|disable)\s+keys\b"
    r"|alter\s+(?:column\s+)?\S+\s+(?:set|drop)\s+(?:default\b|not\s+null\b)"
    r"|modify\s+(?:column\s+)?\S+\s+(?:set|drop)\s+default\b"
    r"|validate\s+constraint\b|owner\s+to\b|set\s+tablespace\b"
    r"|set\s*\(|reset\s*\(|force\b"
    # Partition maintenance (MySqlParser.g4 partitionDefinitions /
    # alterPartition): reshapes STORAGE layout, never the column set — the
    # exact family the reference parses-and-ignores for capture purposes.
    r"|partition\s+by\b|remove\s+partitioning\b"
    r"|(?:add|drop|truncate|coalesce|reorganize|rebuild|analyze|optimize"
    r"|check|repair|exchange|discard|import)\s+partition\b"
    # Table options are neutral only as assignments: require `=`, or a value
    # token that ends the action or is followed by another table option
    # (`ENGINE InnoDB ROW_FORMAT DYNAMIC`), so a shape action on a column
    # named e.g. `comment` cannot prefix-match its way to neutral.
    rf"|{_TABLE_OPTION}\s*(?:=|\s(?:'[^']*'|\S+)(?=\s*$|\s+{_TABLE_OPTION}))"
    r"|convert\s+to\s+character\s+set\b"
    r")",
    re.IGNORECASE,
)


def parse_ddl(ddl: str, *, skip_unparseable: bool = False) -> list[DdlEvent]:
    """Parse a DDL script into listener events, in statement order
    (DdlChanges.java groups and replays them the same way). One ALTER TABLE
    statement with several comma-separated actions emits one event per
    action, mirroring the reference's per-action callbacks.

    SHAPE-NEUTRAL statements (index/constraint/grant/analyze/view/trigger and
    the matching ALTER actions) are recognized and passed through with
    ``table_changes=None`` — the reference likewise parses-and-ignores DDL
    that doesn't change a captured table's relational shape, so a realistic
    binlog history (indexes interleaved with column changes) replays cleanly.

    Statements the parser can't even classify raise ``ValueError`` unless
    ``skip_unparseable`` is set (``database.history.skip.unparseable.ddl``,
    relational/history/DatabaseHistory.java:46), in which case they're logged
    and emitted as ``SKIPPED`` events — silently dropping a shape-changing
    statement would corrupt the registry's replayed history, so the skip is
    opt-in exactly as in the reference."""
    events: list[DdlEvent] = []
    clean = _COMMENT.sub(" ", ddl)
    for stmt in _split_top_level(clean, ";"):
        stmt = re.sub(r"\s+", " ", stmt).strip()
        if not stmt:
            continue
        low = stmt.lower()
        if low.startswith("use "):
            events.append(DdlEvent("USE_DATABASE", None, None, stmt))
            continue
        if low.startswith("set "):
            events.append(DdlEvent("SET_VARIABLE", None, None, stmt))
            continue
        if _NEUTRAL_STMT.match(stmt):
            events.append(DdlEvent("SCHEMA_NEUTRAL", None, None, stmt))
            continue
        m = re.match(
            rf"^create\s+table\s+(?:if\s+not\s+exists\s+)?({_QUALIFIED})\s*\(",
            stmt,
            re.IGNORECASE,
        )
        if m:
            # take the FIRST balanced paren group as the column list — a
            # greedy regex would swallow trailing option clauses that carry
            # their own parens (PARTITION BY ..., WITH (fillfactor=...))
            body = _balanced_group(stmt, m.end() - 1)
            if body is not None:
                events.append(
                    DdlEvent(
                        "CREATE_TABLE", _norm_table(m.group(1)), "create", stmt,
                        columns=_parse_create_columns(body),
                    )
                )
                continue
        m = re.match(
            rf"^drop\s+table\s+(?:if\s+exists\s+)?({_QUALIFIED})", stmt,
            re.IGNORECASE,
        )
        if m:
            events.append(DdlEvent("DROP_TABLE", _norm_table(m.group(1)), None, stmt))
            continue
        m = re.match(rf"^truncate\s+(?:table\s+)?({_QUALIFIED})", stmt, re.IGNORECASE)
        if m:
            events.append(
                DdlEvent("TRUNCATE_TABLE", _norm_table(m.group(1)), None, stmt)
            )
            continue
        m = re.match(
            rf"^alter\s+table\s+(?:only\s+)?({_QUALIFIED})\s+(.*)$", stmt,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            table = _norm_table(m.group(1))
            for action in _split_top_level(m.group(2), ","):
                if _NEUTRAL_ACTION.match(action):
                    events.append(DdlEvent("ALTER_TABLE", table, None, stmt))
                    continue
                am = _ADD.match(action)
                if am:
                    typ = sql_type_to_spark(
                        re.split(
                            r"\s+(?:(?:not\s+null|null|default|primary|unique|"
                            r"comment|first|after|generated|references|check|"
                            r"collate|character|auto_increment|constraint)\b|"
                            r"as\s*\()",
                            am.group(2),
                            maxsplit=1,
                            flags=re.IGNORECASE,
                        )[0]
                    )
                    change = f"add_column:{_unquote(am.group(1))}:{typ}"
                    default = _parse_default_literal(action)
                    if default is not None:
                        change += f":{json.dumps(default)}"
                elif (dm := _DROP.match(action)) is not None:
                    change = f"drop_column:{_unquote(dm.group(1))}"
                elif (rm := _RENAME.match(action)) is not None:
                    change = (
                        f"rename_column:{_unquote(rm.group(1))}:"
                        f"{_unquote(rm.group(2))}"
                    )
                elif (cm := _CHANGE.match(action)) is not None:
                    # MySQL CHANGE renames AND retypes in one action; emit
                    # one event per registry delta (rename, then widen),
                    # mirroring the reference's per-action callbacks. Same
                    # name -> pure retype, one widen event. NOTE: a pure
                    # rename written as `CHANGE old new SAMETYPE` still emits
                    # BOTH deltas (the stateless parser cannot know the prior
                    # type), so it consumes TWO slots in
                    # history_rows_from_ddl's offsets list and creates one
                    # extra same-type schema version on replay —
                    # LakeTable.widen_column is idempotent, so lake state is
                    # unaffected; replay consumers see a no-op version.
                    old_c, new_c = _unquote(cm.group(1)), _unquote(cm.group(2))
                    typ = sql_type_to_spark(
                        re.split(
                            r"\s+(?:(?:not\s+null|null|default|primary|unique|"
                            r"comment|first|after|generated|references|check|"
                            r"collate|character|auto_increment)\b|as\s*\()",
                            cm.group(3),
                            maxsplit=1,
                            flags=re.IGNORECASE,
                        )[0]
                    )
                    if old_c != new_c:
                        events.append(
                            DdlEvent(
                                "ALTER_TABLE", table,
                                f"rename_column:{old_c}:{new_c}", stmt,
                            )
                        )
                    change = f"widen:{new_c}:{typ}"
                elif (mm := _MODIFY.match(action)) is not None:
                    name = _unquote(mm.group(1) or mm.group(3))
                    typ = sql_type_to_spark(mm.group(2) or mm.group(4))
                    change = f"widen:{name}:{typ}"
                else:
                    if skip_unparseable:
                        _LOG.warning(
                            "skipping unparseable ALTER action %r in %r",
                            action, stmt,
                        )
                        events.append(DdlEvent("SKIPPED", table, None, stmt))
                        continue
                    raise ValueError(
                        f"unsupported ALTER TABLE action {action!r} in {stmt!r}"
                    )
                events.append(DdlEvent("ALTER_TABLE", table, change, stmt))
            continue
        if skip_unparseable:
            _LOG.warning("skipping unparseable DDL statement %r", stmt)
            events.append(DdlEvent("SKIPPED", None, None, stmt))
            continue
        raise ValueError(f"unsupported DDL statement {stmt!r}")
    return events


def history_rows_from_ddl(
    ddl: str, *, offsets: list[int], first_version: int = 2,
    table_filter: str | None = None, skip_unparseable: bool = False,
) -> list[dict]:
    """DDL script -> schema-history rows consumable by
    ``SchemaRegistry.from_history_rows`` / the engine's ``schema_changes``
    frame: ``{offset, version, ddl, table_changes}`` per SHAPE-changing event
    (CREATE TABLE events seed the base schema and are skipped — the registry's
    v1 IS the create; USE/SET/TRUNCATE are schema-neutral). ``offsets`` pins
    each emitted change at the WAL offset it took effect; versions number
    consecutively from ``first_version`` in statement order, exactly how the
    reference's history recovery replays (HistorizedRelationalDatabaseSchema)."""
    shape = [
        e for e in parse_ddl(ddl, skip_unparseable=skip_unparseable)
        if e.table_changes and e.table_changes != "create"
        and (table_filter is None or e.table_id == table_filter)
    ]
    if len(offsets) != len(shape):
        raise ValueError(
            f"{len(shape)} shape-changing DDL events but {len(offsets)} offsets"
        )
    return [
        {
            "offset": off,
            "version": first_version + i,
            "ddl": e.statement,
            "table_changes": e.table_changes,
        }
        for i, (e, off) in enumerate(zip(shape, offsets))
    ]


def schema_changes_frame(
    spark, ddl: str, *, offsets: list[int], first_version: int = 2,
    table_filter: str | None = None, skip_unparseable: bool = False,
):
    """Raw DDL -> the engine's ``schema_changes`` DataFrame (same shape as
    ``sources.wal.schema_history``: offset/version/ddl/table_changes, one row
    per shape-changing statement, plus the implicit v1 'create' row when the
    script contains the CREATE TABLE). Lets a user drive ``CdcEngine`` from
    the DDL text their source actually captured."""
    rows = [
        (r["offset"], r["version"], r["ddl"], r["table_changes"])
        for r in history_rows_from_ddl(
            ddl, offsets=offsets, first_version=first_version,
            table_filter=table_filter, skip_unparseable=skip_unparseable,
        )
    ]
    for e in parse_ddl(ddl, skip_unparseable=skip_unparseable):
        if e.table_changes == "create" and (
            table_filter is None or e.table_id == table_filter
        ):
            rows.insert(0, (0, 1, e.statement, "create"))
            break
    return spark.createDataFrame(
        rows, "offset bigint, version int, ddl string, table_changes string"
    )
