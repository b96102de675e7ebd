"""Versioned schema registry with MySQL-DDL replay.

The reference replays every binlog DDL against an in-memory MySQL
mirror (``schema/tracker.go:153-172`` via the embedded ddl-executor)
because ROW events carry only column positions; the tracker turns
positions into names/types. This module provides the same capability
Spark-side, with two deliberate design changes (SURVEY.md §7.4):

- **versioned, append-only**: DDL never mutates a TableDef in place;
  it produces a new ``schema_version``. Envelope rows are stamped with
  the version at decode time, so no drain barrier (reference C4) is
  needed — consumers resolve ``(db, table, version)`` at any time.
- **persistence = JSON snapshots** (the boltdb/MySQL storage of
  ``schema/storage_boltdb.go`` collapses to a file per registry).

The DDL dialect covered is the subset the reference's tests exercise
(``canal/canal_test.go:73-80,129``; ``dump/dump_test.go:72-88``) plus
the forms any MySQL 8 quickstart emits: CREATE TABLE, ALTER TABLE
ADD/DROP/MODIFY/CHANGE/RENAME COLUMN [FIRST|AFTER], parenthesized
multi-ADD, ADD/DROP PRIMARY KEY, IF [NOT] EXISTS variants, RENAME
[TO|AS] (mid-ALTER renames tombstone the old name and re-target the
remaining actions), RENAME TABLE, DROP TABLE, TRUNCATE. Unparseable
DDL raises ``DdlError`` and is dead-lettered by the pipeline
(reference C5's pause/repair loop).
"""

from __future__ import annotations

import json
import re
from dataclasses import asdict, dataclass, field
from pathlib import Path

from pyspark.sql import types as T


class DdlError(ValueError):
    """DDL could not be parsed/applied — dead-letter it (reference C5)."""


class SchemaDriftError(ValueError):
    """A row names a column its resolved TableDef lacks: the row was
    decoded under a newer schema than this registry holds."""


# MySQL type name → Spark type, per SURVEY.md §1.2 inventory
_TYPE_MAP: list[tuple[re.Pattern, object]] = [
    (re.compile(r"^tinyint\(1\)$"), T.BooleanType()),
    (re.compile(r"^tinyint"), T.ByteType()),
    (re.compile(r"^smallint"), T.ShortType()),
    (re.compile(r"^mediumint"), T.IntegerType()),
    (re.compile(r"^int\b|^int\(|^integer"), T.IntegerType()),
    (re.compile(r"^bigint"), T.LongType()),
    (re.compile(r"^float"), T.FloatType()),
    (re.compile(r"^double|^real"), T.DoubleType()),
    (re.compile(r"^decimal\((\d+),\s*(\d+)\)"), "decimal"),
    (re.compile(r"^decimal"), T.DecimalType(10, 0)),
    (re.compile(r"^datetime|^timestamp"), T.TimestampType()),
    (re.compile(r"^date$"), T.DateType()),
    (re.compile(r"^time\b"), T.StringType()),
    (re.compile(r"^year"), T.IntegerType()),
    (re.compile(r"^(var)?char|^(tiny|medium|long)?text|^enum|^set"), T.StringType()),
    (re.compile(r"^json"), T.StringType()),
    (re.compile(r"^(tiny|medium|long)?blob|^(var)?binary|^bit|^geometry"), T.BinaryType()),
]


def mysql_type_to_spark(type_str: str, unsigned: bool = False):
    t = type_str.strip().lower()
    for pat, spark_t in _TYPE_MAP:
        m = pat.match(t)
        if not m:
            continue
        if spark_t == "decimal":
            p, s = int(m.group(1)), int(m.group(2))
            return T.DecimalType(min(p, 38), min(s, 37))
        if unsigned:
            # unsigned re-widening (reference canal/rows.go:58-91):
            # decoded signed ints widen one step to hold the full range
            widen = {
                T.ByteType(): T.ShortType(),
                T.ShortType(): T.IntegerType(),
                T.IntegerType(): T.LongType(),
                T.LongType(): T.DecimalType(20, 0),
            }
            return widen.get(spark_t, spark_t)
        return spark_t
    return T.StringType()


@dataclass
class ColumnDef:
    name: str
    type: str  # raw MySQL type text, lowercased
    nullable: bool = True
    unsigned: bool = False
    key: str = ""  # PRI / UNI / MUL / ""
    charset: str = ""

    def spark_field(self) -> T.StructField:
        return T.StructField(self.name, mysql_type_to_spark(self.type, self.unsigned), self.nullable)


@dataclass
class TableDef:
    database: str
    name: str
    columns: list[ColumnDef] = field(default_factory=list)
    charset: str = ""

    def spark_schema(self) -> T.StructType:
        return T.StructType([c.spark_field() for c in self.columns])

    def primary_key(self) -> list[str]:
        return [c.name for c in self.columns if c.key == "PRI"]

    def column_names(self) -> list[str]:
        return [c.name for c in self.columns]


_IDENT = r"`?(\w+)`?"
_CREATE_RE = re.compile(
    rf"^\s*CREATE\s+(?:TEMPORARY\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(?:{_IDENT}\.)?{_IDENT}\s*(.*)$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+(?:{_IDENT}\.)?{_IDENT}\s+(.*)$", re.IGNORECASE | re.DOTALL
)
_DROP_RE = re.compile(
    rf"^\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?(?:{_IDENT}\.)?{_IDENT}", re.IGNORECASE
)
_TRUNCATE_RE = re.compile(rf"^\s*TRUNCATE\s+(?:TABLE\s+)?(?:{_IDENT}\.)?{_IDENT}", re.IGNORECASE)
_RENAME_RE = re.compile(
    rf"^\s*RENAME\s+TABLE\s+(?:{_IDENT}\.)?{_IDENT}\s+TO\s+(?:{_IDENT}\.)?{_IDENT}",
    re.IGNORECASE,
)
# ALTER action `RENAME [TO|AS] new_tbl` — must NOT match RENAME COLUMN/INDEX/KEY
_ALTER_RENAME_TBL_RE = re.compile(
    rf"^RENAME\s+(?:TO\s+|AS\s+)?(?!COLUMN\b|INDEX\b|KEY\b)(?:{_IDENT}\.)?{_IDENT}\s*$",
    re.IGNORECASE,
)

_DDL_PREFIXES = ("CREATE", "DROP", "ALTER", "RENAME", "TRUNCATE")
_DCL_PREFIXES = ("GRANT", "REVOKE", "FLUSH")


def normalize_statement(stmt: str) -> str:
    """Strip comments/whitespace (reference TrimStatement,
    ``canal/sync.go:388-398``)."""
    s = re.sub(r"/\*.*?\*/", " ", stmt, flags=re.DOTALL)
    s = re.sub(r"(^|\s)--[^\n]*", " ", s)
    s = re.sub(r"(^|\s)#[^\n]*", " ", s)
    return re.sub(r"\s+", " ", s).strip()


def is_ddl(stmt: str) -> bool:
    return normalize_statement(stmt).upper().startswith(_DDL_PREFIXES)


def is_ddl_or_dcl(stmt: str) -> bool:
    u = normalize_statement(stmt).upper()
    return u.startswith(_DDL_PREFIXES) or u.startswith(_DCL_PREFIXES)


def _find_balanced(s: str, start: int) -> int:
    """Index of the ``)`` matching the ``(`` at ``start`` (quote-aware).
    Needed because a CREATE body can be FOLLOWED by more parens —
    ``PARTITION BY RANGE (c) (PARTITION p0 VALUES LESS THAN (10))``,
    ``COMMENT='x (y)'`` — so a greedy match-to-last-paren is wrong."""
    depth, quote = 0, None
    for i in range(start, len(s)):
        ch = s[i]
        if quote:
            if ch == quote:
                quote = None
            continue
        if ch in "'\"`":
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return i
    raise DdlError(f"unbalanced parentheses in DDL: {s!r}")


def _split_top_level(s: str) -> list[str]:
    """Split on commas not inside parens/quotes."""
    parts, depth, buf, quote = [], 0, [], None
    for ch in s:
        if quote:
            buf.append(ch)
            if ch == quote:
                quote = None
            continue
        if ch in "'\"`":
            quote = ch
            buf.append(ch)
        elif ch == "(":
            depth += 1
            buf.append(ch)
        elif ch == ")":
            depth -= 1
            buf.append(ch)
        elif ch == "," and depth == 0:
            parts.append("".join(buf).strip())
            buf = []
        else:
            buf.append(ch)
    if buf:
        parts.append("".join(buf).strip())
    return parts


_COL_RE = re.compile(
    rf"^{_IDENT}\s+([a-zA-Z]+(?:\(\s*\d+(?:\s*,\s*\d+)?\s*\))?(?:\s*\([^)]*\))?)(.*)$",
    re.DOTALL,
)


def _parse_column(text: str) -> ColumnDef | None:
    up = text.upper()
    if up.startswith(
        ("PRIMARY KEY", "UNIQUE", "KEY", "INDEX", "CONSTRAINT", "FOREIGN",
         "FULLTEXT", "SPATIAL", "CHECK")
    ):
        return None
    m = _COL_RE.match(text.strip())
    if not m:
        raise DdlError(f"unparseable column definition: {text!r}")
    name, raw_type, raw_rest = m.group(1), m.group(2), m.group(3)
    # lowercase the type KEYWORD only — enum('Red','Blue') label case
    # is significant (the decode stage resolves wire indexes to these)
    paren = raw_type.find("(")
    type_str = (
        raw_type.lower()
        if paren < 0
        else raw_type[:paren].lower() + raw_type[paren:]
    )
    rest = raw_rest.upper()
    key = "PRI" if "PRIMARY KEY" in rest else ("UNI" if "UNIQUE" in rest else "")
    # CHARACTER SET / CHARSET / COLLATE column options (MySQL-8 dumps
    # emit these routinely); charset name kept in original case
    cs = re.search(r"(?:CHARACTER\s+SET|CHARSET)\s+(\w+)", raw_rest, re.IGNORECASE)
    charset = cs.group(1) if cs else ""
    # generated columns ([GENERATED ALWAYS] AS (expr) STORED/VIRTUAL)
    # keep their declared type; the expression itself is not tracked
    return ColumnDef(
        name=name,
        type=type_str.strip(),
        # inline PRIMARY KEY implies NOT NULL (MySQL semantics)
        nullable="NOT NULL" not in rest and key != "PRI",
        unsigned="UNSIGNED" in rest,
        key=key,
        charset=charset,
    )


class SchemaRegistry:
    """In-memory versioned (db, table) → TableDef history with JSON
    snapshot persistence. Thread-safety: single-writer (the decode
    path is a single ordered stream, like the reference's one-goroutine
    event loop); readers get immutable snapshots."""

    def __init__(self) -> None:
        self._versions: dict[tuple[str, str], list[tuple[int, TableDef | None]]] = {}
        self._version = 0
        self._applied: set[tuple[str, int]] = set()  # idempotence (tracker.go:116-119)

    # -- queries ---------------------------------------------------------
    @property
    def version(self) -> int:
        return self._version

    def get(self, db: str, table: str, version: int | None = None) -> TableDef | None:
        hist = self._versions.get((db, table))
        if not hist:
            return None
        if version is None:
            return hist[-1][1]
        best = None
        for v, td in hist:
            if v <= version:
                best = td
        return best

    def tables(self) -> list[tuple[str, str]]:
        return [k for k, hist in self._versions.items() if hist and hist[-1][1] is not None]

    # -- DDL replay ------------------------------------------------------
    def apply_ddl(self, stmt: str, default_db: str = "", position: tuple[str, int] | None = None) -> int:
        """Replay one DDL; returns the new registry version.

        ``position`` (log_name, log_pos) makes replay idempotent across
        restarts — a DDL already applied at that position is skipped
        (reference ``ExecAndPersist``, schema/tracker.go:110-150).
        """
        if position is not None:
            if position in self._applied:
                return self._version
            self._applied.add(position)
        stmt = normalize_statement(stmt)
        for one in filter(None, (s.strip() for s in stmt.split(";"))):
            self._apply_one(one, default_db)
        return self._version

    def _bump(self, db: str, table: str, td: TableDef | None) -> None:
        self._version += 1
        self._versions.setdefault((db, table), []).append((self._version, td))

    def _apply_one(self, stmt: str, default_db: str) -> None:
        if m := _CREATE_RE.match(stmt):
            db, name, rest = m.group(1) or default_db, m.group(2), m.group(3).strip()
            if not db:
                raise DdlError(f"CREATE without database: {stmt!r}")
            # CREATE TABLE new LIKE src — copy the source's shape
            if lk := re.match(
                rf"^\(?\s*LIKE\s+(?:{_IDENT}\.)?{_IDENT}\s*\)?\s*$", rest, re.IGNORECASE
            ):
                src = self.get(lk.group(1) or default_db or db, lk.group(2))
                if src is None:
                    raise DdlError(f"CREATE ... LIKE unknown table: {stmt!r}")
                self._bump(db, name, TableDef(
                    database=db, name=name,
                    columns=[ColumnDef(**asdict(c)) for c in src.columns],
                    charset=src.charset,
                ))
                return
            if not rest.startswith("("):
                # CREATE TABLE ... AS SELECT: shape depends on the query
                raise DdlError(f"CREATE TABLE without column list: {stmt!r}")
            end = _find_balanced(rest, 0)
            body, tail = rest[1:end], rest[end + 1 :]
            cols = []
            pk_cols: list[str] = []
            for part in _split_top_level(body):
                up = part.upper()
                if up.startswith("PRIMARY KEY"):
                    pk_cols += re.findall(r"\w+", part[part.index("(") + 1 : part.rindex(")")])
                    continue
                col = _parse_column(part)
                if col is not None:
                    cols.append(col)
            for c in cols:
                if c.name in pk_cols:
                    c.key = "PRI"
                    c.nullable = False
            # table-option tail: DEFAULT CHARSET; PARTITION BY /
            # ENGINE= / AUTO_INCREMENT= / COMMENT= are shape-neutral
            cm = re.search(
                r"(?:DEFAULT\s+)?(?:CHARSET|CHARACTER\s+SET)\s*=?\s*(\w+)",
                tail, re.IGNORECASE,
            )
            self._bump(db, name, TableDef(
                database=db, name=name, columns=cols,
                charset=cm.group(1) if cm else "",
            ))
        elif m := _ALTER_RE.match(stmt):
            db, name, actions = m.group(1) or default_db, m.group(2), m.group(3)
            td = self.get(db, name)
            if td is None:
                raise DdlError(f"ALTER on unknown table {db}.{name}")
            cols = [ColumnDef(**asdict(c)) for c in td.columns]
            # Table rename is handled HERE, not in _alter_action: the old
            # name must stay tombstoned (no trailing bump under it) and
            # any further actions in the same ALTER apply to the NEW name.
            for action in _split_top_level(actions):
                a = action.strip()
                if (m2 := _ALTER_RENAME_TBL_RE.match(a)) is not None:
                    self._bump(db, name, None)
                    db, name = m2.group(1) or db, m2.group(2)
                else:
                    cols = self._alter_action(cols, action, db, name)
            self._bump(db, name, TableDef(database=db, name=name, columns=cols, charset=td.charset))
        elif m := _RENAME_RE.match(stmt):
            odb, oname = m.group(1) or default_db, m.group(2)
            ndb, nname = m.group(3) or default_db, m.group(4)
            td = self.get(odb, oname)
            if td is None:
                raise DdlError(f"RENAME of unknown table {odb}.{oname}")
            self._bump(odb, oname, None)
            self._bump(ndb, nname, TableDef(database=ndb, name=nname, columns=td.columns))
        elif m := _DROP_RE.match(stmt):
            db, name = m.group(1) or default_db, m.group(2)
            self._bump(db, name, None)
        elif m := _TRUNCATE_RE.match(stmt):
            pass  # schema unchanged
        elif is_ddl_or_dcl(stmt):
            pass  # CREATE INDEX / GRANT / ... — no table-shape effect we track
        else:
            raise DdlError(f"not a DDL statement: {stmt!r}")

    def _alter_action(
        self, cols: list[ColumnDef], action: str, db: str, name: str
    ) -> list[ColumnDef]:
        a = action.strip()
        up = a.upper()
        names = [c.name for c in cols]

        def place(new: ColumnDef, tail: str) -> list[ColumnDef]:
            t = tail.strip()
            tu = t.upper()
            if tu.startswith("FIRST"):
                return [new] + cols
            if m2 := re.match(rf"AFTER\s+{_IDENT}", t, re.IGNORECASE):
                i = names.index(m2.group(1)) + 1
                return cols[:i] + [new] + cols[i:]
            return cols + [new]

        if up.startswith(("ADD COLUMN", "ADD ")):
            body = re.sub(r"^ADD(\s+COLUMN)?\s+", "", a, flags=re.IGNORECASE)
            body = re.sub(r"^IF\s+NOT\s+EXISTS\s+", "", body, flags=re.IGNORECASE)
            bu = body.upper()
            if bu.startswith("PRIMARY"):
                # ADD PRIMARY KEY (a, b): flag + NOT NULL the listed columns
                if "(" not in body:
                    return cols
                pk = re.findall(r"\w+", body[body.index("(") + 1 : body.rindex(")")])
                for c in cols:
                    if c.name in pk:
                        c.key = "PRI"
                        c.nullable = False
                return cols
            if bu.startswith(
                ("UNIQUE", "INDEX", "KEY", "CONSTRAINT", "FOREIGN",
                 "FULLTEXT", "SPATIAL", "CHECK", "PARTITION")
            ):
                return cols  # ADD INDEX/KEY/CHECK/PARTITION: shape-neutral
            if body.startswith("("):
                # ADD (a INT, b VARCHAR(10), ...): parenthesized multi-add
                out = list(cols)
                for part in _split_top_level(body[1:body.rindex(")")]):
                    col = _parse_column(part)
                    if col is None:
                        continue
                    if col.name in [c.name for c in out]:
                        raise DdlError(f"duplicate column {col.name} in {db}.{name}")
                    out.append(col)
                return out
            tail_m = re.search(r"\s+(FIRST|AFTER\s+`?\w+`?)\s*$", body, re.IGNORECASE)
            tail = tail_m.group(1) if tail_m else ""
            if tail_m:
                body = body[: tail_m.start()]
            col = _parse_column(body)
            if col is None:
                return cols
            if col.name in names:
                raise DdlError(f"duplicate column {col.name} in {db}.{name}")
            return place(col, tail)
        if up.startswith("DROP PRIMARY"):
            # PK dropped; columns keep NOT NULL (MySQL retains the attribute)
            for c in cols:
                if c.key == "PRI":
                    c.key = ""
            return cols
        if up.startswith("RENAME COLUMN"):
            m2 = re.match(rf"RENAME\s+COLUMN\s+{_IDENT}\s+TO\s+{_IDENT}", a, re.IGNORECASE)
            if not m2:
                raise DdlError(f"unparseable RENAME COLUMN: {action!r}")
            old, new = m2.group(1), m2.group(2)
            if old not in names:
                raise DdlError(f"RENAME COLUMN of unknown {old} in {db}.{name}")
            for c in cols:
                if c.name == old:
                    c.name = new
            return cols
        if up.startswith(("RENAME INDEX", "RENAME KEY")):
            return cols  # shape-neutral
        if up.startswith("DROP COLUMN") or (
            up.startswith("DROP ") and not up.startswith(
                ("DROP PRIMARY", "DROP INDEX", "DROP KEY", "DROP FOREIGN",
                 "DROP CONSTRAINT", "DROP CHECK", "DROP PARTITION")
            )
        ):
            m2 = re.match(
                rf"DROP(?:\s+COLUMN)?\s+(?:IF\s+EXISTS\s+)?{_IDENT}", a, re.IGNORECASE
            )
            if not m2:
                raise DdlError(f"unparseable DROP: {action!r}")
            return [c for c in cols if c.name != m2.group(1)]
        if up.startswith(("MODIFY COLUMN", "MODIFY ")):
            body = re.sub(r"^MODIFY(\s+COLUMN)?\s+", "", a, flags=re.IGNORECASE)
            tail_m = re.search(r"\s+(FIRST|AFTER\s+`?\w+`?)\s*$", body, re.IGNORECASE)
            tail = tail_m.group(1) if tail_m else ""
            if tail_m:
                body = body[: tail_m.start()]
            col = _parse_column(body)
            out = [c for c in cols if c.name != col.name]
            if tail:
                names_wo = [c.name for c in out]
                t = tail.strip()
                if t.upper().startswith("FIRST"):
                    return [col] + out
                i = names_wo.index(re.match(rf"AFTER\s+{_IDENT}", t, re.IGNORECASE).group(1)) + 1
                return out[:i] + [col] + out[i:]
            return [col if c.name == col.name else c for c in cols]
        if up.startswith(("CHANGE COLUMN", "CHANGE ")):
            body = re.sub(r"^CHANGE(\s+COLUMN)?\s+", "", a, flags=re.IGNORECASE)
            m2 = re.match(rf"{_IDENT}\s+(.*)$", body, re.DOTALL)
            old_name, rest = m2.group(1), m2.group(2)
            col = _parse_column(rest)
            return [col if c.name == old_name else c for c in cols]
        # ENGINE=/CHARSET=/AUTO_INCREMENT=/ADD INDEX … — shape-neutral
        # (table RENAME is routed in _apply_one, never reaches here)
        return cols

    # -- persistence -----------------------------------------------------
    def save(self, path: str | Path) -> None:
        Path(path).write_text(self.dumps())

    def dumps(self) -> str:
        """Snapshot as JSON text — the form shipped to executors in
        reader options (executor-side decode cannot read driver-local
        snapshot paths)."""
        data = {
            "version": self._version,
            "applied": sorted([list(p) for p in self._applied]),
            "tables": [
                {
                    "db": db,
                    "table": table,
                    "history": [
                        {"version": v, "def": asdict(td) if td else None} for v, td in hist
                    ],
                }
                for (db, table), hist in sorted(self._versions.items())
            ],
        }
        return json.dumps(data, indent=1)

    @classmethod
    def load(cls, path: str | Path) -> "SchemaRegistry":
        return cls.loads(Path(path).read_text())

    @classmethod
    def loads(cls, text: str) -> "SchemaRegistry":
        data = json.loads(text)
        reg = cls()
        reg._version = data["version"]
        reg._applied = {tuple(p) for p in data.get("applied", [])}
        for t in data["tables"]:
            hist = []
            for h in t["history"]:
                td = None
                if h["def"] is not None:
                    d = h["def"]
                    td = TableDef(
                        database=d["database"],
                        name=d["name"],
                        columns=[ColumnDef(**c) for c in d["columns"]],
                        charset=d.get("charset", ""),
                    )
                hist.append((h["version"], td))
            reg._versions[(t["db"], t["table"])] = hist
        return reg
