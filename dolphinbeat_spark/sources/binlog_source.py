"""MySQL binlog streaming source (reference S4/D1/D2/D5/D6).

Design (SURVEY.md §7.2 step 5): a Spark 4 Python Data Source over
ONE live transport, the in-repo replication client
(:mod:`dolphinbeat_spark.sources.repl_client`, the analog of the
reference's go-mysql syncer, ``canal/sync.go:46-67``). Readers reach
events only through a provider, ``provider(options) -> (factory,
latest)``: the native client (:data:`LIVE_PROVIDER`, the default),
recorded files (``binlog_file.binlog_file_provider``) or a scripted
stand-in (``binlog_fake``). Offsets are ``{file, pos, gtid_set,
server_id}`` — both coordinates are kept because GTID sets are only
partially ordered across server ids (reference C2 caveat,
``ckp/manager.go:161-165``).

Everything that doesn't need a live server — offset algebra,
event→envelope decoding, transaction framing, DDL classification — is
pure and unit-tested against fake event objects
(tests/test_binlog_decode.py); the native client is tested over a
loopback socket (tests/test_repl_client.py).

Scale note: one binlog is inherently a single ordered stream; the
source is single-reader (like the reference's one-goroutine loop,
``canal/sync.go:79``) with rate limiting via ``max_ops_per_batch``.
Past the single-reader decode ceiling, the SHARD-BY-TABLE option
(:func:`sharded_binlog_readers`, or ``shard_index``/``shard_count``
reader options) runs N readers over the same binlog, each decoding
only its crc32 shard of tables — per-table order intact, cross-shard
order traded away (contract documented on the function).
Past THAT, :class:`ArrowBinlogStreamReader` moves decode off the
driver entirely: full DataSourceStreamReader protocol, offset-only
planning on the driver, executor tasks decoding crc32 table shards
and handing the JVM Arrow RecordBatches instead of per-row tuples
(the discipline measured ~10× on the fixture twin,
sources/fixture_source.py::_read_arrow; measured 1.5× end-to-end on
the scripted fake at 4 shards, bench.py::binlog_decode_section).
Horizontal scale comes after decode: the envelope DataFrame fans out
to per-table/per-sink parallelism.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from datetime import timedelta as _timedelta

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from dolphinbeat_spark.envelope import ENVELOPE_SCHEMA
from dolphinbeat_spark.sources.binlog_file import ABSENT
from dolphinbeat_spark.schema.registry import (
    DdlError,
    SchemaDriftError,
    SchemaRegistry,
    is_ddl,
    normalize_statement,
)


@dataclass(frozen=True)
class BinlogOffset:
    """(file, pos) + gtid_set; comparable within one server_id."""

    file: str = ""
    pos: int = 0
    gtid_set: str = ""
    server_id: int = 0

    def to_json(self) -> dict:
        return {"file": self.file, "pos": self.pos, "gtid_set": self.gtid_set,
                "server_id": self.server_id}

    @classmethod
    def from_json(cls, d: dict) -> "BinlogOffset":
        return cls(d.get("file", ""), d.get("pos", 0), d.get("gtid_set", ""),
                   d.get("server_id", 0))

    def compare(self, other: "BinlogOffset") -> int:
        """Reference prog.Progress.Compare (canal/prog/progress.go:70-86):
        (file, pos) ordering; cross-server comparisons are undefined and
        raise — callers fall back to gtid/aligned progress."""
        if self.server_id and other.server_id and self.server_id != other.server_id:
            raise ValueError("offsets from different server_ids are not comparable")
        if (self.file, self.pos) < (other.file, other.pos):
            return -1
        if (self.file, self.pos) > (other.file, other.pos):
            return 1
        return 0

    def is_zero(self) -> bool:
        # "non-nil GTID set with empty string is zero" (progress_test.go)
        return not self.file and self.pos == 0 and not self.gtid_set


@dataclass
class DecodeContext:
    """Mutable per-stream decode state (the reference's master/gtid
    tracking, canal/sync.go:89-171): current file, pending gtid,
    transaction open flag, registry for schema versions.

    ``dead_letters`` collects DDL the registry could not replay
    (reference C5's failed-DDL queue, retried/exec'd via the HTTP
    control surface) — decode continues past them instead of pausing
    the stream (documented deviation: versioned registry + stamping
    makes a skipped DDL safe to apply late)."""

    registry: SchemaRegistry
    log_name: str = ""
    pending_gtid: str = ""
    #: group-commit logical clock of the pending transaction (MySQL
    #: 5.7+ GTID event; None on clock-less feeds) — stamped onto every
    #: op of the transaction so downstream parallel apply can group
    #: conflict-free transactions (canal/sync.go:144-145)
    pending_last_committed: int | None = None
    pending_sequence_number: int | None = None
    server_id: int = 0
    in_trx: bool = False
    #: optional (db, table) -> bool predicate; row events of rejected
    #: tables are dropped BEFORE stringify (the expensive step) — the
    #: hook the shard-by-table read option plugs into
    table_filter: object = None
    dead_letters: list = None

    def __post_init__(self) -> None:
        if self.dead_letters is None:
            self.dead_letters = []


def decode_event(ev: object, ctx: DecodeContext) -> list[dict]:
    """Pure event→envelope decoder (reference D1's dispatch switch).

    ``ev`` is the duck-typed shape :func:`adapt_replication_event`
    builds (kind, log_pos, rows, schema, table, query, ...) so tests
    can drive it with plain objects.
    """
    kind = getattr(ev, "kind", None)
    ts = int(getattr(ev, "timestamp", 0))
    log_pos = int(getattr(ev, "log_pos", 0))
    if kind == "gtid":
        # update the pending clock BEFORE stamping, so the gtid op and
        # everything through its commit carry the same values
        ctx.pending_gtid = ev.gtid
        ctx.pending_last_committed = getattr(ev, "last_committed", None)
        ctx.pending_sequence_number = getattr(ev, "sequence_number", None)
    base = dict(
        server_id=ctx.server_id,
        timestamp=ts,
        log_name=ctx.log_name,
        log_pos=log_pos,
        row_index=0,  # overridden per row image for multi-row events
        last_committed=ctx.pending_last_committed,
        sequence_number=ctx.pending_sequence_number,
    )
    if kind == "rotate":
        ctx.log_name = ev.next_binlog
        if getattr(ev, "apply_only", False):
            return []
        return [dict(op_type="rotate", next_log_name=ev.next_binlog,
                     next_log_pos=int(ev.position), **base)]
    if kind == "gtid":
        return [dict(op_type="gtid", gtid=ev.gtid, **base)]
    if kind == "query":
        # apply_only: schema-seeding replay below a seek offset (file
        # provider) — mutate decode state, emit nothing (those ops
        # already flowed when the position was first consumed)
        apply_only = bool(getattr(ev, "apply_only", False))
        stmt = normalize_statement(ev.query)
        if stmt.upper() == "BEGIN":
            ctx.in_trx = True
            return [] if apply_only else [dict(op_type="begin", **base)]
        if stmt.upper() == "COMMIT":
            ctx.in_trx = False
            return [] if apply_only else [dict(op_type="commit", gtid=ctx.pending_gtid, **base)]
        if is_ddl(stmt):
            try:
                version = ctx.registry.apply_ddl(
                    stmt, default_db=getattr(ev, "schema", ""), position=(ctx.log_name, log_pos)
                )
            except DdlError as ex:
                ctx.dead_letters.append(
                    dict(statement=stmt, db=getattr(ev, "schema", ""),
                         log_name=ctx.log_name, log_pos=log_pos, error=str(ex))
                )
                return [] if apply_only else [
                    dict(op_type="ddl_failed", db=getattr(ev, "schema", ""),
                         statement=stmt, schema_version=ctx.registry.version, **base)]
            return [] if apply_only else [
                dict(op_type="ddl", db=getattr(ev, "schema", ""), statement=stmt,
                     schema_version=version, **base)]
        # statement-based DML — surfaced as 'query' (the reference
        # silently drops these, F4; we keep them observable)
        return [] if apply_only else [dict(op_type="query", statement=stmt, **base)]
    if kind == "xid":
        ctx.in_trx = False
        return [dict(op_type="commit", gtid=ctx.pending_gtid, **base)]
    if kind in ("insert", "delete"):
        if ctx.table_filter and not ctx.table_filter(ev.schema, ev.table):
            return []
        img = "after" if kind == "insert" else "before"
        out = []
        td = ctx.registry.get(ev.schema, ev.table)
        names = td.column_names() if td else None
        _check_width(ev, names, ev.rows)
        json_cols = _json_columns(td)
        labels = _label_maps(td)
        for ri, row in enumerate(ev.rows):
            vals, nulls = _stringify(row, names, json_cols, labels)
            out.append(dict(op_type=kind, db=ev.schema, table=ev.table,
                            schema_version=ctx.registry.version,
                            **{img: vals, f"{img}_null": nulls},
                            **{**base, "row_index": ri}))
        return out
    if kind == "update":
        if ctx.table_filter and not ctx.table_filter(ev.schema, ev.table):
            return []
        out = []
        td = ctx.registry.get(ev.schema, ev.table)
        names = td.column_names() if td else None
        _check_width(ev, names, (img for pair in ev.rows for img in pair))
        json_cols = _json_columns(td)
        labels = _label_maps(td)
        for ri, (before_row, after_row) in enumerate(ev.rows):
            b, bn = _stringify(before_row, names, json_cols, labels)
            a, an = _stringify(after_row, names, json_cols, labels)
            out.append(dict(op_type="update", db=ev.schema, table=ev.table,
                            schema_version=ctx.registry.version,
                            before=b, before_null=bn, after=a, after_null=an,
                            **{**base, "row_index": ri}))
        return out
    return []


def _check_width(ev, names: list[str] | None, images) -> None:
    """Raise :class:`SchemaDriftError` when a positional row image is
    not as wide as the resolved TableDef: ``_stringify`` pairs the two
    by position, so a column added or dropped since the registry last
    saw the table would shift values under the wrong names. MINIMAL
    images stay full width (``ABSENT`` placeholders); named (dict)
    images carry their own names."""
    if names is None:
        return
    for row in images:
        if not isinstance(row, dict) and len(row) != len(names):
            raise SchemaDriftError(
                f"{ev.schema}.{ev.table}: a {ev.kind} row image has {len(row)} "
                f"columns, the registry's table has {len(names)} ({', '.join(names)})")


def _format_mysql_time(td: _timedelta) -> str:
    """MySQL TIME literal text: sign, zero-padded HH (unbounded past
    99), MM, SS, fractional microseconds only when present."""
    neg = td < _timedelta(0)
    a = -td if neg else td
    total = a.days * 86400 + a.seconds
    h, rem = divmod(total, 3600)
    m, s = divmod(rem, 60)
    out = f"{'-' if neg else ''}{h:02d}:{m:02d}:{s:02d}"
    if a.microseconds:
        out += f".{a.microseconds:06d}"
    return out


def _json_columns(td) -> set[str]:
    """Names of JSON-typed columns per the registry TableDef (empty
    when the table is unknown — values then pass through str())."""
    if td is None:
        return set()
    return {c.name for c in td.columns if c.type.startswith("json")}


def _parse_labels(type_text: str) -> list[str]:
    """Member labels out of an ``enum('a','b')`` / ``set('a','b')``
    type string. '' inside a label is MySQL's escaped quote; when
    NO_BACKSLASH_ESCAPES is off MySQL also emits backslash escapes
    (\\' \\\\), consumed here as literal next-char (ADVICE r7)."""
    labels: list[str] = []
    cur: list[str] = []
    in_q = False
    i = type_text.find("(") + 1
    n = len(type_text)
    while i < n:
        ch = type_text[i]
        if in_q:
            if ch == "\\" and i + 1 < n:
                cur.append(type_text[i + 1])
                i += 2
                continue
            if ch == "'":
                if i + 1 < n and type_text[i + 1] == "'":
                    cur.append("'")
                    i += 2
                    continue
                labels.append("".join(cur))
                cur, in_q = [], False
            else:
                cur.append(ch)
        elif ch == "'":
            in_q = True
        i += 1
    return labels


def _label_maps(td) -> dict | None:
    """name -> ("enum"|"set", labels) for ENUM/SET columns of a known
    table. The binlog wire carries the 1-based index (ENUM) / member
    bitmask (SET); the reference ships that raw number plus the
    TableDef and lets the CLIENT resolve it (sink/kafka/operation.go
    makeValue over go-mysql int64). We resolve engine-side instead —
    the registry already holds the labels. Unknown table → None →
    index passes through."""
    if td is None:
        return None
    out = {}
    for c in td.columns:
        if c.type.startswith("enum("):
            out[c.name] = ("enum", _parse_labels(c.type))
        elif c.type.startswith("set("):
            out[c.name] = ("set", _parse_labels(c.type))
    return out or None


def _render_label(kind_labels: tuple, v):
    kind, labels = kind_labels
    if not isinstance(v, int):
        return str(v)
    if kind == "enum":
        if v == 0:
            return ""  # MySQL's invalid/empty enum member
        if 1 <= v <= len(labels):
            return labels[v - 1]
        return str(v)
    # set
    if v >> len(labels):  # bit beyond the definition: unknown member
        return str(v)
    return ",".join(l for i, l in enumerate(labels) if v & (1 << i))


def _stringify(
    row,
    names: list[str] | None,
    json_cols: set[str] | None = None,
    label_maps: dict | None = None,
) -> tuple[dict, dict]:
    """Positional row → named stringly map + null map (reference D12
    stringifies every value and flags NULL separately,
    sink/kafka/operation.go:158-178).

    JSON columns (``json_cols``, from the registry's TableDef) carry
    JSON *text* on the wire like the reference's go-mysql-decoded
    values: raw binary-JSONB bytes are decoded (sources/mysql_jsonb),
    and dict/list values — the ``{"$json_diff": [...]}`` dict that
    ``binlog_file._read_json_diff`` yields for a PARTIAL_JSON update
    — are serialized compactly."""
    if isinstance(row, dict):
        items = row.items()
    else:
        names = names or [f"col_{i}" for i in range(len(row))]
        items = zip(names, row)

    def render(k, v):
        if k in (json_cols or ()):
            if isinstance(v, (bytes, bytearray)):
                from dolphinbeat_spark.sources.mysql_jsonb import decode_jsonb

                return decode_jsonb(v)
            if isinstance(v, (dict, list)):
                import json as _json

                return _json.dumps(v, separators=(",", ":"), ensure_ascii=False)
        if isinstance(v, (bytes, bytearray)):
            # blob/binary columns: the wire value is the RAW byte
            # string (the reference's go string(bytes)), not Python's
            # "b'...'" repr. Text blobs decode as UTF-8; binary blobs
            # fall back to latin-1, which maps bytes 1:1 to
            # U+0000-U+00FF — reversible via encode("latin-1") and,
            # unlike surrogateescape, always valid through Spark's
            # UTF-8 string boundary
            try:
                return bytes(v).decode("utf-8")
            except UnicodeDecodeError:
                return bytes(v).decode("latin-1")
        if isinstance(v, _timedelta):
            # TIME columns: MySQL text form ("-00:05:00.250000",
            # "838:59:59"), matching the reference's go-mysql string
            # values — str(timedelta) renders negatives as
            # "-1 day, 23:54:59.750000" and drops hour zero-padding
            return _format_mysql_time(v)
        return str(v)

    # single pass, common types inlined (str passes through, int takes
    # the direct str() path; everything non-trivial falls back to
    # render) — this is the per-row hot loop of the whole decode path,
    # measured ~2× over the two-dict-comp + render-per-value form
    jc = json_cols or ()
    lm = label_maps
    vals = {}
    nulls = {}
    for k, v in items:
        if v is ABSENT:
            # column omitted from the row image (binlog_row_image=
            # MINIMAL/NOBLOB): the server HAS a value, the log doesn't
            # carry it — omit the key from the wire maps (Debezium's
            # MINIMAL behavior), distinct from null
            continue
        if v is None:
            vals[k] = ""
            nulls[k] = True
        else:
            t = type(v)
            if k in jc:
                vals[k] = render(k, v)
            elif lm and k in lm:
                vals[k] = _render_label(lm[k], v)
            elif t is str:
                vals[k] = v
            elif t is int:
                vals[k] = str(v)
            else:
                vals[k] = render(k, v)
            nulls[k] = False
    return vals, nulls


def adapt_replication_event(raw: object) -> object | None:
    """Map a parsed binlog event object (the event classes of
    :mod:`dolphinbeat_spark.sources.binlog_file`, which both the native
    client and the file replay yield) to the duck-typed shape
    :func:`decode_event` consumes. Dispatch is by class NAME so unit
    tests drive it with plain fake classes (no live socket).

    Returns None for event types the engine ignores (format
    description, table map — the parser has already applied it to the
    rows that follow, heartbeats, ...).
    """
    from types import SimpleNamespace

    cls = type(raw).__name__
    ts = int(getattr(raw, "timestamp", 0) or 0)
    log_pos = int(
        getattr(getattr(raw, "packet", None), "log_pos", getattr(raw, "log_pos", 0)) or 0
    )
    base = dict(timestamp=ts, log_pos=log_pos)
    if cls in ("RotateEvent", "SeekRotateEvent"):
        nb = raw.next_binlog
        if isinstance(nb, bytes):
            nb = nb.decode()
        # SeekRotateEvent: a file replay naming the file its next
        # events come from — decode state only, no emission
        return SimpleNamespace(
            kind="rotate", next_binlog=nb, position=int(raw.position),
            apply_only=(cls == "SeekRotateEvent"), **base,
        )
    if cls in ("GtidEvent", "MariadbGtidEvent"):
        # MySQL 5.7+ logical clock when the event carries it (the
        # in-repo parser decodes it) — None otherwise, including MariaDB
        lc = getattr(raw, "last_committed", None)
        sn = getattr(raw, "sequence_number", None)
        return SimpleNamespace(
            kind="gtid", gtid=str(raw.gtid),
            last_committed=None if lc is None else int(lc),
            sequence_number=None if sn is None else int(sn),
            **base,
        )
    if cls in ("QueryEvent", "SchemaOnlyQueryEvent"):
        q = raw.query
        if isinstance(q, bytes):
            q = q.decode("utf-8", "replace")
        db = getattr(raw, "schema", b"") or b""
        if isinstance(db, bytes):
            db = db.decode("utf-8", "replace")
        # SchemaOnlyQueryEvent: a file-provider seek replaying head DDL
        # below the start offset — registry mutation only, no emission
        return SimpleNamespace(
            kind="query", query=q, schema=db,
            apply_only=(cls == "SchemaOnlyQueryEvent"), **base,
        )
    if cls == "XidEvent":
        return SimpleNamespace(kind="xid", xid=getattr(raw, "xid", 0), **base)
    if cls == "WriteRowsEvent":
        return SimpleNamespace(
            kind="insert", schema=raw.schema, table=raw.table,
            rows=[r["values"] for r in raw.rows], **base,
        )
    if cls == "DeleteRowsEvent":
        return SimpleNamespace(
            kind="delete", schema=raw.schema, table=raw.table,
            rows=[r["values"] for r in raw.rows], **base,
        )
    if cls == "UpdateRowsEvent":
        return SimpleNamespace(
            kind="update", schema=raw.schema, table=raw.table,
            rows=[(r["before_values"], r["after_values"]) for r in raw.rows], **base,
        )
    return None


def _row_tuple(op: dict) -> tuple:
    def conv(f, v):
        if v is None:
            return None
        if f.dataType.typeName() == "struct":
            return tuple(v[x.name] for x in f.dataType.fields)
        return v

    return tuple(conv(f, op.get(f.name)) for f in ENVELOPE_SCHEMA.fields)


class LiveBinlogStreamReader(SimpleDataSourceStreamReader):
    """Driver-side binlog reader: ``read(start) -> (rows, end)``.

    A binlog is ONE ordered TCP stream, so the simple-reader protocol
    (driver prefetch, Spark persists each batch to its WAL) is the
    correct fit — mirroring the reference's single-goroutine pull loop
    (``canal/sync.go:69-225``). Parallelism happens AFTER decode, in
    the envelope DataFrame.

    ``event_iter_factory(offset) -> iterator`` is injectable: tests
    drive the full offset/decode/replay protocol with fake event
    objects, and the file and scripted sources inject their provider's
    factory. Without one the reader uses the native client through
    :data:`LIVE_PROVIDER` (a non-blocking dump, so a drained stream
    ends the batch instead of hanging the trigger), and a cold start
    with no ``file``/``gtid_set`` starts from the master's current
    position.

    Replay (``readBetweenOffsets``) re-seeks a FRESH iterator at the
    start offset and drains to the end offset — binlogs are immutable
    logs, so re-reading a committed range is always possible while the
    server retains the file (the reference leans on the same property
    after restart, ``canal/sync.go:46-67``).
    """

    def __init__(self, options: dict, event_iter_factory=None, query_runner=None):
        self.options = dict(options)
        self.max_ops = int(options.get("max_ops_per_batch", "5120"))
        snap = options.get("schema_snapshot", "")
        registry = SchemaRegistry.load(snap) if snap else SchemaRegistry()
        table_filter = None
        if "shard_count" in options:
            # shard-by-table read option (SURVEY §7.2 step 5): this
            # reader instance decodes ONLY tables hashing to its shard
            # — see sharded_binlog_readers for the ordering contract
            idx = int(options.get("shard_index", "0"))
            n = int(options["shard_count"])
            table_filter = lambda db, tbl: shard_for_table(db, tbl, n) == idx  # noqa: E731
        self.ctx = DecodeContext(
            registry=registry,
            log_name=options.get("file", ""),
            server_id=int(options.get("server_id", "0")),
            table_filter=table_filter,
        )
        self._factory = event_iter_factory  # None: the native client
        self._native_pair = None  # its (factory, latest), built on first use
        self._runner = query_runner  # injected S5 probe
        self._iter = None
        self._pending_ops: list[dict] = []  # mid-trx drain rollback buffer

    def _native(self):
        if self._native_pair is None:
            from dolphinbeat_spark.sources.repl_client import native_live_provider

            self._native_pair = native_live_provider(self.options)
        return self._native_pair

    def _open(self, off: BinlogOffset):
        return (self._factory or self._native()[0])(off)

    # -- offsets ---------------------------------------------------------
    def initialOffset(self) -> dict:
        # no explicit start → probe the master's current position (S5),
        # matching the reference's start-from-now bootstrap
        if not self.options.get("file") and not self.options.get("gtid_set"):
            if self._runner is not None:
                return probe_master_offset(self._runner).to_json()
            if self._factory is None:
                return self._native()[1](self.options)
        return BinlogOffset(
            file=self.options.get("file", ""),
            pos=int(self.options.get("pos", "4")),
            gtid_set=self.options.get("gtid_set", ""),
            server_id=int(self.options.get("server_id", "0")),
        ).to_json()

    # -- pull loop -------------------------------------------------------
    # batch cuts happen only AFTER these ops: the offset is then a safe
    # restart point (the reference makes positions durable only at
    # XID/DDL boundaries too, canal/sync.go:122-171 — a cut inside a
    # transaction would strand pending_gtid/in_trx in a dead context)
    _SAFE_CUT_OPS = frozenset({"commit", "ddl", "ddl_failed", "rotate", "query"})

    def _decode_next(self, it, start: BinlogOffset, limit: int,
                     end: BinlogOffset | None = None, buffered: list | None = None):
        """Drain envelope rows from ``it`` until at least ``limit`` rows
        AND a transaction boundary (a transaction never splits across
        batches — one larger than the limit extends the batch to its
        commit); returns (rows, end_offset, leftover_ops).

        ``end`` (replay only) is a hard bound: ops whose offset would
        pass it are NOT emitted — a replayed batch must be byte-equal to
        the original even when the binlog has since grown.

        ``buffered`` ops (from a prior mid-transaction drain rollback)
        are re-emitted before pulling the iterator.

        If the iterator drains mid-transaction (non-blocking stream ran
        dry between BEGIN and COMMIT), the batch ROLLS BACK to the last
        safe-cut point: rows since it are returned as ``leftover_ops``
        for the next call, and the returned offset stays at the safe
        cut — a checkpointed offset must never point inside a
        transaction (a restart there loses pending_gtid/in_trx and the
        commit's gtid would silently drop from the gtid_set)."""
        rows: list[tuple] = []
        cur = start
        self.ctx.log_name = start.file or self.ctx.log_name
        at_safe_cut = True
        safe_len = 0
        safe_off = cur
        tail_ops: list[dict] = []  # ops since the last safe cut
        hit_end = False

        def emit(op: dict) -> None:
            nonlocal cur, at_safe_cut, safe_len, safe_off, hit_end
            op.setdefault("gtid", None)
            gset = cur.gtid_set
            if op["op_type"] == "commit" and op.get("gtid"):
                gset = _merge_gtid(gset, op["gtid"])
            nxt = BinlogOffset(
                file=self.ctx.log_name,
                pos=int(op.get("log_pos") or cur.pos),
                gtid_set=gset,
                server_id=cur.server_id or self.ctx.server_id,
            )
            if end is not None and nxt.compare(end) > 0:
                hit_end = True  # op lies beyond the replay range: drop
                return
            rows.append(_row_tuple(op))
            tail_ops.append(op)
            cur = nxt
            at_safe_cut = op["op_type"] in self._SAFE_CUT_OPS
            if at_safe_cut and not self.ctx.in_trx:
                safe_len, safe_off = len(rows), cur
                tail_ops.clear()
            if end is not None and cur.compare(end) >= 0:
                hit_end = True

        for op in list(buffered or ()):
            if hit_end:
                break
            emit(op)
        if not hit_end:
            for raw in it:
                ev = adapt_replication_event(raw)
                if ev is None:
                    continue
                for op in decode_event(ev, self.ctx):
                    emit(op)
                    if hit_end:
                        break
                if hit_end:
                    break
                if len(rows) >= limit and at_safe_cut and not self.ctx.in_trx:
                    break
        if not hit_end and (self.ctx.in_trx or not at_safe_cut):
            # iterator drained mid-transaction: roll back to the last
            # safe cut; the tail re-emits on the next read
            leftover = list(tail_ops)
            return rows[:safe_len], safe_off, leftover
        return rows, cur, []

    def read(self, start: dict):
        off = BinlogOffset.from_json(start)
        if self._iter is None:
            self._iter = self._open(off)
        rows, end, self._pending_ops = self._decode_next(
            self._iter, off, self.max_ops, buffered=self._pending_ops
        )
        return iter(rows), end.to_json()

    def readBetweenOffsets(self, start: dict, end: dict):
        """Replay a committed-but-lost range: fresh seek at ``start``,
        drain until ``end`` is reached (binlog files are immutable).
        ``end`` is passed down as a hard bound so the replay never
        overshoots into rows the next live batch will also read."""
        s, e = BinlogOffset.from_json(start), BinlogOffset.from_json(end)
        it = self._open(s)
        try:
            rows: list[tuple] = []
            cur = s
            ctx_save = self.ctx
            # replay decodes against a scratch context seeded the same
            # way so the live context's registry versioning is untouched
            self.ctx = DecodeContext(
                registry=ctx_save.registry, log_name=s.file, server_id=ctx_save.server_id
            )
            try:
                # leftover ops from a mid-transaction drain rollback were
                # already consumed from the iterator — thread them into
                # the next call (like read() does with _pending_ops) or
                # the replay would silently return fewer rows than the
                # committed range
                leftover: list[dict] = []
                while cur.compare(e) < 0:
                    prev = cur
                    got, cur, leftover = self._decode_next(
                        it, cur, self.max_ops, end=e, buffered=leftover
                    )
                    rows.extend(got)
                    if not got and cur.compare(prev) == 0:
                        break  # no progress: iterator drained
            finally:
                self.ctx = ctx_save
            return iter(rows)
        finally:
            close = getattr(it, "close", None)
            if close:
                close()

    def commit(self, end: dict) -> None:
        pass  # offsets live in Spark's checkpoint; nothing to ack server-side

    def stop(self) -> None:
        close = getattr(self._iter, "close", None)
        if close:
            close()


def shard_for_table(db: str, table: str, n_shards: int) -> int:
    """Deterministic, process-stable shard of a (db, table) — crc32,
    never Python ``hash()`` (seed-randomized per process, which would
    scatter a table across shards on restart)."""
    import zlib

    return zlib.crc32(f"{db}.{table}".encode()) % n_shards


def sharded_binlog_readers(
    options: dict, n_shards: int, event_iter_factory=None, query_runner=None
) -> list["LiveBinlogStreamReader"]:
    """Shard-by-table read option: N readers over the SAME binlog, each
    decoding only the tables that hash to its shard (the classic way
    past the single-reader throughput ceiling documented in the module
    docstring — MySQL serves any number of replication clients, and
    each reader skips the expensive row-stringify for foreign tables,
    so per-reader decode cost is ~1/N of the row volume plus the cheap
    shared framing).

    ORDERING CONTRACT (what sharding trades away):

    - WITHIN a table: total order preserved — a table lives in exactly
      one shard, whose reader sees the binlog in order. This is the
      order CDC consumers need (apply_changes keys on the row).
    - Control ops (begin/commit/gtid/ddl/rotate) appear in EVERY
      shard's stream with identical coordinates: each shard tracks its
      own complete offset/gtid progress and schema registry, so any
      shard alone can resume, and transaction boundaries remain
      visible per shard.
    - ACROSS tables in different shards: no order guarantee — shard
      streams progress independently (one may lag). Consumers needing
      cross-table transactional atomicity must align shards on gtid
      (each commit carries it) or use the single-reader path; this is
      the same trade the reference's single-threaded design avoids by
      not scaling (canal/sync.go:79).

    Each reader is an independent streaming source with its own
    checkpoint; `parity`: the union of all shards' row ops equals the
    single reader's row ops exactly (tests/test_binlog_live_reader.py).
    """
    readers = []
    for i in range(n_shards):
        opts = {**options, "shard_index": str(i), "shard_count": str(n_shards)}
        readers.append(
            LiveBinlogStreamReader(
                opts, event_iter_factory=event_iter_factory, query_runner=query_runner
            )
        )
    return readers


def probe_master_offset(run_query) -> BinlogOffset:
    """S5 live probe: current master position + executed gtid set +
    server id (reference ``canal/canal.go`` GetMasterPos /
    GetMasterGTIDSet, polled by the master-position monitor).

    ``run_query(sql) -> list[tuple]`` is injectable: the native client
    (``repl_client.native_query_runner``), a one-row ``spark.read.jdbc``,
    or a fake in tests. MySQL 8.0.22+ renamed the statement; the fallback
    keeps older servers working."""
    try:
        rows = run_query("SHOW BINARY LOG STATUS")  # MySQL >= 8.4 name
    except Exception:  # noqa: BLE001 - older servers
        rows = run_query("SHOW MASTER STATUS")
    file, pos = (str(rows[0][0]), int(rows[0][1])) if rows else ("", 4)
    gtid_rows = run_query("SELECT @@GLOBAL.GTID_EXECUTED")
    gtid = str(gtid_rows[0][0] or "") if gtid_rows else ""
    sid_rows = run_query("SELECT @@server_id")
    server_id = int(sid_rows[0][0]) if sid_rows else 0
    return BinlogOffset(file=file, pos=pos, gtid_set=gtid.replace("\n", ""), server_id=server_id)


def probe_binary_logs(run_query) -> list[tuple[str, int]]:
    """S5: retained binlog files (name, size). Used to validate that a
    checkpointed offset is still resumable — an offset whose file fell
    off the retention window needs a fresh snapshot, not a resume."""
    return [(str(r[0]), int(r[1])) for r in run_query("SHOW BINARY LOGS")]


def offset_is_resumable(offset: BinlogOffset, run_query) -> bool:
    """A checkpointed offset resumes iff its file is still retained."""
    if offset.is_zero():
        return False
    return any(name == offset.file for name, _ in probe_binary_logs(run_query))


#: MariaDB GTID: domain-server-seq, no colon (canal/gtid.go:21-25 parses
#: these via ParseMariadbGTIDSet; a MariaDB SET holds ONE current
#: position per replication domain, not intervals)
_MARIADB_GTID_RE = re.compile(r"^(\d+)-(\d+)-(\d+)$")


class _GtidSetParts:
    """Both GTID dialects parsed out of one set string: MySQL
    ``uuid:interval[:interval...]`` parts as merged interval lists,
    MariaDB ``domain-server-seq`` parts as one (server, seq) per
    domain, anything else carried verbatim as opaque."""

    def __init__(self, *strings: str) -> None:
        self.order: list[str] = []
        self.intervals: dict[str, list[list[int]]] = {}
        self.maria_order: list[int] = []
        self.maria: dict[int, tuple[int, int]] = {}  # domain -> (server, seq)
        self.opaque: list[str] = []
        for s in strings:
            for part in filter(None, (s or "").split(",")):
                self.add(part)

    def add(self, part: str) -> None:
        if m := _MARIADB_GTID_RE.match(part):
            d, s, n = (int(g) for g in m.groups())
            if d not in self.maria:
                self.maria_order.append(d)
                self.maria[d] = (s, n)
            elif n > self.maria[d][1]:
                # the domain's position advances to the newest seq
                # (MariaDB gtid_slave_pos semantics: one current
                # position per domain, not an interval history)
                self.maria[d] = (s, n)
            return
        try:
            uuid, *ivs = part.split(":")
            if not ivs:
                raise ValueError(part)
            parsed = []
            for iv in ivs:
                lo, _, hi = iv.partition("-")
                parsed.append([int(lo), int(hi or lo)])
        except (ValueError, TypeError):
            if part not in self.opaque:
                self.opaque.append(part)
            return
        if uuid not in self.intervals:
            self.intervals[uuid] = []
            self.order.append(uuid)
        self.intervals[uuid].extend(parsed)

    def merged_intervals(self, uuid: str) -> list[list[int]]:
        merged: list[list[int]] = []
        for lo, hi in sorted(self.intervals[uuid]):
            if merged and lo <= merged[-1][1] + 1:
                merged[-1][1] = max(merged[-1][1], hi)
            else:
                merged.append([lo, hi])
        return merged

    def canonical(self) -> str:
        out = []
        for uuid in self.order:
            out.append(uuid + "".join(
                f":{lo}-{hi}" if hi > lo else f":{lo}"
                for lo, hi in self.merged_intervals(uuid)
            ))
        for d in self.maria_order:
            s, n = self.maria[d]
            out.append(f"{d}-{s}-{n}")
        return ",".join(out + self.opaque)


def _merge_gtid(gset: str, gtid: str) -> str:
    """Fold a committed GTID into the running set, kept canonical and
    bounded for BOTH dialects the reference's syncer handles
    (canal/sync.go:132-153 branches on MariadbGTIDEvent vs GTIDEvent):

    - MySQL ``uuid:txid``: interval form (``uuid:1-3:7``) — contiguous
      txids compact (``:7`` + ``:8`` → ``:7-8``), so a checkpointed
      offset stays O(#uuids + #gaps) over an unbounded stream and the
      string is directly usable as ``auto_position`` on reconnect.
    - MariaDB ``domain-server-seq`` (canal/gtid.go:21-25): one current
      position per domain, newest seq wins — O(#domains), directly
      usable as a ``slave_pos`` start value.

    Parts in neither form are opaque: carried verbatim and
    deduplicated, while the parseable parts around them still compact —
    one unparseable part must not abandon compaction for the whole set
    (the set would then grow unboundedly again)."""
    if not gtid:
        return gset
    return _GtidSetParts(gset, gtid).canonical()


def gtid_set_covers(a: str, b: str) -> bool:
    """True iff set ``a`` contains everything in ``b`` — the gtid-based
    progress comparison (the reference compares GTIDSets for resume
    decisions where file/pos is incomparable, e.g. after failover,
    ckp/manager.go:161-165). MySQL parts compare by interval
    containment; MariaDB parts by per-domain seq (a covers b's domain
    iff a's seq >= b's). Opaque parts compare only by equality —
    an opaque part of ``b`` must appear verbatim in ``a``."""
    pa, pb = _GtidSetParts(a), _GtidSetParts(b)
    for uuid in pb.order:
        if uuid not in pa.intervals:
            return False
        mine = pa.merged_intervals(uuid)
        for lo, hi in pb.merged_intervals(uuid):
            if not any(mlo <= lo and hi <= mhi for mlo, mhi in mine):
                return False
    for d in pb.maria_order:
        if d not in pa.maria or pa.maria[d][1] < pb.maria[d][1]:
            return False
    return all(p in pa.opaque for p in pb.opaque)


class _ShardRangePartition(InputPartition):
    """One executor task of an Arrow binlog batch: a fixed offset range
    plus the table shard this task decodes."""

    def __init__(self, start: dict, end: dict, shard_index: int, shard_count: int):
        self.start = start
        self.end = end
        self.shard_index = shard_index
        self.shard_count = shard_count


#: the one live transport: the native replication client. An Arrow
#: reader with no ``provider`` option uses it, and so does a simple
#: reader with no injected factory
LIVE_PROVIDER = "dolphinbeat_spark.sources.repl_client:native_live_provider"


def _resolve_provider(options: dict):
    """``options['provider']`` (``pkg.module:callable``, default
    :data:`LIVE_PROVIDER`) → the callable (importable on executors,
    which is why providers are passed by reference, not by pickle)."""
    ref = options.get("provider") or LIVE_PROVIDER
    mod, _, fn = ref.partition(":")
    if not mod or not fn:
        raise ValueError(f"provider must be 'module:callable', got {ref!r}")
    import importlib

    return getattr(importlib.import_module(mod), fn)


_ROW_OPS = frozenset({"insert", "update", "delete"})
_ROWS_EVENT_CLASSES = frozenset(
    {"WriteRowsEvent", "DeleteRowsEvent", "UpdateRowsEvent"}
)


def _read_shard_arrow(options: dict, partition: _ShardRangePartition, batch_rows: int):
    """Executor-side decode of one (offset range, table shard) into
    pyarrow RecordBatches — the Arrow handoff discipline measured ~10×
    faster than per-row tuples on the fixture source."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    start = BinlogOffset.from_json(partition.start)
    end = BinlogOffset.from_json(partition.end)
    # the task's shard_index reaches the provider: the native client
    # registers each concurrent shard task under its own replica id
    factory, _latest = _resolve_provider(options)(
        {**options, "shard_index": str(partition.shard_index)}
    )
    # the snapshot ships as JSON TEXT in the options (executors cannot
    # read a driver-local snapshot path); the path form stays for
    # driver-side callers and same-machine tests
    snap_json = options.get("schema_snapshot_json", "")
    snap = options.get("schema_snapshot", "")
    if snap_json:
        registry = SchemaRegistry.loads(snap_json)
    elif snap:
        registry = SchemaRegistry.load(snap)
    else:
        registry = SchemaRegistry()
    table_filter = None
    if partition.shard_count > 1:
        table_filter = (
            lambda db, tbl: shard_for_table(db, tbl, partition.shard_count)
            == partition.shard_index
        )
    ctx = DecodeContext(
        registry=registry,
        log_name=start.file,
        server_id=start.server_id or int(options.get("server_id", "0")),
        table_filter=table_filter,
    )
    schema = to_arrow_schema(ENVELOPE_SCHEMA)
    # COLUMNAR flush: buffer the decoded op dicts and build each field's
    # column as ONE C-level list comprehension at flush time, handing
    # pyarrow per-field pa.array calls. Beats both earlier forms — the
    # dict-per-row from_pylist (re-built every op as a second dict and
    # paid per-row struct inference, ~8×) and the per-op append loop
    # (18 Python-level appends per op, ~4× on the column-build step:
    # 0.23 s → 0.06 s per 90 k ops)
    names = [f.name for f in ENVELOPE_SCHEMA.fields]
    types = [schema.field(i).type for i in range(len(names))]
    buf: list[dict] = []

    def batches():
        arrs = [
            pa.array([op.get(n) for op in buf], type=t)
            for n, t in zip(names, types)
        ]
        yield pa.RecordBatch.from_arrays(arrs, schema=schema)

    it = factory(start)
    cur_pos = start.pos
    done = False
    # range checks run per EVENT and per OP: inline (file, pos) tuple
    # compares instead of constructing a BinlogOffset dataclass each
    # time (same ordering — both sides carry end.server_id, so
    # compare() could never hit its cross-server raise; measured ~0.15 s
    # per 90 k-op shard task saved)
    bounded = not end.is_zero()
    end_key = (end.file, end.pos)
    # shard pre-filter: a rows event of another shard's table would be
    # adapted (per-row list/namespace allocation) and then dropped by
    # ctx.table_filter before stringify — skip it BEFORE adapt instead.
    # With N shards each task scans the whole range, so (N−1)/N of all
    # row events hit this line: it is the sharded scan's hottest skip
    tf = table_filter
    try:
        for raw in it:
            if done:
                break
            if (
                tf is not None
                and type(raw).__name__ in _ROWS_EVENT_CLASSES
                and not tf(raw.schema, raw.table)
            ):
                continue
            ev = adapt_replication_event(raw)
            if ev is None:
                continue
            lp = int(getattr(ev, "log_pos", 0) or 0)
            if lp and bounded:
                if (ctx.log_name or start.file, lp) > end_key:
                    break  # beyond this batch's range: belongs to the next one
            for op in decode_event(ev, ctx):
                # post-decode guard, mirroring the simple reader's
                # emit(): an op lies at (its own log_name, its log_pos)
                # — for a rotate that is the file it ENDS, not the one
                # it flips ctx.log_name to. An artificial rotate (log_pos
                # 0: a dump thread opening a file) lies at the head of
                # the file it names
                cur_pos = int(op.get("log_pos") or cur_pos)
                if bounded:
                    at = (op["log_name"] or start.file, cur_pos)
                    if not op["log_pos"] and op["op_type"] == "rotate":
                        at = (op["next_log_name"], op["next_log_pos"])
                    if at > end_key:
                        done = True
                        break
                # shard 0 carries the control ops (begin/commit/gtid/ddl/
                # rotate/query) exactly once; other shards emit only their
                # row ops — DDL is still APPLIED to every shard's registry
                # (decode needs the schema), just not re-emitted
                if partition.shard_index != 0 and op["op_type"] not in _ROW_OPS:
                    continue
                buf.append(op)
                if len(buf) >= batch_rows:
                    yield from batches()
                    buf.clear()
            if bounded and end.file and ctx.log_name > end.file:
                break  # the stream moved past the range's last file
        if buf:
            yield from batches()
    finally:
        # a live iterator is a socket + registered replica: release it
        # or worker-process reuse leaks one connection per micro-batch
        close = getattr(it, "close", None)
        if close:
            close()


class ArrowBinlogStreamReader(DataSourceStreamReader):
    """High-throughput form of the binlog source: executor-side Arrow
    decode behind the full ``DataSourceStreamReader`` protocol.

    The driver-side :class:`LiveBinlogStreamReader` (the reference's
    single-goroutine shape, canal/sync.go:79) decodes every event in
    one process; past that ceiling THIS reader moves decode off the
    driver entirely:

    - the driver only plans offsets: ``latestOffset`` probes the
      master (S5 SHOW-status probe — cheap SQL, zero event decode);
    - ``partitions(start, end)`` splits the fixed range into
      ``shard_count`` table shards (crc32, same contract as
      :func:`sharded_binlog_readers`) — or, for the file source
      (``binlog_file_path``) with one shard, into one sub-range per
      archived file the range covers (files decode independently: a
      task seeks its file and replays only the schema history before
      it);
    - each executor task opens its OWN replication iterator at
      ``start`` (providers are module-path references so construction
      happens executor-side; no ``provider`` option means the native
      client, :data:`LIVE_PROVIDER`, where each shard task registers
      its own replica id), decodes only its shard's tables, and yields
      pyarrow RecordBatches.

    Contracts and trades, explicit:

    - per-table order preserved; cross-shard interleaving undefined
      (the shard-by-table trade). Control ops ship on shard 0 only.
      A file batch split per file keeps its total order across tasks
      — (log_name, log_pos) never ties between files — and each task
      emits its own file's control ops, tail rotate included.
    - a batch is a FIXED [start, end) coordinate range over an
      immutable log, so failure replay re-decodes byte-identically —
      the property the simple reader's ``readBetweenOffsets`` uses.
    - offsets carry (file, pos) only; gtid tracking in this mode rides
      the envelope rows (commit ops carry gtid), because executor-side
      decode cannot feed merged gtid_sets back into driver offsets.
    - schema tracking is snapshot-based: every batch's tasks rebuild
      the registry from the shipped snapshot and apply only the DDL
      inside their OWN range — DDL decoded in an earlier batch is not
      visible later unless the snapshot is refreshed out-of-band.
      Deployments with active DDL should refresh the tracker snapshot
      between batches or use the simple reader (whose one registry
      lives across batches). The file source is the exception: its
      tasks replay the DDL recorded before their range, so every
      batch sees the whole schema history.
    - the range boundary is the master's probed position, which can
      fall mid-transaction. Each batch decodes with a FRESH context,
      so a commit whose GTID event landed in the PREVIOUS batch is
      emitted with a NULL gtid — consumers needing complete gtid
      framing should frame on (log_name, log_pos) ranges or use the
      simple reader, whose safe-cut rollback never splits a
      transaction. This is the documented price of stateless
      executor-side decode.
    - admission control: ``max_pos_delta_per_batch`` (bytes, default
      64 MiB) clamps how far ``latestOffset`` advances past the
      previous planned end within one file — steady-state batches stay
      bounded. Recorded and scripted logs only: a live master is never
      clamped (see ``latestOffset``). The clamp cannot see the
      checkpointed start after a driver restart (Spark does not
      surface it), so the FIRST batch after long downtime still spans
      the backlog; RecordBatches stream incrementally
      (``arrow_batch_rows`` rows buffered per task), bounding memory
      but not task duration for that batch.
    """

    def __init__(self, options: dict):
        from dolphinbeat_spark.sources.repl_client import native_live_provider

        self.options = dict(options)
        self.shard_count = max(1, int(options.get("shard_count", "1")))
        self.batch_rows = int(options.get("arrow_batch_rows", "4096"))
        self.max_pos_delta = int(
            options.get("max_pos_delta_per_batch", str(64 * 1024 * 1024))
        )
        self._planned_end: BinlogOffset | None = None  # driver-side clamp state
        # the live-only rules (start from now, never clamp) apply to
        # the native client alone — never keyed on ``host``: a file
        # reader configured with a master address still replays from 4
        self._live = _resolve_provider(self.options) is native_live_provider
        self._provider_pair = None  # (factory, latest), resolved on first use

    def _provider(self):
        """The resolved ``(factory, latest)`` pair, reused across calls:
        factories are stateless closures, and ``latest`` re-probes its
        head on every call."""
        if self._provider_pair is None:
            self._provider_pair = _resolve_provider(self.options)(self.options)
        return self._provider_pair

    def __getstate__(self):
        # the reader ships to executors for read(); the resolved
        # closures are not picklable — executors resolve the provider
        # themselves inside _read_shard_arrow
        return {**self.__dict__, "_provider_pair": None}

    def initialOffset(self) -> dict:
        # start-from-now bootstrap: with no explicit coordinates the
        # master is probed ONCE here, so every shard task of the first
        # batch reads the same replayable range (N tasks each falling
        # back to "current position at connect time" would read N
        # different nondeterministic ranges). Recorded and scripted
        # logs cold-start at pos 4
        if self._live and not self.options.get("file") and not self.options.get("gtid_set"):
            return self._provider()[1](self.options)
        return BinlogOffset(
            file=self.options.get("file", ""),
            pos=int(self.options.get("pos", "4")),
            gtid_set=self.options.get("gtid_set", ""),
            server_id=int(self.options.get("server_id", "0")),
        ).to_json()

    def latestOffset(self) -> dict:
        head = BinlogOffset.from_json(self._provider()[1](self.options))
        # admission control: advance at most max_pos_delta past the
        # previously planned end (same file only — a file rotation
        # resets the clamp; see class docstring for the restart caveat).
        # Never on the live master: a scripted/filtering iterator
        # accepts any numeric bound, but a MySQL seek requires an event
        # boundary ("impossible position" otherwise) and a clamped
        # offset must not carry the head's full gtid_set (auto_position
        # with it would skip everything up to the real head — data
        # loss).
        prev = self._planned_end
        if (
            not self._live
            and prev is not None
            and self.max_pos_delta > 0
            and head.file == prev.file
            and head.pos - prev.pos > self.max_pos_delta
        ):
            head = BinlogOffset(
                file=head.file,
                pos=prev.pos + self.max_pos_delta,
                gtid_set="",  # a clamped boundary is position-defined
                server_id=head.server_id,
            )
        self._planned_end = head
        return head.to_json()

    def partitions(self, start: dict, end: dict):
        path = self.options.get("binlog_file_path")
        if path and self.shard_count == 1:
            # file source: archived files decode independently, so a
            # batch over several runs one task per file
            from dolphinbeat_spark.sources.binlog_file import split_range_by_file

            return [
                _ShardRangePartition(s, e, 0, 1)
                for s, e in split_range_by_file(path, start, end)
            ]
        return [
            _ShardRangePartition(start, end, i, self.shard_count)
            for i in range(self.shard_count)
        ]

    def read(self, partition: _ShardRangePartition):
        yield from _read_shard_arrow(self.options, partition, self.batch_rows)

    def commit(self, end: dict) -> None:
        pass  # offsets are replayable coordinates; nothing to release


class BinlogDataSource(DataSource):
    """Live source (daemon ``reader = "simple"``): driver-side decode
    over the native client, which asserts a ROW-format binlog before
    dumping (the reference's precondition, ``canal/canal.go:368-377``)."""

    @classmethod
    def name(cls) -> str:
        return "dolphinbeat_binlog"

    def schema(self):
        return ENVELOPE_SCHEMA

    def simpleStreamReader(self, schema):
        return LiveBinlogStreamReader(self.options)


class ArrowBinlogDataSource(DataSource):
    """Arrow-reader source (daemon ``reader = "arrow"``): the full
    DataSourceStreamReader protocol with executor-side decode, over the
    native client unless a ``provider`` option names another one."""

    @classmethod
    def name(cls) -> str:
        return "dolphinbeat_binlog_arrow"

    def schema(self):
        return ENVELOPE_SCHEMA

    def streamReader(self, schema):
        return ArrowBinlogStreamReader(self.options)
