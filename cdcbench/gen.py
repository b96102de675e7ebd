"""Seeded CDC input generator and reference model.

Everything a workload feeds the engine is made here from one seed:
binlog bytes (written with ``tools/make_binlog_fixture.Writer``, the
same byte-level writer the repo's fixtures use), the DDL and schema
snapshot, and the reference the output checks compare against.

The model tracks live keys per table, so updates and deletes always
hit rows that exist; the row picked for an update or delete is drawn
with a Zipf skew over the live-key list. Every table carries a
``created_us`` column: the open-loop generator stamps it with the
event's due time, the closed-loop workloads with a deterministic
counter.
"""

from __future__ import annotations

import bisect
import random
import sys
from decimal import Decimal
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
for _p in (str(REPO), str(REPO / "tools")):
    if _p not in sys.path:
        sys.path.insert(0, _p)

from make_binlog_fixture import Writer  # noqa: E402

from dolphinbeat_spark.sources import binlog_file as B  # noqa: E402

SID = "5ca1ab1e0ddba11cafef00d5eed0cdc0"

#: (db, table, [(column, binlog type, meta, DDL type)]) — id is the key
TABLES = {
    "orders": ("shop", [
        ("id", B.T_LONG, 0, "INT PRIMARY KEY"),
        ("customer", B.T_LONGLONG, 0, "BIGINT"),
        ("amount", B.T_NEWDECIMAL, (12 << 8) | 2, "DECIMAL(12,2)"),
        ("status", B.T_VARCHAR, 16, "VARCHAR(16)"),
        ("created_us", B.T_LONGLONG, 0, "BIGINT"),
    ]),
    "customers": ("shop", [
        ("id", B.T_LONG, 0, "INT PRIMARY KEY"),
        ("name", B.T_VARCHAR, 40, "VARCHAR(40)"),
        ("tier", B.T_TINY, 0, "TINYINT"),
        ("created_us", B.T_LONGLONG, 0, "BIGINT"),
    ]),
    "audit_log": ("shop", [
        ("id", B.T_LONG, 0, "INT PRIMARY KEY"),
        ("msg", B.T_VARCHAR, 80, "VARCHAR(80)"),
        ("created_us", B.T_LONGLONG, 0, "BIGINT"),
    ]),
    "tmp": ("staging", [
        ("id", B.T_LONG, 0, "INT PRIMARY KEY"),
        ("v", B.T_VARCHAR, 32, "VARCHAR(32)"),
        ("created_us", B.T_LONGLONG, 0, "BIGINT"),
    ]),
}
TABLE_IDS = {name: i + 101 for i, name in enumerate(TABLES)}

#: routing every workload applies through operators.filters.filter_tables:
#: shop.orders and shop.customers pass, shop.audit_log and staging.tmp
#: are routed away
INCLUDE = [r"^shop\."]
EXCLUDE = [r"audit"]


def routed(table: str) -> bool:
    return TABLES[table][0] == "shop" and "audit" not in table


def ddl(table: str) -> tuple[str, str]:
    db, cols = TABLES[table]
    body = ", ".join(f"{c} {t}" for c, _, _, t in cols)
    return db, f"CREATE TABLE {db}.{table} ({body})"


def columns(table: str) -> list[str]:
    return [c for c, *_ in TABLES[table][1]]


def binlog_cols(table: str) -> list[tuple[int, int]]:
    return [(t, m) for _, t, m, _ in TABLES[table][1]]


def schema_snapshot_json(tables) -> str:
    """The schema tracker snapshot for ``tables``, as the JSON text the
    arrow reader ships to executors."""
    from dolphinbeat_spark.schema.registry import SchemaRegistry

    reg = SchemaRegistry()
    for t in tables:
        db, stmt = ddl(t)
        reg.apply_ddl(stmt, default_db=db)
    return reg.dumps()


def render(v) -> str | None:
    """A value as the envelope's stringly image carries it."""
    return None if v is None else str(v)


class Zipf:
    """Rank sampler with P(rank r) ~ 1 / r**s over a list of length n."""

    def __init__(self, n_max: int, s: float = 1.1):
        self.cum = []
        acc = 0.0
        for r in range(1, n_max + 1):
            acc += 1.0 / r ** s
            self.cum.append(acc)

    def pick(self, rng: random.Random, n: int) -> int:
        n = min(n, len(self.cum))
        return bisect.bisect_left(self.cum, rng.random() * self.cum[n - 1], 0, n - 1)


class Model:
    """Live rows per table plus the op generator. ``mix`` is the
    (insert, update, delete) share; ``created_us`` is stamped by the
    caller per transaction."""

    def __init__(self, seed: int, tables, mix=(0.5, 0.35, 0.15), zipf_n: int = 1 << 17):
        self.rng = random.Random(seed)
        self.tables = list(tables)
        self.mix = mix
        self.rows: dict[str, dict[int, tuple]] = {t: {} for t in self.tables}
        self.live: dict[str, list[int]] = {t: [] for t in self.tables}
        self.next_id = {t: 1 for t in self.tables}
        self.zipf = Zipf(zipf_n)

    def _values(self, table: str, key: int, created_us: int) -> tuple:
        r = self.rng
        if table == "orders":
            cents = r.randrange(100, 10_000_000)
            return (key, r.randrange(1, 50_000), Decimal(cents).scaleb(-2),
                    r.choice(("new", "paid", "shipped", "returned")), created_us)
        if table == "customers":
            return (key, f"customer-{r.randrange(1 << 30):08x}",
                    r.randrange(0, 4), created_us)
        if table == "audit_log":
            return (key, f"event {r.randrange(1 << 40):010x} on {key}", created_us)
        return (key, f"tmp-{r.randrange(1 << 30):x}", created_us)

    def insert(self, table: str, created_us: int) -> tuple:
        key = self.next_id[table]
        self.next_id[table] += 1
        row = self._values(table, key, created_us)
        self.rows[table][key] = row
        self.live[table].append(key)
        return row

    def _pick(self, table: str) -> int:
        live = self.live[table]
        return self.zipf.pick(self.rng, len(live))

    def update(self, table: str, created_us: int) -> tuple[tuple, tuple]:
        key = self.live[table][self._pick(table)]
        before = self.rows[table][key]
        after = self._values(table, key, created_us)
        self.rows[table][key] = after
        return before, after

    def delete(self, table: str) -> tuple:
        live = self.live[table]
        i = self._pick(table)
        key = live[i]
        live[i] = live[-1]
        live.pop()
        return self.rows[table].pop(key)

    def rows_event(self, table: str, n: int, created_us: int, kind: str | None = None):
        """One multi-row event: (kind, table, rows). Falls back to
        insert while a table has too few live rows to update/delete."""
        if kind is None:
            x = self.rng.random()
            kind = ("insert" if x < self.mix[0]
                    else "update" if x < self.mix[0] + self.mix[1] else "delete")
        if kind != "insert" and len(self.live[table]) < 4 * n:
            kind = "insert"
        if kind == "insert":
            rows = [self.insert(table, created_us) for _ in range(n)]
        elif kind == "update":
            rows = [self.update(table, created_us) for _ in range(n)]
        else:
            rows = [self.delete(table) for _ in range(n)]
        return kind, table, rows

    def transaction(self, created_us: int, weights: dict[str, float],
                    events: int = 2, rows: tuple[int, int] = (1, 6)):
        names = list(weights)
        w = [weights[t] for t in names]
        return [
            self.rows_event(self.rng.choices(names, w)[0],
                            self.rng.randint(*rows), created_us)
            for _ in range(events)
        ]


ETYPE = {"insert": B.EV_WRITE_ROWS_V2, "update": B.EV_UPDATE_ROWS_V2,
         "delete": B.EV_DELETE_ROWS_V2}


def write_transaction(w: Writer, gno: int, events) -> None:
    w.gtid(SID, gno)
    w.query("shop", "BEGIN")
    for kind, table, rows in events:
        db, _ = TABLES[table]
        tid = TABLE_IDS[table]
        w.table_map(tid, db, table, binlog_cols(table))
        w.rows(ETYPE[kind], tid, binlog_cols(table), rows)
    w.xid(gno)


def reference_ops(events) -> list[tuple]:
    """Row ops of one transaction in envelope order: (db, table, op,
    before, after), images rendered as {column: text}."""
    out = []
    for kind, table, rows in events:
        db, _ = TABLES[table]
        names = columns(table)
        for r in rows:
            if kind == "update":
                b, a = r
            elif kind == "insert":
                b, a = None, r
            else:
                b, a = r, None
            img = (lambda row: None if row is None
                   else {c: render(v) for c, v in zip(names, row)})
            out.append((db, table, kind, img(b), img(a)))
    return out


def start_file(w: Writer, with_ddl, gtids_before: int) -> None:
    w.fde()
    w.previous_gtids([(SID, [(1, gtids_before)])] if gtids_before else [])
    for t in with_ddl:
        db, stmt = ddl(t)
        w.query(db, stmt)


# --- replay: an archived multi-file, multi-table series ---------------------

REPLAY_WEIGHTS = {"orders": 0.45, "customers": 0.25, "audit_log": 0.2, "tmp": 0.1}


def make_series(seed: int, out_dir: Path, n_files: int = 3, trx_per_file: int = 700) -> dict:
    """Write ``n_files`` rotate-stitched binlog files and return the
    reference: every op the series holds and the post-filter op list."""
    out_dir.mkdir(parents=True, exist_ok=True)
    model = Model(seed, TABLES)
    ops, counts = [], {"ddl": len(TABLES), "gtid": 0, "begin": 0, "commit": 0, "rotate": 0}
    gno = 0
    prev_end = 0
    for f in range(n_files):
        w = Writer()
        start_file(w, TABLES if f == 0 else (), gno)
        n = 0
        # the last file ends past the position where the one before it
        # ended (its rotate included): the arrow reader bounds a batch by
        # (file, pos) and checks a rotate's own position against the new
        # file's end, so a shorter final file ends the series there
        while n < trx_per_file or (f + 1 == n_files and w.pos <= prev_end):
            gno += 1
            n += 1
            events = model.transaction(gno, REPLAY_WEIGHTS)
            write_transaction(w, gno, events)
            ops += reference_ops(events)
        counts["gtid"] += n
        counts["begin"] += n
        counts["commit"] += n
        if f + 1 < n_files:
            w.rotate(f"mysql-bin.{f + 2:06d}")
            counts["rotate"] += 1
        prev_end = w.pos
        (out_dir / f"mysql-bin.{f + 1:06d}").write_bytes(bytes(w.buf))
    return {
        "row_ops": ops,
        "routed_ops": [o for o in ops if routed(o[1])],
        "marker_counts": counts,
    }


# --- tail: transactions generated on a schedule -----------------------------

TAIL_WEIGHTS = {"orders": 0.6, "customers": 0.25, "audit_log": 0.15}
TAIL_TABLES = tuple(TAIL_WEIGHTS)
TAIL_ROWS_PER_TRX = 4


class TailFeed:
    """Insert/update transactions for the open-loop workload, one
    rows event of ``TAIL_ROWS_PER_TRX`` rows each. Deletes are left
    out: a delete's image is the old row, so it cannot carry the
    event's own ``created_us`` stamp. Content depends on the seed only;
    ``created_us`` is the due time the caller passes."""

    def __init__(self, seed: int):
        self.model = Model(seed, TAIL_TABLES, mix=(0.6, 0.4, 0.0))

    def transaction(self, created_us: int):
        names = list(TAIL_WEIGHTS)
        table = self.model.rng.choices(names, [TAIL_WEIGHTS[t] for t in names])[0]
        return [self.model.rows_event(table, TAIL_ROWS_PER_TRX, created_us)]


def strip_created(op: tuple) -> tuple:
    """A reference op without its ``created_us`` stamps (the tail
    workload's stamps are wall-clock due times)."""
    db, table, kind, b, a = op
    drop = (lambda img: None if img is None
            else {k: v for k, v in img.items() if k != "created_us"})
    return db, table, kind, drop(b), drop(a)
