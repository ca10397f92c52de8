"""Seeded Canal FlatMessage stream and an independent reference apply.

``ChangeStream`` plays a MySQL binlog for two tables through Canal's
FlatMessage JSON: an initial snapshot load, then micro-batches of
INSERT/UPDATE/DELETE rows over a fixed key space (so state size stays flat),
with Zipf-skewed keys, multi-row UPDATE messages, re-inserts of deleted keys,
replays of the previous batch's tail, and about 1% malformed, DDL and
unrouted messages.

Canal carries no row version, so the pipeline versions a change by its
binlog time ``es`` alone. MySQL binlog timestamps have one-second
resolution, so two changes to one row inside one second tie. The main
stream therefore changes each row at most once per binlog second; with
``tie_free=False`` the rule is lifted, which the tie probe uses to count
what the tie costs.

``Reference`` is the oracle: it parses the landed lines with ``json`` and
applies each change once, in Canal ``id`` order, skipping replayed ids,
malformed lines, DDL and unrouted tables. It shares no code with the
generator beyond the table specs.
"""

from __future__ import annotations

import datetime as dt
import json
from dataclasses import dataclass
from decimal import Decimal

import numpy as np

DATE0 = dt.date(1995, 1, 1)
STATUSES = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
T0_SEC = 1_700_000_000  # binlog clock of the snapshot load
ZIPF_S = 1.0            # key skew
ODD_FRAC = 0.01         # malformed + DDL + unrouted share of messages
REPLAY_PROB = 0.3       # share of batches that open with a replayed tail
ROWS_PER_MSG = 500      # rows per snapshot-load INSERT message


@dataclass(frozen=True)
class Spec:
    """One routed table: its Canal identity, cast mapping and MySQL types."""

    database: str
    table: str
    pk: str
    mode: str
    mapping: dict
    mysql: dict

    @property
    def cols(self) -> list[str]:
        return list(self.mapping)


ORDERS = Spec(
    "shop", "orders", "o_orderkey", "replacing",
    {"o_orderkey": "bigint", "o_custkey": "bigint", "o_orderstatus": "string",
     "o_totalprice": "decimal(12,2)", "o_orderdate": "date",
     "o_orderpriority": "string"},
    {"o_orderkey": "bigint(20)", "o_custkey": "bigint(20)",
     "o_orderstatus": "char(1)", "o_totalprice": "decimal(12,2)",
     "o_orderdate": "date", "o_orderpriority": "varchar(15)"},
)
CUSTOMER = Spec(
    "shop", "customer", "c_custkey", "collapsing",
    {"c_custkey": "bigint", "c_name": "string", "c_nationkey": "int",
     "c_acctbal": "decimal(12,2)", "c_mktsegment": "string"},
    {"c_custkey": "bigint(20)", "c_name": "varchar(25)", "c_nationkey": "int(11)",
     "c_acctbal": "decimal(12,2)", "c_mktsegment": "varchar(10)"},
)
SPECS = {f"{s.database}.{s.table}": s for s in (ORDERS, CUSTOMER)}
_SQL_TYPE = {"bigint": -5, "int": 4, "char": 1, "varchar": 12, "decimal": 3, "date": 91}


def _sql_types(spec: Spec) -> dict:
    return {c: _SQL_TYPE[t.split("(")[0]] for c, t in spec.mysql.items()}


@dataclass
class Batch:
    lines: list[str]       # the landed JSON-lines file, in delivery order
    change_rows: int       # data rows of routed DML messages, replays included


class _Keys:
    """Key space of one table: liveness, payload strings, last change second."""

    def __init__(self, n: int, rng: np.random.Generator):
        self.n = n
        self.live = np.ones(n, dtype=bool)
        self.last_sec = np.full(n, -1, dtype=np.int64)
        self.rows: list[dict] = []
        ranks = np.arange(1, n + 1, dtype=np.float64) ** -ZIPF_S
        self.cdf = np.cumsum(ranks / ranks.sum())
        self.perm = rng.permutation(n)  # which key holds which Zipf rank
        self._pool = np.empty(0, dtype=np.int64)
        self._rng = rng

    def draw(self) -> int:
        if not len(self._pool):
            u = self._rng.random(4096)
            idx = np.minimum(np.searchsorted(self.cdf, u), self.n - 1)
            self._pool = self.perm[idx]
        k, self._pool = int(self._pool[0]), self._pool[1:]
        return k


class ChangeStream:
    """Deterministic FlatMessage stream over ``orders`` and ``customer``."""

    def __init__(self, seed: int, n_orders: int = 150_000, n_customers: int = 15_000,
                 rows_per_sec: int = 200, tie_free: bool = True):
        self.rng = np.random.default_rng(seed)
        self.keys = {"orders": _Keys(n_orders, self.rng),
                     "customer": _Keys(n_customers, self.rng)}
        self.n_customers = n_customers
        self.rows_per_sec = rows_per_sec
        self.tie_free = tie_free
        self.next_id = 1
        self.sec = T0_SEC
        self.sec_rows = 0
        self.prev_tail: list[str] = []

    # -- payloads ------------------------------------------------------------

    def _rows(self, table: str, keys) -> list[dict]:
        """Fresh after-images for ``keys``, every column drawn at once."""
        r, n = self.rng, len(keys)
        if table == "orders":
            cust = r.integers(0, self.n_customers, n)
            status = r.integers(0, 3, n)
            cents = r.integers(90_000, 50_000_000, n)
            days = r.integers(0, 2400, n)
            prio = r.integers(0, 5, n)
            return [{
                "o_orderkey": str(k), "o_custkey": str(c),
                "o_orderstatus": STATUSES[s], "o_totalprice": f"{p / 100:.2f}",
                "o_orderdate": (DATE0 + dt.timedelta(days=int(d))).isoformat(),
                "o_orderpriority": PRIORITIES[q],
            } for k, c, s, p, d, q in zip(keys, cust, status, cents, days, prio)]
        tag = r.integers(0, 1000, n)
        nation = r.integers(0, 25, n)
        cents = r.integers(-99_999, 999_999, n)
        seg = r.integers(0, 5, n)
        return [{
            "c_custkey": str(k), "c_name": f"Customer#{k:09d}-{t:03d}",
            "c_nationkey": str(x), "c_acctbal": f"{c / 100:.2f}",
            "c_mktsegment": SEGMENTS[g],
        } for k, t, x, c, g in zip(keys, tag, nation, cents, seg)]

    def _new_row(self, table: str, k: int) -> dict:
        return self._rows(table, [k])[0]

    def _msg(self, spec: Spec, typ: str, data: list[dict] | None,
             old: list[dict] | None = None, is_ddl: bool = False, sql: str = "",
             table: str | None = None) -> str:
        es = self.sec * 1000
        m = {
            "id": self.next_id, "database": spec.database,
            "table": table or spec.table, "pkNames": [spec.pk], "isDdl": is_ddl,
            "type": typ, "es": es, "ts": es + 40 + int(self.rng.integers(0, 400)),
            "sql": sql, "sqlType": _sql_types(spec), "mysqlType": spec.mysql,
            "data": data, "old": old,
        }
        self.next_id += 1
        return json.dumps(m, separators=(",", ":"))

    # -- snapshot load -------------------------------------------------------

    def initial_load(self) -> Batch:
        """Every key INSERTed once, in multi-row messages at one binlog second."""
        lines: list[str] = []
        rows = 0
        for table, spec in (("orders", ORDERS), ("customer", CUSTOMER)):
            ks = self.keys[table]
            ks.rows = self._rows(table, range(ks.n))
            ks.last_sec[:] = self.sec
            for lo in range(0, ks.n, ROWS_PER_MSG):
                data = ks.rows[lo:lo + ROWS_PER_MSG]
                lines.append(self._msg(spec, "INSERT", data))
                rows += len(data)
        self.sec += 1
        return Batch(lines, rows)

    # -- change batches ------------------------------------------------------

    def _tick(self, n: int) -> None:
        self.sec_rows += n
        if self.sec_rows >= self.rows_per_sec:
            self.sec += 1
            self.sec_rows = 0

    def _pick_key(self, ks: _Keys, want_live: bool | None, taken: set) -> int:
        """A Zipf-drawn key not changed in this second (when ``tie_free``)."""
        for _ in range(200):
            k = ks.draw()
            if k in taken or (want_live is not None and ks.live[k] != want_live):
                continue
            if self.tie_free and ks.last_sec[k] == self.sec:
                continue
            return k
        self.sec += 1  # this second is saturated for the hot keys
        self.sec_rows = 0
        return self._pick_key(ks, want_live, taken)

    def _change(self, table: str, spec: Spec) -> tuple[str, int]:
        ks = self.keys[table]
        r = self.rng.random()
        if r < 0.1:  # one statement updating several rows
            n = int(self.rng.integers(2, 6))
            taken: set = set()
            data, old = [], []
            for _ in range(n):
                k = self._pick_key(ks, True, taken)
                taken.add(k)
                prev, new = ks.rows[k], self._new_row(table, k)
                data.append(new)
                old.append({c: v for c, v in prev.items() if new[c] != v})
                ks.rows[k], ks.last_sec[k] = new, self.sec
            return self._msg(spec, "UPDATE", data, old), n
        k = self._pick_key(ks, None, set())
        if not ks.live[k]:
            ks.rows[k], ks.live[k] = self._new_row(table, k), True
            line = self._msg(spec, "INSERT", [ks.rows[k]])
        elif self.rng.random() < 0.12:
            ks.live[k] = False
            line = self._msg(spec, "DELETE", [ks.rows[k]])
        else:
            prev, new = ks.rows[k], self._new_row(table, k)
            ks.rows[k] = new
            line = self._msg(spec, "UPDATE", [new],
                             [{c: v for c, v in prev.items() if new[c] != v}])
        ks.last_sec[k] = self.sec
        return line, 1

    def _odd(self) -> str:
        """A malformed, DDL or unrouted message (the pipeline must skip it)."""
        kind = int(self.rng.integers(0, 3))
        spec = ORDERS if self.rng.random() < 0.5 else CUSTOMER
        if kind == 0:
            full = self._msg(spec, "UPDATE", [self._new_row(spec.table, 0)])
            cut = int(self.rng.integers(10, len(full) - 1))
            return full[:cut]  # truncated in transit: not valid JSON
        if kind == 1:
            return self._msg(spec, "ALTER", None, is_ddl=True,
                             sql=f"ALTER TABLE {spec.table} ADD COLUMN note varchar(32)")
        return self._msg(spec, "INSERT", [self._new_row(spec.table, 0)],
                         table=f"{spec.table}_audit")

    def next_batch(self, rows: int = 2000) -> Batch:
        """About ``rows`` change rows; may open with a replay of the last tail."""
        lines: list[str] = []
        if self.prev_tail and self.rng.random() < REPLAY_PROB:
            lines.extend(self.prev_tail)
        change_rows = sum(len(json.loads(x).get("data") or []) for x in lines
                          if _complete(x) and _routed(x))
        own = 0
        while own < rows:
            if self.rng.random() < ODD_FRAC:
                lines.append(self._odd())
                continue
            table, spec = (("orders", ORDERS) if self.rng.random() < 0.85
                           else ("customer", CUSTOMER))
            line, n = self._change(table, spec)
            lines.append(line)
            own += n
            self._tick(n)
        tail = max(1, len(lines) // 25)
        self.prev_tail = lines[-tail:]
        return Batch(lines, change_rows + own)


def _complete(line: str) -> bool:
    try:
        json.loads(line)
    except ValueError:
        return False
    return True


def _routed(line: str) -> bool:
    m = json.loads(line)
    return f"{m.get('database')}.{m.get('table')}" in SPECS and not m.get("isDdl")


# -- reference apply -----------------------------------------------------------


def _typed(spec: Spec, row: dict) -> tuple:
    out = []
    for c, t in spec.mapping.items():
        v = row.get(c)
        if v is None:
            out.append(None)
        elif t in ("bigint", "int"):
            out.append(int(v))
        elif t.startswith("decimal"):
            out.append(Decimal(v))
        elif t == "date":
            out.append(dt.date.fromisoformat(v))
        else:
            out.append(v)
    return tuple(out)


class Reference:
    """Pure-Python FINAL state of each routed table, applied in id order."""

    def __init__(self):
        self.state: dict[str, dict[int, tuple]] = {q: {} for q in SPECS}
        self.last_id = 0
        self.skipped = {"malformed": 0, "ddl": 0, "unrouted": 0, "replayed": 0}
        self._summary: dict[str, list] = {}

    def apply(self, lines: list[str]) -> None:
        for line in lines:
            try:
                m = json.loads(line)
            except ValueError:
                self.skipped["malformed"] += 1
                continue
            if m["id"] <= self.last_id:
                self.skipped["replayed"] += 1
                continue
            self.last_id = m["id"]
            if m.get("isDdl"):
                self.skipped["ddl"] += 1
                continue
            spec = SPECS.get(f"{m['database']}.{m['table']}")
            if spec is None:
                self.skipped["unrouted"] += 1
                continue
            st = self.state[f"{spec.database}.{spec.table}"]
            for row in m.get("data") or []:
                key = int(row[spec.pk])
                old = st.pop(key, None)
                new = None if m["type"] == "DELETE" else _typed(spec, row)
                if new is not None:  # INSERT and UPDATE carry the after-image
                    st[key] = new
                if spec is ORDERS:
                    self._count(old, -1)
                    self._count(new, +1)

    def _count(self, row: tuple | None, sign: int) -> None:
        if row is None:
            return
        _, cust, status, price, day, _ = row
        acc = self._summary.setdefault(status, [0, Decimal(0), 0, 0])
        acc[0] += sign
        acc[1] += sign * price
        acc[2] += sign * cust
        acc[3] += sign * (day - dt.date(1970, 1, 1)).days

    def rows(self, qualified: str) -> set[tuple]:
        return set(self.state[qualified].values())

    def orders_summary(self) -> dict[str, tuple]:
        """What the benchmark's FINAL read aggregates: per status, the row
        count, sum of price, sum of customer key and sum of day numbers."""
        return {s: tuple(v) for s, v in self._summary.items() if v[0]}
