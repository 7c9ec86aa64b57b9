"""Deterministic Debezium-envelope inputs for the CDC sink benchmark.

Everything here is pure Python: the same seed yields byte-identical JSONL
files, so the engine only ever receives generated files and the replay
model (``replay.py``) can recompute the expected table contents.

An event is a ``(destination, payload)`` pair.  ``payload`` is the
flattened row the Debezium unwrap SMT emits: table columns plus the
``__op`` / ``__source_ts_ms`` / ``__source_ts_ns`` / ``__deleted``
metadata columns.  Source timestamps are strictly increasing across a
feed, so "last event per key by ``__source_ts_ns``" never ties.
"""

from __future__ import annotations

import json
import random

HEARTBEAT_PREFIX = "__debezium-heartbeat"
HEARTBEAT_DEST = HEARTBEAT_PREFIX + ".bench"

# first source timestamp of every feed (2023-11-14T22:13:20Z), 1 us apart
_TS0_NS = 1_700_000_000_000_000_000
_TS_STEP_NS = 1_000

_META_FIELDS = [
    ("__op", "string", None),
    ("__source_ts_ms", "int64", None),
    ("__source_ts_ns", "int64", None),
    ("__deleted", "boolean", None),
]

ORDERS_DEST = "bench.inventory.orders"
ORDERS_FIELDS = [
    ("id", "int64", None),
    ("customer", "string", None),
    ("qty", "int32", None),
    ("price_cents", "int64", None),
    ("status", "string", None),
]
ORDERS_KEY = "id"
_STATUSES = ("new", "paid", "packed", "shipped", "returned")

FANOUT_FIELDS = [
    ("id", "int64", None),
    ("name", "string", None),
    ("amount", "int64", None),
    ("created_at", "int64", "io.debezium.time.MicroTimestamp"),
]
FANOUT_EXTRA = ("note", "string", None)
# every fan-out file: FANOUT_TABLES tables x FANOUT_ROWS +- 5 inserts, plus
# FANOUT_HEARTBEATS heartbeat rows
FANOUT_TABLES = 8
FANOUT_ROWS = 50
FANOUT_HEARTBEATS = 2

# columns the order-independent checksum covers, with how each is rendered
# (see replay.render); source-millis columns become timestamptz in the
# table and are covered through __source_ts_ns instead
ORDERS_CHECK = [
    ("id", "int"), ("customer", "str"), ("qty", "int"), ("price_cents", "int"),
    ("status", "str"), ("__op", "str"), ("__source_ts_ns", "int"),
    ("__deleted", "bool"),
]
FANOUT_CHECK = [
    ("id", "int"), ("name", "str"), ("amount", "int"),
    ("created_at", "ts_micros"), ("__op", "str"), ("__source_ts_ns", "int"),
    ("__deleted", "bool"),
]


def _schema_doc(fields) -> dict:
    out = []
    for name, typ, semantic in fields:
        f = {"field": name, "type": typ, "optional": name != "id"}
        if semantic:
            f["name"] = semantic
        out.append(f)
    return {"type": "struct", "fields": out}


# one compact encoder for every line (json.dumps with arguments would build
# a new encoder per call, the bulk of generating 100k-row inputs)
_dumps = json.JSONEncoder(separators=(",", ":"), check_circular=False).encode


class _Shape:
    """The schema documents of one table shape, built once."""

    def __init__(self, fields, key: str | None) -> None:
        self.value_schema = _schema_doc(fields)
        self.key = key
        self.key_schema = (
            None if key is None
            else _schema_doc([f for f in fields if f[0] == key])
        )

    def line(self, dest: str, payload: dict) -> str:
        key = None
        if self.key is not None:
            key = _dumps({"schema": self.key_schema,
                          "payload": {self.key: payload[self.key]}})
        return _dumps({
            "destination": dest,
            "key": key,
            "value": _dumps({"schema": self.value_schema, "payload": payload}),
        })


_ORDERS_SHAPE = _Shape(ORDERS_FIELDS + _META_FIELDS, ORDERS_KEY)
_FANOUT_SHAPE = _Shape(FANOUT_FIELDS + _META_FIELDS, "id")
_FANOUT_SHAPE_EXTRA = _Shape(FANOUT_FIELDS + [FANOUT_EXTRA] + _META_FIELDS, "id")
_HEARTBEAT_SHAPE = _Shape([("ts_ms", "int64", None)], None)


def _shape(dest: str, payload: dict) -> _Shape:
    if dest.startswith(HEARTBEAT_PREFIX):
        return _HEARTBEAT_SHAPE
    if "customer" in payload:
        return _ORDERS_SHAPE
    if FANOUT_EXTRA[0] in payload:
        return _FANOUT_SHAPE_EXTRA
    return _FANOUT_SHAPE


def write_jsonl(path: str, events) -> None:
    """Write events as raw-envelope JSONL (``RAW_ENVELOPE_SCHEMA``)."""
    with open(path, "w") as fh:
        for dest, payload in events:
            fh.write(_shape(dest, payload).line(dest, payload))
            fh.write("\n")


def _meta(payload: dict, op: str, ts_ns: int) -> dict:
    payload["__op"] = op
    payload["__source_ts_ms"] = ts_ns // 1_000_000
    payload["__source_ts_ns"] = ts_ns
    payload["__deleted"] = op == "d"
    return payload


class UpsertFeed:
    """Change stream of one keyed table.

    ``bootstrap()`` is the initial snapshot (op ``r``) of ``n_keys`` rows;
    each ``batch(size)`` is then ~80% ``u``, 10% ``d``, 10% ``c``.  A
    quarter of the updates re-touch a key already changed in the same
    batch (so ~a fifth of every batch repeats an in-batch key and the
    in-batch dedup has work); the rest pick a uniformly random live key.
    Deletes remove a key from the live set, so a deleted key is never
    updated again."""

    P_UPDATE = 0.8
    P_DELETE = 0.1
    P_REPEAT = 0.25

    def __init__(self, seed: int, n_keys: int, dest: str = ORDERS_DEST) -> None:
        self.rng = random.Random(seed)
        self.dest = dest
        self.n_keys = n_keys
        self.next_key = n_keys + 1
        self.ts_ns = _TS0_NS
        self.live: list[int] = []
        self.pos: dict[int, int] = {}

    def _tick(self) -> int:
        self.ts_ns += _TS_STEP_NS
        return self.ts_ns

    def _row(self, key: int) -> dict:
        r = self.rng
        return {
            "id": key,
            "customer": f"cust-{r.randrange(5000):04d}",
            "qty": r.randrange(1, 100),
            "price_cents": r.randrange(100, 1_000_000),
            "status": _STATUSES[r.randrange(len(_STATUSES))],
        }

    def _add_live(self, key: int) -> None:
        self.pos[key] = len(self.live)
        self.live.append(key)

    def _drop_live(self, key: int) -> None:
        i = self.pos.pop(key)
        last = self.live.pop()
        if last != key:
            self.live[i] = last
            self.pos[last] = i

    def bootstrap(self) -> list:
        out = []
        for key in range(1, self.n_keys + 1):
            self._add_live(key)
            out.append((self.dest, _meta(self._row(key), "r", self._tick())))
        return out

    def batch(self, size: int) -> list:
        r = self.rng
        out = []
        touched: list[int] = []
        for _ in range(size):
            x = r.random()
            if x < self.P_UPDATE:
                key = None
                if touched and r.random() < self.P_REPEAT:
                    cand = touched[r.randrange(len(touched))]
                    if cand in self.pos:
                        key = cand
                if key is None:
                    key = self.live[r.randrange(len(self.live))]
                payload = _meta(self._row(key), "u", self._tick())
            elif x < self.P_UPDATE + self.P_DELETE:
                key = self.live[r.randrange(len(self.live))]
                self._drop_live(key)
                payload = _meta(
                    {"id": key, "customer": None, "qty": None,
                     "price_cents": None, "status": None},
                    "d", self._tick(),
                )
            else:
                key = self.next_key
                self.next_key += 1
                self._add_live(key)
                payload = _meta(self._row(key), "c", self._tick())
            touched.append(key)
            out.append((self.dest, payload))
        return out

    def lookup_keys(self, rng: random.Random, n: int) -> list[int]:
        """Point-lookup targets: any key ever issued (live, soft-deleted
        or brand new alike)."""
        return [rng.randrange(1, self.next_key) for _ in range(n)]


class FanoutFeed:
    """Append-only multi-table feed: each file carries ``FANOUT_TABLES`` x
    ~``FANOUT_ROWS`` insert events plus ``FANOUT_HEARTBEATS`` heartbeat
    rows.  From file ``evolve_at`` on, table 0 carries an extra optional
    ``note`` column (a schema evolution partway through the stream)."""

    def __init__(self, seed: int, evolve_at: int,
                 prefix: str = "bench.shop") -> None:
        self.rng = random.Random(seed)
        self.tables = [f"{prefix}.t{i}" for i in range(FANOUT_TABLES)]
        self.evolve_at = evolve_at
        self.ts_ns = _TS0_NS
        self.next_id = {t: 1 for t in self.tables}
        self.files = 0

    def file(self) -> list:
        r = self.rng
        out = []
        for _ in range(FANOUT_HEARTBEATS):
            self.ts_ns += _TS_STEP_NS
            out.append((HEARTBEAT_DEST, {"ts_ms": self.ts_ns // 1_000_000}))
        for t_i, dest in enumerate(self.tables):
            for _ in range(FANOUT_ROWS + r.randrange(-5, 6)):
                self.ts_ns += _TS_STEP_NS
                i = self.next_id[dest]
                self.next_id[dest] = i + 1
                payload = {
                    "id": i,
                    "name": f"item-{r.randrange(100000):05d}",
                    "amount": r.randrange(1, 10**9),
                    "created_at": self.ts_ns // 1000 - r.randrange(10**9),
                }
                if t_i == 0 and self.files >= self.evolve_at:
                    payload["note"] = f"n{r.randrange(1000)}"
                out.append((dest, _meta(payload, "c", self.ts_ns)))
        self.files += 1
        return out
