"""Pure-Python model of what the sink must commit, and the checksum both
sides compute.

Upsert tables (``upsert_keep_deletes=True``): per key, the event with the
greatest ``(__source_ts_ns, op priority, arrival)`` wins, and a winning
delete survives as a soft-deleted row.  Append tables keep every event.
Heartbeat destinations are dropped.

The checksum is order independent: ``(row count, sum over rows of the
CRC-32 of the row's columns rendered as text and joined with "|")``.
``spark_checksum`` computes the same pair inside Spark with
``crc32(concat_ws(...))``.
"""

from __future__ import annotations

import zlib
from datetime import datetime, timedelta

from .gen import HEARTBEAT_PREFIX

# IcebergTableOperator op priority (c and i share rank 1)
_OP_PRIORITY = {"c": 1, "i": 1, "r": 2, "u": 3, "d": 4}
NULL = "\\N"


_EPOCH = datetime(1970, 1, 1)


def render(value, kind: str) -> str:
    """A value as ``spark_checksum`` renders it for ``kind``; a collected
    TIMESTAMP_NTZ arrives as a naive datetime and renders as epoch micros."""
    if value is None:
        return NULL
    if kind == "bool":
        return "true" if value else "false"
    if kind == "ts_micros" and isinstance(value, datetime):
        return str((value - _EPOCH) // timedelta(microseconds=1))
    return str(value)


def row_hash(row: dict, columns) -> int:
    text = "|".join(render(row.get(c), kind) for c, kind in columns)
    return zlib.crc32(text.encode("utf-8"))


def checksum(rows, columns) -> tuple[int, int]:
    """``(row count, sum of row CRC-32s)`` — independent of row order."""
    n = 0
    total = 0
    for row in rows:
        n += 1
        total += row_hash(row, columns)
    return n, total


class UpsertModel:
    """Expected contents of keyed tables, fed event by event, with each
    table's checksum kept up to date as rows are replaced."""

    def __init__(self, key: str, columns) -> None:
        self.key = key
        self.columns = columns
        self.rows: dict[str, dict] = {}
        self._rank: dict[str, dict] = {}
        self._sum: dict[str, int] = {}
        self._arrival = 0

    def apply(self, events) -> None:
        for dest, payload in events:
            if dest.startswith(HEARTBEAT_PREFIX):
                continue
            self._arrival += 1
            table = self.rows.setdefault(dest, {})
            ranks = self._rank.setdefault(dest, {})
            k = payload[self.key]
            rank = (
                payload["__source_ts_ns"],
                _OP_PRIORITY.get(payload["__op"], 1),
                self._arrival,
            )
            old = ranks.get(k)
            if old is not None and rank <= old:
                continue
            s = self._sum.get(dest, 0)
            if old is not None:
                s -= row_hash(table[k], self.columns)
            ranks[k] = rank
            table[k] = payload
            self._sum[dest] = s + row_hash(payload, self.columns)

    def table(self, dest: str) -> list[dict]:
        return list(self.rows.get(dest, {}).values())

    def get(self, dest: str, key) -> dict | None:
        return self.rows.get(dest, {}).get(key)

    def checksum(self, dest: str) -> tuple[int, int]:
        return len(self.rows.get(dest, {})), self._sum.get(dest, 0)


def replay_append(events) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for dest, payload in events:
        if dest.startswith(HEARTBEAT_PREFIX):
            continue
        out.setdefault(dest, []).append(payload)
    return out


def spark_checksum(df, columns) -> tuple[int, int]:
    """The same checksum computed by Spark over a table DataFrame: one
    aggregate, nothing collected but two numbers."""
    from pyspark.sql import functions as F

    parts = []
    for c, kind in columns:
        col = F.col(c)
        if kind == "ts_micros":
            # TIMESTAMP_NTZ -> epoch micros; the session zone is UTC
            col = F.unix_micros(col.cast("timestamp"))
        parts.append(F.coalesce(col.cast("string"), F.lit(NULL)))
    r = df.select(F.crc32(F.concat_ws("|", *parts)).alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")
    ).collect()[0]
    return int(r["n"]), int(r["s"] or 0)


def rendered(row: dict | None, columns) -> tuple | None:
    """A row's checksum columns as text, for comparing single rows."""
    if row is None:
        return None
    return tuple(render(row.get(c), kind) for c, kind in columns)
