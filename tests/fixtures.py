"""Synthetic Debezium-envelope event builders.

Python analogue of the reference's test builders
(converter/EventFactory.java:70-140, JsonBuilder.java): produce
``(destination, key, value)`` envelope rows with embedded schemas, flattened
by the unwrap SMT (metadata columns __op/__source_ts_ms/__source_ts_ns/
__deleted — FIXTURES.md §0).
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from typing import Any

@contextlib.contextmanager
def process_tz(tz: str):
    """Run the block with the driver PROCESS timezone set to ``tz`` (the
    Spark session timezone is left alone); restored in ``finally``."""
    prev = os.environ.get("TZ")
    os.environ["TZ"] = tz
    time.tzset()
    try:
        yield
    finally:
        if prev is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = prev
        time.tzset()


_TYPE_MAP = {
    int: "int64",
    float: "float64",
    bool: "boolean",
    str: "string",
}


def _schema_field(name: str, value: Any, type_hint: str | None = None) -> dict:
    if type_hint:
        if ":" in type_hint:  # semantic, e.g. "int64:io.debezium.time.Timestamp"
            t, sem = type_hint.split(":", 1)
            return {"field": name, "type": t, "name": sem, "optional": True}
        return {"field": name, "type": type_hint, "optional": True}
    if value is None:
        return {"field": name, "type": "string", "optional": True}
    if isinstance(value, bool):
        return {"field": name, "type": "boolean", "optional": True}
    if isinstance(value, dict):
        return {
            "field": name,
            "type": "struct",
            "fields": [_schema_field(k, v) for k, v in value.items()],
            "optional": True,
        }
    if isinstance(value, list):
        item = value[0] if value else "x"
        return {
            "field": name,
            "type": "array",
            "items": _schema_field("item", item),
            "optional": True,
        }
    return {"field": name, "type": _TYPE_MAP.get(type(value), "string"), "optional": True}


def make_event(
    destination: str,
    payload: dict[str, Any],
    key_fields: list[str] | None = None,
    op: str = "c",
    source_ts_ms: int = 0,
    type_hints: dict[str, str] | None = None,
    with_metadata: bool = True,
) -> dict:
    """One envelope row: {"destination", "key", "value"} JSON strings."""
    hints = type_hints or {}
    full = dict(payload)
    if with_metadata:
        full.setdefault("__op", op)
        full.setdefault("__source_ts_ms", source_ts_ms)
        full.setdefault("__source_ts_ns", source_ts_ms * 1_000_000)
        full.setdefault("__deleted", op == "d")
    value_schema = {
        "type": "struct",
        "fields": [_schema_field(k, v, hints.get(k)) for k, v in full.items()],
    }
    value = {"schema": value_schema, "payload": full}
    row: dict[str, Any] = {"destination": destination, "value": json.dumps(value)}
    if key_fields:
        key_schema = {
            "type": "struct",
            "fields": [_schema_field(k, full.get(k), hints.get(k)) for k in key_fields],
        }
        row["key"] = json.dumps(
            {"schema": key_schema, "payload": {k: full.get(k) for k in key_fields}}
        )
    else:
        row["key"] = None
    return row


def write_jsonl(rows: list[dict], path: str) -> str:
    with open(path, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")
    return path


def customer_event(
    cid: int,
    first_name: str = "x",
    op: str = "c",
    ts_ms: int = 0,
    destination: str = "testc.inventory.customers_upsert",
    extra: dict | None = None,
) -> dict:
    """FIXTURES.md §2 shape: id int32 PK + first_name + metadata."""
    payload = {"id": cid, "first_name": first_name}
    if extra:
        payload.update(extra)
    return make_event(
        destination,
        payload,
        key_fields=["id"],
        op=op,
        source_ts_ms=ts_ms,
        type_hints={"id": "int32"},
    )
