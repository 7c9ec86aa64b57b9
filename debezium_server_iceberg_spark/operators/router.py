"""Destination routing + heartbeat filtering (operators P1, P2, P6).

The reference groups each batch by destination topic
(IcebergChangeConsumer.java:142-154) and drops ``__debezium-heartbeat*``
topics (:186-189).  Spark-first: the batch stays one DataFrame; routing is
ONE distinct() probe over (destination, tombstone flag, embedded value/key
schema texts) — low cardinality by design — that yields the destination
list and, per destination, everything the driver needs to infer its schema
without another job; the writes are per-destination filters — Catalyst
pushes the equality filter into the scan, so each table's write touches
only its rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def filter_heartbeats(
    df: DataFrame,
    dest_col: str = "destination",
    heartbeat_prefix: str = "__debezium-heartbeat",
) -> DataFrame:
    return df.filter(~F.col(dest_col).startswith(heartbeat_prefix))


SchemaPair = tuple[str | None, str | None]


def destinations(
    df: DataFrame, dest_col: str = "destination"
) -> dict[str, list[SchemaPair]]:
    """The batch's routing probe: one distinct-collect, bounded by
    (destinations x distinct embedded schemas) — a few rows per source
    table, not per event.

    Returns ``destination -> sorted distinct (value schema, key schema)
    texts`` of the destination's non-tombstone rows, keyed in sorted
    destination order (deterministic per-table commit order across runs
    and replays).  An empty list means every row of that destination is a
    null-value Kafka tombstone; a ``None`` value-schema text is an event
    without an embedded schema."""
    rows = (
        df.select(
            F.col(dest_col),
            F.col("value").isNull().alias("tomb"),
            F.get_json_object(F.col("value"), "$.schema").alias("vs"),
            F.get_json_object(F.col("key"), "$.schema").alias("ks"),
        )
        .distinct()
        .collect()
    )
    out: dict[str, set[SchemaPair]] = {}
    for dest, tomb, vs, ks in rows:
        pairs = out.setdefault(dest, set())
        if not tomb:
            pairs.add((vs, ks))
    return {
        d: sorted(out[d], key=lambda p: (p[0] or "", p[1] or ""))
        for d in sorted(out)
    }


def is_schema_change_topic(df: DataFrame) -> bool:
    """P6: value containing ddl+databaseName+tableChanges -> append-only
    schema topic (JsonEventConverter.java:182-185)."""
    names = set(df.columns)
    return {"ddl", "databaseName", "tableChanges"}.issubset(names)


def for_destination(df: DataFrame, dest: str, dest_col: str = "destination") -> DataFrame:
    return df.filter(F.col(dest_col) == F.lit(dest))
