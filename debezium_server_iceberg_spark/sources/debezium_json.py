"""Debezium-JSON event source (operators S1/S2).

Raw transport rows carry ``(destination, key, value)`` where key/value are
Debezium-envelope JSON strings ``{"schema": ..., "payload": ...}``
(schemas.enable=true, DebeziumConfig.java:41-47).  The reference
deserializes row-at-a-time into JsonNode (JsonEventConverter.java:56-97);
here the whole batch is parsed columnar with one ``from_json`` against a
*wire* schema derived from the embedded schema document of a sample event,
then normalized to the target Spark types with built-in expressions
(the datum-conversion table of AbstractEventConverter.java:86-361 re-expressed
as ``timestamp_millis`` / ``to_timestamp`` / ``unbase64`` / casts — no Python
in the row path).

Transport: JSONL files (batch + file-stream for Structured Streaming tests)
and any DataFrame bearing the same three columns (e.g. a Kafka source with
``selectExpr("topic as destination", "cast(key as string)",
"cast(value as string)")`` — kafka jars not present in this image, so that
path is config-documented, not hard-wired).
"""

from __future__ import annotations

import json
from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..schema.converter import DebeziumSchemaConverter, InferredSchema

RAW_ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("destination", T.StringType(), False),
        T.StructField("key", T.StringType(), True),
        T.StructField("value", T.StringType(), True),
    ]
)


def read_events_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Batch-read a JSONL transport file of raw envelope rows."""
    return spark.read.schema(RAW_ENVELOPE_SCHEMA).json(path)


def read_events_stream(spark: SparkSession, path: str, max_files: int | None = None) -> DataFrame:
    """File-stream source of raw envelope rows (micro-batching T1: each new
    file = one batch unit; ``maxFilesPerTrigger`` plays the role of
    max.batch.size, BatchConfig.java:16-18)."""
    reader = spark.readStream.schema(RAW_ENVELOPE_SCHEMA)
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    return reader.json(path)


def kafka_to_envelope(kafka_df: DataFrame) -> DataFrame:
    """Kafka wire rows -> raw envelope rows (the S1 transport contract).

    Works on any DataFrame bearing Kafka's source schema (topic string,
    key/value binary, plus partition/offset/timestamp metadata, which are
    dropped): Debezium topic = routing destination, key/value = UTF-8 JSON
    envelope bytes.  Null tombstone values pass through as null ``value``
    (the consumer's heartbeat/route filters handle them downstream)."""
    return kafka_df.selectExpr(
        "topic AS destination",
        "CAST(key AS STRING) AS key",
        "CAST(value AS STRING) AS value",
    )


def read_events_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: str,
    max_offsets_per_trigger: int | None = None,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Streaming Kafka source of raw envelope rows.

    Needs the spark-sql-kafka connector jar on the classpath (not bundled in
    this environment — the reader builds lazily, so construction succeeds and
    stream start raises a clear error if the jar is absent).
    ``maxOffsetsPerTrigger`` is max.batch.size (BatchConfig.java:16-18)."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topics)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger:
        reader = reader.option("maxOffsetsPerTrigger", max_offsets_per_trigger)
    return kafka_to_envelope(reader.load())


# --------------------------------------------------------------- inference


def infer_event_schema(
    sample_value: str | dict,
    sample_key: str | dict | None = None,
    converter: DebeziumSchemaConverter | None = None,
) -> InferredSchema:
    """Infer the target schema from one sample event (the reference derives
    the Iceberg schema from a sample event at table-creation time,
    IcebergChangeConsumer.java:316-389)."""
    conv = converter or DebeziumSchemaConverter()
    v = json.loads(sample_value) if isinstance(sample_value, str) else sample_value
    k = json.loads(sample_key) if isinstance(sample_key, str) else sample_key
    vschema = v.get("schema")
    if vschema is None:
        raise ValueError(
            "event has no embedded schema; enable debezium.format.value.schemas.enable"
        )
    kschema = k.get("schema") if k else None
    return conv.convert(vschema, kschema)


def infer_batch_schema(
    pairs: Iterable[tuple[str | None, str | None]],
    converter: DebeziumSchemaConverter | None = None,
) -> InferredSchema:
    """Infer the target schema from the UNION of a batch's DISTINCT
    embedded ``(value schema, key schema)`` texts — the schemaless-source
    path.  The texts come from the batch's routing probe
    (``operators.router.destinations``), so inference itself runs no
    Spark job.

    RDBMS topics carry one schema per batch, but a Mongo source through
    ExtractNewDocumentState emits per-DOCUMENT field sets
    (IcebergChangeConsumerMongodbTest.java:55-66): sampling one event
    would silently drop any field that only other events of the batch
    carry.  The tiny distinct set converts driver-side and merges
    union-by-name with the same widening lattice table evolution uses.
    Merge order is sorted-schema-text, so the resulting field order is
    deterministic across retries/replays.

    A null value-schema text (a Kafka delete TOMBSTONE, or an event
    without an embedded schema) is SKIPPED, not fatal: raising on any
    null would turn one tombstone anywhere in a batch into a permanent
    poison pill (foreachBatch replays the same data).  The
    no-embedded-schema error fires only when a non-empty input yields
    ZERO embedded schemas."""
    from ..schema.evolution import merge_schemas

    conv = converter or DebeziumSchemaConverter()
    pairs = sorted(pairs, key=lambda p: (p[0] or "", p[1] or ""))
    merged: InferredSchema | None = None
    saw_rows = False
    for vs, ks in pairs:
        saw_rows = True
        if vs is None:
            continue  # tombstone (null value) or schemaless event: skip
        one = conv.convert(json.loads(vs), json.loads(ks) if ks else None)
        if merged is None:
            merged = one
        else:
            merged = InferredSchema(
                struct=merge_schemas(merged.struct, one.struct),
                # first-seen semantic wins on a (pathological) conflict
                semantics={**one.semantics, **merged.semantics},
                key_fields=merged.key_fields or one.key_fields,
            )
    if merged is None:
        if saw_rows:
            raise ValueError(
                "no event in the batch has an embedded schema; enable "
                "debezium.format.value.schemas.enable"
            )
        raise ValueError("cannot infer a schema from an empty batch")
    return merged


# ------------------------------------------------------------- wire schema

_WIRE_OVERRIDES = {
    "date_days": T.IntegerType(),
    "date_iso": T.StringType(),
    "ts_millis": T.LongType(),
    "ts_micros": T.LongType(),
    "ts_nanos": T.LongType(),
    "ts_millis_tz": T.LongType(),
    "ts_iso": T.StringType(),
    "ts_zoned_iso": T.StringType(),
    "binary_b64": T.StringType(),
    "uuid": T.StringType(),
    # variant fields are extracted from the raw envelope text, not from_json
    "variant": T.StringType(),
}


def wire_struct(inferred: InferredSchema) -> T.StructType:
    """Schema used for ``from_json``: temporal/binary fields at their wire
    representation (int64 epoch / ISO string / base64 string)."""
    fields = []
    for f in inferred.struct.fields:
        sem = inferred.semantics.get(f.name, "")
        if sem in _WIRE_OVERRIDES:
            wt: T.DataType = _WIRE_OVERRIDES[sem]
        elif sem.startswith(("decimal_b64", "decimal_dbl")):
            wt = T.StringType()
        else:
            wt = f.dataType
        fields.append(T.StructField(f.name, wt, True))
    return T.StructType(fields)


def _normalize(name: str, sem: str, target: T.DataType) -> F.Column:
    c = F.col(f"_payload.{name}")
    if sem == "date_days":
        return F.date_add(F.lit("1970-01-01").cast("date"), c)
    if sem == "date_iso":
        return F.to_date(c)
    if sem == "ts_millis":
        return F.timestamp_millis(c).cast(T.TimestampNTZType())
    if sem == "ts_micros":
        return F.timestamp_micros(c).cast(T.TimestampNTZType())
    if sem == "ts_nanos":
        return F.timestamp_micros((c / 1000).cast("long")).cast(T.TimestampNTZType())
    if sem == "ts_millis_tz":
        return F.timestamp_millis(c)
    if sem == "ts_iso":
        return F.to_timestamp_ntz(c)
    if sem == "ts_zoned_iso":
        return F.to_timestamp(c)
    if sem == "binary_b64":
        return F.unbase64(c)
    if sem.startswith("decimal_b64"):
        # precise decimals arrive as plain number-strings or base64 bytes
        # (JsonEventConverter handling, AbstractEventConverter.java:86-104).
        # Number-string path is columnar; base64 two's-complement needs bigint
        # byte decoding — conv(hex) covers magnitudes < 2^63 (documented limit).
        _, p, s = sem.split(":")
        dec = T.DecimalType(int(p), int(s))
        is_numeric = c.rlike(r"^-?[0-9]+(\.[0-9]+)?$")
        from_b64 = (
            F.conv(F.hex(F.unbase64(c)), 16, 10).cast(T.DecimalType(38, 0))
            / F.pow(F.lit(10.0), F.lit(int(s)))
        ).cast(dec)
        return F.when(is_numeric, c.cast(dec)).otherwise(from_b64)
    if sem.startswith("decimal_dbl"):
        # double decimal mode: same two wire forms, surfaced as double
        _, s = sem.split(":")
        is_numeric = c.rlike(r"^-?[0-9]+(\.[0-9]+)?$")
        from_b64 = F.conv(F.hex(F.unbase64(c)), 16, 10).cast("double") / F.pow(
            F.lit(10.0), F.lit(int(s))
        )
        return F.when(is_numeric, c.cast("double")).otherwise(from_b64)
    return c.cast(target)


def parse_events(raw: DataFrame, inferred: InferredSchema, op_col: str = "__op") -> DataFrame:
    """Raw envelope rows -> typed event rows (one columnar pass).

    Output columns: the inferred table columns; ``destination`` retained for
    routing. Extra payload fields absent from the inferred schema are dropped
    (P4 projection is inherent to ``from_json``)."""
    wire = wire_struct(inferred)
    # single JSON parse: the envelope is deserialized once with the payload
    # struct nested inside it (2x faster than get_json_object + from_json,
    # which tokenizes every value string twice)
    envelope = F.from_json(
        F.col("value"), T.StructType([T.StructField("payload", wire, True)])
    )
    df = raw.withColumn("_payload", envelope["payload"])
    cols = [F.col("destination")]
    for f in inferred.struct.fields:
        sem = inferred.semantics.get(f.name, "")
        if sem == "variant":
            # variant mode: raw JSON text of the nested field -> VariantType
            # (JsonVariantObject.java:44-120 equivalent, parsed not rebuilt)
            cols.append(
                F.parse_json(
                    F.get_json_object(F.col("value"), f"$.payload.{f.name}")
                ).alias(f.name)
            )
        elif sem == "variant_json":
            # legacy JSON-text carrier mode
            cols.append(
                F.get_json_object(F.col("value"), f"$.payload.{f.name}").alias(f.name)
            )
        else:
            cols.append(_normalize(f.name, sem, f.dataType).alias(f.name))
    return df.select(*cols)
