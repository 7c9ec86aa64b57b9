"""MongoDB-source event shape through the envelope path.

The reference has a dedicated Mongo test
(IcebergChangeConsumerMongodbTest.java:55-66): the MongoDbConnector with
the ExtractNewDocumentState SMT emits UNWRAPPED documents whose primary
key is the string ``_id`` (the connector's key field is renamed
``id -> _id`` via ReplaceField, and ``add.fields=op,source.ts_ns,db``
rides the metadata in).  Nothing in the engine's envelope path is
RDBMS-specific, but until now no fixture exercised this shape — string
PK, schemaless optional fields, unwrap-SMT metadata — end to end."""

import json

from fixtures import make_event

from debezium_server_iceberg_spark.config import EngineConfig
from debezium_server_iceberg_spark.sources.debezium_json import RAW_ENVELOPE_SCHEMA
from debezium_server_iceberg_spark.streaming.consumer import ChangeConsumer

DEST = "testc.inventory.products"
TABLE = "testc_inventory_products"


def mongo_event(oid: str, doc: dict, op: str = "c", ts_ms: int = 0) -> dict:
    """ExtractNewDocumentState output: the unwrapped document with a
    string ``_id`` and the SMT's added metadata fields."""
    payload = {"_id": oid, **doc, "__db": "inventory"}
    return make_event(
        DEST,
        payload,
        key_fields=["_id"],
        op=op,
        source_ts_ms=ts_ms,
    )


def build(warehouse, **kw):
    cfg = EngineConfig()
    cfg.iceberg.warehouse = warehouse
    cfg.iceberg.namespace = "debeziumevents"
    for k, v in kw.items():
        setattr(cfg.iceberg, k, v)
    return ChangeConsumer(cfg)


def df(spark, rows):
    return spark.createDataFrame(rows, RAW_ENVELOPE_SCHEMA)


def test_mongo_unwrapped_documents_upsert_on_string_id(spark, warehouse):
    """Four products arrive, one is updated, one deleted — upsert keyed
    on the STRING ``_id`` (the reference test's >=4 non-null ``_id``
    assertion, sharpened to exact state)."""
    oids = [f"64b{i:021x}" for i in range(4)]  # ObjectId-like hex strings
    c = build(warehouse, upsert_keep_deletes=False)  # hard-delete semantics
    c.handle_batch(
        df(
            spark,
            [
                mongo_event(oids[0], {"name": "scooter", "quantity": 3}, "c", 1),
                mongo_event(oids[1], {"name": "car battery"}, "c", 1),
                mongo_event(oids[2], {"name": "hammer", "weight": 0.75}, "c", 1),
                mongo_event(oids[3], {"name": "rocks"}, "c", 1),
            ],
        ),
        epoch_id=0,
    )
    got = c.table_df(spark, TABLE)
    assert got.filter("_id is not null").count() == 4  # the reference assert
    # string PK upsert: update one doc, hard-delete another
    c.handle_batch(
        df(
            spark,
            [
                mongo_event(oids[0], {"name": "scooter", "quantity": 9}, "u", 2),
                mongo_event(oids[3], {"name": "rocks"}, "d", 2),
            ],
        ),
        epoch_id=1,
    )
    rows = {
        r["_id"]: r.asDict() for r in c.table_df(spark, TABLE).collect()
    }
    assert set(rows) == {oids[0], oids[1], oids[2]}
    assert rows[oids[0]]["quantity"] == 9
    # schemaless documents: fields absent from a doc surface as nulls
    assert rows[oids[1]]["quantity"] is None
    assert abs(rows[oids[2]]["weight"] - 0.75) < 1e-9
    # identifier fields derive from the renamed key (id -> _id)
    table = c.catalog.load_table("debeziumevents", TABLE)
    assert table.metadata().identifier_fields == ["_id"]
    # the unwrap SMT's added field rode through
    assert rows[oids[0]]["__db"] == "inventory"


def test_mongo_schemaless_field_addition(spark, warehouse):
    """A later document carrying a NEVER-SEEN field evolves the schema
    (Mongo's schemaless reality; union-by-name evolution)."""
    c = build(warehouse)
    c.handle_batch(
        df(spark, [mongo_event("a" * 24, {"name": "x"}, "c", 1)]), epoch_id=0
    )
    c.handle_batch(
        df(
            spark,
            [mongo_event("b" * 24, {"name": "y", "tags": "new,field"}, "c", 2)],
        ),
        epoch_id=1,
    )
    got = {r["_id"]: r.asDict() for r in c.table_df(spark, TABLE).collect()}
    assert got["b" * 24]["tags"] == "new,field"
    assert got["a" * 24]["tags"] is None


def test_mongo_soft_delete_keeps_tombstone(spark, warehouse):
    """Soft-delete mode surfaces Mongo deletes as __deleted=true rows —
    the audit-trail shape (reference upsert-keep-deletes config)."""
    c = build(warehouse, upsert_keep_deletes=True)
    c.handle_batch(
        df(spark, [mongo_event("c" * 24, {"name": "z"}, "c", 1)]), epoch_id=0
    )
    c.handle_batch(
        df(spark, [mongo_event("c" * 24, {"name": "z"}, "d", 2)]), epoch_id=1
    )
    rows = c.table_df(spark, TABLE).collect()
    assert len(rows) == 1
    assert rows[0]["__deleted"] is True


def test_mongo_key_payload_is_string_typed(spark, warehouse):
    """The fixture's key JSON really is the post-ReplaceField Mongo shape:
    a single string field named _id (guards the fixture itself)."""
    ev = mongo_event("d" * 24, {"name": "k"})
    key = json.loads(ev["key"])
    assert [f["field"] for f in key["schema"]["fields"]] == ["_id"]
    assert [f["type"] for f in key["schema"]["fields"]] == ["string"]
    assert key["payload"]["_id"] == "d" * 24


def test_kafka_tombstone_in_batch_is_skipped_not_poison(spark, warehouse):
    """A Kafka delete TOMBSTONE (null value) anywhere in a batch must not
    fail it: tombstones are log-compaction markers; the delete itself is
    the preceding op='d' event.  Before the fix, infer_batch_schema
    raised on the tombstone's null embedded schema (and the upsert path
    would have tripped assert_no_null_keys on its all-null payload) —
    and foreachBatch replay made it a permanent poison pill."""
    oid = "e" * 24
    tombstone = {"destination": DEST, "key": json.dumps({"payload": {"_id": oid}}), "value": None}
    c = build(warehouse, upsert_keep_deletes=True)
    c.handle_batch(
        df(
            spark,
            [
                mongo_event(oid, {"name": "t"}, "c", 1),
                mongo_event(oid, {"name": "t"}, "d", 2),
                tombstone,
            ],
        ),
        epoch_id=0,
    )
    rows = c.table_df(spark, TABLE).collect()
    assert len(rows) == 1 and rows[0]["__deleted"] is True


def test_infer_batch_schema_skips_tombstones_raises_on_none(spark):
    """Direct-API contract over the routing probe's (value schema, key
    schema) texts: null value texts (tombstones, schemaless events) are
    skipped; a non-empty input with ZERO embedded schemas still raises."""
    import pytest

    from debezium_server_iceberg_spark.operators.router import destinations
    from debezium_server_iceberg_spark.sources.debezium_json import infer_batch_schema

    probe = destinations(df(spark, [mongo_event("f" * 24, {"name": "s"}, "c", 1)]))
    inferred = infer_batch_schema(probe[DEST] + [(None, None)])
    assert "name" in [f.name for f in inferred.struct.fields]
    with pytest.raises(ValueError, match="no event in the batch"):
        infer_batch_schema([(None, None)])


def test_tombstone_only_destination_reports_zero_creates_no_table(spark, warehouse):
    """A destination whose rows are all null-value tombstones is routed
    (reported with 0 rows) but never inferred, parsed or created."""
    other = "testc.inventory.orders"
    c = build(warehouse)
    res = c.handle_batch(
        df(
            spark,
            [
                {"destination": other, "key": json.dumps({"payload": {"_id": "x"}}), "value": None},
                {"destination": other, "key": None, "value": None},
                mongo_event("a" * 24, {"name": "x"}, "c", 1),
            ],
        ),
        epoch_id=0,
    )
    assert res.tables_written == {other: 0, DEST: 1}
    assert c.catalog.list_tables("debeziumevents") == [TABLE]


def test_mongo_mixed_documents_in_one_batch_union(spark, warehouse):
    """Per-document field sets inside ONE batch union by name: the probe
    carries every distinct schema text of the destination."""
    c = build(warehouse)
    c.handle_batch(
        df(
            spark,
            [
                mongo_event("a" * 24, {"name": "x"}, "c", 1),
                mongo_event("b" * 24, {"name": "y", "tags": "t"}, "c", 1),
                mongo_event("c" * 24, {"qty": 3}, "c", 1),
            ],
        ),
        epoch_id=0,
    )
    got = {r["_id"]: r.asDict() for r in c.table_df(spark, TABLE).collect()}
    assert {k: (v["name"], v["tags"], v["qty"]) for k, v in got.items()} == {
        "a" * 24: ("x", None, None),
        "b" * 24: ("y", "t", None),
        "c" * 24: (None, None, 3),
    }


def test_field_addition_disabled_pins_first_sorted_schema(spark, warehouse, tmp_path):
    """allow_field_addition=False: the table takes ONE event's schema —
    the first in sorted schema-text order, whatever the row order — and
    fields only other events carry are dropped, not unioned."""
    from debezium_server_iceberg_spark.operators.router import destinations
    from debezium_server_iceberg_spark.sources.debezium_json import infer_event_schema

    rows = [
        mongo_event("a" * 24, {"name": "x", "tags": "t"}, "c", 1),
        mongo_event("b" * 24, {"name": "y"}, "c", 1),
        mongo_event("c" * 24, {"name": "z", "qty": 3}, "c", 1),
    ]
    vs, _ = destinations(df(spark, rows))[DEST][0]
    want = [f.name for f in infer_event_schema({"schema": json.loads(vs)}).struct.fields]
    assert not {"tags", "qty"} <= set(want)
    for i, order in enumerate((rows, rows[::-1], rows[1:] + rows[:1])):
        c = build(str(tmp_path / f"wh{i}"), allow_field_addition=False)
        c.handle_batch(df(spark, order), epoch_id=0)
        t = c.table_df(spark, TABLE)
        assert t.columns == want
        assert t.count() == 3
