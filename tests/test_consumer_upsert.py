"""End-to-end consumer scenarios re-expressing the reference's upsert tests
(IcebergChangeConsumerUpsertTest.java:44-210,
IcebergChangeConsumerUpsertDeleteDeletesTest.java:40-134,
IcebergChangeConsumerTest field-addition :361-430)."""

import pytest

from debezium_server_iceberg_spark.config import EngineConfig
from debezium_server_iceberg_spark.functions.incremental import (
    EpochRegressionError,
    reset_epoch,
)
from debezium_server_iceberg_spark.streaming.consumer import ChangeConsumer
from tests.fixtures import customer_event, make_event, process_tz

DEST = "testc.inventory.customers_upsert"
TABLE = "testc_inventory_customers_upsert"


def build_consumer(warehouse, **iceberg_kw):
    cfg = EngineConfig()
    cfg.iceberg.warehouse = warehouse
    cfg.iceberg.namespace = "debeziumevents"
    for k, v in iceberg_kw.items():
        setattr(cfg.iceberg, k, v)
    return ChangeConsumer(cfg)


def to_df(spark, rows):
    from debezium_server_iceberg_spark.sources.debezium_json import RAW_ENVELOPE_SCHEMA

    return spark.createDataFrame(rows, RAW_ENVELOPE_SCHEMA)


def read_table(consumer, spark, table=TABLE):
    return consumer.table_df(spark, table)


def test_upsert_multiop_batch(spark, warehouse):
    c = build_consumer(warehouse)
    rows = [
        customer_event(1, "a", op="c", ts_ms=1),
        customer_event(1, "a2", op="u", ts_ms=2),
        customer_event(2, "b", op="c", ts_ms=1),
        customer_event(3, "c", op="c", ts_ms=1),
        customer_event(3, None, op="d", ts_ms=2),
    ]
    c.handle_batch(to_df(spark, rows))
    got = {r["id"]: r for r in read_table(c, spark).collect()}
    assert got[1]["first_name"] == "a2" and got[1]["__op"] == "u"
    assert got[2]["first_name"] == "b"
    # keep-deletes=true: delete survives as soft-delete row (__op='d')
    assert got[3]["__op"] == "d" and got[3]["__deleted"] is True
    assert len(got) == 3


def test_op_priority_tie_at_same_ts(spark, warehouse):
    # r -> d -> c -> u all at one ts resolves to u (op priority i=1<r=2<u=3<d=4
    # ... d wins priority; reference scenario says at equal ts the priority
    # order c,i=1 r=2 u=3 d=4 -> d highest. FIXTURES.md says resolves to u?
    # The reference comparator keeps max by (ts, priority): d(4) > u(3).
    c = build_consumer(warehouse)
    rows = [
        customer_event(7, "r", op="r", ts_ms=5),
        customer_event(7, "d", op="d", ts_ms=5),
        customer_event(7, "c", op="c", ts_ms=5),
        customer_event(7, "u", op="u", ts_ms=5),
    ]
    c.handle_batch(to_df(spark, rows))
    got = read_table(c, spark).collect()
    assert len(got) == 1
    assert got[0]["__op"] == "d"


def test_hard_delete_mode(spark, warehouse):
    c = build_consumer(warehouse, upsert_keep_deletes=False)
    c.handle_batch(
        to_df(
            spark,
            [
                customer_event(1, "a", op="c", ts_ms=1),
                customer_event(2, "b", op="c", ts_ms=1),
            ],
        )
    )
    c.handle_batch(
        to_df(
            spark,
            [
                customer_event(1, None, op="d", ts_ms=2),
                customer_event(3, "c", op="c", ts_ms=2),
                customer_event(3, None, op="d", ts_ms=3),  # in-batch insert+delete
            ],
        )
    )
    got = {r["id"] for r in read_table(c, spark).collect()}
    assert got == {2}


def test_cross_batch_update(spark, warehouse):
    c = build_consumer(warehouse)
    c.handle_batch(to_df(spark, [customer_event(i, f"v{i}", op="c", ts_ms=1) for i in range(10)]))
    c.handle_batch(to_df(spark, [customer_event(5, "updated", op="u", ts_ms=2)]))
    got = {r["id"]: r["first_name"] for r in read_table(c, spark).collect()}
    assert got[5] == "updated"
    assert len(got) == 10


def test_composite_key(spark, warehouse):
    c = build_consumer(warehouse)
    rows = [
        make_event(DEST, {"id": 1, "first_name": "a", "x": 1}, ["id", "first_name"], "c", 1),
        make_event(DEST, {"id": 1, "first_name": "b", "x": 2}, ["id", "first_name"], "c", 1),
        make_event(DEST, {"id": 1, "first_name": "a", "x": 9}, ["id", "first_name"], "u", 2),
    ]
    c.handle_batch(to_df(spark, rows))
    got = {(r["id"], r["first_name"]): r["x"] for r in read_table(c, spark).collect()}
    assert got == {(1, "a"): 9, (1, "b"): 2}


def test_no_key_falls_back_to_append(spark, warehouse):
    c = build_consumer(warehouse)
    rows = [
        make_event(DEST, {"id": 1, "first_name": "a"}, None, "c", 1),
        make_event(DEST, {"id": 1, "first_name": "a"}, None, "c", 1),
    ]
    c.handle_batch(to_df(spark, rows))
    # duplicates survive: append mode (IcebergTableWriterFactory.java:51-56)
    assert read_table(c, spark).count() == 2


def test_schema_evolution_field_addition(spark, warehouse):
    c = build_consumer(warehouse)
    c.handle_batch(to_df(spark, [customer_event(1, "a", op="c", ts_ms=1)]))
    c.handle_batch(
        to_df(
            spark,
            [customer_event(2, "b", op="c", ts_ms=2, extra={"new_col": "hello"})],
        )
    )
    df = read_table(c, spark)
    assert "new_col" in df.columns
    got = {r["id"]: r["new_col"] for r in df.collect()}
    assert got == {1: None, 2: "hello"}


def test_heartbeat_filtered_and_multi_destination(spark, warehouse):
    c = build_consumer(warehouse)
    rows = [
        customer_event(2, "b", op="c", ts_ms=1, destination="testc.inventory.t_b"),
        customer_event(1, "a", op="c", ts_ms=1, destination="testc.inventory.t_a"),
        make_event("__debezium-heartbeat.x", {"id": 9}, ["id"], "c", 1),
    ]
    res = c.handle_batch(to_df(spark, rows))
    # tables commit in sorted destination order, whatever the batch order
    assert list(res.tables_written.items()) == [
        ("testc.inventory.t_a", 1),
        ("testc.inventory.t_b", 1),
    ]
    assert c.catalog.list_tables("debeziumevents") == [
        "testc_inventory_t_a",
        "testc_inventory_t_b",
    ]


def test_upsert_is_idempotent_per_key(spark, warehouse):
    # re-delivering the same batch (streaming retry) must not duplicate rows
    c = build_consumer(warehouse)
    rows = [customer_event(i, f"v{i}", op="c", ts_ms=1) for i in range(5)]
    c.handle_batch(to_df(spark, rows))
    c.handle_batch(to_df(spark, rows))
    assert read_table(c, spark).count() == 5


def test_append_replay_epoch_guard(spark, warehouse):
    """Replayed micro-batch (same epoch_id) must not duplicate appended rows;
    the next epoch must append normally (exactly-once, SURVEY §7 risk)."""
    c = build_consumer(warehouse, upsert=False)
    batch = to_df(spark, [customer_event(1, "a", "c", 1), customer_event(2, "b", "c", 1)])
    c.handle_batch(batch, epoch_id=0)
    assert read_table(c, spark).count() == 2
    c.handle_batch(batch, epoch_id=0)  # replay after simulated crash
    assert read_table(c, spark).count() == 2
    c.handle_batch(to_df(spark, [customer_event(3, "z", "c", 2)]), epoch_id=1)
    assert read_table(c, spark).count() == 3
    # a regressed epoch (reset checkpoint, second writer query) fails
    # loudly instead of silently dropping its rows; after the operator's
    # reset_epoch the same epoch applies
    late = to_df(spark, [customer_event(99, "late", "c", 3)])
    with pytest.raises(EpochRegressionError):
        c.handle_batch(late, epoch_id=0)
    assert read_table(c, spark).count() == 3
    reset_epoch(spark, c.catalog.load_table("debeziumevents", TABLE))
    assert c.handle_batch(late, epoch_id=0).tables_written == {DEST: 1}
    assert read_table(c, spark).count() == 4


def test_per_table_partition_override(spark, warehouse):
    """partition-by config applied at auto-create (IcebergUtil.java:214-297,
    per-table override IcebergConfig.java:114-132): files land under hidden
    partition directories; absent columns are skipped (lenient mode)."""
    c = build_consumer(
        warehouse,
        upsert=False,
        partition_by={TABLE: "first_name, bucket(4, id), year(no_such_col)"},
    )
    c.handle_batch(
        to_df(
            spark,
            [customer_event(i, f"n{i % 2}", "c", 1) for i in range(6)],
        )
    )
    table = c.catalog.load_table("debeziumevents", TABLE)
    spec = [(p.source, p.transform) for p in table.metadata().partition_spec]
    assert spec == [("first_name", "identity"), ("id", "bucket")]
    files = table.current_files()
    assert files and all(
        "_p_first_name" in f.partition and "_p_bucket4_id" in f.partition
        for f in files
    )
    # partition pruning surface: distinct first_name partitions exist
    names = {f.partition["_p_first_name"] for f in files}
    assert names == {"n0", "n1"}
    assert read_table(c, spark).count() == 6


def test_auto_compaction_in_consumer_loop(spark, warehouse):
    """compact_every_commits: after N data commits the consumer bin-packs
    small files (docs/faq.md:5-7 made operational)."""
    c = build_consumer(
        warehouse, upsert=False, compact_every_commits=4, compact_min_input_files=2
    )
    for i in range(4):
        c.handle_batch(
            to_df(spark, [customer_event(10 * i + j, f"v{i}", "c", 1) for j in range(3)]),
            epoch_id=i,
        )
    table = c.catalog.load_table("debeziumevents", TABLE)
    ops = [s.operation for s in table.metadata().snapshots]
    assert ops.count("delta") >= 1  # the compaction rewrite committed
    assert read_table(c, spark).count() == 12
    # fewer live files than commits after bin-packing
    assert len(table.current_files()) < 4


def test_mor_upsert_rewrites_zero_files(spark, warehouse):
    """W7 parity: a small-touch merge-on-read upsert must append new data +
    an equality-delete file and rewrite NOTHING
    (IcebergTableWriterFactory.java:97-108, BaseDeltaTaskWriter.java:60-71)."""
    from debezium_server_iceberg_spark.lakehouse import LakeCatalog
    from debezium_server_iceberg_spark.operators.merge import merge_into

    cat = LakeCatalog(warehouse)
    schema = "id long, v string, __op string"
    base = spark.createDataFrame([(i, f"v{i}", "r") for i in range(20)], schema)
    t = cat.create_table("ns", "mor", base.schema, identifier_fields=["id"])
    merge_into(t, base, mode="merge-on-read")
    files_v1 = {f.path for f in t.current_files()}
    assert not t.current_deletes()  # first write into empty table: no deletes

    upd = spark.createDataFrame([(5, "updated", "u"), (99, "new", "c")], schema)
    stats = merge_into(t, upd, mode="merge-on-read")
    assert stats.rewritten_files == 0
    assert stats.mode == "merge-on-read"
    # every original data file is still live, plus the new ones
    paths_v2 = {f.path for f in t.current_files()}
    assert files_v1 <= paths_v2
    assert len(t.current_deletes()) == 1

    got = {r["id"]: r["v"] for r in t.to_df(spark).collect()}
    assert got[5] == "updated" and got[99] == "new" and len(got) == 21
    assert t.row_count() == 22  # physical rows: 20 + 2 appended (1 shadowed)


def test_mor_hard_and_soft_delete(spark, warehouse):
    from debezium_server_iceberg_spark.lakehouse import LakeCatalog
    from debezium_server_iceberg_spark.operators.merge import merge_into

    cat = LakeCatalog(warehouse)
    schema = "id long, v string, __op string"
    base = spark.createDataFrame([(i, f"v{i}", "r") for i in range(6)], schema)

    t = cat.create_table("ns", "mor_hard", base.schema, identifier_fields=["id"])
    merge_into(t, base, mode="merge-on-read")
    dels = spark.createDataFrame([(2, None, "d"), (4, None, "d")], schema)
    merge_into(t, dels, keep_deletes=False, mode="merge-on-read")
    assert {r["id"] for r in t.to_df(spark).collect()} == {0, 1, 3, 5}

    t2 = cat.create_table("ns", "mor_soft", base.schema, identifier_fields=["id"])
    merge_into(t2, base, mode="merge-on-read")
    merge_into(t2, dels, keep_deletes=True, mode="merge-on-read")
    got = {r["id"]: r["__op"] for r in t2.to_df(spark).collect()}
    assert len(got) == 6 and got[2] == "d" and got[4] == "d" and got[0] == "r"


def test_mor_time_travel_and_materialize(spark, warehouse):
    """Historical snapshots apply only their own delete files; materializing
    purges delete files and leaves identical query results."""
    from debezium_server_iceberg_spark.lakehouse import LakeCatalog
    from debezium_server_iceberg_spark.operators.merge import merge_into

    cat = LakeCatalog(warehouse)
    schema = "id long, v string, __op string"
    base = spark.createDataFrame([(i, f"v{i}", "r") for i in range(10)], schema)
    t = cat.create_table("ns", "mor_tt", base.schema, identifier_fields=["id"])
    merge_into(t, base, mode="merge-on-read")
    sid_v1 = t.metadata().current_snapshot_id

    for batch in range(3):
        upd = spark.createDataFrame(
            [(i, f"b{batch}", "u") for i in range(batch, 10, 3)], schema
        )
        merge_into(t, upd, mode="merge-on-read")
    assert len(t.current_deletes()) == 3

    # time travel: v1 predates every delete file
    assert {r["v"] for r in t.to_df(spark, snapshot_id=sid_v1).collect()} == {
        f"v{i}" for i in range(10)
    }
    expect = {r["id"]: r["v"] for r in t.to_df(spark).collect()}
    assert len(expect) == 10

    rewritten = t.materialize_deletes(spark)
    assert rewritten >= 1
    assert t.current_deletes() == []
    after = {r["id"]: r["v"] for r in t.to_df(spark).collect()}
    assert after == expect
    # second call is a no-op
    assert t.materialize_deletes(spark) == 0


def test_consumer_materializes_deletes_at_threshold(spark, warehouse):
    c = build_consumer(warehouse, rewrite_delete_files_min=2)
    c.handle_batch(to_df(spark, [customer_event(i, f"v{i}", "c", 1) for i in range(4)]))
    for ts in (2, 3, 4):
        c.handle_batch(to_df(spark, [customer_event(1, f"u{ts}", "u", ts)]))
    table = c.catalog.load_table("debeziumevents", TABLE)
    # the threshold fired at least once: fewer delete files than update batches
    assert len(table.current_deletes()) < 3
    got = {r["id"]: r["first_name"] for r in read_table(c, spark).collect()}
    assert got[1] == "u4" and len(got) == 4


@pytest.mark.parametrize(
    "fmt,mode",
    [("2", "copy-on-write"), ("3", "merge-on-read")],
    ids=["v2-copy-on-write", "v3-merge-on-read"],
)
def test_merge_partition_pruning(spark, warehouse, fmt, mode):
    """Upsert into a table partitioned by a key bucket: only files of
    partitions the batch touches participate in the rewrite (copy-on-write)
    or the position-delete probe (v3 merge-on-read) — both sinks share one
    planner.  Every bucket spans the whole id range, so bounds alone can't
    prune."""
    from debezium_server_iceberg_spark.operators.dedup import dedup_batch
    from debezium_server_iceberg_spark.operators.merge import merge_into
    from debezium_server_iceberg_spark.lakehouse import LakeCatalog, parse_partition_spec

    cat = LakeCatalog(warehouse)
    schema = "id long, grp string, v long, __op string, __source_ts_ms long"
    snap = spark.createDataFrame(
        [(i, f"g{i % 3}", i, "r", 0) for i in range(30)], schema
    )
    t = cat.create_table(
        "ns", "pm", snap.schema,
        identifier_fields=["id"],
        partition_spec=parse_partition_spec("bucket(3, id)", {"id", "grp", "v"}),
        properties={"format-version": fmt},
    )
    merge_into(
        t, dedup_batch(snap, ["id"], dedup_column="__source_ts_ms"),
        mode=mode,
    )
    files_before = t.current_files()
    pname = t.metadata().partition_spec[0].name
    parts_before = {f.partition[pname] for f in files_before}
    assert len(parts_before) == 3

    # update only the rows of one bucket
    bucket = files_before[0].partition[pname]
    in_bucket = [f for f in files_before if f.partition[pname] == bucket]
    ids = {r["id"] for r in spark.read.parquet(*[f.path for f in in_bucket]).collect()}
    upd = spark.createDataFrame(
        [(i, f"g{i % 3}", 1000 + i, "u", 1) for i in sorted(ids)], schema
    )
    stats = merge_into(
        t, dedup_batch(upd, ["id"], dedup_column="__source_ts_ms"),
        mode=mode,
    )
    assert stats.candidate_files <= len(in_bucket)
    assert stats.rewritten_files <= len(in_bucket)
    got = {r["id"]: r["v"] for r in t.to_df(spark).collect()}
    assert all(got[i] == 1000 + i for i in ids)
    assert all(got[i] == i for i in range(30) if i not in ids)


@pytest.mark.parametrize(
    "fmt,mode",
    [("3", "merge-on-read"), ("2", "copy-on-write"), ("2", "merge-on-read")],
    ids=["v3-position", "v2-copy-on-write", "v2-equality"],
)
def test_merge_decimal_keys(spark, warehouse, fmt, mode):
    """DECIMAL keys prune and merge by their numeric order: bounds persist
    as exact strings, and every planner compares them as Decimals (not as
    strings, where "150.00" < "99.00")."""
    from decimal import Decimal

    from debezium_server_iceberg_spark.lakehouse import LakeCatalog
    from debezium_server_iceberg_spark.operators.merge import merge_into

    schema = "id decimal(10,2), v long, __op string"

    def rows(ids, v):
        return spark.createDataFrame([(Decimal(i), v, "u") for i in ids], schema)

    t = LakeCatalog(warehouse).create_table(
        "ns", f"dec_{fmt}_{mode[:1]}", rows([], 0).schema,
        identifier_fields=["id"], properties={"format-version": fmt},
    )
    t.append(rows(range(100, 151), 0))
    t.append(rows(range(20, 41), 0))
    merge_into(t, rows(range(99, 121), 1), mode=mode)

    def check():
        got = t.to_df(spark).collect()
        assert len(got) == 73 and len({r["id"] for r in got}) == 73
        assert {r["id"] for r in got if r["v"] == 1} == {
            Decimal(i) for i in range(99, 121)
        }

    check()
    if t.current_deletes():
        t.materialize_deletes(spark)
        assert not t.current_deletes()
        check()


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
@pytest.mark.parametrize(
    "fmt,mode",
    [("3", "merge-on-read"), ("2", "copy-on-write")],
    ids=["v3-position", "v2-copy-on-write"],
)
def test_merge_timestamp_keys_any_process_tz(spark, warehouse, fmt, mode, tz):
    """Timestamp keys plan by instant whatever the driver process timezone
    (the session stays on UTC): collected key ranges are tz-free, so the
    file holding the merged keys stays a candidate."""
    import datetime as dt

    from debezium_server_iceberg_spark.lakehouse import LakeCatalog
    from debezium_server_iceberg_spark.operators.merge import merge_into

    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    schema = "id timestamp, v long, __op string"

    def rows(hours, v):
        return spark.createDataFrame(
            [(base + dt.timedelta(hours=h), v, "u") for h in hours], schema
        )

    with process_tz(tz):
        t = LakeCatalog(warehouse).create_table(
            "ns", f"ts_{fmt}", rows([], 0).schema,
            identifier_fields=["id"], properties={"format-version": fmt},
        )
        t.append(rows(range(100, 120), 0))
        t.append(rows(range(0, 20), 0))
        stats = merge_into(t, rows(range(100, 103), 1), mode=mode)
        got = t.to_df(spark).collect()
    assert stats.candidate_files == 1
    assert len(got) == 40 and len({r["id"] for r in got}) == 40
    assert sum(r["v"] for r in got) == 3


@pytest.mark.parametrize(
    "fmt,mode",
    [("2", "copy-on-write"), ("3", "merge-on-read")],
    ids=["v2-copy-on-write", "v3-merge-on-read"],
)
def test_upsert_moves_key_across_partitions(spark, warehouse, fmt, mode):
    """A table partitioned by a non-key column: an update that moves a key
    to another partition, and a delete event whose partition column is
    null or changed, still reach the old row version — partition fields
    over non-key columns must not prune the planned sinks."""
    from debezium_server_iceberg_spark.operators.merge import merge_into
    from debezium_server_iceberg_spark.lakehouse import LakeCatalog, parse_partition_spec

    cat = LakeCatalog(warehouse)
    schema = "id long, grp string, v long, __op string"
    snap = spark.createDataFrame([(i, f"g{i % 3}", i, "c") for i in range(30)], schema)
    t = cat.create_table(
        "ns", "mv", snap.schema,
        identifier_fields=["id"],
        partition_spec=parse_partition_spec("grp", {"id", "grp", "v"}),
        properties={"format-version": fmt},
    )
    merge_into(t, snap, mode=mode)
    # move every g0 key to g1
    moved = [i for i in range(30) if i % 3 == 0]
    merge_into(
        t, spark.createDataFrame([(i, "g1", 1000 + i, "u") for i in moved], schema),
        mode=mode,
    )
    rows = t.to_df(spark).collect()
    assert len(rows) == 30
    got = {r["id"]: (r["grp"], r["v"]) for r in rows}
    assert all(got[i] == ("g1", 1000 + i) for i in moved)
    assert all(got[i] == (f"g{i % 3}", i) for i in range(30) if i not in moved)

    # hard deletes: id 3 (now in g1) with a null partition column, id 4
    # (in g1) with a changed one
    merge_into(
        t, spark.createDataFrame([(3, None, 0, "d"), (4, "g2", 0, "d")], schema),
        keep_deletes=False, mode=mode,
    )
    ids = sorted(r["id"] for r in t.to_df(spark).collect())
    assert ids == sorted(set(range(30)) - {3, 4})


def test_merge_rejects_unknown_delete_style(spark, warehouse):
    """A misspelt ``delete_style`` raises instead of silently taking the
    copy-on-write rewrite (which would also ignore ``branch=``)."""
    from debezium_server_iceberg_spark.operators.merge import merge_into
    from debezium_server_iceberg_spark.lakehouse import LakeCatalog

    schema = "id long, v long, __op string"
    batch = spark.createDataFrame([(1, 1, "c")], schema)
    t = LakeCatalog(warehouse).create_table(
        "ns", "ds", batch.schema, identifier_fields=["id"],
        properties={"format-version": "3"},
    )
    with pytest.raises(ValueError, match="unknown delete style 'positions'"):
        merge_into(t, batch, delete_style="positions", branch="audit")
    assert t.current_files() == [] and "audit" not in t.metadata().refs


def test_upsert_source_rows_counted_once(spark, warehouse):
    """A v3 upsert reports the batch's own row count, not the size of the
    deletion vectors it rewrites."""
    c = build_consumer(warehouse)
    written = []
    for ts in range(4):  # create the 10 keys, then update them three times
        op = "u" if ts else "c"
        batch = to_df(spark, [customer_event(i, f"v{ts}", op, ts) for i in range(10)])
        written.append(c.handle_batch(batch, epoch_id=ts).tables_written[DEST])
    assert written == [10, 10, 10, 10]
    got = {r["id"]: r["first_name"] for r in read_table(c, spark).collect()}
    assert got == {i: "v3" for i in range(10)}


def test_repeated_updates_delete_each_row_once(spark, warehouse):
    """Updating the same 5 keys three times deletes 5 rows per batch: a
    merge replaces each touched file's deletion vector with the union of
    the old one and its hits, so re-deleting an older row version is a
    no-op and delete rows track the versions actually superseded."""
    from debezium_server_iceberg_spark.lakehouse import LakeCatalog
    from debezium_server_iceberg_spark.operators.merge import merge_into

    cat = LakeCatalog(warehouse)
    schema = "id long, v string, __op string"
    base = spark.createDataFrame([(i, f"v{i}", "r") for i in range(20)], schema)
    t = cat.create_table(
        "ns", "dv_growth", base.schema, identifier_fields=["id"],
        properties={"format-version": "3"},
    )
    merge_into(t, base)
    stats, totals = [], []
    for b in range(3):
        upd = spark.createDataFrame([(i, f"b{b}", "u") for i in range(5)], schema)
        stats.append(merge_into(t, upd))
        totals.append(t.metadata().snapshots[-1].summary["total_delete_rows"])
        live = {f.path for f in t.current_files()}
        named = [d.referenced_data_file for d in t.current_deletes()]
        assert set(named) <= live and len(named) == len(set(named))
    assert [s.delete_rows for s in stats] == [5, 5, 5]
    assert [s.source_rows for s in stats] == [5, 5, 5]
    assert totals == [5, 10, 15]
    got = {r["id"]: r["v"] for r in t.to_df(spark).collect()}
    assert got == {i: ("b2" if i < 5 else f"v{i}") for i in range(20)}

    c = build_consumer(warehouse)
    c.handle_batch(
        to_df(spark, [customer_event(i, "v0", "c", 0) for i in range(20)]), epoch_id=0
    )
    written = [
        c.handle_batch(
            to_df(spark, [customer_event(i, f"v{ts}", "u", ts) for i in range(5)]),
            epoch_id=ts,
        ).tables_written[DEST]
        for ts in (1, 2, 3)
    ]
    assert written == [5, 5, 5]


def test_maintenance_keeps_the_epoch_stamp(spark, warehouse):
    """With expire_keep_snapshots=1 and a delete materialization at every
    batch, maintenance must not expire the batch's epoch-stamped commit:
    a replay of the last epoch writes nothing, and an older epoch still
    raises instead of applying."""
    c = build_consumer(warehouse, rewrite_delete_files_min=1, expire_keep_snapshots=1)
    c.handle_batch(
        to_df(spark, [customer_event(i, "a", "c", 1) for i in range(3)]), epoch_id=1
    )
    batch2 = to_df(spark, [customer_event(i, "b", "u", 2) for i in range(3)])
    assert c.handle_batch(batch2, epoch_id=2).tables_written == {DEST: 3}
    table = c.catalog.load_table("debeziumevents", TABLE)
    assert table.current_deletes() == []  # the batch's vectors materialized
    ids_before = sorted(
        r["_row_id"] for r in table.to_df(spark, lineage=True).collect()
    )
    assert c.handle_batch(batch2, epoch_id=2).tables_written.get(DEST, 0) == 0
    assert sorted(
        r["_row_id"] for r in table.to_df(spark, lineage=True).collect()
    ) == ids_before
    with pytest.raises(EpochRegressionError):
        c.handle_batch(
            to_df(spark, [customer_event(9, "late", "c", 3)]), epoch_id=1
        )
    got = {r["id"]: r["first_name"] for r in read_table(c, spark).collect()}
    assert got == {0: "b", 1: "b", 2: "b"}


def test_expire_snapshots_cadence(spark, warehouse):
    """expire_keep_snapshots trims table history at the maintenance
    checkpoint; newest snapshots and current contents survive."""
    consumer = build_consumer(
        warehouse, expire_keep_snapshots=2, compact_every_commits=0
    )
    rows = [customer_event(1, "a"), customer_event(2, "b")]
    consumer.handle_batch(to_df(spark, rows), None)
    consumer.handle_batch(to_df(spark, [customer_event(3, "c")]), None)
    consumer.handle_batch(to_df(spark, [customer_event(4, "d")]), None)
    consumer.handle_batch(to_df(spark, [customer_event(5, "e")]), None)
    table = consumer.catalog.load_table(
        consumer.config.iceberg.namespace, "testc_inventory_customers_upsert"
    )
    assert len(table.metadata().snapshots) <= 3  # keep_last=2 (+ the commit
    # that ran after the checkpoint), never the full 4+ history
    assert table.to_df(spark).count() == 5


def test_compaction_fires_with_expiry_enabled(spark, warehouse):
    """Cadence must not be pinned by history expiry (ADVICE r6): with
    expire_keep_snapshots=2 AND compact_every_commits=3 the retained
    snapshot count is constant, yet compaction still fires — the trigger
    tracks the never-resetting snapshot id via a table property."""
    c = build_consumer(
        warehouse,
        upsert=False,
        expire_keep_snapshots=2,
        compact_every_commits=3,
        compact_min_input_files=2,
    )
    for i in range(7):
        c.handle_batch(
            to_df(spark, [customer_event(10 * i + j, f"v{i}", "c", 1) for j in range(2)]),
            epoch_id=i,
        )
    table = c.catalog.load_table("debeziumevents", TABLE)
    props = table.metadata().properties
    assert int(props.get("compaction.last-compact-snapshot-id", 0)) > 0
    assert read_table(c, spark).count() == 14
    # bin-packing happened: fewer live files than data commits
    assert len(table.current_files()) < 7


def test_mor_position_deletes_v3(spark, warehouse):
    """format-version=3 merge-on-read writes POSITION delete files (v3
    deletion-vector semantics, IcebergConfig.java:106-108 /
    BaseDeltaTaskWriter.java:74-88) and produces contents identical to the
    v2 equality path."""
    from debezium_server_iceberg_spark.lakehouse import LakeCatalog
    from debezium_server_iceberg_spark.operators.merge import merge_into

    cat = LakeCatalog(warehouse)
    schema = "id long, v string, __op string"
    base = spark.createDataFrame([(i, f"v{i}", "r") for i in range(10)], schema)
    upd = spark.createDataFrame(
        [(i, f"u{i}", "u") for i in range(0, 10, 3)]
        + [(4, None, "d"), (77, "new", "c")],
        schema,
    )

    results = {}
    for fv, want_content in (("2", "equality"), ("3", "position")):
        t = cat.create_table(
            "ns", f"pd_v{fv}", base.schema, identifier_fields=["id"],
            properties={"format-version": fv},
        )
        merge_into(t, base, mode="merge-on-read")
        stats = merge_into(t, upd, keep_deletes=False, mode="merge-on-read")
        dels = t.current_deletes()
        assert dels and all(d.content == want_content for d in dels), fv
        if want_content == "position":
            # positional rows name exact victims: 4 updates + 1 delete
            assert stats.delete_rows == 5
            assert stats.candidate_files >= 1
        results[fv] = {r["id"]: r["v"] for r in t.to_df(spark).collect()}

    expect = {i: (f"u{i}" if i % 3 == 0 else f"v{i}") for i in range(10)}
    expect.pop(4)
    expect[77] = "new"
    assert results["2"] == results["3"] == expect


def test_mor_position_deletes_materialize_and_time_travel(spark, warehouse):
    from debezium_server_iceberg_spark.lakehouse import LakeCatalog
    from debezium_server_iceberg_spark.operators.merge import merge_into

    cat = LakeCatalog(warehouse)
    schema = "id long, v string, __op string"
    base = spark.createDataFrame([(i, f"v{i}", "r") for i in range(12)], schema)
    t = cat.create_table(
        "ns", "pd_mat", base.schema, identifier_fields=["id"],
        properties={"format-version": "3"},
    )
    merge_into(t, base, mode="merge-on-read")
    sid_v1 = t.metadata().current_snapshot_id
    for b in range(2):
        upd = spark.createDataFrame(
            [(i, f"b{b}", "u") for i in range(b, 12, 4)], schema
        )
        merge_into(t, upd, mode="merge-on-read")
    assert all(d.content == "position" for d in t.current_deletes())
    # one deletion vector per data file: batch 1's keys all sit in the base
    # file, so its merge replaces that file's vector instead of adding one
    assert len(t.current_deletes()) == 1
    # chained updates: batch 1 position-deletes batch 0's new rows too
    expect = {r["id"]: r["v"] for r in t.to_df(spark).collect()}
    assert len(expect) == 12
    assert expect[0] == "b0" and expect[1] == "b1" and expect[2] == "v2"
    # time travel predates the deletes
    assert {r["v"] for r in t.to_df(spark, snapshot_id=sid_v1).collect()} == {
        f"v{i}" for i in range(12)
    }
    # materialization rewrites exactly the named victim files
    rewritten = t.materialize_deletes(spark)
    assert rewritten >= 1
    assert t.current_deletes() == []
    assert {r["id"]: r["v"] for r in t.to_df(spark).collect()} == expect
    assert t.materialize_deletes(spark) == 0


def test_compaction_with_position_deletes(spark, warehouse):
    """Compaction over a table with position deletes applies them during
    the rewrite (deleted rows never resurface) and leaves results
    unchanged; carried-forward delete files reference only removed names,
    so they are inert."""
    from debezium_server_iceberg_spark.lakehouse import LakeCatalog
    from debezium_server_iceberg_spark.operators.merge import merge_into

    cat = LakeCatalog(warehouse)
    schema = "id long, v string, __op string"
    t = cat.create_table(
        "ns", "pd_compact", spark.createDataFrame([], schema).schema,
        identifier_fields=["id"], properties={"format-version": "3"},
    )
    for b in range(3):
        rows = [(b * 10 + i, f"b{b}v{i}", "c") for i in range(10)]
        # every batch also re-writes key 0 so position deletes accumulate
        rows.append((0, f"upd{b}", "u"))
        merge_into(t, spark.createDataFrame(rows, schema), mode="merge-on-read")
    assert any(d.content == "position" for d in t.current_deletes())
    before = {r["id"]: r["v"] for r in t.to_df(spark).collect()}
    assert before[0] == "upd2" and len(before) == 30

    assert t.compact(spark, min_input_files=2) >= 2
    after = {r["id"]: r["v"] for r in t.to_df(spark).collect()}
    assert after == before


def test_write_branch_staging_and_manual_publish(spark, warehouse):
    c = build_consumer(warehouse, write_branch="audit")
    c.handle_batch(to_df(spark, [customer_event(1, "a", op="c", ts_ms=1)]))
    t = c.catalog.load_table("debeziumevents", TABLE)
    # staged on the branch, main still empty
    assert t.metadata().current_snapshot_id is None
    assert {r["id"] for r in t.to_df(spark, ref="audit").collect()} == {1}
    # second batch keeps stacking on the branch (upsert + insert)
    c.handle_batch(
        to_df(
            spark,
            [
                customer_event(1, "a2", op="u", ts_ms=2),
                customer_event(2, "b", op="c", ts_ms=2),
            ],
        )
    )
    assert t.metadata().current_snapshot_id is None
    got = {r["id"]: r["first_name"] for r in t.to_df(spark, ref="audit").collect()}
    assert got == {1: "a2", 2: "b"}
    # operator audits, then publishes
    t.fast_forward("audit")
    got = {r["id"]: r["first_name"] for r in read_table(c, spark).collect()}
    assert got == {1: "a2", 2: "b"}


def test_write_branch_autopublish(spark, warehouse):
    c = build_consumer(
        warehouse, write_branch="audit", write_branch_autopublish=True
    )
    c.handle_batch(to_df(spark, [customer_event(1, "a", op="c", ts_ms=1)]))
    c.handle_batch(to_df(spark, [customer_event(1, "a2", op="u", ts_ms=2)]))
    got = {r["id"]: r["first_name"] for r in read_table(c, spark).collect()}
    assert got == {1: "a2"}
    t = c.catalog.load_table("debeziumevents", TABLE)
    assert "audit" not in t.metadata().refs  # branch retired after publish


def test_write_branch_rejects_copy_on_write(spark, warehouse):
    c = build_consumer(
        warehouse, write_branch="audit", upsert_mode="copy-on-write"
    )
    with pytest.raises(ValueError, match="merge-on-read"):
        c.handle_batch(to_df(spark, [customer_event(1, "a", op="c", ts_ms=1)]))


# ------------------------------------------------ routing probe per batch


def test_routing_probe_sorted_with_schema_texts(spark):
    """ONE distinct probe per batch: sorted destinations (heartbeats
    filtered first), each with its sorted distinct non-tombstone (value
    schema, key schema) texts — empty for a tombstone-only destination,
    a None value text for an event without an embedded schema."""
    import json

    from debezium_server_iceberg_spark.operators.router import (
        destinations,
        filter_heartbeats,
    )

    ev_a = customer_event(1, "a", "c", 1, destination="t.c")
    schemaless = {"destination": "t.b", "key": None, "value": json.dumps({"payload": {"id": 1}})}
    rows = [
        ev_a,
        customer_event(2, "b", "c", 1, destination="t.c", extra={"x": 1}),
        customer_event(3, "c", "c", 1, destination="t.c"),
        schemaless,
        {"destination": "t.a", "key": ev_a["key"], "value": None},
        make_event("__debezium-heartbeat.x", {"id": 9}, ["id"], "c", 1),
    ]
    probe = destinations(filter_heartbeats(to_df(spark, rows)))
    assert list(probe) == ["t.a", "t.b", "t.c"]
    assert probe["t.a"] == []
    assert probe["t.b"] == [(None, None)]
    pairs = probe["t.c"]
    assert len(pairs) == 2 and pairs == sorted(pairs)
    assert {json.loads(ks)["fields"][0]["field"] for _, ks in pairs} == {"id"}
    fields = [{f["field"] for f in json.loads(vs)["fields"]} for vs, _ in pairs]
    assert {"x" in f for f in fields} == {True, False}
    # same probe whatever the input order
    assert destinations(filter_heartbeats(to_df(spark, rows[::-1]))) == probe


def test_event_without_embedded_schema_raises(spark, warehouse):
    import json

    c = build_consumer(warehouse)
    row = {"destination": DEST, "key": None, "value": json.dumps({"payload": {"id": 1}})}
    with pytest.raises(ValueError, match="no event in the batch has an embedded schema"):
        c.handle_batch(to_df(spark, [row]))
    assert c.catalog.list_tables("debeziumevents") == []


# warm-batch Spark jobs: 3 append tables, and 1 merge-on-read upsert table
APPEND_3_JOBS = 9
UPSERT_1_JOBS = 12


def _jobs(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def test_handle_batch_job_counts_pinned(spark, warehouse):
    """Spark jobs per warm micro-batch: the routing probe plus each
    table's write — no per-destination sample / inference job.  A change
    that brings a per-destination probe back moves these counts."""
    dests = [f"testc.inventory.j_{i}" for i in range(3)]
    app = build_consumer(warehouse, upsert=False)
    ups = build_consumer(warehouse)
    counts = {}
    for epoch in range(2):  # epoch 0 creates the tables, epoch 1 is measured
        rows = [
            customer_event(10 * epoch + i, "a", "c", epoch, destination=d)
            for d in dests
            for i in range(3)
        ]
        batch = to_df(spark, rows)
        j = _jobs(spark)
        app.handle_batch(batch, epoch_id=epoch)
        counts["append"] = _jobs(spark) - j
        batch = to_df(
            spark, [customer_event(i, f"v{epoch}", "u", epoch) for i in range(5)]
        )
        j = _jobs(spark)
        ups.handle_batch(batch, epoch_id=epoch)
        counts["upsert"] = _jobs(spark) - j
    assert counts == {"append": APPEND_3_JOBS, "upsert": UPSERT_1_JOBS}


# warm merge_into Spark jobs per (partitioned, mode) on a 30-row table in
# three key buckets, updating a third of its rows
MERGE_JOBS = {
    (True, "copy-on-write"): 11,
    (True, "merge-on-read"): 8,
    (False, "copy-on-write"): 11,
    (False, "merge-on-read"): 8,
}


def test_merge_job_counts_pinned(spark, warehouse):
    """Spark jobs per warm merge, both upsert sinks that plan (copy-on-write
    rewrite, v3 position deletes), with and without a partition spec."""
    from debezium_server_iceberg_spark.lakehouse import LakeCatalog, parse_partition_spec
    from debezium_server_iceberg_spark.operators.merge import merge_into

    cat = LakeCatalog(warehouse)
    schema = "id long, grp string, v long, __op string"
    counts = {}
    for partitioned, mode in MERGE_JOBS:
        t = cat.create_table(
            "ns", f"jobs_{int(partitioned)}_{mode[:1]}",
            spark.createDataFrame([], schema).schema,
            identifier_fields=["id"],
            partition_spec=(
                parse_partition_spec("bucket(3, id)", {"id", "grp", "v"})
                if partitioned
                else None
            ),
            properties={"format-version": "3" if mode == "merge-on-read" else "2"},
        )
        for epoch in range(3):  # create, warm, measure
            rows = [
                (i, f"g{i % 3}", 100 * epoch + i, "u")
                for i in range(30)
                if epoch == 0 or i % 3 == 1
            ]
            batch = spark.createDataFrame(rows, schema)
            j = _jobs(spark)
            merge_into(t, batch, mode=mode)
            counts[partitioned, mode] = _jobs(spark) - j
        got = {r["id"]: r["v"] for r in t.to_df(spark).collect()}
        assert got == {i: 200 + i if i % 3 == 1 else i for i in range(30)}
    assert counts == MERGE_JOBS



def test_merge_jobs_same_with_or_without_current_vectors(spark, warehouse):
    """A v3 merge into a file that already carries a deletion vector runs
    as many Spark jobs as one into a file without: the current vector is
    read and merged on the driver."""
    from debezium_server_iceberg_spark.lakehouse import LakeCatalog
    from debezium_server_iceberg_spark.operators.merge import merge_into

    schema = "id long, v string, __op string"

    def batch(keys, tag):
        return spark.createDataFrame([(i, tag, "u") for i in keys], schema)

    t = LakeCatalog(warehouse).create_table(
        "ns", "jobs_vectors", batch([], "r").schema, identifier_fields=["id"],
        properties={"format-version": "3"},
    )
    t.append(batch(range(30), "r"))
    t.append(batch(range(30, 60), "r"))
    merge_into(t, batch(range(5), "w"))  # warm; the first file gets a vector
    counts = []
    for keys in (range(30, 40), range(10, 20)):  # without, then with a vector
        j = _jobs(spark)
        assert merge_into(t, batch(keys, "u")).delete_rows == 10
        counts.append(_jobs(spark) - j)
    assert len(t.current_deletes()) == 2
    assert counts[0] == counts[1]

def test_concurrent_uploads_drain_and_keep_local_properties(spark, warehouse, monkeypatch):
    """concurrent_uploads > 1: a failing destination does not abandon the
    other one (it commits before the batch raises), later failures ride
    on the first as notes, and workers see the caller's job group."""
    from debezium_server_iceberg_spark.streaming import consumer as cmod

    c = build_consumer(warehouse, upsert=False)
    c.config.batch.concurrent_uploads = 2
    sc = spark.sparkContext
    seen = {}
    orig = cmod.ChangeConsumer._write_destination
    failing = {"testc.inventory.f_a"}

    def write(self, raw, dest, pairs, epoch_id=None):
        seen[dest] = sc.getLocalProperty("spark.jobGroup.id")
        if dest in failing:
            raise RuntimeError(f"boom {dest}")
        return orig(self, raw, dest, pairs, epoch_id)

    monkeypatch.setattr(cmod.ChangeConsumer, "_write_destination", write)
    rows = [
        customer_event(1, "a", "c", 1, destination="testc.inventory.f_a"),
        customer_event(2, "b", "c", 1, destination="testc.inventory.f_b"),
    ]
    sc.setJobGroup("cdc-batch", "probe test")
    try:
        with pytest.raises(RuntimeError, match="boom testc.inventory.f_a") as ei:
            c.handle_batch(to_df(spark, rows))
        assert c.catalog.list_tables("debeziumevents") == ["testc_inventory_f_b"]
        assert read_table(c, spark, "testc_inventory_f_b").count() == 1
        assert not getattr(ei.value, "__notes__", None)
        failing.add("testc.inventory.f_b")
        with pytest.raises(RuntimeError, match="boom testc.inventory.f_a") as ei:
            c.handle_batch(to_df(spark, rows))
        assert ei.value.__notes__ == [
            "destination 'testc.inventory.f_b' also failed: "
            "RuntimeError('boom testc.inventory.f_b')"
        ]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert seen == {
        "testc.inventory.f_a": "cdc-batch",
        "testc.inventory.f_b": "cdc-batch",
    }
