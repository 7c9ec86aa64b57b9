"""Lakehouse table format: create/append/overwrite/evolve/time-travel/partitioning."""

import pytest
from pyspark.sql import Row, functions as F, types as T

from debezium_server_iceberg_spark.lakehouse import LakeCatalog, parse_partition_spec
from debezium_server_iceberg_spark.lakehouse.transforms import PartitionSpecError


SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)


def test_create_append_read(spark, warehouse):
    cat = LakeCatalog(warehouse)
    t = cat.create_table("ns", "t1", SCHEMA, identifier_fields=["id"])
    df = spark.createDataFrame([(1, "a", None), (2, "b", None)], SCHEMA)
    t.append(df)
    got = t.to_df(spark).orderBy("id").collect()
    assert [(r.id, r.name) for r in got] == [(1, "a"), (2, "b")]
    t.append(spark.createDataFrame([(3, "c", None)], SCHEMA))
    assert t.to_df(spark).count() == 3
    assert t.row_count() == 3
    # snapshot history
    meta = t.metadata()
    assert [s.operation for s in meta.snapshots] == ["append", "append"]
    # time travel to first snapshot
    first = meta.snapshots[0].snapshot_id
    assert t.to_df(spark, snapshot_id=first).count() == 2


def test_overwrite(spark, warehouse):
    cat = LakeCatalog(warehouse)
    t = cat.create_table("ns", "t2", SCHEMA)
    t.append(spark.createDataFrame([(1, "a", None)], SCHEMA))
    t.overwrite(spark.createDataFrame([(9, "z", None)], SCHEMA))
    got = t.to_df(spark).collect()
    assert [(r.id, r.name) for r in got] == [(9, "z")]


def test_schema_evolution_read_old_files(spark, warehouse):
    cat = LakeCatalog(warehouse)
    t = cat.create_table("ns", "t3", SCHEMA)
    t.append(spark.createDataFrame([(1, "a", None)], SCHEMA))
    new_schema = T.StructType(SCHEMA.fields + [T.StructField("extra", T.StringType(), True)])
    t.update_schema(new_schema)
    t.append(
        spark.createDataFrame([(2, "b", None, "x")], new_schema)
    )
    got = {r.id: r.extra for r in t.to_df(spark).collect()}
    assert got == {1: None, 2: "x"}


def test_partitioned_write_and_manifest_pruning(spark, warehouse):
    cat = LakeCatalog(warehouse)
    spec = parse_partition_spec("year(ts), bucket(4, id)")
    t = cat.create_table("ns", "t4", SCHEMA, identifier_fields=["id"], partition_spec=spec)
    rows = [(i, f"n{i}", f"202{i % 3}-01-0{i % 9 + 1} 00:00:00") for i in range(20)]
    df = (
        spark.createDataFrame(rows, "id long, name string, ts string")
        .withColumn("ts", F.to_timestamp("ts"))
    )
    t.append(df)
    files = t.current_files()
    assert len(files) > 1
    for f_ in files:
        assert "_p_year_ts" in f_.partition
        assert "_p_bucket4_id" in f_.partition
        assert "id" in f_.bounds
    assert t.to_df(spark).count() == 20
    # path values are raw strings (type-blind parse; consumers normalize)
    years = {int(f_.partition["_p_year_ts"]) for f_ in files}
    assert years == {2020, 2021, 2022}


def test_commit_conflict_detection(spark, warehouse):
    cat = LakeCatalog(warehouse)
    t = cat.create_table("ns", "t5", SCHEMA)
    t.append(spark.createDataFrame([(1, "a", None)], SCHEMA))
    assert t.metadata().version >= 1


def test_partition_spec_parse():
    spec = parse_partition_spec("year(ts), bucket(16, id), region, truncate(3, name)")
    assert [(p.transform, p.source, p.param) for p in spec] == [
        ("year", "ts", None),
        ("bucket", "id", 16),
        ("identity", "region", None),
        ("truncate", "name", 3),
    ]
    # arg order tolerated
    assert parse_partition_spec("bucket(id, 16)")[0].param == 16
    with pytest.raises(PartitionSpecError):
        parse_partition_spec("wat(ts)")
    # lenient mode skips missing columns (IcebergUtil.java:239-261)
    assert parse_partition_spec("year(nope), id", {"id"}, strict=False) == parse_partition_spec("id")
    with pytest.raises(PartitionSpecError):
        parse_partition_spec("year(nope)", {"id"}, strict=True)


def test_compact_binpacks_small_files(spark, warehouse):
    cat = LakeCatalog(warehouse)
    t = cat.create_table("ns", "tc", SCHEMA)
    # five tiny appends -> five+ small files
    for i in range(5):
        t.append(spark.createDataFrame([(i, f"r{i}", None)], SCHEMA))
    before = t.current_files()
    assert len(before) >= 5
    removed = t.compact(spark, target_file_bytes=1 << 20)
    assert removed == len(before)
    after = t.current_files()
    assert len(after) < len(before)
    assert t.to_df(spark).count() == 5
    assert {r.id for r in t.to_df(spark).collect()} == set(range(5))
    # idempotent: nothing left to compact
    assert t.compact(spark, target_file_bytes=1 << 20) == 0


def test_compact_max_input_files_bounds_one_pass(spark, warehouse):
    """max_input_files caps ONE compaction's rewrite work (smallest files
    first); repeated cadence calls still converge to a compacted table —
    the bounded-maintenance contract streaming index feeds rely on."""
    cat = LakeCatalog(warehouse)
    t = cat.create_table("ns", "tcap", SCHEMA)
    for i in range(9):
        t.append(spark.createDataFrame([(i, f"r{i}", None)], SCHEMA))
    n0 = len(t.current_files())
    assert n0 >= 9
    removed = t.compact(spark, target_file_bytes=1 << 20, max_input_files=4)
    assert removed == 4  # exactly the cap, not the whole table
    assert len(t.current_files()) == n0 - 4 + 1
    # convergence: a few more capped passes leave nothing small enough
    while t.compact(spark, target_file_bytes=1 << 20, max_input_files=4):
        pass
    assert t.to_df(spark).count() == 9
    assert {r.id for r in t.to_df(spark).collect()} == set(range(9))
    # a cap below min_input_files is a no-op, never an error
    assert t.compact(spark, min_input_files=5, max_input_files=2) == 0


def test_partition_values_pruning_is_conservative(spark, warehouse):
    """to_df(partition_values=) planning contract: prunes only what it
    can PROVE excluded — unknown field names, files from an old spec,
    and untrusted bucket-hash layouts all keep every file; a trusted
    bucket field prunes to exactly the allowed ordinals' files."""
    from pyspark.sql import types as T

    from debezium_server_iceberg_spark.lakehouse.table import (
        BUCKET_HASH_PROP,
        _prune_files_by_partition_values,
    )
    from debezium_server_iceberg_spark.lakehouse.transforms import PartitionField

    cat = LakeCatalog(warehouse)
    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.LongType())]
    )
    t = cat.create_table(
        "ns", "tpv", schema, partition_spec=[PartitionField("k", "bucket", 8)]
    )
    t.append(
        spark.createDataFrame([(f"k{i}", i) for i in range(40)], schema)
    )
    meta = t.metadata()
    files = t.current_files()
    buckets = {f.partition["_p_bucket8_k"] for f in files}
    assert len(buckets) > 1
    keep_one = {next(iter(buckets))}
    pruned = _prune_files_by_partition_values(
        meta, files, {"_p_bucket8_k": keep_one}
    )
    assert 0 < len(pruned) < len(files)
    assert {f.partition["_p_bucket8_k"] for f in pruned} == keep_one
    # and the pruned read returns exactly the full read's matching rows
    got = t.to_df(spark, partition_values={"_p_bucket8_k": keep_one})
    full = t.to_df(spark)
    probe_keys = [r["k"] for r in got.select("k").collect()]
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, full.filter(F.col("k").isin(probe_keys)).collect())
    )
    # unknown partition-field name: keeps everything
    assert len(
        _prune_files_by_partition_values(meta, files, {"_p_no_such": {"0"}})
    ) == len(files)
    # untrusted bucket hash (pre-murmur3 layout stamp): keeps everything
    import dataclasses

    props = dict(meta.properties)
    props.pop(BUCKET_HASH_PROP, None)
    untrusted = dataclasses.replace(meta, properties=props)
    assert len(
        _prune_files_by_partition_values(
            untrusted, files, {"_p_bucket8_k": keep_one}
        )
    ) == len(files)


def test_expire_snapshots_deletes_orphans(spark, warehouse):
    import os

    cat = LakeCatalog(warehouse)
    t = cat.create_table("ns", "te", SCHEMA)
    t.append(spark.createDataFrame([(1, "a", None)], SCHEMA))
    t.overwrite(spark.createDataFrame([(2, "b", None)], SCHEMA))
    old_files = {f.path for f in t._manifest_entry(t.metadata(), t.metadata().snapshots[0].snapshot_id)[0]}
    assert all(os.path.exists(p) for p in old_files)
    deleted = t.expire_snapshots(keep_last=1)
    assert deleted == len(old_files) and deleted > 0
    assert all(not os.path.exists(p) for p in old_files)
    # current data untouched, history truncated
    assert [r.id for r in t.to_df(spark).collect()] == [2]
    assert len(t.metadata().snapshots) == 1


def test_max_records_per_file_rolls_files(spark, warehouse):
    cat = LakeCatalog(warehouse)
    t = cat.create_table(
        "ns", "troll", SCHEMA, properties={"write.max-records-per-file": "3"}
    )
    t.append(
        spark.createDataFrame([(i, f"r{i}", None) for i in range(10)], SCHEMA).coalesce(1)
    )
    files = t.current_files()
    assert len(files) >= 4  # 10 rows / 3 per file
    assert max(f.rows for f in files) <= 3
    assert t.to_df(spark).count() == 10


def test_table_history_surface(spark, warehouse):
    cat = LakeCatalog(warehouse)
    t = cat.create_table("ns", "th", SCHEMA, identifier_fields=["id"])
    t.append(spark.createDataFrame([(1, "a", None)], SCHEMA))
    t.overwrite(spark.createDataFrame([(2, "b", None)], SCHEMA))
    hist = t.history(spark).orderBy("snapshot_id").collect()
    assert [h["operation"] for h in hist] == ["append", "overwrite"]
    assert hist[1]["total_rows"] == 1
    assert hist[0]["snapshot_id"] < hist[1]["snapshot_id"]


def test_abort_cleans_staged_files(spark, warehouse, monkeypatch):
    """W12: a failed commit leaves zero uncommitted files on disk, and a
    subsequent write succeeds untouched (writer.abort() parity)."""
    import os

    from debezium_server_iceberg_spark.lakehouse import table as table_mod

    cat = LakeCatalog(warehouse)
    t = cat.create_table("ns", "abort_t", SCHEMA, identifier_fields=["id"])
    df = spark.createDataFrame([(1, "a", None), (2, "b", None)], SCHEMA)
    t.append(df)
    committed = {f.path for f in t.current_files()}

    def boom(*a, **k):
        raise table_mod.CommitConflict("synthetic")

    monkeypatch.setattr(t, "_commit_snapshot", boom)
    with pytest.raises(table_mod.CommitConflict):
        t.append(spark.createDataFrame([(3, "c", None)], SCHEMA))
    with pytest.raises(table_mod.CommitConflict):
        t.commit_row_delta(
            spark.createDataFrame([(4, "d", None)], SCHEMA),
            spark.createDataFrame([(4, "d", None)], SCHEMA),
        )
    monkeypatch.undo()

    on_disk = set()
    for root, _dirs, names in os.walk(t.data_dir):
        for n in names:
            if n.endswith(".parquet"):
                on_disk.add(os.path.join(root, n))
    assert on_disk == committed  # no orphans from the two aborted writes

    t.append(spark.createDataFrame([(5, "e", None)], SCHEMA))
    assert t.row_count() == 3


def test_stage_failure_aborts_every_stage(spark, warehouse, monkeypatch):
    """A staging failure inside commit_row_delta's overlapped stages:
    every stage is drained before the raise, nothing staged survives, the
    table stays at its old snapshot, a second failure rides along as a
    note, the staging jobs run under the caller's job group, and a retry
    of the same call commits once."""
    import os
    import time

    cat = LakeCatalog(warehouse)
    t = cat.create_table("ns", "stage_fail", SCHEMA, identifier_fields=["id"])
    t.append(spark.createDataFrame([(1, "a", None), (2, "b", None)], SCHEMA))
    committed = {f.path for f in t.current_files()}
    before = t.metadata()

    def failing(frame, msg):
        # the write job itself fails (raise_error runs in the task)
        return frame.withColumn("id", F.expr(f"raise_error('{msg}')").cast("long"))

    good_add = spark.createDataFrame([(3, "c", None)], SCHEMA)
    good_keys = spark.createDataFrame([(1,)], "id long")
    # row 0 of the committed file (id 1), which the equality delete also hits
    positions = spark.createDataFrame(
        [(os.path.basename(next(iter(committed))), 0)], "file_name string, pos long"
    )
    finished = []
    orig = t._write_staged

    def slow_position_deletes(frame, meta, prefix="", **kw):
        # the surviving stage finishes after the failing ones
        if prefix == "posdel-":
            time.sleep(1.0)
        out = orig(frame, meta, prefix, **kw)
        finished.append(prefix)
        return out

    monkeypatch.setattr(t, "_write_staged", slow_position_deletes)
    sc = spark.sparkContext
    sc.setJobGroup("stage-fail", "stage failure test")
    try:
        with pytest.raises(Exception, match="data boom") as ei:
            t.commit_row_delta(
                failing(good_add, "data boom"),
                failing(good_keys, "eqdel boom"),
                delete_positions_df=positions,
            )
        staging_jobs = sc.statusTracker().getJobIdsForGroup("stage-fail")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert finished == ["posdel-"]  # drained before the raise
    (note,) = ei.value.__notes__
    assert note.startswith("stage_equality_deletes also failed: ")
    assert "eqdel boom" in note
    assert len(staging_jobs) >= 3  # data, position- and equality-delete writes
    after = t.metadata()
    assert (after.version, after.current_snapshot_id) == (
        before.version, before.current_snapshot_id
    )
    on_disk = {
        os.path.join(root, n)
        for root, _dirs, names in os.walk(t.data_dir)
        for n in names
        if n.endswith(".parquet")
    }
    assert on_disk == committed

    assert t.commit_row_delta(good_add, good_keys, delete_positions_df=positions) == (1, 2)
    snaps = t.metadata().snapshots
    assert len(snaps) == len(before.snapshots) + 1
    assert snaps[-1].summary["added_delete_files"] == 2
    assert sorted(r.id for r in t.to_df(spark).collect()) == [2, 3]


def test_stage_and_commit_aborts_all_under_contention(spark, warehouse):
    """More overlapped stages than cores, with frequent thread switches:
    when one stage fails, every file the other stages recorded is
    removed (a lost update to the shared staged list would leak one)."""
    import os
    import sys

    from debezium_server_iceberg_spark.lakehouse import DataFile
    from debezium_server_iceberg_spark.lakehouse.table import LakeTable

    t = LakeTable(os.path.join(warehouse, "contended"))

    def stage(i):
        def fn():
            if i == 7:
                raise RuntimeError("stage 7 failed")
            files = []
            for j in range(50):
                d = os.path.join(t.data_dir, f"s{i}-{j}")
                os.makedirs(d)
                files.append(DataFile(os.path.join(d, "f.parquet"), 1))
            return files

        fn.__name__ = f"stage_{i}"
        return fn

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with pytest.raises(RuntimeError, match="stage 7 failed"):
            t._stage_and_commit([stage(i) for i in range(16)], lambda *staged: None)
    finally:
        sys.setswitchinterval(interval)
    assert os.listdir(t.data_dir) == []


def test_register_views_sql_read_surface(spark, warehouse):
    """spark.sql over registered views — the reference's own verification
    read path (BaseSparkTest.java:170-178)."""
    cat = LakeCatalog(warehouse)
    t1 = cat.create_table("ns", "orders_v", SCHEMA, identifier_fields=["id"])
    t1.append(spark.createDataFrame([(1, "a", None), (2, "b", None)], SCHEMA))
    cat.create_table("ns", "empty_v", SCHEMA)
    views = cat.register_views(spark, "ns", prefix="lk_")
    assert views == ["lk_empty_v", "lk_orders_v"]
    got = spark.sql(
        "SELECT id, name FROM lk_orders_v WHERE id > 1 ORDER BY id"
    ).collect()
    assert [(r.id, r.name) for r in got] == [(2, "b")]
    assert spark.sql("SELECT count(*) AS n FROM lk_empty_v").first()["n"] == 0
    # re-register advances the snapshot
    t1.append(spark.createDataFrame([(3, "c", None)], SCHEMA))
    cat.register_views(spark, "ns", prefix="lk_")
    assert spark.sql("SELECT count(*) AS n FROM lk_orders_v").first()["n"] == 3


def test_remove_orphan_files(spark, warehouse):
    """W12 completion: files a crashed writer staged but never committed
    are reclaimed; referenced files and young files survive."""
    import os
    import time

    from debezium_server_iceberg_spark.lakehouse import LakeCatalog

    cat = LakeCatalog(warehouse)
    df = spark.createDataFrame([(i, f"v{i}") for i in range(10)], "id long, v string")
    t = cat.create_table("ns", "orphans", df.schema, identifier_fields=["id"])
    t.append(df)

    # simulate a crashed writer: stray staged files in the data dir
    stray_dir = os.path.join(t.data_dir, "crashed-uuid")
    os.makedirs(stray_dir)
    stray = os.path.join(stray_dir, "part-000.parquet")
    with open(stray, "wb") as fh:
        fh.write(b"not really parquet")
    young = os.path.join(t.data_dir, "young.parquet")
    with open(young, "wb") as fh:
        fh.write(b"fresh stage in flight")

    old = time.time() - 7200
    os.utime(stray, (old, old))

    removed = t.remove_orphan_files(older_than_seconds=3600)
    assert removed == [stray]
    assert not os.path.exists(stray_dir)  # empty staging dir swept
    assert os.path.exists(young)  # grace period protects in-flight writes
    # committed data untouched
    assert t.to_df(spark).count() == 10
    # time travel across all retained snapshots still works
    for s in t.metadata().snapshots:
        t.to_df(spark, snapshot_id=s.snapshot_id).count()
    # second pass: nothing left to reclaim (young still inside grace)
    assert t.remove_orphan_files(older_than_seconds=3600) == []


def test_lost_commit_attempts_leave_no_manifest(warehouse):
    """A commit attempt that loses its CAS, or whose publication hook
    fails, removes the manifest it wrote; remove_orphan_files sweeps an
    old unreferenced manifest and keeps a young one."""
    import glob
    import os
    import time

    from debezium_server_iceberg_spark.lakehouse.table import LakeTable

    cat = LakeCatalog(warehouse)
    a = cat.create_table("ns", "lost", SCHEMA, identifier_fields=["id"])
    b = LakeTable(a.location)
    write = a._write_metadata
    raced = []

    def lose_first_attempt(meta, expected_version):
        if not raced:  # another handle commits in between: this CAS loses
            raced.append(b.truncate())
        return write(meta, expected_version)

    a._write_metadata = lose_first_attempt
    a.truncate()
    a._write_metadata = write

    def manifests() -> set:
        return {os.path.basename(p) for p in glob.glob(os.path.join(a.meta_dir, "manifest-*.json"))}

    def referenced() -> set:
        return {s.manifest for s in a.metadata().snapshots}

    assert len(raced) == 1 and len(referenced()) == 2
    assert manifests() == referenced()

    def hook(*_):
        raise RuntimeError("catalog refused")

    a.commit_hook = hook
    with pytest.raises(RuntimeError, match="catalog refused"):
        a.truncate()
    a.commit_hook = None
    assert manifests() == referenced()

    stray, young = (os.path.join(a.meta_dir, f"manifest-9999999{i}-stray.json") for i in (1, 2))
    for p in (stray, young):
        with open(p, "w") as fh:
            fh.write("{}")
    old = time.time() - 7200
    os.utime(stray, (old, old))
    assert a.remove_orphan_files(older_than_seconds=3600) == [stray]
    assert manifests() == referenced() | {os.path.basename(young)}


def test_rename_table_preserves_contents_and_history(spark, tmp_path):
    from debezium_server_iceberg_spark.lakehouse import LakeCatalog
    from debezium_server_iceberg_spark.operators.merge import merge_into

    cat = LakeCatalog(str(tmp_path / "wh"))
    df = spark.createDataFrame([(i, f"v{i}") for i in range(8)], "id long, v string")
    t = cat.create_table("a", "orig", df.schema, identifier_fields=["id"])
    t.append(df)
    upd = spark.createDataFrame([(3, "X", "u")], "id long, v string, __op string")
    merge_into(t, upd)       # leaves a live MoR delete file
    before = {r.id: r.v for r in t.to_df(spark).collect()}

    t2 = cat.rename_table("a", "orig", "b", "moved")
    assert not cat.table_exists("a", "orig")
    assert cat.table_exists("b", "moved")
    after = {r.id: r.v for r in t2.to_df(spark).collect()}
    assert after == before and after[3] == "X"
    # history (time travel) survives the move
    assert len(t2.metadata().snapshots) == 2
    assert t2.to_df(spark, snapshot_id=1).count() == 8
    # and the renamed table still accepts commits
    t2.append(spark.createDataFrame([(100, "new")], "id long, v string"))
    assert t2.to_df(spark).count() == 9

    import pytest as _p
    with _p.raises(FileExistsError):
        cat.create_table("b", "moved", df.schema)


def test_rename_table_structured_rewrite(spark, tmp_path, monkeypatch):
    """ADVICE r7: the rename rewrite must be field-targeted, not a blind
    substring replace — a STRING VALUE equal to the old table path (e.g. a
    column bound of a path-valued column) survives untouched; a relative
    warehouse path still renames correctly (catalog normalizes to
    absolute)."""
    import os

    from debezium_server_iceberg_spark.lakehouse import LakeCatalog

    monkeypatch.chdir(tmp_path)
    cat = LakeCatalog("rel_wh")                         # RELATIVE on purpose
    old_loc = os.path.join(str(tmp_path), "rel_wh", "a", "pt")
    df = spark.createDataFrame(
        [(1, old_loc), (2, old_loc + "/sub")], "id long, p string"
    )
    t = cat.create_table("a", "pt", df.schema, identifier_fields=["id"])
    t.append(df)
    # identifier bounds put the path-valued strings into manifest bounds
    t2 = cat.rename_table("a", "pt", "a", "pt2")
    rows = {r.id: r.p for r in t2.to_df(spark).collect()}
    # user DATA must keep the old path string verbatim
    assert rows == {1: old_loc, 2: old_loc + "/sub"}
    # metadata location and data-file paths moved
    assert t2.metadata().location.endswith(os.path.join("rel_wh", "a", "pt2"))
    for f in t2.current_files():
        assert os.path.isabs(f.path) and "/pt2/" in f.path
        assert os.path.exists(f.path)


def test_row_filter_prunes_files_and_matches_plain_filter(spark, tmp_path):
    """to_df(row_filter=...) is Iceberg's planFiles: driver-side file
    pruning from partition transform values + column bounds, with the
    residual filter making results EXACTLY equal to a plain .filter()."""
    import datetime as dt

    from debezium_server_iceberg_spark.lakehouse import LakeCatalog
    from debezium_server_iceberg_spark.lakehouse.table import (
        _prune_files_by_filter,
    )

    cat = LakeCatalog(str(tmp_path / "wh"))
    rows = [
        (i, dt.datetime(2023 + i % 2, 1 + i % 12, 3, 6), f"g{i % 3}", i * 5)
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp, grp string, n long")
    t = cat.create_table(
        "ns", "pt", df.schema, identifier_fields=["id"],
        partition_spec="bucket(4, id), month(ts)",
    )
    t.append(df)
    meta, files = t.metadata(), t.current_files()
    assert len(files) > 4

    # bucket equality on the partition source prunes to one bucket's files
    kept = _prune_files_by_filter(meta, files, {"id": 17})
    assert 0 < len(kept) < len(files)
    got = t.to_df(spark, row_filter={"id": 17}).collect()
    exp = t.to_df(spark).filter("id = 17").collect()
    assert [r.asDict() for r in got] == [r.asDict() for r in exp]

    # temporal range prunes by month encoding
    lo, hi = dt.datetime(2023, 2, 1), dt.datetime(2023, 3, 31)
    kept2 = _prune_files_by_filter(meta, files, {"ts": (lo, hi)})
    assert 0 < len(kept2) < len(files)
    a = sorted(r["id"] for r in t.to_df(spark, row_filter={"ts": (lo, hi)}).collect())
    b = sorted(
        r["id"] for r in t.to_df(spark).filter(
            (F.col("ts") >= lo) & (F.col("ts") <= hi)).collect()
    )
    assert a == b and a

    # key-bounds pruning works on NON-partition columns too (range-
    # clustered identifier bounds), and never loses rows
    a2 = sorted(r["id"] for r in t.to_df(spark, row_filter={"n": (100, 120)}).collect())
    b2 = sorted(r["id"] for r in t.to_df(spark).filter("n between 100 and 120").collect())
    assert a2 == b2 and a2


def test_row_filter_survives_spec_evolution(spark, tmp_path):
    """Old-spec files have no current-spec partition values — they must
    stay in every pruned scan (conservative), so results never change."""
    from debezium_server_iceberg_spark.lakehouse import LakeCatalog

    cat = LakeCatalog(str(tmp_path / "wh"))
    df1 = spark.createDataFrame(
        [(i, f"g{i % 2}") for i in range(10)], "id long, grp string"
    )
    t = cat.create_table(
        "ns", "ev", df1.schema, identifier_fields=["id"], partition_spec="grp",
    )
    t.append(df1)
    t.update_partition_spec("bucket(2, id)")
    t.append(spark.createDataFrame(
        [(i, f"g{i % 2}") for i in range(10, 20)], "id long, grp string"
    ))
    for probe in (3, 15):
        got = sorted(r["id"] for r in t.to_df(spark, row_filter={"id": probe}).collect())
        assert got == [probe]


def test_string_partition_value_with_leading_zeros(spark, tmp_path):
    """A STRING identity-partition value like '007' must stay '007'
    through the type-blind path parse — coercion to int 7 would export a
    wrong partition value and make merge pruning skip the file."""
    from debezium_server_iceberg_spark.lakehouse import LakeCatalog
    from debezium_server_iceberg_spark.lakehouse.iceberg_export import (
        export_iceberg_table, java_avro_records, plan_iceberg_scan,
        read_iceberg_table,
    )
    from debezium_server_iceberg_spark.operators.merge import merge_into
    import json as _json

    cat = LakeCatalog(str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(1, "007", "a"), (2, "7", "b"), (3, "042", "c")],
        "id long, code string, v string",
    )
    t = cat.create_table(
        "ns", "codes", df.schema, identifier_fields=["id"],
        partition_spec="code",
    )
    t.append(df)
    codes = {f.partition["_p_code"] for f in t.current_files()}
    assert codes == {"007", "7", "042"}

    # merge touching code='007' must not be pruned away from its file
    upd = spark.createDataFrame(
        [(1, "007", "updated", "u")], "id long, code string, v string, __op string"
    )
    merge_into(t, upd)
    got = {r["id"]: r["v"] for r in t.to_df(spark).collect()}
    assert got == {1: "updated", 2: "b", 3: "c"}

    # export keeps the exact string partition values
    dest = str(tmp_path / "pub")
    export_iceberg_table(t, dest)
    md = _json.load(open(dest + "/metadata/v1.metadata.json"))
    vals = set()
    for m in [_json.loads(s) for s in java_avro_records(
            spark, md["snapshots"][-1]["manifest-list"])]:
        if m.get("content", 0) != 0:
            continue
        for e in [_json.loads(s) for s in java_avro_records(spark, m["manifest_path"])]:
            vals.add(e["data_file"]["partition"]["code"])
    assert "007" in vals and "042" in vals
    # pruned read distinguishes '007' from '7'
    assert {r["id"] for r in read_iceberg_table(
        spark, dest, partition_filter={"code": "007"}).filter("code = '007'").collect()} == {1}
    assert plan_iceberg_scan(dest, partition_filter={"code": "007"})["pruned_files"] > 0


def test_row_filter_type_mismatches_stay_conservative(spark, tmp_path):
    """Review r8 findings: bucket hashing dispatches on the DECLARED
    column type (an int filter on a decimal column must match
    Decimal-stored rows), timestamp micros hash exactly (float
    total_seconds() is 1us off for ~1% of values), and identity-decimal
    equality normalizes to the declared scale."""
    import datetime as dt
    from decimal import Decimal

    from debezium_server_iceberg_spark.lakehouse import LakeCatalog

    cat = LakeCatalog(str(tmp_path / "wh"))
    rows = [
        (i, Decimal(i).quantize(Decimal("0.01")),
         dt.datetime(2024, 1, 1 + i % 20, 8, 29, 2, 646319 + i))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "id long, price decimal(9,2), ts timestamp")
    t = cat.create_table(
        "ns", "tm", df.schema, identifier_fields=["id"],
        partition_spec="bucket(4, price), bucket(4, ts)",
    )
    t.append(df)

    # int filter value on the DECIMAL bucket column
    got = t.to_df(spark, row_filter={"price": 7}).collect()
    assert [r["id"] for r in got] == [7]
    # Decimal at a different scale
    got2 = t.to_df(spark, row_filter={"price": Decimal("7")}).collect()
    assert [r["id"] for r in got2] == [7]
    # microsecond-precision timestamp bucket equality
    probe = rows[13][2]
    got3 = t.to_df(spark, row_filter={"ts": probe}).collect()
    assert [r["id"] for r in got3] == [13]

    # identity-decimal partition: '7' vs path '7.00'
    t2 = cat.create_table(
        "ns", "tid", df.schema, identifier_fields=["id"],
        partition_spec="price",
    )
    t2.append(df)
    assert [r["id"] for r in t2.to_df(
        spark, row_filter={"price": Decimal("7")}).collect()] == [7]
    assert [r["id"] for r in t2.to_df(spark, row_filter={"price": 7}).collect()] == [7]


def test_changed_rows_delete_images_decimal_keys(spark, tmp_path):
    """Decimal identifier bounds persist as strings; the candidate
    key-bounds pruning must stay conservative, not TypeError."""
    from decimal import Decimal

    from debezium_server_iceberg_spark.lakehouse.table import LakeTable
    from debezium_server_iceberg_spark.operators.merge import merge_into
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("pk", T.DecimalType(9, 2)),
        T.StructField("v", T.StringType()),
    ])
    t = LakeTable.create(
        str(tmp_path / "t"), schema, identifier_fields=["pk"],
        properties={"format-version": "3"},
    )
    t.append(spark.createDataFrame(
        [(Decimal(i).quantize(Decimal("0.01")), f"v{i}") for i in range(6)], schema
    ))
    src = spark.createDataFrame(
        [(Decimal("2.00"), "-", "d")], "pk decimal(9,2), v string, __op string"
    )
    merge_into(t, src, keep_deletes=False, delete_style="equality")
    out = t.changed_rows_since(spark, 1, include_deletes=True).collect()
    assert [(str(r["pk"]), r["v"], r["_change_type"]) for r in out] == [
        ("2.00", "v2", "delete")
    ]


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
def test_row_filter_naive_datetime_any_process_tz(spark, tmp_path, tz):
    """A naive datetime filter value reads as PySpark reads it, in bounds
    pruning as in the residual filter, whatever the driver process
    timezone (the session stays on UTC): a process-local instant on a
    ``timestamp`` column — so the pruned read equals the plain filter —
    and a wall clock on ``timestamp_ntz``."""
    import datetime as dt

    from debezium_server_iceberg_spark.lakehouse import LakeCatalog
    from tests.fixtures import process_tz

    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    schema = "id timestamp, wall timestamp_ntz"
    t = LakeCatalog(str(tmp_path / "wh")).create_table(
        "ns", "tsf", spark.createDataFrame([], schema).schema,
        identifier_fields=["id"], sort_order=["wall"],
    )
    for hours in (range(100, 120), range(0, 20)):
        inst = [base + dt.timedelta(hours=h) for h in hours]
        t.append(spark.createDataFrame(
            [(i, i.replace(tzinfo=None)) for i in inst], schema
        ))
    naive = dt.datetime(2024, 1, 5, 0, 0)
    with process_tz(tz):
        pruned = t.to_df(spark, row_filter={"id": naive}).count()
        plain = t.to_df(spark).filter(F.col("id") == F.lit(naive)).count()
        ranged = t.to_df(spark, row_filter={"id": (naive, naive)}).count()
        wall = t.to_df(spark, row_filter={"wall": dt.datetime(2024, 1, 5, 5)})
        walls = [r["wall"] for r in wall.collect()]
    assert pruned == plain == ranged == (1 if tz != "UTC" else 0)
    assert walls == [dt.datetime(2024, 1, 5, 5)]


def test_row_filter_physical_scan_excludes_pruned_files(spark, tmp_path):
    """The pruning is real file-list surgery, not advisory: a pruned
    file's name must not appear anywhere in the physical scan plan."""
    import os

    from debezium_server_iceberg_spark.lakehouse import LakeCatalog
    from debezium_server_iceberg_spark.lakehouse.table import (
        _prune_files_by_filter,
    )

    cat = LakeCatalog(str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(40)], "id long, v string"
    )
    t = cat.create_table(
        "ns", "pp", df.schema, identifier_fields=["id"],
        partition_spec="bucket(4, id)",
    )
    t.append(df)
    files = t.current_files()
    kept = {os.path.basename(f.path) for f in _prune_files_by_filter(
        t.metadata(), files, {"id": 11})}
    pruned = {os.path.basename(f.path) for f in files} - kept
    assert kept and pruned
    scanned = {
        os.path.basename(p)
        for p in t.to_df(spark, row_filter={"id": 11}).inputFiles()
    }
    assert scanned == kept
    assert not (scanned & pruned)


def test_partitioned_lineage_read_no_basename_collisions(spark, tmp_path):
    """One task writing several hive partition dirs used to emit the same
    part-file basename in each — and the read path's per-file broadcast
    maps key on basename, QUADRUPLING rows in lineage/MoR reads of
    partitioned tables. Basenames must be globally unique per file."""
    import os

    from debezium_server_iceberg_spark.lakehouse import LakeCatalog
    from debezium_server_iceberg_spark.operators.merge import merge_into

    cat = LakeCatalog(str(tmp_path / "wh"))
    df = spark.createDataFrame([(i, f"v{i}") for i in range(40)], "id long, v string")
    t = cat.create_table(
        "ns", "pl", df.schema, identifier_fields=["id"],
        partition_spec="bucket(4, id)",
        properties={"format-version": "3"},
    )
    # force collisions-if-commit-scoped: coalesce to ONE task so all four
    # partition dirs are written by the same part number
    t.append(df.coalesce(1))
    names = [os.path.basename(f.path) for f in t.current_files()]
    assert len(names) == len(set(names)), f"basename collision: {names}"
    assert t.to_df(spark).count() == 40
    out = t.to_df(spark, lineage=True)
    assert out.count() == 40
    ids = [r["_row_id"] for r in out.collect()]
    assert sorted(ids) == list(range(40))
    # MoR delete on the partitioned table reads exactly once too
    merge_into(
        t,
        spark.createDataFrame([(7, "X", "u")], "id long, v string, __op string"),
        delete_style="equality",
    )
    got = {r["id"]: r["v"] for r in t.to_df(spark).collect()}
    assert len(got) == 40 and got[7] == "X"


def test_pruned_scan_skips_untouchable_delete_files(spark, warehouse):
    """A pruned probe must not pay tombstone-read amplification: an
    equality delete whose key bounds cannot intersect any kept file,
    and a position delete naming only pruned files, drop out of the
    scan plan entirely (exact — their anti-joins would remove nothing
    from the kept files).  Deletes that CAN touch the kept files still
    apply."""
    from debezium_server_iceberg_spark.lakehouse.transforms import PartitionField

    def _plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("grp", T.IntegerType(), True),
            T.StructField("name", T.StringType(), True),
        ]
    )
    cat = LakeCatalog(warehouse)
    t = cat.create_table(
        "ns", "delprune", schema, identifier_fields=["id"],
        partition_spec=[PartitionField("grp", "identity")],
    )
    t.append(spark.createDataFrame([(1, 0, "a"), (2, 0, "b")], schema))
    t.append(spark.createDataFrame([(100, 1, "x"), (101, 1, "y")], schema))
    # equality delete hitting only the grp=1 file's id range
    t.commit_row_delta(None, spark.createDataFrame([(100,)], "id long"))
    # position delete naming only the grp=1 file
    pname = t.metadata().partition_spec[0].name
    grp1_file = next(
        f for f in t.current_files() if str(f.partition.get(pname)) == "1"
    )
    import os as _os

    t.commit_row_delta(
        None,
        None,
        delete_positions_df=spark.createDataFrame(
            [(_os.path.basename(grp1_file.path), 1)], "file_name string, pos long"
        ),
    )

    pruned = t.to_df(spark, partition_values={pname: {0}})
    assert sorted(r.id for r in pruned.collect()) == [1, 2]
    assert "LeftAnti" not in _plan(pruned)  # both deletes pruned away

    # the unpruned scan still applies both deletes
    full = t.to_df(spark)
    assert "LeftAnti" in _plan(full)
    assert sorted(r.id for r in full.collect()) == [1, 2]  # 100 eq-del, 101 pos-del

    # a pruned scan of the TOUCHED partition keeps them
    touched = t.to_df(spark, partition_values={pname: {1}})
    assert "LeftAnti" in _plan(touched)
    assert [r.id for r in touched.collect()] == []


def test_minhash_remove_docs_pruned_probe_skips_delete_file(spark, warehouse):
    """remove_docs tombstone amplification is bounded: a probe pruned to
    buckets whose files' doc bounds exclude the removed docs reads ZERO
    delete files (the r12 verdict's item: delete files prune with the
    partition_values scan)."""
    from conftest import SF_DIR
    from debezium_server_iceberg_spark.functions.incremental import MinHashIndex

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    idx = MinHashIndex.create(LakeCatalog(warehouse), "idx", "mh_delprune")
    # DISJOINT id ranges: the removal's key bounds must be separable
    # from the b1 files' doc bounds for range pruning to bite
    b1 = docs.filter("doc_id < 50").limit(4)
    b2 = docs.filter("doc_id between 200 and 400").limit(4)
    idx.add_batch(b1).collect()
    idx.add_batch(b2).collect()
    removed = [r["doc_id"] for r in b2.select("doc_id").collect()]
    assert removed  # fixture sanity: b2 exists at this scale factor
    idx.remove_docs(spark, removed)

    # files holding only b1 docs: their doc bounds exclude the removals
    b1_ids = {r["doc_id"] for r in b1.select("doc_id").collect()}
    b1_only = [
        f for f in idx.table.current_files()
        if f.bounds.get("doc")
        and f.bounds["doc"][0] in b1_ids and f.bounds["doc"][1] in b1_ids
    ]
    assert b1_only  # the two batches produced disjoint files
    pv = {idx.table.metadata().partition_spec[0].name:
          {f.partition[next(iter(f.partition))] for f in b1_only}}
    # direct check of the planning predicate: the equality-delete file
    # does not touch a scan restricted to b1-only files
    from debezium_server_iceberg_spark.lakehouse.pruning import (
        column_types,
        delete_may_touch,
    )

    dels = idx.table.current_deletes()
    assert dels  # remove_docs really committed a delete file
    types = column_types(idx.table.metadata().schema)
    assert all(not delete_may_touch(d, b1_only, types) for d in dels)


def test_single_file_fast_path_requires_estimate_headroom(
    spark, warehouse, monkeypatch
):
    """A frame whose PLAN estimate lacks 4x headroom under the target file
    size must never take the repartition(1) branch (VERDICT r15 item 6):
    the ranged path's persist+materialize step sizes the fan-out from the
    TRUE cached bytes instead."""
    import debezium_server_iceberg_spark.lakehouse.table as tmod

    cat = LakeCatalog(warehouse)
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    df = spark.createDataFrame([(i, f"v{i:05d}") for i in range(5000)], schema)

    # simulate a mis-estimated wide frame: the pre-shuffle estimate says
    # "fits one file" (n_parts=1) but with est == target (no headroom);
    # the materialized true size says 3 files
    monkeypatch.setattr(tmod, "_plan_size_est", lambda frame: 4096)

    def fake_auto(frame, meta, materialize=False):
        return 3 if materialize else 1

    monkeypatch.setattr(tmod, "_auto_write_partitions", fake_auto)
    t = cat.create_table(
        "ns",
        "guarded",
        schema,
        identifier_fields=["id"],
        properties={"write.target-file-size-bytes": "4096"},
    )
    t.append(df)
    files = sorted(t.current_files(), key=lambda f: f.bounds["id"][0])
    # ranged, true-size fan-out — NOT one file through one task
    assert len(files) == 3
    for a, b in zip(files, files[1:]):
        assert a.bounds["id"][1] < b.bounds["id"][0]
    assert t.to_df(spark).count() == 5000


def test_keyed_single_file_fast_path_and_oversize_resplit(spark, warehouse, monkeypatch):
    """The keyed-append fast path writes ONE key-sorted file when the plan
    estimate fits a single target file, and the footer-stats safety net
    re-splits an oversize single file into properly ranged files — so a
    selective-filter underestimate can never collapse a big write."""
    import debezium_server_iceberg_spark.lakehouse.table as tmod

    cat = LakeCatalog(warehouse)
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    rows = [(i, f"v{i:05d}") for i in range(5000)]
    df = spark.createDataFrame(rows, schema)

    # normal CDC-sized commit -> exactly one file, bounds = full key range
    t1 = cat.create_table("ns", "fast1", schema, identifier_fields=["id"])
    t1.append(df)
    files = t1.current_files()
    assert len(files) == 1
    assert files[0].bounds["id"] == [0, 4999]
    assert t1.to_df(spark).count() == 5000

    # force the underestimate: sizing says 1 file, but the target file
    # size is tiny -> the staged single file exceeds 2x target and the
    # resplit must kick in, producing ranged (disjoint-bounds) files
    monkeypatch.setattr(tmod, "_auto_write_partitions", lambda *a, **kw: 1)
    t2 = cat.create_table(
        "ns",
        "fast2",
        schema,
        identifier_fields=["id"],
        properties={"write.target-file-size-bytes": "4096"},
    )
    t2.append(df)
    files = sorted(t2.current_files(), key=lambda f: f.bounds["id"][0])
    assert len(files) >= 2
    # ranged: consecutive files' key bounds do not overlap
    for a, b in zip(files, files[1:]):
        assert a.bounds["id"][1] < b.bounds["id"][0]
    assert t2.to_df(spark).count() == 5000
    assert sum(f.rows for f in files) == 5000


def _jobs(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _warm_jobs(spark, fn) -> int:
    """Spark jobs of the second of two ``fn()`` calls."""
    fn()
    j = _jobs(spark)
    fn()
    return _jobs(spark) - j


def _upserted_table(spark, warehouse, name: str, version: str, upsert: bool = True):
    """40 rows, then a merge-on-read upsert of every 4th key: v3 leaves
    one position-delete file, v2 one equality-delete file."""
    from debezium_server_iceberg_spark.operators.merge import merge_into

    t = LakeCatalog(warehouse).create_table(
        "ns", name, T.StructType([T.StructField("id", T.LongType(), False),
                                  T.StructField("v", T.StringType())]),
        identifier_fields=["id"], properties={"format-version": version},
    )
    t.append(spark.createDataFrame([(i, f"a{i}") for i in range(40)], "id long, v string"))
    if upsert:
        merge_into(t, spark.createDataFrame(
            [(i, f"b{i}", "u") for i in range(0, 40, 4)], "id long, v string, __op string"
        ))
    return t


@pytest.mark.parametrize("case", ["position", "equality", "lineage"])
def test_merge_on_read_point_read_pushes_key_filter(spark, warehouse, case):
    """A point read that applies deletes (or attaches lineage) hands its key
    filter to the data file scan as a pushed filter, and builds its plan
    without a Python side table (``Scan ExistingRDD``)."""
    t = _upserted_table(spark, warehouse, f"push_{case}", "2" if case == "equality" else "3")
    assert {d.content for d in t.current_deletes()} == {
        "equality" if case == "equality" else "position"
    }
    lineage = case == "lineage"
    for k in (8, 9):  # an upserted key and an untouched one
        df = t.to_df(spark, row_filter={"id": k}, lineage=lineage)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan
        data_scans = [
            ln for ln in plan.splitlines()
            if "FileScan parquet" in ln and "ReadSchema: struct<id:bigint,v:string" in ln
        ]
        assert data_scans and all("EqualTo(id," in ln for ln in data_scans)
        full = t.to_df(spark, lineage=lineage).filter(F.col("id") == k)
        assert df.collect() == full.collect()
        assert [r.v for r in df.collect()] == [f"b{k}" if k % 4 == 0 else f"a{k}"]


# warm point-read Spark jobs: the scan, plus the delete side's broadcast
# (before file identity moved to _metadata: position 3, equality 4)
READ_JOBS = {"clean": 1, "position": 2, "equality": 2}


def test_point_read_job_counts_pinned(spark, warehouse):
    tables = {
        "clean": _upserted_table(spark, warehouse, "jobs_clean", "3", upsert=False),
        "position": _upserted_table(spark, warehouse, "jobs_pos", "3"),
        "equality": _upserted_table(spark, warehouse, "jobs_eq", "2"),
    }
    counts = {
        case: _warm_jobs(spark, lambda t=t: t.to_df(spark, row_filter={"id": 8}).collect())
        for case, t in tables.items()
    }
    assert counts == READ_JOBS


def test_decimal_key_footer_stats_need_no_spark_job(spark, warehouse):
    """Footer stats of a Spark-written DECIMAL key decode from the raw
    parquet statistics: a decimal-keyed append runs as many Spark jobs as a
    long-keyed one (the Spark-aggregate fallback used to add three) and
    stores the bounds that aggregate computes."""
    from decimal import Decimal

    from debezium_server_iceberg_spark.lakehouse.pruning import encode

    cat = LakeCatalog(warehouse)
    counts, bounds = {}, {}
    for name, dt, rows in [
        ("long", T.LongType(), [-350, 700, 125]),
        ("dec", T.DecimalType(10, 2), [Decimal("-3.50"), Decimal("7.00"), Decimal("1.25")]),
        ("wide", T.DecimalType(30, 3), [Decimal("-3.500"), Decimal("7000000000000.000")]),
    ]:
        schema = T.StructType([T.StructField("k", dt, False), T.StructField("v", T.StringType())])
        t = cat.create_table("ns", f"stats_{name}", schema, identifier_fields=["k"])
        frame = spark.createDataFrame([(r, "x") for r in rows], schema)
        counts[name] = _warm_jobs(spark, lambda t=t, frame=frame: t.append(frame))
        bounds[name] = [f.bounds["k"] for f in t.current_files()]
        agg = t.to_df(spark).agg(F.min("k"), F.max("k")).collect()[0]
        assert {tuple(b) for b in bounds[name]} == {tuple(encode(v, dt) for v in agg)}
    assert counts["dec"] == counts["wide"] == counts["long"]
    assert bounds["dec"] == [["-3.50", "7.00"]] * 2
    assert bounds["wide"] == [["-3.500", "7000000000000.000"]] * 2


# ------------------------------------------- deletion vectors and the commit


def _one_vector_per_live_file(t, ref: str = "main") -> list:
    """Assert the manifest invariant at a ref head and return its position
    entries: each names a live data file, and no file has two."""
    meta = t.metadata()
    sid = meta.current_snapshot_id if ref == "main" else meta.refs[ref]["snapshot_id"]
    files, deletes = t._manifest_entry(meta, sid)
    vectors = [d for d in deletes if d.content == "position"]
    named = [d.referenced_data_file for d in vectors]
    assert set(named) <= {f.path for f in files}
    assert len(named) == len(set(named))
    return vectors


def _dv_table(spark, warehouse, name: str):
    """A v3 upsert table of keys 0..99 in two data files, keys 0..4
    already updated once (so the first file carries a deletion vector)."""
    from debezium_server_iceberg_spark.operators.merge import merge_into

    schema = "id long, v string, __op string"
    rows = [(i, f"v{i}", "r") for i in range(100)]
    t = LakeCatalog(warehouse).create_table(
        "ns", name, spark.createDataFrame(rows[:1], schema).schema,
        identifier_fields=["id"], properties={"format-version": "3"},
    )
    t.append(spark.createDataFrame(rows[:50], schema))
    t.append(spark.createDataFrame(rows[50:], schema))
    merge_into(t, _updates(spark, "u0"))
    return t


def _updates(spark, tag: str, keys=range(5)):
    return spark.createDataFrame(
        [(i, tag, "u") for i in keys], "id long, v string, __op string"
    )


def _race_before_commit(handle, race) -> None:
    """Run ``race`` once, right before ``handle``'s next snapshot commit:
    a deterministic interleaving of two writers on one table."""
    commit = handle._commit_snapshot

    def raced(*args, **kwargs):
        handle._commit_snapshot = commit
        race()
        return commit(*args, **kwargs)

    handle._commit_snapshot = raced


def _assert_converged(spark, t, tag: str, keys=range(5)) -> None:
    rows = t.to_df(spark).collect()
    assert len(rows) == 100 and len({r.id for r in rows}) == 100
    assert {r.id: r.v for r in rows if r.id in keys} == {i: tag for i in keys}
    _one_vector_per_live_file(t)


def test_deletion_vectors_one_entry_per_live_file(spark, warehouse):
    """Merges replace vectors, compaction drops the vectors of the files it
    removed, a branch merge keeps its own vectors, and neither
    expire_snapshots nor remove_orphan_files reclaims a parquet that an
    entry still references."""
    import os

    from debezium_server_iceberg_spark.operators.merge import merge_into

    t = _dv_table(spark, warehouse, "dv_invariant")
    for n, tag in ((2, "u1"), (3, "u2")):
        merge_into(t, _updates(spark, tag))
        # the first file and every earlier batch file hold a version of 0..4
        assert len(_one_vector_per_live_file(t)) == n
    assert t.compact(spark, min_input_files=2) >= 2
    assert _one_vector_per_live_file(t) == []
    merge_into(t, _updates(spark, "u3"))
    merge_into(t, _updates(spark, "b1"), branch="audit")
    assert len(_one_vector_per_live_file(t)) == 1
    assert len(_one_vector_per_live_file(t, "audit")) == 2
    main_rows = sorted(t.to_df(spark).collect())
    t.expire_snapshots(keep_last=1)
    t.remove_orphan_files(older_than_seconds=0)
    for ref in ("main", "audit"):
        assert all(os.path.exists(d.path) for d in _one_vector_per_live_file(t, ref))
    assert sorted(t.to_df(spark).collect()) == main_rows
    _assert_converged(spark, t, "u3")
    assert {r.id: r.v for r in t.to_df(spark, ref="audit").collect() if r.id < 5} == {
        i: "b1" for i in range(5)
    }


def test_materialize_raced_by_upsert_conflicts_then_converges(spark, warehouse):
    """materialize_deletes plans, an upsert on a second handle updates
    live keys of a file it rewrites (so that file's vector grows), then
    materialize commits: its commit fails without a retry, leaves the
    upsert's snapshot, and returns 0; the next call converges."""
    from debezium_server_iceberg_spark.lakehouse.table import LakeTable
    from debezium_server_iceberg_spark.operators.merge import merge_into

    a = _dv_table(spark, warehouse, "race_mat")
    b = LakeTable(a.location)
    heads = []
    live = range(5, 10)
    _race_before_commit(
        a,
        lambda: heads.append(
            (merge_into(b, _updates(spark, "u1", live)), b.metadata().version)
        ),
    )
    assert a.materialize_deletes(spark) == 0
    assert a.metadata().version == heads[0][1]  # no commit after the upsert's
    assert a.materialize_deletes(spark) >= 1
    assert a.current_deletes() == []
    _assert_converged(spark, a, "u1", live)
    _assert_converged(spark, a, "u0")


def test_materialize_raced_by_stale_hits_commits(spark, warehouse):
    """An upsert racing materialize_deletes whose hits in the file being
    materialized are all rows its vector already deletes leaves that
    file's entry as it is: no conflict, the materialization commits, and
    the table ends with one row per key."""
    from debezium_server_iceberg_spark.lakehouse.table import LakeTable
    from debezium_server_iceberg_spark.operators.merge import merge_into

    a = _dv_table(spark, warehouse, "race_mat_stale")
    b = LakeTable(a.location)
    (first,) = [d.referenced_data_file for d in a.current_deletes()]
    _race_before_commit(a, lambda: merge_into(b, _updates(spark, "u1")))
    assert a.materialize_deletes(spark) == 1
    assert first not in {f.path for f in a.current_files()}
    _assert_converged(spark, a, "u1")


def test_compact_raced_by_upsert_conflicts_then_converges(spark, warehouse):
    """compact plans, an upsert replaces the vector of an input file, then
    compact commits: no retry, the upsert's snapshot stays, 0 is returned;
    the next cadence call converges."""
    from debezium_server_iceberg_spark.lakehouse.table import LakeTable
    from debezium_server_iceberg_spark.operators.merge import merge_into

    a = _dv_table(spark, warehouse, "race_compact")
    b = LakeTable(a.location)
    versions = []
    _race_before_commit(
        a, lambda: versions.append((merge_into(b, _updates(spark, "u1")), b.metadata().version))
    )
    staged = {f.path for f in a.current_files()}
    assert a.compact(spark, min_input_files=2) == 0
    assert a.metadata().version == versions[0][1]
    assert {f.path for f in a.current_files()} > staged  # the upsert's file only
    assert a.compact(spark, min_input_files=2) >= 2
    _assert_converged(spark, a, "u1")


def test_upsert_raced_by_compact_conflicts_then_converges(spark, warehouse):
    """An upsert stages its vectors, compaction removes the files they name,
    then the upsert commits: StaleBaseConflict propagates without a retry
    and the compaction's snapshot stays; replaying the batch converges."""
    import os

    from debezium_server_iceberg_spark.lakehouse.table import LakeTable, StaleBaseConflict
    from debezium_server_iceberg_spark.operators.merge import merge_into

    a = _dv_table(spark, warehouse, "race_upsert")
    b = LakeTable(a.location)

    def on_disk() -> set:
        return {
            os.path.join(r, n) for r, _d, ns in os.walk(a.data_dir) for n in ns
            if n.endswith(".parquet")
        }

    before = on_disk()
    versions = []
    _race_before_commit(
        a, lambda: versions.append((b.compact(spark, min_input_files=2), b.metadata().version))
    )
    with pytest.raises(StaleBaseConflict):
        merge_into(a, _updates(spark, "u1"))
    assert versions[0][0] >= 2 and a.metadata().version == versions[0][1]
    # the upsert's staged data and vector files were aborted
    assert on_disk() - before == {f.path for f in a.current_files()}
    merge_into(a, _updates(spark, "u1"))
    _assert_converged(spark, a, "u1")



def test_merge_without_new_positions_stages_no_vector(spark, warehouse):
    """A v3 merge whose probe finds no row (an insert inside a file's key
    bounds) stages nothing: no posdel-* directory and no delete entry.  A
    re-update whose hits in a file are all rows its vector already
    deletes leaves that file's entry as it is."""
    import os

    from debezium_server_iceberg_spark.operators.merge import merge_into

    schema = "id long, v string, __op string"

    def batch(rows):
        return spark.createDataFrame(rows, schema)

    def staged_vectors() -> list:
        return [n for n in os.listdir(t.data_dir) if n.startswith("posdel-")]

    t = LakeCatalog(warehouse).create_table(
        "ns", "dv_empty", batch([(0, "r", "r")]).schema,
        identifier_fields=["id"], properties={"format-version": "3"},
    )
    t.append(batch([(i, "r", "r") for i in range(0, 20, 2)]))
    assert merge_into(t, batch([(5, "n", "c")])).candidate_files == 1
    assert staged_vectors() == [] and t.current_deletes() == []
    merge_into(t, batch([(0, "u1", "u")]))
    (entry,) = t.current_deletes()
    # hits: row 0 of the first file (already deleted) and the u1 row
    assert merge_into(t, batch([(0, "u2", "u")])).delete_rows == 1
    vectors = {d.referenced_data_file: d for d in _one_vector_per_live_file(t)}
    assert len(vectors) == 2 and vectors[entry.referenced_data_file] == entry
    assert len(staged_vectors()) == 2
    got = {r.id: r.v for r in t.to_df(spark).collect()}
    assert len(got) == 11 and (got[0], got[5]) == ("u2", "n")


def test_vector_parquet_no_larger_than_spark_and_exports(spark, warehouse, tmp_path):
    """The driver-written vector parquet is no larger than Spark's write of
    the same sorted rows, reads back through ``_vector_rows``, and
    publishes as deletion vectors that the v3 export's chain read
    applies."""
    import glob
    import os

    import pyarrow.parquet as pq

    from debezium_server_iceberg_spark.lakehouse.iceberg_export import (
        export_iceberg_table,
        read_iceberg_table,
    )
    from debezium_server_iceberg_spark.lakehouse.table import _vector_rows
    from debezium_server_iceberg_spark.operators.merge import merge_into

    schema = "id long, v string, __op string"
    t = LakeCatalog(warehouse).create_table(
        "ns", "dv_size", spark.createDataFrame([], schema).schema,
        identifier_fields=["id"], properties={"format-version": "3"},
    )
    for lo in (0, 10_000):
        t.append(spark.range(lo, lo + 10_000).selectExpr("id", "'r' AS v", "'r' AS __op"))
    merge_into(t, spark.range(0, 20_000, 3).selectExpr("id", "'u' AS v", "'u' AS __op"))
    vectors = t.current_deletes()
    (path,) = {d.path for d in vectors}
    written = pq.read_table(path)
    assert written.num_rows == sum(d.rows for d in vectors) == 6_667
    expected = list(zip(written["file_name"].to_pylist(), written["pos"].to_pylist()))
    assert expected == sorted(expected)

    rows = _vector_rows(spark, vectors)
    assert [tuple(r) for r in rows.orderBy("file_name", "pos").collect()] == expected
    spark_dir = str(tmp_path / "spark_vector")
    rows.coalesce(1).sortWithinPartitions("file_name", "pos").write.parquet(spark_dir)
    (spark_file,) = glob.glob(f"{spark_dir}/*.parquet")
    assert os.path.getsize(path) <= os.path.getsize(spark_file)

    dest = str(tmp_path / "pub")
    export_iceberg_table(t, dest)
    native = sorted(tuple(r) for r in t.to_df(spark).collect())
    assert len(native) == 20_000
    assert sorted(tuple(r) for r in read_iceberg_table(spark, dest).collect()) == native

def test_stacked_position_delete_entry_fails_loudly(spark, warehouse):
    """A position entry without referenced_data_file (a stacked delete file
    from an older manifest) refuses to load instead of applying to
    nothing."""
    import json
    import os

    t = _dv_table(spark, warehouse, "dv_legacy")
    meta = t.metadata()
    snap = next(s for s in meta.snapshots if s.snapshot_id == meta.current_snapshot_id)
    path = os.path.join(t.meta_dir, snap.manifest)
    with open(path) as fh:
        doc = json.load(fh)
    for d in doc["delete_files"]:
        d.pop("referenced_data_file")
    with open(path, "w") as fh:
        json.dump(doc, fh)
    with pytest.raises(ValueError, match="referenced_data_file"):
        t.to_df(spark)


def test_stale_candidate_version_does_not_wedge(warehouse):
    """A writer that linked v1 and died before swinging the version hint
    has committed: readers step forward to it, and the next commit takes
    v2 instead of failing on the taken slot forever."""
    import os
    import shutil

    t = LakeCatalog(warehouse).create_table("ns", "wedge", SCHEMA, identifier_fields=["id"])
    shutil.copy(t._version_path(0), t._version_path(1))  # complete stray v1
    t.update_properties(owner="a")
    assert t.metadata().version == 2
    assert t.metadata().properties["owner"] == "a"
    with open(os.path.join(t.meta_dir, "version-hint.text")) as fh:
        assert fh.read().strip() == "2"


def test_commit_dying_before_hint_swing_is_visible(warehouse, monkeypatch):
    """The version file, not the hint, is the commit point: a commit that
    dies after linking its version and before the hint swing is read by
    the next handle, and remove_orphan_files later reclaims the dead
    writer's hint temp."""
    import os

    from debezium_server_iceberg_spark.lakehouse import table as table_mod
    from debezium_server_iceberg_spark.lakehouse.table import LakeTable

    t = LakeCatalog(warehouse).create_table("ns", "nohint", SCHEMA, identifier_fields=["id"])

    def die(src, dst):
        raise OSError("writer died")

    monkeypatch.setattr(table_mod.os, "replace", die)
    with pytest.raises(OSError, match="writer died"):
        t.update_properties(owner="b")
    monkeypatch.undo()
    with open(os.path.join(t.meta_dir, "version-hint.text")) as fh:
        assert fh.read().strip() == "0"
    fresh = LakeTable(t.location).metadata()
    assert (fresh.version, fresh.properties["owner"]) == (1, "b")
    (tmp,) = [n for n in os.listdir(t.meta_dir) if n.endswith(".tmp")]
    assert t.remove_orphan_files(older_than_seconds=-1) == [os.path.join(t.meta_dir, tmp)]


def test_rename_table_moves_deletion_vector_references(spark, tmp_path):
    """A renamed v3 table's position entries name the moved data files, so
    the vectors still apply after the move."""
    import os

    from debezium_server_iceberg_spark.operators.merge import merge_into

    cat = LakeCatalog(str(tmp_path / "wh"))
    t = _dv_table(spark, str(tmp_path / "wh"), "dv_orig")
    moved = cat.rename_table("ns", "dv_orig", "ns", "dv_moved")
    files = {f.path for f in moved.current_files()}
    assert {d.referenced_data_file for d in moved.current_deletes()} <= files
    assert all(p.startswith(moved.location) for p in files)
    merge_into(moved, _updates(spark, "u1"))
    _assert_converged(spark, moved, "u1")
    assert not os.path.exists(t.location)
