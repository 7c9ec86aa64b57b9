"""Incremental MinHash index: batch-split results must equal one-shot LSH."""

import pytest
from pyspark.sql import functions as F

from debezium_server_iceberg_spark.functions.dedup import minhash_near_dup_pairs
from debezium_server_iceberg_spark.functions.incremental import MinHashIndex
from debezium_server_iceberg_spark.lakehouse import LakeCatalog

from conftest import SF_DIR


def _pairs_set(df):
    return {
        (r.doc_a, r.doc_b, round(r.agreement, 6)) for r in df.collect()
    }


def test_xxhash64_long_np_matches_spark_and_pbucket_col(spark):
    """The driver-side xxhash64 replica must be bit-identical to Spark's
    F.xxhash64 over longs (it feeds manifest FILE PRUNING — a wrong hash
    silently drops files that hold matches)."""
    import random

    import numpy as np

    from debezium_server_iceberg_spark.functions.incremental import (
        _pbucket_values_np,
        _xxhash64_long_np,
        pbucket_col,
    )

    rng = random.Random(13)
    vals = [0, 1, -1, 42, 2**63 - 1, -(2**63), 2**53 + 1] + [
        rng.randint(-(2**63), 2**63 - 1) for _ in range(500)
    ]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = {
        r["v"]: (r["h"], r["b"])
        for r in df.select(
            "v",
            F.xxhash64("v").alias("h"),
            pbucket_col(F.col("v"), 16).alias("b"),
        ).collect()
    }
    ours = _xxhash64_long_np(np.array(vals, dtype=np.int64))
    for v, h in zip(vals, ours):
        assert got[v][0] == int(h), f"xxhash64 mismatch for {v}"
    want_buckets = {got[v][1] for v in vals}
    assert _pbucket_values_np(np.array(vals, dtype=np.int64), 16) == want_buckets


def test_incremental_equals_batch_at_once(spark, warehouse):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    oneshot = _pairs_set(
        minhash_near_dup_pairs(docs).select("doc_a", "doc_b", "agreement")
    )

    idx = MinHashIndex.create(LakeCatalog(warehouse), "idx", "minhash_bands")
    half1 = docs.filter(F.col("doc_id") % 2 == 0)
    half2 = docs.filter(F.col("doc_id") % 2 == 1)
    got = _pairs_set(idx.add_batch(half1)) | _pairs_set(idx.add_batch(half2))
    assert got == oneshot
    assert len(oneshot) > 0  # the corpus actually has near-dups

    # the index now holds every doc's band rows exactly once
    n_docs = docs.count()
    n_bands = 4  # 8 hashes / band_size 2
    assert idx.table.to_df(spark).count() == n_docs * n_bands


def test_incremental_empty_batch_is_noop(spark, warehouse):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    idx = MinHashIndex.create(LakeCatalog(warehouse), "idx", "minhash_bands")
    idx.add_batch(docs.limit(20)).collect()
    before = idx.table.row_count()
    out = idx.add_batch(docs.limit(0))
    assert out.count() == 0
    assert idx.table.row_count() == before


def test_incremental_cross_batch_pair_found(spark, warehouse):
    # a doc and its near-copy land in DIFFERENT batches; the pair must
    # surface when the second batch arrives
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows1 = [(1, base, "en")]
    rows2 = [(2, base + " tail", "en")]
    schema = "doc_id long, text string, lang string"
    idx = MinHashIndex.create(LakeCatalog(warehouse), "idx", "minhash_bands")
    first = idx.add_batch(spark.createDataFrame(rows1, schema))
    assert first.count() == 0
    second = idx.add_batch(spark.createDataFrame(rows2, schema)).collect()
    assert [(r.doc_a, r.doc_b) for r in second] == [(1, 2)]


def test_maintain_compacts_batch_files(spark, warehouse):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    idx = MinHashIndex.create(LakeCatalog(warehouse), "idx", "minhash_bands")
    for b in range(4):
        idx.add_batch(docs.filter(F.col("doc_id") % 4 == b)).collect()
    before_files = len(idx.table.current_files())
    before_rows = idx.table.to_df(spark).count()
    assert before_files >= 4  # one (or more) per batch
    removed = idx.maintain(spark, min_input_files=2)
    assert removed >= 4
    after = idx.table.current_files()
    assert len(after) < before_files
    assert idx.table.to_df(spark).count() == before_rows  # contents unchanged


# ------------------------------------------------------- substring index


def _prof_set(df):
    return {
        (r[0], r.n_grams, r.n_shared, r.shared_frac, r.keep) for r in df.collect()
    }


def test_substring_batch_probe_equals_one_shot(spark, warehouse):
    """add_batch(N) must equal the ONE-SHOT profile over (history ∪ batch N)
    restricted to batch N's docs — the proof that a recurring refresh
    never needs the corpus re-scan."""
    from debezium_server_iceberg_spark.functions.dedup import (
        exact_substring_profile,
    )
    from debezium_server_iceberg_spark.functions.incremental import SubstringIndex

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    half1 = docs.filter(F.col("doc_id") % 2 == 0)
    half2 = docs.filter(F.col("doc_id") % 2 == 1)

    idx = SubstringIndex.create(LakeCatalog(warehouse), "idx", "substr_grams")
    p1 = idx.add_batch(half1)
    p2 = idx.add_batch(half2)

    assert _prof_set(p1) == _prof_set(exact_substring_profile(half1, k=8))
    oneshot_full = exact_substring_profile(docs, k=8)
    assert _prof_set(p2) == _prof_set(
        oneshot_full.filter(F.col("doc_id") % 2 == 1)
    )
    # cross-batch sharing is genuinely exercised: some batch-2 doc shares a
    # window ONLY with history (its batch-1-restricted profile would differ)
    only_b2 = exact_substring_profile(half2, k=8)
    assert _prof_set(p2) != _prof_set(only_b2)


def test_substring_index_maintain_compacts(spark, warehouse):
    from debezium_server_iceberg_spark.functions.incremental import SubstringIndex

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    idx = SubstringIndex.create(LakeCatalog(warehouse), "idx", "substr_grams")
    for b in range(4):
        idx.add_batch(docs.filter(F.col("doc_id") % 4 == b)).collect()
    before_files = len(idx.table.current_files())
    before = idx.table.to_df(spark).count()
    assert before_files >= 4
    removed = idx.maintain(spark, min_input_files=2)
    assert removed >= 4
    assert len(idx.table.current_files()) < before_files
    assert idx.table.to_df(spark).count() == before  # contents unchanged
    # probes against the compacted index still see all history
    tail = idx.add_batch(docs.limit(5).select("doc_id", "text"))
    assert tail.filter(F.col("n_shared") > 0).count() > 0  # dup of history


@pytest.mark.parametrize("kind", ["minhash", "substring"])
def test_add_batch_failed_checkpoint_leaves_table_retry_appends_once(
    spark, warehouse, monkeypatch, kind
):
    """The results checkpoint runs BEFORE the index append: when it fails,
    the table is still at its old snapshot, and a retry of the same call
    converges to exactly one append (a committed append under a failed
    checkpoint would double-count on retry — SubstringIndex counts would
    inflate for good)."""
    from debezium_server_iceberg_spark.functions.incremental import SubstringIndex

    cls = MinHashIndex if kind == "minhash" else SubstringIndex
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
        F.col("doc_id") < 60
    )
    half1 = docs.filter(F.col("doc_id") % 2 == 0)
    half2 = docs.filter(F.col("doc_id") % 2 == 1)
    cat = LakeCatalog(warehouse)
    ref = cls.create(cat, "idx", "ref")
    ref.add_batch(half1)
    ref.add_batch(half2)

    idx = cls.create(cat, "idx", "under_test")
    idx.add_batch(half1)  # history: the second batch probes stored rows
    before = idx.table.metadata().current_snapshot_id

    def fail(self, *a, **kw):
        raise RuntimeError("injected checkpoint failure")

    with monkeypatch.context() as m:
        m.setattr(type(docs), "localCheckpoint", fail)
        with pytest.raises(RuntimeError, match="injected"):
            idx.add_batch(half2)
    assert idx.table.metadata().current_snapshot_id == before

    idx.add_batch(half2)  # the caller's retry
    assert sorted(idx.table.to_df(spark).collect()) == sorted(
        ref.table.to_df(spark).collect()
    )


def test_minhash_probe_scan_prunes_stored_files(spark, warehouse):
    """The scale contract the index's partitioning buys: a CDC-sized
    batch's probe reads only the files of ITS OWN bucket set, not the
    accumulated index. (Pairs-correctness under partitioning is already
    pinned by test_incremental_equals_batch_at_once — the same add_batch
    runs against a bucket-partitioned table now.)"""
    from debezium_server_iceberg_spark.functions.incremental import (
        _pbucket_probe_values,
    )
    from debezium_server_iceberg_spark.lakehouse.table import (
        _prune_files_by_partition_values,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    idx = MinHashIndex.create(LakeCatalog(warehouse), "idx", "minhash_bands")
    for b in range(4):
        idx.add_batch(docs.filter(F.col("doc_id") % 5 == b)).collect()
    all_files = idx.table.current_files()
    small = docs.filter(F.col("doc_id") % 5 == 4).limit(2)
    bands = idx._band_rows(small, "text", "doc_id")
    pv = _pbucket_probe_values(idx.table, bands)
    assert pv is not None and len(pv) == 1
    (allowed,) = pv.values()
    assert 0 < len(allowed) < 32  # a 2-doc batch touches a strict subset
    kept = _prune_files_by_partition_values(idx.table.metadata(), all_files, pv)
    assert len(kept) < len(all_files)  # the probe scan skips files
    # bucket layout SURVIVES compaction: partition transforms are
    # recomputed on rewrite, so pruning keeps working on the bin-packed
    # index — the in-stream maintenance cadence never costs the pruning
    idx.maintain(spark, min_input_files=2)
    post_files = idx.table.current_files()
    post_kept = _prune_files_by_partition_values(
        idx.table.metadata(), post_files, pv
    )
    assert len(post_files) < len(all_files)  # compaction really ran
    assert len(post_kept) < len(post_files)  # pruning still prunes
    # pruned scan ∪ residual join == unpruned join: every band_val the
    # batch carries is still present in the pruned relation
    pruned_vals = {
        r[0]
        for r in idx.table.to_df(spark, partition_values=pv)
        .join(bands.select("band_val").distinct(), "band_val", "leftsemi")
        .select("band_val").distinct().collect()
    }
    full_vals = {
        r[0]
        for r in idx.table.to_df(spark)
        .join(bands.select("band_val").distinct(), "band_val", "leftsemi")
        .select("band_val").distinct().collect()
    }
    assert pruned_vals == full_vals


def test_epoch_regression_raises(spark, warehouse):
    """A batch epoch OLDER than the last stamped one means a reset
    checkpoint or a second writer — fail loudly instead of silently
    skipping every subsequent append (which would be silent data loss)."""
    import pytest

    from debezium_server_iceberg_spark.functions.incremental import (
        EpochRegressionError,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(10)
    idx = MinHashIndex.create(LakeCatalog(warehouse), "idx", "minhash_bands")
    idx.add_batch(docs, epoch_id=5)
    with pytest.raises(EpochRegressionError):
        idx.add_batch(docs, epoch_id=0)
    # the exact replay epoch is still a clean no-op
    assert idx.add_batch(docs, epoch_id=5) is None
    # and the next epoch applies normally
    assert idx.add_batch(docs.limit(0), epoch_id=6) is not None


def test_reset_epoch_recovers_reset_checkpoint(spark, warehouse):
    """The documented recovery path: after a legitimate checkpoint reset
    (epochs restart at 0), reset_epoch stamps a marker snapshot and the
    guard admits the new numbering instead of raising forever."""
    import pytest

    from debezium_server_iceberg_spark.functions.incremental import (
        EpochRegressionError,
        reset_epoch,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(10)
    idx = MinHashIndex.create(LakeCatalog(warehouse), "idx", "minhash_bands")
    idx.add_batch(docs, epoch_id=7)
    with pytest.raises(EpochRegressionError):
        idx.add_batch(docs, epoch_id=0)  # bricked without the marker
    reset_epoch(spark, idx.table)
    rows_before = idx.table.to_df(spark).count()
    # epochs restart at 0 and apply; replay/regression semantics resume
    assert idx.add_batch(docs, epoch_id=0) is not None
    assert idx.table.to_df(spark).count() > rows_before
    assert idx.add_batch(docs, epoch_id=0) is None  # replay skips again
    with pytest.raises(EpochRegressionError):
        idx.add_batch(docs, epoch_id=-1)


def test_stream_replay_through_process_preserves_pairs(spark, tmp_path):
    """THE at-least-once recovery path, exercised through the real
    foreachBatch process(): after epoch 0 fully commits (pairs durable +
    index stamped), wiping the checkpoint's commit marker makes Spark
    REPLAY epoch 0 on restart.  The replay must leave the first
    attempt's pairs intact — not overwrite epoch=0 with an empty frame."""
    import json
    import os
    import shutil

    from pyspark.sql import types as T

    from debezium_server_iceberg_spark.streaming.windows import (
        run_minhash_index_stream,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    b1 = [(1, base), (2, base + " tail")]  # an in-batch near-dup pair
    b2 = [(3, base + " more tail")]
    indir = str(tmp_path / "docs_in")
    os.makedirs(indir)
    with open(f"{indir}/b1.jsonl", "w") as fh:
        for i, t in b1:
            fh.write(json.dumps({"doc_id": i, "text": t}) + "\n")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
        ]
    )
    idx = MinHashIndex.create(LakeCatalog(str(tmp_path / "wh")), "dd", "idx")
    pairs_dir, ckpt = str(tmp_path / "pairs"), str(tmp_path / "ckpt")

    def start():
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1
        ).json(indir)
        return run_minhash_index_stream(stream, idx, pairs_dir, ckpt)

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    first = sorted(
        map(tuple, spark.read.parquet(f"{pairs_dir}/epoch=0").collect())
    )
    assert len(first) == 1  # the (1, 2) pair landed
    rows_after_e0 = idx.table.row_count()

    # simulate the crash window: epoch 0's effects are durable but the
    # checkpoint commit marker is gone -> Spark re-runs batch 0
    shutil.rmtree(os.path.join(ckpt, "commits"))
    with open(f"{indir}/b2.jsonl", "w") as fh:
        for i, t in b2:
            fh.write(json.dumps({"doc_id": i, "text": t}) + "\n")
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # replayed epoch 0: pairs NOT wiped, index NOT double-appended
    again = sorted(
        map(tuple, spark.read.parquet(f"{pairs_dir}/epoch=0").collect())
    )
    assert again == first
    # epoch 1 processed normally on top (3 docs x 4 bands total)
    assert idx.table.row_count() == rows_after_e0 + 4
    e1 = spark.read.parquet(f"{pairs_dir}/epoch=1")
    assert e1.count() >= 1  # doc 3 matches history


def test_dedup_index_stream_maintain_every_bounds_files(spark, tmp_path):
    """maintain_every=N compacts inside the foreachBatch: a many-epoch
    feed ends with a bounded file count, and probes across the
    compaction boundary still see all history."""
    import json
    import os

    from pyspark.sql import types as T

    from debezium_server_iceberg_spark.streaming.windows import (
        run_dedup_index_stream,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    parts = [docs.filter(F.col("doc_id") % 4 == b).select("doc_id", "text") for b in range(4)]
    indir = str(tmp_path / "docs_in")
    os.makedirs(indir)
    for b, bdf in enumerate(parts):
        with open(f"{indir}/b{b}.jsonl", "w") as fh:
            for r in bdf.collect():
                fh.write(json.dumps({"doc_id": r["doc_id"], "text": r["text"]}) + "\n")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
        ]
    )
    idx = MinHashIndex.create(LakeCatalog(str(tmp_path / "wh")), "dd", "idx")
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).json(indir)
    q = run_dedup_index_stream(
        stream, idx, str(tmp_path / "pairs"), str(tmp_path / "ckpt"),
        maintain_every=2,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # un-maintained, 4 bucket-partitioned appends leave ~4 files per
    # touched bucket; two in-stream compactions bound it
    n_files = len(idx.table.current_files())
    ref = MinHashIndex.create(LakeCatalog(str(tmp_path / "ref")), "dd", "idx")
    for bdf in parts:
        ref.add_batch(bdf).collect()
    assert n_files < len(ref.table.current_files())
    # identical stored relation + post-compaction probes see all history
    assert sorted(map(tuple, idx.table.to_df(spark).collect())) == sorted(
        map(tuple, ref.table.to_df(spark).collect())
    )
    tail = idx.add_batch(docs.limit(3).select("doc_id", "text"))
    reftail = ref.add_batch(docs.limit(3).select("doc_id", "text"))
    assert sorted(map(tuple, tail.collect())) == sorted(
        map(tuple, reftail.collect())
    )


def test_streaming_minhash_index_feed_exactly_once(spark, tmp_path):
    """Streaming feed of the persistent MinHash index: two micro-batches
    through a real stream produce the SAME index contents and the same
    cumulative verified pairs as two direct add_batch calls; a replayed
    epoch (simulated direct re-call with the same epoch_id) appends
    nothing and returns no pairs."""
    import json
    import os

    from pyspark.sql import types as T

    from debezium_server_iceberg_spark.functions.incremental import (
        MinHashIndex,
    )
    from debezium_server_iceberg_spark.lakehouse import LakeCatalog
    from debezium_server_iceberg_spark.streaming.windows import (
        run_minhash_index_stream,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    b1 = docs.filter("doc_id % 2 = 0").select("doc_id", "text")
    b2 = docs.filter("doc_id % 2 = 1").select("doc_id", "text")

    # reference: two direct admissions
    ref = MinHashIndex.create(LakeCatalog(str(tmp_path / "ref")), "dd", "idx")
    ref_pairs = sorted(
        map(tuple, ref.add_batch(b1).collect())
    ) + sorted(map(tuple, ref.add_batch(b2).collect()))

    # stream: same batches as two files, maxFilesPerTrigger=1
    indir = str(tmp_path / "docs_in")
    os.makedirs(indir)
    for name, bdf in [("b1.jsonl", b1), ("b2.jsonl", b2)]:
        with open(f"{indir}/{name}", "w") as fh:
            for r in bdf.collect():
                fh.write(json.dumps({"doc_id": r["doc_id"], "text": r["text"]}) + "\n")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
        ]
    )
    idx = MinHashIndex.create(LakeCatalog(str(tmp_path / "str")), "dd", "idx")
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).json(indir)
    q = run_minhash_index_stream(
        stream, idx, str(tmp_path / "pairs"), str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # same stored index relation
    stored_ref = sorted(map(tuple, ref.table.to_df(spark).collect()))
    stored_str = sorted(map(tuple, idx.table.to_df(spark).collect()))
    assert stored_str == stored_ref
    # same cumulative pairs (file order == trigger order here)
    got_pairs = sorted(
        map(tuple, spark.read.parquet(str(tmp_path / "pairs")).drop("epoch").collect())
    )
    assert got_pairs == sorted(ref_pairs)
    # replay guard: re-admitting an already-stamped epoch is a no-op and
    # returns None (NOT an empty frame — the sink must not overwrite the
    # first attempt's durable pairs with emptiness)
    before = idx.table.row_count()
    sink_calls = []
    replay = idx.add_batch(b2, epoch_id=1, on_result=sink_calls.append)
    assert replay is None
    assert sink_calls == []  # the sink hook never fires on a replay
    assert idx.table.row_count() == before


def test_streaming_substring_index_feed_exactly_once(spark, tmp_path):
    """The generic stream wrapper drives SubstringIndex too: two
    streamed micro-batches == two direct admissions (stored gram
    relation and cumulative profiles), and a replayed epoch is a
    no-op."""
    import json
    import os

    from pyspark.sql import types as T

    from debezium_server_iceberg_spark.functions.incremental import (
        SubstringIndex,
    )
    from debezium_server_iceberg_spark.lakehouse import LakeCatalog
    from debezium_server_iceberg_spark.streaming.windows import (
        run_dedup_index_stream,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    b1 = docs.filter("doc_id % 2 = 0").select("doc_id", "text")
    b2 = docs.filter("doc_id % 2 = 1").select("doc_id", "text")

    ref = SubstringIndex.create(LakeCatalog(str(tmp_path / "ref")), "dd", "sub")
    ref_prof = sorted(map(tuple, ref.add_batch(b1).collect())) + sorted(
        map(tuple, ref.add_batch(b2).collect())
    )

    indir = str(tmp_path / "docs_in")
    os.makedirs(indir)
    for name, bdf in [("b1.jsonl", b1), ("b2.jsonl", b2)]:
        with open(f"{indir}/{name}", "w") as fh:
            for r in bdf.collect():
                fh.write(json.dumps({"doc_id": r["doc_id"], "text": r["text"]}) + "\n")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
        ]
    )
    idx = SubstringIndex.create(LakeCatalog(str(tmp_path / "str")), "dd", "sub")
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).json(indir)
    q = run_dedup_index_stream(
        stream, idx, str(tmp_path / "profiles"), str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    stored_ref = sorted(map(tuple, ref.table.to_df(spark).collect()))
    stored_str = sorted(map(tuple, idx.table.to_df(spark).collect()))
    assert stored_str == stored_ref
    got = sorted(
        map(tuple, spark.read.parquet(str(tmp_path / "profiles")).drop("epoch").collect())
    )
    assert got == sorted(ref_prof)
    before = idx.table.row_count()
    assert idx.add_batch(b2, epoch_id=1) is None
    assert idx.table.row_count() == before


# ------------------------------------------------------- cluster index


def _clusters(df):
    return {(r.doc, r.cluster_id, r.is_canonical) for r in df.collect()}


def test_cluster_index_incremental_equals_one_shot(spark, warehouse):
    """Admitting the pair stream in batches yields the SAME clustering as
    the one-shot connected components over all pairs — in any split,
    because canonical = min member id and min is merge-associative."""
    from debezium_server_iceberg_spark.functions.dedup import (
        minhash_near_dup_pairs,
        near_dup_clusters,
    )
    from debezium_server_iceberg_spark.functions.incremental import ClusterIndex

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = minhash_near_dup_pairs(docs).select("doc_a", "doc_b").cache()
    assert pairs.count() > 0
    oneshot = _clusters(near_dup_clusters(pairs))

    idx = ClusterIndex.create(LakeCatalog(warehouse), "idx", "clusters")
    for b in range(3):
        idx.add_batch(pairs.filter((F.col("doc_a") + F.col("doc_b")) % 3 == b))
    got = _clusters(idx.resolve(spark))
    assert got == oneshot
    # maintain folds the merge chain; resolution is unchanged, merges empty
    idx.maintain(spark)
    assert _clusters(idx.resolve(spark)) == oneshot
    assert idx.merges.to_df(spark).count() == 0
    # post-maintain reps are fully resolved in storage
    stored = idx.assign.to_df(spark)
    assert stored.filter(F.col("rep") != F.col("doc")).join(
        stored.select(F.col("doc").alias("rep"), F.col("rep").alias("rr")),
        "rep",
    ).filter(F.col("rr") != F.col("rep")).count() == 0
    pairs.unpersist()


def test_cluster_index_cross_batch_merge_event(spark, warehouse):
    """Two components built in separate epochs merge when a later pair
    bridges them: the merge is recorded as an EVENT (no stored rows
    rewritten), resolution follows the chain, replay is a no-op."""
    from debezium_server_iceberg_spark.functions.incremental import ClusterIndex

    idx = ClusterIndex.create(LakeCatalog(warehouse), "idx", "clusters")
    mk = lambda rows: spark.createDataFrame(rows, "doc_a long, doc_b long")
    out0 = idx.add_batch(mk([(10, 20)]), epoch_id=0)
    out1 = idx.add_batch(mk([(30, 40)]), epoch_id=1)
    assert {(r.doc, r.cluster_id) for r in out0.collect()} == {(10, 10), (20, 10)}
    assert {(r.doc, r.cluster_id) for r in out1.collect()} == {(30, 30), (40, 30)}
    assign_rows_before = sorted(map(tuple, idx.assign.to_df(spark).collect()))

    out2 = idx.add_batch(mk([(20, 30)]), epoch_id=2)  # bridges the two
    assert {(r.doc, r.cluster_id) for r in out2.collect()} == {
        (20, 10), (30, 10),
    }
    # stored assignment rows were NOT rewritten; the merge is an event
    kept = sorted(map(tuple, idx.assign.to_df(spark).collect()))
    assert kept == assign_rows_before  # no new docs in epoch 2
    assert sorted(map(tuple, idx.merges.to_df(spark).collect())) == [(30, 10)]
    want = {(10, 10, True), (20, 10, False), (30, 10, False), (40, 10, False)}
    assert _clusters(idx.resolve(spark)) == want

    # replay of the merge-only epoch: None, nothing re-appended
    n_merges = idx.merges.to_df(spark).count()
    assert idx.add_batch(mk([(20, 30)]), epoch_id=2) is None
    assert idx.merges.to_df(spark).count() == n_merges
    assert _clusters(idx.resolve(spark)) == want
    # a new doc with a SMALLER id becomes the new canonical
    idx.add_batch(mk([(1, 40)]), epoch_id=3)
    assert _clusters(idx.resolve(spark)) == {
        (1, 1, True), (10, 1, False), (20, 1, False),
        (30, 1, False), (40, 1, False),
    }


def test_streamed_cluster_chain_equals_direct(spark, tmp_path):
    """Full continuous-dedup loop: documents stream in; the MinHash index
    emits per-epoch verified pairs; the chained ClusterIndex admits them
    in the same hook.  End state == direct band-index + cluster
    admissions, and maintain_every keeps both indexes compacted."""
    import json
    import os

    from pyspark.sql import types as T

    from debezium_server_iceberg_spark.functions.incremental import ClusterIndex
    from debezium_server_iceberg_spark.streaming.windows import (
        run_minhash_index_stream,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    b1 = docs.filter("doc_id % 2 = 0").select("doc_id", "text")
    b2 = docs.filter("doc_id % 2 = 1").select("doc_id", "text")

    ref_mh = MinHashIndex.create(LakeCatalog(str(tmp_path / "ref")), "dd", "idx")
    ref_cl = ClusterIndex.create(LakeCatalog(str(tmp_path / "ref")), "dd", "cl")
    for bdf in (b1, b2):
        ref_cl.add_batch(ref_mh.add_batch(bdf).select("doc_a", "doc_b"))

    indir = str(tmp_path / "docs_in")
    os.makedirs(indir)
    for name, bdf in [("b1.jsonl", b1), ("b2.jsonl", b2)]:
        with open(f"{indir}/{name}", "w") as fh:
            for r in bdf.collect():
                fh.write(json.dumps({"doc_id": r["doc_id"], "text": r["text"]}) + "\n")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
        ]
    )
    mh = MinHashIndex.create(LakeCatalog(str(tmp_path / "str")), "dd", "idx")
    cl = ClusterIndex.create(LakeCatalog(str(tmp_path / "str")), "dd", "cl")
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).json(indir)
    q = run_minhash_index_stream(
        stream, mh, str(tmp_path / "pairs"), str(tmp_path / "ckpt"),
        maintain_every=2, cluster_index=cl,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert _clusters(cl.resolve(spark)) == _clusters(ref_cl.resolve(spark))
    assert _clusters(cl.resolve(spark))  # non-trivial: clusters exist
    # maintain_every=2 folded the chain at epoch 1
    assert cl.merges.to_df(spark).count() == 0


def test_cluster_index_seed_then_incremental_equals_one_shot(spark, warehouse):
    """Backfill entry path: one-shot cluster the history, seed the index
    distributed, then admit the remaining pairs incrementally — final
    resolution equals the one-shot over ALL pairs."""
    from debezium_server_iceberg_spark.functions.dedup import (
        minhash_near_dup_pairs,
        near_dup_clusters,
    )
    from debezium_server_iceberg_spark.functions.incremental import ClusterIndex

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = minhash_near_dup_pairs(docs).select("doc_a", "doc_b").cache()
    hist = pairs.filter((F.col("doc_a") + F.col("doc_b")) % 3 != 0)
    tail = pairs.filter((F.col("doc_a") + F.col("doc_b")) % 3 == 0)

    idx = ClusterIndex.seed(
        LakeCatalog(warehouse), "idx", "clusters", near_dup_clusters(hist)
    )
    idx.add_batch(tail, epoch_id=0)
    assert _clusters(idx.resolve(spark)) == _clusters(near_dup_clusters(pairs))
    # the seed was a distributed bucket-partitioned append
    assert any(
        "pbucket" in f.partition or "_p_pbucket" in f.partition
        for f in idx.assign.current_files()
    )
    pairs.unpersist()


def test_minhash_remove_docs_stops_matching(spark, warehouse):
    """CDC deletes propagate: after remove_docs, probes no longer pair
    with the removed doc, the stored relation excludes its band rows
    (merge-on-read), removal is idempotent, and compaction materializes
    the tombstones without changing behavior."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    schema = "doc_id long, text string"
    idx = MinHashIndex.create(LakeCatalog(warehouse), "idx", "minhash_bands")
    idx.add_batch(spark.createDataFrame([(1, base), (2, base + " tail")], schema))
    rows_before = idx.table.to_df(spark).count()
    assert rows_before == 2 * 4  # 2 docs x 4 bands

    deleted = idx.remove_docs(spark, [1])
    assert deleted == 1
    assert idx.table.to_df(spark).count() == rows_before - 4
    # a fresh probe that duplicates BOTH originals now only pairs with 2
    pairs = idx.add_batch(
        spark.createDataFrame([(3, base + " more")], schema)
    ).collect()
    assert {(r.doc_a, r.doc_b) for r in pairs} == {(2, 3)}
    # idempotent replay
    idx.remove_docs(spark, [1])
    assert idx.table.to_df(spark).filter("doc = 1").count() == 0
    # compaction folds the tombstones; behavior unchanged
    idx.maintain(spark, min_input_files=2)
    assert idx.table.to_df(spark).filter("doc = 1").count() == 0
    again = idx.add_batch(
        spark.createDataFrame([(4, base + " extra")], schema)
    ).collect()
    assert 1 not in {r.doc_a for r in again} | {r.doc_b for r in again}


def test_cluster_index_distributed_path_equals_driver(spark, warehouse):
    """Over-threshold epochs take the distributed path (NO driver-side
    pair collect — the r12 verdict's last unguarded data-dependent
    collect): returned assignments, merge events, resolution, and
    maintain all match the driver union-find exactly, including
    cross-epoch merges and a later smaller canonical."""
    from debezium_server_iceberg_spark.functions.incremental import ClusterIndex

    mk = lambda rows: spark.createDataFrame(rows, "doc_a long, doc_b long")
    epochs = [
        [(10, 20), (30, 40), (50, 60)],
        [(20, 30), (70, 80)],  # bridges {10,20} with {30,40}
        [(5, 80), (60, 50)],   # new smaller canonical + an already-clustered pair
    ]
    drv = ClusterIndex.create(LakeCatalog(warehouse), "idx", "drv")
    dst = ClusterIndex.create(LakeCatalog(warehouse), "idx", "dst")
    for e, rows in enumerate(epochs):
        a = drv.add_batch(mk(rows), epoch_id=e)
        b = dst.add_batch(mk(rows), epoch_id=e, small_edge_threshold=0)
        assert _clusters(a) == _clusters(b)
    assert _clusters(drv.resolve(spark)) == _clusters(dst.resolve(spark))
    assert sorted(map(tuple, drv.merges.to_df(spark).collect())) == sorted(
        map(tuple, dst.merges.to_df(spark).collect())
    )
    # replay on the distributed path: None, nothing re-appended
    n = dst.assign.to_df(spark).count()
    assert dst.add_batch(mk(epochs[-1]), epoch_id=2, small_edge_threshold=0) is None
    assert dst.assign.to_df(spark).count() == n
    drv.maintain(spark)
    dst.maintain(spark)
    assert _clusters(drv.resolve(spark)) == _clusters(dst.resolve(spark))


def test_cluster_index_distributed_path_equals_one_shot_real_pairs(spark, warehouse):
    """Forced-distributed admission over the real corpus' LSH pairs in
    two epochs equals the one-shot clustering over all pairs."""
    from debezium_server_iceberg_spark.functions.dedup import (
        minhash_near_dup_pairs,
        near_dup_clusters,
    )
    from debezium_server_iceberg_spark.functions.incremental import ClusterIndex

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = minhash_near_dup_pairs(docs).select("doc_a", "doc_b").cache()
    assert pairs.count() > 0
    oneshot = _clusters(near_dup_clusters(pairs))
    idx = ClusterIndex.create(LakeCatalog(warehouse), "idx", "clusters")
    for b in range(2):
        idx.add_batch(
            pairs.filter((F.col("doc_a") + F.col("doc_b")) % 2 == b),
            epoch_id=b,
            small_edge_threshold=0,
        )
    assert _clusters(idx.resolve(spark)) == oneshot
    pairs.unpersist()


def test_substring_remove_docs_equals_index_without_them(spark, warehouse):
    """CDC deletes propagate into the gram inversion: negative-count
    appends from the deleted docs' (before-image) text make every
    subsequent probe profile equal an index that never saw those docs;
    maintain(fold=True) folds the negatives away without changing
    behavior and leaves one positive row per gram."""
    from debezium_server_iceberg_spark.functions.incremental import SubstringIndex

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    keep = docs.filter("doc_id % 4 != 0")
    gone = docs.filter("doc_id % 4 = 0")
    assert gone.count() > 0
    # fresh ids, overlapping text: the probe shares grams with history
    probe1 = docs.filter("doc_id % 3 = 0").select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    probe2 = docs.filter("doc_id % 3 = 1").select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )

    full = SubstringIndex.create(LakeCatalog(warehouse), "idx", "full")
    ref = SubstringIndex.create(LakeCatalog(warehouse), "idx", "ref")
    full.add_batch(keep.unionByName(gone))
    ref.add_batch(keep)
    assert full.remove_docs(gone) == gone.count()

    prof = lambda df: sorted(map(tuple, df.collect()))
    p_full = prof(full.add_batch(probe1))
    p_ref = prof(ref.add_batch(probe1))
    assert p_full == p_ref
    assert any(r[2] > 0 for r in p_full)  # non-trivial: shared grams exist

    # fold materializes the subtraction; probes unchanged (both indexes
    # admitted probe1, so their states stay comparable)
    full.maintain(spark, fold=True)
    stored = full.table.to_df(spark)
    assert stored.filter(F.col("n_docs") <= 0).count() == 0
    assert stored.groupBy("_h").count().filter("count > 1").count() == 0
    assert prof(full.add_batch(probe2)) == prof(ref.add_batch(probe2))


def test_cluster_index_maintain_removed_docs_reelects_reps(spark, warehouse):
    """Erasure path: maintain(removed_docs=) drops the docs' assignment
    rows and re-elects each affected component's min REMAINING member
    as representative — no rebuild; idempotent; pending merge events
    fold in the same pass."""
    from debezium_server_iceberg_spark.functions.incremental import ClusterIndex

    mk = lambda rows: spark.createDataFrame(rows, "doc_a long, doc_b long")
    idx = ClusterIndex.create(LakeCatalog(warehouse), "idx", "clusters")
    idx.add_batch(mk([(10, 20)]), epoch_id=0)
    idx.add_batch(mk([(30, 40)]), epoch_id=1)
    idx.add_batch(mk([(20, 30), (50, 60)]), epoch_id=2)  # pending merge event

    idx.maintain(spark, removed_docs=[10, 60])
    want = {(20, 20, True), (30, 20, False), (40, 20, False), (50, 50, True)}
    assert _clusters(idx.resolve(spark)) == want
    assert idx.merges.to_df(spark).count() == 0
    idx.maintain(spark, removed_docs=[10, 60])  # idempotent no-op
    assert _clusters(idx.resolve(spark)) == want

    # documented caveat: removing a BRIDGE doc retains connectivity
    # (union-find state stores no pairs; a strict split needs a rebuild)
    idx.maintain(spark, removed_docs=[30])
    assert _clusters(idx.resolve(spark)) == {
        (20, 20, True), (40, 20, False), (50, 50, True),
    }
    # the feed keeps admitting on the re-elected state
    idx.add_batch(mk([(20, 5)]), epoch_id=3)
    assert _clusters(idx.resolve(spark)) == {
        (5, 5, True), (20, 5, False), (40, 5, False), (50, 50, True),
    }


def test_cluster_index_strict_split_removal_via_pairs_log(spark, warehouse, tmp_path):
    """maintain(removed_docs=, pairs_dir=) re-clusters ONLY the affected
    components from the durable pairs log minus the removed docs, so
    removing a bridge doc genuinely disconnects what only it connected
    — resolution equals a one-shot clustering of the surviving pairs;
    unaffected components keep their rows untouched."""
    from debezium_server_iceberg_spark.functions.dedup import near_dup_clusters
    from debezium_server_iceberg_spark.functions.incremental import ClusterIndex

    pairs_dir = str(tmp_path / "pairs")
    mk = lambda rows: spark.createDataFrame(rows, "doc_a long, doc_b long")
    epochs = [
        [(1, 2), (2, 3)],            # 2 bridges 1 and 3
        [(10, 11), (11, 12), (12, 13)],  # 12 bridges {10,11} and 13
        [(50, 60)],                  # unaffected component
    ]
    idx = ClusterIndex.create(LakeCatalog(warehouse), "idx", "clusters")
    for e, rows in enumerate(epochs):
        # the stream feeds' shape: pairs land durably, admission reads back
        mk(rows).write.mode("overwrite").parquet(f"{pairs_dir}/epoch={e}")
        idx.add_batch(spark.read.parquet(f"{pairs_dir}/epoch={e}"), epoch_id=e)

    idx.maintain(spark, removed_docs=[2, 12], pairs_dir=pairs_dir)
    all_pairs = mk([p for rows in epochs for p in rows])
    surviving = all_pairs.filter(
        ~F.col("doc_a").isin(2, 12) & ~F.col("doc_b").isin(2, 12)
    )
    # surviving members with no surviving pairs become singletons: 1 and 3
    # (bridge 2 erased), 13 (bridge 12 erased)
    want = _clusters(near_dup_clusters(surviving)) | {
        (1, 1, True), (3, 3, True), (13, 13, True),
    }
    assert _clusters(idx.resolve(spark)) == want
    assert idx.merges.to_df(spark).count() == 0
    # idempotent: re-removing absent docs changes nothing
    idx.maintain(spark, removed_docs=[2, 12], pairs_dir=pairs_dir)
    assert _clusters(idx.resolve(spark)) == want
    # ghost pairs of ALREADY-erased docs never resurrect connectivity:
    # a later strict removal touching component {1} re-clusters it from
    # the log, and the (1,2),(2,3) pairs drop out via the member filter
    idx.add_batch(mk([(1, 4)]), epoch_id=3)
    mk([(1, 4)]).write.mode("overwrite").parquet(f"{pairs_dir}/epoch=3")
    idx.maintain(spark, removed_docs=[4], pairs_dir=pairs_dir)
    got = _clusters(idx.resolve(spark))
    assert (1, 1, True) in got and all(d != 3 or r == 3 for d, r, _ in got)


def test_cluster_index_merge_chain_guard(spark, warehouse):
    """_merge_map's driver chase is guarded by the merges table's
    physical row count (free off file stats): past merge_chain_threshold
    resolve/add_batch raise pointing at maintain(), and maintain() — the
    recovery path — still folds and restores service unchanged."""
    import pytest as _pytest

    from debezium_server_iceberg_spark.functions.incremental import ClusterIndex

    mk = lambda rows: spark.createDataFrame(rows, "doc_a long, doc_b long")
    idx = ClusterIndex.create(LakeCatalog(warehouse), "idx", "clusters")
    idx.add_batch(mk([(10, 20)]), epoch_id=0)
    idx.add_batch(mk([(30, 40)]), epoch_id=1)
    idx.add_batch(mk([(20, 30)]), epoch_id=2)  # one pending merge event
    idx.merge_chain_threshold = 0
    with _pytest.raises(RuntimeError, match="merge_chain_threshold"):
        idx.resolve(spark)
    with _pytest.raises(RuntimeError, match="merge_chain_threshold"):
        idx.add_batch(mk([(40, 50)]), epoch_id=3)
    idx.maintain(spark)  # unguarded by contract: IS the recovery path
    want = {(10, 10, True), (20, 10, False), (30, 10, False), (40, 10, False)}
    assert _clusters(idx.resolve(spark)) == want
    idx.add_batch(mk([(40, 50)]), epoch_id=3)
    assert (50, 10, False) in _clusters(idx.resolve(spark))


def _write_ops_file(path, rows):
    import json as _json

    with open(path, "w") as fh:
        for doc_id, text, op, ts in rows:
            fh.write(
                _json.dumps(
                    {"doc_id": doc_id, "text": text, "__op": op, "ts": ts}
                )
                + "\n"
            )


def test_stream_op_aware_cdc_into_minhash_index(spark, tmp_path):
    """CDC-aware feed (op_col): updates replace a doc's band rows
    (delete-key-then-write), deletes stop it matching, creates admit —
    a later probe pairs against the CURRENT text only."""
    import os

    from pyspark.sql import types as T

    from debezium_server_iceberg_spark.streaming.windows import (
        run_minhash_index_stream,
    )

    A = "the quick brown fox jumps over the lazy dog again and again"
    B = "completely different content with no shared shingles at all here"
    indir = str(tmp_path / "docs_in")
    os.makedirs(indir)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("__op", T.StringType(), True),
            T.StructField("ts", T.LongType(), True),
        ]
    )
    idx = MinHashIndex.create(LakeCatalog(str(tmp_path / "wh")), "dd", "idx")
    pairs_dir, ckpt = str(tmp_path / "pairs"), str(tmp_path / "ckpt")

    def run_all():
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1
        ).json(indir)
        q = run_minhash_index_stream(
            stream, idx, pairs_dir, ckpt, op_col="__op", ts_col="ts"
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    _write_ops_file(f"{indir}/e0.jsonl", [(1, A, "c", 1), (2, A + " tail", "c", 2)])
    run_all()
    e0 = {(r.doc_a, r.doc_b) for r in spark.read.parquet(f"{pairs_dir}/epoch=0").collect()}
    assert e0 == {(1, 2)}

    # epoch 1: update 2 -> B (old rows must go), delete 1, create 3
    _write_ops_file(
        f"{indir}/e1.jsonl",
        [(2, B, "u", 3), (1, A, "d", 4), (3, A + " more", "c", 5)],
    )
    run_all()
    # epoch 2: a new A-flavored doc probes history: pairs ONLY with 3 —
    # not with deleted 1 nor with 2's REPLACED text
    _write_ops_file(f"{indir}/e2.jsonl", [(4, A + " extra", "c", 6)])
    run_all()
    e2 = {(r.doc_a, r.doc_b) for r in spark.read.parquet(f"{pairs_dir}/epoch=2").collect()}
    assert e2 == {(3, 4)}
    live = {r["doc"] for r in idx.table.to_df(spark).select("doc").distinct().collect()}
    assert live == {2, 3, 4}  # doc 1 gone; 2 present under its new text


def test_stream_op_aware_replay_skips_removals(spark, tmp_path):
    """The hazard the front-of-process guard exists for: an epoch whose
    UPDATE removed old rows and re-added new ones replays after a crash
    (commit marker wiped).  A replayed removal commits at a HIGHER
    sequence and would erase the first attempt's re-added rows while
    the stamped append skips — the guard must skip BOTH effects."""
    import os

    from pyspark.sql import types as T

    from debezium_server_iceberg_spark.streaming.windows import (
        run_minhash_index_stream,
    )

    A = "the quick brown fox jumps over the lazy dog again and again"
    B = "completely different content with no shared shingles at all here"
    indir = str(tmp_path / "docs_in")
    os.makedirs(indir)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("__op", T.StringType(), True),
            T.StructField("ts", T.LongType(), True),
        ]
    )
    idx = MinHashIndex.create(LakeCatalog(str(tmp_path / "wh")), "dd", "idx")
    pairs_dir, ckpt = str(tmp_path / "pairs"), str(tmp_path / "ckpt")

    def run_all():
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1
        ).json(indir)
        q = run_minhash_index_stream(
            stream, idx, pairs_dir, ckpt, op_col="__op", ts_col="ts"
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    _write_ops_file(f"{indir}/e0.jsonl", [(2, A, "c", 1)])
    _write_ops_file(f"{indir}/e1.jsonl", [(2, B, "u", 2), (4, B + " x", "c", 3)])
    run_all()
    state = sorted(map(tuple, idx.table.to_df(spark).collect()))
    assert {r[0] for r in state} == {2, 4}

    # crash window: epoch 1's effects are durable, its commit marker gone
    os.remove(os.path.join(ckpt, "commits", "1"))
    crc = os.path.join(ckpt, "commits", ".1.crc")
    if os.path.exists(crc):
        os.remove(crc)
    run_all()
    assert sorted(map(tuple, idx.table.to_df(spark).collect())) == state
    # and the feed keeps going afterwards
    _write_ops_file(f"{indir}/e2.jsonl", [(2, B, "d", 4)])
    run_all()
    assert {
        r["doc"] for r in idx.table.to_df(spark).select("doc").distinct().collect()
    } == {4}


def test_stream_op_aware_requires_idempotent_removal(spark, tmp_path):
    """SubstringIndex removal is arithmetic (non-idempotent) — the
    op-aware wrapper refuses it loudly unless the caller supplies the
    before-image column AND event order (which make the stamped
    arithmetic removal exact); other index types are refused."""
    import pytest

    from debezium_server_iceberg_spark.functions.incremental import SubstringIndex
    from debezium_server_iceberg_spark.streaming.windows import (
        run_minhash_index_stream,
    )

    sub = SubstringIndex.create(LakeCatalog(str(tmp_path / "wh")), "dd", "sub")
    with pytest.raises(ValueError, match="before_col"):
        run_minhash_index_stream(
            None, sub, str(tmp_path / "p"), str(tmp_path / "c"), op_col="__op"
        )
    with pytest.raises(ValueError, match="before_col"):
        run_minhash_index_stream(
            None, sub, str(tmp_path / "p"), str(tmp_path / "c"),
            op_col="__op", before_col="before",  # still no ts_col
        )
    with pytest.raises(ValueError, match="MinHashIndex"):
        run_minhash_index_stream(
            None, object(), str(tmp_path / "p"), str(tmp_path / "c"),
            op_col="__op",
        )


def _write_cdc_file(path, rows):
    import json as _json

    with open(path, "w") as fh:
        for doc_id, text, before, op, ts in rows:
            fh.write(
                _json.dumps(
                    {
                        "doc_id": doc_id,
                        "text": text,
                        "before": before,
                        "__op": op,
                        "ts": ts,
                    }
                )
                + "\n"
            )


def test_substring_remove_docs_epoch_stamp_exactly_once(spark, warehouse):
    """The arithmetic removal's exactly-once: with epoch_id the negative
    append stamps removal_epoch_id, a replayed call for the same epoch
    appends NOTHING (a second negative append would double-uncount),
    and a regressed epoch raises."""
    import pytest

    from debezium_server_iceberg_spark.functions.incremental import (
        EpochRegressionError,
        SubstringIndex,
    )

    idx = SubstringIndex.create(LakeCatalog(warehouse), "idx", "rmstamp", k=4)
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six seven"),
        ],
        "doc_id long, text string",
    )
    idx.add_batch(docs)
    gone = docs.filter("doc_id = 2")
    assert idx.remove_docs(gone, epoch_id=7) == 1
    sums = sorted(
        map(tuple, idx.table.to_df(spark).groupBy("_h").sum("n_docs").collect())
    )
    assert idx.remove_docs(gone, epoch_id=7) == 0  # replayed: skipped
    assert sorted(
        map(tuple, idx.table.to_df(spark).groupBy("_h").sum("n_docs").collect())
    ) == sums
    with pytest.raises(EpochRegressionError):
        idx.remove_docs(gone, epoch_id=3)
    # independent keys: the removal stamp does not block the add stamp
    more = spark.createDataFrame(
        [(3, "red orange yellow green blue indigo")], "doc_id long, text string"
    )
    assert idx.add_batch(more, epoch_id=7) is not None


def test_substring_feed_counters_surface_null_before_skips(spark, tmp_path):
    """Observability for the documented under-removal bias: a d/u event
    with a NULL before-image is skipped for arithmetic removal (per-row,
    silently, by design) — RemovalCounters makes the drift visible
    per epoch: removed vs skipped_null_before."""
    import os

    from pyspark.sql import types as T

    from debezium_server_iceberg_spark.functions.incremental import SubstringIndex
    from debezium_server_iceberg_spark.streaming.progress import RemovalCounters
    from debezium_server_iceberg_spark.streaming.windows import (
        run_dedup_index_stream,
    )

    indir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    os.makedirs(indir)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("before", T.StringType(), True),
            T.StructField("__op", T.StringType(), True),
            T.StructField("ts", T.LongType(), True),
        ]
    )
    idx = SubstringIndex.create(LakeCatalog(str(tmp_path / "wh")), "dd", "sub", k=4)
    counters = RemovalCounters()

    def run_all():
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1
        ).json(indir)
        q = run_dedup_index_stream(
            stream, idx, str(tmp_path / "pairs"), ckpt,
            op_col="__op", ts_col="ts", before_col="before",
            counters=counters,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    A = "aa bb cc dd ee ff gg hh"
    B = "one two three four five six seven eight"
    _write_cdc_file(
        f"{indir}/e0.jsonl",
        [(1, A, None, "c", 1), (2, B, None, "c", 2)],
    )
    run_all()
    assert counters.epochs[0] == {"removed": 0, "skipped_null_before": 0}
    # epoch 1: delete 1 WITH before-image (removed), delete 2 WITHOUT
    # (REPLICA-IDENTITY-less source: skipped, warned, counted)
    _write_cdc_file(
        f"{indir}/e1.jsonl",
        [(1, None, A, "d", 3), (2, None, None, "d", 4)],
    )
    run_all()
    assert counters.epochs[1] == {"removed": 1, "skipped_null_before": 1}
    assert counters.total_removed == 1
    assert counters.total_skipped_null_before == 1


def test_stream_op_aware_cdc_into_substring_index(spark, tmp_path):
    """CDC-aware substring feed (op_col + before_col): updates un-count
    the before-image and re-admit the new text, deletes un-count, and a
    doc CREATED-then-updated within one batch is NOT removed (its
    before-image was never counted — un-counting it would corrupt
    shared-gram totals).  Folded stored state equals an index built
    from the final live corpus."""
    import os

    from pyspark.sql import types as T

    from debezium_server_iceberg_spark.functions.incremental import SubstringIndex
    from debezium_server_iceberg_spark.streaming.windows import (
        run_dedup_index_stream,
    )

    A = "aa bb cc dd ee ff gg hh"
    B = "one two three four five six seven eight"
    C = "pp qq rr ss tt uu vv ww"
    D = "d1 d2 d3 d4 d5 d6 d7 d8"
    E = D  # the trap: E shares ALL grams with live doc D
    Ftxt = "f1 f2 f3 f4 f5 f6 f7 f8"

    indir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    os.makedirs(indir)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("before", T.StringType(), True),
            T.StructField("__op", T.StringType(), True),
            T.StructField("ts", T.LongType(), True),
        ]
    )
    idx = SubstringIndex.create(LakeCatalog(str(tmp_path / "wh")), "dd", "sub", k=4)

    def run_all():
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1
        ).json(indir)
        q = run_dedup_index_stream(
            stream, idx, str(tmp_path / "pairs"), ckpt,
            op_col="__op", ts_col="ts", before_col="before",
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    _write_cdc_file(
        f"{indir}/e0.jsonl",
        [(1, A, None, "c", 1), (2, B, None, "c", 2), (3, D, None, "c", 3)],
    )
    run_all()
    # epoch 1: update 1 A->C, delete 2, create-then-update 4 (E -> F)
    _write_cdc_file(
        f"{indir}/e1.jsonl",
        [
            (1, C, A, "u", 4),
            (2, None, B, "d", 5),
            (4, E, None, "c", 6),
            (4, Ftxt, E, "u", 7),
        ],
    )
    run_all()

    idx.maintain(spark, fold=True)
    final = spark.createDataFrame(
        [(1, C), (3, D), (4, Ftxt)], "doc_id long, text string"
    )
    ref = SubstringIndex.create(LakeCatalog(str(tmp_path / "ref")), "dd", "sub", k=4)
    ref.add_batch(final)
    ref.maintain(spark, fold=True)
    got = sorted(map(tuple, idx.table.to_df(spark).select("_h", "n_docs").collect()))
    want = sorted(map(tuple, ref.table.to_df(spark).select("_h", "n_docs").collect()))
    assert got == want
    assert len(got) > 0


def test_stream_op_aware_substring_replay_preserves_counts(spark, tmp_path):
    """Full-epoch replay (wiped commit marker) of an epoch that removed
    AND re-added: the front-of-process guard skips both effects, so the
    arithmetic index's per-gram sums are unchanged — a replayed
    negative append would silently skew every later profile."""
    import os

    from pyspark.sql import types as T

    from debezium_server_iceberg_spark.functions.incremental import SubstringIndex
    from debezium_server_iceberg_spark.streaming.windows import (
        run_dedup_index_stream,
    )

    A = "aa bb cc dd ee ff gg hh"
    C = "pp qq rr ss tt uu vv ww"
    indir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    os.makedirs(indir)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("before", T.StringType(), True),
            T.StructField("__op", T.StringType(), True),
            T.StructField("ts", T.LongType(), True),
        ]
    )
    idx = SubstringIndex.create(LakeCatalog(str(tmp_path / "wh")), "dd", "sub", k=4)

    def run_all():
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1
        ).json(indir)
        q = run_dedup_index_stream(
            stream, idx, str(tmp_path / "pairs"), ckpt,
            op_col="__op", ts_col="ts", before_col="before",
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    _write_cdc_file(f"{indir}/e0.jsonl", [(1, A, None, "c", 1)])
    run_all()
    _write_cdc_file(f"{indir}/e1.jsonl", [(1, C, A, "u", 2)])
    run_all()
    sums = sorted(
        map(tuple, idx.table.to_df(spark).groupBy("_h").sum("n_docs").collect())
    )
    os.remove(os.path.join(ckpt, "commits", "1"))
    crc = os.path.join(ckpt, "commits", ".1.crc")
    if os.path.exists(crc):
        os.remove(crc)
    run_all()
    assert sorted(
        map(tuple, idx.table.to_df(spark).groupBy("_h").sum("n_docs").collect())
    ) == sums


def test_soak_cdc_minhash_feed_random_ops(spark, tmp_path):
    """Model-based soak for the op-aware feed: a seeded random CDC
    history (per-doc create/update/delete chains across 4 epochs, one
    stream restart per epoch, one crash-replay in the middle) must
    leave the band index IDENTICAL to one built fresh from the
    surviving corpus — band rows are a pure function of (doc, final
    text), so any removal/replay bug shows as a row diff."""
    import json as _json
    import os
    import random

    from pyspark.sql import types as T

    from debezium_server_iceberg_spark.streaming.windows import (
        run_minhash_index_stream,
    )

    rng = random.Random(13)
    TEXTS = [
        "the quick brown fox jumps over the lazy dog again and again",
        "pack my box with five dozen liquor jugs for the long winter trip",
        "completely different content with no shared shingles at all here",
        "sphinx of black quartz judge my vow said the typesetter slowly",
        "a stitch in time saves nine but only if the thread holds tight",
        "to be or not to be that is the question asked every night",
    ]
    docs = list(range(1, 9))
    alive: dict[int, str] = {}
    ts = 0
    epochs = []
    for _ in range(4):
        events = []
        for d in rng.sample(docs, rng.randint(2, 6)):
            for _ in range(rng.randint(1, 2)):
                ts += 1
                if d not in alive:
                    txt = rng.choice(TEXTS)
                    events.append((d, txt, "c", ts))
                    alive[d] = txt
                elif rng.random() < 0.3:
                    events.append((d, None, "d", ts))
                    del alive[d]
                else:
                    txt = rng.choice(TEXTS)
                    events.append((d, txt, "u", ts))
                    alive[d] = txt
        epochs.append(events)

    idx = MinHashIndex.create(LakeCatalog(str(tmp_path / "wh")), "dd", "idx")
    indir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    os.makedirs(indir)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("__op", T.StringType(), True),
            T.StructField("ts", T.LongType(), True),
        ]
    )

    def run_all():
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1
        ).json(indir)
        q = run_minhash_index_stream(
            stream, idx, str(tmp_path / "pairs"), ckpt,
            op_col="__op", ts_col="ts",
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    for i, events in enumerate(epochs):
        with open(f"{indir}/e{i}.jsonl", "w") as fh:
            for doc_id, text, op, t in events:
                fh.write(_json.dumps(
                    {"doc_id": doc_id, "text": text, "__op": op, "ts": t}
                ) + "\n")
        run_all()  # restart per epoch: checkpoint recovery every time
        if i == 1:  # crash-replay epoch 1 (commit marker wiped)
            os.remove(os.path.join(ckpt, "commits", "1"))
            crc = os.path.join(ckpt, "commits", ".1.crc")
            if os.path.exists(crc):
                os.remove(crc)
            run_all()

    assert alive, "seed produced an empty surviving corpus"
    final = spark.createDataFrame(
        sorted(alive.items()), "doc_id long, text string"
    )
    ref = MinHashIndex.create(LakeCatalog(str(tmp_path / "ref")), "dd", "idx")
    ref.add_batch(final)
    got = sorted(map(tuple, idx.table.to_df(spark).collect()))
    want = sorted(map(tuple, ref.table.to_df(spark).collect()))
    assert got == want
    assert len(got) > 0


def test_soak_cdc_substring_feed_random_ops(spark, tmp_path):
    """Model-based soak for the ARITHMETIC index's CDC routing: a seeded
    random history (create/update/delete chains with faithful
    before-images, 4 epochs, restart per epoch, a crash-replay in the
    middle) must leave the folded gram inversion IDENTICAL to one built
    from the surviving corpus — any double-uncount, missed removal, or
    replayed negative append shows as a count diff."""
    import json as _json
    import os
    import random

    from pyspark.sql import types as T

    from debezium_server_iceberg_spark.functions.incremental import SubstringIndex
    from debezium_server_iceberg_spark.streaming.windows import (
        run_dedup_index_stream,
    )

    rng = random.Random(17)
    TEXTS = [
        "the quick brown fox jumps over the lazy dog again and again",
        "pack my box with five dozen liquor jugs for the long winter trip",
        "completely different content with no shared shingles at all here",
        "sphinx of black quartz judge my vow said the typesetter slowly",
        "a stitch in time saves nine but only if the thread holds tight",
    ]
    docs = list(range(1, 8))
    alive: dict[int, str] = {}
    ts = 0
    epochs = []
    for _ in range(4):
        events = []
        for d in rng.sample(docs, rng.randint(2, 5)):
            for _ in range(rng.randint(1, 2)):
                ts += 1
                if d not in alive:
                    txt = rng.choice(TEXTS)
                    events.append((d, txt, None, "c", ts))
                    alive[d] = txt
                elif rng.random() < 0.3:
                    events.append((d, None, alive[d], "d", ts))
                    del alive[d]
                else:
                    txt = rng.choice(TEXTS)
                    events.append((d, txt, alive[d], "u", ts))
                    alive[d] = txt
        epochs.append(events)

    idx = SubstringIndex.create(LakeCatalog(str(tmp_path / "wh")), "dd", "sub", k=4)
    indir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    os.makedirs(indir)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("before", T.StringType(), True),
            T.StructField("__op", T.StringType(), True),
            T.StructField("ts", T.LongType(), True),
        ]
    )

    def run_all():
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1
        ).json(indir)
        q = run_dedup_index_stream(
            stream, idx, str(tmp_path / "pairs"), ckpt,
            op_col="__op", ts_col="ts", before_col="before",
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    for i, events in enumerate(epochs):
        with open(f"{indir}/e{i}.jsonl", "w") as fh:
            for doc_id, text, before, op, t in events:
                fh.write(_json.dumps(
                    {"doc_id": doc_id, "text": text, "before": before,
                     "__op": op, "ts": t}
                ) + "\n")
        run_all()
        if i == 1:
            os.remove(os.path.join(ckpt, "commits", "1"))
            crc = os.path.join(ckpt, "commits", ".1.crc")
            if os.path.exists(crc):
                os.remove(crc)
            run_all()

    assert alive, "seed produced an empty surviving corpus"
    idx.maintain(spark, fold=True)
    final = spark.createDataFrame(
        sorted(alive.items()), "doc_id long, text string"
    )
    ref = SubstringIndex.create(LakeCatalog(str(tmp_path / "ref")), "dd", "sub", k=4)
    ref.add_batch(final)
    ref.maintain(spark, fold=True)
    got = sorted(map(tuple, idx.table.to_df(spark).select("_h", "n_docs").collect()))
    want = sorted(map(tuple, ref.table.to_df(spark).select("_h", "n_docs").collect()))
    assert got == want
    assert len(got) > 0


# ------------------------------------------------------- pairs log (r15)


def test_pairs_log_compaction_strict_split_equals_raw_log(spark, warehouse, tmp_path):
    """r15 pairs-log lifecycle: strict-split maintain over the COMPACTED
    log (bucket-partitioned live-pairs table) equals the same split over
    the raw epoch directories; compaction bounds the on-disk artifact
    (raw dirs folded and deleted); the bridge doc still disconnects
    after removal-then-compact-then-split."""
    from debezium_server_iceberg_spark.functions.incremental import (
        ClusterIndex,
        PairsLog,
    )

    mk = lambda rows: spark.createDataFrame(rows, "doc_a long, doc_b long")
    epochs = [
        [(1, 2), (2, 3)],                # 2 bridges 1 and 3
        [(10, 11), (11, 12), (12, 13)],  # 12 bridges {10,11} and 13
        [(50, 60)],                      # unaffected component
    ]

    def build(root):
        pairs_dir = str(tmp_path / root / "pairs")
        idx = ClusterIndex.create(
            LakeCatalog(str(tmp_path / root / "wh")), "idx", "clusters"
        )
        for e, rows in enumerate(epochs):
            mk(rows).write.mode("overwrite").parquet(f"{pairs_dir}/epoch={e}")
            idx.add_batch(spark.read.parquet(f"{pairs_dir}/epoch={e}"), epoch_id=e)
        return idx, pairs_dir

    raw_idx, raw_dir = build("raw")
    cmp_idx, cmp_dir = build("cmp")
    log = PairsLog.create(LakeCatalog(str(tmp_path / "cmp" / "wh")), "idx", "plog")
    folded = log.compact(spark, cmp_dir)
    assert folded == 3
    # raw dirs deleted: the on-disk artifact is now the table alone
    assert PairsLog._epoch_dirs(cmp_dir) == []
    assert {
        (r.doc_a, r.doc_b) for r in log.table.to_df(spark).collect()
    } == {p for rows in epochs for p in rows}

    raw_idx.maintain(spark, removed_docs=[2, 12], pairs_dir=raw_dir)
    cmp_idx.maintain(spark, removed_docs=[2, 12], pairs_log=log)
    want = _clusters(raw_idx.resolve(spark))
    assert _clusters(cmp_idx.resolve(spark)) == want
    # the split genuinely happened: bridge 2 erased => 1 and 3 singletons
    assert {(1, 1, True), (3, 3, True), (13, 13, True)} <= want

    # MIXED sources: a post-compaction epoch stays raw until the next
    # fold; strict split reads table + raw tail together
    mk([(1, 4), (4, 3)]).write.mode("overwrite").parquet(f"{cmp_dir}/epoch=3")
    cmp_idx.add_batch(spark.read.parquet(f"{cmp_dir}/epoch=3"), epoch_id=3)
    raw_idx.add_batch(mk([(1, 4), (4, 3)]), epoch_id=3)
    mk([(1, 4), (4, 3)]).write.mode("overwrite").parquet(f"{raw_dir}/epoch=3")
    raw_idx.maintain(spark, removed_docs=[4], pairs_dir=raw_dir)
    cmp_idx.maintain(spark, removed_docs=[4], pairs_dir=cmp_dir, pairs_log=log)
    assert _clusters(cmp_idx.resolve(spark)) == _clusters(raw_idx.resolve(spark))

    # removal hygiene at compact time: folding the raw tail with
    # removed_docs drops every pair touching them; a later strict split
    # over the compacted log alone still matches
    folded2 = log.compact(spark, cmp_dir, removed_docs=[2, 4, 12])
    assert folded2 == 1
    got_pairs = {(r.doc_a, r.doc_b) for r in log.table.to_df(spark).collect()}
    assert not any(2 in p or 4 in p or 12 in p for p in got_pairs)
    cmp_idx.maintain(spark, removed_docs=[60], pairs_log=log)
    raw_idx.maintain(spark, removed_docs=[60], pairs_dir=raw_dir)
    assert _clusters(cmp_idx.resolve(spark)) == _clusters(raw_idx.resolve(spark))


def test_pairs_log_bounds_file_count_across_epochs(spark, warehouse, tmp_path):
    """N per-trigger epoch directories collapse into the table's
    partition layout: file count after compaction is bounded by the
    bucket count, not the epoch count, and re-compacting an
    already-folded log is a no-op (idempotent across the crash window
    between table commit and dir cleanup)."""
    import os

    from debezium_server_iceberg_spark.functions.incremental import PairsLog

    pairs_dir = str(tmp_path / "pairs")
    mk = lambda rows: spark.createDataFrame(rows, "doc_a long, doc_b long")
    n_epochs = 10
    for e in range(n_epochs):
        mk([(e * 10, e * 10 + 1), (e * 10 + 1, e * 10 + 2)]).coalesce(
            1
        ).write.mode("overwrite").parquet(f"{pairs_dir}/epoch={e}")
    raw_files = sum(
        len([f for f in files if f.endswith(".parquet")])
        for _, _, files in os.walk(pairs_dir)
    )
    assert raw_files >= n_epochs
    log = PairsLog.create(LakeCatalog(warehouse), "idx", "plog", partition_buckets=4)
    assert log.compact(spark, pairs_dir) == n_epochs
    assert PairsLog._epoch_dirs(pairs_dir) == []
    table_files = log.table.current_files()
    assert len(table_files) <= 4  # bounded by buckets, not epochs
    assert log.table.row_count() == 2 * n_epochs
    # idempotent: crash window replay (dirs already gone) changes nothing
    assert log.compact(spark, pairs_dir) == 0
    assert log.table.row_count() == 2 * n_epochs
    # pruned read: a one-component member set maps to a strict subset of
    # buckets and never widens results
    members = spark.createDataFrame([(0,), (1,), (2,)], "doc long")
    got = {
        (r.doc_a, r.doc_b)
        for r in log.pairs_for_members(spark, members).collect()
    }
    assert {(0, 1), (1, 2)} <= got


def test_minhash_feed_pairs_log_lifecycle(spark, tmp_path):
    """Feed integration: run_minhash_index_stream(pairs_log=) folds the
    raw epoch directories on the maintain cadence — a long-lived feed's
    pairs artifact stays the bucketed table, and a strict-split maintain
    through it still works."""
    import json
    import os

    from pyspark.sql import types as T

    from debezium_server_iceberg_spark.functions.incremental import (
        ClusterIndex,
        PairsLog,
    )
    from debezium_server_iceberg_spark.streaming.windows import (
        run_minhash_index_stream,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    b1 = docs.filter("doc_id % 2 = 0").select("doc_id", "text")
    b2 = docs.filter("doc_id % 2 = 1").select("doc_id", "text")
    indir = str(tmp_path / "docs_in")
    os.makedirs(indir)
    for name, bdf in [("b1.jsonl", b1), ("b2.jsonl", b2)]:
        with open(f"{indir}/{name}", "w") as fh:
            for r in bdf.collect():
                fh.write(json.dumps({"doc_id": r["doc_id"], "text": r["text"]}) + "\n")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
        ]
    )
    cat = LakeCatalog(str(tmp_path / "wh"))
    mh = MinHashIndex.create(cat, "dd", "idx")
    cl = ClusterIndex.create(cat, "dd", "cl")
    log = PairsLog.create(cat, "dd", "plog")
    pairs_dir = str(tmp_path / "pairs")
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).json(indir)
    q = run_minhash_index_stream(
        stream, mh, pairs_dir, str(tmp_path / "ckpt"),
        maintain_every=1, cluster_index=cl, pairs_log=log,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # every epoch folded on the cadence: no raw dirs remain
    assert PairsLog._epoch_dirs(pairs_dir) == []
    logged = {(r.doc_a, r.doc_b) for r in log.table.to_df(spark).collect()}
    assert logged, "feed produced no pairs; test would be vacuous"
    # strict split through the compacted log: removing one endpoint of a
    # logged pair leaves its partner consistent with a one-shot
    # clustering of the surviving pairs
    from debezium_server_iceberg_spark.functions.dedup import near_dup_clusters

    victim = min(min(p) for p in logged)
    cl.maintain(spark, removed_docs=[victim], pairs_dir=pairs_dir, pairs_log=log)
    surviving = log.table.to_df(spark).filter(
        (F.col("doc_a") != victim) & (F.col("doc_b") != victim)
    )
    want = _clusters(near_dup_clusters(surviving.select("doc_a", "doc_b")))
    got = _clusters(cl.resolve(spark))
    # every re-clustered doc agrees; singletons (docs with no surviving
    # pair) resolve to themselves
    for doc, rep, canon in want:
        assert (doc, rep, canon) in got
    assert all(r != victim and d != victim for d, r, _ in got)


def test_pairs_log_requires_maintain_cadence(spark, tmp_path):
    """pairs_log without a maintain cadence would never fold — refused
    at stream setup on both feeds."""
    import pytest as _pytest

    from pyspark.sql import types as T

    from debezium_server_iceberg_spark.functions.incremental import PairsLog
    from debezium_server_iceberg_spark.streaming.windows import (
        run_minhash_index_stream,
        run_vector_index_stream,
    )

    import os

    cat = LakeCatalog(str(tmp_path / "wh"))
    log = PairsLog.create(cat, "dd", "plog")
    schema = T.StructType([T.StructField("doc_id", T.LongType(), True)])
    os.makedirs(str(tmp_path / "in"))
    stream = spark.readStream.schema(schema).json(str(tmp_path / "in"))
    mh = MinHashIndex.create(cat, "dd", "idx")
    with _pytest.raises(ValueError, match="maintain_every"):
        run_minhash_index_stream(
            stream, mh, str(tmp_path / "p"), str(tmp_path / "c"), pairs_log=log
        )
    with _pytest.raises(ValueError, match="pairs_dir AND maintain_every"):
        run_vector_index_stream(stream, mh, str(tmp_path / "c2"), pairs_log=log)
