"""Incremental near-duplicate detection: a persistent MinHash-LSH band
index maintained in a lakehouse table.

At corpus scale you never re-LSH the whole corpus per ingest batch —
re-banding 100 TB to admit a 10 GB batch is the quadratic trap. Instead
the band index is data: one lakehouse row per (doc, band) carrying the
band value and the doc's full signature. Admitting a batch is then

1. band the NEW docs only (one aggregation over the batch's shingles);
2. equi-join the batch's (band, band_val) rows against the stored index —
   candidates vs the ENTIRE history at the cost of a batch-sized probe;
3. self-join the batch's bands for in-batch candidates;
4. verify candidates by signature agreement — both sides' signatures ride
   on the index rows (denormalized: ~n_bands copies per doc, the classic
   space-for-join trade; no second doc-keyed join to a signature table);
5. append the batch's band rows (atomic lakehouse append commit).

Batch-vs-history candidate generation is exact w.r.t. the one-shot LSH:
band values depend only on a doc's own text, so a pair collides across
batches iff it collides in a full-corpus run — incremental results are
IDENTICAL to batch-at-once (asserted in tests/test_incremental.py).

Scale notes: the index table IS partitioned — ``identity(pbucket)``
with ``pbucket = xxhash64(band_val) % N`` (``create(
partition_buckets=N)``; see :func:`pbucket_col` for why the codegen'd
xxhash64 and not the spec murmur3 bucket transform) — so each admitted
batch's probe scan reads ONLY the files of the batch's own bucket set,
collected driver-side (≤N ordinals, one bounded job) and pushed into
the scan as ``to_df(partition_values=)`` file pruning.  The probe side
is batch-sized and broadcastable; a backfill-shaped batch that touches
every bucket skips pruning and takes the shuffle join.  Without this,
every micro-batch of a continuous feed full-scans the accumulated
index — THE recurring-cost scale killer at 100 TB.
Base LSH machinery: functions/dedup.py (minhash_near_dup_pairs).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, functions as F

from ..lakehouse.catalog import LakeCatalog
from ..lakehouse.table import LakeTable
from ..lakehouse.transforms import PartitionField
from .dedup import _minhash_wide, band_structs_expr


class EpochRegressionError(RuntimeError):
    """A streamed batch's epoch is OLDER than the index's last stamped
    epoch.  Structured Streaming epochs are monotone per checkpoint, so
    this only happens when a checkpoint was reset (epochs restart at 0)
    or a second query writes the same index table — silently skipping
    would be silent data loss, so the feed fails loudly instead.

    Recovery from a LEGITIMATE checkpoint reset (the old checkpoint is
    gone, the new query's epochs restart at 0, and the operator has
    verified no data will be double-applied): call :func:`reset_epoch`
    on the index table once — it stamps a marker snapshot behind which
    the guard stops scanning, so the next feed's epoch numbering starts
    fresh.  Without it, a table carrying a high stamped epoch would
    raise on every epoch ``0..last`` of the new checkpoint forever."""


def epoch_already_applied(
    table: LakeTable, epoch_id: int | None, key: str = "epoch_id"
) -> bool:
    """Exactly-once guard for STREAMING feeds (the index feeds and the
    change consumer's per-table writes): every streamed commit
    stamps its epoch into the snapshot summary; a replayed micro-batch
    (foreachBatch is at-least-once) is detected so the caller can skip
    BOTH effects.  Since the checkpoint guarantees epochs are monotone
    per query, a replay can only carry the LAST stamped epoch — an
    epoch strictly below it means a reset checkpoint or a second writer
    query, and raises :class:`EpochRegressionError` rather than
    silently dropping every subsequent batch.

    ``key`` names the summary stamp, letting one epoch carry SEVERAL
    independently-guarded commits: the op-aware substring feed stamps
    its (arithmetic, non-idempotent) removal commit with
    ``removal_epoch_id`` so a crash between the removal and the
    epoch-stamped re-admitting append replays the removal exactly
    once."""
    if epoch_id is None:
        return False
    for s in reversed(table.metadata().snapshots):
        if s.summary.get("epoch_reset"):
            # operator-stamped reset marker (see reset_epoch): epoch
            # numbering restarted here — older stamps no longer bind
            return False
        e = s.summary.get(key)
        if e is None:
            continue  # other-keyed/maintenance snapshot: keep scanning
        last = int(e)
        if epoch_id < last:
            raise EpochRegressionError(
                f"batch epoch {epoch_id} < last applied {key} {last} for "
                f"{table.location!r} — reset checkpoint or second writer "
                "query; refusing to silently skip its appends"
            )
        return last == epoch_id
    return False


def reset_epoch(spark, table: LakeTable) -> None:
    """Stamp an ``epoch_reset`` marker snapshot: the documented recovery
    path after a LEGITIMATE checkpoint reset (see
    :class:`EpochRegressionError`).  The exactly-once guard stops its
    reverse scan at the marker, so the next feed's epochs (restarting at
    0) are admitted instead of raising against the pre-reset stamps.
    Deliberately an explicit operator action — an empty append commit —
    never something the feed does on its own, because a regression can
    equally mean a second writer query, where resetting WOULD lose data."""
    empty = spark.createDataFrame([], table.metadata().schema)
    table.append(empty, summary={"epoch_reset": "true"})


PBUCKET_COL = "pbucket"
PBUCKETS_PROP = "index.pbuckets"


def pbucket_col(col, n_buckets: int) -> F.Column:
    """The index tables' partition key: ``pmod(xxhash64(col), N)``.

    Deliberately NOT the Iceberg spec murmur3 bucket transform: spec
    fidelity matters for EXPORTED CDC tables (W17 parity), but these are
    engine-internal state tables where both writer and prober are this
    code — and the spec hash over variable-length strings is an
    interpreted higher-order ``F.aggregate`` chain (the repo's own
    documented 2-3x-slow class), which at millions of gram strings per
    admitted batch dominated the whole add_batch (measured 5.4 s -> 95 s
    at sf0.1 before this column existed).  ``xxhash64`` is a codegen'd
    JVM builtin: the partition key costs one flat expression.

    Export stance: this choice does NOT make index tables
    engine-private.  ``pbucket`` is a plain int DATA column under an
    ``identity()`` transform, which the Iceberg spec exports verbatim —
    the hash behind a data column is invisible to readers (spec murmur3
    only governs ``bucket(N, col)`` TRANSFORMS).  ``export_iceberg_table``
    / ``publish_iceberg`` therefore work on index tables unmodified,
    including foreign-side partition pruning on the exported values
    (test_minhash_index_table_exports_and_foreign_reads)."""
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def _xxhash64_long_np(vals, seed: int = 42):
    """Vectorized replica of Spark's ``xxhash64`` over a LONG column
    (XXH64 of the 8-byte value, Spark's default seed 42) — so a caller
    holding the key values DRIVER-side can derive their pbucket set
    without launching a Spark job.  Wrapping uint64 arithmetic; pinned
    bit-identical to ``F.xxhash64`` in tests/test_incremental.py."""
    import numpy as np

    u64 = np.uint64
    P1 = u64(0x9E3779B185EBCA87)
    P2 = u64(0xC2B2AE3D27D4EB4F)
    P3 = u64(0x165667B19E3779F9)
    P4 = u64(0x85EBCA77C2B2AE63)
    P5 = u64(0x27D4EB2F165667C5)
    with np.errstate(over="ignore"):
        v = np.asarray(vals, dtype=np.int64).view(np.uint64)
        k = v * P2
        k = (k << u64(31)) | (k >> u64(33))
        k = k * P1
        h = (u64(seed) + P5 + u64(8)) ^ k
        h = ((h << u64(27)) | (h >> u64(37))) * P1 + P4
        h ^= h >> u64(33)
        h *= P2
        h ^= h >> u64(29)
        h *= P3
        h ^= h >> u64(32)
    return h.view(np.int64)


def _pbucket_values_np(doc_ids, n_buckets: int) -> set:
    """Driver-side ``pbucket_col`` over a held long array: the bucket set
    of these keys, no Spark job (pmod == non-negative mod for n > 0)."""
    import numpy as np

    h = _xxhash64_long_np(doc_ids)
    return {int(b) for b in np.unique(np.mod(h, np.int64(n_buckets)))}


def _pbucket_probe_values(
    table: LakeTable, batch_df: DataFrame, buckets: set | None = None
) -> dict[str, set] | None:
    """The probe side's bucket set, as a ``to_df(partition_values=)``
    pruning dict — or None when pruning can't help (unpartitioned table,
    or the batch touches every bucket).  ``batch_df`` must already carry
    the ``pbucket`` column (the index row builders add it).

    Cost: one bounded job over the (cached) batch frame collecting at
    most N bucket ordinals — planning-scale regardless of batch size
    (callers that already ran an aggregate over the batch pass the
    bucket set through ``buckets`` and skip even that job).  Correct
    because the bucket is a pure function of the join key: every
    stored row that can equi-join a batch key lives in that key's
    bucket, so files outside the batch's bucket set cannot contribute
    matches."""
    meta = table.metadata()
    pfs = [
        pf
        for pf in meta.partition_spec
        if pf.transform == "identity" and pf.source == PBUCKET_COL
    ]
    if not pfs:
        return None
    n = int(meta.properties.get(PBUCKETS_PROP, "0") or 0)
    if buckets is None:
        buckets = {
            r[0] for r in batch_df.select(PBUCKET_COL).distinct().collect()
        }
    if n and len(buckets) >= n:
        return None  # backfill-shaped batch: every bucket probed anyway
    return {pfs[0].name: buckets}


class MinHashIndex:
    """Persistent LSH band index over a LakeTable.

    Table schema: ``doc long, band int, band_val string, m0..m{H-1}
    string, pbucket int`` (pbucket = the identity partition key, see
    :func:`pbucket_col`; absent when created with partition_buckets=0).
    """

    def __init__(
        self,
        table: LakeTable,
        num_hashes: int = 8,
        band_size: int = 2,
        threshold: float = 0.5,
        shingle_size: int = 3,
    ) -> None:
        self.table = table
        self.num_hashes = num_hashes
        self.band_size = band_size
        self.threshold = threshold
        self.shingle_size = shingle_size

    @staticmethod
    def create(
        catalog: LakeCatalog,
        namespace: str,
        name: str,
        num_hashes: int = 8,
        band_size: int = 2,
        threshold: float = 0.5,
        shingle_size: int = 3,
        partition_buckets: int = 32,
    ) -> "MinHashIndex":
        """``partition_buckets`` sizing: the probe prune reads
        ~``batch_keys / N`` of the index, while each append writes up to
        ``min(batch_keys, N)`` files (bin-packed by ``maintain`` on a
        cadence) — so size N to a few times the DISTINCT band values of a
        typical admitted batch.  The default 32 suits test/backfill
        shapes; a production CDC feed admitting hundreds of docs per
        trigger against a corpus-scale index wants 1024-32768, where the
        prune ratio is what keeps per-trigger stored-side I/O
        batch-proportional.  0 = unpartitioned (no pruning)."""
        from pyspark.sql import types as T

        fields = [
            T.StructField("doc", T.LongType()),
            T.StructField("band", T.IntegerType()),
            T.StructField("band_val", T.StringType()),
        ] + [
            T.StructField(f"m{s}", T.StringType()) for s in range(num_hashes)
        ] + ([T.StructField(PBUCKET_COL, T.IntegerType())] if partition_buckets else [])
        # identity(pbucket) with pbucket = xxhash64(band_val) % N
        # co-locates the probe join's key: add_batch prunes the
        # stored-side scan to the batch's bucket set instead of
        # full-scanning the accumulated index per admitted batch
        table = catalog.create_table(
            namespace,
            name,
            T.StructType(fields),
            # `doc` declares the DELETE key (remove_docs' equality-delete
            # target: one doc owns n_bands rows), not row uniqueness
            identifier_fields=["doc"],
            partition_spec=(
                [PartitionField(PBUCKET_COL, "identity")]
                if partition_buckets
                else None
            ),
            properties=(
                {PBUCKETS_PROP: str(partition_buckets)}
                if partition_buckets
                else None
            ),
        )
        return MinHashIndex(table, num_hashes, band_size, threshold, shingle_size)

    def _band_rows(self, docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
        wide = _minhash_wide(
            docs, text_col, id_col, self.num_hashes, self.shingle_size
        )
        mcols = [f"m{s}" for s in range(self.num_hashes)]
        # the ONE canonical band formula — sharing it with the one-shot
        # pair generator is what makes incremental ≡ batch-at-once hold
        band_structs = band_structs_expr(self.num_hashes, self.band_size)
        rows = wide.select(
            F.col("doc").cast("long").alias("doc"),
            F.explode(band_structs).alias("bv"),
            *mcols,
        ).select(
            "doc",
            F.col("bv.band").alias("band"),
            F.col("bv.band_val").alias("band_val"),
            *mcols,
        )
        n = self._pbuckets()
        if n:
            rows = rows.withColumn(PBUCKET_COL, pbucket_col(F.col("band_val"), n))
        return rows

    def _pbuckets(self) -> int:
        return int(self.table.metadata().properties.get(PBUCKETS_PROP, "0") or 0)

    def _verified(self, cand: DataFrame) -> DataFrame:
        matches = sum(
            (F.col(f"a{s}") == F.col(f"b{s}")).cast("int")
            for s in range(self.num_hashes)
        )
        return (
            cand.withColumn(
                "agreement", matches / F.lit(float(self.num_hashes))
            )
            .filter(F.col("agreement") >= F.lit(self.threshold))
            .select("doc_a", "doc_b", "agreement")
            .distinct()
        )

    def _epoch_already_applied(self, epoch_id: int | None) -> bool:
        return epoch_already_applied(self.table, epoch_id)

    def add_batch(
        self,
        docs: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        epoch_id: int | None = None,
        on_result: Callable[[DataFrame], None] | None = None,
    ) -> DataFrame | None:
        """Index a batch; return its verified near-dup pairs — new-vs-history
        and new-vs-new, ``(doc_a, doc_b, agreement)`` with doc_a < doc_b.

        The returned plan is resolved against the PRE-append snapshot (the
        index scan captures the current manifest), so collecting it after
        the append stays correct — lakehouse reads are snapshot-isolated.

        ``epoch_id`` (streaming feeds) makes the append idempotent: a
        replayed epoch appends nothing and returns ``None`` (distinct
        from a genuinely empty result — the caller must NOT overwrite a
        prior attempt's durable results with emptiness).

        ``on_result`` is the exactly-once sink hook: it is invoked with
        the materialized pairs BEFORE the epoch-stamped append commits,
        so "epoch stamped" implies "results durable" — a crash anywhere
        leaves a replay able to either recompute deterministically (stamp
        missing) or skip both effects (stamp present).  On a replayed
        epoch the hook is NOT invoked."""
        spark = docs.sparkSession
        if self._epoch_already_applied(epoch_id):
            return None
        mcols = [f"m{s}" for s in range(self.num_hashes)]
        new = self._band_rows(docs, text_col, id_col).cache()

        a = new.select(
            "band", "band_val", F.col("doc").alias("doc_n"),
            *[F.col(m).alias(f"a{s}") for s, m in enumerate(mcols)],
        )
        # batch side probes the stored index. Broadcast only when the
        # byte estimate says the batch fits (CDC-sized batches do); a large
        # backfill batch must take the shuffle join, not blow the broadcast
        # limit — AQE can still convert at runtime from the real size.
        from ..lakehouse.table import _BROADCAST_BYTES, _est_row_width

        # manifest check, driver-side, free: the cold first batch of every
        # feed has no stored side — no probe-values job, no history join
        has_history = bool(self.table.current_files())
        if has_history and self._pbuckets():
            # ONE aggregate job yields the count (cache materialization +
            # broadcast sizing) AND the batch's bucket set (stored-side
            # file pruning) — previously two separate jobs over the cache
            agg = new.groupBy().agg(
                F.count(F.lit(1)).alias("_n"),
                F.collect_set(PBUCKET_COL).alias("_b"),
            ).first()
            n_new = int(agg["_n"])
            part_vals = _pbucket_probe_values(
                self.table, new, buckets=set(agg["_b"])
            )
        elif has_history:
            n_new = new.count()  # materializes the cache the joins reuse
            part_vals = None
        else:
            # cold first batch: n_new is never read (no broadcast decision
            # to make) and the pairs checkpoint below fills the cache —
            # the count was a whole job buying nothing
            n_new = 0
            part_vals = None
        b = new.select(
            "band", "band_val", F.col("doc").alias("doc_o"),
            *[F.col(m).alias(f"b{s}") for s, m in enumerate(mcols)],
        )
        within = (
            a.join(b, ["band", "band_val"])
            .filter(F.col("doc_n") < F.col("doc_o"))
            .select(
                F.col("doc_n").alias("doc_a"),
                F.col("doc_o").alias("doc_b"),
                *[F.col(f"a{s}") for s in range(self.num_hashes)],
                *[F.col(f"b{s}") for s in range(self.num_hashes)],
            )
        )
        combined = within
        if has_history:
            # prune the stored-side scan to the batch's bucket set; the
            # equi-join on band_val keeps exactness — pruning only drops
            # files that cannot hold a matching band_val
            old = self.table.to_df(spark, partition_values=part_vals).select(
                "band", "band_val", F.col("doc").alias("doc_o"),
                *[F.col(m).alias(f"b{s}") for s, m in enumerate(mcols)],
            )
            probe = (
                F.broadcast(a)
                if n_new * _est_row_width(new.schema) <= _BROADCAST_BYTES
                else a
            )
            cross = (
                probe.join(old, ["band", "band_val"])
                .filter(F.col("doc_n") != F.col("doc_o"))
                .select(
                    F.least("doc_n", "doc_o").alias("doc_a"),
                    F.greatest("doc_n", "doc_o").alias("doc_b"),
                    *[F.col(f"a{s}") for s in range(self.num_hashes)],
                    *[F.col(f"b{s}") for s in range(self.num_hashes)],
                )
            )
            combined = cross.unionByName(within)
        # verified pairs materialize BEFORE the append (and before the
        # cache is released) — the checkpoint also makes the returned
        # DataFrame independent of this batch's cached/staged state.  The
        # order is strict: a failed checkpoint leaves the table untouched,
        # so a retry of the same call appends exactly once.
        try:
            pairs = self._verified(combined).localCheckpoint(eager=True)
            if on_result is not None:
                # sink effect first: once the epoch stamp commits, the
                # results are already durable (see docstring's crash matrix)
                on_result(pairs)
            self.table.append(
                new,  # carries exactly the table's columns (incl. pbucket)
                summary={"epoch_id": str(epoch_id)} if epoch_id is not None else None,
            )
        finally:
            new.unpersist()
        return pairs

    def remove_docs(self, spark, doc_ids) -> int:
        """CDC deletes propagate into the index: ALL band rows of the
        given docs are equality-deleted in one merge-on-read commit
        (zero reads of stored data — the reference's equality-delta
        shape, BaseDeltaTaskWriter.java:60-71), so subsequent probes
        stop matching them; ``maintain``/compaction materializes the
        tombstones.  ``doc_ids`` is a list of ids or a DataFrame with a
        ``doc`` column.  Replay-safe by IDEMPOTENCE (re-deleting the
        same keys matches nothing new), so streaming feeds need no
        epoch stamp here — and must not use one: an add and a remove
        in the SAME epoch are two commits, and only the add carries
        the epoch guard.  Returns the deleted key count.

        (The other indexes remove differently, matching their storage:
        :meth:`SubstringIndex.remove_docs` appends NEGATIVE gram counts
        from the delete events' before-image text;
        :meth:`ClusterIndex.maintain` takes ``removed_docs`` and
        re-elects min-id representatives at fold time.)"""
        if isinstance(doc_ids, DataFrame):
            keys = doc_ids.select(F.col("doc").cast("long").alias("doc"))
        else:
            keys = spark.createDataFrame(
                [(int(d),) for d in doc_ids] or [], "doc long"
            )
        _, deleted = self.table.commit_row_delta(
            None, keys, summary={"operation_detail": "remove-docs"}
        )
        return deleted

    def maintain(
        self, spark, min_input_files: int = 8, max_input_files: int | None = 256
    ) -> int:
        """Bin-pack the index's per-batch appends (the small-files problem:
        every add_batch commits up to one file per touched bucket;
        probe-scan cost is per-file overhead × file count until
        compacted). Atomic swap via the table's delta commit — concurrent
        probes keep reading the old snapshot; partition transforms are
        recomputed on rewrite, so bucket pruning survives compaction.
        ``max_input_files`` (default 256) bounds ONE maintenance pass so
        a long-lived stream's cadence call never degenerates into a
        whole-index rewrite — the recurring-cost rule that motivated the
        bucket partitioning applies to maintenance too.  Returns files
        removed; call on a cadence (``run_dedup_index_stream
        maintain_every``), not per batch."""
        return self.table.compact(
            spark, min_input_files=min_input_files, max_input_files=max_input_files
        )


class SubstringIndex:
    """Persistent k-gram inversion for the exact-substring duplication
    profile (``functions/dedup.py exact_substring_profile``) — the
    recurring-corpus-refresh shape of Lee-et-al dedup: admitting a batch
    probes its windows against the stored inversion instead of
    re-scanning all history (the one-shot operator's scale-killer for a
    corpus that refreshes).

    Table schema: ``_h string (md5 of the k-token window), n_docs long``
    — one row per (batch, gram) carrying that batch's doc count.  Probe
    totals SUM the matched rows, so appends never rewrite; duplicate
    ``_h`` rows across batches are a read-amplification concern handled
    by :meth:`maintain`, never a correctness one.

    Batch profile ≡ one-shot: a window of a batch doc is shared iff the
    number of docs containing it across (history ∪ batch) is >= 2, i.e.
    ``stored_total(_h) + batch_count(_h) >= 2`` — exactly the one-shot
    predicate over the union corpus restricted to the batch's docs
    (asserted in tests/test_incremental.py).  Historical docs' profiles
    are not retro-updated: the production contract is "score data as it
    arrives against all history", same as :class:`MinHashIndex`.

    Scale: the batch side is (batch-distinct-gram)-sized and broadcast
    when its byte estimate fits (CDC-sized refreshes do); a backfill
    takes the shuffle join.  The stored table IS partitioned —
    ``identity(pbucket)``, ``pbucket = xxhash64(_h) % N``
    (``create(partition_buckets=N)``; sizing rule in
    :meth:`MinHashIndex.create`): each batch's probe scan is pruned to
    the batch's own bucket set driver-side, so per-batch stored-side
    I/O is bounded by the batch's gram spread, not the accumulated
    index size.
    """

    def __init__(self, table: LakeTable, k: int = 8, max_shared_frac_tenths: int = 3) -> None:
        self.table = table
        self.k = k
        self.max_shared_frac_tenths = max_shared_frac_tenths

    @staticmethod
    def create(
        catalog: LakeCatalog,
        namespace: str,
        name: str,
        k: int = 8,
        max_shared_frac_tenths: int = 3,
        partition_buckets: int = 32,
    ) -> "SubstringIndex":
        from pyspark.sql import types as T

        table = catalog.create_table(
            namespace,
            name,
            T.StructType(
                [
                    T.StructField("_h", T.StringType()),
                    T.StructField("n_docs", T.LongType()),
                ]
                + (
                    [T.StructField(PBUCKET_COL, T.IntegerType())]
                    if partition_buckets
                    else []
                )
            ),
            partition_spec=(
                [PartitionField(PBUCKET_COL, "identity")]
                if partition_buckets
                else None
            ),
            properties=(
                {PBUCKETS_PROP: str(partition_buckets)}
                if partition_buckets
                else None
            ),
        )
        return SubstringIndex(table, k, max_shared_frac_tenths)

    # same exactly-once contract as MinHashIndex (streaming feeds)
    _epoch_already_applied = MinHashIndex._epoch_already_applied

    def add_batch(
        self,
        docs: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        epoch_id: int | None = None,
        on_result: Callable[[DataFrame], None] | None = None,
    ) -> DataFrame | None:
        """Index a batch; return its duplication profile measured against
        history ∪ batch — ``(id, n_grams, n_shared, shared_frac, keep)``,
        the same schema/semantics as the one-shot operator over the union
        corpus, restricted to the batch's docs.  The plan resolves
        against the PRE-append snapshot, so collecting after the append
        stays correct (lakehouse reads are snapshot-isolated).

        ``epoch_id`` (streaming feeds) makes the append idempotent: a
        replayed epoch appends nothing and returns ``None`` without
        invoking ``on_result`` — same contract as
        :meth:`MinHashIndex.add_batch` (the sink hook runs on the
        materialized profile BEFORE the epoch-stamped append)."""
        from ..lakehouse.table import _BROADCAST_BYTES, _est_row_width

        from .text import word_gram_hashes

        spark = docs.sparkSession
        if self._epoch_already_applied(epoch_id):
            return None
        n_pb = int(
            self.table.metadata().properties.get(PBUCKETS_PROP, "0") or 0
        )
        grams = word_gram_hashes(docs, self.k, text_col, id_col).dropDuplicates(
            [id_col, "_h"]
        ).cache()
        batch_counts = grams.groupBy("_h").agg(
            F.count(F.lit(1)).alias("_nb")
        )
        if n_pb:
            batch_counts = batch_counts.withColumn(
                PBUCKET_COL, pbucket_col(F.col("_h"), n_pb)
            )
        batch_counts = batch_counts.cache()
        # manifest check, driver-side, free: the cold first batch of every
        # feed probes an EMPTY inversion — the stored join contributes
        # nothing, so the shared predicate collapses to the in-batch count
        has_history = bool(self.table.current_files())
        if has_history and n_pb:
            # ONE aggregate job: count (cache materialization + broadcast
            # sizing) AND the batch's gram-bucket set for file pruning —
            # previously two separate jobs over the cache
            agg = batch_counts.groupBy().agg(
                F.count(F.lit(1)).alias("_n"),
                F.collect_set(PBUCKET_COL).alias("_b"),
            ).first()
            n_batch = int(agg["_n"])
            part_vals = _pbucket_probe_values(
                self.table, batch_counts, buckets=set(agg["_b"])
            )
        elif has_history:
            n_batch = batch_counts.count()  # materializes both reuses
            part_vals = None
        else:
            # cold first batch: n_batch is never read (no probe side to
            # size) and the profile checkpoint below fills both caches —
            # the count was a whole job buying nothing
            n_batch = 0
            part_vals = None
        if has_history:
            probe_side = batch_counts.select("_h", "_nb")
            probe = (
                F.broadcast(probe_side)
                if n_batch * _est_row_width(batch_counts.schema) <= _BROADCAST_BYTES
                else probe_side
            )
            # stored-side scan pruned to the batch's gram-bucket set;
            # exactness rides the inner join
            stored = (
                probe.join(
                    self.table.to_df(spark, partition_values=part_vals).select(
                        "_h", "n_docs"
                    ),
                    "_h",
                )
                .groupBy("_h")
                .agg(F.sum("n_docs").alias("_ns"))
            )
            shared = (
                batch_counts.join(stored, "_h", "left")
                .filter(F.coalesce(F.col("_ns"), F.lit(0)) + F.col("_nb") >= 2)
                .select("_h", F.lit(1).alias("_hit"))
            )
        else:
            shared = batch_counts.filter(F.col("_nb") >= 2).select(
                "_h", F.lit(1).alias("_hit")
            )
        joined = grams.join(shared, "_h", "left")
        n_grams = F.count(F.lit(1))
        n_shared = F.count("_hit")  # non-null only
        prof = joined.groupBy(id_col).agg(
            n_grams.alias("n_grams"),
            n_shared.alias("n_shared"),
            F.round(n_shared.cast("double") / n_grams.cast("double"), 4).alias(
                "shared_frac"
            ),
            (
                n_shared * F.lit(10)
                <= n_grams * F.lit(self.max_shared_frac_tenths)
            ).alias("keep"),
        )
        append_frame = batch_counts.select(
            "_h",
            F.col("_nb").alias("n_docs"),
            *([PBUCKET_COL] if n_pb else []),
        )
        # profile materializes BEFORE the append (pre-append snapshot +
        # independence from the cached/staged batch state); a failed
        # checkpoint leaves the table untouched, so a retry appends once
        try:
            prof = prof.localCheckpoint(eager=True)
            if on_result is not None:
                on_result(prof)  # sink effect before the epoch stamp
            self.table.append(
                append_frame,
                summary={"epoch_id": str(epoch_id)} if epoch_id is not None else None,
            )
        finally:
            batch_counts.unpersist()
            grams.unpersist()
        return prof

    def remove_docs(
        self,
        docs: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        epoch_id: int | None = None,
    ) -> int:
        """CDC deletes propagate into the gram inversion as NEGATIVE
        counts: the index rows are per-batch gram AGGREGATES, not
        doc-keyed, so un-counting a doc needs its gram set — which a
        Debezium delete event CARRIES as the ``before`` image
        (Envelope.before; the reference's delete rows flow the same
        payload, BaseDeltaTaskWriter.java:60-71).  ``docs`` is the
        removed docs WITH their text; one append commits ``(_h, -n)``
        rows (zero reads of stored data, batch-proportional like
        add_batch), and every probe's SUM then equals an index built
        without those docs.  ``maintain(fold=True)`` folds the negative
        rows away.

        NOT idempotent (unlike :meth:`MinHashIndex.remove_docs`, whose
        equality delete re-applies as a no-op): a negative append is
        arithmetic, so route removals exactly-once — remove each
        indexed doc at most once, and only docs that were admitted.
        ``epoch_id`` (streaming feeds) provides that exactly-once: the
        negative append stamps ``removal_epoch_id`` and a replayed call
        for the same epoch appends nothing — the guard a crash between
        the removal commit and the epoch-stamped re-admitting append
        needs (:func:`epoch_already_applied` with ``key=``).
        Returns the number of docs whose grams were un-counted."""
        from .text import word_gram_hashes

        if epoch_already_applied(self.table, epoch_id, key="removal_epoch_id"):
            return 0
        n_pb = int(
            self.table.metadata().properties.get(PBUCKETS_PROP, "0") or 0
        )
        grams = word_gram_hashes(docs, self.k, text_col, id_col).dropDuplicates(
            [id_col, "_h"]
        ).cache()
        n_docs = grams.select(id_col).distinct().count()
        neg = grams.groupBy("_h").agg(
            (-F.count(F.lit(1))).cast("long").alias("n_docs")
        )
        if n_pb:
            neg = neg.select(
                "_h", "n_docs", pbucket_col(F.col("_h"), n_pb).alias(PBUCKET_COL)
            )
        summary = {"operation_detail": "remove-docs"}
        if epoch_id is not None:
            summary["removal_epoch_id"] = str(epoch_id)
        self.table.append(neg, summary=summary)
        grams.unpersist()
        return n_docs

    def maintain(
        self,
        spark,
        min_input_files: int = 8,
        max_input_files: int | None = 256,
        fold: bool = False,
    ) -> int:
        """Bin-pack per-batch appends; atomic swap, probes keep reading
        the old snapshot; bucket layout (and probe pruning) survives the
        rewrite.  ``max_input_files`` bounds one pass — see
        :meth:`MinHashIndex.maintain`.  Returns files removed.

        ``fold=True`` is the EXPLICIT heavy op (one full rewrite): gram
        rows re-aggregate to one row per ``_h`` and rows whose total
        reached zero (all contributing docs removed via
        :meth:`remove_docs`) drop out — run it on a slow cadence after
        delete-heavy traffic; plain compaction stays the per-stream
        cadence call."""
        if fold:
            n_pb = int(
                self.table.metadata().properties.get(PBUCKETS_PROP, "0") or 0
            )
            bucket = [PBUCKET_COL] if n_pb else []
            folded = (
                self.table.to_df(spark)
                .groupBy("_h", *bucket)
                .agg(F.sum("n_docs").alias("n_docs"))
                .filter(F.col("n_docs") > 0)
                .select("_h", "n_docs", *bucket)
            )
            self.table.overwrite(folded, summary={"operation_detail": "fold"})
        return self.table.compact(
            spark, min_input_files=min_input_files, max_input_files=max_input_files
        )


class PairsLog:
    """Lifecycle for the stream feeds' durable pairs log — the r14 gap
    (the one unbounded artifact left on a long-lived feed): both
    streaming feeds append ``pairs_dir/epoch=N`` parquet directories
    forever, and strict-split ``ClusterIndex.maintain`` scanned the
    ENTIRE accumulated log.  This class folds those epoch directories
    into ONE bucket-partitioned lakehouse table of LIVE pairs — the
    same ``identity(pbucket)`` discipline as every other persistent
    index (``pbucket = xxhash64(doc_a) % N``) — so

    - file count stays bounded: N epochs of per-trigger directories
      collapse into the table's partition layout on every compaction
      (the reference never leaves unbounded state either —
      IcebergOffsetBackingStore.java:193-230 overwrites its store,
      docs/faq.md:5-7 orders compaction);
    - strict-split maintains prune: the affected components' members
      map to a bucket set (planning-scale, ≤N ordinals) and the scan
      reads ONLY those partitions' files instead of every epoch ever
      written.

    Compaction is the EXPLICIT heavy op (one distinct-union shuffle
    over the live pair set — the ``ClusterIndex.maintain`` class), run
    on a cadence: pass ``pairs_log=`` to the stream feeds to fold every
    ``maintain_every`` epochs inside foreachBatch, or call
    :meth:`compact` from an operator job.  Idempotent across a crash
    between the table commit and the raw-directory cleanup: re-reading
    already-folded epochs distinct-unions to the identical table, and
    the leftover directories are removed on the next pass.  Single
    writer per log, the shared discipline of all persistent indexes —
    inside the feeds it runs where no epoch directory is mid-write.

    Bucket pruning on ``doc_a`` alone is CORRECT for the strict-split
    read because logged pairs connect members of one component: if a
    pair's ``doc_b`` lands in an affected component, its ``doc_a`` is
    in the same component (that is what the pair asserts), so scanning
    the members' ``doc_a`` buckets misses nothing; ghost pairs whose
    erased endpoint keeps them out of the bucket set are exactly the
    pairs the member semijoin would drop anyway."""

    def __init__(self, table: LakeTable) -> None:
        self.table = table

    @staticmethod
    def create(
        catalog: LakeCatalog,
        namespace: str,
        name: str,
        partition_buckets: int = 32,
    ) -> "PairsLog":
        from pyspark.sql import types as T

        table = catalog.create_table(
            namespace,
            name,
            T.StructType(
                [
                    T.StructField("doc_a", T.LongType()),
                    T.StructField("doc_b", T.LongType()),
                ]
                + (
                    [T.StructField(PBUCKET_COL, T.IntegerType())]
                    if partition_buckets
                    else []
                )
            ),
            partition_spec=(
                [PartitionField(PBUCKET_COL, "identity")]
                if partition_buckets
                else None
            ),
            properties=(
                {PBUCKETS_PROP: str(partition_buckets)}
                if partition_buckets
                else None
            ),
        )
        return PairsLog(table)

    @staticmethod
    def _epoch_dirs(pairs_dir: str) -> list[str]:
        """The raw per-epoch directories present RIGHT NOW (snapshot —
        compaction folds and deletes exactly this set, so an epoch
        written after the listing survives untouched).  Underscore
        entries (crashed staging debris) are invisible to Spark's file
        index and stay ignored here too."""
        import os

        if not os.path.isdir(pairs_dir):
            return []
        return sorted(e for e in os.listdir(pairs_dir) if e.startswith("epoch="))

    @staticmethod
    def _read_raw(spark, pairs_dir: str, epoch_dirs: list[str]) -> DataFrame | None:
        import os

        if not epoch_dirs:
            return None
        return spark.read.parquet(
            *[os.path.join(pairs_dir, e) for e in epoch_dirs]
        ).select(
            F.col("doc_a").cast("long").alias("doc_a"),
            F.col("doc_b").cast("long").alias("doc_b"),
        )

    def compact(
        self,
        spark,
        pairs_dir: str,
        removed_docs: DataFrame | list | None = None,
        prune_raw: bool = True,
    ) -> int:
        """Fold the raw epoch directories into the live-pairs table:
        new table = distinct(table ∪ raw epochs) minus pairs touching
        ``removed_docs`` (hygiene for docs erased by earlier maintains —
        optional, because the strict-split member semijoin drops ghost
        pairs regardless; passing it bounds the table by the LIVE
        corpus).  ``prune_raw`` then deletes the folded directories, so
        the raw log never grows past one compaction interval.  Returns
        the number of epoch directories folded."""
        import os
        import shutil

        epoch_dirs = self._epoch_dirs(pairs_dir)
        merged = self.table.to_df(spark).select("doc_a", "doc_b")
        raw = self._read_raw(spark, pairs_dir, epoch_dirs)
        if raw is not None:
            merged = merged.unionByName(raw)
        merged = merged.distinct()
        if removed_docs is not None:
            if isinstance(removed_docs, DataFrame):
                removed = removed_docs.select(
                    F.col("doc").cast("long").alias("doc")
                )
            else:
                removed = spark.createDataFrame(
                    [(int(d),) for d in removed_docs] or [], "doc long"
                )
            merged = (
                merged.join(
                    removed.select(F.col("doc").alias("doc_a")),
                    "doc_a",
                    "left_anti",
                )
                .join(
                    removed.select(F.col("doc").alias("doc_b")),
                    "doc_b",
                    "left_anti",
                )
                .select("doc_a", "doc_b")
            )
        n_pb = int(
            self.table.metadata().properties.get(PBUCKETS_PROP, "0") or 0
        )
        if n_pb:
            merged = merged.withColumn(
                PBUCKET_COL, pbucket_col(F.col("doc_a"), n_pb)
            )
        self.table.overwrite(
            merged,
            summary={
                "operation_detail": "pairs_compact",
                "folded_epochs": str(len(epoch_dirs)),
            },
        )
        if prune_raw:
            for e in epoch_dirs:
                shutil.rmtree(os.path.join(pairs_dir, e), ignore_errors=True)
        return len(epoch_dirs)

    def pairs_for_members(self, spark, members: DataFrame) -> DataFrame:
        """The compacted pairs relevant to ``members`` (a ``doc`` column):
        the strict-split read path.  The members' bucket set (≤N
        ordinals, one bounded job) prunes the scan to those partitions'
        files; the caller still applies its own endpoint semijoins —
        pruning only limits I/O, never widens results."""
        n_pb = int(
            self.table.metadata().properties.get(PBUCKETS_PROP, "0") or 0
        )
        pruning = None
        if n_pb:
            probe = members.select(
                pbucket_col(F.col("doc"), n_pb).alias(PBUCKET_COL)
            )
            pruning = _pbucket_probe_values(self.table, probe)
        return self.table.to_df(spark, partition_values=pruning).select(
            "doc_a", "doc_b"
        )


class ClusterIndex:
    """Incrementally-maintained connected components: the cluster half of
    the continuous-dedup loop (near_dup_clusters is the ONE-SHOT form —
    ``functions/dedup.py:200`` — whose union-find re-reads EVERY pair
    ever found on each call; at corpus scale the cluster assignment is
    state and must live on disk, exactly like the band index it feeds
    from).

    Storage is the classic union-find forest split into two tables:

    - ``assign`` — one row ``(doc, rep)`` per EVER-SEEN doc, written once
      at admission and never rewritten by add_batch (append-only: the
      rep recorded is the component representative AT ADMIT TIME);
      partitioned ``identity(pbucket)`` (``pbucket = xxhash64(doc) % N``)
      so a batch's membership probe is a pruned scan, same discipline as
      the band/gram indexes.
    - ``merges`` — one row ``(old_rep, new_rep)`` per cluster-merge EVENT
      (a later pair unifying two existing components).  A doc's CURRENT
      canonical is ``rep`` chased through the merge chain to a fixed
      point.

    ``add_batch`` cost is EPOCH-sized: the batch's pairs, the touched
    docs' assign rows (pruned probe), and the merge-event chain since the
    last maintain all fit the driver (the same bounded-planning-fetch
    class as the one-shot's <=500k-edge union-find path); history is
    never re-clustered.  ``maintain()`` folds accumulated merge events
    back into ``assign`` (full rewrite — the explicit heavy op, the
    periodic-rebuild analog of IVF codebook drift) and empties
    ``merges``, so the chain the per-batch path carries stays short.
    Invariant throughout: canonical id = MIN member id, so incremental
    admission in ANY batch order equals the one-shot clustering over the
    union of all pairs (min over a merged component is the min of the
    parts' minima) — asserted in tests/test_incremental.py.

    Exactly-once: the ``assign`` append carries the epoch stamp (shared
    guard); ``merges`` rows append FIRST and are deduplicated at
    resolution, so a crash between the two appends replays to an
    identical state.  Single writer per index, as with the other
    persistent indexes.
    """

    #: guard on the ONE remaining data-dependent driver fetch
    #: (`_merge_map` chases the merges table driver-side): merge events
    #: are component-merge-count-sized and `maintain()` folds them, so a
    #: healthy feed stays orders of magnitude below this — crossing it
    #: means maintain() never ran, and the fetch must not grow unbounded
    #: (the `small_edge_threshold` discipline, one function up)
    merge_chain_threshold: int = 500_000

    def __init__(self, assign: LakeTable, merges: LakeTable) -> None:
        self.assign = assign
        self.merges = merges

    @staticmethod
    def create(
        catalog: LakeCatalog,
        namespace: str,
        name: str,
        partition_buckets: int = 32,
    ) -> "ClusterIndex":
        from pyspark.sql import types as T

        assign = catalog.create_table(
            namespace,
            f"{name}_assign",
            T.StructType(
                [
                    T.StructField("doc", T.LongType()),
                    T.StructField("rep", T.LongType()),
                ]
                + (
                    [T.StructField(PBUCKET_COL, T.IntegerType())]
                    if partition_buckets
                    else []
                )
            ),
            partition_spec=(
                [PartitionField(PBUCKET_COL, "identity")]
                if partition_buckets
                else None
            ),
            properties=(
                {PBUCKETS_PROP: str(partition_buckets)}
                if partition_buckets
                else None
            ),
        )
        merges = catalog.create_table(
            namespace,
            f"{name}_merges",
            T.StructType(
                [
                    T.StructField("old_rep", T.LongType()),
                    T.StructField("new_rep", T.LongType()),
                ]
            ),
        )
        return ClusterIndex(assign, merges)

    @staticmethod
    def seed(
        catalog: LakeCatalog,
        namespace: str,
        name: str,
        clusters: DataFrame,
        partition_buckets: int = 32,
    ) -> "ClusterIndex":
        """Bootstrap from a ONE-SHOT clustering — the BACKFILL entry
        path.  ``add_batch`` is deliberately epoch-sized (driver
        union-find over the batch's pairs); a historical corpus is
        instead clustered once with the distributed one-shot operator
        (``functions/dedup.near_dup_clusters`` — pointer doubling at
        scale) and its ``(doc, cluster_id, ...)`` output seeds the
        index in one distributed, bucket-partitioned append.  The
        stream then admits incrementally on top.

        Requires the one-shot's invariant (cluster_id = MIN member id),
        which is exactly what ``near_dup_clusters`` produces — seeded +
        incremental thereafter ≡ one-shot over the union of all pairs
        (tested)."""
        idx = ClusterIndex.create(
            catalog, namespace, name, partition_buckets=partition_buckets
        )
        rows = clusters.select(
            F.col("doc").cast("long").alias("doc"),
            F.col("cluster_id").cast("long").alias("rep"),
        )
        if partition_buckets:
            rows = rows.withColumn(
                PBUCKET_COL, pbucket_col(F.col("doc"), partition_buckets)
            )
        idx.assign.append(rows, summary={"operation_detail": "seed"})
        return idx

    # ------------------------------------------------------------ helpers
    def _merge_map(self, spark, guard: bool = True) -> dict[int, int]:
        """The merge chain since the last maintain, chased to fixed
        point driver-side.  Size contract: one entry per cluster-merge
        EVENT between maintains — planning-scale (call ``maintain`` on a
        cadence to keep it so).  GUARDED: the physical row count (free
        off file stats, no scan) must stay under
        ``merge_chain_threshold`` — a feed that never maintains would
        otherwise grow this fetch without bound.  ``maintain()`` itself
        runs unguarded (it IS the recovery path the error names, and the
        explicit heavy op by contract)."""
        n_events = self.merges.row_count()
        if n_events == 0:
            # row_count reads file stats driver-side — an empty merges
            # table (every epoch until the first cluster merge, and every
            # epoch right after a maintain) skips the collect job entirely
            return {}
        if guard and n_events > self.merge_chain_threshold:
            raise RuntimeError(
                f"merges table holds {n_events} merge events, over "
                f"merge_chain_threshold={self.merge_chain_threshold}: "
                "the driver-side merge-chain fetch is maintain-cadence-"
                "bounded by contract — call maintain() (folds events "
                "into assign and empties merges), or raise the "
                "threshold if the driver can hold the chain"
            )
        raw = {}
        for r in self.merges.to_df(spark).collect():
            old, new = int(r["old_rep"]), int(r["new_rep"])
            # duplicates (crash-replay appends) agree by determinism;
            # keep the smaller target if they ever disagree mid-chain
            raw[old] = min(new, raw.get(old, new))

        def chase(x: int) -> int:
            seen = []
            while x in raw and raw[x] != x:
                seen.append(x)
                x = raw[x]
            for s in seen:  # path compression
                raw[s] = x
            return x

        return {k: chase(k) for k in list(raw)}

    def add_batch(
        self,
        pairs: DataFrame,
        epoch_id: int | None = None,
        small_edge_threshold: int = 500_000,
    ) -> DataFrame | None:
        """Admit one epoch's verified near-dup pairs ``(doc_a, doc_b)``;
        return the touched docs' POST-admission assignments
        ``(doc, cluster_id, is_canonical)``.  Returns ``None`` on a
        replayed epoch (nothing re-appended — same contract as the other
        persistent indexes).

        Adaptive two-path execution, the same size-switch as the one-shot
        ``near_dup_clusters``: the epoch's DISTINCT pair count is known
        for free from the dedup pass, and PAIR VOLUME IS DATA-DEPENDENT,
        not batch-size-dependent — one micro-batch of near-identical
        boilerplate docs (a crawler template) makes the band join emit
        O(batch²) verified pairs, which an unguarded driver collect would
        OOM on silently.

        - ≤ ``small_edge_threshold`` edges (normal CDC epochs): one
          Arrow fetch of the edge list + a pruned probe of ``assign`` for
          the touched docs, then a driver union-find over (pairs +
          touched assignments + merge chain) — all epoch-sized.
        - above it: :meth:`_add_batch_distributed` — distributed
          connected components over the epoch's pairs, a distributed
          membership join against ``assign``, and a (tiny) rep-graph
          union to reconcile with existing components.  Same resolution
          as the driver path (asserted in tests/test_incremental.py); a
          true historical backfill should still prefer :meth:`seed`.

        Either way, stored components are merged by RECORDING the merge
        event, never by rewriting their rows."""
        spark = pairs.sparkSession
        if epoch_already_applied(self.assign, epoch_id):
            return None
        dpairs = (
            pairs.select(
                F.col("doc_a").cast("long").alias("doc_a"),
                F.col("doc_b").cast("long").alias("doc_b"),
            )
            .distinct()
            .cache()
        )
        # ONE bounded Arrow fetch decides the path AND delivers the small
        # path's edge list (formerly a count job + a separate toPandas):
        # at most threshold+1 rows reach the driver (~16 B/edge); an
        # overflowing fetch routes to the distributed path, whose first
        # job materializes the cache.
        import numpy as np
        import pandas as pd

        pdf = dpairs.limit(small_edge_threshold + 1).toPandas()
        if len(pdf) > small_edge_threshold:
            try:
                return self._add_batch_distributed(spark, dpairs, epoch_id)
            finally:
                dpairs.unpersist()
        dpairs.unpersist()
        ua = pdf["doc_a"].to_numpy(dtype="int64")
        ub = pdf["doc_b"].to_numpy(dtype="int64")
        touched_np = (
            np.unique(np.concatenate([ua, ub])) if len(ua) else ua
        )
        touched = touched_np.tolist()
        n_pb = int(
            self.assign.metadata().properties.get(PBUCKETS_PROP, "0") or 0
        )
        # every driver<->JVM hop below rides Arrow (pandas in,
        # toPandas out): the row-at-a-time pickle path costs
        # single-core MINUTES per hop at ~500k rows while the
        # executors idle — measured at sf1
        existing: dict[int, int] = {}
        if touched and self.assign.current_files():
            # the membership probe runs only against a NON-empty assign
            # table (manifest check, driver-side, free): the cold first
            # epoch of every feed otherwise pays a probe-values job + a
            # join job to learn what the manifest already says — nothing
            # is stored yet
            tdf = spark.createDataFrame(pd.DataFrame({"doc": touched_np}))
            # bucket set computed DRIVER-side from the held ids (the
            # xxhash64 replica) — the former distinct().collect() over a
            # local 1-column frame was a whole Spark job per epoch that
            # fetched values this process already held
            part_vals = (
                _pbucket_probe_values(
                    self.assign,
                    tdf,
                    buckets=_pbucket_values_np(touched_np, n_pb),
                )
                if n_pb
                else None
            )
            epdf = (
                self.assign.to_df(spark, partition_values=part_vals)
                .join(F.broadcast(tdf.select("doc")), "doc", "leftsemi")
                .select("doc", "rep")
                .toPandas()
            )
            existing = dict(
                zip(
                    epdf["doc"].to_numpy(dtype="int64").tolist(),
                    epdf["rep"].to_numpy(dtype="int64").tolist(),
                )
            )
        mmap = self._merge_map(spark)

        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        def union(a: int, b: int) -> None:
            ra, rb = find(a), find(b)
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo  # union by min: the root IS the canonical

        # seed with each existing doc's CURRENT canonical, then the pairs
        cur_rep = {d: mmap.get(r, r) for d, r in existing.items()}
        for d, r in cur_rep.items():
            union(d, r)
        for a, b in zip(ua.tolist(), ub.tolist()):
            union(a, b)

        new_assign = [
            (d, find(d)) for d in touched if d not in existing
        ]
        merge_events = sorted(
            {
                (r, find(r))
                for r in set(cur_rep.values())
                if find(r) != r
            }
        )
        # merges FIRST: duplicates from a crash-window replay are
        # harmless (deduped + deterministic), a stamped assign append
        # without its merges would not be
        if merge_events:
            self.merges.append(
                spark.createDataFrame(merge_events, "old_rep long, new_rep long")
            )
        assign_df = (
            spark.createDataFrame(
                pd.DataFrame(
                    {
                        "doc": np.fromiter(
                            (d for d, _ in new_assign),
                            dtype="int64",
                            count=len(new_assign),
                        ),
                        "rep": np.fromiter(
                            (r for _, r in new_assign),
                            dtype="int64",
                            count=len(new_assign),
                        ),
                    }
                ),
                "doc long, rep long",
            )
            if new_assign
            else spark.createDataFrame([], "doc long, rep long")
        )
        if n_pb:
            assign_df = assign_df.withColumn(
                PBUCKET_COL, pbucket_col(F.col("doc"), n_pb)
            )
        self.assign.append(
            assign_df,
            summary={"epoch_id": str(epoch_id)} if epoch_id is not None else None,
        )
        if not touched:
            return spark.createDataFrame(
                [], "doc long, cluster_id long, is_canonical boolean"
            )
        roots = np.fromiter(
            (find(d) for d in touched), dtype="int64", count=len(touched)
        )
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc": touched_np,
                    "cluster_id": roots,
                    "is_canonical": touched_np == roots,
                }
            ),
            "doc long, cluster_id long, is_canonical boolean",
        )

    def _add_batch_distributed(
        self, spark, dpairs: DataFrame, epoch_id: int | None
    ) -> DataFrame:
        """Over-threshold epoch admission with NO driver-side pair
        collect (the escape hatch the driver union-find cannot be):

        1. epoch-local components over the pairs via the distributed
           one-shot (``near_dup_clusters`` — pointer doubling at this
           size), giving each touched doc its batch-local min-id rep;
        2. membership probe: ONE shuffle join of the touched docs
           against the (bucket-pruned) ``assign`` scan — the only
           corpus-sized relation, and it is pruned + inner-joined down
           to epoch size;
        3. rep-graph reconciliation: edges (local_rep, current_rep) —
           one row per (batch component × existing component)
           incidence, which boilerplate-heavy epochs COLLAPSE (the
           O(batch²) pairs all share one local rep) — clustered again
           by ``near_dup_clusters`` (itself adaptive);
        4. merge EVENTS for existing reps whose canonical changed,
           appended distributed; new docs' assignments appended
           bucket-partitioned with the epoch stamp.

        The min-id invariant composes: a merged component's canonical =
        min(local reps, existing reps) = min over all members, so this
        path resolves identically to the driver path and to the one-shot
        over the union of all pairs (test-pinned)."""
        from .dedup import near_dup_clusters

        n_pb = int(
            self.assign.metadata().properties.get(PBUCKETS_PROP, "0") or 0
        )
        local = (
            near_dup_clusters(dpairs)
            .select("doc", F.col("cluster_id").alias("lrep"))
            .localCheckpoint(eager=True)
        )
        tdf = local.select("doc")
        if n_pb:
            tdf = tdf.withColumn(PBUCKET_COL, pbucket_col(F.col("doc"), n_pb))
        part_vals = _pbucket_probe_values(self.assign, tdf) if n_pb else None
        stored = self.assign.to_df(spark, partition_values=part_vals).select(
            "doc", "rep"
        )
        mmap = self._merge_map(spark)  # maintain-cadence-bounded, as ever
        if mmap:
            mdf = F.broadcast(
                spark.createDataFrame(sorted(mmap.items()), "rep long, _canon long")
            )
            stored = (
                stored.join(mdf, "rep", "left")
                .withColumn("rep", F.coalesce("_canon", "rep"))
                .drop("_canon")
            )
        # (doc, lrep, rep): the touched docs already known to the index,
        # with their CURRENT canonical — epoch-sized after the inner join
        existing = local.join(stored, "doc").localCheckpoint(eager=True)
        rep_edges = (
            existing.filter(F.col("lrep") != F.col("rep"))
            .select(F.col("lrep").alias("doc_a"), F.col("rep").alias("doc_b"))
            .distinct()
        )
        repmap = near_dup_clusters(rep_edges).select(
            F.col("doc").alias("node"), F.col("cluster_id").alias("final")
        )
        lmap = (
            local.select("lrep")
            .distinct()
            .join(repmap, F.col("lrep") == F.col("node"), "left")
            .select("lrep", F.coalesce("final", "lrep").alias("frep"))
        )
        resolved = (
            local.join(lmap, "lrep")
            .select("doc", F.col("frep").alias("rep"))
            .localCheckpoint(eager=True)
        )
        events = (
            existing.select("rep")
            .distinct()
            .join(repmap, F.col("rep") == F.col("node"))
            .filter(F.col("final") != F.col("rep"))
            .select(F.col("rep").alias("old_rep"), F.col("final").alias("new_rep"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # merges FIRST, then the epoch-stamped assign append — same crash
        # ordering as the driver path
        if events.limit(1).count():
            self.merges.append(events)
        new_assign = resolved.join(existing.select("doc"), "doc", "left_anti")
        if n_pb:
            new_assign = new_assign.withColumn(
                PBUCKET_COL, pbucket_col(F.col("doc"), n_pb)
            )
        self.assign.append(
            new_assign,
            summary={"epoch_id": str(epoch_id)} if epoch_id is not None else None,
        )
        return resolved.select(
            "doc",
            F.col("rep").alias("cluster_id"),
            (F.col("doc") == F.col("rep")).alias("is_canonical"),
        )

    def resolve(self, spark, _mmap: dict[int, int] | None = None) -> DataFrame:
        """CURRENT clustering of every ever-seen doc:
        ``(doc, cluster_id, is_canonical)`` — one scan of ``assign`` with
        the (driver-chased, broadcast) merge map joined in; no shuffle."""
        mmap = self._merge_map(spark) if _mmap is None else _mmap
        assign = self.assign.to_df(spark)
        if mmap:
            mdf = F.broadcast(
                spark.createDataFrame(
                    sorted(mmap.items()), "rep long, _canon long"
                )
            )
            assign = assign.join(mdf, "rep", "left").withColumn(
                "rep", F.coalesce("_canon", "rep")
            ).drop("_canon")
        return assign.select(
            "doc",
            F.col("rep").alias("cluster_id"),
            (F.col("doc") == F.col("rep")).alias("is_canonical"),
        )

    def maintain(
        self,
        spark,
        removed_docs: DataFrame | list | None = None,
        pairs_dir: str | None = None,
        pairs_log: "PairsLog | None" = None,
    ) -> int:
        """Fold accumulated merge events into ``assign`` (full rewrite —
        the EXPLICIT heavy op; per-batch admission stays epoch-sized
        because this runs on a cadence) and empty ``merges``; then
        bin-pack the per-epoch assign appends.  Idempotent across a
        crash between the two table writes: re-applying an already-
        folded merge map is a no-op join.  Returns merge events
        folded.

        ``removed_docs`` (a list of ids or a DataFrame with a ``doc``
        column) is the CDC-delete path: the docs' assignment rows drop
        out and each affected component RE-ELECTS its representative as
        the min REMAINING member id, restoring the canonical=min
        invariant — so an erasure batch never forces a rebuild.  Caveat,
        inherent to union-find state (no pairs are stored): connectivity
        that ran THROUGH a removed bridge doc is retained, not re-split.
        Removal is idempotent (re-removing absent docs is a no-op
        anti-join).

        ``pairs_dir`` (with ``removed_docs``) upgrades removal to STRICT
        SPLIT: the affected components — only those — are re-clustered
        from the durable pairs log (the ``pairs_dir`` both stream feeds
        write per epoch), minus the removed docs, so removing a bridge
        doc genuinely disconnects what only it connected (legal hold /
        poisoned-doc quarantine — the reference's delete semantics,
        BaseDeltaTaskWriter.java:60-71, never leave ghost rows either).
        Cost: one scan of the pairs log filtered to the affected
        components' members (every join is component-sized on one side;
        the re-cluster input is the surviving pairs of the affected
        components only — component-sized, not corpus-sized).
        Requires the log to be COMPLETE for the affected components:
        connectivity admitted outside it (a ``seed()`` backfill whose
        one-shot pairs were not logged) would over-split — seeded
        corpora either log their backfill pairs or use the re-elect
        path.  Pairs whose endpoint was erased in an EARLIER maintain
        drop out via the member filter, so ghost pairs never resurrect
        connectivity.

        ``pairs_log`` (a :class:`PairsLog`, alone or alongside
        ``pairs_dir``) is the COMPACTED form of the same log — the r15
        lifecycle fix: instead of scanning every epoch directory ever
        written, the split reads the bucket-partitioned live-pairs
        table PRUNED to the affected members' bucket set, plus (when
        ``pairs_dir`` is also given) whatever raw epoch directories
        compaction hasn't folded yet.  Identical semantics, bounded
        I/O; same completeness requirement on the union of both
        sources."""
        mmap = self._merge_map(spark, guard=False)
        removed = None
        if removed_docs is not None:
            if isinstance(removed_docs, DataFrame):
                removed = removed_docs.select(
                    F.col("doc").cast("long").alias("doc")
                )
            else:
                removed = spark.createDataFrame(
                    [(int(d),) for d in removed_docs] or [], "doc long"
                )
        if mmap or removed is not None:
            folded = self.resolve(spark, _mmap=mmap).select(
                "doc", F.col("cluster_id").alias("rep")
            )
            if removed is not None and (
                pairs_dir is not None or pairs_log is not None
            ):
                from .dedup import near_dup_clusters

                folded = folded.localCheckpoint(eager=True)
                affected = (
                    folded.join(removed, "doc", "leftsemi")
                    .select("rep")
                    .distinct()
                )
                members = folded.join(affected, "rep", "leftsemi")
                survivors = (
                    members.join(removed, "doc", "left_anti")
                    .select("doc")
                    .localCheckpoint(eager=True)
                )
                sources = []
                if pairs_log is not None:
                    # compacted live-pairs table, scan PRUNED to the
                    # affected members' bucket set (planning-scale)
                    sources.append(
                        pairs_log.pairs_for_members(
                            spark, members.select("doc")
                        )
                    )
                if pairs_dir is not None:
                    # raw epoch directories (everything when no
                    # pairs_log; only the not-yet-folded tail when
                    # compaction runs on a cadence).  Listed explicitly:
                    # a fully-compacted dir has no epoch subdirs left
                    # and a bare read would fail schema inference.
                    raw = PairsLog._read_raw(
                        spark, pairs_dir, PairsLog._epoch_dirs(pairs_dir)
                    )
                    if raw is not None:
                        sources.append(raw)
                if not sources:
                    sources.append(
                        spark.createDataFrame([], "doc_a long, doc_b long")
                    )
                pairs = sources[0]
                for extra in sources[1:]:
                    pairs = pairs.unionByName(extra)
                surviving_pairs = pairs.join(
                    survivors.select(F.col("doc").alias("doc_a")),
                    "doc_a",
                    "leftsemi",
                ).join(
                    survivors.select(F.col("doc").alias("doc_b")),
                    "doc_b",
                    "leftsemi",
                )
                reclustered = near_dup_clusters(surviving_pairs).select(
                    "doc", F.col("cluster_id").alias("rep")
                )
                singles = survivors.join(
                    reclustered, "doc", "left_anti"
                ).select("doc", F.col("doc").alias("rep"))
                folded = (
                    folded.join(affected, "rep", "left_anti")
                    .select("doc", "rep")
                    .unionByName(reclustered)
                    .unionByName(singles)
                )
            elif removed is not None:
                folded = folded.join(removed, "doc", "left_anti")
                # re-elect: min remaining member per component (one
                # partial-aggregating shuffle on rep + a same-key join)
                folded = folded.join(
                    folded.groupBy("rep").agg(F.min("doc").alias("_new_rep")),
                    "rep",
                ).select("doc", F.col("_new_rep").alias("rep"))
            n_pb = int(
                self.assign.metadata().properties.get(PBUCKETS_PROP, "0") or 0
            )
            if n_pb:
                folded = folded.withColumn(
                    PBUCKET_COL, pbucket_col(F.col("doc"), n_pb)
                )
            self.assign.overwrite(folded)
            # metadata-only truncate: an overwrite(empty_df) staged a full
            # Spark write job just to commit zero rows
            self.merges.truncate()
        else:
            # bin-pack per-epoch appends only when assign was NOT just
            # rewritten: the overwrite above already produced one file per
            # touched bucket (the identity-partition floor) — compacting
            # right after it re-read and re-wrote the whole table for an
            # identical layout
            self.assign.compact(spark, min_input_files=8, max_input_files=256)
        return len(mmap)
