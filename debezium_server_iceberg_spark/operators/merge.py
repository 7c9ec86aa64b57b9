"""MERGE INTO (upsert core, operators W4-W6): one planner, three sinks.

Reference semantics (BaseDeltaTaskWriter.java:52-72 +
IcebergChangeConsumerUpsertTest scenarios):

- source batch already deduped to one row per key (mandatory — MERGE forbids
  duplicate source keys; IcebergTableOperator.java:166-171);
- matched  & op='d' & keep_deletes=False  -> row removed (hard delete)
- matched  & op='d' & keep_deletes=True   -> row replaced by the delete event
  (soft delete: row survives with __op='d'/__deleted=true)
- matched  & other op                     -> row replaced (update)
- unmatched & op='d' & keep_deletes=False -> nothing
- unmatched (otherwise)                   -> insert (even for op='d' when
  keeping deletes — IcebergChangeConsumerUpsertTest.java:69-73)

**The planner** (``_plan``) answers the one question every sink that reads
existing files asks: which rows of which files does this batch's key set
hit?  Working from the merge's single metadata read, it runs ONE aggregate
over the cached source (row count, per-key min/max and, when partition
fields derive from key columns, the set of touched partition tuples),
prunes the ref head's files by key bounds and those partition tuples with
no Spark job (the same planning model as Iceberg's manifest pruning), and
returns the candidates plus one column-pruned ``_metadata`` semi-join
yielding the ``(file_name, pos)`` of matched rows.  The pruning itself —
typed key ranges, the overlap test and the partition trust rules,
including that partition fields over non-key columns never prune — lives
in ``lakehouse/pruning.py``.  The probe reads raw parquet, so an
already-deleted row version still counts as a hit.

**The sinks**, selected by the ``write.upsert.mode`` table property (or
``mode=``) and, for merge-on-read, the table's ``format-version`` (or
``delete_style=``):

- *position* (v3 merge-on-read, the reference's PartitioningDVWriter): the
  hit frame is collected to the driver as Arrow (its one job) and unioned
  there with the candidates' current deletion vectors (one per data file);
  the vectors that grew are written as one parquet and replaced in one
  ``rowdelta`` snapshot with the surviving source rows.  No data file is
  rewritten; a re-delete is a no-op and leaves the file's entry as it is.
  A re-vectored file changed since the merge's metadata read raises
  ``StaleBaseConflict`` (replay).
- *rewrite* (copy-on-write): the files holding a hit are rewritten — their
  rows anti-joined against the source keys, unioned with the surviving
  source rows — and swapped in one delta commit.
- *equality* (v2 merge-on-read; the reference's equality-delta writer,
  IcebergTableWriterFactory.java:97-108 + BaseDeltaTaskWriter.java:60-71):
  the batch's keys become an equality-delete file.  It never plans: zero
  existing files are read, since deleting an absent key is a no-op.  Every
  scan pays a key anti-join until ``LakeTable.materialize_deletes`` /
  compaction.

Broadcast decisions are byte-estimated (rows x key width), never
row-counted: wide composite keys on millions of rows fall back to a shuffle
join instead of blowing the broadcast limit.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import NamedTuple

from pyspark.sql import DataFrame, functions as F, types as T

from ..lakehouse import pruning
from ..lakehouse.table import (
    _BROADCAST_BYTES,
    _est_row_width,
    _plan_size_est,
    DataFile,
    LakeTable,
    TableMetadata,
)
from .project import conform_to_schema


@dataclass
class MergeStats:
    candidate_files: int
    rewritten_files: int
    source_rows: int
    mode: str = "copy-on-write"
    delete_rows: int = 0


def merge_into(
    table: LakeTable,
    source: DataFrame,
    keep_deletes: bool = True,
    op_col: str = "__op",
    summary: dict | None = None,
    mode: str | None = None,
    delete_style: str | None = None,
    branch: str = "main",
) -> MergeStats:
    """Upsert a deduped source batch into the table (one row per key).

    ``delete_style`` ('equality' | 'position') overrides the
    format-version-derived merge-on-read delete format (v2 -> equality,
    v3 -> position).  ``branch`` stages the commit on a named branch
    (write-audit-publish) — merge-on-read only: the copy-on-write rewrite
    swaps files on the main lineage."""
    spark = source.sparkSession
    meta = table.metadata()
    key_cols = meta.identifier_fields
    if not key_cols:
        raise ValueError("merge_into requires identifier fields; use append")
    mode = mode or meta.properties.get("write.upsert.mode", "merge-on-read")
    if mode not in ("merge-on-read", "copy-on-write"):
        raise ValueError(f"unknown upsert mode {mode!r}")
    if branch != "main" and mode != "merge-on-read":
        raise ValueError("branch merges require merge-on-read upsert mode")
    if delete_style not in (None, "equality", "position"):
        raise ValueError(f"unknown delete style {delete_style!r}")
    lineage = int(meta.properties.get("format-version", "2")) >= 3
    sink = (
        "rewrite"
        if mode == "copy-on-write"
        else delete_style or ("position" if lineage else "equality")
    )

    schema = meta.schema
    source = conform_to_schema(source, schema, keep_extra=[op_col]).cache()
    try:
        surviving = (
            source if keep_deletes else source.filter(F.col(op_col) != F.lit("d"))
        ).select(*[f.name for f in schema.fields])
        # a branch merge plans against the BRANCH head's files (an unknown
        # branch auto-creates from main's head on this write)
        files = table.files_at(branch, meta)
        src_keys = source.select(*key_cols).dropDuplicates(key_cols)
        if sink == "equality":
            added, deleted = table.commit_row_delta(
                surviving,
                src_keys if files else None,
                summary=dict(summary or {}, operation_detail="merge-mor"),
                branch=branch,
                meta=meta,
            )
            return MergeStats(0, 0, max(added, deleted), "merge-on-read", deleted)

        plan = _plan(meta, source, files, src_keys)
        if sink == "position":
            added, deleted = table.commit_row_delta(
                surviving,
                None,
                summary=dict(summary or {}, operation_detail="merge-mor-pos"),
                delete_positions_df=plan.hits,
                branch=branch,
                meta=meta,
                dv_files=plan.candidates,
            )
            return MergeStats(
                len(plan.candidates), 0, plan.rows(added), "merge-on-read", deleted
            )

        hit_names = (
            set()
            if plan.hits is None
            else {r[0] for r in plan.hits.select("file_name").distinct().collect()}
        )
        affected = [
            f for f in plan.candidates if os.path.basename(f.path) in hit_names
        ]
        new_data = surviving
        if affected:
            # v3: carry row lineage through the rewrite — untouched rows in
            # affected files keep their _row_id (upserted rows union in
            # with nulls and inherit fresh ids from the new file's range)
            kept = table.scan_files(spark, affected, lineage=lineage, meta=meta).join(
                plan.keys, on=key_cols, how="left_anti"
            )
            new_data = kept.unionByName(surviving, allowMissingColumns=lineage)
        added = table.commit_delta(
            new_data,
            [f.path for f in affected],
            summary=dict(summary or {}, operation_detail="merge"),
            preserve_lineage=lineage,
            meta=meta,
        )
        return MergeStats(
            len(plan.candidates), len(affected), plan.rows(added), "copy-on-write"
        )
    finally:
        source.unpersist()


class _Plan(NamedTuple):
    #: source row count; None when the base had no files (nothing planned)
    n_src: int | None
    candidates: list[DataFile]
    #: ``(file_name, pos)`` of matched rows in ``candidates``; None if none
    hits: DataFrame | None
    #: the source keys, broadcast-hinted when their byte estimate is small
    keys: DataFrame

    def rows(self, written: int) -> int:
        """Source rows, or the rows written when nothing was planned."""
        return written if self.n_src is None else self.n_src


def _plan(
    meta: TableMetadata, source: DataFrame, files: list[DataFile], src_keys: DataFrame
) -> _Plan:
    """The one upsert planner: which rows of which of ``files`` does the
    cached ``source`` batch's key set hit?  One aggregate (row count,
    per-key min/max, touched partition tuples), driver-side bounds and
    partition pruning, then one column-pruned ``_metadata`` semi-join
    (left lazy for the sink to run).  An empty ``files`` plans nothing and
    runs no Spark job."""
    if not files:
        return _Plan(None, [], None, src_keys)
    spark = source.sparkSession
    key_cols = meta.identifier_fields
    types = pruning.column_types(meta.schema)
    keyed = {k: types[k] for k in key_cols}
    fields, parts = pruning.key_partition_agg(
        meta, spark.conf.get("spark.sql.session.timeZone")
    )
    aggs = [F.count(F.lit(1)).alias("_n"), *pruning.key_range_aggs(keyed)]
    if fields:
        aggs.append(parts)
    stat = source.agg(*aggs).collect()[0]
    n_src = stat["_n"]
    ranges = pruning.key_ranges(stat, keyed)
    candidates = [f for f in files if pruning.may_overlap(f.bounds, ranges, types)]
    if fields:
        # a file whose partition tuple no source row maps to can't contain
        # matched keys; the touched set (partitions one CDC batch hits) is
        # tiny, so the driver-side intersection is cheap
        candidates = pruning.prune_by_partition_tuples(candidates, fields, stat["_parts"])

    key_schema = T.StructType([f for f in meta.schema.fields if f.name in key_cols])
    # byte-estimated, not row-counted: wide composite keys on many rows
    # must take the shuffle path, not blow the broadcast limit
    if n_src * _est_row_width(key_schema) <= _BROADCAST_BYTES:
        src_keys = F.broadcast(src_keys)
    hits = None
    if candidates:
        hits = (
            spark.read.schema(key_schema)
            .parquet(*[f.path for f in candidates])
            .select(
                *key_cols,
                # the name reads compare with (``LakeTable._read``)
                F.col("_metadata.file_name").alias("file_name"),
                F.col("_metadata.row_index").alias("pos"),
            )
            .join(src_keys, on=key_cols, how="left_semi")
            .select("file_name", "pos")
        )
    return _Plan(n_src, candidates, hits, src_keys)


def merge_dataframes(
    target: DataFrame,
    source: DataFrame,
    key_cols: list[str],
    keep_deletes: bool = True,
    op_col: str = "__op",
) -> DataFrame:
    """Pure-DataFrame MERGE (same row semantics as merge_into, no table):

    result = (target ⟕̸ source-keys)  ∪  surviving source rows.

    The anti-join is the WHEN MATCHED branch collapsed: every matched target
    row is replaced (update/soft-delete) or dropped (hard delete); unmatched
    source rows are the WHEN NOT MATCHED INSERT branch. Source must be
    deduped to one row per key first (dedup_batch).

    The source-keys side is broadcast only when Catalyst's own byte estimate
    says it fits (shuffle-join fallback otherwise — a 5M-row wide-key source
    must not be forced through the broadcast limit); with no hint, AQE can
    still convert to broadcast at runtime from the real shuffle size."""
    surviving = (
        source if keep_deletes else source.filter(F.col(op_col) != F.lit("d"))
    )
    target_cols = target.columns
    src_keys = source.select(*key_cols).dropDuplicates(key_cols)
    size = _plan_size_est(src_keys)
    if size is not None and size <= _BROADCAST_BYTES:
        src_keys = F.broadcast(src_keys)
    kept = target.join(src_keys, on=key_cols, how="left_anti")
    return kept.unionByName(surviving.select(*target_cols))

