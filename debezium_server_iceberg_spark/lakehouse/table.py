"""ACID parquet table format with snapshot metadata (the engine's sink layer).

The reference writes Apache Iceberg tables; no Iceberg runtime exists in this
environment, so the same *capabilities* are re-expressed natively on Spark +
parquet + an atomic JSON metadata log, Iceberg-style:

- data files written by Spark (distributed, partitioned via hidden-partition
  transforms), never mutated in place;
- each commit produces a new immutable snapshot = manifest of data files with
  per-file row counts, partition values, and key-column bounds;
- the atomic point is an ``os.link`` of a fully written temp file to
  ``v{N}.metadata.json`` (optimistic concurrency — two writers racing on
  the same version: one loses and retries); ``version-hint.text`` is a
  cache readers step forward from, mirroring Iceberg's Hadoop-catalog
  commit and the reference's commit protocols
  (IcebergTableOperator.java:218-228, IcebergOffsetBackingStore.java:219-223);
- every metadata change, data commit or not, goes through ONE retry loop
  (``LakeTable._commit``: re-read, mutate, CAS), and every data write
  through ONE stage -> commit -> abort path (``LakeTable._stage_and_commit``:
  independent staging jobs overlap via ``session.run_overlapped``, one
  commit follows, and a failure anywhere removes every staged file).

Capability parity map (reference file:line -> here):
- table auto-create w/ schema+PK+partition+sort  IcebergChangeConsumer.java:321-389
- append commit (AppendFiles)                    IcebergTableOperator.java:224-228
- delta commit (RowDelta: remove+add atomically) IcebergTableOperator.java:218-224
- overwrite commit (OverwriteFiles alwaysTrue)   IcebergOffsetBackingStore.java:219-223
- schema evolution union-by-name                 IcebergTableOperator.java:136-151
- rolling target file size                        IcebergTableWriterFactory.java:42-46
- snapshot history / time travel                 Iceberg metadata (free here)

Scale notes: manifests carry file-level partition values + key bounds so the
MERGE path prunes untouched files before any Spark job runs; stats come from
the written files' parquet footers (one narrow aggregation when a footer is
unreadable, not a driver loop). At 1000-executor scale the only driver-side
state is the file list — same as Iceberg's planning model.  Bounds are
encoded, decoded and compared by column type in ``pruning.py``, the one
place every planner asks "may this file hold these values?".  A naive
datetime means what PySpark makes of it: a process-local instant on a
``timestamp`` column, a wall clock on ``timestamp_ntz``.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid as uuidlib
import zlib
from dataclasses import dataclass, field as dc_field
from typing import TYPE_CHECKING, Any, Callable, Iterable

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..session import run_overlapped
from . import pruning
from .pruning import BUCKET_HASH, BUCKET_HASH_PROP, WRITE_TZ_PROP
# the layout-versioning and file-pruning helpers stay importable from here
from .pruning import (  # noqa: F401
    _engine_partition_value,
    _prune_files_by_filter,
    _prune_files_by_partition_values,
    _tz_sensitive_fields,
    bucket_hash_trusted,
    table_write_tz,
)
from .transforms import PartitionField

if TYPE_CHECKING:
    import pyarrow as pa

_HINT = "version-hint.text"

# Iceberg v3 row-lineage reserved column names (spec: Row Lineage)
ROW_ID_COL = "_row_id"
LAST_SEQ_COL = "_last_updated_sequence_number"


class CommitConflict(RuntimeError):
    pass


class StaleBaseConflict(CommitConflict):
    """A data file the commit removes or re-vectors is gone from the head,
    or its vector changed since the metadata the commit planned from.
    ``LakeTable._commit`` never retries it: the caller must re-plan."""


# LakeTable._commit: attempts per commit before a CommitConflict propagates
_COMMIT_ATTEMPTS = 5
# returned by a LakeTable._commit mutation that has nothing to write
_NOTHING_TO_COMMIT = object()
# pyarrow writer options of a deletion-vector parquet: dictionary pages for
# the few file names and delta-encoded positions (the defaults also
# dictionary-encode the unique positions, 3-6x larger), no Arrow schema
_VECTOR_PARQUET = {
    "use_dictionary": ["file_name"],
    "column_encoding": {"pos": "DELTA_BINARY_PACKED"},
    "store_schema": False,
    "compression": "snappy",
}


@dataclass
class DataFile:
    path: str                      # absolute path
    rows: int
    partition: dict[str, Any] = dc_field(default_factory=dict)
    bounds: dict[str, list] = dc_field(default_factory=dict)  # col -> [min,max]
    bytes: int = 0                 # on-disk size (0 = unknown, pre-stat manifests)
    seq: int = 0                   # data sequence number (snapshot id at add time)
    # Iceberg v3 row lineage: the table-wide row id of this file's first row
    # (manifest-inherited `first_row_id`); rows materialize
    # `_row_id = first_row_id + position`. None on pre-v3 files.
    first_row_id: int | None = None

    def to_dict(self) -> dict:
        d = {
            "path": self.path,
            "rows": self.rows,
            "partition": self.partition,
            "bounds": self.bounds,
            "bytes": self.bytes,
            "seq": self.seq,
        }
        if self.first_row_id is not None:
            d["first_row_id"] = self.first_row_id
        return d

    @staticmethod
    def from_dict(d: dict) -> "DataFile":
        return DataFile(
            d["path"], d["rows"], d.get("partition", {}), d.get("bounds", {}),
            d.get("bytes", 0), d.get("seq", 0), d.get("first_row_id")
        )


@dataclass
class DeleteFile:
    """Merge-on-read delete entry, two contents:

    - ``content='equality'`` (Iceberg v2 semantics): a parquet file of key
      tuples that logically removes every matching row in data files with a
      LOWER sequence number — the reference's equality-delta writer
      (IcebergTableWriterFactory.java:97-108 equalityFieldIds,
      BaseDeltaTaskWriter.java:60-71 deleteKey-then-write).
    - ``content='position'`` (v3 deletion-vector semantics,
      IcebergConfig.java:106-108 default + PartitioningDVWriter in
      BaseDeltaTaskWriter.java:74-88): ALL deleted positions of one live
      data file, ``referenced_data_file``; a manifest holds at most one
      such entry per file, and a merge replaces it.  ``path`` is a sorted,
      unique ``(file_name, pos)`` parquet holding every vector one commit
      wrote, so entries may share it; ``rows`` counts this file's rows.
      Reads anti-join on name+pos (names are globally unique,
      ``_uniquify_staged``); no bounds or sequence rule apply."""

    path: str
    rows: int
    seq: int                       # equality: applies to data files with data.seq < seq
    equality_cols: list[str] = dc_field(default_factory=list)
    bounds: dict[str, list] = dc_field(default_factory=dict)
    bytes: int = 0
    content: str = "equality"
    referenced_data_file: str | None = None  # position entries only

    def to_dict(self) -> dict:
        return {
            "path": self.path,
            "rows": self.rows,
            "seq": self.seq,
            "equality_cols": self.equality_cols,
            "bounds": self.bounds,
            "bytes": self.bytes,
            "content": self.content,
            "referenced_data_file": self.referenced_data_file,
        }

    @staticmethod
    def from_dict(d: dict) -> "DeleteFile":
        out = DeleteFile(
            d["path"], d["rows"], d["seq"], d.get("equality_cols", []),
            d.get("bounds", {}), d.get("bytes", 0), d.get("content", "equality"),
            d.get("referenced_data_file"),
        )
        if out.content == "position" and out.referenced_data_file is None:
            # a stacked position-delete file of an older manifest: reading it
            # as "applies to nothing" would resurrect its rows
            raise ValueError(f"position delete {out.path} has no referenced_data_file")
        return out


@dataclass
class Snapshot:
    snapshot_id: int
    timestamp_ms: int
    operation: str                 # append | delta | overwrite
    manifest: str                  # manifest file name (relative to metadata/)
    summary: dict[str, Any] = dc_field(default_factory=dict)
    parent_id: int | None = None   # lineage pointer (None = first snapshot)


@dataclass
class TableMetadata:
    table_uuid: str
    location: str
    schema_json: dict
    identifier_fields: list[str]
    partition_spec: list[PartitionField]
    sort_order: list[str]
    properties: dict[str, str]
    snapshots: list[Snapshot]
    current_snapshot_id: int | None
    version: int
    # named refs (Iceberg table-metadata ``refs`` map): name ->
    # {"snapshot_id": int, "type": "tag" | "branch"}.  "main" is implicit
    # (= current_snapshot_id) and never stored here.
    refs: dict[str, dict] = dc_field(default_factory=dict)
    # Iceberg v3 row lineage: the next unassigned table-wide row id
    # (table-metadata `next-row-id`); bumped by each commit's added rows.
    next_row_id: int = 0

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(self.schema_json)


class LakeTable:
    """Handle on one table directory. Stateless between calls (always re-reads
    the committed metadata), so concurrent handles behave like Iceberg table
    refreshes."""

    def __init__(self, location: str) -> None:
        self.location = location
        self.meta_dir = os.path.join(location, "metadata")
        self.data_dir = os.path.join(location, "data")
        #: optional publication gate called INSIDE every commit, between
        #: writing the candidate metadata temp file and linking it into
        #: its version slot (the local atomic point): ``hook(table,
        #: candidate_meta, new_version)``.  If it raises, the candidate
        #: temp is removed and the commit does NOT advance — this is how
        #: ``publish_mode=per_commit`` makes an external catalog row the
        #: authoritative commit point (lakehouse/catalog_commit.py).
        self.commit_hook = None

    # ------------------------------------------------------------- create

    @staticmethod
    def create(
        location: str,
        schema: T.StructType,
        identifier_fields: list[str] | None = None,
        partition_spec: "list[PartitionField] | str | None" = None,
        sort_order: list[str] | None = None,
        properties: dict[str, str] | None = None,
    ) -> "LakeTable":
        if isinstance(partition_spec, str):
            from .transforms import parse_partition_spec

            partition_spec = parse_partition_spec(
                partition_spec, {f.name for f in schema.fields}
            )
        t = LakeTable(location)
        os.makedirs(t.meta_dir, exist_ok=True)
        os.makedirs(t.data_dir, exist_ok=True)
        if os.path.exists(os.path.join(t.meta_dir, _HINT)):
            raise FileExistsError(f"table already exists at {location}")
        ids = identifier_fields or []
        # sort order = ascending key columns, skipping absent ones
        # (JsonSchemaConverter.java:262-280)
        names = {f.name for f in schema.fields}
        so = [c for c in (sort_order if sort_order is not None else ids) if c in names]
        props = dict(properties or {})
        # on-disk layout versioning: bucket partition values are hashes, so
        # the hash function is part of the layout.  Tables created by this
        # engine stamp it; a table WITHOUT the stamp was written by a build
        # whose bucket hash differed (pre-murmur3 xxhash64), and its bucket
        # values must never be interpreted as murmur3 ordinals — planners
        # treat unstamped bucket fields as unprunable and the Iceberg
        # exporter routes their files to the unpartitioned-spec manifest.
        # compact() rewrites under the current engine, after which
        # update_properties(**{BUCKET_HASH_PROP: BUCKET_HASH}) re-arms them.
        props.setdefault(BUCKET_HASH_PROP, BUCKET_HASH)
        # temporal partition values ("2024-05", "2024-05-03-07") are WALL
        # CLOCKS of ltz timestamps, so the rendering timezone is part of the
        # layout too.  Writes require the session timezone to match this
        # declared value (refusal beats silently mixing encodings in one
        # directory tree); planners convert filter instants into this zone.
        props.setdefault(WRITE_TZ_PROP, "UTC")
        meta = TableMetadata(
            table_uuid=str(uuidlib.uuid4()),
            location=location,
            schema_json=schema.jsonValue(),
            identifier_fields=ids,
            partition_spec=partition_spec or [],
            sort_order=so,
            properties=props,
            snapshots=[],
            current_snapshot_id=None,
            version=0,
        )
        t._write_metadata(meta, expected_version=None)
        return t

    @staticmethod
    def exists(location: str) -> bool:
        return os.path.exists(os.path.join(location, "metadata", _HINT))

    # ------------------------------------------------------------ metadata

    def _version_path(self, version: int) -> str:
        return os.path.join(self.meta_dir, f"v{version:05d}.metadata.json")

    def metadata(self) -> TableMetadata:
        """The newest complete version file; the hint is where the search
        starts (a writer may die between its link and the hint swing)."""
        with open(os.path.join(self.meta_dir, _HINT)) as fh:
            version = int(fh.read().strip())
        while os.path.exists(self._version_path(version + 1)):
            version += 1
        with open(self._version_path(version)) as fh:
            d = json.load(fh)
        snaps = [
            Snapshot(
                s["snapshot_id"], s["timestamp_ms"], s["operation"], s["manifest"],
                s.get("summary", {}), s.get("parent_id"),
            )
            for s in d["snapshots"]
        ]
        return TableMetadata(
            table_uuid=d["table_uuid"],
            location=d["location"],
            schema_json=d["schema"],
            identifier_fields=d["identifier_fields"],
            partition_spec=[PartitionField.from_dict(p) for p in d["partition_spec"]],
            sort_order=d["sort_order"],
            properties=d["properties"],
            snapshots=snaps,
            current_snapshot_id=d["current_snapshot_id"],
            version=version,
            refs=d.get("refs", {}),
            next_row_id=d.get("next_row_id", 0),
        )

    def _write_metadata(self, meta: TableMetadata, expected_version: int | None) -> None:
        new_version = 0 if expected_version is None else expected_version + 1
        d = {
            "format_version": 1,
            "table_uuid": meta.table_uuid,
            "location": meta.location,
            "schema": meta.schema_json,
            "identifier_fields": meta.identifier_fields,
            "partition_spec": [p.to_dict() for p in meta.partition_spec],
            "sort_order": meta.sort_order,
            "properties": meta.properties,
            "snapshots": [
                {
                    "snapshot_id": s.snapshot_id,
                    "timestamp_ms": s.timestamp_ms,
                    "operation": s.operation,
                    "manifest": s.manifest,
                    "summary": s.summary,
                    "parent_id": s.parent_id,
                }
                for s in meta.snapshots
            ],
            "current_snapshot_id": meta.current_snapshot_id,
            "refs": meta.refs,
            "next_row_id": meta.next_row_id,
        }
        path = self._version_path(new_version)
        # linking the complete candidate into its slot is the commit point
        # (Iceberg's Hadoop tables): no version file is ever partial, and a
        # dead writer leaves at most a temp for remove_orphan_files
        tmp = os.path.join(self.meta_dir, f".v{new_version:05d}.{uuidlib.uuid4().hex}.tmp")
        with open(tmp, "w") as fh:
            json.dump(d, fh)
        try:
            if self.commit_hook is not None:
                # publish_mode=per_commit: the catalog CAS of the CANDIDATE
                # state comes BEFORE local visibility; a conflict propagates
                self.commit_hook(self, meta, new_version)
            try:
                os.link(tmp, path)  # ATOMIC POINT
            except FileExistsError as e:
                raise CommitConflict(f"version {new_version} already committed") from e
        finally:
            os.unlink(tmp)
        # the hint is a cache readers step forward from
        hint_tmp = os.path.join(self.meta_dir, f".hint.{uuidlib.uuid4().hex}.tmp")
        with open(hint_tmp, "w") as fh:
            fh.write(str(new_version))
        os.replace(hint_tmp, os.path.join(self.meta_dir, _HINT))

    def _lineage_on(self, meta: TableMetadata | None = None) -> bool:
        """v3 tables track row lineage (spec: mandatory from format v3).
        Pass an already-loaded ``meta`` to skip the metadata re-read."""
        meta = meta if meta is not None else self.metadata()
        return int(meta.properties.get("format-version", "2")) >= 3

    def _commit(self, mutate: Callable[[TableMetadata], Any]) -> Any:
        """The one optimistic-concurrency commit loop: read the committed
        metadata, apply ``mutate(meta)`` in place and write the result as
        the next version.  On :class:`CommitConflict` (a concurrent writer
        took that version) it starts over from a fresh read, up to
        ``_COMMIT_ATTEMPTS`` attempts with linear backoff.  Returns what
        ``mutate`` returned; a mutation that returns ``_NOTHING_TO_COMMIT``
        writes nothing and ``_commit`` returns None.  What ``mutate``
        raises (e.g. :class:`StaleBaseConflict`) is never retried."""
        for attempt in range(_COMMIT_ATTEMPTS):
            meta = self.metadata()
            out = mutate(meta)
            if out is _NOTHING_TO_COMMIT:
                return None
            try:
                self._write_metadata(meta, expected_version=meta.version)
                return out
            except CommitConflict:
                if attempt == _COMMIT_ATTEMPTS - 1:
                    raise
                time.sleep(0.05 * (attempt + 1))

    def update_properties(self, **props) -> None:
        """Metadata-only property update (Iceberg's UpdateProperties): CAS
        through the same optimistic-concurrency commit as data writes."""
        self._commit(
            lambda meta: meta.properties.update(
                {k: str(v) for k, v in props.items()}
            )
        )

    # ------------------------------------------------------------ manifests

    def _manifest_entry(
        self, meta: TableMetadata, snapshot_id: int | None = None
    ) -> tuple[list[DataFile], list[DeleteFile]]:
        """The data files and delete files of a snapshot's manifest (default:
        the current snapshot) — one manifest read."""
        sid = snapshot_id if snapshot_id is not None else meta.current_snapshot_id
        if sid is None:
            return [], []
        snap = next(s for s in meta.snapshots if s.snapshot_id == sid)
        with open(os.path.join(self.meta_dir, snap.manifest)) as fh:
            d = json.load(fh)
        return (
            [DataFile.from_dict(f) for f in d["files"]],
            [DeleteFile.from_dict(f) for f in d.get("delete_files", [])],
        )

    def current_files(self) -> list[DataFile]:
        return self._manifest_entry(self.metadata())[0]

    def files_at(
        self, ref: str = "main", meta: TableMetadata | None = None
    ) -> list[DataFile]:
        """Data files at a ref head; an unknown ref falls back to main's
        head (the base a branch auto-created on write would start from).
        Pass an already-loaded ``meta`` to skip the metadata re-read."""
        meta = meta if meta is not None else self.metadata()
        return self._manifest_entry(meta, _ref_head(meta, ref))[0]

    def current_deletes(self) -> list[DeleteFile]:
        return self._manifest_entry(self.metadata())[1]

    def _commit_snapshot(
        self,
        operation: str,
        add: list[DataFile],
        remove_paths: set[str],
        summary: dict[str, Any] | None = None,
        new_schema: T.StructType | None = None,
        add_deletes: list[DeleteFile] | None = None,
        drop_deletes: bool = False,
        branch: str = "main",
        base: TableMetadata | None = None,
    ) -> None:
        """Generic commit: new manifest = (current - removed) + added.

        Equality deletes are carried forward (unless ``drop_deletes`` or
        overwrite), new ones get seq = the new snapshot id, and one with no
        older live data file is pruned.  A position entry in
        ``add_deletes`` replaces its data file's entry; an entry whose file
        is gone is dropped.  ``base``: the metadata the caller planned
        from; a removed or re-vectored file must still be live with its
        ``base`` entry, else :class:`StaleBaseConflict`.

        ``branch``: commit on a named branch ref instead of main (Iceberg's
        branch writes / WAP pattern) — the new snapshot's base is the branch
        head and only that ref advances; main is untouched.

        Each attempt writes its own manifest before the CAS; the manifest
        of an attempt that loses, or of a commit that fails, is removed."""
        written: list[str] = []
        add_deletes = add_deletes or []
        guarded = set(remove_paths) | set(_vectors(add_deletes))

        def discard_written() -> None:
            while written:
                try:
                    os.remove(os.path.join(self.meta_dir, written.pop()))
                except OSError:
                    pass

        def mutate(meta: TableMetadata) -> None:
            discard_written()  # a retry means the previous attempt lost
            ref = meta.refs.get(branch)
            if ref is not None and ref.get("type") != "branch":
                raise ValueError(f"{branch!r} is a tag; no branch with that name")
            # an unknown branch auto-creates at the main head on first
            # write (the spark.wap.branch behavior)
            base_sid = _ref_head(meta, branch)
            current, cur_deletes = self._manifest_entry(meta, base_sid)
            planned_sid = _ref_head(base, branch) if base is not None else base_sid
            if guarded and planned_sid != base_sid:
                was = _vectors(self._manifest_entry(base, planned_sid)[1])
                now, live = _vectors(cur_deletes), {f.path for f in current}
                stale = sorted(p for p in guarded if p not in live or was.get(p) != now.get(p))
                if stale:
                    raise StaleBaseConflict(f"{operation}: {stale[0]} changed since {planned_sid}")
            overwrite = operation == "overwrite"
            files = add if overwrite else [f for f in current if f.path not in remove_paths] + add
            # max-based, not head+1: branch snapshots share one id space, and
            # seq ordering (delete-file applicability) only needs ids to be
            # monotone along each lineage — which max+1 preserves everywhere
            sid = max((s.snapshot_id for s in meta.snapshots), default=0) + 1
            # freshly added files get this snapshot's sequence number
            for f in add:
                f.seq = sid
            # v3 row lineage: assign each added file its first_row_id from
            # the table's next-row-id counter (Iceberg v3 manifest
            # inheritance).  Assigned inside the commit loop so a conflicting
            # concurrent commit can't hand out overlapping id ranges.
            if int(meta.properties.get("format-version", "2")) >= 3:
                rid = meta.next_row_id
                for f in add:
                    f.first_row_id = rid
                    rid += f.rows
                meta.next_row_id = rid
            keep_eq = not (drop_deletes or overwrite)
            eq_deletes = [d for d in cur_deletes if keep_eq and d.content != "position"]
            vectors = {} if overwrite else _vectors(cur_deletes)
            for d in add_deletes:
                d.seq = sid
                if d.content == "position":
                    vectors[d.referenced_data_file] = d  # one vector per file
                else:
                    eq_deletes.append(d)
            # prune dead deletes: an equality delete with no older live file,
            # a vector whose data file is gone
            live = {f.path for f in files}
            deletes = [d for d in eq_deletes if any(f.seq < d.seq for f in files)]
            deletes += [d for p, d in vectors.items() if p in live]
            # delete files written since the table last had none (the
            # materialization cadence; replacing a vector must not reset it)
            parent = next((s for s in meta.snapshots if s.snapshot_id == base_sid), None)
            carried = int(parent.summary.get("outstanding_delete_writes", 0)) if parent else 0
            outstanding = carried + len({d.path for d in add_deletes}) if deletes else 0
            manifest_name = f"manifest-{sid:08d}-{uuidlib.uuid4().hex[:8]}.json"
            written.append(manifest_name)
            with open(os.path.join(self.meta_dir, manifest_name), "w") as fh:
                json.dump(
                    {
                        "files": [f.to_dict() for f in files],
                        "delete_files": [d.to_dict() for d in deletes],
                    },
                    fh,
                )
            snap = Snapshot(
                snapshot_id=sid,
                timestamp_ms=int(time.time() * 1000),
                operation=operation,
                manifest=manifest_name,
                summary=dict(
                    summary or {},
                    added_files=len(add),
                    removed_files=len(remove_paths) if not overwrite else len(current),
                    total_files=len(files),
                    total_rows=sum(f.rows for f in files),
                    added_delete_files=len(add_deletes),
                    total_delete_files=len(deletes),
                    total_delete_rows=sum(d.rows for d in deletes),
                    outstanding_delete_writes=outstanding,
                ),
                parent_id=base_sid,
            )
            meta.snapshots.append(snap)
            if branch == "main":
                meta.current_snapshot_id = sid
            else:
                meta.refs[branch] = {"snapshot_id": sid, "type": "branch"}
            if new_schema is not None:
                meta.schema_json = new_schema.jsonValue()

        try:
            self._commit(mutate)
        except Exception:
            discard_written()
            raise

    # ------------------------------------------------------------ write ops

    def _stage_write(
        self,
        df: DataFrame,
        meta: TableMetadata,
        target_partitions: int | None = None,
        preserve_layout: bool = False,
        preserve_lineage: bool = False,
    ) -> list[DataFile]:
        """Write df's rows as new data files (not yet committed); return stats.

        Physical layout: partition-transform columns are computed as hidden
        ``_p_*`` columns and written via ``partitionBy`` (directory-encoded,
        not stored in the files). Sort order applied within partitions
        (the reference's WRITE ORDERED BY, JsonSchemaConverter.java:262-280).
        """
        schema = meta.schema
        table_cols = [f.name for f in schema.fields]
        # simpleString, not typeName: decimal needs its (p,s) for the
        # spec bucket hash ("decimal(18,2)" vs bare "decimal")
        src_types = {f.name: f.dataType.simpleString() for f in schema.fields}
        if pruning._tz_sensitive_fields(meta):
            # temporal transform expressions (date_format/year) render ltz
            # timestamps in the SESSION timezone; the table's directory tree
            # is declared in WRITE_TZ_PROP.  A mismatched write would mix
            # two wall-clock encodings under one partition field — refuse.
            sess_tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
            want = pruning.table_write_tz(meta)
            if sess_tz != want:
                raise ValueError(
                    f"session timezone {sess_tz!r} != table write timezone "
                    f"{want!r} for a temporally-partitioned table; set "
                    f"spark.sql.session.timeZone={want!r} (or create the "
                    f"table with properties={{{WRITE_TZ_PROP!r}: "
                    f"{sess_tz!r}}})"
                )
        out = df
        pcols: list[str] = []
        for pf in meta.partition_spec:
            out = out.withColumn(pf.name, pf.column(src_types.get(pf.source)))
            pcols.append(pf.name)
        key_cols = [c for c in meta.identifier_fields if c in out.columns]
        cached = None
        single_file = False
        if preserve_layout:
            # caller (clustered rewrite) already shaped partitioning + order
            pass
        elif pcols:
            out = out.repartition(*[F.col(c) for c in pcols])
        elif key_cols:
            # range-cluster unpartitioned keyed tables by identifier fields:
            # each file then covers a narrow key range, so the MERGE
            # planner's min/max bounds pruning actually eliminates files
            # (the WRITE ORDERED BY effect, JsonSchemaConverter.java:262-280).
            n_parts = target_partitions or _auto_write_partitions(out, meta)
            # the single-file fast path additionally requires 4x headroom
            # between the PLAN estimate and the target file size: Catalyst
            # estimates undershoot badly after selective filters/anti-joins,
            # and while the post-write footer check re-splits an oversize
            # file, the mis-estimated write itself would have funneled the
            # whole frame through ONE task first.  With est*4 <= target, a
            # 4x undershoot still lands within one target file; anything
            # wider takes the ranged path, whose persist+materialize step
            # sizes the fan-out from the TRUE cached bytes.  A caller-
            # EXPLICIT target_partitions=1 keeps the fast path (the caller
            # knows its data).
            target_fs = int(
                meta.properties.get(
                    "write.target-file-size-bytes", 512 * 1024 * 1024
                )
            )
            est = (
                _plan_size_est(out)
                if n_parts == 1 and not target_partitions
                else None
            )
            if n_parts == 1 and (
                target_partitions or (est is not None and est * 4 <= target_fs)
            ):
                # CDC-sized keyed commit (plan estimate fits ONE target
                # file): round-robin into a single partition + in-partition
                # key sort — one pass.  The former persist+count (cache
                # fill for a true size) and the range shuffle's sampling
                # pass were two whole jobs buying nothing a single ranged
                # file needs.  A selective-filter UNDERestimate cannot
                # silently collapse a big write: the staged footer stats
                # are checked below and an oversize single file is re-split
                # by a real range shuffle over the (cheap, columnar)
                # staged copy.
                out = out.repartition(1)
                single_file = True
            else:
                # repartitionByRange samples its input — cache so the
                # upstream plan (often a merge's anti-join) isn't computed
                # twice; materialize so a collapse-zone estimate is checked
                # against the true cached size.
                cached = out.persist()
                out = cached
                n_parts = target_partitions or _auto_write_partitions(
                    out, meta, materialize=True
                )
                if n_parts:
                    out = out.repartitionByRange(n_parts, *key_cols)
                else:
                    out = out.repartitionByRange(*key_cols)
                # a 1-file ranged write keeps the footer-check safety net
                # too — the materialized estimate can still be wrong for
                # exotic plans, and the check is free when sizes are sane
                single_file = n_parts == 1
        elif target_partitions:
            out = out.repartition(target_partitions)
        sort_cols = [] if preserve_layout else (meta.sort_order or key_cols)
        if sort_cols:
            present = [c for c in sort_cols if c in out.columns]
            if present:
                out = out.sortWithinPartitions(*present)
        # rewrites opt in (preserve_lineage) to carrying the v3 lineage
        # columns physically — materialization: a compacted row keeps its
        # original _row_id even though the new file gets a fresh
        # first_row_id.  Without the flag, lineage-named columns are
        # DROPPED like any other extra column: an append of another
        # table's lineage read must not smuggle foreign row ids into this
        # table's id space (they would collide with commit-assigned ones).
        lineage_cols = (
            [c for c in (ROW_ID_COL, LAST_SEQ_COL) if c in out.columns]
            if preserve_lineage
            else []
        )
        try:
            files = self._write_staged(
                out.select(*table_cols, *lineage_cols, *pcols), meta,
                partition_by=pcols, rolling=True,
            )
            if single_file:
                files = self._resplit_oversize_staged(
                    df.sparkSession, files, meta, key_cols
                )
            return files
        finally:
            if cached is not None:
                cached.unpersist()

    def _write_staged(
        self,
        frame: "DataFrame | pa.Table",
        meta: TableMetadata,
        prefix: str = "",
        partition_by: list[str] | None = None,
        rolling: bool = False,
        stats: dict[str, T.DataType] | None = None,
    ) -> list[DataFile]:
        """Write ``frame`` as parquet into a fresh staging directory under
        data_dir and return the new files' stats (not yet committed).  A
        failed write leaves no orphan files behind (W12, writer.abort() —
        IcebergTableOperator.java:229-237).  ``rolling`` applies the
        ``write.max-records-per-file`` row cap per file (the reference's
        rolling writer, IcebergTableWriterFactory.java:42-46); ``stats`` as
        in :meth:`_collect_stats`.  An Arrow table (deletion-vector rows)
        is written by the driver as one file in ``_VECTOR_PARQUET`` layout,
        with no Spark job."""
        staging = os.path.join(self.data_dir, prefix + uuidlib.uuid4().hex)
        try:
            if isinstance(frame, DataFrame):
                writer = frame.write.mode("error")
                max_recs = meta.properties.get("write.max-records-per-file")
                if rolling and max_recs:
                    writer = writer.option("maxRecordsPerFile", int(max_recs))
                if partition_by:
                    writer = writer.partitionBy(*partition_by)
                writer.parquet(staging)
            else:
                import pyarrow.parquet as pq

                os.makedirs(staging)
                pq.write_table(
                    frame, os.path.join(staging, "part-00000.parquet"), **_VECTOR_PARQUET
                )
            _uniquify_staged(staging)
            spark = getattr(frame, "sparkSession", None)
            return self._collect_stats(spark, staging, meta, stats)
        except Exception:
            shutil.rmtree(staging, ignore_errors=True)
            raise

    def _collect_stats(
        self,
        spark: SparkSession,
        staging: str,
        meta: TableMetadata,
        stats: dict[str, T.DataType] | None = None,
    ) -> list[DataFile]:
        """Per-file stats for freshly written files, harvested from parquet
        FOOTERS driver-side (row counts + key min/max live in the metadata
        already — no data is re-read and no Spark job runs; this is how
        manifest writers work in real table formats). Falls back to a
        column-pruned Spark aggregation if a footer is unreadable.

        ``stats`` maps the columns to keep bounds for to their types
        (encoded by ``pruning``).  By default these are the identifier
        fields, sort-order columns, and any columns named in the
        ``write.stats-columns`` table property (comma-separated) — the knob
        a clustered rewrite sets so its sort keys become prunable."""
        if stats is None:
            types = pruning.column_types(meta.schema)
            extra = [
                c.strip()
                for c in meta.properties.get("write.stats-columns", "").split(",")
                if c.strip()
            ]
            stats = {
                c: types[c]
                for c in [*meta.identifier_fields, *meta.sort_order, *extra]
                if c in types
            }
        paths = []
        for root, _dirs, names in os.walk(staging):
            for n in names:
                if n.endswith(".parquet"):
                    paths.append(os.path.join(root, n))
        try:
            import pyarrow.parquet as pq

            files: list[DataFile] = []
            for path in sorted(paths):
                # may raise on logical types this pyarrow can't read (e.g.
                # Variant) -> Spark stats fallback
                md = pq.ParquetFile(path).metadata
                ranges = pruning.footer_ranges(md, stats)
                files.append(
                    DataFile(
                        path,
                        md.num_rows,
                        _partition_values_from_path(path, meta.partition_spec),
                        pruning.encode_ranges(ranges, stats),
                        os.path.getsize(path),
                    )
                )
            return files
        except Exception:
            pass

        newly = spark.read.parquet(staging)
        stats = {c: t for c, t in stats.items() if c in newly.columns}
        stat_rows = (
            newly.withColumn("_file", F.col("_metadata.file_path"))
            .groupBy("_file")
            .agg(F.count(F.lit(1)).alias("_rows"), *pruning.key_range_aggs(stats))
            .collect()
        )
        files = []
        for row in stat_rows:
            path = row["_file"]
            if path.startswith("file:"):
                path = path[len("file:"):]
            partition = _partition_values_from_path(path, meta.partition_spec)
            ranges = pruning.key_ranges(row, stats)
            try:
                nbytes = os.path.getsize(path)
            except OSError:
                nbytes = 0
            files.append(
                DataFile(
                    path, row["_rows"], partition,
                    pruning.encode_ranges(ranges, stats), nbytes,
                )
            )
        return files

    def _resplit_oversize_staged(
        self,
        spark: SparkSession,
        files: list[DataFile],
        meta: TableMetadata,
        key_cols: list[str],
    ) -> list[DataFile]:
        """Safety net for the single-file keyed fast path: when the plan
        estimate UNDERshot and the one staged file materially exceeds the
        target file size, re-range it into properly sized files.  The
        re-split reads the already-staged columnar copy (cheap), never the
        upstream plan; in the common CDC-sized case the footer check costs
        nothing and no job runs."""
        target = int(
            meta.properties.get("write.target-file-size-bytes", 512 * 1024 * 1024)
        )
        total = sum(f.bytes for f in files)
        if total <= 2 * target or not files:
            return files
        n2 = max(2, -(-total // target))
        try:
            # the staged file already holds exactly the output columns
            # (incl. any preserve_lineage columns) — re-range as-is.
            # Mirror _stage_write's layout contract: in-partition order is
            # the declared sort order (falling back to key_cols) and the
            # write.max-records-per-file rolling cap re-applies — a table
            # whose sort order differs from its identifier fields must not
            # lose its WRITE ORDERED BY clustering to the re-split.
            frame = spark.read.parquet(*[f.path for f in files]).repartitionByRange(
                n2, *key_cols
            )
            sort_cols = [
                c
                for c in (meta.sort_order or key_cols)
                if c in frame.columns
            ]
            if sort_cols:
                frame = frame.sortWithinPartitions(*sort_cols)
            return self._write_staged(frame, meta, rolling=True)
        finally:
            # the oversize copy goes either way (a failed re-split aborts
            # the whole stage)
            self._abort_staged(files)

    def _abort_staged(self, staged: "Iterable[DataFile | DeleteFile]") -> None:
        """Discard staged-but-uncommitted files (W12 abort path: the
        reference's writer.abort(), IcebergTableOperator.java:229-237).
        Staged files live under a per-write uuid directory inside data_dir;
        removing those roots cannot touch committed files, which are never
        re-staged."""
        roots: set[str] = set()
        for f in staged:
            rel = os.path.relpath(f.path, self.data_dir)
            top = rel.split(os.sep)[0]
            if top and top != "..":
                roots.add(os.path.join(self.data_dir, top))
        for r in roots:
            shutil.rmtree(r, ignore_errors=True)

    def _stage_and_commit(
        self,
        stages: "list[Callable[[], list] | None]",
        commit: Callable[..., None],
    ) -> list[list]:
        """The one stage -> commit -> abort path of every data write (the
        reference's AppendFiles/RowDelta commit plus writer.abort(),
        IcebergTableOperator.java:218-237).  Each stage writes files and
        returns them; the stages are independent Spark jobs, so they run
        overlapped (``run_overlapped``) and their per-job driver costs do
        not add up.  A ``None`` stage stages nothing and yields ``[]``.
        ``commit(*staged)`` then runs once; if any stage or the commit
        fails, every file any stage wrote is removed.  Returns the staged
        lists in ``stages`` order."""
        live = [fn for fn in stages if fn is not None]
        staged: list = []

        def keeping(fn):
            def stage():
                out = fn()
                staged.extend(out)
                return out

            stage.__name__ = fn.__name__
            return stage

        try:
            done = iter(run_overlapped([keeping(fn) for fn in live], len(live)))
            results = [[] if fn is None else next(done) for fn in stages]
            commit(*results)
        except Exception:
            self._abort_staged(staged)
            raise
        return results

    def append(
        self, df: DataFrame, summary: dict | None = None, branch: str = "main"
    ) -> int:
        """Append commit (reference AppendFiles, IcebergTableOperator.java:224-228).

        Returns the number of rows committed — read from the staged files'
        own stats, so no extra Spark action runs.  ``branch`` appends onto a
        named branch ref (write-audit-publish staging) instead of main."""
        meta = self.metadata()
        (add,) = self._stage_and_commit(
            [lambda: self._stage_write(df, meta)],
            lambda add: self._commit_snapshot(
                "append", add, set(), summary, branch=branch
            ),
        )
        return sum(f.rows for f in add)

    def overwrite(self, df: DataFrame, summary: dict | None = None) -> None:
        """Full-table overwrite (reference OverwriteFiles alwaysTrue,
        IcebergOffsetBackingStore.java:219-223)."""
        meta = self.metadata()
        self._stage_and_commit(
            [lambda: self._stage_write(df, meta)],
            lambda add: self._commit_snapshot("overwrite", add, set(), summary),
        )

    def truncate(self, summary: dict | None = None) -> None:
        """Overwrite commit with ZERO data files: clears the table without
        running a Spark job at all (an ``overwrite(empty_df)`` stages a
        full write job just to produce nothing).  Metadata-only — one
        manifest + one metadata version, same observable state as
        overwriting with an empty frame."""
        self._commit_snapshot("overwrite", [], set(), summary)

    def commit_delta(
        self,
        add_df: DataFrame,
        remove_paths: Iterable[str],
        summary: dict | None = None,
        target_partitions: int | None = None,
        drop_deletes: bool = False,
        preserve_layout: bool = False,
        preserve_lineage: bool = False,
        meta: TableMetadata | None = None,
    ) -> int:
        """RowDelta-style commit: atomically swap rewritten files
        (IcebergTableOperator.java:218-224). Used by the MERGE operator.
        ``preserve_lineage``: physically materialize ``_row_id`` /
        ``_last_updated_sequence_number`` columns present on ``add_df``
        (rewrite paths only — see ``_stage_write``).  ``meta``: the caller's
        metadata to stage with instead of a re-read, and the commit's
        ``base`` (see :meth:`_commit_snapshot`).  Returns the number of rows
        added, read from the staged files' own stats."""
        meta = meta if meta is not None else self.metadata()

        def stage_data() -> list[DataFile]:
            return self._stage_write(
                add_df, meta, target_partitions, preserve_layout,
                preserve_lineage,
            )

        (add,) = self._stage_and_commit(
            [stage_data if add_df is not None else None],
            lambda add: self._commit_snapshot(
                "delta", add, set(remove_paths), summary,
                drop_deletes=drop_deletes, base=meta,
            ),
        )
        return sum(f.rows for f in add)

    def commit_row_delta(
        self,
        add_df: DataFrame | None,
        delete_keys_df: DataFrame | None,
        summary: dict | None = None,
        delete_positions_df: DataFrame | None = None,
        branch: str = "main",
        meta: TableMetadata | None = None,
        dv_files: list[DataFile] | None = None,
    ) -> tuple[int, int]:
        """Merge-on-read upsert commit: append new data files AND delete
        files in ONE atomic snapshot — no existing data file is rewritten.

        ``delete_keys_df`` stages an equality-delete file of source keys
        (v2 semantics; the reference's equality-delta writer,
        BaseDeltaTaskWriter.java:60-71 deleteKey-then-write,
        IcebergTableWriterFactory.java:97-108 equality field ids).
        ``delete_positions_df`` — ``(file_name, pos)`` of rows in
        ``dv_files`` (default: every file at the ref head) — instead merges
        into those files' deletion vectors (v3, the reference's
        PartitioningDVWriter, IcebergConfig.java:106-108): the hits are
        collected once as Arrow, unioned on the driver with the files'
        current vectors, and only the files whose vector grew get a new
        entry, all in one parquet the driver writes; nothing is staged when
        no vector grew.  The stages run concurrently.  ``meta`` as in
        :meth:`commit_delta`.  Returns (added_rows, newly deleted rows)."""
        meta = meta if meta is not None else self.metadata()
        key_cols = [
            c for c in meta.identifier_fields if c in {f.name for f in meta.schema.fields}
        ]
        if not key_cols:
            raise ValueError("commit_row_delta requires identifier fields")
        prior: list[DeleteFile] = []
        if delete_positions_df is not None:
            head_files, head_deletes = self._manifest_entry(meta, _ref_head(meta, branch))
            dv_files = head_files if dv_files is None else dv_files
            targets = {os.path.basename(f.path): f.path for f in dv_files}
            prior = [d for p, d in _vectors(head_deletes).items() if os.path.basename(p) in targets]
        # data file name -> the rows of its current vector
        was = {os.path.basename(d.referenced_data_file): d.rows for d in prior}

        def stage_data() -> list[DataFile]:
            return self._stage_write(add_df, meta)

        def stage_position_deletes() -> list[DeleteFile]:
            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            # hits ∪ the files' current vectors, on the driver: one collect
            schema = pa.schema([("file_name", pa.string()), ("pos", pa.int64())])
            parts = [delete_positions_df.select("file_name", "pos").toArrow().cast(schema)]
            if was:
                parts.append(pq.read_table(
                    sorted({d.path for d in prior}), schema=schema,
                    filters=pc.field("file_name").isin(list(was)),
                ))
            rows = pa.concat_tables(parts).group_by(["file_name", "pos"]).aggregate([])
            counts = rows.group_by("file_name").aggregate([("pos", "count")]).to_pydict()
            # a union no larger than the current vector is that vector
            grown = {
                n: c for n, c in zip(counts["file_name"], counts["pos_count"])
                if c > was.get(n, 0)
            }
            if not grown:
                return []
            rows = rows.filter(pc.is_in(rows["file_name"], pa.array(list(grown))))
            (f,) = self._write_staged(
                rows.sort_by([("file_name", "ascending"), ("pos", "ascending")]),
                meta, prefix="posdel-", stats={},
            )
            return [
                DeleteFile(f.path, c, 0, [], {}, f.bytes, "position", targets[n])
                for n, c in sorted(grown.items())
            ]

        def stage_equality_deletes() -> list[DeleteFile]:
            # one small file per batch: a CDC batch's distinct keys are
            # tiny relative to the table; sorted so footer min/max bounds
            # are tight for scan-side pruning
            keys = delete_keys_df.select(*key_cols).coalesce(1)
            return [
                DeleteFile(f.path, f.rows, 0, list(key_cols), f.bounds, f.bytes)
                for f in self._write_staged(
                    keys.sortWithinPartitions(*key_cols), meta, prefix="deletes-"
                )
            ]

        add, posdel, eqdel = self._stage_and_commit(
            [
                stage_data if add_df is not None else None,
                stage_position_deletes if delete_positions_df is not None else None,
                stage_equality_deletes if delete_keys_df is not None else None,
            ],
            lambda add, posdel, eqdel: self._commit_snapshot(
                "rowdelta", add, set(), summary, add_deletes=posdel + eqdel,
                branch=branch, base=meta,
            ),
        )
        replaced = {d.referenced_data_file for d in posdel}
        deleted = sum(d.rows for d in posdel + eqdel) - sum(
            d.rows for d in prior if d.referenced_data_file in replaced
        )
        return (sum(f.rows for f in add), deleted)

    def update_schema(self, new_schema: T.StructType) -> None:
        """Schema-evolution commit; no data movement (ALTER TABLE ADD COLUMNS
        equivalent of IcebergTableOperator.java:136-151)."""
        self._commit_snapshot("evolve", [], set(), None, new_schema=new_schema)

    def update_partition_spec(self, spec: "list[PartitionField] | str") -> None:
        """Partition-spec evolution (Iceberg ALTER TABLE ADD/REPLACE
        PARTITION FIELD — spec change is metadata-only): existing data files
        keep the layout and manifest partition values they were written
        with and stay fully scannable (planners treat old-spec files as
        unprunable by the new spec); only NEW writes use the new spec.
        ``compact()`` migrates old files to the current spec as a side
        effect, like Iceberg's rewrite_data_files."""
        from .transforms import parse_partition_spec

        def mutate(meta: TableMetadata) -> None:
            names = {f.name for f in meta.schema.fields}
            new = (
                parse_partition_spec(spec, names)
                if isinstance(spec, str)
                else list(spec)
            )
            for pf in new:
                if pf.source not in names:
                    raise ValueError(
                        f"partition source column {pf.source!r} not in schema"
                    )
            meta.partition_spec = new

        self._commit(mutate)

    # ------------------------------------------------- refs (tags/branches)

    def _set_ref(self, name: str, ref_type: str, snapshot_id: int | None) -> None:
        if name == "main":
            raise ValueError("'main' is the implicit current-snapshot ref")

        def mutate(meta: TableMetadata) -> None:
            sid = snapshot_id if snapshot_id is not None else meta.current_snapshot_id
            if sid is None or all(s.snapshot_id != sid for s in meta.snapshots):
                raise ValueError(f"no snapshot {sid} to reference")
            meta.refs[name] = {"snapshot_id": sid, "type": ref_type}

        self._commit(mutate)

    def create_tag(self, name: str, snapshot_id: int | None = None) -> None:
        """Immutable named pointer at a snapshot (Iceberg CREATE TAG):
        reproducible reads — ``to_df(spark, ref=name)`` pins the exact
        table state a training run / report was built from."""
        self._set_ref(name, "tag", snapshot_id)

    def create_branch(self, name: str, snapshot_id: int | None = None) -> None:
        """Writable named lineage (Iceberg CREATE BRANCH): commits with
        ``branch=name`` advance only this ref — the write-audit-publish
        staging area."""
        self._set_ref(name, "branch", snapshot_id)

    def drop_ref(self, name: str) -> None:
        def mutate(meta: TableMetadata) -> None:
            if name not in meta.refs:
                raise ValueError(f"no ref named {name!r}")
            del meta.refs[name]

        self._commit(mutate)

    def refs(self) -> dict[str, dict]:
        """All named refs, including the implicit main branch."""
        meta = self.metadata()
        out = dict(meta.refs)
        if meta.current_snapshot_id is not None:
            out["main"] = {"snapshot_id": meta.current_snapshot_id, "type": "branch"}
        return out

    def resolve_ref(self, name: str) -> int | None:
        meta = self.metadata()
        if name == "main":
            return meta.current_snapshot_id
        ref = meta.refs.get(name)
        if ref is None:
            raise ValueError(f"no ref named {name!r}")
        return ref["snapshot_id"]

    def fast_forward(self, branch: str) -> int:
        """Publish a branch: fast-forward main to the branch head (the
        Iceberg ``fast_forward`` procedure — the atomic "publish" step of
        write-audit-publish).  Requires main's head to be an ancestor of the
        branch head (walks ``parent_id`` lineage), so nothing committed to
        main since the branch diverged can be silently dropped.  Returns the
        new current snapshot id."""

        def mutate(meta: TableMetadata) -> int:
            ref = meta.refs.get(branch)
            if ref is None or ref.get("type") != "branch":
                raise ValueError(f"no branch named {branch!r}")
            head = ref["snapshot_id"]
            by_id = {s.snapshot_id: s for s in meta.snapshots}
            anc = head
            while anc is not None and anc != meta.current_snapshot_id:
                anc = by_id[anc].parent_id if anc in by_id else None
            if meta.current_snapshot_id is not None and anc != meta.current_snapshot_id:
                raise ValueError(
                    f"main ({meta.current_snapshot_id}) is not an ancestor of "
                    f"branch {branch!r} head ({head}); cannot fast-forward"
                )
            meta.current_snapshot_id = head
            return head

        return self._commit(mutate)

    # --------------------------------------------------------- maintenance

    def compact(
        self,
        spark: SparkSession,
        target_file_bytes: int | None = None,
        min_input_files: int = 2,
        max_input_files: int | None = None,
    ) -> int:
        """rewrite_data_files: bin-pack small files into ~target-size ones.

        The reference only *documents* compaction as required upsert hygiene
        (docs/faq.md:5-7); here it is a first-class table op. Small files
        (< 75% of target) are read back and rewritten as
        ceil(total_bytes/target) files in one job; the swap is an atomic
        delta commit, so readers never see a partial state. Partition
        transforms are recomputed from the rows, so compaction preserves
        the partition layout by construction.

        ``max_input_files`` bounds ONE run's rewrite work (Iceberg's
        ``max-file-group-size-bytes`` idea on the file-count axis): the
        SMALLEST files compact first, the rest wait for the next cadence
        call.  Without a cap, a maintenance cadence on a corpus-scale
        table would re-select every sub-threshold file and rewrite an
        unbounded slice of the table per trigger; with it, repeated calls
        converge (each pass strictly reduces small-file count) while
        per-call cost stays O(cap) regardless of table size.

        Returns the number of files removed: 0 when a concurrent commit
        removed an input or changed its vector (the next call re-plans).
        """
        meta = self.metadata()
        target = target_file_bytes or int(
            meta.properties.get("write.target-file-size-bytes", 512 * 1024 * 1024)
        )
        files, deletes = self._manifest_entry(meta)
        small = [f for f in files if 0 < f.bytes < target * 0.75]
        if max_input_files is not None and len(small) > max_input_files:
            small = sorted(small, key=lambda f: (f.bytes, f.path))[:max_input_files]
        if len(small) < min_input_files:
            return 0
        total = sum(f.bytes for f in small)
        n_out = max(1, -(-total // target))  # ceil
        ln = self._lineage_on(meta)
        try:
            self.commit_delta(
                self._read(spark, meta, small, deletes, lineage=ln),
                [f.path for f in small],
                summary={"operation_detail": "compact", "input_files": len(small)},
                target_partitions=int(n_out),
                preserve_lineage=ln,
                meta=meta,
            )
        except StaleBaseConflict:
            return 0
        return len(small)

    def rewrite_sorted(
        self,
        spark: SparkSession,
        sort_by: list[str],
        zorder: bool = False,
        target_file_bytes: int | None = None,
        zorder_bits: int = 16,
    ) -> int:
        """Clustered rewrite (Iceberg's rewrite_data_files sort / zorder
        strategies): rewrite ALL current data with rows range-clustered on
        ``sort_by`` — or, with ``zorder=True``, on an interleaved-bit Morton
        code over the columns — so each file covers a narrow range of the
        cluster key(s) and min/max file bounds actually prune scans.

        Why this matters at 100 TB: bounds pruning is only as good as the
        correlation between files and key ranges.  A lexicographic sort
        prunes the leading column only; a z-order curve gives every listed
        column partial locality, so multi-dimensional point/range lookups
        skip most files.  The z-code is computed IN-PLAN from per-column
        min/max (one tiny aggregate job) — no window functions, no global
        rank, so the shuffle is an ordinary range partition on the code.

        Also materializes outstanding merge-on-read deletes (the rewrite
        reads through them) and records file bounds for ``sort_by`` via the
        ``write.stats-columns`` property.  Returns files rewritten."""
        meta = self.metadata()
        names = {f.name for f in meta.schema.fields}
        missing = [c for c in sort_by if c not in names]
        if missing:
            raise ValueError(f"sort columns not in schema: {missing}")
        files, deletes = self._manifest_entry(meta)
        if not files:
            return 0
        # make the cluster keys prunable in future stats BEFORE staging
        self.update_properties(**{"write.stats-columns": ",".join(sort_by)})
        meta.properties["write.stats-columns"] = ",".join(sort_by)
        ln = self._lineage_on(meta)
        data = self._read(spark, meta, files, deletes, lineage=ln)
        target = target_file_bytes or int(
            meta.properties.get("write.target-file-size-bytes", 512 * 1024 * 1024)
        )
        total = sum(f.bytes for f in files)
        n_out = max(1, -(-total // target))
        if zorder:
            cluster = _zvalue_col(data, sort_by, meta.schema, zorder_bits)
            shaped = (
                data.withColumn("_zv", cluster)
                .repartitionByRange(int(n_out), F.col("_zv"))
                .sortWithinPartitions("_zv")
                .drop("_zv")
            )
        else:
            shaped = data.repartitionByRange(
                int(n_out), *[F.col(c) for c in sort_by]
            ).sortWithinPartitions(*sort_by)
        self.commit_delta(
            shaped,
            [f.path for f in files],
            summary={
                "operation_detail": "rewrite_sorted",
                "zorder": bool(zorder),
                "sort_by": ",".join(sort_by),
            },
            drop_deletes=True,
            preserve_layout=True,
            preserve_lineage=ln,
            meta=meta,
        )
        return len(files)

    def materialize_deletes(self, spark: SparkSession) -> int:
        """Rewrite-the-deletes maintenance (Iceberg's rewrite_position_deletes
        / the reference's documented upsert compaction hygiene, docs/faq.md:5-7):
        rewrite every data file a deletion vector names, and every one an
        equality delete could still hit — older than some delete AND
        key-bounds-overlapping it — with deletes applied, then drop the
        deletes in the same atomic commit. Read amplification returns to
        zero; untouched files are not rewritten.

        Returns the number of data files rewritten: 0 when a concurrent
        commit removed one or changed its vector (the next call re-plans)."""
        meta = self.metadata()
        files, deletes = self._manifest_entry(meta)
        if not deletes:
            return 0
        types = pruning.column_types(meta.schema)
        eq_dels = [d for d in deletes if d.content != "position"]
        vectors = _vectors(deletes)
        affected = [
            f for f in files
            if f.path in vectors
            or any(pruning.delete_may_touch(d, [f], types) for d in eq_dels)
        ]
        ln = self._lineage_on(meta)
        clean = (
            self._read(spark, meta, affected, deletes, lineage=ln)
            if affected
            else None
        )
        try:
            self.commit_delta(
                clean,
                [f.path for f in affected],
                summary={"operation_detail": "materialize-deletes", "input_files": len(affected)},
                drop_deletes=True,
                preserve_lineage=ln,
                meta=meta,
            )
        except StaleBaseConflict:
            return 0
        return len(affected)

    def expire_snapshots(self, keep_last: int = 1) -> int:
        """Drop all but the newest ``keep_last`` snapshots and delete data
        files referenced only by the expired ones (Iceberg's
        expire_snapshots maintenance procedure). Returns files deleted."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")

        def mutate(meta: TableMetadata):
            if len(meta.snapshots) <= keep_last:
                return _NOTHING_TO_COMMIT
            # ref heads (main's too: a branch commit may be newer) are
            # never expired — same protection Iceberg's procedure applies
            pinned = {r["snapshot_id"] for r in meta.refs.values()}
            pinned.add(meta.current_snapshot_id)
            keep = [
                s
                for i, s in enumerate(meta.snapshots)
                if i >= len(meta.snapshots) - keep_last or s.snapshot_id in pinned
            ]
            expired = [s for s in meta.snapshots if s not in keep]
            if not expired:
                return _NOTHING_TO_COMMIT

            def _all_paths(sid: int) -> set[str]:
                files, deletes = self._manifest_entry(meta, sid)
                return {f.path for f in [*files, *deletes]}

            live_paths = set().union(*(_all_paths(s.snapshot_id) for s in keep))
            dead_paths = (
                set().union(*(_all_paths(s.snapshot_id) for s in expired)) - live_paths
            )
            meta.snapshots = keep
            return dead_paths, [s.manifest for s in expired]

        # dead files go only after the commit that unreferences them lands
        done = self._commit(mutate)
        if done is None:
            return 0
        dead_paths, old_manifests = done
        for p in dead_paths:
            try:
                os.remove(p)
            except OSError:
                pass
        for m in old_manifests:
            try:
                os.remove(os.path.join(self.meta_dir, m))
            except OSError:
                pass
        return len(dead_paths)

    def remove_orphan_files(self, older_than_seconds: float = 86400.0) -> list[str]:
        """Delete data-dir files, ``metadata/manifest-*.json`` files no
        retained snapshot references and metadata temp files (Iceberg's
        remove_orphan_files maintenance procedure; completes the W12 abort
        story — a writer that died between staging and ``_abort_staged``,
        between writing a manifest and its commit, or before linking its
        candidate version, leaves files this pass reclaims).

        Only files whose mtime is older than ``older_than_seconds`` are
        deleted: anything younger may belong to a concurrent in-flight
        write whose commit hasn't landed yet (the same grace-period rule
        Iceberg's procedure applies, default 3 days — ours defaults to one
        day since CDC commits land in seconds).  Returns deleted paths."""
        meta = self.metadata()
        referenced: set[str] = set()
        for s in meta.snapshots:
            files, deletes = self._manifest_entry(meta, s.snapshot_id)
            referenced |= {os.path.realpath(f.path) for f in [*files, *deletes]}
            referenced.add(os.path.realpath(os.path.join(self.meta_dir, s.manifest)))
        cutoff = time.time() - older_than_seconds
        paths = [os.path.join(r, n) for r, _d, ns in os.walk(self.data_dir) for n in ns]
        paths += sorted(glob.glob(os.path.join(self.meta_dir, "manifest-*.json")))
        paths += sorted(glob.glob(os.path.join(self.meta_dir, ".*.tmp")))
        removed: list[str] = []
        for p in paths:
            try:
                if os.path.realpath(p) in referenced or os.path.getmtime(p) > cutoff:
                    continue
                os.remove(p)
                removed.append(p)
            except OSError:
                continue
        # sweep now-empty staging directories
        for root, dirs, names in os.walk(self.data_dir, topdown=False):
            if root != self.data_dir and not dirs and not names:
                try:
                    os.rmdir(root)
                except OSError:
                    pass
        return removed

    # ------------------------------------------------------------- read ops

    def to_df(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        ref: str | None = None,
        lineage: bool = False,
        row_filter: dict | None = None,
        partition_values: dict[str, set] | None = None,
    ) -> DataFrame:
        """Current (or time-travel / ref) table contents as a DataFrame.

        Reads with the table's logical schema: files written before a column
        was added yield nulls for it (schema evolution on read). Equality
        deletes recorded in the (possibly historical) manifest are applied
        at scan time — the merge-on-read half of the format.  ``ref`` reads
        at a named tag or branch head (Iceberg's VERSION AS OF 'ref').

        ``lineage=True`` appends the Iceberg v3 row-lineage columns
        ``_row_id`` and ``_last_updated_sequence_number``: materialized
        values written by a rewrite win, else they are derived in-plan as
        ``first_row_id + parquet row position`` / the file's data sequence
        number (the v3 inheritance rule).  Rows from files committed before
        the table carried ``format-version>=3`` surface null ids.

        ``row_filter`` is Iceberg's planFiles model: a dict of
        ``column -> scalar`` (equality) or ``column -> (lo, hi)``
        (inclusive range) predicates.  Files are pruned DRIVER-SIDE before
        any Spark job using (a) hidden-partition transform values —
        equality on a bucket column computes the murmur3 bucket, temporal
        transforms map value ranges to their path encodings — and (b)
        per-file column min/max bounds; the residual predicate is then
        applied in-plan, so results are EXACTLY ``to_df().filter(...)``
        while a point lookup touches only the files that can match.  At
        100 TB this is the difference between a manifest scan and a
        table scan.  A naive datetime value follows PySpark's rule for
        the column's type, in pruning and residual alike: a process-local
        instant on a ``timestamp`` column (what ``F.lit`` makes of it), a
        wall clock on ``timestamp_ntz`` (the residual literal is typed
        ``timestamp_ntz``, where ``F.lit`` alone would make an instant).

        ``partition_values`` is a PLANNING primitive for probe joins:
        a dict of PHYSICAL partition-field name (``PartitionField.name``,
        e.g. ``_p_bucket32_band_val``) -> set of allowed partition values.
        Files whose stamped partition value falls outside the set are
        pruned driver-side; files a value can't be trusted for (old-spec
        layouts, unstamped bucket hashes, hive-default/null values) are
        conservatively KEPT.  Unlike ``row_filter`` NO residual predicate
        is applied — the caller's own join/filter must provide exactness;
        the contract is only "every row that could match the caller's
        predicate survives pruning", which holds because a partition
        transform is a pure function of the source column."""
        if ref is not None:
            if snapshot_id is not None:
                raise ValueError("pass snapshot_id or ref, not both")
            snapshot_id = self.resolve_ref(ref)
        meta = self.metadata()
        files, deletes = self._manifest_entry(meta, snapshot_id)
        if row_filter:
            files = pruning._prune_files_by_filter(meta, files, row_filter)
        if partition_values:
            files = pruning._prune_files_by_partition_values(meta, files, partition_values)
        df = self._read(spark, meta, files, deletes, lineage=lineage)
        types = pruning.column_types(meta.schema)
        for col, want in (row_filter or {}).items():
            dt = types.get(col)
            if isinstance(want, tuple):
                lo, hi = (pruning.literal(v, dt) for v in want)
                df = df.filter(F.col(col).between(lo, hi))
            else:
                df = df.filter(F.col(col) == pruning.literal(want, dt))
        return df

    def changed_rows_since(
        self, spark: SparkSession, snapshot_id: int,
        include_deletes: bool = False,
    ) -> DataFrame:
        """Changed-row scan on v3 row lineage: the CURRENT post-image of
        every row created or updated after ``snapshot_id``, exactly once,
        with the lineage columns attached.

        Complements :meth:`incremental_scan` (append-only file feed, errors
        across rewrites): this one reads through merge-on-read deletes and
        survives compaction, because identity comes from the row-level
        ``_last_updated_sequence_number``, not from which file a row sits
        in.

        ``include_deletes=True`` adds a ``_change_type`` column
        (``'upsert'`` on post-images) and emits one ``'delete'`` row —
        the PRE-image as of ``snapshot_id``, with its lineage columns —
        for every key live at the snapshot whose key no longer exists
        (Iceberg changelog semantics; a CDC consumer republishing
        downstream replays these as DELETEs).  Requires identifier
        fields.  A key deleted and re-inserted surfaces as an upsert
        only, like a MERGE would treat it.

        Scale: only files committed after the snapshot are scanned (a file
        with seq ≤ ``snapshot_id`` holds only rows last updated at or
        before it), so cost ∝ new + rewritten data; the residual filter
        drops old rows that rewrites carried.  Delete-image candidates come
        only from equality deletes committed after the snapshot, files
        whose vector was replaced since, and files removed since, and both
        snapshot scans are key-bounds-pruned to their ranges.  Compaction
        between the snapshots widens the candidates to the rewritten
        files — tail changelogs before compacting."""
        meta = self.metadata()
        if not self._lineage_on(meta):
            # without per-row lineage a rewrite re-sequences every carried
            # row — silently reporting them all as changed; fail loudly
            raise ValueError(
                "changed_rows_since requires format-version>=3 (row lineage)"
            )
        by_id = {s.snapshot_id: s for s in meta.snapshots}
        if snapshot_id not in by_id:
            raise ValueError(f"no snapshot {snapshot_id} in table history")
        cur_files, cur_deletes = self._manifest_entry(meta)
        files = [f for f in cur_files if f.seq > snapshot_id]
        post = self._read(spark, meta, files, cur_deletes, lineage=True).filter(
            F.col(LAST_SEQ_COL) > snapshot_id
        )
        if not include_deletes:
            return post
        key_cols = [
            c for c in meta.identifier_fields
            if c in {f.name for f in meta.schema.fields}
        ]
        if not key_cols:
            raise ValueError(
                "include_deletes requires identifier fields (delete images "
                "are keyed on the primary key)"
            )
        post = post.withColumn("_change_type", F.lit("upsert"))

        # ---- candidate victim keys (∝ change volume, not table size)
        old_files, old_deletes = self._manifest_entry(meta, snapshot_id)
        cur_paths = {f.path for f in cur_files}
        removed = [f for f in old_files if f.path not in cur_paths]
        new_dels = [d for d in cur_deletes if d.seq > snapshot_id]
        cand_parts = []
        eq_dels = [d for d in new_dels if d.content == "equality"]
        if eq_dels:
            key_schema = T.StructType(
                [f for f in meta.schema.fields if f.name in key_cols]
            )
            cand_parts.append(
                spark.read.schema(key_schema)
                .parquet(*[d.path for d in eq_dels])
                .select(*key_cols)
            )
        revectored = {d.referenced_data_file for d in new_dels}
        pos_targets = [f for f in old_files if f.path in revectored]
        # keys of targeted/removed files over-approximate the victims; the
        # anti-join against live keys screens out survivors
        for fl in (pos_targets, removed):
            if fl:
                cand_parts.append(
                    self._read(spark, meta, fl, []).select(*key_cols)
                )
        if not cand_parts:
            return post
        cand = cand_parts[0]
        for p in cand_parts[1:]:
            cand = cand.unionByName(p)
        cand = cand.dropDuplicates(key_cols)

        # bounds-prune both snapshot scans to the candidate key ranges
        # (the MERGE planner's model: one tiny agg, then manifest math)
        types = pruning.column_types(meta.schema)
        keyed = {c: types[c] for c in key_cols}
        ranges = pruning.key_ranges(
            cand.agg(*pruning.key_range_aggs(keyed)).collect()[0], keyed
        )
        old_pruned = [f for f in old_files if pruning.may_overlap(f.bounds, ranges, types)]
        cur_pruned = [f for f in cur_files if pruning.may_overlap(f.bounds, ranges, types)]
        old_rows = self._read(
            spark, meta, old_pruned, old_deletes, lineage=True
        )
        live_keys = self._read(
            spark, meta, cur_pruned, cur_deletes
        ).select(*key_cols)
        deleted = (
            old_rows.join(cand, key_cols, "left_semi")
            .join(live_keys, key_cols, "left_anti")
            .withColumn("_change_type", F.lit("delete"))
        )
        return post.unionByName(deleted)

    def incremental_scan(
        self,
        spark: SparkSession,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
    ) -> DataFrame:
        """Incremental append scan (Iceberg's appendsBetween / Spark
        ``start-snapshot-id`` incremental read): rows in data files committed
        AFTER ``from_snapshot_id`` up to and including ``to_snapshot_id``
        (default: current head).  This is the changelog feed a downstream
        pipeline tails instead of re-reading the table: cost is proportional
        to the NEW data only — file selection is a manifest filter on
        sequence numbers, no scan of pre-existing files.

        Only append/rowdelta-added rows are surfaced (like Iceberg, which
        rejects incremental scans across overwrite/compaction snapshots —
        here files whose seq is in range but that were produced by a
        rewrite of older data raise the same way)."""
        meta = self.metadata()
        to_sid = to_snapshot_id if to_snapshot_id is not None else meta.current_snapshot_id
        by_id = {s.snapshot_id: s for s in meta.snapshots}
        for sid in (from_snapshot_id, to_sid):
            if sid is not None and sid not in by_id:
                raise ValueError(f"no snapshot {sid} in table history")
        if to_sid is None or from_snapshot_id >= to_sid:
            return spark.createDataFrame([], meta.schema)
        for s in meta.snapshots:
            if from_snapshot_id < s.snapshot_id <= to_sid and s.operation in (
                "overwrite", "delta",
            ):
                raise ValueError(
                    f"snapshot {s.snapshot_id} is a {s.operation} (rewrite); "
                    "incremental append scan is not defined across it"
                )
        files, deletes = self._manifest_entry(meta, to_sid)
        files = [f for f in files if from_snapshot_id < f.seq <= to_sid]
        # deletes committed inside the range still apply to the new rows
        deletes = [d for d in deletes if d.seq <= to_sid]
        return self._read(spark, meta, files, deletes)

    def scan_files(
        self,
        spark: SparkSession,
        files: list[DataFile],
        lineage: bool = False,
        meta: TableMetadata | None = None,
    ) -> DataFrame:
        """Read a subset of data files with the current snapshot's deletes
        applied.  ``lineage`` as in :meth:`to_df`; ``meta``: the caller's
        metadata instead of a re-read."""
        meta = meta if meta is not None else self.metadata()
        return self._read(spark, meta, files, self._manifest_entry(meta)[1], lineage=lineage)

    def _read(
        self,
        spark: SparkSession,
        meta: TableMetadata,
        files: list[DataFile],
        deletes: list[DeleteFile],
        lineage: bool = False,
    ) -> DataFrame:
        """Scan plan: ONE multi-file parquet read and no side-table job.
        File name and row index come from the scan's deterministic
        ``_metadata`` column, so a filter the caller adds is pushed into
        the parquet scan.  Deletion vectors are an anti-join on (file name,
        row index) against the distinct parquet files of the position
        entries that name a scanned file; equality deletes one anti-join on
        (key columns, data.seq < del.seq) against a second small parquet
        read.  Delete sides are broadcast when manifest stats say they are
        small, so a merge-on-read scan never shuffles its data side
        (Iceberg's read-path model).  Per-file sequence numbers and first
        row ids (:func:`file_lookup`) are attached only when something
        reads them."""
        schema = meta.schema
        read_schema = lineage_read_schema(schema) if lineage else schema
        if not files:
            return spark.createDataFrame([], read_schema)

        key_cols = [c for c in meta.identifier_fields if c in {f.name for f in schema.fields}]
        # a pruned scan reads only the deletes that can touch its files: a
        # vector names its file, an equality delete is range-checked
        scanned = {f.path for f in files}
        paths = {d.path for d in deletes if d.referenced_data_file in scanned}
        vectors = [d for d in deletes if d.path in paths]  # all rows of those files
        types = pruning.column_types(schema)
        relevant = [
            d for d in deletes
            if d.content != "position"
            and key_cols
            and pruning.delete_may_touch(d, files, types)
        ]

        df = spark.read.schema(read_schema).parquet(*[f.path for f in files])
        if not relevant and not vectors and not lineage:
            return df

        # file identity and row position from the scan's own metadata:
        # deterministic columns, so a filter the caller adds on top is
        # pushed through them into the parquet scan
        df = df.withColumn("_fname", F.col("_metadata.file_name")).withColumn(
            "_pos", F.col("_metadata.row_index")
        )
        if vectors:
            # positional skipping: anti-join on (file name, row index); a
            # shared parquet's rows for other files match nothing scanned
            pdels = _vector_rows(spark, vectors)
            if sum(d.rows for d in vectors) * 64 <= _BROADCAST_BYTES:
                pdels = F.broadcast(pdels)
            df = df.join(
                pdels,
                (F.col("_fname") == F.col("file_name"))
                & (F.col("_pos") == F.col("pos")),
                "left_anti",
            )
        if lineage or relevant:
            per_file = file_lookup(
                F.col("_fname"),
                {os.path.basename(f.path): {"seq": f.seq, "frid": f.first_row_id} for f in files},
                "struct<seq:bigint,frid:bigint>",
            )
            df = df.withColumn("_seq", per_file.seq).withColumn("_frid", per_file.frid)

        if relevant:
            key_schema = T.StructType([f for f in schema.fields if f.name in key_cols])
            dels = (
                spark.read.schema(key_schema)
                .parquet(*[d.path for d in relevant])
                .select(
                    *[F.col(c).alias(f"_d_{c}") for c in key_cols],
                    file_lookup(
                        F.col("_metadata.file_name"),
                        {os.path.basename(d.path): d.seq for d in relevant},
                        "bigint",
                    ).alias("_dseq"),
                )
            )
            # broadcast the delete side when manifest stats say it's small
            del_rows = sum(d.rows for d in relevant)
            if del_rows * _est_row_width(key_schema) <= _BROADCAST_BYTES:
                dels = F.broadcast(dels)
            cond = F.col("_seq") < F.col("_dseq")
            for c in key_cols:
                cond = cond & (F.col(c) == F.col(f"_d_{c}"))
            df = df.join(dels, cond, "left_anti")

        return (inherit_lineage(df) if lineage else df).select(*read_schema.fieldNames())

    def row_count(self) -> int:
        """PHYSICAL data rows (Iceberg's total-records semantics): does not
        subtract equality-deleted rows — a delete key may match zero rows,
        so the live count is only knowable at scan time (``to_df().count()``).
        Exact whenever the table has no delete files."""
        return sum(f.rows for f in self.current_files())

    def metadata_df(self, spark: SparkSession, kind: str) -> DataFrame:
        """Metadata tables (Iceberg's ``tbl.snapshots`` / ``tbl.files`` /
        ``tbl.partitions`` / ``tbl.refs`` inspection surface, which the
        reference gets for free from the Iceberg library).  Row counts are
        bounded by file/snapshot counts (planning-scale, not data-scale), so
        driver-side construction is the same cost class as Iceberg's own
        manifest-reading metadata scans."""
        meta = self.metadata()
        if kind == "snapshots":
            rows = [
                (
                    s.snapshot_id,
                    s.parent_id,
                    s.timestamp_ms,
                    s.operation,
                    s.manifest,
                    json.dumps(s.summary, sort_keys=True),
                    s.snapshot_id == meta.current_snapshot_id,
                )
                for s in meta.snapshots
            ]
            return spark.createDataFrame(
                rows,
                "snapshot_id long, parent_id long, timestamp_ms long, "
                "operation string, manifest string, summary string, "
                "is_current boolean",
            )
        if kind == "files":
            rows = [
                (
                    f.path, f.rows, f.bytes, f.seq,
                    json.dumps(f.partition, sort_keys=True),
                    json.dumps(f.bounds, sort_keys=True),
                )
                for f in self._manifest_entry(meta)[0]
            ]
            return spark.createDataFrame(
                rows,
                "file_path string, record_count long, file_size_bytes long, "
                "sequence_number long, partition string, bounds string",
            )
        if kind == "delete_files":
            rows = [
                (
                    d.path, d.rows, d.bytes, d.seq, d.content,
                    ",".join(d.equality_cols),
                )
                for d in self._manifest_entry(meta)[1]
            ]
            return spark.createDataFrame(
                rows,
                "file_path string, record_count long, file_size_bytes long, "
                "sequence_number long, content string, equality_columns string",
            )
        if kind == "partitions":
            agg: dict[str, list[int]] = {}
            for f in self._manifest_entry(meta)[0]:
                key = json.dumps(f.partition, sort_keys=True)
                cur = agg.setdefault(key, [0, 0, 0])
                cur[0] += 1
                cur[1] += f.rows
                cur[2] += f.bytes
            rows = [(k, v[0], v[1], v[2]) for k, v in sorted(agg.items())]
            return spark.createDataFrame(
                rows,
                "partition string, file_count long, record_count long, "
                "total_size_bytes long",
            )
        if kind == "refs":
            refs = dict(meta.refs)
            if meta.current_snapshot_id is not None:
                refs["main"] = {
                    "snapshot_id": meta.current_snapshot_id, "type": "branch"
                }
            rows = [
                (name, r["type"], r["snapshot_id"]) for name, r in sorted(refs.items())
            ]
            return spark.createDataFrame(
                rows, "name string, type string, snapshot_id long"
            )
        if kind == "history":
            return self.history(spark)
        raise ValueError(
            f"unknown metadata table {kind!r} "
            "(snapshots|files|delete_files|partitions|refs|history)"
        )

    def history(self, spark: SparkSession) -> DataFrame:
        """Snapshot history as a DataFrame (the SQL-visible operational
        surface the reference gets from its Iceberg state tables): one row
        per snapshot with operation, counts, and summary JSON."""
        meta = self.metadata()
        rows = [
            (
                s.snapshot_id,
                s.timestamp_ms,
                s.operation,
                int(s.summary.get("added_files", 0)),
                int(s.summary.get("removed_files", 0)),
                int(s.summary.get("total_rows", 0)),
                json.dumps(s.summary, sort_keys=True),
            )
            for s in meta.snapshots
        ]
        return spark.createDataFrame(
            rows,
            "snapshot_id long, timestamp_ms long, operation string, "
            "added_files int, removed_files int, total_rows long, summary string",
        )


# conservative broadcast budget for delete/key sides (well under typical
# driver/executor memory; Spark's own default autoBroadcastJoinThreshold is
# 10MB but key-only relations compress far better, so allow more)
_BROADCAST_BYTES = 64 * 1024 * 1024

_TYPE_WIDTH = {
    "boolean": 1, "byte": 1, "short": 2, "integer": 4, "long": 8,
    "float": 4, "double": 8, "date": 4, "timestamp": 8, "timestamp_ntz": 8,
}


def _auto_write_partitions(
    df: DataFrame, meta: TableMetadata, materialize: bool = False
) -> int | None:
    """Size the write's file count from Catalyst's plan-byte estimate and
    the table's target file size: ``ceil(bytes / target)``, capped at the
    session's shuffle-partition setting so a join-inflated over-estimate
    can never fan out wider than the previous fixed behavior.  A
    CDC-batch-sized commit then writes ONE ranged file instead of
    shuffle-partitions tiny ones (the reference's rolling-file sizing,
    IcebergTableWriterFactory.java:42-46, applied to file COUNT);
    returns None when the JVM estimate is unreachable (keep Spark's
    default fan-out).

    ``materialize=True`` (the caller persisted ``df``): when the plan
    estimate lands in the collapse zone (< 4 files), run a count so the
    cache fills and the stat read sees the MATERIALIZED in-memory size,
    not a pre-execution Catalyst guess — a selective-filter underestimate
    must not collapse a genuinely large keyed append into a single-file,
    single-task write.  Estimates ABOVE the zone skip the extra pass: an
    underestimate there still fans out adequately, and the range
    shuffle's sampling pass re-reads the cache right after anyway."""
    try:
        target = int(
            meta.properties.get(
                "write.target-file-size-bytes", 512 * 1024 * 1024
            )
        )

        est = _plan_size_est(df)
        if materialize and df.is_cached and est is not None and est < 4 * target:
            df.count()
            # stats() memoizes per QueryExecution — the post-materialize
            # read needs a fresh plan handle to see the cached size
            est = _plan_size_est(df.select("*"))
        # unknown stats (None) -> let AQE's shuffle coalescing pick the
        # fan-out instead of pinning the cap
        if est is None:
            return None
        cap = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
        return max(1, min(-(-est // target), cap))
    except Exception:
        # contract: sizing unavailable (unreachable JVM stats, non-numeric
        # confs like shuffle.partitions='auto') -> None, never a crash
        return None


def _plan_size_est(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan byte estimate, or None when unknown.
    Catalyst reports ~Long.Max for plans with unknown stats (local
    relations, some cached plans) — mapped to None."""
    try:
        est = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return None
    return est if 0 < est < 1 << 60 else None


def _uniquify_staged(staging: str) -> None:
    """Rename freshly staged part files to globally-unique names.

    Iceberg writers embed a task UUID in every data-file name
    (IcebergTableWriterFactory.java:42-46 via OutputFileFactory); Spark's
    ``part-*`` names are only unique per write job. The prefix must be
    PER FILE, not per commit: one task writing several hive partition
    directories emits the same ``part-NNNNN-<jobUUID>`` name in each dir,
    and several read-path maps key on basename (``_read``'s file→seq/
    first_row_id lookup, position-delete ``file_name`` matching, export's
    name→path map) — a commit-scoped tag left those colliding, which
    QUADRUPLED rows in lineage/MoR reads of partitioned tables.  The new
    names hold only letters, digits, dashes and dots — nothing a URI
    escapes — so a file's ``_metadata.file_name`` is exactly its path's
    basename.
    Driver-side renames within one directory tree — no data movement."""
    for root, _dirs, names in os.walk(staging):
        for n in names:
            if n.endswith(".parquet") and not n.startswith("."):
                tag = uuidlib.uuid4().hex[:12]
                os.rename(
                    os.path.join(root, n), os.path.join(root, f"{tag}-{n}")
                )
            elif n.startswith(".") or n == "_SUCCESS":
                # drop Hadoop _SUCCESS markers and .crc sidecars (stale after
                # rename; LocalFileSystem skips verification when absent)
                os.remove(os.path.join(root, n))


def _zvalue_col(
    df: DataFrame, cols: list[str], schema: T.StructType, bits: int = 16
) -> "F.Column":
    """Morton (z-order) code over ``cols`` as a single LONG column.

    Each column is normalized to a ``bits``-wide integer using its global
    min/max (ONE tiny aggregate job — no windows, no global sort), then the
    bit planes are interleaved: bit b of column i lands at position
    ``b * n_cols + i``.  Supported types: numerics, date, timestamp —
    the same families Iceberg's zorder transform handles natively (strings
    need an order-preserving byte prefix, deliberately out of scope)."""
    if len(cols) * bits > 63:
        raise ValueError(f"{len(cols)} cols x {bits} bits exceeds a long")
    types = {f.name: f.dataType.typeName() for f in schema.fields}

    def as_num(c: str):
        t = types.get(c, "")
        col = F.col(c)
        if t == "date":
            return F.datediff(col, F.lit("1970-01-01")).cast("double")
        if t.startswith("timestamp"):
            return F.unix_timestamp(col).cast("double")
        if t in ("byte", "short", "integer", "long", "float", "double") or t.startswith(
            "decimal"
        ):
            return col.cast("double")
        raise ValueError(f"z-order does not support column {c!r} of type {t!r}")

    nums = {c: as_num(c) for c in cols}
    row = df.agg(
        *[F.min(nums[c]).alias(f"_mn_{c}") for c in cols],
        *[F.max(nums[c]).alias(f"_mx_{c}") for c in cols],
    ).collect()[0]
    top = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        mn, mx = row[f"_mn_{c}"], row[f"_mx_{c}"]
        if mn is None:
            mn, mx = 0.0, 1.0
        rng = (mx - mn) or 1.0
        code = F.coalesce(
            ((nums[c] - F.lit(float(mn))) / F.lit(float(rng)) * F.lit(top)).cast("long"),
            F.lit(0),
        )
        code = F.least(F.greatest(code, F.lit(0)), F.lit(top))
        for b in range(bits):
            bit = F.shiftright(code, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * len(cols) + i))
    return z


def _ref_head(meta: TableMetadata, ref: str) -> int | None:
    """The snapshot id at a ref head; an unknown ref falls back to main's."""
    if ref == "main":
        return meta.current_snapshot_id
    r = meta.refs.get(ref)
    return r["snapshot_id"] if r else meta.current_snapshot_id


def _vector_rows(spark: SparkSession, vectors: list[DeleteFile]) -> DataFrame:
    """The ``(file_name, pos)`` rows of the parquet files of ``vectors``."""
    paths = sorted({d.path for d in vectors})
    return spark.read.schema("file_name string, pos long").parquet(*paths)


def _vectors(deletes: list[DeleteFile]) -> dict[str, DeleteFile]:
    """The position entries of ``deletes`` by the data file they name."""
    return {d.referenced_data_file: d for d in deletes if d.content == "position"}


def lineage_read_schema(schema: T.StructType) -> T.StructType:
    """``schema`` plus the v3 lineage columns.  Rewritten files materialize
    them physically; files that did not read nulls, which
    :func:`inherit_lineage` fills."""
    return T.StructType(
        [*schema.fields, T.StructField(ROW_ID_COL, T.LongType()),
         T.StructField(LAST_SEQ_COL, T.LongType())]
    )


def inherit_lineage(df: DataFrame) -> DataFrame:
    """v3 inheritance over a scan carrying ``_pos``, ``_seq`` and ``_frid``:
    a materialized value (rewritten file) wins, otherwise first_row_id +
    position / the file's sequence number."""
    return df.withColumn(
        ROW_ID_COL, F.coalesce(F.col(ROW_ID_COL), F.col("_frid") + F.col("_pos"))
    ).withColumn(LAST_SEQ_COL, F.coalesce(F.col(LAST_SEQ_COL), F.col("_seq")))


def file_lookup(name: "F.Column", values: dict[str, Any], value_type: str) -> "F.Column":
    """``values[name]`` per row (null for an unknown name), from ONE JSON
    literal the optimizer folds into a constant: a single py4j call whatever
    the file count, and no Spark job (a ``createDataFrame`` side table runs a
    Python job per read).  A map lookup scans its keys, so names are spread
    by CRC32 (the same in Python and Spark) over buckets of ~16 and a row
    scans one bucket, not every file."""
    n = max(1, len(values) // 16)
    buckets: list[dict] = [{} for _ in range(n)]
    for k, v in values.items():
        buckets[zlib.crc32(k.encode()) % n][k] = v
    maps = F.from_json(F.lit(json.dumps(buckets)), f"array<map<string,{value_type}>>")
    bucket = (F.pmod(F.crc32(name), F.lit(n)) + 1).cast("int")
    return F.element_at(F.element_at(maps, bucket), name)


def _est_row_width(schema: T.StructType) -> int:
    """Byte estimate per row for broadcast decisions: fixed widths for
    primitives, a pessimistic default for strings/binary/nested."""
    w = 8  # row overhead
    for f in schema.fields:
        w += _TYPE_WIDTH.get(f.dataType.typeName(), 32)
    return w


def _partition_values_from_path(path: str, spec: list[PartitionField]) -> dict[str, Any]:
    """Parse Hive-style ``_p_x=val`` directory components out of a file path.

    Values are percent-UNESCAPED: Spark hive-escapes special characters in
    partition directory names (including ``%`` itself, so unquoting is
    lossless) — without the decode, a string partition value containing
    ``:`` or a space would never equal its computed counterpart in merge
    partition pruning or metadata export."""
    if not spec:
        return {}
    from urllib.parse import unquote

    vals: dict[str, Any] = {}
    names = {pf.name for pf in spec}
    for comp in path.split("/"):
        if "=" in comp:
            k, _, v = comp.partition("=")
            if k in names:
                # RAW string, never int-parsed: the path is type-blind, and
                # coercing "007" (a legitimate STRING partition value) to 7
                # would export a wrong value and wrongly prune merges.
                # Consumers normalize per declared type (int()/str() both
                # accept these strings; computed values stringify to the
                # same canonical form Spark wrote into the path).
                vals[k] = unquote(v)
    return vals
