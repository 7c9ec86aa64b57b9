"""Real Apache Iceberg v2 metadata for engine-written tables.

The reference's core contract is tables ANY engine can read through
standard Iceberg metadata (IcebergChangeConsumer.java:100-102; its tests
read the produced tables back with Spark SQL, BaseSparkTest.java:49-71,
170-178).  The engine's native store is the JSON-manifest lakehouse format
(``table.py``); this module publishes a table's current snapshot as a
genuine Iceberg v2 table — ``v1.metadata.json`` + Avro manifest list +
Avro manifest per the public Iceberg table spec — so external readers
(Spark+iceberg-runtime, Trino, DuckDB's iceberg extension, pyiceberg)
can load it with no knowledge of this engine.

What makes this *verifiable in this environment* (no iceberg runtime jar,
no network): the Avro container files are written by the dependency-free
codec in ``avro_io.py`` and validated byte-for-byte by the REAL Apache
Avro Java library already on Spark's classpath
(``org.apache.avro.file.DataFileReader`` via py4j, tests in
``tests/test_iceberg_export.py``), and ``read_iceberg_table`` re-reads the
table through the metadata chain alone — version-hint → metadata.json →
manifest list → manifests → parquet — exactly the walk an external engine
performs.

Scope: unpartitioned, identity-partitioned AND transform-partitioned
tables export faithfully: the engine's bucket transform is Iceberg's own
murmur3 bucket (``murmur3.py``), and year/month/day/hour/truncate path
values convert 1:1 to the spec's epoch-relative typed partition values,
so external partition pruning works on published tables.  Files written
under an OLDER engine partition spec (spec evolution) export in a
separate manifest under an unpartitioned spec id — conservatively
scanned, never wrongly pruned.  Variant columns are refused (v2 has no
variant).  Merge-on-read delete files EXPORT with the data: engine
position-delete parquet is rewritten into spec form (reserved field ids
2147483546/2147483545, absolute paths, (path, pos) sort) and equality
deletes get schema field ids + ``equality_ids`` manifest entries, in a
content=1 delete manifest; engine sequence ordering is preserved by
mapping distinct engine sequence numbers to consecutive Iceberg sequence
numbers, so "delete applies to strictly-older data" survives the
translation.  Re-publishing to the same destination appends real
snapshots — history, sequence numbers, metadata-log, time travel.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import time
import uuid as uuidlib

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .avro_io import read_container, write_container
from .table import LakeTable, file_lookup, inherit_lineage, lineage_read_schema

# ---------------------------------------------------------------- schema


_PRIMITIVES = {
    "long": "long",
    "integer": "int",
    "short": "int",
    "byte": "int",
    "string": "string",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    "date": "date",
    "timestamp": "timestamptz",
    "timestamp_ntz": "timestamp",
    "binary": "binary",
}


def spark_schema_to_iceberg(
    schema: T.StructType, identifier_fields: list[str] | None = None
) -> tuple[dict, int]:
    """Spark StructType -> Iceberg schema JSON (spec 'Schemas' section).
    Returns (schema_json, last_column_id).  Field ids are assigned
    pre-order, parents before children — the same fresh-assignment walk
    Iceberg's own schema converters do."""
    counter = {"id": 0}

    def nid() -> int:
        counter["id"] += 1
        return counter["id"]

    def conv(dt: T.DataType) -> object:
        name = dt.typeName()
        if name in _PRIMITIVES:
            return _PRIMITIVES[name]
        if isinstance(dt, T.DecimalType):
            return f"decimal({dt.precision}, {dt.scale})"
        if isinstance(dt, T.StructType):
            fields = []
            for f in dt.fields:
                fid = nid()
                fields.append(
                    {
                        "id": fid,
                        "name": f.name,
                        "required": not f.nullable,
                        "type": conv(f.dataType),
                    }
                )
            return {"type": "struct", "fields": fields}
        if isinstance(dt, T.ArrayType):
            eid = nid()
            return {
                "type": "list",
                "element-id": eid,
                "element": conv(dt.elementType),
                "element-required": not dt.containsNull,
            }
        if isinstance(dt, T.MapType):
            kid, vid = nid(), nid()
            return {
                "type": "map",
                "key-id": kid,
                "key": conv(dt.keyType),
                "value-id": vid,
                "value": conv(dt.valueType),
                "value-required": not dt.valueContainsNull,
            }
        raise ValueError(
            f"type {name!r} has no Iceberg v2 representation (variant needs v3)"
        )

    top: dict[str, int] = {}
    fields = []
    for f in schema.fields:
        fid = nid()
        top[f.name] = fid
        fields.append(
            {
                "id": fid,
                "name": f.name,
                # identifier fields must be required in Iceberg
                "required": (not f.nullable) or f.name in (identifier_fields or []),
                "type": conv(f.dataType),
            }
        )
    out = {"type": "struct", "schema-id": 0, "fields": fields}
    ids = [top[c] for c in identifier_fields or [] if c in top]
    if ids:
        out["identifier-field-ids"] = ids
    return out, counter["id"]


def iceberg_schema_to_spark(schema_json: dict) -> T.StructType:
    """The reverse walk, used by the independent read path."""

    def conv(t) -> T.DataType:
        if isinstance(t, str):
            if t.startswith("decimal"):
                p, s = t[t.index("(") + 1 : t.index(")")].split(",")
                return T.DecimalType(int(p), int(s))
            return {
                "long": T.LongType(),
                "int": T.IntegerType(),
                "string": T.StringType(),
                "double": T.DoubleType(),
                "float": T.FloatType(),
                "boolean": T.BooleanType(),
                "date": T.DateType(),
                "timestamptz": T.TimestampType(),
                "timestamp": T.TimestampNTZType(),
                "binary": T.BinaryType(),
                "uuid": T.StringType(),
            }[t]
        if t["type"] == "struct":
            return T.StructType(
                [
                    T.StructField(f["name"], conv(f["type"]), not f["required"])
                    for f in t["fields"]
                ]
            )
        if t["type"] == "list":
            return T.ArrayType(conv(t["element"]), not t["element-required"])
        if t["type"] == "map":
            return T.MapType(
                conv(t["key"]), conv(t["value"]), not t["value-required"]
            )
        raise ValueError(f"unknown iceberg type {t!r}")

    return conv(schema_json)


# --------------------------------------------------- manifest avro schemas


def _opt(t) -> list:
    return ["null", t]


def _field(name: str, ftype, field_id: int, default_null: bool = False) -> dict:
    f = {"name": name, "type": ftype, "field-id": field_id}
    if default_null:
        f["default"] = None
    return f


MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        _field("manifest_path", "string", 500),
        _field("manifest_length", "long", 501),
        _field("partition_spec_id", "int", 502),
        _field("content", "int", 517),
        _field("sequence_number", "long", 515),
        _field("min_sequence_number", "long", 516),
        _field("added_snapshot_id", "long", 503),
        _field("added_files_count", "int", 504),
        _field("existing_files_count", "int", 505),
        _field("deleted_files_count", "int", 506),
        _field("added_rows_count", "long", 512),
        _field("existing_rows_count", "long", 513),
        _field("deleted_rows_count", "long", 514),
    ],
}


def manifest_entry_schema(
    partition_fields: list[dict] | None = None,
    with_first_row_id: bool = False,
    with_dv_fields: bool = False,
) -> dict:
    """v2/v3 manifest_entry Avro schema.  ``partition_fields`` are the r102
    fields for a partitioned spec (empty record when unpartitioned);
    ``with_first_row_id`` adds the v3 row-lineage field (each data file's
    explicit starting ``_row_id`` — readers derive
    ``_row_id = first_row_id + position`` for rows without a materialized
    value, spec: Row Lineage); ``with_dv_fields`` adds the v3
    deletion-vector fields (spec data_file ids 143-145: the referenced
    data file plus the blob's offset/length inside the puffin file)."""
    data_file_fields = [
        _field("content", "int", 134),
        _field("file_path", "string", 100),
        _field("file_format", "string", 101),
        _field(
            "partition",
            {"type": "record", "name": "r102", "fields": partition_fields or []},
            102,
        ),
        _field("record_count", "long", 103),
        _field("file_size_in_bytes", "long", 104),
        # equality-delete files name their key columns by schema field id
        _field(
            "equality_ids",
            _opt({"type": "array", "items": "int", "element-id": 136}),
            135,
            default_null=True,
        ),
    ]
    if with_first_row_id:
        data_file_fields.append(
            _field("first_row_id", _opt("long"), 142, default_null=True)
        )
    if with_dv_fields:
        data_file_fields += [
            _field("referenced_data_file", _opt("string"), 143,
                   default_null=True),
            _field("content_offset", _opt("long"), 144, default_null=True),
            _field("content_size_in_bytes", _opt("long"), 145,
                   default_null=True),
        ]
    data_file = {
        "type": "record",
        "name": "r2",
        "fields": data_file_fields,
    }
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            _field("status", "int", 0),
            _field("snapshot_id", _opt("long"), 1, default_null=True),
            _field("sequence_number", _opt("long"), 3, default_null=True),
            _field("file_sequence_number", _opt("long"), 4, default_null=True),
            _field("data_file", data_file, 2),
        ],
    }


# Iceberg-reserved field ids for position-delete files (spec: Position
# Delete Files)
_POS_DELETE_PATH_ID = 2147483546
_POS_DELETE_POS_ID = 2147483545


def _pa_field(name: str, pa_type, field_id: int):
    import pyarrow as pa

    return pa.field(
        name, pa_type, metadata={b"PARQUET:field_id": str(field_id).encode()}
    )


def _rewrite_position_delete(src_path: str, name_to_abs: dict, out_path: str) -> int:
    """Engine position-delete parquet (file_name basename, pos) → Iceberg
    position-delete parquet (file_path abs, pos) with the spec's reserved
    field ids, sorted by (file_path, pos) as the spec requires.  Returns
    the row count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(src_path)
    names = t.column("file_name").to_pylist()
    pos = t.column("pos").to_pylist()
    rows = sorted(
        (name_to_abs[n], p) for n, p in zip(names, pos) if n in name_to_abs
    )
    schema = pa.schema(
        [
            _pa_field("file_path", pa.string(), _POS_DELETE_PATH_ID),
            _pa_field("pos", pa.int64(), _POS_DELETE_POS_ID),
        ]
    )
    out = pa.Table.from_arrays(
        [pa.array([r[0] for r in rows]), pa.array([r[1] for r in rows])],
        schema=schema,
    )
    pq.write_table(out, out_path)
    return len(rows)


def _rewrite_equality_delete(
    src_path: str, out_path: str, schema_json: dict, cols: list[str]
) -> int:
    """Engine equality-delete parquet (key tuples) → the same rows with
    Iceberg schema field ids attached, so an external reader can resolve
    ``equality_ids`` against the table schema.  Returns the row count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids = {f["name"]: f["id"] for f in schema_json["fields"]}
    t = pq.read_table(src_path, columns=cols)
    schema = pa.schema(
        [_pa_field(c, t.schema.field(c).type, ids[c]) for c in t.column_names]
    )
    out = pa.Table.from_arrays([t.column(c) for c in t.column_names], schema=schema)
    pq.write_table(out, out_path)
    return t.num_rows


# ------------------------------------------- partition transforms (export)

def _days_since_epoch(iso: str) -> int:
    import datetime as _dt

    return (_dt.date.fromisoformat(iso) - _dt.date(1970, 1, 1)).days


_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
# a path's URI scheme and leading slashes, stripped before paths compare
_SCHEME_PREFIX = "^([a-zA-Z]+:)?/+"


def _export_partition_field(pf, src: dict, field_id: int):
    """One engine PartitionField → its faithful Iceberg spec form.

    Returns ``(spec_field_json, avro_type, conv)`` where ``conv`` maps the
    engine's path-encoded partition value (what ``DataFile.partition``
    holds) to the spec's typed partition value:

    - identity: value as-is (int/long/string; date → days since epoch)
    - year:  engine stores the calendar year → years since 1970
    - month: engine "yyyy-MM" → months since 1970-01
    - day:   engine "yyyy-MM-dd" → days since epoch (logical date)
    - hour:  engine "yyyy-MM-dd-HH" (UTC session) → hours since epoch
    - bucket: already the spec's murmur3 bucket ordinal (transforms.py)
    - truncate: width-multiple (numeric) / prefix (string), value as-is

    These are exact because the engine's path encodings are bijective with
    the spec values (pre-1970 values map to negatives via floor math).
    Raises ValueError for combinations the spec cannot express.
    """
    st, t = src["type"], pf.transform
    sid = src["id"]

    def _f(name, transform, avro, conv):
        return (
            {
                "name": name,
                "transform": transform,
                "source-id": sid,
                "field-id": field_id,
            },
            avro,
            conv,
        )

    if t == "identity":
        if st in ("int", "long", "string"):
            return _f(pf.source, "identity", st,
                      int if st in ("int", "long") else str)
        if st == "date":
            return _f(pf.source, "identity",
                      {"type": "int", "logicalType": "date"},
                      lambda v: _days_since_epoch(str(v)))
        raise ValueError(
            f"identity partition on {st!r} column not exportable"
        )
    if t in ("year", "month", "day", "hour"):
        if st not in ("date", "timestamp", "timestamptz"):
            raise ValueError(f"{t} transform on {st!r} not exportable")
        if t == "year":
            return _f(f"{pf.source}_year", "year", "int",
                      lambda v: int(v) - 1970)
        if t == "month":
            def _conv_month(v):
                y, m = str(v).split("-")
                return (int(y) - 1970) * 12 + int(m) - 1

            return _f(f"{pf.source}_month", "month", "int", _conv_month)
        if t == "day":
            return _f(f"{pf.source}_day", "day",
                      {"type": "int", "logicalType": "date"},
                      lambda v: _days_since_epoch(str(v)))

        def _conv_hour(v):
            d, hh = str(v).rsplit("-", 1)
            return _days_since_epoch(d) * 24 + int(hh)

        return _f(f"{pf.source}_hour", "hour", "int", _conv_hour)
    if t == "bucket":
        # transforms.py computes the spec's murmur3 bucket, so the path
        # value IS the Iceberg partition value
        return _f(f"{pf.source}_bucket", f"bucket[{pf.param}]", "int", int)
    if t == "truncate":
        if st in ("int", "long"):
            return _f(f"{pf.source}_trunc", f"truncate[{pf.param}]", st, int)
        if st == "string":
            return _f(f"{pf.source}_trunc", f"truncate[{pf.param}]",
                      "string", str)
        raise ValueError(f"truncate on {st!r} not exportable")
    raise ValueError(f"unknown transform {t!r}")


# ------------------------------------------------------------------ export


def export_iceberg_table(
    table: LakeTable,
    dest: str,
    degrade_partitions: bool = False,
    metadata=None,
) -> str:
    """Publish ``table``'s current snapshot as an Iceberg v2 table rooted at
    ``dest`` (metadata-only: data file paths point at the engine's parquet
    files in place, the same absolute-path model Iceberg itself uses).

    Re-publishing to the same ``dest`` is INCREMENTAL, mirroring Iceberg's
    own commit history: the new metadata file (``v{N+1}.metadata.json``)
    carries the previous snapshots (their manifest lists are immutable on
    disk), appends one new snapshot at the next sequence number, records
    the superseded metadata file in ``metadata-log``, and bumps
    ``version-hint.text`` last — so an external reader mid-publish still
    loads a complete table, and time travel across publishes works.
    Returns the path of the written metadata file.

    Partition specs export FAITHFULLY, including transforms: the engine's
    bucket is Iceberg's murmur3 bucket and the temporal/truncate path
    encodings convert 1:1 to spec values (``_export_partition_field``),
    so external partition pruning works on published tables.  Spec-id
    LINEAGE is kept across publishes: a changed field set appends a new
    spec-id (prior specs stay listed), and each manifest is stamped with
    the spec its entries were written under.  Files laid out under an
    older engine spec export in a separate manifest under an
    UNPARTITIONED spec id — always scanned, never wrongly pruned.
    ``degrade_partitions=True`` remains an escape hatch for the rare
    spec the converter refuses (e.g. truncate on a decimal): such tables
    export unpartitioned, contents exact, with the true engine layout
    recorded in the ``engine.partition-spec`` table property."""
    # ``metadata`` lets the per-commit catalog hook export a CANDIDATE
    # table state whose version-hint has not been swung yet (the commit
    # point is then the catalog CAS, not the hint replace) — the
    # candidate's manifest file is already on disk when the hook runs
    meta = metadata if metadata is not None else table.metadata()
    files, deletes = table._manifest_entry(meta)
    schema_json, last_col = spark_schema_to_iceberg(
        meta.schema, meta.identifier_fields
    )

    # ---- format version: v3 when the engine table tracks row lineage, so
    # the export carries next-row-id + per-file first_row_id and external
    # readers can derive _row_id.  Spec constraint: v3 tables may not
    # contain position-delete FILES (v3 replaced them with deletion
    # vectors) — live engine position deletes therefore convert to
    # puffin deletion-vector-v1 blobs at publish (puffin.py), one DV per
    # referenced data file, exactly as the spec requires.  v2 exports
    # keep them as position-delete parquet.
    v3_engine = False
    try:
        v3_engine = int(meta.properties.get("format-version", "2")) >= 3
    except (TypeError, ValueError):
        pass
    lineage_export = v3_engine and all(
        f.first_row_id is not None for f in files
    )
    fmt = 3 if lineage_export else 2

    degraded_spec = ""
    part_spec = list(meta.partition_spec)
    if degrade_partitions and any(
        pf.transform != "identity" for pf in part_spec
    ):
        degraded_spec = ", ".join(
            pf.source
            if pf.transform == "identity"
            else (
                f"{pf.transform}({pf.param}, {pf.source})"
                if pf.param is not None
                else f"{pf.transform}({pf.source})"
            )
            for pf in part_spec
        )
        part_spec = []

    meta_dir = os.path.join(dest, "metadata")
    os.makedirs(meta_dir, exist_ok=True)

    # ---- incremental publish: load the previous export, if any
    prev_doc, prev_version = None, 0
    hint_path = os.path.join(meta_dir, "version-hint.text")
    if os.path.exists(hint_path):
        with open(hint_path) as fh:
            prev_version = int(fh.read().strip())
        with open(os.path.join(meta_dir, f"v{prev_version}.metadata.json")) as fh:
            prev_doc = json.load(fh)

    if prev_doc and prev_doc["format-version"] == 3:
        fmt = 3  # format version never downgrades

    # ---- partition-spec lineage: reuse field ids for (source, transform)
    # pairs any prior spec assigned (Iceberg forbids re-numbering); a field
    # set never seen before appends a NEW spec-id, prior specs stay listed
    # so older manifests keep meaning under external time travel
    prev_specs = list(prev_doc.get("partition-specs", [])) if prev_doc else []
    known_pfield_ids: dict[tuple, int] = {}
    last_partition_id = 999
    for s in prev_specs:
        for fld in s["fields"]:
            known_pfield_ids[(fld["source-id"], fld["transform"])] = fld["field-id"]
            last_partition_id = max(last_partition_id, fld["field-id"])

    spec_fields_json: list[dict] = []
    part_avro_fields: list[dict] = []
    part_readers: list[tuple[str, str, object]] = []  # (engine key, name, conv)
    for pf in part_spec:
        src = next(
            (f for f in schema_json["fields"] if f["name"] == pf.source), None
        )
        if src is None:
            raise ValueError(
                f"partition source column {pf.source!r} not in schema"
            )
        # probe the transform first (its ValueError lists the reason),
        # then commit a field id
        try:
            probe, _, _ = _export_partition_field(pf, src, 0)
        except ValueError as e:
            raise ValueError(
                f"{e} (degrade_partitions=True exports unpartitioned)"
            ) from None
        key = (src["id"], probe["transform"])
        if key in known_pfield_ids:
            fid = known_pfield_ids[key]
        else:
            last_partition_id += 1
            fid = last_partition_id
            known_pfield_ids[key] = fid
        fld_json, avro_type, conv = _export_partition_field(pf, src, fid)
        spec_fields_json.append(fld_json)
        part_avro_fields.append(
            _field(fld_json["name"], _opt(avro_type), fid, default_null=True)
        )
        part_readers.append((pf.name, fld_json["name"], conv))

    def _resolve_spec_id(fields: list[dict]) -> int:
        for s in prev_specs:
            if s["fields"] == fields:
                return s["spec-id"]
        sid = max((s["spec-id"] for s in prev_specs), default=-1) + 1
        prev_specs.append({"spec-id": sid, "fields": fields})
        return sid

    cur_spec_id = _resolve_spec_id(spec_fields_json)

    now_ms = int(time.time() * 1000)
    commit_uuid = uuidlib.uuid4().hex
    prev_snapshots = list(prev_doc["snapshots"]) if prev_doc else []
    snapshot_id = max(
        int(meta.current_snapshot_id or 1),
        max((s["snapshot-id"] for s in prev_snapshots), default=0) + 1,
    )
    # append-only when every previously live file is still live; otherwise
    # the snapshot logically replaces the table contents
    prev_seq_by_path: dict[str, int] = {}
    prev_snap_by_path: dict[str, int] = {}
    prev_delete_by_path: dict[str, dict] = {}
    prev_dv_entries: dict[str, list[dict]] = {}
    if prev_snapshots:
        _, prev_manifests, _ = read_container(prev_snapshots[-1]["manifest-list"])
        for m in prev_manifests:
            _, prev_entries, _ = read_container(m["manifest_path"])
            for e in prev_entries:
                if e["status"] == 2:  # DELETED
                    continue
                p = e["data_file"]["file_path"]
                if m.get("content", 0) == 0:
                    # explicit None checks: sequence number 0 is legal
                    # (v1->v2 upgrades assign it) and must not be coerced
                    es = e.get("sequence_number")
                    prev_seq_by_path[p] = es if es is not None else 1
                    sid0 = e.get("snapshot_id")
                    prev_snap_by_path[p] = sid0 if sid0 is not None else snapshot_id
                elif (
                    e["data_file"].get("file_format") or ""
                ).upper() == "PUFFIN":
                    # deletion vectors: several entries (one per referenced
                    # data file) share one puffin file_path
                    prev_dv_entries.setdefault(p, []).append(e)
                else:
                    prev_delete_by_path[p] = e

    # ---- merge-on-read delete files export with the data: the engine's
    # sequence ordering (delete applies to strictly-older data) must be
    # preserved, so DISTINCT engine sequence numbers of everything exported
    # for the first time map to consecutive Iceberg sequence numbers after
    # the previous publish's last one.  Rewritten delete parquet names are
    # content-addressed (md5 of the engine file name) so a re-publish
    # detects carried delete files by path, like data files.
    data_dir = os.path.join(dest, "data")
    cur_paths = {os.path.abspath(f.path) for f in files}
    # v3: each engine vector entry becomes one puffin DV blob; everything
    # else exports as a rewritten parquet delete file, once per distinct
    # engine parquet (the vector entries of one commit share it).  The
    # puffin name hashes the SET of (engine parquet, data file) entries.
    dv_sources = [d for d in deletes if d.content == "position"] if fmt == 3 else []
    file_dels = list(
        {d.path: d for d in deletes if fmt != 3 or d.content != "position"}.values()
    )
    out_by_src = {
        d.path: os.path.abspath(
            os.path.join(
                data_dir,
                "deletes-"
                + hashlib.md5(os.path.basename(d.path).encode()).hexdigest()
                + ".parquet",
            )
        )
        for d in file_dels
    }
    puffin_path = None
    if dv_sources:
        dv_key = hashlib.md5(
            "|".join(
                sorted(
                    f"{os.path.basename(d.path)}>{os.path.basename(d.referenced_data_file)}"
                    for d in dv_sources
                )
            ).encode()
        ).hexdigest()
        puffin_path = os.path.abspath(
            os.path.join(data_dir, f"deletes-dv-{dv_key}.puffin")
        )
    dv_carried = puffin_path is not None and puffin_path in prev_dv_entries
    new_deletes = [
        (d, out_by_src[d.path])
        for d in file_dels
        if out_by_src[d.path] not in prev_delete_by_path
    ]
    prev_last_seq = prev_doc["last-sequence-number"] if prev_doc else 0
    new_engine_seqs = sorted(
        {f.seq for f in files if os.path.abspath(f.path) not in prev_seq_by_path}
        | {d.seq for d, _ in new_deletes}
        | ({d.seq for d in dv_sources} if dv_sources and not dv_carried else set())
    )
    seqmap = {
        es: prev_last_seq + i + 1 for i, es in enumerate(new_engine_seqs)
    }
    seq = prev_last_seq + max(1, len(new_engine_seqs))
    cur_delete_outs = set(out_by_src.values()) | (
        {puffin_path} if puffin_path else set()
    )
    operation = (
        "append"
        if set(prev_seq_by_path) <= cur_paths
        and set(prev_delete_by_path) | set(prev_dv_entries) <= cur_delete_outs
        else "overwrite"
    )

    # ---- schema-id lineage across publishes (Iceberg keeps every schema a
    # snapshot ever referenced): an unchanged schema reuses its id, an
    # evolved one appends at the next id.  Engine evolution is
    # union-by-name add + widen, so the pre-order fresh-id walk keeps all
    # previously assigned field ids stable.
    def _schema_key(s: dict) -> str:
        return json.dumps(
            {k: v for k, v in s.items() if k != "schema-id"}, sort_keys=True
        )

    prev_schemas = list(prev_doc["schemas"]) if prev_doc else []
    match = next(
        (s for s in prev_schemas if _schema_key(s) == _schema_key(schema_json)),
        None,
    )
    if match is not None:
        schema_id = match["schema-id"]
        schema_json = match  # manifests embed the id-consistent schema
        schemas = prev_schemas
    else:
        # Iceberg forbids reusing a field id for a DIFFERENT column: the
        # fresh pre-order id walk only stays stable under union-by-name
        # add + widen (the engine's own evolution rule).  A drop/rename/
        # reorder would silently alias old ids to new columns across
        # snapshots — refuse instead.
        def _ids(fields: list, acc: dict) -> dict:
            for f in fields:
                acc[f["id"]] = f["name"]
                t = f["type"]
                if isinstance(t, dict) and t.get("type") == "struct":
                    _ids(t["fields"], acc)
            return acc

        new_by_id = _ids(schema_json["fields"], {})
        for s in prev_schemas:
            for fid, fname in _ids(s["fields"], {}).items():
                other = new_by_id.get(fid)
                if other is not None and other != fname:
                    raise ValueError(
                        f"schema evolution reuses field id {fid} for "
                        f"{other!r} (was {fname!r}); only add/widen "
                        "evolution is exportable"
                    )
        schema_id = max((s["schema-id"] for s in prev_schemas), default=-1) + 1
        schema_json = dict(schema_json, **{"schema-id": schema_id})
        schemas = prev_schemas + [schema_json]

    # ---- manifests: carried-over files EXISTING with their original seq,
    # new files ADDED at the new seq (Iceberg manifest-entry semantics).
    # Files whose path layout matches the CURRENT spec get faithful typed
    # partition values; files written under an older engine spec (or with
    # unconvertible values) go to a separate manifest under an
    # UNPARTITIONED spec id — scanned by every query, never wrongly pruned.
    entry_schema = manifest_entry_schema(
        part_avro_fields, with_first_row_id=fmt == 3
    )
    # layout-versioning guards: partition values written under a DIFFERENT
    # bucket hash (table metadata lacks the murmur3 stamp) or temporal wall
    # clocks rendered in a non-UTC write timezone are not the Iceberg
    # transform values — exporting them as such would make external engines
    # prune wrongly.  Those files publish through the unpartitioned-spec
    # manifest instead (scanned by every query, never wrongly pruned).
    from .pruning import _tz_sensitive_fields, bucket_hash_trusted, table_write_tz

    force_degrade = (
        any(pf.transform == "bucket" for pf in part_spec)
        and not bucket_hash_trusted(meta)
    ) or (
        bool(_tz_sensitive_fields(meta)) and table_write_tz(meta) != "UTC"
    )
    entries: list[dict] = []
    degraded_entries: list[dict] = []
    n_added = added_rows = 0
    for f in files:
        p = os.path.abspath(f.path)
        carried = p in prev_seq_by_path
        if not carried:
            n_added += 1
            added_rows += int(f.rows)
        part_values: dict = {}
        faithful = not force_degrade
        for key, name, conv in part_readers if faithful else []:
            if key not in f.partition:
                faithful = False
                break
            raw = f.partition[key]
            if raw is None or raw == _HIVE_NULL:
                part_values[name] = None
                continue
            try:
                part_values[name] = conv(raw)
            except (ValueError, TypeError):
                faithful = False
                break
        data_file = {
            "content": 0,
            "file_path": p,
            "file_format": "PARQUET",
            "partition": part_values if faithful else {},
            "record_count": int(f.rows),
            "file_size_in_bytes": int(f.bytes or os.path.getsize(f.path)),
            "equality_ids": None,
        }
        if fmt == 3:
            # explicit per-file row-lineage base (spec: Row Lineage);
            # readers derive _row_id = first_row_id + position
            data_file["first_row_id"] = f.first_row_id
        entry = {
            "status": 0 if carried else 1,  # EXISTING / ADDED
            "snapshot_id": prev_snap_by_path.get(p, snapshot_id),
            "sequence_number": prev_seq_by_path.get(p, seqmap.get(f.seq, seq)),
            "file_sequence_number": prev_seq_by_path.get(p, seqmap.get(f.seq, seq)),
            "data_file": data_file,
        }
        (entries if faithful else degraded_entries).append(entry)

    # the unpartitioned spec id backs degraded-layout files and delete
    # manifests (delete files are table-global, not partition-scoped)
    if not spec_fields_json:
        unpart_spec_id = cur_spec_id
    elif degraded_entries or deletes:
        unpart_spec_id = _resolve_spec_id([])
    else:
        unpart_spec_id = None

    def _write_data_manifest(path, schema, ents, fields_json, spec_id):
        return write_container(
            path,
            schema,
            ents,
            metadata={
                "schema": json.dumps(schema_json),
                "schema-id": str(schema_id),
                "partition-spec": json.dumps(fields_json),
                "partition-spec-id": str(spec_id),
                "format-version": str(fmt),
                "content": "data",
            },
        )

    def _list_row(path, length, ents, spec_id, content=0):
        added = [e for e in ents if e["status"] == 1]
        return {
            "manifest_path": os.path.abspath(path),
            "manifest_length": length,
            "partition_spec_id": spec_id,
            "content": content,
            "sequence_number": seq,
            "min_sequence_number": min(
                (e["sequence_number"] for e in ents), default=seq
            ),
            "added_snapshot_id": snapshot_id,
            "added_files_count": len(added),
            "existing_files_count": len(ents) - len(added),
            "deleted_files_count": 0,
            "added_rows_count": sum(
                e["data_file"]["record_count"] for e in added
            ),
            "existing_rows_count": sum(
                e["data_file"]["record_count"] for e in ents
            )
            - sum(e["data_file"]["record_count"] for e in added),
            "deleted_rows_count": 0,
        }

    data_manifest_rows: list[dict] = []
    if entries or not degraded_entries:  # empty table still gets one
        manifest_path = os.path.join(meta_dir, f"{commit_uuid}-m0.avro")
        manifest_len = _write_data_manifest(
            manifest_path, entry_schema, entries, spec_fields_json, cur_spec_id
        )
        data_manifest_rows.append(
            _list_row(manifest_path, manifest_len, entries, cur_spec_id)
        )
    if degraded_entries:
        deg_path = os.path.join(meta_dir, f"{commit_uuid}-m2.avro")
        deg_len = _write_data_manifest(
            deg_path,
            manifest_entry_schema([], with_first_row_id=fmt == 3),
            degraded_entries,
            [],
            unpart_spec_id,
        )
        data_manifest_rows.append(
            _list_row(deg_path, deg_len, degraded_entries, unpart_spec_id)
        )

    # ---- delete manifest: rewrite engine delete parquet into spec form
    # (position: reserved field ids + abs paths + (path,pos) sort;
    # equality: schema field ids attached, equality_ids recorded)
    field_id_by_name = {f["name"]: f["id"] for f in schema_json["fields"]}
    name_to_abs = {os.path.basename(f.path): os.path.abspath(f.path) for f in files}
    delete_entries = []
    if deletes:
        os.makedirs(data_dir, exist_ok=True)
    new_delete_paths = {out for _, out in new_deletes}
    for d in file_dels:
        out_path = out_by_src[d.path]
        carried = out_path not in new_delete_paths
        if not carried:
            if d.content == "position":
                rows = _rewrite_position_delete(d.path, name_to_abs, out_path)
            else:
                rows = _rewrite_equality_delete(
                    d.path, out_path, schema_json, list(d.equality_cols)
                )
        else:
            rows = prev_delete_by_path[out_path]["data_file"]["record_count"]
        prev_e = prev_delete_by_path.get(out_path)
        prev_seq = prev_e.get("sequence_number") if prev_e else None
        dseq = prev_seq if prev_seq is not None else seqmap.get(d.seq, seq)
        prev_sid = prev_e.get("snapshot_id") if prev_e else None
        delete_entries.append(
            {
                "status": 0 if carried else 1,
                "snapshot_id": prev_sid if prev_sid is not None else snapshot_id,
                "sequence_number": dseq,
                "file_sequence_number": dseq,
                "data_file": {
                    "content": 1 if d.content == "position" else 2,
                    "file_path": out_path,
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": int(rows),
                    "file_size_in_bytes": int(os.path.getsize(out_path)),
                    "equality_ids": (
                        None
                        if d.content == "position"
                        else [field_id_by_name[c] for c in d.equality_cols]
                    ),
                },
            }
        )
    if dv_sources:
        # the engine keeps at most one vector per data file: each entry is
        # one deletion-vector-v1 blob, its positions a slice of its sorted
        # engine parquet (read one at a time), in one puffin file
        if dv_carried:
            delete_entries.extend(
                {**e, "status": 0} for e in prev_dv_entries[puffin_path]
            )
        else:
            from .puffin import write_puffin_dvs

            import numpy as _np
            import pyarrow.parquet as _pq

            ordered = sorted(dv_sources, key=lambda d: d.path)

            def _dv_blobs():
                path = names = pos_np = None
                for d in ordered:
                    if d.path != path:  # the engine writes it sorted, unique
                        path = d.path
                        t = _pq.read_table(path, columns=["file_name", "pos"])
                        names = t.column("file_name").to_numpy(zero_copy_only=False)
                        pos_np = t.column("pos").to_numpy(zero_copy_only=False)
                    nm = os.path.basename(d.referenced_data_file)
                    lo, hi = (_np.searchsorted(names, nm, side) for side in ("left", "right"))
                    yield os.path.abspath(d.referenced_data_file), pos_np[lo:hi].tolist()

            descs = write_puffin_dvs(puffin_path, _dv_blobs())
            puffin_size = os.path.getsize(puffin_path)
            for d, desc in zip(ordered, descs):
                dseq = seqmap.get(d.seq, seq)
                delete_entries.append(
                    {
                        "status": 1,
                        "snapshot_id": snapshot_id,
                        "sequence_number": dseq,
                        "file_sequence_number": dseq,
                        "data_file": {
                            "content": 1,
                            "file_path": puffin_path,
                            "file_format": "PUFFIN",
                            "partition": {},
                            "record_count": int(desc["cardinality"]),
                            "file_size_in_bytes": int(puffin_size),
                            "equality_ids": None,
                            "referenced_data_file": desc["referenced"],
                            "content_offset": int(desc["offset"]),
                            "content_size_in_bytes": int(desc["length"]),
                        },
                    }
                )
    delete_manifest_row = None
    if delete_entries:
        dm_path = os.path.join(meta_dir, f"{commit_uuid}-m1.avro")
        # delete files are table-global (no partition scoping) — written
        # under the unpartitioned spec with an empty partition struct
        dm_len = write_container(
            dm_path,
            manifest_entry_schema([], with_dv_fields=fmt == 3),
            delete_entries,
            metadata={
                "schema": json.dumps(schema_json),
                "schema-id": str(schema_id),
                "partition-spec": json.dumps([]),
                "partition-spec-id": str(unpart_spec_id),
                "format-version": str(fmt),
                "content": "deletes",
            },
        )
        delete_manifest_row = _list_row(
            dm_path, dm_len, delete_entries, unpart_spec_id, content=1
        )

    # ---- manifest list
    list_path = os.path.join(
        meta_dir, f"snap-{snapshot_id}-1-{commit_uuid}.avro"
    )
    total_rows = sum(int(f.rows) for f in files)
    write_container(
        list_path,
        MANIFEST_LIST_SCHEMA,
        data_manifest_rows
        + ([delete_manifest_row] if delete_manifest_row else []),
        metadata={"format-version": str(fmt)},
    )

    # ---- table metadata (TableMetadataV2 required fields)
    # ascending identity sort order on the table's declared sort columns
    # (the reference's key-ascending write order, JsonSchemaConverter.java:262-280)
    field_ids = {f["name"]: f["id"] for f in schema_json["fields"]}
    sort_fields = [
        {
            "transform": "identity",
            "source-id": field_ids[c],
            "direction": "asc",
            "null-order": "nulls-first",
        }
        for c in meta.sort_order
        if c in field_ids
    ]
    new_snapshot = {
        "snapshot-id": snapshot_id,
        "sequence-number": seq,
        "timestamp-ms": now_ms,
        "summary": {
            "operation": operation,
            "added-data-files": str(n_added),
            "added-records": str(added_rows),
            "total-records": str(total_rows),
            "total-data-files": str(len(files)),
            "total-delete-files": str(len(delete_entries)),
        },
        "manifest-list": os.path.abspath(list_path),
        "schema-id": schema_id,
    }
    if fmt == 3:
        # v3 row lineage: the snapshot's starting row id (min over files
        # it added; falls back to the table's next-row-id for no-op
        # publishes) and the table-wide next-row-id counter
        added_frids = [
            e["data_file"].get("first_row_id")
            for e in entries + degraded_entries
            if e["status"] == 1
            and e["data_file"].get("first_row_id") is not None
        ]
        new_snapshot["first-row-id"] = (
            min(added_frids) if added_frids else meta.next_row_id
        )
    snapshot_log = (list(prev_doc["snapshot-log"]) if prev_doc else []) + [
        {"timestamp-ms": now_ms, "snapshot-id": snapshot_id}
    ]
    metadata_log = list(prev_doc["metadata-log"]) if prev_doc else []
    if prev_doc:
        metadata_log.append(
            {
                "timestamp-ms": prev_doc["last-updated-ms"],
                "metadata-file": os.path.join(
                    meta_dir, f"v{prev_version}.metadata.json"
                ),
            }
        )
    doc = {
        "format-version": fmt,
        "table-uuid": (
            prev_doc["table-uuid"]
            if prev_doc
            else meta.table_uuid or str(uuidlib.uuid4())
        ),
        "location": os.path.abspath(dest),
        "last-sequence-number": seq,
        "last-updated-ms": now_ms,
        "last-column-id": max(
            last_col, prev_doc["last-column-id"] if prev_doc else 0
        ),
        "current-schema-id": schema_id,
        "schemas": schemas,
        "default-spec-id": cur_spec_id,
        "partition-specs": prev_specs,
        "last-partition-id": last_partition_id,
        **({"next-row-id": meta.next_row_id} if fmt == 3 else {}),
        "default-sort-order-id": 1 if sort_fields else 0,
        "sort-orders": (
            [{"order-id": 1, "fields": sort_fields}]
            if sort_fields
            else [{"order-id": 0, "fields": []}]
        ),
        "properties": dict(
            meta.properties,
            **({"engine.partition-spec": degraded_spec} if degraded_spec else {}),
        ),
        "current-snapshot-id": snapshot_id,
        "refs": {"main": {"snapshot-id": snapshot_id, "type": "branch"}},
        "snapshots": prev_snapshots + [new_snapshot],
        "snapshot-log": snapshot_log,
        "metadata-log": metadata_log,
    }
    version = prev_version + 1
    md_path = os.path.join(meta_dir, f"v{version}.metadata.json")
    # O_EXCL: two concurrent publishes race for the same version number —
    # the loser fails loudly instead of clobbering (same optimistic
    # protocol as the engine's own metadata commits)
    fd = os.open(md_path, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
    with os.fdopen(fd, "w") as fh:
        json.dump(doc, fh, indent=1)
    # hint write is last: readers mid-publish load the previous complete
    # version (Iceberg's version-hint protocol)
    tmp = os.path.join(meta_dir, f".hint.{commit_uuid}.tmp")
    with open(tmp, "w") as fh:
        fh.write(str(version))
    os.replace(tmp, hint_path)
    return md_path


# ------------------------------------------------------- independent read


def plan_iceberg_scan(
    location: str | None,
    snapshot_id: int | None = None,
    partition_filter: dict | None = None,
    metadata_file: str | None = None,
) -> dict:
    """Walk an Iceberg table's standard metadata — version-hint →
    vN.metadata.json → snapshot's manifest list → manifests — and return
    the planned scan: live data files, delete files, the snapshot's
    schema, and how many files partition pruning eliminated.

    ``partition_filter`` maps PARTITION FIELD NAMES (as in the table's
    partition spec, e.g. ``o_orderdate_month`` or ``o_custkey_bucket``)
    to a wanted value or list of values.  Pruning follows the spec's
    model: each manifest is interpreted under ITS OWN spec id
    (``partition-specs`` lineage), a file is pruned only when the spec
    declares the field AND the entry carries a non-null value that
    mismatches — absent fields and null values conservatively keep the
    file.  This is the pruner external engines run against exported
    metadata, so tests can assert published partition values actually
    eliminate files.

    ``metadata_file`` reads a SPECIFIC metadata JSON instead of
    resolving ``version-hint.text`` — the catalog-resolution path: an
    engine loading a table through a catalog reads exactly the file the
    catalog's ``metadata-location`` points at (which may lag the
    filesystem's hint between publishes), never the hint."""
    if metadata_file is not None:
        with open(metadata_file) as fh:
            doc = json.load(fh)
    else:
        meta_dir = os.path.join(location, "metadata")
        with open(os.path.join(meta_dir, "version-hint.text")) as fh:
            version = int(fh.read().strip())
        with open(os.path.join(meta_dir, f"v{version}.metadata.json")) as fh:
            doc = json.load(fh)
    if doc["format-version"] not in (1, 2, 3):
        raise ValueError(f"unsupported format-version {doc['format-version']}")
    want = snapshot_id if snapshot_id is not None else doc["current-snapshot-id"]
    snap = next(s for s in doc["snapshots"] if s["snapshot-id"] == want)
    # time travel reads with the schema the snapshot was committed under
    want_schema = snap.get("schema-id", doc["current-schema-id"])
    schema_json = next(
        s for s in doc["schemas"] if s["schema-id"] == want_schema
    )
    spec_by_id = {
        s["spec-id"]: s["fields"] for s in doc.get("partition-specs", [])
    }

    def _wanted(vals) -> set:
        return set(vals) if isinstance(vals, (list, tuple, set)) else {vals}

    _, manifests, _ = read_container(snap["manifest-list"])
    data_files: list[tuple[str, int, int | None]] = []  # (path, seq, first_row_id)
    pos_deletes: list[tuple[str, int]] = []     # (path, delete sequence)
    eq_deletes: list[tuple[str, int, list[int]]] = []
    # v3 deletion vectors: (puffin path, content_offset,
    # content_size_in_bytes, referenced_data_file, delete sequence)
    dv_deletes: list[tuple[str, int, int, str, int]] = []
    pruned = 0
    for m in manifests:
        spec_fields = spec_by_id.get(m.get("partition_spec_id"), [])
        spec_names = {f["name"] for f in spec_fields}
        _, entries, _ = read_container(m["manifest_path"])
        for e in entries:
            if e["status"] not in (0, 1):  # 2 = DELETED
                continue
            df_rec = e["data_file"]
            # explicit None checks: sequence number 0 is a legal value
            # (v1->v2 upgraded files) and must not fall through the chain
            eseq = e.get("sequence_number")
            if eseq is None:
                eseq = m.get("sequence_number")
            if eseq is None:
                eseq = 1
            content = df_rec.get("content", 0)
            if content == 0:
                if partition_filter:
                    part = df_rec.get("partition") or {}
                    skip = False
                    for name, vals in partition_filter.items():
                        if name not in spec_names:
                            continue  # unknown under this spec: keep
                        v = part.get(name)
                        if v is not None and v not in _wanted(vals):
                            skip = True
                            break
                    if skip:
                        pruned += 1
                        continue
                data_files.append(
                    (df_rec["file_path"], eseq, df_rec.get("first_row_id"))
                )
            elif content == 1:
                if (df_rec.get("file_format") or "").upper() == "PUFFIN":
                    dv_deletes.append(
                        (
                            df_rec["file_path"],
                            df_rec["content_offset"],
                            df_rec["content_size_in_bytes"],
                            df_rec["referenced_data_file"],
                            eseq,
                        )
                    )
                else:
                    pos_deletes.append((df_rec["file_path"], eseq))
            elif content == 2:
                eq_deletes.append(
                    (df_rec["file_path"], eseq, df_rec.get("equality_ids") or [])
                )
    return {
        "doc": doc,
        "schema_json": schema_json,
        "data_files": data_files,
        "pos_deletes": pos_deletes,
        "eq_deletes": eq_deletes,
        "dv_deletes": dv_deletes,
        "pruned_files": pruned,
    }


def read_iceberg_table(
    spark: SparkSession,
    location: str | None,
    snapshot_id: int | None = None,
    partition_filter: dict | None = None,
    lineage: bool = False,
    metadata_file: str | None = None,
) -> DataFrame:
    """Read an Iceberg table by walking ONLY its standard metadata —
    version-hint → vN.metadata.json → snapshot's manifest list →
    manifests → live data files — the exact sequence any external Iceberg
    reader performs (HadoopTables model).  No engine-native manifest is
    touched, so a passing read proves the exported metadata is complete
    and self-consistent.  ``snapshot_id`` time-travels to a historical
    publish; ``partition_filter`` prunes files by exported partition
    values before any Spark job runs (see :func:`plan_iceberg_scan`).

    NOTE: ``partition_filter`` is FILE pruning, not a row filter — caller
    still applies the row predicate (exactly how engine pruning works).

    ``lineage=True`` (format-version 3 exports) attaches the spec's
    row-lineage columns: ``_row_id`` = a file's explicit ``first_row_id``
    + row position (a value materialized IN the parquet, as rewrites do,
    wins), ``_last_updated_sequence_number`` = the entry's data sequence
    unless materialized.

    ``metadata_file`` reads a specific metadata JSON instead of the
    version hint — see :func:`plan_iceberg_scan`; it is how
    catalog-resolved reads (``catalog_commit.read_table_by_name``) honor
    the catalog's ``metadata-location`` exactly."""
    plan = plan_iceberg_scan(
        location, snapshot_id, partition_filter, metadata_file=metadata_file
    )
    schema_json = plan["schema_json"]
    data_files = plan["data_files"]
    pos_deletes, eq_deletes = plan["pos_deletes"], plan["eq_deletes"]
    dv_deletes = plan.get("dv_deletes") or []
    spark_schema = iceberg_schema_to_spark(schema_json)
    if lineage and plan["doc"]["format-version"] < 3:
        raise ValueError("row lineage requires a format-version 3 export")
    read_schema = lineage_read_schema(spark_schema) if lineage else spark_schema
    if not data_files:
        return spark.createDataFrame([], read_schema)
    df = spark.read.schema(read_schema).parquet(
        *[p for p, _s, _r in data_files]
    )
    if not pos_deletes and not eq_deletes and not dv_deletes and not lineage:
        return df

    # delete application, spec semantics: position deletes name exact
    # (file_path, pos) rows; equality deletes remove key matches in data
    # files with a STRICTLY lower data sequence number.
    # _metadata.file_path is a URI ("file:/a/b" locally, "file:///a/b" or
    # "s3://bucket/a/b" elsewhere) and URI-ESCAPED ("a b" -> "a%20b", a
    # literal "%" -> "%25"); manifests and delete files record plain
    # paths.  So the URI side percent-DECODES unconditionally (it is
    # always encoded — decoding restores literal "%xx" sequences exactly
    # once) while the plain side must NOT decode: a warehouse dir
    # literally named "my%20dir" would otherwise decode to "my dir" on
    # one side only and every delete join would silently miss.
    def _norm_uri(col: F.Column) -> F.Column:
        raw = F.regexp_replace(col, _SCHEME_PREFIX, "")
        # try_url_decode is FORM decoding ('+' -> space), but URI paths
        # leave literal '+' unencoded — pre-escape it so a warehouse path
        # containing '+' round-trips instead of silently mismatching the
        # (undecoded) manifest side and dropping deletes/lineage rows
        esc = F.regexp_replace(raw, r"\+", "%2B")
        return F.concat(
            F.lit("/"),
            F.coalesce(F.call_function("try_url_decode", esc), raw),
        )

    def _norm(col: F.Column) -> F.Column:
        return F.concat(F.lit("/"), F.regexp_replace(col, _SCHEME_PREFIX, ""))

    def _norm_path(path: str) -> str:
        return "/" + re.sub(_SCHEME_PREFIX, "", path)

    df = df.withColumn(
        "_fpath", _norm_uri(F.col("_metadata.file_path"))
    ).withColumn("_pos", F.col("_metadata.row_index"))
    if pos_deletes:
        # alias + normalize the delete side: real Iceberg writers may record
        # URI-form paths, and a user column named "pos"/"file_path" must not
        # make the join condition ambiguous
        pd = (
            spark.read.schema("file_path string, pos long")
            .parquet(*[p for p, _ in pos_deletes])
            .select(
                _norm(F.col("file_path")).alias("_del_fp"),
                F.col("pos").alias("_del_pos"),
            )
        )
        df = df.join(
            F.broadcast(pd),
            (F.col("_fpath") == F.col("_del_fp"))
            & (F.col("_pos") == F.col("_del_pos")),
            "left_anti",
        )
    if dv_deletes:
        # v3 deletion vectors: each manifest entry names one puffin blob
        # (content_offset/content_size_in_bytes) for one data file.  Blobs
        # decode EXECUTOR-side — a DV's cardinality is bounded by its
        # file's row count, and the per-blob seek+read never touches the
        # driver — then apply exactly like position deletes.
        specs = spark.createDataFrame(
            [(p, int(o), int(ln), r) for p, o, ln, r, _s in dv_deletes],
            "puffin string, off long, len long, referenced string",
        ).repartition(max(1, min(len(dv_deletes), 64)))

        def _decode_dvs(batches):
            import pandas as _pd

            from debezium_server_iceberg_spark.lakehouse.puffin import (
                read_dv_positions,
            )

            for pdf in batches:
                for row in pdf.itertuples(index=False):
                    yield _pd.DataFrame(
                        {
                            "file_path": row.referenced,
                            "pos": read_dv_positions(
                                row.puffin, row.off, row.len
                            ),
                        }
                    )

        dv_pd = specs.mapInPandas(
            _decode_dvs, "file_path string, pos long"
        ).select(
            _norm(F.col("file_path")).alias("_del_fp"),
            F.col("pos").alias("_del_pos"),
        )
        df = df.join(
            F.broadcast(dv_pd),
            (F.col("_fpath") == F.col("_del_fp"))
            & (F.col("_pos") == F.col("_del_pos")),
            "left_anti",
        )
    if eq_deletes or lineage:
        # per-file data sequence and first row id by normalized path: one
        # folded literal map, not a side-table join
        per_file = file_lookup(
            F.col("_fpath"),
            {_norm_path(p): {"seq": seq, "frid": frid} for p, seq, frid in data_files},
            "struct<seq:bigint,frid:bigint>",
        )
        df = df.withColumn("_seq", per_file.seq).withColumn("_frid", per_file.frid)
    if eq_deletes:
        id_to_name = {f["id"]: f["name"] for f in schema_json["fields"]}
        # one anti-join per distinct key-column set, not per delete FILE:
        # all delete files sharing equality_ids read in a single multi-file
        # scan, each carrying its own sequence via a path->seq lookup
        by_ids: dict[tuple, list[tuple[str, int]]] = {}
        for path, dseq, ids in eq_deletes:
            by_ids.setdefault(tuple(ids), []).append((path, dseq))
        for ids, group in by_ids.items():
            cols = [id_to_name[i] for i in ids]
            key_schema = T.StructType(
                [f for f in spark_schema.fields if f.name in cols]
            )
            dels = (
                spark.read.schema(key_schema)
                .parquet(*[p for p, _ in group])
                .select(
                    *[F.col(c).alias(f"_d_{c}") for c in cols],
                    file_lookup(
                        _norm_uri(F.col("_metadata.file_path")),
                        {_norm_path(p): s for p, s in group},
                        "bigint",
                    ).alias("_dseq"),
                )
            )
            cond = F.col("_seq") < F.col("_dseq")
            for c in cols:
                cond = cond & (F.col(c) == F.col(f"_d_{c}"))
            df = df.join(F.broadcast(dels), cond, "left_anti")
    return (inherit_lineage(df) if lineage else df).select(*read_schema.fieldNames())


def java_avro_records(spark: SparkSession, path: str) -> list[str]:
    """Decode an Avro container with the REAL Apache Avro Java library on
    Spark's classpath (org.apache.avro 1.12 via py4j) — an independent,
    spec-authoritative validation of files written by ``avro_io``.
    Returns each record rendered as a JSON string by Avro itself."""
    jvm = spark._jvm
    reader = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(path), jvm.org.apache.avro.generic.GenericDatumReader()
    )
    out = []
    try:
        while reader.hasNext():
            out.append(str(reader.next()))
    finally:
        reader.close()
    return out
