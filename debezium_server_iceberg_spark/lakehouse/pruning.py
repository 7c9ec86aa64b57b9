"""The one pruning model: may this data file hold a value in ``[lo, hi]``?

Every driver-side planner (MERGE candidates, ``to_df(row_filter=,
partition_values=)``, equality-delete relevance, ``materialize_deletes``,
changelog scans, rollups) asks that of manifest entries, and answers it
here, keyed on the column's Spark type (Iceberg's typed column metrics).

- A value's *key* compares in its type's order: epoch micros for
  timestamps, ``Decimal`` for decimals, ``date`` for dates, the value
  itself for numbers, strings and booleans.  Manifests persist the
  *stored* form (:func:`encode` / :func:`decode`): exact decimal strings,
  ISO strings of the UTC instant (``timestamp``) or wall clock
  (``timestamp_ntz``), ISO dates.  A type without an order-preserving key
  (binary, nested, ...) keeps no bounds, and stored ones are ignored.
- A naive ``datetime`` follows PySpark's own rule (``toInternal``): a
  process-local instant on a ``timestamp`` column — what ``F.lit`` makes
  of it — and a wall clock on ``timestamp_ntz``.  Values collected from
  Spark (:func:`key_range_aggs`, :func:`collect_keys`) fetch ltz
  timestamps as epoch micros, so the process timezone never touches them.
- :func:`may_overlap` is the one range test; missing or undecodable stats
  keep the file.  :func:`delete_may_touch` (can this equality delete
  remove a row of these files?) is built on it.
- :func:`trusted_fields` / :func:`stamped_value` hold the partition trust
  rules: files of an older spec, null / hive-default values, bucket values
  of an unstamped (pre-murmur3) layout and temporal values rendered under
  a foreign write timezone are never compared.
"""

from __future__ import annotations

import bisect
import datetime as _dt
from decimal import Decimal, InvalidOperation
from typing import Any
from zoneinfo import ZoneInfo

from pyspark.sql import Column, DataFrame, functions as F, types as T

from .transforms import PartitionField

# layout-versioning table properties (see LakeTable.create)
BUCKET_HASH_PROP = "engine.bucket-hash"
BUCKET_HASH = "murmur3"          # Iceberg-spec bucket hash since r8
WRITE_TZ_PROP = "engine.write-timezone"

_HIVE_DEFAULT = "__HIVE_DEFAULT_PARTITION__"
_EPOCH = _dt.datetime(1970, 1, 1)
_LTZ, _NTZ = T.TimestampType(), T.TimestampNTZType()
_TIMESTAMPS = {"timestamp": _LTZ, "timestamp_ntz": _NTZ}

#: column type -> Python value to key (None: no key for that value); the
#: types absent here have no order-preserving key
_KEYS = {
    **dict.fromkeys(
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
        lambda v: v if type(v) is int else None,
    ),
    **dict.fromkeys(
        (T.FloatType, T.DoubleType),
        lambda v: float(v) if type(v) in (int, float) else None,
    ),
    # a float literal compares as double in Spark, not exactly
    T.DecimalType: lambda v: Decimal(v) if type(v) in (int, Decimal) else None,
    T.StringType: lambda v: v if isinstance(v, str) else None,
    T.BooleanType: lambda v: v if isinstance(v, bool) else None,
    T.DateType: lambda v: v if type(v) is _dt.date else None,
    # PySpark's own conversions; ntz takes naive wall clocks only
    T.TimestampType: lambda v: _LTZ.toInternal(v) if isinstance(v, _dt.datetime) else None,
    T.TimestampNTZType: lambda v: (
        _NTZ.toInternal(v) if isinstance(v, _dt.datetime) and v.tzinfo is None else None
    ),
}


def _iso_micros(s: str) -> int:
    return _NTZ.toInternal(_dt.datetime.fromisoformat(s))


#: column type -> stored string to key, for the types stored as strings
_DECODERS = {
    T.TimestampType: _iso_micros,
    T.TimestampNTZType: _iso_micros,
    T.DateType: _dt.date.fromisoformat,
    T.DecimalType: Decimal,
}


# ------------------------------------------------------------ typed values


def column_types(schema: T.StructType) -> dict[str, T.DataType]:
    return {f.name: f.dataType for f in schema.fields}


def key(v: Any, dt: T.DataType | None) -> Any:
    """The comparable key of Python value ``v`` in a column of type
    ``dt``, or None when it has none (the caller then cannot prune)."""
    to_key = _KEYS.get(type(dt))
    return None if to_key is None or v is None else to_key(v)


def _store(k: Any, dt: T.DataType) -> Any:
    """Key -> the JSON form manifests persist."""
    if type(dt) in (T.TimestampType, T.TimestampNTZType):
        wall = _EPOCH + _dt.timedelta(microseconds=k)
        return wall.isoformat(sep=" ", timespec="microseconds")
    if type(dt) is T.DateType:
        return k.isoformat()
    return str(k) if type(dt) is T.DecimalType else k


def encode(v: Any, dt: T.DataType | None) -> Any:
    """Python value -> stored bound (None: the type keeps no bounds)."""
    k = key(v, dt)
    return None if k is None else _store(k, dt)


def decode(s: Any, dt: T.DataType | None) -> Any:
    """Stored bound -> key; None for a missing or foreign stored value
    (e.g. the ``repr`` strings older manifests kept for binary columns)."""
    from_str = _DECODERS.get(type(dt))
    if from_str is None:
        return key(s, dt)
    try:
        return from_str(s) if isinstance(s, str) else None
    except (ValueError, InvalidOperation):
        return None


def _range(bounds: dict, col: str, dt: T.DataType | None) -> tuple | None:
    b = bounds.get(col)
    if not b:
        return None
    lo, hi = decode(b[0], dt), decode(b[1], dt)
    return None if lo is None or hi is None else (lo, hi)


def encode_ranges(ranges: dict[str, tuple], types: dict) -> dict[str, list]:
    """Key ranges -> the ``bounds`` map a manifest entry persists."""
    return {
        c: [_store(lo, types[c]), _store(hi, types[c])]
        for c, (lo, hi) in ranges.items()
    }


def _footer_keys(st, scale: int, dt: T.DataType) -> tuple:
    """A footer statistic's min and max as keys.  Decimals decode from the
    raw unscaled value (an int, or big-endian two's complement bytes):
    pyarrow reads no statistics of INT32/INT64-backed decimals."""
    if isinstance(dt, T.DecimalType):
        def unscaled(raw) -> Decimal:
            n = raw if isinstance(raw, int) else int.from_bytes(raw, "big", signed=True)
            return Decimal(f"{n}E-{scale}")

        return unscaled(st.min_raw), unscaled(st.max_raw)
    return key(st.min, dt), key(st.max, dt)


def footer_ranges(md, cols: dict) -> dict[str, tuple]:
    """Key ranges of the columns ``cols`` (name -> type) from a parquet
    footer (pyarrow ``FileMetaData``), over all row groups.  A column
    lacking statistics in any row group gets no range.  Raises when pyarrow
    cannot read a statistic's logical type — callers fall back to
    :func:`key_range_aggs`."""
    index = {md.schema.column(i).name: i for i in range(md.num_columns)}
    out = {}
    for c, dt in cols.items():
        ci = index.get(c)
        if ci is None:
            continue
        scale = md.schema.column(ci).scale
        lo = hi = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            a = b = None
            if st is not None and st.has_min_max:
                a, b = _footer_keys(st, scale, dt)
            if a is None or b is None:
                lo = None
                break
            lo = a if lo is None else min(lo, a)
            hi = b if hi is None else max(hi, b)
        if lo is not None:
            out[c] = (lo, hi)
    return out


def literal(v: Any, dt: T.DataType | None) -> Column:
    """``v`` as a Spark literal under the same rule as :func:`key`: a naive
    datetime is a wall clock on a ``timestamp_ntz`` column (``F.lit``
    alone would make it a process-local instant)."""
    s = encode(v, dt) if isinstance(dt, T.TimestampNTZType) else None
    return F.lit(v) if s is None else F.lit(s).cast(dt)


# ------------------------------------------------------------ one overlap test


def may_overlap(bounds: dict, ranges: dict[str, tuple], types: dict) -> bool:
    """May a file with stored ``bounds`` hold a row whose every column
    ``c`` of ``ranges`` lies in the key range ``ranges[c]``?  A column the
    file has no usable stats for cannot exclude it."""
    for c, (lo, hi) in ranges.items():
        r = _range(bounds, c, types.get(c))
        if r is not None and (r[1] < lo or r[0] > hi):
            return False
    return True


def delete_may_touch(d, files: list, types: dict) -> bool:
    """Can equality delete ``d`` remove a row of any of data ``files``?
    Only files older than the delete are subject to it; bounds decide the
    rest."""
    ranges = {c: r for c in d.equality_cols if (r := _range(d.bounds, c, types.get(c)))}
    return any(f.seq < d.seq and may_overlap(f.bounds, ranges, types) for f in files)


# ------------------------------------------------------------ one key-range aggregate


def _tz_free(c: str, dt: T.DataType) -> Column:
    """``c`` as a column whose collected Python value is tz-free: ltz
    timestamps as epoch micros (a collected datetime would be rendered in
    the process timezone)."""
    return F.unix_micros(F.col(c)) if isinstance(dt, T.TimestampType) else F.col(c)


def _collected_key(v: Any, dt: T.DataType) -> Any:
    return v if isinstance(dt, T.TimestampType) else key(v, dt)


def _ordered(cols: dict) -> dict:
    return {c: dt for c, dt in cols.items() if type(dt) in _KEYS}


def key_range_aggs(cols: dict) -> list[Column]:
    """Aggregate expressions of the min/max of the columns ``cols`` (name
    -> type), as ``_lo_<c>`` / ``_hi_<c>``, collected tz-free; read the
    result with :func:`key_ranges`."""
    out = []
    for c, dt in _ordered(cols).items():
        e = _tz_free(c, dt)
        out += [F.min(e).alias(f"_lo_{c}"), F.max(e).alias(f"_hi_{c}")]
    return out


def key_ranges(row, cols: dict) -> dict[str, tuple]:
    """The key ranges a :func:`key_range_aggs` result row holds (columns
    whose min/max is null, i.e. an empty or all-null input, are absent)."""
    out = {}
    for c, dt in _ordered(cols).items():
        lo = _collected_key(row[f"_lo_{c}"], dt)
        hi = _collected_key(row[f"_hi_{c}"], dt)
        if lo is not None and hi is not None:
            out[c] = (lo, hi)
    return out


def collect_keys(df: DataFrame, cols: dict) -> list[tuple]:
    """The distinct tuples of the columns ``cols`` (name -> type) of
    ``df`` in stored (manifest) form, collected tz-free (one Spark job)."""

    def stored(v, dt):
        k = _collected_key(v, dt)
        return None if k is None else _store(k, dt)

    rows = df.select(*[_tz_free(c, dt).alias(c) for c, dt in cols.items()]).distinct().collect()
    return [tuple(stored(r[c], dt) for c, dt in cols.items()) for r in rows]


def affected_files(files, touched_keys):
    """Which files MAY contain a touched ``(bucket_start, event_type)``
    rollup key, judged from per-file min/max bounds.  ``touched_keys`` are
    stored-form tuples (:func:`collect_keys`); both columns' stored forms
    (UTC ISO timestamp strings, strings) order like their values, so the
    comparison runs on them directly.

    The naive check is a Python double loop — O(files x touched keys),
    10^9 iterations at 10^5 files x 10^4 touched buckets. Here touched
    bucket values are grouped by event_type and sorted once; each file
    bisects the type range and then each candidate type's bucket list, so
    the cost is O(F * T_types * log T) with tiny constants (T_types is the
    number of DISTINCT event types in one micro-batch).

    A file whose bounds omit a dimension is conservatively kept whenever
    the remaining dimension matches (same semantics as the scalar check).
    """
    by_type: dict = {}
    for b, e in touched_keys:
        by_type.setdefault(e, []).append(b)
    if not by_type:
        return []
    for vals in by_type.values():
        vals.sort()
    types_sorted = sorted(by_type)
    all_buckets = sorted(b for vals in by_type.values() for b in vals)

    def _any_bucket_in(vals, bb) -> bool:
        if bb is None:
            return bool(vals)
        lo = bisect.bisect_left(vals, bb[0])
        return lo < len(vals) and vals[lo] <= bb[1]

    out = []
    for f in files:
        bb = f.bounds.get("bucket_start")
        be = f.bounds.get("event_type")
        if be is None:
            hit = _any_bucket_in(all_buckets, bb)
        else:
            lo = bisect.bisect_left(types_sorted, be[0])
            hi = bisect.bisect_right(types_sorted, be[1])
            hit = any(
                _any_bucket_in(by_type[types_sorted[i]], bb)
                for i in range(lo, hi)
            )
        if hit:
            out.append(f)
    return out


# ------------------------------------------------------------ partition trust rules


def bucket_hash_trusted(meta) -> bool:
    """True iff this table's bucket partition values are the current
    (Iceberg murmur3) hash — i.e. safe to recompute for pruning/export."""
    return meta.properties.get(BUCKET_HASH_PROP) == BUCKET_HASH


def table_write_tz(meta) -> str:
    """The timezone this table's temporal partition values render in."""
    return meta.properties.get(WRITE_TZ_PROP, "UTC")


def _tz_sensitive_fields(meta) -> list[PartitionField]:
    """Partition fields whose on-disk value depends on a timezone: temporal
    transforms (and identity) over an ltz timestamp source.  date and
    timestamp_ntz sources render the stored wall clock — tz-independent."""
    src = {f.name: f.dataType.simpleString() for f in meta.schema.fields}
    return [
        pf
        for pf in meta.partition_spec
        if src.get(pf.source) == "timestamp"
        and pf.transform in ("year", "month", "day", "hour", "identity")
    ]


def trusted_fields(meta, session_tz: str | None = None) -> list[PartitionField]:
    """The partition fields whose stamped values may be compared against
    values computed now: not bucket fields of an unstamped hash, and — when
    the values are computed by Spark expressions in ``session_tz`` — not
    tz-sensitive fields rendered in a different write timezone."""
    names = {f.name for f in meta.schema.fields}
    tz_unsafe = (
        {pf.name for pf in _tz_sensitive_fields(meta)}
        if session_tz is not None and session_tz != table_write_tz(meta)
        else set()
    )
    bucket_ok = bucket_hash_trusted(meta)
    return [
        pf
        for pf in meta.partition_spec
        if pf.source in names
        and pf.name not in tz_unsafe
        and (bucket_ok or pf.transform != "bucket")
    ]


def stamped_value(f, pf: PartitionField) -> str | None:
    """File ``f``'s path value for ``pf``, or None when it cannot be
    trusted: a file of an older spec lacks the field, and a null /
    hive-default value matches no computed one."""
    v = f.partition.get(pf.name)
    return None if v is None or v == _HIVE_DEFAULT else str(v)


def key_partition_agg(meta, session_tz: str) -> tuple[list[PartitionField], Column | None]:
    """The partition fields an upsert batch's partition tuples can prune
    files by, and the aggregate (``_parts``) collecting the batch's
    distinct tuples with the write path's own expressions.

    Only fields derived from identifier columns qualify: a key's partition
    value never changes, so a file of an untouched partition cannot hold
    it.  A field over a non-key column may differ between a row's old
    version and the incoming one (an update moving the row, a delete event
    with the column null), so pruning by it would miss the old row.
    Identity fields over timestamps drop out too: a collected timestamp
    neither renders like its path value nor, for ltz, in the table's
    zone."""
    src = {f.name: f.dataType.simpleString() for f in meta.schema.fields}
    fields = [
        pf
        for pf in trusted_fields(meta, session_tz)
        if pf.source in meta.identifier_fields
        and not (pf.transform == "identity" and src[pf.source].startswith("timestamp"))
    ]
    if not fields:
        return [], None
    cols = [pf.column(src[pf.source]).alias(pf.name) for pf in fields]
    return fields, F.collect_set(F.struct(*cols)).alias("_parts")


def prune_by_partition_tuples(files: list, fields: list[PartitionField], parts) -> list:
    """Keep the files whose ``fields`` tuple is one of ``parts`` (the
    :func:`key_partition_agg` result), or has a value that cannot be
    trusted."""
    touched = {tuple(str(p[pf.name]) for pf in fields) for p in parts}

    def keep(f) -> bool:
        have = tuple(stamped_value(f, pf) for pf in fields)
        return None in have or have in touched

    return [f for f in files if keep(f)]


def _tz_instant(v, session_tz: str):
    """Naive/aware datetime -> tz-aware instant, reading a naive value as a
    wall clock in ``session_tz``.  NotImplemented on DST-ambiguous /
    nonexistent wall clocks (the two engines may legally resolve those
    differently — keep the file) or unknown zones."""
    if v.tzinfo is not None:
        return v
    if session_tz == "UTC":
        return v.replace(tzinfo=_dt.timezone.utc)
    try:
        z = ZoneInfo(session_tz)
    except Exception:
        return NotImplemented
    a = v.replace(tzinfo=z, fold=0)
    if a.utcoffset() != v.replace(tzinfo=z, fold=1).utcoffset():
        return NotImplemented  # ambiguous (DST fall-back hour)
    if a.astimezone(_dt.timezone.utc).astimezone(z).replace(tzinfo=None) != v:
        return NotImplemented  # nonexistent (DST spring-forward gap)
    return a


def _table_wall_clock(v, session_tz: str, table_tz: str):
    """ltz-timestamp filter value -> the naive wall clock the WRITE path
    rendered into the partition path (table_tz), or NotImplemented."""
    if v.tzinfo is None and session_tz == table_tz:
        return v  # same zone both sides: wall clocks agree, no conversion
    inst = _tz_instant(v, session_tz)
    if inst is NotImplemented:
        return NotImplemented
    if table_tz == "UTC":
        return inst.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    try:
        return inst.astimezone(ZoneInfo(table_tz)).replace(tzinfo=None)
    except Exception:
        return NotImplemented


def _engine_partition_value(
    pf: PartitionField,
    v: Any,
    source_type: str,
    session_tz: str = "UTC",
    table_tz: str = "UTC",
):
    """The engine's path-encoded partition value for source value ``v``
    under transform ``pf`` — what ``DataFile.partition`` holds, so a
    filter value can be compared against manifests without reading data.
    Returns NotImplemented when the transform can't be evaluated for this
    value/type (caller keeps the file).

    ``session_tz`` is the zone a naive ltz datetime is read in (the
    planner passes instants, see :func:`_prune_files_by_filter`);
    ``table_tz`` is the zone the write path rendered temporal path values
    in (WRITE_TZ_PROP)."""
    t = pf.transform
    st = (source_type or "").lower()
    if t == "identity":
        # prune only for types whose str() provably equals Spark's path
        # encoding: ints, raw strings and decimals at the declared scale
        # ('7.00'); temporal encodings trim trailing zeros differently —
        # skip, bounds still prune.
        if st in ("int", "bigint", "smallint", "tinyint"):
            return int(v) if isinstance(v, int) and not isinstance(v, bool) \
                else NotImplemented
        if st == "string":
            return v if isinstance(v, str) else NotImplemented
        if st.startswith("decimal") and "(" in st:
            _p, s = (int(x) for x in st[st.index("(") + 1 : st.index(")")].split(","))
            try:
                return Decimal(v).quantize(Decimal(1).scaleb(-s))
            except Exception:
                return NotImplemented
        return NotImplemented
    if t == "bucket":
        from .murmur3 import (
            iceberg_bucket_py,
            murmur3_bytes,
            murmur3_decimal,
            murmur3_long,
            murmur3_utf8,
        )

        # dispatch on the DECLARED column type, not the filter value's
        # Python type: an int filter on a decimal column must hash the
        # unscaled bytes the write path hashed, or pruning drops the file
        if isinstance(v, bool):
            return NotImplemented
        if st in ("int", "bigint", "smallint", "tinyint"):
            if not isinstance(v, int):
                return NotImplemented
            h = murmur3_long(v)
        elif st == "string":
            if not isinstance(v, str):
                return NotImplemented
            h = murmur3_utf8(v)
        elif st == "binary":
            if not isinstance(v, (bytes, bytearray)):
                return NotImplemented
            h = murmur3_bytes(v)
        elif st in ("timestamp", "timestamp_ntz"):
            # epoch micros, as the write-path column expression hashed
            # them: of the INSTANT for ltz (a naive value read in
            # session_tz), of the wall clock itself for ntz
            if st == "timestamp" and isinstance(v, _dt.datetime):
                v = _tz_instant(v, session_tz)
            k = None if v is NotImplemented else key(v, _TIMESTAMPS[st])
            if k is None:
                return NotImplemented
            h = murmur3_long(k)
        elif st == "date":
            if isinstance(v, _dt.datetime) or not isinstance(v, _dt.date):
                return NotImplemented
            h = murmur3_long((v - _dt.date(1970, 1, 1)).days)
        elif st.startswith("decimal") and "(" in st:
            _p, s = (int(x) for x in st[st.index("(") + 1 : st.index(")")].split(","))
            try:
                h = murmur3_decimal(int(Decimal(v).scaleb(s)))
            except Exception:
                return NotImplemented
        else:
            return NotImplemented
        return iceberg_bucket_py(h, pf.param)
    # temporal transforms: path values are wall clocks — of the value
    # itself for date / timestamp_ntz sources, of the instant rendered in
    # the table's declared write timezone for ltz timestamps
    if t in ("year", "month", "day", "hour"):
        if isinstance(v, _dt.datetime):
            if st == "timestamp_ntz":
                if v.tzinfo is not None:
                    return NotImplemented
            else:
                v = _table_wall_clock(v, session_tz, table_tz)
                if v is NotImplemented:
                    return NotImplemented
        if not isinstance(v, (_dt.date, _dt.datetime)):
            return NotImplemented
        if t == "year":
            return v.year
        if t == "month":
            return f"{v.year:04d}-{v.month:02d}"
        if t == "day":
            return f"{v.year:04d}-{v.month:02d}-{v.day:02d}"
        hh = v.hour if isinstance(v, _dt.datetime) else 0
        return f"{v.year:04d}-{v.month:02d}-{v.day:02d}-{hh:02d}"
    if t == "truncate":
        if isinstance(v, str):
            return v[: pf.param]
        if isinstance(v, int) and not isinstance(v, bool):
            return (v // pf.param) * pf.param
        return NotImplemented
    return NotImplemented


def _partition_test(pf: PartitionField, want, st: str, table_tz: str):
    """A predicate on a file's stamped value for filter ``want`` (a scalar
    or an inclusive ``(lo, hi)``), or None when ``pf`` cannot prune it."""
    # ltz values arrive as instants; any other naive value is a wall clock
    # already, so it is read in the table's own zone (no conversion)
    if not isinstance(want, tuple):
        exp = _engine_partition_value(pf, want, st, table_tz, table_tz)
        return None if exp is NotImplemented else (lambda have: have == str(exp))
    if pf.transform == "bucket":
        return None  # not monotonic: a value range maps to no bucket range
    elo = _engine_partition_value(pf, want[0], st, table_tz, table_tz)
    ehi = _engine_partition_value(pf, want[1], st, table_tz, table_tz)
    if elo is NotImplemented or ehi is NotImplemented:
        return None
    # path values are raw strings: parse them as the transform's output
    # type (int for year / int truncate, Decimal for decimal identity)
    parse = type(elo)

    def test(have: str) -> bool:
        try:
            return elo <= parse(have) <= ehi
        except (ValueError, InvalidOperation):
            return True

    return test


def _instant(v):
    """A datetime as the UTC instant :func:`key` reads it as."""
    k = key(v, T.TimestampType())
    if k is None:
        return v
    return (_EPOCH + _dt.timedelta(microseconds=k)).replace(tzinfo=_dt.timezone.utc)


def _prune_files_by_filter(meta, files: list, row_filter: dict) -> list:
    """Driver-side Iceberg-planFiles pruning: keep a file only if every
    predicate MIGHT match it, judged from per-file column bounds and
    hidden-partition transform values.  Strictly conservative: missing
    bounds, untrusted partition values (:func:`trusted_fields`,
    :func:`stamped_value`) and untranslatable transform values all keep
    the file; correctness comes from the residual in-plan filter."""
    types = column_types(meta.schema)
    table_tz = table_write_tz(meta)
    by_source: dict[str, list[PartitionField]] = {}
    for pf in trusted_fields(meta):
        by_source.setdefault(pf.source, []).append(pf)
    ranges: dict[str, tuple] = {}
    tests = []
    for col, want in row_filter.items():
        lo, hi = want if isinstance(want, tuple) else (want, want)
        if lo is None or hi is None:
            continue  # null-bounded predicates: no pruning
        dt = types.get(col)
        klo, khi = key(lo, dt), key(hi, dt)
        if klo is not None and khi is not None:
            ranges[col] = (klo, khi)
        if isinstance(dt, T.TimestampType):
            # partition values see the instant key() reads a naive filter
            # value as (process-local, like the residual filter's literal)
            want = tuple(map(_instant, want)) if isinstance(want, tuple) else _instant(want)
        st = dt.simpleString() if dt is not None else ""
        for pf in by_source.get(col, []):
            test = _partition_test(pf, want, st, table_tz)
            if test is not None:
                tests.append((pf, test))

    def keep(f) -> bool:
        if not may_overlap(f.bounds, ranges, types):
            return False
        for pf, test in tests:
            have = stamped_value(f, pf)
            if have is not None and not test(have):
                return False
        return True

    return [f for f in files if keep(f)]


def _prune_files_by_partition_values(meta, files: list, partition_values: dict[str, set]) -> list:
    """Set-membership file pruning on stamped partition values (the
    ``to_df(partition_values=)`` planning primitive).  An unknown field
    name, an untrusted field (:func:`trusted_fields`) or an untrusted
    value (:func:`stamped_value`) keeps the file.  Values compare
    stringified — partition path values are raw strings."""
    by_name = {pf.name: pf for pf in trusted_fields(meta)}
    preds = [
        (by_name[name], {str(v) for v in allowed})
        for name, allowed in partition_values.items()
        if name in by_name
    ]

    def keep(f) -> bool:
        for pf, allowed in preds:
            have = stamped_value(f, pf)
            if have is not None and have not in allowed:
                return False
        return True

    return [f for f in files if keep(f)]
