"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable, Sequence

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

# ~128 MB of scanned input per shuffle partition — the classic sizing that
# keeps a partition's working set inside executor memory with headroom
_BYTES_PER_SHUFFLE_PARTITION = 128 << 20
# ceiling: far above any sane plan, protects against a pathological
# estimate creating millions of empty partitions
_MAX_SHUFFLE_PARTITIONS = 32768


def derive_shuffle_partitions(
    input_bytes: int,
    cpus: int,
    bytes_per_partition: int = _BYTES_PER_SHUFFLE_PARTITION,
    cap: int = _MAX_SHUFFLE_PARTITIONS,
) -> int:
    """Shuffle-partition count from data volume, not a constant.

    AQE coalesces too-MANY partitions at runtime for free, but it cannot
    split too-FEW (outside skew-join handling) — so the initial count must
    scale with input size: one partition per ~128 MB of input, never below
    the core count (full parallelism on small data), capped.  A 100 TB
    scan on a 1000-executor cluster derives the cap; a 100 MB test slice
    derives the core count — same code, both correct."""
    if input_bytes <= 0:
        return int(cpus)
    need = -(-int(input_bytes) // bytes_per_partition)
    return max(int(cpus), min(need, cap))


def estimate_dir_bytes(path: str) -> int:
    """Total bytes under ``path`` (driver-side os.walk; planning-scale)."""
    total = 0
    try:
        for root, _dirs, names in os.walk(path):
            for n in names:
                try:
                    total += os.path.getsize(os.path.join(root, n))
                except OSError:
                    pass
    except OSError:
        pass
    return total


def _default_driver_memory() -> str:
    """Size the local-mode JVM heap from the machine, not a constant.

    In ``local[N]`` the driver heap IS the executor heap: N concurrent
    task slots share it, so a fixed small default that is fine at sf0.1
    OOMs sort-heavy joins at sf1 (surfaced by q21 on the 10x slice).  A
    quarter of physical RAM (floor 8g, cap 48g) mirrors what a cluster
    deployment would give each executor JVM; explicit
    ``SPARK_DRIVER_MEMORY`` always wins."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    try:
        with open("/proc/meminfo") as fh:
            kb = int(fh.readline().split()[1])
        gb = max(8, min(48, kb // (4 * 1024 * 1024)))
        return f"{gb}g"
    except Exception:
        return "8g"


def get_spark(
    app_name: str = "debezium_server_iceberg_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # derive from the workload's data volume when it is knowable
        # (SPARK_GRAFT_SF_DIR names the input dataset); static CPU count
        # otherwise.  The derived value is also AQE's starting width
        # (initialPartitionNum defaults to it), so big inputs start wide
        # and AQE coalesces the small-SF case back down.  An inflated
        # blanket floor (2x cpus) was measured 9% slower at sf0.1 for no
        # scale benefit — the bytes derivation alone is the right knob.
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
        est = estimate_dir_bytes(sf_dir) if sf_dir else 0
        shuffle_partitions = derive_shuffle_partitions(est, cpus)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
        # INT96 (Spark's legacy default) carries no parquet min/max stats;
        # micros timestamps give the lakehouse manifest real bounds for
        # file pruning and are the modern interop encoding
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # driver testdata's events.ts is parquet timestamp[ns]; read as long
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # current testdata stores TIMESTAMP(MICROS, isAdjustedToUTC=false);
        # read it as plain TIMESTAMP, not TIMESTAMP_NTZ (NTZ rejects numeric
        # casts and diverges from the verified plans)
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", _default_driver_memory())
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def run_overlapped(
    fns: Sequence[Callable[[], Any]],
    workers: int,
    timeout: float | None = None,
    names: Sequence[str] | None = None,
) -> list:
    """Call each of ``fns`` (no arguments) and return their results in order.

    Independent Spark actions are only sequential because driver code
    calls them sequentially: with ``workers > 1`` and more than one call,
    they run on a thread pool so their per-job driver costs overlap.  Each
    worker runs under the caller's Spark local properties (job group,
    description, scheduler pool), so cancelling the caller's job group
    covers them.  Every call is drained before anything raises (none is
    still running when the caller sees the failure); the first failure in
    ``fns`` order is raised, carrying each later one as a note
    ``"<name> also failed: <repr>"`` (``names`` defaults to the callables'
    ``__name__``).  ``timeout`` bounds each wait in seconds.  With one
    worker or one call, the calls run in order on the caller's thread and
    the first failure stops them."""
    if workers <= 1 or len(fns) <= 1:
        return [fn() for fn in fns]
    names = names or [getattr(fn, "__name__", repr(fn)) for fn in fns]
    inherit = inheritable_thread_target(SparkSession.active())
    results: list = []
    errors: list[tuple[str, BaseException]] = []
    with ThreadPoolExecutor(max_workers=workers) as pool:
        futs = [pool.submit(inherit(fn)) for fn in fns]
        for name, fut in zip(names, futs):
            try:
                results.append(fut.result(timeout=timeout))
            except Exception as e:
                errors.append((name, e))
    if errors:
        first = errors[0][1]
        for name, e in errors[1:]:
            first.add_note(f"{name} also failed: {_describe(e)}")
        raise first
    return results


def _describe(e: BaseException) -> str:
    """``repr(e)``, plus the message's first line when the repr lacks it
    (a captured Spark exception's repr is a bare ``SparkRuntimeException()``)."""
    head = (str(e).strip().splitlines() or [""])[0]
    return repr(e) if head in repr(e) else f"{e!r}: {head}"
