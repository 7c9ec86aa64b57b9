"""The benchmark workloads, each driven against ``ChangeConsumer`` and
``LakeTable`` in one driver process (closed loop, one client: the next
micro-batch goes out only after the previous one committed).

Window sizes are whole units fixed from ``--seconds`` by the nominal unit
costs below (measured on a 4-core x86 VM, ~20 ms Spark job floor),
so every run of a workload does identical work: the same number of
batches, and for ``upsert_steady`` the same number of maintenance cycles
(one delete materialization per ``MATERIALIZE_EVERY`` batches).
"""

from __future__ import annotations

import gc
import os
import random
import statistics
import time
from contextlib import nullcontext
from datetime import datetime

from . import gen
from .replay import (
    UpsertModel,
    checksum,
    replay_append,
    rendered,
    spark_checksum,
)
from .stats import summarize
from .trace import Tracer, self_costs

# engine default (IcebergSinkConfig.rewrite_delete_files_min): every merge
# adds one position-delete file, so every 8th batch materializes
MATERIALIZE_EVERY = 8

UPSERT_KEYS = 100_000
UPSERT_BATCH = 2_000
UPSERT_CYCLE_S = 25.0         # nominal seconds per cycle, its reads included
# each cycle's reads run after this many of its batches, so they apply
# half a cycle of outstanding position-delete files on every run
READ_AFTER = MATERIALIZE_EVERY // 2
# reads per cycle: each point read applies 4 delete files (~0.6 s on a
# 4-core VM), so a cycle keeps to 12, too few for a tail above p50 (see
# stats.py); each scan is also the whole-table correctness check
UPSERT_POINTS = 12            # point lookups
UPSERT_SCANS = 6              # full-table aggregate scans (the first one cold)
# traced runs: batches after the window for the tracing overhead, traced
# and untraced in ABBA order so a steady drift in batch latency cancels out
PROBES = 4

FANOUT_BATCH_S = 3.5          # nominal seconds per fan-out trigger
FANOUT_MIN_BATCHES = 4        # the schema evolution lands in window file 3
FANOUT_POINTS = 22            # point lookups (the fewest with a tail above p50)
# aggregate scans of every table, round-robin over the tables: one scan of
# a table this small (~150 ms) varies by a fifth, and a table's first scan
# after its writes runs slower, so a run takes the median of this many
# rounds
FANOUT_SCAN_ROUNDS = 4

# warm-up: throwaway tables, same code path.  On upsert_steady it is a
# whole maintenance cycle with reads mid-cycle: after a warm-up of two
# merges, the reads of a first timed cycle still ran a third slower than
# those of a second while the JIT caught up.  Table and cycle are smaller
# than the run's, to keep set-up short.
WARM_DEST = "bench.warmup.orders"
WARM_KEYS = 10_000
WARM_CYCLE = 4                # warm-up merges; its consumer materializes at 4
WARM_FILES = 1                # fan-out warm-up files
WARM_POINTS = 4
WARM_SCANS = 2

GC_ROUNDS = 3
GC_PAUSE_S = 0.2

NAMESPACE = "bench"


def _consumer(warehouse: str, **iceberg):
    from debezium_server_iceberg_spark.config import EngineConfig
    from debezium_server_iceberg_spark.streaming.consumer import ChangeConsumer

    cfg = EngineConfig()
    cfg.iceberg.warehouse = warehouse
    cfg.iceberg.namespace = NAMESPACE
    for k, v in iceberg.items():
        setattr(cfg.iceberg, k, v)
    return ChangeConsumer(cfg)


def _table_name(dest: str) -> str:
    from debezium_server_iceberg_spark.operators.mapper import map_destination

    return map_destination(dest)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
    return total


def _iso_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class Run:
    """State of one benchmark run: the Spark session, the work directory,
    samples, operation counts and (in traced runs) the tracer."""

    def __init__(self, spark, work: str, seed: int, seconds: int,
                 trace: bool) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.work = work
        self.seed = seed
        self.seconds = seconds
        #: in traced runs; off until the workload turns it on
        self.tracer = Tracer(self.jobs) if trace else None
        if self.tracer:
            self.tracer.enabled = False
        self.warehouse = os.path.join(work, "warehouse")
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.gen_s = 0.0
        self.window_s = None
        self.window_events = 0
        self.batch_ms: list[float] = []
        self.batch_jobs: list[int] = []
        self.point_ms: list[float] = []
        self.scan_ms: list[float] = []
        self.reads: list[dict] = []   # traced per-read records
        self.window_batches: set[int] = set()
        self.overhead_ms: dict[bool, list[float]] = {True: [], False: []}
        self.progress: list[dict] = []
        self.live_rows = 0
        self.table_bytes = 0
        self.retained_mb = None
        self.job_floor_ms = 0.0
        #: wall-clock seconds since process start at each phase boundary
        self.phases: dict[str, float] = {}

    # --------------------------------------------------------- bookkeeping

    def jobs(self) -> int:
        return int(self.sc._jsc.sc().dagScheduler().nextJobId())

    def phase(self, name: str, t_start: float) -> None:
        self.phases[name] = round(time.time() - t_start, 3)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)

    def gen_files(self, fn):
        t = time.perf_counter()
        out = fn()
        self.gen_s += time.perf_counter() - t
        return out

    @property
    def tracing(self) -> bool:
        return self.tracer is not None and self.tracer.enabled

    def _span(self, layer: str, name: str):
        return self.tracer.span(layer, name) if self.tracing else nullcontext()

    def measure_footprint(self, tables) -> None:
        """Heap in use after a full GC, and bytes on disk per live row,
        at the end of the window."""
        # drop Python-side handles first: a live py4j proxy keeps its JVM
        # object reachable
        gc.collect()
        jvm = self.spark._jvm
        for _ in range(GC_ROUNDS):
            # a pause lets Spark's ContextCleaner drop what the last
            # collection made unreachable before the next one
            jvm.java.lang.System.gc()
            time.sleep(GC_PAUSE_S)
        used = (
            jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
            .getHeapMemoryUsage().getUsed()
        )
        self.retained_mb = used / 2**20
        self.table_bytes = sum(_dir_bytes(t.location) for t in tables)

    # --------------------------------------------------------------- batches

    def upsert_batch(self, consumer, path: str, epoch: int, record: bool) -> None:
        from debezium_server_iceberg_spark.sources.debezium_json import (
            read_events_jsonl,
        )

        self.attempted += 1
        if self.tracing:
            self.tracer.batch = epoch
        j0 = self.jobs()
        t0 = time.perf_counter()
        try:
            with self._span("streaming.handle_batch", "handle_batch"):
                consumer.handle_batch(read_events_jsonl(self.spark, path), epoch)
        except Exception as e:  # counted; the final check then fails too
            self.fail(f"batch {epoch}: {e!r}")
            return
        dt = (time.perf_counter() - t0) * 1000
        dj = self.jobs() - j0
        if record:
            self.batch_ms.append(dt)
            self.batch_jobs.append(dj)

    # ----------------------------------------------------------------- reads

    def _read(self, kind: str, table, plan, execute):
        """Time one read: ``plan()`` builds the DataFrame (``to_df``),
        ``execute(df)`` runs it.  A traced run also records the read's
        jobs, the delete files outstanding and, for a point read, the files
        it touches."""
        self.attempted += 1
        tracing = self.tracing
        j0 = self.jobs() if tracing else 0
        t0 = time.perf_counter()
        with self._span("read", kind):
            with self._span("lakehouse.read_plan", "to_df"):
                df = plan()
            t1 = time.perf_counter()
            with self._span("lakehouse.read_exec", kind):
                out = execute(df)
        t2 = time.perf_counter()
        (self.point_ms if kind == "point" else self.scan_ms).append((t2 - t0) * 1000)
        if tracing:
            rec = {"kind": kind, "plan_ms": (t1 - t0) * 1000,
                   "exec_ms": (t2 - t1) * 1000, "jobs": self.jobs() - j0}
            with self.tracer.paused():
                rec["delete_files"] = len(table.current_deletes())
                if kind == "point":
                    rec["files"] = len(df.inputFiles())
            self.reads.append(rec)
        return out

    def point_read(self, table, key_col: str, key, expected, columns) -> None:
        """``to_df(row_filter={key_col: key}).collect()``, compared with the
        replay's row (or its absence)."""
        rows = self._read(
            "point", table,
            lambda: table.to_df(self.spark, row_filter={key_col: key}),
            lambda df: df.collect(),
        )
        got = [rendered(r.asDict(), columns) for r in rows]
        want = [] if expected is None else [rendered(expected, columns)]
        if got != want:
            self.fail(f"point read {table.location}#{key}: {got} != {want}")

    def scan_read(self, table, columns, expected) -> None:
        """Full-table aggregate scan: the row count and checksum of every
        row, compared with the replay's."""
        got = self._read(
            "scan", table,
            lambda: table.to_df(self.spark),
            lambda df: spark_checksum(df, columns),
        )
        if got != expected:
            self.fail(f"scan {table.location}: {got} != {expected}")

    # --------------------------------------------------------------- results

    def metrics(self, setup_s: float) -> dict:
        batch = summarize(self.batch_ms)
        point = summarize(self.point_ms)
        scan = summarize(self.scan_ms)
        return {
            "setup_s": (setup_s, "s", None),
            "ingest_events_per_s": (
                self.window_events / self.window_s, "events/s", None),
            "batch_p50_ms": (batch["p50"], "ms", batch),
            "batch_tail_ms": (batch["tail"], "ms", batch),
            "jobs_per_batch": (
                statistics.median(self.batch_jobs), "count",
                {"n": len(self.batch_jobs)}),
            "point_read_p50_ms": (point["p50"], "ms", point),
            "point_read_tail_ms": (point["tail"], "ms", point),
            "scan_read_p50_ms": (scan["p50"], "ms", scan),
            "bytes_per_live_row": (
                self.table_bytes / max(1, self.live_rows), "B/row", None),
            "retained_mb": (self.retained_mb, "MB", None),
            "error_rate": (
                self.failed / max(1, self.attempted), "ratio",
                {"failed": self.failed, "attempted": self.attempted}),
        }


# ======================================================== upsert_steady


def _upsert_files(run: Run, feed, n_batches: int, size: int, tag: str) -> list:
    """Bootstrap file plus ``n_batches`` upsert batches, as (path, events)."""
    out = []

    def make():
        evs = [feed.bootstrap()] + [feed.batch(size) for _ in range(n_batches)]
        for i, ev in enumerate(evs):
            p = os.path.join(run.work, f"{tag}-{i:04d}.jsonl")
            gen.write_jsonl(p, ev)
            out.append((p, ev))

    run.gen_files(make)
    return out


def _reads(run: Run, table, feed, model, dest, rng, points: int, scans: int) -> None:
    for k in feed.lookup_keys(rng, points):
        run.point_read(table, gen.ORDERS_KEY, k, model.get(dest, k),
                       gen.ORDERS_CHECK)
    for _ in range(scans):
        run.scan_read(table, gen.ORDERS_CHECK, model.checksum(dest))


def _warm_up_upsert(run: Run, feed, files) -> None:
    """Same code path as the run on a throwaway table: bootstrap, one
    maintenance cycle of merges ending in a delete materialization, and
    reads mid-cycle."""
    dest = feed.dest
    model = UpsertModel(gen.ORDERS_KEY, gen.ORDERS_CHECK)
    consumer = _consumer(run.warehouse, rewrite_delete_files_min=WARM_CYCLE)
    rng = random.Random(run.seed + 1)
    for epoch, (p, ev) in enumerate(files):
        run.upsert_batch(consumer, p, epoch, record=False)
        model.apply(ev)
        if epoch == WARM_CYCLE // 2:
            table = consumer.catalog.load_table(NAMESPACE, _table_name(dest))
            _reads(run, table, feed, model, dest, rng, WARM_POINTS, WARM_SCANS)
    # warm-up samples are not run samples
    run.point_ms.clear()
    run.scan_ms.clear()


def run_upsert(run: Run, t_start: float) -> float:
    """``upsert_steady``; returns set-up seconds.

    Timed window: whole maintenance cycles of 2,000-event batches, so it
    ends with no delete file outstanding.  In each cycle, after
    ``READ_AFTER`` batches, point lookups and scans meet ``READ_AFTER``
    outstanding delete files on every run; ingest throughput counts the
    batches' time, not the reads'.  A traced run adds ``PROBES`` batches
    after the window, alternately traced and untraced (see
    ``probe_traced``), to give the tracing overhead."""
    dest = gen.ORDERS_DEST
    cycles = max(1, round(run.seconds / UPSERT_CYCLE_S))
    n_window = cycles * MATERIALIZE_EVERY
    n_probe = PROBES if run.tracer else 0
    feed = gen.UpsertFeed(run.seed, UPSERT_KEYS, dest=dest)
    batches = _upsert_files(run, feed, n_window + n_probe, UPSERT_BATCH, "batch")
    warm_feed = gen.UpsertFeed(run.seed + 7919, WARM_KEYS, dest=WARM_DEST)
    warm = _upsert_files(run, warm_feed, WARM_CYCLE, UPSERT_BATCH, "warm")
    run.phase("generated", t_start)
    model = UpsertModel(gen.ORDERS_KEY, gen.ORDERS_CHECK)
    consumer = _consumer(run.warehouse)

    # ---- set-up: warm up on a throwaway table, then bootstrap 100k keys
    _warm_up_upsert(run, warm_feed, warm)
    run.phase("warmed_up", t_start)
    p, ev = batches[0]
    run.upsert_batch(consumer, p, 0, record=False)
    model.apply(ev)
    run.phase("bootstrapped", t_start)
    table = consumer.catalog.load_table(NAMESPACE, _table_name(dest))
    if run.tracer:
        install_probes(run)
        run.tracer.enabled = True

    # ---- timed window: whole maintenance cycles, reads mid-cycle
    setup_s = time.time() - t_start - run.gen_s
    rng = random.Random(run.seed + 2)
    t0 = time.perf_counter()
    read_s = 0.0
    for epoch in range(1, n_window + 1):
        p, ev = batches[epoch]
        run.window_batches.add(epoch)
        run.upsert_batch(consumer, p, epoch, record=True)
        model.apply(ev)
        run.window_events += len(ev)
        if epoch % MATERIALIZE_EVERY == READ_AFTER:
            t = time.perf_counter()
            _reads(run, table, feed, model, dest, rng, UPSERT_POINTS,
                   UPSERT_SCANS)
            read_s += time.perf_counter() - t
    run.window_s = time.perf_counter() - t0 - read_s
    run.phase("window_end", t_start)
    run.live_rows = model.checksum(dest)[0]
    run.measure_footprint([table])

    for i in range(n_probe):
        epoch = n_window + 1 + i
        p, ev = batches[epoch]
        run.tracer.enabled = probe_traced(i)
        t = time.perf_counter()
        run.upsert_batch(consumer, p, epoch, record=False)
        run.overhead_ms[probe_traced(i)].append((time.perf_counter() - t) * 1000)
        model.apply(ev)
    if run.tracer:
        run.tracer.enabled = False

    # ---- correctness: the whole table against the replay, after the
    # batches that followed the last reads
    got = spark_checksum(table.to_df(run.spark), gen.ORDERS_CHECK)
    run.attempted += 1
    if got != model.checksum(dest):
        run.fail(f"final table check: {got} != {model.checksum(dest)}")
    return setup_s


# ======================================================== append fan-out


def _timed_batches(run: Run, consumer_cls):
    """Record the job-id delta of every streaming micro-batch (and, in a
    traced run, open the batch span): the consumer's ``handle_batch`` is
    what ``foreachBatch`` calls."""
    orig = consumer_cls.handle_batch
    jobs: dict[int, int] = {}

    def handle_batch(self, raw, epoch_id=None):
        j0 = run.jobs()
        try:
            if run.tracer and epoch_id is not None:
                run.tracer.batch = epoch_id
                run.tracer.enabled = _traced_epoch(run, epoch_id)
                with run.tracer.span("streaming.handle_batch", "handle_batch"):
                    return orig(self, raw, epoch_id)
            return orig(self, raw, epoch_id)
        finally:
            jobs[epoch_id] = run.jobs() - j0

    consumer_cls.handle_batch = handle_batch
    return orig, jobs


def probe_traced(i: int) -> bool:
    """Whether overhead probe ``i`` (0-based) runs traced: ABBA order."""
    return i % 4 in (0, 3)


def _traced_epoch(run: Run, epoch: int) -> bool:
    """Window batches are traced; the probes after them follow
    ``probe_traced``; everything else runs untraced."""
    if epoch in run.window_batches:
        return True
    last = max(run.window_batches, default=0)
    return epoch > last and probe_traced(epoch - last - 1)


def run_fanout(run: Run, t_start: float) -> float:
    from debezium_server_iceberg_spark.streaming.consumer import ChangeConsumer

    n_window = max(FANOUT_MIN_BATCHES, round(run.seconds / FANOUT_BATCH_S))
    n_probe = PROBES if run.tracer else 0
    # file 0 is the lead-in batch (query start, first-batch costs); the
    # window is files 1..n_window; table t0 gains a column at window file 3
    feed = gen.FanoutFeed(run.seed, evolve_at=3)
    warm = gen.FanoutFeed(run.seed + 7919, evolve_at=1, prefix="bench.warmup")
    in_dir = os.path.join(run.work, "in")
    files: list[list] = []
    warm_files: list[list] = []

    def make():
        os.makedirs(in_dir)
        base = time.time() - 3600
        for i in range(1 + n_window + n_probe):
            ev = feed.file()
            files.append(ev)
            p = os.path.join(in_dir, f"part-{i:05d}.jsonl")
            gen.write_jsonl(p, ev)
            # the file source takes the oldest file first
            os.utime(p, (base + i, base + i))
        for i in range(WARM_FILES):
            ev = warm.file()
            warm_files.append(ev)
            gen.write_jsonl(os.path.join(run.work, f"warm-{i}.jsonl"), ev)

    run.gen_files(make)
    run.phase("generated", t_start)
    consumer = _consumer(run.warehouse, upsert=False)
    run.window_batches = set(range(1, n_window + 1))

    # ---- set-up: warm-up on throwaway tables, then the stream's lead-in
    from debezium_server_iceberg_spark.sources.debezium_json import (
        read_events_jsonl,
    )

    warm_consumer = _consumer(run.warehouse, upsert=False)
    for i in range(WARM_FILES):
        p = os.path.join(run.work, f"warm-{i}.jsonl")
        run.attempted += 1
        warm_consumer.handle_batch(read_events_jsonl(run.spark, p), i)
    _fanout_reads(run, warm_consumer, warm, warm_files, WARM_POINTS, 1)
    run.point_ms.clear()
    run.scan_ms.clear()
    run.phase("warmed_up", t_start)
    if run.tracer:
        install_probes(run)
        run.tracer.enabled = False
    orig, jobs = _timed_batches(run, ChangeConsumer)
    query = None
    try:
        query = consumer.run_stream(
            run.spark, in_dir, os.path.join(run.work, "checkpoint"),
            max_files_per_trigger=1,
        )
        query.processAllAvailable()
        progress = {}
        for p in query.recentProgress:
            if p["numInputRows"] > 0:
                progress[p["batchId"]] = p
    except Exception as e:
        run.attempted += 1
        run.fail(f"stream: {e!r}")
        raise
    finally:
        if query is not None:
            query.stop()
        ChangeConsumer.handle_batch = orig
        if run.tracer:
            run.tracer.enabled = False
    run.phase("stream_drained", t_start)
    run.progress = [progress[b] for b in sorted(progress)]
    run.attempted += len(files)
    for b in range(len(files)):
        if b not in progress:
            run.fail(f"batch {b} never committed")

    first = progress[1]
    last = progress[n_window]
    window_start = _iso_epoch(first["timestamp"])
    window_end = (
        _iso_epoch(last["timestamp"]) + last["durationMs"]["triggerExecution"] / 1000
    )
    setup_s = window_start - t_start - run.gen_s
    run.window_s = window_end - window_start
    run.window_events = sum(
        1 for b in range(1, n_window + 1) for d, _ in files[b]
        if not d.startswith(gen.HEARTBEAT_PREFIX)
    )
    for b in range(1, n_window + 1):
        run.batch_ms.append(progress[b]["durationMs"]["triggerExecution"])
        run.batch_jobs.append(jobs[b])
    for b in range(n_window + 1, len(files)):
        run.overhead_ms[probe_traced(b - n_window - 1)].append(
            progress[b]["durationMs"]["triggerExecution"])

    tables = [
        consumer.catalog.load_table(NAMESPACE, _table_name(d)) for d in feed.tables
    ]
    run.live_rows = sum(
        1 for f in files for d, _ in f if not d.startswith(gen.HEARTBEAT_PREFIX)
    )
    run.measure_footprint(tables)
    if run.tracer:
        run.tracer.enabled = True
    _fanout_reads(run, consumer, feed, files, FANOUT_POINTS, FANOUT_SCAN_ROUNDS)
    if run.tracer:
        run.tracer.enabled = False
    return setup_s


def _fanout_reads(run: Run, consumer, feed, files, points: int,
                  rounds: int) -> None:
    """Point lookups by id spread over the feed's tables, then ``rounds``
    rounds of one aggregate scan per table; each scan is also that table's
    correctness check against the replay."""
    expected = replay_append(ev for f in files for ev in f)
    by_id = {d: {r["id"]: r for r in rows} for d, rows in expected.items()}
    tables = {
        d: consumer.catalog.load_table(NAMESPACE, _table_name(d))
        for d in feed.tables
    }
    rng = random.Random(run.seed + 2)
    for i in range(points):
        d = feed.tables[i % len(feed.tables)]
        k = rng.randrange(1, feed.next_id[d])
        run.point_read(tables[d], "id", k, by_id[d].get(k), _fanout_columns(d, feed))
    scans = []
    for d, t in tables.items():
        cols = _fanout_columns(d, feed)
        scans.append((t, cols, checksum(expected.get(d, []), cols)))
    for _ in range(rounds):
        for scan in scans:
            run.scan_read(*scan)


def _fanout_columns(dest: str, feed) -> list:
    if dest == feed.tables[0] and feed.files > feed.evolve_at:
        return gen.FANOUT_CHECK + [(gen.FANOUT_EXTRA[0], "str")]
    return gen.FANOUT_CHECK


# ============================================================ tracing


def install_probes(run: Run) -> None:
    """Wrap each layer's public entry points (see trace.Tracer.patch)."""
    from debezium_server_iceberg_spark.lakehouse.catalog import LakeCatalog
    from debezium_server_iceberg_spark.lakehouse.table import LakeTable
    from debezium_server_iceberg_spark.streaming import consumer as cmod

    tr = run.tracer
    tr.patch(cmod, "destinations", "operators.route")
    tr.patch(cmod, "infer_batch_schema", "sources.infer")
    # driver-only code (no Spark job can start inside) skips job counting
    tr.patch(cmod, "merge_schemas", "schema.evolve", jobs=False)
    tr.patch(cmod, "schemas_equal", "schema.evolve", jobs=False)
    tr.patch(LakeTable, "update_schema", "schema.evolve")

    def live_files(args, kwargs):
        return len(args[0].current_files())

    def probe_ratio(rec, args, kwargs, out, n_files):
        rec["candidate_files"] = out.candidate_files
        rec["live_files"] = n_files

    tr.patch(cmod, "merge_into", "operators.merge", before=live_files,
             after=probe_ratio)
    tr.patch(LakeCatalog, "load_or_create", "lakehouse.catalog", jobs=False)

    def files_committed(rec, args, kwargs, out, ctx):
        s = args[0].metadata().snapshots[-1].summary
        rec["files"] = int(s.get("added_files", 0)) + int(
            s.get("added_delete_files", 0))

    tr.patch(LakeTable, "commit_row_delta", "lakehouse.commit", after=files_committed)
    tr.patch(LakeTable, "append", "lakehouse.commit", after=files_committed)

    def metadata_bytes(rec, args, kwargs, out, ctx):
        table = args[0]
        rec["bytes"] = os.path.getsize(
            os.path.join(table.meta_dir, f"v{out.version:05d}.metadata.json"))

    def manifest_bytes(rec, args, kwargs, out, ctx):
        table, meta = args[0], args[1]
        sid = args[2] if len(args) > 2 else kwargs.get("snapshot_id")
        sid = sid if sid is not None else meta.current_snapshot_id
        snap = next((s for s in meta.snapshots if s.snapshot_id == sid), None)
        rec["bytes"] = (
            os.path.getsize(os.path.join(table.meta_dir, snap.manifest))
            if snap else 0
        )

    tr.patch(LakeTable, "metadata", "lakehouse.metadata", after=metadata_bytes,
             jobs=False)
    tr.patch(LakeTable, "_manifest_entry", "lakehouse.metadata",
             after=manifest_bytes, jobs=False)
    tr.patch(cmod.ChangeConsumer, "_maybe_compact", "lakehouse.maintenance")
    tr.patch(LakeTable, "materialize_deletes", "lakehouse.maintenance")


def layer_metrics(run: Run) -> dict:
    """Per-layer figures of a traced run.

    A batch layer's ``*_ms`` / ``*_jobs`` is its self time / self jobs
    summed over the window's batches and divided by their number, so the
    layers add up to a batch, maintenance spikes included.  Evolutions and
    materializations are window totals.  Read figures are medians over the
    reads; streaming phases are medians over the window's query progress
    reports.  ``trace.overhead_ms`` is the median traced minus the median
    untraced batch latency of the probe pairs after the window."""
    spans = run.tracer.spans
    cost = self_costs(spans)
    roots = [
        s for s in spans
        if s["parent"] is None and s["layer"] == "streaming.handle_batch"
        and s["batch"] in run.window_batches
    ]
    n = max(1, len(roots))
    root_ids = {s["id"] for s in roots}
    in_batch = [s for s in spans if s["root"] in root_ids]

    def per_batch(layer: str, jobs: bool = False) -> float:
        tot = sum(cost[s["id"]][1 if jobs else 0] for s in in_batch
                  if s["layer"] == layer)
        return tot / n if jobs else tot * 1000 / n

    def count(layer: str, name: str | None = None) -> int:
        return sum(1 for s in in_batch if s["layer"] == layer
                   and (name is None or s["name"] == name))

    def med(xs, default=0.0):
        xs = list(xs)
        return statistics.median(xs) if xs else default

    merges = [s for s in in_batch if s["layer"] == "operators.merge"]
    commits = [s for s in in_batch if s["layer"] == "lakehouse.commit"]
    meta = [s for s in in_batch if s["layer"] == "lakehouse.metadata"]
    reads = run.reads
    points = [r for r in reads if r["kind"] == "point"]
    progress = [p for p in run.progress if p["batchId"] in run.window_batches]
    dm = [p["durationMs"] for p in progress]
    on, off = run.overhead_ms[True], run.overhead_ms[False]
    return {
        "session.job_floor_ms": (run.job_floor_ms, "ms"),
        "sources.infer_ms": (per_batch("sources.infer"), "ms"),
        "sources.infer_jobs": (per_batch("sources.infer", True), "count"),
        "operators.route_ms": (per_batch("operators.route"), "ms"),
        "operators.route_jobs": (per_batch("operators.route", True), "count"),
        "operators.merge_ms": (per_batch("operators.merge"), "ms"),
        "operators.merge_jobs": (per_batch("operators.merge", True), "count"),
        "operators.probe_file_ratio": (
            med(s["candidate_files"] / s["live_files"] for s in merges
                if s.get("live_files")), "ratio"),
        "schema.evolve_ms": (per_batch("schema.evolve"), "ms"),
        "schema.evolutions": (count("schema.evolve", "update_schema"), "count"),
        "lakehouse.catalog_ms": (per_batch("lakehouse.catalog"), "ms"),
        "lakehouse.commit_ms": (per_batch("lakehouse.commit"), "ms"),
        "lakehouse.commit_jobs": (per_batch("lakehouse.commit", True), "count"),
        "lakehouse.files_per_commit": (med(s.get("files", 0) for s in commits), "count"),
        "lakehouse.metadata_reads_per_batch": (len(meta) / n, "count"),
        "lakehouse.metadata_read_ms": (per_batch("lakehouse.metadata"), "ms"),
        "lakehouse.metadata_bytes": (sum(s.get("bytes", 0) for s in meta) / n, "B"),
        "lakehouse.maintenance_ms": (per_batch("lakehouse.maintenance"), "ms"),
        "lakehouse.maintenance_jobs": (per_batch("lakehouse.maintenance", True), "count"),
        "lakehouse.materializations": (
            count("lakehouse.maintenance", "materialize_deletes"), "count"),
        "lakehouse.delete_files_outstanding": (
            med(r["delete_files"] for r in reads), "count"),
        "lakehouse.read_plan_ms": (med(r["plan_ms"] for r in reads), "ms"),
        "lakehouse.read_exec_ms": (med(r["exec_ms"] for r in reads), "ms"),
        "lakehouse.read_jobs": (med(r["jobs"] for r in reads), "count"),
        "lakehouse.point_read_files": (med(r["files"] for r in points), "count"),
        "streaming.handle_batch_ms": (
            med((s["end"] - s["start"]) * 1000 for s in roots), "ms"),
        "streaming.trigger_overhead_ms": (
            med(d["triggerExecution"] - d.get("addBatch", 0) for d in dm), "ms"),
        "state.checkpoint_ms": (
            med(d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dm), "ms"),
        "trace.overhead_ms": (med(on) - med(off) if on and off else 0.0, "ms"),
    }
