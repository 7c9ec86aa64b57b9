"""CDC sink benchmark: Debezium change events through ``ChangeConsumer`` to
committed lakehouse tables, then read back.

    python3 cdcbench/run.py --workload upsert_steady --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json for why each exists):

- ``upsert_steady``: ``handle_batch`` of 2,000-event upsert batches on a
  table bootstrapped with 100k keys; merge-on-read position deletes,
  materialized every 8th batch.  After a warm-up cycle on a smaller
  throwaway table, the timed window is one whole maintenance
  cycle; after its 4th batch, point lookups and full-table aggregate
  scans apply the 4 delete files outstanding.
- ``append_fanout``: ``run_stream`` with ``maxFilesPerTrigger=1`` over
  pre-written files of 8 tables x ~50 inserts plus heartbeats; append mode;
  one table gains a column partway through.  Point lookups and four
  rounds of one aggregate scan per table follow the window.

Each run is one driver process with ``SPARK_GRAFT_CPUS`` = the CPUs this
process may use.  Inputs are generated from ``--seed`` before any clock
starts.  Every table the run writes is checked against a pure-Python replay
of the generated events; a mismatch fails the run.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps each
layer's entry points, prints the per-layer metrics and writes the spans to
``.cdcbench/results/``.  The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``; a fuller record of
the run (context, sample counts, tail percentiles, errors) is written next
to the spans.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = ("upsert_steady", "append_fanout")
# the end-to-end metrics reported to the caller; error_rate is always 0 on
# a passing run, so it travels as failed / attempted instead
END_TO_END = (
    "setup_s", "ingest_events_per_s", "batch_p50_ms", "batch_tail_ms",
    "jobs_per_batch", "point_read_p50_ms", "point_read_tail_ms",
    "scan_read_p50_ms", "bytes_per_live_row", "retained_mb",
)
JOB_FLOOR_SAMPLES = 15
DRIVER_MEMORY = "2g"


def _cpu_times() -> list[int] | None:
    """Aggregate CPU jiffies from /proc/stat (user .. steal), if readable."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def _steal_pct(t0, t1) -> float | None:
    """Share of CPU time the hypervisor gave to other guests between two
    ``_cpu_times`` readings — noise this run could not control."""
    if not t0 or not t1:
        return None
    d = [b - a for a, b in zip(t0, t1)]
    return 100.0 * d[7] / max(1, sum(d))


def _git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _session(work: str, cpus: int):
    from debezium_server_iceberg_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # spark-submit's own launcher JVM, which builds the driver command
        "SPARK_LAUNCHER_OPTS": jvm_opts,
        "TMPDIR": tmp,
    })
    # shuffle width follows the CPU count, not a dataset directory
    os.environ.pop("SPARK_GRAFT_SF_DIR", None)
    spark = get_spark(
        app_name="cdcbench",
        extra_conf={
            "spark.driver.extraJavaOptions": jvm_opts,
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _job_floor_ms(run) -> float:
    """Median wall time of a trivial one-task Spark SQL job (no Python
    worker involved, unlike an RDD action)."""
    df = run.spark.range(0, 1, 1, 1)
    xs = []
    for _ in range(JOB_FLOOR_SAMPLES):
        j0 = run.jobs()
        t = time.perf_counter()
        df.collect()
        xs.append((time.perf_counter() - t) * 1000)
        if run.jobs() - j0 != 1:
            raise RuntimeError("job-floor probe did not run exactly one job")
    return statistics.median(xs)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    load_start = os.getloadavg()[0]
    cpu_start = _cpu_times()

    # the engine must be built from this checkout's sources
    spec = importlib.util.find_spec("debezium_server_iceberg_spark")
    if spec is None or not os.path.abspath(spec.origin).startswith(ROOT + os.sep):
        print(f"cdcbench: no debezium_server_iceberg_spark package under {ROOT}",
              file=sys.stderr)
        return 2

    from cdcbench import workloads

    cpus = len(os.sched_getaffinity(0))
    out_dir = os.path.join(os.getcwd(), ".cdcbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    results = os.path.join(out_dir, "results")
    os.makedirs(work)
    os.makedirs(results, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    spark = None
    try:
        spark = _session(work, cpus)
        run = workloads.Run(spark, work, args.seed, args.seconds, bool(args.trace))
        run.phase("session", T_START)
        if args.workload == "append_fanout":
            setup_s = workloads.run_fanout(run, T_START)
        else:
            setup_s = workloads.run_upsert(run, T_START)
        e2e = run.metrics(setup_s)
        if run.tracer is not None:
            run.tracer.unpatch()
            run.job_floor_ms = _job_floor_ms(run)
            run.tracer.dump(os.path.join(results, f"{tag}.spans.jsonl"))
            reported = workloads.layer_metrics(run)
        else:
            reported = {k: e2e[k][:2] for k in END_TO_END}
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    correct = run.failed == 0
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cpus,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_start": load_start,
        "cpu_steal_pct": _steal_pct(cpu_start, _cpu_times()),
        "git_commit": _git_commit(),
        "gen_s": run.gen_s,
        "window_s": run.window_s,
        "window_batches": len(run.batch_ms),
        "phases_s": run.phases,
    }
    record = {
        "context": context,
        "end_to_end": {
            k: {"value": v, "unit": u, **(d or {})} for k, (v, u, d) in e2e.items()
        },
        "reported": {k: {"value": v, "unit": u} for k, (v, u) in reported.items()},
        "samples": {"batch_ms": run.batch_ms, "batch_jobs": run.batch_jobs,
                    "point_read_ms": run.point_ms, "scan_read_ms": run.scan_ms},
        "errors": run.errors,
    }
    with open(os.path.join(results, f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1)

    print("context " + json.dumps(context))
    for k, (v, u, d) in e2e.items():
        if d and k.endswith("_tail_ms"):
            d = {"n": d["n"], "percentile": round(d["tail_pct"], 1)}
        elif d and "tail_pct" in d:
            d = {"n": d["n"]}
        extra = "  (" + ", ".join(f"{a}={b}" for a, b in d.items()) + ")" if d else ""
        print(f"{k:24s} {v:14.4f} {u}{extra}")
    if args.trace:
        for k, (v, u) in reported.items():
            print(f"{k:36s} {v:14.4f} {u}")
    for e in run.errors:
        print(f"error: {e}", file=sys.stderr)
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in reported.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
