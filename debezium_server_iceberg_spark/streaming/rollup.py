"""Hypertable-style continuous aggregate (incremental rollup).

A rollup table (time bucket x dimensions -> additive aggregates) maintained
incrementally: each micro-batch is pre-aggregated to one row per touched
bucket, existing bucket rows for ONLY those buckets are read back (file
pruning via the lakehouse manifest), combined additively, and swapped in a
delta commit. Cost per batch scales with touched buckets, not table size —
the continuous-aggregate model TimescaleDB popularized, re-expressed on a
Spark lakehouse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..lakehouse import LakeCatalog, LakeTable
from ..lakehouse.pruning import affected_files, collect_keys, column_types


ROLLUP_SCHEMA = T.StructType(
    [
        T.StructField("bucket_start", T.TimestampType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("n", T.LongType(), True),
        T.StructField("sum_value", T.DoubleType(), True),
    ]
)


class ContinuousRollup:
    """Hourly (configurable) rollup of an event stream into a lakehouse
    table keyed by (bucket_start, event_type)."""

    def __init__(
        self,
        catalog: LakeCatalog,
        namespace: str = "rollups",
        table_name: str = "events_hourly",
        bucket: str = "1 hour",
    ) -> None:
        self.bucket = bucket
        self.table: LakeTable = catalog.load_or_create(
            namespace,
            table_name,
            schema=ROLLUP_SCHEMA,
            identifier_fields=["bucket_start", "event_type"],
        )

    def _batch_rollup(self, events: DataFrame) -> DataFrame:
        return (
            events.groupBy(
                F.window("ts", self.bucket)["start"].alias("bucket_start"),
                "event_type",
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("value").cast("double").alias("sum_value"),
            )
        )

    def update(self, events: DataFrame) -> None:
        """Fold one micro-batch into the rollup (additive merge).

        File-pruned: the touched bucket set (tiny — buckets in one
        micro-batch) is checked driver-side against every manifest file's
        (bucket_start, event_type) min/max bounds; only overlapping files
        are read, combined, and atomically swapped in a delta commit. Files
        for untouched buckets are never read OR rewritten, so cost per batch
        scales with touched buckets, not table size (the same planning model
        as the MERGE operator, operators/merge.py)."""
        spark = events.sparkSession
        keys = ["bucket_start", "event_type"]
        delta = self._batch_rollup(events).cache()
        try:
            types = column_types(ROLLUP_SCHEMA)
            touched = collect_keys(delta, {k: types[k] for k in keys})
            if not touched:
                return
            files = self.table.current_files()
            affected = affected_files(files, touched)
            if affected:
                current = self.table.scan_files(spark, affected)
                touched_df = F.broadcast(delta.select(*keys).dropDuplicates(keys))
                kept = current.join(touched_df, keys, "left_anti")
                combined = (
                    current.join(touched_df, keys, "left_semi")
                    .unionByName(delta)
                    .groupBy(*keys)
                    .agg(
                        F.sum("n").alias("n"),
                        F.sum("sum_value").alias("sum_value"),
                    )
                )
                new_data = kept.unionByName(combined)
            else:
                new_data = delta
            self.table.commit_delta(
                new_data,
                [f.path for f in affected],
                summary={
                    "operation_detail": "rollup-update",
                    "touched_buckets": len(touched),
                    "pruned_files": len(files) - len(affected),
                },
            )
        finally:
            delta.unpersist()

    def run_stream(self, events_stream: DataFrame, checkpoint: str):
        """Maintain the rollup continuously from a streaming source."""
        return (
            events_stream.writeStream.outputMode("update")
            .option("checkpointLocation", checkpoint)
            .foreachBatch(lambda df, epoch: self.update(df))
            .start()
        )

    def to_df(self, spark: SparkSession) -> DataFrame:
        return self.table.to_df(spark)
