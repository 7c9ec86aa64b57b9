"""Engine configuration model.

Mirrors the reference's three config groups (GlobalConfig.java:12-26,
IcebergConfig.java:17-133, DebeziumConfig.java:16-157, BatchConfig.java:11-40)
as plain dataclasses.  Property names keep the reference's spelling (kebab-case
in files, snake_case here) so a user of the reference can map their
``application.properties`` 1:1.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class IcebergSinkConfig:
    """Sink-side knobs (reference: IcebergConfig.java:17-133)."""

    # catalog / namespace
    warehouse: str = "/tmp/dbz_spark_warehouse"
    namespace: str = "debeziumevents"  # IcebergConfig.java default
    table_prefix: str = ""

    # write mode
    upsert: bool = True                       # IcebergConfig.java:35-36
    upsert_keep_deletes: bool = True          # soft-delete rows kept (:38-39)
    upsert_dedup_column: str = "__source_ts_ns"   # IcebergConfig.java:30-31
    upsert_op_column: str = "__op"

    # schema handling
    allow_field_addition: bool = True         # IcebergConfig.java:87-89
    create_identifier_fields: bool = True     # IcebergConfig.java:94-96
    preserve_required_property: bool = False  # IcebergConfig.java:98-100
    excluded_columns: list[str] = field(default_factory=list)  # :91-92
    nested_as_variant: bool = False           # IcebergConfig.java:102-104

    # table layout
    partition_by: dict[str, str] = field(default_factory=dict)
    """destination -> partition spec string, e.g. ``"year(ts), bucket(16, id)"``
    (reference per-table override IcebergConfig.java:114-132)."""
    write_format: str = "parquet"             # IcebergConfig.java:83-85
    target_file_size_bytes: int = 512 * 1024 * 1024
    format_version: int = 3                   # IcebergConfig.java:106-108

    # destination -> table name mapping (DefaultIcebergTableMapper.java:17-35)
    destination_regexp: str = ""
    destination_regexp_replace: str = ""
    destination_uppercase: bool = False
    destination_lowercase: bool = False

    # upsert execution strategy: "" derives from format_version exactly like
    # the reference's useDv = formatVersion > 2
    # (IcebergTableWriterFactory.java:97-108): v3 tables take the
    # merge-on-read path (with POSITION deletes — the deletion-vector
    # semantics — operators/merge.py's position sink), v2 copy-on-write.
    # Explicit "merge-on-read" / "copy-on-write" overrides.
    upsert_mode: str = ""

    # write-audit-publish staging (Iceberg's spark.wap.branch): commit every
    # batch onto this branch instead of main ("" = write to main).  The
    # branch auto-creates at the main head on first write.  Audit main vs
    # branch, then publish with table.fast_forward(branch) — or set
    # write_branch_autopublish to fast-forward right after each successful
    # batch (staging machinery exercised, zero audit gap).  Requires the
    # merge-on-read upsert path (copy-on-write rewrites are main-lineage
    # planners).
    write_branch: str = ""
    write_branch_autopublish: bool = False

    # maintenance: auto-compact a table every N commits to it (0 = off).
    # The reference only documents compaction as required upsert hygiene
    # (docs/faq.md:5-7); here it is part of the consumer loop.
    compact_every_commits: int = 0
    compact_min_input_files: int = 4
    # materialize (purge) equality-delete files once this many accumulate
    # on a table at the compaction checkpoint — bounds merge-on-read scan
    # overhead the same way the reference's documented compaction does
    rewrite_delete_files_min: int = 8
    # expire old snapshots (and GC their exclusive files) once a table
    # carries more than this many, keeping the newest N (0 = never expire —
    # full time-travel history retained)
    expire_keep_snapshots: int = 0
    # reclaim unreferenced data-dir files (crashed writers' staged output)
    # at the maintenance checkpoint, with this grace period in seconds so
    # in-flight writes are never touched (0 = disabled; Iceberg's
    # remove_orphan_files defaults to 3 days — CDC commits land in seconds,
    # so hours are plenty)
    remove_orphans_grace_seconds: float = 0.0

    # continuous Iceberg publication: after every N commits to a table
    # (snapshot-id distance, durable in a table property like the
    # compaction cadence), export it (incremental, metadata-only) and —
    # when publish_rest_uri is set — move the REST catalog forward via
    # the CommitTable CAS.  External engines then resolve CDC tables BY
    # NAME with a continuously fresh view, approximating the reference's
    # deployment where every commit IS a catalog commit
    # (IcebergChangeConsumer.java:100-102).  0 = off.
    publish_every_commits: int = 0
    publish_dest: str = ""                   # export root; table name appended
    publish_rest_uri: str = ""
    publish_rest_token: str = ""
    publish_rest_warehouse: str = ""
    # JDBC-catalog publication (the reference's jdbc catalog family,
    # testresources/CatalogJdbc.java; ``debezium.sink.iceberg.type=jdbc``):
    # jdbc:sqlite:<path> or a bare path — stdlib sqlite3 backend against
    # the public Iceberg JDBC catalog schema.  May be set alongside
    # publish_rest_uri (both catalogs move forward per publish).
    publish_jdbc_uri: str = ""
    publish_jdbc_catalog_name: str = "default"
    # Nessie-catalog publication (the reference's third catalog family,
    # testresources/CatalogNessie.java; ``catalog-impl=...NessieCatalog``):
    # the public REST API v2 root (http://host:19120/api/v2).  The table
    # becomes an ICEBERG_TABLE content committed on the branch
    # (publish_nessie_branch; empty = the server's default branch).
    # May be set alongside the other two uris.
    publish_nessie_uri: str = ""
    publish_nessie_branch: str = ""
    # 'cadence' (default): publish every publish_every_commits commits —
    # the catalog lags HEAD by at most N commits.  'per_commit': the
    # catalog row IS the commit point — every LakeTable commit exports
    # the candidate state and CASes the catalog pointer BEFORE the local
    # atomic point; a catalog conflict fails the engine commit
    # (lakehouse/catalog_commit.py — the reference's tables live in the
    # catalog, IcebergChangeConsumer.java:100-102).  Requires
    # publish_dest and exactly one catalog uri (jdbc preferred: its CAS
    # updates the row in place).
    publish_mode: str = "cadence"

    # OpenLineage emission (W16, IcebergTableOperator.java:242-285):
    # post-commit dataset metadata to a JSONL file and/or HTTP endpoint;
    # failures never fail the batch
    openlineage_enabled: bool = False
    openlineage_file: str = ""
    openlineage_url: str = ""


@dataclass
class DebeziumFormatConfig:
    """Source event format knobs (reference: DebeziumConfig.java:16-157)."""

    value_format: str = "json"        # json | connect (DebeziumConfig.java:118-125)
    schemas_enable: bool = True       # embedded {"schema":...,"payload":...} (:41-47)
    temporal_precision_mode: str = "isostring"  # connect|isostring|microseconds...
    decimal_handling_mode: str = "double"       # double | precise (:28-30)
    heartbeat_prefix: str = "__debezium-heartbeat"  # (:92-98)
    skip_heartbeat: bool = True
    # int64 columns forced to timestamptz (DebeziumConfig.java:18)
    ts_ms_columns: tuple[str, ...] = ("__ts_ms", "__source_ts_ms")

    def validate(self) -> None:
        # reference: DebeziumConfig.java:118-134 rejects other formats
        if self.value_format not in ("json", "connect"):
            raise ValueError(
                f"unsupported value format {self.value_format!r}; use json|connect"
            )
        if self.decimal_handling_mode not in ("double", "precise", "string"):
            raise ValueError(f"bad decimal mode {self.decimal_handling_mode!r}")


@dataclass
class BatchConfig:
    """Micro-batching knobs (reference: BatchConfig.java:11-40).

    In Spark these mostly translate to trigger interval +
    maxFilesPerTrigger / maxOffsetsPerTrigger; the reference's sleep-poll
    batch-growing strategy (MaxBatchSizeWait.java:41-68) is additionally
    available as ``batch_size_wait="max"`` — between micro-batches the
    consumer polls the source's pending estimate until a full batch has
    accumulated or ``max_wait_ms`` elapses (streaming/batchwait.py).
    """

    max_batch_size: int = 2048
    trigger_processing_time: str | None = None  # e.g. "30 seconds"
    concurrent_uploads: int = 1                 # per-table parallel commit (:32-38)
    upload_timeout_minutes: int = 60
    # batch-size wait strategy selection (IcebergChangeConsumer.java:103-105):
    # "none" -> NoBatchSizeWait; "max" -> MaxBatchSizeWait sleep-poll
    batch_size_wait: str = "none"
    batch_size_wait_max_wait_ms: int = 300_000   # BatchConfig.java:20-22
    batch_size_wait_interval_ms: int = 10_000    # BatchConfig.java:24-26


@dataclass
class EngineConfig:
    iceberg: IcebergSinkConfig = field(default_factory=IcebergSinkConfig)
    debezium: DebeziumFormatConfig = field(default_factory=DebeziumFormatConfig)
    batch: BatchConfig = field(default_factory=BatchConfig)

    def validate(self) -> "EngineConfig":
        self.debezium.validate()
        if self.iceberg.publish_every_commits and not self.iceberg.publish_dest:
            raise ValueError(
                "publish_every_commits requires publish_dest (the export root "
                "the cadence writes Iceberg metadata under)"
            )
        if self.iceberg.publish_mode not in ("cadence", "per_commit"):
            raise ValueError(
                f"publish_mode must be 'cadence' or 'per_commit', got "
                f"{self.iceberg.publish_mode!r}"
            )
        if self.iceberg.publish_mode == "per_commit":
            if not self.iceberg.publish_dest:
                raise ValueError(
                    "publish_mode=per_commit requires publish_dest (the "
                    "export root each commit's Iceberg metadata lands under)"
                )
            if not (
                self.iceberg.publish_jdbc_uri
                or self.iceberg.publish_rest_uri
                or self.iceberg.publish_nessie_uri
            ):
                raise ValueError(
                    "publish_mode=per_commit requires a catalog to own the "
                    "commit point: set publish_jdbc_uri, publish_rest_uri "
                    "or publish_nessie_uri"
                )
        return self
