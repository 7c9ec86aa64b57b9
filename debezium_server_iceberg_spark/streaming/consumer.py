"""The change consumer: CDC micro-batches -> lakehouse tables.

Spark-first re-expression of IcebergChangeConsumer.handleBatch
(IcebergChangeConsumer.java:134-307):

reference                                   here
---------                                   ----
groupingBy(destination)         :142-154 -> destinations(): one distinct
                                             probe per batch (sorted dests +
                                             their schema texts), then a
                                             per-dest filter per write
heartbeat skip                  :186-189 -> filter_heartbeats
table mapper                    :409-411 -> map_destination
load/create table               :316-389 -> LakeCatalog.load_or_create
schema evolution                :136-151 -> merge_schemas + update_schema
dedup (upsert)                  :58-125  -> dedup_batch (window row_number)
append / delta write            :205-249 -> LakeTable.append / merge_into
parallel per-table commit       :206-307 -> session.run_overlapped over
                                             dests (concurrent_uploads
                                             workers): all drained, first
                                             failure re-raised so the
                                             micro-batch fails (no offset
                                             advance -> no data loss)
offset store (exactly-once)     :163-170 -> Structured Streaming checkpoint
                                             (commits only after foreachBatch
                                             returns — T3) + the epoch stamp
                                             guard (epoch_already_applied)
batch-size wait                 T2       -> trigger(processingTime=...)
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import EngineConfig
from ..functions.incremental import epoch_already_applied
from ..lakehouse import LakeCatalog, parse_partition_spec
from ..operators.dedup import assert_no_null_keys, dedup_batch
from ..operators.mapper import map_destination
from ..operators.merge import merge_into
from ..operators.project import conform_to_schema
from ..operators.router import (
    SchemaPair,
    destinations,
    filter_heartbeats,
    for_destination,
)
from ..schema.converter import DebeziumSchemaConverter
from ..schema.evolution import merge_schemas, schemas_equal
from ..session import run_overlapped
from ..sources.debezium_json import (
    infer_batch_schema,
    infer_event_schema,
    parse_events,
    read_events_stream,
)


@dataclass
class BatchResult:
    tables_written: dict[str, int] = field(default_factory=dict)  # table -> rows
    skipped_heartbeats: bool = False


class ChangeConsumer:
    def __init__(self, config: EngineConfig | None = None) -> None:
        self.config = (config or EngineConfig()).validate()
        ic = self.config.iceberg
        dz = self.config.debezium
        self.catalog = LakeCatalog(ic.warehouse)
        self.converter = DebeziumSchemaConverter(
            excluded_columns=ic.excluded_columns,
            preserve_required_property=ic.preserve_required_property,
            decimal_handling_mode=dz.decimal_handling_mode,
            ts_ms_columns=dz.ts_ms_columns,
            create_identifier_fields=ic.create_identifier_fields,
            nested_as_variant=ic.nested_as_variant,
        )
        self.lineage = None
        if ic.openlineage_enabled:
            from .lineage import OpenLineageEmitter

            self.lineage = OpenLineageEmitter(
                dataset_namespace=ic.namespace,
                file_path=ic.openlineage_file,
                url=ic.openlineage_url,
            )
        # injectable catalog transports for the publication cadence
        # (tests replay recorded fixtures; production None = stdlib
        # urllib)
        self.rest_transport = None
        self.nessie_transport = None
        # publish_mode=per_commit state: one CatalogCommitHook per table
        # (keeps its last-published pointer across micro-batches, so
        # foreign catalog moves between our commits fail the CAS), plus
        # the shared catalog client, built lazily
        self._commit_hooks: dict = {}
        self._publish_client = None

    # ------------------------------------------------------------ batch path

    def handle_batch(self, raw: DataFrame, epoch_id: int | None = None) -> BatchResult:
        """Process one micro-batch of raw envelope rows."""
        cfg = self.config
        if cfg.debezium.skip_heartbeat:
            raw = filter_heartbeats(raw, heartbeat_prefix=cfg.debezium.heartbeat_prefix)
        raw = raw.cache()
        try:
            # the batch's one routing probe (it also fills the cache):
            # sorted destinations, each with its distinct schema texts
            probe = destinations(raw)
            # per-table parallel commit (T4): concurrent_uploads workers,
            # each under the caller's Spark local properties; every
            # destination finishes before the first failure re-raises
            # (the whole micro-batch is retried), the others as its notes
            written = run_overlapped(
                [
                    partial(self._write_destination, raw, d, pairs, epoch_id)
                    for d, pairs in probe.items()
                ],
                cfg.batch.concurrent_uploads,
                timeout=cfg.batch.upload_timeout_minutes * 60,
                names=[f"destination {d!r}" for d in probe],
            )
            result = BatchResult(tables_written=dict(zip(probe, written)))
            self._emit_lineage(result)
            return result
        finally:
            raw.unpersist()

    def _emit_lineage(self, result: BatchResult) -> None:
        """Post-commit OpenLineage event (W16): one RunEvent per batch with
        an output dataset + schema facet per written table; never raises
        (IcebergTableOperator.java:242-248)."""
        if self.lineage is None or not result.tables_written:
            return
        ic = self.config.iceberg
        outputs = []
        for dest, rows in result.tables_written.items():
            if rows <= 0:
                continue
            try:
                name = self._table_name(dest)
                schema = self.catalog.load_table(ic.namespace, name).metadata().schema
                outputs.append(self.lineage.dataset(name, schema))
            except Exception:
                continue
        if outputs:
            self.lineage.emit(outputs)

    def _table_name(self, dest: str) -> str:
        """The table a destination maps to (IcebergChangeConsumer.java:409-411)."""
        ic = self.config.iceberg
        return map_destination(
            dest,
            table_prefix=ic.table_prefix,
            destination_regexp=ic.destination_regexp,
            destination_regexp_replace=ic.destination_regexp_replace,
            uppercase=ic.destination_uppercase,
            lowercase=ic.destination_lowercase,
        )

    def _write_destination(
        self,
        raw: DataFrame,
        dest: str,
        pairs: list[SchemaPair],
        epoch_id: int | None = None,
    ) -> int:
        """Write one destination's rows; ``pairs`` are its distinct
        non-tombstone (value schema, key schema) texts from the routing
        probe."""
        cfg = self.config
        ic = cfg.iceberg
        # Kafka delete tombstones (null value) are log-compaction markers,
        # not events: parsing one yields an all-null payload (null __op,
        # null PK) that fails assert_no_null_keys and — since foreachBatch
        # replays the same data — poisons the batch permanently.  The
        # delete itself arrived as the preceding op='d' event, so dropping
        # the marker loses nothing (the reference's Debezium pipeline
        # suppresses them at the source via tombstones.on.delete=false,
        # DebeziumConfig defaults).  The probe leaves them out of
        # ``pairs``; a tombstone-only destination has none.
        if not pairs:
            return 0
        df = for_destination(raw, dest).filter(F.col("value").isNotNull())
        if ic.allow_field_addition:
            # union of the batch's distinct embedded schemas: schemaless
            # sources (Mongo ExtractNewDocumentState) vary field sets
            # event-to-event, and a single sample would drop the rest
            inferred = infer_batch_schema(pairs, self.converter)
        else:
            # field addition disabled: shape pins to one sample event's
            # schema, the first in sorted order (the same on every replay)
            # — the reference's own Mongo profile runs exactly this way
            # (IcebergChangeConsumerMongodbTest.java allow-field-addition=false)
            vs, ks = pairs[0]
            inferred = infer_event_schema(
                {"schema": json.loads(vs) if vs else None},
                {"schema": json.loads(ks)} if ks else None,
                self.converter,
            )

        table_name = self._table_name(dest)

        pspec_str = ic.partition_by.get(table_name, ic.partition_by.get("*", ""))
        pspec = parse_partition_spec(
            pspec_str, {f.name for f in inferred.struct.fields}, strict=False
        )
        table = self.catalog.load_or_create(
            ic.namespace,
            table_name,
            schema=inferred.struct,
            identifier_fields=inferred.key_fields,
            partition_spec=pspec,
            properties={
                "write.format.default": ic.write_format,
                "write.target-file-size-bytes": str(ic.target_file_size_bytes),
                "format-version": str(ic.format_version),
            },
        )
        if ic.publish_mode == "per_commit":
            # catalog-as-commit-point: every commit on this table
            # exports + CASes the catalog pointer before its local
            # atomic point (lakehouse/catalog_commit.py) — the
            # reference's model, where the table lives IN the catalog
            table.commit_hook = self._per_commit_hook(table_name)

        # exactly-once guard for replayed micro-batches (SURVEY §7 risk
        # register): MERGE is idempotent by key, a replayed append is not.
        # Every commit stamps its epoch; a replay of the last stamped epoch
        # is skipped, and an OLDER epoch (reset checkpoint, second writer
        # query) raises EpochRegressionError instead of dropping the batch
        if epoch_already_applied(table, epoch_id):
            return 0

        # schema evolution (W14): union-by-name, commit only on real change
        meta = table.metadata()
        if ic.allow_field_addition:
            merged = merge_schemas(meta.schema, inferred.struct)
            if not schemas_equal(meta.schema, merged):
                table.update_schema(merged)
                meta = table.metadata()

        events = parse_events(df, inferred).drop("destination")
        key_fields = meta.identifier_fields or inferred.key_fields
        summary = {"epoch_id": epoch_id} if epoch_id is not None else None
        branch = ic.write_branch or "main"

        # upsert w/o PK falls back to append (IcebergTableWriterFactory.java:51-56)
        if ic.upsert and key_fields:
            events = assert_no_null_keys(events, key_fields)
            deduped = dedup_batch(
                events,
                key_fields,
                dedup_column=(
                    ic.upsert_dedup_column
                    if ic.upsert_dedup_column in events.columns
                    else None
                ),
                op_col=ic.upsert_op_column,
            )
            # useDv semantics (IcebergTableWriterFactory.java:97-108):
            # format v3+ upserts merge-on-read with position deletes, v2
            # defaults to copy-on-write
            mode = ic.upsert_mode or (
                "merge-on-read" if int(ic.format_version) > 2 else "copy-on-write"
            )
            if ic.write_branch and mode != "merge-on-read":
                raise ValueError(
                    "write_branch staging requires the merge-on-read upsert "
                    "path (format-version 3 or upsert_mode='merge-on-read')"
                )
            n_rows = merge_into(
                table,
                deduped,
                keep_deletes=ic.upsert_keep_deletes,
                op_col=ic.upsert_op_column,
                summary=summary,
                mode=mode,
                branch=branch,
            ).source_rows
        else:
            # parse_events yields inferred.struct's names, order and types,
            # so the projection is needed only when the table's columns
            # differ
            if not schemas_equal(inferred.struct, meta.schema):
                events = conform_to_schema(events, meta.schema)
            # row count from the commit's own file stats (manifest already
            # has it) — no extra action, and no -1 sentinel leaking into
            # lineage or the offsets mirror
            n_rows = table.append(events, summary=summary, branch=branch)
        self._maybe_publish_branch(table)
        self._maybe_compact(raw.sparkSession, table)
        self._maybe_publish_iceberg(raw.sparkSession, table, table_name)
        return n_rows

    def _per_commit_hook(self, table_name: str):
        """The per-table CatalogCommitHook (publish_mode=per_commit),
        created once and re-attached on every micro-batch so its
        last-published pointer survives across batches."""
        import os

        from ..lakehouse.catalog_commit import CatalogCommitHook

        hook = self._commit_hooks.get(table_name)
        if hook is not None:
            return hook
        ic = self.config.iceberg
        if self._publish_client is None:
            if ic.publish_jdbc_uri:
                from ..lakehouse.jdbc_catalog import JdbcCatalogClient

                self._publish_client = JdbcCatalogClient(
                    ic.publish_jdbc_uri,
                    catalog_name=ic.publish_jdbc_catalog_name,
                )
            elif ic.publish_nessie_uri:
                from ..lakehouse.nessie_catalog import NessieCatalogClient

                self._publish_client = NessieCatalogClient(
                    ic.publish_nessie_uri,
                    branch=ic.publish_nessie_branch or None,
                    transport=self.nessie_transport,
                )
            else:
                from ..lakehouse.rest_catalog import RestCatalogClient

                self._publish_client = RestCatalogClient(
                    ic.publish_rest_uri,
                    token=ic.publish_rest_token or None,
                    warehouse=ic.publish_rest_warehouse or None,
                    transport=self.rest_transport,
                )
        hook = CatalogCommitHook(
            self._publish_client,
            ic.namespace,
            table_name,
            os.path.join(ic.publish_dest, table_name),
        )
        self._commit_hooks[table_name] = hook
        return hook

    def _maybe_publish_branch(self, table) -> None:
        """Auto-publish after a successful branch-staged batch (the
        zero-audit-gap variant of write-audit-publish): fast-forward main to
        the staging branch head.  With autopublish off, main only moves when
        the operator audits and calls ``table.fast_forward`` themselves."""
        ic = self.config.iceberg
        if ic.write_branch and ic.write_branch_autopublish:
            table.fast_forward(ic.write_branch)
            # retire the published branch: maintenance commits (compaction,
            # delete materialization) advance MAIN next, and a stale branch
            # ref would diverge from them — the next batch re-creates the
            # branch from the then-current main head
            table.drop_ref(ic.write_branch)

    def _maybe_compact(self, spark: SparkSession, table) -> None:
        """Scheduled compaction (upsert read-amplification hygiene the
        reference documents at docs/faq.md:5-7): bin-pack small data files
        and, once enough delete files have been written since the table
        last had none, materialize the deletes so merge-on-read scan
        overhead stays bounded."""
        ic = self.config.iceberg
        if ic.write_branch and not ic.write_branch_autopublish:
            # unpublished staged commits outstanding: maintenance rewrites
            # would advance main and block the operator's fast_forward —
            # defer until after publish
            return
        keep = ic.expire_keep_snapshots
        if keep:
            # metadata-growth hygiene: retire history beyond the configured
            # time-travel horizon and GC files only the expired snapshots
            # reference (no-op when history is already within the horizon).
            # Runs first, while this batch's epoch-stamped commit is the
            # newest snapshot: expiring after a materialization would keep
            # only that unstamped rewrite and lose the epoch guard's stamp
            table.expire_snapshots(keep_last=keep)
        meta = table.metadata()
        head = next(
            (s for s in meta.snapshots if s.snapshot_id == meta.current_snapshot_id),
            None,
        )
        # delete files written since the table last had none — a replaced
        # deletion vector still counts as a write
        written = int(head.summary.get("outstanding_delete_writes", 0)) if head else 0
        if written >= max(1, ic.rewrite_delete_files_min):
            table.materialize_deletes(spark)
        if ic.remove_orphans_grace_seconds > 0:
            # reclaim crashed writers' staged files (W12 completion) —
            # grace-period-guarded so in-flight writes are never touched
            table.remove_orphan_files(ic.remove_orphans_grace_seconds)
        n = ic.compact_every_commits
        if not n:
            return
        # Cadence must survive history expiry: retained-snapshot counts are
        # pinned at ~expire_keep_snapshots once expiry runs, so measure
        # against the never-resetting snapshot id and record the last
        # compaction point in a table property (durable across restarts).
        meta = table.metadata()
        sid = meta.current_snapshot_id or 0
        last = int(meta.properties.get("compaction.last-compact-snapshot-id", 0))
        if sid - last >= n:
            table.compact(spark, min_input_files=ic.compact_min_input_files)
            table.update_properties(
                **{
                    "compaction.last-compact-snapshot-id": (
                        table.metadata().current_snapshot_id or 0
                    )
                }
            )

    def _maybe_publish_iceberg(self, spark: SparkSession, table, table_name: str) -> None:
        """Continuous publication (``publish_every_commits``): export the
        table's current snapshot (incremental, metadata-only) and, with
        ``publish_rest_uri`` set, CAS the REST catalog forward — external
        engines then see the CDC table by name, at most N commits stale.
        Cadence is snapshot-id distance recorded in a table property
        (durable across restarts, same pattern as the compaction
        checkpoint).  Publication failures PROPAGATE — a stale catalog
        must be operator-visible, not silently swallowed."""
        import os

        ic = self.config.iceberg
        if ic.publish_mode == "per_commit":
            return  # the commit hook already published this very commit
        n = ic.publish_every_commits
        if not n or not ic.publish_dest:
            return
        if ic.write_branch and not ic.write_branch_autopublish:
            return  # staged commits not yet audited: main hasn't moved
        meta = table.metadata()
        sid = meta.current_snapshot_id or 0
        last = int(meta.properties.get("publish.last-publish-snapshot-id", 0))
        if sid - last < n:
            return
        self.publish_iceberg(
            spark,
            table_name,
            os.path.join(ic.publish_dest, table_name),
            rest_uri=ic.publish_rest_uri or None,
            rest_token=ic.publish_rest_token or None,
            rest_warehouse=ic.publish_rest_warehouse or None,
            rest_transport=self.rest_transport,
            jdbc_uri=ic.publish_jdbc_uri or None,
            jdbc_catalog_name=ic.publish_jdbc_catalog_name,
            nessie_uri=ic.publish_nessie_uri or None,
            nessie_branch=ic.publish_nessie_branch or None,
            nessie_transport=self.nessie_transport,
        )
        table.update_properties(
            **{"publish.last-publish-snapshot-id": str(sid)}
        )

    def publish_iceberg(
        self,
        spark: SparkSession,
        table_name: str,
        dest: str,
        materialize: bool = False,
        degrade_partitions: bool = False,
        rest_uri: str | None = None,
        rest_token: str | None = None,
        rest_warehouse: str | None = None,
        rest_transport=None,
        jdbc_uri: str | None = None,
        jdbc_catalog_name: str = "default",
        nessie_uri: str | None = None,
        nessie_branch: str | None = None,
        nessie_transport=None,
    ) -> str:
        """Publish an engine-written table as a REAL Iceberg v2 table
        (metadata.json + Avro manifests, lakehouse/iceberg_export.py) any
        external engine can read — the reference's interop contract
        (IcebergChangeConsumer.java:100-102).  Outstanding merge-on-read
        delete files export as a content=1 delete manifest (position
        deletes in spec form, equality deletes with equality_ids), so a
        publish never blocks on compaction; pass ``materialize=True`` to
        fold the deletes into data files first (smaller read-side work
        for engines that scan delete manifests poorly).

        ``rest_uri`` completes the reference's deployment story
        (``debezium.sink.iceberg.type=rest`` + ``.uri`` —
        testresources/CatalogRest.java:39-41): after the filesystem
        export, the written metadata file is REGISTERED with an Iceberg
        REST catalog (``lakehouse/rest_catalog.py`` — ensure-namespace +
        RegisterTable; re-publish moves the catalog forward via the
        spec's CommitTable CAS so the table stays continuously
        resolvable, with drop+register only as the documented
        fallback), so engines resolve the table BY NAME through the
        catalog instead of by path.
        Registration failures propagate: a half-published table (data
        exported, catalog stale) must be visible to the operator, not
        silently swallowed."""
        from ..lakehouse.iceberg_export import export_iceberg_table

        table = self.catalog.load_table(self.config.iceberg.namespace, table_name)
        if materialize and table.current_deletes():
            table.materialize_deletes(spark)
        md_path = export_iceberg_table(
            table, dest, degrade_partitions=degrade_partitions
        )
        from ..lakehouse.catalog_commit import publish_to_catalog

        ns = self.config.iceberg.namespace
        if rest_uri:
            from ..lakehouse.rest_catalog import RestCatalogClient

            client = RestCatalogClient(
                rest_uri,
                token=rest_token,
                warehouse=rest_warehouse,
                transport=rest_transport,
            )
            publish_to_catalog(client, ns, table_name, md_path)
        if jdbc_uri:
            # the reference's jdbc catalog family (CatalogJdbc.java):
            # same publication contract as REST, but the registered
            # pointer CASes forward IN PLACE (public iceberg_tables
            # schema) — no unregistered window at all
            from ..lakehouse.jdbc_catalog import JdbcCatalogClient

            publish_to_catalog(
                JdbcCatalogClient(jdbc_uri, catalog_name=jdbc_catalog_name),
                ns, table_name, md_path,
            )
        if nessie_uri:
            # the reference's third catalog family (CatalogNessie.java):
            # the table becomes an ICEBERG_TABLE content committed on
            # the branch — key-scoped conflicts, no unregistered window
            from ..lakehouse.nessie_catalog import NessieCatalogClient

            publish_to_catalog(
                NessieCatalogClient(
                    nessie_uri, branch=nessie_branch, transport=nessie_transport
                ),
                ns, table_name, md_path,
            )
        return md_path

    # -------------------------------------------------------- streaming path

    def run_stream(
        self,
        spark: SparkSession,
        input_path: str,
        checkpoint: str,
        max_files_per_trigger: int | None = None,
        mirror_offsets: bool = False,
    ):
        """Structured Streaming driver: file-stream of envelope JSONL ->
        foreachBatch(handle_batch). Checkpoint replaces the reference's
        Iceberg offset store (offset/IcebergOffsetBackingStore.java:66-303);
        ``mirror_offsets=True`` additionally writes a queryable offsets table
        after each committed batch (the reference's externalized state,
        SQL-visible: epoch + per-table row counts)."""
        store = None
        if mirror_offsets:
            from ..state import OffsetStore

            store = OffsetStore(self.catalog, self.config.iceberg.namespace)

        from .batchwait import FileQueuePending, NoBatchSizeWait, build_batch_size_wait

        wait_strategy = build_batch_size_wait(self.config.batch)
        queue = (
            None
            if isinstance(wait_strategy, NoBatchSizeWait)
            else FileQueuePending(input_path)
        )

        def process(df, epoch):
            result = self.handle_batch(df, epoch)
            if store is not None:
                store.save(
                    spark,
                    {
                        "epoch": str(epoch),
                        **{
                            f"rows.{t}": str(n)
                            for t, n in result.tables_written.items()
                        },
                    },
                )
            if queue is not None:
                # batch-size wait (T2): delay the next trigger until a full
                # batch has accumulated (IcebergChangeConsumer.java:174)
                from pyspark.sql import functions as F

                queue.mark_processed(
                    [r[0] for r in df.select(F.input_file_name()).distinct().collect()]
                )
                wait_strategy.wait(queue.pending)

        raw = read_events_stream(spark, input_path, max_files_per_trigger)
        writer = (
            raw.writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint)
            .foreachBatch(process)
        )
        trig = self.config.batch.trigger_processing_time
        if trig:
            writer = writer.trigger(processingTime=trig)
        return writer.start()

    @staticmethod
    def drain(query, timeout_seconds: float = 30.0) -> bool:
        """Graceful shutdown (T9): finish everything already available, then
        stop — the executor-drain-with-30s-timeout of
        IcebergChangeConsumer.java:118-132 in streaming terms. In-flight
        micro-batches commit before the query stops, so the checkpoint holds
        their offsets and a restart resumes exactly after them. Returns True
        when the drain completed inside the timeout (the query is stopped
        either way — data loss is impossible, at worst the final batch
        replays into idempotent MERGE commits on restart)."""
        import threading

        done = threading.Event()

        def wait_available() -> None:
            try:
                query.processAllAvailable()
            finally:
                done.set()

        t = threading.Thread(target=wait_available, daemon=True)
        t.start()
        finished = done.wait(timeout_seconds)
        query.stop()
        t.join(timeout=5)
        return finished

    # ------------------------------------------------------------- read side

    def table_df(
        self, spark: SparkSession, table_name: str, lineage: bool = False
    ):
        """Read a consumer-managed table; ``lineage=True`` adds the v3
        ``_row_id`` / ``_last_updated_sequence_number`` columns (see
        ``LakeTable.to_df``)."""
        return self.catalog.load_table(
            self.config.iceberg.namespace, table_name
        ).to_df(spark, lineage=lineage)
