"""Directory catalog: namespace/table discovery over a warehouse path.

Engine-native equivalent of the reference's generic Iceberg catalog bootstrap
(IcebergChangeConsumer.java:88-116, CatalogUtil.buildIcebergCatalog) — the
same surface (create/load/drop/list, namespace auto-create,
IcebergUtil.java:98-149) over a filesystem warehouse. A REST/JDBC catalog
would slot in behind the same four methods.

Storage note (100 TB deployment): data files are written/read by Spark, so
any Hadoop-FS scheme (s3a://, gs://, abfss://) works for the data path
unchanged. The commit protocol needs two primitives from the metadata
store: create-if-absent (the optimistic-concurrency gate, here O_EXCL) and
atomic swap (the version hint, here rename). On object stores those map to
conditional PUT (If-None-Match) or a tiny DynamoDB/REST commit endpoint —
exactly the trade Iceberg/Delta make; only `_write_metadata` changes.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import types as T

from .table import LakeTable
from .transforms import PartitionField


class NoSuchTableError(KeyError):
    pass


class LakeCatalog:
    def __init__(self, warehouse: str) -> None:
        # absolute from the start: table locations and data-file paths are
        # recorded in metadata, and a relative warehouse would bake in
        # paths that break on cwd change or rename_table's path rewrite
        self.warehouse = os.path.abspath(warehouse)
        os.makedirs(self.warehouse, exist_ok=True)

    def _loc(self, namespace: str, name: str) -> str:
        return os.path.join(self.warehouse, namespace, name)

    def table_exists(self, namespace: str, name: str) -> bool:
        return LakeTable.exists(self._loc(namespace, name))

    def create_table(
        self,
        namespace: str,
        name: str,
        schema: T.StructType,
        identifier_fields: list[str] | None = None,
        partition_spec: list[PartitionField] | None = None,
        sort_order: list[str] | None = None,
        properties: dict[str, str] | None = None,
    ) -> LakeTable:
        os.makedirs(os.path.join(self.warehouse, namespace), exist_ok=True)  # ns auto-create
        return LakeTable.create(
            self._loc(namespace, name),
            schema,
            identifier_fields=identifier_fields,
            partition_spec=partition_spec,
            sort_order=sort_order,
            properties=properties,
        )

    def load_table(self, namespace: str, name: str) -> LakeTable:
        loc = self._loc(namespace, name)
        if not LakeTable.exists(loc):
            raise NoSuchTableError(f"{namespace}.{name}")
        return LakeTable(loc)

    def load_or_create(self, namespace: str, name: str, **create_kwargs) -> LakeTable:
        if self.table_exists(namespace, name):
            return self.load_table(namespace, name)
        return self.create_table(namespace, name, **create_kwargs)

    def drop_table(self, namespace: str, name: str) -> None:
        loc = self._loc(namespace, name)
        if os.path.exists(loc):
            shutil.rmtree(loc)

    def rename_table(
        self, namespace: str, name: str, new_namespace: str, new_name: str
    ) -> LakeTable:
        """Iceberg's Catalog.renameTable: move the table to a new
        identifier.  File paths in manifests and metadata are absolute,
        so the directory move is followed by a driver-side JSON rewrite of
        every metadata/manifest file (planning-scale work — O(manifests),
        no data file is touched or copied).  Not safe against a writer
        committing mid-rename (real Iceberg renames are catalog-pointer
        swaps; a filesystem catalog cannot do better than move+rewrite)."""
        import json as _json
        import uuid as _uuid

        src = self._loc(namespace, name)
        if not LakeTable.exists(src):
            raise NoSuchTableError(f"{namespace}.{name}")
        dst = self._loc(new_namespace, new_name)
        if os.path.exists(dst):
            raise FileExistsError(f"{new_namespace}.{new_name} already exists")
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(src, dst)
        old_abs, new_abs = os.path.abspath(src), os.path.abspath(dst)

        def _repath(p):
            # rewrite ONLY path-prefix matches — never substring hits
            # inside unrelated values (a column bound that happens to
            # contain the path text must stay untouched)
            if isinstance(p, str) and (
                p == old_abs or p.startswith(old_abs + os.sep)
            ):
                return new_abs + p[len(old_abs):]
            return p

        meta_dir = os.path.join(dst, "metadata")
        for fn in os.listdir(meta_dir):
            if not fn.endswith(".json"):
                continue
            p = os.path.join(meta_dir, fn)
            with open(p) as fh:
                doc = _json.load(fh)
            if fn.endswith(".metadata.json"):
                # table metadata: 'location' is the only path field
                doc["location"] = _repath(doc.get("location"))
            else:
                # manifest: data/delete file 'path' fields
                for key in ("files", "delete_files"):
                    for f in doc.get(key, []):
                        f["path"] = _repath(f.get("path"))
                        if "referenced_data_file" in f:
                            f["referenced_data_file"] = _repath(f["referenced_data_file"])
            # temp + atomic replace: a crash mid-loop leaves every file
            # either fully old or fully new, never truncated
            tmp = os.path.join(meta_dir, f".rn.{_uuid.uuid4().hex}.tmp")
            with open(tmp, "w") as fh:
                _json.dump(doc, fh)
            os.replace(tmp, p)
        return LakeTable(dst)

    def list_tables(self, namespace: str) -> list[str]:
        ns = os.path.join(self.warehouse, namespace)
        if not os.path.isdir(ns):
            return []
        return sorted(
            t for t in os.listdir(ns) if LakeTable.exists(os.path.join(ns, t))
        )

    def list_namespaces(self) -> list[str]:
        return sorted(
            d
            for d in os.listdir(self.warehouse)
            if os.path.isdir(os.path.join(self.warehouse, d))
        )

    METADATA_KINDS = ("snapshots", "files", "delete_files", "partitions", "refs")

    def register_views(
        self, spark, namespace: str, prefix: str = "", with_metadata: bool = False
    ) -> list[str]:
        """Expose every table in a namespace as a Spark temp view named
        ``{prefix}{table}`` so users query replicated tables by name with
        plain ``spark.sql`` — the read surface the reference verifies
        itself against (BaseSparkTest.java:170-178: spark.newSession()
        .sql("SELECT * FROM <table>")). Each view is the table's
        current-snapshot merge-on-read scan; re-register after new commits
        to advance the snapshot (views pin the manifest read at
        registration, the same isolation a reader sees mid-stream)."""
        names = []
        for t in self.list_tables(namespace):
            view = f"{prefix}{t}"
            tbl = self.load_table(namespace, t)
            tbl.to_df(spark).createOrReplaceTempView(view)
            names.append(view)
            if with_metadata:
                # Iceberg's tbl.snapshots / tbl.files inspection tables,
                # named {view}__{kind} (temp views cannot contain dots)
                for kind in self.METADATA_KINDS:
                    mview = f"{view}__{kind}"
                    tbl.metadata_df(spark, kind).createOrReplaceTempView(mview)
                    names.append(mview)
        return names
