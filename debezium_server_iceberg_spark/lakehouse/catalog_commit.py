"""Catalog-as-commit-point: make an external Iceberg catalog row the
authoritative pointer for a published table (``publish_mode=per_commit``).

The reference's tables are created and committed *through* a catalog —
JDBC / Nessie / REST (IcebergChangeConsumer.java:100-102,
testresources/CatalogJdbc.java:29-41): the catalog row IS the table, and
every commit is a catalog CAS.  The engine's cadence publication
(``publish_every_commits``) approximates that — the catalog lags the
filesystem HEAD by at most N commits, a dual-source-of-truth window.
This module eliminates the window: a :class:`CatalogCommitHook` attached
to ``LakeTable.commit_hook`` runs INSIDE every commit, between writing
the candidate metadata file and swinging the local version-hint:

1. export the CANDIDATE state as a real Iceberg metadata file
   (``export_iceberg_table(metadata=candidate)`` — incremental,
   metadata-only; the candidate's manifest is already on disk);
2. CAS the catalog pointer from the location THIS hook last published
   to the new export (JDBC: one ``UPDATE ... WHERE metadata_location =
   expected``; REST: the spec's CommitTable requirements document);
3. only if the CAS lands does the engine's commit reach its local
   atomic point.

A CAS failure — a concurrent writer owns the catalog row —
:class:`CommitFailedError` propagates and the engine's commit does NOT
advance (the candidate metadata temp file is removed by the commit
path), so the catalog row is genuinely authoritative: no engine state
ever exists that the catalog does not point to.  Crash window: the local
commit point is linking the complete candidate into its
``v{N}.metadata.json`` slot, after the catalog CAS.  A crash between the
CAS and the link leaves the catalog one export AHEAD of the engine (the
candidate is only a temp file, which ``remove_orphan_files`` reclaims);
the replayed commit re-exports and CASes forward from the catalog's
then-current pointer (``expected=None`` on the first commit after
construction), converging.  A crash after the link and before the
version-hint swing has committed: readers step forward from the hint to
the newest version file.  External readers resolved through the catalog
never saw an incomplete table at any point.

The module also holds what every catalog client shares: the stdlib HTTP
transport, the local metadata read, and the two client-agnostic steps
of the publication loop — :func:`publish_to_catalog` (ensure the
namespace, then register or CAS the pointer) and
:func:`read_table_by_name` (resolve the pointer, read that metadata).

Foreign-writer detection is BETWEEN consecutive commits of one hook
instance: the first commit after construction CASes from the catalog's
current pointer (load-then-CAS — the same semantics the cadence path's
``register_table(overwrite=True)`` has), every later commit CASes from
the location this instance last published, so any interleaved foreign
move fails the CAS loudly.
"""

from __future__ import annotations

import json
import os
from urllib import error as _urlerror
from urllib import parse as _urlparse
from urllib import request as _urlrequest


def _urllib_transport(
    method: str, url: str, headers: dict, body: bytes | None
) -> tuple:
    """The production HTTP transport of the REST and Nessie clients:
    ``(method, url, headers, body) -> (status, body)``."""
    req = _urlrequest.Request(url, data=body, headers=headers, method=method)
    try:
        with _urlrequest.urlopen(req) as resp:
            return resp.status, resp.read()
    except _urlerror.HTTPError as e:  # non-2xx still carries an error body
        return e.code, e.read()


def _read_metadata(metadata_location: str) -> dict | None:
    """The exported metadata document, read from shared storage — the
    publisher just wrote it, so a local/``file://`` location is always
    readable here.  Returns None when it isn't (remote object-store URIs
    without a local mount); callers then degrade rather than guess."""
    path = metadata_location
    if path.startswith("file://"):
        path = _urlparse.urlparse(path).path
    elif "://" in path:
        return None
    try:
        with open(path, "r", encoding="utf-8") as fh:
            doc = json.load(fh)
        return doc if isinstance(doc, dict) else None
    except (OSError, ValueError):
        return None


class CatalogCommitHook:
    """``LakeTable.commit_hook`` implementation: export + catalog CAS
    per engine commit.

    ``client`` is a :class:`..jdbc_catalog.JdbcCatalogClient` or
    :class:`..rest_catalog.RestCatalogClient` — anything with
    ``create_namespace(ns, exist_ok=)``, ``register_table(ns, name,
    loc, overwrite=)``, ``commit_table(ns, name, new, expected)`` and
    ``load_table(ns, name)``; conflicts must raise the module's
    CommitFailedError equivalent (they propagate verbatim)."""

    def __init__(
        self,
        client,
        namespace: str,
        table_name: str,
        dest: str,
        degrade_partitions: bool = False,
    ) -> None:
        self.client = client
        self.namespace = namespace
        self.table_name = table_name
        self.dest = dest
        self.degrade_partitions = degrade_partitions
        #: metadata location this hook last CASed in — None until the
        #: first commit, which CASes from the catalog's current pointer
        #: (or INSERTs when the table is not registered yet)
        self.last_published: str | None = None

    def __call__(self, table, candidate_meta, new_version: int) -> None:
        from .iceberg_export import export_iceberg_table

        md_path = export_iceberg_table(
            table,
            self.dest,
            degrade_partitions=self.degrade_partitions,
            metadata=candidate_meta,
        )
        self.client.create_namespace(self.namespace, exist_ok=True)
        if self.last_published is None:
            # first commit through this hook: register or CAS from the
            # catalog's current pointer (the cadence path's overwrite
            # semantics) — thereafter every commit CASes from our own
            # last publication, so foreign moves fail loudly
            out = self.client.register_table(
                self.namespace, self.table_name, md_path, overwrite=True
            )
        else:
            out = self.client.commit_table(
                self.namespace, self.table_name, md_path, self.last_published
            )
        self.last_published = out.get("metadata-location", md_path)


def attach_catalog_commit_hook(
    table,
    client,
    namespace: str,
    table_name: str,
    publish_root: str,
) -> CatalogCommitHook:
    """Wire a :class:`CatalogCommitHook` onto ``table`` (idempotent:
    re-attaching with the same identity keeps the existing hook and its
    ``last_published`` tracking).  ``publish_root`` is the export root;
    the table name is appended, matching the cadence path's layout."""
    hook = getattr(table, "commit_hook", None)
    if (
        isinstance(hook, CatalogCommitHook)
        and hook.namespace == namespace
        and hook.table_name == table_name
    ):
        return hook
    hook = CatalogCommitHook(
        client, namespace, table_name, os.path.join(publish_root, table_name)
    )
    table.commit_hook = hook
    return hook


def publish_to_catalog(client, namespace: str, name: str, metadata_location: str) -> dict:
    """The publication step a sink runs after an export, for any client
    of the :class:`CatalogCommitHook` protocol: ensure the namespace, then
    (re-)register the metadata file.  Idempotent: re-publishing the same
    location moves the pointer to itself.  JDBC updates its row in place
    and Nessie commits new content on the branch, so neither ever leaves
    the name unresolvable.  REST moves forward by the spec's CommitTable
    CAS; only its drop+register fallback (different uuid, unreadable
    metadata, rejected commit) has a window between the DELETE and the
    second POST where the name does not resolve.  Conflicts and
    registration errors PROPAGATE: a stale catalog must be
    operator-visible."""
    client.create_namespace(namespace, exist_ok=True)
    return client.register_table(namespace, name, metadata_location, overwrite=True)


def read_table_by_name(
    spark,
    client,
    namespace: str,
    name: str,
    snapshot_id: int | None = None,
    partition_filter: dict | None = None,
    lineage: bool = False,
):
    """Catalog-resolved read — the consumer half of the publication loop:
    resolve the metadata location through the client's ``load_table``
    (what any engine configured against the same catalog does, reference
    deployment testresources/CatalogRest.java:39-41), then walk THAT
    metadata file's standard chain
    (:func:`..iceberg_export.read_iceberg_table`) — never the
    filesystem's ``version-hint.text``, which may already be ahead of the
    catalog between publishes.  ``snapshot_id`` / ``partition_filter`` /
    ``lineage`` as in ``read_iceberg_table``."""
    from .iceberg_export import read_iceberg_table

    loc = client.load_table(namespace, name).get("metadata-location")
    if not loc:
        raise LookupError(f"catalog holds no metadata location for {namespace}.{name}")
    return read_iceberg_table(
        spark,
        None,
        snapshot_id=snapshot_id,
        partition_filter=partition_filter,
        lineage=lineage,
        metadata_file=loc,
    )
