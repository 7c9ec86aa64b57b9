"""Iceberg REST-catalog publication client (spec-level, stdlib HTTP).

The reference's deployment story is CATALOG-REGISTERED tables: the sink
bootstraps an Iceberg catalog from config and every destination table is
created/loaded through it (IcebergChangeConsumer.java:100-102;
``debezium.sink.iceberg.type=rest`` + ``.uri`` in the REST variant —
testresources/CatalogRest.java:39-41 runs the stock
``apache/iceberg-rest-fixture`` image).  The engine's exporter
(``iceberg_export.export_iceberg_table``) already produces the standard
metadata chain on shared storage; what was missing is advertising that
metadata to a catalog service so ANY engine configured against the same
catalog resolves the table by name.  This module closes the gap with the
public Iceberg REST Catalog OpenAPI surface (apache/iceberg
``rest-catalog-open-api.yaml``) — exactly the subset a *publisher* needs:

- ``GET  /v1/config``                            → prefix/overrides
- ``GET  /v1/{prefix}/namespaces/{ns}``          → namespace existence
- ``POST /v1/{prefix}/namespaces``               → CreateNamespace
- ``POST /v1/{prefix}/namespaces/{ns}/register`` → RegisterTable
  (name + metadata-location: the catalog adopts an EXISTING metadata
  file — the spec's endpoint for externally-written tables, which is
  precisely what a filesystem publish produces)
- ``GET  /v1/{prefix}/namespaces/{ns}/tables/{t}``   → LoadTable
- ``POST /v1/{prefix}/namespaces/{ns}/tables/{t}``   → CommitTable
  (the spec's CAS: requirements asserted against the catalog's current
  state + the metadata updates that move it forward)
- ``DELETE /v1/{prefix}/namespaces/{ns}/tables/{t}`` → DropTable

Re-publishing bumps the metadata version on disk.  ``register_table``
with ``overwrite=True`` re-points the catalog via the spec's
CommitTable CAS (:meth:`RestCatalogClient.commit_table` — requirements
``assert-table-uuid`` + ``assert-ref-snapshot-id`` on ``main``, updates
computed as the new metadata file's delta over the catalog's current
state: the exporter's chain is linear, so the delta is exact), keeping
the table CONTINUOUSLY resolvable.  Only when the commit cannot apply —
the registered table is a different uuid, the metadata file isn't
locally readable, or the catalog rejects with 404/409 — does it fall
back to drop+register, whose unregistered window between the DELETE and
the second POST is documented on ``catalog_commit.publish_to_catalog`` (the
re-register retries once so a transient failure doesn't strand the
table unregistered).

Transport is injectable (``transport(method, url, headers, body) ->
(status, body)``): production uses stdlib ``urllib`` — no third-party
HTTP dependency — and tests replay recorded request/response fixtures
offline, asserting the exact byte sequence on the wire.  No network is
touched at import or construction time except the one ``GET /v1/config``
the spec mandates before any other call (lazy, memoized).
"""

from __future__ import annotations

import json
from typing import Callable, Optional
from urllib import parse as _urlparse

from .catalog_commit import _read_metadata, _urllib_transport

Transport = Callable[[str, str, dict, Optional[bytes]], tuple]


class RestCatalogError(RuntimeError):
    """Non-2xx catalog response, carrying the spec ErrorModel fields."""

    def __init__(self, status: int, message: str, error_type: str = ""):
        super().__init__(f"{status} {error_type}: {message}")
        self.status = status
        self.error_type = error_type
        self.message = message


class NoSuchNamespaceError(RestCatalogError):
    pass


class NoSuchTableError(RestCatalogError):
    pass


class AlreadyExistsError(RestCatalogError):
    pass


def _quote(part: str) -> str:
    return _urlparse.quote(part, safe="")


class RestCatalogClient:
    """Minimal spec-conformant client for table PUBLICATION.

    ``uri`` is the catalog root (e.g. ``http://catalog:8181``); ``token``
    adds the spec's ``Authorization: Bearer`` header; ``warehouse`` is
    forwarded as the ``warehouse`` query param on ``GET /v1/config``
    (multi-warehouse catalogs route the prefix on it)."""

    def __init__(
        self,
        uri: str,
        token: str | None = None,
        warehouse: str | None = None,
        transport: Transport | None = None,
    ) -> None:
        self.uri = uri.rstrip("/")
        self.token = token
        self.warehouse = warehouse
        self._transport = transport or _urllib_transport
        self._prefix: str | None = None  # resolved lazily from /v1/config

    # ------------------------------------------------------------ plumbing
    def _headers(self, has_body: bool) -> dict:
        h = {"Accept": "application/json"}
        if has_body:
            h["Content-Type"] = "application/json"
        if self.token:
            h["Authorization"] = f"Bearer {self.token}"
        return h

    def _call(
        self,
        method: str,
        path: str,
        body: dict | None = None,
        nf: type | None = None,
    ) -> dict:
        """``nf`` is the 404 class for THIS endpoint (namespace endpoints
        pass NoSuchNamespaceError): the spec ErrorModel type is consulted
        first, but a catalog returning an empty or non-spec error body
        must still classify by which endpoint was called — otherwise
        ``namespace_exists`` on such a catalog raises NoSuchTableError
        instead of returning False."""
        payload = (
            json.dumps(body, sort_keys=True).encode("utf-8")
            if body is not None
            else None
        )
        status, raw = self._transport(
            method, f"{self.uri}{path}", self._headers(payload is not None), payload
        )
        doc = {}
        if raw:
            try:
                doc = json.loads(raw.decode("utf-8"))
            except (ValueError, UnicodeDecodeError):
                doc = {}
        if 200 <= status < 300:
            return doc
        err = doc.get("error", {}) if isinstance(doc, dict) else {}
        msg = err.get("message", raw.decode("utf-8", "replace")[:200] if raw else "")
        etype = err.get("type", "")
        cls = RestCatalogError
        if status == 404:
            if "Namespace" in etype:
                cls = NoSuchNamespaceError
            elif "Table" in etype or "View" in etype:
                cls = NoSuchTableError
            else:
                cls = nf or NoSuchTableError
        elif status == 409:
            cls = AlreadyExistsError
        raise cls(status, msg, etype)

    def _p(self) -> str:
        """Spec handshake: the first real call must be preceded by
        ``GET /v1/config``; its ``overrides.prefix`` (if any) is spliced
        into every subsequent path."""
        if self._prefix is None:
            q = f"?warehouse={_quote(self.warehouse)}" if self.warehouse else ""
            cfg = self._call("GET", f"/v1/config{q}")
            pref = {
                **cfg.get("defaults", {}),
                **cfg.get("overrides", {}),
            }.get("prefix", "")
            self._prefix = f"/{_quote(pref)}" if pref else ""
        return self._prefix

    # ------------------------------------------------------------- surface
    def create_namespace(
        self, namespace: str, properties: dict | None = None,
        exist_ok: bool = True,
    ) -> dict:
        """CreateNamespace; multipart names use the spec's unit-separator
        convention only on the PATH side — the body carries the list form."""
        try:
            return self._call(
                "POST",
                f"/v1{self._p()}/namespaces",
                {
                    "namespace": namespace.split("."),
                    "properties": properties or {},
                },
                nf=NoSuchNamespaceError,
            )
        except AlreadyExistsError:
            if not exist_ok:
                raise
            return {"namespace": namespace.split(".")}

    def namespace_exists(self, namespace: str) -> bool:
        try:
            self._call(
                "GET",
                f"/v1{self._p()}/namespaces/{self._ns(namespace)}",
                nf=NoSuchNamespaceError,
            )
            return True
        except NoSuchNamespaceError:
            return False

    def register_table(
        self,
        namespace: str,
        name: str,
        metadata_location: str,
        overwrite: bool = False,
    ) -> dict:
        """RegisterTable: point the catalog at an existing metadata file
        (the exporter's ``v{N}.metadata.json``).  ``overwrite=True`` is
        the re-publish path: an already-registered table moves forward
        through the spec's CommitTable CAS (:meth:`commit_table` — the
        table stays continuously resolvable), falling back to
        drop-without-purge + register only when the commit cannot apply:
        different table-uuid under the name, metadata file unreadable
        from here, or a 404/409 from the catalog.  The fallback's
        re-register retries once on failure — a crash in that window
        still leaves the table unregistered until the next publish (see
        ``catalog_commit.publish_to_catalog``)."""
        body = {"name": name, "metadata-location": metadata_location}
        register = lambda: self._call(
            "POST",
            f"/v1{self._p()}/namespaces/{self._ns(namespace)}/register",
            body,
            nf=NoSuchNamespaceError,
        )
        try:
            return register()
        except AlreadyExistsError:
            if not overwrite:
                raise
        new_md = _read_metadata(metadata_location)
        if new_md is not None:
            try:
                cur = self.load_table(namespace, name)
                cur_md = cur.get("metadata") or {}
                if cur_md.get("table-uuid") == new_md.get("table-uuid"):
                    return self.commit_table(namespace, name, new_md, cur_md)
            except (NoSuchTableError, NoSuchNamespaceError, AlreadyExistsError):
                pass  # concurrent drop / requirement failure: re-register
        self.drop_table(namespace, name, purge=False)
        try:
            return register()
        except RestCatalogError:
            # one retry: a transient failure here would otherwise leave
            # the table UNREGISTERED (resolution fails for every engine)
            # until the next publish
            return register()

    def commit_table(
        self,
        namespace: str,
        name: str,
        new_metadata: dict,
        current_metadata: dict | None = None,
    ) -> dict:
        """CommitTable: the spec's CAS — requirements asserted against
        the catalog's CURRENT state, updates computed as the new
        metadata document's delta over it.  The exporter's metadata
        chain is linear (each publish extends the previous file), so the
        delta is exact: new snapshots append, refs re-point, schema/
        spec/sort-order additions ride along, properties diff.  A
        concurrent writer fails the ``assert-ref-snapshot-id``
        requirement with 409 — the caller decides whether to reload and
        retry or fall back (``register_table(overwrite=True)`` falls
        back to drop+register)."""
        cur = current_metadata
        if cur is None:
            cur = self.load_table(namespace, name).get("metadata") or {}
        requirements: list[dict] = []
        if cur.get("table-uuid"):
            requirements.append(
                {"type": "assert-table-uuid", "uuid": cur["table-uuid"]}
            )
        cur_main = (cur.get("refs") or {}).get("main") or {}
        requirements.append(
            {
                "type": "assert-ref-snapshot-id",
                "ref": "main",
                # null asserts the ref must not exist yet (spec)
                "snapshot-id": cur_main.get("snapshot-id"),
            }
        )
        updates: list[dict] = []
        if int(new_metadata.get("format-version", 2)) > int(
            cur.get("format-version", 2)
        ):
            updates.append(
                {
                    "action": "upgrade-format-version",
                    "format-version": new_metadata["format-version"],
                }
            )
        cur_schema_ids = {s["schema-id"] for s in cur.get("schemas", [])}
        for s in new_metadata.get("schemas", []):
            if s["schema-id"] not in cur_schema_ids:
                updates.append({"action": "add-schema", "schema": s})
        if new_metadata.get("current-schema-id") != cur.get("current-schema-id"):
            updates.append(
                {
                    "action": "set-current-schema",
                    "schema-id": new_metadata["current-schema-id"],
                }
            )
        cur_spec_ids = {s["spec-id"] for s in cur.get("partition-specs", [])}
        for s in new_metadata.get("partition-specs", []):
            if s["spec-id"] not in cur_spec_ids:
                updates.append({"action": "add-spec", "spec": s})
        if new_metadata.get("default-spec-id") != cur.get("default-spec-id"):
            updates.append(
                {
                    "action": "set-default-spec",
                    "spec-id": new_metadata["default-spec-id"],
                }
            )
        cur_order_ids = {o["order-id"] for o in cur.get("sort-orders", [])}
        for o in new_metadata.get("sort-orders", []):
            if o["order-id"] not in cur_order_ids:
                updates.append({"action": "add-sort-order", "sort-order": o})
        if new_metadata.get("default-sort-order-id") != cur.get(
            "default-sort-order-id"
        ):
            updates.append(
                {
                    "action": "set-default-sort-order",
                    "sort-order-id": new_metadata["default-sort-order-id"],
                }
            )
        cur_props = cur.get("properties", {})
        new_props = new_metadata.get("properties", {})
        changed = {k: v for k, v in new_props.items() if cur_props.get(k) != v}
        removed = sorted(k for k in cur_props if k not in new_props)
        if changed:
            updates.append({"action": "set-properties", "updates": changed})
        if removed:
            updates.append({"action": "remove-properties", "removals": removed})
        cur_snap_ids = {s["snapshot-id"] for s in cur.get("snapshots", [])}
        for s in new_metadata.get("snapshots", []):
            if s["snapshot-id"] not in cur_snap_ids:
                updates.append({"action": "add-snapshot", "snapshot": s})
        cur_refs = cur.get("refs") or {}
        new_refs = new_metadata.get("refs") or {}
        for ref_name in sorted(new_refs):
            if cur_refs.get(ref_name) != new_refs[ref_name]:
                ref = new_refs[ref_name]
                updates.append(
                    {
                        "action": "set-snapshot-ref",
                        "ref-name": ref_name,
                        **{k: v for k, v in ref.items()},
                    }
                )
        for ref_name in sorted(cur_refs):
            if ref_name not in new_refs:
                updates.append(
                    {"action": "remove-snapshot-ref", "ref-name": ref_name}
                )
        body = {
            "identifier": {"namespace": namespace.split("."), "name": name},
            "requirements": requirements,
            "updates": updates,
        }
        return self._call(
            "POST",
            f"/v1{self._p()}/namespaces/{self._ns(namespace)}/tables/{_quote(name)}",
            body,
        )

    def load_table(self, namespace: str, name: str) -> dict:
        """LoadTableResult: ``metadata-location`` + inline metadata."""
        return self._call(
            "GET",
            f"/v1{self._p()}/namespaces/{self._ns(namespace)}/tables/{_quote(name)}",
        )

    def table_exists(self, namespace: str, name: str) -> bool:
        try:
            self.load_table(namespace, name)
            return True
        except NoSuchTableError:
            return False

    def drop_table(self, namespace: str, name: str, purge: bool = False) -> None:
        purge_q = "?purgeRequested=true" if purge else ""
        self._call(
            "DELETE",
            f"/v1{self._p()}/namespaces/{self._ns(namespace)}/tables/"
            f"{_quote(name)}{purge_q}",
        )

    def list_tables(self, namespace: str) -> list[dict]:
        doc = self._call(
            "GET",
            f"/v1{self._p()}/namespaces/{self._ns(namespace)}/tables",
            nf=NoSuchNamespaceError,
        )
        return doc.get("identifiers", [])

    @staticmethod
    def _ns(namespace: str) -> str:
        # multipart namespace path encoding: unit separator %1F (spec)
        return _quote("\x1f".join(namespace.split(".")))
