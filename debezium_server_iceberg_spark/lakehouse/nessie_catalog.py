"""Nessie catalog publication client (public REST API v2, stdlib HTTP).

The reference tests THREE catalog families — JDBC, REST, and Nessie
(testresources/CatalogNessie.java:30-43 boots a ``projectnessie/nessie``
container and points ``debezium.sink.iceberg.catalog-impl`` at
``org.apache.iceberg.nessie.NessieCatalog``).  JDBC and REST are covered
by ``jdbc_catalog.py`` / ``rest_catalog.py``; this module closes the
third family client-side against the PUBLIC Nessie REST API v2
(projectnessie/nessie ``api/openapi`` — the same surface the stock
container serves at ``/api/v2``).  A running server needs network/a
container (env-blocked here, like the Kafka broker), so production
transport is stdlib ``urllib`` and tests replay the wire protocol
offline: byte-exact request fixtures plus an in-process fake that
implements Nessie's actual commit model (hash-chained branch history,
server-assigned content ids, key-scoped conflict detection).

Nessie's data model differs from both other families, and the client
maps it onto the same duck-typed publication surface
(``create_namespace`` / ``register_table`` / ``commit_table`` /
``load_table``) that ``catalog_commit.CatalogCommitHook`` and the
cadence publisher consume:

- A table is a CONTENT object of type ``ICEBERG_TABLE`` at a content
  key (``{"elements": ["ns", "tbl"]}``) on a named branch; the content
  carries ``metadataLocation`` — exactly the pointer the other two
  catalogs store.
- Every change is a COMMIT on the branch
  (``POST /trees/{branch}@{expectedHash}/history/commit`` with
  ``operations: [{"type": "PUT"|"DELETE", ...}]``).  The expected hash
  is Nessie's optimistic-concurrency token: the server replays the
  operations against the branch head and rejects with 409
  (``REFERENCE_CONFLICT``) if a touched KEY changed since the expected
  hash — conflict detection is key-scoped, so unrelated tables
  committing on the same branch do not contend (strictly better than a
  single-pointer CAS; pinned in tests).
- Namespaces are contents too (type ``NAMESPACE``), created by a
  commit — v2 has no separate namespace DDL endpoints.
- On the FIRST put of a key the content must carry no ``id`` (the
  server assigns one, returned in ``CommitResponse.addedContents``);
  every later put of the same key MUST carry the existing content's
  id, which the client reads back before updating.

Endpoints used (all public v2):

- ``GET  {base}/config``                          → default branch
- ``GET  {base}/trees/{ref}``                     → branch name + hash
- ``POST {base}/trees/{name}@{hash}/history/commit`` → commit
- ``POST {base}/trees/{ref}/contents``            → GetMultipleContents
  (body ``{"requestedKeys": [...]}`` — avoids the dot-notation key
  path encoding entirely)
- ``GET  {base}/trees/{ref}/entries``             → list entries

``commit_table(..., expected_metadata_location=)`` is the hook's CAS:
the client reads the branch hash AND the current content in one
request, verifies ``metadataLocation`` equals the expectation, then
commits at that hash — a foreign move between the read and the commit
surfaces as Nessie's 409, mapped to :class:`CommitFailedError`, and the
engine commit does not advance (``catalog_commit`` contract).

Like the other two clients this is publication-side only: the engine's
own commits stay on the filesystem catalog; Nessie becomes either the
cadence-published mirror (``publish_nessie_uri``) or the authoritative
commit point (``publish_mode=per_commit``).
"""

from __future__ import annotations

import json
from typing import Callable, Optional
from urllib import parse as _urlparse

from .catalog_commit import _read_metadata, _urllib_transport

Transport = Callable[[str, str, dict, Optional[bytes]], tuple]


class NessieCatalogError(RuntimeError):
    """Non-2xx Nessie response, carrying the public error-model fields."""

    def __init__(self, status: int, message: str, error_code: str = ""):
        super().__init__(f"{status} {error_code}: {message}")
        self.status = status
        self.error_code = error_code
        self.message = message


class NoSuchNamespaceError(NessieCatalogError):
    pass


class NoSuchTableError(NessieCatalogError):
    pass


class AlreadyExistsError(NessieCatalogError):
    pass


class CommitFailedError(NessieCatalogError):
    """Key-scoped commit conflict (HTTP 409 ``REFERENCE_CONFLICT``) or a
    failed expected-location check — the caller reloads and retries or
    surfaces the conflict, Iceberg's CommitFailedException contract."""


def _iceberg_content(metadata_location: str, content_id: str | None) -> dict:
    """Nessie's ``ICEBERG_TABLE`` content: the metadata pointer plus the
    ids external engines use for snapshot-level reasoning, pulled from
    the metadata document itself (the exporter just wrote it)."""
    c: dict = {"type": "ICEBERG_TABLE", "metadataLocation": metadata_location}
    if content_id is not None:
        c["id"] = content_id
    doc = _read_metadata(metadata_location)
    if doc is not None:
        c["snapshotId"] = doc.get("current-snapshot-id", -1)
        c["schemaId"] = doc.get("current-schema-id", 0)
        c["specId"] = doc.get("default-spec-id", 0)
        c["sortOrderId"] = doc.get("default-sort-order-id", 0)
    return c


class NessieCatalogClient:
    """Publication client for one branch of a Nessie v2 server.

    ``uri`` is the API root (e.g. ``http://nessie:19120/api/v2``);
    ``branch`` defaults to the server's configured default branch
    (``GET /config``), resolved lazily like the REST client's prefix."""

    def __init__(
        self,
        uri: str,
        branch: str | None = None,
        transport: Transport | None = None,
    ) -> None:
        self.uri = uri.rstrip("/")
        self._branch = branch
        self._transport = transport or _urllib_transport

    # ------------------------------------------------------------ plumbing
    def _call(
        self,
        method: str,
        path: str,
        body: dict | None = None,
        nf: type | None = None,
    ) -> dict:
        headers = {"Accept": "application/json"}
        data = None
        if body is not None:
            headers["Content-Type"] = "application/json"
            data = json.dumps(body, separators=(",", ":")).encode()
        status, raw = self._transport(
            method, f"{self.uri}{path}", headers, data
        )
        try:
            doc = json.loads(raw) if raw else {}
        except ValueError:
            doc = {}
        if 200 <= status < 300:
            return doc if isinstance(doc, dict) else {}
        msg = doc.get("message", raw[:200].decode("utf-8", "replace") if raw else "")
        code = doc.get("errorCode", "")
        if status == 409:
            raise CommitFailedError(status, msg, code)
        if status == 404 and nf is not None:
            raise nf(status, msg, code)
        raise NessieCatalogError(status, msg, code)

    def branch(self) -> str:
        """The working branch, defaulting to the server's default branch
        — one memoized ``GET /config``, the v2 bootstrap call."""
        if self._branch is None:
            cfg = self._call("GET", "/config")
            self._branch = cfg.get("defaultBranch", "main")
        return self._branch

    def _get_content(self, elements: list[str]) -> tuple[dict | None, str]:
        """(content-or-None, branch-hash) in ONE round-trip — the v2
        GetMultipleContents POST body carries the keys, so no key path
        encoding, and ``effectiveReference`` pins the hash the content
        was read at (the commit's expected hash: read + CAS token come
        from the same server-side snapshot)."""
        doc = self._call(
            "POST",
            f"/trees/{_urlparse.quote(self.branch(), safe='')}/contents",
            body={"requestedKeys": [{"elements": elements}]},
            nf=NoSuchNamespaceError,
        )
        hash_ = doc.get("effectiveReference", {}).get("hash", "")
        for entry in doc.get("contents", []):
            if entry.get("key", {}).get("elements") == elements:
                return entry.get("content"), hash_
        return None, hash_

    def _commit(
        self, operations: list[dict], message: str, expected_hash: str
    ) -> dict:
        branch = _urlparse.quote(self.branch(), safe="")
        return self._call(
            "POST",
            f"/trees/{branch}@{expected_hash}/history/commit",
            body={
                "commitMeta": {"message": message},
                "operations": operations,
            },
        )

    # ------------------------------------------------------------- surface
    def create_namespace(self, namespace: str, exist_ok: bool = True) -> None:
        """Commit a ``NAMESPACE`` content at the namespace key — v2 has
        no namespace DDL endpoint; a namespace IS a committed content."""
        elements = namespace.split(".")
        existing, head = self._get_content(elements)
        if existing is not None:
            if existing.get("type") != "NAMESPACE":
                raise AlreadyExistsError(
                    409, f"key {namespace} holds a {existing.get('type')}"
                )
            if exist_ok:
                return
            raise AlreadyExistsError(409, f"namespace {namespace} exists")
        self._commit(
            [
                {
                    "type": "PUT",
                    "key": {"elements": elements},
                    "content": {
                        "type": "NAMESPACE",
                        "elements": elements,
                        "properties": {},
                    },
                }
            ],
            f"create namespace {namespace}",
            head,
        )

    def namespace_exists(self, namespace: str) -> bool:
        content, _ = self._get_content(namespace.split("."))
        return content is not None and content.get("type") == "NAMESPACE"

    def register_table(
        self,
        namespace: str,
        name: str,
        metadata_location: str,
        overwrite: bool = False,
    ) -> dict:
        """Point the branch at an existing metadata file.  New keys PUT
        without an id (the server assigns one); an already-registered
        table moves forward through :meth:`commit_table` from its
        current pointer — updated in place on the branch history, no
        unregistered window (same contract as the JDBC client)."""
        elements = [*namespace.split("."), name]
        existing, head = self._get_content(elements)
        if existing is not None:
            if not overwrite:
                raise AlreadyExistsError(
                    409, f"table {namespace}.{name} exists"
                )
            return self.commit_table(
                namespace, name, metadata_location,
                existing.get("metadataLocation"),
            )
        try:
            self._commit(
                [
                    {
                        "type": "PUT",
                        "key": {"elements": elements},
                        "content": _iceberg_content(metadata_location, None),
                    }
                ],
                f"register {namespace}.{name}",
                head,
            )
        except CommitFailedError:
            if not overwrite:
                # lost first-publish race: the winner's put landed
                # between our read and our commit — surface the
                # module's conflict contract, not a raw 409
                raise AlreadyExistsError(
                    409, f"table {namespace}.{name} exists (concurrent "
                    "first publish)"
                )
            existing, _ = self._get_content(elements)
            return self.commit_table(
                namespace, name, metadata_location,
                existing.get("metadataLocation") if existing else None,
            )
        return {"metadata-location": metadata_location}

    def commit_table(
        self,
        namespace: str,
        name: str,
        new_metadata_location: str,
        expected_metadata_location: str | None = None,
    ) -> dict:
        """Nessie's CAS: read content + branch hash from one snapshot,
        verify the pointer equals the expectation, commit the updated
        content AT that hash.  A foreign move between read and commit is
        a key-scoped 409 → :class:`CommitFailedError`; commits touching
        OTHER keys on the branch do not conflict (Nessie semantics,
        pinned in tests — better than a whole-catalog pointer race)."""
        elements = [*namespace.split("."), name]
        existing, head = self._get_content(elements)
        if existing is None or existing.get("type") != "ICEBERG_TABLE":
            raise NoSuchTableError(
                404, f"table {namespace}.{name} not found"
            )
        current = existing.get("metadataLocation")
        if (
            expected_metadata_location is not None
            and current != expected_metadata_location
        ):
            raise CommitFailedError(
                409,
                f"CAS on {namespace}.{name} failed: metadataLocation is "
                f"{current!r}, not {expected_metadata_location!r} "
                "(concurrent commit)",
                "REFERENCE_CONFLICT",
            )
        self._commit(
            [
                {
                    "type": "PUT",
                    "key": {"elements": elements},
                    "content": _iceberg_content(
                        new_metadata_location, existing.get("id")
                    ),
                }
            ],
            f"commit {namespace}.{name}",
            head,
        )
        return {"metadata-location": new_metadata_location}

    def load_table(self, namespace: str, name: str) -> dict:
        content, _ = self._get_content([*namespace.split("."), name])
        if content is None or content.get("type") != "ICEBERG_TABLE":
            raise NoSuchTableError(404, f"table {namespace}.{name} not found")
        return {
            "metadata-location": content.get("metadataLocation"),
            "content-id": content.get("id"),
            "snapshot-id": content.get("snapshotId"),
        }

    def table_exists(self, namespace: str, name: str) -> bool:
        try:
            self.load_table(namespace, name)
            return True
        except NoSuchTableError:
            return False

    def drop_table(self, namespace: str, name: str) -> None:
        elements = [*namespace.split("."), name]
        existing, head = self._get_content(elements)
        if existing is None or existing.get("type") != "ICEBERG_TABLE":
            raise NoSuchTableError(404, f"table {namespace}.{name} not found")
        self._commit(
            [{"type": "DELETE", "key": {"elements": elements}}],
            f"drop {namespace}.{name}",
            head,
        )

    def list_tables(self, namespace: str) -> list[str]:
        """Entries on the branch filtered client-side to direct
        ``ICEBERG_TABLE`` children of the namespace — one unfiltered
        ``GET /entries`` page walk; server-side CEL filtering is an
        optimization a publisher doesn't need."""
        ns_elements = namespace.split(".")
        branch = _urlparse.quote(self.branch(), safe="")
        names: list[str] = []
        token = None
        while True:
            path = f"/trees/{branch}/entries"
            if token:
                path += f"?page-token={_urlparse.quote(token, safe='')}"
            doc = self._call("GET", path)
            for entry in doc.get("entries", []):
                els = entry.get("name", {}).get("elements", [])
                if (
                    entry.get("type") == "ICEBERG_TABLE"
                    and els[:-1] == ns_elements
                    and len(els) == len(ns_elements) + 1
                ):
                    names.append(els[-1])
            token = doc.get("token")
            if not doc.get("hasMore") or not token:
                return sorted(names)
