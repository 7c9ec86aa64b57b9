"""Iceberg JDBC-catalog publication client (stdlib sqlite3).

The reference tests three catalog families — JDBC, Nessie and REST
(testresources/CatalogJdbc.java, CatalogNessie.java, CatalogRest.java);
``debezium.sink.iceberg.type=jdbc`` + ``.uri`` wires the first into the
sink (IcebergChangeConsumer.java:100-102).  ``rest_catalog.py`` covers
the REST family; this module covers JDBC with the same *publisher*
surface — create/load/CAS-update/drop — against the PUBLIC Iceberg JDBC
catalog table schema (apache/iceberg ``jdbc/JdbcUtil.java``; the schema
is part of Iceberg's public wire contract, interoperable across every
engine that speaks the JDBC catalog):

- ``iceberg_tables(catalog_name, table_namespace, table_name,
  metadata_location, previous_metadata_location)`` with the composite
  primary key on the first three columns;
- ``iceberg_namespace_properties(catalog_name, namespace, property_key,
  property_value)``, a namespace existing iff it has a property row or
  a table row.

The JDBC catalog's commit protocol is a COMPARE-AND-SWAP on
``metadata_location``: one ``UPDATE ... SET metadata_location = new,
previous_metadata_location = old WHERE ... AND metadata_location =
expected`` — zero rows updated means a concurrent writer moved the
pointer first (Iceberg raises CommitFailedException; so do we).  That
is a simpler CAS than REST's requirements/updates document, but the
publication semantics are identical: re-publishing moves the registered
pointer forward atomically, the table stays continuously resolvable,
and there is NO drop+register window at all (the row is updated in
place).

``uri`` accepts ``jdbc:sqlite:/path/to/catalog.db`` (the reference's
config shape, CatalogJdbc.java) or a bare filesystem path.  sqlite3 is
the stdlib backend this environment provides; the SQL is deliberately
ANSI-minimal (INSERT / UPDATE ... WHERE / DELETE / SELECT on two small
tables) so the module ports to any DB-API driver by swapping
``_connect``.  Every public operation opens its own connection,
commits or rolls back, and CLOSES it before returning (``_tx``) —
cross-process safe, no handle accumulates over a long-running
consumer's publish cadence, and the catalog rows are planning-scale
(one per table), so per-op connections cost nothing.  In-memory sqlite
paths are rejected up front: a per-op connection to ``:memory:`` would
be a fresh empty database every call.
"""

from __future__ import annotations

import sqlite3
from contextlib import contextmanager

# catalog-resolved reads are client-agnostic; importable from here too
from .catalog_commit import read_table_by_name  # noqa: F401

_TABLES_DDL = """
CREATE TABLE IF NOT EXISTS iceberg_tables (
  catalog_name TEXT NOT NULL,
  table_namespace TEXT NOT NULL,
  table_name TEXT NOT NULL,
  metadata_location TEXT,
  previous_metadata_location TEXT,
  PRIMARY KEY (catalog_name, table_namespace, table_name)
)
"""

_NS_PROPS_DDL = """
CREATE TABLE IF NOT EXISTS iceberg_namespace_properties (
  catalog_name TEXT NOT NULL,
  namespace TEXT NOT NULL,
  property_key TEXT NOT NULL,
  property_value TEXT,
  PRIMARY KEY (catalog_name, namespace, property_key)
)
"""


class JdbcCatalogError(RuntimeError):
    pass


class NoSuchNamespaceError(JdbcCatalogError):
    pass


class NoSuchTableError(JdbcCatalogError):
    pass


class AlreadyExistsError(JdbcCatalogError):
    pass


class CommitFailedError(JdbcCatalogError):
    """The CAS UPDATE matched zero rows: a concurrent writer moved
    ``metadata_location`` between the load and the commit."""


class JdbcCatalogClient:
    """Minimal JDBC-catalog client for table PUBLICATION, the sqlite
    sibling of :class:`..rest_catalog.RestCatalogClient`.

    ``catalog_name`` scopes every row (the JDBC schema is multi-catalog
    by design — one database backs many logical catalogs)."""

    def __init__(self, uri: str, catalog_name: str = "default") -> None:
        self.path = uri.removeprefix("jdbc:sqlite:")
        if self.path.startswith("jdbc:"):
            raise JdbcCatalogError(
                f"unsupported JDBC driver in {uri!r}: this environment "
                "provides sqlite3 (jdbc:sqlite:<path>); other drivers "
                "port by swapping _connect"
            )
        # every public operation opens (and CLOSES) its own connection,
        # so an in-memory database would be a fresh empty DB per call —
        # all state silently lost.  A catalog is durable by definition.
        if not self.path or ":memory:" in self.path:
            raise JdbcCatalogError(
                f"in-memory/empty sqlite path in {uri!r}: the catalog "
                "client opens one connection per operation, so ':memory:' "
                "would lose every row between calls — point the uri at a "
                "file (jdbc:sqlite:/path/to/catalog.db)"
            )
        self.catalog_name = catalog_name
        with self._tx() as conn:  # create the public schema once
            conn.execute(_TABLES_DDL)
            conn.execute(_NS_PROPS_DDL)

    def _connect(self) -> sqlite3.Connection:
        conn = sqlite3.connect(self.path, timeout=30.0)
        # IMMEDIATE: take the write lock at BEGIN so two publishers
        # serialize on the database, the same isolation the JDBC catalog
        # gets from its transactional UPDATE
        conn.isolation_level = "IMMEDIATE"
        return conn

    @contextmanager
    def _tx(self):
        """One transaction = one connection: commit/rollback via the
        connection's own context manager, then CLOSE it — per-op
        connections must not accumulate over a long-running consumer's
        publish cadence."""
        conn = self._connect()
        try:
            with conn:
                yield conn
        finally:
            conn.close()

    # ---------------------------------------------------------- namespaces
    def create_namespace(self, namespace: str, exist_ok: bool = True) -> None:
        """Namespaces materialize as a property row (``exists=true``) —
        the JDBC catalog's own convention for empty namespaces."""
        with self._tx() as conn:
            if self._ns_exists(conn, namespace):
                if exist_ok:
                    return
                raise AlreadyExistsError(f"namespace {namespace} exists")
            conn.execute(
                "INSERT OR IGNORE INTO iceberg_namespace_properties "
                "(catalog_name, namespace, property_key, property_value) "
                "VALUES (?, ?, 'exists', 'true')",
                (self.catalog_name, namespace),
            )

    def namespace_exists(self, namespace: str) -> bool:
        with self._tx() as conn:
            return self._ns_exists(conn, namespace)

    def _ns_exists(self, conn: sqlite3.Connection, namespace: str) -> bool:
        row = conn.execute(
            "SELECT 1 FROM iceberg_namespace_properties "
            "WHERE catalog_name = ? AND namespace = ? "
            "UNION ALL SELECT 1 FROM iceberg_tables "
            "WHERE catalog_name = ? AND table_namespace = ? LIMIT 1",
            (self.catalog_name, namespace, self.catalog_name, namespace),
        ).fetchone()
        return row is not None

    # -------------------------------------------------------------- tables
    def register_table(
        self,
        namespace: str,
        name: str,
        metadata_location: str,
        overwrite: bool = False,
    ) -> dict:
        """Point the catalog at an existing metadata file.  New tables
        INSERT; with ``overwrite=True`` an already-registered table
        moves forward through the catalog's own CAS (:meth:`commit_table`
        from its current pointer) — updated in place, no unregistered
        window, the same continuous-resolvability contract the REST
        client's CommitTable path gives."""
        with self._tx() as conn:
            if not self._ns_exists(conn, namespace):
                raise NoSuchNamespaceError(f"namespace {namespace} not found")
            cur = conn.execute(
                "SELECT metadata_location FROM iceberg_tables WHERE "
                "catalog_name = ? AND table_namespace = ? AND table_name = ?",
                (self.catalog_name, namespace, name),
            ).fetchone()
            if cur is None:
                # INSERT OR IGNORE + rowcount, not plain INSERT: two
                # concurrent FIRST publishers can both observe cur is
                # None (sqlite's implicit transaction only upgrades to
                # the write lock at the first write statement), and the
                # loser must surface through the module's own conflict
                # contract, not a raw IntegrityError
                n = conn.execute(
                    "INSERT OR IGNORE INTO iceberg_tables (catalog_name, "
                    "table_namespace, table_name, metadata_location, "
                    "previous_metadata_location) VALUES (?, ?, ?, ?, NULL)",
                    (self.catalog_name, namespace, name, metadata_location),
                ).rowcount
                if n == 1:
                    return {"metadata-location": metadata_location}
            if not overwrite:
                raise AlreadyExistsError(f"table {namespace}.{name} exists")
        # lost-first-insert race (cur is None, rowcount 0): CAS from the
        # winner's pointer, loaded fresh inside commit_table
        return self.commit_table(
            namespace, name, metadata_location,
            cur[0] if cur is not None else None,
        )

    def commit_table(
        self,
        namespace: str,
        name: str,
        new_metadata_location: str,
        expected_metadata_location: str | None = None,
    ) -> dict:
        """The JDBC catalog's CAS: atomically swing ``metadata_location``
        from the expected value to the new one (previous retained in
        ``previous_metadata_location``, as the public schema specifies).
        Zero rows updated ⇒ :class:`CommitFailedError` — the caller
        reloads and retries or surfaces the conflict, exactly Iceberg's
        CommitFailedException contract."""
        if expected_metadata_location is None:
            expected_metadata_location = self.load_table(namespace, name)[
                "metadata-location"
            ]
        with self._tx() as conn:
            n = conn.execute(
                "UPDATE iceberg_tables SET metadata_location = ?, "
                "previous_metadata_location = ? WHERE catalog_name = ? AND "
                "table_namespace = ? AND table_name = ? AND "
                "metadata_location = ?",
                (
                    new_metadata_location,
                    expected_metadata_location,
                    self.catalog_name,
                    namespace,
                    name,
                    expected_metadata_location,
                ),
            ).rowcount
        if n != 1:
            raise CommitFailedError(
                f"CAS on {namespace}.{name} failed: metadata_location is "
                f"no longer {expected_metadata_location!r} (concurrent "
                "commit) or the table was dropped"
            )
        return {"metadata-location": new_metadata_location}

    def load_table(self, namespace: str, name: str) -> dict:
        with self._tx() as conn:
            row = conn.execute(
                "SELECT metadata_location, previous_metadata_location "
                "FROM iceberg_tables WHERE catalog_name = ? AND "
                "table_namespace = ? AND table_name = ?",
                (self.catalog_name, namespace, name),
            ).fetchone()
        if row is None:
            raise NoSuchTableError(f"table {namespace}.{name} not found")
        return {
            "metadata-location": row[0],
            "previous-metadata-location": row[1],
        }

    def table_exists(self, namespace: str, name: str) -> bool:
        try:
            self.load_table(namespace, name)
            return True
        except NoSuchTableError:
            return False

    def drop_table(self, namespace: str, name: str) -> None:
        with self._tx() as conn:
            n = conn.execute(
                "DELETE FROM iceberg_tables WHERE catalog_name = ? AND "
                "table_namespace = ? AND table_name = ?",
                (self.catalog_name, namespace, name),
            ).rowcount
        if n != 1:
            raise NoSuchTableError(f"table {namespace}.{name} not found")

    def list_tables(self, namespace: str) -> list[str]:
        with self._tx() as conn:
            rows = conn.execute(
                "SELECT table_name FROM iceberg_tables WHERE "
                "catalog_name = ? AND table_namespace = ? ORDER BY table_name",
                (self.catalog_name, namespace),
            ).fetchall()
        return [r[0] for r in rows]
