"""Iceberg JDBC-catalog publication client: the REST suite's pattern
replayed against a REAL sqlite file (stdlib sqlite3 — the public
Iceberg JDBC catalog schema, apache/iceberg jdbc/JdbcUtil.java), the
catalog family the reference wires via ``debezium.sink.iceberg.type=
jdbc`` (testresources/CatalogJdbc.java)."""

import sqlite3

import pytest

from debezium_server_iceberg_spark.lakehouse.jdbc_catalog import (
    AlreadyExistsError,
    CommitFailedError,
    JdbcCatalogClient,
    JdbcCatalogError,
    NoSuchNamespaceError,
    NoSuchTableError,
)
from debezium_server_iceberg_spark.lakehouse.catalog_commit import (
    publish_to_catalog,
    read_table_by_name,
)


def _client(tmp_path, name="default"):
    return JdbcCatalogClient(
        f"jdbc:sqlite:{tmp_path / 'catalog.db'}", catalog_name=name
    )


def test_schema_is_the_public_jdbc_catalog_layout(tmp_path):
    """The sqlite file holds EXACTLY the public Iceberg JDBC catalog
    tables — any engine speaking the JDBC catalog reads the same rows."""
    c = _client(tmp_path)
    c.create_namespace("ns")
    c.register_table("ns", "t", "/wh/v1.metadata.json")
    conn = sqlite3.connect(str(tmp_path / "catalog.db"))
    tables = {
        r[0]
        for r in conn.execute(
            "SELECT name FROM sqlite_master WHERE type='table'"
        )
    }
    assert {"iceberg_tables", "iceberg_namespace_properties"} <= tables
    row = conn.execute(
        "SELECT catalog_name, table_namespace, table_name, "
        "metadata_location, previous_metadata_location FROM iceberg_tables"
    ).fetchone()
    assert row == ("default", "ns", "t", "/wh/v1.metadata.json", None)


def test_register_load_drop_roundtrip(tmp_path):
    c = _client(tmp_path)
    with pytest.raises(NoSuchNamespaceError):
        c.register_table("ns", "t", "/wh/v1.metadata.json")
    c.create_namespace("ns")
    assert c.namespace_exists("ns") and not c.namespace_exists("other")
    c.register_table("ns", "t", "/wh/v1.metadata.json")
    assert c.load_table("ns", "t")["metadata-location"] == "/wh/v1.metadata.json"
    assert c.table_exists("ns", "t") and not c.table_exists("ns", "nope")
    assert c.list_tables("ns") == ["t"]
    c.drop_table("ns", "t")
    assert not c.table_exists("ns", "t")
    with pytest.raises(NoSuchTableError):
        c.drop_table("ns", "t")


def test_register_without_overwrite_propagates_conflict(tmp_path):
    c = _client(tmp_path)
    c.create_namespace("ns")
    c.register_table("ns", "t", "/wh/v1.metadata.json")
    with pytest.raises(AlreadyExistsError):
        c.register_table("ns", "t", "/wh/v2.metadata.json")


def test_republish_cas_moves_pointer_in_place(tmp_path):
    """Re-publish = one CAS UPDATE: metadata_location swings forward,
    previous_metadata_location retains the old pointer, and the table
    row never disappears (no unregistered window, unlike the REST
    drop+register fallback)."""
    c = _client(tmp_path)
    publish_to_catalog(c, "ns", "t", "/wh/v1.metadata.json")
    publish_to_catalog(c, "ns", "t", "/wh/v2.metadata.json")
    got = c.load_table("ns", "t")
    assert got["metadata-location"] == "/wh/v2.metadata.json"
    assert got["previous-metadata-location"] == "/wh/v1.metadata.json"
    # idempotent: same location CASes from itself to itself
    publish_to_catalog(c, "ns", "t", "/wh/v2.metadata.json")
    assert c.load_table("ns", "t")["metadata-location"] == "/wh/v2.metadata.json"


def test_concurrent_commit_fails_cas(tmp_path):
    """Iceberg's CommitFailedException contract: a commit whose expected
    pointer is stale (another writer moved it) matches zero rows."""
    c = _client(tmp_path)
    publish_to_catalog(c, "ns", "t", "/wh/v1.metadata.json")
    c.commit_table("ns", "t", "/wh/v2.metadata.json", "/wh/v1.metadata.json")
    with pytest.raises(CommitFailedError):
        c.commit_table("ns", "t", "/wh/v3.metadata.json", "/wh/v1.metadata.json")
    # expected=None loads the current pointer first — succeeds
    c.commit_table("ns", "t", "/wh/v3.metadata.json")
    assert c.load_table("ns", "t")["metadata-location"] == "/wh/v3.metadata.json"


def test_catalog_name_scopes_rows(tmp_path):
    """One database, many logical catalogs — the multi-catalog shape the
    public schema's catalog_name column exists for."""
    a = _client(tmp_path, "cat_a")
    b = _client(tmp_path, "cat_b")
    publish_to_catalog(a, "ns", "t", "/a/v1.metadata.json")
    assert not b.table_exists("ns", "t")
    publish_to_catalog(b, "ns", "t", "/b/v1.metadata.json")
    assert a.load_table("ns", "t")["metadata-location"] == "/a/v1.metadata.json"
    assert b.load_table("ns", "t")["metadata-location"] == "/b/v1.metadata.json"


def test_unsupported_driver_refused(tmp_path):
    with pytest.raises(JdbcCatalogError, match="sqlite"):
        JdbcCatalogClient("jdbc:postgresql://host/db")


def test_consumer_publish_registers_with_jdbc_catalog(spark, warehouse, tmp_path):
    """End-to-end: consumer export + JDBC registration — the sqlite row
    adopts the EXACT metadata file the exporter wrote."""
    from fixtures import customer_event

    from debezium_server_iceberg_spark.config import EngineConfig
    from debezium_server_iceberg_spark.sources.debezium_json import (
        RAW_ENVELOPE_SCHEMA,
    )
    from debezium_server_iceberg_spark.streaming.consumer import ChangeConsumer

    cfg = EngineConfig()
    cfg.iceberg.warehouse = warehouse
    cfg.iceberg.namespace = "debeziumevents"
    c = ChangeConsumer(cfg)
    c.handle_batch(
        spark.createDataFrame(
            [customer_event(1, "a", op="c", ts_ms=1)], RAW_ENVELOPE_SCHEMA
        ),
        epoch_id=0,
    )
    (tbl,) = c.catalog.list_tables("debeziumevents")
    uri = f"jdbc:sqlite:{tmp_path / 'catalog.db'}"
    md = c.publish_iceberg(
        spark, tbl, str(tmp_path / "export"), jdbc_uri=uri
    )
    client = JdbcCatalogClient(uri)
    assert client.load_table("debeziumevents", tbl)["metadata-location"] == md
    # re-publish after another commit: the pointer CASes forward
    c.handle_batch(
        spark.createDataFrame(
            [customer_event(2, "b", op="c", ts_ms=2)], RAW_ENVELOPE_SCHEMA
        ),
        epoch_id=1,
    )
    md2 = c.publish_iceberg(spark, tbl, str(tmp_path / "export"), jdbc_uri=uri)
    got = client.load_table("debeziumevents", tbl)
    assert got["metadata-location"] == md2 and md2 != md
    assert got["previous-metadata-location"] == md


def test_read_table_by_name_resolves_jdbc_catalog_metadata(spark, warehouse, tmp_path):
    """Catalog-resolved read: the engine reads the REGISTERED metadata
    file, never the filesystem version-hint, which is already ahead
    after an export that was never published — same contract as the
    REST twin."""
    from pyspark.sql import types as T

    from debezium_server_iceberg_spark.lakehouse import LakeCatalog
    from debezium_server_iceberg_spark.lakehouse.iceberg_export import (
        export_iceberg_table,
        read_iceberg_table,
    )

    cat = LakeCatalog(warehouse)
    t = cat.create_table(
        "pub", "cust",
        T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
        ]),
    )
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string"))
    dest = str(tmp_path / "export")
    md_path = export_iceberg_table(t, dest)

    client = _client(tmp_path)
    publish_to_catalog(client, "pub", "cust", md_path)
    got = read_table_by_name(spark, client, "pub", "cust")
    assert sorted(map(tuple, got.collect())) == [(1, "a"), (2, "b")]

    t.append(spark.createDataFrame([(3, "c")], "id long, name string"))
    export_iceberg_table(t, dest)
    assert sorted(
        map(tuple, read_table_by_name(spark, client, "pub", "cust").collect())
    ) == [(1, "a"), (2, "b")]
    assert sorted(map(tuple, read_iceberg_table(spark, dest).collect())) == [
        (1, "a"), (2, "b"), (3, "c"),
    ]


def test_consumer_publish_cadence_continuous_jdbc_catalog(spark, warehouse, tmp_path):
    """publish_every_commits with publish_jdbc_uri: the sqlite catalog
    follows the CDC table, at most N commits stale — the jdbc face of
    the continuous-publication loop."""
    from fixtures import customer_event

    from debezium_server_iceberg_spark.config import EngineConfig
    from debezium_server_iceberg_spark.sources.debezium_json import (
        RAW_ENVELOPE_SCHEMA,
    )
    from debezium_server_iceberg_spark.streaming.consumer import ChangeConsumer

    uri = f"jdbc:sqlite:{tmp_path / 'catalog.db'}"
    cfg = EngineConfig()
    cfg.iceberg.warehouse = warehouse
    cfg.iceberg.namespace = "debeziumevents"
    cfg.iceberg.publish_every_commits = 1
    cfg.iceberg.publish_dest = str(tmp_path / "export")
    cfg.iceberg.publish_jdbc_uri = uri
    c = ChangeConsumer(cfg)
    client = JdbcCatalogClient(uri)
    locations = []
    for i in range(2):
        c.handle_batch(
            spark.createDataFrame(
                [customer_event(i, f"v{i}", op="c", ts_ms=i + 1)],
                RAW_ENVELOPE_SCHEMA,
            ),
            epoch_id=i,
        )
        (tbl,) = c.catalog.list_tables("debeziumevents")
        locations.append(
            client.load_table("debeziumevents", tbl)["metadata-location"]
        )
    assert locations[0] != locations[1]  # the catalog moved with the table
    got = read_table_by_name(spark, client, "debeziumevents", tbl)
    assert got.count() == 2


def test_memory_uri_rejected(tmp_path):
    """Per-op connections make ':memory:' a fresh empty database every
    call — all catalog state silently lost.  Rejected up front, same
    loudness as the unsupported-driver check."""
    for uri in ("jdbc:sqlite::memory:", ":memory:", ""):
        with pytest.raises(JdbcCatalogError, match="memory|empty"):
            JdbcCatalogClient(uri)


class _RaceOnFirstSelect(JdbcCatalogClient):
    """Deterministic replay of the first-publish race: the SELECT inside
    register_table observes no row (as if it ran before the concurrent
    winner's INSERT committed), but by INSERT time the winner's row is
    there — the exact interleaving sqlite's late write-lock upgrade
    allows."""

    def __init__(self, uri, winner_location):
        self._winner_location = winner_location
        self._raced = False
        super().__init__(uri)

    from contextlib import contextmanager

    @contextmanager
    def _tx(self):
        outer = self

        with super()._tx() as conn:
            class _Proxy:
                def execute(self, sql, params=()):
                    if (
                        "SELECT metadata_location FROM iceberg_tables" in sql
                        and not outer._raced
                    ):
                        outer._raced = True

                        class _Cur:
                            @staticmethod
                            def fetchone():
                                return None

                        # simulate the winner committing AFTER our read —
                        # on its OWN connection (a real concurrent writer),
                        # so the loser's rollback cannot undo it
                        winner = sqlite3.connect(outer.path)
                        with winner:
                            winner.execute(
                                "INSERT OR IGNORE INTO iceberg_tables "
                                "(catalog_name, table_namespace, table_name,"
                                " metadata_location, "
                                "previous_metadata_location)"
                                " VALUES (?, ?, ?, ?, NULL)",
                                (outer.catalog_name, params[1], params[2],
                                 outer._winner_location),
                            )
                        winner.close()
                        return _Cur()
                    return conn.execute(sql, params)

            yield _Proxy()


def test_first_publish_race_surfaces_conflict_contract(tmp_path):
    """Two concurrent FIRST publishers: the loser's INSERT must surface
    through the module's documented conflict contract (AlreadyExists /
    CAS from the winner's pointer), never a raw sqlite3.IntegrityError."""
    uri = f"jdbc:sqlite:{tmp_path / 'race.db'}"
    loser = _RaceOnFirstSelect(uri, winner_location="/wh/winner.metadata.json")
    loser.create_namespace("ns")
    with pytest.raises(AlreadyExistsError):
        loser.register_table("ns", "t", "/wh/loser.metadata.json")
    # winner's pointer intact
    assert (
        loser.load_table("ns", "t")["metadata-location"]
        == "/wh/winner.metadata.json"
    )
    # overwrite=True on the same race: the loser CASes forward from the
    # winner's pointer instead of erroring
    loser2 = _RaceOnFirstSelect(uri, winner_location="/wh/other.metadata.json")
    loser2.create_namespace("ns2")
    out = loser2.register_table(
        "ns2", "t2", "/wh/loser2.metadata.json", overwrite=True
    )
    assert out["metadata-location"] == "/wh/loser2.metadata.json"
    got = loser2.load_table("ns2", "t2")
    assert got["metadata-location"] == "/wh/loser2.metadata.json"
    assert got["previous-metadata-location"] == "/wh/other.metadata.json"


def test_connections_closed_per_operation(tmp_path):
    """_tx closes its connection even when the body raises — a
    long-running publish cadence must not leak handles."""
    c = _client(tmp_path)
    c.create_namespace("ns")
    held = []
    orig = JdbcCatalogClient._connect

    def tracking(self):
        conn = orig(self)
        held.append(conn)
        return conn

    JdbcCatalogClient._connect = tracking
    try:
        c.register_table("ns", "t", "/wh/v1.metadata.json")
        with pytest.raises(AlreadyExistsError):
            c.register_table("ns", "t", "/wh/v2.metadata.json")
    finally:
        JdbcCatalogClient._connect = orig
    assert held, "tracking hook never fired"
    for conn in held:
        with pytest.raises(sqlite3.ProgrammingError):
            conn.execute("SELECT 1")  # closed connection
