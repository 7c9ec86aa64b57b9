"""Iceberg REST-catalog publication client: spec-level request/response
tests against recorded fixtures (no network) — the wire sequence is
byte-asserted, mirroring how the reference deploys against a REST
catalog (testresources/CatalogRest.java runs apache/iceberg-rest-fixture
and points ``debezium.sink.iceberg.type=rest`` at it)."""

import json

import pytest

from debezium_server_iceberg_spark.lakehouse.rest_catalog import (
    AlreadyExistsError,
    NoSuchTableError,
    RestCatalogClient,
    RestCatalogError,
)
from debezium_server_iceberg_spark.lakehouse.catalog_commit import (
    publish_to_catalog,
)


class RecordedTransport:
    """Replays canned (status, body) responses and records every request
    as (method, url, content-type, body-bytes)."""

    def __init__(self, responses):
        self.responses = list(responses)
        self.requests = []

    def __call__(self, method, url, headers, body):
        self.requests.append(
            (method, url, headers.get("Content-Type"), body)
        )
        status, doc = self.responses.pop(0)
        return status, json.dumps(doc).encode() if doc is not None else b""


CONFIG_OK = (200, {"defaults": {}, "overrides": {"prefix": "w1"}})
CONFIG_NOPREFIX = (200, {"defaults": {}, "overrides": {}})


def test_publish_sequence_fresh_table_bytes():
    """Fresh publish: config handshake -> create namespace -> register.
    Exact bytes on the wire, spec-shaped bodies."""
    t = RecordedTransport(
        [
            CONFIG_OK,
            (200, {"namespace": ["cdc"], "properties": {}}),
            (200, {"metadata-location": "file:///wh/t/metadata/v1.metadata.json",
                   "metadata": {"table-uuid": "u"}}),
        ]
    )
    c = RestCatalogClient("http://cat:8181", transport=t)
    out = publish_to_catalog(
        c, "cdc", "orders", "file:///wh/t/metadata/v1.metadata.json"
    )
    assert out["metadata-location"].endswith("v1.metadata.json")
    assert [(m, u) for m, u, _, _ in t.requests] == [
        ("GET", "http://cat:8181/v1/config"),
        ("POST", "http://cat:8181/v1/w1/namespaces"),
        ("POST", "http://cat:8181/v1/w1/namespaces/cdc/register"),
    ]
    # byte-exact spec bodies (sorted keys -> deterministic)
    assert t.requests[1][3] == b'{"namespace": ["cdc"], "properties": {}}'
    assert t.requests[2][3] == (
        b'{"metadata-location": "file:///wh/t/metadata/v1.metadata.json", '
        b'"name": "orders"}'
    )
    assert all(
        ct == "application/json" for _, _, ct, b in t.requests if b is not None
    )


def test_republish_drops_and_reregisters():
    """Re-publish: namespace 409 tolerated, register 409 -> drop (no
    purge — data stays on shared storage) -> register again."""
    t = RecordedTransport(
        [
            CONFIG_NOPREFIX,
            (409, {"error": {"message": "exists", "type":
                   "AlreadyExistsException", "code": 409}}),
            (409, {"error": {"message": "table exists", "type":
                   "AlreadyExistsException", "code": 409}}),
            (204, None),
            (200, {"metadata-location": "file:///wh/t/metadata/v2.metadata.json"}),
        ]
    )
    c = RestCatalogClient("http://cat:8181", transport=t)
    out = publish_to_catalog(
        c, "cdc", "orders", "file:///wh/t/metadata/v2.metadata.json"
    )
    assert out["metadata-location"].endswith("v2.metadata.json")
    assert [(m, u) for m, u, _, _ in t.requests] == [
        ("GET", "http://cat:8181/v1/config"),
        ("POST", "http://cat:8181/v1/namespaces"),
        ("POST", "http://cat:8181/v1/namespaces/cdc/register"),
        ("DELETE", "http://cat:8181/v1/namespaces/cdc/tables/orders"),
        ("POST", "http://cat:8181/v1/namespaces/cdc/register"),
    ]
    # both register attempts carry the identical spec body
    assert t.requests[2][3] == t.requests[4][3]


def test_register_without_overwrite_propagates_conflict():
    t = RecordedTransport(
        [
            CONFIG_NOPREFIX,
            (409, {"error": {"message": "table exists", "type":
                   "AlreadyExistsException", "code": 409}}),
        ]
    )
    c = RestCatalogClient("http://cat:8181", transport=t)
    with pytest.raises(AlreadyExistsError):
        c.register_table("cdc", "orders", "file:///x/v1.metadata.json")


def test_error_model_mapping_and_auth_header():
    """404 -> NoSuchTable, bearer token on every request, multipart
    namespace uses the spec's %1F unit-separator path encoding, and the
    config handshake forwards the warehouse."""
    t = RecordedTransport(
        [
            CONFIG_OK,
            (404, {"error": {"message": "no table", "type":
                   "NoSuchTableException", "code": 404}}),
        ]
    )
    c = RestCatalogClient(
        "http://cat:8181/", token="tok123", warehouse="s3://wh", transport=t
    )
    with pytest.raises(NoSuchTableError):
        c.load_table("a.b", "t1")
    assert t.requests[0][1] == "http://cat:8181/v1/config?warehouse=s3%3A%2F%2Fwh"
    assert t.requests[1][1] == "http://cat:8181/v1/w1/namespaces/a%1Fb/tables/t1"
    # bearer token rides every request
    seen = []

    def spy(method, url, headers, body):
        seen.append(headers.get("Authorization"))
        return 200, json.dumps({"defaults": {}, "overrides": {}}).encode()

    RestCatalogClient("http://cat:8181", token="tok123", transport=spy)._p()
    assert seen == ["Bearer tok123"]


def test_unexpected_status_raises_generic_error():
    t = RecordedTransport([CONFIG_NOPREFIX, (503, None)])
    c = RestCatalogClient("http://cat:8181", transport=t)
    with pytest.raises(RestCatalogError) as ei:
        c.list_tables("cdc")
    assert ei.value.status == 503


def test_consumer_publish_registers_with_catalog(spark, warehouse, tmp_path):
    """End-to-end: consumer export + REST registration — the recorded
    transport sees the catalog adopt the EXACT metadata file the
    exporter wrote."""
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
    t = RecordedTransport(
        [
            CONFIG_NOPREFIX,
            (200, {"namespace": ["debeziumevents"]}),
            (200, {"metadata-location": "registered"}),
        ]
    )
    md = c.publish_iceberg(
        spark, tbl, str(tmp_path / "export"),
        rest_uri="http://cat:8181", rest_transport=t,
    )
    reg = json.loads(t.requests[2][3])
    assert reg["metadata-location"] == md  # the file export_iceberg wrote
    assert reg["name"] == tbl
    assert t.requests[1][3] == (
        b'{"namespace": ["debeziumevents"], "properties": {}}'
    )


def _md(snap_ids, uuid="u1", props=None, schemas=None):
    """Spec-shaped metadata doc with the given snapshot chain."""
    return {
        "format-version": 2,
        "table-uuid": uuid,
        "current-schema-id": 0,
        "schemas": schemas or [{"schema-id": 0, "type": "struct", "fields": []}],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": props or {},
        "current-snapshot-id": snap_ids[-1],
        "refs": {"main": {"snapshot-id": snap_ids[-1], "type": "branch"}},
        "snapshots": [
            {"snapshot-id": s, "sequence-number": i + 1}
            for i, s in enumerate(snap_ids)
        ],
    }


def test_republish_commits_via_cas(tmp_path):
    """Re-publish of a readable metadata file moves the catalog forward
    through the spec's CommitTable CAS — requirements block byte-exact,
    updates = the new file's delta, and NO DELETE anywhere (the table
    stays continuously resolvable)."""
    old = _md([100], props={"a": "1"})
    new = _md([100, 200], props={"a": "1", "b": "2"})
    p = tmp_path / "v2.metadata.json"
    p.write_text(json.dumps(new))
    t = RecordedTransport(
        [
            CONFIG_NOPREFIX,
            (409, {"error": {"message": "exists", "type":
                   "AlreadyExistsException", "code": 409}}),
            (409, {"error": {"message": "table exists", "type":
                   "AlreadyExistsException", "code": 409}}),
            (200, {"metadata-location": "v1", "metadata": old}),
            (200, {"metadata-location": str(p), "metadata": new}),
        ]
    )
    c = RestCatalogClient("http://cat:8181", transport=t)
    out = publish_to_catalog(c, "cdc", "orders", str(p))
    assert out["metadata-location"] == str(p)
    assert [(m, u) for m, u, _, _ in t.requests] == [
        ("GET", "http://cat:8181/v1/config"),
        ("POST", "http://cat:8181/v1/namespaces"),
        ("POST", "http://cat:8181/v1/namespaces/cdc/register"),
        ("GET", "http://cat:8181/v1/namespaces/cdc/tables/orders"),
        ("POST", "http://cat:8181/v1/namespaces/cdc/tables/orders"),
    ]
    body = json.loads(t.requests[4][3])
    assert body["identifier"] == {"namespace": ["cdc"], "name": "orders"}
    assert body["requirements"] == [
        {"type": "assert-table-uuid", "uuid": "u1"},
        {"type": "assert-ref-snapshot-id", "ref": "main", "snapshot-id": 100},
    ]
    assert {"action": "add-snapshot",
            "snapshot": {"snapshot-id": 200, "sequence-number": 2}} in body["updates"]
    assert {"action": "set-snapshot-ref", "ref-name": "main",
            "snapshot-id": 200, "type": "branch"} in body["updates"]
    assert {"action": "set-properties", "updates": {"b": "2"}} in body["updates"]
    assert not any(u["action"] == "add-schema" for u in body["updates"])


def test_republish_falls_back_when_commit_rejected(tmp_path):
    """A 409 from the CAS (requirement failed / concurrent writer) falls
    back to drop+register; ditto a different table-uuid, which skips the
    doomed commit entirely."""
    old = _md([100], uuid="OTHER")
    new = _md([100, 200])
    p = tmp_path / "v2.metadata.json"
    p.write_text(json.dumps(new))
    t = RecordedTransport(
        [
            CONFIG_NOPREFIX,
            (409, {"error": {"message": "table exists", "type":
                   "AlreadyExistsException", "code": 409}}),
            (200, {"metadata-location": "v1", "metadata": old}),  # uuid mismatch
            (204, None),
            (200, {"metadata-location": str(p)}),
        ]
    )
    c = RestCatalogClient("http://cat:8181", transport=t)
    c.register_table("cdc", "orders", str(p), overwrite=True)
    assert [m for m, _, _, _ in t.requests] == [
        "GET", "POST", "GET", "DELETE", "POST"
    ]


def test_fallback_reregister_retries_once(tmp_path):
    """The drop+register fallback's re-register retries once so a
    transient failure doesn't strand the table unregistered."""
    t = RecordedTransport(
        [
            CONFIG_NOPREFIX,
            (409, {"error": {"message": "table exists", "type":
                   "AlreadyExistsException", "code": 409}}),
            (204, None),
            (503, None),
            (200, {"metadata-location": "file:///x/v2.metadata.json"}),
        ]
    )
    c = RestCatalogClient("http://cat:8181", transport=t)
    out = c.register_table(
        "cdc", "orders", "file:///does/not/exist/v2.metadata.json",
        overwrite=True,
    )
    assert out["metadata-location"].endswith("v2.metadata.json")
    assert [m for m, _, _, _ in t.requests] == [
        "GET", "POST", "DELETE", "POST", "POST"
    ]


def test_404_with_empty_body_classified_by_endpoint():
    """A catalog returning an empty/non-spec 404 body still classifies
    by the endpoint called: namespace_exists returns False instead of
    raising NoSuchTableError."""
    t = RecordedTransport([CONFIG_NOPREFIX, (404, None), (404, None)])
    c = RestCatalogClient("http://cat:8181", transport=t)
    assert c.namespace_exists("cdc") is False
    assert c.table_exists("cdc", "orders") is False


class FakeRestCatalog:
    """In-memory catalog that REALLY applies the protocol: register
    adopts the metadata file's content, CommitTable checks requirements
    and applies updates, load reflects current state."""

    def __init__(self):
        self.namespaces = set()
        self.tables = {}
        self.log = []

    def _doc(self, path):
        with open(path.replace("file://", "")) as fh:
            return json.load(fh)

    def __call__(self, method, url, headers, body):
        self.log.append((method, url))
        path = url.split("8181", 1)[1]
        seg = [s for s in path.split("?")[0].split("/") if s]
        req = json.loads(body) if body else {}
        if seg == ["v1", "config"]:
            return 200, json.dumps({"defaults": {}, "overrides": {}}).encode()
        if seg == ["v1", "namespaces"] and method == "POST":
            ns = ".".join(req["namespace"])
            if ns in self.namespaces:
                return 409, json.dumps({"error": {
                    "message": "exists", "type": "AlreadyExistsException",
                    "code": 409}}).encode()
            self.namespaces.add(ns)
            return 200, json.dumps({"namespace": req["namespace"]}).encode()
        if len(seg) == 4 and seg[3] == "register" and method == "POST":
            key = (seg[2], req["name"])
            if key in self.tables:
                return 409, json.dumps({"error": {
                    "message": "table exists",
                    "type": "AlreadyExistsException", "code": 409}}).encode()
            self.tables[key] = {
                "metadata-location": req["metadata-location"],
                "metadata": self._doc(req["metadata-location"]),
            }
            return 200, json.dumps(self.tables[key]).encode()
        if len(seg) == 5 and seg[3] == "tables":
            key = (seg[2], seg[4])
            if method == "GET":
                if key not in self.tables:
                    return 404, b""
                return 200, json.dumps(self.tables[key]).encode()
            if method == "DELETE":
                self.tables.pop(key, None)
                return 204, b""
            if method == "POST":  # CommitTable
                if key not in self.tables:
                    return 404, b""
                md = json.loads(json.dumps(self.tables[key]["metadata"]))
                for r in req["requirements"]:
                    if r["type"] == "assert-table-uuid":
                        if md.get("table-uuid") != r["uuid"]:
                            return 409, b""
                    elif r["type"] == "assert-ref-snapshot-id":
                        cur = (md.get("refs") or {}).get(r["ref"]) or {}
                        if cur.get("snapshot-id") != r["snapshot-id"]:
                            return 409, b""
                for u in req["updates"]:
                    a = u["action"]
                    if a == "add-snapshot":
                        md["snapshots"].append(u["snapshot"])
                    elif a == "set-snapshot-ref":
                        md.setdefault("refs", {})[u["ref-name"]] = {
                            k: v for k, v in u.items()
                            if k not in ("action", "ref-name")
                        }
                        if u["ref-name"] == "main":
                            md["current-snapshot-id"] = u["snapshot-id"]
                    elif a == "add-schema":
                        md["schemas"].append(u["schema"])
                    elif a == "set-current-schema":
                        md["current-schema-id"] = u["schema-id"]
                    elif a == "set-properties":
                        md["properties"].update(u["updates"])
                    elif a == "remove-properties":
                        for k in u["removals"]:
                            md["properties"].pop(k, None)
                n = sum(1 for m, _ in self.log if m == "POST")
                self.tables[key] = {
                    "metadata-location": f"committed-{n}",
                    "metadata": md,
                }
                return 200, json.dumps(self.tables[key]).encode()
        return 400, b""


def test_consumer_republish_stays_resolvable_via_cas(spark, warehouse, tmp_path):
    """End-to-end against a catalog that APPLIES the protocol: first
    publish registers; a second publish after more commits moves the
    catalog forward via CommitTable — no DELETE ever issued, the
    catalog's snapshot chain and main ref equal the exporter's new
    metadata file."""
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
    fake = FakeRestCatalog()
    dest = str(tmp_path / "export")
    c.publish_iceberg(spark, tbl, dest, rest_uri="http://cat:8181",
                      rest_transport=fake)

    c.handle_batch(
        spark.createDataFrame(
            [customer_event(2, "b", op="c", ts_ms=2)], RAW_ENVELOPE_SCHEMA
        ),
        epoch_id=1,
    )
    md_path = c.publish_iceberg(spark, tbl, dest, rest_uri="http://cat:8181",
                                rest_transport=fake)

    assert not any(m == "DELETE" for m, _ in fake.log)
    new_doc = json.load(open(md_path))
    got = fake.tables[("debeziumevents", tbl)]["metadata"]
    assert {s["snapshot-id"] for s in got["snapshots"]} == {
        s["snapshot-id"] for s in new_doc["snapshots"]
    }
    assert got["refs"]["main"] == new_doc["refs"]["main"]
    assert got["current-snapshot-id"] == new_doc["current-snapshot-id"]


def test_consumer_publish_cadence_continuous_catalog(spark, warehouse, tmp_path):
    """publish_every_commits: the consumer exports + CAS-publishes on a
    snapshot-distance cadence, so the REST catalog's view of a CDC table
    is continuously fresh (at most N commits stale) — approximating the
    reference's every-commit-is-a-catalog-commit deployment.  Cadence
    state is durable in a table property; re-publish never DELETEs."""
    from fixtures import customer_event

    from debezium_server_iceberg_spark.config import EngineConfig
    from debezium_server_iceberg_spark.sources.debezium_json import (
        RAW_ENVELOPE_SCHEMA,
    )
    from debezium_server_iceberg_spark.streaming.consumer import ChangeConsumer

    cfg = EngineConfig()
    cfg.iceberg.warehouse = warehouse
    cfg.iceberg.namespace = "debeziumevents"
    cfg.iceberg.publish_every_commits = 2
    cfg.iceberg.publish_dest = str(tmp_path / "pub")
    cfg.iceberg.publish_rest_uri = "http://cat:8181"
    c = ChangeConsumer(cfg)
    fake = FakeRestCatalog()
    c.rest_transport = fake

    def batch(i):
        c.handle_batch(
            spark.createDataFrame(
                [customer_event(i, f"n{i}", op="c", ts_ms=i)], RAW_ENVELOPE_SCHEMA
            ),
            epoch_id=i,
        )

    batch(1)
    assert not fake.tables  # one commit: below cadence
    batch(2)
    (tbl,) = c.catalog.list_tables("debeziumevents")
    key = ("debeziumevents", tbl)
    assert key in fake.tables  # cadence hit: exported + registered
    # export history is ONE snapshot per PUBLISH (each publish folds the
    # engine commits since the last one)
    assert len(fake.tables[key]["metadata"]["snapshots"]) == 1
    snap1 = fake.tables[key]["metadata"]["current-snapshot-id"]

    batch(3)
    assert len(fake.tables[key]["metadata"]["snapshots"]) == 1  # stale by 1: ok
    batch(4)
    got = fake.tables[key]["metadata"]
    assert len(got["snapshots"]) == 2  # CAS moved the catalog forward
    assert got["current-snapshot-id"] != snap1
    assert not any(m == "DELETE" for m, _ in fake.log)
    # cadence state is durable in the table property
    t = c.catalog.load_table("debeziumevents", tbl)
    assert int(t.metadata().properties["publish.last-publish-snapshot-id"]) >= 4


def test_publish_cadence_config_requires_dest():
    import pytest

    from debezium_server_iceberg_spark.config import EngineConfig

    cfg = EngineConfig()
    cfg.iceberg.publish_every_commits = 2
    with pytest.raises(ValueError, match="publish_dest"):
        cfg.validate()


def test_read_table_by_name_resolves_catalog_metadata(spark, warehouse, tmp_path):
    """The consumer half of the publication loop: an engine resolves a
    published table BY NAME through the catalog (LoadTable ->
    metadata-location) and reads exactly THAT metadata file — not the
    filesystem's version-hint, which is already ahead after an export
    that was never published."""
    from pyspark.sql import types as T

    from debezium_server_iceberg_spark.lakehouse import LakeCatalog
    from debezium_server_iceberg_spark.lakehouse.iceberg_export import (
        export_iceberg_table,
        read_iceberg_table,
    )
    from debezium_server_iceberg_spark.lakehouse.catalog_commit import (
        read_table_by_name,
    )
    from debezium_server_iceberg_spark.lakehouse.rest_catalog import (
        RestCatalogClient,
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

    fake = FakeRestCatalog()
    client = RestCatalogClient("http://cat:8181", transport=fake)
    publish_to_catalog(client, "pub", "cust", md_path)

    got = read_table_by_name(spark, client, "pub", "cust")
    assert sorted(map(tuple, got.collect())) == [(1, "a"), (2, "b")]

    # a second export WITHOUT a publish bumps the version hint; the
    # catalog-resolved read must stay on the registered file while a
    # hint-resolved read already sees the new snapshot
    t.append(spark.createDataFrame([(3, "c")], "id long, name string"))
    export_iceberg_table(t, dest)
    assert sorted(map(tuple, read_table_by_name(spark, client, "pub", "cust").collect())) \
        == [(1, "a"), (2, "b")]
    assert sorted(map(tuple, read_iceberg_table(spark, dest).collect())) \
        == [(1, "a"), (2, "b"), (3, "c")]
