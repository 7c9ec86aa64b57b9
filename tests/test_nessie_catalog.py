"""Nessie catalog publication — the reference's THIRD catalog family
(testresources/CatalogNessie.java:30-43 boots a projectnessie container
and configures ``org.apache.iceberg.nessie.NessieCatalog``).

A live server is env-blocked (network/container), so these tests replay
the public REST API v2 offline at two levels:

- byte-exact wire assertions against a recording transport (the same
  discipline as ``test_rest_catalog.py``);
- an in-process :class:`FakeNessie` implementing Nessie's ACTUAL commit
  model — hash-chained branch history, server-assigned content ids,
  expected-hash validation with KEY-SCOPED conflict detection — so CAS
  races, id round-trips, and the commit-hook integration run against
  real protocol semantics, not a stub that always says yes.
"""

import hashlib
import json
import re

import pytest
from pyspark.sql import types as T

from debezium_server_iceberg_spark.config import EngineConfig
from debezium_server_iceberg_spark.lakehouse import LakeCatalog
from debezium_server_iceberg_spark.lakehouse.catalog_commit import (
    attach_catalog_commit_hook,
    publish_to_catalog,
    read_table_by_name,
)
from debezium_server_iceberg_spark.lakehouse.nessie_catalog import (
    AlreadyExistsError,
    CommitFailedError,
    NessieCatalogClient,
    NoSuchTableError,
)


class FakeNessie:
    """In-process Nessie v2: one branch store with the protocol's real
    semantics.  Used as the client's injectable ``transport``.

    - branch head is a hash chained over applied commits;
    - every commit carries an expected hash; if the branch moved, the
      commit still lands IFF none of its keys changed since the
      expected hash (Nessie's key-scoped conflict model) — otherwise
      409 ``REFERENCE_CONFLICT``;
    - first PUT of a key must carry no content id (server assigns);
      later PUTs must carry the stored id or conflict.

    ``before_commit`` (optional callable) runs right before a commit
    applies — tests use it to interleave a foreign commit between a
    client's read and its commit, the only way to exercise a genuine
    read-then-CAS race in-process.
    """

    def __init__(self, default_branch="main"):
        self.default_branch = default_branch
        self.head = "0" * 16  # Nessie's no-ancestor hash is all zeros
        self.store = {}      # key tuple -> content dict (with id)
        self.history = []    # [(hash, frozenset(keys touched))]
        self.requests = []   # (method, path, body-dict-or-None)
        self.before_commit = None
        self._id_seq = 0

    # ------------------------------------------------------------ transport
    def __call__(self, method, url, headers, body):
        path = url.split("://", 1)[1].split("/", 1)[1]
        path = "/" + path
        doc = json.loads(body) if body else None
        self.requests.append((method, path, doc))
        try:
            return self._route(method, path, doc)
        except _Http as e:
            return e.status, json.dumps(
                {"message": e.message, "errorCode": e.code}
            ).encode()

    def _route(self, method, path, doc):
        if method == "GET" and path.endswith("/config"):
            return 200, json.dumps(
                {"defaultBranch": self.default_branch,
                 "maxSupportedApiVersion": 2}
            ).encode()
        m = re.fullmatch(r".*/trees/([^/@]+)", path)
        if method == "GET" and m:
            if m.group(1) != self.default_branch:
                raise _Http(404, "ref not found", "REFERENCE_NOT_FOUND")
            return 200, json.dumps(
                {"reference": {"type": "BRANCH",
                               "name": self.default_branch,
                               "hash": self.head}}
            ).encode()
        m = re.fullmatch(r".*/trees/([^/@]+)/contents", path)
        if method == "POST" and m:
            out = []
            for k in doc.get("requestedKeys", []):
                kt = tuple(k["elements"])
                if kt in self.store:
                    out.append({"key": {"elements": list(kt)},
                                "content": self.store[kt]})
            return 200, json.dumps(
                {"contents": out,
                 "effectiveReference": {"type": "BRANCH",
                                        "name": self.default_branch,
                                        "hash": self.head}}
            ).encode()
        m = re.fullmatch(r".*/trees/([^/@]+)@([0-9a-f]+)/history/commit", path)
        if method == "POST" and m:
            return self._commit(m.group(2), doc)
        m = re.fullmatch(r".*/trees/([^/@]+)/entries(\?.*)?", path)
        if method == "GET" and m:
            return 200, json.dumps(
                {"entries": [
                    {"name": {"elements": list(k)}, "type":
                     "ICEBERG_TABLE" if c.get("type") == "ICEBERG_TABLE"
                     else c.get("type")}
                    for k, c in sorted(self.store.items())
                ], "hasMore": False}
            ).encode()
        raise _Http(400, f"unrouted {method} {path}", "BAD_REQUEST")

    # ---------------------------------------------------------- commit model
    def _commit(self, expected_hash, doc):
        if self.before_commit is not None:
            cb, self.before_commit = self.before_commit, None
            cb()
        keys = [tuple(op["key"]["elements"]) for op in doc["operations"]]
        if expected_hash != self.head:
            # key-scoped conflict: the branch moved — reject only if a
            # commit AFTER the expected hash touched one of our keys
            # (the no-ancestor hash sits before all history)
            if expected_hash == "0" * 16:
                after = self.history
            else:
                idx = next(
                    (i for i, (h, _) in enumerate(self.history)
                     if h == expected_hash),
                    None,
                )
                if idx is None:
                    raise _Http(409, "unknown expected hash",
                                "REFERENCE_CONFLICT")
                after = self.history[idx + 1:]
            for _h, touched in after:
                if touched & set(keys):
                    raise _Http(
                        409,
                        f"keys {sorted(touched & set(keys))} changed "
                        f"since {expected_hash}",
                        "REFERENCE_CONFLICT",
                    )
        added = []
        for op in doc["operations"]:
            kt = tuple(op["key"]["elements"])
            if op["type"] == "DELETE":
                self.store.pop(kt, None)
                continue
            content = dict(op["content"])
            existing = self.store.get(kt)
            if existing is None:
                if content.get("id"):
                    raise _Http(409, "new content must not carry an id",
                                "REFERENCE_CONFLICT")
                self._id_seq += 1
                content["id"] = f"cid-{self._id_seq:04d}"
                added.append({"key": {"elements": list(kt)},
                              "contentId": content["id"]})
            else:
                if content.get("id") != existing["id"]:
                    raise _Http(409, "content id mismatch",
                                "REFERENCE_CONFLICT")
            self.store[kt] = content
        self.head = hashlib.sha1(
            (self.head + json.dumps(doc["operations"],
                                    sort_keys=True)).encode()
        ).hexdigest()[:16]
        self.history.append((self.head, frozenset(keys)))
        return 200, json.dumps(
            {"targetBranch": {"type": "BRANCH",
                              "name": self.default_branch,
                              "hash": self.head},
             "addedContents": added}
        ).encode()


class _Http(Exception):
    def __init__(self, status, message, code):
        self.status, self.message, self.code = status, message, code


def _client(fake, **kw):
    return NessieCatalogClient(
        "http://nessie:19120/api/v2", transport=fake, **kw
    )


# ---------------------------------------------------------------- wire level


def test_register_wire_sequence():
    """First publication's exact wire trace: config (branch bootstrap),
    branch head, contents probe (namespace), commit, contents probe
    (table key), commit — every URL on the public v2 surface."""
    fake = FakeNessie()
    c = _client(fake)
    publish_to_catalog(c, "cdc", "orders", "/pub/v1.metadata.json")
    trace = [(m, p) for m, p, _ in fake.requests]
    assert trace[0] == ("GET", "/api/v2/config")
    assert ("POST", "/api/v2/trees/main/contents") in trace
    assert any(
        m == "POST" and re.fullmatch(
            r"/api/v2/trees/main@[0-9a-f]+/history/commit", p
        )
        for m, p in trace
    )
    # namespace commit preceded the table commit
    commits = [p for m, p, _ in fake.requests if "history/commit" in p]
    assert len(commits) == 2
    ns_ops, tbl_ops = [
        d["operations"] for _, p, d in fake.requests if "history/commit" in p
    ]
    assert ns_ops[0]["content"]["type"] == "NAMESPACE"
    assert tbl_ops[0]["content"]["type"] == "ICEBERG_TABLE"
    assert tbl_ops[0]["content"]["metadataLocation"] == "/pub/v1.metadata.json"
    assert "id" not in tbl_ops[0]["content"]  # server assigns on first put


def test_branch_resolved_from_server_default_once():
    fake = FakeNessie(default_branch="etl")
    c = _client(fake)
    assert c.branch() == "etl"
    assert c.branch() == "etl"
    assert [p for m, p, _ in fake.requests].count("/api/v2/config") == 1
    # explicit branch skips /config entirely
    fake2 = FakeNessie()
    c2 = _client(fake2, branch="main")
    c2.namespace_exists("cdc")
    assert ("GET", "/api/v2/config") not in [
        (m, p) for m, p, _ in fake2.requests
    ]


# ------------------------------------------------------------- client surface


def test_register_load_roundtrip_and_conflict_contract():
    fake = FakeNessie()
    c = _client(fake)
    c.create_namespace("cdc")
    c.register_table("cdc", "orders", "/pub/v1.metadata.json")
    assert c.load_table("cdc", "orders")["metadata-location"] == (
        "/pub/v1.metadata.json"
    )
    assert c.table_exists("cdc", "orders")
    with pytest.raises(AlreadyExistsError):
        c.register_table("cdc", "orders", "/pub/v2.metadata.json")
    # overwrite moves the pointer in place — no unregistered window
    c.register_table(
        "cdc", "orders", "/pub/v2.metadata.json", overwrite=True
    )
    assert c.load_table("cdc", "orders")["metadata-location"] == (
        "/pub/v2.metadata.json"
    )
    # the update carried the server-assigned content id (protocol rule)
    last_commit = [d for _, p, d in fake.requests if "history/commit" in p][-1]
    assert last_commit["operations"][0]["content"]["id"] == "cid-0002"


def test_commit_table_cas_and_stale_expectation():
    fake = FakeNessie()
    c = _client(fake)
    c.create_namespace("cdc")
    c.register_table("cdc", "orders", "/pub/v1.metadata.json")
    c.commit_table(
        "cdc", "orders", "/pub/v2.metadata.json", "/pub/v1.metadata.json"
    )
    assert c.load_table("cdc", "orders")["metadata-location"] == (
        "/pub/v2.metadata.json"
    )
    with pytest.raises(CommitFailedError):
        c.commit_table(
            "cdc", "orders", "/pub/v9.metadata.json", "/pub/v1.metadata.json"
        )
    assert c.load_table("cdc", "orders")["metadata-location"] == (
        "/pub/v2.metadata.json"
    )
    with pytest.raises(NoSuchTableError):
        c.commit_table("cdc", "nope", "/x", None)


def test_read_then_commit_race_surfaces_conflict():
    """A foreign commit on the SAME key landing between our read and
    our commit → the server's key-scoped 409 → CommitFailedError.  The
    foreign pointer survives."""
    fake = FakeNessie()
    c = _client(fake)
    c.create_namespace("cdc")
    c.register_table("cdc", "orders", "/pub/v1.metadata.json")
    foreign = _client(fake)

    fake.before_commit = lambda: foreign.commit_table(
        "cdc", "orders", "/foreign/v7.metadata.json", None
    )
    with pytest.raises(CommitFailedError):
        c.commit_table(
            "cdc", "orders", "/pub/v2.metadata.json", "/pub/v1.metadata.json"
        )
    assert c.load_table("cdc", "orders")["metadata-location"] == (
        "/foreign/v7.metadata.json"
    )


def test_unrelated_key_commits_do_not_conflict():
    """Nessie's conflict detection is KEY-scoped: a commit at a stale
    branch hash still lands when the interleaved commits touched other
    keys — strictly better than a whole-catalog pointer CAS, worth
    pinning because the hook relies on per-table independence."""
    fake = FakeNessie()
    c = _client(fake)
    c.create_namespace("cdc")
    c.register_table("cdc", "orders", "/pub/o1.metadata.json")
    c.register_table("cdc", "customers", "/pub/c1.metadata.json")

    fake.before_commit = lambda: _client(fake).commit_table(
        "cdc", "customers", "/pub/c2.metadata.json", None
    )
    c.commit_table(
        "cdc", "orders", "/pub/o2.metadata.json", "/pub/o1.metadata.json"
    )
    assert c.load_table("cdc", "orders")["metadata-location"] == (
        "/pub/o2.metadata.json"
    )
    assert c.load_table("cdc", "customers")["metadata-location"] == (
        "/pub/c2.metadata.json"
    )


def test_first_publish_race_surfaces_conflict_contract():
    """Two concurrent FIRST publishers: the loser's put conflicts at
    the server and must surface as AlreadyExistsError (no overwrite) or
    CAS forward from the winner (overwrite=True) — the JDBC client's
    documented contract, mirrored."""
    fake = FakeNessie()
    c = _client(fake)
    c.create_namespace("cdc")
    winner = _client(fake)

    fake.before_commit = lambda: winner.register_table(
        "cdc", "orders", "/winner/v1.metadata.json"
    )
    with pytest.raises(AlreadyExistsError):
        c.register_table("cdc", "orders", "/loser/v1.metadata.json")
    assert c.load_table("cdc", "orders")["metadata-location"] == (
        "/winner/v1.metadata.json"
    )

    # same race with overwrite=True on a FRESH key: the loser's first
    # put conflicts, then CASes forward from the winner's pointer
    fake.before_commit = lambda: winner.register_table(
        "cdc", "parts", "/winner/p1.metadata.json"
    )
    c.register_table(
        "cdc", "parts", "/loser/p1.metadata.json", overwrite=True
    )
    assert c.load_table("cdc", "parts")["metadata-location"] == (
        "/loser/p1.metadata.json"
    )


def test_namespace_semantics_and_drop_and_list():
    fake = FakeNessie()
    c = _client(fake)
    c.create_namespace("cdc")
    c.create_namespace("cdc", exist_ok=True)
    with pytest.raises(AlreadyExistsError):
        c.create_namespace("cdc", exist_ok=False)
    assert c.namespace_exists("cdc") and not c.namespace_exists("nope")
    c.register_table("cdc", "orders", "/pub/v1.metadata.json")
    c.register_table("cdc", "customers", "/pub/v1.metadata.json")
    assert c.list_tables("cdc") == ["customers", "orders"]
    c.drop_table("cdc", "orders")
    assert c.list_tables("cdc") == ["customers"]
    with pytest.raises(NoSuchTableError):
        c.drop_table("cdc", "orders")
    # the namespace content itself never lists as a table
    assert not c.table_exists("cdc", "cdc")


def test_content_carries_snapshot_ids_from_metadata(tmp_path):
    """The ICEBERG_TABLE content mirrors the metadata document's ids —
    what NessieCatalog itself stores — when the file is readable."""
    md = tmp_path / "v3.metadata.json"
    md.write_text(json.dumps({
        "current-snapshot-id": 77, "current-schema-id": 2,
        "default-spec-id": 1, "default-sort-order-id": 0,
    }))
    fake = FakeNessie()
    c = _client(fake)
    c.create_namespace("cdc")
    c.register_table("cdc", "orders", str(md))
    content = fake.store[("cdc", "orders")]
    assert content["snapshotId"] == 77
    assert content["schemaId"] == 2
    assert content["specId"] == 1


# ----------------------------------------------------------- engine wiring


SCHEMA = T.StructType([
    T.StructField("id", T.LongType(), True),
    T.StructField("v", T.StringType(), True),
])


def test_commit_hook_per_commit_over_nessie(spark, tmp_path):
    """publish_mode=per_commit with the Nessie client: the branch
    content equals the hook's last export after EVERY commit, and a
    foreign same-key writer blocks the engine commit without advancing
    local state — the catalog_commit contract, third family."""
    cat = LakeCatalog(str(tmp_path / "wh"))
    table = cat.create_table("ns", "t", SCHEMA, identifier_fields=["id"])
    fake = FakeNessie()
    client = _client(fake)
    client.create_namespace("ns")
    hook = attach_catalog_commit_hook(
        table, client, "ns", "t", str(tmp_path / "pub")
    )
    for batch in range(3):
        table.append(spark.createDataFrame([(batch, f"v{batch}")], SCHEMA))
        assert client.load_table("ns", "t")["metadata-location"] == (
            hook.last_published
        )
        got = {
            (r.id, r.v)
            for r in read_table_by_name(spark, client, "ns", "t").collect()
        }
        assert got == {(i, f"v{i}") for i in range(batch + 1)}

    # foreign writer moves the content → next engine commit must fail
    # closed and local state must not advance
    _client(fake).commit_table(
        "ns", "t", "/elsewhere/v9.metadata.json", None
    )
    meta_before = table.metadata()
    with pytest.raises(CommitFailedError):
        table.append(spark.createDataFrame([(9, "x")], SCHEMA))
    assert table.metadata().version == meta_before.version
    assert table.row_count() == 3
    assert client.load_table("ns", "t")["metadata-location"] == (
        "/elsewhere/v9.metadata.json"
    )
    # operator recovery: acknowledge the foreign pointer, recommit
    hook.last_published = None
    table.append(spark.createDataFrame([(9, "x")], SCHEMA))
    assert read_table_by_name(spark, client, "ns", "t").count() == 4


def test_consumer_cadence_publishes_to_nessie(spark, tmp_path):
    """End-to-end cadence publication through ChangeConsumer with
    publish_nessie_uri: each publish re-registers in place and the
    table stays catalog-resolvable at every step."""
    from debezium_server_iceberg_spark.sources.debezium_json import (
        RAW_ENVELOPE_SCHEMA,
    )
    from debezium_server_iceberg_spark.streaming.consumer import (
        ChangeConsumer,
    )
    from tests.fixtures import customer_event

    cfg = EngineConfig()
    cfg.iceberg.warehouse = str(tmp_path / "wh")
    cfg.iceberg.publish_every_commits = 1
    cfg.iceberg.publish_dest = str(tmp_path / "pub")
    cfg.iceberg.publish_nessie_uri = "http://nessie:19120/api/v2"
    fake = FakeNessie()
    c = ChangeConsumer(cfg)
    c.nessie_transport = fake
    client = _client(fake)

    c.handle_batch(spark.createDataFrame(
        [customer_event(1, "a", op="c", ts_ms=1)], RAW_ENVELOPE_SCHEMA
    ))
    tname = client.list_tables(cfg.iceberg.namespace)[0]
    first = client.load_table(cfg.iceberg.namespace, tname)[
        "metadata-location"
    ]
    assert read_table_by_name(
        spark, client, cfg.iceberg.namespace, tname
    ).count() == 1

    c.handle_batch(spark.createDataFrame(
        [customer_event(2, "b", op="c", ts_ms=2)], RAW_ENVELOPE_SCHEMA
    ))
    second = client.load_table(cfg.iceberg.namespace, tname)[
        "metadata-location"
    ]
    assert second != first
    assert read_table_by_name(
        spark, client, cfg.iceberg.namespace, tname
    ).count() == 2


def test_config_validates_per_commit_with_nessie_only():
    cfg = EngineConfig()
    cfg.iceberg.publish_mode = "per_commit"
    cfg.iceberg.publish_dest = "/tmp/pub"
    with pytest.raises(ValueError, match="catalog"):
        cfg.validate()
    cfg.iceberg.publish_nessie_uri = "http://nessie:19120/api/v2"
    cfg.validate()
