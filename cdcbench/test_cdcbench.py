"""Tests of the benchmark's own logic; none of them starts Spark.

    python3 -m pytest cdcbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import zlib

import pytest

from cdcbench import gen
from cdcbench.replay import (
    UpsertModel,
    checksum,
    render,
    replay_append,
    rendered,
)
from cdcbench.stats import summarize, tail_rank
from cdcbench.trace import Tracer, self_costs


def _upsert_file(tmp_path, seed: int, name: str) -> bytes:
    feed = gen.UpsertFeed(seed, 500)
    events = feed.bootstrap() + feed.batch(300) + feed.batch(300)
    path = tmp_path / name
    gen.write_jsonl(str(path), events)
    return path.read_bytes()


def _fanout_file(tmp_path, seed: int, name: str) -> bytes:
    feed = gen.FanoutFeed(seed, evolve_at=1)
    events = feed.file() + feed.file()
    path = tmp_path / name
    gen.write_jsonl(str(path), events)
    return path.read_bytes()


# ------------------------------------------------------------- generator


@pytest.mark.parametrize("make", [_upsert_file, _fanout_file])
def test_same_seed_same_bytes(tmp_path, make):
    assert make(tmp_path, 7, "a") == make(tmp_path, 7, "b")
    assert make(tmp_path, 7, "a") != make(tmp_path, 8, "c")


def test_upsert_batch_mix():
    feed = gen.UpsertFeed(3, 20_000)
    feed.bootstrap()
    batch = feed.batch(2_000)
    ops = [p["__op"] for _, p in batch]
    assert abs(ops.count("u") / 2_000 - 0.8) < 0.04
    assert abs(ops.count("d") / 2_000 - 0.1) < 0.03
    assert abs(ops.count("c") / 2_000 - 0.1) < 0.03
    seen, repeats = set(), 0
    for _, p in batch:
        repeats += p["id"] in seen
        seen.add(p["id"])
    assert 0.15 < repeats / 2_000 < 0.25
    ts = [p["__source_ts_ns"] for _, p in batch]
    assert ts == sorted(ts) and len(set(ts)) == len(ts)


def test_deleted_keys_are_never_touched_again():
    feed = gen.UpsertFeed(5, 1_000)
    feed.bootstrap()
    deleted = set()
    for _ in range(5):
        for _, p in feed.batch(500):
            assert p["id"] not in deleted
            if p["__op"] == "d":
                deleted.add(p["id"])
    assert deleted


def test_envelope_lines_decode_to_the_events(tmp_path):
    feed = gen.UpsertFeed(1, 50)
    fan = gen.FanoutFeed(2, evolve_at=0)
    events = feed.bootstrap() + feed.batch(50) + fan.file()
    path = tmp_path / "e.jsonl"
    gen.write_jsonl(str(path), events)
    lines = path.read_text().splitlines()
    assert len(lines) == len(events)
    for line, (dest, payload) in zip(lines, events):
        row = json.loads(line)
        assert row["destination"] == dest
        value = json.loads(row["value"])
        assert value["payload"] == payload
        names = [f["field"] for f in value["schema"]["fields"]]
        assert set(names) == set(payload)
        if dest.startswith(gen.HEARTBEAT_PREFIX):
            assert row["key"] is None
        else:
            assert json.loads(row["key"])["payload"] == {"id": payload["id"]}


def test_fanout_evolution_and_heartbeats():
    feed = gen.FanoutFeed(9, evolve_at=1)
    first, second = feed.file(), feed.file()
    hb = [d for d, _ in first if d.startswith(gen.HEARTBEAT_PREFIX)]
    assert len(hb) == 2
    t0 = feed.tables[0]
    assert all("note" not in p for d, p in first if d == t0)
    assert all("note" in p for d, p in second if d == t0)
    assert all("note" not in p for d, p in second if d != t0 and d in feed.tables)


# ---------------------------------------------------------------- replay


def _ev(key, op, ts, name="x", dest="db.t"):
    return (dest, {"id": key, "name": name, "__op": op, "__source_ts_ns": ts,
                   "__deleted": op == "d"})


COLS = [("id", "int"), ("name", "str"), ("__op", "str"), ("__deleted", "bool")]


def test_replay_last_event_by_source_ts_wins():
    m = UpsertModel("id", COLS)
    m.apply([_ev(1, "c", 10, "a"), _ev(1, "u", 30, "c"), _ev(1, "u", 20, "b")])
    assert m.get("db.t", 1)["name"] == "c"


def test_replay_op_priority_then_arrival_break_ties():
    m = UpsertModel("id", COLS)
    m.apply([_ev(1, "d", 5, None), _ev(1, "u", 5, "u"), _ev(1, "c", 5, "c")])
    assert m.get("db.t", 1)["__op"] == "d"
    m.apply([_ev(2, "u", 5, "first"), _ev(2, "u", 5, "second")])
    assert m.get("db.t", 2)["name"] == "second"


def test_replay_keeps_soft_deletes_and_drops_heartbeats():
    m = UpsertModel("id", COLS)
    m.apply([
        _ev(1, "c", 1, "a"), _ev(1, "d", 2, None),
        (gen.HEARTBEAT_DEST, {"ts_ms": 3}),
    ])
    assert [r["__op"] for r in m.table("db.t")] == ["d"]
    assert set(m.rows) == {"db.t"}
    assert replay_append([(gen.HEARTBEAT_DEST, {"ts_ms": 1}), _ev(1, "c", 1)]) == {
        "db.t": [_ev(1, "c", 1)[1]]
    }


def test_incremental_checksum_matches_a_full_recount():
    feed = gen.UpsertFeed(11, 2_000)
    m = UpsertModel(gen.ORDERS_KEY, gen.ORDERS_CHECK)
    m.apply(feed.bootstrap())
    for _ in range(3):
        m.apply(feed.batch(700))
    dest = gen.ORDERS_DEST
    assert m.checksum(dest) == checksum(m.table(dest), gen.ORDERS_CHECK)


def test_checksum_is_order_independent_and_sensitive():
    rows = [{"id": i, "name": f"n{i}", "__op": "c", "__deleted": False}
            for i in range(50)]
    assert checksum(rows, COLS) == checksum(list(reversed(rows)), COLS)
    changed = [dict(r) for r in rows]
    changed[7]["name"] = "other"
    assert checksum(changed, COLS) != checksum(rows, COLS)


def test_render_matches_spark_text_forms():
    from datetime import datetime

    assert render(None, "str") == "\\N"
    assert render(True, "bool") == "true"
    assert render(12, "int") == "12"
    assert render(datetime(1970, 1, 1, 0, 0, 1, 5), "ts_micros") == "1000005"
    assert render(1000005, "ts_micros") == "1000005"
    row = {"id": 3, "name": None, "__op": "d", "__deleted": True}
    assert rendered(row, COLS) == ("3", "\\N", "d", "true")
    assert zlib.crc32("3|\\N|d|true".encode()) == checksum([row], COLS)[1]


# ----------------------------------------------------------------- stats


@pytest.mark.parametrize(
    "n, idx, pct",
    [(22, 11, 100 * 12 / 22), (64, 53, 100 * 54 / 64), (100, 89, 90.0),
     (1000, 989, 99.0)],
)
def test_tail_rank_leaves_ten_samples_beyond(n, idx, pct):
    assert tail_rank(n) == (idx, pytest.approx(pct))
    assert n - 1 - idx == 10


@pytest.mark.parametrize("n", [1, 10, 11, 20, 21])
def test_tail_falls_back_to_the_median_on_small_samples(n):
    assert tail_rank(n) is None
    s = summarize(list(range(n)))
    assert s["tail"] == s["p50"] and s["tail_pct"] == 50.0


def test_summarize_reports_median_tail_and_count():
    s = summarize([float(x) for x in range(100, 0, -1)])
    assert s == {"n": 100, "p50": 50.5, "tail": 90.0, "tail_pct": 90.0}
    with pytest.raises(ValueError):
        tail_rank(0)


# ----------------------------------------------------------------- trace


class _Owner:
    def outer(self):
        return self.inner() + 1

    def inner(self):
        return 1


def test_tracer_self_time_and_jobs_and_unpatch():
    jobs = iter(range(0, 1000, 1))
    tr = Tracer(lambda: next(jobs))
    tr.patch(_Owner, "outer", "layer.outer")
    tr.patch(_Owner, "inner", "layer.inner")
    assert _Owner().outer() == 2
    tr.unpatch()
    assert _Owner.outer.__name__ == "outer" and _Owner.inner.__name__ == "inner"
    outer = next(s for s in tr.spans if s["name"] == "outer")
    inner = next(s for s in tr.spans if s["name"] == "inner")
    assert inner["parent"] == outer["id"] and inner["root"] == outer["id"]
    # the fake counter ticks once per read: outer spans 3 reads, inner 1
    assert (outer["jobs"], inner["jobs"]) == (3, 1)
    cost = self_costs(tr.spans)
    assert cost[outer["id"]][1] == 2
    assert cost[outer["id"]][0] == pytest.approx(
        (outer["end"] - outer["start"]) - (inner["end"] - inner["start"]))


def test_span_without_job_counting_never_reads_the_counter():
    def counter():
        raise AssertionError("job counter read")

    tr = Tracer(counter)
    with tr.span("layer", "driver_only", jobs=False) as rec:
        pass
    assert rec["jobs"] == 0 and tr.spans == [rec]


def test_tracer_disabled_and_paused_record_nothing():
    tr = Tracer(lambda: 0)
    tr.patch(_Owner, "inner", "layer.inner", after=lambda *a: _Owner().inner())
    try:
        tr.enabled = False
        _Owner().inner()
        assert tr.spans == []
        tr.enabled = True
        _Owner().inner()
        # the after-hook's own call ran paused
        assert len(tr.spans) == 1
    finally:
        tr.unpatch()


def test_overhead_probes_alternate_abba():
    from cdcbench.workloads import PROBES, probe_traced

    order = [probe_traced(i) for i in range(PROBES)]
    assert order == [True, False, False, True]
