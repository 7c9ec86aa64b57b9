"""In-memory span tracer for the traced benchmark run.

Spans are recorded around the engine's public entry points by replacing
them, for the life of one run, with wrappers installed from here; the
engine itself is not modified.  A function imported by name into another
module must be wrapped at the name that module resolves (``consumer.py``
imports ``destinations``, ``infer_batch_schema`` and ``merge_into`` by
name), so ``patch`` takes the owner object whose attribute the caller
reads.

Each span records name, layer, start, end, parent id, root id, batch id
and the Spark job-id counter delta across it.  A span's *self* time (and
self jobs) is its own minus what its direct children cover.  Spans are
kept in memory and written out once, by ``dump``, when the run ends.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, job_counter) -> None:
        #: callable returning the SparkContext's next job id
        self.job_counter = job_counter
        self.spans: list[dict] = []
        #: batch id stamped on new spans (set by the batch-level wrapper)
        self.batch = -1
        #: when False, wrappers call straight through (untraced batches)
        self.enabled = True
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        self._patches: list[tuple] = []

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _active(self) -> bool:
        return self.enabled and not getattr(self._local, "paused", False)

    @contextmanager
    def paused(self):
        """Run bookkeeping reads (e.g. file counts for a ratio) without
        recording them as spans."""
        prev = getattr(self._local, "paused", False)
        self._local.paused = True
        try:
            yield
        finally:
            self._local.paused = prev

    @contextmanager
    def span(self, layer: str, name: str, jobs: bool = True):
        """Record a span; ``jobs=False`` skips the two job-counter reads
        (a JVM round trip each) for code that never runs a Spark job."""
        if not self._active():
            yield None
            return
        stack = self._stack()
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        parent = stack[-1] if stack else None
        rec = {
            "id": sid,
            "parent": parent["id"] if parent else None,
            "root": parent["root"] if parent else sid,
            "layer": layer,
            "name": name,
            "batch": self.batch,
        }
        jobs0 = self.job_counter() if jobs else 0
        rec["start"] = time.perf_counter()
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["jobs"] = self.job_counter() - jobs0 if jobs else 0
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def patch(self, owner, attr: str, layer: str, before=None, after=None,
              jobs: bool = True) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.

        ``before(args, kwargs)`` runs untraced ahead of the call and its
        result is handed to ``after(span, args, kwargs, result, ctx)``,
        which runs untraced once the span has closed; either may add
        fields to the span record."""
        orig = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            if not self._active():
                return orig(*args, **kwargs)
            ctx = None
            if before is not None:
                with self.paused():
                    ctx = before(args, kwargs)
            with self.span(layer, attr, jobs) as rec:
                out = orig(*args, **kwargs)
            if after is not None:
                with self.paused():
                    after(rec, args, kwargs, out, ctx)
            return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in sorted(self.spans, key=lambda r: r["id"]):
                fh.write(json.dumps(rec, default=str) + "\n")


def self_costs(spans) -> dict[int, tuple[float, int]]:
    """``span id -> (self seconds, self jobs)``: each span's duration and
    job delta minus those of its direct children."""
    child_t: dict[int, float] = defaultdict(float)
    child_j: dict[int, int] = defaultdict(int)
    for s in spans:
        if s["parent"] is not None:
            child_t[s["parent"]] += s["end"] - s["start"]
            child_j[s["parent"]] += s["jobs"]
    return {
        s["id"]: (s["end"] - s["start"] - child_t[s["id"]],
                  s["jobs"] - child_j[s["id"]])
        for s in spans
    }
