"""Span tracing around the benchmark's calls into the engine.

Spans are recorded from the benchmark's own files, around each call
into an engine module (the layer). A span is one of:

- ``build``: calling a public function that returns a lazy DataFrame
  (a build call that runs jobs on its own shows them here too);
- ``exec``: running an action on such a frame, or calling a verb that
  acts eagerly (a commit, a fit, a metadata walk in the Spark driver);
- ``op``: one whole workload operation (not a layer; the base that
  layer self times are measured against).

While a span is open its Spark jobs run under a job group of their own
(``SparkContext.setJobGroup``), so the event log attributes every job
to exactly one span. py4j round trips are counted by wrapping the
gateway client's ``send_command``. Spans stay in memory; the per-layer
table is computed after the session stops and its event log is closed.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

LAYERS = (
    "session",
    "serving",
    "materialize",
    "operators.asof",
    "scoring",
    "stats",
    "metrics",
    "sources.manifest",
    "sources.delta",
    "sources.iceberg_write",
    "sources.iceberg",
    "incremental",
    "operators.dedup",
    "operators.graph",
    "operators.similarity",
)
LAYER_FIELDS = ("build_s", "exec_s", "self_s", "jobs", "job_s", "gap_s", "py4j_calls")
WRITE_LAYERS = ("sources.manifest", "sources.delta", "sources.iceberg_write")
SERVING_TIERS = {
    "REDIS_CACHE": "cache",
    "ROCKSDB_VECTOR": "vector",
    "SCALAR_ASSEMBLY": "assembly",
    "MISS": "miss",
}


@dataclass
class Span:
    sid: int
    parent: int | None
    layer: str
    kind: str
    t0: float
    t1: float = 0.0
    calls: int = 0
    files: int = 0
    bytes: int = 0
    children: list[int] = field(default_factory=list)


class Tracer:
    """Records spans while ``on``. Off, a call site costs one context
    manager and an attribute test. ``enabled`` (a traced run) wraps the
    py4j client; the run loop turns ``on`` for the traced operations."""

    def __init__(self, spark, enabled: bool):
        self.on = False
        self.spans: dict[int, Span] = {}
        self.calls = 0
        self.tiers = dict.fromkeys(SERVING_TIERS.values(), 0)
        self._stack: list[int] = []
        self._next = 0
        self._counting = True
        self._sc = spark.sparkContext if enabled else None
        if enabled:
            client = self._sc._gateway._gateway_client
            send = client.send_command

            def counted(*args, **kwargs):
                if self._counting:
                    self.calls += 1
                return send(*args, **kwargs)

            client.send_command = counted

    def _group(self, sid: int | None) -> None:
        self._counting = False
        try:
            if sid is None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self._sc.setJobGroup(f"pb-{sid}", self.spans[sid].layer)
        finally:
            self._counting = True

    @contextmanager
    def span(self, layer: str, kind: str):
        if not self.on:
            yield None
            return
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        sp = Span(sid, parent, layer, kind, 0.0)
        self.spans[sid] = sp
        if parent is not None:
            self.spans[parent].children.append(sid)
        self._group(sid)
        self._stack.append(sid)
        c0 = self.calls
        sp.t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            sp.calls = self.calls - c0
            self._stack.pop()
            self._group(parent)

    def build(self, layer: str, fn, *args, **kwargs):
        with self.span(layer, "build"):
            return fn(*args, **kwargs)

    def exec(self, layer: str, fn, *args, **kwargs):
        with self.span(layer, "exec"):
            return fn(*args, **kwargs)

    def write(self, layer: str, table_dir: str, fn, *args, **kwargs):
        """An eager write verb; also records files and bytes it adds
        under ``table_dir``."""
        if not self.on:
            return fn(*args, **kwargs)
        before = dir_files(table_dir)
        with self.span(layer, "exec") as sp:
            out = fn(*args, **kwargs)
        after = dir_files(table_dir)
        new = set(after) - set(before)
        sp.files = len(new)
        sp.bytes = sum(after[p] for p in new)
        return out

    def count_tiers(self, sources) -> None:
        if self.on:
            for s in sources:
                self.tiers[SERVING_TIERS[s]] += 1

    # ------------------------------------------------------- report

    def layer_table(self, job_walls: dict[str, list[float]], n_ops: int) -> dict:
        """Per-layer totals divided by ``n_ops`` traced operations.
        ``gap_s`` is execution self time outside the span's Spark jobs:
        Spark-driver work such as analysis, planning, listing and commits."""
        rows = {
            layer: dict.fromkeys(LAYER_FIELDS, 0.0) | {"files": 0, "bytes": 0}
            for layer in LAYERS
        }
        op_wall = 0.0
        for sp in self.spans.values():
            dur = sp.t1 - sp.t0
            if sp.kind == "op":
                op_wall += dur
                continue
            kids = [self.spans[c] for c in sp.children]
            self_s = dur - sum(k.t1 - k.t0 for k in kids)
            row = rows[sp.layer]
            row["self_s"] += self_s
            row["build_s" if sp.kind == "build" else "exec_s"] += self_s
            walls = job_walls.get(f"pb-{sp.sid}", [])
            row["jobs"] += len(walls)
            row["job_s"] += sum(walls)
            if sp.kind == "exec":
                row["gap_s"] += self_s - sum(walls)
            row["py4j_calls"] += sp.calls - sum(k.calls for k in kids)
            row["files"] += sp.files
            row["bytes"] += sp.bytes
        n = max(n_ops, 1)
        for row in rows.values():
            for k in row:
                row[k] /= n
        covered = sum(r["self_s"] for r in rows.values()) * n
        return {"layers": rows, "op_wall_s": op_wall, "coverage": covered / op_wall if op_wall else 0.0}

    def dump_spans(self) -> list[list]:
        return [
            [s.sid, s.parent, s.layer, s.kind, round(s.t0, 6), round(s.t1 - s.t0, 6), s.calls]
            for s in self.spans.values()
        ]


def dir_files(path: str) -> dict[str, int]:
    out = {}
    for dp, _dn, fns in os.walk(path):
        for fn in fns:
            p = os.path.join(dp, fn)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out


def job_walls(eventlog_dir: str, app_id: str) -> dict[str, list[float]]:
    """Job group -> wall seconds of each of its jobs, from the Spark
    event log of application ``app_id`` (uncompressed, not rolled)."""
    path = os.path.join(eventlog_dir, app_id)
    if not os.path.exists(path):
        path += ".inprogress"
    start: dict[int, tuple[str | None, int]] = {}
    out: dict[str, list[float]] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            if '"SparkListenerJob' not in line[:40]:
                continue
            ev = json.loads(line)
            if ev["Event"] == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                start[ev["Job ID"]] = (props.get("spark.jobGroup.id"), ev["Submission Time"])
            elif ev["Event"] == "SparkListenerJobEnd" and ev["Job ID"] in start:
                group, t0 = start.pop(ev["Job ID"])
                if group is not None:
                    out.setdefault(group, []).append((ev["Completion Time"] - t0) / 1000.0)
    return out
