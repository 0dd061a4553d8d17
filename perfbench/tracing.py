"""Span recorder, layer wrappers and Spark event-log counters.

Spans live in memory (name, layer, start, end, parent from a
thread-local stack, one run id) and are written as JSON when the run
ends.  Each span sets its own Spark job group, so the event log of the
traced session can be folded back onto spans: shuffle bytes, spill, GC
time, executor run time and task counts per span.

The wrappers only time calls the pipeline already makes; they add no
action and no caching, so a traced run executes the same Spark plans as
an untraced one.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager

# Which layer a catalog table's write belongs to: each stage writes its
# table eagerly inside run_all, so that write's span holds the stage's
# compute.
TABLE_LAYER = {
    "spans": "fixtures",
    "mentions": "extract",
    "media_features": "extract",
    "base_triples": "extract",
    "edges": "link",
    "labels": "cc",
    "entities": "generate",
    "entity_attrs": "generate",
    "entity_props": "generate",
    "entity_media": "generate",
    "triples": "generate",
}

ROOT_GROUP = "perfbench"


class SpanRecorder:
    def __init__(self, run_id: str, spark_context=None):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._sc = spark_context
        self._local = threading.local()
        self._lock = threading.Lock()
        self._t0 = time.perf_counter()
        if self._sc is not None:
            self._sc.setJobGroup(ROOT_GROUP, ROOT_GROUP)

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str):
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            rec = {
                "id": len(self.spans), "name": name, "layer": layer,
                "parent": parent["id"] if parent else None,
                "run": self.run_id,
                "start": time.perf_counter() - self._t0, "end": None,
            }
            self.spans.append(rec)
        stack.append(rec)
        if self._sc is not None:
            self._sc.setJobGroup(f"span-{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            stack.pop()
            if self._sc is not None:
                group = f"span-{parent['id']}" if parent else ROOT_GROUP
                self._sc.setJobGroup(group, parent["name"] if parent else ROOT_GROUP)

    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(self.children(span["id"]), key=lambda s: s["start"]):
            if cur_end is None or c["start"] > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = c["start"], c["end"]
            else:
                cur_end = max(cur_end, c["end"])
        if cur_end is not None:
            covered += cur_end - cur_start
        return (span["end"] - span["start"]) - covered

    def subtree(self, span_id: int) -> list[dict]:
        out, todo = [], [span_id]
        while todo:
            sid = todo.pop()
            out.append(self.spans[sid])
            todo.extend(c["id"] for c in self.children(sid))
        return out

    def dump(self, path: str, counters: dict[int, dict] | None = None) -> None:
        rows = []
        for s in self.spans:
            row = dict(s, self=self.self_time(s))
            if counters is not None:
                row["counters"] = counters.get(s["id"], {})
            rows.append(row)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": rows}, f, indent=1)


def _wrap(rec: SpanRecorder, fn, name_of, layer_of):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with rec.span(name_of(args, kwargs), layer_of(args, kwargs)):
            return fn(*args, **kwargs)

    return wrapper


def _table_arg(args, kwargs) -> str:
    return kwargs.get("name", args[2] if len(args) > 2 else "?")


def install(rec: SpanRecorder):
    """Wrap the pipeline's layer entry points; returns an undo function."""
    from kgspark import cc, extract, link, rdfio, sparql
    from kgspark import checkpoint as CP
    from kgspark.catalog import ParquetCatalog

    targets = [
        (CP, "run_bucketed_stage", "checkpoint"),
        (CP, "bucket_fingerprints", "checkpoint"),
        (CP, "read_checkpoints", "checkpoint"),
        (CP, "write_checkpoint_rows", "checkpoint"),
        (link, "scored_edges", "link"),
        (cc, "connected_components", "cc"),
        (extract, "base_quads", "extract"),
        (rdfio, "write_nquads_store", "rdfio"),
        (rdfio, "read_nquads_store", "rdfio"),
        (rdfio, "replace_graphs", "rdfio"),
        (sparql, "store_sparql", "sparql"),
        (sparql, "store_update", "sparql"),
        (sparql, "parse_sparql", "sparql"),
    ]
    saved = []
    for mod, attr, layer in targets:
        fn = getattr(mod, attr)
        saved.append((mod, attr, fn))
        name = f"{mod.__name__.rsplit('.', 1)[-1]}.{attr}"
        setattr(mod, attr, _wrap(
            rec, fn, lambda a, k, n=name: n, lambda a, k, l=layer: l,
        ))
    for attr in ("write", "write_bucketed"):
        fn = getattr(ParquetCatalog, attr)
        saved.append((ParquetCatalog, attr, fn))
        setattr(ParquetCatalog, attr, _wrap(
            rec, fn,
            lambda a, k, m=attr: f"catalog.{m}[{_table_arg(a, k)}]",
            lambda a, k: TABLE_LAYER.get(_table_arg(a, k), "catalog"),
        ))

    def undo():
        for mod, attr, fn in reversed(saved):
            setattr(mod, attr, fn)

    return undo


def event_log_counters(event_dir: str) -> tuple[dict[str, dict], dict]:
    """Parse the (uncompressed) Spark event log in ``event_dir``.

    Returns (per job group counters, whole-run counters); counters are
    tasks, task_failures, shuffle_bytes, spill_bytes, gc_s, run_s."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    total = _zero()
    paths = [os.path.join(d, n) for d, _, names in os.walk(event_dir) for n in names
             if not n.startswith(".")]
    for path in sorted(paths):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id", ROOT_GROUP)
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"), ROOT_GROUP)
                    c = groups.setdefault(g, _zero())
                    for acc in (c, total):
                        _add_task(acc, ev)
    return groups, total


def _zero() -> dict:
    return {"tasks": 0, "task_failures": 0, "shuffle_bytes": 0,
            "spill_bytes": 0, "gc_s": 0.0, "run_s": 0.0}


def _add_task(acc: dict, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    acc["tasks"] += 1
    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
        acc["task_failures"] += 1
    acc["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    acc["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    acc["run_s"] += m.get("Executor Run Time", 0) / 1000.0
