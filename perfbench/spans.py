"""Traced run: spans around the engine's public functions, recorded from
outside the package.

- ``Tracer.span`` records name, start, end, parent span and operation id,
  and runs its body under a Spark job group of its own, so the event log
  ties jobs, stages and tasks to the span.
- ``Tracer.patch`` swaps a module attribute for a wrapper that opens a
  span; ``Tracer.unpatch_all`` restores every original.
- Most layers return lazy DataFrames whose work runs later inside another
  layer's action (chunking → encode → write fuse into one stage). Their
  wrappers keep the call's inputs and output; ``Replayer`` then times the
  output and its upstream alone with a noop write, and the difference is
  the layer's busy time.
- ``EventLog`` reads the uncompressed event log Spark writes during the
  traced run: per job group, the jobs, stages, tasks, task time, GC,
  shuffle and spill bytes, Python-worker bytes, and the row counts of
  chosen plan nodes.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

GROUP_PREFIX = "pb-span-"
REPLAY_GROUP = "pb-replay"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.op_id: str | None = None
        self.enabled = False
        self._next = 0
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = self._next
        self._next += 1
        parent = self.stack[-1] if self.stack else None
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self.op_id,
            "group": f"{GROUP_PREFIX}{sid}",
            **attrs,
        }
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", rec["group"])
        self.stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        except Exception as e:
            rec["error"] = type(e).__name__
            raise
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            self.spans.append(rec)

    def patch(self, module, attr: str, name: str, keep_io: bool = False, attrs=None):
        """Wrap ``module.attr`` in a span. ``keep_io`` stores the call's
        arguments and result on the span (for replays); ``attrs`` maps the
        call's arguments to extra span fields."""
        original = getattr(module, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return original(*args, **kwargs)
            with tracer.span(name, **(attrs(*args, **kwargs) if attrs else {})) as rec:
                out = original(*args, **kwargs)
                if keep_io:
                    rec["io"] = (args, kwargs, out)
            return out

        wrapper.__wrapped__ = original
        setattr(module, attr, wrapper)
        self._patched.append((module, attr, original))

    def unpatch_all(self) -> None:
        for module, attr, original in reversed(self._patched):
            setattr(module, attr, original)
        self._patched.clear()


class Replayer:
    """Noop-write timings of DataFrames, memoised per object within a step.
    Runs under its own job group so replay jobs never count toward spans."""

    def __init__(self, sc):
        self.sc = sc
        self._memo: dict[int, float] = {}
        self._keep: list = []
        self.total_s = 0.0

    def reset(self) -> None:
        self._memo.clear()
        self._keep.clear()

    def time(self, df) -> float:
        key = id(df)
        if key not in self._memo:
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", REPLAY_GROUP)
            t0 = time.perf_counter()
            try:
                df.write.format("noop").mode("overwrite").save()
            finally:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)
            dt = time.perf_counter() - t0
            self.total_s += dt
            self._memo[key] = dt
            self._keep.append(df)  # ids stay unique while memoised
        return self._memo[key]

    def busy(self, out, *upstream) -> float:
        """Busy time of the layer that produced ``out`` from ``upstream``:
        the output's replay minus its inputs' replays, floored at 0."""
        return max(0.0, self.time(out) - sum(self.time(u) for u in upstream))


def self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of it its child spans cover."""
    ivs = sorted((c["start"], c["end"]) for c in children)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return max(0.0, span["end"] - span["start"] - covered)


class EventLog:
    """Per-job-group totals from a Spark event log (JSON lines)."""

    PY_SENT = "data sent to Python workers"
    PY_BACK = "data returned from Python workers"

    def __init__(self, path: str):
        self.job_group: dict[int, str | None] = {}
        self.stage_group: dict[int, str | None] = {}
        self.by_group: dict[str, dict] = {}
        # accumulator id -> (plan node name, metric name, scanned location)
        self.acc_node: dict[int, tuple[str, str, str]] = {}
        tasks = []
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    self.job_group[ev["Job ID"]] = group
                    for sid in ev.get("Stage IDs", []):
                        self.stage_group.setdefault(sid, group)
                    self._g(group)["jobs"] += 1
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    self._g(self.stage_group.get(sid))["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    self._walk(ev.get("sparkPlanInfo") or {})
        for ev in tasks:
            self._task(ev)

    def _g(self, group) -> dict:
        key = group or ""
        if key not in self.by_group:
            self.by_group[key] = {
                "jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
                "shuffle_write_bytes": 0, "spill_bytes": 0, "python_bytes": 0,
                "python_rows": 0, "scan_rows": {},
            }
        return self.by_group[key]

    def _walk(self, node: dict) -> None:
        name = node.get("nodeName", "")
        loc = (node.get("metadata") or {}).get("Location", "")
        for m in node.get("metrics", []):
            self.acc_node[m["accumulatorId"]] = (name, m["name"], loc)
        for child in node.get("children", []):
            self._walk(child)

    def _task(self, ev: dict) -> None:
        g = self._g(self.stage_group.get(ev.get("Stage ID")))
        g["tasks"] += 1
        m = ev.get("Task Metrics") or {}
        g["task_s"] += m.get("Executor Run Time", 0) / 1000.0
        g["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            try:
                upd = int(acc.get("Update", 0))
            except (TypeError, ValueError):
                continue
            if acc.get("Name") in (self.PY_SENT, self.PY_BACK):
                g["python_bytes"] += upd
            node = self.acc_node.get(acc.get("ID"))
            if node is None or node[1] != "number of output rows":
                continue
            if node[0] == "ArrowEvalPython":
                g["python_rows"] += upd
            elif node[0].startswith("Scan parquet") and node[2]:
                g["scan_rows"][node[2]] = g["scan_rows"].get(node[2], 0) + upd

    def totals(self, groups) -> dict:
        out = {"jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
               "shuffle_write_bytes": 0, "spill_bytes": 0, "python_bytes": 0,
               "python_rows": 0, "scan_rows": {}}
        for grp in groups:
            g = self.by_group.get(grp)
            if g is None:
                continue
            for k, v in g.items():
                if k == "scan_rows":
                    for loc, n in v.items():
                        out[k][loc] = out[k].get(loc, 0) + n
                else:
                    out[k] += v
        return out


def scan_rows(totals: dict, table_dir: str) -> int:
    """Rows the scans of ``table_dir`` produced (plan Location strings
    carry the URI of the scanned directory, possibly with a bucket
    subdirectory)."""
    needle = os.path.abspath(table_dir).rstrip("/")
    n = 0
    for loc, rows in totals["scan_rows"].items():
        if needle + "]" in loc or needle + "/" in loc or needle + "," in loc:
            n += rows
    return n


def find_event_log(directory: str) -> str:
    files = [os.path.join(directory, f) for f in os.listdir(directory)]
    files = [f for f in files if os.path.isfile(f) and not f.endswith(".inprogress")]
    if not files:
        raise RuntimeError(f"no finished event log in {directory}")
    return max(files, key=os.path.getmtime)
