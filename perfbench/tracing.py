"""The traced run's instruments, all outside the library.

- Spans: the library's public calls are wrapped from here (class and
  module attributes, for the life of the process), so a call made inside
  another layer (``LakeSQL.sql`` -> ``LakeTable.merge``) nests under
  its caller. Each span keeps (name, start, end, parent, op id) in
  memory; ``dump`` writes them when the run ends.
- py4j: ``send_command`` of the session's gateway client is wrapped to
  count driver<->JVM round-trips per operation.
- Spark: the event log (uncompressed) is parsed after the session stops;
  jobs are attributed to operations through the job tag the runner sets
  around each traced operation.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from collections import defaultdict

TAG_PREFIX = "perfbench-op-"


class Tracer:
    """Spans and counters of one run. While ``enabled`` is false every
    hook is a pass-through, so the untraced window runs the same code."""

    def __init__(self) -> None:
        self.installed = False
        self.enabled = False
        self.op: int | str | None = None
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.counts: dict = defaultdict(lambda: defaultdict(float))

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter_ns(), None, parent, self.op])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter_ns()

    @contextlib.contextmanager
    def paused(self):
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def count(self, key: str, n: float = 1) -> None:
        if self.enabled:
            self.counts[self.op][key] += n

    def record(self, op, key: str, n: float) -> None:
        """Add to an operation's counter from outside its span (the
        runner's after-operation bookkeeping)."""
        if self.installed:
            self.counts[op][key] += n

    def wrap(self, owner, attr: str, name, after=None) -> None:
        """Replace ``owner.attr`` by a spanned call. ``name`` is a span
        name or a function of the call's arguments returning one;
        ``after(result, *args, **kw)`` records counters at the boundary."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kw):
            if not tracer.enabled:
                return orig(*args, **kw)
            label = name(*args, **kw) if callable(name) else name
            with tracer.span(label):
                out = orig(*args, **kw)
            if after is not None:
                after(out, *args, **kw)
            return out

        setattr(owner, attr, traced)

    def count_py4j(self, gateway_client) -> None:
        orig = gateway_client.send_command
        tracer = self

        def send_command(*args, **kw):
            if tracer.enabled:
                tracer.counts[tracer.op]["driver.py4j_calls"] += 1
            return orig(*args, **kw)

        gateway_client.send_command = send_command

    def span_table(self) -> list[dict]:
        """Spans with duration and self time (duration minus the part
        its direct children cover), in ms; list index = span id."""
        child_ns = defaultdict(int)
        for name, start, end, parent, _op in self.spans:
            if parent is not None and end is not None:
                child_ns[parent] += end - start
        out = []
        for i, (name, start, end, parent, op) in enumerate(self.spans):
            dur = (end or start) - start
            out.append({
                "name": name, "start_ns": start, "end_ns": end,
                "parent": parent, "op": op,
                "ms": dur / 1e6, "self_ms": (dur - child_ns[i]) / 1e6,
            })
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.span_table(), f)


def _tagged_op(props: dict):
    for tag in (props.get("spark.job.tags") or "").split(","):
        if tag.startswith(TAG_PREFIX):
            return int(tag[len(TAG_PREFIX):])
    return None


def spark_metrics_by_op(eventlog_dir: str) -> dict:
    """{op id (None = untagged): {spark.* metric: value}} from every
    event-log file under ``eventlog_dir``."""
    out: dict = defaultdict(lambda: defaultdict(float))
    stage_op: dict[int, object] = {}
    files = [
        p for p in glob.glob(os.path.join(eventlog_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")
    ]
    for path in sorted(files):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    op = _tagged_op(e.get("Properties") or {})
                    out[op]["spark.jobs"] += 1
                    for s in e.get("Stage IDs", []):
                        stage_op.setdefault(s, op)
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    if "Submission Time" in info:
                        out[stage_op.get(info["Stage ID"])]["spark.stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    acc = out[stage_op.get(e["Stage ID"])]
                    sr = m.get("Shuffle Read Metrics", {})
                    acc["spark.tasks"] += 1
                    acc["spark.task_ms"] += m.get("Executor Run Time", 0)
                    acc["spark.gc_ms"] += m.get("JVM GC Time", 0)
                    acc["spark.shuffle_read_bytes"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    )
                    acc["spark.shuffle_write_bytes"] += m.get(
                        "Shuffle Write Metrics", {}
                    ).get("Shuffle Bytes Written", 0)
                    acc["spark.spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    acc["spark.input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                    acc["spark.output_bytes"] += m.get(
                        "Output Metrics", {}
                    ).get("Bytes Written", 0)
    return out
