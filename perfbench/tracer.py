"""Outside-in tracer: spans around calls into the engine's public functions.

Nothing inside the engine is edited. The tracer replaces module attributes
with timing wrappers (``wrap``), so a call made through that attribute
opens a span. A span records (name, start, end, parent, op id); spans stay
in memory and are written out when the run ends. A span's self time is
its duration minus the part of it covered by child spans.

Counters at the same boundaries:

* py4j round trips: the gateway client's ``send_command`` is wrapped, so
  every driver-to-JVM call is counted and timed, attributed to the open op;
* Spark jobs: each op runs under its own job group (``setJobGroup``); the
  status tracker counts the group's jobs, and after the run the UI REST API
  gives each job's duration, tasks and its stages' shuffle bytes.

Lazy builders (for example the ``flatten_*`` functions) return a plan, so
their span holds plan-build time only; the work runs inside the action
that later executes the plan and is billed to that action's span.
"""

from __future__ import annotations

import datetime as dt
import json
import statistics
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


def self_times(spans: list[Span]) -> list[float]:
    """Per span: duration minus the union of its children's intervals."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(i, [])):
            lo, hi = max(lo, s.start), min(hi, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((s.end - s.start) - covered)
    return out


def _rest_time(s: str) -> float:
    """Epoch seconds of a REST timestamp like 2026-01-02T03:04:05.678GMT."""
    t = dt.datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=dt.timezone.utc).timestamp()


class Tracer:
    """Spans and counters for one run. Until :meth:`attach` it records op
    spans only, so the same workload code runs untraced."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.op: int | None = None
        self.op_kind: dict[int, str] = {}
        self.py4j_calls: dict[int, int] = defaultdict(int)
        self.py4j_s: dict[int, float] = defaultdict(float)
        self.counts: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self._patched: list[tuple[object, str, object]] = []
        self._spark = None
        self._next_op = 0
        # ops numbered in [first_traced, end_traced) ran attached
        self.first_traced = self.end_traced = 0

    # --- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        self.stack.append(idx)
        try:
            yield idx
        finally:
            self.stack.pop()
            self.spans[idx].end = time.perf_counter()

    def wrap(self, owner: object, attr: str, name: str, rows: bool = False) -> None:
        """Replace ``owner.attr`` with a wrapper opening span ``name``;
        with ``rows``, also count the length of each result."""
        fn = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if rows:
                self.add(self.op, f"{name}.rows", len(out))
            return out

        traced.__wrapped__ = fn
        setattr(owner, attr, traced)
        self._patched.append((owner, attr, fn))

    def add(self, op: int | None, key: str, value: float) -> None:
        if op is not None:
            self.counts[op][key] += value

    # --- ops -----------------------------------------------------------------

    @contextmanager
    def operation(self, kind: str):
        """One unit op: a root span and, when attached, a Spark job group."""
        op = self._next_op
        self._next_op += 1
        self.op, self.op_kind[op] = op, kind
        sc = self._spark.sparkContext if self._spark is not None else None
        if sc is not None:
            sc.setJobGroup(f"perfbench-op-{op}", kind)
        try:
            with self.span(kind):
                yield op
        finally:
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.op = None

    # --- Spark / py4j ----------------------------------------------------------

    def attach(self, spark) -> None:
        """Count py4j round trips and put each op in its own job group."""
        self._spark = spark
        self.first_traced = self._next_op
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def send_command(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return send(*args, **kwargs)
            finally:
                if self.op is not None:
                    self.py4j_calls[self.op] += 1
                    self.py4j_s[self.op] += time.perf_counter() - t0

        client.send_command = send_command
        self._patched.append((client, "send_command", send))

    @property
    def attached(self) -> bool:
        return self._spark is not None

    def restore(self) -> None:
        self.end_traced = self._next_op
        for owner, attr, fn in reversed(self._patched):
            if attr == "send_command":
                delattr(owner, attr)  # drop the instance override
            else:
                setattr(owner, attr, fn)
        self._patched.clear()

    def job_stats(self) -> dict[int, dict[str, float]]:
        """Per op: summed job seconds, tasks and shuffle bytes, from the UI
        REST API (call once, after the timed region)."""
        sc = self._spark.sparkContext
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

        def get(path: str):
            with urllib.request.urlopen(base + path, timeout=60) as r:
                return json.loads(r.read())

        stages = {}
        for st in get("/stages?status=complete"):
            shuffle = st.get("shuffleWriteBytes", 0) + st.get("shuffleReadBytes", 0)
            stages[st["stageId"]] = max(stages.get(st["stageId"], 0), shuffle)
        out: dict[int, dict[str, float]] = defaultdict(
            lambda: {"job_s": 0.0, "tasks": 0, "shuffle_bytes": 0}
        )
        seen: dict[int, set[int]] = defaultdict(set)
        for job in get("/jobs"):
            group = job.get("jobGroup") or ""
            if not group.startswith("perfbench-op-") or "completionTime" not in job:
                continue
            op = int(group.rsplit("-", 1)[1])
            rec = out[op]
            rec["job_s"] += _rest_time(job["completionTime"]) - _rest_time(
                job["submissionTime"]
            )
            rec["tasks"] += job.get("numTasks", 0) - job.get("numSkippedTasks", 0)
            fresh = set(job["stageIds"]) - seen[op]
            seen[op] |= fresh
            rec["shuffle_bytes"] += sum(stages.get(s, 0) for s in fresh)
        return out

    def job_counts(self, ops: list[int]) -> dict[int, int]:
        """Jobs per op from the status tracker (no UI needed)."""
        tracker = self._spark.sparkContext.statusTracker()
        return {op: len(tracker.getJobIdsForGroup(f"perfbench-op-{op}")) for op in ops}

    # --- output ----------------------------------------------------------------

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s, st in zip(self.spans, selfs):
                f.write(json.dumps({
                    "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "op": s.op, "self_s": st,
                }) + "\n")

    def op_spans(self, op: int, name: str) -> float:
        """Summed inclusive seconds of spans ``name`` inside op ``op``."""
        return sum(s.end - s.start for s in self.spans if s.op == op and s.name == name)

    def per_op(self, ops: list[int], name: str) -> float:
        """Median over ``ops`` of the seconds spent in spans ``name``;
        0 when the layer is never called."""
        if not ops:
            return 0.0
        return statistics.median(self.op_spans(op, name) for op in ops)

    def traced_ops(self, kinds) -> list[int]:
        """Ops of the given kinds that ran attached."""
        return [o for o, k in self.op_kind.items()
                if k in kinds and self.first_traced <= o < self.end_traced]

    def op_wall(self, op: int) -> float:
        return next(s.end - s.start for s in self.spans if s.op == op and s.parent is None)
