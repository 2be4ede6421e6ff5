"""In-memory spans around calls into the package, and Spark counters read
per job group.

The tracer wraps public package functions from the benchmark's side (no
package file changes). A span records name, start, end, parent and the
operation it belongs to; self time is the span minus the part of it its
children cover. Spark job counts come from one job group per operation
(and per ``job_group`` span) read through ``statusTracker()``; shuffle and
spill bytes from the driver's status store, which exists with the UI off.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups: list[str] = []
        self._patched: list[tuple] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str, job_group: bool = False):
        """Record one span. With ``job_group`` the Spark jobs started inside
        it, outside nested groups, run in a job group named in ``group``."""
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        group = f"pb-{rec['id']}" if job_group else None
        if group:
            self._set_group(group)
            self._groups.append(group)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group:
                self._groups.pop()
                self._set_group(self._groups[-1] if self._groups else None)
                rec["group"] = group

    def _set_group(self, group: str | None) -> None:
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(group, group)

    def wrap(self, owner, attr: str, name: str, job_group: bool = False,
             after=None) -> None:
        """Replace ``owner.attr`` by a spanning wrapper; ``after(rec, result,
        args, kwargs)`` may copy counters from the call into the span."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self.span(name, job_group=job_group) as rec:
                result = original(*args, **kwargs)
                if rec is not None and after is not None:
                    after(rec, result, args, kwargs)
                return result

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, original))

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def op_spans(self) -> dict[int, list[dict]]:
        by_op: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["op"] is not None:
                by_op.setdefault(s["op"], []).append(s)
        return by_op


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id → seconds of the span not covered by its children (the union
    of the children's intervals, clipped to the span)."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
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
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


class SparkCounters:
    """Jobs, shuffle-write and spill bytes of a job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_bytes(self, job_ids: list[int]) -> dict:
        from py4j.protocol import Py4JJavaError

        tracker = self.sc.statusTracker()
        out = {"shuffle_write_bytes": 0, "spill_bytes": 0}
        seen = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # skipped stage: never attempted
                    continue
                out["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
                out["spill_bytes"] += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
        return out
