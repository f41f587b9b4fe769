"""Out-of-program tracing: spans around calls into the engine's modules,
each span with its own Spark job group so the core status store's stage
metrics can be attributed to it.

Spans are kept in memory and written out once, at the end of a run.
Nothing here changes the program: ``Tracer.patch`` swaps module
attributes for timing wrappers and ``Tracer.uninstall`` puts the
originals back.
"""

from __future__ import annotations

import functools
import sys
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# Stage fields read from the status store, summed per span.
STAGE_FIELDS = (
    ("run_ms", "executorRunTime"),
    ("cpu_ns", "executorCpuTime"),
    ("gc_ms", "jvmGcTime"),
    ("shuffle_read_bytes", "shuffleReadBytes"),
    ("shuffle_write_bytes", "shuffleWriteBytes"),
    ("mem_spill_bytes", "memoryBytesSpilled"),
    ("disk_spill_bytes", "diskBytesSpilled"),
    ("input_bytes", "inputBytes"),
    ("tasks", "numTasks"),
    ("failed_tasks", "numFailedTasks"),
)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval that its
    direct children cover (children may overlap; their union counts)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(children.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
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


class Tracer:
    """Span recorder. ``enabled`` switches recording on and off between
    passes, so one run can interleave traced and untraced passes."""

    def __init__(self):
        self.spans: list[dict] = []
        self.enabled = False
        self.sc = None  # SparkContext used to set job groups
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "group": f"perfbench-{sid}",
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self.spans[self._stack[-1]] if self._stack else None)

    def _set_group(self, rec: dict | None) -> None:
        if self.sc is None:
            return
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(rec["group"], rec["name"])

    # -- wrappers ------------------------------------------------------
    def wrap(self, fn, name):
        """``fn`` timed as span ``name`` (a string, or a callable taking
        the call's arguments and returning the span name)."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label) as rec:
                out = fn(*args, **kwargs)
                if isinstance(out, int) and not isinstance(out, bool):
                    rec["returned"] = out
                return out

        return traced

    def patch(self, owner, attr: str, name) -> None:
        """Replace ``owner.attr`` with a traced wrapper, and every other
        reference to the same function held by a loaded engine module
        (``from x import f`` copies the reference at import time)."""
        orig = getattr(owner, attr)
        wrapped = self.wrap(orig, name)
        targets = [(owner, attr)]
        if not isinstance(owner, type):
            for mod_name, mod in list(sys.modules.items()):
                if mod is None or mod is owner or not mod_name.startswith("x17a5_spark"):
                    continue
                for a, v in list(vars(mod).items()):
                    if v is orig:
                        targets.append((mod, a))
        for obj, a in targets:
            self._patches.append((obj, a, getattr(obj, a)))
            setattr(obj, a, wrapped)

    def uninstall(self) -> None:
        while self._patches:
            obj, a, orig = self._patches.pop()
            setattr(obj, a, orig)


class StageReader:
    """Reads new jobs and stages from the core status store and sums the
    stage metrics per job group. A stage that several jobs share is
    attributed to the job that ran it first (the lowest job id)."""

    def __init__(self, sc):
        self.store = sc._jsc.sc().statusStore()
        self.last_job = -1

    def collect(self) -> dict[str, dict[str, float]]:
        jobs = self.store.jobsList(None)
        fresh = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= self.last_job:
                continue
            g = j.jobGroup()
            group = g.get() if g.isDefined() else None
            ids = j.stageIds()
            fresh.append((jid, group, [ids.apply(k) for k in range(ids.size())]))
        fresh.sort()
        if fresh:
            self.last_job = fresh[-1][0]
        seen: set[int] = set()
        out: dict[str, dict[str, float]] = {}
        for _, group, stage_ids in fresh:
            for sid in stage_ids:
                if sid in seen:
                    continue
                seen.add(sid)
                if group is None:
                    continue
                try:
                    st = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # evicted from the store, or never ran
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                acc = out.setdefault(group, dict.fromkeys(
                    [k for k, _ in STAGE_FIELDS], 0.0))
                for key, getter in STAGE_FIELDS:
                    acc[key] += float(getattr(st, getter)())
        return out


def attach_stage_metrics(spans: list[dict], by_group: dict[str, dict]) -> None:
    for s in spans:
        m = by_group.get(s["group"])
        if m is not None:
            s.setdefault("stages", dict.fromkeys(m, 0.0))
            for k, v in m.items():
                s["stages"][k] += v


def subtree_stage_sum(spans: list[dict], root_id: int, key: str) -> float:
    """``key`` summed over the stages of span ``root_id`` and all spans
    below it."""
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s["id"])
    total, todo = 0.0, [root_id]
    while todo:
        sid = todo.pop()
        total += spans[sid].get("stages", {}).get(key, 0.0)
        todo.extend(kids.get(sid, []))
    return total
