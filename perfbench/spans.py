"""Span recorder, layer wrappers and Spark status-store counts.

Spans are kept in memory and written out once, when the run ends.  The
layers are wrapped from outside: a wrapper replaces a module attribute
that the engine calls by name, records a span around the original and
tags the Spark jobs the call submits, so that jobs submitted from the
pipeline's writer threads are attributed too.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time


class Recorder:
    """In-memory spans: name, start, end, parent, trace id, thread."""

    def __init__(self, spark_context, enabled: bool = True):
        self.sc = spark_context
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.trace_id: str | None = None  # shared by threads without their own

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def set_thread_trace(self, trace_id: str | None) -> None:
        self._local.trace_id = trace_id

    def span(self, name: str):
        return self._span(name) if self.enabled else contextlib.nullcontext()

    @contextlib.contextmanager
    def _span(self, name: str):
        stack = self._stack()
        sid = next(self._ids)
        tag = f"pb-span-{sid}"
        rec = {
            "id": sid,
            "name": name,
            "layer": name.split(".", 1)[0],
            "parent": stack[-1] if stack else None,
            "trace": getattr(self._local, "trace_id", None) or self.trace_id,
            "thread": threading.get_ident(),
            "depth": len(stack),
            "start": time.time(),
        }
        stack.append(sid)
        self.sc.addJobTag(tag)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.sc.removeJobTag(tag)
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, fn, name: str, trace_of=None):
        """``fn`` inside a span; ``trace_of(*args)``, when given, names the
        trace the call belongs to (a request id, say)."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if trace_of is not None:
                self.set_thread_trace(trace_of(*args))
            try:
                with self.span(name):
                    return fn(*args, **kwargs)
            finally:
                if trace_of is not None:
                    self.set_thread_trace(None)

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in sorted(self.spans, key=lambda r: r["start"]):
                fh.write(json.dumps(rec) + "\n")


@contextlib.contextmanager
def patched(recorder: Recorder | None, targets: list[tuple]):
    """Replace each ``(owner, attribute, span name[, trace_of])`` with a
    traced wrapper for the duration of the block; no-op without a
    recorder."""
    if recorder is None:
        targets = []
    saved = []
    try:
        for owner, attr, name, *trace_of in targets:
            orig = getattr(owner, attr)
            saved.append((owner, attr, orig))
            setattr(owner, attr, recorder.wrap(orig, name, *trace_of))
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the time its direct children cover.
    Children run in the parent's thread, one at a time, so their
    durations do not overlap."""
    child = {s["id"]: 0.0 for s in spans}
    for s in spans:
        if s["parent"] in child:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in spans}


# ---------------------------------------------------------------- Spark ---

COUNT_KEYS = ("jobs", "stages", "tasks", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "executor_run_s",
              "executor_cpu_s")


def spark_jobs(sc, since_ms: float) -> list[dict]:
    """Finished jobs submitted after ``since_ms`` (epoch ms), with the
    counts of their stages that ran, read from Spark's status store."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    seq = store.jobsList(None)
    out = []
    for i in range(seq.size()):
        j = seq.apply(i)
        sub = j.submissionTime()
        if sub.isEmpty() or sub.get().getTime() < since_ms:
            continue
        tags = j.jobTags()
        rec = {
            "job": j.jobId(),
            "submit": sub.get().getTime() / 1000.0,
            "tags": [tags.apply(k) for k in range(tags.size())],
            **{k: 0 for k in COUNT_KEYS},
        }
        rec["jobs"] = 1
        sids = j.stageIds()
        for k in range(sids.size()):
            st = store.lastStageAttempt(sids.apply(k))
            if st.status().toString() == "SKIPPED":
                continue
            rec["stages"] += 1
            rec["tasks"] += st.numCompleteTasks()
            rec["shuffle_read_bytes"] += st.shuffleReadBytes()
            rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
            rec["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            rec["executor_run_s"] += st.executorRunTime() / 1000.0
            rec["executor_cpu_s"] += st.executorCpuTime() / 1e9
        out.append(rec)
    return out


def attribute_jobs(jobs: list[dict], spans: list[dict]) -> dict[int, str]:
    """Job id -> layer.  A job goes to the innermost span whose tag it
    carries; an untagged job goes to the innermost span whose interval
    contains its submit time."""
    by_tag = {f"pb-span-{s['id']}": s for s in spans}
    out = {}
    for j in jobs:
        tagged = [by_tag[t] for t in j["tags"] if t in by_tag]
        if not tagged:
            tagged = [s for s in spans if s["start"] <= j["submit"] <= s["end"]]
        if tagged:
            out[j["job"]] = max(tagged, key=lambda s: (s["depth"], s["start"]))["layer"]
    return out
