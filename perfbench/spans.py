"""Spans recorded from outside the program.

A span is (id, name, start, end, parent, run id) plus counts.  Opening
a span sets the Spark job group of the calling thread to the span id,
so every job the span causes can be found in the event log
(eventlog.digest).  Spans wrap the benchmark's own calls into a layer,
and :meth:`Tracer.wrap` swaps a module attribute for a wrapper so calls
the program makes internally (a pipeline stage, a versioned-table
commit inside the stream) are recorded too.  With tracing off every
method is a no-op and nothing is patched.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time


class Tracer:
    def __init__(self, sc, run_id: str, enabled: bool):
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self._open: list[dict] = []  # open spans, all threads
        self.paused = False  # ops run untraced to measure the overhead

    def _active(self) -> bool:
        return self.enabled and not self.paused

    def _frames(self) -> list[dict]:
        if not hasattr(self._stack, "frames"):
            self._stack.frames = []
        return self._stack.frames

    @contextlib.contextmanager
    def span(self, name: str):
        """Record a span around the block; yields its record (callers
        may add counts under ``rec["counts"]``), or a throwaway dict
        when tracing is off.  The parent is the calling thread's open
        span or, on a thread with none (a streaming ``foreachBatch``
        callback), the span opened last on any thread."""
        if not self._active():
            yield {"counts": {}}
            return
        frames = self._frames()
        parent = frames[-1] if frames else (self._open[-1] if self._open else None)
        rec = {
            "id": f"{self.run_id}.{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
            "counts": {},
        }
        self.spans.append(rec)
        self._open.append(rec)
        frames.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            frames.pop()
            self._open.remove(rec)
            if frames:
                self.sc.setJobGroup(frames[-1]["id"], frames[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, owner, attr: str, name, counts=None, pre=None) -> None:
        """Replace ``owner.attr`` by a wrapper that runs each call inside
        a span.  ``name`` is a span name or a function of the call's
        arguments; ``pre(args, kwargs)`` runs before the call and its
        value is handed to ``counts(result, args, kwargs, pre_value)``,
        which may return counts to store on the span.
        :meth:`unwrap_all` restores the originals."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer._active():
                return orig(*args, **kwargs)
            span_name = name(*args, **kwargs) if callable(name) else name
            before = pre(args, kwargs) if pre is not None else None
            with tracer.span(span_name) as rec:
                result = orig(*args, **kwargs)
                if counts is not None:
                    rec["counts"].update(counts(result, args, kwargs, before))
                return result

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)
