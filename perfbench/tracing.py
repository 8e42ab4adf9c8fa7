"""In-memory spans for the traced benchmark run.

A span records name, start, end, its parent span and the operation (the
root span) it belongs to, plus the Spark jobs launched while it was open.
Spans are opened only from the benchmark, around calls into the engine's
public functions; ``instrument`` swaps a module attribute for a wrapper
that opens a span, so calls the engine makes between its own modules
(``append_segment`` -> ``build_tables`` -> ``pagerank_df``) are seen too.
Untraced runs never create a Tracer and never patch anything.
"""

import contextlib
import functools
import itertools
import json
import time


class Tracer:
    def __init__(self, spark=None):
        self._tracker = spark.sparkContext.statusTracker() if spark else None
        self._ids = itertools.count(1)
        self._stack = []
        self.spans = []
        self.overhead_s = 0.0  # wall the tracer's own bookkeeping added

    def _last_job(self) -> int:
        if self._tracker is None:
            return 0
        return max(self._tracker.getJobIdsForGroup(None), default=-1)

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = True):
        """``jobs=False`` skips the Spark job count (a status-tracker round
        trip) for spans around calls that never start a job."""
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {"id": next(self._ids), "name": name,
               "parent": parent["id"] if parent else None,
               "op": parent["op"] if parent else None,
               "job0": self._last_job() if jobs else 0}
        if rec["op"] is None:
            rec["op"] = rec["id"]
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            job0 = rec.pop("job0")
            rec["jobs"] = self._last_job() - job0 if jobs else 0
            self._stack.pop()
            self.spans.append(rec)
            self.overhead_s += time.perf_counter() - rec["end"]

    def by_name(self, name: str) -> list:
        return [s for s in self.spans if s["name"] == name]

    def self_times(self) -> dict:
        """name -> summed self time: a span's duration minus the part its
        child spans cover (children run one after another in the caller's
        thread, so their durations do not overlap)."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = (child.get(s["parent"], 0.0)
                                      + s["end"] - s["start"])
        out = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def total(self, name: str, key: str = "dur") -> float:
        if key == "dur":
            return sum(s["end"] - s["start"] for s in self.by_name(name))
        return sum(s[key] for s in self.by_name(name))

    def dump(self, path: str):
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times(),
                       "overhead_s": self.overhead_s}, f)


@contextlib.contextmanager
def instrument(tracer, targets):
    """Within the block, ``module.attr`` for each ``(module, attr, name)``
    in ``targets`` is a wrapper that runs the original inside a span."""
    saved = []
    for mod, attr, name in targets:
        orig = getattr(mod, attr)

        @functools.wraps(orig)
        def wrapper(*a, _orig=orig, _name=name, **kw):
            with tracer.span(_name):
                return _orig(*a, **kw)

        saved.append((mod, attr, orig))
        setattr(mod, attr, wrapper)
    try:
        yield
    finally:
        for mod, attr, orig in reversed(saved):
            setattr(mod, attr, orig)


@contextlib.contextmanager
def maybe_span(tracer, name, jobs=True):
    """A span when tracing, nothing otherwise."""
    if tracer is None:
        yield None
    else:
        with tracer.span(name, jobs) as rec:
            yield rec
