"""Spans recorded around calls into the program's public functions.

Nothing in ``go_readability_spark`` is edited: the traced run swaps a
module attribute for a timing wrapper, calls through, and puts the
original back.  On the driver that wraps whole jobs; inside a PySpark
Python worker it wraps ``plans.extract.extract_record`` and the
``dom``/``readability`` entry points it calls, for the duration of one
task.

A span is ``[name, start_ns, end_ns, parent, value]``: ``parent`` is the
index of the enclosing span in the same log (or a string id of a span in
another process), ``value`` an optional count measured at the boundary
(bytes parsed, grab attempts, ...).  Spans stay in memory and are written
out once: at the end of a task (workers) or of the run (driver).  Times
come from ``time.perf_counter_ns``, which is CLOCK_MONOTONIC on Linux and
therefore comparable between the driver and its local workers.

This module is pickled by value into the workers (see ``ship``), so it
imports only the standard library at module level.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import uuid


class SpanLog:
    """In-memory span recorder for one process and one run id."""

    def __init__(self, run_id: str, root_parent=None):
        self.run_id = run_id
        self.file_id = uuid.uuid4().hex[:12]
        self.spans: list[list] = []
        self._stack: list[int] = []
        self._root_parent = root_parent

    def open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else self._root_parent
        self.spans.append([name, time.perf_counter_ns(), 0, parent, None])
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def close(self, idx: int, value=None) -> None:
        span = self.spans[idx]
        span[2] = time.perf_counter_ns()
        span[4] = value
        # tolerate an exception that unwound past inner spans
        while self._stack and self._stack.pop() != idx:
            pass

    def span_id(self, idx: int) -> str:
        return f"{self.file_id}:{idx}"

    def current_id(self) -> str | None:
        return self.span_id(self._stack[-1]) if self._stack else None

    @contextlib.contextmanager
    def span(self, name: str, value=None):
        """Span around a block; the block may set box["value"]."""
        idx = self.open(name)
        box = {"value": value}
        try:
            yield box
        finally:
            self.close(idx, box["value"])

    def last(self, name: str) -> float:
        """Seconds of the most recent closed span named name."""
        for s in reversed(self.spans):
            if s[0] == name and s[2]:
                return (s[2] - s[1]) / 1e9
        raise KeyError(name)

    def wrap(self, name: str, fn, value_of=None):
        """fn wrapped in a span; value_of(args, result) -> count."""

        def traced(*args, **kwargs):
            idx = self.open(name)
            out = None
            try:
                out = fn(*args, **kwargs)
                return out
            finally:
                self.close(idx, value_of(args, out) if value_of and out is not None else None)

        return traced

    def dump(self, out_dir: str) -> str:
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"spans-{os.getpid()}-{self.file_id}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"run": self.run_id, "file": self.file_id,
                       "pid": os.getpid(), "spans": self.spans}, fh)
        os.replace(tmp, path)
        return path


class Patch:
    """Replace attributes for the duration of a ``with`` block."""

    def __init__(self, targets):
        self._targets = targets  # [(owner, attr, replacement)]
        self._saved: list = []

    def __enter__(self):
        for owner, attr, new in self._targets:
            self._saved.append((owner, attr, owner.__dict__[attr]))
            setattr(owner, attr, new)
        return self

    def __exit__(self, *exc):
        while self._saved:
            owner, attr, old = self._saved.pop()
            setattr(owner, attr, old)


def _grab_attempts(args, article):
    # Parser.attempts holds one entry per grab attempt that fell short of
    # the char threshold; a fourth short attempt ends the retry sieve
    n = len(args[0].attempts)
    return n if n >= 4 else n + 1


def _kernel_targets(log: SpanLog):
    """Wrappers for the per-document kernel's public entry points."""
    import go_readability_spark.dom as dom
    import go_readability_spark.plans.extract as ex
    import go_readability_spark.readability as rd

    return [
        (ex, "extract_record", log.wrap(
            "plans.extract_record", ex.extract_record,
            lambda a, rec: 1 if rec["error"] else 0)),
        (dom, "parse_html", log.wrap(
            "dom.parse_html", dom.parse_html,
            lambda a, doc: len(a[0]) if a[0] is not None else 0)),
        (rd, "check_document", log.wrap(
            "readability.check_document", rd.check_document,
            lambda a, ok: 1 if ok else 0)),
        (rd.Parser, "parse_document", log.wrap(
            "readability.parse_document", rd.Parser.__dict__["parse_document"],
            _grab_attempts)),
    ]


def traced_mapper(orig, spans_dir: str, run_id: str, parent: str):
    """mapInPandas function that runs ``orig`` with the kernel wrapped.

    Per task: ``plans.task`` spans the whole function; each pull of an
    output frame is a ``plans.frame_build`` span whose children are the
    input-batch pulls (``plans.input_batch``: Arrow -> pandas on the way
    in) and the ``plans.extract_record`` calls."""

    def traced_batches(batches):
        log = SpanLog(run_id, root_parent=parent)

        def pulls():
            it = iter(batches)
            while True:
                idx = log.open("plans.input_batch")
                try:
                    pdf = next(it)
                except StopIteration:
                    log.close(idx)
                    return
                log.close(idx, len(pdf))
                yield pdf

        task = log.open("plans.task")
        try:
            with Patch(_kernel_targets(log)):
                frames = orig(pulls())
                while True:
                    idx = log.open("plans.frame_build")
                    try:
                        pdf = next(frames)
                    except StopIteration:
                        log.close(idx)
                        break
                    log.close(idx, len(pdf))
                    yield pdf
        finally:
            log.close(task)
            log.dump(spans_dir)

    return traced_batches


def traced_extractors(spans_dir: str, run_id: str, parent: str):
    """Driver-side patch: extract_pages / run_extraction_job_atomic build
    their mapInPandas function through these module attributes."""
    import go_readability_spark.plans.extract as ex

    make_extractor = ex.make_extractor
    make_sink_extractor = ex.make_sink_extractor

    def traced_make_extractor(*args, **kwargs):
        return traced_mapper(make_extractor(*args, **kwargs), spans_dir, run_id, parent)

    def traced_make_sink_extractor(*args, **kwargs):
        return traced_mapper(make_sink_extractor(*args, **kwargs), spans_dir, run_id, parent)

    return Patch([(ex, "make_extractor", traced_make_extractor),
                  (ex, "make_sink_extractor", traced_make_sink_extractor)])


def import_kernel(batches):
    """The set-up job's mapInPandas: import the kernel in the worker."""
    import go_readability_spark.dom  # noqa: F401
    import go_readability_spark.plans.extract  # noqa: F401
    import go_readability_spark.readability  # noqa: F401

    yield from batches


def ship() -> None:
    """Pickle this module by value, so workers need no copy of it."""
    import sys

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])


# ------------------------------------------------------------------ analysis


def load_spans(spans_dir: str) -> list[dict]:
    """Every span file under spans_dir, flattened to dicts with global ids."""
    out = []
    for fn in sorted(os.listdir(spans_dir)):
        if not (fn.startswith("spans-") and fn.endswith(".json")):
            continue
        with open(os.path.join(spans_dir, fn)) as fh:
            doc = json.load(fh)
        fid = doc["file"]
        for i, (name, t0, t1, parent, value) in enumerate(doc["spans"]):
            out.append({
                "id": f"{fid}:{i}",
                "parent": f"{fid}:{parent}" if isinstance(parent, int) else parent,
                "run": doc["run"], "name": name, "t0": t0, "t1": t1,
                "value": value,
            })
    return out


def with_self_time(spans: list[dict]) -> list[dict]:
    """Add ``dur`` and ``self``: duration minus the part of the interval
    that child spans cover (union of child intervals, clipped)."""
    children: dict[str, list] = {}
    for s in spans:
        s["dur"] = max(0, s["t1"] - s["t0"])
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    for s in spans:
        covered = 0
        end = s["t0"]
        for c in sorted(children.get(s["id"], ()), key=lambda c: c["t0"]):
            lo, hi = max(c["t0"], end, s["t0"]), min(c["t1"], s["t1"])
            if hi > lo:
                covered += hi - lo
                end = hi
        s["self"] = s["dur"] - covered
    return spans
