"""Spans around calls into the engine's public functions, recorded from
the benchmark's own files, and the reader of Spark's event log.

``Tracer.install`` replaces each listed function (and every other
``aisle_spark`` module binding of the same object) with a wrapper that
records a span: name, start, end, parent span, op id and, for codecs, the
bytes handled. Spans stay in memory; self time is a span's duration minus
the time its child spans cover. Nothing here runs inside Spark's Python
workers: executor-side modules are traced through the in-process replay.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import sys
import time
from collections import defaultdict
from pathlib import Path
from typing import Iterator

import numpy as np


def _nbytes(x) -> int:
    if isinstance(x, np.ndarray):
        return int(x.nbytes)
    if isinstance(x, (tuple, list)):
        return sum(_nbytes(v) for v in x)
    return 0


def _in_bytes(args, out) -> int:
    return _nbytes(args[:2])  # (values) or (lengths, data)


def _out_bytes(args, out) -> int:
    return _nbytes(out)


# (module, attribute, span name, counter of the bytes a codec call handles)
TARGETS = [
    ("aisle_spark.codecs.ints", "encode_ints", "codecs.ints.encode", _in_bytes),
    ("aisle_spark.codecs.ints", "decode_ints", "codecs.ints.decode", _out_bytes),
    ("aisle_spark.codecs.ints", "decode_ints_ranges", "codecs.ints.decode", _out_bytes),
    ("aisle_spark.codecs.strings", "encode_strings", "codecs.strings.encode", _in_bytes),
    ("aisle_spark.codecs.strings", "decode_strings", "codecs.strings.decode", _out_bytes),
    ("aisle_spark.codecs.bloom", "build_bloom", "codecs.bloom.build", None),
    ("aisle_spark.blocks", "encode_block", "blocks.encode_block", None),
    ("aisle_spark.blocks", "decode_block", "blocks.decode_block", None),
    ("aisle_spark.blocks", "decode_block_filtered", "blocks.decode_block_filtered", None),
    ("aisle_spark.chunkstats", "chunk_keep", "chunkstats.chunk_keep", None),
    ("aisle_spark.rowmask", "row_mask", "rowmask.row_mask", None),
    ("aisle_spark.filterspec", "Spec.keep_blocks", "filterspec.keep_blocks", None),
    ("aisle_spark.sqlcompile", "parse_where", "sqlcompile.parse_where", None),
    ("aisle_spark.datasource", "file_keep", "datasource.file_keep", None),
    ("aisle_spark.datasource", "AisleReader.partitions", "datasource.plan", None),
    ("aisle_spark.pipeline", "scan", "pipeline.scan", None),
    ("aisle_spark.pipeline", "scan_count", "pipeline.scan_count", None),
    ("aisle_spark.pipeline", "read_encoded", "pipeline.read_encoded", None),
    ("aisle_spark.pipeline", "encode_files_direct", "pipeline.encode", None),
    ("aisle_spark.pipeline", "load_manifest", "pipeline.manifest.load", None),
    ("aisle_spark.pipeline", "publish_manifest", "pipeline.manifest.publish", None),
    ("aisle_spark.maintenance", "compact_encoded", "maintenance.compact", None),
]


class Tracer:
    """In-memory span recorder. A span is ``[name, start_ns, end_ns,
    parent index, op id, bytes]``; spans are recorded only inside a
    traced ``scope``."""

    def __init__(self):
        self.spans: list[list] = []
        # span name -> busy-wait (ns) before each successive call: the
        # attribution self-test's injected slowdown
        self.delay: dict[str, Iterator[int]] = {}
        self._stack: list[int] = []
        self._op: str | None = None
        self._on = False
        self._saved: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def scope(self, op_id: str, traced: bool = True):
        prev = self._op, self._on
        self._op, self._on = op_id, traced
        try:
            with self.span("op") if traced else contextlib.nullcontext():
                yield
        finally:
            self._op, self._on = prev

    @contextlib.contextmanager
    def span(self, name: str):
        """A span around code that is not a wrapped call (e.g. consuming a
        generator)."""
        if not self._on:
            yield
            return
        rec = self._open(name)
        t0 = time.perf_counter_ns()
        try:
            yield
        finally:
            self._close(rec, t0, None)

    def _open(self, name: str) -> list:
        rec = [name, 0, 0, self._stack[-1] if self._stack else -1, self._op, 0]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        return rec

    def _close(self, rec: list, t0: int, nbytes: int | None) -> None:
        t1 = time.perf_counter_ns()
        self._stack.pop()
        rec[1], rec[2] = t0, t1
        if nbytes:
            rec[5] = nbytes

    def _wrap(self, fn, name: str, counter):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer._on:
                return fn(*args, **kwargs)
            rec = tracer._open(name)
            t0 = time.perf_counter_ns()
            plan = tracer.delay.get(name)
            if plan is not None:
                # before the call, so the code after it returns runs as
                # warm as without the delay
                until = t0 + next(plan, 0)
                while time.perf_counter_ns() < until:
                    pass
            out = None
            try:
                out = fn(*args, **kwargs)
                return out
            finally:
                tracer._close(rec, t0, counter(args, out) if counter and out is not None else None)

        return traced

    def install(self) -> None:
        for mod_name, attr, name, counter in TARGETS:
            mod = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                owner = getattr(mod, cls_name)
                fn = owner.__dict__[meth]
                self._patch(owner, meth, self._wrap(fn, name, counter))
                continue
            fn = getattr(mod, attr)
            wrapped = self._wrap(fn, name, counter)
            for other in list(sys.modules.values()):
                if (getattr(other, "__name__", "") or "").startswith("aisle_spark") and (
                    other.__dict__.get(attr) is fn
                ):
                    self._patch(other, attr, wrapped)

    def _patch(self, owner, attr: str, new) -> None:
        self._saved.append((owner, attr, vars(owner)[attr]))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._saved):
            setattr(owner, attr, old)
        self._saved.clear()

    # -- analysis --------------------------------------------------------
    def self_times(self, since: int = 0) -> list[tuple[str, float, str | None, int]]:
        """(name, self seconds, op id, bytes) of every span since ``since``."""
        spans = self.spans[since:]
        child = defaultdict(int)
        for name, t0, t1, parent, _op, _b in spans:
            if parent >= since:
                child[parent] += t1 - t0
        return [
            (name, (t1 - t0 - child[since + i]) / 1e9, op, b)
            for i, (name, t0, t1, _p, op, b) in enumerate(spans)
        ]

    def totals(self, since: int = 0) -> dict[str, dict[str, float]]:
        """Per span name: calls, total self seconds, bytes."""
        out: dict[str, dict[str, float]] = defaultdict(lambda: {"calls": 0, "self_s": 0.0, "bytes": 0})
        for name, s, _op, b in self.self_times(since):
            t = out[name]
            t["calls"] += 1
            t["self_s"] += s
            t["bytes"] += b
        return dict(out)


def read_event_log(event_dir: Path) -> list[dict]:
    """Jobs from Spark's event log: op id (the ``perfbench.op`` local
    property), submit/end (epoch s), tasks, task seconds and scheduler
    delay seconds."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    # rolling logs: eventlog_v2_<app>/events_<n>_<app>, in order of <n>
    paths = sorted(event_dir.rglob("events_*"), key=lambda p: int(p.name.split("_")[1]))
    for path in paths or sorted(p for p in event_dir.iterdir() if p.is_file()):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    j = jobs[ev["Job ID"]] = {
                        "op": (ev.get("Properties") or {}).get("perfbench.op"),
                        "submit": ev["Submission Time"] / 1e3,
                        "end": None,
                        "tasks": 0,
                        "task_s": 0.0,
                        "sched_delay_s": 0.0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    if j is None:
                        continue
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    dur = (info["Finish Time"] - info["Launch Time"]) / 1e3
                    busy = (
                        m.get("Executor Run Time", 0)
                        + m.get("Executor Deserialize Time", 0)
                        + m.get("Result Serialization Time", 0)
                    ) / 1e3
                    j["tasks"] += 1
                    j["task_s"] += dur
                    j["sched_delay_s"] += max(0.0, dur - busy)
    return [j for j in jobs.values() if j["end"] is not None]
