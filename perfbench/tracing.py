"""Spans recorded around calls into each layer, and their attribution
from Spark's event log.

A span holds a name, its start and end, and the span open around it. A
layer's self time is its span's duration minus the part of that
interval its child spans cover. Spans stay in memory until the traced
run ends.

Each span sets the Spark job description to its name, so every job it
starts carries the name into the event log; :func:`attribute` sums
executor CPU, shuffle bytes written and the bytes sent to and returned
from Python workers per job description.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable, Iterator


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    end: float = float("nan")
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder.

    ``label(name)`` is called with the innermost open span's name on
    entry and exit (``None`` when no span is open); the benchmark passes
    ``SparkContext.setJobDescription``. ``probe()`` returns cumulative
    counters; each span keeps their increase over its interval.
    """

    def __init__(self, clock: Callable[[], float] = time.perf_counter,
                 label: Callable[[str | None], None] | None = None,
                 probe: Callable[[], dict[str, float]] | None = None):
        self.spans: list[Span] = []
        self._open: list[int] = []
        self._clock = clock
        self._label = label
        self._probe = probe

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        parent = self._open[-1] if self._open else None
        before = self._probe() if self._probe else {}
        if self._label:
            self._label(name)
        s = Span(name, parent, self._clock())
        self.spans.append(s)
        self._open.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = self._clock()
            self._open.pop()
            if self._label:
                self._label(self.spans[self._open[-1]].name if self._open else None)
            if self._probe:
                after = self._probe()
                s.counters = {k: after[k] - before[k] for k in after}

    def get(self, name: str) -> Span:
        matches = [s for s in self.spans if s.name == name]
        if len(matches) != 1:
            raise KeyError(f"{len(matches)} spans named {name!r}")
        return matches[0]

    def self_time(self, span: Span) -> float:
        """Duration minus the union of child intervals inside it."""
        idx = self.spans.index(span)
        kids = sorted((max(c.start, span.start), min(c.end, span.end))
                      for c in self.spans if c.parent == idx)
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in kids:
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        return span.duration - covered


_PYTHON_BYTES = ("data sent to Python workers", "data returned from Python workers")
_CPU_NS = "internal.metrics.executorCpuTime"
_SHUFFLE_BYTES = "internal.metrics.shuffle.write.bytesWritten"


def _event_lines(log_dir: str) -> Iterator[dict]:
    """Events of the one application logged under ``log_dir`` (rolling
    ``eventlog_v2_*/events_N_*`` files or a single plain file)."""
    files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    if not files:
        files = sorted(p for p in glob.glob(os.path.join(log_dir, "*"))
                       if os.path.isfile(p))
    for path in files:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def attribute(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job description: executor CPU seconds, shuffle bytes written,
    Python-worker bytes (sent + returned) and task count."""
    stage_desc: dict[int, str | None] = {}
    out: dict[str, dict[str, float]] = {}
    for e in _event_lines(log_dir):
        kind = e.get("Event")
        if kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            stage_desc[sid] = (e.get("Properties") or {}).get("spark.job.description")
        elif kind == "SparkListenerTaskEnd":
            desc = stage_desc.get(e["Stage ID"])
            if desc is None:
                continue
            acc = out.setdefault(desc, {"cpu_s": 0.0, "shuffle_bytes": 0.0,
                                        "python_bytes": 0.0, "tasks": 0.0})
            acc["tasks"] += 1
            for a in e["Task Info"].get("Accumulables", []):
                name, upd = a.get("Name"), a.get("Update")
                if upd is None:
                    continue
                if name == _CPU_NS:
                    acc["cpu_s"] += float(upd) / 1e9
                elif name == _SHUFFLE_BYTES:
                    acc["shuffle_bytes"] += float(upd)
                elif name in _PYTHON_BYTES:
                    acc["python_bytes"] += float(upd)
    return out
