"""In-memory spans for the traced run.

A span records name, start, end and parent.  While a span is open its id
is the Spark job group of the calling thread, so the Spark-side work it
causes can be attributed to it afterwards (``sysmon.exec_metrics``).
Operator calls are lazy: a span around one times plan construction only,
and the action that executes the plan gets its own span.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    aliases: list[str] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[str, float]:
    """Span id -> duration minus the part of its interval that its child
    spans cover (overlapping children are counted once)."""
    children: dict[str, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered, reach = 0.0, s.start
        for c in sorted(children[s.id], key=lambda c: c.start):
            lo, hi = max(c.start, reach), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s.id] = s.duration - covered
    return out


class Tracer:
    """Collects spans when ``enabled``; otherwise every span is a no-op,
    so the same workload code serves the timed and the traced runs."""

    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.sc = None  # SparkContext whose job group follows the open span
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"span-{len(self.spans)}", name, parent.id if parent else None, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def alias(self, group_id: str) -> None:
        """Attribute Spark jobs of another job group to the open span.
        Streaming queries run their jobs under the query's run id, not
        under the job group of the thread that started them."""
        if self.enabled and self._stack:
            self._stack[-1].aliases.append(group_id)

    def _set_group(self, sp: Span | None) -> None:
        if self.sc is None:
            return
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(sp.id, sp.name)

    def groups(self) -> dict[str, str]:
        """Job group id -> span name, for every span and its aliases."""
        keep: dict[str, str] = {}
        for s in self.spans:
            keep[s.id] = s.name
            keep.update(dict.fromkeys(s.aliases, s.name))
        return keep

    def self_time_by_name(self) -> dict[str, float]:
        st = self_times(self.spans)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += st[s.id]
        return dict(out)

    def write(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "w") as fh:
            json.dump(
                [dict(asdict(s), self_s=st[s.id]) for s in self.spans], fh, indent=0
            )
