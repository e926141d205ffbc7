"""In-memory spans recorded around calls into the program's layers.

A span holds a name, start, end, the index of the span that was open when
it started (its parent) and the id of the operation it belongs to. Spans
stay in memory and are written out once, when the run ends. A layer's
self time is its span's duration minus the part of that interval its
child spans cover.

Layers are measured from outside: :class:`Patcher` swaps a public
function for a timing wrapper in every module that binds it, and puts
the original back when the run ends.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: str


class Tracer:
    """Span recorder. ``enabled`` is fixed for the run; ``active`` can be
    switched per operation so a traced run can interleave untraced ops
    and measure its own overhead."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.active = False
        self.op_id = ""
        self.spans: list[Span] = []
        self.counts: dict[tuple[str, str], float] = defaultdict(float)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), float("nan"), parent, self.op_id)
        self.spans.append(s)
        self._stack.append(idx)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, n: float = 1.0) -> None:
        if self.active:
            self.counts[(self.op_id, name)] += n

    def wrap(self, fn, name: str, observe=None):
        """``fn`` timed as span ``name``; ``observe(args, kwargs, result)``
        runs after the call, outside the span."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name):
                out = fn(*args, **kwargs)
            if observe is not None:
                observe(args, kwargs, out)
            return out

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(
                {
                    "spans": [asdict(s) for s in self.spans],
                    "self_s": self_times(self.spans),
                    "counts": [[op, name, v] for (op, name), v in self.counts.items()],
                },
                f,
            )


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if end <= start:
            continue
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the union of its children's intervals
    (clipped to the span)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = []
    for i, s in enumerate(spans):
        covered = union_length(
            (max(c.start, s.start), min(c.end, s.end)) for c in children[i]
        )
        out.append((s.end - s.start) - covered)
    return out


def per_op_totals(spans: list[Span], op_ids) -> dict[str, dict[str, tuple[float, float]]]:
    """``{name: {op_id: (inclusive_s, self_s)}}`` for the given ops.

    Inclusive time is the union of the op's spans of that name, so a
    wrapped function calling itself is not counted twice; self time is
    the sum of those spans' self times."""
    wanted = set(op_ids)
    selfs = self_times(spans)
    intervals: dict[str, dict[str, list]] = defaultdict(lambda: defaultdict(list))
    self_sum: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s, st in zip(spans, selfs):
        if s.op_id in wanted:
            intervals[s.name][s.op_id].append((s.start, s.end))
            self_sum[s.name][s.op_id] += st
    return {
        name: {op: (union_length(iv), self_sum[name][op]) for op, iv in by_op.items()}
        for name, by_op in intervals.items()
    }


class Patcher:
    """Reversible attribute replacement."""

    def __init__(self):
        self._undo: list[tuple[object, str, object]] = []

    def set(self, obj, attr: str, value) -> None:
        self._undo.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, value)

    def replace_everywhere(self, modules, original, replacement) -> int:
        """Rebind every module attribute that refers to ``original``;
        returns how many bindings were replaced."""
        n = 0
        for mod in modules:
            for attr, value in list(vars(mod).items()):
                if value is original:
                    self.set(mod, attr, replacement)
                    n += 1
        return n

    def restore(self) -> None:
        for obj, attr, old in reversed(self._undo):
            setattr(obj, attr, old)
        self._undo.clear()
