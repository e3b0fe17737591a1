"""In-memory span recorder for the traced run.

Spans are recorded from the benchmark's own files by wrapping the public
functions of each layer (module or class attributes). A span records its
name, start, end, parent span and request id; spans stay in memory and are
written out when the run ends. A layer's self time is its span's duration
minus the union of its children's intervals.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager

# span layout: [name, start, end, parent index or -1, request id, amount]
NAME, START, END, PARENT, REQUEST, AMOUNT = range(6)


class SpanRecorder:
    def __init__(self, active_by_default: bool = True):
        self.spans: list[list] = []
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._default = active_by_default
        self._wrapped: list[tuple[object, str, object]] = []

    # -- request scope ------------------------------------------------------

    def begin_request(self, request, active: bool = True) -> None:
        self._tls.request = request
        self._tls.active = active
        self._tls.stack = []

    def tag_request(self, request, active: bool = True) -> None:
        """Name the request the current thread serves once it is known
        (e.g. from headers parsed inside an already open span): the open
        spans take its id, and `active` decides whether spans opened from
        now on are recorded."""
        self._tls.request = request
        self._tls.active = active
        for idx in getattr(self._tls, "stack", ()):
            self.spans[idx][REQUEST] = request

    def end_request(self) -> None:
        self._tls.request = None
        self._tls.active = self._default
        self._tls.stack = []

    # -- spans --------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        """Yields the span record (None when not recording); a caller may
        set its AMOUNT field to the work the span did."""
        tls = self._tls
        if not getattr(tls, "active", self._default):
            yield None
            return
        stack = tls.__dict__.setdefault("stack", [])
        rec = [name, time.perf_counter(), None,
               stack[-1] if stack else -1, getattr(tls, "request", None),
               None]
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            yield rec
        finally:
            stack.pop()
            rec[END] = time.perf_counter()

    def wrap(self, owner, attr: str, name: str, amount=None) -> None:
        """Replace owner.attr by a wrapper that records a span `name`;
        `amount(result)`, if given, sizes the work the call did."""
        orig = owner.__dict__[attr] if isinstance(owner, type) \
            else getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
                if rec is not None and amount is not None:
                    rec[AMOUNT] = amount(out)
                return out

        self._wrapped.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._wrapped):
            setattr(owner, attr, orig)
        self._wrapped.clear()

    def finished(self) -> list[list]:
        with self._lock:
            return [list(s) for s in self.spans if s[END] is not None]


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[list]) -> list[float]:
    """Per span: duration minus the union of its children's intervals
    (clipped to the parent, so a child that outlives it is not counted
    twice)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s[PARENT] >= 0:
            kids.setdefault(s[PARENT], []).append((s[START], s[END]))
    out = []
    for i, s in enumerate(spans):
        lo, hi = s[START], s[END]
        clipped = [(max(a, lo), min(b, hi)) for a, b in kids.get(i, ())
                   if min(b, hi) > max(a, lo)]
        out.append((hi - lo) - union_length(clipped))
    return out


def layer_totals(spans: list[list], keep=lambda span: True
                 ) -> dict[str, dict]:
    """{name: {"self_s", "total_s", "count", "amount"}} summed over the
    spans `keep` selects (self times are computed over all spans)."""
    selfs = self_times(spans)
    out: dict[str, dict] = {}
    for s, st in zip(spans, selfs):
        if not keep(s):
            continue
        d = out.setdefault(s[NAME], {"self_s": 0.0, "total_s": 0.0,
                                     "count": 0, "amount": 0})
        d["self_s"] += st
        d["total_s"] += s[END] - s[START]
        d["count"] += 1
        d["amount"] += s[AMOUNT] or 0
    return out
