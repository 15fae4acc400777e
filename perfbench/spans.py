"""In-memory span recorder installed around the engine's public entry
points, plus the self-time arithmetic over the recorded spans.

A span is (id, name, layer, start, end, parent, rid): `parent` is the
span open on the same thread when it began, `rid` the request id the
client passed as an ignored query parameter.  Spans stay in a list and
are written out once, when the process ends.  Recording is switched on
and off with `Tracer.enabled`, so one process can measure an untraced
window and then a traced one.
"""

from __future__ import annotations

import functools
import threading
import time


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans: list[tuple] = []
        self._local = threading.local()
        self._next = 0
        self._lock = threading.Lock()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, layer: str, rid=None):
        """Context manager recording one span; a no-op while disabled."""
        if not self.enabled:
            return _NOOP
        return _Span(self, name, layer, rid)

    def wrap(self, owner, attr: str, layer: str, name=None):
        """Replace `owner.attr` with a recording wrapper.  `name` is the
        span name, or a callable (args, kwargs) -> name."""
        fn = getattr(owner, attr)
        label = name or f"{layer}.{attr}"
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            nm = label(args, kwargs) if callable(label) else label
            with _Span(tracer, nm, layer, None):
                return fn(*args, **kwargs)

        setattr(owner, attr, wrapper)
        return fn

    def dump(self) -> list[dict]:
        keys = ("id", "name", "layer", "start", "end", "parent", "rid")
        return [dict(zip(keys, s)) for s in self.spans]


class _Noop:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NOOP = _Noop()


class _Span:
    __slots__ = ("tracer", "name", "layer", "rid", "sid", "parent", "t0")

    def __init__(self, tracer: Tracer, name: str, layer: str, rid):
        self.tracer, self.name, self.layer = tracer, name, layer
        self.rid = rid

    def __enter__(self):
        tr = self.tracer
        st = tr._stack()
        with tr._lock:
            self.sid = tr._next
            tr._next += 1
        self.parent = st[-1][0] if st else None
        if self.rid is None and st:
            self.rid = st[-1][1]
        st.append((self.sid, self.rid))
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        t1 = time.perf_counter()
        self.tracer._stack().pop()
        self.tracer.spans.append((self.sid, self.name, self.layer, self.t0,
                                  t1, self.parent, self.rid))
        return False


def self_times(spans: list[dict]) -> list[tuple[dict, float]]:
    """Each span with its self time in seconds: its duration minus the
    part of its interval that its child spans cover."""
    kids: dict = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = []
    for s in spans:
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in sorted(kids.get(s["id"], ())):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out.append((s, (s["end"] - s["start"]) - covered))
    return out


def span_cost_us(n: int = 20000) -> float:
    """Measured cost of recording one span, in microseconds."""
    tr = Tracer()
    tr.enabled = True
    t0 = time.perf_counter()
    for _ in range(n):
        with _Span(tr, "x", "x", None):
            pass
    return (time.perf_counter() - t0) / n * 1e6
