"""In-memory spans around the calls into each layer of the system.

Spans are recorded by wrapping public functions at the attribute where
their caller looks them up (``server.snappy_decompress``, not
``prompb.snappy_decompress``, because ``server.py`` imports the name).
Nothing inside the package is edited. A span is ``(name, start, end, id,
parent id, request id, attrs)``; the request id comes from the load
generator's ``X-Bench-Request-Id`` header and is inherited by every child
span opened on the same thread. Spans stay in memory until :meth:`dump`.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time

REQUEST_ID_HEADER = "X-Bench-Request-Id"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, fn, attrs_of=None, request_id_of=None):
        """Wrap ``fn`` so every call records a span named ``name``.

        ``attrs_of(args, result)`` adds counts measured at the boundary;
        ``request_id_of(args)`` starts a new request context (root spans)."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            stack = self._stack()
            parent = stack[-1] if stack else (0, None)
            rid = request_id_of(args) if request_id_of else parent[1]
            sid = next(self._ids)
            stack.append((sid, rid))
            t0 = time.perf_counter()
            try:
                result = fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                stack.pop()
            attrs = attrs_of(args, result) if attrs_of is not None else {}
            self.spans.append((name, t0, t1, sid, parent[0], rid, attrs))
            return result

        return wrapper

    def patch(self, owner, attr: str, name: str, **kw) -> None:
        setattr(owner, attr, self.span(name, getattr(owner, attr), **kw))

    def dump(self) -> list[dict]:
        return [
            {"name": n, "t0": t0, "t1": t1, "id": sid, "parent": pid,
             "rid": rid, **attrs}
            for n, t0, t1, sid, pid, rid, attrs in self.spans
        ]

