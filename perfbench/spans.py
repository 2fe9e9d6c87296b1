"""Span tracing from outside the package, for the traced (per-layer) run.

Spans are recorded around the benchmark's own calls into the table API and
around public module functions the package calls through module attributes
(``M.compute_bboxes``, ``MD.write_new_metadata``, ``V.might_match`` ...), so
a wrapper installed at run time sees every call without editing the package.
Each span carries name, start, end, parent and op id; spans stay in memory
until ``dump``.  With tracing off, ``span`` does nothing.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        # (name, start, end, parent index or -1, op id)
        self.spans: list[tuple[str, float, float, int, int | None]] = []
        self.op_id: int | None = None
        self._stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((name, time.perf_counter(), 0.0, parent, self.op_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            n, s, _e, p, o = self.spans[idx]
            self.spans[idx] = (n, s, time.perf_counter(), p, o)

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a spanning wrapper.  Recursive calls
        (``might_match`` walks the expression tree) get one outer span."""
        orig = getattr(module, attr)
        depth = [0]

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            if depth[0]:
                return orig(*a, **kw)
            depth[0] += 1
            try:
                with self.span(name):
                    return orig(*a, **kw)
            finally:
                depth[0] -= 1

        setattr(module, attr, wrapper)
        self._restore.append((module, attr, orig))

    def unwrap(self) -> None:
        for module, attr, orig in reversed(self._restore):
            setattr(module, attr, orig)
        self._restore.clear()

    # -- summaries --------------------------------------------------------
    def by_op(self, name: str) -> dict[int, tuple[int, float]]:
        """op id -> (calls, total seconds) of spans called ``name``."""
        out: dict[int, list] = defaultdict(lambda: [0, 0.0])
        for n, s, e, _p, o in self.spans:
            if n == name and o is not None:
                out[o][0] += 1
                out[o][1] += e - s
        return {k: (c, t) for k, (c, t) in out.items()}

    def self_seconds(self) -> dict[str, float]:
        """Self time per layer (the span name's prefix before the first
        dot): duration minus the time covered by child spans."""
        child = [0.0] * len(self.spans)
        for n, s, e, p, _o in self.spans:
            if p >= 0:
                child[p] += e - s
        out: dict[str, float] = defaultdict(float)
        for i, (n, s, e, _p, _o) in enumerate(self.spans):
            out[n.split(".", 1)[0]] += (e - s) - child[i]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for n, s, e, p, o in self.spans:
                f.write(json.dumps({"name": n, "start": s, "end": e, "parent": p, "op": o}) + "\n")
