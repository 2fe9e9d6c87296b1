"""Independent correctness oracle: numpy point tests and a DuckDB replay.

Window results are checked with a closed-box or even-odd point-in-polygon
test on the generated coordinates, never through ``geo.functions``.  The
final table state is checked against a DuckDB replay of the op log.  The
WKB codec here is the benchmark's own (little-endian 2-D points only).
"""

from __future__ import annotations

import numpy as np

from gen import Window

_POINT = np.dtype([("order", "u1"), ("type", "<u4"), ("x", "<f8"), ("y", "<f8")])


def point_wkb(x: np.ndarray, y: np.ndarray) -> list[bytes]:
    """Little-endian WKB POINT values, one ``bytes`` per row."""
    a = np.zeros(len(x), dtype=_POINT)
    a["order"], a["type"], a["x"], a["y"] = 1, 1, x, y
    raw = a.tobytes()
    n = _POINT.itemsize
    return [raw[i * n:(i + 1) * n] for i in range(len(x))]


def point_xy(values) -> tuple[np.ndarray, np.ndarray]:
    """Decode WKB POINT values written by ``point_wkb``."""
    raw = b"".join(bytes(v) for v in values)
    a = np.frombuffer(raw, dtype=_POINT)
    if len(a) and not ((a["order"] == 1).all() and (a["type"] == 1).all()):
        raise ValueError("unexpected WKB: not little-endian 2-D points")
    return a["x"].copy(), a["y"].copy()


def in_box(x, y, box) -> np.ndarray:
    x0, y0, x1, y1 = box
    return (x >= x0) & (x <= x1) & (y >= y0) & (y <= y1)


def in_polygon(x, y, ring) -> np.ndarray:
    """Even-odd crossing test.  Points exactly on an edge are measure-zero
    for the generated float coordinates, so boundary rules do not matter."""
    v = np.asarray(ring, dtype=np.float64)
    inside = np.zeros(len(x), dtype=bool)
    for (ax, ay), (bx, by) in zip(v, np.roll(v, -1, axis=0)):
        crosses = (ay > y) != (by > y)
        with np.errstate(divide="ignore", invalid="ignore"):
            xi = ax + (y - ay) * (bx - ax) / (by - ay)
        inside ^= crosses & (x < xi)
    return inside


def window_mask(w: Window, ids, x, y) -> np.ndarray:
    if w.kind == "point":
        m = (x == w.point[0]) & (y == w.point[1])
    elif w.kind == "box":
        m = in_box(x, y, w.box)
    else:
        m = in_polygon(x, y, w.ring)
    if w.id_max is not None:
        m &= ids <= w.id_max
    return m


class Model:
    """The expected live rows of one table, updated op by op."""

    def __init__(self):
        self.ids = np.zeros(0, dtype=np.int64)
        self.v = np.zeros(0, dtype=np.float64)
        self.x = np.zeros(0, dtype=np.float64)
        self.y = np.zeros(0, dtype=np.float64)

    def __len__(self) -> int:
        return len(self.ids)

    def append(self, ids, v, x, y) -> None:
        self.ids = np.concatenate([self.ids, ids])
        self.v = np.concatenate([self.v, v])
        self.x = np.concatenate([self.x, x])
        self.y = np.concatenate([self.y, y])

    def _keep(self, keep) -> None:
        self.ids, self.v, self.x, self.y = (a[keep] for a in (self.ids, self.v, self.x, self.y))

    def delete_box(self, box) -> None:
        self._keep(~in_box(self.x, self.y, box))

    def upsert(self, ids, v, x, y) -> None:
        self._keep(~np.isin(self.ids, ids))
        self.append(ids, v, x, y)

    def expect(self, w: Window) -> tuple[int, int, float]:
        """(count, sum(id), sum(v)) of the rows ``w`` selects."""
        m = window_mask(w, self.ids, self.x, self.y)
        return int(m.sum()), int(self.ids[m].sum()), float(self.v[m].sum())


def replay(oplog: list[tuple]) -> tuple[np.ndarray, ...]:
    """Replay the op log in DuckDB; return (id, v, x, y) ordered by id.

    Entries: ``("append", ids, v, x, y)``, ``("upsert", ids, v, x, y)`` and
    ``("delete_box", (x0, y0, x1, y1))``.
    """
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE t (id BIGINT, v DOUBLE, x DOUBLE, y DOUBLE)")
        for op in oplog:
            if op[0] == "delete_box":
                x0, y0, x1, y1 = op[1]
                con.execute(
                    "DELETE FROM t WHERE x BETWEEN ? AND ? AND y BETWEEN ? AND ?",
                    [x0, x1, y0, y1],
                )
                continue
            batch = pd.DataFrame(dict(zip(("id", "v", "x", "y"), op[1:])))
            con.register("batch", batch)
            if op[0] == "upsert":
                con.execute("DELETE FROM t WHERE id IN (SELECT id FROM batch)")
            con.execute("INSERT INTO t SELECT id, v, x, y FROM batch")
            con.unregister("batch")
        out = con.execute("SELECT id, v, x, y FROM t ORDER BY id").fetchnumpy()
    finally:
        con.close()
    return tuple(np.asarray(out[c]) for c in ("id", "v", "x", "y"))
