"""Seeded inputs: clustered points, query windows and write ops.

Plain numpy only.  Nothing here imports the package under test, so the
generator and the oracle (``oracle.py``) cannot share a defect with it.
The same seed yields the same clusters, batches, windows and op order.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

# lon/lat extent: the default bounds of the package's hilbert(geom) sort key
XMIN, YMIN, XMAX, YMAX = -180.0, -90.0, 180.0, 90.0
N_CLUSTERS = 24
# one stratified block of window queries: exact shares of each kind (15 %
# point lookups, 30 % polygons, 55 % boxes), 75 % centred near a cluster,
# 20 % with an ``id <=`` conjunct; the seed shuffles them
WINDOW_KINDS = ("point",) * 3 + ("polygon",) * 6 + ("box",) * 11
NEAR_SHARE, ID_SHARE = 15, 4
HALF_MIN = 0.02  # smallest window half-width, degrees (log-uniform)


@dataclass(frozen=True)
class Window:
    """One spatial predicate of a window query.

    ``kind`` is ``box`` (closed rectangle), ``polygon`` (simple star-shaped
    ring in ``ring``) or ``point`` (an existing point, used with
    ``st_covers`` as an exact point lookup).  ``id_max`` ANDs ``id <= id_max``
    into the predicate (the FIXTURES F1 ``id <= k AND st_intersects`` shape).
    """

    kind: str
    op: str
    box: tuple[float, float, float, float] | None = None
    ring: tuple[tuple[float, float], ...] | None = None
    point: tuple[float, float] | None = None
    id_max: int | None = None


class World:
    """Seeded source of every input one benchmark run uses."""

    def __init__(self, seed: int, window_max_half: float = 25.0):
        self.rng = np.random.default_rng(seed)
        self.window_max_half = window_max_half
        r = self.rng
        self.centers = np.column_stack(
            [r.uniform(-170, 170, N_CLUSTERS), r.uniform(-80, 80, N_CLUSTERS)]
        )
        self.sigmas = np.exp(r.uniform(np.log(0.3), np.log(3.0), N_CLUSTERS))
        w = 1.0 / np.arange(1, N_CLUSTERS + 1) ** 0.8
        self.weights = w / w.sum()
        self._plan: list[tuple] = []

    def _clip(self, x, y):
        return np.clip(x, XMIN, np.nextafter(XMAX, 0)), np.clip(y, YMIN, np.nextafter(YMAX, 0))

    def clustered_points(self, n: int) -> tuple[np.ndarray, np.ndarray]:
        """``n`` points drawn from the cluster mixture (the table body)."""
        r = self.rng
        c = r.choice(N_CLUSTERS, size=n, p=self.weights)
        x = self.centers[c, 0] + r.normal(0, 1, n) * self.sigmas[c]
        y = self.centers[c, 1] + r.normal(0, 1, n) * self.sigmas[c]
        return self._clip(x, y)

    def slab_points(self, n: int, part: int, parts: int) -> tuple[np.ndarray, np.ndarray]:
        """Clustered points of the ``part``-th of ``parts`` longitude slabs:
        one spatially local base-load append per slab."""
        x, y = self.clustered_points(n * parts)
        order = np.argsort(x, kind="stable")[part * n:(part + 1) * n]
        return x[order], y[order]

    def local_batch(self, n: int) -> tuple[np.ndarray, np.ndarray]:
        """One spatially local append batch: a blob near one cluster."""
        r = self.rng
        c = r.choice(N_CLUSTERS, p=self.weights)
        cx, cy = self.centers[c] + r.normal(0, 1, 2) * self.sigmas[c]
        s = self.sigmas[c] * r.uniform(0.1, 0.5)
        return self._clip(cx + r.normal(0, s, n), cy + r.normal(0, s, n))

    def values(self, n: int) -> np.ndarray:
        """Integer-valued doubles: exact sums in both Spark and the oracle."""
        return self.rng.integers(0, 1000, n).astype(np.float64)

    def moved(self, x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """CDC update: the same keys, displaced a little."""
        n = len(x)
        return self._clip(x + self.rng.normal(0, 0.05, n), y + self.rng.normal(0, 0.05, n))

    def delete_box(self) -> tuple[float, float, float, float]:
        """A small box near a cluster: deletes tens to hundreds of rows."""
        r = self.rng
        c = r.choice(N_CLUSTERS, p=self.weights)
        cx, cy = self.centers[c] + r.normal(0, 1, 2) * self.sigmas[c]
        half = np.exp(r.uniform(np.log(0.05), np.log(0.6)))
        return (float(cx - half), float(cy - half), float(cx + half), float(cy + half))

    def _next_plan(self) -> tuple[str, float, bool, bool]:
        """(kind, size quantile, near a cluster, with id <=) of the next
        window.  Drawn in stratified blocks so every run gets the same mix
        of kinds and sizes, and only the seed's order and places differ."""
        if not self._plan:
            r, n = self.rng, len(WINDOW_KINDS)
            kinds = r.permutation(WINDOW_KINDS)
            sizes = r.permutation((np.arange(n) + r.uniform(0, 1, n)) / n)
            near = r.permutation(np.arange(n) < NEAR_SHARE)
            with_id = r.permutation(np.arange(n) < ID_SHARE)
            self._plan = list(zip(kinds, sizes, near, with_id))
        return self._plan.pop()

    def window(self, live_x: np.ndarray, live_y: np.ndarray, id_hi: int) -> Window:
        """One query window.  Sizes are log-uniform, so some windows prune
        to zero files, most keep a handful and a few read much of the table."""
        r = self.rng
        kind, q, near, with_id = self._next_plan()
        if kind == "point":
            i = int(r.integers(len(live_x)))
            return Window("point", "st_covers", point=(float(live_x[i]), float(live_y[i])))
        lo, hi = np.log(HALF_MIN), np.log(self.window_max_half)
        half = float(np.exp(lo + q * (hi - lo)))
        if near:
            c = r.choice(N_CLUSTERS, p=self.weights)
            cx, cy = self.centers[c] + r.normal(0, 1, 2) * self.sigmas[c]
        else:
            cx, cy = r.uniform(XMIN, XMAX), r.uniform(YMIN, YMAX)
        id_max = int(r.integers(0, id_hi + 1)) if with_id else None
        if kind == "polygon":
            m = int(r.integers(5, 10))
            ang = np.sort(r.uniform(0, 2 * np.pi, m))
            rad = half * r.uniform(0.5, 1.0, m)
            ring = tuple(
                (float(cx + a), float(cy + b))
                for a, b in zip(rad * np.cos(ang), rad * np.sin(ang))
            )
            return Window("polygon", "st_intersects", ring=ring, id_max=id_max)
        return Window(
            "box",
            "st_intersects",
            box=(float(cx - half), float(cy - half), float(cx + half), float(cy + half)),
            id_max=id_max,
        )
