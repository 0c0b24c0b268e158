"""Brute-force twin for ops/spatial._ring_cell_test, the vectorized
cell-vs-ring classifier behind the country-assignment prestage: random
cells against random rings, compared with a scalar Liang-Barsky clip
and a scalar even-odd ray cast."""

import numpy as np

from sdg_engine import WORLD_MIN, WORLD_SIZE
from sdg_engine import cells as C
from sdg_engine.ops.spatial import _ring_cell_test


def _star_ring(rng, n):
    # star-shaped around a center -> simple; may poke out of the world
    cx, cy = rng.uniform(1.0, 9.0, 2)
    ang = np.sort(rng.uniform(0.0, 2 * np.pi, n))
    rad = rng.uniform(0.3, 4.0, n)
    pts = np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)], axis=1)
    return np.vstack([pts, pts[:1]])


def _scalar_crosses(x0, y0, x1, y1, ring):
    """Scalar Liang-Barsky: does any ring edge meet the closed rect?"""
    for e in range(len(ring) - 1):
        ax, ay = float(ring[e, 0]), float(ring[e, 1])
        dx, dy = float(ring[e + 1, 0]) - ax, float(ring[e + 1, 1]) - ay
        t0, t1, ok = 0.0, 1.0, True
        for p, q in ((-dx, ax - x0), (dx, x1 - ax), (-dy, ay - y0), (dy, y1 - ay)):
            if p == 0.0:
                ok = ok and not q < 0.0
            elif p < 0.0:
                t0 = max(t0, q / p)
            else:
                t1 = min(t1, q / p)
        if ok and t0 <= t1:
            return True
    return False


def _scalar_inside(px, py, ring):
    """Scalar even-odd ray cast toward +x (half-open straddle rule)."""
    inside = False
    for e in range(len(ring) - 1):
        ax, ay = ring[e]
        bx, by = ring[e + 1]
        if (ay <= py) != (by <= py):
            if ax + (py - ay) * (bx - ax) / (by - ay) > px:
                inside = not inside
    return inside


def _random_cells(rng):
    # every level-5 cell plus random finer cells (levels 8 and 11)
    ix, iy = np.meshgrid(np.arange(32), np.arange(32))
    yield 5, C.pack(5, ix.ravel(), iy.ravel())
    for level in (8, 11):
        side = 1 << level
        yield level, np.unique(C.pack(level, rng.integers(0, side, 600),
                                      rng.integers(0, side, 600)))


def test_ring_cell_test_matches_scalar_twin():
    rng = np.random.default_rng(20261017)
    n_cross = n_in = 0
    for _ in range(6):
        ring = _star_ring(rng, int(rng.integers(3, 14)))
        for level, cids in _random_cells(rng):
            crosses, ctr_in = _ring_cell_test(cids, level, ring)
            size = WORLD_SIZE / (1 << level)
            _lvl, ix, iy = C.unpack(cids)
            want_cross, want_in = [], []
            for cx, cy in zip(ix.tolist(), iy.tolist()):
                x0 = WORLD_MIN + cx * size
                y0 = WORLD_MIN + cy * size
                c = _scalar_crosses(x0, y0, x0 + size, y0 + size, ring)
                want_cross.append(c)
                if not c:
                    want_in.append(_scalar_inside(x0 + size / 2, y0 + size / 2, ring))
            assert crosses.tolist() == want_cross
            assert ctr_in.tolist() == want_in
            n_cross += int(crosses.sum())
            n_in += int(ctr_in.sum())
    # the sample exercises both classes, not just empty space
    assert n_cross > 100 and n_in > 100


def test_ring_vertex_cell_always_crosses():
    """The cell holding a ring vertex (strictly inside it) must be a
    crossing cell, whatever the edge directions."""
    rng = np.random.default_rng(7)
    level = 9
    for _ in range(20):
        ring = _star_ring(rng, 7)
        v = ring[:-1]
        keep = (v >= WORLD_MIN).all(axis=1) & (v < WORLD_MIN + WORLD_SIZE).all(axis=1)
        cids = C.point_cell(v[keep, 0], v[keep, 1], level)
        crosses, _ = _ring_cell_test(cids, level, ring)
        assert crosses.all()
