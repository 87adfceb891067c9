"""Property-based tests of the point-in-polygon kernels (pure numpy, no
Spark): even-odd ray casting vs an independent half-plane spec on random
convex polygons, and the clip's scanline grid mask vs ray casting.

For a convex CCW polygon, a point is strictly inside iff it lies on the
left of every edge — a formulation sharing no code (and no ray) with the
production kernel. Points within eps of any edge line are excluded:
boundary semantics are allowed to differ.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from geospatial_etl_pipeline_spark.functions.geometry import (
    grid_in_polygon,
    points_in_polygon,
    points_in_ring,
)

FLOAT = st.floats(min_value=-50.0, max_value=50.0,
                  allow_nan=False, allow_infinity=False)


@settings(max_examples=200, deadline=None)
@given(
    nverts=st.integers(min_value=3, max_value=9),
    cx=FLOAT,
    cy=FLOAT,
    rx=st.floats(min_value=0.5, max_value=20.0),
    ry=st.floats(min_value=0.5, max_value=20.0),
    rot=st.floats(min_value=0.0, max_value=6.28),
    px=FLOAT,
    py=FLOAT,
)
def test_ray_casting_matches_halfplane_spec(nverts, cx, cy, rx, ry, rot, px, py):
    ang = rot + np.linspace(0.0, 2.0 * np.pi, nverts, endpoint=False)
    verts = np.column_stack([cx + rx * np.cos(ang), cy + ry * np.sin(ang)])
    ring = np.vstack([verts, verts[:1]])  # closed, CCW

    # independent spec: signed cross product against every edge
    a, b = ring[:-1], ring[1:]
    cross = (b[:, 0] - a[:, 0]) * (py - a[:, 1]) - (b[:, 1] - a[:, 1]) * (
        px - a[:, 0]
    )
    edge_len = np.hypot(b[:, 0] - a[:, 0], b[:, 1] - a[:, 1])
    # perpendicular distance to each edge line; skip boundary-ambiguous pts
    if np.min(np.abs(cross) / edge_len) < 1e-9:
        return
    expected = bool(np.all(cross > 0))

    got = points_in_ring(np.array([px]), np.array([py]), ring)[0]
    assert got == expected, (verts.tolist(), px, py, got, expected)


COORD = st.one_of(
    # integer vertices put grid points exactly on edges and vertices
    st.integers(min_value=-4, max_value=14).map(float),
    st.floats(min_value=-5.0, max_value=15.0, allow_nan=False, allow_infinity=False),
)


def _ring(min_size: int, max_size: int):
    return st.lists(st.tuples(COORD, COORD), min_size=min_size, max_size=max_size).map(
        lambda pts: np.asarray(pts + pts[:1], dtype=np.float64)
    )


@settings(max_examples=300, deadline=None)
@given(
    outer=_ring(3, 12),
    holes=st.lists(_ring(3, 6), max_size=2),
    width=st.integers(min_value=1, max_value=12),
    height=st.integers(min_value=1, max_value=12),
    xll=st.sampled_from([-0.5, 0.0, 0.25]),
    cs=st.sampled_from([0.5, 1.0, 0.7]),
)
def test_scanline_mask_matches_points_in_polygon(outer, holes, width, height, xll, cs):
    """The clip's scanline mask equals the per-point even-odd test at
    every cell centre, for any rings (holes and self-intersections
    included) and on the boundary too: both use the same crossing test
    and the same xint arithmetic."""
    rings = [outer, *holes]
    ytop = xll + height * cs
    xs = xll + (np.arange(width) + 0.5) * cs
    ys = ytop - (np.arange(height) + 0.5) * cs
    cc, rr = np.meshgrid(xs, ys)
    want = points_in_polygon(cc.ravel(), rr.ravel(), rings)
    got = grid_in_polygon(xs, ys, rings)
    assert got.shape == (height, width)
    assert np.array_equal(got.ravel(), want)
