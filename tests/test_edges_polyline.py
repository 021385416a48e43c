"""Edge coverings, loop-vs-loop relations, polyline proximity join."""

import numpy as np
from pyspark.sql import functions as F

from s2_geometry_library_php_spark.s2core import cellid as cid
from s2_geometry_library_php_spark.s2core import edges, geom
from s2_geometry_library_php_spark.s2core.region import LoopRegion


def _covered(cells, leaf):
    for c in cells:
        lsb = c & (-c & 0xFFFFFFFFFFFFFFFF)
        if c - (lsb - 1) <= leaf <= c + (lsb - 1):
            return True
    return False


def test_edge_covering_covers_edge_samples():
    a = geom.latlng_to_xyz(np.radians(40.0), np.radians(-70.0))
    b = geom.latlng_to_xyz(np.radians(41.0), np.radians(-69.0))
    cov, level = edges.edge_covering(np.asarray(a), np.asarray(b))
    assert 1 <= len(cov) <= 4
    # sample points along the geodesic must fall in the covering
    for t in np.linspace(0, 1, 50):
        p = geom.normalize(np.asarray(a) * (1 - t) + np.asarray(b) * t)
        leaf = int(
            cid.cell_id_from_point(
                np.asarray(p[0]), np.asarray(p[1]), np.asarray(p[2])
            )
        )
        assert _covered(cov, leaf)


def test_edge_covering_long_edge_whole_sphere_fallback():
    a = geom.latlng_to_xyz(np.radians(0.0), np.radians(0.0))
    b = geom.latlng_to_xyz(np.radians(0.0), np.radians(120.0))
    cov, level = edges.edge_covering(np.asarray(a), np.asarray(b))
    assert level == 0 and len(cov) == 6


def test_polyline_covering_covers_vertices():
    verts = np.array([[48.85, 2.35], [49.0, 3.0], [49.5, 3.2], [50.0, 4.0]])
    cov = edges.polyline_covering(verts)
    pts = geom.latlng_to_xyz(np.radians(verts[:, 0]), np.radians(verts[:, 1]))
    for p in pts:
        leaf = int(
            cid.cell_id_from_point(
                np.asarray(p[0]), np.asarray(p[1]), np.asarray(p[2])
            )
        )
        assert _covered(cov, leaf)


def test_loop_relations():
    outer = LoopRegion(np.array([[0.0, 0.0], [0.0, 20.0], [20.0, 20.0], [20.0, 0.0]]))
    inner = LoopRegion(np.array([[5.0, 5.0], [5.0, 15.0], [15.0, 15.0], [15.0, 5.0]]))
    shifted = LoopRegion(
        np.array([[10.0, 10.0], [10.0, 30.0], [30.0, 30.0], [30.0, 10.0]])
    )
    apart = LoopRegion(
        np.array([[-50.0, -50.0], [-50.0, -40.0], [-40.0, -40.0], [-40.0, -50.0]])
    )
    assert edges.loop_contains_loop(outer, inner)
    assert not edges.loop_contains_loop(inner, outer)
    assert edges.loop_intersects_loop(outer, inner)
    assert edges.loop_intersects_loop(outer, shifted)
    assert not edges.loop_contains_loop(outer, shifted)
    assert not edges.loop_intersects_loop(outer, apart)
    assert edges.contains_or_crosses(outer, inner) == 1
    assert edges.contains_or_crosses(outer, shifted) == -1
    assert edges.contains_or_crosses(outer, apart) == 0


def test_polyline_proximity_join_matches_brute_force(spark, docs):
    from s2_geometry_library_php_spark.operators.polyline_join import (
        polyline_proximity_join,
    )

    polylines = [
        {"line_id": 1, "vertices": [[0.0, -30.0], [10.0, -20.0], [20.0, -20.0]]},
        {"line_id": 2, "vertices": [[-40.0, 100.0], [-35.0, 110.0]]},
    ]
    dist = 300e3 / 6371e3  # 300 km
    d = docs.select("doc_id", "lat", "lon", "cell_id")
    got = {
        (int(r.doc_id), int(r.line_id))
        for r in polyline_proximity_join(spark, d, polylines, dist).collect()
    }
    pdf = d.toPandas()
    pts = geom.latlng_to_xyz(
        np.radians(pdf.lat.to_numpy()), np.radians(pdf.lon.to_numpy())
    )
    expected = set()
    for spec in polylines:
        v = np.asarray(spec["vertices"], dtype=np.float64)
        verts = geom.normalize(
            geom.latlng_to_xyz(np.radians(v[:, 0]), np.radians(v[:, 1]))
        )
        best = np.full(len(pts), np.inf)
        for k in range(len(verts) - 1):
            best = np.minimum(
                best, geom.edge_distance_radians(pts, verts[k], verts[k + 1])
            )
        for doc in pdf.doc_id.to_numpy()[best <= dist]:
            expected.add((int(doc), spec["line_id"]))
    assert got == expected


def test_polyline_project_join_matches_brute_force(spark, docs):
    """Every doc projected onto every line by the numpy kernel, kept
    within D: same (doc_id, line_id) set, same doubles to the bit."""
    from s2_geometry_library_php_spark.operators.polyline_join import (
        polyline_project_join,
    )

    polylines = [
        {"line_id": 1, "vertices": [[48.5, 1.8], [48.9, 2.4], [49.3, 3.0]]},
        {"line_id": 2, "vertices": [[0.0, -30.0], [10.0, -20.0], [20.0, -20.0]]},
        {"line_id": 3, "vertices": [[-20.0, 175.0], [-12.0, -178.0], [-5.0, -170.0]]},
    ]
    dist = 0.1  # ~640 km: the antimeridian chain reaches a few docs
    d = docs.select("doc_id", "lat", "lon", "cell_id")
    got = {
        (int(r.doc_id), int(r.line_id)): (r.dist_rad, r.fraction, r.proj_lat, r.proj_lon)
        for r in polyline_project_join(spark, d, polylines, dist).collect()
    }
    pdf = d.toPandas()
    pts = geom.latlng_to_xyz(
        np.radians(pdf.lat.to_numpy()), np.radians(pdf.lon.to_numpy())
    )
    expected = {}
    for spec in polylines:
        v = np.asarray(spec["vertices"], dtype=np.float64)
        verts = geom.normalize(
            geom.latlng_to_xyz(np.radians(v[:, 0]), np.radians(v[:, 1]))
        )
        cp, dd, fr = edges.polyline_project(pts, verts)
        plat, plng = geom.xyz_to_latlng(cp)
        for i in np.flatnonzero(dd <= dist):
            expected[(int(pdf.doc_id[i]), spec["line_id"])] = (
                float(dd[i]), float(fr[i]),
                float(np.degrees(plat[i])), float(np.degrees(plng[i])),
            )
    assert {lid for _, lid in expected} == {1, 2, 3}
    assert got.keys() == expected.keys()
    for key, values in expected.items():
        assert got[key] == values, key


def test_polyline_project_is_batch_invariant():
    """A row's projection does not depend on the rows batched with it
    (Spark's Arrow batches have arbitrary composition): every chunking
    and order gives the same bits as the whole array."""
    rng = np.random.default_rng(11)
    v = np.asarray([[-20.0, 175.0], [-12.0, -178.0], [-5.0, -170.0]])
    verts = geom.normalize(
        geom.latlng_to_xyz(np.radians(v[:, 0]), np.radians(v[:, 1]))
    )
    pts = geom.latlng_to_xyz(
        np.radians(rng.uniform(-25, 0, 2000)),
        np.radians(rng.uniform(170, 195, 2000)),
    )
    whole = edges.polyline_project(pts, verts)
    for k in (1, 3, 7, 13):
        parts = [edges.polyline_project(pts[i : i + k], verts) for i in range(0, len(pts), k)]
        for j in range(3):
            assert np.array_equal(np.concatenate([p[j] for p in parts]), whole[j])
    perm = rng.permutation(len(pts))
    for got, want in zip(edges.polyline_project(pts[perm], verts), whole):
        assert np.array_equal(got, want[perm])


def _at_offset(arr, offset):
    """A copy of ``arr`` whose data starts ``offset`` bytes past a
    64-byte boundary."""
    buf = np.zeros(arr.nbytes + 128, dtype=np.uint8)
    start = (-buf.ctypes.data) % 64 + offset
    out = buf[start : start + arr.nbytes].view(arr.dtype).reshape(arr.shape)
    out[...] = arr
    return out


def test_edge_closest_point_bits_do_not_depend_on_alignment(monkeypatch):
    """The same inputs, and the edge normal the kernel derives from
    them, copied at 0/8/16/24-byte offsets give the same bits.  A BLAS
    norm (``np.linalg.norm`` of a 1-D vector) fails this, and with it
    the bit-exact Spark-vs-numpy projection test, depending on where
    the allocator put the normal in each process."""
    rng = np.random.default_rng(7)
    n = 1500
    a = geom.normalize(rng.normal(size=(n, 3)))
    b = geom.normalize(a + rng.normal(scale=0.05, size=(n, 3)))
    x = geom.normalize(a + rng.normal(scale=0.05, size=(n, 3)))
    cross = geom.robust_cross_prod
    runs = []
    for off in (0, 8, 16, 24):
        monkeypatch.setattr(
            geom, "robust_cross_prod", lambda p, q, off=off: _at_offset(cross(p, q), off)
        )
        runs.append([
            edges.edge_closest_point(
                _at_offset(x[i : i + 1], off), _at_offset(a[i], off), _at_offset(b[i], off)
            )
            for i in range(n)
        ])
    for other in runs[1:]:
        for want, got in zip(runs[0], other):
            assert np.array_equal(want, got)


def test_edge_distance_bits_do_not_depend_on_alignment_or_batch(monkeypatch):
    """The proximity refine's distance, row by row with the inputs and
    the edge normal at 0/8/16/24-byte offsets, and for the whole batch
    against one edge, gives the same bits (a BLAS ``np.linalg.norm`` of
    the normal does not)."""
    rng = np.random.default_rng(11)
    n = 1500
    a = geom.normalize(rng.normal(size=(n, 3)))
    b = geom.normalize(a + rng.normal(scale=0.05, size=(n, 3)))
    x = geom.normalize(a + rng.normal(scale=0.05, size=(n, 3)))
    cross = geom.robust_cross_prod
    runs = []
    for off in (0, 8, 16, 24):
        monkeypatch.setattr(
            geom, "robust_cross_prod", lambda p, q, off=off: _at_offset(cross(p, q), off)
        )
        runs.append(np.concatenate([
            geom.edge_distance_radians(
                _at_offset(x[i : i + 1], off), _at_offset(a[i], off), _at_offset(b[i], off)
            )
            for i in range(n)
        ]))
        one_edge = [
            geom.edge_distance_radians(_at_offset(x[i : i + 1], off), a[0], b[0])
            for i in range(n)
        ]
        assert np.array_equal(
            np.concatenate(one_edge), geom.edge_distance_radians(x, a[0], b[0])
        )
    for other in runs[1:]:
        assert np.array_equal(runs[0], other)


def test_chain_rect_bound_bits_do_not_depend_on_alignment_or_batch(monkeypatch):
    """The loop rect bound the join prefilter reads, chain by chain with
    the vertices, the edge normals and the latitude-extremum vectors at
    0/8/16/24-byte offsets, and for each chain read as a view of one
    batch of chains, gives the same bits (a BLAS ``np.linalg.norm`` of
    the extremum vector does not)."""
    rng = np.random.default_rng(17)
    chains = []
    for _ in range(700):
        center = geom.normalize(rng.normal(size=3))
        m = int(rng.integers(3, 9))
        chains.append(geom.normalize(center + rng.normal(scale=0.3, size=(m, 3))))
    batch = np.concatenate(chains)
    starts = np.cumsum([0] + [len(c) for c in chains])
    want = [geom.chain_rect_bound(batch[starts[i] : starts[i + 1]]) for i in range(len(chains))]
    cross_prod, cross = geom.robust_cross_prod, np.cross
    for off in (0, 8, 16, 24):
        monkeypatch.setattr(
            geom, "robust_cross_prod", lambda p, q, off=off: _at_offset(cross_prod(p, q), off)
        )
        monkeypatch.setattr(np, "cross", lambda p, q, off=off: _at_offset(cross(p, q), off))
        got = [geom.chain_rect_bound(_at_offset(c, off)) for c in chains]
        assert got == want, off


def test_ccw_determinants_near_zero_do_not_depend_on_alignment(monkeypatch):
    """Points a few ulps off the great circle through a and b put
    ``robust_ccw``'s determinant inside the uncertainty band; every
    determinant and dot product its tiers compute, and the sign, are
    the same with the inputs at 0/8/16/24-byte offsets."""
    rng = np.random.default_rng(13)
    n = 400
    a = geom.normalize(rng.normal(size=(n, 3)))
    b = geom.normalize(a + rng.normal(scale=0.1, size=(n, 3)))
    t = rng.uniform(-0.5, 1.5, size=(n, 1))
    c = geom.normalize(a * (1 - t) + b * t + rng.normal(scale=1e-16, size=(n, 3)))
    near = np.abs(geom.dot(np.cross(a, b), c)) <= geom.CCW_THRESHOLD
    assert near.sum() > n // 2
    real = geom.dot3
    runs = []
    for off in (0, 8, 16, 24):
        seen = []
        monkeypatch.setattr(
            geom, "dot3", lambda p, q: seen.append(real(p, q)) or seen[-1]
        )
        signs = [
            geom.robust_ccw(*(_at_offset(v[i], off) for v in (a, b, c)))
            for i in range(n)
        ]
        runs.append((signs, seen))
    assert len(runs[0][1]) > n
    for other in runs[1:]:
        assert other == runs[0]


def test_xyz_to_latlng_bits_do_not_depend_on_output_placement(monkeypatch):
    """numpy bounds a strided input's memory by stride x length; an
    ``arctan2`` output that lands in the overshoot past the input's
    last element takes the scalar loop, whose last bit can differ from
    the SIMD loop's (doc 15 of the polyline projection test came back
    as 48.86299894528857 from the worker and 48.862998945288574 from
    the driver).  Here every ``arctan2`` output sits one element behind
    the buffer that holds its first input: as close as the allocator
    can put it, since a malloc chunk header separates two buffers."""
    real = np.arctan2

    def arctan2_behind_input(a, b):
        owner = a if a.base is None else a.base
        offset = (a.ctypes.data - owner.ctypes.data) // 8
        buf = np.empty(owner.size + 1 + a.size)
        buf[: owner.size] = owner.ravel()
        moved = np.lib.stride_tricks.as_strided(
            buf[offset:], shape=a.shape, strides=a.strides
        )
        return real(moved, b, out=buf[owner.size + 1 :])

    rng = np.random.default_rng(3)
    p = geom.normalize(rng.normal(size=(4000, 3)))
    want = (
        real(p[:, 2].copy(), np.sqrt(p[:, 0] * p[:, 0] + p[:, 1] * p[:, 1])),
        real(p[:, 1].copy(), p[:, 0].copy()),
    )
    monkeypatch.setattr(geom.np, "arctan2", arctan2_behind_input)
    for got, exp in zip(geom.xyz_to_latlng(p), want):
        assert np.array_equal(got, exp)


def test_polyline_interpolate_project_roundtrip():
    import numpy as np

    from s2_geometry_library_php_spark.s2core import geom
    from s2_geometry_library_php_spark.s2core.edges import (
        polyline_interpolate,
        polyline_project,
    )

    v = np.asarray([[48.5, 1.8], [48.9, 2.4], [49.3, 3.0]])
    verts = geom.normalize(
        geom.latlng_to_xyz(np.radians(v[:, 0]), np.radians(v[:, 1]))
    )
    for f in (0.0, 0.1, 0.25, 0.5, 0.9, 1.0):
        p = polyline_interpolate(verts, f)
        _cp, d, fr = polyline_project(p[None], verts)
        assert d[0] < 1e-12
        assert abs(fr[0] - f) < 1e-9
    # projection distance == min per-edge distance; closest point
    # achieves it
    rng = np.random.default_rng(3)
    pts = geom.latlng_to_xyz(
        np.radians(rng.uniform(47, 50, 300)),
        np.radians(rng.uniform(0.5, 4.5, 300)),
    )
    cp, d, _fr = polyline_project(pts, verts)
    brute = np.minimum(
        geom.edge_distance_radians(pts, verts[0], verts[1]),
        geom.edge_distance_radians(pts, verts[1], verts[2]),
    )
    assert np.allclose(d, brute, atol=1e-15)
    assert np.allclose(geom.angle_between(pts, cp), d, atol=1e-9)


def test_robust_crossing_vec_matches_scalar():
    import numpy as np

    from s2_geometry_library_php_spark.s2core import geom

    rng = np.random.default_rng(23)
    pts = geom.normalize(rng.standard_normal((400, 3)))
    a, b, c, d = pts[:100], pts[100:200], pts[200:300], pts[300:400]
    vec = geom.robust_crossing_vec(a, b, c, d)
    for i in range(100):
        assert vec[i] == geom.robust_crossing(a[i], b[i], c[i], d[i])
    # shared-vertex rows (degenerate-adjacent) also agree
    vec2 = geom.robust_crossing_vec(a, b, b, c)
    for i in range(100):
        assert vec2[i] == geom.robust_crossing(a[i], b[i], b[i], c[i])


def test_cell_pairs_match_brute_relation():
    """``cellid.cell_pairs`` returns each (query cell, index cell) pair
    where one cell equals or contains the other, once, as an all-pairs
    scan finds them: cells at mixed levels that nest (parents of a few
    leaves), face cells (an edge longer than a face covers all six),
    leaf cells, and cells repeated on both sides."""
    rng = np.random.default_rng(11)
    base = cid.cell_id_from_latlng_degrees(
        rng.uniform(-60, 60, 6), rng.uniform(-170, 170, 6)
    )
    nested = cid.parent(base[rng.integers(0, 6, 60)], rng.integers(0, 31, 60))
    faces = np.array([(f << 61) + (1 << 60) for f in range(6)], dtype=np.uint64)
    index = np.sort(np.concatenate([nested[:40], nested[:8], faces[:2], base[:3]]))
    query = np.concatenate([nested[30:], nested[30:34], faces[1:], base[2:], base[:1]])
    levels = sorted({int(x) for x in cid.level_of(index)})
    row, idx = cid.cell_pairs(index, query, levels)
    got = sorted(zip(row.tolist(), idx.tolist()))
    want = [
        (r, i)
        for r, q in enumerate(map(int, query))
        for i, c in enumerate(map(int, index))
        if cid.contains_scalar(q, c) or cid.contains_scalar(c, q)
    ]
    assert got == want
    level = cid.level_of(query)[row] - cid.level_of(index)[idx]
    assert level.min() < 0 < level.max() and 0 in level
    empty = cid.cell_pairs(index[:0], query, [])
    assert [len(x) for x in empty] == [0, 0]


# Two straight lines and a chain crossing line 1 twice, around the quad
# loop of region 7: shared by the crossing-join tests.
THREE_LINES = [
    dict(line_id=1, vertices=[[42.0, -77.0], [42.0, -72.0]]),
    dict(line_id=2, vertices=[[40.0, -74.5], [44.0, -74.5]]),
    dict(line_id=4, vertices=[[41.0, -76.0], [43.0, -75.0], [41.0, -74.0]]),
]
QUAD_LOOP = dict(
    region_id=7,
    kind="loop",
    params=[40.0, -75.0, 40.0, -70.0, 45.0, -70.0, 45.0, -75.0],
    loop_offsets=None,
)


def test_polyline_region_crossing_join_counts(spark):
    """The covering-join crossing counts equal the brute-force kernel:
    a polyline that enters a quad loop through its west meridian edge
    and ends inside (odd parity => exactly one crossing), one that
    passes fully through (two), and the three-line fixture."""
    from s2_geometry_library_php_spark.operators.polyline_join import (
        polyline_region_crossing_join,
        polyline_region_crossings_numpy,
    )

    enters = [dict(line_id=1, vertices=[[42.0, -77.0], [42.0, -72.0]])]
    through = [dict(line_id=2, vertices=[[42.0, -77.0], [42.0, -68.0]])]
    # line 4 turns at a vertex on the west edge: one crossing
    three = {(1, 7): 1, (2, 7): 1, (4, 7): 1}
    expected = [{(1, 7): 1}, {(2, 7): 2}, three]
    for lines, exp in zip([enters, through, THREE_LINES], expected):
        got = {
            (r.line_id, r.region_id): r.n_crossings
            for r in polyline_region_crossing_join(
                spark, lines, [QUAD_LOOP]
            ).collect()
        }
        want = {
            (lid, rid): n
            for lid, rid, n in polyline_region_crossings_numpy(lines, [QUAD_LOOP])
        }
        assert got == want == exp


def test_crossing_joins_shared_vertices_and_wrap_edge(spark):
    """Edges that share a vertex are no proper crossing (robustCrossing
    0), and a closed loop's wrap edge (last vertex back to the first)
    is indexed: both joins equal their numpy oracles on lines that meet
    the quad loop's vertices and each other's endpoints, and on a line
    that crosses only the loop's wrap edge."""
    from s2_geometry_library_php_spark.operators.polyline_join import (
        polyline_region_crossing_join,
        polyline_region_crossings_numpy,
        polyline_self_crossing_join,
        polyline_self_crossings_numpy,
    )

    lines = [
        # from the loop's first vertex out, and a line ending on it
        dict(line_id=1, vertices=[[40.0, -75.0], [38.0, -78.0]]),
        dict(line_id=2, vertices=[[38.0, -72.0], [40.0, -75.0]]),
        # through the loop: two crossings, both off the vertices
        dict(line_id=3, vertices=[[42.0, -77.0], [43.0, -68.0]]),
        # crosses only the wrap edge (45N -75 -> 40N -75)
        dict(line_id=5, vertices=[[42.5, -76.0], [42.5, -74.0]]),
        # starts on line 3's vertex and on line 1's far end
        dict(line_id=6, vertices=[[42.0, -77.0], [38.0, -78.0]]),
        # inside the loop, across line 3
        dict(line_id=7, vertices=[[41.0, -73.0], [44.0, -73.0]]),
    ]
    got = {
        (r.line_id, r.region_id): r.n_crossings
        for r in polyline_region_crossing_join(spark, lines, [QUAD_LOOP]).collect()
    }
    want = {
        (a, b): n for a, b, n in polyline_region_crossings_numpy(lines, [QUAD_LOOP])
    }
    assert got == want
    assert got[(3, 7)] == 2 and got[(5, 7)] == 1
    assert (1, 7) not in got and (2, 7) not in got
    got = {
        (r.line_a, r.line_b): r.n_crossings
        for r in polyline_self_crossing_join(spark, lines).collect()
    }
    assert got == {(a, b): n for a, b, n in polyline_self_crossings_numpy(lines)}
    assert (1, 2) not in got and (3, 6) not in got and (1, 6) not in got
    assert got[(3, 7)] == 1


def test_wedge_contains_or_intersects_cases():
    import numpy as np

    from s2_geometry_library_php_spark.s2core import geom
    from s2_geometry_library_php_spark.s2core.edges import (
        loop_normalize,
        wedge_contains_or_intersects,
    )

    def ll(lat, lng):
        return geom.latlng_to_xyz(np.radians(lat), np.radians(lng))

    b = ll(0.0, 0.0)  # shared wedge apex
    # A spans a wide wedge, B a narrow sub-wedge -> contains (+1)
    a0, a2 = ll(10.0, -10.0), ll(10.0, 10.0)
    b0, b2 = ll(10.0, -3.0), ll(10.0, 3.0)
    assert wedge_contains_or_intersects(a0, b, a2, b0, b2) == 1
    # disjoint wedges -> 0
    c0, c2 = ll(-10.0, 3.0), ll(-10.0, -3.0)
    assert wedge_contains_or_intersects(a0, b, a2, c0, c2) == 0
    # partial overlap -> -1
    d0, d2 = ll(10.0, 3.0), ll(-10.0, 0.0)
    assert wedge_contains_or_intersects(a0, b, a2, d0, d2) == -1

    # loop_normalize inverts an over-hemisphere loop
    big = np.asarray(
        geom.normalize(
            geom.latlng_to_xyz(
                np.radians(np.array([-60.0, -60.0, -60.0, -60.0])),
                np.radians(np.array([0.0, 90.0, 180.0, -90.0])),
            )
        )
    )  # CCW around the south pole viewed from inside => area > 2pi
    area_big, _ = geom.loop_area_centroid(big)
    if area_big > 2 * np.pi:
        norm = loop_normalize(big)
        area_n, _ = geom.loop_area_centroid(norm)
        assert area_n <= 2 * np.pi + 1e-9
    else:
        norm = loop_normalize(big[::-1])
        area_n, _ = geom.loop_area_centroid(norm)
        assert area_n <= 2 * np.pi + 1e-9


def test_polyline_self_crossing_join_no_broadcast(spark):
    """Self-crossing join: counts equal brute force on a four-line
    fixture and the three-line fixture, and the plan contains no
    BroadcastNestedLoopJoin/CartesianProduct (candidates come from the
    edge index lookup, never from all pairs)."""
    from s2_geometry_library_php_spark.operators.polyline_join import (
        polyline_self_crossing_join,
        polyline_self_crossings_numpy,
    )

    four = THREE_LINES + [dict(line_id=3, vertices=[[10.0, 10.0], [20.0, 20.0]])]
    for lines in (four, THREE_LINES):
        df = polyline_self_crossing_join(spark, lines)
        got = {(r.line_a, r.line_b): r.n_crossings for r in df.collect()}
        want = {
            (a, b): n for a, b, n in polyline_self_crossings_numpy(lines)
        }
        assert got == want
        assert (1, 2) in got and got[(1, 4)] == 2
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def _self_crossings_vec(lines):
    """Numpy oracle: every cross-line edge pair through
    ``geom.robust_crossing_vec``, the lower line's edge first."""
    owner, a, b = [], [], []
    for spec in lines:
        v = np.asarray(spec["vertices"], dtype=np.float64)
        p = geom.normalize(
            geom.latlng_to_xyz(np.radians(v[:, 0]), np.radians(v[:, 1]))
        )
        owner += [spec["line_id"]] * (len(p) - 1)
        a.append(p[:-1])
        b.append(p[1:])
    owner, a, b = np.asarray(owner), np.concatenate(a), np.concatenate(b)
    out = {}
    for i in range(len(owner)):
        j = np.nonzero(owner > owner[i])[0]
        shape = (len(j), 3)
        hit = geom.robust_crossing_vec(
            np.broadcast_to(a[i], shape), np.broadcast_to(b[i], shape), a[j], b[j]
        ) > 0
        for lb in owner[j[hit]]:
            key = (int(owner[i]), int(lb))
            out[key] = out.get(key, 0) + 1
    return out


def test_polyline_self_crossing_join_1k_lines(spark):
    """Scale fixture through the edge index lookup (1024 lines): (a)
    full equality against the numpy ``robust_crossing_vec``
    oracle over all cross-line edge pairs, (b) exact equality against
    the scalar numpy oracle on a 64-line subsample, (c) no
    Cartesian/BNLJ in the plan."""
    from s2_geometry_library_php_spark.operators.polyline_join import (
        polyline_self_crossing_join,
        polyline_self_crossings_numpy,
        synth_grid_lines,
    )

    lines = synth_grid_lines(1024)
    df = polyline_self_crossing_join(spark, lines)
    got = {(r.line_a, r.line_b): r.n_crossings for r in df.collect()}
    assert len(got) > 500  # sparse but non-trivial crossing graph
    assert got == _self_crossings_vec(lines)

    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    # independent scalar kernel oracle on a deterministic subsample
    sub_ids = {lid for lid in range(1, 1025) if lid % 16 == 3}
    sub = [ln for ln in lines if ln["line_id"] in sub_ids]
    want = {
        (a, b): c for a, b, c in polyline_self_crossings_numpy(sub)
    }
    got_sub = {
        (a, b): c
        for (a, b), c in got.items()
        if a in sub_ids and b in sub_ids
    }
    assert got_sub == want
