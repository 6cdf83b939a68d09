"""Aperture-7 hexagonal index (functions/hexgrid.py) — triple-implementation
equality (numpy / Spark F.expr / DuckDB CTE), lattice invariants, and the
driver-point margin assertions that license the oracled suite member."""

import duckdb
import numpy as np
import pandas as pd
import pytest

from gdalcubes_cpp_spark.functions import hexgrid as hg

RES = 5


def _pts(n=4000, seed=5):
    rng = np.random.default_rng(seed)
    return rng.uniform(-179, 179, n), rng.uniform(-85, 85, n)


def test_duckdb_matches_numpy_exact():
    lon, lat = _pts()
    cells = hg.hex_encode_np(lon, lat, RES)
    parents = hg.hex_parent_np(cells)
    con = duckdb.connect()
    con.register("pts", pd.DataFrame({"id": np.arange(len(lon)),
                                      "lon": lon, "lat": lat}))
    got = con.execute(
        hg.hex_duckdb_sql("SELECT * FROM pts", "id", "lon", "lat", RES)
        + " ORDER BY id").fetchdf()
    np.testing.assert_array_equal(got["hex_cell"].to_numpy(), cells)
    np.testing.assert_array_equal(got["hex_parent"].to_numpy(), parents)


def test_spark_matches_numpy_exact(spark):
    lon, lat = _pts(2500, 6)
    cells = hg.hex_encode_np(lon, lat, RES)
    parents = hg.hex_parent_np(cells)
    df = spark.createDataFrame(pd.DataFrame(
        {"id": np.arange(len(lon)), "lon": lon, "lat": lat}))
    out = hg.hex_cells(df, "lon", "lat", RES).orderBy("id").toPandas()
    np.testing.assert_array_equal(out["hex_cell"].to_numpy(), cells)
    np.testing.assert_array_equal(out["hex_parent"].to_numpy(), parents)
    # intermediates are dropped
    assert not [c for c in out.columns if c.startswith("_hx_")]


def test_pack_unpack_roundtrip():
    rng = np.random.default_rng(0)
    q = rng.integers(-10_000, 10_000, 500)
    r = rng.integers(-10_000, 10_000, 500)
    for res in (0, 5, hg.MAX_RES):
        rr, qq, rrr = hg.unpack(hg.pack(res, q, r))
        assert (rr == res).all()
        np.testing.assert_array_equal(qq, q)
        np.testing.assert_array_equal(rrr, r)


def test_center_reencodes_to_itself():
    lon, lat = _pts(1500, 7)
    cells = hg.hex_encode_np(lon, lat, RES)
    clon, clat = hg.hex_center_np(cells)
    np.testing.assert_array_equal(hg.hex_encode_np(clon, clat, RES), cells)


def test_parent_equals_center_encode_at_coarser_res():
    lon, lat = _pts(1500, 8)
    cells = hg.hex_encode_np(lon, lat, RES)
    clon, clat = hg.hex_center_np(cells)
    np.testing.assert_array_equal(
        hg.hex_parent_np(cells), hg.hex_encode_np(clon, clat, RES - 1))
    # an empty id batch gives empty parents and centres
    empty = np.array([], dtype=np.int64)
    assert hg.hex_parent_np(empty).shape == (0,)
    assert [a.shape for a in hg.hex_center_np(empty)] == [(0,), (0,)]


def test_aperture_seven_children():
    """Interior parents have exactly 7 children — THE aperture-7 property.
    Sampled over a 41x41 axial window; parents fully inside the window's
    child coverage must own exactly 7, never more."""
    import collections

    q0 = np.repeat(np.arange(-20, 21), 41)
    r0 = np.tile(np.arange(-20, 21), 41)
    children = hg.pack(RES, q0, r0)
    parents = hg.hex_parent_np(children)
    cnt = collections.Counter(parents.tolist())
    assert max(cnt.values()) == 7
    # interior check: parents of the inner half of the window are full
    inner = hg.hex_parent_np(hg.pack(RES, q0[np.abs(q0) <= 8], r0[np.abs(q0) <= 8]))
    # (boundary effects excluded by construction of the outer window)
    full = [cnt[c] for c in set(inner.tolist())
            if cnt[c] == 7]
    assert len(full) > 20


def test_kring_counts_and_id_arithmetic():
    for k in (1, 2, 3, 5):
        offs = hg.kring_offsets(k)
        assert len(offs) == 1 + 3 * k * (k + 1)
        assert len(set(offs)) == len(offs)
        # hex distance of every offset <= k, and the ring k shell is present
        def hd(dq, dr):
            return (abs(dq) + abs(dr) + abs(dq + dr)) // 2
        assert all(hd(*o) <= k for o in offs)
        assert sum(1 for o in offs if hd(*o) == k) == 6 * k
    # id arithmetic: neighbor id == pack of axial neighbor
    cell = int(hg.pack(RES, 123, -45))
    for dq, dr in hg.kring_offsets(2):
        assert cell + dq * (1 << 29) + dr == int(hg.pack(RES, 123 + dq, -45 + dr))


def test_kring_join_spark(spark):
    lon, lat = _pts(40, 9)
    df = spark.createDataFrame(pd.DataFrame(
        {"id": np.arange(40), "lon": lon, "lat": lat}))
    out = hg.hex_kring_join(hg.hex_cells(df, "lon", "lat", RES),
                            "hex_cell", 2)
    got = out.groupBy("id").count().toPandas()
    assert (got["count"] == 19).all()  # 1 + 3*2*3


def test_equal_area_property():
    """Every cell covers the same spherical area by construction (the plane
    is an equal-area projection): verified by integrating the authalic
    area of cell sets — N distinct cells tile N * cell_area of the plane,
    and the plane area element equals the sphere's everywhere."""
    a = hg.cell_area_m2(6)
    s, _, _ = hg.res_params(6)
    assert a == pytest.approx(1.5 * np.sqrt(3.0) * s * s)
    # aperture: parent area is exactly 7x child area
    assert hg.cell_area_m2(5) == pytest.approx(7.0 * hg.cell_area_m2(6))


def test_rotation_is_aperture_seven():
    """The inter-resolution rotation and scale form an aperture-7
    sublattice: the parent basis vector (axial (1,0), plane angle 0) is
    EXACTLY the child lattice's (3,-1) vector (norm q²+qr+r² = 7; the
    (2,1)/(3,-1) pair are the two chiralities of aperture 7 — this
    construction uses the clockwise one)."""
    s1, c1, n1 = hg.res_params(1)
    s0, _, _ = hg.res_params(0)
    assert s0 / s1 == pytest.approx(np.sqrt(7.0))
    # child axial (3,-1) in plane coords == parent axial (1,0)
    x_child = s1 * (np.sqrt(3.0) * (3 + (-1) * 0.5))
    y_child = s1 * (1.5 * -1)
    xp = x_child * c1 - y_child * n1  # child frame -> plane, R(+theta_1)
    yp = x_child * n1 + y_child * c1
    assert xp == pytest.approx(s0 * np.sqrt(3.0), rel=1e-12)
    assert yp == pytest.approx(0.0, abs=1e-6)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_driver_point_margins(sf):
    """The suite member's decisions (floor cube-round, tiebreaks) must sit
    far from their boundaries over the driver's actual point sets: the
    forward stage differs across engines by ~1e-13 in axial units (libm
    sin/ln ulps), so a 1e-7 margin is 6 orders of safety. The parent
    stage needs no margin — integer inputs make it bit-exact."""
    con = duckdb.connect()
    pdf = con.execute(f"""
      SELECT (l + r)/2 AS lon, (b + t)/2 AS lat FROM (
        SELECT -50.0 + (o_orderkey * 7919 % 9000) / 100.0 AS l,
               -50.0 + (o_orderkey * 7919 % 9000) / 100.0
                 + 0.55 + (o_orderkey * 104729 % 200) / 100.0 AS r,
               -40.0 + (o_orderkey * 6271 % 7200) / 100.0 AS b,
               -40.0 + (o_orderkey * 6271 % 7200) / 100.0
                 + 0.55 + (o_orderkey * 7127 % 200) / 100.0 AS t
        FROM read_parquet('/root/testdata/{sf}/orders.parquet'))
    """).fetchdf()
    from gdalcubes_cpp_spark.benchqueries import _HEX_RES

    m_round, m_tie = hg.margins_np(pdf["lon"].to_numpy(),
                                   pdf["lat"].to_numpy(), _HEX_RES)
    assert m_round > 1e-7 and m_tie > 1e-7, (sf, m_round, m_tie)


def test_cover_cells_superset_and_tight():
    """Conservative rect covers: every sampled point of each rect encodes
    to a cell IN the cover (the superset property the join dedup relies
    on), and the cover stays O(1) for rects ~ one cell wide."""
    rng = np.random.default_rng(12)
    res = 5
    rows = []
    for _ in range(40):
        lo = rng.uniform(-170, 160)
        blo = rng.uniform(-80, 70)
        rows.append((lo, lo + rng.uniform(0.01, 4.0),
                     blo, blo + rng.uniform(0.01, 4.0)))
    left, right, bottom, top = (np.array(c) for c in zip(*rows))
    covers = hg.cover_cells_np(left, right, bottom, top, res)
    for i, (lo, hi, blo, bhi) in enumerate(rows):
        cset = set(covers[i])
        assert len(cset) == len(covers[i])  # distinct (dedup-free join)
        u = rng.uniform(0, 1, (50, 2))
        lon = lo + u[:, 0] * (hi - lo)
        lat = blo + u[:, 1] * (bhi - blo)
        cells = hg.hex_encode_np(lon, lat, res)
        # corners too (the ownership points of the join dedup)
        corners = hg.hex_encode_np(np.array([lo, lo, hi, hi]),
                                   np.array([blo, bhi, blo, bhi]), res)
        assert set(cells.tolist()) <= cset
        assert set(corners.tolist()) <= cset
    # tightness: a tiny rect covers only a handful of cells
    tiny = hg.cover_cells_np(np.array([1.0]), np.array([1.01]),
                             np.array([1.0]), np.array([1.01]), res)[0]
    assert 1 <= len(tiny) <= 12
    with pytest.raises(ValueError):
        hg.cover_cells_np(np.array([170.0]), np.array([-170.0]),
                          np.array([0.0]), np.array([1.0]), res)


def test_stjoin_hex_matches_broadcast(spark):
    from gdalcubes_cpp_spark.benchqueries import V_ENG, images_meta
    from gdalcubes_cpp_spark.grid import ChunkGrid
    from gdalcubes_cpp_spark.operators.stjoin import assignment

    img = images_meta(spark, "/root/testdata/sf0.001")
    grid = ChunkGrid(V_ENG)
    a = {(r.image_id, r.chunk_id)
         for r in assignment(img, grid, method="broadcast").collect()}
    b = {(r.image_id, r.chunk_id)
         for r in assignment(img, grid, method="hex").collect()}
    assert a == b and len(a) > 0


def test_polyfill_center_containment():
    """polyfill = cells whose CENTER is inside the polygon (H3 semantics):
    every returned cell's center passes the independent ray-cast; no
    nearby cell with an inside center is missed; holes subtract."""
    from gdalcubes_cpp_spark.vector.geom import points_in_polygon, parse_wkt

    res = 5
    outer = "10 10, 18 10, 18 17, 10 17, 10 10"
    hole = "13 12, 15 12, 15 14, 13 14, 13 12"
    wkt = f"POLYGON(({outer}), ({hole}))"
    cells = np.asarray(hg.polyfill(wkt, res), dtype=np.int64)
    assert len(cells) > 10
    _, rings = parse_wkt(wkt)
    lon, lat = hg.hex_center_np(cells)
    assert points_in_polygon(lon, lat, rings).all()
    # completeness: dense point sampling of the polygon never lands in a
    # cell that polyfill missed
    rng = np.random.default_rng(3)
    px = rng.uniform(10, 18, 4000)
    py = rng.uniform(10, 17, 4000)
    inside = points_in_polygon(px, py, rings)
    pc = hg.hex_encode_np(px[inside], py[inside], res)
    pl, pb = hg.hex_center_np(pc)
    central = points_in_polygon(pl, pb, rings)  # their cells w/ inside centers
    assert set(pc[central].tolist()) <= set(cells.tolist())
    # hole actually removed cells
    no_hole = hg.polyfill(f"POLYGON(({outer}))", res)
    assert len(no_hole) > len(cells)
    # point WKT degenerates to the containing cell
    assert hg.polyfill("POINT(12 13)", res) == [
        int(hg.hex_encode_np(np.array([12.0]), np.array([13.0]), res)[0])]


def test_compact_uncompact_roundtrip():
    """compact folds complete 7-child groups; uncompact restores EXACTLY
    the original leaf set; polyfill output compresses then round-trips."""
    res = 6
    cells = hg.polyfill("POLYGON((10 10, 16 10, 16 15, 10 15, 10 10))", res)
    comp = hg.compact(cells)
    assert len(comp) < len(cells)  # a solid region must compress
    assert any(c // (1 << 58) < res for c in comp)  # coarser cells appear
    back = hg.uncompact(comp, res)
    assert back == sorted(cells)
    # children: exactly 7, all parent back to the cell
    c0 = int(cells[len(cells) // 2])
    ch = hg.children_np(c0)
    assert len(ch) == 7
    assert (hg.hex_parent_np(np.asarray(ch, dtype=np.int64)) == c0).all()
    # uncompact refuses finer-than-target members
    with pytest.raises(ValueError):
        hg.uncompact(ch, res - 1)


def test_invalid_res_rejected():
    with pytest.raises(ValueError):
        hg.res_params(hg.MAX_RES + 1)
    with pytest.raises(ValueError):
        hg.hex_parent_np(hg.pack(0, np.array([1]), np.array([2])))


def test_null_and_nonfinite_coordinates_give_null(spark):
    """A NULL or non-finite coordinate has no cell: hex_cells gives NULL
    cell and parent, and a rect with a NULL or NaN edge covers nothing
    (no numpy warning)."""
    import warnings

    df = spark.createDataFrame(
        [(0, None, 20.0), (1, float("nan"), 20.0), (2, 12.0, float("-inf")),
         (3, 12.0, 13.0)], "k int, lon double, lat double")
    out = hg.hex_cells(df, "lon", "lat", RES).orderBy("k").collect()
    cell = int(hg.hex_encode_np(np.array([12.0]), np.array([13.0]), RES)[0])
    assert [(r.hex_cell, r.hex_parent) for r in out] == [(None, None)] * 3 + [
        (cell, int(hg.hex_parent_np(np.array([cell]))[0]))]
    only = hg.hex_cells(df, "lon", "lat", RES, parent_col=None).orderBy("k")
    assert [r.hex_cell for r in only.collect()] == [None] * 3 + [cell]
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        cov = hg.cover_cells_np(np.array([np.nan, 0.0, 0.0]), np.array([1.0, 1.0, 1.0]),
                                np.array([0.0, np.nan, 0.0]), np.array([1.0, 1.0, 1.0]), RES)
    one = np.array([0.0]), np.array([1.0]), np.array([0.0]), np.array([1.0])
    assert cov == [[], [], hg.cover_cells_np(*one, RES)[0]] and cov[2]
