"""S2 cell index: three-way implementation agreement + convention pins.

The Spark fold (functions/s2.s2_cell_id), the pure-Python lookup-table
reference (py_cell_id, built by recursive curve subdivision — a different
algorithmic route), and the DuckDB recursive-CTE mirror (duckdb_s2_ctes)
must agree leaf-exact. Convention pins: id(0,0) = 2^60 + 1 (face 0, center
leaf), face placement of cardinal points, parent = bit-prefix mask.
"""

import math
import random

import duckdb
import pyspark.sql.functions as F
import pytest

from gdalcubes_cpp_spark.functions import s2


def _seeded_points(n=300, seed=1234):
    rng = random.Random(seed)
    pts = [(rng.uniform(-180, 180), rng.uniform(-89.99, 89.99)) for _ in range(n)]
    # face centers, poles, antimeridian, face-edge diagonals (45 deg), and
    # the lat where |z| ties |x| (atan(1/sqrt(2)) ~ 35.264): exercises every
    # face and the strict-> tie conventions
    pts += [
        (0.0, 0.0), (90.0, 0.0), (180.0, 0.0), (-180.0, 0.0), (-90.0, 0.0),
        (0.0, 90.0), (0.0, -90.0), (45.0, 0.0), (-45.0, 0.0),
        (45.0, 35.264), (135.0, -35.264), (0.0, 45.0), (12.3, 45.6),
    ]
    return pts


@pytest.fixture(scope="module")
def triple(spark):
    pts = _seeded_points()
    level = 11
    rows_in = [(k, float(lon), float(lat)) for k, (lon, lat) in enumerate(pts)]

    df = spark.createDataFrame(rows_in, "k int, lon double, lat double")
    got = (
        df.select(
            "k",
            s2.s2_cell_id(F.col("lon"), F.col("lat")).alias("leaf"),
            s2.s2_cell_id(F.col("lon"), F.col("lat"), level).alias("cell"),
            s2.s2_token(s2.s2_cell_id(F.col("lon"), F.col("lat"), level)).alias("tok"),
        )
        .orderBy("k")
        .collect()
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE pts(k INT, lon DOUBLE, lat DOUBLE)")
    con.executemany("INSERT INTO pts VALUES (?,?,?)", rows_in)
    sql = (
        "WITH RECURSIVE "
        + s2.duckdb_s2_ctes("SELECT * FROM pts", "lon", "lat", level, "k")
        + " SELECT k, leaf, cell FROM s2out ORDER BY k"
    )
    duck = con.execute(sql).fetchall()
    con.close()
    return pts, level, got, duck


def test_three_way_leaf_exact(triple):
    pts, level, got, duck = triple
    assert len(got) == len(duck) == len(pts)
    for (lon, lat), g, d in zip(pts, got, duck):
        py_leaf = s2.py_cell_id(lon, lat)
        py_cell = s2.py_cell_id(lon, lat, level)
        assert g.leaf == py_leaf == d[1], (lon, lat)
        assert g.cell == py_cell == d[2], (lon, lat)
        assert g.tok == s2.py_token(py_cell)


def test_convention_pins():
    # (0,0): face 0 center -> i = j = 2^29, Hilbert pos of the center leaf
    # collapses to id 2^60 + 1 (hand-derived; also s2geometry's own value)
    assert s2.py_cell_id(0.0, 0.0) == (1 << 60) + 1
    # face placement of cardinal directions (x, y, z, -x, -y, -z axes)
    for lon, lat, face in [
        (0, 0, 0), (90, 0, 1), (0, 90, 2), (180, 0, 3), (-90, 0, 4), (0, -90, 5),
    ]:
        uid = s2.py_cell_id(lon, lat) & ((1 << 64) - 1)
        assert uid >> 61 == face, (lon, lat, face, uid >> 61)


def test_parent_is_prefix_and_range():
    rng = random.Random(7)
    for _ in range(50):
        lon, lat = rng.uniform(-180, 180), rng.uniform(-89, 89)
        leaf_u = s2.py_cell_id(lon, lat) & ((1 << 64) - 1)
        for lv in (0, 3, 8, 15, 22, 29, 30):
            p_u = s2.py_cell_id(lon, lat, lv) & ((1 << 64) - 1)
            lsb = s2.lsb_for_level(lv)
            # range containment: [p - (lsb-1), p + (lsb-1)] covers the leaf
            assert p_u - (lsb - 1) <= leaf_u <= p_u + (lsb - 1)
            # bit-prefix: ids agree above the parent's lsb
            assert (p_u & ~(2 * lsb - 1)) == (leaf_u & ~(2 * lsb - 1))
            # trailing pattern: exactly lsb set below the prefix
            assert p_u & (2 * lsb - 1) == lsb


def test_token_convention():
    assert s2.py_token((1 << 60) + 1) == "1000000000000001"
    # trailing zeros stripped: a level-0 face cell
    face1 = 1 * (1 << 61) + (1 << 60)  # face 1, level 0
    assert s2.py_token(face1) == "3"
    # face 4 wraps negative in signed carry; token is the uint64 pattern
    neg = s2.py_cell_id(-90.0, 0.0, 0)
    assert neg < 0 and s2.py_token(neg) == "9"


def test_area_equalization_level_grid():
    # quadratic st projection: level-4 cells on one face differ in solid
    # angle by < 2.2x (the published bound is ~2.08); sanity check via
    # sampled density on face 0
    rng = random.Random(99)
    counts = {}
    n = 20000
    for _ in range(n):
        # uniform on the sphere patch covered by face 0
        while True:
            x = 1.0
            y, z = rng.uniform(-1, 1), rng.uniform(-1, 1)
            v = math.sqrt(x * x + y * y + z * z)
            lon = math.degrees(math.atan2(y, x))
            lat = math.degrees(math.asin(z / v))
            if abs(lon) <= 44.9 and abs(math.degrees(math.atan2(z, math.hypot(x, y)))) <= 44.9:
                break
        cid = s2.py_cell_id(lon, lat, 3)
        if (cid & ((1 << 64) - 1)) >> 61 == 0:
            counts[cid] = counts.get(cid, 0) + 1
    dens = sorted(counts.values())
    assert len(dens) >= 30  # most of the 64 level-3 cells on the face seen
    # compare robust quantiles, not extremes (sampling noise)
    lo, hi = dens[len(dens) // 10], dens[-1 - len(dens) // 10]
    assert hi / max(lo, 1) < 3.5


def test_range_partition_locality(spark):
    # Hilbert-ordered ids: range partitions are compact patches. Check the
    # mean per-partition lon/lat spread is far below the global spread.
    rng = random.Random(5)
    rows = [
        (float(rng.uniform(-50, 41)), float(rng.uniform(-40, 33)))
        for _ in range(4000)
    ]
    df = spark.createDataFrame(rows, "lon double, lat double").withColumn(
        "cell", s2.s2_cell_id(F.col("lon"), F.col("lat"), 12)
    )
    parts = s2.range_partition_by_cell(df, "cell", 16)
    stats = (
        parts.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(
            (F.max("lon") - F.min("lon")).alias("dlon"),
            (F.max("lat") - F.min("lat")).alias("dlat"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    assert sum(r.n for r in stats) == 4000
    mean_span = sum(r.dlon * r.dlat for r in stats if r.n > 1) / len(stats)
    global_span = 91.0 * 73.0
    # compact patches: mean partition bbox area well under 1/4 of global
    assert mean_span < global_span / 4


def test_spark_parent_matches_python(spark):
    rows = [(12.5, -33.0), (-170.0, 80.0), (99.0, 0.5)]
    df = spark.createDataFrame([(float(a), float(b)) for a, b in rows], "lon double, lat double")
    got = df.select(
        s2.s2_parent(s2.s2_cell_id(F.col("lon"), F.col("lat")), 7).alias("p")
    ).collect()
    for (lon, lat), r in zip(rows, got):
        assert r.p == s2.py_cell_id(lon, lat, 7)


def test_cover_superset_property():
    """Every point inside a rect has its level cell in the rect's cover
    (no false negatives — the property the S2 join's correctness rests on)."""
    rng = random.Random(31)
    for _ in range(120):
        cx, cy = rng.uniform(-179, 179), rng.uniform(-88, 88)
        w, h = 10 ** rng.uniform(-2, 1.2), 10 ** rng.uniform(-2, 1.2)
        lon_lo, lon_hi = max(-180.0, cx - w / 2), min(180.0, cx + w / 2)
        lat_lo, lat_hi = max(-90.0, cy - h / 2), min(90.0, cy + h / 2)
        level = rng.randint(3, 12)
        cover = set(s2.py_cover_rect(lon_lo, lon_hi, lat_lo, lat_hi, level))
        for _p in range(20):
            lon = rng.uniform(lon_lo, lon_hi)
            lat = rng.uniform(lat_lo, lat_hi)
            assert s2.py_cell_id(lon, lat, level) in cover


def test_cover_polar_and_corners():
    # a rect touching the north pole must be covered on face 2
    cover = s2.py_cover_rect(10.0, 20.0, 80.0, 90.0, 6)
    faces = {(c & ((1 << 64) - 1)) >> 61 for c in cover}
    assert 2 in faces
    for lon, lat in [(10.0, 80.0), (20.0, 90.0), (15.0, 89.999)]:
        assert s2.py_cell_id(lon, lat, 6) in cover
    # degenerate (point) rect
    pt = s2.py_cover_rect(5.0, 5.0, 5.0, 5.0, 10)
    assert s2.py_cell_id(5.0, 5.0, 10) in pt


def test_cover_udf_matches_python(spark):
    rng = random.Random(13)
    rows = []
    for _ in range(40):
        lo = rng.uniform(-170, 160)
        blo = rng.uniform(-80, 70)
        rows.append((lo, lo + rng.uniform(0.01, 8.0), blo, blo + rng.uniform(0.01, 8.0)))
    df = spark.createDataFrame(rows, "left double, right double, bottom double, top double")
    got = df.select(
        "left", "right", "bottom", "top",
        s2.cover_cells_udf(9)(F.col("left"), F.col("right"), F.col("bottom"), F.col("top")).alias("c"),
    ).collect()
    for r in got:
        assert r.c == s2.py_cover_rect(r.left, r.right, r.bottom, r.top, 9)


def test_stjoin_s2_matches_broadcast(spark):
    from gdalcubes_cpp_spark.benchqueries import V_ENG, images_meta
    from gdalcubes_cpp_spark.grid import ChunkGrid
    from gdalcubes_cpp_spark.operators.stjoin import assignment

    img = images_meta(spark, "/root/testdata/sf0.001")
    grid = ChunkGrid(V_ENG)
    a = {(r.image_id, r.chunk_id) for r in assignment(img, grid, method="broadcast").collect()}
    b = {(r.image_id, r.chunk_id) for r in assignment(img, grid, method="s2").collect()}
    assert a == b and len(a) > 0


def test_null_and_nonfinite_coordinates_give_null(spark):
    """A NULL or non-finite coordinate has no cell: s2_cell_id is NULL, and
    a rect with a NULL or NaN edge covers nothing (no numpy warning)."""
    import warnings

    pts = spark.createDataFrame(
        [(0, None, 20.0), (1, float("nan"), 20.0), (2, 12.0, float("inf")),
         (3, 12.0, 13.0)], "k int, lon double, lat double")
    got = pts.select("k", s2.s2_cell_id(F.col("lon"), F.col("lat"), 11).alias("c"))
    assert [r.c for r in got.orderBy("k").collect()] == [
        None, None, None, s2.py_cell_id(12.0, 13.0, 11)]
    rects = spark.createDataFrame(
        [(0, None, 1.0, 0.0, 1.0), (1, float("nan"), 1.0, 0.0, 1.0),
         (2, 0.0, 1.0, 0.0, float("nan")), (3, 0.0, 1.0, 0.0, 1.0)],
        "k int, l double, r double, b double, t double")
    cov = s2.cover_cells_udf(5)(F.col("l"), F.col("r"), F.col("b"), F.col("t"))
    got = rects.select("k", cov.alias("c")).orderBy("k").collect()
    assert [r.c for r in got] == [[], [], [], s2.py_cover_rect(0.0, 1.0, 0.0, 1.0, 5)]
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        ok, (lon, lat) = s2.finite_lanes([float("nan"), 12.0], [20.0, 13.0])
        leaf = s2.np_point_leaf(lon, lat)
    assert ok.tolist() == [False, True] and leaf[1] == s2.py_cell_id(12.0, 13.0)
