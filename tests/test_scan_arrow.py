"""Pins for the scan's Arrow form (build._scan_batch over a RecordBatch).

The kernel keeps decoded pixels in the codec's own dtype and converts to
float64 only the values the 'near' and mask gathers read, and the planes
the point and aggregating warps read. A decode_fn that returns float64
planes puts the same kernel on the float64 planes every pixel used to be
converted to first; both must give the same rows bit for bit, with the
same NULL (NaN) pattern, for every codec alone and mixed in one batch,
under BandMask, FileMask with bytes and non-'near' resamplers.

The hand-off pins hold what the JVM sees: ``ts`` is read as wall time in
the session time zone, and a NaN value leaves the scan as NULL.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from gdalcubes_cpp_spark import codecs, srs
from gdalcubes_cpp_spark.grid import ChunkGrid
from gdalcubes_cpp_spark.operators.build import (
    BandMask, FileMask, _scan_batch, build_cube, default_decode,
)
from gdalcubes_cpp_spark.sources.geotiff import gtiff_bytes
from gdalcubes_cpp_spark.view import CubeView

from .oracle_np import assert_dense_equal, dense_cube

BANDS = ("B1", "B2")
VIEW = dict(left=-20.0, right=20.0, bottom=-15.0, top=15.0, nx=80, ny=60,
            t0="2020-01-01", t1="2020-06-30", dt="P1M", aggregation="mean",
            chunk_size=(2, 30, 40))


def _payload(codec: str, rng) -> tuple:
    h, w = int(rng.randint(4, 24)), int(rng.randint(4, 24))
    px = (rng.rand(h, w, 3) * 255).astype(np.uint8)
    if codec == "png":
        return codecs.encode_png(px), "png"
    if codec == "losy":
        return codecs.encode_lossy(px), "jpeg"
    planes = np.moveaxis(px, -1, 0).astype(np.float64) / 7.0
    planes[rng.rand(*planes.shape) < 0.2] = np.nan  # nodata pixels
    return gtiff_bytes(planes, 1.0, 1.0, 0.0, float(h), "EPSG:4326", "t"), "tif"


def _images(codec: str, n: int = 160, seed: int = 3) -> pd.DataFrame:
    rng = np.random.RandomState(seed)
    codecs_ = ["png", "losy", "gtiff"] if codec == "mixed" else [codec]
    rows = []
    for i in range(n):
        data, fmt = _payload(codecs_[i % len(codecs_)], rng)
        left, bottom = -22.0 + rng.rand() * 40.0, -17.0 + rng.rand() * 30.0
        rows.append(dict(
            image_id=f"{i:05d}", ts=dt.datetime(2020, 1, 1) + dt.timedelta(
                hours=int(rng.randint(0, 24 * 180))),
            left=left, right=left + 0.5 + rng.rand() * 3.0,
            bottom=bottom, top=bottom + 0.5 + rng.rand() * 3.0,
            bytes=data, fmt=fmt))
    return pd.DataFrame(rows)


def _mask_files(pdf: pd.DataFrame) -> pd.DataFrame:
    """Every third image without a mask file, the others one of their own
    size."""
    rng = np.random.RandomState(11)
    m_bytes = [None if i % 3 == 0 else codecs.encode_png(
        rng.randint(0, 10, (int(rng.randint(2, 9)), int(rng.randint(2, 9)), 1)
                    ).astype(np.uint8)) for i in range(len(pdf))]
    return pdf.assign(m_bytes=m_bytes, m_fmt=["png"] * len(pdf))


def _batch(pdf: pd.DataFrame) -> pa.RecordBatch:
    """The batch Spark hands the scan: ``ts`` as instants in the UTC session
    zone."""
    b = pa.RecordBatch.from_pandas(pdf, preserve_index=False)
    i = b.schema.get_field_index("ts")
    cols = list(b.columns)
    cols[i] = cols[i].cast(pa.timestamp("us", tz="UTC"))
    return pa.RecordBatch.from_arrays(cols, names=b.schema.names)


def _f64(base):
    def fn(data, fmt):
        return np.asarray(base(data, fmt), dtype=np.float64)
    return fn


CONFIGS = {
    "near": ("near", None),
    "bilinear": ("bilinear", None),
    "average": ("average", None),
    "band_mask": ("near", lambda dec: BandMask(channel=2, vmin=0.0, vmax=90.0)),
    "file_mask": ("near", lambda dec: FileMask(values=[2, 5, 7], decode_fn=dec)),
}


def _scan(pdf, resampling, mask, decode_fn):
    v = CubeView.create(resampling=resampling, **VIEW)
    return _scan_batch(v, _batch(pdf), srs.normalize(v.srs), True, decode_fn, None,
                       mask, False, BANDS, ChunkGrid(v).slot_bounds())


def _dense_mean(rows: pa.RecordBatch, v) -> np.ndarray:
    """The per-cell mean of scan rows as a dense (nb, nt, ny, nx) array."""
    acc = np.zeros((len(BANDS), v.nt, v.ny, v.nx))
    cnt = np.zeros_like(acc)
    it, iy, ix = (rows.column(c).to_numpy() for c in ("it", "iy", "ix"))
    for b, name in enumerate(BANDS):
        val = rows.column(f"v_{name}").to_numpy(zero_copy_only=False)  # NULL -> NaN
        ok = ~np.isnan(val)
        np.add.at(acc[b], (it[ok], iy[ok], ix[ok]), val[ok])
        np.add.at(cnt[b], (it[ok], iy[ok], ix[ok]), 1.0)
    with np.errstate(invalid="ignore", divide="ignore"):
        return np.where(cnt > 0, acc / cnt, np.nan)


@pytest.mark.parametrize("config", sorted(CONFIGS))
@pytest.mark.parametrize("codec", ["png", "losy", "gtiff", "mixed"])
def test_native_dtype_equals_float64_planes(codec, config):
    resampling, make_mask = CONFIGS[config]
    pdf = _images(codec)
    if config == "file_mask":
        pdf = _mask_files(pdf)
    native = _scan(pdf, resampling, make_mask and make_mask(None), default_decode)
    f64 = _f64(default_decode)
    wide = _scan(pdf, resampling, make_mask and make_mask(f64), f64)
    assert native.num_rows > 100
    assert native.equals(wide)
    if codec in ("gtiff", "mixed"):  # nodata pixels reach the output as NULL
        assert native.column("v_B1").null_count > 0
    # and both are the numpy oracle's cells (which gathers from whole planes)
    mtab = None
    if config == "file_mask":
        has = pdf["m_bytes"].notna()
        mtab = pd.DataFrame({"image_id": pdf["image_id"][has],
                             "bytes": pdf["m_bytes"][has], "fmt": pdf["m_fmt"][has]})
    v = CubeView.create(resampling=resampling, **VIEW)
    want = dense_cube(pdf, v, resampling=resampling, decode=default_decode,
                      mask=make_mask and make_mask(None), mask_table=mtab)
    assert_dense_equal(_dense_mean(native, v), want)


def _truncated(pdf: pd.DataFrame) -> pd.DataFrame:
    """Every payload cut inside its IDAT stream (IEND and the CRC go)."""
    return pdf.assign(bytes=[d[:len(d) - 20] for d in pdf["bytes"]])


def test_truncated_png_raises_in_kernel():
    pdf = _truncated(_images("png", n=12))
    with pytest.raises(Exception, match="truncated|incomplete|corrupt"):
        _scan(pdf, "near", None, default_decode)


def test_truncated_png_raises_from_the_scan(spark):
    pdf = _truncated(_images("png", n=12))
    v = CubeView.create(resampling="near", **VIEW)
    with pytest.raises(Exception, match="truncated|incomplete|corrupt"):
        build_cube(spark.createDataFrame(pdf), v, bands=BANDS).df.collect()


# ------------------------------------------------------------ the hand-off

def test_session_zone_wall_time(spark):
    """A P1D cube under a non-UTC session zone slots each image by its wall
    time in that zone, as the oracle does with the naive times; the images
    straddle midnight and the 2020-03-08 DST change (no time in its gap:
    createDataFrame cannot place one)."""
    v = CubeView.create(left=-20.0, right=20.0, bottom=-15.0, top=15.0, nx=40, ny=30,
                        t0="2020-03-05", t1="2020-03-11", dt="P1D",
                        aggregation="mean", resampling="near", chunk_size=(3, 16, 16))
    pdf = _images("png", n=200, seed=5)
    rng = np.random.RandomState(9)
    ts = [dt.datetime(2020, 3, 5) + dt.timedelta(days=int(d), hours=int(h), minutes=int(m))
          for d, h, m in zip(rng.randint(-1, 8, len(pdf)),
                             rng.choice([0, 1, 3, 22, 23], len(pdf)),
                             rng.randint(0, 60, len(pdf)))]
    pdf = pdf.assign(ts=ts)
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        got = build_cube(spark.createDataFrame(pdf), v, bands=BANDS).collect_dense()
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    want = dense_cube(pdf, v, decode=default_decode)
    assert_dense_equal(got, want)
    assert (~np.isnan(got)).sum(axis=(0, 2, 3)).min() > 0  # every day has cells


def test_nan_values_leave_as_null(spark):
    """value_fn NaN in one band: the scan hands the JVM NULL, so the cube
    has NULL cells and no NaN."""
    v = CubeView.create(resampling="near", **VIEW)
    pdf = _images("png", n=200).drop(columns=["bytes", "fmt"])

    def value_fn(image_id):
        k = int(image_id)
        return (float("nan") if k % 2 else float(k % 97),
                float("nan") if k % 3 == 0 else float(k % 89))

    df = build_cube(spark.createDataFrame(pdf), v, bands=BANDS, value_fn=value_fn).df
    counts = df.selectExpr("count(*) AS n", "count_if(isnan(B1) OR isnan(B2)) AS nan",
                           "count_if(B1 IS NULL) AS null1",
                           "count_if(B2 IS NULL) AS null2").first()
    assert counts["n"] > 0 and counts["nan"] == 0
    assert counts["null1"] > 0 and counts["null2"] > 0
