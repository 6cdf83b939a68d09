"""Image-collection column operators (functions/image.py): decode stats
and perceptual hashes, overviews and their pushdown into a cube build, and
format translation.

The module name is historical: it once also held the text, dedup and
embedding operators, which left the package. The image tests keep it so
that their ids stay stable."""

import numpy as np
from pyspark.sql import functions as F

from gdalcubes_cpp_spark.functions import image

def test_image_stats_and_thumbnails(spark):
    from gdalcubes_cpp_spark import codecs, synth

    imgs = synth.images_df(spark, 20)
    stats = image.image_stats(imgs).toPandas().sort_values("image_id").reset_index(drop=True)
    pdf = synth.images_pdf(20).sort_values("image_id").reset_index(drop=True)
    # phash recomputes on DECODED pixels: exact for png, near for lossy
    png = pdf["fmt"] == "png"
    assert (stats.loc[png, "phash"].values == pdf.loc[png, "phash"].values).all()
    assert (stats["w"].values == pdf["w"].values).all()
    th = image.thumbnails(imgs, size=8).toPandas()
    arr = codecs.decode_png(bytes(th["thumb"].iloc[0]))
    assert arr.shape == (8, 8, 2)


def test_create_overviews(spark):
    from gdalcubes_cpp_spark import codecs, synth

    imgs = synth.images_df(spark, 6)
    ov = image.create_overviews(imgs, levels=(2, 4)).toPandas()
    assert len(ov) == 12
    pdf = synth.images_pdf(6).set_index("image_id")
    for _, r in ov.iterrows():
        full = codecs.decode(pdf.loc[r["image_id"], "bytes"], pdf.loc[r["image_id"], "fmt"])
        small = codecs.decode_png(bytes(r["bytes"]))
        lv = r["level"]
        assert small.shape[0] == full.shape[0] // lv
        assert (r["w"], r["h"]) == (small.shape[1], small.shape[0])
        # decimate mode picks each block's CENTER sample (exact gather)
        assert small[0, 0, 0] == full[lv // 2, lv // 2, 0]


def test_overview_pushdown_bit_identical(spark):
    """push_down_overviews (src/warp.cpp:104-157 analog): a 4x-coarser view
    built from level-4 overview bytes is BIT-IDENTICAL to the full-res
    build under near resampling at aligned factors, while decoding ~1/16th
    of the bytes."""
    from gdalcubes_cpp_spark import synth
    from gdalcubes_cpp_spark.operators.build import build_cube
    from gdalcubes_cpp_spark.view import CubeView

    pdf = synth.images_pdf(150)
    # keep only 64-px images (pixel 0.01 deg): at view.dx = 0.04 they pick
    # level 4 whose overview pixel EQUALS the cell — aligned factors. Other
    # sizes give non-dividing overview pixels where near picks are
    # approximate (documented GDAL-style overview semantics).
    pdf = pdf[(pdf["w"] == 64) & (pdf["h"] == 64)].reset_index(drop=True)
    assert len(pdf) >= 4
    # footprints on the 0.32-deg grid: every image spans 0.64 deg
    pdf["left"] = np.round(-12.0 + (np.arange(len(pdf)) % 8) * 0.32, 2)
    pdf["right"] = pdf["left"] + 0.64
    pdf["bottom"] = np.round(18.0 + (np.arange(len(pdf)) % 6) * 0.32, 2)
    pdf["top"] = pdf["bottom"] + 0.64
    imgs = spark.createDataFrame(pdf).cache()
    ov = image.create_overviews(imgs, levels=(2, 4)).cache()

    # phase the view so every cell center lands in the MIDDLE of a level-4
    # block on both axes: (view_left - img_left)/pdx ≡ 0.5 and
    # (img_top - view_top)/pdx ≡ 0.5 (mod 4) — near's pick then equals the
    # stored block-center sample and sits mid-pixel (float-robust)
    v = CubeView.create(
        left=-11.995, right=-8.995, bottom=18.035, top=21.035, nx=75, ny=75,
        t0="2020-01-01", t1="2020-12-31", dt="P2M",
        aggregation="mean", resampling="near", chunk_size=(3, 25, 25),
    )
    full = build_cube(imgs, v).collect_dense()
    pushed_imgs = image.push_down_overviews(imgs, ov, v).cache()
    pushed = build_cube(pushed_imgs, v).collect_dense()
    assert (np.isnan(full) == np.isnan(pushed)).all()
    m = np.isfinite(full)
    assert m.any() and (full[m] == pushed[m]).all()

    # the general (mixed-size) branch produces the identical table
    gen = image.push_down_overviews(imgs, ov, v, uniform_fast_path=False)
    pushed2 = build_cube(gen, v).collect_dense()
    assert (np.isnan(full) == np.isnan(pushed2)).all()
    assert (full[m] == pushed2[m]).all()

    # decoded-bytes economy: pushed payloads are much smaller
    orig_bytes = imgs.select(F.sum(F.length("bytes"))).collect()[0][0]
    push_bytes = pushed_imgs.select(F.sum(F.length("bytes"))).collect()[0][0]
    assert push_bytes < orig_bytes / 3

    # level selection: every image got SOME overview (all sizes divisible)
    n_replaced = pushed_imgs.filter(F.col("fmt") == "png").count()
    assert n_replaced == len(pdf)


def test_overview_pushdown_missing_row_passthrough(spark):
    """r2 ADVICE: the uniform fast path must NOT silently drop an image
    whose overview row is missing (failed decode / overviews job lagging
    ingest) — such images pass through at full resolution."""
    from gdalcubes_cpp_spark import synth
    from gdalcubes_cpp_spark.view import CubeView

    pdf = synth.images_pdf(80)
    pdf = pdf[(pdf["w"] == 64) & (pdf["h"] == 64)].reset_index(drop=True)
    imgs = spark.createDataFrame(pdf).cache()
    ov = image.create_overviews(imgs, levels=(2, 4))
    # drop the overview rows of 2 images entirely (lagging overviews job)
    victims = [r["image_id"] for r in imgs.limit(2).collect()]
    ov_partial = ov.filter(~F.col("image_id").isin(victims)).cache()

    v = CubeView.create(
        left=-12.0, right=-8.0, bottom=18.0, top=22.0, nx=100, ny=100,
        t0="2020-01-01", t1="2020-12-31", dt="P2M",
        aggregation="mean", resampling="near", chunk_size=(3, 50, 50),
    )
    for fast in (True, False):
        pushed = image.push_down_overviews(imgs, ov_partial, v, uniform_fast_path=fast)
        assert pushed.count() == imgs.count(), f"fast={fast}: images dropped"
        kept = pushed.filter(F.col("image_id").isin(victims))
        rows = {r["image_id"]: r for r in kept.collect()}
        assert set(rows) == set(victims)
        for r in rows.values():  # untouched full-res payload
            assert r["w"] == 64 and r["h"] == 64


def test_overview_pushdown_non_4326_view_untouched(spark):
    """r2 ADVICE: eligibility compares 4326-degree pixel sizes against the
    view cell size, which is only meaningful for a 4326 view. A UTM-meters
    view (where every level would bogusly look eligible) must pass the
    collection through untouched."""
    from gdalcubes_cpp_spark import synth
    from gdalcubes_cpp_spark.view import CubeView

    pdf = synth.images_pdf(40)
    pdf = pdf[(pdf["w"] == 64) & (pdf["h"] == 64)].reset_index(drop=True)
    imgs = spark.createDataFrame(pdf)
    ov = image.create_overviews(imgs, levels=(2, 4))
    v_utm = CubeView.create(
        srs="EPSG:32633", left=350000.0, right=650000.0,
        bottom=5090000.0, top=5430000.0, nx=30, ny=34,
        t0="2020-01-01", nt=4, dt="P3M",
        aggregation="mean", resampling="near", chunk_size=(4, 17, 15),
    )
    pushed = image.push_down_overviews(imgs, ov, v_utm)
    got = {r["image_id"]: (r["w"], r["h"]) for r in pushed.select("image_id", "w", "h").collect()}
    want = {r["image_id"]: (r["w"], r["h"]) for r in imgs.select("image_id", "w", "h").collect()}
    assert got == want  # untouched: no over-coarse overview substitution


def test_translate_collection_roundtrip(spark):
    """image_collection_ops translate analog (src/image_collection_ops.h:
    30-34): png -> gtiff -> png re-encoding is pixel-exact, georeferencing
    embedded per image, other columns untouched, and a translated
    collection builds the SAME cube as the original."""
    from gdalcubes_cpp_spark import codecs, synth
    from gdalcubes_cpp_spark.functions.image import translate_collection
    from gdalcubes_cpp_spark.operators.build import build_cube
    from gdalcubes_cpp_spark.sources.geotiff import read_gtiff_bytes
    from gdalcubes_cpp_spark.view import CubeView

    pdf = synth.images_pdf(40)
    imgs = spark.createDataFrame(pdf).cache()
    gt = translate_collection(imgs, "gtiff").cache()
    assert gt.columns == imgs.columns
    rows = {r["image_id"]: r for r in gt.collect()}
    for _, orig in pdf.iloc[:5].iterrows():
        r = rows[orig["image_id"]]
        assert r["fmt"] == "gtiff" and r["caption"] == orig["caption"]
        parsed = read_gtiff_bytes(r["bytes"])
        raw = codecs.decode(orig["bytes"], orig["fmt"]).astype(float)
        assert np.array_equal(np.moveaxis(parsed["planes"], 0, -1), raw)
        # per-image georeferencing from the footprint
        assert parsed["tiepoint"][3] == orig["left"]
        assert parsed["tiepoint"][4] == orig["top"]
    # translated payloads decode transparently -> identical cube
    v = CubeView.create(
        left=-12.0, right=-8.0, bottom=18.0, top=22.0, nx=20, ny=20,
        t0="2020-01-01", t1="2020-12-31", dt="P3M",
        aggregation="mean", resampling="near", chunk_size=(2, 10, 10),
    )
    a = build_cube(imgs, v).collect_dense()
    b = build_cube(gt, v).collect_dense()
    assert (np.isnan(a) == np.isnan(b)).all()
    m = np.isfinite(a)
    assert m.any() and (a[m] == b[m]).all()
    # back to png: byte-identical pixels
    back = translate_collection(gt, "png")
    r0 = back.filter(F.col("image_id") == pdf.iloc[0]["image_id"]).collect()[0]
    assert np.array_equal(
        codecs.decode(r0["bytes"], "png"),
        codecs.decode(pdf.iloc[0]["bytes"], pdf.iloc[0]["fmt"]),
    )


def test_translate_collection_jp2(spark):
    """translate to 'jp2' (lossless 5/3): pixel-exact through
    codecs.decode, identical cube; 'jp2-lossy' (9/7): PSNR-gated."""
    from gdalcubes_cpp_spark import codecs, synth
    from gdalcubes_cpp_spark.functions.image import translate_collection
    from gdalcubes_cpp_spark.operators.build import build_cube
    from gdalcubes_cpp_spark.view import CubeView

    pdf = synth.images_pdf(40)
    imgs = spark.createDataFrame(pdf).cache()
    j2 = translate_collection(imgs, "jp2").cache()
    rows = {r["image_id"]: r for r in j2.collect()}
    for _, orig in pdf.iloc[:4].iterrows():
        r = rows[orig["image_id"]]
        assert r["fmt"] == "jp2"
        raw = codecs.decode(orig["bytes"], orig["fmt"])
        out = codecs.decode(r["bytes"], "jp2")
        assert (out[:, :, :raw.shape[2]].astype(int) == raw.astype(int)).all()
    v = CubeView.create(
        left=-12.0, right=-8.0, bottom=18.0, top=22.0, nx=20, ny=20,
        t0="2020-01-01", t1="2020-12-31", dt="P3M",
        aggregation="mean", resampling="near", chunk_size=(2, 10, 10),
    )
    a = build_cube(imgs, v).collect_dense()
    b = build_cube(j2, v).collect_dense()
    m = np.isfinite(a)
    assert m.any() and (a[m] == b[m]).all()
    jl = translate_collection(imgs.limit(4), "jp2-lossy")
    for r in jl.collect():
        raw = codecs.decode(
            pdf.set_index("image_id").loc[r["image_id"]]["bytes"], "png")
        out = codecs.decode(r["bytes"], "jp2")
        assert codecs.psnr(raw, out[:, :, :raw.shape[2]]) >= 35.0


def test_translate_collection_jpeg(spark):
    """translate to 'jpeg' (REAL baseline T.81): payloads re-dispatch via
    the SOI magic in codecs.decode and clear the 40 dB lossy invariant."""
    from gdalcubes_cpp_spark import codecs, synth
    from gdalcubes_cpp_spark.functions.image import translate_collection

    pdf = synth.images_pdf(12)
    imgs = spark.createDataFrame(pdf)
    out = translate_collection(imgs, "jpeg").collect()
    orig = pdf.set_index("image_id")
    assert len(out) == len(pdf)
    for r in out:
        assert r["fmt"] == "jpeg"
        assert bytes(r["bytes"][:2]) == b"\xff\xd8"
        raw = codecs.decode(orig.loc[r["image_id"]]["bytes"],
                            orig.loc[r["image_id"]]["fmt"])
        dec = codecs.decode(r["bytes"], "jpeg")
        assert dec.shape == raw.shape
        assert codecs.psnr(raw, dec) >= 40.0
    # progressive target decodes bit-identically to the sequential one
    # (same quantized coefficients) and really is an SOF2 stream
    prog = {r["image_id"]: r for r in
            translate_collection(imgs.limit(4), "jpeg-progressive").collect()}
    seq = {r["image_id"]: r for r in out}
    for iid, r in prog.items():
        assert b"\xff\xc2" in bytes(r["bytes"])
        np.testing.assert_array_equal(
            codecs.decode(r["bytes"]), codecs.decode(seq[iid]["bytes"]))

