"""Image-collection column operators: binary image payloads with typed
metadata, processed by Arrow-batched pandas UDFs over mapInPandas.

Decode/resize/stats are REAL (from-spec numpy PNG/JPEG/JP2 codecs in
..codecs / ..sources.jpegbase). Production swap policy: on a real cluster
these pure-python codecs are replaced by libjpeg-turbo/libpng bindings
behind the same UDF signatures — the Spark-side plumbing (schema, Arrow
batch iteration, partitioning) is the part this repo pins with tests.
Unknown containers refuse with ValueError, never garbage pixels.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .. import codecs

IMG_STATS_SCHEMA = (
    "image_id string, w int, h int, channels int, "
    "mean_b1 double, mean_b2 double, std_b1 double, std_b2 double, phash long"
)


def image_stats(images: DataFrame) -> DataFrame:
    """Decode + per-channel stats, batched via mapInPandas (Arrow transfer)."""
    from ..synth import phash64

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = {k: [] for k in
                    ("image_id", "w", "h", "channels", "mean_b1", "mean_b2",
                     "std_b1", "std_b2", "phash")}
            for _, r in b.iterrows():
                img = codecs.decode(r["bytes"], r["fmt"]).astype(np.float64)
                rows["image_id"].append(r["image_id"])
                rows["h"].append(img.shape[0])
                rows["w"].append(img.shape[1])
                rows["channels"].append(img.shape[2])
                rows["mean_b1"].append(float(img[:, :, 0].mean()))
                rows["mean_b2"].append(float(img[:, :, 1].mean()) if img.shape[2] > 1 else None)
                rows["std_b1"].append(float(img[:, :, 0].std()))
                rows["std_b2"].append(float(img[:, :, 1].std()) if img.shape[2] > 1 else None)
                rows["phash"].append(phash64(img.astype(np.uint8)))
            yield pd.DataFrame(rows)

    return images.select("image_id", "bytes", "fmt").mapInPandas(run, IMG_STATS_SCHEMA)


def resize_nearest(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Deterministic nearest-neighbor resize (the thumbnail kernel)."""
    h, w = img.shape[:2]
    ys = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    xs = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return img[np.ix_(ys, xs)]


def decimate_center(img: np.ndarray, level: int) -> np.ndarray:
    """Level-L decimation that picks each LxL block's CENTER sample
    (index j*L + L//2) — exactly the pixel a near-resample at an aligned
    L-times-coarser grid would gather, so near-warping FROM this overview
    is bit-identical to near-warping from the full image at aligned
    factors (the overview-selection contract of src/warp.cpp:104-157)."""
    h, w = img.shape[:2]
    ys = (np.arange(h // level) * level + level // 2).clip(0, h - 1)
    xs = (np.arange(w // level) * level + level // 2).clip(0, w - 1)
    return img[np.ix_(ys, xs)]


def thumbnails(images: DataFrame, size: int = 16) -> DataFrame:
    """Decode → resize → re-encode PNG; returns (image_id, thumb binary)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids, thumbs = [], []
            for _, r in b.iterrows():
                img = codecs.decode(r["bytes"], r["fmt"])
                ids.append(r["image_id"])
                thumbs.append(codecs.encode_png(resize_nearest(img, size, size)))
            yield pd.DataFrame({"image_id": ids, "thumb": thumbs})

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        run, "image_id string, thumb binary"
    )


def write_png_collection(cube, out_dir: str, bands=None, zlim=None,
                         na: int | None = None, gamma: float = 1.0,
                         na_color=None, na_transparent: bool = False) -> list:
    """PNG collection export — full write_png_collection parity
    (src/cube.cpp:440-663): one 8-bit PNG per time slice. Per-band
    ``zlim`` ((lo, hi) or [(lo, hi)] per band; reference default 0..255),
    scaled v01 = (v-lo)/(hi-lo) then round(pow(v01, gamma)*255) clamped
    (the reference's gamma curve, :628-629); NaN handling mirrors
    :615-622 — ``na_transparent`` adds an alpha channel (0 at NaN, 255
    elsewhere), else ``na_color`` is written RAW (not scaled/gamma'd; a
    3-value na_color with one band replicates it to RGB, the
    grayscale_as_rgb path :482-492), else 0. Band selection defaults:
    3-band cube -> RGB, otherwise first band grayscale (:451-467).
    Returns the written paths."""
    import os

    v = cube.view
    if bands is None:
        bands = list(cube.bands) if len(cube.bands) == 3 else [cube.bands[0]]
    bands = list(bands)
    if len(bands) not in (1, 3):
        raise ValueError("PNG export needs 1 (gray) or 3 (RGB) bands")
    if na is not None and na_color is None:  # pre-r5 kwarg compatibility
        na_color = [int(na)]
    if na_transparent:
        na_color = None
    if na_color is not None:
        na_color = [int(c) for c in np.atleast_1d(na_color)]
        if len(na_color) not in (1, 3):
            raise ValueError("na_color needs 1 (gray) or 3 (RGB) values")
        if len(na_color) == 3 and len(bands) == 1:
            bands = bands * 3                 # grayscale_as_rgb (:482-492)
        elif len(na_color) == 1 and len(bands) == 3:
            na_color = na_color * 3
    idx = [list(cube.bands).index(b) for b in bands]
    dense = cube.collect_dense()[idx]  # (nb, nt, ny, nx)
    if zlim is None:
        finite = dense[np.isfinite(dense)]
        zlim = (float(finite.min()), float(finite.max())) if finite.size else (0.0, 255.0)
    zl = np.atleast_2d(np.asarray(zlim, dtype=np.float64))
    if zl.shape[0] == 1 and len(bands) > 1:
        zl = np.repeat(zl, len(bands), axis=0)
    if zl.shape != (len(bands), 2):
        raise ValueError("zlim must be (lo, hi) or one (lo, hi) per band")
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for it in range(v.nt):
        sl = dense[:, it]                                  # (nb, ny, nx)
        chans = []
        nanmask = ~np.isfinite(sl)
        for ib in range(len(bands)):
            lo, hi = zl[ib]
            span = hi - lo if hi > lo else 1.0
            with np.errstate(invalid="ignore"):
                v01 = (sl[ib] - lo) / span
                q = np.clip(np.round(np.power(np.clip(v01, 0.0, None),
                                              gamma) * 255.0), 0, 255)
            fillv = (na_color[ib] if na_color is not None else 0)
            chans.append(np.where(nanmask[ib], float(fillv), q))
        img = np.stack(chans, axis=-1)
        if na_transparent:
            # gray+alpha (PNG color type 4) or RGBA (type 6)
            alpha = np.where(nanmask.any(axis=0), 0.0, 255.0)
            img = np.concatenate([img, alpha[..., None]], axis=-1)
        img = img.astype(np.uint8)
        stamp = v.datetime_at(it).isoformat().replace(":", "")
        path = os.path.join(out_dir, f"cube_{it:04d}_{stamp}.png")
        with open(path, "wb") as f:
            f.write(codecs.encode_png(img))
        paths.append(path)
    return paths


def _has_nan(img) -> bool:
    """NaN pixels must REJECT integer re-encode targets — casting NaN to
    uint8/16 is platform-dependent garbage, and nanmin/nanmax would wave
    it through silently."""
    return img.dtype.kind == "f" and bool(np.isnan(img).any())


def translate_collection(images: DataFrame, to_fmt: str = "gtiff") -> DataFrame:
    """Batch re-encode of collection imagery — the image_collection_ops
    translate_gtiff / translate_cog analog (src/image_collection_ops.h:
    30-34): every payload decodes and re-encodes in ``to_fmt``, all other
    columns (footprints, timestamps, captions) pass through unchanged. A
    collection-maintenance job: one mapInPandas scan, no shuffle, runs
    incrementally over any subset (filter first) and unions back.

    to_fmt: 'gtiff' = georeferenced float64 GeoTIFF per image (pixel-exact,
    interop with any TIFF reader); 'cog' = the Cloud-Optimized flavor
    (deflate tiles + internal overviews — the translate_cog analog);
    'png' = lossless uint8 (values must fit uint8 — raises otherwise);
    'lossy' = the quantizing stub codec; 'jpeg' = REAL baseline JPEG
    (ITU-T T.81/JFIF, sources/jpegbase.py, uint8 range, default quality
    keeps PSNR >= 40 dB); 'jp2' = lossless reversible-5/3
    JPEG 2000 (uint16 range — the Sentinel-2 band-file shape);
    'jp2-lossy' = irreversible 9/7 at qstep 4. Translated payloads decode
    transparently via codecs.decode, so a translated collection feeds
    build_cube unchanged."""
    if to_fmt not in ("gtiff", "cog", "png", "lossy", "jpeg",
                      "jpeg-progressive", "jp2", "jp2-lossy"):
        raise ValueError(f"unsupported target format {to_fmt!r}")
    cols = images.columns
    for need in ("bytes", "fmt", "left", "right", "top", "bottom", "w", "h"):
        if need not in cols:
            raise ValueError(f"translate_collection needs column {need!r}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..sources.geotiff import cog_bytes, gtiff_bytes

        for b in batches:
            out_bytes = []
            for _, r in b.iterrows():
                img = codecs.decode(r["bytes"], r["fmt"])  # (h, w, c)
                if to_fmt in ("gtiff", "cog"):
                    planes = np.moveaxis(img.astype(np.float64), -1, 0)
                    dx = (r["right"] - r["left"]) / img.shape[1]
                    dy = (r["top"] - r["bottom"]) / img.shape[0]
                    enc = gtiff_bytes if to_fmt == "gtiff" else (
                        lambda *a: cog_bytes(*a, tile=64, levels=(2,))
                    )
                    payload = enc(
                        planes, dx, dy, r["left"], r["top"], "EPSG:4326",
                        '{"translated":true}',
                    )
                elif to_fmt == "png":
                    if _has_nan(img) or np.nanmin(img) < 0 or np.nanmax(img) > 255:
                        raise ValueError("png target needs uint8-range values")
                    payload = codecs.encode_png(np.asarray(img, dtype=np.uint8))
                elif to_fmt in ("jp2", "jp2-lossy"):
                    from ..sources.jpeg2000 import encode_jp2

                    if _has_nan(img) or np.nanmin(img) < 0 or np.nanmax(img) > 65535:
                        raise ValueError("jp2 target needs uint16-range values")
                    a16 = np.asarray(img, dtype=np.uint16)
                    if a16.shape[-1] == 1:
                        a16 = a16[:, :, 0]
                    if to_fmt == "jp2":
                        payload = encode_jp2(a16, levels=3)
                    else:
                        payload = encode_jp2(a16, levels=3, transform="9/7",
                                             qstep=4.0)
                elif to_fmt in ("jpeg", "jpeg-progressive"):
                    if _has_nan(img) or np.nanmin(img) < 0 or np.nanmax(img) > 255:
                        raise ValueError("jpeg target needs uint8-range values")
                    payload = codecs.encode_jpeg(
                        np.asarray(img, dtype=np.uint8),
                        progressive=to_fmt == "jpeg-progressive")
                else:
                    payload = codecs.encode_lossy(np.asarray(img, dtype=np.uint8))
                out_bytes.append(payload)
            yield b.assign(bytes=out_bytes, fmt=to_fmt)

    return images.mapInPandas(run, images.schema)


def exif_metadata(images: DataFrame) -> DataFrame:
    """Extract EXIF tags from .jpg payloads — the metadata-normalization
    step of a web-scale image ETL (camera orientation decides whether a
    decode needs rotating; capture time beats crawl time for dedup).
    One mapInPandas pass, bytes-local, no shuffle; rows without EXIF (or
    non-JPEG payloads) yield NULLs. See sources/jpegbase.exif_dict (a
    both-endian TIFF-IFD parse per the Exif 2.x spec)."""
    from ..sources.jpegbase import exif_dict

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for _, r in b.iterrows():
                d = exif_dict(bytes(r["bytes"])) or {}
                rows.append({
                    "image_id": r["image_id"],
                    "orientation": d.get("orientation"),
                    "make": d.get("make"),
                    "model": d.get("model"),
                    "datetime": d.get("datetime") or d.get("datetime_original"),
                })
            yield pd.DataFrame(rows)

    return images.select("image_id", "bytes").mapInPandas(
        run,
        "image_id string, orientation int, make string, model string, "
        "datetime string",
    )


def normalize_orientation(images: DataFrame) -> DataFrame:
    """Re-encode any EXIF-rotated .jpg payload upright (orientation 1) —
    decode, apply the orientation transform, re-encode, swap w/h when the
    transform transposes. Non-JPEG and orientation-1 rows pass through
    untouched bytes."""
    from ..sources import jpegbase as jb

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out_bytes, out_w, out_h = [], [], []
            for _, r in b.iterrows():
                data = bytes(r["bytes"])
                d = jb.exif_dict(data) or {}
                o = int(d.get("orientation") or 1)
                if o <= 1:
                    out_bytes.append(data)
                    out_w.append(r["w"])
                    out_h.append(r["h"])
                    continue
                try:
                    img = jb.apply_orientation(jb.decode_jpeg(data), o)
                except (ValueError, NotImplementedError):
                    # truncated payload or an unsupported SOF: pass the
                    # original bytes through untouched rather than killing
                    # the whole mapInPandas batch for one bad row
                    out_bytes.append(data)
                    out_w.append(r["w"])
                    out_h.append(r["h"])
                    continue
                # carry the other EXIF fields through (capture time etc.
                # are exactly what downstream dedup wants to keep)
                keep = {k: v for k, v in d.items()
                        if k in ("make", "model", "datetime")}
                out_bytes.append(
                    jb.encode_jpeg(img, exif={**keep, "orientation": 1}))
                out_h.append(img.shape[0])
                out_w.append(img.shape[1])
            yield b.assign(bytes=out_bytes, w=out_w, h=out_h)

    return images.mapInPandas(run, images.schema)


def create_overviews(images: DataFrame, levels=(2, 4, 8), mode: str = "decimate") -> DataFrame:
    """image_collection_ops::create_overviews analog (src/image_collection_ops.h:
    30-34): batch maintenance job producing a resolution pyramid per image —
    (image_id, level, w, h, bytes). mapInPandas over image rows; the
    reference's warp.cpp:104-157 overview-selection pushdown reads these
    instead of the full-res image when the target grid is coarse (here:
    push_down_overviews). mode='decimate' picks block-center samples
    (near-warp from the overview is bit-identical at aligned factors);
    mode='nearest' is the legacy top-left resize."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids, lvls, ws, hs, data = [], [], [], [], []
            for _, r in b.iterrows():
                img = codecs.decode(r["bytes"], r["fmt"])
                for lv in levels:
                    if mode == "decimate":
                        if img.shape[0] % lv or img.shape[1] % lv:
                            continue  # only exact pyramids keep the contract
                        small = decimate_center(img, lv)
                    else:
                        oh = max(1, img.shape[0] // lv)
                        ow = max(1, img.shape[1] // lv)
                        small = resize_nearest(img, oh, ow)
                    ids.append(r["image_id"])
                    lvls.append(lv)
                    hs.append(small.shape[0])
                    ws.append(small.shape[1])
                    data.append(codecs.encode_png(small))
            yield pd.DataFrame(
                {"image_id": ids, "level": lvls, "w": ws, "h": hs, "bytes": data}
            )

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        run, "image_id string, level int, w int, h int, bytes binary"
    )


def push_down_overviews(
    images: DataFrame, overviews: DataFrame, view, uniform_fast_path: bool = True
) -> DataFrame:
    """Overview/resolution pushdown (src/warp.cpp:104-157): when the view's
    cell size covers >= L image pixels, decode the level-L overview bytes
    instead of full resolution — for a 4x-coarser view that is 1/16th of
    the decode I/O, the single biggest wasted-I/O item at 100 TB.

    Per image, the COARSEST overview whose pixel size still does not exceed
    the view cell size in either axis replaces (bytes, w, h, fmt); images
    with no eligible overview pass through untouched. One equi-join keyed
    by image_id (bucket both tables by image_id at scale to make it
    co-located); footprints/timestamps are unchanged so every downstream
    join and kernel works as-is.

    Exactness: when the view grid ALIGNS with overview pixels (cell size an
    integer multiple of the overview pixel size and grids offset-aligned),
    near-resampled output is BIT-IDENTICAL to the full-res build (decimate
    overviews store block-center samples — exactly near's pick). Otherwise
    values are true source pixels from within the covering block (<= L/2
    pixels off the exact near pick) — the standard GDAL overview-warp
    approximation.

    SRS guard (r2 ADVICE): eligibility compares image pixel sizes derived
    from 4326-degree footprints against view.dx/dy, so it is only sound
    when the view is itself in EPSG:4326. For any other view SRS (UTM
    meters vs degrees: every level would look eligible and the build would
    silently warp from over-coarse overviews) the collection passes
    through untouched — full-resolution decode, no resolution loss."""
    from pyspark.sql import functions as F

    from .. import srs as _srs

    try:
        if _srs.resolve(getattr(view, "srs", "EPSG:4326"))[0] is not _srs.WGS84:
            return images
    except ValueError:
        return images

    px = (F.col("right") - F.col("left")) / F.col("w")   # full-res pixel size
    py = (F.col("top") - F.col("bottom")) / F.col("h")
    meta = images.select(
        "image_id", px.alias("_pdx"), py.alias("_pdy"),
        F.col("w").alias("_fw"), F.col("h").alias("_fh"),
    )
    elig = (
        overviews.withColumnsRenamed(
            {"w": "_ow", "h": "_oh", "bytes": "_obytes", "level": "_lvl"}
        )
        .join(meta, "image_id")
        .filter(
            # 1e-9 relative slack: footprint/width division noise must not
            # flip an exactly-matching level to ineligible (0.01*4 > 0.04
            # in float64 for 0.64-degree footprints)
            (F.col("_pdx") * F.col("_lvl") <= F.lit(float(view.dx) * (1.0 + 1e-9)))
            & (F.col("_pdy") * F.col("_lvl") <= F.lit(float(view.dy) * (1.0 + 1e-9)))
            & (F.col("_fw") % F.col("_lvl") == 0)
            & (F.col("_fh") % F.col("_lvl") == 0)
        )
    )
    best = elig.groupBy("image_id").agg(
        F.max_by(
            F.struct(
                F.col("_obytes").alias("b"), F.col("_ow").alias("w"), F.col("_oh").alias("h")
            ),
            F.col("_lvl"),
        ).alias("_best")
    )
    # UNIFORM fast path (tiled products: every image same size/resolution —
    # Sentinel-2 granules, Landsat scenes): the eligible level is one global
    # constant, so replacement is a single metadata-only join against the
    # filtered overview partition — no anti-join, and the full-res bytes
    # column is never scanned at all.
    uni = (
        images.select("w", "h", px.alias("pdx"), py.alias("pdy")).distinct().limit(3).collect()
        if uniform_fast_path else []
    )
    if len(uni) == 1:
        w0, h0, pdx0, pdy0 = uni[0]["w"], uni[0]["h"], uni[0]["pdx"], uni[0]["pdy"]
        levels = [
            r["level"]
            for r in overviews.select("level").distinct().collect()
            if pdx0 * r["level"] <= view.dx * (1 + 1e-9)
            and pdy0 * r["level"] <= view.dy * (1 + 1e-9)
            and w0 % r["level"] == 0 and h0 % r["level"] == 0
        ]
        if not levels:
            return images
        lvl = max(levels)
        other0 = [c for c in images.columns if c not in ("bytes", "w", "h", "fmt")]
        ovl = overviews.filter(F.col("level") == lvl).select(
            "image_id", F.col("bytes").alias("_b"), F.col("w").alias("_w"), F.col("h").alias("_h")
        )
        # r2 ADVICE: the inner join would silently DROP any image whose
        # level-lvl overview row is missing (failed decode, overviews job
        # lagging ingest). Metadata-only probe first — image_id columns
        # only, no bytes scanned; if every image has the row (the healthy
        # steady state), keep the pure metadata-swap fast path, else fall
        # through to the general path, which passes unmatched images
        # through via left_anti + union.
        n_missing = (
            images.select("image_id")
            .join(ovl.select("image_id"), "image_id", "left_anti")
            .limit(1)
            .count()
        )
        if n_missing == 0:
            return (
                images.drop("bytes", "w", "h", "fmt")
                .join(ovl, "image_id")
                .select(
                    *other0,
                    F.col("_b").alias("bytes"), F.col("_w").alias("w"),
                    F.col("_h").alias("h"), F.lit("png").alias("fmt"),
                )
            )

    # Two branches so the REPLACED branch never touches full-res bytes:
    # its scan of `images` prunes the bytes column entirely (parquet/
    # Iceberg column pruning — the actual storage-I/O win), and the join
    # moves only the small overview payloads. A single left-join +
    # conditional swap would instead drag every full-res payload through
    # the exchange.
    other = [c for c in images.columns if c not in ("bytes", "w", "h", "fmt")]
    replaced = (
        images.drop("bytes", "w", "h", "fmt")
        .join(best, "image_id")
        .select(
            *other,
            F.col("_best.b").alias("bytes"),
            F.col("_best.w").alias("w"),
            F.col("_best.h").alias("h"),
            F.lit("png").alias("fmt"),
        )
    )
    kept = images.join(best.select("image_id"), "image_id", "left_anti")
    return kept.select(*other, "bytes", "w", "h", "fmt").unionByName(replaced)
