"""Pure-python GeoTIFF export/import — the chunk-merged GTiff interop the
reference writes via GDAL (src/cube.cpp:116 write_tif_collection, doc
src/cube.h:772-805: one multiband GeoTIFF per time slice).

No GDAL/libtiff exists in this container, so both the writer and the
verifying reader are implemented here from the public specs (TIFF 6.0,
Adobe 1992; OGC GeoTIFF 1.1). Scope matches the reference's default
export (uncompressed; compression/overviews are GDAL creation options):

  - little-endian classic TIFF, one file per time slice
  - float64 samples, PlanarConfiguration=2 (band-sequential planes),
    one strip per plane, SampleFormat=IEEE float, NaN = nodata
  - georeferencing via ModelPixelScaleTag + ModelTiepointTag and a
    GeoKeyDirectory carrying the EPSG code (geographic 4326 → GTModelType
    Geographic + GeographicTypeGeoKey; any other EPSG → Projected +
    ProjectedCSTypeGeoKey), GTRasterType = PixelIsArea
  - ImageDescription holds the CubeView JSON + band names + slice index,
    so a cube round-trips through the container without sidecars

A GeoTIFF slice is a gather like the reference's (it assembles each
slice's chunks in one process, src/cube.cpp:116-210); the per-slice write
here collects one time slice at a time. For distributed exports use
Cube.write_chunks (parquet) — this module is the interop shim.
"""

from __future__ import annotations

import json
import os
import struct
import zlib

import numpy as np

# TIFF field types
T_ASCII = 2
T_SHORT = 3
T_LONG = 4
T_DOUBLE = 12
T_LONG8 = 16    # BigTIFF (TIFF spec supplement 2 / BigTIFF design): u64

_TYPE_SIZE = {T_ASCII: 1, T_SHORT: 2, T_LONG: 4, T_DOUBLE: 8, T_LONG8: 8}
_TYPE_FMT = {T_SHORT: "<H", T_LONG: "<I", T_DOUBLE: "<d", T_LONG8: "<Q"}

# tags
TAG_SUBFILE_TYPE = 254
TAG_WIDTH = 256
TAG_LENGTH = 257
TAG_BITS = 258
TAG_COMPRESSION = 259
TAG_PHOTOMETRIC = 262
TAG_DESCRIPTION = 270
TAG_STRIP_OFFSETS = 273
TAG_SPP = 277
TAG_ROWS_PER_STRIP = 278
TAG_STRIP_COUNTS = 279
TAG_PLANAR = 284
TAG_TILE_WIDTH = 322
TAG_TILE_LENGTH = 323
TAG_TILE_OFFSETS = 324
TAG_TILE_COUNTS = 325
TAG_PREDICTOR = 317
TAG_SUB_IFDS = 330
TAG_SAMPLE_FORMAT = 339

# (sample_format, bits) -> numpy dtype for EXTERNAL files (our writer emits
# float64 only; real GDAL rasters are mostly integer)
_SF_DTYPE = {
    (1, 8): "<u1", (1, 16): "<u2", (1, 32): "<u4",
    (2, 8): "<i1", (2, 16): "<i2", (2, 32): "<i4",
    (3, 32): "<f4", (3, 64): "<f8",
}
TAG_MODEL_PIXEL_SCALE = 33550
TAG_MODEL_TIEPOINT = 33922
TAG_GEO_KEYS = 34735

# GeoKey ids
GK_MODEL_TYPE = 1024      # 1 = projected, 2 = geographic
GK_RASTER_TYPE = 1025     # 1 = PixelIsArea
GK_GEOGRAPHIC_TYPE = 2048
GK_PROJECTED_CS_TYPE = 3072


def _pack_values(ftype: int, values) -> bytes:
    if ftype == T_ASCII:
        b = values.encode() if isinstance(values, str) else bytes(values)
        return b + b"\x00"
    return b"".join(struct.pack(_TYPE_FMT[ftype], v) for v in values)


def _build_ifd(entries: list, data_start: int,
               big: bool = False) -> tuple[bytes, bytes]:
    """entries: [(tag, ftype, values)] -> (ifd_bytes, values_area_bytes).
    ``data_start`` is the absolute file offset where the values area
    begins. ``big``: BigTIFF IFD shape — u64 entry count, 20-byte entries
    (count and value/offset words are u64, 8 inline bytes), u64 next."""
    entries = sorted(entries, key=lambda e: e[0])
    cap = 8 if big else 4
    cnt_fmt, off_fmt = ("<HHQ", "<Q") if big else ("<HHI", "<I")
    values_area = b""
    packed = []
    for tag, ftype, values in entries:
        raw = _pack_values(ftype, values)
        count = len(raw) if ftype == T_ASCII else len(values)
        if len(raw) <= cap:
            inline = raw + b"\x00" * (cap - len(raw))
            packed.append(struct.pack(cnt_fmt, tag, ftype, count) + inline)
        else:
            off = data_start + len(values_area)
            packed.append(struct.pack(cnt_fmt, tag, ftype, count)
                          + struct.pack(off_fmt, off))
            values_area += raw + (b"\x00" if len(raw) % 2 else b"")
    head = struct.pack("<Q", len(packed)) if big else struct.pack("<H", len(packed))
    ifd = head + b"".join(packed) + struct.pack(off_fmt, 0)
    return ifd, values_area


def _ifd_struct_size(n_entries: int, big: bool) -> int:
    return (8 + 20 * n_entries + 8) if big else (2 + 12 * n_entries + 4)


def _geo_keys(srs: str) -> list:
    try:
        code = int(str(srs).split(":")[1]) if str(srs).upper().startswith("EPSG:") else 32767
    except (IndexError, ValueError):
        code = 32767  # user-defined CRS (dynamic proj4-registered SRS)
    if code == 4326:
        keys = [(GK_MODEL_TYPE, 2), (GK_RASTER_TYPE, 1), (GK_GEOGRAPHIC_TYPE, 4326)]
    else:
        keys = [(GK_MODEL_TYPE, 1), (GK_RASTER_TYPE, 1), (GK_PROJECTED_CS_TYPE, code)]
    # GeoKeyDirectory: header (KeyDirectoryVersion, KeyRevision, Minor, N)
    # then per key (KeyID, TIFFTagLocation=0 -> value inline, Count=1, value)
    out = [1, 1, 0, len(keys)]
    for kid, val in sorted(keys):
        out += [kid, 0, 1, val]
    return out


def gtiff_bytes(
    planes: np.ndarray, dx: float, dy: float, left: float, top: float,
    srs: str, desc: str, bigtiff: bool = False,
) -> bytes:
    """(nb, ny, nx) float64 -> uncompressed band-sequential GeoTIFF bytes.
    ``bigtiff``: write TIFF version 43 (BigTIFF — u64 offsets, 20-byte
    IFD entries), lifting classic TIFF's 4 GiB file ceiling."""
    nb, ny, nx = planes.shape
    # layout: header(8|16) | IFD | values area | plane data
    plane_bytes = ny * nx * 8
    off_t = T_LONG8 if bigtiff else T_LONG
    entries_wo_offsets = [
        (TAG_WIDTH, T_LONG, [nx]),
        (TAG_LENGTH, T_LONG, [ny]),
        (TAG_BITS, T_SHORT, [64] * nb),
        (TAG_COMPRESSION, T_SHORT, [1]),
        (TAG_PHOTOMETRIC, T_SHORT, [1]),
        (TAG_DESCRIPTION, T_ASCII, desc),
        (TAG_SPP, T_SHORT, [nb]),
        (TAG_ROWS_PER_STRIP, T_LONG, [ny]),
        (TAG_STRIP_COUNTS, off_t, [plane_bytes] * nb),
        (TAG_PLANAR, T_SHORT, [2]),
        (TAG_SAMPLE_FORMAT, T_SHORT, [3] * nb),
        (TAG_MODEL_PIXEL_SCALE, T_DOUBLE, [dx, dy, 0.0]),
        (TAG_MODEL_TIEPOINT, T_DOUBLE, [0.0, 0.0, 0.0, left, top, 0.0]),
        (TAG_GEO_KEYS, T_SHORT, _geo_keys(srs)),
    ]
    n_entries = len(entries_wo_offsets) + 1  # + StripOffsets
    hdr_size = 16 if bigtiff else 8
    ifd_size = _ifd_struct_size(n_entries, bigtiff)
    data_start = hdr_size + ifd_size
    # two passes: strip offsets depend on the values-area size
    _, probe_values = _build_ifd(
        entries_wo_offsets + [(TAG_STRIP_OFFSETS, off_t, [0] * nb)],
        data_start, bigtiff,
    )
    pix_start = data_start + len(probe_values)
    strip_offsets = [pix_start + i * plane_bytes for i in range(nb)]
    ifd, values_area = _build_ifd(
        entries_wo_offsets + [(TAG_STRIP_OFFSETS, off_t, strip_offsets)],
        data_start, bigtiff,
    )
    assert len(values_area) == len(probe_values)
    if bigtiff:
        # BigTIFF header: version 43, offset size 8, pad 0, u64 first IFD
        hdr = b"II+\x00" + struct.pack("<HHQ", 8, 0, 16)
    else:
        hdr = b"II*\x00" + struct.pack("<I", 8)
    return (
        hdr + ifd + values_area
        + np.ascontiguousarray(planes, dtype="<f8").tobytes()
    )


def write_gtiff_slice(planes: np.ndarray, view, bands, it: int, path: str,
                      bigtiff: bool = False) -> None:
    """(nb, ny, nx) float64 -> ONE uncompressed band-sequential GeoTIFF."""
    desc = json.dumps(
        {"view": view.to_json(), "bands": list(bands), "it": it},
        separators=(",", ":"),
    )
    buf = gtiff_bytes(planes, view.dx, view.dy, view.left, view.top, view.srs,
                      desc, bigtiff=bigtiff)
    with open(path, "wb") as f:
        f.write(buf)


def write_gtiff(cube, out_dir: str, bigtiff: bool = False) -> list:
    """Cube -> one GeoTIFF per time slice (src/cube.cpp:116 analog);
    returns the written paths. Slice filenames carry the slice datetime
    like the reference's <prefix>YYYY-MM-dd... naming."""
    os.makedirs(out_dir, exist_ok=True)
    v = cube.view
    dense = cube.collect_dense()  # (nb, nt, ny, nx)
    paths = []
    for it in range(v.nt):
        stamp = v.datetime_at(it).isoformat().replace(":", "")
        path = os.path.join(out_dir, f"cube_{it:04d}_{stamp}.tif")
        write_gtiff_slice(dense[:, it], v, cube.bands, it, path, bigtiff)
        paths.append(path)
    return paths


def read_gtiff(path: str) -> dict:
    """Parse one of our GeoTIFF files from disk (see read_gtiff_bytes)."""
    with open(path, "rb") as f:
        return read_gtiff_bytes(f.read())


def read_gtiff_bytes(buf: bytes) -> dict:
    """Parse our GeoTIFF bytes (verifying reader, spec-implemented): plain
    striped files AND the tiled/deflate/multi-IFD COG flavor — one parser
    (read_cog_bytes) serves both; the plain form simply has no overviews."""
    return read_cog_bytes(buf)


def read_gtiff_cube(spark, out_dir: str):
    """GeoTIFF slice directory -> Cube (the re-read side of the roundtrip):
    rebuilds the view from the embedded JSON, parallelizes sparse cells."""
    import pandas as pd

    from ..cube import Cube
    from ..view import CubeView

    paths = sorted(
        os.path.join(out_dir, p) for p in os.listdir(out_dir) if p.endswith(".tif")
    )
    if not paths:
        raise FileNotFoundError(f"no .tif slices under {out_dir}")
    first = read_gtiff(paths[0])
    view = CubeView.from_json(first["desc"]["view"])
    bands = first["desc"]["bands"]
    frames = []
    for p in paths:
        sl = read_gtiff(p)
        it = sl["desc"]["it"]
        keep = ~np.isnan(sl["planes"]).all(axis=0)
        if not keep.any():
            continue
        yy, xx = np.nonzero(keep)
        frames.append(pd.DataFrame({
            "it": np.full(len(yy), it, dtype="int32"),
            "iy": yy.astype("int32"),
            "ix": xx.astype("int32"),
            **{b: sl["planes"][bi, yy, xx] for bi, b in enumerate(bands)},
        }))
    pdf = pd.concat(frames, ignore_index=True)
    df = spark.createDataFrame(pdf)
    from pyspark.sql import functions as F

    df = df.select(
        "it", "iy", "ix",
        *[F.when(F.isnan(b), None).otherwise(F.col(b)).alias(b) for b in bands],
    )
    return Cube(df, view, tuple(bands))


# ---------------------------------------------------------------------------
# Cloud-Optimized GeoTIFF flavor: tiled + deflate + internal overview IFDs,
# all IFDs at the file start (the COG range-request property). Closes the
# reference's write_tif "COG" creation option (src/cube.cpp:116 + GDAL COG
# driver semantics), from the public TIFF 6.0 + OGC COG spec.
# ---------------------------------------------------------------------------


def _decimate_plane(p: np.ndarray, lv: int) -> np.ndarray:
    """Block-center sample (the same nearest-overview rule as
    functions/image.decimate_center), NaN-preserving, any size."""
    off = lv // 2
    return p[off::lv, off::lv]


def _tile_plane(p: np.ndarray, tw: int, th: int) -> list:
    """Row-major tiles, edge tiles padded with NaN to (th, tw)."""
    ny, nx = p.shape
    tiles = []
    for ty in range(0, ny, th):
        for tx in range(0, nx, tw):
            t = np.full((th, tw), np.nan)
            sub = p[ty:ty + th, tx:tx + tw]
            t[: sub.shape[0], : sub.shape[1]] = sub
            tiles.append(t)
    return tiles


def cog_bytes(
    planes: np.ndarray, dx: float, dy: float, left: float, top: float,
    srs: str, desc: str, tile: int = 256, levels=(2, 4),
    bigtiff: bool = False,
) -> bytes:
    """(nb, ny, nx) float64 -> COG bytes: full-res IFD + one reduced-
    resolution IFD per overview level, deflate-compressed tiles,
    PlanarConfiguration=2 (tiles of sample 0, then sample 1, ...), every
    IFD before any tile data, overview tiles stored before full-res tiles
    (small reads first — the cloud-optimized layout)."""
    nb = planes.shape[0]
    pyramid = [(1, planes)]
    for lv in levels:
        pyramid.append((lv, np.stack([_decimate_plane(planes[b], lv) for b in range(nb)])))

    # compress all tiles up front (sizes drive the layout)
    per_level = []
    for lv, pl in pyramid:
        tiles = []
        for b in range(nb):
            for t in _tile_plane(pl[b], tile, tile):
                tiles.append(zlib.compress(np.ascontiguousarray(t, dtype="<f8").tobytes(), 6))
        per_level.append({"lv": lv, "shape": pl.shape, "tiles": tiles})

    def entries_for(i, lev, tile_offsets):
        _, ny, nx = lev["shape"]
        ent = [
            (TAG_SUBFILE_TYPE, T_LONG, [0 if i == 0 else 1]),
            (TAG_WIDTH, T_LONG, [nx]),
            (TAG_LENGTH, T_LONG, [ny]),
            (TAG_BITS, T_SHORT, [64] * nb),
            (TAG_COMPRESSION, T_SHORT, [8]),  # Adobe deflate (zlib)
            (TAG_PHOTOMETRIC, T_SHORT, [1]),
            (TAG_SPP, T_SHORT, [nb]),
            (TAG_PLANAR, T_SHORT, [2]),
            (TAG_TILE_WIDTH, T_SHORT, [tile]),
            (TAG_TILE_LENGTH, T_SHORT, [tile]),
            (TAG_TILE_OFFSETS, T_LONG8 if bigtiff else T_LONG, tile_offsets),
            (TAG_TILE_COUNTS, T_LONG, [len(t) for t in lev["tiles"]]),
            (TAG_SAMPLE_FORMAT, T_SHORT, [3] * nb),
        ]
        if i == 0:
            ent += [
                (TAG_DESCRIPTION, T_ASCII, desc),
                (TAG_MODEL_PIXEL_SCALE, T_DOUBLE, [dx, dy, 0.0]),
                (TAG_MODEL_TIEPOINT, T_DOUBLE, [0.0, 0.0, 0.0, left, top, 0.0]),
                (TAG_GEO_KEYS, T_SHORT, _geo_keys(srs)),
            ]
        return ent

    # layout pass 1 with dummy offsets: learn each IFD + values-area size
    pos = 16 if bigtiff else 8
    spans = []  # (ifd_start, values_start) per level
    for i, lev in enumerate(per_level):
        dummy = entries_for(i, lev, [0] * len(lev["tiles"]))
        ifd_size = _ifd_struct_size(len(dummy), bigtiff)
        _, values = _build_ifd(dummy, 0, bigtiff)
        spans.append((pos, pos + ifd_size, len(values)))
        pos += ifd_size + len(values)
    data_start = pos

    # tile data: overview levels first (coarsest last in pyramid order ->
    # write reversed so the smallest data sits closest to the header)
    tile_pos = data_start
    level_offsets = [None] * len(per_level)
    for i in reversed(range(len(per_level))):
        offs = []
        for t in per_level[i]["tiles"]:
            offs.append(tile_pos)
            tile_pos += len(t) + (len(t) % 2)  # word-align
        level_offsets[i] = offs

    out = bytearray()
    if bigtiff:
        out += b"II+\x00" + struct.pack("<HHQ", 8, 0, 16)
    else:
        out += b"II*\x00" + struct.pack("<I", 8)
    for i, lev in enumerate(per_level):
        ifd_start, values_start, values_len = spans[i]
        ifd, values = _build_ifd(entries_for(i, lev, level_offsets[i]),
                                 values_start, bigtiff)
        assert len(values) == values_len
        # chain: next-IFD pointer is the last offset word of the IFD block
        next_off = spans[i + 1][0] if i + 1 < len(per_level) else 0
        if bigtiff:
            ifd = ifd[:-8] + struct.pack("<Q", next_off)
        else:
            ifd = ifd[:-4] + struct.pack("<I", next_off)
        assert len(out) == ifd_start
        out += ifd + values
    # emit tile data in file order (ascending offsets)
    blobs = []
    for i, lev in enumerate(per_level):
        blobs += list(zip(level_offsets[i], lev["tiles"]))
    for off, t in sorted(blobs):
        assert len(out) <= off
        out += b"\x00" * (off - len(out)) + t
    return bytes(out)


def write_cog_slice(planes, view, bands, it, path, tile: int = 256,
                    levels=(2, 4), bigtiff: bool = False):
    desc = json.dumps(
        {"view": view.to_json(), "bands": list(bands), "it": it},
        separators=(",", ":"),
    )
    buf = cog_bytes(
        planes, view.dx, view.dy, view.left, view.top, view.srs, desc,
        tile=tile, levels=levels, bigtiff=bigtiff,
    )
    with open(path, "wb") as f:
        f.write(buf)


def write_cog(cube, out_dir: str, tile: int = 256, levels=(2, 4),
              bigtiff: bool = False) -> list:
    """Cube -> one COG per time slice (tiled + deflate + overviews)."""
    os.makedirs(out_dir, exist_ok=True)
    v = cube.view
    dense = cube.collect_dense()
    paths = []
    for it in range(v.nt):
        stamp = v.datetime_at(it).isoformat().replace(":", "")
        path = os.path.join(out_dir, f"cube_{it:04d}_{stamp}.tif")
        write_cog_slice(dense[:, it], v, cube.bands, it, path, tile, levels,
                        bigtiff=bigtiff)
        paths.append(path)
    return paths


# Full TIFF 6.0 §2 field-type table (size in bytes, struct letter or None
# for types parsed specially). Entries absent from the writer's
# _TYPE_SIZE/_TYPE_FMT still appear in external files (RATIONAL
# XResolution, BYTE GDAL tags) and must parse — or be skipped — cleanly.
_IFD_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4,
                  10: 8, 11: 4, 12: 8, 13: 4, 16: 8, 17: 8, 18: 8}
_IFD_TYPE_FMT = {1: "B", 3: "H", 4: "I", 6: "b", 7: "B", 8: "h", 9: "i",
                 11: "f", 12: "d", 13: "I", 16: "Q", 17: "q", 18: "Q"}


def _parse_ifd(buf: bytes, off: int, big: bool = False):
    if big:
        (n,) = struct.unpack_from("<Q", buf, off)
        base, stride, cap = off + 8, 20, 8
        ent_fmt, off_fmt = "<HHQ", "<Q"
    else:
        (n,) = struct.unpack_from("<H", buf, off)
        base, stride, cap = off + 2, 12, 4
        ent_fmt, off_fmt = "<HHI", "<I"
    tags = {}
    for i in range(n):
        tag, ftype, count = struct.unpack_from(ent_fmt, buf, base + stride * i)
        if ftype not in _IFD_TYPE_SIZE:
            continue  # unknown/vendor field type: skip, don't crash
        size = _IFD_TYPE_SIZE[ftype] * count
        vo = base + stride * i + (stride - cap)
        if size > cap:
            (vo,) = struct.unpack_from(off_fmt, buf, vo)
        if ftype == T_ASCII:
            tags[tag] = buf[vo:vo + count].split(b"\x00")[0].decode()
        elif ftype in (5, 10):  # (S)RATIONAL: pairs of (s)longs -> float
            fmt = "<" + ("ii" if ftype == 10 else "II") * count
            raw = struct.unpack_from(fmt, buf, vo)
            tags[tag] = [raw[2 * k] / raw[2 * k + 1] if raw[2 * k + 1] else 0.0
                         for k in range(count)]
        else:
            fmt = "<" + _IFD_TYPE_FMT[ftype] * count
            tags[tag] = list(struct.unpack_from(fmt, buf, vo))
    (next_off,) = struct.unpack_from(off_fmt, buf, base + stride * n)
    return tags, next_off


def _lzw_decode(data: bytes) -> bytes:
    """TIFF-variant LZW (TIFF 6.0 §13): MSB-first variable-width codes,
    EarlyChange (code width bumps one code EARLY relative to plain LZW),
    ClearCode=256, EOI=257 — the dominant compression in legacy GeoTIFFs
    (Landsat-era archives). Pure-python; runs inside the Arrow-batched
    decode UDF where correctness matters and per-file cost is bounded by
    tile size."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    table: list = []
    width = 9
    prev: bytes | None = None
    acc = 0
    nbits = 0

    def reset():
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        width = 9
        prev = None

    reset()
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == CLEAR:
                reset()
                continue
            if code == EOI:
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            else:  # the KwKwK case
                entry = prev + prev[:1]
                table.append(entry)
            out += entry
            prev = entry
            # EarlyChange + decoder lag: the decoder has added one FEWER
            # entry than the encoder at the moment the next code is read,
            # so it bumps when len(table) == 2^width - 2 (one earlier than
            # plain LZW's 2^width - 1)
            if len(table) + 2 >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


def _packbits_decode(data: bytes) -> bytes:
    """PackBits RLE (TIFF 6.0 §9): n in [0,127] -> copy n+1 literals;
    n in [-127,-1] -> repeat next byte 1-n times; -128 is a no-op."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        c = data[i]
        i += 1
        if c < 128:
            out += data[i:i + c + 1]
            i += c + 1
        elif c > 128:
            out += data[i:i + 1] * (257 - c)
            i += 1
        # c == 128: no-op
    return bytes(out)


def _ifd_planes(buf: bytes, tags: dict) -> np.ndarray:
    nx, ny = tags[TAG_WIDTH][0], tags[TAG_LENGTH][0]
    nb = tags.get(TAG_SPP, [1])[0]
    comp = tags.get(TAG_COMPRESSION, [1])[0]
    if comp not in (1, 5, 8, 32773):
        raise ValueError(f"unsupported compression {comp}")
    # PlanarConfiguration defaults to 1 (chunky) and may be absent in
    # minimal single-band files (TIFF 6.0 baseline default); chunky
    # multi-band (the GDAL PLANARCONFIG_CONTIG default: samples
    # interleaved per pixel) de-interleaves on read
    chunky = tags.get(TAG_PLANAR, [1])[0] != 2
    sf = tags.get(TAG_SAMPLE_FORMAT, [1] * nb)
    bits = tags[TAG_BITS]
    if len(set(sf)) != 1 or len(set(bits)) != 1:
        raise ValueError("mixed per-band sample formats are unsupported")
    key = (sf[0], bits[0])
    if key not in _SF_DTYPE:
        raise ValueError(f"unsupported sample format/bits {key}")
    dt = np.dtype(_SF_DTYPE[key])
    predictor = tags.get(TAG_PREDICTOR, [1])[0]
    if predictor not in (1, 2):
        raise ValueError(f"unsupported predictor {predictor}")
    if predictor == 2 and dt.kind == "f":
        raise ValueError("predictor=2 applies to integer samples only")

    def block(off, cnt, rows, cols, spp=1):
        raw = buf[off:off + cnt]
        if comp == 8:
            raw = zlib.decompress(raw)
        elif comp == 5:
            raw = _lzw_decode(raw)
        elif comp == 32773:
            raw = _packbits_decode(raw)
        a = np.frombuffer(raw, dtype=dt, count=rows * cols * spp)
        a = a.reshape((rows, cols, spp) if spp > 1 else (rows, cols))
        if predictor == 2:
            # horizontal differencing: each sample stores the delta to the
            # SAME channel of the left pixel; integer cumsum (wrapping)
            # over the column axis restores the row for both layouts
            a = np.cumsum(a, axis=1, dtype=dt)
        return a

    planes = np.empty((nb, ny, nx))
    if TAG_TILE_OFFSETS in tags:
        tw, th = tags[TAG_TILE_WIDTH][0], tags[TAG_TILE_LENGTH][0]
        ntx = -(-nx // tw)
        nty = -(-ny // th)
        per_plane = ntx * nty
        if chunky and nb > 1:
            # one tile grid, samples interleaved per pixel
            for i in range(per_plane):
                off = tags[TAG_TILE_OFFSETS][i]
                cnt = tags[TAG_TILE_COUNTS][i]
                t = block(off, cnt, th, tw, nb)
                ty, tx = divmod(i, ntx)
                rr, cc = min(th, ny - ty * th), min(tw, nx - tx * tw)
                planes[:, ty * th:ty * th + rr, tx * tw:tx * tw + cc] = (
                    np.moveaxis(t[:rr, :cc], -1, 0)
                )
        else:
            for b in range(nb):
                for i in range(per_plane):
                    off = tags[TAG_TILE_OFFSETS][b * per_plane + i]
                    cnt = tags[TAG_TILE_COUNTS][b * per_plane + i]
                    t = block(off, cnt, th, tw)
                    ty, tx = divmod(i, ntx)
                    planes[b, ty * th:(ty + 1) * th, tx * tw:(tx + 1) * tw] = (
                        t[: min(th, ny - ty * th), : min(tw, nx - tx * tw)]
                    )
    else:
        offs, cnts = tags[TAG_STRIP_OFFSETS], tags[TAG_STRIP_COUNTS]
        if chunky and nb > 1:
            # GDAL's default: interleaved rows in rows_per_strip strips
            rps = tags.get(TAG_ROWS_PER_STRIP, [ny])[0]
            y = 0
            for off, cnt in zip(offs, cnts):
                rows = min(rps, ny - y)
                planes[:, y:y + rows] = np.moveaxis(
                    block(off, cnt, rows, nx, nb), -1, 0)
                y += rows
        elif len(offs) == nb and not chunky:
            # our layout: one full-plane strip per band
            for b, (off, cnt) in enumerate(zip(offs, cnts)):
                planes[b] = block(off, cnt, ny, nx)
        elif nb == 1:
            # external layout: single band split into rows_per_strip strips
            rps = tags.get(TAG_ROWS_PER_STRIP, [ny])[0]
            y = 0
            for off, cnt in zip(offs, cnts):
                rows = min(rps, ny - y)
                planes[0, y:y + rows] = block(off, cnt, rows, nx)
                y += rows
        else:
            # band-sequential with multiple strips per band: strips run
            # through band 0's rows, then band 1's, ... (TIFF 6.0 §13)
            rps = tags.get(TAG_ROWS_PER_STRIP, [ny])[0]
            per_band = -(-ny // rps)
            if len(offs) != per_band * nb:
                raise ValueError("inconsistent strip count")
            for b in range(nb):
                y = 0
                for s in range(per_band):
                    off, cnt = offs[b * per_band + s], cnts[b * per_band + s]
                    rows = min(rps, ny - y)
                    planes[b, y:y + rows] = block(off, cnt, rows, nx)
                    y += rows
    return planes


def read_cog_bytes(buf: bytes) -> dict:
    """Parse a (possibly tiled/compressed/multi-IFD) file of ours: returns
    the full-res dict of read_gtiff_bytes plus ``overviews``: a list of
    {planes, level_shape} reduced-resolution IFDs."""
    big, off = _tiff_header(buf)
    ifds = []
    while off:
        tags, off = _parse_ifd(buf, off, big)
        ifds.append(tags)
    # SubIFD overviews (tag 330): GDAL's COPY_SRC_OVERVIEWS / SUBIFD
    # layout hangs reduced-resolution IFDs off the main IFD instead of
    # chaining them — append them so both layouts read identically
    for sub_off in ifds[0].get(TAG_SUB_IFDS, []):
        while sub_off:
            tags, sub_off = _parse_ifd(buf, int(sub_off), big)
            ifds.append(tags)
    main = ifds[0]
    try:
        desc = json.loads(main.get(TAG_DESCRIPTION, "null"))
    except ValueError:
        desc = main.get(TAG_DESCRIPTION)
    # geo metadata is optional: plain external TIFF payloads (no GeoKeys)
    # still decode — footprints then come from the collection table, like
    # every other payload format
    gk = main.get(TAG_GEO_KEYS)
    return {
        "planes": _ifd_planes(buf, main),
        "desc": desc,
        "pixel_scale": main.get(TAG_MODEL_PIXEL_SCALE),
        "tiepoint": main.get(TAG_MODEL_TIEPOINT),
        "geo_keys": (
            {gk[4 + 4 * i]: gk[7 + 4 * i] for i in range(gk[3])} if gk else {}
        ),
        "overviews": [
            {"planes": _ifd_planes(buf, t), "subfile_type": t.get(TAG_SUBFILE_TYPE, [0])[0]}
            for t in ifds[1:]
        ],
        "ifds_before_data": _ifds_before_data(buf, ifds),
    }


def _tiff_header(buf: bytes):
    """-> (is_bigtiff, first_ifd_offset); validates the magic."""
    if buf[:4] == b"II*\x00":
        (off,) = struct.unpack_from("<I", buf, 4)
        return False, off
    if buf[:4] == b"II+\x00":
        osize, pad = struct.unpack_from("<HH", buf, 4)
        if (osize, pad) != (8, 0):
            raise ValueError(f"unsupported BigTIFF offset size {osize}")
        (off,) = struct.unpack_from("<Q", buf, 8)
        return True, off
    raise ValueError("not a little-endian classic TIFF or BigTIFF")


def _ifds_before_data(buf: bytes, ifds: list) -> bool:
    """The COG property: every IFD (and its values) precedes all pixel data."""
    first_data = min(
        min(t.get(TAG_TILE_OFFSETS, t.get(TAG_STRIP_OFFSETS, [len(buf)]))) for t in ifds
    )
    # the last IFD structure must end before the first data offset; IFD
    # positions are implicit, so approximate via the values referenced by
    # offsets: conservative check on the chain head positions
    big, off = _tiff_header(buf)
    last_end = 0
    while off:
        if big:
            (n,) = struct.unpack_from("<Q", buf, off)
            last_end = max(last_end, off + _ifd_struct_size(n, True))
            (off,) = struct.unpack_from("<Q", buf, off + 8 + 20 * n)
        else:
            (n,) = struct.unpack_from("<H", buf, off)
            last_end = max(last_end, off + _ifd_struct_size(n, False))
            (off,) = struct.unpack_from("<I", buf, off + 2 + 12 * n)
    return last_end <= first_data


def _encode_slice_group(pdf, view, bands, out_dir, flavor, tile, levels):
    """One time slice's rows -> an encoded GeoTIFF written executor-side.
    Module-level (no Cube/DataFrame captured) so the grouped-map closure
    pickles cleanly; ``view`` is the plain CubeView dataclass."""
    import pandas as pd

    it = int(pdf["it"].iloc[0])
    real = pdf[pdf["iy"].notna()]  # drop the slice's seed row
    planes = np.full((len(bands), view.ny, view.nx), np.nan)
    iy = real["iy"].to_numpy(dtype=np.int64)
    ix = real["ix"].to_numpy(dtype=np.int64)
    for bi, b in enumerate(bands):
        planes[bi, iy, ix] = real[b].to_numpy(dtype=np.float64, na_value=np.nan)
    stamp = view.datetime_at(it).isoformat().replace(":", "")
    path = os.path.join(out_dir, f"cube_{it:04d}_{stamp}.tif")
    big = flavor.endswith("8")   # "gtiff8"/"cog8" = BigTIFF variants
    if flavor.startswith("cog"):
        write_cog_slice(planes, view, bands, it, path, tile=tile,
                        levels=levels, bigtiff=big)
    else:
        write_gtiff_slice(planes, view, bands, it, path, bigtiff=big)
    return pd.DataFrame({"it": [it], "path": [path], "nbytes": [os.path.getsize(path)]})


def write_gtiff_distributed(
    cube, out_dir: str, flavor: str = "gtiff", tile: int = 256, levels=(2, 4)
) -> list:
    """Cube -> one GeoTIFF (or COG) per time slice, each slice assembled
    and encoded on an EXECUTOR: one exchange keyed on the slice index
    (applyInPandas per ``it``), the driver never holds pixel data — unlike
    write_gtiff, whose single-process gather mirrors the reference
    (src/cube.cpp:116-210) but caps at driver memory. Slices write
    independently to ``out_dir`` (shared FS / object store on a real
    cluster; encode-to-bytes + your blob writer is the same hook).
    Output is byte-identical to the driver-side writer (pytest-asserted).
    Returns [(it, path, nbytes)] sorted by slice; a slice without cells
    still writes its all-nodata file, as write_gtiff does."""
    import functools

    os.makedirs(out_dir, exist_ok=True)
    fn = functools.partial(
        _encode_slice_group, view=cube.view, bands=tuple(cube.bands),
        out_dir=out_dir, flavor=flavor, tile=tile, levels=tuple(levels),
    )
    out = cube.seeded_cells().groupBy("it").applyInPandas(
        lambda pdf: fn(pdf), "it int, path string, nbytes long"
    )
    return sorted((r["it"], r["path"], r["nbytes"]) for r in out.collect())
