"""GeoTIFF writer/reader (sources/geotiff.py) — spec-implemented (TIFF 6.0 +
OGC GeoTIFF 1.1), validated by structural parsing, a byte-level golden for
a tiny file, NaN-nodata round-trips, georeferencing tags, and the full
cube roundtrip the geotiff_roundtrip driver query runs."""

import hashlib
import os
import struct

import numpy as np
import pytest

from gdalcubes_cpp_spark.sources import geotiff as gt
from gdalcubes_cpp_spark.view import CubeView


def tiny_view():
    return CubeView.create(
        left=0.0, right=4.0, bottom=0.0, top=4.0, nx=4, ny=4,
        t0="2020-01-01", nt=2, dt="P1M", chunk_size=(1, 4, 4),
    )


def tiny_planes():
    p = np.arange(32, dtype=float).reshape(2, 4, 4)
    p[0, 1, 1] = np.nan
    return p


def test_slice_roundtrip(tmp_path):
    v = tiny_view()
    planes = tiny_planes()
    path = str(tmp_path / "s.tif")
    gt.write_gtiff_slice(planes, v, ("B1", "B2"), 0, path)
    out = gt.read_gtiff(path)
    assert np.array_equal(out["planes"], planes, equal_nan=True)  # byte-exact
    assert out["pixel_scale"] == [v.dx, v.dy, 0.0]
    assert out["tiepoint"] == [0.0, 0.0, 0.0, v.left, v.top, 0.0]
    assert out["geo_keys"] == {1024: 2, 1025: 1, 2048: 4326}  # geographic 4326
    assert out["desc"]["bands"] == ["B1", "B2"] and out["desc"]["it"] == 0


def test_projected_geokeys(tmp_path):
    v = CubeView.create(
        srs="EPSG:32633", left=350000.0, right=390000.0,
        bottom=5090000.0, top=5130000.0, nx=4, ny=4,
        t0="2020-01-01", nt=1, dt="P1M", chunk_size=(1, 4, 4),
    )
    path = str(tmp_path / "utm.tif")
    gt.write_gtiff_slice(np.zeros((1, 4, 4)), v, ("B1",), 0, path)
    out = gt.read_gtiff(path)
    assert out["geo_keys"] == {1024: 1, 1025: 1, 3072: 32633}  # projected


def test_tiff_structure(tmp_path):
    """Structural invariants any TIFF reader relies on: magic, single IFD,
    ascending tag order, inline-vs-offset value placement, strip offsets
    addressing disjoint in-bounds plane data."""
    v = tiny_view()
    path = str(tmp_path / "s.tif")
    gt.write_gtiff_slice(tiny_planes(), v, ("B1", "B2"), 1, path)
    buf = open(path, "rb").read()
    assert buf[:4] == b"II*\x00"
    (ifd_off,) = struct.unpack_from("<I", buf, 4)
    (n,) = struct.unpack_from("<H", buf, ifd_off)
    tags = []
    for i in range(n):
        tag, ftype, count = struct.unpack_from("<HHI", buf, ifd_off + 2 + 12 * i)
        tags.append(tag)
        assert ftype in (2, 3, 4, 12)
    assert tags == sorted(tags)  # TIFF 6.0 requires ascending tag order
    (next_ifd,) = struct.unpack_from("<I", buf, ifd_off + 2 + 12 * n)
    assert next_ifd == 0
    out = gt.read_gtiff(path)
    offs, cnts = None, None
    # strips: disjoint, in-bounds, plane-sized
    parsed = gt.read_gtiff(path)
    nb, ny, nx = parsed["planes"].shape
    # re-parse raw strip tags
    for i in range(n):
        tag, ftype, count = struct.unpack_from("<HHI", buf, ifd_off + 2 + 12 * i)
        vo = ifd_off + 2 + 12 * i + 8
        if gt._TYPE_SIZE[ftype] * count > 4:
            (vo,) = struct.unpack_from("<I", buf, vo)
        if tag == gt.TAG_STRIP_OFFSETS:
            offs = list(struct.unpack_from(f"<{count}I", buf, vo))
        if tag == gt.TAG_STRIP_COUNTS:
            cnts = list(struct.unpack_from(f"<{count}I", buf, vo))
    assert len(offs) == nb and all(c == ny * nx * 8 for c in cnts)
    for a, c in zip(offs, cnts):
        assert a + c <= len(buf)
    assert offs == sorted(offs)
    assert all(offs[i] + cnts[i] == offs[i + 1] for i in range(nb - 1))


def test_byte_golden(tmp_path):
    """Deterministic output: identical input -> identical bytes (stable
    container for content-addressed storage); golden md5 pins the format
    against accidental layout drift."""
    v = tiny_view()
    p1, p2 = str(tmp_path / "a.tif"), str(tmp_path / "b.tif")
    gt.write_gtiff_slice(tiny_planes(), v, ("B1", "B2"), 0, p1)
    gt.write_gtiff_slice(tiny_planes(), v, ("B1", "B2"), 0, p2)
    d1 = hashlib.md5(open(p1, "rb").read()).hexdigest()
    assert d1 == hashlib.md5(open(p2, "rb").read()).hexdigest()
    # pinned: update ONLY for a deliberate format change
    assert d1 == "e2691a626aa0ea4b372becccfd936a48", d1


def test_cube_roundtrip(spark, tmp_path):
    """Full driver-query shape: formula cube -> per-slice GeoTIFFs ->
    re-read cube; values byte-identical, sparse rows match."""
    from gdalcubes_cpp_spark.benchqueries import _formula_cube
    from gdalcubes_cpp_spark.sources.geotiff import read_gtiff_cube, write_gtiff

    c = _formula_cube(spark)
    out_dir = str(tmp_path / "gt")
    paths = write_gtiff(c, out_dir)
    assert len(paths) == c.view.nt
    back = read_gtiff_cube(spark, out_dir)
    assert back.view.to_json() == c.view.to_json()
    a = c.collect_dense()
    b = back.collect_dense()
    assert (np.isnan(a) == np.isnan(b)).all()
    m = np.isfinite(a)
    assert m.any() and (a[m] == b[m]).all()  # float64 is byte-exact


def test_reader_rejects_garbage(tmp_path):
    path = str(tmp_path / "x.tif")
    open(path, "wb").write(b"MM\x00*garbage")
    with pytest.raises(ValueError):
        gt.read_gtiff(path)


def cog_view(nx=100, ny=80):
    return CubeView.create(
        left=0.0, right=float(nx), bottom=0.0, top=float(ny), nx=nx, ny=ny,
        t0="2020-01-01", nt=1, dt="P1M", chunk_size=(1, ny, nx),
    )


def test_cog_roundtrip_and_overviews():
    """COG flavor: deflate tiles + internal overview IFDs; full-res planes
    byte-exact; overview planes equal block-center decimation; the
    cloud-optimized every-IFD-before-data property holds."""
    rng = np.random.RandomState(0)
    planes = rng.rand(2, 80, 100) * 100
    planes[0, 5:9, 7:12] = np.nan
    v = cog_view()
    buf = gt.cog_bytes(planes, v.dx, v.dy, v.left, v.top, v.srs, '{"x":1}',
                       tile=32, levels=(2, 4))
    out = gt.read_cog_bytes(buf)
    assert np.array_equal(out["planes"], planes, equal_nan=True)
    assert len(out["overviews"]) == 2
    for lv, ov in zip((2, 4), out["overviews"]):
        want = np.stack([gt._decimate_plane(planes[b], lv) for b in range(2)])
        assert np.array_equal(ov["planes"], want, equal_nan=True)
        assert ov["subfile_type"] == 1  # reduced-resolution subfile
    assert out["ifds_before_data"]
    assert out["geo_keys"] == {1024: 2, 1025: 1, 2048: 4326}


def test_cog_compresses_structured_data():
    """Deflate actually bites on structured (non-random) rasters."""
    v = cog_view()
    yy, xx = np.mgrid[0:80, 0:100]
    planes = np.stack([(yy + xx) % 7.0, (yy * 2 + xx) % 5.0])
    cogb = gt.cog_bytes(planes, v.dx, v.dy, v.left, v.top, v.srs, "{}", tile=32)
    plain = gt.gtiff_bytes(planes, v.dx, v.dy, v.left, v.top, v.srs, "{}")
    assert len(cogb) < len(plain) / 3
    out = gt.read_cog_bytes(cogb)
    assert np.array_equal(out["planes"], planes)


def test_cog_cube_roundtrip(spark, tmp_path):
    """write_cog -> read_gtiff_cube: same cube back (the COG half of the
    geotiff_roundtrip driver query)."""
    from gdalcubes_cpp_spark.benchqueries import _formula_cube
    from gdalcubes_cpp_spark.sources.geotiff import read_gtiff_cube, write_cog

    c = _formula_cube(spark)
    out_dir = str(tmp_path / "cog")
    write_cog(c, out_dir, tile=16, levels=(2,))
    back = read_gtiff_cube(spark, out_dir)
    a, b = c.collect_dense(), back.collect_dense()
    assert (np.isnan(a) == np.isnan(b)).all()
    m = np.isfinite(a)
    assert m.any() and (a[m] == b[m]).all()


def test_translate_to_cog(spark):
    """translate_collection('cog'): payloads decode transparently and
    carry internal overviews."""
    from gdalcubes_cpp_spark import codecs, synth
    from gdalcubes_cpp_spark.functions.image import translate_collection
    from gdalcubes_cpp_spark.sources.geotiff import read_cog_bytes

    pdf = synth.images_pdf(12)
    imgs = spark.createDataFrame(pdf)
    out = translate_collection(imgs, "cog").collect()
    for r in out[:3]:
        orig = pdf[pdf["image_id"] == r["image_id"]].iloc[0]
        raw = codecs.decode(orig["bytes"], orig["fmt"]).astype(float)
        parsed = read_cog_bytes(r["bytes"])
        assert np.array_equal(np.moveaxis(parsed["planes"], 0, -1), raw)
        assert len(parsed["overviews"]) == 1
        assert np.array_equal(codecs.decode(r["bytes"], "cog"), raw)


def test_write_gtiff_distributed_byte_identical(spark, tmp_path):
    """The executor-side per-slice export produces byte-identical files to
    the driver-side gather writer, for both flavors, including a slice
    whose every cell was filtered out."""
    from gdalcubes_cpp_spark.sources.collection import formula_cube
    from gdalcubes_cpp_spark.sources.geotiff import (
        write_cog,
        write_gtiff,
        write_gtiff_distributed,
    )
    from gdalcubes_cpp_spark.view import CubeView

    v = CubeView.create(
        left=0.0, right=6.0, bottom=0.0, top=4.0, nx=6, ny=4,
        t0="2020-01-01", t1="2020-03-31", dt="P1M",
        aggregation="mean", resampling="near", chunk_size=(1, 4, 6),
    )
    c = formula_cube(spark, v, {"B1": "CAST(it*100 + iy*10 + ix AS DOUBLE)",
                                "B2": "CASE WHEN ix = 2 THEN NULL ELSE CAST(ix AS DOUBLE) END"})
    c = c.filter_pixel("it != 1")  # slice 1 is empty
    drv = write_gtiff(c, str(tmp_path / "drv"))
    dist = write_gtiff_distributed(c, str(tmp_path / "dist"))
    assert len(dist) == v.nt == len(drv)
    for (it, dpath, nb), spath in zip(dist, drv):
        a, b = open(dpath, "rb").read(), open(spath, "rb").read()
        assert a == b and nb == len(a), it
    # COG flavor
    drv_c = write_cog(c, str(tmp_path / "drvc"))
    dist_c = write_gtiff_distributed(c, str(tmp_path / "distc"), flavor="cog")
    assert [it for it, _, _ in dist_c] == list(range(v.nt)) and len(drv_c) == v.nt
    for (it, dpath, _), spath in zip(dist_c, drv_c):
        assert open(dpath, "rb").read() == open(spath, "rb").read(), it


def _mk_external_tiff(arr, tile=None, predictor=1, compression=1, rows_per_strip=None):
    """Hand-assemble a GDAL-style external TIFF (integer samples,
    PLANARCONFIG=1, optional deflate + horizontal-differencing predictor,
    tiled or multi-strip) byte-by-byte from the TIFF 6.0 spec — an
    independent construction the reader must parse."""
    import struct
    import zlib

    import numpy as np

    ny, nx = arr.shape
    dt = arr.dtype
    sf = {"u": 1, "i": 2}[dt.kind]
    bits = dt.itemsize * 8

    def enc(block2d):
        b = block2d
        if predictor == 2:
            b = b.copy()
            b[:, 1:] = (block2d[:, 1:].astype(np.int64) - block2d[:, :-1].astype(np.int64)).astype(dt)
        raw = b.astype(dt.newbyteorder("<")).tobytes()
        return zlib.compress(raw, 6) if compression == 8 else raw

    blocks = []
    if tile:
        tw = th = tile
        ntx, nty = -(-nx // tw), -(-ny // th)
        for ty in range(nty):
            for tx in range(ntx):
                t = np.zeros((th, tw), dtype=dt)
                sub = arr[ty * th:(ty + 1) * th, tx * tw:(tx + 1) * tw]
                t[: sub.shape[0], : sub.shape[1]] = sub
                blocks.append(enc(t))
    else:
        rps = rows_per_strip or ny
        for y in range(0, ny, rps):
            blocks.append(enc(arr[y:y + rps]))

    # IFD with offsets after the header+IFD
    tags = [
        (256, 3, [nx]), (257, 3, [ny]), (258, 3, [bits]), (259, 3, [compression]),
        (262, 3, [1]), (277, 3, [1]), (284, 3, [1]), (339, 3, [sf]),
    ]
    if predictor == 2:
        tags.append((317, 3, [2]))
    if tile:
        tags += [(322, 3, [tile]), (323, 3, [tile])]
        off_tag, cnt_tag = 324, 325
    else:
        tags.append((278, 3, [rows_per_strip or ny]))
        off_tag, cnt_tag = 273, 279
    n_entries = len(tags) + 2
    ifd_size = 2 + n_entries * 12 + 4
    extra = b""
    extra_base = 8 + ifd_size
    n_blocks = len(blocks)
    # offsets/counts arrays (LONG); inline if single block
    data_base = extra_base + (0 if n_blocks == 1 else 8 * n_blocks)
    offsets, pos = [], data_base
    for b in blocks:
        offsets.append(pos)
        pos += len(b)
    counts = [len(b) for b in blocks]
    if n_blocks == 1:
        tags += [(off_tag, 4, offsets), (cnt_tag, 4, counts)]
    else:
        tags += [(off_tag, 4, offsets, extra_base), (cnt_tag, 4, counts, extra_base + 4 * n_blocks)]
        extra = b"".join(struct.pack("<I", v) for v in offsets)
        extra += b"".join(struct.pack("<I", v) for v in counts)
    tags.sort(key=lambda t: t[0])
    out = struct.pack("<2sHI", b"II", 42, 8)
    ifd = struct.pack("<H", n_entries)
    for t in tags:
        tag, ftype, vals = t[0], t[1], t[2]
        if len(t) == 4:
            ifd += struct.pack("<HHII", tag, ftype, len(vals), t[3])
        elif ftype == 3 and len(vals) == 1:
            ifd += struct.pack("<HHIHH", tag, ftype, 1, vals[0], 0)
        elif ftype == 4 and len(vals) == 1:
            ifd += struct.pack("<HHII", tag, ftype, 1, vals[0])
        else:
            raise AssertionError("unexpected inline multi-value")
    ifd += struct.pack("<I", 0)
    assert len(ifd) == ifd_size
    return out + ifd + extra + b"".join(blocks)


def test_read_external_integer_tiffs():
    """GDAL-style externals: uint16 deflate+predictor=2 tiled, int16
    plain tiled, uint8 multi-strip — all hand-assembled from the spec and
    decoded exactly by _ifd_planes."""
    import numpy as np

    from gdalcubes_cpp_spark.sources.geotiff import _ifd_planes, _parse_ifd

    rng = np.random.RandomState(3)
    for arr, kw in [
        (rng.randint(0, 60000, (37, 53)).astype(np.uint16),
         dict(tile=16, predictor=2, compression=8)),
        (rng.randint(-3000, 3000, (20, 31)).astype(np.int16), dict(tile=16)),
        (rng.randint(0, 255, (25, 19)).astype(np.uint8),
         dict(rows_per_strip=7, compression=8)),
    ]:
        buf = _mk_external_tiff(arr, **kw)
        tags, nxt = _parse_ifd(buf, 8)
        planes = _ifd_planes(buf, tags)
        assert nxt == 0
        assert planes.shape == (1, *arr.shape)
        assert np.array_equal(planes[0], arr.astype(np.float64)), kw


def test_codecs_decode_external_tiff_payload():
    """A GDAL-style external uint16 tiff payload (no GeoKeys) flows
    through codecs.decode into the standard (h, w, c) float64 shape —
    i.e. external rasters feed build_cube like any other payload."""
    import numpy as np

    from gdalcubes_cpp_spark import codecs

    arr = np.random.RandomState(1).randint(0, 60000, (16, 20)).astype(np.uint16)
    buf = _mk_external_tiff(arr, tile=8, predictor=2, compression=8)
    out = codecs.decode(buf)
    assert out.shape == (16, 20, 1)
    assert np.array_equal(out[:, :, 0], arr.astype(np.float64))


def _lzw_encode(data: bytes) -> bytes:
    """Independent TIFF-LZW encoder (test-side; EarlyChange per TIFF 6.0
    §13) — written against the spec, NOT against the reader."""
    CLEAR, EOI = 256, 257
    bits = []

    def emit(code, width):
        bits.append((code, width))

    table = {bytes([i]): i for i in range(256)}
    next_code, width = 258, 9
    emit(CLEAR, width)
    w = b""
    for i in range(len(data)):
        c = data[i:i + 1]
        if w + c in table:
            w = w + c
            continue
        emit(table[w], width)
        table[w + c] = next_code
        next_code += 1
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
        if next_code >= 4093:  # table full: restart (any CLEAR is decodable)
            emit(CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            next_code, width = 258, 9
        w = c
    if w:
        emit(table[w], width)
    emit(EOI, width)
    out = bytearray()
    acc = nb = 0
    for code, wd in bits:
        acc = (acc << wd) | code
        nb += wd
        while nb >= 8:
            out.append((acc >> (nb - 8)) & 0xFF)
            nb -= 8
    if nb:
        out.append((acc << (8 - nb)) & 0xFF)
    return bytes(out)


def test_lzw_tiff_roundtrip():
    """LZW (compression=5): spec-built encoder vs the reader's decoder,
    standalone and through a full hand-assembled uint8 strip TIFF with
    enough data to force code widths past 9 and 10 bits."""
    import numpy as np

    from gdalcubes_cpp_spark.sources.geotiff import (
        _ifd_planes,
        _lzw_decode,
        _parse_ifd,
    )

    rng = np.random.RandomState(9)
    # structured + noisy mix, > 4KB so the code width grows
    data = (np.repeat(rng.randint(0, 40, 3000), 3) + rng.randint(0, 4, 9000)).astype(np.uint8).tobytes()
    assert _lzw_decode(_lzw_encode(data)) == data
    arr = np.frombuffer(data[:80 * 100], dtype=np.uint8).reshape(80, 100).copy()
    buf = _mk_external_tiff_lzw(arr)
    tags, _ = _parse_ifd(buf, 8)
    planes = _ifd_planes(buf, tags)
    assert np.array_equal(planes[0], arr.astype(np.float64))


def _mk_external_tiff_lzw(arr):
    """Single-strip uint8 TIFF with compression=5 (LZW)."""
    import struct

    ny, nx = arr.shape
    block = _lzw_encode(arr.astype("<u1").tobytes())
    tags = [
        (256, 3, [nx]), (257, 3, [ny]), (258, 3, [8]), (259, 3, [5]),
        (262, 3, [1]), (277, 3, [1]), (278, 3, [ny]), (284, 3, [1]),
        (339, 3, [1]),
    ]
    n_entries = len(tags) + 2
    ifd_size = 2 + n_entries * 12 + 4
    data_base = 8 + ifd_size
    tags += [(273, 4, [data_base]), (279, 4, [len(block)])]
    tags.sort(key=lambda t: t[0])
    out = struct.pack("<2sHI", b"II", 42, 8)
    ifd = struct.pack("<H", n_entries)
    for tag, ftype, vals in tags:
        if ftype == 3:
            ifd += struct.pack("<HHIHH", tag, ftype, 1, vals[0], 0)
        else:
            ifd += struct.pack("<HHII", tag, ftype, 1, vals[0])
    ifd += struct.pack("<I", 0)
    return out + ifd + block


def test_packbits_decode():
    """PackBits RLE vs hand-built runs (TIFF 6.0 sec. 9 worked example)."""
    from gdalcubes_cpp_spark.sources.geotiff import _packbits_decode

    # the spec's canonical example
    enc = bytes([0xFE, 0xAA, 0x02, 0x80, 0x00, 0x2A, 0xFD, 0xAA, 0x03,
                 0x80, 0x00, 0x2A, 0x22, 0xF7, 0xAA])
    want = bytes([0xAA] * 3 + [0x80, 0x00, 0x2A] + [0xAA] * 4
                 + [0x80, 0x00, 0x2A, 0x22] + [0xAA] * 10)
    assert _packbits_decode(enc) == want
    assert _packbits_decode(bytes([128]) + enc) == want  # leading no-op


# ---------------------------------------------------------------------------
# BigTIFF (TIFF version 43: u64 offsets, 20-byte IFD entries)
# ---------------------------------------------------------------------------

def test_bigtiff_striped_roundtrip():
    """bigtiff=True writes version 43 with u64 strip offsets/counts; the
    reader auto-detects; values identical to the classic file."""
    planes = tiny_planes()
    classic = gt.gtiff_bytes(planes, 1.0, 1.0, 0.0, 4.0, "EPSG:4326", "d")
    big = gt.gtiff_bytes(planes, 1.0, 1.0, 0.0, 4.0, "EPSG:4326", "d",
                         bigtiff=True)
    assert classic[:4] == b"II*\x00" and big[:4] == b"II+\x00"
    osize, pad, first = struct.unpack_from("<HHQ", big, 4)
    assert (osize, pad, first) == (8, 0, 16)
    a = gt.read_gtiff_bytes(classic)["planes"]
    b = gt.read_gtiff_bytes(big)["planes"]
    assert np.array_equal(a, b, equal_nan=True)
    assert np.array_equal(b, planes, equal_nan=True)


def test_bigtiff_ifd_structure():
    """Byte-level conformance: u64 entry count, 20-byte entries with u64
    count and value/offset words, u64 next-IFD terminator."""
    big = gt.gtiff_bytes(tiny_planes(), 1.0, 1.0, 0.0, 4.0,
                         "EPSG:4326", "d", bigtiff=True)
    (n,) = struct.unpack_from("<Q", big, 16)
    assert n == 15
    # every entry's type is a known field type and count sane
    for i in range(n):
        tag, ftype, count = struct.unpack_from("<HHQ", big, 24 + 20 * i)
        assert ftype in gt._IFD_TYPE_SIZE and 1 <= count < 10000
    (nxt,) = struct.unpack_from("<Q", big, 24 + 20 * n)
    assert nxt == 0
    # strip offsets are LONG8
    tags, _ = gt._parse_ifd(big, 16, big=True)
    assert tags[gt.TAG_STRIP_OFFSETS][0] > 16


def test_bigtiff_cog_roundtrip():
    """COG flavor in BigTIFF: multi-IFD chain with u64 next pointers,
    overviews intact, IFDs-before-data property preserved."""
    rng = np.random.RandomState(5)
    planes = rng.rand(2, 70, 90) * 100
    classic = gt.cog_bytes(planes, 1.0, 1.0, 0.0, 70.0, "EPSG:3857", "d",
                           tile=32, levels=(2,))
    big = gt.cog_bytes(planes, 1.0, 1.0, 0.0, 70.0, "EPSG:3857", "d",
                       tile=32, levels=(2,), bigtiff=True)
    assert big[:4] == b"II+\x00"
    ca, cb = gt.read_cog_bytes(classic), gt.read_cog_bytes(big)
    assert np.array_equal(ca["planes"], cb["planes"], equal_nan=True)
    assert len(cb["overviews"]) == 1
    assert np.array_equal(ca["overviews"][0]["planes"],
                          cb["overviews"][0]["planes"], equal_nan=True)
    assert cb["ifds_before_data"]


def test_bigtiff_codecs_dispatch():
    """codecs.decode sniffs the BigTIFF magic."""
    from gdalcubes_cpp_spark import codecs

    planes = tiny_planes()
    big = gt.gtiff_bytes(planes, 1.0, 1.0, 0.0, 4.0, "EPSG:4326", "d",
                         bigtiff=True)
    out = codecs.decode(big)
    assert out.shape == (4, 4, 2)
    assert np.array_equal(np.moveaxis(out, -1, 0), planes, equal_nan=True)


def test_bigtiff_distributed_flavors(spark, tmp_path):
    """The distributed writer's gtiff8/cog8 flavors produce BigTIFF files
    byte-identical to the driver-side bigtiff writers."""
    from gdalcubes_cpp_spark.sources.collection import formula_cube

    v = tiny_view()
    cube = formula_cube(spark, v, {
        "B1": "CAST(it*3 + iy + ix AS DOUBLE)",
        "B2": "CAST(it + iy*2 + ix AS DOUBLE)",
    })
    a = str(tmp_path / "gather")
    b = str(tmp_path / "dist")
    gt.write_gtiff(cube, a, bigtiff=True)
    gt.write_gtiff_distributed(cube, b, flavor="gtiff8")
    for f in sorted(os.listdir(a)):
        ba = open(os.path.join(a, f), "rb").read()
        bb = open(os.path.join(b, f), "rb").read()
        assert ba[:4] == b"II+\x00" and ba == bb, f


# ---------------------------------------------------------------------------
# External chunky (PlanarConfiguration=1) multi-band layouts — GDAL's default
# ---------------------------------------------------------------------------

def _external_tiff(planes, chunky, tiled=False, rps=None, predictor=1):
    """Hand-assemble an external-style uint16 TIFF: chunky (interleaved)
    or band-sequential, strips or tiles, optional predictor=2."""
    nb, ny, nx = planes.shape
    data = b""
    entries = [
        (gt.TAG_WIDTH, gt.T_LONG, [nx]),
        (gt.TAG_LENGTH, gt.T_LONG, [ny]),
        (gt.TAG_BITS, gt.T_SHORT, [16] * nb),
        (gt.TAG_COMPRESSION, gt.T_SHORT, [1]),
        (gt.TAG_PHOTOMETRIC, gt.T_SHORT, [1]),
        (gt.TAG_SPP, gt.T_SHORT, [nb]),
        (gt.TAG_SAMPLE_FORMAT, gt.T_SHORT, [1] * nb),
        (gt.TAG_PLANAR, gt.T_SHORT, [1 if chunky else 2]),
        (gt.TAG_PREDICTOR, gt.T_SHORT, [predictor]),
    ]

    def enc(a):   # (rows, cols[, spp]) -> bytes, with optional differencing
        if predictor == 2:
            a = np.concatenate([a[:, :1], np.diff(a.astype(np.int64), axis=1)],
                               axis=1).astype(np.uint16)
        return np.ascontiguousarray(a, dtype="<u2").tobytes()

    blocks = []
    if tiled:
        twid = 8
        ntx, nty = -(-nx // twid), -(-ny // twid)
        entries += [(gt.TAG_TILE_WIDTH, gt.T_SHORT, [twid]),
                    (gt.TAG_TILE_LENGTH, gt.T_SHORT, [twid])]
        src = np.moveaxis(planes, 0, -1) if chunky else None
        bands = [None] if chunky else range(nb)
        for b in bands:
            for ty in range(nty):
                for tx in range(ntx):
                    pad_shape = (twid, twid, nb) if chunky else (twid, twid)
                    t = np.zeros(pad_shape, dtype=np.uint16)
                    blk = (src if chunky else planes[b])[
                        ty * twid:(ty + 1) * twid, tx * twid:(tx + 1) * twid]
                    t[:blk.shape[0], :blk.shape[1]] = blk
                    blocks.append(enc(t))
        otag, ctag = gt.TAG_TILE_OFFSETS, gt.TAG_TILE_COUNTS
    else:
        rps = rps or ny
        entries.append((gt.TAG_ROWS_PER_STRIP, gt.T_LONG, [rps]))
        if chunky:
            src = np.moveaxis(planes, 0, -1)
            for y in range(0, ny, rps):
                blocks.append(enc(src[y:y + rps]))
        else:
            for b in range(nb):
                for y in range(0, ny, rps):
                    blocks.append(enc(planes[b][y:y + rps]))
        otag, ctag = gt.TAG_STRIP_OFFSETS, gt.TAG_STRIP_COUNTS
    n_entries = len(entries) + 2
    ifd_size = gt._ifd_struct_size(n_entries, False)
    data_start = 8 + ifd_size
    _, probe = gt._build_ifd(
        entries + [(otag, gt.T_LONG, [0] * len(blocks)),
                   (ctag, gt.T_LONG, [len(b) for b in blocks])], data_start)
    pos = data_start + len(probe)
    offs = []
    for b in blocks:
        offs.append(pos)
        pos += len(b)
    ifd, values = gt._build_ifd(
        entries + [(otag, gt.T_LONG, offs),
                   (ctag, gt.T_LONG, [len(b) for b in blocks])], data_start)
    assert len(values) == len(probe)
    return b"II*\x00" + struct.pack("<I", 8) + ifd + values + b"".join(blocks)


@pytest.mark.parametrize("tiled", [False, True])
@pytest.mark.parametrize("predictor", [1, 2])
def test_external_chunky_multiband(tiled, predictor):
    rng = np.random.RandomState(61)
    planes = rng.randint(0, 60000, (3, 11, 13)).astype(np.uint16)
    buf = _external_tiff(planes, chunky=True, tiled=tiled, rps=4,
                         predictor=predictor)
    got = gt.read_gtiff_bytes(buf)["planes"]
    assert np.array_equal(got, planes)


def test_external_bandseq_multistrip():
    """Band-sequential with several strips per band (TIFF 6.0 §13 strip
    ordering: all of band 0's strips, then band 1's) — previously raised."""
    rng = np.random.RandomState(67)
    planes = rng.randint(0, 60000, (2, 10, 6)).astype(np.uint16)
    buf = _external_tiff(planes, chunky=False, rps=3)
    got = gt.read_gtiff_bytes(buf)["planes"]
    assert np.array_equal(got, planes)


def test_subifd_overviews_read():
    """GDAL's SubIFD overview layout (tag 330): reduced-resolution IFDs
    hang off the main IFD instead of the chain — synthesize one by
    rewriting a chained COG's links into a SubIFDs tag and check both
    layouts parse to the same overviews."""
    rng = np.random.RandomState(9)
    planes = rng.rand(1, 40, 40) * 50
    chained = gt.cog_bytes(planes, 1.0, 1.0, 0.0, 40.0, "EPSG:4326", "d",
                           tile=16, levels=(2,))
    want = gt.read_cog_bytes(chained)
    # locate the two IFDs, then rebuild: main IFD with next=0 plus a
    # SubIFDs tag pointing at the overview IFD
    big, off0 = gt._tiff_header(chained)
    tags0, off1 = gt._parse_ifd(chained, off0, big)
    assert off1 != 0
    buf = bytearray(chained)
    # append a fresh main IFD at EOF: copy the original entries, add
    # SubIFDs, terminate the chain
    (n,) = struct.unpack_from("<H", buf, off0)
    entries = bytes(buf[off0 + 2:off0 + 2 + 12 * n])
    sub_entry = struct.pack("<HHI", gt.TAG_SUB_IFDS, 4, 1) + struct.pack("<I", off1)
    new = bytearray()
    new += struct.pack("<H", n + 1)
    # keep entries tag-sorted: SubIFDs (330) slots before 339/33550/...
    parts = [entries[i:i + 12] for i in range(0, len(entries), 12)]
    inserted = False
    for p in parts:
        tag = struct.unpack_from("<H", p, 0)[0]
        if not inserted and tag > gt.TAG_SUB_IFDS:
            new += sub_entry
            inserted = True
        new += p
    if not inserted:
        new += sub_entry
    new += struct.pack("<I", 0)   # next IFD: none
    new_off = len(buf)
    buf += new
    struct.pack_into("<I", buf, 4, new_off)   # header points at new IFD
    got = gt.read_cog_bytes(bytes(buf))
    assert np.array_equal(got["planes"], want["planes"], equal_nan=True)
    assert len(got["overviews"]) == len(want["overviews"]) == 1
    assert np.array_equal(got["overviews"][0]["planes"],
                          want["overviews"][0]["planes"], equal_nan=True)
