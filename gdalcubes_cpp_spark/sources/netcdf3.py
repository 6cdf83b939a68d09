"""Pure-python netCDF-3 (classic CDF-1, 64-bit-offset CDF-2, and
64-bit-data CDF-5) container
export/import — the single-file netCDF interop the reference writes via
netcdf-c (src/cube.cpp:736 write_netcdf_file; read side
src/ncdf_cube.h:48-50).

The classic format is simple and fully public (NetCDF Classic Format
Specification, Unidata): a big-endian header (dim/att/var lists) followed
by fixed-size variable data. No netCDF library exists in this container,
so both the writer and the verifying reader are implemented here from the
spec; tests include a byte-level golden header for a tiny file.

Layout written (matching the reference's cube exports):
  dims:  time, y, x
  vars:  time (double, offset seconds since t0), y / x (double cell
         centers), one double (time, y, x) variable per band with a NaN
         _FillValue attribute
  global atts: Conventions, source, srs, view (the CubeView JSON)

write_netcdf materializes the cube driver-side (collect_dense), exactly
like the reference which assembles the full cube in one process before
writing (src/cube.cpp:116-210). write_netcdf_distributed produces the
BYTE-IDENTICAL file without the gather: the classic layout stores each
(band, time-slice) as one contiguous run at a header-computable offset,
so executors encode their slices and positioned-write them independently
(one exchange on the slice index, the write_gtiff_distributed pattern).
Parquet cube tables (Cube.write_chunks) remain the analytics-scale path —
netCDF is the interop sink.
"""

from __future__ import annotations

import struct

import numpy as np

NC_DIMENSION = 0x0A
NC_VARIABLE = 0x0B
NC_ATTRIBUTE = 0x0C
NC_CHAR = 2
NC_SHORT = 3
NC_INT = 4
NC_DOUBLE = 6

# CDF-5 (the 64-bit-data variant, a.k.a. NetCDF-5 / pnetcdf's format):
# extra number types beyond the classic set
NC_UBYTE = 7
NC_USHORT = 8
NC_UINT = 9
NC_INT64 = 10
NC_UINT64 = 11

_TYPE_SIZE = {NC_CHAR: 1, NC_SHORT: 2, NC_INT: 4, NC_DOUBLE: 8,
              1: 1, 5: 4, NC_UBYTE: 1, NC_USHORT: 2, NC_UINT: 4,
              NC_INT64: 8, NC_UINT64: 8}
_TYPE_FMT = {NC_SHORT: ">i2", NC_INT: ">i4", NC_DOUBLE: ">f8",
             1: "i1", 5: ">f4", NC_UBYTE: "u1", NC_USHORT: ">u2",
             NC_UINT: ">u4", NC_INT64: ">i8", NC_UINT64: ">u8"}


def _pad4(n: int) -> int:
    return (4 - n % 4) % 4


def _sz(n: int, big: bool = False) -> bytes:
    """A size/count word: 4-byte INT classically, 8-byte INT64 in CDF-5."""
    return struct.pack(">q" if big else ">i", n)


def _name(s: str, big: bool = False) -> bytes:
    b = s.encode()
    return _sz(len(b), big) + b + b"\x00" * _pad4(len(b))


def _att_values(nc_type: int, values, big: bool = False) -> bytes:
    if nc_type == NC_CHAR:
        b = values.encode() if isinstance(values, str) else bytes(values)
        return _sz(len(b), big) + b + b"\x00" * _pad4(len(b))
    arr = np.asarray(values)
    raw = arr.astype(_TYPE_FMT[nc_type]).tobytes()
    return _sz(arr.size, big) + raw + b"\x00" * _pad4(len(raw))


def _att_list(atts: list, big: bool = False) -> bytes:
    """atts: [(name, nc_type, values)]; empty -> ABSENT (two zero words)."""
    if not atts:
        return struct.pack(">i", 0) + _sz(0, big)
    out = struct.pack(">i", NC_ATTRIBUTE) + _sz(len(atts), big)
    for name, nc_type, values in atts:
        out += _name(name, big) + struct.pack(">i", nc_type) \
            + _att_values(nc_type, values, big)
    return out


def _pack_plane(plane: np.ndarray, packing: dict):
    """float64 plane -> int16 per the CF packing rule (shared by both
    writers so their bytes are identical)."""
    s, o = float(packing["scale"]), float(packing["offset"])
    fill = int(packing.get("nodata", -32768))
    with np.errstate(invalid="ignore"):
        packed = np.round((plane - o) / s)
        packed = np.clip(packed, -32768, 32767)
    return np.where(np.isnan(plane), fill, packed).astype(np.int16)


def _nc_plan(view, bands: tuple, packing: dict | None,
             version: int | None = None):
    """The file layout computed from METADATA alone: header bytes, the
    per-variable begin offsets, coordinate-variable payloads, and the band
    slot geometry — everything a distributed writer needs to place a
    (band, it) slice without seeing any other pixel.

    ``version``: 1 = classic CDF-1 (32-bit offsets), 2 = 64-bit-offset
    CDF-2 (same spec document, 'Large File Support': magic ``CDF\\x02``
    and 8-byte variable ``begin`` words are the ONLY changes) — None
    auto-selects: CDF-1 while the data fits its 2 GiB offset space, CDF-2
    beyond (per-variable sizes stay < 2**31, the conservative reading of
    the CDF-2 variable-size rule; a larger single band slice should use
    write_chunks)."""
    v = view
    dims = [("time", v.nt), ("y", v.ny), ("x", v.nx)]
    coord_data = [
        np.array([(v.datetime_at(i) - v.t0).total_seconds() for i in range(v.nt)],
                 dtype=np.float64),
        np.array([v.y_of(i) for i in range(v.ny)], dtype=np.float64),
        np.array([v.x_of(i) for i in range(v.nx)], dtype=np.float64),
    ]
    band_type = NC_DOUBLE if packing is None else NC_SHORT
    if packing is None:
        band_atts = [("_FillValue", NC_DOUBLE, [np.nan])]
    else:
        band_atts = [
            ("_FillValue", NC_SHORT, [int(packing.get("nodata", -32768))]),
            ("scale_factor", NC_DOUBLE, [float(packing["scale"])]),
            ("add_offset", NC_DOUBLE, [float(packing["offset"])]),
        ]
    # (name, dimids, atts, n_values, nc_type)
    variables = [
        ("time", [0], [("units", NC_CHAR, f"seconds since {v.t0.isoformat()}")],
         v.nt, NC_DOUBLE),
        ("y", [1], [], v.ny, NC_DOUBLE),
        ("x", [2], [], v.nx, NC_DOUBLE),
    ]
    for b in bands:
        variables.append((b, [0, 1, 2], band_atts, v.nt * v.ny * v.nx, band_type))

    gatts = [
        ("Conventions", NC_CHAR, "CF-1.6"),
        ("source", NC_CHAR, "gdalcubes_cpp_spark"),
        ("srs", NC_CHAR, v.srs),
        ("view", NC_CHAR, v.to_json()),
    ]

    def header(begins: list, ver: int) -> bytes:
        big = ver == 5     # CDF-5: 8-byte size/count words throughout
        h = b"CDF" + bytes([ver]) + _sz(0, big)           # numrecs = 0
        h += struct.pack(">i", NC_DIMENSION) + _sz(len(dims), big)
        for dname, dsize in dims:
            h += _name(dname, big) + _sz(dsize, big)
        h += _att_list(gatts, big)
        h += struct.pack(">i", NC_VARIABLE) + _sz(len(variables), big)
        for (vname, dimids, atts, n, nc_type), begin in zip(variables, begins):
            vsize = n * _TYPE_SIZE[nc_type]
            vsize += _pad4(vsize)
            h += _name(vname, big)
            h += _sz(len(dimids), big)
            for d in dimids:
                h += struct.pack(">i", d)                 # dimids stay INT
            h += _att_list(atts, big)
            h += struct.pack(">i", nc_type)
            h += _sz(vsize, big)
            # begin: 32-bit in CDF-1, 64-bit in CDF-2/5
            h += struct.pack(">i" if ver == 1 else ">q", begin)
        return h

    def layout(ver: int):
        begins = [0] * len(variables)
        off = len(header(begins, ver))
        for i, (_, _, _, n, nc_type) in enumerate(variables):
            begins[i] = off
            sz = n * _TYPE_SIZE[nc_type]
            off += sz + _pad4(sz)
        return begins, off

    max_var = max(n * _TYPE_SIZE[nc_type] for _, _, _, n, nc_type in variables)
    ver = version
    if ver is None:
        if max_var > 2**31 - 1:
            ver = 5               # past the classic size word: CDF-5
        else:
            _, off1 = layout(1)
            ver = 1 if off1 <= 2**31 - 1 else 2
    if ver in (1, 2) and max_var > 2**31 - 1:
        raise ValueError("variable exceeds the classic-format size "
                         "word; use version=5 (CDF-5) or write_chunks")
    begins, off = layout(ver)
    if ver == 1 and off > 2**31 - 1:
        raise ValueError("cube too large for CDF-1 (32-bit offsets); "
                         "pass version=2 (64-bit offsets)")
    return {
        "header": header(begins, ver), "begins": begins, "total": off,
        "coord_data": coord_data, "band_type": band_type,
        "slice_bytes": v.ny * v.nx * _TYPE_SIZE[band_type],
        "version": ver,
    }


def write_netcdf(cube, path: str, packing: dict | None = None,
                 version: int | None = None) -> None:
    """Materialize the cube and write ONE classic netCDF-3 file.

    ``packing`` = {"scale": s, "offset": o, "nodata": fill} writes band
    variables as NC_SHORT with CF ``scale_factor``/``add_offset``
    attributes — the reference's packed netCDF export (src/cube.cpp:149
    packed_export; same packed = round((v - offset)/scale) rule as
    operators/export.py). read_netcdf auto-unpacks (ncdf_cube.h:45).
    ``version``: None auto-selects CDF-1 / CDF-2 / CDF-5 (smallest
    sufficient)."""
    v = cube.view
    dense = cube.collect_dense()  # (nb, nt, ny, nx)
    plan = _nc_plan(v, tuple(cube.bands), packing, version)

    with open(path, "wb") as f:
        f.write(plan["header"])
        for data in plan["coord_data"]:
            raw = np.ascontiguousarray(data, dtype=">f8").tobytes()
            f.write(raw + b"\x00" * _pad4(len(raw)))
        for bi in range(len(cube.bands)):
            data = dense[bi] if packing is None else _pack_plane(dense[bi], packing)
            raw = np.ascontiguousarray(
                data, dtype=_TYPE_FMT[plan["band_type"]]
            ).tobytes()
            f.write(raw + b"\x00" * _pad4(len(raw)))


def write_netcdf_distributed(cube, path: str, packing: dict | None = None,
                             version: int | None = None) -> None:
    """The same file, assembled without a driver gather (r3 VERDICT next
    #6, mirroring geotiff.write_gtiff_distributed): the driver writes the
    metadata-only header + coordinate vars and truncates the file to its
    final size; each (it) group — ONE exchange on the slice index — builds
    its (nb, ny, nx) dense slice on an executor, packs if requested, and
    positioned-writes one contiguous run per band at
    begin[band] + it*ny*nx*itemsize. Empty slices are seeded so absent
    data still writes the fill value. Non-overlapping pwrites to a shared
    FS are safe; on an object store swap the positioned write for a
    multipart-upload part at the same offsets. Byte-identical to
    write_netcdf (pytest-asserted)."""
    import pandas as pd

    v = cube.view
    bands = tuple(cube.bands)
    plan = _nc_plan(v, bands, packing, version)
    band_begins = plan["begins"][3:]
    slice_bytes = v.ny * v.nx * _TYPE_SIZE[plan["band_type"]]
    band_type = plan["band_type"]
    ny, nx = v.ny, v.nx
    pk = None if packing is None else dict(packing)

    with open(path, "wb") as f:
        f.write(plan["header"])
        for data in plan["coord_data"]:
            raw = np.ascontiguousarray(data, dtype=">f8").tobytes()
            f.write(raw + b"\x00" * _pad4(len(raw)))
        f.truncate(plan["total"])

    # every slice index forms a group, so all-empty slices still write
    # their fill run
    cells = cube.seeded_cells()

    def write_slice(pdf: pd.DataFrame) -> pd.DataFrame:
        it = int(pdf["it"].iloc[0])
        real = pdf[pdf["iy"].notna()]
        with open(path, "r+b") as fh:
            for bi, b in enumerate(bands):
                plane = np.full((ny, nx), np.nan)
                if len(real):
                    plane[
                        real["iy"].to_numpy(dtype=np.int64),
                        real["ix"].to_numpy(dtype=np.int64),
                    ] = real[b].to_numpy(dtype=np.float64)
                data = plane if pk is None else _pack_plane(plane, pk)
                raw = np.ascontiguousarray(data, dtype=_TYPE_FMT[band_type]).tobytes()
                fh.seek(band_begins[bi] + it * slice_bytes)
                fh.write(raw)
        return pd.DataFrame({"it": [it], "nbytes": [len(bands) * slice_bytes]})

    out = cells.groupBy("it").applyInPandas(write_slice, "it int, nbytes long")
    out.collect()  # drive the job; rows are tiny (one per slice)


def _read_sz(buf: memoryview, pos: int, big: bool = False):
    if big:
        (n,) = struct.unpack_from(">q", buf, pos)
        return n, pos + 8
    (n,) = struct.unpack_from(">i", buf, pos)
    return n, pos + 4


def _read_name(buf: memoryview, pos: int, big: bool = False):
    n, pos = _read_sz(buf, pos, big)
    name = bytes(buf[pos:pos + n]).decode()
    pos += n + _pad4(n)
    return name, pos


def _read_atts(buf: memoryview, pos: int, big: bool = False):
    (tag,) = struct.unpack_from(">i", buf, pos)
    pos += 4
    nelems, pos = _read_sz(buf, pos, big)
    atts = {}
    if tag == 0:
        return atts, pos
    assert tag == NC_ATTRIBUTE
    for _ in range(nelems):
        name, pos = _read_name(buf, pos, big)
        (nc_type,) = struct.unpack_from(">i", buf, pos)
        pos += 4
        n, pos = _read_sz(buf, pos, big)
        size = _TYPE_SIZE[nc_type] * n
        raw = bytes(buf[pos:pos + size])
        pos += size + _pad4(size)
        if nc_type == NC_CHAR:
            atts[name] = raw.decode()
        else:
            atts[name] = np.frombuffer(raw, _TYPE_FMT[nc_type])
    return atts, pos


def read_netcdf(path: str) -> dict:
    """Classic-format reader (verification + interop ingest): returns
    {"dims": {...}, "gatts": {...}, "vars": {name: ndarray}}.

    Handles the RECORD (unlimited) dimension of external files (spec
    'The Format in Detail': a dim of size 0 is the record dim, its
    effective length is the header's numrecs word; record variables lay
    their per-record slabs out interleaved after the fixed data with a
    stride of the sum of all per-record slab sizes padded to 4 — except
    the spec's single-record-variable special case, where the record is
    NOT padded). Our writers emit no record dim; this is read-side
    interop with files produced by netcdf-c."""
    with open(path, "rb") as f:
        buf = memoryview(f.read())
    if bytes(buf[:8]) == b"\x89HDF\r\n\x1a\n":
        # netCDF-4: what the reference writes whenever compression is on
        # (nc_create(NC_NETCDF4), src/cube.cpp:871) — an HDF5 container
        from .hdf5 import read_netcdf4

        return read_netcdf4(bytes(buf))
    assert bytes(buf[:3]) == b"CDF" and buf[3] in (1, 2, 5), \
        "not a CDF-1/CDF-2/CDF-5 classic file (nor netCDF-4/HDF5)"
    ver = buf[3]
    big = ver == 5
    numrecs, pos = _read_sz(buf, 4, big)
    (tag,) = struct.unpack_from(">i", buf, pos)
    pos += 4
    ndims, pos = _read_sz(buf, pos, big)
    assert tag == NC_DIMENSION
    dims = []
    rec_dim = None
    for _ in range(ndims):
        name, pos = _read_name(buf, pos, big)
        size, pos = _read_sz(buf, pos, big)
        if size == 0:
            rec_dim = len(dims)
        dims.append((name, size))
    gatts, pos = _read_atts(buf, pos, big)
    (tag,) = struct.unpack_from(">i", buf, pos)
    pos += 4
    nvars, pos = _read_sz(buf, pos, big)
    assert tag == NC_VARIABLE
    # first pass: headers of all variables (record stride needs them all)
    hdrs = []
    for _ in range(nvars):
        name, pos = _read_name(buf, pos, big)
        nd, pos = _read_sz(buf, pos, big)
        dimids = list(struct.unpack_from(f">{nd}i", buf, pos)) if nd else []
        pos += 4 * nd
        _atts, pos = _read_atts(buf, pos, big)
        (nc_type,) = struct.unpack_from(">i", buf, pos)
        pos += 4
        _vsize, pos = _read_sz(buf, pos, big)
        if ver == 1:
            (begin,) = struct.unpack_from(">i", buf, pos)
            pos += 4
        else:
            (begin,) = struct.unpack_from(">q", buf, pos)
            pos += 8
        hdrs.append((name, dimids, _atts, nc_type, begin))
    rec_vars = [h for h in hdrs if rec_dim is not None and h[1][:1] == [rec_dim]]

    def slab_bytes(dimids, nc_type):
        n = int(np.prod([dims[d][1] for d in dimids if d != rec_dim] or [1]))
        return n * _TYPE_SIZE[nc_type]

    if len(rec_vars) == 1:
        recsize = slab_bytes(rec_vars[0][1], rec_vars[0][3])
    else:
        recsize = sum(s + _pad4(s) for s in
                      (slab_bytes(h[1], h[3]) for h in rec_vars))

    out = {}
    var_atts = {}
    for name, dimids, _atts, nc_type, begin in hdrs:
        var_atts[name] = {
            k: (v if isinstance(v, str) else np.asarray(v))
            for k, v in _atts.items()
        }
        is_rec = rec_dim is not None and dimids[:1] == [rec_dim]
        if is_rec:
            slab = slab_bytes(dimids, nc_type)
            raw = b"".join(
                bytes(buf[begin + r * recsize:begin + r * recsize + slab])
                for r in range(numrecs))
            shape = (numrecs,) + tuple(dims[d][1] for d in dimids[1:])
        else:
            shape = tuple(dims[d][1] for d in dimids)
            n = int(np.prod(shape)) if shape else 1
            raw = bytes(buf[begin:begin + _TYPE_SIZE[nc_type] * n])
        if nc_type == NC_CHAR:
            out[name] = raw
            continue
        arr = np.frombuffer(raw, _TYPE_FMT[nc_type]).astype(np.float64)
        # auto_unpack (src/ncdf_cube.h:45): CF scale_factor/add_offset with
        # _FillValue -> NaN BEFORE unpacking
        if "scale_factor" in _atts or "add_offset" in _atts:
            if "_FillValue" in _atts:
                arr = np.where(arr == float(_atts["_FillValue"][0]), np.nan, arr)
            arr = arr * float(_atts.get("scale_factor", [1.0])[0]) + float(
                _atts.get("add_offset", [0.0])[0]
            )
        out[name] = arr.reshape(shape)
    dims_out = dict(dims)
    if rec_dim is not None:
        dims_out[dims[rec_dim][0]] = numrecs
    return {"dims": dims_out, "gatts": gatts, "vars": out,
            "var_atts": var_atts}


def view_from_cf(nc: dict):
    """Reconstruct a CubeView from CF metadata alone — the shape of a
    FOREIGN gdalcubes export (the reference writes Conventions/source +
    coordinate variables, src/cube.cpp:903-1001, but no engine-private
    view attribute): extent from the x/y cell-center coordinates (uniform
    spacing), the time axis from the CF ``units`` epoch ("<unit> since
    <iso>") plus the stored offsets, SRS from the ``srs`` global
    attribute or the CF grid-mapping variable's ``spatial_ref``."""
    import re as _re
    from datetime import timedelta

    from ..view import CubeView

    xs = np.asarray(nc["vars"]["x"], dtype=np.float64)
    ys = np.asarray(nc["vars"]["y"], dtype=np.float64)
    if len(xs) < 1 or len(ys) < 1:
        raise ValueError("CF reconstruction needs x/y coordinate variables")
    dx = float(abs(xs[1] - xs[0])) if len(xs) > 1 else 1.0
    # our exports write y DESCENDING (north up); foreign CF files (xarray,
    # CDO) often write it ASCENDING — take extents order-independently
    # (read_netcdf_cube flips the data rows for ascending-y files)
    dy = float(abs(ys[1] - ys[0])) if len(ys) > 1 else 1.0
    left, right = float(min(xs) - dx / 2), float(max(xs) + dx / 2)
    top, bottom = float(max(ys) + dy / 2), float(min(ys) - dy / 2)

    tvals = np.asarray(nc["vars"]["time"], dtype=np.float64)
    units = nc.get("var_atts", {}).get("time", {}).get("units", "")
    m = _re.match(r"(seconds|minutes|hours|days)\s+since\s+(.+)", str(units))
    if not m:
        raise ValueError(f"unsupported CF time units {units!r}")
    per = {"seconds": 1, "minutes": 60, "hours": 3600, "days": 86400}[m.group(1)]
    epoch = str(m.group(2)).strip().replace(" ", "T")
    from datetime import datetime as _dt

    t_epoch = _dt.fromisoformat(epoch)
    t0 = t_epoch + timedelta(seconds=float(tvals[0]) * per)
    if len(tvals) > 1:
        step_s = float(tvals[1] - tvals[0]) * per
    else:
        step_s = 86400.0
    # express dt in the largest unit that divides the step exactly
    if step_s % 86400 == 0:
        dt = f"P{int(step_s // 86400)}D"
    elif step_s % 3600 == 0:
        dt = f"PT{int(step_s // 3600)}H"
    elif step_s % 60 == 0:
        dt = f"PT{int(step_s // 60)}M"
    else:
        dt = f"PT{int(step_s)}S"
    srs = nc["gatts"].get("srs")
    if not srs:
        crs = nc.get("var_atts", {}).get("crs", {})
        srs = crs.get("spatial_ref", "EPSG:4326")
    return CubeView.create(
        srs=str(srs), left=left, right=right, bottom=bottom, top=top,
        nx=len(xs), ny=len(ys), t0=t0.isoformat(), nt=len(tvals), dt=dt,
    )


def read_netcdf_cube(spark, path: str):
    """netCDF file -> Cube (the ncdf_cube analog, src/ncdf_cube.h:48-50).
    Our own exports rebuild the view from the embedded JSON gatt; a
    FOREIGN export (the reference's real files carry no such attribute)
    reconstructs it from CF metadata (view_from_cf)."""
    import pandas as pd

    from ..cube import Cube
    from ..view import CubeView

    nc = read_netcdf(path)
    if "view" in nc["gatts"]:
        view = CubeView.from_json(nc["gatts"]["view"])
    else:
        view = view_from_cf(nc)
    ys = np.asarray(nc["vars"].get("y", []), dtype=np.float64)
    if len(ys) > 1 and ys[1] > ys[0]:
        # ascending-y CF file: flip rows so array index iy=0 is the TOP
        # row (the cube model's orientation)
        for k, a in list(nc["vars"].items()):
            if isinstance(a, np.ndarray) and a.ndim == 3:
                nc["vars"][k] = a[:, ::-1, :]
        nc["vars"]["y"] = ys[::-1]
    bands = [
        k for k, a in nc["vars"].items()
        if k not in ("time", "y", "x")
        and isinstance(a, np.ndarray) and a.ndim == 3   # excludes e.g. crs
    ]
    frames = {}
    arr0 = nc["vars"][bands[0]]
    tt, yy, xx = np.meshgrid(
        np.arange(arr0.shape[0]), np.arange(arr0.shape[1]), np.arange(arr0.shape[2]),
        indexing="ij",
    )
    keep = np.zeros(arr0.shape, dtype=bool)
    for b in bands:
        keep |= ~np.isnan(nc["vars"][b])
    frames = {
        "it": tt[keep].astype("int32"),
        "iy": yy[keep].astype("int32"),
        "ix": xx[keep].astype("int32"),
    }
    for b in bands:
        frames[b] = nc["vars"][b][keep]
    df = spark.createDataFrame(pd.DataFrame(frames))
    from pyspark.sql import functions as F

    df = df.select(
        "it", "iy", "ix",
        *[F.when(F.isnan(F.col(b)), None).otherwise(F.col(b)).alias(b) for b in bands],
    )
    return Cube(df, view, tuple(bands))
