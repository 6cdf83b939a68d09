"""stream_cube: pipe cube chunks to an EXTERNAL process (the reference's
literal streaming surface, src/stream.h:41-131, src/stream.cpp:51-158).

The reference serializes each chunk to a binary file, execs a user command
with ``GDALCUBES_STREAMING*`` environment variables pointing at the in/out
files, and reads the result back as a chunk of the same spatiotemporal
extent. This module reproduces that exact wire protocol so existing
reference child scripts (R ``gdalcubes::read_chunk_as_array`` / python
helpers) run unchanged, but executes it Spark-side: one ``applyInPandas``
group per chunk, the subprocess spawned inside the python worker, bytes
never shuffled (the dense buffer exists only inside the worker).

Wire format (all native little-endian, src/stream.cpp:73-103):

  in:  int32[4]  (nb, nt, ny, nx)                 -- chunk-local sizes
       per band: int32 length + name bytes
       float64[nt + ny + nx] dim coords: datetime.to_double() per slice
         (packed decimal truncated at the axis unit, src/datetime.cpp:163),
         then y cell centers top-down, then x cell centers
       int32 length + srs bytes
       float64[nb*nt*ny*nx] band-major (b, t, y, x) buffer, NaN = empty
  out: int32[4] sizes + float64 buffer (same layout)

Result-shape rule (src/stream.h:60-131): the command is probed once with
an all-NaN dummy chunk of the full chunk size; each of (nt, ny, nx) must
come back either unchanged (keep) or collapsed to 1 (the axis shrinks to
one slot per chunk); the band count is free and output bands are renamed
``band1..bandN`` (float64, nodata NaN). Every distributed chunk is
validated against the probed rule.

Scale notes: one subprocess per chunk is the reference's own cost model
(its thread pool does the same single-node); Spark parallelizes chunks
across executors. The temp files live in the worker's local tmp (set
``GDALCUBES_STREAMING_DIR=/dev/shm`` for memory-backed streaming, matching
the reference's file_streaming hint, src/stream.h:50).
"""

from __future__ import annotations

import os
import struct
import subprocess
import tempfile

import numpy as np

from ..view import CubeView

# datetime_unit ordering (src/datetime.h:33-41): finer units first.
_UNIT_FIELDS = {
    "Y": 1, "M": 2, "D": 3, "H": 4, "MIN": 5, "S": 6,
}


def datetime_to_double(t, unit: str) -> float:
    """datetime::to_double (src/datetime.cpp:163-190): packed decimal
    YYYY[MM[DD[HH[MM[SS]]]]] truncated at the axis unit."""
    n = _UNIT_FIELDS[unit]
    out = float(t.year)
    for val in (t.month, t.day, t.hour, t.minute, t.second)[: n - 1]:
        out = out * 100.0 + val
    return out


def pack_chunk(arr: np.ndarray, band_names, times_dbl, ys, xs, srs: str) -> bytes:
    """Serialize one (nb, nt, ny, nx) float64 chunk buffer to the
    reference's streaming format (src/stream.cpp:73-103)."""
    nb, nt, ny, nx = arr.shape
    parts = [struct.pack("<4i", nb, nt, ny, nx)]
    for b in band_names:
        eb = str(b).encode()
        parts.append(struct.pack("<i", len(eb)) + eb)
    dims = np.concatenate([
        np.asarray(times_dbl, dtype="<f8"),
        np.asarray(ys, dtype="<f8"),
        np.asarray(xs, dtype="<f8"),
    ])
    assert dims.size == nt + ny + nx
    parts.append(dims.tobytes())
    eb = srs.encode()
    parts.append(struct.pack("<i", len(eb)) + eb)
    parts.append(np.ascontiguousarray(arr, dtype="<f8").tobytes())
    return b"".join(parts)


def unpack_result(buf: bytes) -> np.ndarray:
    """Parse the child's output file: int32[4] sizes + float64 buffer
    (src/stream.cpp:146-150). Refuses malformed bytes with ValueError."""
    if len(buf) < 16:
        raise ValueError("stream_exec: output shorter than its size header")
    nb, nt, ny, nx = struct.unpack_from("<4i", buf, 0)
    if min(nb, nt, ny, nx) < 1 or nb * nt * ny * nx > 2 ** 31:
        raise ValueError(f"stream_exec: implausible output sizes {(nb, nt, ny, nx)}")
    need = 16 + 8 * nb * nt * ny * nx
    if len(buf) < need:
        raise ValueError(
            f"stream_exec: output truncated ({len(buf)} bytes, need {need})")
    return np.frombuffer(buf, dtype="<f8", count=nb * nt * ny * nx,
                         offset=16).reshape(nb, nt, ny, nx).copy()


def run_child(cmd, payload: bytes, chunk_id: int) -> np.ndarray:
    """Write the in-file, exec ``cmd`` with the reference's env contract
    (GDALCUBES_STREAMING / _CHUNK_ID / _FILE_IN / _FILE_OUT,
    src/stream.cpp:108-112), read + parse the out-file."""
    sdir = os.environ.get("GDALCUBES_STREAMING_DIR") or (
        "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir())
    fd, f_in = tempfile.mkstemp(prefix=f".stream_{chunk_id}_", suffix="_in",
                                dir=sdir)
    f_out = f_in[:-3] + "_out"
    try:
        with os.fdopen(fd, "wb") as fh:
            fh.write(payload)
        env = dict(os.environ,
                   GDALCUBES_STREAMING="1",
                   GDALCUBES_STREAMING_CHUNK_ID=str(chunk_id),
                   GDALCUBES_STREAMING_FILE_IN=f_in,
                   GDALCUBES_STREAMING_FILE_OUT=f_out)
        proc = subprocess.run(
            cmd, shell=isinstance(cmd, str), env=env,
            stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, timeout=600)
        if proc.returncode != 0:
            err = proc.stderr.decode(errors="replace")[-2000:]
            raise RuntimeError(
                f"stream_exec: child exited {proc.returncode} on chunk "
                f"{chunk_id}: {err}")
        try:
            with open(f_out, "rb") as fh:
                return unpack_result(fh.read())
        except FileNotFoundError:
            raise RuntimeError(
                f"stream_exec: child wrote no output file for chunk {chunk_id}")
    finally:
        for p in (f_in, f_out):
            try:
                os.remove(p)
            except OSError:
                pass


def read_stream_input(path: str | None = None):
    """CHILD-side helper (the analog of gdalcubes' R
    ``read_chunk_as_array``): parse the in-file into ``(arr, meta)`` where
    arr is (nb, nt, ny, nx) float64 and meta carries band names, dim
    coords, srs, and the chunk id from the environment."""
    path = path or os.environ["GDALCUBES_STREAMING_FILE_IN"]
    with open(path, "rb") as fh:
        buf = fh.read()
    off = 0
    nb, nt, ny, nx = struct.unpack_from("<4i", buf, off)
    off += 16
    bands = []
    for _ in range(nb):
        (ln,) = struct.unpack_from("<i", buf, off)
        off += 4
        bands.append(buf[off:off + ln].decode())
        off += ln
    dims = np.frombuffer(buf, dtype="<f8", count=nt + ny + nx, offset=off)
    off += 8 * (nt + ny + nx)
    (ln,) = struct.unpack_from("<i", buf, off)
    off += 4
    srs = buf[off:off + ln].decode()
    off += ln
    arr = np.frombuffer(buf, dtype="<f8", count=nb * nt * ny * nx,
                        offset=off).reshape(nb, nt, ny, nx).copy()
    meta = {
        "bands": bands,
        "times": dims[:nt].copy(),
        "ys": dims[nt:nt + ny].copy(),
        "xs": dims[nt + ny:].copy(),
        "srs": srs,
        "chunk_id": int(os.environ.get("GDALCUBES_STREAMING_CHUNK_ID", "-1")),
    }
    return arr, meta


def write_stream_output(arr: np.ndarray, path: str | None = None) -> None:
    """CHILD-side helper: write an (nb, nt, ny, nx) array as the out-file
    (src/stream.cpp:146-150 layout)."""
    path = path or os.environ["GDALCUBES_STREAMING_FILE_OUT"]
    arr = np.asarray(arr, dtype="<f8")
    if arr.ndim != 4:
        raise ValueError("stream output must be (nb, nt, ny, nx)")
    with open(path, "wb") as fh:
        fh.write(struct.pack("<4i", *arr.shape))
        fh.write(np.ascontiguousarray(arr).tobytes())


def _chunk_payload(view: CubeView, bands, arr: np.ndarray,
                   t_lo: int, y_lo: int, x_lo: int) -> bytes:
    """Pack a chunk window starting at cube coords (t_lo, y_lo, x_lo)."""
    _nb, nt, ny, nx = arr.shape
    unit = "D" if view.labeled else view.dt.unit
    times = [datetime_to_double(view.datetime_at(t_lo + k), unit)
             for k in range(nt)]
    ys = [view.y_of(y_lo + k) for k in range(ny)]
    xs = [view.x_of(x_lo + k) for k in range(nx)]
    return pack_chunk(arr, bands, times, ys, xs, view.srs)


def probe_shape(view: CubeView, bands, cmd) -> tuple:
    """Driver-side dummy probe (src/stream.h:71-77): stream an all-NaN
    full-size chunk through ``cmd`` and derive (nb_out, keep_t, keep_y,
    keep_x) from the result via the keep-or-collapse rule."""
    # imported here: each child process imports this module for its wire
    # helpers, and grid.py (with srs.py) adds ~80 ms to every child start
    from ..grid import ChunkGrid

    shape = ChunkGrid(view).chunk_shape(0)
    dummy = np.full((len(bands), *shape), np.nan)
    out = run_child(cmd, _chunk_payload(view, bands, dummy, 0, 0, 0), 0)
    for name, got, want in zip(("nt", "ny", "nx"), out.shape[1:], shape):
        if got not in (want, 1):
            raise ValueError(
                f"stream_exec: could not derive result size — output {name}="
                f"{got} is neither 1 nor the input {name}={want} "
                "(src/stream.h:100-130 rule)")
    return (out.shape[0], *(got == want for got, want in zip(out.shape[1:], shape)))


def stream_exec(cube, cmd):
    """The stream_cube operator: ``cube.stream_exec(cmd)``.

    Returns a new Cube whose bands are ``band1..bandN``; any axis the
    child collapses to length 1 becomes one slot per chunk (e.g. a time
    reducer child turns a 16-slice chunk axis into nct slots), exactly the
    reference's optimistic-axis reconstruction (src/stream.h:89-130).
    """
    import pandas as pd

    from ..partition import by_group

    view, bands = cube.view, cube.bands
    nb_o, *keeps = probe_shape(view, bands, cmd)
    out_bands = tuple(f"band{i + 1}" for i in range(nb_o))

    # scalars only in the closure (grouped-map closures must not capture
    # the Cube/DataFrame)
    grid = cube.grid
    bands_t = tuple(bands)

    def runner(key, pdf: pd.DataFrame) -> pd.DataFrame:
        cid = grid.chunk_id(*(int(k) for k in key))
        lo = [a for a, _ in grid.chunk_limits(cid)]
        shape = grid.chunk_shape(cid)
        arr = np.full((len(bands_t), *shape), np.nan)
        cells = tuple(pdf[c].to_numpy() - o for c, o in zip(("it", "iy", "ix"), lo))
        for k, b in enumerate(bands_t):
            arr[(k, *cells)] = pdf[b].to_numpy(dtype=np.float64, na_value=np.nan)
        out = run_child(cmd, _chunk_payload(grid.view, bands_t, arr, *lo), cid)
        want = (nb_o, *(n if keep else 1 for n, keep in zip(shape, keeps)))
        if out.shape != want:
            raise ValueError(
                f"stream_exec: chunk {cid} output shape {out.shape} does not "
                f"match the probed rule {want} (keep={keeps})")
        flat = out.reshape(nb_o, -1)
        hit = ~np.isnan(flat).all(axis=0)  # sparse: all-NaN cells drop
        pos = np.unravel_index(np.nonzero(hit)[0], out.shape[1:])
        # a kept axis offsets by the chunk's origin; a collapsed one holds
        # the chunk's coordinate (one slot per chunk)
        return pd.DataFrame({
            **{c: (o + p if keep else np.full(p.size, cc)).astype("int32")
               for c, o, p, keep, cc in zip(("it", "iy", "ix"), lo, pos, keeps,
                                            grid.chunk_coords(cid))},
            **{b: flat[k][hit] for k, b in enumerate(out_bands)},
        })

    schema = "it int, iy int, ix int, " + ", ".join(
        f"`{b}` double" for b in out_bands)
    # One child process per chunk makes each GROUP cost ~a child startup, so
    # two chunks hash-colliding into one partition serialize two children on
    # one core while others idle: partition.by_group sizes the chunk-key
    # exchange so collisions are unlikely.
    key = ("_ct", "_cy", "_cx")
    src = by_group(
        cube.df.selectExpr("*", *(f"{e} AS {k}" for e, k in
                                  zip(grid.chunk_key_sql("it", "iy", "ix"), key))),
        grid.count, *key,
    )
    df = src.groupBy(*key).applyInPandas(runner, schema=schema)
    # optimistic axis reconstruction (src/stream.h:89-130)
    nv = grid.chunk_axis_view(*(not keep for keep in keeps))
    return cube._with(df, view=nv, bands=out_bands)
