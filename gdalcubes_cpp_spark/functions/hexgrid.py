"""Aperture-7 hexagonal hierarchical cell index on the EASE-Grid 2.0
equal-area plane — the hexagon-indexing capability of the H3 scheme with
this repo's exactness discipline.

The published H3 scheme (h3geo.org) contributes three capabilities beyond
a square grid: (1) uniform-area cells, (2) a single neighbor class (every
hexagon has 6 equidistant neighbors — k-rings are the natural kNN
structure), (3) an aperture-7 resolution hierarchy.  Uber's concrete cell
ids additionally depend on a specific icosahedron orientation and a
122-base-cell layout whose constants are tuning data; with no h3 binding
in this container they would be unverifiable, and a from-memory
transcription would be exactly the kind of unattestable claim this repo
avoids.  So the hex index here delivers the SCHEME, not the ids:

* hex grid on the **EASE-Grid 2.0 plane** (EPSG:6933, srs.py's oracled
  ellipsoidal cylindrical equal-area) — equal-area projection means every
  hex cell covers the SAME spherical area (3·sqrt(3)/2 · s² map-plane
  area, exactly preserved on the sphere), which is the property H3's
  icosahedron chases; the cost is one antimeridian seam and polar caps
  (|lat| -> 90 compresses in y, so cells remain equal-area but grow
  anisotropic; EASE-Grid products cap at ±86° for the same reason)
  instead of H3's 20 face seams and 12 pentagons.
* **aperture-7 hierarchy**: resolution r+1 is the r grid scaled by
  1/sqrt(7) and rotated by alpha = atan(sqrt(3)/5) ≈ 19.1066° — the same
  sublattice (2,1)·(basis) construction H3 uses; every cell has exactly 7
  resolution-(r+1) children (cells whose centers encode to it).
* **axial/cube coordinates** with the standard cube-rounding point
  assignment; k-rings are exact integer arithmetic ON THE PACKED ID
  (the id is linear in (q, r), so a neighbor is id + constant).

Exactness discipline (the part that makes this oracle-able): the encode
chain is emitted ONCE as portable SQL fragments (`hex_steps`) that the
DuckDB oracle evaluates as chained CTEs, and implemented in numpy
(`hex_encode_np`, the engine's only encoder) with operation-for-
operation identical order.  The only cross-engine float divergence is
the 1-2 ulp of sin/ln/asin in the lon/lat->plane stage (same as every
oracled SRS family); every DECISION (floor cube-rounding, tiebreak
comparisons) is margin-checked over the driver's actual point sets in
tests/test_hexgrid.py.  The parent re-encode stage starts from INTEGER
axial coordinates and uses only IEEE *,+,-,floor,abs on 17-digit
literals, so it is bit-identical across engines including its ties
(child centers sit at exact multiples of 1/7 in parent axial space).

Reference parity note: gdalcubes has no cell index at all (full-table
bbox scan per chunk, src/image_collection.cpp:1324-1394); the north rule
asks for an "H3/S2 index" — S2 (functions/s2.py) is the id-exact
published-convention curve index, this module is the hexagonal one.

Scale shape: one numpy batch kernel (a few sin/ln calls + integer
packing per Arrow batch) encodes every id on the engine side: hex_cells
and the st_join owner call it through encode_udf, and the cover
(cover_cells_udf) runs the same plane math.  No shuffle — it rides any
scan; k-ring expansion is a literal-array explode like the flat grid's.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..srs import _cea_consts, _flit, resolve
from .s2 import finite_lanes, nullable_ids

_RAD = math.pi / 180.0
SQRT3 = math.sqrt(3.0)
SQRT7 = math.sqrt(7.0)
ALPHA = math.atan2(SQRT3, 5.0)  # aperture-7 inter-resolution rotation
RES0_SIZE = 1_000_000.0  # res-0 hex circumradius, EASE meters (~1000 km)
OFF = 1 << 28  # axial offset in the packed id
_F_RES = 1 << 58  # res field multiplier
_F_Q = 1 << 29  # q field multiplier
MAX_RES = 15  # axial range at res 15 (~0.5 m cells) still fits the fields

_P6933 = resolve("EPSG:6933")[1]


def res_params(res: int):
    """(hex circumradius s, cos, sin of the accumulated rotation)."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"hex resolution must be 0..{MAX_RES}, got {res}")
    s = RES0_SIZE * SQRT7 ** (-res)
    th = res * ALPHA
    return s, math.cos(th), math.sin(th)


def cell_area_m2(res: int) -> float:
    """Exact spherical area of EVERY cell at ``res`` (equal-area plane)."""
    s, _, _ = res_params(res)
    return 1.5 * SQRT3 * s * s


# ---------------------------------------------------------------------------
# The encode chain as named SQL steps (portable Spark SQL + DuckDB)
# ---------------------------------------------------------------------------


def forward_steps(lon_expr: str, lat_expr: str, pz: str):
    """lon/lat degrees -> EASE-Grid 2.0 meters (mirrors srs.cea_forward
    operation-for-operation; see srs._laea_q for the q-series)."""
    p = _P6933
    e, k0, _qp, _ = _cea_consts(p)
    L = _flit
    phi = f"{pz}phi"
    sphi = f"{pz}sphi"
    es = f"{pz}es"
    qs = f"{pz}qs"
    return [
        (phi, f"({lat_expr}) * {L(_RAD)}"),
        (sphi, f"sin({phi})"),
        (es, f"{L(e)} * {sphi}"),
        (qs, f"{L(1.0 - p.e2)} * ({sphi} / (1.0 - {L(p.e2)} * ({sphi} * {sphi}))"
             f" - {L(1.0 / (2.0 * e))} * ln((1.0 - {es}) / (1.0 + {es})))"),
        (f"{pz}x", f"{L(p.fe)} + {L(p.a * k0)} * ((({lon_expr}) - {L(p.lon0)}) * {L(_RAD)})"),
        (f"{pz}y", f"{L(p.fn)} + ({L(p.a)} * {qs}) / {L(2.0 * k0)}"),
    ]


def plane_steps(x_expr: str, y_expr: str, res: int, pz: str):
    """EASE meters -> packed hex cell id at ``res`` (rotate, axial, cube
    round, pack).  Pure *,+,-,floor,abs on literals: bit-exact in every
    IEEE engine — all cross-engine float risk lives in forward_steps."""
    s, c, n = res_params(res)
    L = _flit
    st = []
    st.append((f"{pz}xr", f"({x_expr}) * {L(c)} + ({y_expr}) * {L(n)}"))
    st.append((f"{pz}yr", f"({y_expr}) * {L(c)} - ({x_expr}) * {L(n)}"))
    st.append((f"{pz}qf", f"({L(SQRT3 / 3.0)} * {pz}xr - {L(1.0 / 3.0)} * {pz}yr) / {L(s)}"))
    st.append((f"{pz}rf", f"({L(2.0 / 3.0)} * {pz}yr) / {L(s)}"))
    st.append((f"{pz}sf", f"(-({pz}qf)) - {pz}rf"))
    for ax in ("q", "r", "s"):
        st.append((f"{pz}i{ax}",
                   f"CAST(floor({pz}{ax}f + 5.0E-1) AS BIGINT)"))
        st.append((f"{pz}d{ax}",
                   f"abs(CAST({pz}i{ax} AS DOUBLE) - {pz}{ax}f)"))
    st.append((f"{pz}cq",
               f"CASE WHEN {pz}dq > {pz}dr AND {pz}dq > {pz}ds"
               f" THEN (0 - {pz}ir) - {pz}is ELSE {pz}iq END"))
    st.append((f"{pz}cr",
               f"CASE WHEN NOT ({pz}dq > {pz}dr AND {pz}dq > {pz}ds)"
               f" AND {pz}dr > {pz}ds THEN (0 - {pz}iq) - {pz}is ELSE {pz}ir END"))
    st.append((f"{pz}cell",
               f"CAST({res} AS BIGINT) * {_F_RES}"
               f" + ({pz}cq + {OFF}) * {_F_Q} + ({pz}cr + {OFF})"))
    return st


def center_steps(q_expr: str, r_expr: str, res: int, pz: str):
    """Integer axial (q, r) at ``res`` -> hex center in EASE meters."""
    s, c, n = res_params(res)
    L = _flit
    return [
        (f"{pz}qd", f"CAST({q_expr} AS DOUBLE)"),
        (f"{pz}rd", f"CAST({r_expr} AS DOUBLE)"),
        (f"{pz}xc", f"{L(s)} * ({L(SQRT3)} * ({pz}qd + {pz}rd * 5.0E-1))"),
        (f"{pz}yc", f"{L(s)} * (1.5E0 * {pz}rd)"),
        (f"{pz}px", f"{pz}xc * {L(c)} - {pz}yc * {L(n)}"),
        (f"{pz}py", f"{pz}xc * {L(n)} + {pz}yc * {L(c)}"),
    ]


def hex_steps(lon_expr: str, lat_expr: str, res: int, pz: str = "_hx_",
              parent: bool = True):
    """Full step list: forward -> cell at ``res`` [-> parent at res-1]."""
    st = forward_steps(lon_expr, lat_expr, pz)
    st += plane_steps(f"{pz}x", f"{pz}y", res, pz)
    if parent and res > 0:
        st += center_steps(f"{pz}cq", f"{pz}cr", res, pz + "c_")
        st += plane_steps(f"{pz}c_px", f"{pz}c_py", res - 1, pz + "p_")
    return st


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------


def encode_udf(res: int, parent: bool = False):
    """pandas_udf (lon, lat) -> packed hex cell id at ``res`` through
    hex_encode_np, or struct(cell, parent) when ``parent`` is set; NULL for
    a NULL or non-finite coordinate."""
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("bigint")
    def cell(lon: pd.Series, lat: pd.Series) -> pd.Series:
        ok, (x, y) = finite_lanes(lon, lat)
        return nullable_ids(hex_encode_np(x, y, res), ok)

    @pandas_udf("cell bigint, parent bigint")
    def cell_parent(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        ok, (x, y) = finite_lanes(lon, lat)
        cells = hex_encode_np(x, y, res)
        return pd.DataFrame({"cell": nullable_ids(cells, ok),
                             "parent": nullable_ids(hex_parent_np(cells), ok)})

    return cell_parent if parent else cell


def hex_cells(df: DataFrame, lon: str = "lon", lat: str = "lat",
              res: int = 4, cell_col: str = "hex_cell",
              parent_col: str | None = "hex_parent") -> DataFrame:
    """Attach the packed hex cell id (and its aperture-7 parent), computed
    by one encode_udf pass over each Arrow batch."""
    if parent_col is not None and res == 0:
        raise ValueError("res-0 cells have no parent; pass parent_col=None")
    enc = encode_udf(res, parent=parent_col is not None)(F.col(lon), F.col(lat))
    if parent_col is None:
        return df.withColumn(cell_col, enc)
    return df.withColumn("_hx", enc).withColumns(
        {cell_col: F.col("_hx.cell"), parent_col: F.col("_hx.parent")}).drop("_hx")


def hex_duckdb_sql(src_sql: str, keep_cols: str, lon_expr: str,
                   lat_expr: str, res: int, cell_as: str = "hex_cell",
                   parent_as: str = "hex_parent") -> str:
    """Chained-CTE DuckDB mirror of hex_cells: the hex_steps expressions,
    op-for-op the numpy encoder, evaluated over the same source relation.
    Returns a full SELECT."""
    pz = "_hx_"
    # project the inputs once, then reference them by name
    steps = hex_steps("_hx_lon_in", "_hx_lat_in", res, pz, parent=True)
    prev = "hx0"
    ctes = [f"hx0 AS (SELECT {keep_cols}, {lon_expr} AS _hx_lon_in, "
            f"{lat_expr} AS _hx_lat_in FROM ({src_sql}) hxsrc)"]
    for i, (name, expr) in enumerate(steps, 1):
        ctes.append(f"hx{i} AS (SELECT *, {expr} AS {name} FROM {prev})")
        prev = f"hx{i}"
    parent_sel = f", {pz}p_cell AS {parent_as}" if res > 0 else ""
    body = ",\n".join(ctes)
    return (f"WITH {body}\nSELECT {keep_cols}, {pz}cell AS {cell_as}"
            f"{parent_sel} FROM {prev}")


# ---------------------------------------------------------------------------
# numpy encoder — operation order mirrors the SQL fragments
# ---------------------------------------------------------------------------


def _forward_np(lon, lat):
    p = _P6933
    e, k0, _qp, _ = _cea_consts(p)
    phi = np.asarray(lat, dtype=np.float64) * _RAD
    sphi = np.sin(phi)
    es = e * sphi
    qs = (1.0 - p.e2) * (sphi / (1.0 - p.e2 * (sphi * sphi))
                         - (1.0 / (2.0 * e)) * np.log((1.0 - es) / (1.0 + es)))
    x = p.fe + (p.a * k0) * ((np.asarray(lon, dtype=np.float64) - p.lon0) * _RAD)
    y = p.fn + (p.a * qs) / (2.0 * k0)
    return x, y


def _plane_np(x, y, res: int):
    s, c, n = res_params(res)
    xr = x * c + y * n
    yr = y * c - x * n
    qf = ((SQRT3 / 3.0) * xr - (1.0 / 3.0) * yr) / s
    rf = ((2.0 / 3.0) * yr) / s
    sf = (-qf) - rf
    iq = np.floor(qf + 0.5).astype(np.int64)
    ir = np.floor(rf + 0.5).astype(np.int64)
    is_ = np.floor(sf + 0.5).astype(np.int64)
    dq = np.abs(iq.astype(np.float64) - qf)
    dr = np.abs(ir.astype(np.float64) - rf)
    ds = np.abs(is_.astype(np.float64) - sf)
    fix_q = (dq > dr) & (dq > ds)
    fix_r = ~fix_q & (dr > ds)
    cq = np.where(fix_q, -ir - is_, iq)
    cr = np.where(fix_r, -iq - is_, ir)
    return cq, cr


def pack(res: int, q, r):
    return (np.int64(res) * np.int64(_F_RES)
            + (np.asarray(q, np.int64) + OFF) * np.int64(_F_Q)
            + (np.asarray(r, np.int64) + OFF))


def unpack(cell):
    cell = np.asarray(cell, dtype=np.int64)
    res = cell // _F_RES
    rem = cell - res * _F_RES
    q = rem // _F_Q - OFF
    r = rem - (rem // _F_Q) * _F_Q - OFF
    return res.astype(np.int64), q.astype(np.int64), r.astype(np.int64)


def hex_encode_np(lon, lat, res: int):
    x, y = _forward_np(lon, lat)
    q, r = _plane_np(x, y, res)
    return pack(res, q, r)


def _center_np(q, r, res: int):
    """Integer axial (q, r) at ``res`` -> hex center in EASE meters
    (mirrors center_steps op-for-op)."""
    s, c, n = res_params(res)
    qd = np.asarray(q, np.float64)
    rd = np.asarray(r, np.float64)
    xc = s * (SQRT3 * (qd + rd * 0.5))
    yc = s * (1.5 * rd)
    return xc * c - yc * n, xc * n + yc * c


def hex_center_np(cell):
    """Packed cell -> (lon, lat) of the hex center; empty arrays for none."""
    from ..srs import cea_inverse

    res, q, r = unpack(cell)
    if res.size == 0:
        return np.empty(0), np.empty(0)
    res = int(res[0]) if res.ndim else int(res)
    return cea_inverse(*_center_np(q, r, res), _P6933)


def hex_parent_np(cell):
    """Packed cell -> its aperture-7 parent; an empty array for none."""
    res, q, r = unpack(cell)
    if res.size == 0:
        return res
    res = int(res[0]) if res.ndim else int(res)
    if res == 0:
        raise ValueError("res-0 cells have no parent")
    pq, pr = _plane_np(*_center_np(q, r, res), res - 1)
    return pack(res - 1, pq, pr)


def margins_np(lon, lat, res: int):
    """Minimum distances of the encode's decisions from their boundaries
    over a point set: (cube-round fraction margin, tiebreak margin).
    Asserted > 1e-6 over the driver's point sets (cross-engine libm noise
    is ~1e-14 relative; see the SRS-family discipline)."""
    x, y = _forward_np(lon, lat)
    s, c, n = res_params(res)
    xr = x * c + y * n
    yr = y * c - x * n
    qf = ((SQRT3 / 3.0) * xr - (1.0 / 3.0) * yr) / s
    rf = ((2.0 / 3.0) * yr) / s
    sf = (-qf) - rf
    m_round = 1.0
    diffs = []
    for f in (qf, rf, sf):
        fr = np.abs((f + 0.5) - np.round(f + 0.5))
        m_round = min(m_round, float(fr.min()))
        diffs.append(np.abs(np.floor(f + 0.5) - f))
    dq, dr, ds = diffs
    m_tie = min(float(np.abs(dq - dr).min()), float(np.abs(dq - ds).min()),
                float(np.abs(dr - ds).min()))
    return m_round, m_tie


# ---------------------------------------------------------------------------
# Conservative rect covers — the hex equi-join key for st_join('hex')
# ---------------------------------------------------------------------------


def res_for_deg(deg: float) -> int:
    """Coarsest resolution whose hex width (sqrt(3)·s) is no larger than
    ``deg`` degrees of equatorial EASE x — the join-key resolution that
    keeps per-rect covers O(1) cells (mirrors s2.level_for_deg)."""
    p = _P6933
    e, k0, _qp, _ = _cea_consts(p)
    m = max(deg, 1e-12) * _RAD * p.a * k0
    for res in range(MAX_RES + 1):
        s, _, _ = res_params(res)
        if SQRT3 * s <= m:
            return res
    return MAX_RES


def cover_cells_np(left, right, bottom, top, res: int):
    """Per-row conservative hex covers of lon/lat rects.

    Superset proof: every point p of the rect has its cell's CENTER within
    the circumradius s of p in the plane; the rect's plane bbox is EXACT
    because EPSG:6933 is separable and monotone per axis; so every such
    center lies in the bbox expanded by s.  The plane->axial map is
    linear, so the expanded bbox's axial extremes occur at its 4 corners;
    enumerating the integer axial bbox of those corners (then keeping
    centers inside the expanded plane bbox) yields a superset of
    {cell(p) : p in rect}.  The expansion carries a 1e-9 relative slack
    so a last-ulp owner-cell flip on a hex vertex cannot fall outside.

    Returns a list of int lists (packed ids), one per input row; a NULL
    (NaN) or non-finite rect covers nothing."""
    ok, (left, right, bottom, top) = finite_lanes(left, right, bottom, top)
    if (right < left).any():
        raise ValueError("antimeridian-wrapping rects are not supported; "
                         "split at ±180 first (flat-grid convention)")
    s, c, n = res_params(res)
    x0, y0 = _forward_np(left, bottom)
    x1, y1 = _forward_np(right, top)
    grow = s * (1.0 + 1e-9)
    xa, xb = x0 - grow, x1 + grow
    ya, yb = y0 - grow, y1 + grow

    def axial(x, y):
        xr = x * c + y * n
        yr = y * c - x * n
        return (((SQRT3 / 3.0) * xr - (1.0 / 3.0) * yr) / s,
                ((2.0 / 3.0) * yr) / s)

    qs_ = []
    rs_ = []
    for cx, cy in ((xa, ya), (xa, yb), (xb, ya), (xb, yb)):
        qf, rf = axial(cx, cy)
        qs_.append(qf)
        rs_.append(rf)
    qlo = np.floor(np.minimum.reduce(qs_)).astype(np.int64)
    qhi = np.ceil(np.maximum.reduce(qs_)).astype(np.int64)
    rlo = np.floor(np.minimum.reduce(rs_)).astype(np.int64)
    rhi = np.ceil(np.maximum.reduce(rs_)).astype(np.int64)
    out = []
    for i in range(len(left)):
        if not ok[i]:
            out.append([])
            continue
        q0 = np.arange(qlo[i], qhi[i] + 1, dtype=np.int64)
        r0 = np.arange(rlo[i], rhi[i] + 1, dtype=np.int64)
        qg = np.repeat(q0, len(r0))
        rg = np.tile(r0, len(q0))
        # keep only centers actually inside the expanded plane bbox
        px, py = _center_np(qg, rg, res)
        m = (px >= xa[i]) & (px <= xb[i]) & (py >= ya[i]) & (py <= yb[i])
        out.append(pack(res, qg[m], rg[m]).tolist())
    return out


def cover_cells_udf(res: int):
    """pandas_udf (left, right, bottom, top) -> array<bigint> covering hex
    cells — the vectorized Arrow batch encode for st_join(method='hex')."""
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("array<bigint>")
    def cover(left: pd.Series, right: pd.Series, bottom: pd.Series,
              top: pd.Series) -> pd.Series:
        return pd.Series(cover_cells_np(left.to_numpy(), right.to_numpy(),
                                        bottom.to_numpy(), top.to_numpy(),
                                        res))

    return cover


def children_np(cell: int):
    """The exactly-7 resolution+1 cells whose centers encode to ``cell``
    (the aperture-7 children).  Computed constructively: candidates are
    the 2-disk of the child cell nearest the parent center, filtered by
    parent re-encode — exact because parenthood IS center re-encode.
    All math stays in PLANE coordinates (a lon/lat round trip would clamp
    at the projection's polar edge and mis-seed extreme polar cells)."""
    res, q, r = unpack(np.array([cell]))
    res = int(res[0])
    if res >= MAX_RES:
        raise ValueError("children of MAX_RES cells are below MAX_RES")
    sq, sr = _plane_np(*_center_np(q, r, res), res + 1)
    offs = kring_offsets(2)
    qc = np.array([int(sq[0]) + dq for dq, dr in offs], dtype=np.int64)
    rc = np.array([int(sr[0]) + dr for dq, dr in offs], dtype=np.int64)
    cand = pack(res + 1, qc, rc)
    par = hex_parent_np(cand)
    out = sorted(cand[par == cell].tolist())
    if len(out) != 7:
        raise AssertionError("aperture-7 violation for cell %d" % cell)
    return out


def compact(cells):
    """Replace every complete 7-child group by its parent, recursively —
    H3's region compression (a polyfill IN-list shrinks ~7x per level).
    Input: iterable of packed ids (any mix of resolutions); output: a
    minimal sorted list covering exactly the same leaf set."""
    import collections

    cur = set(int(c) for c in cells)
    changed = True
    while changed:
        changed = False
        by_res = collections.defaultdict(list)
        for c in cur:
            r = c // _F_RES
            if r > 0:
                by_res[int(r)].append(c)
        for r, group in sorted(by_res.items(), reverse=True):
            arr = np.asarray(group, dtype=np.int64)
            parents = hex_parent_np(arr)
            cnt = collections.Counter(parents.tolist())
            full = {p for p, k in cnt.items() if k == 7}
            if not full:
                continue
            drop = {int(c) for c, p in zip(arr.tolist(), parents.tolist())
                    if p in full}
            cur -= drop
            cur |= full
            changed = True
    return sorted(cur)


def uncompact(cells, res: int):
    """Expand a (possibly compacted) cell set to uniform ``res`` — the
    inverse of compact for sets whose members are at resolution <= res."""
    out: set = set()
    frontier = [int(c) for c in cells]
    for c in frontier:
        r = int(np.asarray(c) // _F_RES)
        if r > res:
            raise ValueError("cell finer than the target resolution")
        level = [c]
        for _ in range(res - r):
            nxt = []
            for p in level:
                nxt.extend(children_np(p))
            level = nxt
        out.update(level)
    return sorted(out)


def polyfill(wkt: str, res: int):
    """Packed ids of every hex cell whose CENTER falls inside the polygon
    (H3 polyfill semantics — center containment, even-odd holes), as a
    sorted int list.  Vector geometries parse through vector/geom.py's
    even-odd ray casting; candidate centers enumerate from the polygon's
    lon/lat bbox exactly like cover_cells_np.  Driver-side helper for
    region -> cell-set expansion (zonal rollups by hex cell, region
    filters as IN-lists on the join key)."""
    from ..vector.geom import parse_wkt, points_in_polygon

    kind, rings = parse_wkt(wkt)
    if kind == "point":
        return [int(hex_encode_np(np.array([rings[0]]), np.array([rings[1]]),
                                  res)[0])]
    allpts = np.vstack([np.asarray(r, float) for r in rings])
    lo, hi = allpts[:, 0].min(), allpts[:, 0].max()
    blo, bhi = allpts[:, 1].min(), allpts[:, 1].max()
    cand = cover_cells_np(np.array([lo]), np.array([hi]),
                          np.array([blo]), np.array([bhi]), res)[0]
    cells = np.asarray(cand, dtype=np.int64)
    clon, clat = hex_center_np(cells)
    m = points_in_polygon(clon, clat, rings)
    return sorted(cells[m].tolist())


# ---------------------------------------------------------------------------
# k-rings — exact integer arithmetic on the packed id
# ---------------------------------------------------------------------------


def kring_offsets(k: int):
    """Axial offsets of the k-disk (1 + 3k(k+1) cells, hex distance <= k)."""
    out = []
    for dq in range(-k, k + 1):
        for dr in range(max(-k, -dq - k), min(k, -dq + k) + 1):
            out.append((dq, dr))
    return out


def kring_cells(cell_col, k: int):
    """Array column of the packed ids of the k-disk around ``cell_col`` —
    the id is linear in (q, r), so each neighbor is one integer add."""
    deltas = [dq * _F_Q + dr for dq, dr in kring_offsets(k)]
    c = F.col(cell_col) if isinstance(cell_col, str) else cell_col
    return F.array(*[c + F.lit(int(d)) for d in deltas])


def hex_kring_join(df: DataFrame, cell_col: str, k: int,
                   ring_col: str = "ring_cell") -> DataFrame:
    """Explode the k-disk — the advertise side of a hex-ring kNN/gap-fill
    (each row offers itself to every cell within hex distance k, one
    groupBy on the ring cell reduces; same halo-as-data pattern as
    cube.window_space)."""
    return df.withColumn(ring_col, F.explode(kring_cells(cell_col, k)))
