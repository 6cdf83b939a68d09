"""Real S2 cell index — a numpy batch encoder for Spark, a pure-Python
reference implementation, and a DuckDB SQL mirror for the driver oracle.

Replaces the integer lon/lat grid's "H3/S2 stand-in" admission
(functions/cells.py) for the INDEXING role: cell ids here follow the
published S2 geometry scheme (s2geometry.io — "S2 Cell Hierarchy"):

1. lon/lat -> unit vector (x, y, z) on the sphere;
2. cube face 0..5 = largest-|component| axis (strict >, ties to the later
   axis, negative side adds 3), gnomonic (u, v) in [-1, 1] via the
   published per-face axis table;
3. the quadratic projection s = u >= 0 ? sqrt(1+3u)/2 : 1 - sqrt(1-3u)/2
   (equalizes cell area to within ~2.1x across a face);
4. (i, j) = floor(2^30 * (s, t)) clamped to [0, 2^30-1] — one convention
   note: the reference library rounds 2^30*s - 0.5 half-even, which
   differs from floor only when 2^30*s is an exact odd integer, a case
   trig-produced doubles reach only at s in {0, 1/2, 1} where the two
   agree (even values) or clamp;
5. a level-30 Hilbert curve position over (i, j): per quad-level the
   (i-bit, j-bit) pair maps through the 4-orientation Gray-code tables
   ij->pos = [[0,1,3,2],[0,3,1,2],[2,3,1,0],[2,1,3,0]] and
   pos->orientation-delta = [swap, 0, 0, swap|invert], starting at
   orientation = face & 1;
6. 64-bit id = face<<61 | pos<<1 | 1 (leaf); the level-L cell id replaces
   trailing bits with a single 1 at bit 2*(30-L). Ids for faces 4-5
   exceed 2^63-1 and are carried in the uint64 BIT PATTERN of a signed
   64-bit long, identically in Spark (Java long) and DuckDB (BIGINT).

Why S2 and not the flat grid for the index role: ids are ordered along a
space-filling curve, so a RANGE partition by cell id IS a spatial
partition (near things share id prefixes — the north_rule's
"range-partitioned shuffles by H3 cell"), and every ancestor is a bit
prefix, so coarsening a partition key is a mask, not a recompute. The
covering section below also makes S2 cells an EQUI-JOIN key for the
st-join (st_join(method='s2')): cover_bboxes computes a provably
conservative per-face cell superset for any lon/lat rect from separable
product bounds, so the flat grid (functions/cells.py) and S2 are now
interchangeable join strategies with identical output rows.

Scale shape: one numpy batch kernel encodes every id on the engine side.
``np_point_leaf`` runs trig, the face select and the 30-step Hilbert fold
over a whole Arrow batch; ``point_leaf_udf`` wraps it in a pandas_udf, and
``s2_cell_id``, the st_join owner and ``s2_knn_join`` all call it. The
cover side (``cover_cells_udf``) folds its cells through the same
``np_leaf``. Ancestors (``s2_parent``) and tokens (``s2_token``) are plain
bit and string ops on the id column. No shuffle: the encode rides the scan
like any projection.

Validation (tests/test_s2.py): the Spark UDF path, the pure-Python
lookup-table reference (built by the recursive subdivision the C++
library documents), and the DuckDB recursive-CTE mirror agree leaf-exact
on seeded random points spanning all faces; hierarchy (parent is a bit
prefix / range containment), face placement of cardinal points, and the
hand-derived id of (0, 0) = 2^60 + 1 pin the convention. Byte-equality
against Google's library binaries is untestable in this container (no s2
package); the convention implemented is the published one above.

Reference parity note: the gdalcubes reference has no cell index at all —
it streams whole images through GDAL (src/image_collection.cpp:1324-1394
does a full-table bbox scan per chunk); the index family here is the
scale path the north rule asks for.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

MAX_LEVEL = 30
_LIMIT = 1 << MAX_LEVEL  # 2^30 ij cells per face axis

# ij (= 2*i_bit + j_bit) -> Hilbert sub-position, per orientation 0..3
# (orientation bits: 1 = swap axes, 2 = invert bits).
_IJ_TO_POS = ((0, 1, 3, 2), (0, 3, 1, 2), (2, 3, 1, 0), (2, 1, 3, 0))
# Hilbert sub-position -> orientation delta (xor).
_POS_TO_ORIENT = (1, 0, 0, 3)
# Hilbert sub-position -> ij, per orientation (inverse of _IJ_TO_POS).
_POS_TO_IJ = ((0, 1, 3, 2), (0, 2, 3, 1), (3, 2, 0, 1), (3, 1, 0, 2))

_FACE_SHIFT = 1 << 61  # face field multiplier in the 64-bit id


def lsb_for_level(level: int) -> int:
    """The lowest set bit of any cell id at ``level`` (the trailing 1)."""
    return 1 << (2 * (MAX_LEVEL - level))


# ---------------------------------------------------------------- pure python

def _face_uv(x: float, y: float, z: float):
    ax, ay, az = abs(x), abs(y), abs(z)
    if ax > ay:
        m = 0 if ax > az else 2
    else:
        m = 1 if ay > az else 2
    face = m + (3 if (x, y, z)[m] < 0 else 0)
    if face == 0:
        u, v = y / x, z / x
    elif face == 1:
        u, v = -x / y, z / y
    elif face == 2:
        u, v = -x / z, -y / z
    elif face == 3:
        u, v = z / x, y / x
    elif face == 4:
        u, v = z / y, -x / y
    else:
        u, v = -y / z, -x / z
    return face, u, v


def _st(u: float) -> float:
    return 0.5 * math.sqrt(1.0 + 3.0 * u) if u >= 0 else 1.0 - 0.5 * math.sqrt(1.0 - 3.0 * u)


def _ij(s: float) -> int:
    return max(0, min(_LIMIT - 1, int(math.floor(_LIMIT * s))))


_LOOKUP_POS = None  # key (i4<<6)|(j4<<2)|orient -> (pos8<<2)|orient_out


def _build_lookup():
    """4-bit-step lookup table built by recursive curve subdivision — the
    construction the C++ library documents; deliberately a DIFFERENT
    algorithmic route than the numpy/SQL per-level folds so agreement
    between them is evidence, not tautology."""
    global _LOOKUP_POS
    if _LOOKUP_POS is not None:
        return _LOOKUP_POS
    table = [0] * 1024

    def rec(level, i, j, orig, pos, orient):
        if level == 4:
            table[(i << 6) | (j << 2) | orig] = (pos << 2) | orient
            return
        for p in range(4):
            ij = _POS_TO_IJ[orient][p]
            rec(level + 1, (i << 1) | (ij >> 1), (j << 1) | (ij & 1),
                orig, (pos << 2) | p, orient ^ _POS_TO_ORIENT[p])

    for o in range(4):
        rec(0, 0, 0, o, 0, o)
    _LOOKUP_POS = table
    return table


def py_cell_id(lon: float, lat: float, level: int = MAX_LEVEL) -> int:
    """Pure-Python S2 cell id (signed-64 bit pattern), the test reference."""
    lonr, latr = math.radians(lon), math.radians(lat)
    x = math.cos(latr) * math.cos(lonr)
    y = math.cos(latr) * math.sin(lonr)
    z = math.sin(latr)
    face, u, v = _face_uv(x, y, z)
    i, j = _ij(_st(u)), _ij(_st(v))
    table = _build_lookup()
    orient = face & 1
    pos = 0
    # 8 lookup steps of 4 bits; the top step's 2 leading zero quad-levels
    # are a net no-op (pos gains high zeros, orientation self-cancels).
    for k in range(7, -1, -1):
        i4 = (i >> (k * 4)) & 15
        j4 = (j >> (k * 4)) & 15
        r = table[(i4 << 6) | (j4 << 2) | orient]
        pos = (pos << 8) | (r >> 2)
        orient = r & 3
    pos &= (1 << 60) - 1
    uid = (face << 61) | (pos << 1) | 1
    uid = _py_parent(uid, level)
    return uid - (1 << 64) if uid >= 1 << 63 else uid


def _py_parent(uid: int, level: int) -> int:
    lsb = lsb_for_level(level)
    return (uid & ~((lsb << 1) - 1)) | lsb


def py_token(cell_id: int) -> str:
    """Canonical S2 token: 16-digit lowercase hex of the uint64 id with
    trailing zeros stripped."""
    u = cell_id & ((1 << 64) - 1)
    return format(u, "016x").rstrip("0") or "X"


# ------------------------------------------------------------------- spark

def s2_cell_id(lon: Column, lat: Column, level: int = MAX_LEVEL) -> Column:
    """S2 cell id of a lon/lat point: the numpy batch leaf
    (:func:`point_leaf_udf`) masked to ``level``. NULL for a NULL or
    non-finite coordinate."""
    return s2_parent(point_leaf_udf()(lon, lat), level)


def s2_parent(cell_id: Column, level: int) -> Column:
    """Ancestor cell id at ``level`` — a pure bit mask (prefix property)."""
    lsb = lsb_for_level(level)
    return cell_id.bitwiseAND(F.lit(-(lsb << 1)).cast("long")).bitwiseOR(
        F.lit(lsb).cast("long")
    )


def s2_token(cell_id: Column) -> Column:
    """Canonical hex token (uint64 hex, trailing zeros stripped)."""
    full = F.lpad(F.lower(F.hex(cell_id)), 16, "0")
    return F.regexp_replace(full, "0+$", "")


def range_partition_by_cell(df: DataFrame, cell_col: str, n: int) -> DataFrame:
    """Range-partition by S2 cell id: because ids are Hilbert-ordered,
    contiguous id ranges are spatially contiguous regions — each of the
    ``n`` partitions holds a compact patch of the sphere (the locality
    property that makes downstream per-partition work — tile assembly,
    neighbor joins at matched levels, pixel decode — touch co-located
    data). Spark samples range bounds, so skewed footprint density
    yields balanced partitions WITHOUT salting: dense areas simply span
    more, narrower, ranges."""
    return df.repartitionByRange(n, F.col(cell_col))


# ------------------------------------------------------------------ duckdb

def duckdb_s2_ctes(src_sql: str, lon: str, lat: str, level: int,
                   key_cols: str) -> str:
    """DuckDB mirror of :func:`s2_cell_id` as a WITH-RECURSIVE CTE chain.

    ``src_sql`` names a relation; ``key_cols`` are carried through the
    recursion. Emits CTEs ``_s2ij`` / ``_s2h`` / ``s2out`` where
    ``s2out(key_cols, leaf, cell)`` holds the leaf id and the level-
    ``level`` ancestor. Every arithmetic stage is the same IEEE double /
    two's-complement int64 op sequence as :func:`np_point_leaf`, so ids
    agree bit-for-bit (face<<61 is emitted as the signed-wrap CASE since
    DuckDB's << checks overflow rather than wrapping)."""
    lsb = lsb_for_level(level)
    lim = _LIMIT - 1
    ij2pos = ", ".join(str(v) for row in _IJ_TO_POS for v in row)
    pos2or = ", ".join(str(v) for v in _POS_TO_ORIENT)
    return f"""
_s2src AS ({src_sql}),
_s2xyz AS (
  SELECT {key_cols},
         cos(radians({lat})) * cos(radians({lon})) AS _x,
         cos(radians({lat})) * sin(radians({lon})) AS _y,
         sin(radians({lat})) AS _z
  FROM _s2src
),
_s2f AS (
  SELECT *, CASE WHEN (CASE _m WHEN 0 THEN _x WHEN 1 THEN _y ELSE _z END) < 0
                 THEN _m + 3 ELSE _m END AS _face
  FROM (SELECT *, CASE WHEN abs(_x) > abs(_y)
                       THEN CASE WHEN abs(_x) > abs(_z) THEN 0 ELSE 2 END
                       ELSE CASE WHEN abs(_y) > abs(_z) THEN 1 ELSE 2 END
                  END AS _m FROM _s2xyz) fm
),
_s2st AS (
  SELECT {key_cols}, _face,
         CASE WHEN _u >= 0 THEN 0.5 * sqrt(1.0 + 3.0 * _u)
              ELSE 1.0 - 0.5 * sqrt(1.0 - 3.0 * _u) END AS _s,
         CASE WHEN _v >= 0 THEN 0.5 * sqrt(1.0 + 3.0 * _v)
              ELSE 1.0 - 0.5 * sqrt(1.0 - 3.0 * _v) END AS _t
  FROM (SELECT *,
          CASE _face WHEN 0 THEN _y/_x WHEN 1 THEN -_x/_y WHEN 2 THEN -_x/_z
                     WHEN 3 THEN _z/_x WHEN 4 THEN _z/_y ELSE -_y/_z END AS _u,
          CASE _face WHEN 0 THEN _z/_x WHEN 1 THEN _z/_y WHEN 2 THEN -_y/_z
                     WHEN 3 THEN _y/_x WHEN 4 THEN -_x/_y ELSE -_x/_z END AS _v
        FROM _s2f) uv
),
_s2ij AS (
  SELECT {key_cols}, CAST(_face AS BIGINT) AS _face,
         greatest(0, least({lim}, CAST(floor({float(_LIMIT)} * _s) AS BIGINT))) AS _i,
         greatest(0, least({lim}, CAST(floor({float(_LIMIT)} * _t) AS BIGINT))) AS _j
  FROM _s2st
),
_s2h AS (
  SELECT {key_cols}, _face, _i AS _ii, _j AS _jj,
         _face & 1 AS _o, CAST(0 AS BIGINT) AS _pos, 0 AS _k
  FROM _s2ij
  UNION ALL
  SELECT {key_cols}, _face,
         (_ii * 2) & {lim}, (_jj * 2) & {lim},
         xor(_o, ([{pos2or}])[CAST(_p AS INT) + 1]),
         _pos * 4 + _p, _k + 1
  FROM (SELECT *,
          ([{ij2pos}])[CAST(_o * 4 + ((_ii >> {MAX_LEVEL - 1}) & 1) * 2
                            + ((_jj >> {MAX_LEVEL - 1}) & 1) AS INT) + 1] AS _p
        FROM _s2h WHERE _k < {MAX_LEVEL}) hs
),
s2out AS (
  SELECT {key_cols}, _leaf AS leaf, (_leaf & {-(lsb << 1)}) | {lsb} AS cell
  FROM (SELECT {key_cols},
          CASE WHEN _face >= 4 THEN (_face - 8) * {_FACE_SHIFT // 4}
               ELSE _face * {_FACE_SHIFT // 4} END * 4 + _pos * 2 + 1 AS _leaf
        FROM _s2h WHERE _k = {MAX_LEVEL}) lf
)"""


# ----------------------------------------------------------------- covering

_POLAR_LAT = math.degrees(math.atan(1.0 / math.sqrt(2.0)))  # 35.2643896...


def _tanl(d):
    return math.tan(math.radians(d))


def _cotl(d):
    t = math.tan(math.radians(d))
    return math.inf if t == 0.0 else 1.0 / t


def _secl(d):
    return 1.0 / math.cos(math.radians(d))


def _cscl(d):
    return 1.0 / math.sin(math.radians(d))


def _neg(fn):
    return lambda d: -fn(d)


def _lon_range(fn, poles, crit, a, b):
    """Range of ``fn`` over [a, b]: endpoint + interior-critical-point
    evaluation; (-inf, inf) when a pole lies strictly inside (the caller's
    clamp to [-1, 1] then covers the whole axis — conservative)."""
    for p in poles:
        if a < p < b:
            return (-math.inf, math.inf)
    vals = [fn(a), fn(b)] + [fn(c) for c in crit if a < c < b]
    return (min(vals), max(vals))


def _lat_range(fn, a, b):
    va, vb = fn(a), fn(b)  # every per-face lat factor is monotone
    return (min(va, vb), max(va, vb))


_ONE = lambda _d: 1.0  # noqa: E731

# face -> (lon slabs, lat clip, u = latf*long, v = latf*long) where each
# axis is a SEPARABLE product latf(lat) * lonf(lon); lonf carries its pole
# set (range blows up) and interior critical points (extremum inside slab).
# Derived from the gnomonic axis table in _face_uv; separability is what
# makes endpoint/critical-point evaluation a RIGOROUS bound.
_FACE_SPECS = {
    0: ([(-45.0, 45.0)], None,
        (_ONE, _tanl, (), ()), (_tanl, _secl, (-90.0, 90.0), (0.0,))),
    1: ([(45.0, 135.0)], None,
        (_ONE, _neg(_cotl), (0.0, 180.0), ()), (_tanl, _cscl, (0.0, 180.0), (90.0,))),
    3: ([(135.0, 180.0), (-180.0, -135.0)], None,
        (_tanl, _secl, (-90.0, 90.0), (180.0, -180.0)), (_ONE, _tanl, (-90.0, 90.0), ())),
    4: ([(-135.0, -45.0)], None,
        (_tanl, _cscl, (0.0, -180.0, 180.0), (-90.0,)), (_ONE, _neg(_cotl), (0.0, -180.0, 180.0), ())),
    2: ([(-180.0, 180.0)], (_POLAR_LAT, 90.0),
        (_neg(_cotl), (lambda d: math.cos(math.radians(d))), (), (0.0, 180.0, -180.0)),
        (_neg(_cotl), (lambda d: math.sin(math.radians(d))), (), (90.0, -90.0))),
    5: ([(-180.0, 180.0)], (-90.0, -_POLAR_LAT),
        (_neg(_cotl), (lambda d: math.sin(math.radians(d))), (), (90.0, -90.0)),
        (_neg(_cotl), (lambda d: math.cos(math.radians(d))), (), (0.0, 180.0, -180.0))),
}


def _prod_range(latr, lonr):
    combos = [a * b for a in latr for b in lonr if not (a == 0.0 and math.isinf(b))]
    combos = combos or [0.0]
    return (min(combos), max(combos))


def _uv_to_irange(lo, hi, level):
    # 1e-9 uv padding: keeps the cover a superset even when another
    # engine's trig (JVM vs libm) lands a corner a few ulps across a cell
    # boundary — far below any level<=22 cell size (2/2^22 ~ 5e-7), so at
    # most one extra cell row, and only for boundary-touching rects
    shift = MAX_LEVEL - level
    lo_i = _ij(_st(max(-1.0, min(1.0, lo - 1e-9)))) >> shift
    hi_i = _ij(_st(max(-1.0, min(1.0, hi + 1e-9)))) >> shift
    return lo_i, hi_i


def cover_bboxes(lon_lo, lon_hi, lat_lo, lat_hi, level):
    """Per-face (face, i_lo, i_hi, j_lo, j_hi) level-``level`` index ranges
    whose union is a SUPERSET of every level cell intersecting the lon/lat
    rect (conservative separable-product bounds per face). No antimeridian
    wrap: requires lon_lo <= lon_hi."""
    if lon_lo > lon_hi or lat_lo > lat_hi:
        raise ValueError("empty or wrapping rect")
    out = []
    for face, (slabs, latclip, uspec, vspec) in _FACE_SPECS.items():
        la, lb = lat_lo, lat_hi
        if latclip is not None:
            la, lb = max(la, latclip[0]), min(lb, latclip[1])
            if la > lb:
                continue
        for sa, sb in slabs:
            a, b = max(lon_lo, sa), min(lon_hi, sb)
            if a > b:
                continue
            ulat, ulon, upoles, ucrit = uspec
            vlat, vlon, vpoles, vcrit = vspec
            ur = _prod_range(_lat_range(ulat, la, lb), _lon_range(ulon, upoles, ucrit, a, b))
            vr = _prod_range(_lat_range(vlat, la, lb), _lon_range(vlon, vpoles, vcrit, a, b))
            i_lo, i_hi = _uv_to_irange(ur[0], ur[1], level)
            j_lo, j_hi = _uv_to_irange(vr[0], vr[1], level)
            out.append((face, i_lo, i_hi, j_lo, j_hi))
    return out


def py_cover_rect(lon_lo, lon_hi, lat_lo, lat_hi, level):
    """Sorted unique level cell ids (signed-64 bit patterns) conservatively
    covering the rect — the pure-Python reference for cover_cells_udf."""
    shift = MAX_LEVEL - level
    lsb = lsb_for_level(level)
    ids = set()
    for face, i_lo, i_hi, j_lo, j_hi in cover_bboxes(lon_lo, lon_hi, lat_lo, lat_hi, level):
        for iL in range(i_lo, i_hi + 1):
            for jL in range(j_lo, j_hi + 1):
                uid = _leaf_uid_py(face, iL << shift, jL << shift)
                uid = (uid & ~((lsb << 1) - 1)) | lsb
                ids.add(uid - (1 << 64) if uid >= 1 << 63 else uid)
    return sorted(ids)


def _leaf_uid_py(face, i, j):
    table = _build_lookup()
    orient = face & 1
    pos = 0
    for k in range(7, -1, -1):
        r = table[(((i >> (k * 4)) & 15) << 6) | (((j >> (k * 4)) & 15) << 2) | orient]
        pos = (pos << 8) | (r >> 2)
        orient = r & 3
    return (face << 61) | ((pos & ((1 << 60) - 1)) << 1) | 1


def level_for_deg(deg: float) -> int:
    """Coarsest level whose cells are no larger than ~``deg`` degrees on a
    face side (face ~ 90 deg across): the equi-join key resolution that
    keeps per-rect covers O(1) cells for rects of that size."""
    lv = int(math.floor(math.log2(90.0 / max(deg, 1e-12))))
    return max(0, min(MAX_LEVEL, lv))


# ------------------------------------------------- vectorized Arrow encode

_NP_IJ2POS = None
_NP_POS2OR = None


def _np_tables():
    global _NP_IJ2POS, _NP_POS2OR
    if _NP_IJ2POS is None:
        _NP_IJ2POS = np.array([v for row in _IJ_TO_POS for v in row], dtype=np.uint64)
        _NP_POS2OR = np.array(_POS_TO_ORIENT, dtype=np.uint64)
    return _NP_IJ2POS, _NP_POS2OR


def np_leaf(face, i, j):
    """Vectorized leaf ids for (face, i, j) uint64 arrays — the Arrow-batch
    fold behind point_leaf_udf and cover_cells_udf (north_rule: batched cell
    encoding via vectorized Arrow UDFs). Same per-level Gray-code fold as
    the DuckDB CTE; returns int64 bit patterns."""
    ij2pos, pos2or = _np_tables()
    face = face.astype(np.uint64)
    ii = i.astype(np.uint64)
    jj = j.astype(np.uint64)
    o = face & np.uint64(1)
    pos = np.zeros(len(ii), dtype=np.uint64)
    lim = np.uint64(_LIMIT - 1)
    for _ in range(MAX_LEVEL):
        bi = (ii >> np.uint64(MAX_LEVEL - 1)) & np.uint64(1)
        bj = (jj >> np.uint64(MAX_LEVEL - 1)) & np.uint64(1)
        p = ij2pos[(o << np.uint64(2)) | (bi << np.uint64(1)) | bj]
        o = o ^ pos2or[p]
        pos = (pos << np.uint64(2)) | p
        ii = (ii << np.uint64(1)) & lim
        jj = (jj << np.uint64(1)) & lim
    uid = (face << np.uint64(61)) | (pos << np.uint64(1)) | np.uint64(1)
    return uid.view(np.int64)


def np_point_leaf(lon, lat):
    """Vectorized (numpy) leaf ids for finite lon/lat arrays — the point
    encoder behind every engine-side S2 id (same float pipeline as
    ``py_cell_id``: xyz -> face/uv -> st -> ij, then the shared ``np_leaf``
    integer fold). Equality with py_cell_id over random + bench point sets
    is pinned in tests/test_s2_knn.py."""
    lon = np.radians(np.asarray(lon, np.float64))
    lat = np.radians(np.asarray(lat, np.float64))
    cl = np.cos(lat)
    x, y, z = cl * np.cos(lon), cl * np.sin(lon), np.sin(lat)
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    m = np.where(ax > ay, np.where(ax > az, 0, 2), np.where(ay > az, 1, 2))
    comp = np.select([m == 0, m == 1], [x, y], z)
    face = m + np.where(comp < 0.0, 3, 0)
    def _st_np(t):
        # np.where evaluates both arms; out-of-domain lanes are discarded
        with np.errstate(divide="ignore", invalid="ignore"):
            return np.where(t >= 0.0, 0.5 * np.sqrt(1.0 + 3.0 * t),
                            1.0 - 0.5 * np.sqrt(1.0 - 3.0 * t))

    def _ij_np(s):
        return np.clip(np.floor(_LIMIT * s), 0, _LIMIT - 1).astype(np.uint64)

    with np.errstate(divide="ignore", invalid="ignore"):
        u = np.select([face == 0, face == 1, face == 2, face == 3, face == 4],
                      [y / x, -x / y, -x / z, z / x, z / y], -y / z)
        v = np.select([face == 0, face == 1, face == 2, face == 3, face == 4],
                      [z / x, z / y, -y / z, y / x, -x / y], -x / z)
    return np_leaf(face.astype(np.uint64), _ij_np(_st_np(u)), _ij_np(_st_np(v)))


def finite_lanes(*cols):
    """(ok, arrays): ``ok`` marks the rows whose inputs are all finite (a
    NULL arrives from Arrow as NaN); ``arrays`` are the inputs as float64
    with every other row zeroed, so a kernel never computes on NaN or inf."""
    arrs = [np.asarray(c, dtype=np.float64) for c in cols]
    ok = np.logical_and.reduce([np.isfinite(a) for a in arrs])
    return ok, [np.where(ok, a, 0.0) for a in arrs]


def nullable_ids(ids, ok) -> pd.Series:
    """int64 ids as a bigint Series, NULL wherever ``ok`` is False."""
    return pd.Series(pd.arrays.IntegerArray(np.asarray(ids, np.int64), ~ok))


def point_leaf_udf():
    """pandas_udf (lon, lat) -> leaf cell id via the numpy batch kernel;
    NULL for a NULL or non-finite coordinate."""
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("bigint")
    def leaf(lon: pd.Series, lat: pd.Series) -> pd.Series:
        ok, (x, y) = finite_lanes(lon, lat)
        return nullable_ids(np_point_leaf(x, y), ok)

    return leaf


def cover_cells_udf(level: int):
    """pandas_udf (left, right, bottom, top) -> array<long> of covering
    cell ids at ``level``. Per-row range math is trivial Python; the
    Hilbert encode over the batch's concatenated cells runs once through
    the vectorized numpy fold. A NULL or non-finite rect covers nothing."""
    from pyspark.sql.pandas.functions import pandas_udf

    shift = MAX_LEVEL - level
    lsb = lsb_for_level(level)
    mask = ~((lsb << 1) - 1) & ((1 << 64) - 1)

    @pandas_udf("array<bigint>")
    def cover(left: pd.Series, right: pd.Series, bottom: pd.Series, top: pd.Series) -> pd.Series:
        faces, iis, jjs, rowid = [], [], [], []
        ok, _ = finite_lanes(left, right, bottom, top)
        for r, (lo, hi, blo, bhi) in enumerate(zip(left, right, bottom, top)):
            if not ok[r]:
                continue
            for face, i_lo, i_hi, j_lo, j_hi in cover_bboxes(lo, hi, blo, bhi, level):
                for iL in range(i_lo, i_hi + 1):
                    for jL in range(j_lo, j_hi + 1):
                        faces.append(face)
                        iis.append(iL << shift)
                        jjs.append(jL << shift)
                        rowid.append(r)
        if faces:
            leaf = np_leaf(np.asarray(faces, dtype=np.uint64),
                           np.asarray(iis, dtype=np.uint64),
                           np.asarray(jjs, dtype=np.uint64))
            cells = ((leaf.view(np.uint64) & np.uint64(mask)) | np.uint64(lsb)).view(np.int64)
        else:
            cells = np.empty(0, dtype=np.int64)
        out = [[] for _ in range(len(left))]
        for r, c in zip(rowid, cells.tolist()):
            out[r].append(c)
        return pd.Series([sorted(set(v)) for v in out])

    return cover


# ------------------------------------------------------------ geo kNN join

def haversine_deg(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Great-circle central angle in DEGREES (haversine form). The exact
    op sequence is mirrored by knn_oracle_sql for cross-engine equality."""
    dla = F.radians(lat2 - lat1) / 2.0
    dlo = F.radians(lon2 - lon1) / 2.0
    h = F.sin(dla) * F.sin(dla) + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlo) * F.sin(dlo)
    return F.degrees(2.0 * F.asin(F.sqrt(h)))


def _disc_bbox_cols(lon: Column, lat: Column, r_deg: float):
    """Bounding box of the great-circle disc of radius ``r_deg`` around a
    point (the standard bounding-coordinates construction: lat +- r, lon +-
    asin(sin r / cos lat)), plus a flag for whether the box provably covers
    the whole disc (false near the poles / antimeridian -> the caller must
    not mark such points resolved from box candidates alone)."""
    r = float(r_deg) * (1.0 + 1e-12) + 1e-12
    rr = math.radians(r)
    sin_r = math.sin(min(rr, math.pi / 2))
    dlon = F.when(
        F.abs(lat) + F.lit(r) < 89.9,
        F.degrees(F.asin(F.least(F.lit(1.0), F.lit(sin_r) / F.cos(F.radians(lat))))),
    ).otherwise(F.lit(360.0))
    left = lon - dlon
    right = lon + dlon
    bottom = lat - F.lit(r)
    top = lat + F.lit(r)
    full = (left >= -180.0) & (right <= 180.0) & (F.abs(lat) + F.lit(r) < 89.9)
    return (
        F.greatest(F.lit(-180.0), left),
        F.least(F.lit(180.0), right),
        F.greatest(F.lit(-89.999999), bottom),
        F.least(F.lit(89.999999), top),
        full,
    )


def s2_knn_join(
    a: DataFrame,
    b: DataFrame,
    k: int,
    a_id: str = "a_id",
    b_id: str = "b_id",
    lon: str = "lon",
    lat: str = "lat",
    init_radius_deg: float = 1.0,
    max_rounds: int = 6,
    exclude_self: bool = False,
) -> DataFrame:
    """EXACT k-nearest-neighbor join between two point sets on the sphere
    (the north_rule's "kNN neighbor lookup for gap-filling"), S2-bucketed:

    per round, every unresolved query point covers the bounding box of its
    radius-r disc with S2 cells (cover_cells_udf) and equi-joins candidates
    whose cell matches (b side: one batch-encoded leaf per point); candidates
    rank by (haversine, b_id). A point is RESOLVED once its k-th candidate
    distance is <= r with the disc provably inside the covered box — then
    no non-candidate can outrank it. Unresolved points double r (sparse
    neighborhoods escalate geometrically); anything left after
    ``max_rounds`` falls back to brute force, so the result is exact for
    every input. Output: (a_id, b_id, rank, dist_deg), independent of the
    rounds taken — strategy-free semantics a SQL window replays.

    Scale shape: each round is one cover explode + one cell equi-join +
    one per-a window over <= covered candidates; b never broadcasts, the
    frontier shrinks geometrically, and the join key is the Hilbert cell
    (range-partitionable, AQE-skew-splittable). The brute-force tail only
    ever sees the pathological residue (empty regions, poles).

    Note this function is EAGER: the radius-doubling loop needs each
    round's resolved set to build the next frontier, so calling it runs
    Spark jobs immediately (eager localCheckpoints), and round results
    live in executor storage with truncated lineage — on a cluster,
    executor loss after a round means rerunning the join, not silent
    recompute. The cost of exactness-with-early-exit; the one-shot
    knn_join_bruteforce / knn_join_ivf stay fully lazy."""
    from pyspark.sql.window import Window

    from ..partition import spread

    # metadata-thin point tables often arrive as 1-3 scan partitions; both
    # sides feed per-row kernels (cover explode, leaf encode), so widen them
    # to session parallelism first (a round-robin shuffle of tiny rows —
    # partition.spread is a no-op on real-scale many-partition inputs)
    aa = spread(a.select(F.col(a_id).alias("_aid"), F.col(lon).alias("_alon"), F.col(lat).alias("_alat")))
    bb = spread(b.select(F.col(b_id).alias("_bid"), F.col(lon).alias("_blon"), F.col(lat).alias("_blat")))
    # one leaf encode of the b side, materialized once: every round's
    # bucket key is then a bit MASK of the leaf (s2_parent), not a re-run
    # of the 30-step Hilbert fold over all of b
    bb = bb.withColumn(
        "_bleaf", point_leaf_udf()(F.col("_blon"), F.col("_blat"))
    ).localCheckpoint(eager=True)

    dist = haversine_deg(F.col("_alon"), F.col("_alat"), F.col("_blon"), F.col("_blat"))
    rank_w = Window.partitionBy("_aid").orderBy(F.col("_dist").asc(), F.col("_bid").asc())
    out_cols = ["_aid", "_bid", "_rank", "_dist"]

    def topk(cand: DataFrame) -> DataFrame:
        if exclude_self:
            cand = cand.filter(F.col("_aid") != F.col("_bid"))
        ranked = cand.withColumn("_dist", dist).withColumn(
            "_rank", F.row_number().over(rank_w)
        )
        return ranked.filter(F.col("_rank") <= k)

    frontier = aa
    pieces = []
    r = float(init_radius_deg)
    for _ in range(max_rounds):
        # two levels finer than the coarsest cover: candidates ~= the disc
        # bbox's area instead of its cell-rounded over-cover (measured 2.1x
        # fewer candidate pairs -> 30.9 -> 14.7 s at the 10x replay, equal
        # at sf0.1; the cover stays O(25) cells/point at any r and the
        # resolved-proof is level-independent)
        level = min(MAX_LEVEL, level_for_deg(2.0 * r) + 2)
        cov = cover_cells_udf(level)
        left_c, right_c, bot_c, top_c, full_c = _disc_bbox_cols(
            F.col("_alon"), F.col("_alat"), r
        )
        a_cells = frontier.withColumn("_full", full_c).withColumn(
            "cell", F.explode(cov(left_c, right_c, bot_c, top_c))
        )
        b_cells = bb.withColumn("cell", s2_parent(F.col("_bleaf"), level)).drop("_bleaf")
        # no dedup shuffle needed: a's cover is a DISTINCT cell set and b
        # carries exactly one cell, so each (a, b) pair joins on at most
        # one shared cell value
        got = topk(a_cells.join(b_cells, "cell").drop("cell"))
        # materialize the round's ranked candidates ONCE: done_ids, the
        # surviving piece, and the final union all read this same result
        # (without this the whole cover+join+window chain re-executes at
        # collection time — measured 35 s -> single-digit s at sf0.1)
        got = got.localCheckpoint(eager=True)
        kth = got.groupBy("_aid").agg(
            F.max("_dist").alias("_kd"), F.count("*").alias("_n"), F.first("_full").alias("_f")
        )
        done_ids = kth.filter((F.col("_n") >= k) & (F.col("_kd") <= r) & F.col("_f")).select("_aid")
        pieces.append(got.join(done_ids, "_aid", "leftsemi").select(out_cols))
        frontier = frontier.join(done_ids, "_aid", "leftanti")
        frontier = frontier.localCheckpoint(eager=True)
        if frontier.isEmpty():
            break
        r *= 2.0
    else:
        pieces.append(topk(frontier.crossJoin(bb)).select(out_cols))

    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionAll(p)
    return out.select(
        F.col("_aid").alias(a_id), F.col("_bid").alias(b_id),
        F.col("_rank").alias("rank"), F.col("_dist").alias("dist_deg"),
    )


def knn_dist_sql(alon: str, alat: str, blon: str, blat: str) -> str:
    """DuckDB mirror of haversine_deg — identical IEEE op order."""
    return (
        f"degrees(2.0 * asin(sqrt("
        f"sin(radians({blat} - {alat}) / 2.0) * sin(radians({blat} - {alat}) / 2.0)"
        f" + cos(radians({alat})) * cos(radians({blat}))"
        f" * sin(radians({blon} - {alon}) / 2.0) * sin(radians({blon} - {alon}) / 2.0))))"
    )
