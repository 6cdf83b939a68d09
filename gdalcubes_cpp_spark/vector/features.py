"""Vector file ingest — the OGR-source analog for extract_geom / zonal /
filter_geom (the reference opens any OGR datasource and iterates layer
features, src/extract_geom.cpp:33-218, layer/SRS handling :68-113; our
vector operators take a features DataFrame with ``fid``/``wkt`` columns).

Two public formats, both parsed from their public specifications with no
vector library in the container:

- **GeoJSON** (RFC 7946): pure-json parse; geometries are WGS84 by
  definition (§4) — Point / MultiPoint / LineString / MultiLineString /
  Polygon / MultiPolygon (+ GeometryCollection flattening).
- **ESRI Shapefile** (.shp + .dbf [+ .prj], ESRI Shapefile Technical
  Description, July 1998): big-endian record frames, little-endian
  geometry; ring orientation (outer CW, holes CCW) classified by signed
  area and holes assigned to the containing outer ring; Z/M variants read
  their XY prefix (the arrays follow and are skipped). dBASE III .dbf
  attributes (C/N/F/L/D fields) ride along; a .prj sidecar names the SRS.

Output schema is uniform — ``fid bigint, wkt string, props string`` —
with properties/attributes carried as one JSON string column so a single
schema covers any source (pull typed fields with ``F.get_json_object``).

Scale: one file parses on the driver (exactly the reference's OGR open —
feature tables are metadata-sized next to the raster side). A LIST of
paths fans out one-file-per-task through mapInPandas, so a directory of
ten thousand tiles' GeoJSON sidecars ingests without a driver bottleneck;
fids are made globally unique by a per-file hash offset.
"""

from __future__ import annotations

import json
import struct

import numpy as np


# ---------------------------------------------------------------- GeoJSON

def _ring_wkt(ring) -> str:
    pts = ", ".join(f"{float(x)!r} {float(y)!r}" for x, y, *_ in ring)
    return f"({pts})"


def _geojson_geom_wkt(g: dict) -> list[str]:
    """One GeoJSON geometry -> WKT strings (GeometryCollection flattens)."""
    t = g.get("type")
    c = g.get("coordinates")
    if t == "Point":
        return [f"POINT ({float(c[0])!r} {float(c[1])!r})"]
    if t == "MultiPoint":
        return [f"MULTIPOINT ({', '.join(f'{float(p[0])!r} {float(p[1])!r}' for p in c)})"]
    if t == "LineString":
        return [f"LINESTRING {_ring_wkt(c)}"]
    if t == "MultiLineString":
        return [f"MULTILINESTRING ({', '.join(_ring_wkt(l) for l in c)})"]
    if t == "Polygon":
        return [f"POLYGON ({', '.join(_ring_wkt(r) for r in c)})"]
    if t == "MultiPolygon":
        polys = ", ".join(
            f"({', '.join(_ring_wkt(r) for r in poly)})" for poly in c)
        return [f"MULTIPOLYGON ({polys})"]
    if t == "GeometryCollection":
        out = []
        for sub in g.get("geometries", []):
            out.extend(_geojson_geom_wkt(sub))
        return out
    raise ValueError(f"unsupported GeoJSON geometry type {t!r}")


def geojson_rows(text: str | bytes) -> list[tuple]:
    """GeoJSON document -> [(fid, wkt, props_json)]. Accepts a
    FeatureCollection, a single Feature, or a bare geometry. Feature
    ``id`` is honored when integral; otherwise fids are sequential."""
    doc = json.loads(text)
    feats = (doc["features"] if doc.get("type") == "FeatureCollection"
             else [doc] if doc.get("type") == "Feature"
             else [{"type": "Feature", "geometry": doc, "properties": {}}])
    rows = []
    for i, f in enumerate(feats):
        geom = f.get("geometry")
        if geom is None:
            continue
        fid = f.get("id", i)
        if not isinstance(fid, (int, np.integer)):
            fid = i
        props = json.dumps(f.get("properties") or {}, sort_keys=True)
        for w in _geojson_geom_wkt(geom):
            rows.append((int(fid), w, props))
    return rows


# --------------------------------------------------------------- Shapefile

_SHP_XY_BASE = {1: 1, 11: 1, 21: 1,     # Point / PointZ / PointM
                3: 3, 13: 3, 23: 3,     # PolyLine + Z/M
                5: 5, 15: 5, 25: 5,     # Polygon + Z/M
                8: 8, 18: 8, 28: 8}     # MultiPoint + Z/M


def _signed_area(pts: np.ndarray) -> float:
    x, y = pts[:, 0], pts[:, 1]
    return 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


def _point_in_ring(px: float, py: float, ring: np.ndarray) -> bool:
    from .geom import points_in_ring

    return bool(points_in_ring(np.array([px]), np.array([py]), ring)[0])


def _polygon_wkt(parts: list[np.ndarray]) -> str:
    """Shapefile polygon rings -> WKT. Spec: outer rings are clockwise
    (negative signed area in the x-right/y-up plane), holes counter-
    clockwise; holes attach to the outer ring containing them."""
    outers = []   # [rings]
    holes = []
    for r in parts:
        (outers if _signed_area(r) <= 0 else holes).append(r)
    if not outers:          # degenerate: treat everything as outer rings
        outers, holes = holes, []
    polys = [[o] for o in outers]
    for h in holes:
        hx, hy = float(h[0, 0]), float(h[0, 1])
        for poly in polys:
            if _point_in_ring(hx, hy, poly[0]):
                poly.append(h)
                break
        else:
            polys.append([h])
    def one(poly):
        return "(" + ", ".join(_ring_wkt(r) for r in poly) + ")"
    if len(polys) == 1:
        return "POLYGON " + one(polys[0])
    return "MULTIPOLYGON (" + ", ".join(one(p) for p in polys) + ")"


def shp_rows(shp: bytes, dbf: bytes | None = None) -> list[tuple]:
    """.shp (+ optional .dbf) bytes -> [(fid, wkt, props_json)]. fid is
    the shapefile record number (1-based, per the spec)."""
    if len(shp) < 100 or struct.unpack(">i", shp[:4])[0] != 9994:
        raise ValueError("not a shapefile (bad file code)")
    flen = min(struct.unpack_from(">i", shp, 24)[0] * 2, len(shp))
    attrs = _dbf_records(dbf) if dbf else None
    rows = []
    pos = 100
    while pos + 8 <= flen:
        recno, clen = struct.unpack_from(">ii", shp, pos)
        pos += 8
        content = shp[pos:pos + clen * 2]
        pos += clen * 2
        if len(content) < 4:
            raise ValueError("truncated shapefile record")
        (stype,) = struct.unpack_from("<i", content, 0)
        if stype == 0:
            continue                                   # null shape
        base = _SHP_XY_BASE.get(stype)
        if base is None:
            raise NotImplementedError(f"unsupported shape type {stype}")
        if base == 1:
            x, y = struct.unpack_from("<dd", content, 4)
            wkts = [f"POINT ({x!r} {y!r})"]
        elif base == 8:
            (n,) = struct.unpack_from("<i", content, 36)
            pts = np.frombuffer(content, "<f8", count=2 * n, offset=40).reshape(n, 2)
            wkts = [f"MULTIPOINT ({', '.join(f'{p[0]!r} {p[1]!r}' for p in pts)})"]
        else:
            nparts, npts = struct.unpack_from("<ii", content, 36)
            parts = struct.unpack_from(f"<{nparts}i", content, 44)
            pts = np.frombuffer(content, "<f8", count=2 * npts,
                                offset=44 + 4 * nparts).reshape(npts, 2)
            bounds = list(parts) + [npts]
            rings = [pts[bounds[i]:bounds[i + 1]] for i in range(nparts)]
            rings = [r for r in rings if len(r) >= 2]
            if base == 3:
                if len(rings) == 1:
                    wkts = [f"LINESTRING {_ring_wkt(rings[0])}"]
                else:
                    wkts = ["MULTILINESTRING (" +
                            ", ".join(_ring_wkt(r) for r in rings) + ")"]
            else:
                wkts = [_polygon_wkt(rings)]
        props = json.dumps(attrs[recno - 1], sort_keys=True) \
            if attrs and recno - 1 < len(attrs) else "{}"
        for w in wkts:
            rows.append((int(recno), w, props))
    return rows


def _dbf_records(dbf: bytes) -> list[dict]:
    """dBASE III table -> list of {field: value} (spec: 32-byte header,
    32-byte field descriptors terminated by 0x0D, fixed-width records)."""
    if len(dbf) < 32:
        raise ValueError("truncated dbf")
    nrec, hsize, rsize = struct.unpack_from("<IHH", dbf, 4)
    fields = []
    pos = 32
    while pos + 32 <= hsize and dbf[pos] != 0x0D:
        name = dbf[pos:pos + 11].split(b"\x00")[0].decode("ascii", "replace")
        ftype = chr(dbf[pos + 11])
        flen = dbf[pos + 16]
        fdec = dbf[pos + 17]
        fields.append((name, ftype, flen, fdec))
        pos += 32
    out = []
    pos = hsize
    for _ in range(nrec):
        if pos + rsize > len(dbf):
            break
        rec = dbf[pos:pos + rsize]
        pos += rsize
        if rec[:1] == b"*":
            continue                                   # deleted row
        vals = {}
        off = 1
        for name, ftype, flen, fdec in fields:
            raw = rec[off:off + flen].decode("ascii", "replace").strip()
            off += flen
            if ftype in ("N", "F"):
                if raw == "":
                    vals[name] = None
                elif fdec or ftype == "F" or "." in raw:
                    vals[name] = float(raw)
                else:
                    vals[name] = int(raw)
            elif ftype == "L":
                # NB set membership, not substring: '' (blank logical)
                # must stay None, and `'' in "TtYy"` is always True
                vals[name] = (True if raw in ("T", "t", "Y", "y") else
                              False if raw in ("F", "f", "N", "n") else None)
            else:                                      # C, D, anything else
                vals[name] = raw
        out.append(vals)
    return out


# -------------------------------------------------------------- writers
# (fixture-grade, spec-conformant — the read side is the OGR-parity goal,
#  but tests must not exercise the reader against its own shortcuts, so
#  the writer emits the full record framing an external tool would)

def write_shp(path_base: str, features: list[tuple],
              attrs: list[dict] | None = None) -> None:
    """[(wkt)] -> path_base.shp (+ .dbf when ``attrs``). Supports POINT,
    LINESTRING and POLYGON/MULTIPOLYGON WKT (rings re-oriented to the
    spec's outer-CW/hole-CCW rule)."""
    from .geom import parse_wkt_geom

    recs = []
    allpts = []
    for wkt in features:
        kind, g = parse_wkt_geom(wkt)
        if kind == "point":
            content = struct.pack("<idd", 1, float(g[0]), float(g[1]))
            allpts.append(np.array([g]))
        elif kind in ("polygon", "multipolygon"):
            polys = [g] if kind == "polygon" else g
            rings = []
            for rs in polys:
                for j, r in enumerate(rs):
                    r = np.asarray(r, dtype=np.float64)
                    if not np.array_equal(r[0], r[-1]):
                        r = np.vstack([r, r[:1]])
                    cw = _signed_area(r) <= 0
                    want_cw = j == 0
                    rings.append(r if cw == want_cw else r[::-1])
            pts = np.vstack(rings)
            allpts.append(pts)
            parts, off = [], 0
            for r in rings:
                parts.append(off)
                off += len(r)
            content = struct.pack("<i", 5)
            content += struct.pack("<4d", pts[:, 0].min(), pts[:, 1].min(),
                                   pts[:, 0].max(), pts[:, 1].max())
            content += struct.pack("<ii", len(rings), len(pts))
            content += struct.pack(f"<{len(rings)}i", *parts)
            content += np.ascontiguousarray(pts, "<f8").tobytes()
        elif kind == "linestring":
            pts = np.asarray(g, dtype=np.float64)
            allpts.append(pts)
            content = struct.pack("<i", 3)
            content += struct.pack("<4d", pts[:, 0].min(), pts[:, 1].min(),
                                   pts[:, 0].max(), pts[:, 1].max())
            content += struct.pack("<ii", 1, len(pts)) + struct.pack("<i", 0)
            content += np.ascontiguousarray(pts, "<f8").tobytes()
        else:
            raise ValueError(f"write_shp: unsupported WKT kind {kind}")
        recs.append(content)

    pts = np.vstack(allpts)
    bbox = (pts[:, 0].min(), pts[:, 1].min(), pts[:, 0].max(), pts[:, 1].max())
    body = b""
    for i, content in enumerate(recs, start=1):
        body += struct.pack(">ii", i, len(content) // 2) + content
    stype = struct.unpack_from("<i", recs[0], 0)[0] if recs else 0

    def header(total_words):
        h = struct.pack(">i", 9994) + b"\x00" * 20
        h += struct.pack(">i", total_words)
        h += struct.pack("<ii", 1000, stype)
        h += struct.pack("<4d", *bbox) + struct.pack("<4d", 0, 0, 0, 0)
        return h

    with open(path_base + ".shp", "wb") as f:
        f.write(header((100 + len(body)) // 2) + body)
    # .shx index (spec: offset/length pairs) — some readers require it
    idx, off = b"", 100
    for content in recs:
        idx += struct.pack(">ii", off // 2, len(content) // 2)
        off += 8 + len(content)
    with open(path_base + ".shx", "wb") as f:
        f.write(header((100 + len(idx)) // 2) + idx)
    if attrs is not None:
        with open(path_base + ".dbf", "wb") as f:
            f.write(_dbf_bytes(attrs))


def _dbf_bytes(attrs: list[dict]) -> bytes:
    names = sorted({k for a in attrs for k in a})
    fields = []
    for n in names:
        vals = [a.get(n) for a in attrs]
        if all(isinstance(v, (int, float, type(None))) and not isinstance(v, bool)
               for v in vals):
            dec = 0 if all(isinstance(v, (int, type(None))) for v in vals) else 6
            fields.append((n, "N", 18, dec))
        else:
            w = max((len(str(v)) for v in vals if v is not None), default=1)
            fields.append((n, "C", min(max(w, 1), 254), 0))
    rsize = 1 + sum(f[2] for f in fields)
    hsize = 32 + 32 * len(fields) + 1
    out = bytearray()
    out += bytes([0x03, 95, 1, 1]) + struct.pack("<IHH", len(attrs), hsize, rsize)
    out += b"\x00" * 20
    for n, t, l, d in fields:
        out += n.encode("ascii")[:10].ljust(11, b"\x00") + t.encode()
        out += b"\x00" * 4 + bytes([l, d]) + b"\x00" * 14
    out += b"\x0d"
    for a in attrs:
        out += b" "
        for n, t, l, d in fields:
            v = a.get(n)
            if t == "N":
                s = "" if v is None else (f"{v:.{d}f}" if d else str(int(v)))
                out += s.rjust(l)[:l].encode("ascii")
            else:
                out += str("" if v is None else v).ljust(l)[:l].encode("ascii")
    out += b"\x1a"
    return bytes(out)


def write_geojson(path: str, rows: list[tuple], srs_note: str | None = None) -> None:
    """[(fid, wkt, props_dict)] -> RFC 7946 FeatureCollection (geometry
    from our WKT parser's model; coordinates must already be WGS84)."""
    from .geom import parse_wkt_geom

    feats = []
    for fid, wkt, props in rows:
        kind, g = parse_wkt_geom(wkt)
        if kind == "point":
            geom = {"type": "Point", "coordinates": [float(g[0]), float(g[1])]}
        elif kind == "linestring":
            geom = {"type": "LineString",
                    "coordinates": [[float(x), float(y)] for x, y in g]}
        elif kind == "polygon":
            geom = {"type": "Polygon", "coordinates":
                    [[[float(x), float(y)] for x, y in r] for r in g]}
        elif kind == "multipolygon":
            geom = {"type": "MultiPolygon", "coordinates":
                    [[[[float(x), float(y)] for x, y in r] for r in rs]
                     for rs in g]}
        else:
            raise ValueError(f"write_geojson: unsupported kind {kind}")
        feats.append({"type": "Feature", "id": int(fid),
                      "geometry": geom, "properties": props or {}})
    with open(path, "w") as f:
        json.dump({"type": "FeatureCollection", "features": feats}, f)


# ------------------------------------------------------------ Spark entry

def gpkg_rows(path: str, layer: str | None = None) -> tuple[list[tuple], str | None]:
    """GeoPackage feature layer -> ([(fid, wkt, props_json)], srs).
    Geometry blobs decode through the from-spec GeoPackageBinary/WKB
    parser (vector/gpkg.py); non-geometry columns ride as props. The
    layer defaults to the first entry of gpkg_geometry_columns."""
    import sqlite3

    from .gpkg import GPKG_APP_ID, _wkt_of, read_gpkg_geom_blob

    con = sqlite3.connect(path)
    try:
        cur = con.cursor()
        (app_id,) = cur.execute("PRAGMA application_id").fetchone()
        if app_id != GPKG_APP_ID:
            raise ValueError("not a GeoPackage (application_id mismatch)")
        gcs = cur.execute(
            "SELECT table_name, column_name, srs_id FROM gpkg_geometry_columns"
            " ORDER BY table_name").fetchall()
        if not gcs:
            raise ValueError("GeoPackage holds no feature layers")
        if layer is not None:
            gcs = [g for g in gcs if g[0] == layer]
            if not gcs:
                raise ValueError(f"no GeoPackage layer {layer!r}")
        tname, gcol, srs_id = gcs[0]
        # Identifiers come from gpkg_geometry_columns of an UNTRUSTED file;
        # escape embedded double quotes so a crafted name cannot break out
        # of the quoted identifier and inject SQL into this sqlite session.
        def qid(name):
            return '"' + str(name).replace('"', '""') + '"'
        cols = [r[1] for r in cur.execute(f"PRAGMA table_info({qid(tname)})")]
        attr_cols = [c for c in cols if c not in (gcol, "fid")]
        sel = ", ".join(qid(c) for c in ["fid", gcol] + attr_cols)
        rows = []
        for rec in cur.execute(
                f"SELECT {sel} FROM {qid(tname)} ORDER BY fid"):
            fid, blob = rec[0], rec[1]
            if blob is None:
                continue
            kind, g, _bsrs = read_gpkg_geom_blob(bytes(blob))
            props = json.dumps(dict(zip(attr_cols, rec[2:])), sort_keys=True,
                               default=str)
            rows.append((int(fid), _wkt_of(kind, g), props))
    finally:
        con.close()
    srs = f"EPSG:{srs_id}" if srs_id and srs_id > 0 else None
    return rows, srs


def _parse_one(path: str, layer: str | None = None) -> tuple[list[tuple], str | None]:
    """-> (rows, srs_or_None) for one vector file."""
    low = path.lower()
    if low.endswith((".json", ".geojson")):
        with open(path, "rb") as f:
            return geojson_rows(f.read()), "EPSG:4326"
    if low.endswith(".gpkg"):
        return gpkg_rows(path, layer=layer)
    if low.endswith(".shp"):
        with open(path, "rb") as f:
            shp = f.read()
        dbf = None
        import os

        dbf_path = path[:-4] + ".dbf"
        if os.path.exists(dbf_path):
            with open(dbf_path, "rb") as f:
                dbf = f.read()
        srs = None
        prj_path = path[:-4] + ".prj"
        if os.path.exists(prj_path):
            with open(prj_path) as f:
                srs = _srs_from_prj(f.read())
        return shp_rows(shp, dbf), srs
    raise ValueError(f"unrecognized vector file {path!r} "
                     "(.geojson/.json/.shp/.gpkg supported)")


def _srs_from_prj(wkt: str) -> str | None:
    """ESRI .prj -> an SRS key srs.normalize understands, best-effort:
    an AUTHORITY tag wins; a bare GEOGCS named GCS_WGS_1984 is 4326."""
    import re

    m = list(re.finditer(r'AUTHORITY\s*\[\s*"(\w+)"\s*,\s*"?(\d+)"?\s*\]', wkt))
    if m:
        return f"{m[-1].group(1)}:{m[-1].group(2)}"
    if "GCS_WGS_1984" in wkt or "WGS 84" in wkt or "WGS_1984" in wkt:
        return "EPSG:4326"
    return None


_FEATURES_SCHEMA = "fid bigint, wkt string, props string"


def read_features(spark, paths, srs: str | None = None, view=None,
                  densify_n: int = 16, layer: str | None = None):
    """Vector file(s) -> features DataFrame (``fid``, ``wkt``, ``props``)
    ready for extract_geom / zonal_statistics / filter_geom.

    ``paths``: one path (driver-side parse, the reference's OGR-open
    shape) or a list (distributed: one file per task via mapInPandas,
    fids offset per-file to stay globally unique). ``srs`` overrides the
    detected source SRS; with ``view`` given, geometries whose SRS
    differs from the view's are reprojected via transform_features (the
    reference transforms layer SRS -> cube SRS, src/extract_geom.cpp:
    68-113)."""
    import pandas as pd

    from ..partition import by_path

    if isinstance(paths, str):
        rows, detected = _parse_one(paths, layer=layer)
        df = spark.createDataFrame(
            pd.DataFrame(rows, columns=["fid", "wkt", "props"]),
            _FEATURES_SCHEMA)
    else:
        detected = None

        def run(batches):
            for b in batches:
                for p in b["path"]:
                    rows, f_srs = _parse_one(p, layer=layer)
                    if rows:
                        # 40-bit path hash << 22: globally-unique fids
                        # that still fit the signed int64 column; per-file
                        # fids must stay below the 22-bit slot or they
                        # would bleed into another file's hash space
                        base = (int.from_bytes(
                            __import__("hashlib").md5(p.encode()).digest()[:5],
                            "big") << 22)
                        too_big = [fid for fid, _w, _pr in rows
                                   if not 0 <= fid < (1 << 22)]
                        if too_big:
                            raise ValueError(
                                f"{p}: feature id {too_big[0]} exceeds the "
                                f"22-bit per-file fid slot of multi-file "
                                f"ingest; ingest this file on its own")
                        yield pd.DataFrame(
                            [(base + fid, w, pr) for fid, w, pr in rows],
                            columns=["fid", "wkt", "props"])

        df = by_path(spark.createDataFrame(pd.DataFrame({"path": list(paths)})),
                     len(paths)).mapInPandas(run, _FEATURES_SCHEMA)
    f_srs = srs or detected or "EPSG:4326"
    if view is not None and f_srs is not None:
        from .. import srs as _srs_mod
        from .queries import transform_features

        if _srs_mod.normalize(f_srs) != _srs_mod.normalize(view.srs):
            df = transform_features(df, view, feature_srs=f_srs,
                                    densify_n=densify_n)
    return df
