"""Deterministic synthetic image+caption table (the engine's input).

Schema is exactly BASELINE.json ``input_hint``:
    (image_id: string, bytes: binary, w: int32, h: int32, fmt: string,
     caption: string, phash: int64)
plus *derived* metadata columns — the analog of the reference's
``images``/``gdalrefs`` SQLite tables (src/image_collection.cpp:53-91),
where footprints are stored as WGS84 bboxes (src/image_collection.cpp:309-326):
    left, right, bottom, top: double   (EPSG:4326 footprint)
    ts: timestamp                      (acquisition datetime)
    srs: string                        ("EPSG:4326")

Everything derives from splitmix64 mixes of the image index — no RNG state,
no external data; the numpy oracle in tests regenerates identical content.
Footprint centers are drawn from a skewed distribution (60% of images pile
onto 3 hotspots) so a few spatial cells are hot — exercising the skew
handling required by BASELINE.json ``north_rule`` (map-side partial
aggregation and AQE in the cube build).

Pixel content: per-band gradient + checkerboard parameterized by the image
hash; band B1 and B2 are the two channels of one encoded image
(gray+alpha PNG or the lossy stand-in, see codecs.py).
"""

from __future__ import annotations

from datetime import datetime, timedelta
from typing import Iterator

import numpy as np
import pandas as pd

from . import codecs

SIZES = np.array([32, 64, 96], dtype=np.int64)  # FIXTURES.md F1
HOTSPOTS = [(-10.0, 20.0), (25.0, -5.0), (5.0, 35.0)]  # (lon, lat), "cities"
T_BASE = datetime(2020, 1, 1)

SCHEMA_DDL = (
    "image_id string, bytes binary, w int, h int, fmt string, caption string, "
    "phash long, left double, right double, bottom double, top double, "
    "ts timestamp, srs string"
)


def mix64(x: np.ndarray | int) -> np.ndarray | int:
    """splitmix64 finalizer — the single deterministic entropy source."""
    z = (np.uint64(x) + np.uint64(0x9E3779B97F4A7C15)) if np.isscalar(x) else (
        x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
    )
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _u01(h: np.ndarray) -> np.ndarray:
    """uint64 -> uniform [0,1) float64."""
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def meta_arrays(idx: np.ndarray) -> dict:
    """Vectorized metadata for image indices (no bytes)."""
    idx = np.asarray(idx, dtype=np.int64)
    h0 = mix64(idx)
    h1 = mix64(idx + 1_000_000_007)
    h2 = mix64(idx + 2_000_000_011)
    h3 = mix64(idx + 3_000_000_019)
    h4 = mix64(idx + 4_000_000_023)

    w = SIZES[(h0 % np.uint64(3)).astype(np.int64)]
    hh = SIZES[(h1 % np.uint64(3)).astype(np.int64)]
    fmt = np.where((h0 & np.uint64(1)).astype(bool), "png", "jpeg")

    # skewed footprint centers: 60% on 3 hotspots (jitter 0.5°), 40% uniform
    hot = _u01(h2) < 0.6
    which = (h2 % np.uint64(3)).astype(np.int64)
    hx = np.array([c[0] for c in HOTSPOTS])[which]
    hy = np.array([c[1] for c in HOTSPOTS])[which]
    jx = (_u01(h3) - 0.5) * 1.0
    jy = (_u01(h4) - 0.5) * 1.0
    ux = -50.0 + _u01(h3) * 100.0
    uy = -40.0 + _u01(h4) * 80.0
    cx = np.where(hot, hx + jx, ux)
    cy = np.where(hot, hy + jy, uy)

    fw = 0.05 + _u01(mix64(idx + 5)) * 0.20  # 0.05-0.25° (FIXTURES.md F1)
    fh = 0.05 + _u01(mix64(idx + 6)) * 0.20
    left, right = cx - fw / 2, cx + fw / 2
    bottom, top = cy - fh / 2, cy + fh / 2

    day = (h0 % np.uint64(365)).astype(np.int64)
    hour = (h1 % np.uint64(24)).astype(np.int64)
    ts = np.array(
        [T_BASE + timedelta(days=int(d), hours=int(hr)) for d, hr in zip(day, hour)]
    )
    return {
        "idx": idx, "w": w.astype(np.int32), "h": hh.astype(np.int32), "fmt": fmt,
        "left": left, "right": right, "bottom": bottom, "top": top, "ts": ts,
        "seed": h0,
    }


def make_pixels(seed: int, w: int, h: int) -> np.ndarray:
    """(h, w, 2) uint8 deterministic gradient + checker; bands B1/B2."""
    s = np.uint64(seed)
    a = float(s % np.uint64(256))
    b = float((s >> np.uint64(8)) % np.uint64(256))
    per = 4 + int((s >> np.uint64(16)) % np.uint64(13))
    yy, xx = np.mgrid[0:h, 0:w]
    g1 = (a + xx * 255.0 / max(w - 1, 1) * 0.5 + yy * 255.0 / max(h - 1, 1) * 0.5) % 256
    checker = ((xx // per + yy // per) % 2) * 64.0
    b1 = np.clip((g1 + checker) % 256, 0, 255)
    b2 = np.clip((b + (xx + yy) * 255.0 / max(w + h - 2, 1) + checker) % 256, 0, 255)
    return np.stack([b1, b2], axis=-1).astype(np.uint8)


def phash64(img: np.ndarray) -> int:
    """Deterministic 64-bit perceptual-ish hash: 8x8 mean-threshold of band 1."""
    a = img[:, :, 0].astype(np.float64)
    h, w = a.shape
    # average-pool to 8x8 (integer block edges; deterministic)
    ys = (np.arange(9) * h) // 8
    xs = (np.arange(9) * w) // 8
    small = np.empty((8, 8))
    for i in range(8):
        for j in range(8):
            small[i, j] = a[ys[i]:ys[i + 1], xs[j]:xs[j + 1]].mean()
    bits = (small > small.mean()).flatten()
    v = np.uint64(0)
    for k, bit in enumerate(bits):
        if bit:
            v |= np.uint64(1) << np.uint64(k)
    return int(np.int64(v))


def row_for(i: int, with_bytes: bool = True) -> dict:
    m = meta_arrays(np.array([i]))
    w, h = int(m["w"][0]), int(m["h"][0])
    fmt = str(m["fmt"][0])
    img = make_pixels(int(m["seed"][0]), w, h)
    data = codecs.encode_png(img) if fmt == "png" else codecs.encode_lossy(img)
    left, top = float(m["left"][0]), float(m["top"][0])
    return {
        "image_id": f"img{i:08d}",
        "bytes": data if with_bytes else b"",
        "w": w, "h": h, "fmt": fmt,
        "caption": f"synthetic scene img{i:08d} at {left:.3f},{top:.3f}",
        "phash": phash64(img),
        "left": left, "right": float(m["right"][0]),
        "bottom": float(m["bottom"][0]), "top": top,
        "ts": m["ts"][0], "srs": "EPSG:4326",
    }


def _gen_batch(idx: np.ndarray, with_bytes: bool) -> pd.DataFrame:
    m = meta_arrays(idx)
    byts, phs, caps = [], [], []
    for k in range(len(idx)):
        img = make_pixels(int(m["seed"][k]), int(m["w"][k]), int(m["h"][k]))
        if with_bytes:
            byts.append(
                codecs.encode_png(img) if m["fmt"][k] == "png" else codecs.encode_lossy(img)
            )
        else:
            byts.append(b"")
        phs.append(phash64(img))
        caps.append(
            f"img{int(idx[k]):08d}"
        )
    ids = [f"img{int(i):08d}" for i in idx]
    return pd.DataFrame(
        {
            "image_id": ids,
            "bytes": byts,
            "w": m["w"], "h": m["h"], "fmt": m["fmt"],
            "caption": [
                f"synthetic scene {s} at {l:.3f},{t:.3f}"
                for s, l, t in zip(ids, m["left"], m["top"])
            ],
            "phash": np.array(phs, dtype=np.int64),
            "left": m["left"], "right": m["right"],
            "bottom": m["bottom"], "top": m["top"],
            "ts": m["ts"], "srs": "EPSG:4326",
        }
    )


def images_df(spark, n: int, with_bytes: bool = True, partitions: int | None = None):
    """Distributed deterministic generation: spark.range -> mapInPandas.

    Scales to any n without driver materialization (the 10^12-scale analog:
    in production this is an Iceberg table scan; here the generator plays
    the table's role).
    """
    from .partition import generator_width

    parts = partitions or generator_width(spark, n)
    base = spark.range(0, n, 1, parts)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield _gen_batch(b["id"].to_numpy(), with_bytes)

    return base.mapInPandas(gen, schema=SCHEMA_DDL)


def images_pdf(n: int, with_bytes: bool = True) -> pd.DataFrame:
    """Driver-side pandas version for unit tests and the numpy oracle."""
    return _gen_batch(np.arange(n, dtype=np.int64), with_bytes)


def images_table(spark, n: int):
    """images_df materialized ONCE to parquet and read back. Timed
    consumers (bench members, the flagship) measure scan -> join -> decode
    -> aggregate like production, where the input is an Iceberg table scan
    — not the generator's pure-python PNG/lossy ENCODE cost, which made
    the r5 decode-member walls unattributable (r5 VERDICT #1). The path
    matches bench.materialize_images so both layers share one cache."""
    import os

    path = f"/tmp/spark_graft_bench_images_{n}.parquet"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        images_df(spark, n).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)
