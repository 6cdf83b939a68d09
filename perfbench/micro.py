"""Driver-side microbenchmarks of the public kernels on a seeded sample.

Single-threaded and run while no Spark session is up, so they move with the
kernel code and not with scheduling: ``codecs.decode`` over PNG and
quantized-PNG payloads, ``jpegbase.decode_jpeg`` over real baseline JPEGs and
``operators.build.warp_plane`` (near) onto a chunk-sized cell grid.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from inputs import SEED_STRIDE

SAMPLE_OFFSET = 800_000
N_SAMPLE = 48
N_JPEG = 12


def _per_item_us(fn, items, reps: int) -> float:
    """Median over ``reps`` passes of the mean time per item, in microseconds."""
    passes = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for it in items:
            fn(it)
        passes.append((time.perf_counter() - t0) / len(items) * 1e6)
    return statistics.median(passes)


def kernels(seed: int) -> dict:
    from gdalcubes_cpp_spark import codecs, synth
    from gdalcubes_cpp_spark.operators.build import warp_plane
    from gdalcubes_cpp_spark.sources import jpegbase

    idx = np.arange(N_SAMPLE, dtype=np.int64) + seed * SEED_STRIDE + SAMPLE_OFFSET
    m = synth.meta_arrays(idx)
    imgs = [synth.make_pixels(int(s), int(w), int(h))
            for s, w, h in zip(m["seed"], m["w"], m["h"])]
    payloads = [codecs.encode_png(a) if f == "png" else codecs.encode_lossy(a)
                for a, f in zip(imgs, m["fmt"])]
    jpegs = [codecs.encode_jpeg(a) for a in imgs[:N_JPEG]]
    warps = []
    for k, a in enumerate(imgs):
        bounds = (m["left"][k], m["right"][k], m["bottom"][k], m["top"][k])
        # a 100x125 chunk of 0.01 deg cells centred on the footprint
        xs = (bounds[0] + bounds[1]) / 2 + (np.arange(125) - 62) * 0.01
        ys = (bounds[2] + bounds[3]) / 2 - (np.arange(100) - 50) * 0.01
        warps.append((a[:, :, 0], bounds, xs, ys))
    return {
        "codecs.decode_us": _per_item_us(codecs.decode, payloads, 20),
        "jpegbase.decode_us": _per_item_us(jpegbase.decode_jpeg, jpegs, 3),
        "build.warp_us": _per_item_us(lambda w: warp_plane(*w, "near"), warps, 20),
    }
