"""Seeded input tables for the benchmark, cached with a verified manifest.

Every table is built from the engine's public generators
(``synth.meta_arrays``/``make_pixels``/``phash64`` and the ``codecs``
encoders) over the index range ``[seed * SEED_STRIDE + offset, ... + n)``, so
the same seed always gives the same rows and different seeds give disjoint
images. Tables are written as parquet under a seed-keyed directory together
with ``manifest.json`` (rows, payload bytes, sha256 of every file). The
manifest is re-checked before every run; a partial or mismatched cache entry
is deleted and regenerated, never trusted.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import shutil
from concurrent.futures import ProcessPoolExecutor

import numpy as np
import pandas as pd

SEED_STRIDE = 1_000_000
GEN_VERSION = 1
KEEP_ENTRIES = 12  # cache entries kept per work dir; older ones are pruned


def _rows(idx: np.ndarray, codec: str) -> tuple[pd.DataFrame, list]:
    """input_hint rows for image indices ``idx``; also returns the decoded
    planes of lossy-JPEG payloads so the oracle need not decode them again."""
    from gdalcubes_cpp_spark import codecs, synth

    m = synth.meta_arrays(idx)
    payloads, phashes, decoded = [], [], []
    fmts = m["fmt"] if codec == "synth" else np.full(len(idx), "jpeg")
    for k in range(len(idx)):
        img = synth.make_pixels(int(m["seed"][k]), int(m["w"][k]), int(m["h"][k]))
        if codec == "jpeg":
            data = codecs.encode_jpeg(img)
            decoded.append(codecs.decode(data))
        elif fmts[k] == "png":
            data = codecs.encode_png(img)
        else:  # the engine's quantized-PNG stand-in for lossy payloads
            data = codecs.encode_lossy(img)
        payloads.append(data)
        phashes.append(synth.phash64(img))
    ids = [f"img{int(i):08d}" for i in idx]
    pdf = pd.DataFrame({
        "image_id": ids,
        "bytes": payloads,
        "w": m["w"], "h": m["h"], "fmt": fmts,
        "caption": [f"synthetic scene {s} at {l:.3f},{t:.3f}"
                    for s, l, t in zip(ids, m["left"], m["top"])],
        "phash": np.array(phashes, dtype=np.int64),
        "left": m["left"], "right": m["right"],
        "bottom": m["bottom"], "top": m["top"],
        "ts": pd.to_datetime(m["ts"]), "srs": "EPSG:4326",
    })
    return pdf, decoded


def _gen_slice(args) -> tuple[pd.DataFrame, list]:
    lo, hi, codec = args
    return _rows(np.arange(lo, hi, dtype=np.int64), codec)


def generate(first: int, n: int, codec: str, procs: int) -> tuple[pd.DataFrame, list]:
    """Rows for indices [first, first+n), encoded on ``procs`` processes."""
    step = -(-n // procs)
    parts = [(lo, min(lo + step, first + n), codec) for lo in range(first, first + n, step)]
    ctx = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(max_workers=len(parts), mp_context=ctx) as ex:
        done = list(ex.map(_gen_slice, parts))
    pdf = pd.concat([d[0] for d in done], ignore_index=True)
    return pdf, [a for d in done for a in d[1]]


def _digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _write_parquet(pdf: pd.DataFrame, out: str, files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    tb = pa.Table.from_pandas(pdf, preserve_index=False)
    # Spark reads microsecond UTC timestamps; the session time zone is UTC
    tb = tb.set_column(tb.schema.get_field_index("ts"), "ts",
                       tb["ts"].cast(pa.timestamp("us", tz="UTC")))
    n = tb.num_rows
    for k in range(files):
        lo, hi = k * n // files, (k + 1) * n // files
        pq.write_table(tb.slice(lo, hi - lo), os.path.join(out, f"part-{k:05d}.parquet"))


class Table:
    """One cached, manifest-verified input table (plus the per-seed oracle
    arrays the workload stores beside it)."""

    def __init__(self, root: str, name: str, seed: int, offset: int, n: int,
                 codec: str, files: int):
        if not 0 <= seed < 2**40:
            raise ValueError(f"seed must be in [0, 2**40), got {seed}")
        self.first = seed * SEED_STRIDE + offset
        self.n, self.codec, self.files = n, codec, files
        self.params = {"name": name, "seed": seed, "first": self.first, "n": n,
                       "codec": codec, "files": files, "version": GEN_VERSION}
        self.dir = os.path.join(root, f"{name}-seed{seed}-n{n}")
        self.path = os.path.join(self.dir, "table")
        self.pdf: pd.DataFrame | None = None
        self.decoded: dict = {}
        self.generated = False

    # -- manifest ---------------------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.dir, "manifest.json")

    def _verified(self) -> dict | None:
        try:
            with open(self._manifest_path()) as f:
                man = json.load(f)
        except (OSError, ValueError):
            return None
        if man.get("params") != self.params:
            return None
        for rel, digest in man.get("files", {}).items():
            p = os.path.join(self.dir, rel)
            if not os.path.isfile(p) or _digest(p) != digest:
                return None
        return man

    def _write_manifest(self) -> None:
        rels = sorted(
            os.path.relpath(os.path.join(d, f), self.dir)
            for d, _, fs in os.walk(self.dir) for f in fs if f != "manifest.json"
        )
        man = {
            "params": self.params,
            "rows": int(len(self.pdf)),
            "bytes": int(self.pdf["bytes"].map(len).sum()),
            "files": {r: _digest(os.path.join(self.dir, r)) for r in rels},
        }
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(man, f, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path())

    # -- load or build ------------------------------------------------------------
    def ensure(self, procs: int) -> "Table":
        """Load the verified cache entry, or (re)generate it."""
        man = self._verified()
        if man is not None:
            self.pdf = pd.read_parquet(self.path)
            self.pdf["ts"] = self.pdf["ts"].dt.tz_convert(None).astype("datetime64[ns]")
            if len(self.pdf) != man["rows"]:
                man = None
        if man is None:
            shutil.rmtree(self.dir, ignore_errors=True)
            os.makedirs(self.path)
            self.pdf, dec = generate(self.first, self.n, self.codec, procs)
            self.decoded = {bytes(b): a for b, a in zip(self.pdf["bytes"], dec)}
            _write_parquet(self.pdf, self.path, self.files)
            self._write_manifest()
            self.generated = True
        return self

    def decode(self, data: bytes, fmt: str | None = None) -> np.ndarray:
        """codecs.decode with the planes decoded at generation time reused."""
        got = self.decoded.get(bytes(data))
        if got is not None:
            return got
        from gdalcubes_cpp_spark import codecs

        return codecs.decode(data, fmt)

    # -- oracle arrays, cached beside the table and covered by the manifest -------
    def oracle(self, key: str, compute) -> dict:
        rel = f"oracle-{key}.npz"
        path = os.path.join(self.dir, rel)
        man = self._verified()
        if man is not None and rel in man["files"]:
            with np.load(path, allow_pickle=False) as z:
                return {k: z[k] for k in z.files}
        arrays = compute()
        np.savez(path, **arrays)
        self._write_manifest()
        return arrays


def prune(root: str, keep: set) -> None:
    """Drop all but the newest KEEP_ENTRIES cache entries (and never the
    entries of this run) so a long series of seeds stays bounded on disk."""
    if not os.path.isdir(root):
        return
    entries = sorted(
        (os.path.join(root, d) for d in os.listdir(root)),
        key=lambda p: os.path.getmtime(p), reverse=True,
    )
    for p in entries[KEEP_ENTRIES:]:
        if p not in keep:
            shutil.rmtree(p, ignore_errors=True)
