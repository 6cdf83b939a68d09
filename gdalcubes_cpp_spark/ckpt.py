"""Resumable cube runs with per-part lineage + metrics (BASELINE.json
north_rule).

A run splits the cube's chunk ids into ``n_parts`` contiguous blocks and
commits each block's cells to an IceTable (sources/icetable.py) as one
snapshot. The snapshot's summary is the part's lineage row: part, chunk
range, rows, order-insensitive value digest, wall seconds and attempt (one
more than the part's earlier snapshots in the chain). A part is done when
the head snapshot holds its manifest, so a run killed anywhere before a
commit leaves nothing for a resume to undo.

Resume re-reads each committed part and checks its rows and digest against
its lineage row. A part whose files are missing, unreadable or do not match
runs again, and its snapshot replaces the old manifest. A resume whose
blocks differ from the committed ones (another ``n_parts``) raises: its
parts would overlap the committed cells.

Each part pre-filters the images in the JVM with build._view_window
narrowed to its block (grid.block_bounds), builds over the whole view and
keeps the block's chunk ids. An image is decoded by the parts whose blocks
its footprint and time meet, so blocks of whole time slabs decode each
image once over the run.

The reference's swarm mode has no resume at all — a dead worker loses its
chunks (src/swarm.cpp:265-297 assigns round-robin and only gathers);
this module is the distributed-native replacement.
"""

from __future__ import annotations

import os
import time
import warnings

from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, functions as F

from .grid import ChunkGrid
from .operators.build import _view_window, build_cube
from .sources.icetable import IceTable
from .view import CubeView


def value_digest(df: DataFrame) -> F.Column:
    """Order-insensitive content digest: sum of crc32 over each row's JSON
    text. Cheap, associative (partial-aggregatable); JSON names every field,
    so where a NULL sits changes the digest. An integrity check, not a
    cryptographic one."""
    return F.sum(F.crc32(F.to_json(F.struct(*[F.col(f"`{c}`") for c in df.columns]))))


def _stats(df: DataFrame) -> tuple:
    r = df.agg(F.count("*").alias("n"), value_digest(df).alias("d")).first()
    return r["n"], r["d"] or 0


# the error conditions Spark gives a data file it cannot read: a garbled
# page fails the scan task, a garbled footer fails the planning
_READ_FAILED = ("FAILED_READ_FILE", "CANNOT_READ_FILE_FOOTER")


def _intact(spark, table: IceTable, snap: dict) -> bool:
    """The part's committed files exist, can be read and hold its lineage
    row's rows and digest."""
    paths = [os.path.join(table.path, e["path"]) for e in table.entries(snap["manifests"][-1])]
    if not all(map(os.path.exists, paths)):
        return False
    try:
        got = _stats(spark.read.parquet(*paths)) if paths else (0, 0)
    except (Py4JJavaError, PySparkException) as e:
        msg = str(e)
        if not any(c in msg for c in _READ_FAILED):
            raise
        line = next((ln for ln in msg.splitlines() if any(c in ln for c in _READ_FAILED)), "")
        warnings.warn(f"part {snap['summary']['part']} of {table.path} is unreadable, "
                      f"running it again: {line.strip(': ')}", RuntimeWarning, stacklevel=2)
        return False
    return got == (snap["summary"]["rows"], snap["summary"]["digest"])


def run_partitioned(images: DataFrame, view: CubeView, sink: str, n_parts: int = 8,
                    **build_kw) -> dict:
    """Build the cube of ``images`` over ``view`` (``build_kw`` as
    build_cube's) into the IceTable at ``sink`` in resumable parts; returns
    {parts_run, parts_skipped, rows}. The table holds the cube's cells and
    their chunk_id."""
    table = IceTable(sink)
    grid = ChunkGrid(view)
    per = -(-grid.count // n_parts)
    blocks = {p: (p * per, min((p + 1) * per, grid.count))
              for p in range(n_parts) if p * per < grid.count}
    table.head()  # adopt a part a killed run published without its pointer
    snaps = table.snapshots()
    live = set(snaps[-1]["manifests"]) if snaps else set()
    done = {s["summary"]["part"]: s for s in snaps if s["manifests"][-1] in live}
    for p, s in done.items():
        if blocks.get(p) != (s["summary"]["chunk_lo"], s["summary"]["chunk_hi"]):
            raise ValueError(f"{sink} holds part {p} over chunks [{s['summary']['chunk_lo']}, "
                             f"{s['summary']['chunk_hi']}); this run's parts are {blocks}")
    ran, skipped, rows = 0, 0, 0
    for p, (lo, hi) in blocks.items():
        old = done.get(p)
        if old is not None and _intact(images.sparkSession, table, old):
            skipped += 1
            continue
        t0 = time.time()
        window = _view_window(view, grid.block_bounds(lo, hi))
        part = (build_cube(images if window is None else images.where(window), view, **build_kw)
                .with_chunk_id().where(f"chunk_id >= {lo} AND chunk_id < {hi}").persist())
        try:
            n, digest = _stats(part)
            attempt = 1 + sum(s["summary"]["part"] == p for s in snaps)
            table.append(
                part, commit_key=f"part-{p}.{attempt}",
                replace=[old["manifests"][-1]] if old is not None else [],
                summary={"part": p, "chunk_lo": lo, "chunk_hi": hi, "rows": n,
                         "digest": digest, "wall_s": time.time() - t0, "attempt": attempt})
        finally:
            part.unpersist()
        ran += 1
        rows += n
    return {"parts_run": ran, "parts_skipped": skipped, "rows": rows}
