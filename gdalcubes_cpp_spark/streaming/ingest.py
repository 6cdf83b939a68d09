"""Structured-Streaming ingestion: continuously fold newly arriving image
rows into a materialized cube table.

The reference is strictly batch (its "streaming" is chunk→subprocess piping,
src/stream.cpp — replaced wholesale by Arrow UDFs). This module adds the
Spark-native capability the reference lacks: a file-source stream of image
rows → the cube build's scan → incremental aggregation state per
(cell, band) → foreachBatch merge into the sink.

Incremental temporal aggregation uses the decomposable form of each method
(mean → (sum, count), summed DIRECTLY from the scan's long rows — never
recovered as mean*count, which is not bit-exact in IEEE754; min/max →
running extreme; count_* → running count, zero-filled slices included).
Every method but mean folds the batch's own build_cube cells.

Exactly-once: foreachBatch is at-least-once (a microbatch can replay after a
failure that committed the sink write but not the checkpoint), so the sink's
``manifest.json`` records the PROCESSED SOURCE FILES and the fold drops
already-merged files from a replayed batch. Keying on files instead of the
raw batch_id (r2 ADVICE) makes the dedup sound across checkpoint loss:
after a wiped checkpoint Structured Streaming restarts batch ids at 0 and
re-bundles old+new files into one batch — a batch_id skip would silently
discard the NEW files, a file filter merges exactly them. State writes are
versioned (``state_v{N}`` directories) with an atomically-replaced
``manifest.json`` pointer — a crash mid-write leaves the previous version
intact and readable. At production scale, compact the manifest's file list
periodically (e.g. roll files older than the source's maxFileAge into a
watermark entry); the list is one path string per ingested FILE, not row.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.build import build_cube, scan_cells
from ..view import CubeView

STATE_AGGS = ("mean", "min", "max", "count_values", "count_images")

_MANIFEST = "manifest.json"


def stream_images(spark: SparkSession, input_dir: str, schema_ddl: str) -> DataFrame:
    """File-source stream of image rows (parquet dropped into input_dir)."""
    return spark.readStream.schema(schema_ddl).parquet(input_dir)


def _read_manifest(sink: str) -> dict | None:
    path = os.path.join(sink, _MANIFEST)
    try:
        with open(path) as f:
            return json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        return None


def _write_manifest(sink: str, version: int, batch_id: int, files) -> None:
    """Atomic pointer update: tmp file + os.replace (POSIX atomic rename)."""
    os.makedirs(sink, exist_ok=True)
    path = os.path.join(sink, _MANIFEST)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(
            {"version": version, "last_batch_id": batch_id, "files": sorted(files)}, f
        )
    os.replace(tmp, path)


def _state_dir(sink: str, version: int) -> str:
    return os.path.join(sink, f"state_v{version}")


def _merge_states(acc: DataFrame, delta: DataFrame, keys, agg: str) -> DataFrame:
    a = acc.select(*keys, *[F.col(c).alias(f"a_{c}") for c in acc.columns if c not in keys])
    d = delta.select(*keys, *[F.col(c).alias(f"d_{c}") for c in delta.columns if c not in keys])
    j = a.join(d, keys, "outer")
    state_cols = [c for c in acc.columns if c not in keys]
    out = {}
    for c in state_cols:
        ac, dc = F.col(f"a_{c}"), F.col(f"d_{c}")
        if agg == "min":
            out[c] = F.least(ac, dc)
        elif agg == "max":
            out[c] = F.greatest(ac, dc)
        else:  # mean sums/counts and count_* states are all additive;
            # both-NULL (cell present for another band only) stays NULL
            out[c] = F.when(
                ac.isNull() & dc.isNull(), F.lit(None)
            ).otherwise(F.coalesce(ac, F.lit(0.0)) + F.coalesce(dc, F.lit(0.0)))
    return j.select(*keys, *[out[c].alias(c) for c in state_cols])


def incremental_build(
    spark: SparkSession,
    input_dir: str,
    view: CubeView,
    sink: str,
    checkpoint: str,
    bands=("B1", "B2"),
    value_fn=None,
):
    """Start the stream; returns the StreamingQuery. Sink layout:
    ``sink/manifest.json`` (current version + last merged batch_id) +
    ``sink/state_v{N}/`` parquet of per-cell aggregation STATE (sum/cnt or
    min/max/count) — finalize with ``finalize_state``."""
    from ..synth import SCHEMA_DDL

    agg = view.aggregation
    if agg not in STATE_AGGS:
        raise ValueError(
            f"streaming ingestion supports decomposable aggregations {STATE_AGGS}; "
            f"median/first/last need total order (batch build)"
        )
    stream = stream_images(spark, input_dir, SCHEMA_DDL)
    keys = ["it", "iy", "ix"]

    def fold(batch_df: DataFrame, batch_id: int):
        if batch_df.isEmpty():
            return
        man = _read_manifest(sink)
        # exactly-once by SOURCE FILE (r2 ADVICE): drop already-merged files
        # from this batch; merge whatever is genuinely new. Sound across
        # both microbatch replay AND checkpoint loss (where batch ids reset
        # to 0 and old+new files can arrive bundled in one batch).
        done = set(man.get("files", ())) if man is not None else set()
        batch_files = {
            r[0] for r in batch_df.select(F.input_file_name()).distinct().collect()
        }
        new_files = batch_files - done
        if not new_files:
            return  # pure replay — everything already merged, skip
        if new_files != batch_files:
            batch_df = batch_df.filter(
                F.input_file_name().isin([str(f) for f in new_files])
            )
        if agg == "mean":
            # (sum, count) states summed from the scan rows — bit-exact
            # decomposition; a band absent from a cell sums to NULL, count 0
            rows = scan_cells(batch_df, view, bands, value_fn=value_fn)
            delta = rows.groupBy(*keys).agg(
                *[F.sum(f"`v_{b}`").alias(f"{b}_sum") for b in bands],
                *[F.count(f"`v_{b}`").alias(f"{b}_cnt") for b in bands],
            )
        else:
            cells = build_cube(batch_df, view, bands, value_fn=value_fn).df
            delta = cells.select(*keys, *[F.col(b).alias(f"{b}_state") for b in bands])
        next_version = 0 if man is None else man["version"] + 1
        if man is None:
            merged = delta
        else:
            acc = spark.read.parquet(_state_dir(sink, man["version"]))
            merged = _merge_states(acc, delta, keys, agg)
        merged.write.mode("overwrite").parquet(_state_dir(sink, next_version))
        _write_manifest(sink, next_version, batch_id, done | new_files)  # atomic commit

    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def finalize_state(spark: SparkSession, sink: str, view: CubeView, bands=("B1", "B2")):
    """State table -> Cube (mean = sum/cnt; others are the state itself)."""
    from ..cube import Cube

    man = _read_manifest(sink)
    if man is None:
        raise FileNotFoundError(f"no committed state under {sink}")
    df = spark.read.parquet(_state_dir(sink, man["version"]))
    if view.aggregation == "mean":
        out = df.select(
            "it", "iy", "ix",
            *[
                F.when(F.col(f"{b}_cnt") > 0, F.col(f"{b}_sum") / F.col(f"{b}_cnt")).alias(b)
                for b in bands
            ],
        )
    else:
        out = df.select(
            "it", "iy", "ix", *[F.col(f"{b}_state").alias(b) for b in bands]
        )
    return Cube(out, view, tuple(bands))


def stream_to_icetable(stream: DataFrame, table_path: str,
                       checkpoint_dir: str, order_by: str | None = None):
    """Exactly-once streaming sink into an IceTable (sources/icetable.py):
    each microbatch appends one snapshot with ``commit_key=batch-<id>``.
    foreachBatch is at-least-once — after a crash between the table commit
    and the checkpoint commit the SAME batch replays — but the commit-key
    dedup makes the replay land on the already-committed snapshot instead
    of appending twice, so the table is exactly-once without any sink-side
    manifest of our own (the snapshot chain IS the manifest).

    Returns the StreamingQuery; the caller awaits/stops it."""
    from ..sources.icetable import IceTable

    def commit(batch_df: DataFrame, batch_id: int):
        import os

        if not os.path.isdir(os.path.join(table_path, "metadata")):
            os.makedirs(os.path.join(table_path, "metadata"), exist_ok=True)
            os.makedirs(os.path.join(table_path, "data"), exist_ok=True)
        IceTable(table_path).append(
            batch_df, commit_key=f"batch-{batch_id}", order_by=order_by
        )

    return (
        stream.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
