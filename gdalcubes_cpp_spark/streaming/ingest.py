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
failure that committed the sink write but not the checkpoint), so each
state version records the PROCESSED SOURCE FILES and the fold drops
already-merged files from a replayed batch. Keying on files instead of the
raw batch_id (r2 ADVICE) makes the dedup sound across checkpoint loss:
after a wiped checkpoint Structured Streaming restarts batch ids at 0 and
re-bundles old+new files into one batch — a batch_id skip would silently
discard the NEW files, a file filter merges exactly them. The sink is an
IceTable (sources/icetable.py): each state version is one snapshot that
replaces every parent manifest, and its summary holds the processed-file
set, so the state and its file set commit together. A crash before the
commit leaves the previous version the head; one between the snapshot and
its pointer leaves a complete snapshot that the next fold adopts
(IceTable.head) and folds onto. A snapshot the fold cannot read fails the
batch instead of restarting the state. At
production scale, compact the file list periodically (e.g. roll files older
than the source's maxFileAge into a watermark entry); it is one path string
per ingested FILE, not row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.build import build_cube, scan_cells
from ..sources.icetable import IceTable
from ..view import CubeView

STATE_AGGS = ("mean", "min", "max", "count_values", "count_images")


def stream_images(spark: SparkSession, input_dir: str, schema_ddl: str) -> DataFrame:
    """File-source stream of image rows (parquet dropped into input_dir)."""
    return spark.readStream.schema(schema_ddl).parquet(input_dir)


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
    """Start the stream; returns the StreamingQuery. ``sink`` is an IceTable
    whose head snapshot holds the per-cell aggregation STATE (sum/cnt or
    min/max/count) and, in its summary, the processed source files —
    finalize with ``finalize_state``."""
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
        table = IceTable(sink)
        head = table.head()
        state = table.snapshot(head) if head else None
        # exactly-once by SOURCE FILE (r2 ADVICE): drop already-merged files
        # from this batch; merge whatever is genuinely new. Sound across
        # both microbatch replay AND checkpoint loss (where batch ids reset
        # to 0 and old+new files can arrive bundled in one batch).
        done = set(state["summary"]["files"]) if state is not None else set()
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
        if state is None:
            merged = delta
        else:
            merged = _merge_states(table.read(spark, snapshot=head), delta, keys, agg)
        table.append(merged, replace=state["manifests"] if state is not None else (),
                     summary={"files": sorted(done | new_files)})

    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def finalize_state(spark: SparkSession, sink: str, view: CubeView, bands=("B1", "B2")):
    """State table -> Cube (mean = sum/cnt; others are the state itself)."""
    from ..cube import Cube

    df = IceTable(sink).read(spark)
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
    def commit(batch_df: DataFrame, batch_id: int):
        IceTable(table_path).append(
            batch_df, commit_key=f"batch-{batch_id}", order_by=order_by
        )

    return (
        stream.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
