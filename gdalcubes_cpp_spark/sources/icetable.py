"""Snapshot/manifest table layout for the image+caption collection — the
Iceberg-table analog the north_rule runs over, built from the PUBLIC table
-format ideas (Apache Iceberg spec: snapshot isolation via immutable
metadata trees, manifest-level column stats for scan pruning, optimistic
commits) on plain parquet, no format jars required.

Layout under ``<path>/``::

    data/<uuid>.parquet            immutable data files
    metadata/manifest-<uuid>.parquet   file entries + per-column min/max
    metadata/snap-<N>.json         snapshot: manifest list + summary
    metadata/v<N>.json             commit pointer (atomic: O_EXCL create)

Why this matters at 100 TB: the driver never lists or footers a million
data files — a scan reads the manifests (thousands of rows), prunes by
column min/max, and hands Spark ONLY the surviving file list. Appends are
O(new files) metadata writes + one atomic pointer create; concurrent
committers race on the ``v<N>.json`` create and the loser retries against
the new state (optimistic concurrency, same protocol as the spec).
Snapshots are immutable so readers are isolated and time travel is free.

``append`` is the package's one durable commit. ``commit_key`` dedup makes
it idempotent (exactly-once streaming sinks); ``summary`` stores the
caller's record of the commit in the snapshot; ``replace`` drops parent
manifests (Iceberg's overwrite). A writer reads the head it builds on
through ``head()``, which first adopts a snapshot whose committer crashed
before creating its pointer. ckpt.py commits each part of a resumable
run as a snapshot whose summary is the part's lineage row; streaming/
ingest.py commits each aggregation-state version as a snapshot that
replaces its parent's manifests and records the source files folded so far.

Write clustering: ``order_by`` repartitionByRange-clusters rows before
the write so file min/max ranges are DISJOINT — that is what turns stats
pruning from "maybe" into a guarantee (a time-range scan over a
time-clustered collection touches only the matching files).

Reference parity: the gdalcubes reference has no table layer at all — a
collection is a SQLite file of paths (src/image_collection.cpp) and every
chunk read re-scans the whole bbox index. This module is the scan-side
scale path the north_rule asks for ("over Iceberg tables of image +
caption pairs at 10^12-image scale").
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..partition import for_files


def _stats_value(v):
    """JSON-safe, order-preserving encoding of a parquet stat value."""
    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    # timestamps/dates: isoformat sorts like the value
    iso = getattr(v, "isoformat", None)
    return iso() if iso else None


def _file_stats(local_path: str):
    """Row count + per-column (min, max) from the parquet footer — no data
    read; the same numbers Iceberg manifests carry."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(local_path).metadata
    mins: dict = {}
    maxs: dict = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            st = col.statistics
            if name in mins and mins[name] is None:
                # a prior row group had no stats for this column: the
                # file-level range is unknown forever (a later group's
                # range must NOT resurrect it, or pruning could drop a
                # file whose stats-less rows match the predicate)
                continue
            if st is None or not st.has_min_max:
                mins[name] = maxs[name] = None
                continue
            lo, hi = _stats_value(st.min), _stats_value(st.max)
            if lo is None or hi is None:
                mins[name] = maxs[name] = None
                continue
            if name not in mins:
                mins[name], maxs[name] = lo, hi
            else:
                mins[name] = min(mins[name], lo)
                maxs[name] = max(maxs[name], hi)
    return md.num_rows, mins, maxs


class IceTable:
    """A snapshot/manifest parquet table (see module docstring)."""

    def __init__(self, path: str):
        self.path = path
        self.meta = os.path.join(path, "metadata")
        self.data = os.path.join(path, "data")

    # ------------------------------------------------------------- state

    def current_version(self) -> int:
        """The head snapshot id; 0 before the first commit."""
        if not os.path.isdir(self.meta):
            return 0
        return max((int(f[1:-5]) for f in os.listdir(self.meta)
                    if f.startswith("v") and f.endswith(".json")), default=0)

    def head(self) -> int:
        """The head snapshot id, after publishing the pointer of a snapshot
        a crashed committer linked but did not point to (what a retrying
        committer does). Writers read the state they build on through it."""
        n = self.current_version()
        while os.path.exists(os.path.join(self.meta, f"snap-{n + 1}.json")):
            n += 1
            self._publish_pointer(n)
        return n

    def snapshot(self, snapshot: int | None = None) -> dict:
        n = self.current_version() if snapshot is None else snapshot
        if n == 0:
            raise FileNotFoundError(f"no committed version under {self.meta}")
        with open(os.path.join(self.meta, f"snap-{n}.json")) as fh:
            return json.load(fh)

    def snapshots(self) -> list[dict]:
        """The committed snapshots, oldest first."""
        return [self.snapshot(n) for n in range(1, self.current_version() + 1)]

    def entries(self, manifest: str) -> list[dict]:
        """The data-file entries of one manifest."""
        import pyarrow.parquet as pq

        return pq.read_table(os.path.join(self.meta, manifest)).to_pylist()

    def files(self, snapshot: int | None = None) -> list[dict]:
        return [e for m in self.snapshot(snapshot)["manifests"] for e in self.entries(m)]

    # ------------------------------------------------------------ commit

    @staticmethod
    def create(spark: SparkSession, path: str, df: DataFrame,
               order_by: str | None = None, n_files: int | None = None) -> "IceTable":
        t = IceTable(path)
        t.append(df, order_by=order_by, n_files=n_files)
        return t

    def _keyed(self, commit_key: str | None) -> int | None:
        """The id of the snapshot committed under ``commit_key``, if any; a
        crashed commit's snapshot counts (it is adopted first)."""
        if commit_key is not None:
            for n in range(1, self.head() + 1):
                if self.snapshot(n)["summary"].get("commit_key") == commit_key:
                    return n
        return None

    def append(self, df: DataFrame, commit_key: str | None = None,
               order_by: str | None = None, n_files: int | None = None,
               summary: dict | None = None, replace=()) -> int:
        """Commit ``df`` as a new snapshot; returns its id. ``commit_key``
        makes retries idempotent (a snapshot carrying the same key wins and
        the duplicate append is skipped). ``order_by`` range-clusters the
        write so file stats are disjoint along that column. ``summary`` is
        stored in the snapshot's summary. ``replace`` names parent
        manifests the new snapshot drops; a head that no longer holds them
        is a commit conflict and raises."""
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        done = self._keyed(commit_key)
        if done is not None:
            return done
        os.makedirs(self.meta, exist_ok=True)
        os.makedirs(self.data, exist_ok=True)
        df = for_files(df, n_files, order_by)

        # stage the data files
        stage = os.path.join(self.path, f"_stage-{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(stage)
        entries = []
        for f in sorted(os.listdir(stage)):
            if not f.endswith(".parquet"):
                continue
            name = f"{uuid.uuid4().hex}.parquet"
            dst = os.path.join(self.data, name)
            shutil.move(os.path.join(stage, f), dst)
            n_rows, mins, maxs = _file_stats(dst)
            entries.append({
                "path": f"data/{name}",
                "n_rows": n_rows,
                "n_bytes": os.path.getsize(dst),
                "mins": json.dumps(mins),
                "maxs": json.dumps(maxs),
            })
        shutil.rmtree(stage, ignore_errors=True)

        manifest = f"manifest-{uuid.uuid4().hex}.parquet"
        pq.write_table(
            pa.Table.from_pandas(pd.DataFrame(entries)),
            os.path.join(self.meta, manifest),
        )

        # optimistic commit loop. Ownership of snapshot number n is decided
        # by an atomic os.link() of a fully-written private temp file onto
        # snap-<n>.json — the link either publishes the complete snapshot
        # or fails with EEXIST; a loser removes ONLY its own temp file and
        # retries on the new head (it can never clobber or unlink the
        # winner's snapshot). The v<n>.json pointer is created after the
        # snapshot is visible, so a reader that sees v<n> always finds a
        # complete snap-<n>. If a committer crashes between the two steps,
        # head() "adopts" the orphan by creating v<n> itself (idempotent:
        # the content is just {"snapshot_id": n}) and the commit_key is
        # checked against the adopted chain before each attempt.
        schema_json = df.schema.json()
        while True:
            head = self.head()
            done = self._keyed(commit_key)
            if done is not None:
                return done
            parent = self.snapshot(head) if head else {"snapshot_id": None, "manifests": []}
            gone = set(replace) - set(parent["manifests"])
            if gone:
                raise ValueError(f"commit conflict: snapshot {head} of {self.path} "
                                 f"no longer holds {sorted(gone)}")
            n = head + 1
            snap = {
                "snapshot_id": n,
                "parent_id": parent["snapshot_id"],
                "manifests": [m for m in parent["manifests"] if m not in replace] + [manifest],
                "schema": schema_json,
                "summary": {
                    "added_files": len(entries),
                    "added_rows": int(sum(e["n_rows"] for e in entries)),
                    "commit_key": commit_key,
                    **(summary or {}),
                },
            }
            tmp = os.path.join(self.meta, f".snap-{n}.{uuid.uuid4().hex}.tmp")
            with open(tmp, "w") as fh:
                json.dump(snap, fh)
            snap_path = os.path.join(self.meta, f"snap-{n}.json")
            try:
                os.link(tmp, snap_path)
            except FileExistsError:
                os.unlink(tmp)
                continue  # another committer owns n; retry on the new head
            os.unlink(tmp)
            self._publish_pointer(n)
            return n

    def _publish_pointer(self, n: int) -> None:
        """Create v<n>.json for an existing snap-<n>.json (idempotent)."""
        try:
            with open(os.path.join(self.meta, f"v{n}.json"), "x") as fh:
                json.dump({"snapshot_id": n}, fh)
        except FileExistsError:
            pass

    # -------------------------------------------------------------- scan

    def _pruned_paths(self, col, lo, hi, snapshot):
        paths, kept, total = [], 0, 0
        for e in self.files(snapshot):
            total += 1
            if col is not None:
                mins = json.loads(e["mins"])
                maxs = json.loads(e["maxs"])
                fmin, fmax = mins.get(col), maxs.get(col)
                if fmin is not None and fmax is not None:
                    if (hi is not None and fmin > hi) or (lo is not None and fmax < lo):
                        continue  # file provably outside [lo, hi]
            kept += 1
            paths.append(os.path.join(self.path, e["path"]))
        return paths, kept, total

    def scan(self, spark: SparkSession, col: str | None = None,
             lo=None, hi=None, snapshot: int | None = None) -> DataFrame:
        """Manifest-pruned read: only files whose [min, max] for ``col``
        intersects [lo, hi] reach Spark; the residual row filter is applied
        on top (file stats prune, they never decide rows)."""
        from pyspark.sql import functions as F

        paths, _kept, _total = self._pruned_paths(col, lo, hi, snapshot)
        if not paths:
            entries = self.files(snapshot)
            if entries:  # everything pruned: empty DF with the file schema
                return spark.read.parquet(
                    os.path.join(self.path, entries[0]["path"])
                ).limit(0)
            # empty snapshot (e.g. an empty streaming microbatch commit):
            # rebuild the schema recorded at append time
            from pyspark.sql.types import StructType

            schema_json = self.snapshot(snapshot).get("schema")
            if schema_json is None:  # pre-schema table AND empty snapshot
                raise ValueError(
                    f"snapshot has no data files and records no schema: {self.path}")
            return spark.createDataFrame(
                [], StructType.fromJson(json.loads(schema_json)))
        df = spark.read.parquet(*paths)
        if col is not None:
            if lo is not None:
                df = df.filter(F.col(col) >= F.lit(lo))
            if hi is not None:
                df = df.filter(F.col(col) <= F.lit(hi))
        return df

    def read(self, spark: SparkSession, snapshot: int | None = None) -> DataFrame:
        """Full-table read of a snapshot (time travel via ``snapshot``)."""
        return self.scan(spark, snapshot=snapshot)

    def scan_files_kept(self, col, lo, hi, snapshot: int | None = None):
        """(kept, total) manifest pruning counts — the scan-side metric a
        100 TB deployment monitors (and tests assert on)."""
        _p, kept, total = self._pruned_paths(col, lo, hi, snapshot)
        return kept, total
