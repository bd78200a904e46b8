"""Snapshot-atomic parquet table store (Iceberg-semantics, zero extra jars).

The reference persists through six pluggable graph backends behind one driver
interface (drivers/base/.../IDriver.scala:24-52).  Our single backend is an
Iceberg-style table layout on plain parquet:

    <root>/<table>/data/<commit-uuid>/[_bucket=N/]part-*.parquet  immutable data
    <root>/<table>/_snapshots/v{N}.json                  manifest: file list + stats
    <root>/<table>/_current                              atomic pointer (os.replace)

Semantics mirrored from Iceberg (and why they matter at 100 TB):
* APPEND never rewrites existing files — a manifest is previous files + new;
* commits are atomic: data lands first, the pointer flips last, so a killed
  run leaves either the old or the new snapshot, never a torn table
  (the resume-idempotency substrate of the north rule);
* snapshots are retained -> time travel (``read(snapshot_id=...)``) and
  snapshot-diff incremental processing (the reference's changed-files-only
  rebuild, CHANGELOG.md:179);
* per-commit row counts in the manifest = the ``bulkTx`` delta-size return
  (drivers/overflowdb/.../OverflowDbDriver.scala:70);
* LAYOUT: a table may declare hash-bucketing on a key plus a within-file sort
  order (``TableLayout``) — the Spark recast of the reference's secondary
  indexes (drivers/neo4j/.../Neo4jDriver.scala:277-285 CREATE INDEX; the
  OverflowDB heap index OverflowDbDriver.scala:49).  Each data file records
  its bucket id and per-column min/max (read from the parquet footer via
  pyarrow), and ``read(point=...)`` opens only the files that can contain the
  probed key — file skipping, not full scans, is what a point lookup costs.
* Bucket modulus sized to the rows: the modulus is table state, committed in
  each manifest, not a layout constant.  One rule (``buckets_for``) sizes it:
  the smallest power-of-two multiple with ``rows <= n * TARGET_ROWS_PER_BUCKET``.
  A new table has one bucket.  ``overwrite(df, rows=...)`` re-sizes it from a
  row bound known without a Spark job (a manifest count); ``compact`` sizes it
  from the table's own count, never below the current modulus; appends and
  MERGEs keep it, and ``grow`` doubles it through ``rebucket`` once the
  manifest count passes ``n * TARGET_ROWS_PER_BUCKET``.  Small tables are
  thus one file per commit, and a full scan opens one footer, not sixteen.
* Per-file bucket provenance: a bucket id only means something together
  with the key and modulus it was hashed under, so every file entry records
  its ``bucket_by`` and ``n_buckets`` next to ``bucket``.  A point probe is
  hashed under each file's own key and modulus; a ``buckets_of`` set prunes
  only files whose recorded key and modulus equal the set's.  Files written
  before a layout change (another key, or the pre-``rebucket`` modulus) stay
  exact, and time travel across a ``rebucket`` keeps pruning.  Entries with
  no recorded key (written before provenance existed) are never
  bucket-pruned; min/max pruning still applies to them.

Read path: a point probe runs no Spark job, and a full read is resolved once
per snapshot.
* Pinned schema: a table with a declared schema is read with
  ``spark.read.schema(...)``, so building a frame runs no footer-inference
  job.  ``_write_files`` refuses frames whose column names or types differ
  from the declared schema, so a pinned read never drops a column or
  mis-reads a file.
* Driver-side bucket hash: ``files_for(point=...)`` computes the key's bucket
  with a scalar XXH64 (``functions/xxh64.py``) that is bit-identical to the
  ``pmod(xxhash64(key), n)`` the write path assigned — no Spark job.
  It runs once per distinct (key, modulus) among the files.
* Driver-side probes: ``exists(eq)`` prunes with ``files_for(point=eq)`` and
  reads the kept files with ``pq.ParquetFile`` (no dataset set-up, which was
  most of a probe), only the ``eq`` columns of the row groups whose footer
  min/max admit the probe; it stops at the first hit.
  A probe costs a manifest read plus one small file read — the I/O the single
  Spark task of a scan would do, without scheduling a job
  (``GraphStore.node_exists`` / ``edge_exists`` are one call each).
* One frame per snapshot: ``read()`` with no pruning hint and no snapshot id
  returns the same frame for as long as the current snapshot's file list is
  unchanged (data files are immutable, so it never goes stale); a new commit
  replaces it.  Building a frame over every file costs a file listing in the
  JVM, which every full-table query would otherwise pay again.  Pruned reads
  (``scan(files)``) are built fresh each time.

On a real cluster this class is replaced 1:1 by Iceberg
(``df.writeTo("cat.db.t").append()`` / ``MERGE INTO`` with
``PARTITIONED BY (bucket(N, key))`` + ``WRITE ORDERED BY``); the GraphStore
API above it is written against this minimal surface so the swap is confined
here.  ``exists`` maps to a manifest-pruned pyiceberg scan
(``table.scan(row_filter=...)``), which also reads on the driver.
Single-writer per table is assumed (Iceberg's optimistic-concurrency loop is
out of scope for the sandbox).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from plume_spark.functions.xxh64 import xxhash64
from plume_spark.session import local_frame

# mean rows per file-bucket above which a table's modulus doubles: with a
# FIXED modulus every bucket-pruned probe widens linearly as a table grows
# (the round-3 dedup-epoch probe's 60x drift); growth keeps probe cost
# tracking the batch at any table size, and the O(table) rewrite is
# amortized O(1) per ingested row by the doubling schedule
TARGET_ROWS_PER_BUCKET = 500_000


@dataclass(frozen=True)
class TableLayout:
    """Physical layout contract for a SnapshotTable.

    ``bucket_by``: hash-bucket key — rows land in ``pmod(xxhash64(key), n)``
    directories, so a point read on the key opens 1/n of the files; the
    modulus n is table state sized to the rows (``SnapshotTable.n_buckets``);
    ``sort_by``: within-file sort order — tightens parquet min/max stats for
    the listed columns (range pruning), and gives run-length-friendly pages;
    ``stats_cols``: columns whose per-file min/max go into the manifest.
    """

    bucket_by: str | None = None
    sort_by: tuple[str, ...] = ()
    stats_cols: tuple[str, ...] = ()


@dataclass(frozen=True)
class BucketSet:
    """Bucket ids a batch of keys hashes into, with the key and modulus they
    were hashed under (``SnapshotTable.buckets_of``): only a file that
    records the same key and modulus can be pruned by ``ids``."""

    key: str
    n_buckets: int
    ids: frozenset[int]


def _minmax(st) -> tuple | None:
    """(min, max) of a column chunk's footer statistics, strings decoded;
    None when the chunk records none."""
    if st is None or not st.has_min_max:
        return None
    lo, hi = st.min, st.max
    if isinstance(lo, bytes):
        lo, hi = lo.decode("utf-8"), hi.decode("utf-8")
    return lo, hi


def _admitting_row_groups(md, eq: dict) -> list[int]:
    """Row groups of a parquet file whose footer min/max admit every value
    of ``eq``.  A file of one row group keeps it: its min/max are the
    file's, which ``files_for`` already compared with the probe."""
    if md.num_row_groups == 1:
        return [0]
    names = {md.schema.column(i).name: i for i in range(md.num_columns)}
    keep = []
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for col, val in eq.items():
            rng = _minmax(rg.column(names[col]).statistics)
            if rng is not None and not rng[0] <= val <= rng[1]:
                break
        else:
            keep.append(g)
    return keep


def _file_stats(abs_path: str, stats_cols: tuple[str, ...]) -> tuple[int, dict]:
    """(row_count, {col: [min, max]}) from the parquet footer — no data scan.
    The same metadata Iceberg keeps in its manifests."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(abs_path).metadata
    names = {md.schema.column(i).name: i for i in range(md.num_columns)}
    stats: dict[str, list] = {}
    for col in stats_cols:
        i = names.get(col)
        if i is None:
            continue
        lo = hi = None
        complete = True
        for rg in range(md.num_row_groups):
            rng = _minmax(md.row_group(rg).column(i).statistics)
            if rng is None:
                complete = False
                break
            mn, mx = rng
            lo = mn if lo is None or mn < lo else lo
            hi = mx if hi is None or mx > hi else hi
        if complete and lo is not None:
            stats[col] = [lo, hi]
    return md.num_rows, stats


class SnapshotTable:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        schema: T.StructType | None = None,
        layout: TableLayout | None = None,
    ):
        self.spark = spark
        self.path = path
        self.schema = schema
        self.layout = layout
        # (file list, frame) of the last full read — see ``read``
        self._full: tuple[list[str], DataFrame] | None = None
        os.makedirs(os.path.join(path, "_snapshots"), exist_ok=True)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)

    @staticmethod
    def buckets_for(rows: int, n: int = 1) -> int:
        """The sizing rule: the smallest ``n * 2**k`` (k >= 0) with
        ``rows <= n * 2**k * TARGET_ROWS_PER_BUCKET``."""
        while rows > n * TARGET_ROWS_PER_BUCKET:
            n *= 2
        return n

    @property
    def n_buckets(self) -> int:
        """The bucket modulus new files are written under.  It is TABLE
        state, committed in every manifest, so a process reopening a table
        that ``rebucket`` grew keeps writing under the grown modulus; a table
        with no commit has one bucket.  (Reads stay exact whatever it is:
        each file records the key and modulus it was bucketed under.)"""
        m = self._manifest(self._current_version())
        return m.get("n_buckets") or self.buckets_for(m["row_count"])

    def _bucketed(self) -> bool:
        return bool(self.layout and self.layout.bucket_by)

    # ------------------------------------------------------------- manifests

    def _current_version(self) -> int:
        p = os.path.join(self.path, "_current")
        if not os.path.exists(p):
            return 0
        with open(p) as f:
            return int(f.read().strip())

    def _manifest(self, version: int) -> dict:
        if version == 0:
            return {"version": 0, "files": [], "row_count": 0, "parent": None}
        with open(os.path.join(self.path, "_snapshots", f"v{version}.json")) as f:
            return json.load(f)

    @staticmethod
    def _entries(manifest: dict) -> list[dict]:
        """Normalize manifest file entries (older manifests stored bare paths)."""
        return [
            e if isinstance(e, dict) else {"path": e, "bucket": None, "stats": {}, "rows": None}
            for e in manifest["files"]
        ]

    def _commit(
        self, files: list[dict], row_count: int, operation: str, n_buckets: int | None = None
    ) -> int:
        """Commit a snapshot; a bucketed table records ``n_buckets`` (default:
        the current modulus) as the modulus later writes use."""
        if self._bucketed() and n_buckets is None:
            n_buckets = self.n_buckets
        parent = self._current_version()
        version = parent + 1
        manifest = {
            "version": version,
            "parent": parent,
            "operation": operation,
            "files": files,
            "row_count": row_count,
            "committed_at": time.time(),
        }
        if self._bucketed():
            manifest["n_buckets"] = n_buckets
        mpath = os.path.join(self.path, "_snapshots", f"v{version}.json")
        with open(mpath, "w") as f:
            json.dump(manifest, f)
        # atomic pointer flip — the commit point
        tmp = os.path.join(self.path, f"_current.tmp.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, os.path.join(self.path, "_current"))
        return version

    def _check_schema(self, df: DataFrame) -> None:
        """A declared-schema table accepts only frames with exactly its column
        names and types (order and nullability aside): reads pin the declared
        schema, so a file written any other way would be mis-read."""
        if self.schema is None:
            return
        want = sorted((f.name, f.dataType.simpleString()) for f in self.schema.fields)
        got = sorted((f.name, f.dataType.simpleString()) for f in df.schema.fields)
        if got != want:
            raise ValueError(f"{self.path}: frame columns {got} do not match the declared {want}")

    def _write_files(
        self, df: DataFrame, n_buckets: int, keep_empty: bool = True
    ) -> tuple[list[dict], int]:
        """Materialize df as immutable parquet files under a fresh commit dir,
        honoring the table layout (bucketing under modulus ``n_buckets`` +
        sort), and harvest per-file footer stats into manifest entries.
        ``keep_empty=False`` removes the commit dir again when it holds no
        row and returns ``([], 0)``."""
        self._check_schema(df)
        commit_dir = f"data/{uuid.uuid4().hex}"
        out = os.path.join(self.path, commit_dir)
        lay = self.layout
        if lay and lay.bucket_by and lay.bucket_by in df.columns:
            bucketed = df.withColumn(
                "_bucket",
                F.pmod(F.xxhash64(lay.bucket_by), F.lit(n_buckets)).cast("int"),
            ).repartition(n_buckets, "_bucket")
            sort_cols = [c for c in (lay.sort_by or ()) if c in df.columns]
            if sort_cols:
                bucketed = bucketed.sortWithinPartitions(*sort_cols)
            bucketed.write.mode("overwrite").partitionBy("_bucket").parquet(out)
        else:
            towrite = df
            sort_cols = [c for c in ((lay.sort_by if lay else ()) or ()) if c in df.columns]
            if sort_cols:
                towrite = towrite.sortWithinPartitions(*sort_cols)
            towrite.write.mode("overwrite").parquet(out)
        entries: list[dict] = []
        total = 0
        stats_cols = tuple(lay.stats_cols) if lay else ()
        for dirpath, _dirs, fnames in os.walk(out):
            for fname in sorted(fnames):
                if not fname.endswith(".parquet"):
                    continue
                abs_path = os.path.join(dirpath, fname)
                rel = os.path.relpath(abs_path, self.path)
                bucket = None
                comp = os.path.basename(dirpath)
                if comp.startswith("_bucket="):
                    bucket = int(comp.split("=", 1)[1])
                rows, stats = _file_stats(abs_path, stats_cols)
                total += rows
                entry = {"path": rel, "bucket": bucket, "stats": stats, "rows": rows}
                if bucket is not None:
                    entry.update(bucket_by=lay.bucket_by, n_buckets=n_buckets)
                entries.append(entry)
        if total == 0 and not keep_empty:
            shutil.rmtree(out)
            return [], 0
        return entries, total

    # ------------------------------------------------------------ operations

    def append(self, df: DataFrame) -> int:
        """Append-only commit: no existing file is touched, and the bucket
        modulus is kept (``grow`` resizes it).  A frame with no rows commits
        nothing and returns the current version, so re-running an applied
        MERGE leaves the snapshot history as it was."""
        n_buckets = self.n_buckets
        files, n = self._write_files(df, n_buckets, keep_empty=False)
        if n == 0:
            return self._current_version()
        prev = self._manifest(self._current_version())
        return self._commit(
            list(prev["files"]) + files, prev["row_count"] + n, "append", n_buckets
        )

    def overwrite(self, df: DataFrame, rows: int | None = None) -> int:
        """Full rewrite.  ``rows`` is an upper bound on ``df``'s row count
        known without a Spark job (a manifest count); the bucket modulus is
        re-sized to it (``buckets_for``), shrinking or growing.  Without it
        the table keeps its modulus."""
        n_buckets = self.n_buckets if rows is None else self.buckets_for(rows)
        files, n = self._write_files(df, n_buckets)
        return self._commit(files, n, "overwrite", n_buckets)

    def truncate(self) -> int:
        """S8 destructive clear (the `MATCH (n) DETACH DELETE n` analog,
        drivers/neo4j/.../Neo4jDriver.scala:37-45) — as a new empty snapshot,
        so history survives (Iceberg TRUNCATE semantics)."""
        return self._commit([], 0, "truncate")

    def _bucket_of(self, key: str, value, n_buckets: int) -> int:
        """Bucket id of a key value: the ``pmod(xxhash64(key), n)`` that
        ``_write_files`` assigned, hashed on the driver with the declared
        column type (no Spark job).  A key of a type ``xxhash64`` does not
        cover, or one the schema does not declare, raises."""
        dtype = self.schema[key].dataType if self.schema and key in self.schema.names else None
        return xxhash64(value, dtype) % n_buckets

    def buckets_of(self, df: DataFrame, col: str) -> BucketSet:
        """Bucket ids the values of ``df[col]`` (keys of this table's bucket
        key) hash into — computed with the SAME xxhash64/pmod Spark applied
        at write time, under the current modulus.  One small job over ``df``
        (distinct over at most n_buckets ints); feed the result to
        ``read(buckets=...)`` for a batch-probe pruned scan: the multi-key
        generalization of ``read(point=...)``."""
        n = self.n_buckets
        rows = (
            df.select(F.pmod(F.xxhash64(col), F.lit(n)).cast("int").alias("b"))
            .distinct()
            .collect()
        )
        return BucketSet(self.layout.bucket_by, n, frozenset(int(r["b"]) for r in rows))

    def files_for(
        self,
        point: dict | None = None,
        snapshot_id: int | None = None,
        buckets: BucketSet | None = None,
    ) -> list[str]:
        """Data files (relative paths) that can contain rows matching the
        equality ``point`` predicates — bucket pruning on each file's
        recorded key, min/max pruning on stats columns.  ``buckets`` prunes
        to an explicit bucket-id set (from ``buckets_of``) — the probe side
        of an incremental join touches only the file-buckets the batch's keys
        hash into.  The pruning contract is conservative: a pruned-out file
        provably holds no matching row.  A file's bucket id is compared only
        with a hash under the file's own key and modulus, and a file that
        records no key survives bucket pruning."""
        version = self._current_version() if snapshot_id is None else snapshot_id
        entries = self._entries(self._manifest(version))
        if not point and buckets is None:
            return [e["path"] for e in entries]
        hashed: dict[tuple[str, int], int] = {}
        keep = []
        for e in entries:
            key, n, b = e.get("bucket_by"), e.get("n_buckets"), e.get("bucket")
            if key is not None and b is not None:
                if point and key in point:
                    if (key, n) not in hashed:
                        hashed[key, n] = self._bucket_of(key, point[key], n)
                    if b != hashed[key, n]:
                        continue
                if buckets is not None and (key, n) == (buckets.key, buckets.n_buckets):
                    if b not in buckets.ids:
                        continue
            stats = e.get("stats") or {}
            pruned = False
            for col, val in (point or {}).items():
                rng = stats.get(col)
                if rng is not None and not (rng[0] <= val <= rng[1]):
                    pruned = True
                    break
            if not pruned:
                keep.append(e["path"])
        return keep

    def read(
        self,
        snapshot_id: int | None = None,
        point: dict | None = None,
        buckets: BucketSet | None = None,
    ) -> DataFrame:
        """Snapshot read; ``point`` = {col: value} equality hints and
        ``buckets`` = bucket-id set (from ``buckets_of``) are used ONLY to
        skip files (the returned frame still applies no filter itself — pair
        with ``.filter``/join for exactness; pruning is conservative so the
        filtered result is identical to a full scan).

        A full read of the current snapshot (no hint, no ``snapshot_id``)
        returns one frame per file list: the same frame until a commit
        changes the files.  Files are immutable, so it never goes stale, and
        a version number that repeats after ``drop`` cannot hand back a
        frame over deleted files."""
        if snapshot_id is None and point is None and buckets is None:
            files = self.files_for()
            if self._full is None or self._full[0] != files:
                self._full = (files, self.scan(files))
            return self._full[1]
        return self.scan(self.files_for(point, snapshot_id, buckets))

    def exists(self, eq: dict, snapshot_id: int | None = None) -> bool:
        """Whether any row equals ``eq`` ({col: value}) on every column —
        answered on the driver, with no Spark job.  Pruned by
        ``files_for(point=eq)``; each kept file is opened with
        ``pq.ParquetFile`` (no dataset set-up), only the ``eq`` columns of
        the row groups whose footer min/max admit the probe are read, and
        the equality is applied to them, stopping at the first hit.  Probe
        values are typed from the declared schema before any file is pruned,
        so a value the column type cannot hold raises, and so does ``None``
        (SQL equality with NULL holds for no row, and a NULL key probe is a
        caller's bug)."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_type

        declared = {f.name: to_arrow_type(f.dataType) for f in self.schema or ()}
        cond = None
        for col, val in eq.items():
            if val is None:
                raise TypeError(f"{self.path}: probe value for {col} is None")
            term = pc.field(col) == pa.scalar(val, declared.get(col))
            cond = term if cond is None else cond & term
        for f in self.files_for(point=eq, snapshot_id=snapshot_id):
            pf = pq.ParquetFile(os.path.join(self.path, f))
            groups = _admitting_row_groups(pf.metadata, eq)
            if groups and pf.read_row_groups(groups, columns=list(eq)).filter(cond).num_rows:
                return True
        return False

    def scan(self, files: list[str]) -> DataFrame:
        """Frame over data files (relative paths, as ``files_for`` returns
        them).  A declared schema is pinned on the reader, so building the
        frame runs no footer-inference job; ``_write_files`` guarantees every
        file carries exactly that schema.  No files give an empty local
        frame, which the optimizer folds away (a join against it runs no
        scan)."""
        if not files:
            if self.schema is None:
                raise ValueError(f"empty table {self.path} with no declared schema")
            return local_frame(self.spark, [], self.schema)
        paths = [os.path.join(self.path, f) for f in files]
        reader = self.spark.read if self.schema is None else self.spark.read.schema(self.schema)
        return reader.parquet(*paths)

    def merge_insert(self, df: DataFrame, keys: list[str], prune: bool = False) -> int:
        """MERGE ... WHEN NOT MATCHED THEN INSERT (the idempotent-upsert path,
        Cypher MERGE at drivers/neo4j/.../Neo4jDriver.scala:119).

        Implemented append-only: anti-join the incoming rows against current
        keys, append survivors.  Incoming duplicates are collapsed first, so
        a double-write is a no-op (idempotency contract).

        ``prune=True`` (requires the layout bucket key among ``keys``) reads
        only the file-buckets the incoming keys hash into for the anti-join —
        a matching current row must share the incoming row's bucket, so the
        pruned anti-join is exact while the MERGE cost tracks the BATCH, not
        the table (the per-epoch streaming-ingest path).  Files bucketed
        under another key or modulus are read whole.  The incoming frame
        is consumed twice (bucket probe + anti-join): pass something cheap to
        recompute or already checkpointed.  A table with no files skips the
        probe: its read is an empty local frame, and the optimizer drops the
        anti-join.  So does a table of one bucket: every key hashes into it,
        so the probe could prune nothing.
        """
        key = self.layout.bucket_by if self._bucketed() else None
        if prune and key in keys and self.files_for() and self.n_buckets > 1:
            current = self.read(buckets=self.buckets_of(df, key)).select(*keys)
        else:
            current = self.read().select(*keys)
        new = df.dropDuplicates(keys).join(current, keys, "left_anti")
        return self.append(new)

    def merge_upsert(self, df: DataFrame, keys: list[str]) -> int:
        """MERGE with WHEN MATCHED THEN UPDATE — copy-on-write rewrite, like
        Iceberg COW MERGE.  Incoming rows win on key collision."""
        current = self.read()
        kept = current.join(df.select(*keys).distinct(), keys, "left_anti")
        return self.overwrite(kept.unionByName(df.dropDuplicates(keys)))

    def delete_where(self, condition: str) -> int:
        """DELETE FROM t WHERE cond — COW rewrite of the survivors.

        Survivors are rows where cond is NOT TRUE (false or NULL): SQL DELETE
        only removes rows where the predicate evaluates to true, so a bare
        ``NOT (cond)`` would wrongly drop NULL-predicate rows too.
        """
        keep = ~F.coalesce(F.expr(condition), F.lit(False))
        return self.overwrite(self.read().filter(keep))

    # ---------------------------------------------------------- maintenance

    def compact(self, target_file_rows: int = 4_000_000, min_files: int = 2) -> int | None:
        """Small-file compaction — the Iceberg ``rewrite_data_files`` analog.

        Streaming/MERGE ingest commits a handful of files per micro-batch; at
        100 TB the FILE COUNT, not the byte count, becomes the bottleneck
        (driver memory for listings, a task per file, a footer open per file).
        Rewrites the current snapshot as one fresh layout-conforming fileset
        (re-bucketed, re-sorted, stats re-harvested) and commits it as a
        ``compact`` snapshot: same rows, fewer files, tighter min/max ranges.
        Old snapshots keep referencing the old files, so time travel is
        unaffected until ``expire_snapshots`` reclaims them.

        A bucketed table is rewritten under ``buckets_for(row_count,
        n_buckets)``: the rule sizes the modulus from the manifest count and
        never below the current one, so an explicit or grown modulus stays.

        Returns the new snapshot id, or None when the table already holds
        ``min_files`` or fewer files (no-op — compaction must be idempotent
        and cheap to call on a schedule).
        """
        import math

        entries = self._entries(self._manifest(self._current_version()))
        lay = self.layout
        n_buckets = self.buckets_for(self.row_count(), self.n_buckets)
        if self._bucketed():
            # bucketed natural form: every file bucketed under the layout's
            # key and the sized modulus, at most one file per bucket.  Files
            # recording another key, or none, are rewritten even one per
            # bucket.
            laid_out = all(
                (e.get("bucket_by"), e.get("n_buckets")) == (lay.bucket_by, n_buckets)
                for e in entries
            )
            buckets = [e.get("bucket") for e in entries]
            if laid_out and len(buckets) == len(set(buckets)):
                return None
        elif len(entries) <= min_files:
            return None
        df = self.read()
        if not (lay and lay.bucket_by and lay.bucket_by in df.columns):
            # unbucketed: bin-pack into ceil(rows/target) files (coalesce only
            # ever narrows, so a small table collapses to one file)
            n = max(1, math.ceil(self.row_count() / max(1, target_file_rows)))
            df = df.coalesce(n)
        files, cnt = self._write_files(df, n_buckets)
        return self._commit(files, cnt, "compact", n_buckets)

    def rebucket(self, n_buckets: int) -> int | None:
        """Rewrite the table under a new bucket modulus — the Iceberg
        ``REPLACE PARTITION FIELD bucket(N, key)`` + rewrite analog.  ``grow``
        calls it on a doubling schedule; it also sets an explicit modulus.

        A fixed modulus makes per-bucket size grow linearly with the table,
        so every bucket-pruned probe widens as an index ages (the round-3
        dedup-epoch probe's 60x drift).  Growing the modulus on a doubling
        schedule keeps rows-per-bucket bounded; the rewrite is O(table) but
        amortized O(1) per ingested row.  The new modulus is committed in the
        manifest, so later processes reopening the table keep writing under
        it; older snapshots' files keep their own recorded modulus.  A table
        with no files commits the modulus alone, with no Spark job."""
        if not self._bucketed() or n_buckets == self.n_buckets:
            return None
        files, cnt = self._write_files(self.read(), n_buckets) if self.files_for() else ([], 0)
        return self._commit(files, cnt, "rebucket", n_buckets)

    def grow(self) -> tuple[int, int] | None:
        """Maintenance: double the modulus until the manifest row count fits
        (``buckets_for``), rewriting through ``rebucket``.  The check is O(1)
        (manifest counts); a table that fits is untouched.  Returns the
        (old, new) modulus of a grown table, else None.  Run it after a batch
        staging step or in a drain's maintenance slot, never inside a
        streaming micro-batch fold."""
        if not self._bucketed():
            return None
        n = self.n_buckets
        want = self.buckets_for(self.row_count(), n)
        if want == n:
            return None
        self.rebucket(want)
        return n, want

    def expire_snapshots(self, keep_last: int = 2) -> dict:
        """Iceberg ``expire_snapshots`` analog: retain only the most recent
        ``keep_last`` snapshots, delete older manifests and every data file no
        retained snapshot references.  Bounds metadata + storage growth for
        always-on ingest, where every micro-batch is a commit.  Time travel
        remains valid for retained snapshots only (reads of expired ids fail
        loudly with the missing manifest, never silently serve partial data).
        """
        keep_last = max(1, keep_last)
        retained: list[int] = []
        v = self._current_version()
        while v and len(retained) < keep_last:
            retained.append(v)
            v = self._manifest(v)["parent"] or 0
        keep_files = {
            e["path"] for rv in retained for e in self._entries(self._manifest(rv))
        }
        removed_manifests = removed_files = 0
        snapdir = os.path.join(self.path, "_snapshots")
        for fname in os.listdir(snapdir):
            if not (fname.startswith("v") and fname.endswith(".json")):
                continue
            if int(fname[1:-5]) not in retained:
                os.remove(os.path.join(snapdir, fname))
                removed_manifests += 1
        datadir = os.path.join(self.path, "data")
        for dirpath, _dirs, fnames in os.walk(datadir, topdown=False):
            for fname in fnames:
                abs_p = os.path.join(dirpath, fname)
                if os.path.relpath(abs_p, self.path) not in keep_files:
                    os.remove(abs_p)  # also sweeps _SUCCESS markers of expired commits
                    removed_files += 1
            if dirpath != datadir and not os.listdir(dirpath):
                os.rmdir(dirpath)
        return {
            "retained": retained,
            "removed_manifests": removed_manifests,
            "removed_data_files": removed_files,
        }

    # ------------------------------------------------------------ metadata

    def snapshots(self) -> list[dict]:
        out = []
        v = self._current_version()
        while v:
            try:
                m = self._manifest(v)
            except FileNotFoundError:
                break  # older history expired — lineage stops here
            out.append(m)
            v = m["parent"] or 0
        return list(reversed(out))

    def row_count(self) -> int:
        """O(1) from manifest stats — no scan (Iceberg snapshot summary)."""
        return self._manifest(self._current_version())["row_count"]

    def changed_since(self, snapshot_id: int) -> DataFrame:
        """Snapshot-diff read: rows in files added after ``snapshot_id`` —
        the incremental-rebuild primitive (CHANGELOG.md:179 changed-files-only)."""
        old = {e["path"] for e in self._entries(self._manifest(snapshot_id))}
        cur = self._entries(self._manifest(self._current_version()))
        new_files = [e["path"] for e in cur if e["path"] not in old]
        if not new_files and self.schema is None:
            return local_frame(self.spark, [], self.read().schema)
        return self.scan(new_files)

    def drop(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


class SnapshotStore:
    """Catalog of SnapshotTables rooted at a directory."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def table(
        self,
        name: str,
        schema: T.StructType | None = None,
        layout: TableLayout | None = None,
    ) -> SnapshotTable:
        return SnapshotTable(self.spark, os.path.join(self.root, name), schema, layout)

    def tables(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d, "_snapshots"))
        )
