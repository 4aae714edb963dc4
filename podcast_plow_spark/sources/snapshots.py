"""Snapshot store — the Iceberg-fallback persistence layer.

The sandbox has no Iceberg runtime jar / pyiceberg, so this module
implements the Iceberg properties the crawl engine relies on
(SURVEY.md §7 M0, SCALE_DESIGN.md):

1. **Atomic epoch commits** — every epoch writes new data files to
   unique staging paths, then a single ``os.replace`` of the
   ``LATEST`` pointer file publishes the whole epoch. Readers either
   see the previous snapshot or the complete new one; a crash mid-epoch
   leaves the previous snapshot intact (tested in
   tests/test_crawl_engine.py::test_resume_after_kill).
2. **Resume from any snapshot** — ``load(epoch=k)`` reads the manifest
   for snapshot k; the engine continues from there.
3. **Bucketed tables + bucket-pruned MERGE** — the Iceberg
   ``PARTITIONED BY (bucket(N, host))`` + copy-on-write ``MERGE INTO``
   analog: a bucketed table's manifest maps bucket-id → data path, and
   :meth:`merge_buckets` rewrites ONLY the buckets an epoch touched;
   untouched buckets are carried forward as manifest pointers to their
   existing (immutable) files.
4. **Log-structured merge-on-read deltas** — the Iceberg MoR analog,
   and the piece that makes epoch cost O(batch) instead of
   O(frontier): politeness spreads a crawl batch across MANY hosts, so
   per-epoch updates hit most buckets and copy-on-write degenerates to
   a full rewrite. :meth:`merge_delta` writes only the epoch's own
   upserts as a new delta part and appends it to the entry's delta
   list — no earlier part is re-read or re-written.
   :meth:`read_table` overlays the parts: of the base and delta rows
   of a key, the newest part's row wins (base rows count as the
   oldest), by one broadcast anti-join against the parts' (key, part)
   pairs — no base or delta row is shuffled. :meth:`compaction_due`
   says when to fold the parts into the buckets — once they hold the
   caller's row bound or :data:`MAX_DELTA_PARTS` parts — and
   :meth:`compact_deltas` does it as one amortized, bucket-pruned
   rewrite, so the overlay stays broadcast-sized and its file list
   short.
5. **Append tables** — the Iceberg fast-append analog for the
   append-only side tables (crawl_log, lineage): :meth:`declare_table`
   records the schema with no data file, :meth:`append_table` adds one
   parquet part, and :meth:`append_rows` keeps a few driver-side rows
   inline in the manifest (the Iceberg snapshot-summary analog: no
   Spark job); past :data:`INLINE_ROWS_MAX` inline rows they spill
   into one part in the same commit. No read-modify-write of history,
   ever.
6. **Schema in the metadata** — every entry records its table's
   schema (without the ``__bucket`` directory column), and every read
   passes it to ``spark.read.schema(...)``, as Iceberg reads its schema
   from table metadata: no read runs Spark's schema-inference job.

The interface is deliberately the shape of an Iceberg catalog
(``write_table`` / ``read_table`` / ``commit`` / snapshot listing) so
a real ``spark.table("catalog.db.frontier")`` + ``MERGE INTO`` /
``table.newFastAppend()`` drops in on a real cluster with no engine
changes.

Manifest layout::

    root/
      data/<table>/<version>/...            (immutable once committed)
      manifests/manifest-<epoch>.json
      LATEST                                -> manifest filename (atomic)

Manifest table entries (three kinds; ``schema`` is a Spark
``StructType.jsonValue()``)::

    "plain_table":  {"kind": "plain", "path": "data/t/abc123", "schema": {...}}
    "frontier":     {"kind": "bucketed", "bucket_col": "host_hash", "schema": {...},
                     "buckets": {"0": "data/frontier/v1/__bucket=0",
                                 "1": "data/frontier/v7/__bucket=1", ...},
                     "deltas": ["data/frontier/v8", "data/frontier/v9"],
                     "delta_key": "seq", "delta_est": 412}
    "lineage":      {"kind": "append", "schema": {...},
                     "parts": ["data/lineage/v3", ...],
                     "rows": [[0, 7, 100, 12, 0.0], ...]}

Note bucket 0 and bucket 1 above point into *different versions* —
that is the bucket-pruned merge at work. ``deltas`` lists the delta
parts oldest first; each part's rows carry their list index in a
``__delta_part`` column, which the read overlay compares.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

__all__ = ["INLINE_ROWS_MAX", "MAX_DELTA_PARTS", "SnapshotStore"]

_BUCKET_DIR_COL = "__bucket"
# a delta row's index in its entry's ``deltas`` list: the newest wins
_DELTA_PART_COL = "__delta_part"

#: delta parts a bucketed table may carry before compaction is due,
#: whatever their row count: bounds the files each overlay read lists
#: and scans
MAX_DELTA_PARTS = 8
#: inline rows an append table keeps in its manifest entry; one more
#: spills them all into one parquet part, so a manifest stays small
INLINE_ROWS_MAX = 256


def _order_cols(order_by: list) -> list:
    """Manifest-serializable sort spec → Column list.
    ``order_by`` is ``[[col, "asc"|"desc"], ...]``."""
    return [F.col(c).desc() if d == "desc" else F.col(c).asc() for c, d in order_by]


def _schema_of(entry: dict) -> StructType:
    return StructType.fromJson(entry["schema"])


def _conform(df: DataFrame, schema: StructType) -> DataFrame:
    """``df`` with exactly ``schema``'s columns, order and types, so
    every part of a table matches the schema its reads pass."""
    return df.select(*[F.col(f.name).cast(f.dataType) for f in schema.fields])


def _entry_rels(entry: dict) -> list[str]:
    """Every data path an entry references."""
    if entry["kind"] == "plain":
        return [entry["path"]]
    if entry["kind"] == "bucketed":
        return list(entry["buckets"].values()) + list(entry.get("deltas", []))
    if entry["kind"] == "append":
        return list(entry["parts"])
    raise ValueError(f"unknown table entry {entry!r}")


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        os.makedirs(os.path.join(root, "manifests"), exist_ok=True)
        self._staged: dict[str, dict] = {}

    # -- staging -------------------------------------------------------

    def _new_version_rel(self, name: str) -> str:
        return os.path.join("data", name, uuid.uuid4().hex[:12])

    def _read(self, spark: SparkSession, schema: StructType, rels: list[str]) -> DataFrame:
        """Parquet read under the recorded schema: no inference job."""
        return spark.read.schema(schema).parquet(*[os.path.join(self.root, r) for r in rels])

    def write_table(self, name: str, df: DataFrame, partition_by: list[str] | None = None) -> str:
        """Stage a FULL table version for the next commit. Data lands
        under a unique path immediately (the parquet write is the
        expensive part); only the manifest pointer flip is deferred to
        commit()."""
        rel = self._new_version_rel(name)
        path = os.path.join(self.root, rel)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        self._staged[name] = {"kind": "plain", "path": rel, "schema": df.schema.jsonValue()}
        return path

    def write_bucketed(
        self,
        name: str,
        df: DataFrame,
        bucket_col: str = "host_hash",
        order_by: list | None = None,
        row_group_bytes: int | None = None,
    ) -> None:
        """Stage a bucketed table: one data directory per distinct
        ``bucket_col`` value, each individually addressable by the
        manifest (→ :meth:`merge_buckets` can later swap single
        buckets). ``bucket_col`` stays IN the data files (the directory
        key is a copy), so reading any subset of buckets yields the
        full schema.

        ``order_by`` (``[[col, "asc"|"desc"], ...]``) is the Iceberg
        ``WRITE ORDERED BY`` analog: rows are clustered one bucket per
        task and sorted by the given key inside each file, so parquet
        row-group min/max stats become selective for range/prefix
        filters on the leading sort columns — a reader's pushed
        prefix predicate (e.g. the dequeue's order-key cut) then skips
        almost every row group instead of scanning the table. The sort
        spec is recorded in the manifest and reapplied by delta
        compaction, so the property survives merge-on-read rewrites.

        ``row_group_bytes`` (Iceberg ``write.parquet.row-group-size-
        bytes`` analog): the row group is the pruning QUANTUM — at the
        writer default (128 MB) a ~100 MB bucket file is ONE group
        whose stats span the whole key range and nothing skips; a
        smaller group size makes the sorted file's stats fine-grained
        (e.g. 16 MB → a prefix cut reads ~1 group per bucket instead
        of the file). Recorded in the manifest alongside the sort
        spec so compaction rewrites keep the granularity."""
        self._staged[name] = {
            "kind": "bucketed",
            "bucket_col": bucket_col,
            "schema": df.schema.jsonValue(),
            "buckets": {},
            "write_order": list(order_by) if order_by else [],
            **({"row_group_bytes": int(row_group_bytes)} if row_group_bytes else {}),
        }
        self.merge_buckets(name, df)

    def merge_buckets(self, name: str, touched_df: DataFrame, bucket_col: str | None = None) -> list[int]:
        """Bucket-pruned MERGE: ``touched_df`` is the complete new
        content of every bucket it contains rows for. Those buckets'
        manifest pointers move to the freshly written files; all other
        buckets carry forward untouched (pointer copy, zero I/O).

        Returns the list of bucket ids rewritten. This is the Iceberg
        ``MERGE INTO`` analog under the copy-on-write strategy with
        partition-granularity pruning."""
        entry = self._current_entry(name)
        assert entry is not None and entry["kind"] == "bucketed", f"{name} is not bucketed"
        bucket_col = bucket_col or entry["bucket_col"]
        write_order = entry.get("write_order", [])
        row_group_bytes = entry.get("row_group_bytes")
        rel = self._new_version_rel(name)
        path = os.path.join(self.root, rel)
        out = _conform(touched_df, _schema_of(entry)).withColumn(_BUCKET_DIR_COL, F.col(bucket_col))
        if write_order:
            # one task per bucket + in-file order: the writer's
            # required partition-column ordering is already satisfied
            # by the leading sort key, so no extra sort is inserted
            # and the secondary (dequeue-key) order reaches the file
            out = out.repartition(F.col(_BUCKET_DIR_COL)).sortWithinPartitions(
                F.col(_BUCKET_DIR_COL), *_order_cols(write_order)
            )
        writer = out.write.mode("overwrite")
        if row_group_bytes:
            writer = writer.option("parquet.block.size", str(int(row_group_bytes)))
        writer.partitionBy(_BUCKET_DIR_COL).parquet(path)
        new_buckets = self._scan_bucket_dirs(rel)
        self._staged[name] = {
            **entry,
            "bucket_col": bucket_col,
            "buckets": {**entry["buckets"], **new_buckets},
        }
        return sorted(int(k) for k in new_buckets)

    def merge_delta(self, name: str, updates: DataFrame, key_col: str = "seq", approx_rows: int | None = None) -> None:
        """Merge-on-read upsert for a bucketed table: write ``updates``
        (full rows, unique by ``key_col``) as ONE new delta part and
        append it to the table's delta list. Earlier parts are neither
        read nor rewritten — the read overlay lets the newest part's
        row win per key — so the write is O(updates), whatever the
        epochs since the last compaction."""
        entry = self._current_entry(name)
        assert entry is not None and entry["kind"] == "bucketed", f"{name} is not bucketed"
        deltas = list(entry.get("deltas", []))
        rel = self._new_version_rel(name)
        _conform(updates, _schema_of(entry)).withColumn(
            _DELTA_PART_COL, F.lit(len(deltas))
        ).write.mode("overwrite").parquet(os.path.join(self.root, rel))
        staged = {**entry, "deltas": deltas + [rel], "delta_key": key_col}
        if approx_rows is not None:
            # caller-supplied upper bound on this merge's rows — the
            # manifest carries a running estimate so compaction
            # policy never needs a count() job
            staged["delta_est"] = int(entry.get("delta_est", 0)) + int(approx_rows)
        else:
            staged.pop("delta_est", None)
        self._staged[name] = staged

    def compaction_due(self, spark: SparkSession, name: str, max_rows: int) -> bool:
        """True once the pending delta parts hold ``max_rows`` rows or
        number :data:`MAX_DELTA_PARTS`. Rows come from the manifest's
        running estimate when every merge supplied one (an upper bound,
        which only compacts EARLIER), else from an exact count job."""
        entry = self._current_entry(name)
        deltas = entry.get("deltas", []) if entry is not None else []
        if not deltas:
            return False
        if len(deltas) >= MAX_DELTA_PARTS:
            return True
        if "delta_est" in entry:
            return int(entry["delta_est"]) >= max_rows
        return self._read(spark, _schema_of(entry), deltas).count() >= max_rows

    def compact_deltas(self, name: str) -> list[int]:
        """Fold the delta overlay into the bucket files (amortized,
        bucket-pruned rewrite) and clear the delta list. Returns the
        rewritten bucket ids.

        The overlay is built from the CURRENT entry — staged first,
        committed as fallback — so compacting in the same epoch as a
        just-staged merge_delta folds that delta too (read_table would
        only see the committed manifest and silently drop the staged
        updates; caught by the crawl-parity-under-compaction test)."""
        entry = self._current_entry(name)
        assert entry is not None and entry["kind"] == "bucketed"
        if not entry.get("deltas"):
            return []
        spark = SparkSession.getActiveSession()
        assert spark is not None
        bucket_col = entry["bucket_col"]
        delta = self._read(spark, _schema_of(entry), entry["deltas"])
        touched = sorted(int(r[0]) for r in delta.select(bucket_col).distinct().collect())
        base_rels = [entry["buckets"][str(b)] for b in touched if str(b) in entry["buckets"]]
        rewritten = self.merge_buckets(name, self._overlay(spark, entry, base_rels), bucket_col)
        staged = {**self._staged[name], "deltas": []}
        staged.pop("delta_est", None)
        self._staged[name] = staged
        return rewritten

    def declare_table(self, name: str, schema: StructType | str) -> None:
        """Stage an empty append table: its schema (a ``StructType`` or
        a DDL string) and no parts — no Spark job, no data file (the
        Iceberg ``CREATE TABLE`` analog). A read returns an empty frame
        of that schema."""
        if isinstance(schema, str):
            schema = StructType.fromDDL(schema)
        self._staged[name] = {"kind": "append", "schema": schema.jsonValue(), "parts": [], "rows": []}

    def append_table(self, name: str, delta: DataFrame) -> None:
        """Stage an append: one new data file list entry; history is
        never re-read or re-written (Iceberg fast-append analog). The
        first append of an undeclared table records ``delta``'s
        schema."""
        entry = self._current_entry(name)
        if entry is None:
            entry = {"kind": "append", "schema": delta.schema.jsonValue(), "parts": [], "rows": []}
        assert entry["kind"] == "append", f"{name} is not an append table"
        rel = self._new_version_rel(name)
        _conform(delta, _schema_of(entry)).write.mode("overwrite").parquet(os.path.join(self.root, rel))
        self._staged[name] = {**entry, "parts": entry["parts"] + [rel]}

    def append_rows(self, name: str, rows: list) -> None:
        """Stage a few driver-side rows (tuples in schema order, JSON
        scalars) of a declared append table inline in the manifest —
        the Iceberg snapshot-summary analog: no Spark job, no file.
        Once the table's inline rows pass :data:`INLINE_ROWS_MAX` they
        spill, all of them, into one new part in the same commit."""
        entry = self._current_entry(name)
        assert entry is not None and entry["kind"] == "append", f"declare {name} first"
        inline = entry["rows"] + [list(r) for r in rows]
        parts = entry["parts"]
        if len(inline) > INLINE_ROWS_MAX:
            spark = SparkSession.getActiveSession()
            assert spark is not None
            rel = self._new_version_rel(name)
            spark.createDataFrame(inline, _schema_of(entry)).write.mode("overwrite").parquet(
                os.path.join(self.root, rel)
            )
            parts, inline = parts + [rel], []
        self._staged[name] = {**entry, "parts": parts, "rows": inline}

    def _scan_bucket_dirs(self, rel: str) -> dict[str, str]:
        path = os.path.join(self.root, rel)
        out: dict[str, str] = {}
        for d in os.listdir(path):
            if d.startswith(f"{_BUCKET_DIR_COL}="):
                out[d.split("=", 1)[1]] = os.path.join(rel, d)
        return out

    def _current_entry(self, name: str) -> dict | None:
        if name in self._staged:
            return self._staged[name]
        manifest = self._latest_manifest()
        if manifest and name in manifest["tables"]:
            return manifest["tables"][name]
        return None

    # -- commit / read -------------------------------------------------

    def commit(self, epoch: int, metadata: dict | None = None) -> None:
        manifest = self._latest_manifest()
        tables = dict(manifest["tables"]) if manifest else {}
        tables.update(self._staged)
        new_manifest = {"epoch": epoch, "tables": tables, "metadata": metadata or {}}
        mf_name = f"manifest-{epoch:08d}.json"
        mf_path = os.path.join(self.root, "manifests", mf_name)
        tmp = mf_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(new_manifest, fh)
        os.replace(tmp, mf_path)
        # the atomic publish: readers only ever follow LATEST
        latest_tmp = os.path.join(self.root, "LATEST.tmp")
        with open(latest_tmp, "w") as fh:
            fh.write(mf_name)
        os.replace(latest_tmp, os.path.join(self.root, "LATEST"))
        self._staged = {}

    def _latest_manifest(self) -> dict | None:
        latest = os.path.join(self.root, "LATEST")
        if not os.path.exists(latest):
            return None
        with open(latest) as fh:
            mf_name = fh.read().strip()
        with open(os.path.join(self.root, "manifests", mf_name)) as fh:
            return json.load(fh)

    def manifest_for(self, epoch: int) -> dict | None:
        path = os.path.join(self.root, "manifests", f"manifest-{epoch:08d}.json")
        if not os.path.exists(path):
            return None
        with open(path) as fh:
            return json.load(fh)

    def latest_epoch(self) -> int | None:
        m = self._latest_manifest()
        return None if m is None else m["epoch"]

    def latest_metadata(self) -> dict:
        m = self._latest_manifest()
        return {} if m is None else m.get("metadata", {})

    def table_entry(self, name: str, epoch: int | None = None) -> dict | None:
        manifest = self._latest_manifest() if epoch is None else self.manifest_for(epoch)
        if not manifest or name not in manifest["tables"]:
            return None
        return manifest["tables"][name]

    def _overlay(
        self,
        spark: SparkSession,
        entry: dict,
        base_rels: list[str],
        bucket_ids: list[int] | None = None,
    ) -> DataFrame:
        """The base files ``base_rels`` with the entry's delta parts
        applied. One rule for every row: base rows count as part -1,
        and a row survives unless a NEWER part holds its key. Base and
        delta files are ONE scan (base files carry no ``__delta_part``
        column, so it reads as null), anti-joined against one broadcast
        of the parts' (key, part) pairs. Neither base nor delta rows
        are shuffled, and the pairs are bounded by the compaction
        threshold."""
        schema = _schema_of(entry)
        with_part = StructType(schema.fields + [StructField(_DELTA_PART_COL, IntegerType())])
        key_col = entry.get("delta_key", "seq")
        delta = self._read(spark, with_part, entry["deltas"])
        rows = self._read(spark, with_part, base_rels + entry["deltas"]).withColumn(
            _DELTA_PART_COL, F.coalesce(F.col(_DELTA_PART_COL), F.lit(-1))
        )
        if bucket_ids is not None:
            in_buckets = F.col(entry["bucket_col"]).isin([int(b) for b in bucket_ids])
            delta, rows = delta.where(in_buckets), rows.where(in_buckets)
        newer = F.broadcast(delta.select(F.col(key_col).alias("__key"), F.col(_DELTA_PART_COL).alias("__newer")))
        cond = (F.col(key_col) == F.col("__key")) & (F.col("__newer") > F.col(_DELTA_PART_COL))
        return rows.join(newer, cond, "left_anti").drop(_DELTA_PART_COL)

    def read_table(
        self,
        spark: SparkSession,
        name: str,
        epoch: int | None = None,
        bucket_ids: list[int] | None = None,
    ) -> DataFrame | None:
        """Read a table (any kind) at the latest — or a pinned — epoch,
        under the schema its manifest entry records. For bucketed
        tables ``bucket_ids`` prunes the read to just those buckets'
        files (manifest-level partition pruning), and pending
        merge-on-read delta parts are overlaid (:meth:`_overlay`). An
        append table reads its parts plus its inline rows; with
        neither it is an empty frame of its schema."""
        entry = self.table_entry(name, epoch)
        if entry is None:
            return None
        schema = _schema_of(entry)
        if entry["kind"] == "plain":
            return self._read(spark, schema, [entry["path"]])
        if entry["kind"] == "append":
            out = self._read(spark, schema, entry["parts"]) if entry["parts"] else None
            if entry["rows"] or out is None:
                inline = spark.createDataFrame(entry["rows"], schema)
                out = inline if out is None else out.unionByName(inline)
            return out
        buckets = entry["buckets"]
        keys = sorted(buckets) if bucket_ids is None else [str(b) for b in bucket_ids if str(b) in buckets]
        base_rels = [buckets[k] for k in keys]
        if entry.get("deltas"):
            return self._overlay(spark, entry, base_rels, bucket_ids)
        return self._read(spark, schema, base_rels) if base_rels else None

    def expire_snapshots(self, keep_last: int = 3) -> None:
        """GC data versions unreachable from the last ``keep_last``
        manifests (the Iceberg expire_snapshots analog). Reachability
        is at version-directory granularity: a version dir survives if
        any manifest references it or any bucket inside it."""
        mf_dir = os.path.join(self.root, "manifests")
        names = sorted(os.listdir(mf_dir))
        reachable: set[str] = set()
        for name in names[-keep_last:]:
            with open(os.path.join(mf_dir, name)) as fh:
                for entry in json.load(fh)["tables"].values():
                    for rel in _entry_rels(entry):
                        reachable.add(os.path.join(*rel.split(os.sep)[:3]))  # data/<table>/<version>
        data_dir = os.path.join(self.root, "data")
        for table in os.listdir(data_dir):
            for version in os.listdir(os.path.join(data_dir, table)):
                rel = os.path.join("data", table, version)
                if rel not in reachable:
                    shutil.rmtree(os.path.join(self.root, rel), ignore_errors=True)
        for name in names[:-keep_last]:
            os.remove(os.path.join(mf_dir, name))
