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
4. **Merge-on-read deltas** — the Iceberg MoR analog, and the piece
   that makes epoch cost O(batch) instead of O(frontier): politeness
   spreads a crawl batch across MANY hosts, so per-epoch updates hit
   most buckets and copy-on-write degenerates to a full rewrite. With
   :meth:`merge_delta`, an epoch's upserts land in ONE small delta
   part; :meth:`read_table` overlays it (broadcast anti-join on the
   key + union — the delta is bounded by the compaction threshold, so
   the overlay is always broadcast-sized); :meth:`compact_deltas`
   folds accumulated deltas into the buckets when they grow past the
   threshold — an amortized, bucket-pruned rewrite.
5. **Append tables** — the Iceberg fast-append analog for the
   append-only side tables (crawl_log, lineage): each epoch adds one
   new data file; the manifest accumulates the part list. No
   read-modify-write of history, ever.

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

Manifest table entries (three kinds)::

    "plain_table":  "data/t/abc123"
    "frontier":     {"kind": "bucketed", "bucket_col": "host_hash",
                     "buckets": {"0": "data/frontier/v1/__bucket=0",
                                 "1": "data/frontier/v7/__bucket=1", ...}}
    "crawl_log":    {"kind": "append", "parts": ["data/crawl_log/v1", ...]}

Note bucket 0 and bucket 1 above point into *different versions* —
that is the bucket-pruned merge at work.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["SnapshotStore"]

_BUCKET_DIR_COL = "__bucket"


def _order_cols(order_by: list) -> list:
    """Manifest-serializable sort spec → Column list.
    ``order_by`` is ``[[col, "asc"|"desc"], ...]``."""
    return [F.col(c).desc() if d == "desc" else F.col(c).asc() for c, d in order_by]


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        os.makedirs(os.path.join(root, "manifests"), exist_ok=True)
        self._staged: dict[str, object] = {}

    # -- staging -------------------------------------------------------

    def _new_version_rel(self, name: str) -> str:
        return os.path.join("data", name, uuid.uuid4().hex[:12])

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
        self._staged[name] = rel
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
        rel = self._new_version_rel(name)
        path = os.path.join(self.root, rel)
        out = df.withColumn(_BUCKET_DIR_COL, F.col(bucket_col))
        if order_by:
            # one task per bucket + in-file order: the writer's
            # required partition-column ordering is already satisfied
            # by the leading sort key, so no extra sort is inserted
            # and the secondary (dequeue-key) order reaches the file
            out = out.repartition(F.col(_BUCKET_DIR_COL)).sortWithinPartitions(
                F.col(_BUCKET_DIR_COL), *_order_cols(order_by)
            )
        writer = out.write.mode("overwrite")
        if row_group_bytes:
            writer = writer.option("parquet.block.size", str(int(row_group_bytes)))
        writer.partitionBy(_BUCKET_DIR_COL).parquet(path)
        buckets = self._scan_bucket_dirs(rel)
        self._staged[name] = {
            "kind": "bucketed",
            "bucket_col": bucket_col,
            "buckets": buckets,
            "write_order": list(order_by) if order_by else [],
            **({"row_group_bytes": int(row_group_bytes)} if row_group_bytes else {}),
        }

    def merge_buckets(self, name: str, touched_df: DataFrame, bucket_col: str | None = None) -> list[int]:
        """Bucket-pruned MERGE: ``touched_df`` is the complete new
        content of every bucket it contains rows for. Those buckets'
        manifest pointers move to the freshly written files; all other
        buckets carry forward untouched (pointer copy, zero I/O).

        Returns the list of bucket ids rewritten. This is the Iceberg
        ``MERGE INTO`` analog under the copy-on-write strategy with
        partition-granularity pruning."""
        entry = self._current_entry(name)
        assert isinstance(entry, dict) and entry.get("kind") == "bucketed", f"{name} is not bucketed"
        bucket_col = bucket_col or entry["bucket_col"]
        write_order = entry.get("write_order", [])
        row_group_bytes = entry.get("row_group_bytes")
        rel = self._new_version_rel(name)
        path = os.path.join(self.root, rel)
        out = touched_df.withColumn(_BUCKET_DIR_COL, F.col(bucket_col))
        if write_order:
            # preserve the table's WRITE ORDERED BY property across
            # bucket rewrites (see write_bucketed)
            out = out.repartition(F.col(_BUCKET_DIR_COL)).sortWithinPartitions(
                F.col(_BUCKET_DIR_COL), *_order_cols(write_order)
            )
        writer = out.write.mode("overwrite")
        if row_group_bytes:
            writer = writer.option("parquet.block.size", str(int(row_group_bytes)))
        writer.partitionBy(_BUCKET_DIR_COL).parquet(path)
        new_buckets = self._scan_bucket_dirs(rel)
        merged = dict(entry["buckets"])
        merged.update(new_buckets)
        self._staged[name] = {
            "kind": "bucketed",
            "bucket_col": bucket_col,
            "buckets": merged,
            "write_order": write_order,
            **({"row_group_bytes": int(row_group_bytes)} if row_group_bytes else {}),
        }
        return sorted(int(k) for k in new_buckets)

    def merge_delta(self, name: str, updates: DataFrame, key_col: str = "seq", approx_rows: int | None = None) -> None:
        """Merge-on-read upsert for a bucketed table: stage ``updates``
        (full rows, latest version wins by ``key_col``) as the table's
        single delta part. An existing delta is folded in first
        (new keys override old delta rows), so the table always carries
        at most ONE delta part whose size is bounded by updates since
        the last compaction — which keeps the read-side overlay
        broadcastable. Write cost per epoch: O(accumulated delta), not
        O(table)."""
        entry = self._current_entry(name)
        assert isinstance(entry, dict) and entry.get("kind") == "bucketed", f"{name} is not bucketed"
        spark = updates.sparkSession
        deltas = entry.get("deltas", [])
        if deltas:
            old = spark.read.parquet(*[os.path.join(self.root, p) for p in deltas])
            keys = updates.select(key_col)
            updates = old.join(F.broadcast(keys), key_col, "left_anti").unionByName(updates)
        rel = self._new_version_rel(name)
        updates.write.mode("overwrite").parquet(os.path.join(self.root, rel))
        staged = dict(entry)
        staged["deltas"] = [rel]
        staged["delta_key"] = key_col
        if approx_rows is not None:
            # caller-supplied upper bound on this merge's new rows —
            # the manifest carries a running estimate so compaction
            # policy never needs a count() job
            staged["delta_est"] = int(entry.get("delta_est", 0)) + int(approx_rows)
        else:
            staged.pop("delta_est", None)
        self._staged[name] = staged

    def delta_rows(self, spark: SparkSession, name: str) -> int:
        """Pending-delta size (0 if none): the manifest's running
        estimate when the caller supplied one (upper bound — upserts of
        already-deltaed keys count twice, which only compacts EARLIER),
        else an exact count job."""
        entry = self._current_entry(name)
        if not isinstance(entry, dict) or not entry.get("deltas"):
            return 0
        if "delta_est" in entry:
            return int(entry["delta_est"])
        paths = [os.path.join(self.root, p) for p in entry["deltas"]]
        return spark.read.parquet(*paths).count()

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
        assert isinstance(entry, dict) and entry.get("kind") == "bucketed"
        if not entry.get("deltas"):
            return []
        spark = SparkSession.getActiveSession()
        assert spark is not None
        bucket_col = entry["bucket_col"]
        key_col = entry.get("delta_key", "seq")
        delta = spark.read.parquet(*[os.path.join(self.root, p) for p in entry["deltas"]])
        touched = sorted(int(r[0]) for r in delta.select(bucket_col).distinct().collect())
        base_paths = self._entry_paths(entry, touched)
        if base_paths:
            base = spark.read.parquet(*base_paths)
            merged = base.join(F.broadcast(delta.select(key_col)), key_col, "left_anti").unionByName(delta)
        else:
            merged = delta
        rewritten = self.merge_buckets(name, merged, bucket_col)
        staged = dict(self._staged[name])
        staged["deltas"] = []
        staged.pop("delta_est", None)
        self._staged[name] = staged
        return rewritten

    def append_table(self, name: str, delta: DataFrame) -> None:
        """Stage an append: one new data file list entry; history is
        never re-read or re-written (Iceberg fast-append analog)."""
        rel = self._new_version_rel(name)
        delta.write.mode("overwrite").parquet(os.path.join(self.root, rel))
        entry = self._current_entry(name)
        parts = list(entry["parts"]) if isinstance(entry, dict) and entry.get("kind") == "append" else []
        parts.append(rel)
        self._staged[name] = {"kind": "append", "parts": parts}

    def _scan_bucket_dirs(self, rel: str) -> dict[str, str]:
        path = os.path.join(self.root, rel)
        out: dict[str, str] = {}
        for d in os.listdir(path):
            if d.startswith(f"{_BUCKET_DIR_COL}="):
                out[d.split("=", 1)[1]] = os.path.join(rel, d)
        return out

    def _current_entry(self, name: str):
        if name in self._staged:
            return self._staged[name]
        manifest = self._latest_manifest()
        if manifest and name in manifest["tables"]:
            return manifest["tables"][name]
        return None

    def carry_forward(self, name: str) -> None:
        """Stage the current committed version of ``name`` unchanged."""
        manifest = self._latest_manifest()
        if manifest and name in manifest["tables"]:
            self._staged[name] = manifest["tables"][name]

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

    @property
    def latest_epoch(self) -> int | None:
        m = self._latest_manifest()
        return None if m is None else m["epoch"]

    def latest_metadata(self) -> dict:
        m = self._latest_manifest()
        return {} if m is None else m.get("metadata", {})

    def table_entry(self, name: str, epoch: int | None = None):
        manifest = self._latest_manifest() if epoch is None else self.manifest_for(epoch)
        if not manifest or name not in manifest["tables"]:
            return None
        return manifest["tables"][name]

    def _entry_paths(self, entry, bucket_ids: list[int] | None = None) -> list[str]:
        if isinstance(entry, str):
            return [os.path.join(self.root, entry)]
        if entry.get("kind") == "bucketed":
            buckets = entry["buckets"]
            keys = [str(b) for b in bucket_ids] if bucket_ids is not None else sorted(buckets)
            return [os.path.join(self.root, buckets[k]) for k in keys if k in buckets]
        if entry.get("kind") == "append":
            return [os.path.join(self.root, p) for p in entry["parts"]]
        raise ValueError(f"unknown table entry {entry!r}")

    def read_table(
        self,
        spark: SparkSession,
        name: str,
        epoch: int | None = None,
        bucket_ids: list[int] | None = None,
    ) -> DataFrame | None:
        """Read a table (any kind) at the latest — or a pinned — epoch.
        For bucketed tables ``bucket_ids`` prunes the read to just
        those buckets' files (manifest-level partition pruning), and a
        pending merge-on-read delta is overlaid: base rows whose key
        appears in the delta are replaced (broadcast anti-join — the
        delta is compaction-bounded), delta rows are unioned in."""
        entry = self.table_entry(name, epoch)
        if entry is None:
            return None
        paths = self._entry_paths(entry, bucket_ids)
        deltas = entry.get("deltas", []) if isinstance(entry, dict) else []
        if not paths and not deltas:
            return None
        delta_df = None
        if deltas:
            delta_df = spark.read.parquet(*[os.path.join(self.root, p) for p in deltas])
            if bucket_ids is not None:
                delta_df = delta_df.where(F.col(entry["bucket_col"]).isin([int(b) for b in bucket_ids]))
        if not paths:
            return delta_df
        base = spark.read.parquet(*paths)
        if delta_df is None:
            return base
        key_col = entry.get("delta_key", "seq")
        overlaid = base.join(F.broadcast(delta_df.select(key_col)), key_col, "left_anti")
        return overlaid.unionByName(delta_df)

    def expire_snapshots(self, keep_last: int = 3) -> None:
        """GC data versions unreachable from the last ``keep_last``
        manifests (the Iceberg expire_snapshots analog). Reachability
        is at version-directory granularity: a version dir survives if
        any manifest references it or any bucket inside it."""
        mf_dir = os.path.join(self.root, "manifests")
        names = sorted(os.listdir(mf_dir))
        keep = names[-keep_last:]
        reachable: set[str] = set()

        def add_rel(rel: str) -> None:
            parts = rel.split(os.sep)
            reachable.add(os.path.join(*parts[:3]))  # data/<table>/<version>

        for name in keep:
            with open(os.path.join(mf_dir, name)) as fh:
                for entry in json.load(fh)["tables"].values():
                    if isinstance(entry, str):
                        add_rel(entry)
                    elif entry.get("kind") == "bucketed":
                        for rel in entry["buckets"].values():
                            add_rel(rel)
                        for rel in entry.get("deltas", []):
                            add_rel(rel)
                    elif entry.get("kind") == "append":
                        for rel in entry["parts"]:
                            add_rel(rel)
        data_dir = os.path.join(self.root, "data")
        for table in os.listdir(data_dir):
            for version in os.listdir(os.path.join(data_dir, table)):
                rel = os.path.join("data", table, version)
                if rel not in reachable:
                    shutil.rmtree(os.path.join(self.root, rel), ignore_errors=True)
        for name in names[:-keep_last]:
            os.remove(os.path.join(mf_dir, name))
