"""Real-Iceberg catalog adapter behind the SnapshotStore interface.

The sandbox has no Iceberg runtime jar, so :class:`SnapshotStore`
(sources/snapshots.py) implements the Iceberg properties the engine
relies on over plain parquet. This module is the drop-in for a REAL
cluster, following the same optional-dependency pattern as the Pillow
codec backend (sources/images.py): if the Iceberg Spark runtime is on
the classpath, :func:`iceberg_available` is True and
:class:`IcebergStore` routes the engine's persistence calls to the
catalog —

==================  ====================================================
SnapshotStore call  Iceberg form
==================  ====================================================
write_bucketed      ``df.writeTo(tbl).partitionedBy(bucket(N, host))``
                    ``.createOrReplace()`` + MoR table properties
merge_delta         ``MERGE INTO tbl USING updates ON key WHEN MATCHED
                    UPDATE SET * WHEN NOT MATCHED INSERT *`` (the
                    engine's merge-on-read delta part IS Iceberg MoR:
                    ``write.merge.mode=merge-on-read`` writes positional
                    deletes + new data files, O(batch) per epoch)
declare_table       ``CREATE TABLE`` with the schema and no data file
                    (an empty ``writeTo(tbl).create()``)
append_table        ``df.writeTo(tbl).append()`` (fast-append snapshot)
append_rows         the rows as a local frame, one fast-append (the
                    fallback keeps them inline in its manifest; Iceberg
                    snapshot summaries hold strings, not table rows)
read_table          ``spark.table``; pinned epoch → ``VERSION AS OF``
                    the snapshot recorded at that epoch's commit
commit              one row in the ``__epochs`` metadata table mapping
                    epoch → per-table snapshot ids + engine metadata
                    (next_seq, n_queued); resume = read the row back
compaction_due      pending delete files reach the fallback's part
                    bound (``MAX_DELTA_PARTS``) or their records reach
                    the row bound (``delete_files`` metadata table)
compact_deltas      ``CALL catalog.system.rewrite_data_files`` —
                    Iceberg's amortized MoR compaction
==================  ====================================================

The engine itself never branches: construct whichever store is
available and pass it in (tests/test_iceberg_store.py is skip-marked
without the jar, exactly like the Pillow-less codec test).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from podcast_plow_spark.sources.snapshots import MAX_DELTA_PARTS

__all__ = ["iceberg_available", "IcebergStore"]


# -- SQL builders (module-level so the DDL/DML surface is testable
# without the runtime jar — the golden-SQL tests in
# tests/test_iceberg_store.py pin these strings) ------------------------


def merge_sql(tbl: str, view: str, key_col: str) -> str:
    """The engine's per-epoch upsert as one Iceberg MERGE INTO."""
    return (
        f"MERGE INTO {tbl} t USING {view} u "
        f"ON t.{key_col} = u.{key_col} "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )


def write_ordered_by_sql(tbl: str, order_by: list) -> str:
    """Iceberg table sort order: files written by any engine writer
    (initial load, MERGE, compaction) cluster by the dequeue key."""
    return f"ALTER TABLE {tbl} WRITE ORDERED BY " + ", ".join(
        f"{c} {d.upper()}" for c, d in order_by
    )


def compact_sql(catalog: str, namespace: str, name: str) -> str:
    """Amortized MoR compaction via the rewrite_data_files procedure."""
    return (
        f"CALL {catalog}.system.rewrite_data_files("
        f"table => '{namespace}.{name}', "
        "options => map('delete-file-threshold', '1'))"
    )


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is loadable in this JVM."""
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:  # noqa: BLE001 — any JVM error means "not present"
        return False


class IcebergStore:
    """SnapshotStore-shaped persistence over a real Iceberg catalog.

    ``catalog`` must be configured on the session (e.g.
    ``spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog``
    plus a warehouse); ``n_buckets`` is the ``bucket(N, host)``
    partition transform width for the frontier table.
    """

    META_TABLE = "__epochs"

    def __init__(
        self,
        spark: SparkSession,
        catalog: str,
        namespace: str = "plow",
        n_buckets: int = 16,
    ):
        if not iceberg_available(spark):
            raise RuntimeError(
                "Iceberg Spark runtime not on the classpath; use SnapshotStore "
                "(the parquet fallback) instead"
            )
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        self.n_buckets = n_buckets
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}")

    # -- naming ----------------------------------------------------------

    def _tbl(self, name: str) -> str:
        return f"{self.catalog}.{self.namespace}.{name}"

    def _exists(self, name: str) -> bool:
        return self.spark.catalog.tableExists(self._tbl(name))

    # -- writes ----------------------------------------------------------

    def write_table(self, name: str, df: DataFrame, partition_by: list[str] | None = None) -> str:
        w = df.writeTo(self._tbl(name)).using("iceberg")
        if partition_by:
            from pyspark.sql import functions as F

            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        w.createOrReplace()
        return self._tbl(name)

    def write_bucketed(
        self,
        name: str,
        df: DataFrame,
        bucket_col: str = "host_hash",
        order_by: list | None = None,
        row_group_bytes: int | None = None,
    ) -> None:
        """Frontier layout: ``PARTITIONED BY (bucket(N, host_col))`` +
        merge-on-read so per-epoch MERGEs write deletes+data files,
        never rewrite buckets (SCALE_DESIGN's O(batch) epoch cost).

        Same signature as :meth:`SnapshotStore.write_bucketed` so the
        engine never branches on which store it holds:

        - ``order_by`` (``[[col, "asc"|"desc"], ...]``) maps to Iceberg's
          table sort order — ``ALTER TABLE ... WRITE ORDERED BY`` — so
          every writer (including later MERGE/compaction rewrites)
          clusters files by the dequeue key and parquet/ORC min-max
          stats stay selective for order-key prefix filters.
        - ``row_group_bytes`` maps to the ``write.parquet.row-group-
          size-bytes`` table property: the pruning quantum for those
          stats (see SnapshotStore.write_bucketed's docstring).
        """
        from pyspark.sql import functions as F

        if order_by:
            # the ALTER below only governs FUTURE writes — cluster the
            # initial load the same way so its files are ordered too
            df = df.sortWithinPartitions(
                *[F.col(c).desc() if d.lower() == "desc" else F.col(c).asc() for c, d in order_by]
            )
        w = (
            df.writeTo(self._tbl(name))
            .using("iceberg")
            .partitionedBy(F.bucket(self.n_buckets, bucket_col))
            .tableProperty("write.merge.mode", "merge-on-read")
            .tableProperty("write.update.mode", "merge-on-read")
            .tableProperty("write.delete.mode", "merge-on-read")
        )
        if row_group_bytes is not None:
            w = w.tableProperty("write.parquet.row-group-size-bytes", str(int(row_group_bytes)))
        w.createOrReplace()
        if order_by:
            self.spark.sql(write_ordered_by_sql(self._tbl(name), order_by))
        self._bucket_cols = getattr(self, "_bucket_cols", {})
        self._bucket_cols[name] = bucket_col

    def merge_delta(
        self, name: str, updates: DataFrame, key_col: str = "seq", approx_rows: int | None = None
    ) -> None:
        """The engine's per-epoch upsert → one Iceberg MERGE INTO
        (MoR: positional deletes + appended data files, O(batch))."""
        view = f"__updates_{name}"
        updates.createOrReplaceTempView(view)
        self.spark.sql(merge_sql(self._tbl(name), view, key_col))

    def declare_table(self, name: str, schema: StructType | str) -> None:
        """Create the (empty) append table with its schema, if absent."""
        if not self._exists(name):
            self.spark.createDataFrame([], schema).writeTo(self._tbl(name)).using("iceberg").create()

    def append_table(self, name: str, delta: DataFrame) -> None:
        if not self._exists(name):
            delta.writeTo(self._tbl(name)).using("iceberg").create()
        else:
            delta.writeTo(self._tbl(name)).append()

    def append_rows(self, name: str, rows: list) -> None:
        """Driver-side rows of a declared table → one fast-append."""
        schema = self.spark.table(self._tbl(name)).schema
        self.append_table(name, self.spark.createDataFrame([tuple(r) for r in rows], schema))

    # -- deltas / compaction --------------------------------------------

    def compaction_due(self, spark: SparkSession, name: str, max_rows: int) -> bool:
        """Iceberg's pending MoR state is its delete files: compaction
        is due once they number ``MAX_DELTA_PARTS`` (the fallback's
        delta part bound) or their records reach ``max_rows``."""
        try:
            row = spark.sql(
                "SELECT COUNT(*) AS n, COALESCE(SUM(record_count), 0) AS r "
                f"FROM {self._tbl(name)}.delete_files"
            ).collect()[0]
        except Exception:  # noqa: BLE001 — metadata table shape varies by version
            return False
        return int(row["n"]) >= MAX_DELTA_PARTS or int(row["r"]) >= max_rows

    def compact_deltas(self, name: str) -> list[int]:
        self.spark.sql(compact_sql(self.catalog, self.namespace, name))
        return []

    # -- snapshots / metadata -------------------------------------------

    def _table_names(self) -> list[str]:
        rows = self.spark.sql(f"SHOW TABLES IN {self.catalog}.{self.namespace}").collect()
        return [r["tableName"] for r in rows if not r["tableName"].startswith("__")]

    def commit(self, epoch: int, metadata: dict | None = None) -> None:
        """Record (epoch → per-table snapshot ids + engine metadata).
        Iceberg writes are individually atomic; the epoch row makes the
        GROUP addressable for resume — ``read_table(epoch=k)`` pins
        every table to the snapshot it had when epoch k committed."""
        snaps = {}
        for t in self._table_names():
            try:
                row = self.spark.sql(
                    f"SELECT snapshot_id FROM {self._tbl(t)}.snapshots "
                    "ORDER BY committed_at DESC LIMIT 1"
                ).collect()
                if row:
                    snaps[t] = int(row[0]["snapshot_id"])
            except Exception:  # noqa: BLE001
                continue
        payload = self.spark.createDataFrame(
            [(int(epoch), json.dumps(metadata or {}), json.dumps(snaps))],
            "epoch long, metadata string, snapshots string",
        )
        self.append_table(self.META_TABLE, payload)

    def _meta_row(self, epoch: int | None = None):
        if not self._exists(self.META_TABLE):
            return None
        df = self.spark.table(self._tbl(self.META_TABLE))
        if epoch is not None:
            df = df.where(df["epoch"] == int(epoch))
        rows = df.orderBy(df["epoch"].desc()).limit(1).collect()
        return rows[0] if rows else None

    def latest_epoch(self) -> int | None:
        row = self._meta_row()
        return int(row["epoch"]) if row else None

    def latest_metadata(self) -> dict:
        row = self._meta_row()
        return json.loads(row["metadata"]) if row else {}

    # -- reads -----------------------------------------------------------

    def read_table(
        self,
        spark: SparkSession,
        name: str,
        epoch: int | None = None,
        bucket_ids: list[int] | None = None,
    ) -> DataFrame | None:
        if not self._exists(name):
            return None
        if epoch is None:
            df = spark.table(self._tbl(name))
        else:
            row = self._meta_row(epoch)
            if row is None:
                return None
            snap = json.loads(row["snapshots"]).get(name)
            if snap is None:
                return None
            df = spark.read.option("snapshot-id", int(snap)).table(self._tbl(name))
        if bucket_ids is not None:
            bucket_col = getattr(self, "_bucket_cols", {}).get(name, "host_hash")
            df = df.where(df[bucket_col].isin([int(b) for b in bucket_ids]))
        return df

    def expire_snapshots(self, keep_last: int = 3) -> None:
        for t in self._table_names():
            try:
                self.spark.sql(
                    f"CALL {self.catalog}.system.expire_snapshots("
                    f"table => '{self.namespace}.{t}', retain_last => {int(keep_last)})"
                )
            except Exception:  # noqa: BLE001
                continue
