"""Lakehouse adapter: TransactionalParquetSink's call surface mapped
onto a real Delta Lake table.

``sources/txn.py`` proves the commit protocol (atomic claims,
optimistic rebase, time travel, vacuum, checkpointed log) on a plain
filesystem; this adapter keeps EVERY call-site signature —
append / upsert / delete_where / read(version=...) / versions /
current_version / compact / vacuum — and delegates the durability
story to Delta's transaction log instead. Code written against the
sink protocol moves to a managed lakehouse by swapping the class.

Import-guarded: delta-spark is not baked into every environment, so
the dependency is resolved at CONSTRUCTION time with an actionable
error, and the pytest suite (tests/test_lakehouse.py) runs the shared
sink-contract scenarios when the package is importable and
skips-with-reason otherwise.

Semantics parity notes (documented deltas from the parquet sink):
  - versions are Delta's commit versions and START AT 0 (Delta's
    convention) — current_version() is still "latest committed";
  - vacuum() takes retention HOURS (Delta's contract) instead of the
    parquet sink's orphan-grace seconds; Delta enforces its own
    retention-safety check;
  - upsert ids come from the shared merge plan in sources/sinks.py
    (``keyed_changes``, the MERGE source): matched keys keep their
    surrogate id, inserts get dense ids above the current max.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sinks import ids_past_max, keyed_changes


class DeltaTableSink:
    """A Delta-backed table with the TransactionalParquetSink surface."""

    def __init__(self, spark: SparkSession, path: str, id_col: str = "id"):
        try:
            from delta.tables import DeltaTable  # noqa: F401
        except ImportError as exc:  # pragma: no cover - exercised via tests
            raise ImportError(
                "DeltaTableSink requires the delta-spark package "
                "(pip install delta-spark, and enable the Delta SQL "
                "extension + catalog on the SparkSession)"
            ) from exc
        self.spark = spark
        self.path = path
        self.id_col = id_col

    # -- helpers -----------------------------------------------------
    def _table(self):
        from delta.tables import DeltaTable

        return DeltaTable.forPath(self.spark, self.path)

    def _exists(self) -> bool:
        from delta.tables import DeltaTable

        return DeltaTable.isDeltaTable(self.spark, self.path)

    # -- commit log --------------------------------------------------
    def versions(self) -> list[int]:
        if not self._exists():
            return []
        return sorted(
            r["version"] for r in self._table().history().select("version").collect()
        )

    def current_version(self) -> int:
        vs = self.versions()
        return vs[-1] if vs else 0

    # -- reads -------------------------------------------------------
    def read(self, version: int | None = None) -> DataFrame | None:
        if not self._exists():
            return None
        reader = self.spark.read.format("delta")
        if version is not None:
            if version not in self.versions():
                raise ValueError(
                    f"version {version} not committed (have {self.versions()})"
                )
            reader = reader.option("versionAsOf", version)
        return reader.load(self.path)

    # -- writes ------------------------------------------------------
    def append(self, df: DataFrame) -> int:
        incoming = ids_past_max(df, self.read(), self.id_col)
        (
            incoming.write.format("delta")
            .mode("append")
            .option("mergeSchema", "true")
            .save(self.path)
        )
        return self.current_version()

    def upsert(self, df: DataFrame, keys: list[str]) -> int:
        current = self.read()
        if current is None:
            return self.append(df)
        source = keyed_changes(current, df, keys, self.id_col)
        cond = " AND ".join(f"t.`{k}` <=> s.`{k}`" for k in keys)
        (
            self._table()
            .alias("t")
            .merge(source.alias("s"), cond)
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        )
        return self.current_version()

    def delete_where(self, condition) -> int:
        cond = F.expr(condition) if isinstance(condition, str) else condition
        self._table().delete(F.coalesce(cond, F.lit(False)))
        return self.current_version()

    # -- maintenance -------------------------------------------------
    def compact(self, target_rows_per_file: int = 1_000_000) -> int:
        """OPTIMIZE: prefer Delta's native bin-packing compaction;
        fall back to a right-sized dataframe overwrite on engines
        without the optimize API."""
        try:
            self._table().optimize().executeCompaction()
        except Exception:
            current = self.read()
            if current is None:
                raise ValueError("compact on an empty table") from None
            n = current.count()
            n_files = max(1, -(-n // target_rows_per_file))
            (
                current.repartition(n_files)
                .write.format("delta")
                .mode("overwrite")
                .save(self.path)
            )
        return self.current_version()

    def vacuum(self, retention_hours: float = 168.0) -> int:
        """Delta VACUUM (retention in hours, Delta's own safety check
        applies). Returns the current version — Delta does not report
        a removed-file count through this API."""
        self._table().vacuum(retention_hours)
        return self.current_version()

    def clone_from(self, source: "DeltaTableSink", version: int | None = None) -> int:
        """SHALLOW CLONE via Delta SQL when the runtime supports it."""
        v = f" VERSION AS OF {version}" if version is not None else ""
        self.spark.sql(
            f"CREATE OR REPLACE TABLE delta.`{self.path}` "
            f"SHALLOW CLONE delta.`{source.path}`{v}"
        )
        return self.current_version()
