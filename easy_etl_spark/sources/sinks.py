"""Load surface: append sink, keyed upsert (merge), schema evolution
(`ensure`) and drop-sync of stale columns, surrogate-key generation.

Reference parity (exit99/easy-etl):
  - append insert per row + implicit table/column creation
    (easy_etl/__init__.py:89-99, README.md:182-187)
  - keyed upsert (easy_etl/__init__.py:93-94, README.md:189-197)
  - drop-sync: after a load, target columns not produced by the
    pipeline are dropped, keeping ``id`` (easy_etl/__init__.py:113-117;
    opt-out ``safe=True``)
  - auto-increment surrogate ``id`` (easy_etl/README.md:180)

Spark-first design: the per-row INSERT/UPSERT loop becomes one
distributed columnar write. The merge plan lives here once, as
module-level functions every sink (ParquetSink, JdbcSink,
TransactionalParquetSink, DeltaTableSink) builds its load from:

  - ``ids_past_max``: dense surrogate ids past the target's max id;
  - ``keyed_changes``: the incoming rows with their ids resolved by one
    ``src ⟕ id_map`` join with a hit flag — matched rows carry the
    target's id, inserts get fresh ids;
  - ``append_state`` / ``upsert_state``: the full new table state,
    ``target ⟕anti src ∪ changes`` for an upsert (the logical plan a
    Delta MERGE compiles to), with ``ensure`` and drop-sync applied.

Building a state runs no Spark job when the batch is small: fresh ids
are ``max(id) + rank`` inside the write plan, the max a broadcast
one-row aggregate and the rank a ``row_number`` in
``monotonically_increasing_id`` order (``_fresh_ids``). That rank runs
in one task, so it is gated on Catalyst's job-free size estimate of the
batch against the session's broadcast threshold (``_fits_one_task``);
a larger batch, or one whose size is unknown (an in-memory or JDBC
frame), pays the eager ``max(id)`` and ``dense_ids`` offsets instead.
The load is then one write action over one lazy plan.

Each sink keeps only its storage commit (directory swap, JDBC rename,
commit-log claim, Delta MERGE); the interface is format-agnostic on
purpose.

Scale notes: the anti-join shuffles on the upsert keys — that is the
unavoidable shuffle of any merge. Ids past the gate come from
``operators.ranking.dense_ids`` (re-exported here), whose module
docstring holds the account of the partition-offset scheme.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.ranking import dense_ids
from ..session import plan_size_bytes


def _fits_one_task(df: DataFrame) -> bool:
    """Whether Catalyst's job-free size estimate of ``df`` is within the
    session's broadcast threshold, the size the engine already moves
    through one task. A plan whose estimate is unusable does not fit,
    nor does any plan when broadcasting is off (threshold -1)."""
    size = plan_size_bytes(df)
    threshold = df.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    return size is not None and size <= threshold


def _fresh_ids(df: DataFrame, current: DataFrame | None, id_col: str, in_plan: bool) -> DataFrame:
    """``df`` with dense ``id_col`` values ``max(current.id) + 1 ..``.

    ``in_plan`` numbers the rows inside the consuming plan: the max is
    a one-row aggregate cross-joined in by broadcast, the rank a
    ``row_number`` in ``monotonically_increasing_id`` order. That window
    runs in one task, so callers pass ``in_plan`` only for a frame that
    ``_fits_one_task``. Otherwise the max is read eagerly and
    ``dense_ids`` numbers the rows in their own partitions."""
    has_ids = current is not None and id_col in current.columns
    if not in_plan:
        offset = (current.agg(F.max(id_col)).first()[0] or 0) if has_ids else 0
        return dense_ids(df, id_col, offset)
    cols = df.columns
    rank = F.row_number().over(Window.orderBy(F.monotonically_increasing_id()))
    if has_ids:
        top = current.agg(F.coalesce(F.max(id_col), F.lit(0)).alias("__top"))
        df = df.crossJoin(F.broadcast(top))
        rank = rank + F.col("__top")
    return df.withColumn(id_col, rank.cast("long")).select(id_col, *cols)


def ids_past_max(df: DataFrame, current: DataFrame | None, id_col: str = "id") -> DataFrame:
    """``df`` with dense ``id_col`` values continuing past the target's
    max id (reference parity: auto-increment ``id``, README.md:180). A
    frame that already carries ``id_col`` keeps its own ids. A frame
    that ``_fits_one_task`` is numbered inside the consuming plan, so
    building the new state runs no job; a larger one pays the eager
    ``max(id)`` and ``dense_ids`` offsets (``_fresh_ids``)."""
    if id_col in df.columns:
        return df
    return _fresh_ids(df, current, id_col, _fits_one_task(df))


def keyed_changes(current: DataFrame, df: DataFrame, keys: list[str], id_col: str = "id") -> DataFrame:
    """The incoming rows of a keyed merge with their surrogate ids
    resolved, from one ``src ⟕ id_map`` join with a hit flag: matched
    rows carry the target's first (lowest) id for their key, inserts
    get dense ids past the current max (``_fresh_ids``, gated on the
    batch's size). NULL keys never match, so their rows are inserts.
    When ``id_col`` is itself a key, the incoming ids are authoritative
    and kept."""
    if id_col in keys:
        return df
    src = df.drop(id_col) if id_col in df.columns else df
    id_map = current.groupBy(*keys).agg(F.min(id_col).alias(id_col), F.lit(True).alias("__hit"))
    joined = src.join(id_map, on=keys, how="left")
    hit = F.col("__hit").isNotNull()
    inserts = joined.filter(~hit).drop("__hit", id_col)
    return joined.filter(hit).drop("__hit").unionByName(
        _fresh_ids(inserts, current, id_col, _fits_one_task(src))
    )


def append_state(
    current: DataFrame | None, df: DataFrame, id_col: str = "id", ensure: bool | None = None, safe: bool = False
) -> DataFrame:
    """New table state of an append-insert load (easy_etl/__init__.py:96).

    ensure=True/None → new columns are added to the target (schema
    union, like dataset's ensure). ensure=False → incoming frame is
    restricted to existing target columns. safe=False → drop-sync
    stale target columns (easy_etl/__init__.py:97-99,113-117).
    """
    incoming = ids_past_max(df, current, id_col)
    if current is None:
        return incoming
    if not safe:
        # drop-sync: converge target schema to pipeline output (+id)
        stale = [c for c in current.columns if c not in incoming.columns and c != id_col]
        if stale:
            current = current.drop(*stale)
    if ensure is False:
        incoming = incoming.select(*[c for c in incoming.columns if c in current.columns])
    return current.unionByName(incoming, allowMissingColumns=True)


def upsert_state(
    current: DataFrame | None,
    df: DataFrame,
    keys: list[str],
    id_col: str = "id",
    ensure: bool | None = None,
    safe: bool = False,
) -> DataFrame:
    """New table state of a keyed merge (easy_etl/__init__.py:93-94):
    survivors = target ⟕anti src; result = survivors ∪ keyed_changes.
    ``ensure``/``safe`` as in ``append_state``."""
    if current is None:
        return ids_past_max(df, None, id_col)
    survivors = current.join(df.select(*keys), on=keys, how="left_anti")
    if not safe:
        stale = [c for c in survivors.columns if c not in df.columns and c != id_col]
        if stale:
            survivors = survivors.drop(*stale)
    merged = survivors.unionByName(keyed_changes(current, df, keys, id_col), allowMissingColumns=True)
    if ensure is False:
        merged = merged.select(*[c for c in merged.columns if c in current.columns])
    return merged


def compaction_input(df: DataFrame, target_rows_per_file: int) -> DataFrame:
    """``df`` re-partitioned to ~``target_rows_per_file`` rows per
    output file. One count job sizes it; the rewrite is a shuffle-free
    coalesce when shrinking, or a round-robin repartition when the file
    count must grow (coalesce can only merge)."""
    n_files = max(1, -(-df.count() // target_rows_per_file))  # ceil
    if n_files > df.rdd.getNumPartitions():
        return df.repartition(n_files)
    return df.coalesce(n_files)


class ParquetSink:
    """A target 'table' backed by a parquet directory.

    ``partition_by`` writes hive-style partition directories
    (col=value/...), the load-bearing layout at 100 TB: queries
    filtering on the partition columns prune whole directories at
    planning time (PartitionFilters in the scan), and incremental
    loads touch only the partitions they land in.

    ``cluster_by`` range-partitions and sorts rows within each output
    file on the given columns before writing — parquet row-group
    min/max statistics then become selective, so point/range
    predicates on those columns skip whole row groups at read time
    (the file-level complement to directory-level partition pruning).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        id_col: str = "id",
        partition_by: list[str] | None = None,
        cluster_by: list[str] | None = None,
        keep_versions: int = 0,
    ):
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.partition_by = list(partition_by or [])
        self.cluster_by = list(cluster_by or [])
        #: retain up to N previous table states as ``.__v{k}`` snapshot
        #: dirs (poor-man's time travel; Delta/Iceberg replace this with
        #: a real transaction log on a lakehouse deployment)
        self.keep_versions = keep_versions

    # -- inspection -------------------------------------------------
    def exists(self) -> bool:
        return os.path.exists(self.path) and bool(os.listdir(self.path))

    def _version_path(self, v: int) -> str:
        return f"{self.path}.__v{v}"

    def versions(self) -> list[int]:
        """Retained snapshot numbers, oldest first (1 = first state the
        table ever replaced). The current table is not listed."""
        base = os.path.basename(self.path) + ".__v"
        d = os.path.dirname(self.path) or "."
        if not os.path.isdir(d):
            return []
        out = []
        for name in os.listdir(d):
            if name.startswith(base):
                try:
                    out.append(int(name[len(base):]))
                except ValueError:
                    continue
        return sorted(out)

    def read(self, version: int | None = None) -> DataFrame | None:
        """Current table, or a retained snapshot (``versions()``) when
        ``version`` is given — time-travel reads for audits/backfills.
        """
        if version is not None:
            p = self._version_path(version)
            if not os.path.exists(p):
                raise ValueError(
                    f"version {version} not retained (have {self.versions()})"
                )
            return self.spark.read.parquet(p)
        if not self.exists():
            return None
        return self.spark.read.parquet(self.path)

    def columns(self) -> list[str]:
        cur = self.read()
        return cur.columns if cur is not None else []

    # -- writes -----------------------------------------------------
    @staticmethod
    def _swap_dir(staging: str, target: str, keep_as: str | None = None) -> None:
        """Rename ``staging`` into ``target``: the old ``target`` (if
        any) is moved aside first and rolled back in if the second
        rename fails, so a crash at any point leaves either the old or
        the new directory on disk, never neither. The old directory is
        then deleted, or kept at ``keep_as`` (a retained snapshot)."""
        old = keep_as or f"{staging}.__old"
        had_target = os.path.exists(target)
        if had_target:
            os.replace(target, old)
        try:
            os.replace(staging, target)
        except BaseException:
            if had_target:
                os.replace(old, target)  # roll the old directory back in
            raise
        if had_target and keep_as is None:
            shutil.rmtree(old)

    def _swap_write(self, df: DataFrame) -> None:
        """Write to a staging dir then swap it in (``_swap_dir``) —
        needed because the plan may read the same path it replaces. With
        ``keep_versions`` the replaced table becomes the next ``.__v{k}``
        snapshot and snapshots past the retention window are pruned."""
        staging = f"{self.path}.__staging_{uuid.uuid4().hex[:8]}"
        if self.cluster_by:
            cols = [F.col(c) for c in self.cluster_by]
            df = df.repartitionByRange(*cols).sortWithinPartitions(*cols)
        writer = df.write.mode("overwrite")
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.parquet(staging)
        if self.keep_versions <= 0:
            self._swap_dir(staging, self.path)
            return
        vs = self.versions()
        self._swap_dir(staging, self.path, keep_as=self._version_path((vs[-1] if vs else 0) + 1))
        # prune snapshots beyond the retention window
        for v in self.versions()[: -self.keep_versions]:
            shutil.rmtree(self._version_path(v))

    def append(self, df: DataFrame, ensure: bool | None = None, safe: bool = False) -> None:
        """Append-insert load; the new state is ``append_state`` (see
        there for ``ensure``/``safe``)."""
        current = self.read()
        incoming = ids_past_max(df, current, self.id_col)

        # partitioned fast path: when no schema sync is requested and
        # the schema already matches, append only the touched partition
        # directories instead of rewriting the table — the difference
        # between O(batch) and O(table) work on a 100 TB target.
        if (
            current is not None
            and self.partition_by
            and safe
            and ensure is not False
            and dict(incoming.dtypes) == dict(current.dtypes)  # names AND types
        ):
            out = incoming.select(*current.columns)
            if self.cluster_by:
                cols = [F.col(c) for c in self.cluster_by]
                out = out.repartitionByRange(*cols).sortWithinPartitions(*cols)
            out.write.mode("append").partitionBy(*self.partition_by).parquet(self.path)
            return
        self._swap_write(append_state(current, incoming, self.id_col, ensure, safe))

    def upsert(self, df: DataFrame, keys: list[str], ensure: bool | None = None, safe: bool = False) -> None:
        """Keyed merge: update matching rows, insert the rest. Matched
        rows keep their existing surrogate id; inserts get fresh ids
        past the current max (``upsert_state``)."""
        self._swap_write(upsert_state(self.read(), df, keys, self.id_col, ensure, safe))

    # -- maintenance ------------------------------------------------
    def data_files(self) -> list[str]:
        """Parquet data files currently backing the table."""
        out = []
        for root, _dirs, files in os.walk(self.path):
            out.extend(
                os.path.join(root, f) for f in files if f.endswith(".parquet")
            )
        return sorted(out)

    @staticmethod
    def _local_dir(uri: str) -> str:
        """input_file_name() URI → local directory path. Spark returns
        ``file:...``-scheme, percent-encoded URIs; decoding them (rather
        than re-deriving ``col=value`` strings by hand) is what makes
        partition values containing Spark-escaped characters (':', ' ',
        '/', '%') and ``__HIVE_DEFAULT_PARTITION__`` NULLs resolve to
        directories that actually exist on disk."""
        from urllib.parse import unquote, urlparse

        parsed = urlparse(uri)
        path = unquote(parsed.path) if parsed.scheme == "file" else uri
        return os.path.dirname(path)

    def _partition_pred(self, row):
        """Null-safe equality predicate for one partition tuple (NULL
        partition values — stored as __HIVE_DEFAULT_PARTITION__ dirs and
        read back as NULL — match via IS NULL, never ``= NULL``)."""
        pred = None
        for c in self.partition_by:
            p = F.col(c).isNull() if row[c] is None else F.col(c) == F.lit(row[c])
            pred = p if pred is None else (pred & p)
        return pred

    def _purge_versions(self, hit) -> None:
        """Apply a delete predicate to every retained ``.__v{k}``
        snapshot so a purge actually removes the data from time travel
        too (a GDPR delete that survives in ``read(version=...)`` is no
        delete at all). Each touched snapshot is rewritten to a staging
        dir and atomically swapped; snapshots with no matching rows are
        left byte-identical. O(snapshot) per touched snapshot — history
        rewrites are the unavoidable cost of purging history."""
        for v in self.versions():
            p = self._version_path(v)
            snap = self.spark.read.parquet(p)
            if snap.filter(hit).isEmpty():
                continue
            keep = snap.filter(~hit)
            staging = f"{p}.__vstage_{uuid.uuid4().hex[:8]}"
            writer = keep.write.mode("overwrite")
            # fully-purged snapshots are rewritten EMPTY, not deleted:
            # versions() and read(version=v) keep working and return the
            # emptied state — symmetric with partially-purged snapshots.
            # The empty write goes out unpartitioned (partition columns
            # stay as data columns in the schema): a partitioned write of
            # zero rows would leave no readable schema on disk.
            if self.partition_by and not keep.isEmpty():
                writer = writer.partitionBy(*self.partition_by)
            writer.parquet(staging)
            self._swap_dir(staging, p)

    def delete_where(self, condition, purge_versions: bool = True) -> int:
        """Targeted delete (GDPR/right-to-be-forgotten purge, bad-batch
        rollback): remove every row matching ``condition`` (a Column or
        SQL string; NULL predicates keep the row). Returns rows deleted.

        On a hive-partitioned table only the partitions that actually
        contain matches are rewritten — the 100 TB difference between
        O(matching partitions) and O(table). The touched directories are
        derived from ``input_file_name()`` on the matching rows (not
        re-rendered from values), so Spark's partition-path escaping and
        NULL partitions resolve correctly. Each touched partition is
        rewritten to a staging dir and atomically swapped (same crash
        posture, via ``_swap_dir``); partitions whose rows are all purged
        are removed outright. Unpartitioned tables fall back to one
        full rewrite.

        ``purge_versions=True`` (default) additionally rewrites every
        retained ``.__v{k}`` snapshot without the matching rows — on
        BOTH paths — so the purge holds across ``read(version=...)``
        time travel; pass False only for bad-batch rollbacks where
        history should stay intact. The condition must reference only
        columns present in the snapshots. On a lakehouse deployment
        this maps to DELETE FROM + VACUUM with Delta/Iceberg file-level
        skipping.
        """
        current = self.read()
        if current is None:
            return 0
        cond = F.expr(condition) if isinstance(condition, str) else condition
        hit = F.coalesce(cond, F.lit(False))
        n_deleted = current.filter(hit).count()
        if n_deleted == 0:
            if purge_versions:
                self._purge_versions(hit)  # history may still hold matches
            return 0
        if not self.partition_by:
            self._swap_write(current.filter(~hit))
            if purge_versions:
                self._purge_versions(hit)
            return n_deleted
        touched = (
            current.filter(hit)
            .select(
                F.input_file_name().alias("__f"),
                *self.partition_by,
            )
            .distinct()
            .collect()
        )
        payload_cols = [c for c in current.columns if c not in self.partition_by]
        for pdir in sorted({self._local_dir(r["__f"]) for r in touched}):
            rows = [r for r in touched if self._local_dir(r["__f"]) == pdir]
            part_pred = self._partition_pred(rows[0])
            # fresh read per partition: earlier swaps invalidated the
            # original file listing; partition pruning keeps this a
            # metadata-only re-list plus a one-directory scan
            keep = self.read().filter(part_pred).filter(~hit).select(*payload_cols)
            if keep.isEmpty():
                shutil.rmtree(pdir, ignore_errors=True)
                continue
            staging = f"{self.path}.__pstage_{uuid.uuid4().hex[:8]}"
            keep.write.mode("overwrite").parquet(staging)
            self._swap_dir(staging, pdir)
        if purge_versions:
            self._purge_versions(hit)
        return n_deleted

    def compact(self, target_rows_per_file: int = 1_000_000) -> int:
        """Small-file compaction: rewrite the table so each output file
        holds ~target_rows_per_file rows. THE standing maintenance job
        of any streaming/incremental ingest at scale — thousands of
        per-batch files destroy scan planning and open-file overhead;
        compaction restores large sequential reads. Values and schema
        are untouched (rewrite via the same atomic swap as every
        load); clustered tables re-sort through the normal
        ``cluster_by`` path. Returns the new file count.

        Sizing is ``compaction_input``.
        """
        current = self.read()
        if current is None:
            return 0
        self._swap_write(compaction_input(current, target_rows_per_file))
        return len(self.data_files())
