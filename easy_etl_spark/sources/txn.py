"""Transactional parquet sink: atomic commits + optimistic concurrent
writers on a plain filesystem — the missing piece between ParquetSink's
directory-swap loads and a real lakehouse table format.

Reference parity: the reference delegates durability to its target
RDBMS (easy_etl/README.md:182-197 — every load is an implicit DB
transaction). ParquetSink (sources/sinks.py) reproduces the load
semantics but two concurrent appends could interleave their
directory swaps. This module closes that gap with the same commit
design Delta Lake / Iceberg use, scaled down to one table:

  <path>/_data/<uuid>/     immutable data snapshots, one per version;
                           written FULLY before they become visible
  <path>/_commits/N.json   the commit log: version N's record names its
                           data snapshot. Creating this file IS the
                           commit point, done via write-temp +
                           os.link(tmp, final) — link fails atomically
                           (EEXIST) if another writer claimed N first,
                           and the record is complete before it is
                           visible (no reader ever sees a half-written
                           commit).

Writer protocol (optimistic concurrency, Delta-style):
  1. read the latest committed version N and its table state
  2. compute the new state — for appends/upserts the shared merge plan
     in sources/sinks.py (``append_state`` / ``upsert_state``); this
     module adds only the commit — and write it to a fresh
     _data/<uuid> snapshot
  3. try to commit as N+1; on conflict (another writer won N+1),
     REBASE: recompute the new state against the winner's table and
     retry at N+2. Appends/upserts/deletes are self-rebasing — the
     logical operation replays against any newer base.

Crash posture: a writer that dies after step 2 leaves an orphaned
_data dir that no commit references — readers never see it and
``vacuum()`` reclaims it. A writer that dies mid-step-3 leaves a
``.tmp`` commit file — same story. There is NO window where a reader
observes a partial table.

Scale notes: the protocol adds zero data-path cost — data writes are
the same distributed parquet writes; the commit is one tiny metadata
file. Contention cost is one recompute per concurrent loser, the same
optimistic model Delta uses. On HDFS/S3 deployments the os.link
claim maps to atomic rename / conditional PUT; swapping this class
for real Delta/Iceberg MERGE keeps every call-site signature.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import read_parquet
from .sinks import append_state, compaction_input, upsert_state


class CommitConflict(RuntimeError):
    """Another writer committed the version this writer targeted."""


class TransactionalParquetSink:
    """A single parquet-backed table with atomic, serialized commits.

    Readers always see exactly one committed snapshot; writers race via
    optimistic concurrency and rebase on conflict. ``read(version=N)``
    time-travels to any retained commit.
    """

    def __init__(self, spark: SparkSession, path: str, id_col: str = "id",
                 max_retries: int = 20, checkpoint_interval: int = 10):
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.max_retries = max_retries
        self.checkpoint_interval = checkpoint_interval
        os.makedirs(os.path.join(path, "_commits"), exist_ok=True)
        os.makedirs(os.path.join(path, "_data"), exist_ok=True)
        #: test/failure-injection hook, called between stage and commit
        self._pre_commit_hook = None

    # -- commit log --------------------------------------------------
    def _commit_dir(self) -> str:
        return os.path.join(self.path, "_commits")

    def _checkpoint_path(self) -> str:
        return os.path.join(self._commit_dir(), "_last_checkpoint")

    def _load_checkpoint(self) -> dict | None:
        """The Delta-style log checkpoint: ``{"version": N, "records":
        {v: commit_record}}`` for every RETAINED commit <= N. May be
        STALE (older than the newest commits — tail probing covers
        that) but is rewritten by vacuum before commits are retired so
        it never resurrects a vacuumed version."""
        try:
            with open(self._checkpoint_path()) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    def _write_checkpoint(self, versions: list[int] | None = None) -> None:
        """Atomically (write-temp + rename) publish a checkpoint
        covering ``versions`` (default: every retained commit). Racing
        writers may overwrite each other's checkpoint; the loser's is
        merely staler, never wrong — versions() probes the tail."""
        vs = self._scan_versions() if versions is None else sorted(versions)
        if not vs:
            return
        cp = {
            "version": vs[-1],
            "records": {str(v): self._commit_record(v) for v in vs},
        }
        tmp = os.path.join(self._commit_dir(), f".tmp-cp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(cp, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._checkpoint_path())

    def _scan_versions(self) -> list[int]:
        """Full O(commits) directory listing — the no-checkpoint
        fallback and the checkpoint writer's source of truth."""
        out = set()
        for name in os.listdir(self._commit_dir()):
            if name.endswith(".json") and not name.startswith("."):
                try:
                    out.add(int(name[:-5]))
                except ValueError:
                    continue
        return sorted(out)

    def versions(self) -> list[int]:
        """Retained commit versions. With a checkpoint present this is
        O(commits since the last checkpoint): the checkpointed list
        plus a sequential existence probe of the tail — never a full
        log listing (the Delta _last_checkpoint read pattern; on object
        stores the probe maps to a ``startAfter`` list)."""
        cp = self._load_checkpoint()
        if cp is None:
            return self._scan_versions()
        out = sorted(int(k) for k in cp["records"])
        v = int(cp["version"]) + 1
        cdir = self._commit_dir()
        while os.path.exists(os.path.join(cdir, f"{v}.json")):
            out.append(v)
            v += 1
        return out

    def current_version(self) -> int:
        """Latest committed version; 0 = table never committed."""
        vs = self.versions()
        return vs[-1] if vs else 0

    def _commit_record(self, version: int) -> dict:
        try:
            with open(os.path.join(self._commit_dir(), f"{version}.json")) as f:
                return json.load(f)
        except FileNotFoundError:
            cp = self._load_checkpoint()
            if cp is not None and str(version) in cp["records"]:
                return cp["records"][str(version)]
            raise

    def _try_commit(self, version: int, data_dir: str, op: str) -> bool:
        """Atomically claim ``version``: write the record to a temp
        file, then os.link it into place. Returns False if another
        writer already owns the version (the optimistic-concurrency
        conflict signal); the record is complete before visible."""
        record = {"version": version, "dir": data_dir, "op": op}
        tmp = os.path.join(self._commit_dir(), f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(record, f)
            f.flush()
            os.fsync(f.fileno())
        final = os.path.join(self._commit_dir(), f"{version}.json")
        try:
            os.link(tmp, final)  # atomic claim: EEXIST iff already taken
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    # -- reads -------------------------------------------------------
    def read(self, version: int | None = None) -> DataFrame | None:
        v = self.current_version() if version is None else version
        if v == 0:
            return None
        if v not in self.versions():
            raise ValueError(f"version {v} not committed (have {self.versions()})")
        rec = self._commit_record(v)
        return read_parquet(self.spark, os.path.join(self.path, rec["dir"]))

    # -- writes ------------------------------------------------------
    def _stage(self, df: DataFrame) -> str:
        """Write a full table snapshot to a fresh, invisible data dir;
        returns the dir path relative to the table root."""
        rel = os.path.join("_data", uuid.uuid4().hex)
        df.write.mode("overwrite").parquet(os.path.join(self.path, rel))
        return rel

    def _commit_loop(self, compute, op: str) -> int:
        """The optimistic writer loop: compute(current_df) -> new state,
        stage it, try to claim the next version; on conflict drop the
        orphan snapshot and rebase against the winner. Returns the
        committed version number."""
        for _ in range(self.max_retries):
            base = self.current_version()
            staged = self._stage(compute(self.read()))
            if self._pre_commit_hook is not None:
                self._pre_commit_hook()
            if self._try_commit(base + 1, staged, op):
                self._maybe_checkpoint(base + 1)
                return base + 1
            # conflict: our snapshot was computed against a stale base —
            # it must never become visible. Reclaim it and rebase.
            shutil.rmtree(os.path.join(self.path, staged), ignore_errors=True)
        raise CommitConflict(
            f"gave up after {self.max_retries} optimistic retries on {self.path}"
        )

    def append(self, df: DataFrame) -> int:
        """Append-insert as one atomic commit (``sinks.append_state``,
        schema union, no drop-sync). Returns the version."""
        def compute(current: DataFrame | None) -> DataFrame:
            return append_state(current, df, self.id_col, safe=True)

        return self._commit_loop(compute, "append")

    def upsert(self, df: DataFrame, keys: list[str]) -> int:
        """Keyed merge (update matches, insert the rest) as one atomic
        commit (``sinks.upsert_state``, schema union, no drop-sync),
        with surrogate ids preserved on matches."""
        def compute(current: DataFrame | None) -> DataFrame:
            return upsert_state(current, df, keys, self.id_col, safe=True)

        return self._commit_loop(compute, "upsert")

    def delete_where(self, condition) -> int:
        """Predicate delete as one atomic commit (returns the version;
        history snapshots stay intact — use vacuum(keep_last=...) to
        retire them, the Delta DELETE+VACUUM split)."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        hit = F.coalesce(cond, F.lit(False))

        def compute(current: DataFrame | None) -> DataFrame:
            if current is None:
                raise ValueError("delete_where on an empty table")
            return current.filter(~hit)

        return self._commit_loop(compute, "delete")

    def compact(self, target_rows_per_file: int = 1_000_000) -> int:
        """OPTIMIZE: rewrite the current snapshot with right-sized
        files as a NEW commit — values and schema untouched, history
        intact, readers never blocked (they keep resolving the old
        commit until the new one lands atomically). Rebase-safe: a
        concurrent writer winning the version simply makes the
        compaction re-read and re-size their newer table. Returns the
        committed version."""
        def compute(current: DataFrame | None) -> DataFrame:
            if current is None:
                raise ValueError("compact on an empty table")
            return compaction_input(current, target_rows_per_file)

        return self._commit_loop(compute, "optimize")

    def clone_from(self, source: "TransactionalParquetSink",
                   version: int | None = None) -> int:
        """SHALLOW CLONE: commit a record pointing at the SOURCE
        table's committed snapshot directory — zero data copied, the
        clone is readable immediately and subsequent writes to either
        table diverge (new commits stage into each table's own _data).
        Same caveat as Delta shallow clones: vacuuming the SOURCE can
        retire data a clone still references — this table's own
        vacuum() never touches directories outside its root (gated by
        test_shallow_clone_zero_copy_and_vacuum_safety). Returns the
        committed version."""
        v = source.current_version() if version is None else version
        if v == 0:
            raise ValueError("cannot clone an empty table")
        if v not in source.versions():
            raise ValueError(f"source version {v} not committed")
        src_dir = os.path.join(source.path, source._commit_record(v)["dir"])
        base = self.current_version()
        for _ in range(self.max_retries):
            if self._try_commit(base + 1, src_dir, f"clone:{source.path}@{v}"):
                self._maybe_checkpoint(base + 1)
                return base + 1
            base = self.current_version()
        raise CommitConflict(
            f"gave up after {self.max_retries} optimistic retries on {self.path}"
        )

    def _maybe_checkpoint(self, version: int) -> None:
        """Every ``checkpoint_interval`` commits, roll the log up into
        _last_checkpoint so readers stop paying O(commits) listings.
        Failure here is harmless (the next eligible commit retries)."""
        if self.checkpoint_interval and version % self.checkpoint_interval == 0:
            try:
                self._write_checkpoint()
            except OSError:
                pass

    # -- maintenance -------------------------------------------------
    def vacuum(self, keep_last: int | None = None,
               grace_seconds: float = 600.0) -> int:
        """Reclaim invisible storage: orphaned data dirs no commit
        references (crashed or conflicted writers) and stale .tmp
        commit files. With ``keep_last=k``, also retires commits (and
        their snapshots) older than the newest k — bounding time-travel
        history. Never touches the current version.

        ``grace_seconds`` (default 10 min, the Delta VACUUM retention
        idea scaled down) protects IN-FLIGHT writers: a concurrent
        writer sits between _stage() and _try_commit() with a fully
        staged but not-yet-referenced _data dir — exactly what the
        orphan sweep looks for. Unreferenced dirs (and .tmp commit
        files) younger than the grace window are skipped, so the
        writer's commit lands on intact data; pass 0 only when no
        writer can be active (tests, single-writer maintenance).

        Returns the number of directories/files removed."""
        import time

        removed = 0
        now = time.time()

        def _expired(p: str) -> bool:
            try:
                return now - os.path.getmtime(p) >= grace_seconds
            except OSError:
                return False  # vanished underneath us — not ours to reap

        data_root_abs = os.path.realpath(os.path.join(self.path, "_data"))
        vs = self.versions()
        if keep_last is not None and len(vs) > keep_last:
            retire, keep = vs[:-keep_last], vs[-keep_last:]
            targets = []
            for v in retire:
                rec = self._commit_record(v)
                targets.append(os.path.realpath(os.path.join(self.path, rec["dir"])))
            # shrink the checkpoint to the survivors BEFORE deleting
            # anything, so a reader never resolves a retired commit
            # through a stale checkpoint record
            if self._load_checkpoint() is not None:
                self._write_checkpoint(keep)
            for v, target in zip(retire, targets):
                # never touch snapshots outside this table's own _data
                # (shallow clones point at the SOURCE table's storage)
                if target.startswith(data_root_abs + os.sep):
                    shutil.rmtree(target, ignore_errors=True)
                try:
                    os.unlink(os.path.join(self._commit_dir(), f"{v}.json"))
                except FileNotFoundError:
                    pass
                removed += 1
            vs = self.versions()
        live = {self._commit_record(v)["dir"] for v in vs}
        data_root = os.path.join(self.path, "_data")
        for name in os.listdir(data_root):
            rel = os.path.join("_data", name)
            full = os.path.join(data_root, name)
            if rel not in live and _expired(full):
                shutil.rmtree(full, ignore_errors=True)
                removed += 1
        for name in os.listdir(self._commit_dir()):
            full = os.path.join(self._commit_dir(), name)
            if name.startswith(".tmp-") and _expired(full):
                os.unlink(full)
                removed += 1
        return removed
