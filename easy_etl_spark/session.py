"""SparkSession construction + table catalog helpers.

The engine is DataFrame/Spark-SQL first: every operator builds a lazy
Catalyst plan over the star-schema parquet tables, and the physical
strategy (broadcast vs shuffle join, AQE coalescing/skew-split,
whole-stage codegen) is left to the optimizer.

Scale posture: the defaults below are tuned for the local[32] test
harness but are written the way a 1000-executor cluster job would be
written — AQE on (runtime re-planning replaces hand-tuned shuffle
partition counts at 100 TB), small broadcast threshold (dims region/
nation/supplier/part/customer are genuinely small; facts never
broadcast), and file-split sizing left to Spark's defaults so scans
parallelize by HDFS/S3 block.

Table resolution: every engine parquet read (``load_table``, the sinks'
reads, the streaming source's static schema, ``file_scan``) goes through
``read_parquet``, which skips Spark's schema-inference job when what
that inference reads is unchanged. With ``mergeSchema`` off Spark infers
from the footer of one data file, the partition-directory names and a
few session confs (``_INFER_CONFS``), so the inferred ``StructType`` is
remembered under exactly that key: the set of per-file footer
signatures (Parquet schema text plus key-value metadata, read once per
(file, size, mtime_ns) with ``pyarrow.parquet.read_metadata``), the set
of partition-directory relpaths and the conf values. The path is not
part of the key. Plain inference runs, and nothing is remembered, when
the footers differ, a ``_metadata`` / ``_common_metadata`` summary file
is present, the path is not local, or the walk raises. Visible files
follow Spark's rules (``_hidden``).
"""

from __future__ import annotations

import os
import threading
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: All driver-provided tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables small enough to broadcast at any scale factor the
#: driver uses. `customer`/`part` grow with SF but stay dimension-sized
#: relative to `lineitem`; AQE will demote to shuffle join if a real
#: deployment's stats say otherwise.
SMALL_DIMS = ("region", "nation", "supplier")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(app_name: str = "easy-etl-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a local SparkSession with scale-appropriate conf.

    AQE is the load-bearing setting: at 100 TB the right shuffle
    partition count is data-dependent, so we set a static upper bound
    and let adaptive execution coalesce / split skewed partitions.
    """
    # make the package importable on local-mode python workers even when
    # the driver script runs from another cwd (UDF closures may still
    # reference this package by module path)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = pkg_root + (os.pathsep + existing if existing else "")

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 32)
    # SPARK_GRAFT_TASK_RETRIES=N turns on task retries in local mode
    # (local[k] defaults to maxFailures=1, i.e. any task failure is
    # fatal) — the chaos harness (tools/chaos_retry.py) uses this to
    # prove output determinism under forced task retry, the execution
    # reality of any 1000-executor run.
    retries = os.environ.get("SPARK_GRAFT_TASK_RETRIES")
    master = f"local[{cpus},{int(retries)}]" if retries else f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow-batch plain Python UDFs too (Spark 4): the whitelist
        # keeps hot paths JVM-side, but the `func`/fallback surface
        # shouldn't pay pickle-per-row when a user does reach for it
        .config("spark.sql.execution.pythonUDF.arrow.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # tolerate nanosecond parquet timestamps (older testdata
        # generations; Spark refuses them by default): read as long,
        # load_table converts. Current testdata is naive-UTC micros
        # (TIMESTAMP_NTZ), which load_table promotes to TIMESTAMP.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # the console progress bar writes to stderr without a newline,
        # so it shares terminal lines with a tool's own result lines
        .config("spark.ui.showConsoleProgress", "false")
        # bucketed tables (operators.scale) need a catalog warehouse;
        # keep it out of the repo tree (static conf, set at build time)
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/easy_etl_spark_warehouse"),
        )
    )
    # SPARK_GRAFT_EVENTLOG_DIR turns on the event log (static conf, so
    # it must ride the builder) — tools/spill_report.py parses it for
    # per-task spill / peak-memory evidence
    evlog = os.environ.get("SPARK_GRAFT_EVENTLOG_DIR")
    if evlog:
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", f"file://{evlog}")
            # plain-text lines so the parser needs no zstd codec
            .config("spark.eventLog.compress", "false")
        )
    return builder.getOrCreate()


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: Session confs Spark's parquet schema inference reads: the footer
#: type mapping, the partition-value typing, and the merge switch.
_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.session.timeZone",
)

#: Table roots and schemas remembered; the least recently used goes first.
_MEMO_CAP = 256


class _Footer(NamedTuple):
    size: int
    mtime_ns: int
    #: sha256 of the Parquet schema text and the key-value metadata
    sig: str
    #: columns the footer stores as timestamp[ns] (Arrow's view)
    nanos: tuple[str, ...]


#: table root -> {relpath: _Footer} of the files it held at its last
#: walk; each walk replaces the root's entry, so only files that still
#: exist are kept
_FOOTERS: dict[str, dict[str, _Footer]] = {}
#: inference key (_schema_key) -> the StructType Spark inferred for it
_SCHEMAS: dict[tuple, StructType] = {}
_MEMO_LOCK = threading.Lock()


def _remember(memo: dict, key, value) -> None:
    """Put ``key`` last in ``memo``, evicting from the front past the cap."""
    with _MEMO_LOCK:
        memo.pop(key, None)
        memo[key] = value
        while len(memo) > _MEMO_CAP:
            del memo[next(iter(memo))]


#: Parquet summary files: Spark reads its schema from them when present
_SUMMARY_FILES = ("_common_metadata", "_metadata")


def _hidden(name: str) -> bool:
    """Spark's ``InMemoryFileIndex.shouldFilterOutPathName`` for names
    other than the summary files: names starting with ``.`` or ``_``
    (but ``_`` names holding ``=`` are partition dirs) and
    ``._COPYING_`` files are not part of the table."""
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _footer(file: str, st: os.stat_result) -> _Footer:
    import hashlib

    import pyarrow.parquet as pq
    import pyarrow.types as pat

    md = pq.read_metadata(file)
    # str(ParquetSchema)'s first line is the object's address; the
    # Parquet types stay distinct here (INT96 and INT64 nanos are both
    # timestamp[ns] in Arrow, but Spark reads them differently)
    text = str(md.schema).split("\n", 1)[1]
    meta = repr(sorted((md.metadata or {}).items()))
    return _Footer(
        st.st_size,
        st.st_mtime_ns,
        hashlib.sha256(f"{text}\0{meta}".encode()).hexdigest(),
        tuple(
            f.name
            for f in md.schema.to_arrow_schema()
            if pat.is_timestamp(f.type) and f.type.unit == "ns"
        ),
    )


def _footers(path: str) -> list[tuple[str, _Footer]] | None:
    """Visible files of the local table at ``path`` with their footers,
    sorted by relative path (Spark's order); None when Spark's inference
    is not a function of them alone: a non-local or glob path, or a
    ``_metadata`` / ``_common_metadata`` summary file. A footer is read
    once per (file, size, mtime_ns)."""
    if "://" in path or any(c in path for c in "*?[{\\"):
        return None
    path = os.path.abspath(path)
    if os.path.isfile(path):
        root, files = os.path.dirname(path), [(os.path.basename(path), os.stat(path))]
    else:
        root, files, todo = path, [], [""]
        while todo:
            rel = todo.pop()
            with os.scandir(os.path.join(root, rel)) as it:
                for e in it:
                    if e.name.startswith(_SUMMARY_FILES):
                        return None
                    if _hidden(e.name):
                        continue
                    r = os.path.join(rel, e.name)
                    if e.is_dir():
                        todo.append(r)
                    else:
                        files.append((r, e.stat()))
    known = _FOOTERS.get(path, {})
    memo = {}
    for rel, st in sorted(files):
        f = known.get(rel)
        if f is None or (f.size, f.mtime_ns) != (st.st_size, st.st_mtime_ns):
            f = _footer(os.path.join(root, rel), st)
        memo[rel] = f
    _remember(_FOOTERS, path, memo)
    return list(memo.items())


def _schema_key(spark: SparkSession, footers) -> tuple | None:
    """What Spark's schema inference (mergeSchema off) reads: the footer
    of one data file, the partition-directory names and a few confs.
    None when the files' footers differ (Spark's choice then depends on
    which file sorts first) or there is no file."""
    sigs = {f.sig for _, f in footers}
    if len(sigs) != 1:
        return None
    dirs = frozenset(os.path.dirname(rel) for rel, _ in footers) - {""}
    return (sigs.pop(), dirs, tuple(spark.conf.get(k, None) for k in _INFER_CONFS))


def _arrow_nanos(path: str) -> tuple[str, ...]:
    import pyarrow.dataset as ds
    import pyarrow.types as pat

    schema = ds.dataset(path, format="parquet").schema
    return tuple(f.name for f in schema if pat.is_timestamp(f.type) and f.type.unit == "ns")


def _resolve(spark: SparkSession, path: str) -> tuple[DataFrame, list | None]:
    """``read_parquet`` plus the table's footers (``_footers``)."""
    try:
        footers = _footers(path)
        key = _schema_key(spark, footers) if footers else None
    except Exception:
        # resolving only saves a job: on any failure Spark's own read
        # below runs, and raises its own error if the table is unreadable
        footers = key = None
    schema = _SCHEMAS.get(key) if key is not None else None
    if schema is not None:
        _remember(_SCHEMAS, key, schema)
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        if key is not None:
            _remember(_SCHEMAS, key, df.schema)
    return df, footers


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """The engine's one parquet table read: ``spark.read.parquet(path)``
    without the schema-inference job when what that inference reads is
    unchanged. The inferred ``StructType`` is remembered under
    (footer signature, partition-directory relpaths, inference confs),
    not under the path, so a table rewritten with the same schema, a
    growing directory and each new same-shaped batch file all reuse it
    through ``spark.read.schema(...)``. Plain inference runs, and
    nothing is remembered, when the files' footers differ, a summary
    file is present, the path is not local, or the walk raises."""
    return _resolve(spark, path)[0]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan — Catalyst prunes columns & pushes filters.

    The table is resolved by ``read_parquet``: a table whose files'
    footers, partition directories and inference confs match a schema
    Spark already inferred (from any path) is read with that schema and
    runs no job; differing footers, summary files, a non-local path or
    a failed walk fall back to Spark's own inference.

    Nanosecond timestamp columns come back as long (session conf
    nanosAsLong) and are converted to micro timestamps here; the
    integer floor-division matches DuckDB's ns→us semantics. Which
    columns those are is read from the same footers, so a path
    rewritten from micros to nanos is converted.
    """
    from pyspark.sql import functions as F

    # The engine must be correct under ANY caller's session, not just
    # get_spark()'s: the driver harness builds its own SparkSession
    # without our builder confs, and the testdata's nanosecond parquet
    # timestamps make a vanilla read fail with PARQUET_TYPE_ILLEGAL.
    # This conf is runtime-settable, so pin it here at every load.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Event timestamps are naive-UTC instants; DuckDB (the oracle) reads
    # them without tz conversion, so formatting/collect must use UTC too.
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    path = table_path(sf_dir, name)
    df, footers = _resolve(spark, path)
    from pyspark.sql import types as _T

    # Spark reads the first file's footer, so its nanosecond columns are
    # the table's (when the footers differ, Spark's pick is that file too)
    for c in footers[0][1].nanos if footers else _arrow_nanos(path):
        # Guard on the Spark-read dtype: INT96 files also report ns in
        # the pyarrow footer but Spark reads them as TIMESTAMP already.
        if not isinstance(df.schema[c].dataType, _T.LongType):
            continue
        # integer `div`, NOT `/`: float division casts the ns long to
        # double (> 2^53) and loses up to ~256 ns before flooring
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    # Naive-UTC micro timestamps (current driver testdata) arrive as
    # TIMESTAMP_NTZ, which streaming watermarks and LTZ-only functions
    # (unix_micros, to_utc_timestamp) reject. Promote to TIMESTAMP —
    # under the UTC session above this keeps the wall time bit-exact,
    # so formatted outputs still hash-match the (naive) DuckDB oracle.
    from pyspark.sql import types as T

    for f in df.schema.fields:
        if isinstance(f.dataType, T.TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register every star-schema table as a temp view for spark.sql().

    This is the engine's equivalent of the reference's "source database
    connection" (easy_etl/__init__.py:8-10): raw-SQL extracts run
    against these views.
    """
    for name in tables:
        path = table_path(sf_dir, name)
        if os.path.exists(path):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)


# ----------------------------------------------------------------------
# Operator-internal cache tracking
# ----------------------------------------------------------------------
# Dataset.persist() entries live in the session-wide CacheManager until
# explicitly unpersisted — the JVM ContextCleaner never reclaims them —
# so an operator that caches an intermediate (vocab counts, adjacency
# lists, curated corpora) and returns a lazy result would leak executor
# storage on every invocation of a long-lived session (bench loops,
# notebooks, the driver's catalog sweep). Every internal persist routes
# through track_cache(); callers that batch many queries reclaim the
# storage between them with release_caches().

_CACHE_LOCK = __import__("threading").Lock()
#: (owner_thread_id, df) — owner is recorded so a scoped release
#: (release_caches(since=mark)) frees ONLY entries the calling thread
#: tracked, never entries unrelated concurrent work appended after the
#: mark (a foreachBatch handler and an interactive query can share one
#: driver; index-based popping would release the stranger's caches too)
_TRACKED_CACHE: list[tuple[int, DataFrame]] = []


def track_cache(df: DataFrame) -> DataFrame:
    """persist() a DataFrame and register it for release_caches().

    Only for PERFORMANCE caches (reuse of an expensive intermediate).
    A persist whose physical instantiation is load-bearing for
    correctness — e.g. a repartitionByRange frame whose sampled
    boundaries were already used to derive driver-side offsets — must
    use pin_frame() instead: a released performance cache merely
    recomputes, a released correctness pin would re-plan with fresh
    RangePartitioner boundaries and misalign the offsets."""
    import threading

    df.persist()
    with _CACHE_LOCK:
        _TRACKED_CACHE.append((threading.get_ident(), df))
    return df


def pin_frame(df: DataFrame) -> DataFrame:
    """Materialize ``df`` once and TRUNCATE its lineage
    (``localCheckpoint(eager=True)``) so the physical partitioning can
    never be re-derived differently by a later action.

    This is the correctness pin behind operators/ranking.py: its
    repartitionByRange boundaries come from an RDD-id-seeded
    reservoir sample, so any recomputation
    (cache eviction, an unpersist between the offsets pass and the
    consuming action) could draw DIFFERENT boundaries and corrupt the
    banded ranks/prefix sums. After localCheckpoint there is no
    lineage to re-run — every later action reads the same stored
    blocks — and the blocks are reclaimed by the ContextCleaner when
    the frame is garbage-collected, so release_caches() stays safe to
    call at any time (it never touches pins).

    Cluster caveat: localCheckpoint blocks are UNREPLICATED executor
    storage with truncated lineage — losing an executor that holds
    them (crash, spot preemption, dynamic-allocation decommission)
    makes every later action on the pinned frame fail loudly rather
    than recompute. On a local[*] test JVM that executor is the
    driver, so the risk is zero; on a cluster with
    spark.dynamicAllocation.enabled (or spot/preemptible executors)
    the pin automatically upgrades to a RELIABLE checkpoint written to
    the configured checkpoint dir — same materialize-once semantics,
    storage survives executor churn. The upgrade additionally requires
    spark.cleaner.referenceTracking.cleanCheckpoints=true: unlike
    localCheckpoint blocks, reliable checkpoint FILES are only
    reclaimed by the ContextCleaner when that conf is on (default
    false), and pinning every banded frame of a long-running job into
    a dir nothing ever deletes would leak unbounded storage. With
    dynamic allocation on but no checkpoint dir (or no cleanup conf),
    the fragile fast path is used — on such clusters set BOTH
    sparkContext.setCheckpointDir(...) and the cleanCheckpoints conf."""
    spark = df.sparkSession
    dyn = str(spark.conf.get("spark.dynamicAllocation.enabled", "false")).lower() == "true"
    clean = (
        str(
            spark.conf.get("spark.cleaner.referenceTracking.cleanCheckpoints", "false")
        ).lower()
        == "true"
    )
    if dyn and clean and spark.sparkContext._jsc.sc().checkpointDir().isDefined():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate of ``df``'s optimized plan: a
    DRIVER-SIDE statistic (file splits × compression factor), so reading
    it runs no job and scans nothing. ``None`` when the estimate is
    unusable: non-file lineage (an in-memory or JDBC frame) reports the
    8 EiB default."""
    from py4j.protocol import Py4JError

    try:
        # py4j maps the scala BigInt to a plain int; str() also covers
        # JavaObject-shaped returns on other Spark builds
        size = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except (AttributeError, ValueError, Py4JError):
        return None
    return size if 0 < size <= (1 << 50) else None


def reclaim_blocks(spark: SparkSession | None = None) -> None:
    """Promptly reclaim storage blocks of DEAD checkpointed frames.

    pin_frame()/localCheckpoint blocks are not in the unpersist
    registry — they are reclaimed by Spark's ContextCleaner only after
    BOTH the Python wrapper and its py4j JVM reference are garbage
    collected, which CPython defers arbitrarily long. In a long-lived
    session running many queries (bench sections, oracle sweeps) the
    dead blocks pile up in executor storage and degrade later queries
    by 2-4x (round-11 measurement: repeated lpa_communities runs went
    11s -> 34s; triangle_count 5s -> 22s; stable after reclaim).
    Calling this BETWEEN queries — never inside a timed region — runs
    a Python collection to drop the py4j refs, then asks the JVM for a
    GC pass so the ContextCleaner's weak references fire now. Safe at
    any time: only frames with no live Python reference are affected,
    and live pins/caches are untouched."""
    import gc

    gc.collect()
    if spark is None:
        spark = SparkSession.getActiveSession()
    if spark is not None:
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass


def cache_mark() -> frozenset:
    """Identity snapshot of the entries the CURRENT THREAD has tracked
    so far. Pass it to release_caches(since=...) to release only the
    entries this thread added after the mark. Scoping is by owner
    thread AND entry identity — not a count — so the mark survives a
    concurrent blanket release_caches() from another thread (a count
    would then silently refer to different, newer entries and leak
    them)."""
    import threading

    tid = threading.get_ident()
    with _CACHE_LOCK:
        return frozenset(id(df) for t, df in _TRACKED_CACHE if t == tid)


def release_caches(since: frozenset | None = None) -> int:
    """Blocking-unpersist tracked cache entries; returns how many were
    released. ``since=None`` (default) releases EVERYTHING regardless
    of owning thread — the between-queries cleanup used by bench loops
    and the oracle sweep. ``since=mark`` (a snapshot from cache_mark())
    releases only entries the CURRENT thread tracked that are NOT in
    the mark, by identity — entries other threads appended in between
    (and the thread's own pre-mark entries) are untouched. Safe to call
    at any time: every tracked entry is a pure performance cache
    (correctness pins use pin_frame and are not in this registry), so
    an early release merely recomputes."""
    import threading

    with _CACHE_LOCK:
        if since is None:
            victims = [df for _, df in _TRACKED_CACHE]
            _TRACKED_CACHE.clear()
        else:
            tid = threading.get_ident()
            victims = [
                df for t, df in _TRACKED_CACHE if t == tid and id(df) not in since
            ]
            vict_ids = {id(df) for df in victims}
            _TRACKED_CACHE[:] = [
                (t, df) for t, df in _TRACKED_CACHE if id(df) not in vict_ids
            ]
    n = 0
    for df in victims:
        try:
            df.unpersist(blocking=True)
            n += 1
        except Exception:  # session already stopped — nothing to free
            pass
    return n
