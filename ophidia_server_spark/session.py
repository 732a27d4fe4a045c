"""SparkSession factory, the one session-scoped cache (`session_cached` /
`clear`), the one concurrent fan-out (`fan_out`), the broadcast-join
budget and the strict boolean env-knob parse (`env_flag`).

Tuned for the local[32] test harness but cluster-safe: AQE on (runtime re-plan,
skew-join splitting, partition coalescing), Arrow on (fast pandas interchange for
the few Pandas-UDF operators), UTC session timezone so timestamp semantics match
the DuckDB oracle.
"""

from __future__ import annotations

import os
import tempfile
import threading
import weakref
import zipfile
from collections import OrderedDict
from concurrent.futures import ThreadPoolExecutor
from typing import Callable, Sequence, TypeVar

from pyspark import SparkContext
from pyspark.sql import SparkSession

_T = TypeVar("_T")
_V = TypeVar("_V")

# SPARK_GRAFT_SHUFFLE_PARTITIONS decouples shuffle width from thread count:
# the sf10 decade probe measured the per-event window/join family at 2x the
# family ratio purely from 32 fixed partitions (310k rows each) — 128
# partitions at the same 32 threads halved those queries (BASELINE.md
# round-10 decade protocol). Round 11 made that fix adaptive at the
# OPERATOR level (windows.py _sized / advise_shuffle_partitions: the
# affected window operators repartition on their own keys from input
# bytes) after measuring that a session-wide wide AQE
# initialPartitionNum is NOT the answer here: the iterative family's
# lineage truncations (ckpt.py localCheckpoint) MATERIALIZE whatever
# width the shuffle started at, so AQE coalescing never shrinks the
# post-checkpoint stages and a 4x initial width cost ml_als_grade ~3x at
# sf0.1 (54-69 s vs the 19 s bar — measured this round, then reverted).
# On a real cluster, set initialPartitionNum via spark-submit where jobs
# are non-iterative; here the env var stays the explicit override.
DEFAULT_SHUFFLE_PARTITIONS = os.environ.get(
    "SPARK_GRAFT_SHUFFLE_PARTITIONS", os.environ.get("SPARK_GRAFT_CPUS", "32")
)

PKG_ZIP_NAME = "ophidia_server_spark_pkg.zip"


def _build_pkg_zip() -> str:
    """Zip this package into a stable temp path for sc.addPyFile.

    Executor-side code (the mapInPandas codec closures in io_ops/multimodal,
    registry's to_png) does `import ophidia_server_spark` inside the task; on
    a real cluster that import must resolve from the shipped pyFiles, not the
    driver's cwd. The zip roots the package directory itself so the executors'
    unpacked pyFiles dir acts as the package parent.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    zip_path = os.path.join(tempfile.gettempdir(), PKG_ZIP_NAME)
    tmp_path = zip_path + f".{os.getpid()}.tmp"
    with zipfile.ZipFile(tmp_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, dirs, files in os.walk(pkg_dir):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for fname in files:
                if not fname.endswith(".py"):
                    continue
                full = os.path.join(root, fname)
                rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                zf.write(full, rel)
    os.replace(tmp_path, zip_path)  # atomic vs concurrent sessions
    return zip_path


def ship_package(spark: SparkSession) -> None:
    """Register the package zip with the context (idempotent per-context)."""
    sc = spark.sparkContext
    if getattr(sc, "_ophidia_pkg_shipped", False):
        return
    sc.addPyFile(_build_pkg_zip())
    sc._ophidia_pkg_shipped = True


_TRUE_WORDS = frozenset({"1", "true", "yes", "on"})
_FALSE_WORDS = frozenset({"0", "false", "no", "off"})


def env_flag(name: str) -> bool:
    """Strict boolean env knob, off by default: 1/true/yes/on and
    0/false/no/off (any case, surrounding blanks ignored); unset or empty
    is off. Anything else raises instead of silently reading as off."""
    raw = os.environ.get(name, "").strip().lower()
    if raw in _TRUE_WORDS:
        return True
    if not raw or raw in _FALSE_WORDS:
        return False
    raise ValueError(
        f"{name}={os.environ[name]!r}: expected one of 1/true/yes/on "
        "or 0/false/no/off"
    )


# Most bytes an explicitly broadcast join side may take, by its owner's own
# estimate (als._fits_broadcast, dedup._reps_fit_broadcast,
# graph._bc_rows_fit): a comfortable executor/driver footprint. A side
# above it keeps the shuffle join.
BROADCAST_BUDGET_BYTES = 64 * 1024 * 1024


# ---------------------------------------------------------------------------
# session-scoped caches
# ---------------------------------------------------------------------------

# Most entries one session's cache holds before the least recently used is
# evicted. A bench pass over two dataset dirs fills about 20 (tables, four
# vector stores, snapshot catalog, PQ codes, BPE merges and MinHash index
# per dir, plus a few ALS expression bundles).
SESSION_CACHE_MAX_ENTRIES = 32

_CACHE_ATTR = "_ophidia_session_cache"
_CACHED_SESSIONS: weakref.WeakSet[SparkSession] = weakref.WeakSet()
_CACHE_LOCK = threading.Lock()


def session_cached(spark: SparkSession, key: tuple, build: Callable[[], _V]) -> _V:
    """The value cached under `key` for this session; `build()` fills a miss.

    `key` is a tuple whose first item names its namespace ("tables",
    "vstore", ...), the unit `clear` drops. The cache is keyed on the
    session OBJECT and stored on it, so a new session (or
    `spark.newSession()`) never sees another session's DataFrames, and a
    session's entries die with it even though cached DataFrames point back
    at their session. `build` runs outside the lock, so it may itself use
    the cache; two threads missing the same key both build, last one wins.
    """
    with _CACHE_LOCK:
        entries = vars(spark).get(_CACHE_ATTR)
        if entries is not None and key in entries:
            entries.move_to_end(key)
            return entries[key]
    value = build()
    with _CACHE_LOCK:
        entries = vars(spark).setdefault(_CACHE_ATTR, OrderedDict())
        _CACHED_SESSIONS.add(spark)
        entries[key] = value
        entries.move_to_end(key)
        while len(entries) > SESSION_CACHE_MAX_ENTRIES:
            entries.popitem(last=False)
    return value


def clear(namespace: str | None = None) -> None:
    """Drop every live session's cached entries in `namespace`, or all of
    them when `namespace` is None."""
    with _CACHE_LOCK:
        for spark in list(_CACHED_SESSIONS):
            entries = vars(spark).get(_CACHE_ATTR, {})
            for key in [k for k in entries if namespace is None or k[0] == namespace]:
                del entries[key]


# ---------------------------------------------------------------------------
# concurrent fan-out
# ---------------------------------------------------------------------------

def fan_out(
    fn: Callable[[_T], _V], items: Sequence[_T], workers: int,
    pool: Callable[[_T], str],
) -> list[_V]:
    """`[fn(x) for x in items]`, on up to `workers` threads.

    One item, or `workers <= 1`, runs on the calling thread and leaves its
    Spark local properties alone. Otherwise each call runs on a pool
    thread under its own copy of the caller's local properties (job group,
    description, interrupt flag: captured here, on the calling thread,
    because a new thread starts with none) and then its FAIR scheduler
    pool `pool(x)`, so concurrent siblings interleave and every job they
    launch stays in the caller's job group, where a cancel or a job count
    finds it. Each call gets its own copy because `setLocalProperties`
    keeps the object it is given. A worker thread ends with its
    properties, so nothing is cleared. Results come back in item order;
    the first exception in item order propagates.
    """
    items = list(items)
    if workers <= 1 or len(items) <= 1:
        return [fn(x) for x in items]
    sc = SparkContext._active_spark_context
    jvm_sc = sc._jsc.sc() if sc is not None else None
    props = jvm_sc.getLocalProperties() if jvm_sc is not None else None

    def call(x: _T) -> _V:
        if jvm_sc is not None:
            jvm_sc.setLocalProperties(props.clone())
            jvm_sc.setLocalProperty("spark.scheduler.pool", pool(x))
        return fn(x)

    with ThreadPoolExecutor(max_workers=min(workers, len(items))) as ex:
        return list(ex.map(call, items))


def get_spark(app_name: str = "ophidia_server_spark", shuffle_partitions: str | None = None) -> SparkSession:
    """Build (or fetch) the session.

    On a real cluster the master/memory come from spark-submit; everything set
    here is safe to override externally. `spark.sql.shuffle.partitions` is kept
    near core count locally — at 100 TB scale AQE coalescing makes a large
    initial value cheap, so production configs should raise it (or rely on
    `spark.sql.adaptive.coalescePartitions.initialPartitionNum`).
    """
    cpus = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Partition-discovery listing: the ANN stores are parquet dirs with
        # hundreds of partition directories (384 at the LSH dial), and the
        # default threshold (32 paths) makes EVERY fresh store open launch
        # a distributed listing job — 384 near-empty tasks whose scheduling
        # dwarfs the actual metadata reads on any low-latency filesystem
        # (measured: post-compact store open 1.1 -> 0.45 s, whole LSH
        # lifecycle -1.3 s at sf0.1). Driver-side listing stays cheap up to
        # ~1k paths; above it (object stores with tens of thousands of
        # partitions) the distributed listing still engages. Env-tunable
        # for deployments where driver metadata latency is high.
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            os.environ.get("SPARK_GRAFT_PARTITION_DISCOVERY_THRESHOLD", "1024"),
        )
        # zstd parquet writes: at 100 TB the dominant costs are shuffle/store
        # bytes, and zstd's ratio beats snappy's at comparable CPU (measured
        # here: vector-store build 2.0-2.3 s zstd vs 2.7 s snappy warm at
        # sf0.1); every modern lakehouse default has moved to zstd
        .config("spark.sql.parquet.compression.codec", "zstd")
        # FAIR scheduling across pools: the reference front-ends many
        # simultaneous queries over one shared store (SERVER_FARM_SIZE=128,
        # etc/server.conf.in); concurrent probe threads tag their jobs with a
        # per-query pool so short probes interleave instead of queueing behind
        # each other. With a single pool (every sequential workload) behavior
        # is unchanged: the default pool stays internally FIFO.
        .config("spark.scheduler.mode", "FAIR")
        # v2 committer: task output moves to the destination at task commit
        # (one rename) instead of job commit (N renames serialized on the
        # driver) — the standard choice for partitioned writes with many
        # directories; the at-most-once guarantee we give up only matters for
        # speculative execution, which is off
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # driver testdata uses parquet TIMESTAMP(NANOS); read as int64 nanos and
        # convert in load_tables (Spark has no native nanos timestamp)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # reliable-checkpoint retention (ckpt.py): without this, checkpoint
        # files written when a checkpoint dir is set are NEVER deleted —
        # every iteration of the graph/ALS/dedup family would leak one
        # O(state) directory to HDFS/S3 for the application's lifetime.
        # With it, the ContextCleaner removes a checkpoint's files when its
        # RDD is garbage-collected (loop iterations free automatically).
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # Per-call Python call-site capture (DataFrame debugging, default
        # on in Spark 4) walks the Python stack and makes extra py4j
        # round-trips on EVERY DataFrame/Column API call — measured ~2x on
        # plan-construction-heavy paths (the ALS half-step builder, probe
        # plans). The engine's error surface is the oracle/parity gates,
        # not interactive notebooks, so the production default is off;
        # SPARK_GRAFT_DF_DEBUGGING=true restores call-site context when
        # debugging a query interactively.
        .config(
            "spark.python.sql.dataFrameDebugging.enabled",
            str(env_flag("SPARK_GRAFT_DF_DEBUGGING")).lower(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if not os.environ.get("SPARK_MASTER") and "SPARK_GRAFT_CPUS" in os.environ:
        builder = builder.master(f"local[{os.environ['SPARK_GRAFT_CPUS']}]")
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master("local[*]")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None):
    """Load the driver parquet tables as a dict of DataFrames and register temp views."""
    names = names or (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    )
    # The driver may hand us a session built without these confs; both are
    # runtime-settable. nanosAsLong unlocks the generator's TIMESTAMP(NANOS)
    # parquet columns (read as timestamp_ntz on Spark 4); UTC keeps derived
    # calendar fields aligned with the DuckDB oracle.
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        # same listing-threshold rationale as get_spark (the driver may
        # hand us a session built without it); runtime-settable
        spark.conf.set(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            os.environ.get("SPARK_GRAFT_PARTITION_DISCOVERY_THRESHOLD", "1024"),
        )
    except Exception:
        pass
    out = {}
    for n in names:
        path = os.path.join(sf_dir, f"{n}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            for col, is_ts in _NANOS_TS_COLS.get(n, ()):  # int64-nanos -> timestamp
                if col in df.columns and dict(df.dtypes)[col] == "bigint":
                    from pyspark.sql import functions as F

                    df = df.withColumn(col, F.timestamp_micros((F.col(col) / 1000).cast("long")))
            df.createOrReplaceTempView(n)
            out[n] = df
    return out


# columns written as parquet TIMESTAMP(NANOS) by the data generator; with
# nanosAsLong=true they surface as bigint and are converted above.
_NANOS_TS_COLS = {
    "lineitem": (("l_shipdate", True),),
    "orders": (("o_orderdate", True),),
    "events": (("ts", True),),
}


def advise_shuffle_partitions(
    df,
    target_partition_mb: int = 128,
    min_partitions: int = 8,
    max_partitions: int = 20_000,
) -> int:
    """Spill-aware shuffle sizing: recommend spark.sql.shuffle.partitions
    for a plan from its file-backed input size (inputFiles sees through to
    the parquet leaves), targeting ~target_partition_mb per post-shuffle
    partition — the sizing rule that keeps partitions inside executor
    memory at 100 TB instead of inheriting a fixed default. Clamped to
    [min, max]; falls back to the session's current setting when the plan
    isn't file-backed (e.g. in-memory test frames). AQE's partition
    coalescing then trims small outputs at runtime; this sets the UPPER
    bound AQE works under."""
    from ophidia_server_spark.pipeline.vector_store import (
        _estimated_input_bytes,
    )

    est = _estimated_input_bytes(df)
    if est is None:
        return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    want = est // (target_partition_mb * 1024 * 1024) + 1
    return max(min_partitions, min(max_partitions, int(want)))


def input_rows_from_footers(df) -> int | None:
    """Exact input row count from the parquet FOOTERS of the plan's leaf
    files — a driver-side metadata read (pyarrow), no Spark job. None when
    the plan isn't file-backed or a footer is unreadable. Rows are counted
    BEFORE any filter in the plan, so the estimate is an upper bound —
    conservative for width sizing."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    try:
        import pyarrow.parquet as pq
    except Exception:
        return None
    total = 0
    for f in files:
        p = f[7:] if f.startswith("file://") else f[5:] if f.startswith("file:") else f
        try:
            total += pq.ParquetFile(p).metadata.num_rows
        except Exception:
            return None
    return total


def sized_repartition(df, *cols, target_rows: int = 100_000):
    """CPU-aware shuffle width for row-cost-dominated operators (per-event
    window frames, wide equi-joins): width = input rows / target_rows,
    applied as a repartition on the operator's own partitioning columns so
    the downstream window/join REUSES the exchange. Only ever WIDENS past
    the session's spark.sql.shuffle.partitions — at bench scale the row
    count stays under target and the plan is untouched; at the decade the
    width grows with the data (the sf10 lesson: the window/join family ran
    2x slow purely from 32 fixed partitions = 310k rows each, and a
    session-wide wide AQE initialPartitionNum is NOT the fix because the
    iterative family's checkpoints materialize it — see the
    DEFAULT_SHUFFLE_PARTITIONS note). Byte-based sizing
    (advise_shuffle_partitions) cannot see this: 310k-row partitions are
    only ~8 MB of compressed parquet; the cost is per-ROW window state,
    not spill."""
    n = input_rows_from_footers(df)
    if n is None:
        return df
    cur = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    want = n // int(target_rows) + 1
    if want <= cur:
        return df
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    # cols may be names OR Column expressions: exchange reuse requires
    # hash-partitioning on the EXACT expressions the downstream
    # window/join clusters on (e.g. a cast(value as double) groupBy key —
    # partitioning on the raw column would add a second full shuffle)
    exprs = [c if isinstance(c, Column) else F.col(c) for c in cols]
    return df.repartition(int(want), *exprs)
