"""SparkSession factory.

Local test posture: single JVM, ``local[N]`` threads, AQE on, shuffle
partitions sized to cores (not the 200 default), file listings on the
driver. At cluster scale the same builder applies — only
master/memory/shuffle-partition values and the file-listing threshold
change (a cluster lists many remote paths faster as a Spark job); every
operator in this package is partition-parallel and free of driver-side
collects, so the plans carry over unchanged.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession

# the checkout that holds the package; Python workers import it from here
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runtime-settable settings every session the engine touches needs:
# ``get_spark`` builds them in and ``ensure_engine_conf`` re-applies
# them to a session built elsewhere (the driver's).
_ENGINE_CONF = (
    # driver fixtures store ns-precision timestamps; read as long and
    # convert in load_table (Spark timestamps are µs)
    ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    # fixtures are tz-naive; read as session-tz TIMESTAMP (UTC below)
    # so time functions (unix_millis, window) apply and DuckDB's
    # naive-timestamp oracle semantics match
    ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
    ("spark.sql.session.timeZone", "UTC"),
    ("spark.sql.adaptive.enabled", "true"),
    # let AQE coalesce shuffles UNDER persisted plans too — the
    # iterative operators (CC label propagation, BPE loop, k-means)
    # persist a small relation every round, and with this off each
    # round's joins are pinned at the full shuffle-partition count
    # regardless of size (pure task overhead at fixture scale)
    ("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"),
    # the Python DataSource connector implements pushFilters
    # (SPARK-4.1 gates it behind this flag and ASSERTS if the
    # reader defines the method while the flag is off)
    ("spark.sql.python.filterPushdown.enabled", "true"),
)


def default_cpus() -> int:
    """Core count from ``SPARK_GRAFT_CPUS``; unset, empty or ``0``
    means every core of the host."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or 0) or os.cpu_count() or 4


def get_spark(
    app_name: str = "cdc_realtime_pipeline_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``cpus`` defaults to ``default_cpus()``; shuffle partitions match
    it. Pins session timezone to UTC so results are comparable with
    the DuckDB oracle (DuckDB timestamps are UTC-naive).
    """
    if cpus is None:
        cpus = default_cpus()

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        # list files on the driver, never as a Spark job (the threshold
        # is an int; no listing reaches its maximum): above 32 paths (the
        # default) a file index launches one task per path, and on
        # local[N] that job reads the same disk from the same host plus
        # scheduling, task serialization and a broadcast Hadoop conf.
        # A stream batch over 50 files resolved them in ~1.0 s as a job
        # and in 14-26 ms on the driver (4-core host), once per query.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1))
    )
    for k, v in _ENGINE_CONF:
        builder = builder.config(k, v)
    # Memory: only meaningful in local mode when the JVM hasn't started yet.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    builder = builder.config("spark.driver.memory", driver_mem)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    set_worker_pythonpath(spark)
    return spark


def set_worker_pythonpath(spark: SparkSession) -> None:
    """Put the checkout on the Python workers' path, so functions
    pickled by reference into the package load whatever the working
    directory (Spark merges this with its own worker path). A Python
    function or data source takes the path when it is wrapped or
    registered, so this must run first."""
    env = spark.sparkContext.environment
    paths = env.get("PYTHONPATH", "")
    if _ROOT not in paths.split(os.pathsep):
        env["PYTHONPATH"] = os.pathsep.join(filter(None, (_ROOT, paths)))


def ensure_engine_conf(spark: SparkSession) -> SparkSession:
    """Make any externally-created SparkSession engine-ready.

    The driver contract hands us *its* session, not ours — so the
    runtime-settable requirements are applied here, idempotently, on
    every table load: ns-timestamp parquet reads (the fixtures store
    TIMESTAMP(NANOS), which Spark 4 otherwise refuses), UTC session
    timezone (oracle comparability), AQE, and the package on the Python
    workers' path.
    """
    set_worker_pythonpath(spark)
    for k, v in _ENGINE_CONF:
        if spark.conf.get(k, None) != v:
            spark.conf.set(k, v)
    # Stateful streaming can't use AQE partition coalescing, so the
    # 200-partition default burns task overhead on small state. Only
    # touch it when it is exactly the untouched default — a deliberate
    # cluster-tuned value passes through.
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
        )
    return spark


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one of the driver-generated parquet tables.

    ``events.ts`` is stored as TIMESTAMP(NANOS), which Spark reads as a
    long (``nanosAsLong``); convert to a proper µs TimestampType here
    (fixture values are µs-aligned, so the division is exact).
    """
    ensure_engine_conf(spark)
    return convert_ns_timestamps(
        spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    )


def convert_ns_timestamps(df):
    """Normalize fixture timestamps to µs TimestampType.

    Two storage generations exist: ns-precision (read as long via
    ``nanosAsLong``; integer ``div`` — double division would lose
    precision above 2^53 ns) and µs-precision tz-naive (read as
    TIMESTAMP_NTZ when NTZ inference is on, e.g. a driver session built
    before ``ensure_engine_conf`` ran; cast is exact under the UTC
    session timezone)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast(T.TimestampType()))
    return df


# DataFrames persisted by operators while building a query plan. The
# contract returns un-collected plans, so the operator itself can never
# unpersist (the cache must outlive materialization by the caller);
# instead, loops that materialize many queries in one session (bench,
# correctness sweep) call release_caches() between queries so cached
# shingle/edge blocks don't accumulate across ~100 invocations.
_PERSISTED: list = []


def tracked_persist(df):
    """``df.persist()`` + registration for later ``release_caches()``."""
    df.persist()
    _PERSISTED.append(df)
    return df


def release_caches() -> int:
    """Unpersist every tracked DataFrame; returns how many were released."""
    n = 0
    while _PERSISTED:
        df = _PERSISTED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already stopped — nothing to release
            pass
    return n


# The one per-session cache: intermediates several QUERIES build on
# (the near-dup shingle/candidate tables, corpus counts, synthesized
# CDC topics, the detector's sink table, written scratch tables).
# Unlike tracked_persist, entries SURVIVE release_caches(), so a
# session running the whole registry (correctness sweep, the driver)
# pays for each shared stage once instead of once per consuming query.
# Bounded by construction: one entry per slot, keyed by the session
# object and the full fixture path — a new session or a different
# fixture dir releases and rebuilds.
_MEMOIZED: dict[str, tuple[SparkSession, str, object]] = {}
# serializes memo_persist's check-build-store, so threads racing on a
# cold slot build it once; re-entrant because a build may read
# another memo
_MEMO_LOCK = threading.RLock()


def _unpersist(value) -> None:
    if hasattr(value, "unpersist"):
        try:
            value.unpersist()
        except Exception:  # previous session already stopped
            pass


def memo_persist(slot: str, spark, sf_dir: str, build):
    """Return the value memoized for ``slot``, calling the zero-arg
    ``build`` on first use per (session, ``sf_dir``). A value with a
    ``persist()`` (a DataFrame) is persisted; counts, paths and table
    names are kept as they are.

    STATIC-FIXTURE ASSUMPTION (ADVICE r8): entries survive
    release_caches() by design and are never invalidated on
    underlying-data change — the fixture dirs are immutable for the
    life of a session (the driver/test contract). Any tool that
    REWRITES a fixture dir mid-session must call release_memos()
    afterwards or memoized tables, counts and topics will serve stale
    results."""
    with _MEMO_LOCK:
        cur = _MEMOIZED.get(slot)
        if cur is not None and cur[0] is spark and cur[1] == sf_dir:
            return cur[2]
        if cur is not None:
            _unpersist(cur[2])
        value = build()
        if hasattr(value, "persist"):
            value.persist()
        _MEMOIZED[slot] = (spark, sf_dir, value)
        return value


def release_memos() -> None:
    """Drop every memoized value, unpersisting the DataFrames
    (test/maintenance hook)."""
    with _MEMO_LOCK:
        for _, _, value in _MEMOIZED.values():
            _unpersist(value)
        _MEMOIZED.clear()


# Per-session scratch directories, one per tag, removed at interpreter
# exit — query functions must not leak a new mkdtemp per invocation
# (ADVICE r2: gate/bench loops invoke each query repeatedly).
_SCRATCH: dict = {}


def scratch_dir(tag: str) -> str:
    """Stable per-session scratch dir for ``tag`` (created lazily,
    rmtree'd via atexit). Callers overwrite in place on re-invocation
    instead of leaking fresh temp dirs."""
    if tag not in _SCRATCH:
        import atexit
        import shutil
        import tempfile

        d = tempfile.mkdtemp(prefix=f"sg_{tag}_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        _SCRATCH[tag] = d
    return _SCRATCH[tag]


def raw_schema(spark: SparkSession, sf_dir: str, name: str):
    """Parquet schema as Spark reads it (ts stays LongType ns) — for
    file-stream sources, which need the pre-conversion schema."""
    ensure_engine_conf(spark)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")).schema
