"""SparkSession factory with scale-oriented defaults.

The reference sizes its pipeline with MAX_TRANSACTION_SIZE /
MEMORY_COLLECTION_FLUSH_LIMIT / worker-thread count
(reference: config/application.rb:288-292).  The Spark analogs are
shuffle partition count, Arrow batch size, and AQE, set here once.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from movex_cdc_spark.sqltext import ident

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Stateful-operator state store (sessionizer / idle-timeout /
# watermark-dedup). RocksDB is the engine DEFAULT: their state is
# bounded by ACTIVE keys, but at 10^8-10^9 concurrently-active keys
# the HDFSBackedStateStoreProvider keeps every version of every key in
# executor JVM heap — the scale ceiling VERDICT r5 named. RocksDB
# holds state in native memory + local disk with incremental changelog
# checkpointing, so state capacity scales with disk, not heap.
# SPARK_GRAFT_STATE_STORE=hdfs restores the in-heap provider (tiny-
# state debugging / comparison benches). Resuming a checkpoint created
# under the OTHER provider is safe: Spark pins providerClass from the
# checkpoint's offset metadata, so existing checkpoints keep theirs.
STATE_STORE_PROVIDERS = {
    "rocksdb": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
    "hdfs": (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    ),
}
DEFAULT_STATE_STORE = os.environ.get("SPARK_GRAFT_STATE_STORE", "rocksdb")
if DEFAULT_STATE_STORE not in STATE_STORE_PROVIDERS:
    raise ValueError(
        f"SPARK_GRAFT_STATE_STORE={DEFAULT_STATE_STORE!r}: "
        f"valid values are {sorted(STATE_STORE_PROVIDERS)}"
    )


def get_spark(
    app_name: str = "movex-cdc-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for this engine.

    On a real cluster the same confs apply; only ``master`` changes
    (spark-submit --py-files supplies the package, per BASELINE.json).
    """
    cpus = cpus or DEFAULT_CPUS
    # 2-4x cores is the usual sweet spot; at 100 TB this would be set
    # from data volume (target ~128-256 MB per shuffle partition) and
    # AQE coalesces the excess at runtime.
    shuffle_partitions = shuffle_partitions or max(32, cpus * 2)
    b = SparkSession.builder.appName(app_name)
    # Defer to the cluster manager when launched via spark-submit: its
    # PythonRunner starts the JVM first (--master already applied) and
    # hands the Py4J gateway to Python through PYSPARK_GATEWAY_PORT —
    # the one signal visible BEFORE any SparkContext exists. A bare
    # python/pytest invocation has no gateway yet and gets the local[]
    # default unconditionally (probing SparkConf() instead is wrong in
    # both directions: empty before the JVM exists, and sticky with the
    # PREVIOUS session's master after a stop(), which would silently
    # pin every later get_spark(cpus=N) in the process to the first N).
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        b = b.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
    b = (
        b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow transfer batch size (analog of the reference's trigger
        # buffer flush, memory_collection_flush_limit). 100k, not the
        # 10k default: Arrow-batched Python ops pay a fixed per-batch
        # serialization/handoff cost, and the stateful sessionizer at
        # small groups is bound by it — measured +41% (9.8k -> 13.9k
        # ev/s at 8 events/key, BENCH_SCALING.md) from this one knob.
        # ~100 B rows x 100k = ~10 MB per Arrow batch: safely inside
        # executor memory while amortizing the per-batch overhead.
        # CAVEAT: this is sized for narrow rows — a session feeding
        # LARGE binary payloads through mapInPandas (multimodal decode
        # at real media sizes) must lower it (rows/batch x payload
        # bytes is the Python-worker working set).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # PySpark otherwise captures the Python call site on every
        # wrapped DataFrame/Column call (a stack walk, extra py4j round
        # trips and an IPython import attempt each). On a 200-event
        # delta epoch of CdcStreamPipeline._apply (32 buckets, the
        # calling thread's send_command calls) it cost 1,822 round trips
        # against 742 while the apply rules were Column trees; with the
        # rules as SQL text (sqltext.py) it costs 76 against 66, and the
        # setting still pays for every Column-built query. The
        # trade-off: analysis errors no longer carry the Python
        # call-site fragment, only the JVM-side message.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            STATE_STORE_PROVIDERS[DEFAULT_STATE_STORE],
        )
        # incremental changelog checkpointing: upload per-batch change
        # logs instead of full RocksDB snapshots — the knob that keeps
        # per-trigger commit cost ∝ state CHURN, not state SIZE
        .config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def inheriting_local_properties(spark: SparkSession, fn):
    """``fn`` wrapped to run with the calling thread's Spark local
    properties (job group, streaming batch id) and the session's tags —
    for callables submitted to driver thread pools. In PySpark's
    pinned-thread mode a pool thread otherwise starts with none, so its
    jobs escape the streaming query's job group and ``query.stop()``
    cannot cancel them. Outside pinned-thread mode there is nothing to
    copy and ``fn`` is returned as is."""
    from pyspark.util import inheritable_thread_target

    wrap = inheritable_thread_target(spark)
    return fn if wrap is spark else wrap(fn)


def pinned_now(spark: SparkSession):
    """The session's current timestamp, read once. ``current_timestamp()``
    is re-evaluated by every action, so a pass that classifies rows by
    age across several actions compares against ``F.lit(pinned_now())``
    instead: a row whose age crosses the line between two actions would
    otherwise be counted on one side and written on the other."""
    return spark.sql("SELECT current_timestamp() AS ts").first()["ts"]


def observe_noop(df, **aggs) -> dict:
    """The aggregates ``aggs`` (name → SQL text) over ``df`` in ONE job: a
    ``noop`` write carrying an ``Observation`` (a ``distinct().collect()``
    or a global ``agg().collect()`` plans as 3 jobs under AQE). The
    aggregates travel as one ``struct`` expression, so the observation
    costs the same few py4j round trips however many there are. Narrow
    ``df`` first: the write materializes every column it is given."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    fields = ", ".join(f"{sql} AS {ident(name)}" for name, sql in aggs.items())
    df.observe(obs, F.expr(f"struct({fields}) AS m")).write.format("noop").save(
        mode="overwrite"
    )
    return obs.get["m"].asDict()


# ASCII unit separator: joins a string list for ``jstrings``; never part
# of the SQL text this engine builds
_SEP = "\x1f"
_splitter: tuple = (None, None)


def jstrings(spark: SparkSession, items: list[str]):
    """``items`` as a JVM ``String[]`` in ONE py4j round trip: joined on
    ``_SEP`` and split JVM-side by a ``Pattern`` compiled once per
    gateway. A Python list argument crosses py4j as one
    ``ArrayList.add`` call per element."""
    global _splitter
    gw = spark.sparkContext._gateway
    if _splitter[0] is not gw:
        _splitter = (gw, spark.sparkContext._jvm.java.util.regex.Pattern.compile(_SEP))
    if not items or any(not s or _SEP in s for s in items):
        raise ValueError(f"jstrings: empty item or separator in {items!r}")
    return _splitter[1].split(_SEP.join(items))


def select_sql(df, exprs: list[str]):
    """``df.selectExpr(*exprs)`` in two py4j round trips whatever the
    number of expressions (``jstrings``)."""
    from pyspark.sql import DataFrame

    spark = df.sparkSession
    return DataFrame(df._jdf.selectExpr(jstrings(spark, exprs)), spark)
