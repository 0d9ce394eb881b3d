"""SparkSession builder tuned for the engine.

Local mode is the test bed; the config block is written for a real
multi-executor cluster too (AQE, skew-join handling, partition-size
targets survive a 1000-executor deployment unchanged — only
``shuffle.partitions`` wants raising alongside total cores).

Two settings cut the fixed driver cost every query pays, which sets
interactive latency more than scan speed does: DataFrame call-site
capture is off (it cost about 10 py4j round trips per ``Column`` or
``functions`` call), and the generated-class cache holds
``CODEGEN_CACHE_ENTRIES`` classes, so a session re-running the same
queries stops recompiling them. A local session also starts its Python
workers through :mod:`worker_daemon` and writes streaming checkpoints
without spawning processes. :func:`get_spark` gives the measured
reasons.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Spark's default is 100, split over 4 LRU segments of 25.
CODEGEN_CACHE_ENTRIES = 1000

# The streaming checkpoint's file manager on a local master (see get_spark).
LOCAL_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def parallel_legs(*thunks):
    """Run independent driver-sequenced work legs (index builds, shard
    bootstraps, gate recomputations) on a small thread pool so one
    leg's jobs back-fill executors the other leg's driver barriers
    leave idle (guide §2.6: actions are only sequential because the
    driver calls them sequentially). Returns results in thunk order;
    the first exception re-raises.

    Use ONLY for legs with no data dependency and disjoint store
    paths — the scheduler (FIFO) interleaves their jobs on one
    SparkSession, which is exactly the supported multi-threaded-driver
    pattern. Legs must also NOT mutate shared session state
    (``spark.conf.set`` / ``setLocalProperty`` / anything with a
    save-restore pattern, e.g. streaming ingest via sinks.py's
    shuffle-partitions override): the pool shares one SparkSession, so
    a concurrent save/restore races and can corrupt the restored value
    for the whole session (ADVICE r14). At 100 TB the same overlap
    hides each leg's commit/probe barriers behind the other leg's scan
    compute."""
    from concurrent.futures import ThreadPoolExecutor

    if len(thunks) == 1:
        return [thunks[0]()]
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        return [f.result() for f in futures]


def get_spark(
    app_name: str = "iheardai_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Settings rationale, scale-first:

    - AQE on: runtime coalescing of post-shuffle partitions + skew-join
      splitting replaces hand-tuned partition counts at 100 TB.
    - ``autoBroadcastJoinThreshold`` left at default (10 MB): dims like
      nation/region/date rollups broadcast automatically; big-big joins
      stay sort-merge.
    - UTC session TZ: the DuckDB oracle compares timestamp values; DuckDB
      is UTC-naive, so Spark must not apply a local zone.
    - Arrow on: every Pandas-UDF boundary (the few we allow) is batched.

    Fixed per-query driver cost (measured on a 4-vCPU host over the six
    entries of the ``dashboard`` benchmark, per pass):

    - ``spark.python.sql.dataFrameDebugging.enabled=false``. PySpark
      wraps every ``Column``/``functions`` call to record its Python
      call site for error messages (``pyspark.errors.utils._with_origin``):
      about 10 py4j round trips per call, a stack walk and a failed
      ``import IPython``. Off, a pass makes about 2,000 round trips
      instead of 4,600, and its plan builds take less than half the
      Python CPU (0.14–0.20 s instead of 0.35–0.43 s).
      The only loss is the Python call site in DataFrame error
      messages; ``extra_conf`` can turn it back on. PySpark reads this
      setting once per process, at the first wrapped call made while a
      session is active.
    - ``spark.sql.codegen.cache.maxEntries=CODEGEN_CACHE_ENTRIES``.
      Spark keeps generated classes in a cache of 100 entries, split
      into 4 LRU segments of 25. The dashboard's 89 classes overflowed
      it, so every pass recompiled 22–53 of them through Janino (how
      many depends on how they hash over the segments); at 1,000 a
      warm session recompiles none. Static: it takes effect when the
      JVM starts.

    On a ``local`` master:

    - the Python workers start through
      :mod:`iheardai_data_pipeline_spark.worker_daemon`, with the
      package's parent directory on their path, which saves about
      0.25 s of worker CPU per Python task. A cluster's executors may
      not have the package installed, so other masters start the stock
      daemon.
    - streaming checkpoints go through Spark's
      ``FileSystemBasedCheckpointFileManager``
      (``spark.sql.streaming.checkpointFileManagerClass``). Without the
      native Hadoop library (``libhadoop.so``), every rename of the
      default ``FileContext``-based manager makes the local filesystem
      spawn a ``readlink`` process, at about 4 ms of CPU each: about 24
      per micro-batch of a file stream, for the ``offsets/``,
      ``commits/`` and ``sources/`` logs. The ``FileSystem``-based
      manager renames through ``java.io.File`` instead, and on a local
      disk both renames give the same guarantee. Other masters keep
      Spark's choice for their storage.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    n_shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # runtime row-level filtering: inject a bloom filter built from a
        # selective join side into the other side's scan — at 100 TB this
        # prunes shuffle input for the q3/q5/q10-style selective-dim joins
        # where static partition pruning can't apply
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    if master.startswith("local"):
        package_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        builder = (
            builder.config(
                "spark.python.daemon.module", "iheardai_data_pipeline_spark.worker_daemon"
            )
            .config("spark.executorEnv.PYTHONPATH", package_parent)
            .config(
                "spark.sql.streaming.checkpointFileManagerClass",
                LOCAL_CHECKPOINT_FILE_MANAGER,
            )
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
