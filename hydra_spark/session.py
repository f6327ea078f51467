"""SparkSession factory for the engine — the one home of its settings.

``get_spark`` applies ``ENGINE_CONF`` on both entry paths:

  * in-process (tests, perfbench, tools): a ``local[cores]`` session
    sized to the host — ``cores`` defaults to ``SPARK_GRAFT_CPUS``, else
    every core, and shuffle partitions track it;
  * under ``spark-submit`` (``runner.main`` via ``tools/submit.sh``): the
    submit command's master and driver memory win, and shuffle
    partitions track the session's default parallelism.

The local filesystem: the checkpoint (offset and commit logs, state
changelogs) and the tables are written through Hadoop's ``file://``
classes. The bundled Hadoop has no native ``libhadoop``, so the stock
``RawLocalFileSystem`` forks ``chmod`` for every file and directory it
creates, and ``readlink`` for both ends of every FileContext rename (on
the qualified ``file:/...`` string, where it never succeeds). Measured
on 4 cores: ~2,300 processes and ~5 cpu-s in them per perfbench pass
(3 data triggers plus the flush), and a join state commit of ~1.9 s
(summed over tasks) per micro-batch. ``ENGINE_CONF`` installs the
classes of ``hydra_spark/jvm`` instead (``LOCALFS_JAR``, built by
``tools/build_jvm.sh``): Hadoop's own checksummed ``LocalFileSystem`` and
``ChecksumFs`` over a raw filesystem that does both through ``java.nio``.
Modes, ``.crc`` sidecars and renames are the ones of the classes it
replaces (for FileSystem that is Hive's ``ProxyLocalFileSystem``, which
the bundled hive-exec registers for ``file://``). Only the
``file`` scheme changes, so checkpoints on an object store are
unaffected. Under spark-submit the driver JVM starts before this module
runs, so ``tools/submit.sh`` puts the jar on its class path.

The Python workers: ``ENGINE_CONF`` makes ``hydra_spark.pydaemon`` their
daemon. Spark puts ``pyspark.zip``, the py4j zip and the spark-core jar
in front of every worker's ``PYTHONPATH``, and each task's
``importlib.invalidate_caches()`` re-reads all three (~250 ms of CPU per
task on 4 cores); the daemon drops them from ``sys.path`` before pyspark
loads when the installed pyspark and py4j are the same. Spark starts it
as ``python -m hydra_spark.pydaemon``, so the package must be on the
daemon's ``PYTHONPATH`` from the start: ``get_spark`` exports it in
process, ``tools/submit.sh`` for spark-submit.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# RocksDB-backed state store: state spills to disk instead of growing the
# JVM heap — required posture for 10^12-key state at cluster scale.
ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

# built by tools/build_jvm.sh from hydra_spark/jvm/src
LOCALFS_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "hydra-localfs.jar")

ENGINE_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # audio rows carry ~10-60 KB binary payloads; cap Arrow batch rows
    # so a decode batch stays ~10-60 MB, not 10k-row default x 60 KB.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "1024",
    "spark.sql.streaming.stateStore.providerClass": ROCKSDB,
    # incremental (changelog) state checkpoints: upload per-batch
    # deltas, not a full RocksDB snapshot per store per batch
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    # per-op row counting in RocksDB costs a get per put; with it off
    # numRowsTotal reads 0, so progress consumers (runner.ProgressListener,
    # perfbench) use numRowsUpdated / numRowsRemoved instead
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows": "false",
    "spark.sql.parquet.compression.codec": "zstd",
    # INT64 micros, not legacy INT96: INT96 timestamps carry NO
    # parquet column stats, which blinds manifest-level file
    # skipping (tables.plan_files) to every time-range predicate —
    # and Iceberg spec forbids INT96 anyway.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # local FS: driver-side file listing is microseconds; the default
    # threshold (32 paths) launches a 128-task listing job per stream
    # start — pure scheduling overhead here. On object storage with
    # 10^5+ files per table, drop this back to the default so listing
    # distributes.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "10000",
    "spark.ui.enabled": "false",
    "spark.driver.maxResultSize": "4g",
    # fork-free file:// (see the module docstring): Hadoop's checksummed
    # local classes over java.nio in place of forked chmod and readlink
    "spark.hadoop.fs.file.impl": "hydra.localfs.NioLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "hydra.localfs.NioLocalFs",
    "spark.driver.extraClassPath": LOCALFS_JAR,
    # Python workers fork from a daemon that first drops Spark's
    # redundant archives from sys.path (see hydra_spark/pydaemon.py)
    "spark.python.daemon.module": "hydra_spark.pydaemon",
}


def _set_allocator_env() -> None:
    """glibc malloc tunables, exported BEFORE the JVM starts so the
    pyspark daemon and every forked worker inherit them.

    The decode path streams multi-MB Arrow batches through the Python
    workers; with default glibc behavior every batch is mmap'd on
    allocation and munmap'd on free, so every pass re-faults gigabytes
    of zero pages. At 32 concurrent workers the kernel zone-lock
    contention makes page faults the dominant cost (measured: 12M
    faults/pass, 60-80%% sys time, and local[32] SLOWER than local[8]).
    Raising the mmap/trim thresholds keeps freed blocks on the heap for
    reuse: measured 12M -> 1.3M faults and ~3x decode throughput at 32
    cores. Same knobs apply per-executor on a real cluster
    (spark.executorEnv.*)."""
    defaults = {
        "MALLOC_MMAP_THRESHOLD_": str(1 << 30),
        "MALLOC_TRIM_THRESHOLD_": str(1 << 30),
        "MALLOC_TOP_PAD_": str(1 << 26),
        "MALLOC_ARENA_MAX": "2",
    }
    for k, v in defaults.items():
        os.environ.setdefault(k, v)


def get_spark(
    cores: int | None = None,
    app_name: str = "hydra_spark",
    driver_memory: str = "48g",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    _set_allocator_env()
    # Python workers must be able to import the engine package: the
    # daemon is hydra_spark.pydaemon (ENGINE_CONF), and classes pickled
    # BY REFERENCE (e.g. the hydra_cdf streaming DataSource) resolve
    # through the worker's import path, not cloudpickle. Export before
    # the JVM/daemon starts; --py-files arrive only with the first task,
    # so under spark-submit tools/submit.sh sets PYTHONPATH itself.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = repo_root + (os.pathsep + pp if pp else "")

    # spark-submit starts the JVM first and hands its port to Python
    # (pyspark/java_gateway.py joins it instead of launching one)
    submitted = "PYSPARK_GATEWAY_PORT" in os.environ
    b = SparkSession.builder.appName(app_name)
    if not submitted:
        if cores is None:
            cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
        b = b.master(f"local[{cores}]").config(
            map={
                "spark.sql.shuffle.partitions": str(cores),
                "spark.driver.memory": driver_memory,
            }
        )
    spark = b.config(map={**ENGINE_CONF, **(extra_conf or {})}).getOrCreate()
    if submitted and not spark.sparkContext.getConf().contains("spark.sql.shuffle.partitions"):
        spark.conf.set("spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism))
    spark.sparkContext.setLogLevel("WARN")
    return spark
