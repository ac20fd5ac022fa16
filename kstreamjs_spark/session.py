"""SparkSession factory.

Scale notes (100 TB target):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting, and
  dynamic broadcast demotion are the first line of defense at scale.
- Batch shuffles start ``shuffle_partitions`` wide (default 2x cores, at
  least 8) through AQE's ``coalescePartitions.initialPartitionNum``, which
  Spark reads instead of ``spark.sql.shuffle.partitions`` while AQE
  coalescing is on; on a real cluster it should be ~2-3x total executor
  cores. Queries in this repo never hardcode partition counts.
- Micro-batches run with AQE off, so ``spark.sql.shuffle.partitions`` is
  the state partition count of a stateful query, and it equals the cores
  (at most ``shuffle_partitions``). Each trigger runs one task per state
  partition, and each task pays a fixed CPU cost however few rows it
  has, much of it deserializing a closure that carries two copies of
  the Hadoop configuration (see property sources below); one task per
  core makes a trigger one wave. A checkpoint records the count it
  started with and keeps it on restart.
  A ``foreachBatch`` body runs on the micro-batch's session, so its
  shuffles and writes on ``batch_df`` are one partition per core too.
- Arrow enabled: every Python-side operator here is a Pandas UDF /
  applyInPandas / mapInPandas (Arrow-batched) — no row-at-a-time Python UDFs
  in any hot path.
- Session timezone pinned to UTC so event-time semantics (window alignment,
  epoch math) are deterministic and match the DuckDB oracle.
- Local sessions checkpoint streams through Spark's FileSystem-based
  checkpoint manager. pip-installed PySpark ships no ``libhadoop``, so the
  default FileContext manager's rename check runs ``readlink`` as a child
  process for every checkpoint file it commits: hundreds per trigger of a
  stateful query.
- Local sessions start Python workers through ``worker_daemon``. PySpark's
  worker calls ``importlib.invalidate_caches()`` before every task, and
  before Python 3.13 that makes each ``zipimporter`` re-read all of
  ``pyspark.zip``'s directory: most of a short Arrow kernel task's CPU.
  The daemon re-reads an archive only when it changed. The package's
  parent directory leads the executors' ``PYTHONPATH`` so the daemon (and
  every UDF pickled by reference) imports from any driver cwd. Workers
  run in the driver's cwd with ``PYTHONSAFEPATH`` set, and that cwd
  follows the package's parent on ``PYTHONPATH``: a cwd inside another
  checkout cannot shadow the package, and modules in it still import.
- Sessions from ``get_spark`` keep no property sources in their Hadoop
  configuration. Hadoop's ``Configuration`` records, per key, the
  resources that set it (``core-default.xml``, ...), and its ``write``
  wraps each key's list in its own GZIP stream. Every conf a trigger
  ships (the file sink's write job and stats tracker, the file-scan and
  state-store broadcasts) is a copy of the session's, so each copy cost
  about 1,100 Deflater and Inflater set-ups and 40% of its bytes.
  ``get_spark`` registers and loads every default resource (one
  registered later would reload the conf, sources and all), then
  empties that map; every key and value stays, and
  ``getPropertySources`` returns ``None``, as Hadoop allows and Spark
  handles. Sessions passed in through ``configure_runtime`` keep their
  sources.
- Local sessions put ``jvm/NioLocalFileSystem.jar`` on the driver class
  path and serve ``file:`` with its class: Hadoop's ``LocalFileSystem``
  whose ``setPermission`` calls ``chmod(2)`` through ``java.nio``. Without
  ``libhadoop`` the stock one runs ``chmod`` as a child process for every
  file and directory it creates: offset and commit logs, state-store
  deltas, sink files and their ``.crc`` files, 258 per perfbench
  ``stream_window`` drain. Rebuild the jar with
  ``scripts/build_localfs_jar.py``.
- Local sessions load Spark's classes from a class-data-sharing archive
  (``cds``): the first session for a class path dumps the classes it
  loaded at JVM exit, and later ones map that archive instead of
  parsing and verifying about 17k classes, which roughly halves JVM
  start-up. ``<spark home>/jars/*`` goes on the driver class path ahead
  of Spark's ``conf/`` directory, because JDK 17 dumps no archive when
  a non-empty directory precedes the jars it archives. No jar in Spark's
  ``jars/`` ships a root-level conf file, so ``conf/`` still wins for
  those. Sessions passed in through ``configure_runtime`` keep the JVM's
  defaults.
"""

from __future__ import annotations

import os
import re

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from kstreamjs_spark import cds

# Directory holding the kstreamjs_spark package, for worker PYTHONPATH.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Built from jvm/NioLocalFileSystem.java by scripts/build_localfs_jar.py.
_LOCALFS_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "NioLocalFileSystem.jar")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def default_cpus() -> int:
    """``$SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "kstreamjs-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession tuned for the bench harness."""
    if cpus is None:
        cpus = default_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cpus, 8)
    driver_memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Batch exchange width, and state partitions per stateful query
        # (see the module docstring).
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", str(shuffle_partitions))
        .config("spark.sql.shuffle.partitions", str(min(cpus, shuffle_partitions)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # plans.materialize_once upgrades to reliable checkpoint() when a
        # checkpoint dir is set; without this cleaner flag Spark never
        # deletes non-streaming checkpoint files (cleanup happens on RDD
        # GC only when it is on), so a long-lived app would leak one
        # permanent copy of every materialized frame to the checkpoint
        # store. Startup-only conf — cluster submitters must set it too.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.ui.enabled", "false")
        # Offset/commit logs, state-store deltas and _spark_metadata are
        # written via create-temp-then-rename. The default FileContext
        # manager checks the rename target with getFileLinkStatus, which
        # forks `readlink` when Hadoop's native library is missing; the
        # FileSystem manager checks with exists() and ends in the same
        # rename(2). External sessions (configure_runtime) keep Spark's
        # default, which HDFS needs for its atomic overwrite-rename.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        # Startup-only: external sessions keep pyspark.daemon.
        .config("spark.python.daemon.module", "kstreamjs_spark.worker_daemon")
        # Same chmod(2) per created file, without forking `chmod`. Its
        # jar leads the driver class path below (local mode runs the
        # executors in the driver JVM); external sessions keep Hadoop's
        # default because the class path is startup-only.
        .config("spark.hadoop.fs.file.impl", "kstreamjs_spark.jvm.NioLocalFileSystem")
    )
    extra_conf = dict(extra_conf or {})
    # Spark's jars lead its conf directory (see the module docstring).
    class_path = os.pathsep.join(filter(None, [
        _LOCALFS_JAR,
        extra_conf.get("spark.driver.extraClassPath"),
        os.path.join(_find_spark_home(), "jars", "*"),
    ]))
    extra_conf["spark.driver.extraClassPath"] = class_path
    # The daemon and UDFs pickled by reference import kstreamjs_spark in
    # the worker; workers run in the driver's cwd, so without this a
    # driver started outside the repo fails every Python UDF. `python -m`
    # would put that cwd first on sys.path, where another checkout's
    # package shadows ours, so it goes after ours instead.
    extra_conf.setdefault("spark.executorEnv.PYTHONSAFEPATH", "1")
    extra_conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        filter(None, [_PACKAGE_PARENT, extra_conf.get("spark.executorEnv.PYTHONPATH"), os.getcwd()])
    )
    # JVM options apply only when this call launches the JVM, and the
    # caller's own archive or -Xshare options win.
    claim = None
    java_opts = extra_conf.get("spark.driver.extraJavaOptions", "")
    if (
        SparkContext._gateway is None
        and "PYSPARK_GATEWAY_PORT" not in os.environ
        and not re.search(r"SharedArchiveFile|ArchiveClassesAtExit|-Xshare", java_opts)
    ):
        memory = extra_conf.get("spark.driver.memory", driver_memory)
        cds_opts, claim = cds.jvm_options(class_path, memory)
        if cds_opts:
            extra_conf["spark.driver.extraJavaOptions"] = f"{java_opts} {cds_opts}".strip()
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if claim is not None:
        cds.started(spark, claim)
    _drop_property_sources(spark)
    configure_runtime(spark)
    return spark


def _drop_property_sources(spark: SparkSession) -> None:
    """Empty the per-key source map of the session's Hadoop conf (see the
    module docstring); keys and values stay as they are. A Hadoop without
    these classes or the private field keeps its sources."""
    jvm, conf = spark._jvm, spark._jsc.hadoopConfiguration()
    try:
        # A default resource registered later reloads the conf and its
        # sources, so register the HDFS, MapReduce and YARN ones first.
        jvm.org.apache.hadoop.hdfs.HdfsConfiguration.init()
        jvm.org.apache.hadoop.mapreduce.util.ConfigUtil.loadResources()
        conf.size()  # loads every default resource
        field = conf.getClass().getDeclaredField("updatingResource")
    except Py4JError:
        return
    field.setAccessible(True)
    field.set(conf, jvm.java.util.concurrent.ConcurrentHashMap())


def hadoop_conf_bytes(spark: SparkSession, conf=None) -> int:
    """Bytes of ``conf`` serialized as Spark ships it, in a
    ``SerializableConfiguration``. The default is the conf the session's
    next query derives (``sessionState().newHadoopConf()``)."""
    jvm = spark._jvm
    if conf is None:
        conf = spark._jsparkSession.sessionState().newHadoopConf()
    buf = jvm.java.io.ByteArrayOutputStream()
    out = jvm.java.io.ObjectOutputStream(buf)
    out.writeObject(jvm.org.apache.spark.util.SerializableConfiguration(conf))
    out.close()
    return buf.size()


def configure_runtime(spark: SparkSession) -> None:
    """Runtime-settable confs we need even on an externally-provided session
    (the correctness driver hands us its own SparkSession)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    except Exception:
        pass
    try:
        # events.parquet carries TIMESTAMP(NANOS) which Spark cannot read
        # natively; read as long (ns) and convert in tables.fix_event_time.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass


def scratch_dir(prefix: str, sf_dir: str) -> str:
    """Pid-scoped scratch directory for queries that exercise the WRITE
    path (q211/q211b/q213/q213b/q215/q215b): concurrent checkers (driver + an
    independent judge selfcheck) never clobber each other's write
    mid-read, the same process reuses its dir across invocations, and an
    ``atexit`` hook removes every dir this process created, so
    pid-scoped temp dirs do not outlive the run.

    Cleanup is registered once per path; crashes still leave dirs behind
    (tempdir policy collects those), but every normal exit is clean."""
    import atexit
    import os
    import shutil
    import tempfile

    path = os.path.join(
        tempfile.gettempdir(),
        f"{prefix}_{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}",
    )
    if path not in _SCRATCH_REGISTERED:
        _SCRATCH_REGISTERED.add(path)
        atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


_SCRATCH_REGISTERED: set[str] = set()
