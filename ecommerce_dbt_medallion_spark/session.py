"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the same conf block is what we would
ship to a 1000-executor cluster — AQE handles runtime re-planning (partition
coalescing, skew-join splitting), and the session timezone is pinned to UTC
so timestamp semantics are deterministic across engines and machines.

Cold start. A ``get_spark`` call that launches the driver JVM starts it
from a dynamic class-data-sharing archive (JEP 350,
https://openjdk.org/jeps/350): the JVM maps the classes Spark loads from
one file instead of parsing them out of the jars on every start. The
archive is ``<key>.<bytes>.jsa`` under
``${XDG_CACHE_HOME:-~/.cache}/ecommerce_dbt_medallion_spark/cds/``; the
key hashes the JDK, the pyspark version and the launcher classpath (the
``$SPARK_HOME/jars`` listing and the conf dir).

- Archive present: the JVM starts with ``-XX:SharedArchiveFile``. A stale
  archive falls back silently to loading from the jars (the JVM's default
  ``-Xshare:auto``). A truncated one does not: JDK 17 maps it and dies of
  SIGBUS. So the name carries the size the archive was published with,
  and a file of another size counts as missing.
- Archive missing: the JVM starts with ``-XX:ArchiveClassesAtExit`` on a
  temp file, so the archive holds the classes this run loaded; others
  load from the jars as before. At interpreter exit, a hook ends the
  gateway JVM if it still runs (it exits on EOF on its stdin), waits for
  it to write the file, and only then publishes it with ``os.replace``
  and deletes every other archive and the temps of dead writers. The
  cache holds one file (145-211 MB for this package's runs).
- The flags go in ``spark.driver.defaultJavaOptions``: pyspark puts the
  builder's ``--conf`` flags before ``PYSPARK_SUBMIT_ARGS``, so a caller's
  ``--driver-java-options`` would overwrite ``extraJavaOptions``.
- JDK 17 refuses to dump with a non-empty directory on the classpath, and
  the Spark conf dir is on it. So the archive is used only when
  ``SPARK_CONF_DIR`` is unset and ``$SPARK_HOME/conf`` holds nothing but
  ``*.template`` files. ``SPARK_CONF_DIR`` then points at an empty
  directory in the cache, for the dump and every later start alike. Any
  other conf dir is kept and the JVM starts without an archive, so no
  ``spark-defaults.conf`` is ever dropped.
- Nothing changes when a gateway is already live or
  ``PYSPARK_GATEWAY_PORT`` names one.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import shutil
import subprocess

from pyspark import SparkContext, __version__ as PYSPARK_VERSION
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

CACHE = "ecommerce_dbt_medallion_spark"
# How long interpreter exit waits for the JVM to write a new archive; a
# perfbench run's JVM takes 17-20 s to stop when it dumps (4 vCPUs).
DUMP_WAIT_S = 120


def get_spark(app_name: str = "ecommerce-medallion-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: runtime partition coalescing + skew-join handling. At 100 TB
        # this is what keeps the payments⋈orders shuffle balanced when a
        # handful of customers/orders are hot.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Sized for local test SFs; on a real cluster this scales with
        # cores (rule of thumb 2-3x total cores) — AQE coalesces down.
        .config("spark.sql.shuffle.partitions", str(int(cpus) * 2 if cpus.isdigit() else 64))
        # Deterministic timestamp semantics for the DuckDB oracle parity.
        .config("spark.sql.session.timeZone", "UTC")
        # Trust sortBy metadata when reading bucketed tables: our
        # bucketed writer (runner.materialize_bucketed_facts) guarantees
        # exactly one file per bucket, the condition under which the
        # sorted-scan ordering is valid — this is what removes the
        # per-partition Sort (not just the Exchange) from bucketed fact
        # joins. Off by default since Spark 3 because multi-file buckets
        # can't trust it; pinned by tests/test_plans.py.
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        # One historical testdata generation encoded events.ts as parquet
        # TIMESTAMP(NANOS), which Spark only reads behind this legacy
        # flag (as bigint ns — sources/registry.normalize_event_ts maps
        # it back). Session-level so loaders stay pure; harmless for
        # non-nanos files.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # The master is always local[N], where listing local directories
        # on the driver costs less than the distributed listing job Spark
        # launches above 32 paths (re-reading a table of 80 month
        # partitions: 0.45-0.99 s as an 80-task job vs 0.08 s serially).
        # Keep the threshold above any partition or file count.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
        # Console progress bars interleave with stdout; round 8's bench
        # JSON line was truncated by them in the driver's tail capture.
        .config("spark.ui.showConsoleProgress", "false")
        # Arrow for the mapInPandas/pandas_udf paths (multimodal, ANN rerank).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    flag, temp = _cds_flag()
    if flag:
        builder = builder.config("spark.driver.defaultJavaOptions", flag)
    spark = builder.getOrCreate()
    if temp:
        atexit.register(_publish_at_exit, SparkContext._gateway.proc, temp)
    return spark


def _cds_flag() -> tuple[str | None, str | None]:
    """The driver JVM's class-data-sharing flags, and the temp to publish
    at exit when they dump a new archive."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None, None
    spark_home = _find_spark_home()
    root = os.path.join(os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"), CACHE)
    conf, cds = os.path.join(root, "conf"), os.path.join(root, "cds")
    if os.environ.get("SPARK_CONF_DIR", conf) != conf or not _only_templates(
        os.path.join(spark_home, "conf")
    ):
        return None, None
    try:
        os.makedirs(conf, exist_ok=True)
        os.makedirs(cds, exist_ok=True)
    except OSError:
        return None, None
    if os.listdir(conf):
        return None, None
    os.environ["SPARK_CONF_DIR"] = conf
    key = _archive_key(spark_home, conf)
    # The dump warns on stdout for each class it skips (~600 lines) and a
    # failed map warns once; neither is the caller's output.
    quiet = "-Xlog:cds*=off"
    archive = _published(cds, key)
    if archive:
        return f"{quiet} -XX:SharedArchiveFile={archive}", None
    temp = os.path.join(cds, f"{key}.{os.getpid()}.tmp")
    return f"{quiet} -XX:ArchiveClassesAtExit={temp}", temp


def _only_templates(conf: str) -> bool:
    try:
        return all(n.endswith(".template") for n in os.listdir(conf))
    except FileNotFoundError:
        return True


def _archive_key(spark_home: str, conf: str) -> str:
    """Hash of the JDK, the pyspark version and the launcher classpath."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java") or "java"
    jdk = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    h = hashlib.sha256(f"{jdk}\0{PYSPARK_VERSION}\0{conf}".encode())
    for path in [os.path.join(jdk, "lib", "modules")] + sorted(
        e.path for e in os.scandir(os.path.join(spark_home, "jars"))
    ):
        with contextlib.suppress(OSError):
            st = os.stat(path)
            h.update(f"\0{path}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def _published(cds: str, key: str) -> str | None:
    """The key's archive, ``<key>.<bytes>.jsa``, if it still has the size it
    was published with. JDK 17 maps a truncated archive and dies of SIGBUS
    relocating it instead of falling back, so a short file counts as none."""
    for name in os.listdir(cds):
        k, _, rest = name.partition(".")
        path = os.path.join(cds, name)
        with contextlib.suppress(OSError):
            if k == key and rest == f"{os.path.getsize(path)}.jsa":
                return path
    return None


def _publish_at_exit(proc: subprocess.Popen, temp: str) -> None:
    """End the gateway JVM (it exits on EOF on its stdin) and, once it has
    exited by itself, publish the archive it wrote at ``<key>.<pid>.tmp``
    as ``<key>.<bytes>.jsa``, deleting every other archive and the temps
    of dead writers."""
    if proc.poll() is None:
        # A live context on this JVM: its accumulator server would print an
        # EOFError traceback when the JVM's connection to it drops.
        sc = SparkContext._active_spark_context
        if sc is not None and getattr(SparkContext._gateway, "proc", None) is proc:
            with contextlib.suppress(Exception):
                sc.stop()
        with contextlib.suppress(OSError):
            proc.stdin.close()
    try:
        proc.wait(timeout=DUMP_WAIT_S)
    except subprocess.TimeoutExpired:
        return
    size = os.path.getsize(temp) if os.path.isfile(temp) else 0
    if proc.returncode < 0 or not size:
        with contextlib.suppress(OSError):
            os.remove(temp)
        return
    cds, name = os.path.split(temp)
    archive = f"{name.split('.')[0]}.{size}.jsa"
    os.replace(temp, os.path.join(cds, archive))
    for name in os.listdir(cds):
        other = name.endswith(".jsa") and name != archive
        if other or (name.endswith(".tmp") and not _alive(name)):
            with contextlib.suppress(OSError):
                os.remove(os.path.join(cds, name))


def _alive(temp_name: str) -> bool:
    """Whether the process named in ``<key>.<pid>.tmp`` still runs."""
    try:
        os.kill(int(temp_name.split(".")[1]), 0)
    except (ValueError, ProcessLookupError):
        return False
    except PermissionError:
        pass
    return True
