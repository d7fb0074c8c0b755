"""SparkSession factory tuned for this engine.

Local test mode runs ``local[N]``; the same config scales to a real
cluster because everything here is declarative (AQE, Arrow, shuffle
partitions). At 100 TB the only knobs expected to change are
``spark.sql.shuffle.partitions`` (to ~2-3x total cores) and
``spark.sql.files.maxPartitionBytes``.

Start-up. A driver JVM that ``get_spark`` launches starts from a JDK
dynamic class-data-sharing (AppCDS) archive kept outside the checkout,
in ``${XDG_CACHE_HOME:-~/.cache}/det_module_spark/<key>.jsa``, keyed by
the JDK and the ``$SPARK_HOME/jars`` set. With no archive for the key
the JVM writes one at exit, and it is published only after that JVM
exited 0, so a cut-off dump is never mapped. Class loading cannot
change what a query returns; a stale or damaged archive makes the JVM
start without sharing (SCALING.md, "Global posture").
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import re
import shutil
import subprocess
from collections.abc import Mapping

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# Entries in Spark's generated-class cache (the static
# ``spark.sql.codegen.cache.maxEntries``, default 100). One sequential
# pass over the whole registry generates about 4,170 distinct classes
# and the 9 perfbench query_mix queries about 250; with the default
# the LRU cache evicts them, so every pass re-runs Janino and the JIT
# recompiles the new classes. About twice the registry's count, so
# added queries do not start evicting (SCALING.md, "Global posture").
CODEGEN_CACHE_ENTRIES = 8192


def spark_cpus() -> int:
    """Core count from ``SPARK_GRAFT_CPUS`` (default 32): the local
    master's thread count, the shuffle partition count and the scan
    floor's cap. Anything but a positive integer is an error that
    names the variable."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", "32")
    try:
        cpus = int(raw)
    except ValueError:
        cpus = 0
    if cpus <= 0:
        raise ValueError(f"SPARK_GRAFT_CPUS must be a positive integer core count, got {raw!r}")
    return cpus


def _driver_memory() -> str:
    """Driver heap from ``SPARK_GRAFT_DRIVER_MEM`` (default 8g), in the
    JVM's ``-Xmx`` form: a positive count with an optional k, m, g or t
    suffix. Anything else (``8gb``, ``eight``) is an error that names
    the variable, not a JVM that exits before the gateway answers."""
    raw = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    size = re.fullmatch(r"(\d+)[kmgt]?", raw, re.IGNORECASE)
    if size is None or int(size.group(1)) == 0:
        raise ValueError(
            f"SPARK_GRAFT_DRIVER_MEM must be a heap size such as 8g or 512m, got {raw!r}"
        )
    return raw


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compiles this JVM has run so far. Only cache misses
    compile, so a delta of 0 over a repeated query means its generated
    classes were all still cached."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


# How long the exit hook waits for a JVM that is writing its archive
# before it kills it (a dump takes 15-30 s on 4 cores).
_JVM_EXIT_WAIT_S = 120


def _archive_key(spark_home: str, java: str) -> str:
    """Names the archive of one JDK and one Spark jar set: the resolved
    ``java`` binary with its JDK's ``release`` file, and the name, size
    and mtime of every entry in ``$SPARK_HOME/jars``. A JDK update or a
    changed jar gets a new key, and so a new dump, instead of an
    archive every later JVM would refuse."""
    java = os.path.realpath(java)
    h = hashlib.sha256(java.encode())
    try:
        with open(os.path.join(os.path.dirname(os.path.dirname(java)), "release"), "rb") as f:
            h.update(f.read())
    except FileNotFoundError:
        st = os.stat(java)
        h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
    for jar in sorted(os.scandir(os.path.join(spark_home, "jars")), key=lambda e: e.name):
        st = jar.stat()
        h.update(f"\0{jar.name}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:20]


def _drop_stale_dumps(cache: str) -> None:
    """Delete each ``<key>.<pid>.tmp`` whose Python process is gone: its
    JVM outlived it or was killed, and the dump may be cut off."""
    for name in os.listdir(cache):
        parts = name.split(".")
        if len(parts) != 3 or parts[2] != "tmp" or not parts[1].isdigit():
            continue
        try:
            os.kill(int(parts[1]), 0)
        except ProcessLookupError:
            with contextlib.suppress(FileNotFoundError):  # another launch dropped it
                os.remove(os.path.join(cache, name))
        except PermissionError:
            pass  # alive, another user's


def _cds_env(environ: Mapping[str, str]) -> tuple[dict[str, str], str | None]:
    """Environment overrides that launch the driver JVM on the class-data
    archive, and the temporary file that JVM dumps to at exit (None
    when it maps an existing archive). No overrides means launch as
    without an archive.

    JDK 17 refuses to dump while a non-empty directory is on the
    classpath, and Spark puts the conf dir there, so both the writing
    and the mapping JVM read an empty conf dir in the cache. That
    changes nothing only when the real one holds nothing but
    ``*.template`` files and no Hadoop or extra classpath is set; in
    any other case there is no archive."""
    if "PYSPARK_GATEWAY_PORT" in environ or any(
        environ.get(v) for v in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
    ):
        return {}, None
    java_home = environ.get("JAVA_HOME")
    java = (
        os.path.join(java_home, "bin", "java")
        if java_home
        else shutil.which("java", path=environ.get("PATH"))
    )
    cache = os.path.join(
        environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache"),
        "det_module_spark",
    )
    if not java or re.search(r"[\s\"'\\]", cache):
        return {}, None  # SPARK_SUBMIT_OPTS is split on blanks and quotes
    spark_home = environ.get("SPARK_HOME") or _find_spark_home()
    conf = environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    empty = os.path.join(cache, "conf")
    try:
        if os.path.isdir(conf) and not all(n.endswith(".template") for n in os.listdir(conf)):
            return {}, None
        os.makedirs(empty, exist_ok=True)
        if os.listdir(empty):
            return {}, None
        key = _archive_key(spark_home, java)
        _drop_stale_dumps(cache)
    except OSError:
        return {}, None  # no writable cache, no archive
    archive = os.path.join(cache, f"{key}.jsa")
    dump = os.path.join(cache, f"{key}.{os.getpid()}.tmp")
    if os.path.exists(archive):
        flag, dump = f"-XX:SharedArchiveFile={archive}", None
    elif os.path.exists(dump):
        return {}, None  # an earlier JVM of this process writes it
    else:
        flag = f"-XX:ArchiveClassesAtExit={dump}"
    # without the log flags a dump prints hundreds of skipped-class lines
    opts = [environ.get("SPARK_SUBMIT_OPTS", ""), flag, "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    return {"SPARK_SUBMIT_OPTS": " ".join(o for o in opts if o), "SPARK_CONF_DIR": empty}, dump


def _publish_dump(proc: subprocess.Popen, dump: str) -> None:
    """At interpreter exit: stop a still-live session, let its JVM write
    ``dump`` and exit, then move the dump into place as
    ``<key>.jsa`` only if the JVM exited 0. Anything else deletes it:
    mapping a cut-off archive kills the JVM with SIGBUS."""
    if proc.poll() is None:
        try:
            sc, gateway = SparkContext._active_spark_context, SparkContext._gateway
            if sc is not None and gateway is not None and gateway.proc is proc:
                sc.stop()
        finally:
            proc.stdin.close()  # the gateway exits on EOF
            try:
                proc.wait(timeout=_JVM_EXIT_WAIT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    if proc.returncode == 0 and os.path.exists(dump):
        os.replace(dump, dump.rsplit(".", 2)[0] + ".jsa")
    else:
        with contextlib.suppress(FileNotFoundError):
            os.remove(dump)


def get_spark(
    app_name: str = "det_module_spark",
    master: str | None = None,
    conf: Mapping[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    AQE is on so runtime statistics re-plan skewed joins and coalesce
    post-shuffle partitions; Arrow is on so every pandas_udf crossing
    is batched, not row-at-a-time. The generated-class cache holds the
    engine's whole working set (``CODEGEN_CACHE_ENTRIES``). ``conf`` is
    applied last, so a caller's setting wins over the engine's. A new
    driver JVM starts from the class-data archive (module docstring).
    """
    cpus = spark_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", "/tmp/det_module_spark_warehouse"
            ),
        )
        .config("spark.driver.memory", _driver_memory())
    )
    for k, v in (conf or {}).items():
        builder = builder.config(k, v)
    overrides, dump = _cds_env(os.environ) if SparkContext._gateway is None else ({}, None)
    saved = {k: os.environ.get(k) for k in overrides}
    os.environ.update(overrides)  # read only by the JVM launch below
    try:
        spark = builder.getOrCreate()
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
    if dump is not None:
        atexit.register(_publish_dump, SparkContext._gateway.proc, dump)
    spark.sparkContext.setLogLevel("WARN")
    return spark
