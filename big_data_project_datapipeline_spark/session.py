"""SparkSession factory.

The reference pipeline is eager single-threaded pandas; our engine is a lazy
Catalyst-optimized plan (SURVEY.md §3.4). Session-level invariants that the
reference manages by hand are pinned here once:

- ``spark.sql.session.timeZone=UTC`` — the reference coerces every timestamp
  to UTC at every boundary (reference raw_data.py:46,67,129-131,144,199,247);
  with the session TZ pinned, `hour()`/`weekday()`-derived features match.
- AQE on — runtime shuffle-partition coalescing + skew-join splitting; this is
  what makes the same plan survive sf0.001 → 100 TB without retuning.
- Arrow on — vectorized pandas interchange for the few pandas_udf extension ops.
- A class-data-sharing archive of the driver JVM's classes, kept in the
  user's cache — a cold JVM skips parsing and verifying Spark's classes.
- Plain JVM case mapping (``spark.sql.icu.caseMappings.enabled=false``) —
  ``lower``/``upper`` map case as Spark 3.x did, so no JVM builds ICU's
  title-case table of every code point on its first ``lower``.
  ``lower`` and ``upper`` each differ from ICU on 67 code points, all
  mappings added in Unicode 14–16, which JDK 17 predates (Vithkuqi,
  Garay, Glagolitic and Latin Extended-D additions); ``initcap``, which
  nothing here calls, differs on 617. Non-ASCII strings are case-mapped
  in the driver JVM's default locale. To restore ICU, pass
  ``extra_conf={"spark.sql.icu.caseMappings.enabled": "true"}``.
- No G1-humongous buffers per stage or task: 1 MB Tungsten pages
  (``spark.buffer.pageSize``, the floor of the size Spark derives from the
  heap), 1 MB broadcast blocks (``spark.broadcast.blockSize``) and 4 MB G1
  regions (``-XX:G1HeapRegionSize=4m``). G1 allocates any object of half
  a region or more as humongous, and up to a 4g heap its regions are
  1-2 MB, so Spark's fixed buffers (a 4 MB first broadcast chunk per
  stage's task binary, a 1 MB chunk per task result, a page per sort or
  aggregation) each forced a young pause and grew the heap: a cold
  refresh of the benchmark's query mix (1g driver) made 377 allocations
  of 512 KB or more, 746 MB in all, and G1 grew its heap from 254 MB to
  426-443 MB. With the three settings none of them is 2 MB or more. An
  8g driver already gets 4 MB regions. To restore Spark's defaults, pass
  the two confs in ``extra_conf`` and a region size in
  ``spark.driver.extraJavaOptions``, whose flags come after the engine's.

Every driver-side row set (the parsed payloads, the empty bootstrap gram
index, registry literals such as q52's dimension, rows computed on the
driver such as q180's attribution) enters a plan through
:func:`local_frame`, the package's one ``createDataFrame`` call.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import shutil
import subprocess
from collections.abc import Mapping, Sequence
from typing import Any, NamedTuple

import pyarrow as pa
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def get_spark(
    app_name: str = "big_data_project_datapipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Local mode is a test harness; the config choices (AQE, broadcast
    threshold, partition sizing) are made for a real multi-executor cluster
    and merely *also work* on local[N].

    A process that launches the driver JVM has it map the engine's
    class-data-sharing archive (:func:`_class_archive`), or record one
    at exit when there is none yet, and gives it 4 MB G1 regions.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at its default (true): with local
        # threads and kilobyte partitions extra tasks are nearly free,
        # while honoring the 64 MB advisory size coalesces the
        # CPU-heavy collapsed stages (wedge joins, percentile sorts) to
        # 1-2 tasks and serializes them (q121, q132, q87 and q126 ran
        # 1.8-2.7x slower solo at sf0.1 with it off). On a real
        # multi-executor cluster the trade can flip; re-measure there
        # before changing it.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # dims like region/nation/supplier stay broadcast even at 100 TB fact scale
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode: one JVM; give it room so sf0.1 bench never spills to GC death
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # PySpark call-site capture is off: with dataFrameDebugging on
        # (the default), EVERY Python DataFrame/Column API call walks
        # the Python stack and ships the call site to the JVM for error
        # enrichment — measured 5–16 ms per F.col and 230 ms per
        # groupBy().agg(), against 1.4 / 72 ms with it off. Across the
        # 237-query registry one full construction pass costs ~240 s
        # with capture on, pure driver-side fixed cost repeated per
        # run. The trade is error messages without user-code line
        # numbers; operators raise their own typed errors, so the loss
        # is small. To debug, pass it as ``extra_conf``. Caveat: PySpark
        # reads the flag once per process, from the session active at
        # the first DataFrame API call, and caches it; a conf set or a
        # session built after that call does not change it.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Scan-split sizing: Spark sizes file splits as
        # min(maxPartitionBytes, max(openCostInBytes, bytes/minPartitionNum)).
        # A smaller openCost splits single-file scans to the core count
        # — but a parquet file splits only at row-group granularity, so
        # on single-row-group inputs every extra split is an EMPTY task:
        # pure scheduler tax (64 KB cost ~30 s across the 237-query
        # bench against 4 MB). Scan parallelism for unsplittable inputs
        # comes from the opt-in fan-out repartition
        # (tables._fan_out_unsplittable) instead. Pinned at the stock
        # 4 MB.
        .config("spark.sql.files.openCostInBytes", str(4 * 1024 * 1024))
        # Plain JVM case mapping: lower/upper use UTF8String's own (an
        # ASCII fast path, String.toLowerCase otherwise; Spark 3.x did
        # the same). With ICU case mapping on (the Spark 4 default) the
        # first lower/upper in a JVM initializes CollationAwareUTF8String,
        # whose static initializer title-cases all 1,114,112 code points
        # through ICU. A first lower() over the sf0.001 documents took
        # 1.8-2.1 s with it, 0.3-0.5 s without (fresh local[4] JVMs), and
        # its garbage burst made G1 grow a cold cron day's committed
        # heap from 295 to 550 MB (1g driver) for the rest of the
        # process. The mappings differ on code points whose case
        # mappings came in Unicode 14-16 (see the module docstring).
        .config("spark.sql.icu.caseMappings.enabled", "false")
        # below G1's humongous threshold (half a region; see
        # _G1_REGION): Spark would size a sort or aggregation page at
        # 4 MB for a 1g heap and 64 MB for 8g with local[4], and every
        # broadcast, each stage's task binary among them, starts with a
        # blockSize chunk (4 MB by default)
        .config("spark.buffer.pageSize", "1m")
        .config("spark.broadcast.blockSize", "1m")
    )
    extra = dict(extra_conf or {})
    caller_options = extra.pop(_JAVA_OPTIONS, None)
    archive = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        # this process launches the driver JVM
        if "spark.driver.extraClassPath" not in extra:
            archive = _class_archive()
        java_options = _java_options(archive, caller_options)
    else:
        java_options = caller_options
    if java_options:
        builder = builder.config(_JAVA_OPTIONS, java_options)
    builder = builder.config(map=extra)
    if archive is None:
        spark = builder.getOrCreate()
    else:
        # the launcher reads the conf dir when it starts the JVM; the
        # process environment is left as it was
        os.environ["SPARK_CONF_DIR"] = archive.conf_dir
        try:
            spark = builder.getOrCreate()
        finally:
            del os.environ["SPARK_CONF_DIR"]
        if archive.recording:
            atexit.register(
                _publish_archive, spark.sparkContext._gateway.proc,
                archive.recording, archive.path,
            )
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Class-data sharing (JEP 350). A cold driver JVM parses and verifies
# some 17k Spark classes before its first job; mapping a dynamic archive
# of them, recorded once by an earlier JVM at its exit, skips that work.
# The JDK maps or records an archive only when every directory on the
# JVM's classpath is empty. The launcher puts the conf dir there, and
# these variables may add more.
_CLASSPATH_ENV = (
    "SPARK_CONF_DIR",
    "HADOOP_CONF_DIR",
    "YARN_CONF_DIR",
    "SPARK_DIST_CLASSPATH",
    "SPARK_PREPEND_CLASSES",
    "SPARK_TESTING",
)
_JAVA_OPTIONS = "spark.driver.extraJavaOptions"
# G1 allocates an object of half a region or more outside the young
# generation and, with live data near its concurrent-start threshold,
# starts a young pause for each one. Up to a 4g heap G1 picks
# 1-2 MB regions, so even the 1 MB chunk of every task result (a size
# hard-coded in Spark's SerializerHelper) is humongous. G1 picks 4 MB
# regions for an 8g heap itself.
_G1_REGION = "-XX:G1HeapRegionSize=4m"
# a recording JVM's dump at exit takes 4-10 s on a 4-CPU VM
_DUMP_TIMEOUT_S = 60


class _ClassArchive(NamedTuple):
    path: str  # <cache>/<key>.jsa
    conf_dir: str  # the empty SPARK_CONF_DIR beside it
    recording: str | None  # the temp file this launch dumps to, if any

    @property
    def java_options(self) -> str:
        if self.recording:
            flag = f"-XX:ArchiveClassesAtExit={self.recording}"
        else:  # under -Xshare:auto the JVM skips a stale or broken archive
            flag = f"-XX:SharedArchiveFile={self.path}"
        # the dump warns once per class it skips (the signed janino jar,
        # pre-JDK-6 classes); none of it belongs on the job's output
        return f"{flag} -Xlog:cds*=off"


def _java_options(archive: _ClassArchive | None, caller: str | None) -> str:
    """The launched driver JVM's options, as one string: the G1 region
    size, the class archive's flags when there is an archive, then the
    caller's ``spark.driver.extraJavaOptions``. The JVM takes the last
    of a repeated flag, so the caller's win where they disagree."""
    return " ".join(
        o for o in (_G1_REGION, archive and archive.java_options, caller) if o
    )


def _class_archive() -> _ClassArchive | None:
    """The archive a new driver JVM maps, or records when there is none
    yet, in ``$XDG_CACHE_HOME/spark-graft/cds``. None where the JDK
    could not use one: a conf dir holding more than Spark's
    ``*.template`` files, a classpath variable set, no ``java`` or no
    writable cache.

    The key digests the ``java`` binary, the ``$SPARK_HOME/jars``
    listing (name, size, mtime) and the conf dir, so a Spark or JDK
    upgrade records a fresh archive."""
    if any(k in os.environ for k in _CLASSPATH_ENV):
        return None
    spark_home = _find_spark_home()
    try:
        if any(
            not n.endswith(".template")
            for n in os.listdir(os.path.join(spark_home, "conf"))
        ):
            return None
    except FileNotFoundError:
        pass
    java = (
        os.path.join(os.environ["JAVA_HOME"], "bin", "java")
        if "JAVA_HOME" in os.environ else shutil.which("java")
    )
    cache = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
        "spark-graft", "cds",
    )
    # the launcher splits the option string on whitespace and quotes
    if java is None or any(c.isspace() or c in "\"'\\" for c in cache):
        return None
    conf_dir = os.path.join(cache, "conf")
    try:
        os.makedirs(conf_dir, exist_ok=True)
        if os.listdir(conf_dir) or not os.access(cache, os.W_OK | os.X_OK):
            return None
        h = hashlib.sha256()
        java = os.path.realpath(java)
        jars = sorted(os.scandir(os.path.join(spark_home, "jars")), key=lambda e: e.name)
        for name, st in [(java, os.stat(java))] + [(e.name, e.stat()) for e in jars]:
            h.update(f"{name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
        h.update(conf_dir.encode())
        key = h.hexdigest()[:16]
        path = os.path.join(cache, f"{key}.jsa")
        if os.path.isfile(path):
            return _ClassArchive(path, conf_dir, None)
        _sweep_dumps(cache)
    except OSError:
        return None
    return _ClassArchive(path, conf_dir, os.path.join(cache, f"{key}.{os.getpid()}.tmp"))


def _sweep_dumps(cache: str) -> None:
    """Delete the temp dumps (``<key>.<pid>.tmp``) of processes that are
    gone: killed before their exit hook ran, or timed out in it."""
    for name in os.listdir(cache):
        pid = name.removesuffix(".tmp").rpartition(".")[2]
        if name.endswith(".tmp") and pid.isdigit():
            try:
                os.kill(int(pid), 0)
            except ProcessLookupError:
                with contextlib.suppress(FileNotFoundError):
                    os.unlink(os.path.join(cache, name))
            except PermissionError:  # alive, another user's
                pass


def _publish_archive(proc: subprocess.Popen, tmp: str, path: str) -> None:
    """At exit of the process that launched a recording JVM: end the JVM
    (it exits when its stdin closes), wait for its dump, and move a
    complete dump into place. ``os.replace`` is atomic, so a concurrent
    launch maps either the old archive or the new one."""
    sc = SparkContext._active_spark_context
    if sc is not None:  # its accumulator server would see the JVM vanish
        sc.stop()
    try:
        proc.stdin.close()
        rc = proc.wait(timeout=_DUMP_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return  # the JVM dumps on; a later launch sweeps its temp file
    with contextlib.suppress(OSError):
        if rc == 0 and os.path.getsize(tmp) > 0:
            os.replace(tmp, path)
        else:
            os.unlink(tmp)


def class_archive(spark: SparkSession) -> str:
    """How the session's driver JVM got its classes: ``mapped`` from a
    class-data-sharing archive, ``recording`` one to dump at exit, or
    ``off``. ``unknown`` where ``/proc`` cannot tell: off Linux, or a
    JVM this process did not launch."""
    proc = spark.sparkContext._gateway.proc
    if proc is None:
        return "unknown"
    try:
        with open(f"/proc/{proc.pid}/cmdline", "rb") as fh:
            args = fh.read().decode().split("\0")
        with open(f"/proc/{proc.pid}/maps") as fh:
            maps = fh.read()
    except OSError:
        return "unknown"
    for a in args:
        if a.startswith("-XX:ArchiveClassesAtExit="):
            return "recording"
        if a.startswith("-XX:SharedArchiveFile="):
            return "mapped" if a.partition("=")[2] in maps else "off"
    return "off"


def jvm_peak_rss_mb(spark: SparkSession) -> float | None:
    """The driver JVM's peak resident set (``VmHWM``) so far, in MB.
    None where ``/proc`` cannot tell: off Linux, or a JVM this process
    did not launch."""
    proc = spark.sparkContext._gateway.proc
    if proc is None:
        return None
    try:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return round(int(line.split()[1]) / 1024, 1)
    except OSError:
        pass
    return None


def local_frame(
    spark: SparkSession,
    rows: Sequence[Mapping[str, Any] | Sequence[Any]],
    schema: T.StructType | str,
) -> DataFrame:
    """Driver-side ``rows`` as a frame over a ``LocalRelation``.

    A row is a dict keyed by field name (a missing key is NULL) or a
    tuple in field order; ``schema`` is a ``StructType`` or a DDL string
    such as ``"k string, v double"``. The schema is never inferred from
    the data.

    ``createDataFrame`` of a Python list plans a Python-RDD scan: every
    job that reads it runs Python worker tasks, and its size estimate
    is unknown, so no join against it broadcasts. An Arrow table below
    ``spark.sql.execution.arrow.localRelationThreshold`` becomes a
    ``LocalRelation`` instead: the rows travel inside the plan, with an
    exact size estimate, and no Python worker starts. Arrow casts JSON
    integers to double columns."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    names = schema.names
    table = pa.Table.from_pylist(
        [r if isinstance(r, Mapping) else dict(zip(names, r)) for r in rows],
        schema=to_arrow_schema(schema),
    )
    return spark.createDataFrame(table, schema)
