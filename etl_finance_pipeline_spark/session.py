"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]``; the same configuration is what we
would ship to a 1000-executor cluster (AQE on, skew-join handling on,
sane shuffle-partition default that AQE then coalesces).

The driver JVM starts from an application class-data-sharing (AppCDS)
archive of the classes an earlier session loaded, kept in the
checkout's ``.cache/cds/``: a cold session otherwise loads and links
~12.8k classes on its first queries. The first session in a checkout
writes the archive when its JVM exits; later ones map it.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import shutil
import subprocess
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

#: where the AppCDS archive (and the empty conf directory it may need)
#: lives: the checkout's ``.cache/``, which git ignores
CACHE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".cache", "cds"
)
_JAVA_OPTIONS = "spark.driver.extraJavaOptions"
#: how long interpreter exit waits for a dumping JVM to write its archive
_DUMP_WAIT_S = 120
#: CDS messages go to stderr, not the JVM's stdout (which is the Python
#: process's stdout); a dump logs one warning per class it cannot
#: archive, so it keeps only errors
_CDS_LOG = "-Xlog:cds*=off -Xlog:cds*={}:stderr"


@dataclass(frozen=True)
class CdsLaunch:
    """How to start the driver JVM with the archive."""

    java_options: str  # the whole ``spark.driver.extraJavaOptions``
    conf_dir: str | None  # ``SPARK_CONF_DIR`` for the launch; None leaves it
    dump_to: str | None  # temporary archive the JVM writes at exit


def cds_launch(
    cache_dir: str, spark_home: str, env: dict[str, str], java_options: str = ""
) -> CdsLaunch | None:
    """Pick the JVM options that map the archive in *cache_dir*, or that
    dump one at JVM exit when none matches this JDK and classpath;
    None when a precondition fails and the JVM starts as before.

    A dynamic archive cannot be dumped while a non-empty directory is on
    the classpath, and Spark puts ``$SPARK_CONF_DIR`` (default
    ``$SPARK_HOME/conf``) there. A missing one needs nothing; one that
    holds only ``*.template`` files, which Spark never reads, is swapped
    for an empty directory; any other file in it means no archive.
    *java_options* (the caller's own) are kept, ours go after them.
    """
    if any(f in java_options for f in ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")):
        return None
    conf_dir = env.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    entries = os.listdir(conf_dir) if os.path.isdir(conf_dir) else []
    if any(not e.endswith(".template") for e in entries):
        return None
    try:
        os.makedirs(cache_dir, exist_ok=True)
        if entries:
            conf_dir = os.path.join(cache_dir, "conf")
            os.makedirs(conf_dir, exist_ok=True)
    except OSError:
        return None
    # Spark splits the options on whitespace
    if not os.access(cache_dir, os.W_OK) or any(c.isspace() for c in cache_dir):
        return None

    key = _archive_key(spark_home, env, conf_dir)
    for name in os.listdir(cache_dir):
        stem, _, size = name.removesuffix(".jsa").rpartition("-")
        path = os.path.join(cache_dir, name)
        # a short archive is never mapped: the JVM dies of SIGBUS on it
        if name.endswith(".jsa") and stem == key and size == str(os.path.getsize(path)):
            jvm, dump_to = f"-XX:SharedArchiveFile={path} {_CDS_LOG.format('warning')}", None
            break
    else:
        dump_to = os.path.join(cache_dir, f"{key}.{os.getpid()}.tmp")
        jvm = f"-XX:ArchiveClassesAtExit={dump_to} {_CDS_LOG.format('error')}"
    return CdsLaunch(
        java_options=f"{java_options} {jvm}".strip(),
        conf_dir=conf_dir if entries else None,
        dump_to=dump_to,
    )


def _archive_key(spark_home: str, env: dict[str, str], conf_dir: str) -> str:
    """Hash of what the archive depends on: the JDK (``java.home`` and
    its ``release`` file), the jars (name, size, mtime) and the conf
    directory on the classpath."""
    java = env.get("JAVA_HOME") or os.path.dirname(
        os.path.dirname(os.path.realpath(shutil.which("java", path=env.get("PATH")) or "java"))
    )
    h = hashlib.sha256(f"{java}\n{conf_dir}\n".encode())
    with contextlib.suppress(OSError), open(os.path.join(java, "release"), "rb") as fh:
        h.update(fh.read())
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)) if os.path.isdir(jars) else []:
        st = os.stat(os.path.join(jars, name))
        h.update(f"{name} {st.st_size} {st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def promote_archive(dump_to: str, returncode: int | None) -> None:
    """Keep the archive a JVM dumped to *dump_to* when it exited with
    status 0: rename it to ``<key>-<bytes>.jsa`` and delete every other
    archive and dump (one left by a session killed before it could
    promote, say), so the cache holds one. Otherwise drop what it
    wrote."""
    cache_dir = os.path.dirname(dump_to)
    try:
        if returncode != 0 or not os.path.getsize(dump_to):
            os.remove(dump_to)
            return
        key = os.path.basename(dump_to).split(".")[0]
        final = os.path.join(cache_dir, f"{key}-{os.path.getsize(dump_to)}.jsa")
        os.replace(dump_to, final)
        for name in os.listdir(cache_dir):
            if name.endswith((".jsa", ".tmp")) and name != os.path.basename(final):
                os.remove(os.path.join(cache_dir, name))
    except OSError:
        pass


def _finish_dump(proc: subprocess.Popen, dump_to: str) -> None:
    """At interpreter exit: stop the session and end the driver JVM (it
    exits when its stdin closes), wait while it writes the archive, then
    promote it. Stopping first shuts the accumulator server down, which
    would otherwise report the JVM's closed connection as an error. A
    JVM still dumping after the wait is killed, and its partial archive
    goes with it."""
    if proc.poll() is None:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        proc.stdin.close()
        try:
            proc.wait(timeout=_DUMP_WAIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    promote_archive(dump_to, proc.returncode)


@contextlib.contextmanager
def _conf_dir_env(conf_dir: str | None):
    """``SPARK_CONF_DIR`` is *conf_dir* while the JVM is launched."""
    old = os.environ.get("SPARK_CONF_DIR")
    if conf_dir is not None:
        os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        yield
    finally:
        if conf_dir is not None:
            if old is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = old


def get_spark(
    app_name: str = "etl-finance-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    Defaults favor the 100 TB design point:
      * AQE enabled — runtime shuffle-partition coalescing + skew-join
        splitting (hot symbols / hot join keys get split automatically).
      * ``spark.sql.session.timeZone=UTC`` — the engine's canonical
        timezone contract (the reference pins series to UTC; see
        /root/reference/src/etl/transform/normalize.py:217).
      * Arrow enabled for the few pandas-UDF operators (interpolation
        fallback, multimodal decode).

    When this call launches the driver JVM, it maps the checkout's
    AppCDS archive (``.cache/cds/``, see :func:`cds_launch`). With none
    for this JDK and jar set, the JVM writes one when it exits, which
    interpreter exit waits for: that first session starts ~1.5–3 s
    slower than one without an archive, takes ~5–15 s longer to exit and
    writes 140–200 MB. Deleting ``.cache/`` drops the archive. Nothing
    changes when a JVM gateway already runs in the process, ``.cache/``
    cannot be written, or the Spark conf directory holds a real file.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(cpus)),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # AQE's RUNTIME broadcast decision (measured post-shuffle
        # bytes, not optimizer estimates) is safe to loosen well past
        # the static 10m default: a mid-size build side (e.g. a
        # 20 MB deduped edge set closing a wedge join) broadcasts
        # instead of shuffling the large probe side; at 100 TB the
        # same frame measures in GBs and AQE falls back to the
        # shuffle join on its own. Measured -20% on the join-heavy
        # bench tail at sf0.1.
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
        # Accept subset co-partitioning in joins: a frame hash-partitioned
        # on SYMBOL joins on (SYMBOL, TIMESTAMP) without re-shuffling both
        # sides onto the full key set. This is what lets run_pipeline's
        # cached repartition(SYMBOL) frame feed every timeframe's grid
        # join with no exchange of its own; when inputs aren't already
        # subset-partitioned the conf changes nothing. Trade-off: join
        # parallelism is bounded by the subset key's cardinality.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        # Let AQE re-size the output partitioning of CACHED plans by
        # MEASURED bytes (default false keeps the static
        # shuffle.partitions count): every iterative operator
        # (pagerank/trustrank/connected-components) persists tiny
        # control-plane frames that otherwise pin a full-width
        # partition layout, turning each subsequent stage into N
        # near-empty tasks. Data-size-adaptive by construction — a
        # large cached frame keeps its width, a KB-sized one
        # coalesces. Measured at sf0.1: -10–25% on the rank family,
        # cluster/ANN lanes, dq_profile; no regressions observed.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Parquet v2 data pages: an INT32/INT64 column whose dictionary
        # does not pay off is DELTA_BINARY_PACKED instead of PLAIN, so
        # a sorted, evenly spaced TIMESTAMP costs near-zero bits per
        # value (-13 % exported bytes per row on 1m candles). Every
        # engine Parquet writer inherits it; Spark >= 3.3, pyarrow and
        # DuckDB read these files.
        .config("spark.hadoop.parquet.writer.version", "v2")
        # pandas-written parquet often carries TIMESTAMP(NANOS) which
        # Spark has no native type for; read as long and convert
        # explicitly (see sources.tables.load_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # write timestamps as INT64 micros, not legacy INT96: INT96
        # carries no usable min/max footer stats, which would blind
        # the table format's file skipping on timestamp columns
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    conf = dict(extra_conf or {})
    cds = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        cds = cds_launch(
            CACHE_DIR, _find_spark_home(), dict(os.environ), conf.get(_JAVA_OPTIONS, "")
        )
    if cds is not None:
        conf[_JAVA_OPTIONS] = cds.java_options
    for k, v in conf.items():
        builder = builder.config(k, v)
    with _conf_dir_env(cds and cds.conf_dir):
        spark = builder.getOrCreate()
    if cds is not None and cds.dump_to is not None:
        atexit.register(_finish_dump, spark.sparkContext._gateway.proc, cds.dump_to)
    return spark
