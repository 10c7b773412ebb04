"""SparkSession factory.

Only settings that differ from Spark's defaults are set; adaptive query
execution, scan sizing and the Arrow batch size keep Spark's defaults
(``tests/test_session.py`` pins their effective values). Each setting:

- ``spark.sql.shuffle.partitions`` follows the local core count
  (``SPARK_GRAFT_CPUS``) instead of Spark's 200: the tables are small, and
  AQE coalesces what is left.
- ``spark.sql.autoBroadcastJoinThreshold`` 64 MiB: dims in this engine are
  KB–MB, so Spark may broadcast them.
- Arrow enabled so ``toPandas``/``createDataFrame`` and the Pandas-UDF
  paths batch-transfer instead of pickling rows.
- Session timezone pinned to America/Chicago, matching the reference's
  business clock (reference: sheet_bot/utils.py:16-27, big_flip_tool.py:247).
- ``nanosAsLong`` reads TIMESTAMP(NANOS) parquet columns, see below.
- UI and console progress bars off; driver heap sized from RAM.

Most of a cold run is the driver JVM's start-up and first class loading,
so the driver JVM starts from a dynamic class-data-sharing archive (AppCDS,
JEP 350) kept in ``.jvm_cds/`` at the checkout root, keyed by the JDK
build, the Spark jars and the driver JVM options (:func:`_cds_key`):

- On a key miss the JVM records the classes it loads and writes a private
  ``<key>.<token>.part`` when it exits (``-XX:ArchiveClassesAtExit``). A
  later session renames it to ``<key>.jsa`` once that JVM, named in
  ``<key>.<token>.pid``, is gone, so no JVM maps a half-written file.
- On a key match the JVM maps ``<key>.jsa`` (``-XX:SharedArchiveFile``).
  The JVM skips an archive it cannot use without failing, and can crash on
  a truncated one, so the session checks that the archive is in the JVM's
  memory map; an archive the JVM did not map, or crashed on, is deleted
  and the session starts without it. Such a JVM writes its CDS warnings
  and any crash report under the cache (``<key>.<token>.log``/``.crash``),
  where the session reads the reason from them.
- Each session records the outcome in its runtime conf ``etl_jetro.cds``:
  ``on``, ``dump`` or ``off: <reason>``.

A dump refuses a non-empty directory on the class path, and Spark's conf
dir is on it, so while the JVM starts ``SPARK_CONF_DIR`` points at the
cache's empty ``conf/``; that is done only when the effective conf dir
holds nothing but ``*.template`` files. The archive is a cache: deleting
the directory resets it.
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import shutil
import time
from collections.abc import Callable, Mapping

from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.sql import SparkSession

# The reference business runs on Chicago time (reference sheet_bot/utils.py:16).
SESSION_TZ = "America/Chicago"

# realpath: the JVM's memory map names the archive by its resolved path
CDS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.realpath(__file__))), ".jvm_cds"
)
CDS_CONF = "etl_jetro.cds"
_JAVA_OPTS = "spark.driver.extraJavaOptions"
# Launcher inputs that put directories on the driver class path.
_CLASSPATH_ENV = (
    "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH", "SPARK_PREPEND_CLASSES",
)


class _CdsOff(Exception):
    """Why the driver JVM starts without the class-data archive."""


def _default_driver_mem() -> str:
    """Driver-heap default, derived from physical RAM (ADVICE r8: a flat
    32g default can fail JVM startup on hosts with <32 GB).

    Single-JVM local mode shares the driver heap across all local[N] task
    threads, so sf1 rehearsals need ~1 GB/core (round-8: 8g/32 threads =
    0.25 GB/core OOM'd q225's hop join). Policy: a quarter of physical
    RAM, clamped to [4g, 32g] — 32g on the 128 GiB bench host, 8g on a
    32 GiB laptop, 4g floor elsewhere. ``SPARK_DRIVER_MEM`` overrides.
    """
    try:
        total_gb = (
            os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        ) / (1024**3)
    except (ValueError, OSError, AttributeError):
        return "8g"
    return f"{max(4, min(32, int(total_gb // 4)))}g"


def get_spark(
    app_name: str = "etl-jetro-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    The master is ``$SPARK_MASTER``, else ``local[$SPARK_GRAFT_CPUS]``;
    ``shuffle_partitions`` defaults to ``$SPARK_GRAFT_CPUS``.
    A new driver JVM starts with the class-data archive when it can (see
    the module doc); the session's ``etl_jetro.cds`` conf says how it went.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or int(cpus)

    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # dims in this engine are KB–MB; let Spark broadcast aggressively
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # --- python boundary: always Arrow ----------------------------
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # --- determinism ----------------------------------------------
        "spark.sql.session.timeZone": SESSION_TZ,
        # testdata events.parquet carries TIMESTAMP(NANOS) which Spark's
        # vectorized reader rejects; read as long ns and convert explicitly
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # local mode: keep the UI off and the driver quiet; progress bars
        # would interleave with stdout and corrupt one-line JSON artifacts
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # Single-JVM local mode: the driver heap IS the executor heap,
        # shared by all local[N] task threads (see _default_driver_mem).
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", _default_driver_mem()),
        **(extra_conf or {}),
    }

    def build(conf: dict[str, str]) -> SparkSession:
        b = SparkSession.builder.appName(app_name).master(master)
        for k, v in conf.items():
            b = b.config(k, v)
        return b.getOrCreate()

    if SparkContext._gateway is None:
        spark, state = _start(build, conf)
        spark._jvm.java.lang.System.setProperty(CDS_CONF, state)
    else:  # a running JVM keeps the options, and the archive state, it started with
        spark = build(conf)
        state = spark._jvm.java.lang.System.getProperty(
            CDS_CONF, "off: the driver JVM was started outside get_spark"
        )
    spark.conf.set(CDS_CONF, state)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _start(
    build: Callable[[dict[str, str]], SparkSession], conf: dict[str, str]
) -> tuple[SparkSession, str]:
    """Start the driver JVM, mapping or dumping the class-data archive when
    it can; returns the session and its ``etl_jetro.cds`` state. A fault in
    the cache never fails the start: the JVM then starts as it would
    without it."""
    try:
        key = _cds_key(os.environ, conf)
        os.makedirs(os.path.join(CDS_DIR, "conf"), exist_ok=True)
        writer = _publish(key)
    except _CdsOff as e:
        return build(conf), f"off: {e}"
    except OSError as e:
        return build(conf), f"off: cannot use {CDS_DIR}: {e}"
    if writer is not None:
        return build(conf), f"off: JVM {writer} is still writing this key's archive"

    archive = os.path.join(CDS_DIR, f"{key}.jsa")
    stem = os.path.join(CDS_DIR, f"{key}.{os.getpid()}-{time.time_ns()}")
    mapping = os.path.isfile(archive)
    # the JVM's CDS warnings go to stdout by default, where the CLI and
    # perfbench print their JSON lines
    opts = ["-Xlog:cds*=off:stdout"]
    if mapping:
        opts += [
            f"-XX:SharedArchiveFile={archive}",
            f"-Xlog:cds*=warning:file={stem}.log",
            f"-XX:ErrorFile={stem}.crash",
        ]
    else:
        opts.append(f"-XX:ArchiveClassesAtExit={stem}.part")
    java_opts = " ".join(filter(None, [conf.get(_JAVA_OPTS), *opts]))

    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = os.path.join(CDS_DIR, "conf")
    try:
        spark = build({**conf, _JAVA_OPTS: java_opts})
    except PySparkRuntimeError as e:
        if e.getCondition() != "JAVA_GATEWAY_EXITED":
            raise
        spark = None
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if spark is None:
        said = _jvm_said(stem)
        if mapping:
            _remove(archive)
        what = f"mapping {archive}" if mapping else "recording classes"
        return build(conf), f"off: the JVM exited at start {what}: {said}"

    pid = SparkContext._gateway.proc.pid  # spark-submit execs the JVM
    if not mapping:
        try:
            with open(f"{stem}.pid", "w") as fh:
                fh.write(str(pid))
        except OSError as e:
            return spark, f"off: cannot record the dumping JVM: {e}"
        return spark, "dump"
    said = _jvm_said(stem)
    with open(f"/proc/{pid}/maps") as fh:
        if archive in fh.read():
            return spark, "on"
    _remove(archive)
    return spark, f"off: the JVM did not map {archive}: {said}"


def _cds_key(env: Mapping[str, str], conf: Mapping[str, str]) -> str:
    """The archive key: ``$JAVA_HOME``, its ``release`` file and the size
    and mtime of ``libjvm.so``; the Spark jar names, sizes and mtimes; the
    driver heap size and JVM options. It holds no per-run value
    (``JAVA_TOOL_OPTIONS`` may carry a per-run tmpdir) and starts no process.
    Raises :class:`_CdsOff` when this launch cannot use an archive."""
    if env.get("PYSPARK_GATEWAY_PORT"):
        raise _CdsOff("the driver JVM was started outside this process")
    if not os.path.isdir("/proc/self"):
        raise _CdsOff("no /proc to check the JVM's memory map")
    if re.search(r"[\s:,'\"\\]", CDS_DIR):
        raise _CdsOff(f"JVM options cannot carry the path {CDS_DIR!r}")
    for name in _CLASSPATH_ENV:
        if env.get(name):
            raise _CdsOff(f"{name} adds directories to the driver class path")
    from pyspark.find_spark_home import _find_spark_home

    spark_home = env.get("SPARK_HOME") or _find_spark_home()
    conf_dir = env.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    java = env.get("JAVA_HOME") or shutil.which("java", path=env.get("PATH"))
    if not java:
        raise _CdsOff("no JAVA_HOME and no java on PATH")
    if not env.get("JAVA_HOME"):  # <home>/bin/java
        java = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    jars = os.path.join(spark_home, "jars")
    try:
        names = os.listdir(conf_dir) if os.path.isdir(conf_dir) else []
        live = [n for n in names if not n.endswith(".template")]
        if live:
            raise _CdsOff(f"the Spark conf dir {conf_dir} holds {', '.join(sorted(live))}")
        with open(os.path.join(java, "release")) as fh:
            parts = [java, fh.read(), _stat(os.path.join(java, "lib", "server", "libjvm.so"))]
        parts += [f"{n} {_stat(os.path.join(jars, n))}" for n in sorted(os.listdir(jars))]
    except OSError as e:
        raise _CdsOff(f"cannot key the archive: {e}") from None
    parts += [conf.get("spark.driver.memory", ""), conf.get(_JAVA_OPTS, "")]
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()[:16]


def _publish(key: str) -> int | None:
    """Rename each finished dump in the cache to its key's archive name.
    Returns the pid of a JVM still writing ``key``'s archive, if any."""
    writer = None
    for pid_file in glob.glob(os.path.join(CDS_DIR, "*.pid")):
        stem = pid_file[: -len(".pid")]
        name = os.path.basename(stem)
        try:
            with open(pid_file) as fh:
                pid = int(fh.read())
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                if stem.encode() in fh.read():  # that JVM still runs
                    if name.startswith(f"{key}."):
                        writer = pid
                    continue
        except ValueError:  # its session is still writing the pid
            continue
        except (FileNotFoundError, ProcessLookupError):  # the JVM is gone
            pass
        part = f"{stem}.part"
        try:
            if os.path.getsize(part):
                os.replace(part, os.path.join(CDS_DIR, name.split(".")[0] + ".jsa"))
        except FileNotFoundError:
            pass
        _remove(part)
        _remove(pid_file)
    return writer


def _jvm_said(stem: str) -> str:
    """What a JVM started with ``stem``'s options said about the archive:
    the signal and frame of its crash report, else its CDS warnings. Reads
    and deletes both files."""
    said = []
    for path in (f"{stem}.crash", f"{stem}.log"):
        try:
            with open(path) as fh:
                lines = fh.read().splitlines()
        except FileNotFoundError:
            continue
        _remove(path)
        if path.endswith(".crash"):  # "#  SIGBUS (0x7) at pc=…", then the frame
            head = lines[:12]
            said += [
                ln[1:].strip()
                for i, ln in enumerate(head)
                if ln.startswith("#  ") or (i and head[i - 1] == "# Problematic frame:")
            ]
        else:  # "[0.121s][warning][cds,dynamic] <message>"
            said += [re.sub(r"^(\[[^]]*\])+\s*", "", ln) for ln in lines[:3]]
    return "; ".join(said) or "no reason given"


def _stat(path: str) -> str:
    st = os.stat(path)
    return f"{st.st_size} {st.st_mtime_ns}"


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except FileNotFoundError:
        pass
