"""SparkSession factory tuned for this engine, and :func:`local_frame`,
which turns driver-held rows into a local relation.

Local testing runs on ``local[N]``; the configs below are the ones that
matter at cluster scale too (AQE, shuffle partitioning, Arrow for the few
pandas-UDF boundaries). Everything else is left to Catalyst/Tungsten.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import stat
import tempfile

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# HotSpot's Tier-4 (C2) thresholds at 3x the JDK 17 defaults: C2 now takes
# 15000 calls, or 1800 calls and 45000 calls + loop back-edges, or 120000
# back-edges for an on-stack replacement. Methods still get C1 code after
# Tier-3's ~200 calls, so only code that stays hot past warm-up pays for a
# C2 compile.
DRIVER_JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=15000 -XX:Tier4MinInvocationThreshold=1800 "
    "-XX:Tier4CompileThreshold=45000 -XX:Tier4BackEdgeThreshold=120000"
)


# Unified-logging selector for the class-data-sharing flags: a dump prints
# a ``[warning][cds] Skipping ...`` line to stdout for every class it cannot
# archive (signed jars, Janino's generated classes), ~2,000 a run; errors,
# such as why a dump failed, still print.
CDS_LOG = "-Xlog:cds*=error"
# the first four bytes of a JDK dynamic archive; the JVM writes its header
# after every region, so a dump killed midway leaves zeros here
_CDS_MAGIC = (0xF00BABA8).to_bytes(4, "little")


def jdk_tool(name: str) -> str | None:
    """Path of a JDK tool (``java``, ``jcmd``) found the way Spark's
    launcher finds ``java``: under ``JAVA_HOME`` if set, else on PATH."""
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", name) if home else shutil.which(name)


def _command_lines() -> list[bytes]:
    """The command line of every process this one can see."""
    out = []
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    out.append(f.read())
            except OSError:
                pass
    return out


def _archive_key(java: str, spark_home: str, conf_dir: str) -> str | None:
    """A name for the archive from what the JVM checks before it maps one:
    the JDK's class image and the driver classpath (the conf directory and
    Spark's jars). None for a JDK without a class image, which predates
    dynamic archives."""
    jdk = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    jars = sorted(glob.glob(os.path.join(glob.escape(spark_home), "jars", "*.jar")))
    h = hashlib.sha256(conf_dir.encode())
    try:
        for path in (os.path.join(jdk, "lib", "modules"), *jars):
            st = os.stat(path)
            h.update(f"\0{path}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    except OSError:
        return None
    return h.hexdigest()[:16]


def publish_archive(directory: str, key: str) -> bool:
    """Promote a finished part file of ``key`` to ``<key>.jsa`` by rename,
    delete the other keys' archives when it does, and delete every part
    file that can never be promoted. A part file is finished when no live
    process names it on its command line (the JVM dumping it has exited)
    and its header is written. Returns whether a live JVM is building an
    archive of ``key``, in which case the caller should not start another."""
    # list the parts before reading the command lines: a part that exists
    # now was named by a JVM started earlier, which is either still listed
    # or done writing
    parts = glob.glob(os.path.join(glob.escape(directory), "*.part"))
    cmdlines = _command_lines()
    archive = os.path.join(directory, f"{key}.jsa")
    for part in parts:
        if any(part.encode() in c for c in cmdlines):
            continue
        try:
            with open(part, "rb") as f:
                finished = f.read(4) == _CDS_MAGIC
            if finished and os.path.basename(part).startswith(f"{key}-") and not os.path.exists(archive):
                os.replace(part, archive)
                for old in glob.glob(os.path.join(glob.escape(directory), "*.jsa")):
                    if old != archive:
                        os.remove(old)
            else:
                os.remove(part)
        except OSError:
            pass  # another process promoted or removed it first
    building = f"-XX:ArchiveClassesAtExit={os.path.join(directory, key)}-".encode()
    return any(building in c for c in cmdlines)


def _private_dir(path: str) -> bool:
    """Create ``path`` as a directory only this user can use, or check
    that the one already there is one: a real directory (not a symlink),
    owned by this user, that no group or other user can write. Archives
    and the conf directory live under the shared temporary directory,
    where another user could create the path first and plant a
    ``spark-env.sh``, which Spark's launcher runs, or an archive, which the
    JVM maps without verifying its classes."""
    try:
        os.mkdir(path, 0o700)
    except FileExistsError:
        pass
    st = os.lstat(path)
    return stat.S_ISDIR(st.st_mode) and st.st_uid == os.getuid() and not st.st_mode & 0o022


def cds_options() -> str:
    """The class-data-sharing flags for a new driver JVM (see
    :func:`get_spark`), or '' where no archive can be used or built.
    Points ``SPARK_CONF_DIR`` at an empty private directory when it
    returns flags that need it, and leaves it alone otherwise."""
    from pyspark.find_spark_home import _find_spark_home  # noqa: PLC0415

    java = jdk_tool("java")
    if java is None or not os.path.isdir("/proc"):
        return ""
    spark_home = _find_spark_home()
    directory = os.path.join(tempfile.gettempdir(), "data_spark-cds")
    if not _private_dir(directory):
        return ""
    conf_dir = os.environ.get("SPARK_CONF_DIR")
    redirect = False
    if conf_dir is None:
        conf_dir = os.path.join(spark_home, "conf")
        names = os.listdir(conf_dir) if os.path.isdir(conf_dir) else []
        if names and all(n.endswith(".template") for n in names):
            # Spark reads no template, so an empty directory is the same
            # configuration without the non-empty classpath directory a
            # dump refuses
            conf_dir, redirect = os.path.join(directory, "conf"), True
            if not _private_dir(conf_dir):
                return ""
    if os.path.isdir(conf_dir) and os.listdir(conf_dir):
        return ""
    key = _archive_key(java, spark_home, conf_dir)
    if key is None:
        return ""
    archive = os.path.join(directory, f"{key}.jsa")
    building = publish_archive(directory, key)
    if os.path.exists(archive):
        options = f"-XX:SharedArchiveFile={archive} {CDS_LOG}"
    elif building:
        return ""  # another JVM is building it; one dump is enough
    else:
        part = os.path.join(directory, f"{key}-{os.getpid()}.part")
        options = f"-XX:ArchiveClassesAtExit={part} {CDS_LOG}"
    if redirect:
        os.environ["SPARK_CONF_DIR"] = conf_dir
    return options


def local_cpus() -> int:
    """Cores for ``local[N]``: ``SPARK_GRAFT_CPUS`` when set, otherwise the
    cores this process may run on (its CPU affinity), so a tool started
    without the variable never oversubscribes the host."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


def get_spark(app_name: str = "data_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Scale notes (100 TB posture):
      - AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
        and dynamic broadcast conversion replace hand-tuned batch sizes the
        reference used (520 s loops / 1000-row batches, BASELINE.md).
      - session timezone pinned to UTC so timestamp semantics are stable and
        match the DuckDB oracle (naive == UTC).
      - Arrow enabled for the pandas-UDF boundaries (simhash, multimodal).

    JIT policy: the driver JVM starts with ``DRIVER_JIT_OPTIONS``,
    HotSpot's Tier-4 (C2) thresholds at 3x the defaults. A run of this
    engine is many short Spark SQL jobs, store commits and stream drains
    over small data, so most of its CPU is Catalyst planning and codegen
    in Spark's own classes, which HotSpot is still warming up when the run
    ends. With the default thresholds the C1/C2 compiler threads burned
    more than half of the driver JVM's CPU on the ``query_mix`` benchmark
    and ~40% on ``incremental_load``, compiling ``org.apache.spark.sql.*``
    methods rather than generated classes. Higher C2 thresholds keep C1
    code for methods that are warm for a while and then go cold, and leave
    C2 to loops and methods that stay hot, which long jobs still reach.
    The cost is that a method waiting for C2 runs slower, fully profiled
    C1 code on the caller's thread, so the multiple is a trade between CPU
    and warm-up latency. At 3x, on a 4-core host, both benchmark
    workloads used ~14% less CPU per operation with every latency median
    and the sf0.1 long-run warm times within run-to-run spread, but the
    test suite, one JVM running hundreds of distinct short code paths,
    took ~19% longer (one run each). At 4x session start-up was slower
    in wall time beyond that spread, and at 10x (for calls) a point
    read's latency rose ~22%. C1 only (``-XX:TieredStopAtLevel=1``) was
    rejected: it cut CPU too but made ``query_mix`` 57% slower in wall
    time (13.9 -> 21.8 s a pass), since planning then never gets C2 code.
    ROADMAP Open item 7 tracks the warm-up latency of this setting.

    Class-data sharing: a new driver JVM also starts with
    ``-XX:SharedArchiveFile`` when a finished dynamic AppCDS archive for
    this JDK and Spark classpath exists, and otherwise with
    ``-XX:ArchiveClassesAtExit``, so that the JVM writes one when it
    exits (:func:`cds_options`). Mapping the archive replaces reading,
    parsing and verifying most of Spark's classes from jars: on a 4-core
    host, after the session start and perfbench's three warm-up jobs,
    classes loaded from jars fell from ~19,850 to ~5,560 (~14,700 now
    come from the archive), class-loading time from 4.4 to 1.3 s and
    verification from 1.2 to 0.06 s; the process tree's CPU over those
    steps (``setup_s`` in ``perfbench``) fell 27-29% and their wall time
    38-41%.
    - Where: ``<tempfile.gettempdir()>/data_spark-cds/<key>.jsa``, about
      150-250 MB. The key hashes the JDK's class image and the paths,
      sizes and mtimes of Spark's jars, which the JVM checks before it
      maps an archive, so an upgrade builds a new archive; publishing
      one deletes the archives of other keys. ``perfbench`` sets
      ``TMPDIR``, so its archive stays under ``.perfbench/``. To clear
      it, delete that directory; the next session builds a new one.
    - Cost: the run whose JVM builds the archive pays 16-19% more CPU
      for its session start (``setup_s`` medians over 10 pairs, single
      pairs up to 24%), 0-5% more per operation, ~1.9 s more start-up
      wall time and 3-10 s more as the JVM exits and writes the
      archive; once per key and temporary directory. So only a caller
      whose temporary directory outlives a run gains: perfbench keeps
      it inside the checkout, tools and tests use ``/tmp``, and a
      caller that starts every run with an empty one pays this cost
      each time. While a live JVM is building an archive, other
      sessions start without sharing rather than build a second.
    - Publishing: the JVM writes to a per-process ``.part`` file, and a
      later ``get_spark`` promotes it with ``os.replace`` once no live
      process names it and its header is written (the JVM writes the
      header last). An archive with an intact header and a truncated
      body aborts every JVM that maps it (SIGABRT, even with
      ``-XX:+VerifySharedSpaces``), so a file is never written or copied
      in place. A garbage file, a zeroed header or another key's archive
      only costs the speed-up: the JVM's default ``-Xshare:auto`` runs
      without it.
    - A dump refuses a non-empty directory on the classpath, and Spark
      puts its conf directory there. When ``SPARK_CONF_DIR`` is unset
      and ``$SPARK_HOME/conf`` holds only ``*.template`` files, which
      Spark never reads, ``SPARK_CONF_DIR`` is pointed at an empty
      directory beside the archives. With a non-empty conf directory
      the JVM starts without sharing, and ``SPARK_CONF_DIR`` stays as
      it was.
    - The archive directory and that conf directory sit under the shared
      temporary directory, so they are created with mode 0700 and used
      only while they are real directories of this user that nobody
      else can write (:func:`_private_dir`); otherwise the JVM starts
      without sharing. A directory another user made first could hold a
      ``spark-env.sh``, which Spark's launcher runs, or an archive, which
      the JVM maps without verifying its classes.
    - ``CDS_LOG`` silences the dump's per-class warnings and keeps its
      errors.
    """
    cpus = local_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", DEFAULT_SHUFFLE_PARTITIONS))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Python DataSource filter pushdown (sources/rest_datasource.py
        # prunes endpoint pages from cursor-column predicates)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if SparkContext._active_spark_context is None:
        # the options of a new JVM; getOrCreate ignores them otherwise
        try:
            cds = cds_options()
        except OSError:  # e.g. a read-only temporary directory
            cds = ""
        java_options = f"{DRIVER_JIT_OPTIONS} {cds}".strip()
        builder = builder.config("spark.driver.extraJavaOptions", java_options)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Driver-held ``rows`` as an Arrow-backed local relation under the
    DDL ``schema``. ``createDataFrame`` of a Python list goes through a
    Python RDD, so every action over it launches a job and a Python
    worker (about 1.1 CPU s per frame on a 4-core host); the Arrow
    table becomes a ``LocalRelation`` that Catalyst folds projections
    into, so a select over it collects with 0 jobs and joins broadcast
    it as is. Rows are checked with the same type verifier the list
    path applies, so a value the schema cannot hold raises instead of
    being coerced."""
    import pyarrow as pa  # noqa: PLC0415
    from pyspark.sql.pandas.types import to_arrow_schema  # noqa: PLC0415
    from pyspark.sql.types import StructType, _make_type_verifier  # noqa: PLC0415

    struct = StructType.fromDDL(schema)
    verify = _make_type_verifier(struct)
    for r in rows:
        verify(r)
    table = pa.Table.from_pylist(
        [dict(zip(struct.names, r)) for r in rows], schema=to_arrow_schema(struct)
    )
    return spark.createDataFrame(table, schema=struct)
