"""SparkSession factory with local + cluster-ready (S3A) profiles.

The reference drives everything through a
``StreamExecutionEnvironment`` (``S3ReadWriteExample.java:16``); our
equivalent is a ``SparkSession`` configured once.  Scale posture:

- AQE on (runtime coalescing, skew-join splitting) so plans tuned at
  sf0.1 survive a 100x scale-up without re-tuning shuffle counts.
- ``spark.sql.shuffle.partitions`` defaults to the local core count;
  on a real cluster AQE's coalescing makes the initial number mostly
  a ceiling, so a few x total-cores is the right cluster setting.
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle and are cluster-location-independent.
- S3A settings are applied only when requested: on a real deployment
  the magic committer removes the rename bottleneck on S3 writes,
  which is the single biggest S3-write scale trap.
- Streaming checkpoints on a local or HDFS path go through Hadoop's
  ``FileSystem`` API (``FileSystemBasedCheckpointFileManager``), not
  Spark's default ``FileContext`` one.  Without the native libhadoop,
  Hadoop's local file system forks shell commands for permissions,
  and ``FileContext`` pays that on every offset, commit and state
  file: a 200-key state commit took about 0.5 s.  The ``FileSystem``
  manager writes a temp file, checks that the target does not exist
  and renames it: the same guarantee as local ``FileContext``, and
  like it no guard against two drivers sharing one checkpoint.  The
  ``s3=True`` profile keeps Spark's default, whose atomicity on an
  object store is the store's to give.
- On a ``local[...]`` master, file listing runs at most ``cpus`` tasks
  (``parallelPartitionDiscovery.parallelism``).  A file-source
  micro-batch re-lists its own new files, and above 32 of them Spark
  lists them in a job with one task per file: 150 tasks for a
  150-file burst on 4 cores.  A cluster master keeps Spark's default
  so that listing at 100 TB stays spread over the executors.
- The local driver heap defaults to min(48g, 3/4 of physical memory);
  ``$SPARK_DRIVER_MEM`` overrides it.
- A driver JVM that ``build_session`` launches starts from a dynamic
  class-data-sharing (CDS) archive of the classes such a JVM loaded
  before (JEP 350): perfbench's session build went from 4.3 s to 2.0 s
  (medians, 4 vCPUs).  The first launch of a setup writes the archive
  when its JVM exits normally (about +1.5-2 s to that build and 3-6 s at
  exit, once per setup); later launches map it.  Archives live in
  ``$XDG_CACHE_HOME/flink_s3_read_write_spark/cds/`` (default
  ``~/.cache``), one per setup (100-220 MB), keyed by the Java
  runtime, the driver class path and the heap size; publishing one
  deletes the others, and deleting the directory clears them all.
  Only the locally launched driver JVM uses an archive, never cluster
  executors.  See ``driver_cds``.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import logging
import os
import re
import shutil
import tempfile
import time
from collections.abc import Iterator
from dataclasses import dataclass

from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

# S3A options that matter at 100 TB; harmless locally but only applied
# for s3 profiles so local tests don't need hadoop-aws on the classpath.
_S3A_CONF = {
    "spark.hadoop.fs.s3a.aws.credentials.provider": (
        "org.apache.hadoop.fs.s3a.auth.IAMInstanceCredentialsProvider,"
        "com.amazonaws.auth.EnvironmentVariableCredentialsProvider"
    ),
    # Magic committer: task commits write directly to the final
    # destination via multipart-upload completion — no O(files) rename
    # storm at job commit (the classic S3 output-committer bottleneck).
    "spark.hadoop.fs.s3a.committer.name": "magic",
    "spark.sql.sources.commitProtocolClass": (
        "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol"
    ),
    "spark.sql.parquet.output.committer.class": (
        "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter"
    ),
    "spark.hadoop.fs.s3a.connection.maximum": "200",
    "spark.hadoop.fs.s3a.fast.upload": "true",
    "spark.hadoop.fs.s3a.block.size": "128M",
    # Vectored / random IO for parquet range reads.
    "spark.hadoop.fs.s3a.experimental.input.fadvise": "random",
}


_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def default_driver_memory() -> str:
    """min(48g, 3/4 of the machine's physical memory), in MiB."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48 * 1024, phys * 3 // 4 >> 20)}m"


def session_conf(
    *,
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    s3: bool = False,
) -> dict[str, str]:
    """The settings ``build_session`` applies before ``extra_conf``.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all local cores.
    ``$SPARK_MASTER``, when set, is the master (a cluster manager);
    otherwise the session runs on ``local[cpus]``.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions or cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.ui.enabled": os.environ.get("SPARK_UI", "false"),
    }
    # Only set local resources when not launched under a cluster manager.
    if "SPARK_MASTER" in os.environ:
        conf["spark.master"] = os.environ["SPARK_MASTER"]
    else:
        conf["spark.master"] = f"local[{cpus}]"
        conf["spark.driver.memory"] = (
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory()
        )
    if conf["spark.master"].startswith("local"):
        conf["spark.sql.sources.parallelPartitionDiscovery.parallelism"] = str(cpus)
    if s3:
        conf.update(_S3A_CONF)
    else:
        conf["spark.sql.streaming.checkpointFileManagerClass"] = _CHECKPOINT_FILE_MANAGER
    return conf


def build_session(
    app_name: str = "flink_s3_read_write_spark",
    *,
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    s3: bool = False,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the engine's SparkSession with
    ``session_conf`` and then ``extra_conf``.

    On a cluster, the caller supplies master/deploy config externally
    (spark-submit, ``$SPARK_MASTER``); everything here is
    master-agnostic except the local[] fallback.
    """
    builder = SparkSession.builder.appName(app_name)
    conf = {
        **session_conf(cpus=cpus, shuffle_partitions=shuffle_partitions, s3=s3),
        **(extra_conf or {}),
    }
    for k, v in conf.items():
        builder = builder.config(k, v)
    with driver_cds(conf) as java_options:
        if java_options:
            # Spark puts these before spark.driver.extraJavaOptions, so
            # the caller's own options are kept.
            builder = builder.config("spark.driver.defaultJavaOptions", java_options)
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# -- Class-data sharing for the driver JVM ------------------------------

# HotSpot's dynamic-archive magic, 0xf00baba8 as the file's first four
# bytes.  HotSpot writes the header last, after every region, so a dump
# that starts with the magic is whole; a killed one is not.
_CDS_MAGIC = (0xF00BABA8).to_bytes(4, "little")
# Archives of one setup that the JVM may reject before sharing stays off
# for it: every rejection costs a new dump at the next exit.
_CDS_MAX_REJECTS = 2


class CdsOff(Exception):
    """Why a driver launch goes without class-data sharing."""


def cds_dir() -> str:
    """Where the archives live: ``$XDG_CACHE_HOME`` (default
    ``~/.cache``)/flink_s3_read_write_spark/cds."""
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    return os.path.join(cache, "flink_s3_read_write_spark", "cds")


def _java_home() -> str:
    """The runtime the Spark launcher starts: ``$JAVA_HOME``, else the
    ``java`` on the path."""
    if os.environ.get("JAVA_HOME"):
        return os.environ["JAVA_HOME"]
    java = shutil.which("java")
    if java is None:
        raise CdsOff("no java on the path")
    return os.path.dirname(os.path.dirname(os.path.realpath(java)))


def _extra_class_path(conf: dict[str, str]) -> list[str]:
    """What the launcher puts on the driver class path besides the conf
    dir and Spark's jars."""
    parts = [conf.get("spark.driver.extraClassPath", "")]
    parts += [os.environ.get(v, "") for v in ("HADOOP_CONF_DIR", "YARN_CONF_DIR",
                                               "SPARK_DIST_CLASSPATH")]
    return [p for p in os.pathsep.join(parts).split(os.pathsep) if p]


def cds_key(conf: dict[str, str], *, spark_home: str, java_home: str) -> str:
    """Name of the archive for one driver setup.

    A JVM maps an archive only if its runtime, its class path and its
    compressed-oops mode (off above a 32 GB heap) match the dump's, so
    the key covers the runtime's class image and VM library, every jar
    the launcher puts on the class path (name, size, mtime), the rest of
    the class path, ``spark.jars``, and the heap size.
    """
    h = hashlib.sha256()
    for rel in ("lib/modules", "lib/server/libjvm.so"):
        path = os.path.realpath(os.path.join(java_home, rel))
        st = os.stat(path)
        h.update(f"{path} {st.st_size} {st.st_mtime_ns}\n".encode())
    jars = sorted(os.scandir(os.path.join(spark_home, "jars")), key=lambda e: e.name)
    for e in jars:
        st = e.stat()
        h.update(f"{e.name} {st.st_size} {st.st_mtime_ns}\n".encode())
    for k in ("spark.driver.memory", "spark.jars"):
        h.update(f"{k}={conf.get(k, '')}\n".encode())
    h.update(os.pathsep.join(_extra_class_path(conf)).encode())
    return h.hexdigest()[:16]


def cds_conf_dir(spark_home: str, cache: str) -> str:
    """The ``SPARK_CONF_DIR`` for a launch with class-data sharing.

    The launcher puts the conf dir on the class path, and a dump refuses
    a non-empty directory there.  A conf dir holding only ``*.template``
    files configures nothing, so the launch uses an empty one in the
    cache instead, the same for the dump and every later use (the
    archive records the class path).  A real file in it turns sharing
    off: the conf dir stays as it is.
    """
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        names = os.listdir(conf_dir)
    except FileNotFoundError:
        names = []
    real = sorted(n for n in names if not n.endswith(".template"))
    if real:
        raise CdsOff(f"{conf_dir} holds {real[0]}")
    empty = os.path.join(cache, "conf")
    os.makedirs(empty, exist_ok=True)
    return empty


def _owner_alive(lock: str) -> bool:
    try:
        with open(lock) as f:
            pid = int(f.read())
    except FileNotFoundError:
        return False
    except ValueError:  # claimed a moment ago, pid not written yet
        return time.time() - os.path.getmtime(lock) < 60
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def claim_dump(lock: str) -> bool:
    """Take the lock of an archive dump: created with ``O_EXCL`` and
    holding the owner's pid.  A lock whose owner is dead is taken over;
    a live one admits no second dumper."""
    for _ in range(2):
        try:
            fd = os.open(lock, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o600)
        except FileExistsError:
            if _owner_alive(lock):
                return False
            with contextlib.suppress(FileNotFoundError):
                os.unlink(lock)
            continue
        with os.fdopen(fd, "w") as f:
            f.write(str(os.getpid()))
        return True
    return False


def _is_whole(path: str, size: int | None = None) -> bool:
    """The file starts with the archive magic and, when given, still
    has the size it was published with.  A JVM that maps a truncated
    archive dies of SIGBUS, so this is checked before every use."""
    with open(path, "rb") as f:
        ok = f.read(4) == _CDS_MAGIC
    return ok and (size is None or os.path.getsize(path) == size)


def _jvm_says(log: str) -> str:
    """The first line of a JVM's CDS log that gives up on an archive."""
    for line in log.splitlines():
        if "UseSharedSpaces:" in line or "][error" in line:
            return re.sub(r"^(\[[^]]*\])+\s*", "", line).strip()
    return "no reason logged"


def _read(path: str) -> str:
    try:
        with open(path, errors="replace") as f:
            return f.read()
    except FileNotFoundError:
        return ""


@dataclass
class _CdsLaunch:
    """One driver launch's use of the archive directory ``cache``: it
    maps ``archive``, or, when that is None, dumps one at exit."""

    cache: str
    key: str
    conf_dir: str = ""
    archive: str | None = None
    log: str = ""

    def path(self, suffix: str) -> str:
        return os.path.join(self.cache, self.key + suffix)

    @classmethod
    def plan(cls, conf: dict[str, str]) -> _CdsLaunch:
        """Publish the last dump, then choose: map this setup's
        archive, or claim its dump.  Raises ``CdsOff`` when the launch
        goes without."""
        from pyspark.find_spark_home import _find_spark_home

        if "spark.driver.defaultJavaOptions" in conf:
            raise CdsOff("the caller sets spark.driver.defaultJavaOptions")
        cache = cds_dir()
        if re.search(r"[\s:,'\"]", cache):
            raise CdsOff(f"{cache}: the JVM's flag syntax cannot carry this path")
        try:
            os.makedirs(cache, mode=0o700, exist_ok=True)
        except OSError as e:
            raise CdsOff(f"cannot create {cache}: {e}") from None
        if not os.access(cache, os.W_OK | os.X_OK):
            raise CdsOff(f"{cache} is not writable")
        spark_home = _find_spark_home()
        launch = cls(cache, cds_key(conf, spark_home=spark_home, java_home=_java_home()))
        launch.conf_dir = cds_conf_dir(spark_home, cache)
        for entry in _extra_class_path(conf):
            if os.path.isdir(entry) and os.listdir(entry):
                # the dump would fail at exit, printing its error on stdout
                raise CdsOff(f"the driver class path holds the directory {entry}")
        launch.settle_dump()
        launch.archive = launch.published()
        if launch.archive:
            fd, launch.log = tempfile.mkstemp(prefix="launch-", suffix=".log", dir=cache)
            os.close(fd)
            return launch
        if launch.rejections() >= _CDS_MAX_REJECTS:
            raise CdsOff(f"{launch.rejections()} archives of this setup were rejected; "
                         f"delete {cache} to try again")
        if not claim_dump(launch.path(".lock")):
            raise CdsOff("another JVM is writing this setup's archive")
        launch.log = launch.path(".part.log")
        return launch

    def java_options(self) -> str:
        if self.archive:
            flag = f"-XX:SharedArchiveFile={self.archive}"
        else:
            flag = f"-XX:ArchiveClassesAtExit={self.path('.part')}"
        # -Xlog's defaults print CDS warnings on stdout, which callers
        # read for results: all CDS logging goes to the file instead.
        return f"{flag} -Xlog:cds*=off -Xlog:cds=info:file={self.log}::filecount=0"

    def launched(self, jvm_pid: int | None) -> None:
        """Log what the launched JVM does with the archive.  A dump's
        lock passes to the JVM, which writes the archive at exit; an
        archive the JVM did not map is deleted."""
        if self.archive is None:
            lock = self.path(".lock")
            if jvm_pid is None:  # the launch failed
                os.unlink(lock)
                return
            tmp = f"{lock}.{os.getpid()}"
            with open(tmp, "w") as f:
                f.write(str(jvm_pid))
            os.replace(tmp, lock)
            _log.info("driver JVM writes class-data archive %s when it exits "
                      "(first launch of this setup)", self.path(".part"))
            return
        log = _read(self.log)
        # A JVM that maps the archive can still unmap it, e.g. when the
        # class path does not match; it then logs why.
        if "Mapped dynamic region" in log and "UseSharedSpaces:" not in log:
            _log.info("driver JVM mapped class-data archive %s", self.archive)
        elif jvm_pid is not None:
            self.reject(self.archive, _jvm_says(log))
        os.unlink(self.log)

    def reject(self, archive: str, why: str) -> None:
        """Delete an archive that cannot be mapped, so that a later exit
        can write a new one, and count the rejection."""
        os.unlink(archive)
        n = self.rejections() + 1
        with open(self.path(".rejected"), "w") as f:
            f.write(str(n))
        _log.warning("class-data archive %s not mapped (%s); removed it", archive, why)

    def rejections(self) -> int:
        try:
            with open(self.path(".rejected")) as f:
                return int(f.read() or 0)
        except (FileNotFoundError, ValueError):
            return 0

    def settle_dump(self) -> None:
        """Publish the last dump once its JVM has exited: whole, it
        becomes this setup's archive and the other setups' archives are
        deleted; killed part-way, it is discarded, never mapped."""
        lock, part = self.path(".lock"), self.path(".part")
        if _owner_alive(lock):
            return
        if os.path.exists(part):
            if _is_whole(part):
                size = os.path.getsize(part)
                archive = self.path(f".{size}.jsa")
                os.replace(part, archive)
                _log.info("published class-data archive %s (%d MB)", archive, size >> 20)
                for old in glob.glob(os.path.join(self.cache, "*.jsa")):
                    if not os.path.basename(old).startswith(self.key + "."):
                        os.unlink(old)
            else:
                os.unlink(part)
                _log.warning("discarded the incomplete class-data archive dump %s (%s)",
                             part, _jvm_says(_read(self.path(".part.log"))))
        for done in (lock, self.path(".part.log")):
            with contextlib.suppress(FileNotFoundError):
                os.unlink(done)

    def published(self) -> str | None:
        """This setup's archive, named ``<key>.<size>.jsa``, if whole."""
        for archive in glob.glob(glob.escape(self.path(".")) + "*.jsa"):
            size = archive.rsplit(".", 2)[1]
            if size.isdigit() and _is_whole(archive, int(size)):
                return archive
            self.reject(archive, "truncated or not an archive")
        return None


@contextlib.contextmanager
def driver_cds(conf: dict[str, str]) -> Iterator[str | None]:
    """JVM options for class-data sharing, for the driver launch inside
    the block (``conf`` is the session's whole conf).

    Yields None when the block launches no JVM (a live gateway, or one
    that ``$PYSPARK_GATEWAY_PORT`` names) or the launch goes without
    sharing; the log says why.  Otherwise ``$SPARK_CONF_DIR`` points at
    ``cds_conf_dir`` for the block, and after it the log says whether
    the JVM mapped the archive or writes one at exit.  Nothing here
    fails a session build: a file-system error only turns sharing off.
    """
    from pyspark import SparkContext

    launch = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:  # noqa: SLF001
        try:
            launch = _CdsLaunch.plan(conf)
        except (CdsOff, OSError) as e:
            _log.info("driver JVM launch without class-data sharing: %s", e)
    if launch is None:
        yield None
        return
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = launch.conf_dir
    try:
        yield launch.java_options()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
        gateway = SparkContext._gateway  # noqa: SLF001
        try:
            launch.launched(gateway.proc.pid if gateway else None)
        except OSError as e:
            _log.warning("class-data sharing: %s", e)


def reset_plan_memos() -> None:
    """Clear the Python-side plan-keyed memos (fan_out split counts,
    IVF centroids, shared-builder DataFrame handles).

    ``spark.catalog.clearCache()`` only unpersists JVM-side cached
    relations; these module dicts live in the driver's Python
    process and would otherwise survive a cache reset (ADVICE r09).
    All are perf-or-recall-only (fan_out: partition-count guard; IVF:
    trained centroids; builder memo: analyzed plan HANDLES, r16 — the
    plans reference paths, not file contents), so clearing is always
    safe and needed only when files under an already-read path were
    rewritten in place mid-session.
    """
    from flink_s3_read_write_spark import sql
    from flink_s3_read_write_spark.operators import similarity
    from flink_s3_read_write_spark.sources import io

    io._FAN_OUT_SPLITS.clear()
    io._BUILDER_MEMO.clear()
    io._TABLE_MEMO.clear()
    sql._VIEWS_REGISTERED.clear()
    similarity._IVF_CENTROIDS.clear()


def release_shared_builders(spark: SparkSession) -> None:
    """Release every session-lifetime shared materialization at once.

    The shared builders (doc_tokens / doc_shingle_sets /
    doc_token_sets / doc_simhash / minhash_candidates /
    ring_candidates / ring_verify_scores / star2_candidates in
    queries_llmdata,
    customer_parts / basket_po / basket_pairs / purchase_edges in
    queries_graph)
    ``.cache()`` per call and rely on the plan-keyed CacheManager to
    dedupe — they deliberately have no per-builder unpersist, because
    mid-session eviction would silently double-execute every
    downstream consumer.  This helper is the callable form of the
    cache-lifetime contract (queries_llmdata NOTE): a long-lived
    session that walks many sf_dirs calls it between dirs, dropping
    JVM cache storage to zero AND resetting the Python-side memos
    that ``clearCache()`` cannot see.  Builders lazily re-materialize
    on next use, so this is always safe.
    """
    spark.catalog.clearCache()
    reset_plan_memos()
