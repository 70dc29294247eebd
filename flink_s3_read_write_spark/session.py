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
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

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
    conf = session_conf(cpus=cpus, shuffle_partitions=shuffle_partitions, s3=s3)
    for k, v in {**conf, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


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
