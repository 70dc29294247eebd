"""Structured Streaming twins of the reference's three jobs, plus
event-time windowed aggregation with watermarking.

Reference mapping (SURVEY.md §2.1, §2.3.1):

- ``uppercase_stream``     — job 1 (`S3ReadWriteExample.java:22-40`):
  unbounded text-file source → uppercase → rolling file sink.
- ``filter_exclude_stream``— job 2 (`S3FlinkFilterJacksonville.java:31-51`):
  raw CSV lines → split → positional filter (header leaks) → rejoin.
- ``avg_by_key_update_stream`` — job 3
  (`S3FlinkAverageSalaryByCity.java:28-48`): the Flink unwindowed
  keyed rolling reduce emits an updated aggregate per input record;
  the Spark-native equivalent is an unwindowed streaming groupBy in
  ``update`` output mode — per micro-batch, every changed key is
  re-emitted.  Final state equals the batch answer
  (tests/test_streaming.py asserts this).
- ``windowed_counts_stream`` — event-time tumbling windows with a
  watermark: the watermark bounds state (windows older than
  max_event_time - delay are finalized and dropped from the store) and
  drops late data, which is what makes unbounded streams tractable at
  100 TB/day ingest.  ABSENT from the reference (processing-time
  only); mandated extension.

All transformations are the *same functions* used by the batch
queries — a DataFrame transform doesn't know whether its input is
bounded.  That is the engine's batch/streaming unification story:
write once, run either way.

Checkpointing: every sink in this module requires a
``checkpointLocation``; Spark's file sink commits files through the
checkpoint manifest, giving exactly-once output — strictly stronger
than the reference, which never calls ``enableCheckpointing`` and is
at-most-once on restart (SURVEY.md §2.2).
"""

from __future__ import annotations

from py4j.protocol import Py4JError, Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_s3_read_write_spark.operators import raw_text
from flink_s3_read_write_spark.functions.numeric import davg
from flink_s3_read_write_spark.sources.io import read_text_lines


def uppercase_stream(spark: SparkSession, in_path: str) -> DataFrame:
    """Job-1 twin: unbounded text source → uppercase."""
    return raw_text.uppercase_lines(read_text_lines(spark, in_path, streaming=True))


def filter_exclude_stream(
    spark: SparkSession, in_path: str, city: str = "Jacksonville"
) -> DataFrame:
    """Job-2 twin: split(',') → filter city (header passes) → rejoin."""
    lines = read_text_lines(spark, in_path, streaming=True)
    toks = raw_text.tokenize_csv(lines)
    return raw_text.rejoin_csv(raw_text.filter_excluding_city(toks, city))


def avg_by_key_update_stream(
    spark: SparkSession, in_path: str, city: str = "Jacksonville"
) -> DataFrame:
    """Job-3 twin: full chain to an unwindowed keyed aggregate.

    Run with ``outputMode("update")`` to reproduce the Flink rolling
    reduce's emission pattern (changed keys re-emitted per batch).
    """
    lines = read_text_lines(spark, in_path, streaming=True)
    toks = raw_text.tokenize_csv(lines)
    kept = raw_text.filter_excluding_city(toks, city, drop_header=True)
    typed = raw_text.extract_city_salary(kept)
    return raw_text.avg_salary_by_city(typed)


def events_stream(
    spark: SparkSession,
    in_path: str,
    max_files_per_trigger: int | None = None,
    nanos_ts: bool = False,
) -> DataFrame:
    """Unbounded parquet source with the events schema.

    ``max_files_per_trigger`` is the file source's backpressure knob:
    it bounds how much a micro-batch ingests, which at scale is what
    keeps state updates, shuffle sizes and checkpoint latency flat
    when a backlog (or a bulk backfill) lands in the source directory.

    ``nanos_ts=True`` reads the driver's nanosecond-timestamp events
    parquet (same int64-nanos handling as ``sources.io.load_table``);
    the default expects standard micros timestamps (e.g. files written
    by this engine's own sinks).
    """
    if nanos_ts:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        schema = (
            "event_id bigint, ts bigint, user_id bigint, "
            "event_type string, value double, props string"
        )
    else:
        schema = (
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string"
        )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(in_path)
    if nanos_ts:
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def windowed_counts_stream(
    events: DataFrame, width: str = "10 minutes", delay: str = "5 minutes"
) -> DataFrame:
    """Tumbling event-time windows with a watermark.

    ``append`` mode emits a window only once the watermark passes its
    end (finalized); events later than the watermark are dropped and
    never perturb an emitted window.  State per key/window is purged on
    finalization — bounded memory on unbounded input.
    """
    return (
        events.withWatermark("ts", delay)
        .groupBy(F.window("ts", width).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), davg("value", "avg_value"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            "n_events",
            "avg_value",
        )
    )


def cms_cells_stream(spark: SparkSession, in_path: str) -> DataFrame:
    """Streaming count-min sketch build: unbounded text source →
    whitespace tokens → the (r, bucket) cell grid as an update-mode
    aggregate.

    The aggregate's state is depth×width cells (2048) REGARDLESS of
    how many tokens stream through — the sketch is the state, which
    is exactly why CMS (not an exact token count, whose state grows
    with the vocabulary) is the streaming-native frequency summary.
    CMS additivity makes the final state equal the batch build over
    the same lines (equivalence test in tests/test_streaming.py).
    """
    from flink_s3_read_write_spark.operators.cms import cms_cells_from_tokens

    lines = read_text_lines(spark, in_path, streaming=True)
    tok = lines.select(
        F.explode(F.split(F.trim(F.col("value")), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    return cms_cells_from_tokens(tok)


def moments_by_key_stream(events: DataFrame, key: str = "event_type") -> DataFrame:
    """Streaming twin of the batch moment aggregates (q176/q88
    discipline): per-key (n, sum, sum-of-squares) carried as exact
    DECIMAL partials in an unwindowed update-mode aggregate.

    Moments are the *mergeable* form of mean/stddev/z-score — each
    micro-batch folds in map-side partials, state is one row per key,
    and mean/std finish per emission, so a 100 TB/day telemetry
    stream keeps anomaly baselines with key-count-bounded state.
    Final state equals the batch aggregate over the same input
    (equivalence test).
    """
    v = F.col("value").cast("decimal(20,6)")
    return events.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).cast("decimal(30,6)").alias("sx"),
        F.sum(v * v).cast("decimal(38,6)").alias("sxx"),
    )


def ohlc_bars_stream(
    events: DataFrame, width: str = "1 day", delay: str = "1 hour"
) -> DataFrame:
    """Streaming OHLC candle bars: per (event_type, event-time window)
    open/high/low/close/volume, the market-data reduction of q168 as a
    watermarked tumbling-window aggregate.

    ``min_by``/``max_by`` over (ts, event_id) give the first/last
    value with a TOTAL tie order, so emissions are deterministic;
    high/low/count are plain mergeable aggregates.  In append mode a
    bar emits once, when the watermark passes its window end —
    finalized candles only, which is what a downstream ticker store
    wants; state for closed windows is purged (bounded memory on an
    unbounded feed).  Final state equals the batch q168 shape over
    the same input (equivalence test)."""
    ord_ = F.struct(F.col("ts"), F.col("event_id"))
    return (
        events.withWatermark("ts", delay)
        .groupBy(F.window("ts", width).alias("w"), F.col("event_type"))
        .agg(
            F.min_by("value", ord_).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", ord_).alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.col("w.start").alias("bar_start"),
            "event_type", "open", "high", "low", "close", "n",
        )
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    bound: str = "10 minutes",
    delay: str = "5 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi-join with a time-interval condition:
    right.ts ∈ [left.ts − bound, left.ts + bound] per key.

    Both sides carry watermarks; the interval condition is what lets
    Spark purge join state (a buffered left row can stop waiting once
    the right watermark passes left.ts + bound) — without it a
    stream-stream inner join would buffer forever.  ABSENT from the
    reference (no join of any kind); this is the streaming member of
    the engine's join family (batch range join: q24; as-of: q25).

    ``how='left_outer'`` emits unmatched left rows with NULL right
    columns — but only once the right watermark has passed the row's
    match window (the engine must prove no future match can arrive),
    so outer results trail the watermark by ``bound + delay``.
    """
    l = left.withWatermark("ts", delay).select(
        F.col(key).alias("l_key"),
        F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_id"),
    )
    r = right.withWatermark("ts", delay).select(
        F.col(key).alias("r_key"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_id"),
    )
    return l.join(
        r,
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr(f"INTERVAL {bound}"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {bound}")),
        how,
    )


def start_memory_sink(df: DataFrame, name: str, mode: str, *, follow: bool = False):
    """Test harness sink: results to an in-memory table ``name``.

    Default is a one-shot ``availableNow`` drain (the query TERMINATES
    once the start-time backlog is processed — files appended later are
    never read).  ``follow=True`` keeps the query live on a micro-batch
    trigger so tests can append source files across batches (watermark
    advancement, outer-join flushes, state eviction).
    """
    w = df.writeStream.format("memory").queryName(name).outputMode(mode)
    if not follow:
        w = w.trigger(availableNow=True)
    return w.start()


def start_materialized_view(
    agg: DataFrame,
    path: str,
    checkpoint: str,
    *,
    fmt: str = "parquet",
    trigger_seconds: int | None = None,
):
    """foreachBatch sink: maintain a queryable "materialized view" of a
    streaming aggregate, replaced per micro-batch.

    This is the standard pattern when the target needs full-state
    semantics (dashboards, serving tables) but the sink format has no
    native upsert: ``complete`` output mode hands every batch the whole
    aggregate state; foreachBatch rewrites the view.  Each batch writes
    to a side directory first and is swapped in with a filesystem
    rename, so the reader-visible window of inconsistency is the
    rename, not the whole write — but plain parquet directories have
    no snapshot isolation; a serving deployment would MERGE INTO a
    lakehouse table (Delta/Iceberg) from this same foreachBatch hook.

    ``trigger_seconds=None`` runs availableNow (drain the backlog and
    stop — batch-refresh semantics); a value runs continuously on that
    processing-time cadence.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        tmp = f"{path}__tmp_{batch_id}"
        batch_df.write.mode("overwrite").format(fmt).save(tmp)
        jvm = spark.sparkContext._jvm
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        dst = jvm.org.apache.hadoop.fs.Path(path)
        src = jvm.org.apache.hadoop.fs.Path(tmp)
        fs = dst.getFileSystem(hconf)
        if fs.exists(dst):
            fs.delete(dst, True)
        fs.rename(src, dst)

    writer = (
        agg.writeStream.foreachBatch(write_batch)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint)
    )
    if trigger_seconds is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def cooccurrence_stream(spark: SparkSession, in_path: str) -> DataFrame:
    """Streaming skip-gram co-occurrence build: unbounded text source
    (one document per line) → normalized tokens → the same
    ``skipgram_pairs`` HOF as batch q202 → update-mode counts keyed by
    (center, context).

    Counts are trivially mergeable, so each micro-batch folds map-side
    partials into state that is bounded by vocab² PAIRS, never by
    corpus size — the co-occurrence matrix for a downstream embedding
    factorization stays continuously fresh while the text stream runs.
    Final state equals the batch build over the same lines
    (equivalence test in tests/test_streaming.py)."""
    from flink_s3_read_write_spark.operators.dedup import tokens
    from flink_s3_read_write_spark.operators.textstats import skipgram_pairs

    lines = read_text_lines(spark, in_path, streaming=True)
    w = lines.select(tokens(F.col("value")).alias("w"))
    pairs = skipgram_pairs(F.col("w"), window=2)
    return (
        w.filter(F.size("w") >= 2)
        .select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.center").alias("center"), F.col("p.context").alias("context"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("p.adj").alias("n_adjacent"))
    )


# ---------------------------------------------------------------------------
# Exactly-once streaming upsert into a JDBC table (round 8).
# ---------------------------------------------------------------------------

_JDBC_TYPES = {
    "string": "VARCHAR(1024)",
    "bigint": "BIGINT",
    "int": "INTEGER",
    "double": "DOUBLE",
    "boolean": "BOOLEAN",
    "timestamp": "TIMESTAMP",
}


def _sql_state(e: Py4JJavaError) -> str | None:
    """The SQLState of a JDBC error raised through py4j; None when the
    Java exception is not a ``java.sql.SQLException``."""
    try:
        return e.java_exception.getSQLState()
    except Py4JError:
        return None


def _create_sink_tables(conn, table: str, schema: list[tuple[str, str]],
                        key_cols: list[str]) -> None:
    """Create the upsert target and its epochs ledger if absent (Derby
    has no IF NOT EXISTS; SQLState X0Y32, object already exists, is
    swallowed)."""
    cols = ", ".join(f"{c} {_JDBC_TYPES[t]}" for c, t in schema)
    pk = ", ".join(key_cols)
    for ddl in (
        f"CREATE TABLE {table} ({cols}, PRIMARY KEY ({pk}))",
        f"CREATE TABLE {table}_EPOCHS (batch_id BIGINT PRIMARY KEY)",
    ):
        st = conn.createStatement()
        try:
            st.executeUpdate(ddl)
        except Py4JJavaError as e:
            if _sql_state(e) != "X0Y32":
                raise
        finally:
            st.close()


def jdbc_upsert_writer(
    url: str,
    table: str,
    key_cols: list[str],
    *,
    properties: dict[str, str] | None = None,
):
    """Build the ``foreachBatch`` handler that MERGEs each micro-batch
    into JDBC table ``table`` with EXACTLY-ONCE semantics.

    This is the q201 MERGE lowering (queries_sql.py) turned into a
    streaming sink.  Structured Streaming's contract is at-least-once
    delivery into foreachBatch — after a crash between sink write and
    checkpoint commit, the SAME (batch_id, data) is redelivered — so
    exactly-once must come from an idempotent, transactional apply:

    1. the batch lands DISTRIBUTED into a staging table
       (``<table>_STAGE``, overwritten — re-runnable by construction;
       each executor task writes its own partition, so the wide work
       never funnels through the driver).  A writer's first batch
       drops and re-creates the stage; later ones truncate it, and
       the target and ledger DDL runs once per writer;
    2. ONE driver-side transaction then (a) inserts ``batch_id`` into
       the ``<table>_EPOCHS`` ledger, whose PRIMARY KEY makes a
       replayed batch fail the insert and skip cleanly, and (b) runs
       ``MERGE INTO table USING stage`` (UPDATE on key match, INSERT
       otherwise).  Ledger insert and MERGE commit or roll back
       TOGETHER, which is the whole exactly-once argument: a batch's
       effects become visible iff its epoch is recorded, and a
       recorded epoch is never applied twice.

    The stream feeding this should be a keyed aggregate in ``update``
    output mode, so each micro-batch carries only CHANGED keys —
    serving-table-sized, not corpus-sized.  At 100 TB the same
    handler MERGEs into a lakehouse table (Delta/Iceberg) instead of
    JDBC with the staging leg unchanged.
    """
    from flink_s3_read_write_spark.sources.io import write_jdbc

    stage = f"{table}_STAGE"
    # Per-writer DDL state.  The first batch re-creates the stage, whose
    # schema may have changed since an earlier writer; later batches of
    # this writer share the schema and only empty it.
    tables_ready = stage_ready = False

    def _connect(spark: SparkSession):
        jvm = spark.sparkContext._jvm  # noqa: SLF001
        return jvm.java.sql.DriverManager.getConnection(url)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal tables_ready, stage_ready
        spark = batch_df.sparkSession
        schema = [(c, t) for c, t in batch_df.dtypes]
        bad = [f"{c}:{t}" for c, t in schema if t not in _JDBC_TYPES]
        if bad:
            raise TypeError(f"jdbc_upsert_writer: unmapped column types {bad}")
        if not tables_ready:
            conn = _connect(spark)
            try:
                _create_sink_tables(conn, table, schema, key_cols)
            finally:
                conn.close()
            tables_ready = True
        # Leg 1 — distributed, re-runnable: stage the batch.  Pin the
        # staging column types: Spark's Derby dialect maps StringType
        # to CLOB, which Derby refuses to equality-compare in the
        # MERGE's ON clause.
        stage_props = dict(properties or {})
        stage_props["createTableColumnTypes"] = ", ".join(
            f"{c} {_JDBC_TYPES[t]}" for c, t in schema
        )
        if stage_ready:
            stage_props["truncate"] = "true"
        write_jdbc(batch_df, url, stage, mode="overwrite",
                   properties=stage_props)
        stage_ready = True
        # Leg 2 — one atomic driver transaction: ledger + MERGE.
        non_keys = [c for c, _ in schema if c not in key_cols]
        # Stage columns must be double-quoted: Spark's JDBC writer
        # creates them as case-sensitive quoted identifiers, so the
        # unquoted (Derby-uppercased) form would not resolve.  The
        # target/ledger we created ourselves unquoted.
        on = " AND ".join(f't.{k} = s."{k}"' for k in key_cols)
        sets = ", ".join(f'{c} = s."{c}"' for c in non_keys)
        cols = ", ".join(c for c, _ in schema)
        vals = ", ".join(f's."{c}"' for c, _ in schema)
        merge = (
            f"MERGE INTO {table} t USING {stage} s ON {on} "
            f"WHEN MATCHED THEN UPDATE SET {sets} "
            f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})"
        )
        conn = _connect(spark)
        try:
            conn.setAutoCommit(False)
            st = conn.createStatement()
            try:
                try:
                    st.executeUpdate(
                        f"INSERT INTO {table}_EPOCHS (batch_id) VALUES ({int(batch_id)})"
                    )
                except Py4JJavaError as e:
                    # Duplicate epoch (SQLState 23505): this batch
                    # already committed — a checkpoint-replay
                    # redelivery.  Skip without touching the table.
                    conn.rollback()
                    if _sql_state(e) == "23505":
                        return
                    raise
                st.executeUpdate(merge)
                conn.commit()
            except Exception:
                try:
                    conn.rollback()  # Derby refuses close() mid-txn
                except Exception:  # noqa: BLE001
                    pass
                raise
            finally:
                st.close()
        finally:
            conn.close()

    return write_batch


def start_jdbc_upsert_sink(
    updates: DataFrame,
    url: str,
    table: str,
    key_cols: list[str],
    checkpoint: str,
    *,
    properties: dict[str, str] | None = None,
    trigger_seconds: int | None = None,
):
    """Exactly-once streaming upsert: ``update``-mode keyed aggregate →
    ``jdbc_upsert_writer`` foreachBatch (staging + ledgered MERGE).

    ``trigger_seconds=None`` drains availableNow (restartable batch
    refresh); a value runs continuously on that cadence.
    """
    writer = (
        updates.writeStream
        .foreachBatch(jdbc_upsert_writer(url, table, key_cols, properties=properties))
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
    )
    if trigger_seconds is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
