"""Structured Streaming tests (streaming/jobs.py): the reference jobs'
streaming twins reach the same final state as batch, update-mode
re-emission works, and the watermark drops late data (SURVEY.md
§2.3.1, §7.2 steps 3+5)."""

from __future__ import annotations

import time
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from flink_s3_read_write_spark.operators import raw_text, windows as W
from flink_s3_read_write_spark.streaming import jobs
from tests.conftest import SF0001, salary_lines


@pytest.fixture(scope="module")
def sf_dir() -> str:
    """Module-scoped override of conftest's fixture: every
    corpus-driven test in THIS file is a stream-vs-batch equivalence
    (data-agnostic), so the randomized differential tier can point it
    at an adversarial corpus — ``SPARK_GRAFT_TEST_SF_DIR=<fuzz seed
    dir> pytest tests/test_streaming.py`` (r13; recorded in
    SCALE.md).  Golden-value tests elsewhere keep the deterministic
    sf0.001 corpus regardless of the env var."""
    import os

    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", SF0001)


def write_lines(spark, path: str, lines: list[str], name: str) -> None:
    spark.createDataFrame([(l,) for l in lines], "value string").coalesce(1).write.mode(
        "append"
    ).text(path)


def wait_for(predicate, timeout_s: float = 60.0) -> None:
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if predicate():
            return
        time.sleep(0.5)
    raise AssertionError("condition not reached within timeout")


def test_uppercase_stream_matches_batch(spark, tmp_path):
    src = str(tmp_path / "in")
    write_lines(spark, src, ["hello", "World", "123"], "u")
    q = jobs.start_memory_sink(jobs.uppercase_stream(spark, src), "t_upper", "append")
    try:
        q.processAllAvailable()
        got = sorted(r["value"] for r in spark.table("t_upper").collect())
        assert got == ["123", "HELLO", "WORLD"]
    finally:
        q.stop()


def test_filter_exclude_stream_header_leaks(spark, tmp_path):
    src = str(tmp_path / "in")
    write_lines(spark, src, salary_lines(), "f")
    q = jobs.start_memory_sink(
        jobs.filter_exclude_stream(spark, src), "t_filter", "append"
    )
    try:
        q.processAllAvailable()
        got = [r["value"] for r in spark.table("t_filter").collect()]
        assert len(got) == 100  # header + 99 rows, Jacksonville dropped
        assert "ID,Name,Age,City,Salary" in got
    finally:
        q.stop()


def test_avg_update_stream_final_state_matches_batch(spark, tmp_path):
    """Job-3 twin: update mode re-emits changed keys per micro-batch;
    the latest row per key must equal the batch final answer."""
    src = str(tmp_path / "in")
    half = salary_lines()[:60]
    write_lines(spark, src, half, "a1")
    sdf = jobs.avg_by_key_update_stream(spark, src)
    q = (
        sdf.writeStream.format("memory").queryName("t_avg").outputMode("complete").start()
    )
    try:
        q.processAllAvailable()
        # second file arrives -> stream picks it up incrementally
        write_lines(spark, src, salary_lines()[60:], "a2")
        q.processAllAvailable()
        stream_state = {
            r["city"]: (r["avg_salary"], r["cnt"])
            for r in spark.table("t_avg").collect()
        }
        batch_raw = spark.createDataFrame([(l,) for l in salary_lines()], "value string")
        toks = raw_text.tokenize_csv(batch_raw)
        kept = raw_text.filter_excluding_city(toks, "Jacksonville", drop_header=True)
        batch_state = {
            r["city"]: (r["avg_salary"], r["cnt"])
            for r in raw_text.avg_salary_by_city(
                raw_text.extract_city_salary(kept)
            ).collect()
        }
        assert stream_state == batch_state
        assert len(stream_state) == 99
    finally:
        q.stop()


def test_windowed_stream_drops_late_data(spark, tmp_path):
    """Append mode + watermark: a window is emitted once finalized and
    an event later than the watermark never perturbs it."""
    src = str(tmp_path / "ev")
    t0 = datetime(2024, 1, 1, 10, 0, 0)

    def ev(minutes: float, etype: str = "click", val: float = 1.0):
        return (int(minutes * 100), t0 + timedelta(minutes=minutes), 1, etype, val, "{}")

    schema = (
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    batch1 = [ev(1.0), ev(2.0), ev(12.0), ev(29.0)]
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode("append").parquet(src)
    stream = jobs.windowed_counts_stream(
        jobs.events_stream(spark, src), width="10 minutes", delay="5 minutes"
    )
    q = stream.writeStream.format("memory").queryName("t_win").outputMode("append").start()
    try:
        q.processAllAvailable()
        # batch1 max ts = 10:29 -> watermark 10:24 -> windows ending
        # <= 10:24 finalize: [10:00,10:10) with 2 events, [10:10,10:20) with 1.
        wait_for(lambda: spark.table("t_win").count() >= 2)
        first = {
            (r["w_start"].minute, r["n_events"]) for r in spark.table("t_win").collect()
        }
        assert (0, 2) in first and (10, 1) in first
        # batch2: a LATE event at 10:03 (behind the 10:24 watermark ->
        # dropped) plus fresh events advancing the watermark past 10:40.
        batch2 = [ev(3.0, val=99.0), ev(55.0), ev(58.0)]
        spark.createDataFrame(batch2, schema).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        wait_for(lambda: spark.table("t_win").count() >= 3)
        final = {r["w_start"].minute: r["n_events"] for r in spark.table("t_win").collect()}
        assert final[0] == 2, "late event must not change the finalized window"
        assert final[20] == 1  # the 10:29 event's window finalized by batch2
    finally:
        q.stop()


def test_batch_streaming_unification_window_fn(spark, sf_dir):
    """The same windows.tumbling_agg function used by the streaming
    twin produces the oracle-checked batch result — one code path."""
    from flink_s3_read_write_spark.sources.io import load_table

    out = W.tumbling_agg(load_table(spark, sf_dir, "events"), width="6 hours")
    assert out.columns == ["w_start", "w_end", "event_type", "n_events", "sum_value"]
    assert out.count() > 0


def test_apply_in_pandas_with_state_accumulates(spark, tmp_path):
    """Custom per-key state survives micro-batches: totals after two
    batches equal the batch aggregate over all data."""
    from flink_s3_read_write_spark.streaming import stateful

    src = str(tmp_path / "st")
    schema = (
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    t0 = datetime(2024, 1, 1)

    def rows(vals, etype):
        return [(i, t0, 1, etype, float(v), "{}") for i, v in enumerate(vals)]

    spark.createDataFrame(rows([1, 2, 3], "a") + rows([10], "b"), schema) \
        .coalesce(1).write.mode("append").parquet(src)
    stream = stateful.running_stats_stream(jobs.events_stream(spark, src))
    q = stream.writeStream.format("memory").queryName("t_state").outputMode("update").start()
    try:
        q.processAllAvailable()
        spark.createDataFrame(rows([4], "a"), schema).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        # update mode appends one row per key per batch; last row per key wins
        hist = spark.table("t_state").collect()
        last = {}
        for r in hist:
            last[r["key"]] = (r["n_events"], r["total"], r["peak"])
        assert last["a"] == (4, 10.0, 4.0)   # state crossed the batch boundary
        assert last["b"] == (1, 10.0, 10.0)
        assert any(r["key"] == "a" and r["n_events"] == 3 for r in hist)  # batch-1 emission
    finally:
        q.stop()


def test_streaming_dedup_drops_redelivery(spark, tmp_path):
    from flink_s3_read_write_spark.streaming import stateful

    src = str(tmp_path / "dd")
    schema = (
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    t0 = datetime(2024, 1, 1, 10, 0, 0)
    b1 = [(1, t0, 1, "click", 1.0, "{}"), (1, t0, 1, "click", 1.0, "{}"),
          (2, t0 + timedelta(minutes=1), 1, "view", 2.0, "{}")]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)
    stream = stateful.streaming_dedup(jobs.events_stream(spark, src), ["event_id"])
    q = stream.writeStream.format("memory").queryName("t_dedup").outputMode("append").start()
    try:
        q.processAllAvailable()
        # batch 2: event_id=1 re-delivered within the watermark -> dropped
        b2 = [(1, t0 + timedelta(minutes=2), 1, "click", 1.0, "{}"),
              (3, t0 + timedelta(minutes=3), 1, "buy", 3.0, "{}")]
        spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        ids = sorted(r["event_id"] for r in spark.table("t_dedup").collect())
        assert ids == [1, 2, 3]              # the duplicate 1s collapsed
    finally:
        q.stop()


def test_stream_stream_interval_join(spark, tmp_path):
    srcl, srcr = str(tmp_path / "l"), str(tmp_path / "r")
    schema = (
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    t0 = datetime(2024, 1, 1, 10, 0, 0)

    def ev(eid, minutes, uid):
        return (eid, t0 + timedelta(minutes=minutes), uid, "x", 1.0, "{}")

    spark.createDataFrame([ev(1, 0, 7), ev(2, 30, 7)], schema).coalesce(1).write.parquet(srcl)
    spark.createDataFrame([ev(101, 5, 7), ev(102, 25, 7), ev(103, 5, 8)], schema) \
        .coalesce(1).write.parquet(srcr)
    joined = jobs.interval_join_streams(
        jobs.events_stream(spark, srcl), jobs.events_stream(spark, srcr), bound="10 minutes"
    )
    q = jobs.start_memory_sink(joined, "t_ssj", "append")
    try:
        q.processAllAvailable()
        got = {(r["l_id"], r["r_id"]) for r in spark.table("t_ssj").collect()}
        # l1(10:00) matches r101(10:05) only; l2(10:30) matches r102(10:25);
        # r103 is another user; r102 is 25min from l1 -> outside bound
        assert got == {(1, 101), (2, 102)}
    finally:
        q.stop()


def test_foreach_batch_materialized_view(spark, tmp_path):
    """foreachBatch maintains a parquet 'materialized view' equal to
    the streaming aggregate's full state after each batch."""
    src = str(tmp_path / "mv_in")
    out = str(tmp_path / "mv_out")
    ckpt = str(tmp_path / "mv_ckpt")
    write_lines(spark, src, salary_lines(), "m1")
    agg = jobs.avg_by_key_update_stream(spark, src)
    q = jobs.start_materialized_view(agg, out, ckpt)
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    view = spark.read.parquet(out)
    assert view.count() == 99
    assert set(view.columns) == {"city", "avg_salary", "cnt"}


def test_streaming_session_window(spark, tmp_path):
    """session_window works on an unbounded stream with watermark:
    bursts separated by > gap become separate finalized sessions."""
    from flink_s3_read_write_spark.operators import windows as W

    src = str(tmp_path / "sess")
    schema = (
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    t0 = datetime(2024, 1, 1, 9, 0, 0)

    def ev(eid, minutes):
        return (eid, t0 + timedelta(minutes=minutes), 7, "x", 1.0, "{}")

    # burst A (9:00-9:02), burst B (9:30), then a far-future event to
    # push the watermark past both sessions
    rows = [ev(1, 0), ev(2, 1), ev(3, 2), ev(4, 30), ev(5, 300)]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    stream = W.session_agg(
        jobs.events_stream(spark, src).withWatermark("ts", "1 minute"),
        gap="10 minutes", key="user_id",
    )
    q = stream.writeStream.format("memory").queryName("t_sess").outputMode("append").start()
    try:
        q.processAllAvailable()
        wait_for(lambda: spark.table("t_sess").count() >= 2)
        sessions = {
            (r["s_start"].minute, r["n_events"]) for r in spark.table("t_sess").collect()
        }
        assert (0, 3) in sessions   # burst A merged into one session
        assert (30, 1) in sessions  # burst B separate (gap > 10 min)
    finally:
        q.stop()


def test_stream_static_enrichment_join(spark, sf_dir, tmp_path):
    """Stream-static join: an unbounded stream enriched against a
    static dimension — the dim is re-readable per batch, no watermark
    needed on the static side; plan uses a broadcast per micro-batch."""
    from flink_s3_read_write_spark.sources.io import load_table

    src = str(tmp_path / "enr")
    schema = (
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    t0 = datetime(2024, 1, 1)
    spark.createDataFrame(
        [(1, t0, 0, "click", 1.0, "{}"), (2, t0, 1, "view", 2.0, "{}")], schema
    ).coalesce(1).write.parquet(src)
    dim = load_table(spark, sf_dir, "nation").selectExpr(
        "CAST(n_nationkey AS BIGINT) AS user_id", "n_name"
    )
    joined = jobs.events_stream(spark, src).join(F.broadcast(dim), "user_id", "left")
    q = jobs.start_memory_sink(joined.select("event_id", "n_name"), "t_enrich", "append")
    try:
        q.processAllAvailable()
        got = {r["event_id"]: r["n_name"] for r in spark.table("t_enrich").collect()}
        assert len(got) == 2 and all(v is not None for v in got.values())
    finally:
        q.stop()


def test_transform_with_state_running_stats(spark, tmp_path):
    # transformWithStateInPandas speaks a protobuf protocol to its
    # state server; gate on the lib like the imaging stubs (the
    # operator itself is plain DataFrame API and imports fine).
    # importorskip SELF-HEALS: the moment the container gains
    # protobuf this test runs with no code change (279/279).
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithStateInPandas's state server speaks protobuf; "
               "absent in this container — test auto-enables when it appears",
    )
    from flink_s3_read_write_spark.streaming import stateful

    src = str(tmp_path / "tws")
    schema = (
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )

    def rows(vals, etype):
        t0 = datetime(2024, 1, 1)
        return [(i, t0, 1, etype, float(v), "{}") for i, v in enumerate(vals)]

    spark.createDataFrame(rows([1, 2, 3], "a") + rows([10], "b"), schema) \
        .coalesce(1).write.mode("append").parquet(src)
    stream = stateful.running_stats_stream_tws(jobs.events_stream(spark, src))
    q = stream.writeStream.format("memory").queryName("t_tws").outputMode("update").start()
    try:
        q.processAllAvailable()
        spark.createDataFrame(rows([4], "a"), schema).coalesce(1) \
            .write.mode("append").parquet(src)
        q.processAllAvailable()
        hist = spark.table("t_tws").collect()
        last = {}
        for r in hist:
            last[r["key"]] = (r["n_events"], r["total"], r["peak"])
        assert last["a"] == (4, 10.0, 4.0)  # ValueState crossed the batch boundary
        assert last["b"] == (1, 10.0, 10.0)
    finally:
        q.stop()


def test_stream_stream_left_outer_join(spark, tmp_path):
    """Unmatched left rows emit NULL right columns once the right
    watermark proves no in-window match can still arrive."""
    srcl, srcr = str(tmp_path / "lo_l"), str(tmp_path / "lo_r")
    schema = (
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    t0 = datetime(2024, 1, 1, 10, 0, 0)

    def ev(eid, minutes, uid):
        return (eid, t0 + timedelta(minutes=minutes), uid, "x", 1.0, "{}")

    # l1 matches r101; l2 (user 9) has no right-side event at all.
    spark.createDataFrame([ev(1, 0, 7), ev(2, 0, 9)], schema).coalesce(1).write.parquet(srcl)
    spark.createDataFrame([ev(101, 5, 7)], schema).coalesce(1).write.parquet(srcr)
    joined = jobs.interval_join_streams(
        jobs.events_stream(spark, srcl),
        jobs.events_stream(spark, srcr),
        bound="10 minutes",
        delay="5 minutes",
        how="left_outer",
    )
    q = jobs.start_memory_sink(joined, "t_ssj_lo", "append", follow=True)
    try:
        q.processAllAvailable()
        # Advance both watermarks far past l2's window (+2h, +3h), over
        # two batches so the state-eviction pass runs behind the new
        # watermark.
        for extra in (120, 180):
            spark.createDataFrame([ev(900 + extra, extra, 99)], schema) \
                .coalesce(1).write.mode("append").parquet(srcl)
            spark.createDataFrame([ev(800 + extra, extra, 99)], schema) \
                .coalesce(1).write.mode("append").parquet(srcr)
            q.processAllAvailable()
        got = {(r["l_id"], r["r_id"]) for r in spark.table("t_ssj_lo").collect()}
        assert (1, 101) in got                      # matched pair
        assert (2, None) in got                     # outer row flushed
    finally:
        q.stop()


def test_session_window_stream_final_state_matches_batch(spark, sf_dir, tmp_path):
    """Batch/streaming unification for SESSION windows on real data:
    every session the append-mode stream finalizes must equal the batch
    session_agg row bit-for-bit (decimal-routed sums make the values
    partition-order-independent), and every batch session that the
    final watermark safely passed must have been emitted.  This is the
    one streaming semantics with no DuckDB cross-check (the oracle's
    gaps-and-islands twin covers batch only), so the batch plan is the
    reference."""
    from flink_s3_read_write_spark.sources.io import load_table

    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "sess_eq")
    ev.coalesce(1).write.parquet(src)

    gap, delay = "30 minutes", "1 minute"
    batch = {tuple(r) for r in W.session_agg(ev, gap=gap).collect()}

    stream = W.session_agg(
        jobs.events_stream(spark, src).withWatermark("ts", delay), gap=gap
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("t_sess_eq")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        emitted = {tuple(r) for r in spark.table("t_sess_eq").collect()}
    finally:
        q.stop()

    # 1) no invented rows: everything emitted is a batch session
    assert emitted <= batch
    # 2) completeness up to the watermark: sessions that ended safely
    #    before (max_ts - delay) must all have been finalized (a 1-min
    #    margin keeps the assertion off the watermark boundary)
    max_ts = ev.agg(F.max("ts")).first()[0]
    wm_safe = max_ts - timedelta(minutes=2)
    must_emit = {r for r in batch if r[1] < wm_safe}  # r[1] = s_end
    assert must_emit <= emitted
    assert len(must_emit) > 10  # non-vacuous on sf0.001


def test_apply_in_pandas_with_state_matches_batch_aggregate(spark, sf_dir, tmp_path):
    """Final-state equivalence on the REAL events table: stream the
    corpus through the applyInPandasWithState running-stats operator in
    two micro-batches and the last emission per key must equal the
    one-shot batch aggregate over the same rows — the stateful-path
    cross-check that runs without the protobuf-gated
    transformWithStateInPandas harness."""
    from flink_s3_read_write_spark.sources.io import load_table
    from flink_s3_read_write_spark.streaming import stateful

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    src = str(tmp_path / "ev_real")
    mid = ev.agg(F.expr("percentile_approx(event_id, 0.5)")).collect()[0][0]
    ev.filter(F.col("event_id") <= mid).coalesce(1).write.mode("append").parquet(src)

    stream = stateful.running_stats_stream(jobs.events_stream(spark, src))
    q = (
        stream.writeStream.format("memory")
        .queryName("t_state_real")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        ev.filter(F.col("event_id") > mid).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        last = {}
        for r in spark.table("t_state_real").collect():
            last[r["key"]] = r  # update mode: later rows overwrite
        want = {
            r["event_type"]: r
            for r in ev.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("value").alias("total"),
                F.max("value").alias("peak"),
            )
            .collect()
        }
        assert set(last) == set(want)
        for k, w in want.items():
            got = last[k]
            assert got["n_events"] == w["n_events"], k
            assert got["peak"] == w["peak"], k
            # stream total accumulates in per-batch pandas order, batch
            # in shuffle order: same values, different fp addition order
            assert got["total"] == pytest.approx(w["total"], rel=1e-9), k
    finally:
        q.stop()


def test_file_sink_exactly_once_across_restart(spark, tmp_path):
    """The checkpointed file sink's restart contract (jobs.py module
    docstring): a second run from the SAME checkpoint processes only
    files that arrived after the first run — batch-1 records appear in
    the committed output exactly once, never reprocessed.  (The
    reference never enables checkpointing; on restart its jobs re-read
    and duplicate.  SURVEY.md §2.2.)"""
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    write_lines(spark, src, [f"alpha{i}" for i in range(5)], "r1")

    def run_once():
        q = (
            jobs.uppercase_stream(spark, src)
            .writeStream.format("text")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    write_lines(spark, src, [f"beta{i}" for i in range(5)], "r2")
    run_once()
    # The batch reader honors the sink's _spark_metadata commit log, so
    # this read sees exactly the committed exactly-once output.
    got = sorted(r["value"] for r in spark.read.text(out).collect())
    want = sorted([f"ALPHA{i}" for i in range(5)] + [f"BETA{i}" for i in range(5)])
    assert got == want


def test_stream_bench_smoke(spark, tmp_path, monkeypatch):
    """tools/stream_bench.py end-to-end on a tiny input: all three jobs
    report positive rows/sec and the sidecar JSON is written."""
    import json
    import os
    import subprocess
    import sys

    env = {**os.environ, "SPARK_GRAFT_CPUS": "4"}
    out = subprocess.run(
        [sys.executable, "tools/stream_bench.py", "--lines", "20000",
         "--files", "2", "--repeat", "1", "--out", str(tmp_path / "sb.json")],
        capture_output=True, text=True, env=env, timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(line["jobs"]) == {
        "job1_uppercase", "job2_filter", "job3_keyed_avg",
        "ext_cms_sketch", "ext_jdbc_upsert_sink",
    }
    for job in line["jobs"].values():
        assert job["rows_per_sec"] > 0
        assert len(job["samples_sec"]) == 1  # --repeat 1


def test_streaming_ingest_dedup_against_static_index(spark, tmp_path):
    """Streaming twin of q144: new docs stream in, docs whose digest is
    already in the static corpus index are dropped by a stream-static
    anti join, and within-stream redeliveries collapse inside the
    watermark - final statuses match the batch incremental-dedup rule."""
    from flink_s3_read_write_spark.streaming import stateful

    src = str(tmp_path / "docs_in")
    schema = "doc_id bigint, ts timestamp, text string"
    t0 = datetime(2024, 1, 1, 12, 0, 0)
    # static index: the already-kept corpus (digests of 'alpha', 'beta')
    corpus = spark.createDataFrame([("alpha beta gamma",), ("beta",)], "text string")
    from flink_s3_read_write_spark.operators.dedup import normalize_text
    existing = corpus.select(F.md5(normalize_text(F.col("text"))).alias("d")).distinct()

    b1 = [
        (1, t0, "alpha beta gamma"),            # dup of existing -> dropped
        (2, t0 + timedelta(minutes=1), "delta"),  # new -> kept
        (3, t0 + timedelta(minutes=2), "delta"),  # dup within batch -> dropped
    ]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    out = stateful.streaming_ingest_dedup(stream, existing)
    q = out.writeStream.format("memory").queryName("t_ingest").outputMode("append").start()
    try:
        q.processAllAvailable()
        b2 = [
            (4, t0 + timedelta(minutes=3), "delta"),    # redelivery in watermark -> dropped
            (5, t0 + timedelta(minutes=4), "epsilon"),  # new -> kept
            (6, t0 + timedelta(minutes=5), "beta"),     # dup of existing -> dropped
        ]
        spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        kept = sorted(r["doc_id"] for r in spark.table("t_ingest").collect())
        assert kept == [2, 5]
    finally:
        q.stop()


def test_cms_stream_final_state_matches_batch(spark, sf_dir, tmp_path):
    """CMS additivity end-to-end: stream the documents' text through
    the update-mode cms_cells_stream in two file batches; the final
    (r, bucket) -> cell state must equal the batch build from exact
    token counts over the same lines — the property that lets per-
    day/per-partition sketches merge by cell-wise add at 100 TB."""
    from flink_s3_read_write_spark.operators import cms
    from flink_s3_read_write_spark.sources.io import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        F.regexp_replace("text", r"[\r\n]+", " ").alias("value")
    )
    src = str(tmp_path / "cms_in")
    # two appends -> at least two micro-batches worth of files
    docs.limit(200).coalesce(1).write.mode("append").text(src)
    docs.limit(400).coalesce(1).write.mode("append").text(src)

    q = jobs.start_memory_sink(
        jobs.cms_cells_stream(spark, src), "t_cms", "update"
    )
    try:
        q.processAllAvailable()
        # update mode re-emits changed cells per batch: last write wins
        final = spark.sql(
            """SELECT r, bucket, cell FROM (
                 SELECT *, row_number() OVER (
                   PARTITION BY r, bucket ORDER BY _mono DESC) AS rn
                 FROM (SELECT *, monotonically_increasing_id() AS _mono
                       FROM t_cms))
               WHERE rn = 1"""
        )
        got = {(r["r"], r["bucket"]): r["cell"] for r in final.collect()}
    finally:
        q.stop()

    lines = spark.read.text(src)
    tok = lines.select(
        F.explode(F.split(F.trim(F.col("value")), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    cnt = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_cnt"))
    want = {
        (r["r"], r["bucket"]): r["cell"]
        for r in cms.cms_cells_from_counts(cnt).collect()
    }
    assert got == want
    assert len(want) > 100  # non-vacuous grid coverage
    assert len(want) <= 4 * 512  # state bound: never exceeds the grid


def test_moments_stream_final_state_matches_batch(spark, sf_dir, tmp_path):
    """Per-key moment aggregate: streaming update-mode final state ==
    the same moments_by_key_stream expression evaluated in batch
    (batch/streaming unification on one function), on the real events
    table split across two micro-batch files."""
    from flink_s3_read_write_spark.sources.io import load_table

    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "mom_in")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)

    stream = jobs.moments_by_key_stream(jobs.events_stream(spark, src))
    q = jobs.start_memory_sink(stream, "t_mom", "update")
    try:
        q.processAllAvailable()
        final = spark.sql(
            """SELECT event_type, n, sx, sxx FROM (
                 SELECT *, row_number() OVER (
                   PARTITION BY event_type ORDER BY _mono DESC) AS rn
                 FROM (SELECT *, monotonically_increasing_id() AS _mono
                       FROM t_mom))
               WHERE rn = 1"""
        )
        got = {r["event_type"]: (r["n"], r["sx"], r["sxx"]) for r in final.collect()}
    finally:
        q.stop()

    want = {
        r["event_type"]: (r["n"], r["sx"], r["sxx"])
        for r in jobs.moments_by_key_stream(
            load_table(spark, sf_dir, "events")
        ).collect()
    }
    assert got == want
    assert len(want) >= 3


def test_ohlc_stream_matches_batch(spark, sf_dir, tmp_path):
    """Append-mode OHLC candles: every bar the stream finalizes must
    equal the batch evaluation of the same ohlc_bars_stream expression
    bit-for-bit, and all bars safely behind the final watermark must
    have been emitted (q168's market-data shape, streaming-first)."""
    from flink_s3_read_write_spark.sources.io import load_table

    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "ohlc_in")
    ev.coalesce(1).write.parquet(src)

    batch = {tuple(r) for r in jobs.ohlc_bars_stream(ev).collect()}

    q = jobs.start_memory_sink(
        jobs.ohlc_bars_stream(jobs.events_stream(spark, src)), "t_ohlc", "append"
    )
    try:
        q.processAllAvailable()
        emitted = {tuple(r) for r in spark.table("t_ohlc").collect()}
    finally:
        q.stop()

    assert emitted <= batch  # no invented bars
    max_ts = ev.agg(F.max("ts")).first()[0]
    safe = max_ts - timedelta(hours=1, minutes=5)  # watermark + margin
    must_emit = {r for r in batch if r[0] + timedelta(days=1) < safe}
    assert must_emit <= emitted
    assert len(must_emit) > 5  # non-vacuous


def test_rocksdb_state_store_provider(spark, sf_dir, tmp_path):
    """The 100 TB streaming-state story: the same update-mode moment
    aggregate runs on the RocksDB state store provider (bundled
    rocksdbjni — state spills off-heap/on-disk instead of living in
    executor heap like the default HDFSBackedStateStore) and reaches
    the identical final state."""
    from flink_s3_read_write_spark.sources.io import load_table

    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "rocks_in")
    ev.coalesce(1).write.parquet(src)

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = jobs.moments_by_key_stream(jobs.events_stream(spark, src))
        q = jobs.start_memory_sink(stream, "t_rocks", "update")
        try:
            q.processAllAvailable()
            final = spark.sql(
                """SELECT event_type, n, sx, sxx FROM (
                     SELECT *, row_number() OVER (
                       PARTITION BY event_type ORDER BY _mono DESC) AS rn
                     FROM (SELECT *, monotonically_increasing_id() AS _mono
                           FROM t_rocks))
                   WHERE rn = 1"""
            )
            got = {r["event_type"]: (r["n"], r["sx"], r["sxx"])
                   for r in final.collect()}
        finally:
            q.stop()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)

    want = {r["event_type"]: (r["n"], r["sx"], r["sxx"])
            for r in jobs.moments_by_key_stream(ev).collect()}
    assert got == want and len(want) >= 3


def test_cooccurrence_stream_final_state_matches_batch(spark, sf_dir, tmp_path):
    """Streaming co-occurrence: the update-mode (center, context)
    counts after two file micro-batches must equal the batch
    skipgram_pairs build over the same lines — count mergeability is
    what lets the co-occurrence matrix stay fresh with vocab²-bounded
    state on an unbounded corpus stream."""
    from flink_s3_read_write_spark.operators.dedup import tokens
    from flink_s3_read_write_spark.operators.textstats import skipgram_pairs
    from flink_s3_read_write_spark.sources.io import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        F.regexp_replace("text", r"[\r\n]+", " ").alias("value")
    )
    src = str(tmp_path / "cooc_in")
    docs.limit(120).coalesce(1).write.mode("append").text(src)
    docs.limit(240).coalesce(1).write.mode("append").text(src)

    q = jobs.start_memory_sink(
        jobs.cooccurrence_stream(spark, src), "t_cooc", "update"
    )
    try:
        q.processAllAvailable()
        final = spark.sql(
            """SELECT center, context, n, n_adjacent FROM (
                 SELECT *, row_number() OVER (
                   PARTITION BY center, context ORDER BY _mono DESC) AS rn
                 FROM (SELECT *, monotonically_increasing_id() AS _mono
                       FROM t_cooc))
               WHERE rn = 1"""
        )
        got = {
            (r["center"], r["context"]): (r["n"], r["n_adjacent"])
            for r in final.collect()
        }
    finally:
        q.stop()

    lines = spark.read.text(src)
    w = lines.select(tokens(F.col("value")).alias("w"))
    batch = (
        w.filter(F.size("w") >= 2)
        .select(F.explode(skipgram_pairs(F.col("w"), window=2)).alias("p"))
        .groupBy(F.col("p.center").alias("center"), F.col("p.context").alias("context"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("p.adj").alias("n_adjacent"))
    )
    want = {
        (r["center"], r["context"]): (r["n"], r["n_adjacent"])
        for r in batch.collect()
    }
    assert got == want
    assert len(want) > 50  # non-vacuous pair coverage


def test_clamped_stock_stream_final_state_matches_batch_fold(spark, sf_dir, tmp_path):
    """Streaming clamped stock (applyInPandasWithState): feed the
    events-derived delta stream as two time-ordered files, one per
    micro-batch (the operator's arrival-order contract); the final
    per-user state must equal a python fold over the full ordered
    stream — state survives the micro-batch boundary mid-recurrence."""
    import json as _json

    from flink_s3_read_write_spark.sources.io import load_table
    from flink_s3_read_write_spark.streaming.stateful import clamped_stock_stream

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("ts"),
        "event_id",
        F.when(
            F.col("event_type").isin("click", "view", "signup"),
            (F.col("value").cast("decimal(12,2)") * 100).cast("bigint"),
        )
        .otherwise(-(F.col("value").cast("decimal(12,2)") * 100).cast("bigint"))
        .alias("delta"),
    )
    rows = sorted(ev.collect(), key=lambda r: (r["ts"], r["event_id"]))
    mid = len(rows) // 2
    src = tmp_path / "clamp_in"
    src.mkdir()
    for i, chunk in enumerate((rows[:mid], rows[mid:])):
        with open(src / f"part-{i:04d}.json", "w") as fh:
            for r in chunk:
                fh.write(_json.dumps(
                    {"user_id": r["user_id"], "ts": r["ts"],
                     "event_id": r["event_id"], "delta": r["delta"]}) + "\n")

    stream = (
        spark.readStream.schema("user_id bigint, ts bigint, event_id bigint, delta bigint")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = jobs.start_memory_sink(clamped_stock_stream(stream), "t_clamp", "update")
    try:
        q.processAllAvailable()
        final = spark.sql(
            """SELECT user_id, final_stock_cents, peak_stock_cents, n_clamps FROM (
                 SELECT *, row_number() OVER (
                   PARTITION BY user_id ORDER BY _mono DESC) AS rn
                 FROM (SELECT *, monotonically_increasing_id() AS _mono
                       FROM t_clamp))
               WHERE rn = 1"""
        )
        got = {
            r["user_id"]: (r["final_stock_cents"], r["peak_stock_cents"], r["n_clamps"])
            for r in final.collect()
        }
    finally:
        q.stop()

    want: dict = {}
    for r in rows:
        s, peak, clamps = want.get(r["user_id"], (0, 0, 0))
        s += r["delta"]
        if s < 0:
            s = 0
            clamps += 1
        peak = max(peak, s)
        want[r["user_id"]] = (s, peak, clamps)
    assert got == want
    # the micro-batch split must actually cut through live state
    assert any(c > 0 for _, _, c in want.values())


def test_clamped_stock_state_survives_query_restart(spark, sf_dir, tmp_path):
    """State-store recovery for the custom state machine: drain file A
    under a checkpoint, STOP the query, append file B, start a brand-
    new query on the same checkpoint — batch B's emissions must
    continue each key's recurrence from the recovered (level, peak,
    clamps) state, not restart from zero."""
    import json as _json

    from flink_s3_read_write_spark.sources.io import load_table
    from flink_s3_read_write_spark.streaming.stateful import clamped_stock_stream

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("ts"),
        "event_id",
        F.when(
            F.col("event_type").isin("click", "view", "signup"),
            (F.col("value").cast("decimal(12,2)") * 100).cast("bigint"),
        )
        .otherwise(-(F.col("value").cast("decimal(12,2)") * 100).cast("bigint"))
        .alias("delta"),
    )
    rows = sorted(ev.collect(), key=lambda r: (r["ts"], r["event_id"]))
    mid = len(rows) // 2
    src = tmp_path / "clamp_restart_in"
    src.mkdir()
    ckpt = str(tmp_path / "clamp_ckpt")

    def write_file(i, chunk):
        with open(src / f"part-{i:04d}.json", "w") as fh:
            for r in chunk:
                fh.write(_json.dumps(
                    {"user_id": r["user_id"], "ts": r["ts"],
                     "event_id": r["event_id"], "delta": r["delta"]}) + "\n")

    out_dir = str(tmp_path / "clamp_out")

    def start():
        # memory sink can't recover from a checkpoint; foreachBatch is
        # the fault-tolerant update-mode sink (batch id stamps emission
        # order so "latest row per key" is well-defined across runs)
        stream = (
            spark.readStream
            .schema("user_id bigint, ts bigint, event_id bigint, delta bigint")
            .json(str(src))
        )

        def sink(batch_df, batch_id):
            batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(out_dir)

        return (
            clamped_stock_stream(stream).writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    write_file(0, rows[:mid])
    q1 = start()
    q1.awaitTermination(120)

    write_file(1, rows[mid:])
    q2 = start()  # new query, same checkpoint: state recovers
    q2.awaitTermination(120)

    emitted = spark.read.parquet(out_dir)
    emitted.createOrReplaceTempView("t_clamp_emitted")
    got = {
        r["user_id"]: (r["final_stock_cents"], r["peak_stock_cents"], r["n_clamps"])
        for r in spark.sql(
            """SELECT user_id, final_stock_cents, peak_stock_cents, n_clamps FROM (
                 SELECT *, row_number() OVER (
                   PARTITION BY user_id ORDER BY batch_id DESC) AS rn
                 FROM t_clamp_emitted)
               WHERE rn = 1"""
        ).collect()
    }
    # full-stream fold and second-half-only fold (what a state LOSS
    # would produce) — got must match the former and differ from the
    # latter for at least one key
    def fold(rs, seed=None):
        acc = dict(seed or {})
        for r in rs:
            s, peak, clamps = acc.get(r["user_id"], (0, 0, 0))
            s += r["delta"]
            if s < 0:
                s = 0
                clamps += 1
            peak = max(peak, s)
            acc[r["user_id"]] = (s, peak, clamps)
        return acc

    want_full = fold(rows)
    want_b_only = fold(rows[mid:])
    touched_b = {r["user_id"] for r in rows[mid:]}
    # latest emission per key across both runs == the full-stream fold
    assert set(got) == set(want_full)
    for uid, state in want_full.items():
        assert got[uid] == state, uid
    # and NOT what a state reset would produce for the restarted run
    assert any(got[u] != want_b_only[u] for u in touched_b)
