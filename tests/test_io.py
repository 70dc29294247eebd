"""Source/sink tests (sources/io.py): format roundtrips preserve
values and schema, the rolling sink caps records per file (A12
analogue), and the streaming text sink commits through a checkpoint."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from flink_s3_read_write_spark.sources import io
from flink_s3_read_write_spark.streaming import jobs


@pytest.fixture(scope="module")
def sample(spark, sf_dir):
    return io.load_table(spark, sf_dir, "customer").limit(200).cache()


def summarize(df):
    rows = sorted(tuple(r) for r in df.collect())
    return df.dtypes, rows


def test_parquet_roundtrip(sample, tmp_path):
    io.write_parquet(sample, str(tmp_path / "p"))
    back = sample.sparkSession.read.parquet(str(tmp_path / "p"))
    assert summarize(back) == summarize(sample)


def test_csv_roundtrip_typed(sample, tmp_path):
    io.write_csv(sample, str(tmp_path / "c"))
    schema = ", ".join(f"{f} {t}" for f, t in sample.dtypes)
    back = io.read_csv(sample.sparkSession, str(tmp_path / "c"), schema)
    assert summarize(back) == summarize(sample)


def test_json_roundtrip(sample, tmp_path):
    io.write_json(sample, str(tmp_path / "j"))
    schema = ", ".join(f"{f} {t}" for f, t in sample.dtypes)
    back = io.read_json(sample.sparkSession, str(tmp_path / "j"), schema)
    assert summarize(back) == summarize(sample)


def test_orc_roundtrip(sample, tmp_path):
    io.write_orc(sample, str(tmp_path / "o"))
    back = io.read_orc(sample.sparkSession, str(tmp_path / "o"))
    assert summarize(back) == summarize(sample)


def test_partitioned_parquet_prunes(sample, tmp_path):
    io.write_parquet(sample, str(tmp_path / "pp"), partition_by=["c_mktsegment"])
    spark = sample.sparkSession
    seg = sample.select("c_mktsegment").first()[0]
    back = spark.read.parquet(str(tmp_path / "pp")).filter(F.col("c_mktsegment") == seg)
    # partition pruning: only that segment's directory is read
    from flink_s3_read_write_spark.plans import inspect as P

    plan = P.formatted_plan(back)
    assert back.count() == sample.filter(F.col("c_mktsegment") == seg).count()
    assert "PartitionFilters" in plan and seg not in plan.split("PartitionFilters")[0]


def test_rolling_sink_caps_records_per_file(sample, tmp_path):
    """A12 withMaxPartSize analogue: record-count rolling."""
    lines = sample.select(F.col("c_name").alias("value"))
    io.write_text(lines, str(tmp_path / "t"), max_records_per_file=50)
    parts = glob.glob(str(tmp_path / "t" / "part-*"))
    counts = [sum(1 for _ in open(p)) for p in parts]
    assert max(counts) <= 50
    assert sum(counts) == sample.count()


def test_rolling_sink_byte_target(spark, tmp_path):
    """A12 withMaxPartSize fidelity: the byte cap (128 MB / 1 GB in the
    reference, S3ReadWriteExample.java:36) converts to a record cap via
    sampled average row size; full parts land within ±20% of the byte
    target."""
    # 5000 fixed-width 40-byte lines (39 chars + \n) = 200 kB total
    lines = spark.range(5000).select(
        F.concat(F.lit("row-"), F.lpad(F.col("id").cast("string"), 35, "0")).alias("value")
    )
    target = 20_000  # 20 kB parts -> ~10 full parts
    io.write_text(lines.coalesce(1), str(tmp_path / "b"), max_part_bytes=target)
    parts = sorted(glob.glob(str(tmp_path / "b" / "part-*")))
    sizes = [os.path.getsize(p) for p in parts]
    assert sum(sizes) == 5000 * 40
    # every part within the cap (+20% sampling tolerance)...
    assert max(sizes) <= target * 1.2
    # ...and every FULL part (all but the task's last remainder part)
    # is within -20% of the target, i.e. rolling really is byte-driven
    for s in sizes[:-1]:
        assert s >= target * 0.8
    assert len(sizes) >= 8  # ~200kB / 20kB


def test_single_file_mode(sample, tmp_path):
    """setParallelism(1) output-shape analogue (A13)."""
    lines = sample.select(F.col("c_name").alias("value"))
    io.write_text(lines, str(tmp_path / "s"), single_file=True)
    assert len(glob.glob(str(tmp_path / "s" / "part-*"))) == 1


def test_streaming_text_sink_checkpointed(spark, tmp_path):
    src, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    spark.createDataFrame([("a",), ("b",)], "value string").coalesce(1).write.text(src)
    stream = jobs.uppercase_stream(spark, src)
    q = io.start_text_stream_sink(stream, out, ckpt, trigger_seconds=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        line.strip()
        for p in glob.glob(out + "/part-*")
        for line in open(p)
    )
    assert got == ["A", "B"]
    assert glob.glob(ckpt + "/*"), "checkpoint directory must be populated"


def test_compact_parquet_merges_small_files(spark, sf_dir, tmp_path):
    src, dst = str(tmp_path / "frag"), str(tmp_path / "compact")
    df = io.load_table(spark, sf_dir, "lineitem")
    df.repartition(32).write.parquet(src)          # fragment: 32 small files
    assert len(glob.glob(src + "/part-*.parquet")) == 32
    n = io.compact_parquet(spark, src, dst, target_file_mb=256)
    assert n == 1                                  # tiny data -> one file
    assert len(glob.glob(dst + "/part-*.parquet")) == 1
    assert spark.read.parquet(dst).count() == df.count()


def test_hash_split_deterministic_and_balanced(spark, sf_dir):
    from flink_s3_read_write_spark.operators.textstats import hash_split

    docs = io.load_table(spark, sf_dir, "documents").select("doc_id")
    a = {r["doc_id"]: r["split"] for r in hash_split(docs, "doc_id", 0.2).collect()}
    b = {r["doc_id"]: r["split"] for r in hash_split(docs, "doc_id", 0.2).collect()}
    assert a == b                                   # deterministic
    frac = sum(1 for v in a.values() if v == "test") / len(a)
    assert 0.1 < frac < 0.3                         # ~20% with 500 docs
    # growth-stable: splitting a subset assigns identical labels
    sub = {r["doc_id"]: r["split"]
           for r in hash_split(docs.limit(100), "doc_id", 0.2).collect()}
    assert all(a[k] == v for k, v in sub.items())


def test_sorted_write_orders_rows_within_files(spark, sf_dir, tmp_path):
    dst = str(tmp_path / "sorted")
    li = io.load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    io.write_parquet(li.repartition(4), dst, sort_by=["l_orderkey"])
    import pyarrow.parquet as pq

    for p in glob.glob(dst + "/part-*.parquet"):
        keys = pq.read_table(p, columns=["l_orderkey"])["l_orderkey"].to_pylist()
        assert keys == sorted(keys)          # row groups carry tight min/max


def test_hash_split_full_fraction_edges(spark, sf_dir):
    from flink_s3_read_write_spark.operators.textstats import hash_split

    docs = io.load_table(spark, sf_dir, "documents").select("doc_id")
    all_test = {r["split"] for r in hash_split(docs, "doc_id", 1.0).collect()}
    assert all_test == {"test"}
    all_train = {r["split"] for r in hash_split(docs, "doc_id", 0.0).collect()}
    assert all_train == {"train"}


def test_schema_evolution_merge_on_read(spark, tmp_path):
    """Schema evolution: a later batch adds a column; reading the whole
    directory with mergeSchema unions the schemas and older rows read
    NULL for the new field — the operational contract for append-only
    datasets whose producers evolve (at 100 TB a table format carries
    the merged schema in metadata; parquet footers + mergeSchema is the
    raw-directory equivalent)."""
    out = str(tmp_path / "evo")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, name string"
    ).write.mode("append").parquet(out)
    spark.createDataFrame(
        [(3, "c", 0.5)], "id long, name string, score double"
    ).write.mode("append").parquet(out)
    merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert dict(merged.dtypes) == {"id": "bigint", "name": "string", "score": "double"}
    rows = {r["id"]: r for r in merged.collect()}
    assert rows[1]["score"] is None and rows[3]["score"] == 0.5
    # without mergeSchema the footer actually sampled wins — the test
    # documents WHY the option matters rather than asserting either
    # one-footer outcome (file listing order is not a contract)


def test_xml_roundtrip(sample, tmp_path):
    """Spark 4 native XML: write → read preserves values (schema comes
    back via inference, so numeric widths may upcast — values are the
    contract, like the CSV roundtrip)."""
    out = str(tmp_path / "xml")
    cols = sample.select("c_custkey", "c_name", "c_acctbal")
    io.write_xml(cols, out)
    back = io.read_xml(sample.sparkSession, out).select(
        "c_custkey", "c_name", "c_acctbal"
    )
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in cols.collect()
    )


def test_binary_file_source_reads_bytes_and_globs(spark, tmp_path):
    """binaryFile source: content bytes round-trip exactly and the
    glob filter prunes non-matching files — the multimodal ingestion
    path (raw media bytes → mapInPandas decoders)."""
    import os

    d = str(tmp_path / "media")
    os.makedirs(d)
    png = bytes.fromhex("89504e470d0a1a0a") + b"payload-a"
    txt = b"not-an-image"
    open(os.path.join(d, "a.png"), "wb").write(png)
    open(os.path.join(d, "b.txt"), "wb").write(txt)
    rows = io.read_binary_files(spark, d, glob="*.png").collect()
    assert len(rows) == 1
    assert rows[0]["path"].endswith("a.png")
    assert bytes(rows[0]["content"]) == png
    assert rows[0]["length"] == len(png)
    both = io.read_binary_files(spark, d).collect()
    assert len(both) == 2


def test_file_stats_and_compaction_roundtrip(spark, tmp_path):
    """file_stats reports per-file rows+bytes; compact_parquet folds a
    many-small-files table into the computed partition count with all
    rows preserved."""
    from flink_s3_read_write_spark.sources import io as sio

    src = str(tmp_path / "frag")
    dst = str(tmp_path / "compact")
    spark.range(0, 10000).repartition(37).write.parquet(src)
    stats = sio.file_stats(spark, src).collect()
    assert len(stats) == 37
    assert sum(r["n_rows"] for r in stats) == 10000
    assert all(r["bytes"] and r["bytes"] > 0 for r in stats)
    n = sio.compact_parquet(spark, src, dst, target_file_mb=256)
    assert n == 1  # tiny table folds into one file
    assert spark.read.parquet(dst).count() == 10000
    assert len(sio.file_stats(spark, dst).collect()) == 1


def test_jdbc_roundtrip_embedded_derby(spark, tmp_path):
    """Real JDBC round-trip against embedded Derby (bundled with
    Spark): write_jdbc out, read_jdbc back — plain and partitioned
    (the partitioned path issues range-bounded queries in parallel,
    the only acceptable shape at scale)."""
    url = f"jdbc:derby:{tmp_path}/db;create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    df = spark.range(0, 100).select(
        F.col("id").cast("int").alias("k"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("v"),
    )
    io.write_jdbc(df, url, "t1", properties=props)
    back = io.read_jdbc(spark, url, "t1", properties=props)
    assert back.count() == 100
    assert sorted(back.columns) == ["K", "V"] or sorted(c.lower() for c in back.columns) == ["k", "v"]
    part = io.read_jdbc(
        spark, url, "t1",
        partition_column="k", num_partitions=4, lower_bound=0, upper_bound=100,
        properties=props,
    )
    assert part.rdd.getNumPartitions() == 4
    assert part.count() == 100
    assert part.agg(F.sum(F.col("k").cast("bigint")).alias("s")).first()["s"] == 4950


def test_read_jdbc_partition_bounds_required():
    with pytest.raises(ValueError):
        io.read_jdbc(None, "jdbc:derby:x", "t", partition_column="k")


def test_kafka_options_assembly():
    """No broker/jar in this container: pin the exact option set the
    Kafka source submits so the plumbing can't silently rot."""
    opts = io.kafka_options("b1:9092,b2:9092", "events")
    assert opts == {
        "kafka.bootstrap.servers": "b1:9092,b2:9092",
        "subscribe": "events",
        "startingOffsets": "earliest",
        "failOnDataLoss": "true",
    }
    opts = io.kafka_options(
        "b:9092", "t", starting_offsets="latest",
        max_offsets_per_trigger=50_000, fail_on_data_loss=False,
    )
    assert opts["maxOffsetsPerTrigger"] == "50000"
    assert opts["startingOffsets"] == "latest"
    assert opts["failOnDataLoss"] == "false"


def test_read_kafka_fails_clearly_without_package(spark):
    """The kafka jar is absent here; the source must fail with the
    data-source-not-found error, not something cryptic."""
    import py4j.protocol
    from pyspark.errors import AnalysisException

    with pytest.raises((AnalysisException, py4j.protocol.Py4JJavaError)) as ei:
        io.read_kafka(spark, "b:9092", "t", streaming=False)
    assert "kafka" in str(ei.value).lower()


def test_json_corrupt_record_quarantine(spark, tmp_path):
    """PERMISSIVE JSON: malformed lines land whole in the corrupt
    column (schema fields NULL) instead of failing the scan or being
    dropped — the dead-letter split for a 100 TB lake."""
    p = str(tmp_path / "j")
    os.makedirs(p)
    with open(os.path.join(p, "part-0.json"), "w") as fh:
        fh.write('{"k": 1, "v": "ok"}\n')
        fh.write('{"k": broken!!\n')
        fh.write('{"k": 3, "v": "fine"}\n')
    df = io.read_json(spark, p, "k bigint, v string", corrupt_col="_bad")
    rows = df.collect()
    assert len(rows) == 3
    good = {r["k"]: r["v"] for r in rows if r["_bad"] is None}
    assert good == {1: "ok", 3: "fine"}
    bad = [r for r in rows if r["_bad"] is not None]
    assert len(bad) == 1 and bad[0]["k"] is None and "broken" in bad[0]["_bad"]
    with pytest.raises(ValueError, match="schema"):
        io.read_json(spark, p, None, corrupt_col="_bad")


def test_csv_corrupt_record_quarantine(spark, tmp_path):
    """Same dead-letter contract for CSV: a row whose value can't cast
    to the declared type quarantines whole, clean rows parse."""
    p = str(tmp_path / "c")
    os.makedirs(p)
    with open(os.path.join(p, "part-0.csv"), "w") as fh:
        fh.write("k,v\n1,ok\nnot_a_number,broken\n3,fine\n")
    df = io.read_csv(spark, p, "k bigint, v string", corrupt_col="_bad")
    rows = df.collect()
    assert len(rows) == 3
    good = {r["k"]: r["v"] for r in rows if r["_bad"] is None}
    assert good == {1: "ok", 3: "fine"}
    bad = [r for r in rows if r["_bad"] is not None]
    assert len(bad) == 1 and "not_a_number" in bad[0]["_bad"]


def test_avro_gate_or_roundtrip(spark, tmp_path):
    """Avro source/sink: the DataSource is an EXTERNAL Spark module the
    pip distribution doesn't ship.  When it's absent the gate must fail
    with the actionable NotImplementedError (not a cryptic classpath
    error); when a container ships spark-avro this test SELF-HEALS into
    the full write/read round-trip with no code change."""
    df = spark.range(5).select(
        F.col("id").cast("bigint").alias("k"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("v"),
    )
    path = str(tmp_path / "avro")
    if io.avro_available(spark):
        io.write_avro(df, path)
        back = io.read_avro(spark, path)
        assert sorted(back.columns) == ["k", "v"]
        assert back.count() == 5
        assert {tuple(r) for r in back.collect()} == {tuple(r) for r in df.collect()}
    else:
        with pytest.raises(NotImplementedError, match="spark-avro"):
            io.read_avro(spark, path)
        with pytest.raises(NotImplementedError, match="spark-avro"):
            io.write_avro(df, path)


def _derby_rows(spark, url, table, props):
    back = io.read_jdbc(spark, url, table, properties=props)
    return {tuple(r)[0]: tuple(r)[1:] for r in back.collect()}


def test_streaming_jdbc_upsert_exactly_once(spark, tmp_path):
    """End-to-end exactly-once streaming upsert (r06/r07 directive):
    update-mode keyed aggregate → foreachBatch staging + ledgered MERGE
    into embedded Derby.  Covers (1) initial load, (2) restart from the
    checkpoint applying only the new micro-batch, (3) REDELIVERY of an
    already-committed batch_id — the at-least-once crash window — which
    the epoch ledger must skip without touching the table."""
    url = f"jdbc:derby:{tmp_path}/upsertdb;create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    schema = "k string, v bigint"

    def updates():
        s = spark.readStream.schema(schema).parquet(src)
        return s.groupBy("k").agg(F.sum("v").alias("total"))

    # batch 0: initial keys
    spark.createDataFrame([("a", 1), ("b", 2)], schema) \
        .coalesce(1).write.mode("append").parquet(src)
    q = jobs.start_jdbc_upsert_sink(updates(), url, "SERVE", ["k"], ckpt,
                                    properties=props)
    assert q.awaitTermination(120)
    assert _derby_rows(spark, url, "SERVE", props) == {"a": (1,), "b": (2,)}

    # batch 1: restart from the same checkpoint; update-mode emits only
    # the CHANGED keys (b updated, c inserted) — a must stay untouched.
    spark.createDataFrame([("b", 5), ("c", 7)], schema) \
        .coalesce(1).write.mode("append").parquet(src)
    q = jobs.start_jdbc_upsert_sink(updates(), url, "SERVE", ["k"], ckpt,
                                    properties=props)
    assert q.awaitTermination(120)
    assert _derby_rows(spark, url, "SERVE", props) == {
        "a": (1,), "b": (7,), "c": (7,)}

    # redelivery: re-apply batch_id 1 with POISONED values, simulating
    # the crash-between-commit-and-checkpoint replay.  The ledger PK
    # must skip the whole apply — values unchanged proves it.
    handler = jobs.jdbc_upsert_writer(url, "SERVE", ["k"], properties=props)
    poisoned = spark.createDataFrame([("b", 999), ("c", 999)], "k string, total bigint")
    handler(poisoned, 1)
    assert _derby_rows(spark, url, "SERVE", props) == {
        "a": (1,), "b": (7,), "c": (7,)}

    # ...and a genuinely NEW batch_id applies (proving the skip above
    # was the ledger, not a broken MERGE).
    handler(spark.createDataFrame([("c", 8)], "k string, total bigint"), 2)
    assert _derby_rows(spark, url, "SERVE", props) == {
        "a": (1,), "b": (7,), "c": (8,)}


def test_jdbc_upsert_idempotence_property(spark, tmp_path):
    """Property check for the exactly-once contract: for a SEEDED
    random sequence of keyed batches, applying the sequence with
    arbitrary per-batch replays (each batch re-applied up to 2 extra
    times, with poisoned values on the replays) must leave the table
    exactly equal to a dict fold of the clean sequence."""
    import random

    url = f"jdbc:derby:{tmp_path}/propdb;create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    handler = jobs.jdbc_upsert_writer(url, "PROP", ["k"], properties=props)
    rng = random.Random(1234)
    keys = [f"k{i}" for i in range(8)]
    expect: dict[str, int] = {}
    for batch_id in range(6):
        batch = [(rng.choice(keys), rng.randrange(1000)) for _ in range(4)]
        # last write per key within the batch wins in the fold; the
        # MERGE sees one row per key, so collapse first
        folded = {}
        for k, v in batch:
            folded[k] = v
        expect.update(folded)
        df = spark.createDataFrame(sorted(folded.items()), "k string, total bigint")
        handler(df, batch_id)
        for _ in range(rng.randrange(3)):  # replays with poison
            poison = spark.createDataFrame(
                [(k, -1) for k in folded], "k string, total bigint")
            handler(poison, batch_id)
    got = {tuple(r)[0]: tuple(r)[1] for r in
           io.read_jdbc(spark, url, "PROP", properties=props).collect()}
    assert got == expect


def _derby_table_id(spark, url, name):
    conn = spark.sparkContext._jvm.java.sql.DriverManager.getConnection(url)
    try:
        rs = conn.createStatement().executeQuery(
            f"SELECT TABLEID FROM SYS.SYSTABLES WHERE TABLENAME = '{name}'")
        return rs.getString(1) if rs.next() else None
    finally:
        conn.close()


def test_jdbc_upsert_writer_ddl_once_per_writer(spark, tmp_path, monkeypatch):
    """A writer creates its target and ledger on its first batch only,
    and later batches empty the stage in place (same TABLEID) instead
    of dropping and re-creating it.  A new writer re-creates the stage."""
    url = f"jdbc:derby:{tmp_path}/ddldb;create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    creates = []
    real = jobs._create_sink_tables

    def counted(conn, table, *rest):
        creates.append(table)
        real(conn, table, *rest)

    monkeypatch.setattr(jobs, "_create_sink_tables", counted)
    handler = jobs.jdbc_upsert_writer(url, "DDL", ["k"], properties=props)
    stage_ids = []
    for batch_id, rows in enumerate([[("a", 1)], [("a", 2), ("b", 3)], [("c", 4)]]):
        handler(spark.createDataFrame(rows, "k string, total bigint"), batch_id)
        stage_ids.append(_derby_table_id(spark, url, "DDL_STAGE"))
    assert creates == ["DDL"]
    assert stage_ids[0] is not None and len(set(stage_ids)) == 1
    assert _derby_rows(spark, url, "DDL", props) == {"a": (2,), "b": (3,), "c": (4,)}

    jobs.jdbc_upsert_writer(url, "DDL", ["k"], properties=props)(
        spark.createDataFrame([("d", 5)], "k string, total bigint"), 3)
    assert creates == ["DDL", "DDL"]
    assert _derby_table_id(spark, url, "DDL_STAGE") not in (None, stage_ids[0])
    assert _derby_rows(spark, url, "DDL", props)["d"] == (5,)


def test_jdbc_sink_drain_tasks_capped_at_local_cores(spark, tmp_path):
    """A 40-file availableNow drain into the JDBC sink launches no stage
    with more tasks than local cores: above 32 files the file source
    lists a batch's files in a Spark job, capped by
    ``parallelPartitionDiscovery.parallelism`` on a local master."""
    url = f"jdbc:derby:{tmp_path}/drain40db;create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    src = tmp_path / "src"
    src.mkdir()
    for i in range(40):
        (src / f"part-{i:02d}.csv").write_text(f"k{i % 5},{i}\n")
    updates = (spark.readStream.schema("k string, v bigint").csv(str(src))
               .groupBy("k").agg(F.sum("v").alias("total")))
    q = jobs.start_jdbc_upsert_sink(updates, url, "DRAIN40", ["k"],
                                    str(tmp_path / "ckpt"), properties=props)
    assert q.awaitTermination(120)
    tracker = spark.sparkContext.statusTracker()
    stages = [tracker.getStageInfo(sid)
              for jid in tracker.getJobIdsForGroup(str(q.runId))
              for sid in tracker.getJobInfo(jid).stageIds]
    tasks = [st.numTasks for st in stages if st is not None]
    assert tasks and max(tasks) <= spark.sparkContext.defaultParallelism, tasks
    assert _derby_rows(spark, url, "DRAIN40", props) == {
        f"k{j}": (sum(range(j, 40, 5)),) for j in range(5)}


def test_fan_out_guard(spark):
    """fan_out: under-split inputs get repartitioned to the session
    default parallelism; inputs already at/above it are returned with
    the SAME plan (no exchange added) — the no-op-at-scale contract."""
    from flink_s3_read_write_spark.sources.io import fan_out

    target = spark.sparkContext.defaultParallelism
    narrow = spark.range(1000).coalesce(1)
    spread = fan_out(narrow)
    assert spread.rdd.getNumPartitions() == target
    # values untouched, only placement changes
    assert spread.count() == 1000
    wide = spark.range(1000).repartition(target + 4)
    same = fan_out(wide)
    assert same is wide  # identical object: no plan change at scale


def test_fan_out_streaming_passthrough_and_memoized_probe(spark):
    """r09 (ADVICE r08): fan_out must (a) pass streaming DataFrames
    through untouched — .rdd raises AnalysisException on them — and
    (b) memoize the split-count probe per analyzed plan so repeated
    builder calls with the identical plan don't re-trigger physical
    planning on the driver."""
    from flink_s3_read_write_spark.sources import io as io_mod

    stream = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    assert io_mod.fan_out(stream) is stream

    io_mod._FAN_OUT_SPLITS.clear()
    narrow = spark.range(1000).coalesce(1)
    io_mod.fan_out(narrow)
    assert len(io_mod._FAN_OUT_SPLITS) == 1
    key, n = next(iter(io_mod._FAN_OUT_SPLITS.items()))
    # same plan again: the memo must answer without re-probing —
    # poison the cached value and observe fan_out trusting it.
    io_mod._FAN_OUT_SPLITS[key] = 10_000_000
    same = io_mod.fan_out(spark.range(1000).coalesce(1))
    assert same.rdd.getNumPartitions() == 1  # trusted memo -> no repartition
    io_mod._FAN_OUT_SPLITS.clear()


def test_fan_out_passthrough_when_jvm_handles_unavailable(spark):
    """r09 review fix: on backends without JVM plan handles (Spark
    Connect), fan_out must pass the DataFrame through unchanged —
    .rdd would raise there too, so probing after the key failure
    would just move the crash one line down."""
    from flink_s3_read_write_spark.sources import io as io_mod

    narrow = spark.range(10).coalesce(1)

    real = narrow._jdf

    class _NoJvm:
        def isStreaming(self):  # Connect implements isStreaming fine
            return real.isStreaming()

        def queryExecution(self):
            raise RuntimeError("no JVM handle on this backend")

    narrow._jdf = _NoJvm()
    try:
        assert io_mod.fan_out(narrow) is narrow
    finally:
        narrow._jdf = real


def test_load_table_memo_contract(spark):
    """r16 scan-handle memo: one resolved DataFrame per (session,
    sf_dir, table); different sf_dirs get different handles; the
    events nanosAsLong side effect survives memo hits even after a
    caller unsets it; reset_plan_memos drops the handles."""
    from flink_s3_read_write_spark.session import reset_plan_memos

    reset_plan_memos()
    try:
        a = io.load_table(spark, "/root/testdata/sf0.001", "lineitem")
        assert io.load_table(spark, "/root/testdata/sf0.001", "lineitem") is a
        assert io.load_table(spark, "/root/testdata/sf0.01", "lineitem") is not a
        ev = io.load_table(spark, "/root/testdata/sf0.001", "events")
        spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        ev2 = io.load_table(spark, "/root/testdata/sf0.001", "events")
        assert ev2 is ev
        assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
        assert ev2.count() > 0  # lazy plan decodes with the re-asserted flag
        reset_plan_memos()
        assert io.load_table(spark, "/root/testdata/sf0.001", "lineitem") is not a
    finally:
        reset_plan_memos()
