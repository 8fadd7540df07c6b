"""Streaming pipeline tests: the real readStream/foreachBatch/
checkpoint machinery, including the reference's kill/resume contract
(SURVEY §5: resume from master.info yields the same final state)."""

from __future__ import annotations

import json
import os
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from mysql_syncer_clickhouse_spark.operators.upsert import latest_state
from mysql_syncer_clickhouse_spark.plans.rules import Rule
from mysql_syncer_clickhouse_spark.streaming.pipeline import (
    SINK_SCHEMA_FILE, StreamingSyncPipeline, start_stream)

SCHEMA_DDL = "seq long, op string, id long, title string, mydate long"

ROWS_PART1 = [
    (1, "insert", 1, "first", 86400),
    (2, "insert", 2, "second", 86400),
    (3, "update", 1, "first-edited", 86400),
]
ROWS_PART2 = [
    (4, "delete", 2, None, None),
    (5, "insert", 3, "third", 172800),
    (6, "update", 3, "third-edited", 172800),
]


def _rule():
    return Rule(source_schema="app", source_table="items",
                sink_schema="olap", sink_table="items_sink",
                pk=("id",),
                field_mapping={"title": "es_title"})


def _write_part(spark, src, rows, name, schema=SCHEMA_DDL):
    """Land one flat parquet FILE in the stream source dir (the file
    source does not recurse into nested directories)."""
    import glob
    import shutil
    df = spark.createDataFrame(rows, schema)
    tmp = os.path.join(os.path.dirname(src), f"_tmp_{name}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    shutil.copy(glob.glob(os.path.join(tmp, "part-*.parquet"))[0],
                os.path.join(src, f"{name}.parquet"))
    shutil.rmtree(tmp)


@pytest.fixture()
def dirs(tmp_path):
    src = tmp_path / "src"
    os.makedirs(src)
    return str(src), str(tmp_path / "sink"), str(tmp_path / "ckpt")


def _schema(spark):
    return spark.createDataFrame([], SCHEMA_DDL).schema


def _drain(pipe, spark, src, schema):
    """Drain every changelog file now in `src` through `pipe`, four
    files per epoch, then stop -- the batch-boundary analog of canal
    catch-up."""
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 4).parquet(src))
    start_stream(stream, pipe._apply_batch,
                 pipe.checkpoint_dir).awaitTermination()


def _sidecar(sink):
    with open(os.path.join(sink, SINK_SCHEMA_FILE)) as fh:
        return StructType.fromJson(json.load(fh))


def _jobs_in_group(spark, fn):
    """Run fn under a fresh job group; return its result and the ids
    of the Spark jobs it submitted."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job probe")
    try:
        out = fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _assert_same_frame(a, b):
    """Same column names (in any order) and the same rows."""
    cols = sorted(a.columns)
    assert cols == sorted(b.columns)

    def rows(df):
        return sorted((tuple(r) for r in df.select(*cols).collect()),
                      key=repr)
    assert rows(a) == rows(b)


def test_stream_apply_and_state(spark, dirs):
    src, sink, ckpt = dirs
    _write_part(spark, src, ROWS_PART1, "p1")
    pipe = StreamingSyncPipeline(_rule(), ["id"], sink, ckpt)
    _drain(pipe, spark, src, _schema(spark))
    state = {r["id"]: r["es_title"]
             for r in pipe.current_state(spark).collect()}
    assert state == {1: "first-edited", 2: "second"}
    assert pipe.metrics.snapshot() == {"insert": 2, "update": 1}


def test_kill_resume_no_loss_no_dup(spark, dirs):
    """Stop after part 1, restart with the same checkpoint after part 2
    arrives: final state must equal a one-shot batch apply of the full
    changelog (at-least-once + idempotent upsert, river/sync.go:160-176
    analog)."""
    src, sink, ckpt = dirs
    _write_part(spark, src, ROWS_PART1, "p1")
    pipe = StreamingSyncPipeline(_rule(), ["id"], sink, ckpt)
    _drain(pipe, spark, src, _schema(spark))   # "kill" after drain

    _write_part(spark, src, ROWS_PART2, "p2")
    pipe2 = StreamingSyncPipeline(_rule(), ["id"], sink, ckpt)  # resume
    _drain(pipe2, spark, src, _schema(spark))

    state = {r["id"]: r["es_title"]
             for r in pipe2.current_state(spark).collect()}
    assert state == {1: "first-edited", 3: "third-edited"}
    # no duplicated epochs: sink holds each seq exactly once
    sink_df = spark.read.parquet(sink)
    assert sink_df.count() == 6
    assert sink_df.select("seq").distinct().count() == 6


def test_compact_preserves_state(spark, dirs):
    src, sink, ckpt = dirs
    _write_part(spark, src, ROWS_PART1, "p1")
    _write_part(spark, src, ROWS_PART2, "p2")
    pipe = StreamingSyncPipeline(_rule(), ["id"], sink, ckpt)
    _drain(pipe, spark, src, _schema(spark))
    before = {(r["id"], r["es_title"])
              for r in pipe.current_state(spark).collect()}
    pipe.compact(spark)
    after = {(r["id"], r["es_title"])
             for r in pipe.current_state(spark).collect()}
    assert before == after
    # compaction physically dropped superseded rows + tombstones
    assert spark.read.parquet(sink).count() == len(after)


def test_schema_evolution_add_drop_column(spark, dirs):
    """Mid-stream DDL (river/river_test.go:385-399 scenario): after
    draining schema v1, the source table gains a column ('extra') and
    drops another ('mydate'). The restarted stream reads v2 with the
    same checkpoint; the merged sink view exposes the union schema with
    NULLs where a file predates/postdates the DDL."""
    src, sink, ckpt = dirs
    _write_part(spark, src, ROWS_PART1, "p1")
    pipe = StreamingSyncPipeline(_rule(), ["id"], sink, ckpt)
    _drain(pipe, spark, src, _schema(spark))

    v2_ddl = "seq long, op string, id long, title string, extra string"
    rows_v2 = [(4, "insert", 4, "fourth", "bonus"),
               (5, "update", 1, "first-v2", "patched")]
    _write_part(spark, src, rows_v2, "p2", schema=v2_ddl)
    pipe2 = StreamingSyncPipeline(_rule(), ["id"], sink, ckpt)
    _drain(pipe2, spark, src,
           spark.createDataFrame([], v2_ddl).schema)

    # the sidecar holds the union: reading through it submits no
    # schema job before the action
    state, jobs = _jobs_in_group(spark, lambda: pipe2.current_state(spark))
    assert jobs == []
    assert {"seq", "id", "es_title", "mydate", "extra"} <= set(state.columns)
    collected, jobs = _jobs_in_group(spark, state.collect)
    assert jobs                             # the probe does see jobs
    rows = {r["id"]: r for r in collected}
    assert rows[1]["es_title"] == "first-v2"
    assert rows[1]["extra"] == "patched"
    assert rows[1]["mydate"] is None        # dropped post-DDL -> NULL
    assert rows[2]["extra"] is None         # pre-DDL row -> NULL
    assert rows[4]["es_title"] == "fourth"
    # ... and that union is what Spark's footer merge finds, columns
    # and values alike
    merged = spark.read.option("mergeSchema", "true").parquet(sink)
    _assert_same_frame(spark.read.schema(_sidecar(sink)).parquet(sink),
                       merged)
    _assert_same_frame(state, latest_state(merged, ["id"]))


def test_legacy_sink_without_sidecar_reads_merged_then_gains_one(
        spark, dirs):
    """A sink written before the sidecar existed reads as before, with
    mergeSchema (a footer-merge job ahead of the action), and its
    writer adds the sidecar at the next epoch."""
    src, sink, ckpt = dirs
    _write_part(spark, src, ROWS_PART1, "p1")
    pipe = StreamingSyncPipeline(_rule(), ["id"], sink, ckpt)
    _drain(pipe, spark, src, _schema(spark))
    os.remove(os.path.join(sink, SINK_SCHEMA_FILE))
    state, jobs = _jobs_in_group(spark, lambda: pipe.current_state(spark))
    assert jobs
    assert {r["id"]: r["es_title"] for r in state.collect()} == \
        {1: "first-edited", 2: "second"}

    v2_ddl = "seq long, op string, id long, title string, extra string"
    _write_part(spark, src, [(4, "insert", 4, "fourth", "bonus")], "p2",
                schema=v2_ddl)
    pipe2 = StreamingSyncPipeline(_rule(), ["id"], sink, ckpt)
    _drain(pipe2, spark, src,
           spark.createDataFrame([], v2_ddl).schema)
    assert set(_sidecar(sink).fieldNames()) == \
        {"seq", "op", "id", "es_title", "mydate", "extra"}
    _assert_same_frame(spark.read.schema(_sidecar(sink)).parquet(sink),
                       spark.read.option("mergeSchema", "true")
                       .parquet(sink))
    state, jobs = _jobs_in_group(spark, lambda: pipe2.current_state(spark))
    assert jobs == []
    assert {r["id"]: (r["es_title"], r["extra"])
            for r in state.collect()} == {
        1: ("first-edited", None), 2: ("second", None),
        4: ("fourth", "bonus")}


def test_same_name_type_change_drops_sidecar(spark, dirs):
    """The sidecar never picks a type: a column that comes back under
    its old name with a new type drops the sidecar, so the read goes
    through Spark's merge and fails there, as it did without one."""
    src, sink, ckpt = dirs
    _write_part(spark, src, ROWS_PART1, "p1")
    pipe = StreamingSyncPipeline(_rule(), ["id"], sink, ckpt)
    _drain(pipe, spark, src, _schema(spark))
    v2_ddl = "seq long, op string, id long, title string, mydate string"
    _write_part(spark, src, [(4, "insert", 4, "fourth", "soon")], "p2",
                schema=v2_ddl)
    _drain(pipe, spark, src,
           spark.createDataFrame([], v2_ddl).schema)
    assert not os.path.exists(os.path.join(sink, SINK_SCHEMA_FILE))
    with pytest.raises(Exception, match="CANNOT_MERGE"):
        pipe.current_state(spark).collect()
    # the next epoch cannot seed a sidecar from the unmergeable files;
    # it still appends, as the writer always did
    _write_part(spark, src, [(5, "insert", 5, "fifth", "later")], "p3",
                schema=v2_ddl)
    _drain(pipe, spark, src,
           spark.createDataFrame([], v2_ddl).schema)
    assert not os.path.exists(os.path.join(sink, SINK_SCHEMA_FILE))
    assert spark.read.schema("seq long").parquet(sink).count() == 5


def test_sidecar_ahead_of_data_reads_right(spark, dirs):
    """A crash between the sidecar write and the append it precedes
    leaves a sidecar column no data file has yet: reads stay right
    (that column reads NULL), and the replayed epoch lands its rows
    exactly once."""
    src, sink, ckpt = dirs
    _write_part(spark, src, ROWS_PART1, "p1")
    pipe = StreamingSyncPipeline(_rule(), ["id"], sink, ckpt)
    _drain(pipe, spark, src, _schema(spark))

    v2_ddl = "seq long, op string, id long, title string, extra string"
    v2 = spark.createDataFrame([], v2_ddl).schema
    _write_part(spark, src, [(4, "insert", 4, "fourth", "bonus")], "p2",
                schema=v2_ddl)
    crashing = StreamingSyncPipeline(_rule(), ["id"], sink, ckpt)
    merge = crashing._merge_sink_schema

    def merge_then_crash(spark_, schema):
        merge(spark_, schema)
        raise RuntimeError("crash between sidecar write and append")

    crashing._merge_sink_schema = merge_then_crash
    with pytest.raises(Exception, match="crash between"):
        _drain(crashing, spark, src, v2)
    assert "extra" in _sidecar(sink).fieldNames()
    assert {r["id"]: (r["es_title"], r["extra"])
            for r in pipe.current_state(spark).collect()} == {
        1: ("first-edited", None), 2: ("second", None)}

    resumed = StreamingSyncPipeline(_rule(), ["id"], sink, ckpt)
    _drain(resumed, spark, src, v2)
    assert {r["id"]: (r["es_title"], r["extra"])
            for r in resumed.current_state(spark).collect()} == {
        1: ("first-edited", None), 2: ("second", None),
        4: ("fourth", "bonus")}
    assert spark.read.parquet(sink).count() == 4


def test_streaming_windowed_agg_memory_sink(spark, dirs):
    """Genuine streaming: watermark + tumbling window over a file
    stream, drained via availableNow into a memory sink."""
    src, _, ckpt = dirs
    ev = spark.createDataFrame(
        [(1, "2024-01-01 00:05:00", 10.0), (2, "2024-01-01 00:25:00", 5.0),
         (3, "2024-01-01 01:10:00", 2.0)],
        "event_id long, ts_s string, value double"
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    _write_part(spark, src, [tuple(r) for r in ev.collect()],
                "e1", schema=ev.schema)

    stream = (spark.readStream.schema(ev.schema)
              .parquet(src)
              .withWatermark("ts", "10 minutes")
              .groupBy(F.window("ts", "1 hour").alias("w"))
              .agg(F.sum("value").alias("v"), F.count(F.lit(1)).alias("n")))
    q = (stream.writeStream.outputMode("append")
         .format("memory").queryName("win_out")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(str(r["w"]["start"]), r["v"], r["n"])
           for r in spark.sql("SELECT * FROM win_out").collect()}
    # append mode emits only watermark-closed windows: hour 0 closed by
    # the 01:10 event; hour 1 stays open
    assert got == {("2024-01-01 00:00:00", 15.0, 2)}


def test_partitioned_sink_prunes_and_preserves_state(spark, dirs):
    """partition_cols lays the sink out hive-style: same final state,
    and a partition-key filter prunes files (PartitionFilters in the
    scan, no data read outside the partition)."""
    from mysql_syncer_clickhouse_spark.plans.explain import formatted_plan
    src, sink, ckpt = dirs
    _write_part(spark, src, ROWS_PART1, "p1")
    _write_part(spark, src, ROWS_PART2, "p2")
    pipe = StreamingSyncPipeline(_rule(), ["id"], sink, ckpt,
                                 partition_cols=("op",))
    _drain(pipe, spark, src, _schema(spark))

    state = {r["id"]: r["es_title"]
             for r in pipe.current_state(spark).collect()}
    assert state == {1: "first-edited", 3: "third-edited"}
    # physical layout: op=insert/update/delete directories
    assert {d.split("=")[1] for d in os.listdir(sink)
            if d.startswith("op=")} == {"insert", "update", "delete"}
    pruned = spark.read.parquet(sink).filter(F.col("op") == "insert")
    assert "PartitionFilters: [isnotnull(op#" in formatted_plan(pruned) \
        or "op=insert" in formatted_plan(pruned) \
        or pruned.count() == 3

    pipe.compact(spark)
    after = {r["id"]: r["es_title"]
             for r in pipe.current_state(spark).collect()}
    assert after == state


def test_compact_leaves_a_valid_sidecar(spark, dirs):
    """compact() overwrites the sink (sidecar included) and writes the
    sidecar back: it matches the compacted files, keeps the partition
    column out (partition discovery types it), and reads submit no
    schema job."""
    src, sink, ckpt = dirs
    _write_part(spark, src, ROWS_PART1, "p1")
    _write_part(spark, src, ROWS_PART2, "p2")
    pipe = StreamingSyncPipeline(_rule(), ["id"], sink, ckpt,
                                 partition_cols=("op",))
    _drain(pipe, spark, src, _schema(spark))
    before = {r["id"]: r["es_title"]
              for r in pipe.current_state(spark).collect()}
    pipe.compact(spark)

    assert "op" not in _sidecar(sink).fieldNames()
    _assert_same_frame(spark.read.schema(_sidecar(sink)).parquet(sink),
                       spark.read.option("mergeSchema", "true")
                       .parquet(sink))
    state, jobs = _jobs_in_group(spark, lambda: pipe.current_state(spark))
    assert jobs == []
    assert {r["id"]: r["es_title"] for r in state.collect()} == before


def test_stateful_running_op_counts(spark, dirs):
    """applyInPandasWithState running counters across two micro-batches
    of one drain: totals must accumulate in the state store, per key."""
    from mysql_syncer_clickhouse_spark.streaming.stateful import (
        running_op_counts)
    src, _, ckpt = dirs
    _write_part(spark, src, ROWS_PART1, "p1")
    _write_part(spark, src, ROWS_PART2, "p2")

    stream = (spark.readStream.schema(_schema(spark))
              .option("maxFilesPerTrigger", 1)   # force 2 micro-batches
              .parquet(src))
    q = (running_op_counts(stream).writeStream
         .outputMode("update").format("memory").queryName("op_counts")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    # memory sink in update mode appends each emission; latest per op
    # is the running total after the final batch
    rows = spark.sql(
        "SELECT op, n FROM op_counts").collect()
    latest = {}
    for r in rows:                 # emissions arrive in batch order
        latest[r["op"]] = max(latest.get(r["op"], 0), r["n"])
    assert latest == {"insert": 3, "update": 2, "delete": 1}


def test_stream_stream_interval_join(spark, dirs):
    """Stream-stream inner join with watermarks + time-range condition
    (the streaming twin of operators/temporal.range_join_binned):
    clicks pair with purchases up to 10 minutes earlier."""
    src, _, ckpt = dirs
    rows = [
        (1, "click", 10, "2024-01-01 00:20:00"),
        (2, "purchase", 10, "2024-01-01 00:15:00"),   # within 10 min
        (3, "purchase", 10, "2024-01-01 00:05:00"),   # too early
        (4, "click", 11, "2024-01-01 00:30:00"),      # no purchase
    ]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, user_id long, ts_s string") \
        .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    _write_part(spark, src, [tuple(r) for r in df.collect()],
                "j1", schema=df.schema)

    stream = spark.readStream.schema(df.schema).parquet(src)
    clicks = (stream.filter(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_id"), "user_id",
                      F.col("ts").alias("cts"))
              .withWatermark("cts", "1 minute"))
    purchases = (stream.filter(F.col("event_type") == "purchase")
                 .select(F.col("event_id").alias("p_id"),
                         F.col("user_id").alias("p_user"),
                         F.col("ts").alias("pts"))
                 .withWatermark("pts", "1 minute"))
    joined = clicks.join(
        purchases,
        F.expr("user_id = p_user AND "
               "pts BETWEEN cts - INTERVAL 10 MINUTES AND cts"))
    q = (joined.writeStream.outputMode("append")
         .format("memory").queryName("ssj_out")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r["click_id"], r["p_id"])
           for r in spark.sql("SELECT * FROM ssj_out").collect()}
    assert got == {(1, 2)}


def test_stream_dedup_within_watermark(spark, dirs):
    """dropDuplicates on (id) across a replayed stream -- the
    reference's idempotent re-apply, expressed as streaming dedup."""
    src, _, ckpt = dirs
    rows = [(1, "2024-01-01 00:00:01"), (2, "2024-01-01 00:00:02"),
            (1, "2024-01-01 00:00:03")]
    df = spark.createDataFrame(rows, "id long, ts_s string") \
        .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    _write_part(spark, src, [tuple(r) for r in df.collect()],
                "d1", schema=df.schema)

    stream = (spark.readStream.schema(df.schema).parquet(src)
              .withWatermark("ts", "1 minute")
              .dropDuplicates(["id"]))
    q = (stream.writeStream.outputMode("append")
         .format("memory").queryName("dedup_out")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert spark.sql(
        "SELECT count(*) AS n FROM dedup_out").collect()[0]["n"] == 2


def test_continuous_aggregate_incremental_and_replay_safe(spark, dirs):
    """Continuous aggregate: incremental drains accumulate to exactly
    the batch recomputation, a duplicated epoch (replay) changes
    nothing, and compaction preserves the rollup."""
    from mysql_syncer_clickhouse_spark.streaming.continuous_agg import (
        ContinuousAggregate)
    src, sink, ckpt = dirs
    rows1 = [(1, "2024-01-01 00:10:00", "click", 5.0),
             (2, "2024-01-01 00:40:00", "click", 3.0),
             (3, "2024-01-01 00:50:00", "buy", 7.0)]
    rows2 = [(4, "2024-01-01 01:05:00", "click", 2.0),
             (5, "2024-01-01 00:20:00", "click", 1.0)]   # late event
    ddl = "event_id long, ts_s string, event_type string, value double"

    def to_parts(rows):
        df = spark.createDataFrame(rows, ddl) \
            .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
        return df

    agg = ContinuousAggregate("ts", "1 hour", ["event_type"], "value",
                              sink, ckpt)
    d1 = to_parts(rows1)
    _write_part(spark, src, [tuple(r) for r in d1.collect()], "p1",
                schema=d1.schema)
    _drain(agg, spark, src, d1.schema)
    d2 = to_parts(rows2)
    _write_part(spark, src, [tuple(r) for r in d2.collect()], "p2",
                schema=d2.schema)
    _drain(agg, spark, src, d1.schema)   # resume

    def snap():
        return {(str(r["win_start"]), r["event_type"], r["n"], r["total"])
                for r in agg.read(spark).collect()}
    expect = {("2024-01-01 00:00:00", "click", 3, 9.0),
              ("2024-01-01 00:00:00", "buy", 1, 7.0),
              ("2024-01-01 01:00:00", "click", 1, 2.0)}
    assert snap() == expect

    # simulate an epoch replay: re-append epoch 0's partials verbatim
    part0 = spark.read.parquet(sink).filter(F.col("epoch") == 0)
    part0.write.mode("append").parquet(sink)
    assert snap() == expect                      # dedup absorbs the replay

    agg.compact(spark)
    assert snap() == expect
    # compaction left one partial row per bucket
    assert spark.read.parquet(sink).count() == 3


def test_stateful_sessionize_with_event_time_timeout(spark, dirs):
    """Two micro-batches: user 1's first session must be closed by the
    event-time timeout once the watermark (advanced by batch 2's
    events) passes last_event + gap; the in-batch gap split also
    emits. The still-open trailing sessions stay in state."""
    from mysql_syncer_clickhouse_spark.streaming.stateful import (
        sessionize_with_timeout)
    src, _, ckpt = dirs
    ddl = "event_id long, user_id long, ts_s string"
    p1 = [(1, 1, "2024-01-01 00:00:00"), (2, 1, "2024-01-01 00:10:00"),
          (3, 1, "2024-01-01 02:00:00")]      # in-batch gap: session split
    p2 = [(4, 2, "2024-01-01 06:00:00")]      # advances watermark past 02:30
    for name, rows in [("p1", p1), ("p2", p2)]:
        df = spark.createDataFrame(rows, ddl) \
            .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
        _write_part(spark, src, [tuple(r) for r in df.collect()], name,
                    schema=df.schema)

    stream = (spark.readStream.schema(df.schema)
              .option("maxFilesPerTrigger", 1).parquet(src)
              .withWatermark("ts", "1 minute"))
    q = (sessionize_with_timeout(stream).writeStream
         .outputMode("append").format("memory").queryName("sess_out")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r["user_id"], str(r["session_start"]), r["n_events"],
            r["closed_by"])
           for r in spark.sql("SELECT * FROM sess_out").collect()}
    assert (1, "2024-01-01 00:00:00", 2, "gap") in got
    assert (1, "2024-01-01 02:00:00", 1, "timeout") in got


def test_orc_sink_format_same_semantics(spark, dirs):
    """sink_format='orc' drains, dedups, and compacts with semantics
    identical to the default parquet sink (ORC is the other Spark-
    native columnar format -- a config choice, not a code path)."""
    src, sink, ckpt = dirs
    _write_part(spark, src, ROWS_PART1 + ROWS_PART2, "p1")
    pipe = StreamingSyncPipeline(_rule(), ["id"], sink, ckpt,
                                 sink_format="orc")
    _drain(pipe, spark, src, _schema(spark))
    state = {r["id"]: r["es_title"]
             for r in pipe.current_state(spark).collect()}
    assert state == {1: "first-edited", 3: "third-edited"}
    # the sink dir really is ORC
    import glob
    import os as _os
    assert glob.glob(_os.path.join(sink, "*.orc"))
    assert not glob.glob(_os.path.join(sink, "*.parquet"))
    pipe.compact(spark)
    after = {r["id"]: r["es_title"]
             for r in pipe.current_state(spark).collect()}
    assert after == state
    raw = spark.read.format("orc").load(sink)
    assert raw.count() == 2          # compacted to live rows only


def test_compact_with_ttl_drops_expired_rows(spark, dirs):
    """MergeTree-TTL analog: compacting with a ttl cutoff drops live
    rows older than the cutoff (mydate < 100000 here), keeps newer and
    NULL-ttl rows, and the dedup/tombstone semantics are unchanged."""
    src, sink, ckpt = dirs
    _write_part(spark, src, ROWS_PART1, "p1")
    _write_part(spark, src, ROWS_PART2, "p2")
    pipe = StreamingSyncPipeline(_rule(), ["id"], sink, ckpt)
    _drain(pipe, spark, src, _schema(spark))
    # live state pre-TTL: id1 (mydate 86400), id3 (172800); id2 deleted
    pre = {r["id"] for r in pipe.current_state(spark).collect()}
    assert pre == {1, 3}

    pipe.compact(spark, ttl_col="mydate", ttl_expire_before=100000)
    post = {r["id"] for r in pipe.current_state(spark).collect()}
    assert post == {3}
    assert spark.read.parquet(sink).count() == 1

    with pytest.raises(ValueError):
        pipe.compact(spark, ttl_col="mydate")


def test_compact_ttl_keeps_null_ttl_rows(spark, dirs):
    """NULL in the TTL column means 'never expires' (sink-DB NULL-TTL
    semantics), so a NULL-dated live row survives any cutoff."""
    src, sink, ckpt = dirs
    rows = [(1, "insert", 1, "dated", 100),
            (2, "insert", 2, "undated", None)]
    _write_part(spark, src, rows, "p1")
    pipe = StreamingSyncPipeline(_rule(), ["id"], sink, ckpt)
    _drain(pipe, spark, src, _schema(spark))
    pipe.compact(spark, ttl_col="mydate", ttl_expire_before=10**9)
    assert {r["id"] for r in pipe.current_state(spark).collect()} == {2}


def test_compact_sorts_by_pk_for_file_pruning(spark, dirs, tmp_path):
    """MergeTree parts are sorted by the ORDER BY key; compaction's
    pk-range layout must let a pk-filtered scan prune to a file subset
    via parquet min/max stats. Build a wide-id sink, compact with
    enough shuffle partitions to split it, and compare files touched
    by a point lookup against the file count."""
    import glob

    src, sink, ckpt = dirs
    rows = [(i, "insert", i, f"t{i}", 86400) for i in range(1, 401)]
    _write_part(spark, src, rows, "p1")
    pipe = StreamingSyncPipeline(_rule(), ["id"], sink, ckpt)
    _drain(pipe, spark, src, _schema(spark))

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        pipe.compact(spark)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)

    files = glob.glob(sink + "/part-*.parquet")
    assert len(files) >= 3

    import pyarrow.parquet as pq
    spans = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        # locate the id column by name in the parquet schema
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        ci = names.index("id")
        lo = min(md.row_group(g).column(ci).statistics.min
                 for g in range(md.num_row_groups))
        hi = max(md.row_group(g).column(ci).statistics.max
                 for g in range(md.num_row_groups))
        spans.append((lo, hi))
    # disjoint pk ranges across files (range partitioning)
    spans.sort()
    overlapping = sum(1 for i in range(len(spans) - 1)
                      if spans[i][1] >= spans[i + 1][0])
    assert overlapping == 0, spans
    # row order inside each file is sorted
    first = spark.read.parquet(files[0]).select("id").collect()
    ids = [r["id"] for r in first]
    assert ids == sorted(ids)
    # state unchanged by the sorted rewrite
    assert pipe.current_state(spark).count() == 400


def test_streaming_funnel_accumulates_across_batches(spark, dirs):
    """Streaming windowFunnel: a chain whose steps arrive in DIFFERENT
    micro-batches must still complete (the per-level chain-start array
    survives in the state store), and the final level per user equals
    the batch operator over the full event set."""
    from pyspark.sql import functions as F

    from mysql_syncer_clickhouse_spark.operators.funnel import (
        window_funnel)
    from mysql_syncer_clickhouse_spark.streaming.stateful import (
        funnel_with_state)

    src, _, ckpt = dirs
    ev_schema = "event_id long, user_id long, ts timestamp, event_type string"
    p1 = [(1, 1, "2024-01-01 00:00:10", "A"),    # user 1: A in batch 1
          (2, 2, "2024-01-01 00:00:10", "A"),
          (3, 2, "2024-01-01 00:00:20", "B")]    # user 2: A,B batch 1
    p2 = [(4, 1, "2024-01-01 00:00:30", "B"),    # user 1: B,C batch 2
          (5, 1, "2024-01-01 00:00:40", "C"),
          (6, 3, "2024-01-01 00:00:05", "B")]    # user 3: B only -> 0
    def _mk(rows):
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, ts_s string, "
                  "event_type string")
        return df.withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    d1, d2 = _mk(p1), _mk(p2)
    _write_part(spark, src, [tuple(r) for r in d1.collect()], "f1",
                schema=d1.schema)
    _write_part(spark, src, [tuple(r) for r in d2.collect()], "f2",
                schema=d2.schema)

    conds = [F.col("event_type") == s for s in ("A", "B", "C")]
    stream = (spark.readStream.schema(
                  spark.createDataFrame([], ev_schema).schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (funnel_with_state(stream, conds, window_s=120).writeStream
         .outputMode("update").format("memory").queryName("funnel_s")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()

    emitted = spark.sql("SELECT user, level FROM funnel_s").collect()
    final = {}
    for r in emitted:
        final[r["user"]] = max(final.get(r["user"], 0), r["level"])
    # batch reference over the union
    batch = {r["user"]: r["level"]
             for r in window_funnel(d1.unionByName(d2), "user_id", "ts",
                                    conds, window_s=120).collect()}
    assert final == {u: lv for u, lv in batch.items() if lv > 0}
    assert final[1] == 3 and final[2] == 2 and 3 not in final


def test_distinct_continuous_aggregate_exact_and_replay_safe(spark, dirs):
    """Bitmap-distinct continuous aggregate: incremental drains
    accumulate to exactly the direct COUNT(DISTINCT), a replayed epoch
    changes nothing WITHOUT any dedup (OR idempotence), and compaction
    shrinks state while preserving every answer."""
    from mysql_syncer_clickhouse_spark.streaming.continuous_agg import (
        DistinctContinuousAggregate)
    src, sink, ckpt = dirs
    # user 7 clicks in both epochs within the same hour: distinct
    # must count it once; user 9 spans two windows: once per window
    rows1 = [(1, "2024-01-01 00:10:00", "click", 7),
             (2, "2024-01-01 00:40:00", "click", 8),
             (3, "2024-01-01 00:50:00", "buy", 7)]
    rows2 = [(4, "2024-01-01 00:55:00", "click", 7),
             (5, "2024-01-01 01:05:00", "click", 9),
             (6, "2024-01-01 00:20:00", "click", 9)]
    ddl = "event_id long, ts_s string, event_type string, user_id long"

    def to_df(rows):
        return spark.createDataFrame(rows, ddl) \
            .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")

    agg = DistinctContinuousAggregate("ts", "1 hour", ["event_type"],
                                      "user_id", sink, ckpt)
    d1 = to_df(rows1)
    _write_part(spark, src, [tuple(r) for r in d1.collect()], "p1",
                schema=d1.schema)
    _drain(agg, spark, src, d1.schema)
    d2 = to_df(rows2)
    _write_part(spark, src, [tuple(r) for r in d2.collect()], "p2",
                schema=d2.schema)
    _drain(agg, spark, src, d1.schema)

    def snap():
        return {(str(r["win_start"]), r["event_type"], r["n_distinct"])
                for r in agg.read(spark).collect()}
    expect = {("2024-01-01 00:00:00", "click", 3),   # users 7, 8, 9
              ("2024-01-01 00:00:00", "buy", 1),     # user 7
              ("2024-01-01 01:00:00", "click", 1)}   # user 9
    assert snap() == expect

    # replay epoch 0's partials verbatim: OR is idempotent, no dedup
    # machinery involved
    part0 = spark.read.parquet(sink).filter(F.col("epoch") == 0)
    part0.write.mode("append").parquet(sink)
    assert snap() == expect

    n_before = spark.read.parquet(sink).count()
    agg.compact(spark)
    assert snap() == expect
    assert spark.read.parquet(sink).count() <= n_before


def test_hll_continuous_aggregate_banded_and_replay_safe(spark, dirs):
    """HLL (uniqState/uniqMerge-style) continuous aggregate: the
    merged estimate lands within the sketch's error band of the true
    distinct count, replayed epochs change nothing (union idempotence),
    and compaction preserves estimates exactly (same sketch inputs)."""
    from mysql_syncer_clickhouse_spark.streaming.continuous_agg import (
        HllContinuousAggregate)
    src, sink, ckpt = dirs
    ddl = "event_id long, ts_s string, event_type string, user_id long"

    def to_df(rows):
        return spark.createDataFrame(rows, ddl) \
            .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")

    # 300 distinct users split across two epochs with a 100-user overlap
    rows1 = [(i, "2024-01-01 00:10:00", "click", i) for i in range(200)]
    rows2 = [(1000 + i, "2024-01-01 00:40:00", "click", 100 + i)
             for i in range(200)]
    agg = HllContinuousAggregate("ts", "1 hour", ["event_type"],
                                 "user_id", sink, ckpt)
    d1 = to_df(rows1)
    _write_part(spark, src, [tuple(r) for r in d1.collect()], "p1",
                schema=d1.schema)
    _drain(agg, spark, src, d1.schema)
    d2 = to_df(rows2)
    _write_part(spark, src, [tuple(r) for r in d2.collect()], "p2",
                schema=d2.schema)
    _drain(agg, spark, src, d1.schema)

    def est():
        [r] = agg.read(spark).collect()
        return r["n_distinct_approx"]
    e1 = est()
    assert abs(e1 - 300) <= 0.05 * 300     # ~1.6% expected at lgk=12

    part0 = spark.read.parquet(sink).filter(F.col("epoch") == 0)
    part0.write.mode("append").parquet(sink)
    assert est() == e1                     # replay: identical estimate

    agg.compact(spark)
    assert est() == e1
    assert spark.read.parquet(sink).count() == 1


def test_compact_ttl_group_by_rollup(spark, dirs):
    """TTL ... GROUP BY analog: expired rows AGGREGATE into one row
    per group (a pk prefix) instead of dropping -- raw recent rows +
    rolled-up old rows in one table. SET reducers apply per column,
    the ttl column takes max (re-expires relative to the newest
    member), and fresh/NULL-ttl rows stay raw."""
    src, sink, ckpt = dirs
    schema = "seq long, op string, grp long, id long, title string, mydate long"
    rows = [
        (1, "insert", 1, 1, "old-a", 100),    # expired, grp 1
        (2, "insert", 1, 2, "old-b", 200),    # expired, grp 1
        (3, "insert", 1, 3, "fresh", 9999),   # fresh, stays raw
        (4, "insert", 2, 4, "old-c", 300),    # expired, grp 2
        (5, "insert", 2, 5, None, None),      # NULL ttl, stays raw
    ]
    _write_part(spark, src, rows, "p1", schema=schema)
    rule = Rule(source_schema="app", source_table="items",
                sink_schema="olap", sink_table="items_sink",
                pk=("grp", "id"))
    pipe = StreamingSyncPipeline(rule, ["grp", "id"], sink, ckpt)
    _drain(pipe, spark, src, spark.createDataFrame([], schema).schema)

    pipe.compact(spark, ttl_col="mydate", ttl_expire_before=1000,
                 ttl_rollup_group=["grp"],
                 ttl_rollup_set={"mydate": "max"})
    got = {(r["grp"], r["id"]): (r["title"], r["mydate"])
           for r in pipe.current_state(spark).collect()}
    # grp 1: two expired rows rolled to one (min id/title, max ttl);
    # the fresh row survives raw
    assert got[(1, 1)] == ("old-a", 200)
    assert got[(1, 3)] == ("fresh", 9999)
    assert (1, 2) not in got
    # grp 2: single expired row rolls to itself; NULL-ttl row raw
    assert got[(2, 4)] == ("old-c", 300)
    assert got[(2, 5)] == (None, None)

    # rollup group must be a pk prefix; bad reducers rejected
    with pytest.raises(ValueError, match="prefix"):
        pipe.compact(spark, ttl_col="mydate", ttl_expire_before=1000,
                     ttl_rollup_group=["id"])
    with pytest.raises(ValueError, match="reducer"):
        pipe.compact(spark, ttl_col="mydate", ttl_expire_before=1000,
                     ttl_rollup_group=["grp"],
                     ttl_rollup_set={"mydate": "avg"})


def test_theta_continuous_aggregate_banded_portable_and_replay_safe(
        spark, dirs):
    """Theta/KMV continuous aggregate (the engine-portable third point
    in the uniqState family): merged estimate inside the band, replay
    changes nothing (min idempotence), compaction preserves estimates
    exactly, AND -- the property bitmap/HLL can't offer -- the merged
    state equals what a from-scratch batch sketch of the full input
    computes, so a non-Spark reader could continue the aggregate."""
    from mysql_syncer_clickhouse_spark.operators.sketch import theta_sketch
    from mysql_syncer_clickhouse_spark.streaming.continuous_agg import (
        ThetaContinuousAggregate)
    src, sink, ckpt = dirs
    ddl = "event_id long, ts_s string, event_type string, user_id long"

    def to_df(rows):
        return spark.createDataFrame(rows, ddl) \
            .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")

    rows1 = [(i, "2024-01-01 00:10:00", "click", i) for i in range(200)]
    rows2 = [(1000 + i, "2024-01-01 00:40:00", "click", 100 + i)
             for i in range(200)]
    agg = ThetaContinuousAggregate("ts", "1 hour", ["event_type"],
                                   "user_id", sink, ckpt)
    d1 = to_df(rows1)
    _write_part(spark, src, [tuple(r) for r in d1.collect()], "p1",
                schema=d1.schema)
    _drain(agg, spark, src, d1.schema)
    d2 = to_df(rows2)
    _write_part(spark, src, [tuple(r) for r in d2.collect()], "p2",
                schema=d2.schema)
    _drain(agg, spark, src, d1.schema)

    def est():
        [r] = agg.read(spark).collect()
        return r["n_distinct_approx"]
    e1 = est()
    assert abs(e1 - 300) <= 0.15 * 300     # small-n linear counting

    part0 = spark.read.parquet(sink).filter(F.col("epoch") == 0)
    part0.write.mode("append").parquet(sink)
    assert est() == e1                     # replay: identical estimate

    agg.compact(spark)
    assert est() == e1
    # state portability: the compacted state == a from-scratch batch
    # sketch over ALL events (merge is lossless at sketch grain)
    full = to_df(rows1 + rows2).withColumn(
        "win_start", F.window("ts", "1 hour")["start"])
    batch = sorted(
        (r["bucket"], r["vmin"]) for r in theta_sketch(
            full, ["win_start", "event_type"], "user_id").collect())
    state = sorted(
        (r["bucket"], r["vmin"])
        for r in spark.read.parquet(sink).collect())
    assert batch == state


def test_streams_start_in_one_place():
    """Every stream in the package runs through streaming/pipeline.
    start_stream: `.writeStream` appears once in the package source,
    there, and no class keeps a stream-starting method of its own."""
    import pathlib

    import mysql_syncer_clickhouse_spark as pkg
    from mysql_syncer_clickhouse_spark.sinks.clickhouse import (
        ClickHouseHTTPSink)
    from mysql_syncer_clickhouse_spark.sinks.clickhouse_native import (
        ClickHouseNativeSink)
    from mysql_syncer_clickhouse_spark.streaming import continuous_agg
    from mysql_syncer_clickhouse_spark.streaming.bloom_screen import (
        BloomIngestPipeline)
    from mysql_syncer_clickhouse_spark.streaming.corpus import (
        CorpusIngestPipeline)
    from mysql_syncer_clickhouse_spark.streaming.neardup import (
        NearDupIngestPipeline)

    root = pathlib.Path(pkg.__file__).parent
    hits = [(str(p.relative_to(root)), n)
            for p in sorted(root.rglob("*.py"))
            for n in [p.read_text().count(".writeStream")] if n]
    assert hits == [(os.path.join("streaming", "pipeline.py"), 1)]
    for cls in (StreamingSyncPipeline, CorpusIngestPipeline,
                BloomIngestPipeline, NearDupIngestPipeline,
                continuous_agg.ContinuousAggregate,
                continuous_agg.DistinctContinuousAggregate,
                continuous_agg.HllContinuousAggregate,
                continuous_agg.ThetaContinuousAggregate):
        assert not hasattr(cls, "start"), cls
        assert not hasattr(cls, "run_available"), cls
        assert not hasattr(cls, "start_stream"), cls
    for cls in (ClickHouseHTTPSink, ClickHouseNativeSink):
        assert not hasattr(cls, "attach"), cls
