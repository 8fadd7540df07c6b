"""Bounded-state Bloom dedup screening (streaming/bloom_screen.py):
in-batch + cross-batch + cross-restart duplicate dropping, epoch-replay
safety, and the bounded merge-on-read state contract."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from mysql_syncer_clickhouse_spark.streaming.bloom_screen import (
    BloomIngestPipeline)
from mysql_syncer_clickhouse_spark.streaming.pipeline import start_stream

SCHEMA_DDL = "doc_id long, source string, text string, ts timestamp"


def _schema(spark):
    return spark.createDataFrame([], SCHEMA_DDL).schema


def _drain(pipe, spark, src):
    """Drain every doc file now in `src` through `pipe`, one file per
    epoch, then stop."""
    stream = (spark.readStream.schema(_schema(spark))
              .option("maxFilesPerTrigger", 1).parquet(src))
    start_stream(stream, pipe._apply_batch,
                 pipe.checkpoint_dir).awaitTermination()


def _write_part(spark, src, rows, name):
    df = spark.createDataFrame(rows, SCHEMA_DDL).coalesce(1)
    tmp = src + f".__tmp_{name}"
    df.write.mode("overwrite").parquet(tmp)
    os.makedirs(src, exist_ok=True)
    part = glob.glob(tmp + "/part-*.parquet")[0]
    shutil.move(part, os.path.join(src, f"{name}.parquet"))
    shutil.rmtree(tmp)


@pytest.fixture()
def dirs(tmp_path):
    return {k: str(tmp_path / k)
            for k in ("src", "sink", "ckpt", "state")}


def _ts(spark, s):
    return spark.sql(f"SELECT timestamp'{s}'").collect()[0][0]


def _pipe(dirs):
    return BloomIngestPipeline(sink_dir=dirs["sink"],
                               checkpoint_dir=dirs["ckpt"],
                               state_dir=dirs["state"])


def test_bloom_screen_within_and_across_batches(spark, dirs):
    t0 = _ts(spark, "2026-01-01 10:00:00")
    pipe = _pipe(dirs)
    _write_part(spark, dirs["src"], [
        (1, "web", "alpha text", t0),
        (2, "web", "alpha text", t0),    # in-batch exact dup -> dropped
        (3, "web", "beta text", t0),
    ], "p1")
    _write_part(spark, dirs["src"], [
        (4, "web", "alpha text", t0),    # cross-batch dup -> dropped
        (5, "web", "gamma text", t0),
    ], "p2")
    _drain(pipe, spark, dirs["src"])

    ids = {r["doc_id"] for r in pipe.corpus(spark).collect()}
    assert ids == {1, 3, 5}
    snap = pipe.metrics.snapshot()
    assert snap["ingested"] == 5
    assert snap["kept"] == 3
    assert snap["dropped_seen"] == 2
    assert snap["epochs"] >= 2


def test_bloom_screen_survives_restart_horizon_free(spark, dirs):
    """The whole point vs watermarked dropDuplicates: a duplicate
    arriving arbitrarily later (new pipeline object, new checkpoint
    epoch) is still dropped, with state that stayed <= m/32 words."""
    t0 = _ts(spark, "2026-01-01 10:00:00")
    pipe = _pipe(dirs)
    _write_part(spark, dirs["src"],
                [(1, "web", "original doc", t0)], "p1")
    _drain(pipe, spark, dirs["src"])

    pipe2 = _pipe(dirs)
    _write_part(spark, dirs["src"], [
        (6, "web", "original doc", t0),   # long-horizon duplicate
        (7, "web", "fresh doc", t0),
    ], "p2")
    _drain(pipe2, spark, dirs["src"])
    ids = {r["doc_id"] for r in pipe2.corpus(spark).collect()}
    assert ids == {1, 7}

    state = spark.read.parquet(dirs["state"])
    assert state.count() <= pipe.m_bits // 32 * pipe2.metrics.epochs \
        + pipe.m_bits // 32


def test_bloom_replay_keeps_same_docs(spark, dirs):
    """Crash-after-state-append replay: the probe excludes the current
    epoch's state rows, so re-running the SAME epoch keeps the same
    docs; the sink is exactly-once (epoch-partitioned dynamic
    overwrite replaces the replayed partition) and the duplicated
    STATE appends dedup away via idempotent OR."""
    t0 = _ts(spark, "2026-01-01 10:00:00")
    pipe = _pipe(dirs)
    batch = spark.createDataFrame(
        [(1, "web", "doc one", t0), (2, "web", "doc two", t0)],
        SCHEMA_DDL)
    pipe._apply_batch(batch, 0)
    pipe._apply_batch(batch, 0)          # replay of the SAME epoch
    sink = spark.read.parquet(dirs["sink"])
    assert {r["doc_id"] for r in sink.collect()} == {1, 2}
    assert sink.count() == 2             # exactly-once: no dup rows
    # a later epoch still drops both
    pipe._apply_batch(batch, 1)
    kept2 = (spark.read.parquet(dirs["sink"])
             .groupBy("doc_id").count())
    # epoch-1 contributed nothing new
    assert {r["doc_id"] for r in kept2.collect()} == {1, 2}
    assert pipe.metrics.dropped_seen == 2


def test_bloom_state_compacts_by_or_merge(spark, dirs):
    """Any prefix of epochs OR-merges into one epoch without changing
    future screens -- the merge-on-read compaction contract."""
    t0 = _ts(spark, "2026-01-01 10:00:00")
    pipe = _pipe(dirs)
    for e, txt in enumerate(["d1", "d2", "d3"]):
        pipe._apply_batch(spark.createDataFrame(
            [(e, "w", txt, t0)], SCHEMA_DDL), e)
    state = spark.read.parquet(dirs["state"])
    tmp = dirs["state"] + ".__compact"
    (state.groupBy("word")
          .agg(F.bit_or("bits").alias("bits"))
          .withColumn("epoch", F.lit(0))
          .write.parquet(tmp))
    shutil.rmtree(dirs["state"])
    os.rename(tmp, dirs["state"])
    # duplicates of all three docs still drop after compaction
    replay = spark.createDataFrame(
        [(10, "w", "d1", t0), (11, "w", "d2", t0),
         (12, "w", "d3", t0), (13, "w", "d4", t0)], SCHEMA_DDL)
    pipe._apply_batch(replay, 9)
    sink = {r["doc_id"]
            for r in spark.read.parquet(dirs["sink"]).collect()}
    assert 13 in sink and not {10, 11, 12} & sink
