"""Cross-batch MinHash-LSH near-dup screening
(streaming/neardup.py): batch-internal + cross-batch + cross-restart
dropping, unique docs surviving, and the band-bucket state contract."""

from __future__ import annotations

import glob
import os
import shutil

import pytest

from mysql_syncer_clickhouse_spark.streaming.neardup import (
    NearDupIngestPipeline, band_signatures)
from mysql_syncer_clickhouse_spark.streaming.pipeline import start_stream

SCHEMA_DDL = "doc_id long, source string, text string, ts timestamp"

BASE = ("the quick brown fox jumps over the lazy dog while seventeen "
        "sailors navigate the harbor under a copper sky ") * 4
NEAR = BASE + "tiny trailing addendum"
OTHER = ("completely different subject matter entirely about quantum "
         "chromodynamics lattice simulations and gauge fields ") * 4


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
    return NearDupIngestPipeline(sink_dir=dirs["sink"],
                                 checkpoint_dir=dirs["ckpt"],
                                 state_dir=dirs["state"])


def test_neardup_screen_within_and_across_batches(spark, dirs):
    t0 = _ts(spark, "2026-01-01 10:00:00")
    # sanity: the near pair actually collides on >=1 band
    probe = spark.createDataFrame(
        [(1, "w", BASE, t0), (2, "w", NEAR, t0)], SCHEMA_DDL)
    b = band_signatures(probe)
    shared = (b.filter("id = 1").select("band", "band_sig")
               .intersect(b.filter("id = 2").select("band", "band_sig")))
    assert shared.count() >= 1

    pipe = _pipe(dirs)
    _write_part(spark, dirs["src"], [
        (1, "web", BASE, t0),
        (2, "web", NEAR, t0),       # in-batch near-dup of 1 -> dropped
        (3, "web", OTHER, t0),      # unrelated -> kept
    ], "p1")
    _write_part(spark, dirs["src"], [
        (4, "web", BASE + " later echo", t0),  # cross-batch near-dup
        (5, "web", OTHER, t0),                 # exact dup of 3
    ], "p2")
    _drain(pipe, spark, dirs["src"])

    ids = {r["doc_id"] for r in pipe.corpus(spark).collect()}
    assert ids == {1, 3}
    snap = pipe.metrics.snapshot()
    assert snap["ingested"] == 5
    assert snap["kept"] == 2
    assert snap["dropped_neardup"] == 3
    assert snap["epochs"] >= 2

    # state holds bands ONLY for survivors
    state = spark.read.parquet(dirs["state"])
    assert {r["rep_id"] for r in state.select("rep_id")
            .distinct().collect()} == {1, 3}


def test_neardup_screen_survives_restart(spark, dirs):
    t0 = _ts(spark, "2026-01-01 10:00:00")
    pipe = _pipe(dirs)
    _write_part(spark, dirs["src"], [(1, "web", BASE, t0)], "p1")
    _drain(pipe, spark, dirs["src"])

    # a NEW pipeline object: memory lives in state_dir + checkpoint
    pipe2 = _pipe(dirs)
    _write_part(spark, dirs["src"], [
        (6, "web", BASE + " resurfaced", t0),
        (7, "web", OTHER, t0),
    ], "p2")
    _drain(pipe2, spark, dirs["src"])
    ids = {r["doc_id"] for r in pipe2.corpus(spark).collect()}
    assert ids == {1, 7}


def test_neardup_replay_does_not_self_collide(spark, dirs):
    """Simulated crash-after-state-append: re-running _apply_batch for
    the same epoch must keep the same docs (state rows created by the
    doc itself are ignored), and the epoch-partitioned dynamic
    overwrite makes the SINK exactly-once -- the replay replaces its
    own partition, so no duplicate rows exist even before any
    downstream dedup."""
    t0 = _ts(spark, "2026-01-01 10:00:00")
    pipe = _pipe(dirs)
    batch = spark.createDataFrame(
        [(1, "web", BASE, t0), (3, "web", OTHER, t0)], SCHEMA_DDL)
    pipe._apply_batch(batch, 0)
    pipe._apply_batch(batch, 0)  # replay of the SAME epoch
    out = pipe.corpus(spark)
    # both docs kept in both attempts; the replay overwrote its own
    # epoch partition, so the sink holds exactly one copy of each
    assert out.select("doc_id").distinct().count() == 2
    assert out.count() == 2
    assert pipe.metrics.dropped_neardup == 0


def test_null_text_doc_is_kept_without_state_rows(spark, dirs):
    """A NULL-text document bands to NULL signatures, which can never
    match in the (band, band_sig) join: it is kept, and none of its
    rows reach the band state, in either of two epochs."""
    t0 = _ts(spark, "2026-01-01 10:00:00")
    pipe = _pipe(dirs)
    _write_part(spark, dirs["src"], [
        (1, "web", BASE, t0),
        (2, "web", None, t0),
    ], "p1")
    _write_part(spark, dirs["src"], [
        (3, "web", OTHER, t0),
        (4, "web", None, t0),
        (5, "web", NEAR, t0),       # cross-batch near-dup of 1
    ], "p2")
    _drain(pipe, spark, dirs["src"])

    ids = {r["doc_id"] for r in pipe.corpus(spark).collect()}
    assert ids == {1, 2, 3, 4}
    state = spark.read.parquet(dirs["state"])
    assert state.filter("band_sig IS NULL").count() == 0
    assert {r["rep_id"] for r in state.select("rep_id")
            .distinct().collect()} == {1, 3}


def test_band_signatures_match_the_unfused_chain(spark):
    """The screen bands through the batch operator's fused path; its
    (id, band, band_sig) rows equal the unfused shingle-hash ->
    minhash -> band chain's, short, empty and NULL texts included (a
    NULL text bands to NULL signatures on both paths)."""
    from mysql_syncer_clickhouse_spark.operators import dedup
    t0 = _ts(spark, "2026-01-01 10:00:00")
    texts = [BASE, NEAR, OTHER, "short", "", "exactly8", None]
    docs = spark.createDataFrame(
        [(i, "web", t, t0) for i, t in enumerate(texts)], SCHEMA_DDL)
    unfused = dedup.lsh_band_signatures(dedup.minhash_signatures(
        dedup.hashed_shingle_set(docs, "doc_id", "text", 8)))
    got = sorted(map(tuple, band_signatures(docs).collect()))
    assert got == sorted(map(tuple, unfused.collect()))
    assert len(got) == 4 * len(texts)     # one row per doc and band
