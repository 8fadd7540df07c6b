"""Continuous corpus ingestion (streaming/corpus.py): cross-batch
fingerprint dedup, PII redaction, quality gating, counters, and the
kill/resume contract over the real checkpoint machinery."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from mysql_syncer_clickhouse_spark.streaming.corpus import CorpusIngestPipeline
from mysql_syncer_clickhouse_spark.streaming.pipeline import start_stream

SCHEMA_DDL = ("doc_id long, source string, text string, ts timestamp")

GOOD = ("informative article with plenty of varied and reasonably "
        "long words composed thoughtfully ") * 3
DUPE = GOOD + "unique-tail-alpha"
LOW = "a a a a"


def _schema(spark) -> StructType:
    return spark.createDataFrame([], SCHEMA_DDL).schema


def _drain(pipe, spark, src):
    """Drain every doc file now in `src` through `pipe`, four files per
    epoch, then stop."""
    stream = (spark.readStream.schema(_schema(spark))
              .option("maxFilesPerTrigger", 4).parquet(src))
    start_stream(pipe.curate_stream(stream), pipe._apply_batch,
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
    return {k: str(tmp_path / k) for k in ("src", "sink", "ckpt")}


def _ts(spark, s):
    return spark.sql(f"SELECT timestamp'{s}'").collect()[0][0]


def test_corpus_ingest_dedup_quality_and_resume(spark, dirs):
    t0 = _ts(spark, "2026-01-01 10:00:00")
    pipe = CorpusIngestPipeline(sink_dir=dirs["sink"],
                                checkpoint_dir=dirs["ckpt"])
    _write_part(spark, dirs["src"], [
        (1, "web", GOOD, t0),
        (2, "web", DUPE, t0),          # near-identical but distinct fp
        (3, "web", GOOD, t0),          # exact dup of 1 -> dropped
        (4, "web", LOW, t0),           # fails the quality gate
        (5, "web", "mail me at a@b.com " + GOOD, t0),  # PII redacted
    ], "p1")
    _drain(pipe, spark, dirs["src"])

    out = {r["doc_id"]: r for r in pipe.corpus(spark).collect()}
    assert set(out) == {1, 2, 5} or set(out) == {3, 2, 5}  # one of the dup pair
    assert pipe.metrics.snapshot()["ingested"] == 4  # dup dropped pre-batch
    assert pipe.metrics.snapshot()["kept"] == 3
    pii_doc = out[5]
    assert "<EMAIL>" in pii_doc["text"] and "a@b.com" not in pii_doc["text"]
    assert all(r["quality"] >= 0.5 for r in out.values())

    # phase 2 after restart: a NEW pipeline object (state only in the
    # checkpoint) sees an exact dup of phase 1 within the watermark ->
    # still dropped; a genuinely new doc lands
    pipe2 = CorpusIngestPipeline(sink_dir=dirs["sink"],
                                 checkpoint_dir=dirs["ckpt"])
    t1 = _ts(spark, "2026-01-01 10:30:00")
    _write_part(spark, dirs["src"], [
        (6, "web", GOOD, t1),                   # dup of doc 1 across runs
        (7, "web", DUPE + " fresh continuation", t1),
    ], "p2")
    _drain(pipe2, spark, dirs["src"])

    ids = {r["doc_id"] for r in pipe2.corpus(spark).collect()}
    assert 7 in ids
    assert 6 not in ids  # cross-run dedup via checkpointed state
    assert pipe2.metrics.snapshot()["ingested"] == 1
    assert pipe2.metrics.snapshot()["kept"] == 1


def test_corpus_ingest_no_redact_keeps_text(spark, dirs):
    t0 = _ts(spark, "2026-01-01 10:00:00")
    pipe = CorpusIngestPipeline(sink_dir=dirs["sink"],
                                checkpoint_dir=dirs["ckpt"],
                                redact=False)
    _write_part(spark, dirs["src"], [
        (1, "web", "reach me at x@y.org " + GOOD, t0),
    ], "p1")
    _drain(pipe, spark, dirs["src"])
    [r] = pipe.corpus(spark).collect()
    assert "x@y.org" in r["text"]


def test_corpus_metrics_served_over_stat(spark, dirs):
    """The ingest pipeline's counters plug into the same /stat server
    the CDC pipeline uses (duck-typed snapshot())."""
    import json
    import urllib.request
    from mysql_syncer_clickhouse_spark.streaming.status import StatusServer
    t0 = _ts(spark, "2026-01-01 10:00:00")
    pipe = CorpusIngestPipeline(sink_dir=dirs["sink"],
                                checkpoint_dir=dirs["ckpt"])
    _write_part(spark, dirs["src"], [
        (1, "web", GOOD, t0), (2, "web", LOW, t0)], "p1")
    _drain(pipe, spark, dirs["src"])
    srv = StatusServer(pipe.metrics, port=0,
                       extra={"pipeline": "corpus-ingest"}).start()
    try:
        with urllib.request.urlopen(
                f"http://127.0.0.1:{srv.port}/stat", timeout=10) as r:
            got = json.loads(r.read())
        assert got["pipeline"] == "corpus-ingest"
        # availableNow may add a trailing empty epoch; doc counters
        # are the contract
        assert got["counts"]["ingested"] == 2
        assert got["counts"]["kept"] == 1
        assert got["counts"]["epochs"] >= 1
    finally:
        srv.stop()


def test_corpus_ingest_with_classifier_gate(spark, dirs):
    """A trained discriminative classifier plugged into the streaming
    ingest drops docs resembling the negative corpus even when the
    heuristic quality gate would pass them; counters reflect both
    gates."""
    from mysql_syncer_clickhouse_spark.operators import classifier

    spam = ("click here buy now free offer winner prize claim "
            "instantly guaranteed reward bonus jackpot ") * 3
    train = spark.createDataFrame(
        [(i, GOOD + f" v{i}", 1) for i in range(8)]
        + [(100 + i, spam + f" v{i}", 0) for i in range(8)],
        "id long, text string, y int")
    w = classifier.train_quality_classifier(train, "id", "text", "y",
                                            iters=8)

    t0 = _ts(spark, "2026-01-01 10:00:00")
    pipe = CorpusIngestPipeline(sink_dir=dirs["sink"],
                                checkpoint_dir=dirs["ckpt"],
                                classifier_weights=w)
    _write_part(spark, dirs["src"], [
        (1, "web", GOOD + " fresh tail one", t0),
        (2, "web", spam + " fresh tail two", t0),
    ], "p1")
    _drain(pipe, spark, dirs["src"])

    kept = {r["doc_id"] for r in pipe.corpus(spark).collect()}
    assert kept == {1}
    assert pipe.metrics.ingested == 2 and pipe.metrics.kept == 1
