"""Continuous corpus ingestion: the curation layer running
incrementally under Structured Streaming.

The batch curation operators (operators/curation.py, functions/text.py)
assume a materialized corpus; a production training-data pipeline is
fed continuously. This pipeline applies the same semantics per
micro-batch with streaming state where cross-batch memory is needed:

- PII redaction + fingerprinting: stateless Column expressions on the
  stream (map-only, no state).
- exact dedup ACROSS batches: `dropDuplicates` on the content
  fingerprint under an event-time watermark -- the state store holds
  one fingerprint per doc within the watermark horizon, so state is
  bounded (the streaming analog of dedup_exact's hash aggregation).
- quality gate + metrics: applied inside foreachBatch with observe()
  so ingested/kept counts ride the write job (no second pass), exactly
  like the CDC pipeline's op counters (streaming/pipeline.SyncMetrics).

Same checkpoint contract as the CDC pipeline: the sink write happens
before the epoch commits, so a crash replays the epoch -- and the
sink is exactly-once under that replay (round 6): the deterministic
gate keeps identical rows, and the epoch-partitioned dynamic
overwrite REPLACES the epoch's partition instead of appending a
duplicate copy.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TX
from .pipeline import write_epoch_partition


@dataclass
class CorpusMetrics:
    ingested: int = 0
    kept: int = 0
    epochs: int = 0

    def snapshot(self) -> dict[str, int]:
        return {"ingested": self.ingested, "kept": self.kept,
                "epochs": self.epochs}


@dataclass
class CorpusIngestPipeline:
    """readStream(docs) -> redact -> fingerprint -> cross-batch exact
    dedup -> quality gate -> append parquet. Doc schema contract:
    (doc_id long, source string, text string, ts timestamp)."""
    sink_dir: str
    checkpoint_dir: str
    min_quality: float = 0.5
    watermark: str = "1 hour"
    redact: bool = True
    # optional discriminative gate: a trained weight table from
    # operators/classifier.train_quality_classifier; docs scoring under
    # min_classifier_score drop alongside the heuristic quality gate
    classifier_weights: DataFrame | None = None
    min_classifier_score: float = 0.5
    metrics: CorpusMetrics = field(default_factory=CorpusMetrics)

    def curate_stream(self, stream: DataFrame) -> DataFrame:
        """The stateful stream-side stages (everything that needs
        cross-batch memory or must happen before it)."""
        text = TX.redact_pii("text") if self.redact else F.col("text")
        return (stream
                .select("doc_id", "source", text.alias("text"), "ts")
                .withColumn("fp", TX.fingerprint("text"))
                .withWatermark("ts", self.watermark)
                .dropDuplicates(["fp"]))

    def _apply_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """Quality gate(s) + scored append; counters ride the write.
        With classifier weights configured, the per-epoch batch also
        runs through score_quality (broadcast weight join -- the
        bounded model relation makes this safe at any batch size) and
        both gates must pass."""
        from pyspark.sql import Observation
        if self.classifier_weights is not None:
            from ..operators.classifier import score_quality
            cls = (score_quality(batch_df, self.classifier_weights,
                                 "doc_id", "text")
                   .withColumnRenamed("id", "doc_id")
                   .withColumnRenamed("score", "cls_score"))
            batch_df = batch_df.join(cls, "doc_id")
            keep = ((F.col("quality") >= self.min_quality)
                    & (F.col("cls_score") >= self.min_classifier_score))
        else:
            keep = F.col("quality") >= self.min_quality
        obs = Observation()
        scored = (batch_df
                  .withColumn("quality", TX.quality_score("text"))
                  .observe(obs,
                           F.count(F.lit(1)).alias("ingested"),
                           F.sum(keep.cast("long")).alias("kept")))
        # the gate is deterministic, so a replayed epoch keeps
        # identical rows and may replace its own partition
        write_epoch_partition(scored.filter(keep), epoch_id, self.sink_dir)
        got = dict(obs.get)
        self.metrics.ingested += int(got.get("ingested") or 0)
        self.metrics.kept += int(got.get("kept") or 0)
        self.metrics.epochs += 1

    def corpus(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.sink_dir)
