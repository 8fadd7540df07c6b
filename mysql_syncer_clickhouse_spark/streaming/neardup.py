"""Cross-batch NEAR-duplicate screening for continuous corpus
ingestion: the streaming counterpart of operators/dedup.minhash_dedup.

CorpusIngestPipeline (streaming/corpus.py) already drops EXACT
duplicates across batches via a fingerprint state key; this pipeline
extends the memory to near-duplicates. The cross-batch state is the
LSH BAND-BUCKET table -- (band, band_sig, rep_id) rows persisted as
parquet next to the checkpoint -- because that is the only relation
the screen needs: a new document is a near-dup candidate iff one of
its band signatures already exists. Per micro-batch:

    1. band signatures for the batch docs (the batch operator's fused
       shingle->minhash->band path, over a bounded batch);
    2. screen: drop docs sharing ANY band bucket with the state table
       or with a smaller-id doc in the same batch;
    3. append survivors to the sink and THEIR bands to the state.

Semantics are the recall-biased LSH SCREEN, deliberately without the
exact-Jaccard verify the batch operator runs: verification needs each
representative's shingle-hash set, which would grow the state by ~two
orders of magnitude. False-positive rate = the band collision rate
(tunable via bands/rows, operators/dedup.MINHASH_PARAMS); chains
cluster transitively, like duplicate_clusters. A doc never collides
with itself: state rows carry the creating rep_id and the screen
ignores self-hits, which ALSO makes epoch replays after a crash safe
-- a replayed batch re-screens against bands it appended in the failed
attempt and keeps exactly the docs it kept before. The sink is
exactly-once under that replay (round 6): kept docs write
epoch-partitioned with dynamic overwrite, replacing the epoch's own
partition; the duplicate STATE appends still dedup away bucket-keyed
(one representative per bucket -- idempotent), the same replay
contract as streaming/pipeline.py.

Scale: state grows O(kept docs x n_bands) 24-byte rows -- parquet on
disk, joined by (band, band_sig) key; at 100 TB it shards on the band
key like any keyed table, and the per-batch join touches only the
batch's buckets (predicate pushdown on band_sig would come free from a
bucket-partitioned layout).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup
from .pipeline import write_epoch_partition


@dataclass
class NearDupMetrics:
    ingested: int = 0
    kept: int = 0
    dropped_neardup: int = 0
    epochs: int = 0

    def snapshot(self) -> dict[str, int]:
        return {"ingested": self.ingested, "kept": self.kept,
                "dropped_neardup": self.dropped_neardup,
                "epochs": self.epochs}


def band_signatures(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", k: int = 8) -> DataFrame:
    """(id, band, band_sig) for each doc: the batch operator's fused
    path (all minhash mins in one per-doc aggregation, bands packed by
    column arithmetic on the wide row)."""
    return dedup.fused_band_rows(dedup.fused_doc_profile(
        docs.select(F.col(id_col).alias("id"),
                    F.col(text_col).alias("text")), k))


@dataclass
class NearDupIngestPipeline:
    """readStream(docs) -> cross-batch MinHash-LSH near-dup screen ->
    append parquet. Doc schema contract: (doc_id long, source string,
    text string, ts timestamp)."""
    sink_dir: str
    checkpoint_dir: str
    state_dir: str
    shingle_k: int = 8
    metrics: NearDupMetrics = field(default_factory=NearDupMetrics)

    def _state(self, spark: SparkSession) -> DataFrame | None:
        if not os.path.isdir(self.state_dir):
            return None
        return spark.read.parquet(self.state_dir)

    def _apply_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        n_in = batch_df.count()
        if n_in == 0:
            self.metrics.epochs += 1
            return
        # a NULL text bands to NULL signatures, which no (band,
        # band_sig) equi-join can match: the doc is kept, and its rows
        # would only grow the state
        bands = band_signatures(batch_df, "doc_id", "text",
                                self.shingle_k) \
            .filter(F.col("band_sig").isNotNull())
        # small-batch state: the per-epoch relation is bounded by
        # maxFilesPerTrigger, reused three times below
        bands = bands.localCheckpoint(eager=True)

        state = self._state(spark)
        state_hits = None
        if state is not None:
            state_hits = (bands.join(state, ["band", "band_sig"])
                               .filter(F.col("rep_id") != F.col("id"))
                               .select("id"))
        first_in_batch = (bands.groupBy("band", "band_sig")
                               .agg(F.min("id").alias("first_id")))
        batch_hits = (bands.join(first_in_batch, ["band", "band_sig"])
                           .filter(F.col("id") > F.col("first_id"))
                           .select("id"))
        dropped = batch_hits if state_hits is None \
            else batch_hits.unionByName(state_hits)
        dropped = dropped.distinct().localCheckpoint(eager=True)

        kept = batch_df.join(
            dropped.withColumnRenamed("id", "doc_id"), "doc_id",
            "left_anti")
        # a replayed epoch keeps the identical docs (the probe ignores
        # self-hits), so it may replace its own partition
        write_epoch_partition(kept, epoch_id, self.sink_dir)
        (bands.join(dropped, "id", "left_anti")
              .select("band", "band_sig", F.col("id").alias("rep_id"))
              .write.mode("append").parquet(self.state_dir))

        n_drop = dropped.count()
        self.metrics.ingested += n_in
        self.metrics.kept += n_in - n_drop
        self.metrics.dropped_neardup += n_drop
        self.metrics.epochs += 1

    def corpus(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.sink_dir)
