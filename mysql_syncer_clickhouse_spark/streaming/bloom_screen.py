"""Cross-batch exact-duplicate screening with BOUNDED state: a
persisted Bloom filter (operators/bloom.py) as the streaming dedup
memory.

CorpusIngestPipeline's `dropDuplicates(fp)` state is bounded only by
its watermark horizon -- a duplicate arriving after the horizon
re-enters; NearDupIngestPipeline's band table grows O(kept docs).
This pipeline trades a tunable false-positive rate for state that is
m/32 words FOREVER, horizon-free: the "have I ever ingested this
fingerprint" memory a multi-year crawl needs at a size that always
broadcasts.

Per micro-batch:
    1. in-batch dedup: keep the min-doc_id row per fingerprint
       (deterministic, same convention as the near-dup screen);
    2. cross-batch screen: probe fingerprints against the filter
       OR-merged from state rows of STRICTLY EARLIER epochs;
    3. append survivors to the sink and their epoch-tagged filter
       words to the state.

Replay safety mirrors streaming/neardup.py: state rows carry the
epoch that wrote them and the probe excludes the current epoch, so a
replayed batch re-screens against exactly the pre-crash filter and
keeps exactly the docs it kept before; the duplicate state append is
harmless because OR is idempotent (bit_or over duplicate rows yields
the same words). Compaction: any prefix of epochs may be OR-merged
into a single epoch's rows offline without changing any future answer
-- same merge-on-read contract as streaming/continuous_agg.py.

The sink itself is EXACTLY-ONCE under replay (round 6): kept docs
are written epoch-partitioned with dynamic partition overwrite, so a
replayed epoch -- which keeps the identical docs, per the screening
contract above -- REPLACES its own partition instead of appending a
duplicate copy. No dedup-on-read needed; same upgrade applied to the
corpus-gate and near-dup ingest pipelines.

No false negatives means NO previously-ingested duplicate ever
re-enters; the FP rate (genuinely-new docs sacrificed) is
(1 - e^(-k*n/m))^k -- size m for the crawl's lifetime cardinality.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TX
from ..operators import bloom
from .pipeline import write_epoch_partition


@dataclass
class BloomScreenMetrics:
    ingested: int = 0
    kept: int = 0
    dropped_seen: int = 0
    epochs: int = 0

    def snapshot(self) -> dict[str, int]:
        return {"ingested": self.ingested, "kept": self.kept,
                "dropped_seen": self.dropped_seen, "epochs": self.epochs}


@dataclass
class BloomIngestPipeline:
    """readStream(docs) -> fingerprint -> Bloom screen vs all prior
    epochs -> append parquet. Doc schema contract: (doc_id long,
    source string, text string, ts timestamp)."""
    sink_dir: str
    checkpoint_dir: str
    state_dir: str
    m_bits: int = bloom.BLOOM_BITS
    k_hashes: int = bloom.BLOOM_K
    metrics: BloomScreenMetrics = field(
        default_factory=BloomScreenMetrics)

    def _filter_before(self, spark: SparkSession,
                       epoch_id: int) -> DataFrame | None:
        """The (word, bits) filter OR-merged from every epoch strictly
        before `epoch_id` -- idempotent under replayed appends."""
        if not os.path.isdir(self.state_dir):
            return None
        state = spark.read.parquet(self.state_dir) \
                     .filter(F.col("epoch") < epoch_id)
        return (state.groupBy("word")
                     .agg(F.bit_or("bits").alias("bits")))

    def _apply_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        n_in = batch_df.count()
        if n_in == 0:
            self.metrics.epochs += 1
            return
        fp = batch_df.withColumn("fp", TX.fingerprint("text"))
        first = fp.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
        batch_unique = fp.join(first, ["fp", "doc_id"]) \
                         .localCheckpoint(eager=True)

        filt = self._filter_before(spark, epoch_id)
        if filt is None:
            kept = batch_unique
        else:
            kept = (bloom.bloom_might_contain(
                        batch_unique, "fp", filt,
                        m=self.m_bits, k=self.k_hashes)
                    .filter(~F.col("might_contain"))
                    .drop("might_contain"))
        kept = kept.localCheckpoint(eager=True)

        write_epoch_partition(kept.drop("fp"), epoch_id, self.sink_dir)
        (bloom.bloom_build(kept, "fp", m=self.m_bits, k=self.k_hashes)
              .withColumn("epoch", F.lit(epoch_id))
              .write.mode("append").parquet(self.state_dir))

        n_kept = kept.count()
        self.metrics.ingested += n_in
        self.metrics.kept += n_kept
        self.metrics.dropped_seen += n_in - n_kept
        self.metrics.epochs += 1

    def corpus(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.sink_dir)
