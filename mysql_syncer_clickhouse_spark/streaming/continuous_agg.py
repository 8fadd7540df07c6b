"""Continuous aggregate -- an incrementally-maintained, time-bucketed
materialized rollup (the hypertable/continuous-aggregate pattern,
TimescaleDB/ClickHouse-AggregatingMergeTree style) on Structured
Streaming.

Design: each micro-batch computes PARTIAL aggregates (count + decimal
sum per (window, key)) and appends them with its epoch id; the read
side merges partials with one keyed aggregation (counts and sums are
associative). Nothing is ever updated in place, so:
- appends are tiny (one row per touched bucket per epoch),
- replayed epochs dedup away ((epoch, window, key) is deterministic,
  dropDuplicates on read gives exactly-once arithmetic),
- the merge cost is proportional to touched buckets, not event volume,
- compaction (re-aggregating partials into one row per bucket) is the
  same background-merge analog as the CDC sink's compact().

This generalizes the upsert sink's dedup-on-read idea from "latest row
wins" to "partials sum" -- the two reducers that cover OLTP mirroring
and rollup maintenance respectively.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_DEC = "decimal(38,6)"


@dataclass
class PartialsRollup:
    """The shape every continuous aggregate below shares: each epoch
    appends its `_partials` (rows tagged with the epoch id) to the
    sink, the subclass's `read` merges them, and `compact` rewrites
    the sink as the subclass's `_compacted` relation tagged epoch -1.
    Drive it with streaming.pipeline.start_stream(stream,
    agg._apply_batch, agg.checkpoint_dir)."""
    ts_col: str
    window_duration: str                 # e.g. "1 hour"
    key_cols: Sequence[str]
    value_col: str
    sink_dir: str
    checkpoint_dir: str

    def _partials(self, batch_df: DataFrame, epoch_id: int) -> DataFrame:
        raise NotImplementedError

    def _compacted(self, spark: SparkSession) -> DataFrame:
        raise NotImplementedError

    def _apply_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        self._partials(batch_df, epoch_id) \
            .write.mode("append").parquet(self.sink_dir)

    def compact(self, spark: SparkSession) -> None:
        """Write the compacted relation to `<sink>.compact`, read it
        back, overwrite the sink: the relation reads the sink, so it
        cannot overwrite it directly."""
        tmp = self.sink_dir.rstrip("/") + ".compact"
        self._compacted(spark).withColumn("epoch", F.lit(-1)) \
            .write.mode("overwrite").parquet(tmp)
        spark.read.parquet(tmp).write.mode("overwrite") \
            .parquet(self.sink_dir)


def merge_partials(partials: DataFrame,
                   key_cols: Sequence[str]) -> DataFrame:
    """Merge-on-read over appended partial aggregates: dedup replayed
    epochs ((epoch, win_start, keys) partial rows are deterministic, so
    dropDuplicates gives exactly-once arithmetic), then sum -- counts
    and decimal sums are associative, so the merged rollup equals the
    direct aggregation over raw events. One shuffle on (window, keys)
    over bucket-grain rows. Shared by the streaming read path and the
    batch twin registered as `continuous_agg_merge`."""
    deduped = partials.dropDuplicates(["epoch", "win_start", *key_cols])
    return (deduped
            .groupBy("win_start", *key_cols)
            .agg(F.sum("part_n").alias("n"),
                 F.sum("part_sum").cast("double").alias("total")))


@dataclass
class ContinuousAggregate(PartialsRollup):
    """COUNT and decimal SUM of `value_col` per (time bucket, keys)."""

    def _partials(self, batch_df: DataFrame, epoch_id: int) -> DataFrame:
        return (batch_df
                .groupBy(F.window(self.ts_col, self.window_duration)
                          .alias("w"), *self.key_cols)
                .agg(F.count(F.lit(1)).alias("part_n"),
                     F.sum(F.col(self.value_col).cast(_DEC))
                      .alias("part_sum"))
                .select(F.col("w.start").alias("win_start"),
                        *self.key_cols, "part_n", "part_sum",
                        F.lit(epoch_id).alias("epoch")))

    def read(self, spark: SparkSession) -> DataFrame:
        """Merged rollup: dedup replayed epochs, then sum partials."""
        return merge_partials(spark.read.parquet(self.sink_dir),
                              self.key_cols)

    def _compacted(self, spark: SparkSession) -> DataFrame:
        """All partials folded into one row per bucket."""
        return self.read(spark).select(
            "win_start", *self.key_cols,
            F.col("n").alias("part_n"),
            F.col("total").cast(_DEC).alias("part_sum"))


def merge_bitmap_partials(partials: DataFrame,
                          key_cols: Sequence[str]) -> DataFrame:
    """Merge-on-read for DISTINCT-count partials: OR the per-epoch
    bitmap words, then popcount. OR is idempotent, so unlike the
    sum/count reducer this one needs NO epoch dedup for exactly-once
    arithmetic -- replayed epochs merge to the identical filter (the
    epoch column stays for lineage/compaction bookkeeping only)."""
    from ..operators.bitmap import bitmap_cardinality
    merged = (partials.groupBy("win_start", *key_cols, "word")
                      .agg(F.bit_or("bits").alias("bits")))
    return (bitmap_cardinality(merged, ["win_start", *key_cols])
            .withColumnRenamed("cardinality", "n_distinct"))


@dataclass
class DistinctContinuousAggregate(PartialsRollup):
    """Incrementally-maintained exact COUNT(DISTINCT value) per
    (time bucket, keys): the AggregatingMergeTree + groupBitmapState
    pattern (ClickHouse's materialized-view recipe for distinct
    counts) on Structured Streaming.

    Each micro-batch appends its (window, key)-grain bitmap WORDS
    (operators/bitmap.py) instead of raw values: state per bucket is
    <= |distinct values|/32 rows forever, the merge cost is
    word-grain, and a COUNT(DISTINCT) over billions of raw events
    never has to re-shuffle history. The value domain can be any long
    (the word/bit mapping is injective for all 64-bit values)."""

    def _partials(self, batch_df: DataFrame, epoch_id: int) -> DataFrame:
        from ..operators.bitmap import bitmap_agg
        windowed = (batch_df
                    .select(F.window(self.ts_col, self.window_duration)
                             .alias("w"), *self.key_cols, self.value_col)
                    .select(F.col("w.start").alias("win_start"),
                            *self.key_cols, self.value_col))
        return (bitmap_agg(windowed, ["win_start", *self.key_cols],
                           self.value_col)
                .withColumn("epoch", F.lit(epoch_id)))

    def read(self, spark: SparkSession) -> DataFrame:
        return merge_bitmap_partials(spark.read.parquet(self.sink_dir),
                                     self.key_cols)

    def _compacted(self, spark: SparkSession) -> DataFrame:
        """All word rows folded into one OR-merged set -- changes
        nothing downstream (OR idempotence), shrinks state to one row
        per (bucket, word)."""
        return (spark.read.parquet(self.sink_dir)
                .groupBy("win_start", *self.key_cols, "word")
                .agg(F.bit_or("bits").alias("bits")))


def merge_hll_partials(partials: DataFrame,
                       key_cols: Sequence[str]) -> DataFrame:
    """Merge-on-read for HLL partials: union the per-epoch sketches
    (hll_union_agg), then estimate. Like the bitmap reducer, sketch
    union is idempotent -- replayed epochs re-union to the identical
    sketch, no dedup machinery needed."""
    merged = (partials.groupBy("win_start", *key_cols)
              .agg(F.hll_union_agg("sketch").alias("sketch")))
    return merged.select("win_start", *key_cols,
                         F.hll_sketch_estimate("sketch")
                          .alias("n_distinct_approx"))


@dataclass
class HllContinuousAggregate(PartialsRollup):
    """Approximate COUNT(DISTINCT) continuous aggregate: the
    uniqState / uniqMerge AggregatingMergeTree pattern with Spark's
    DataSketches HLL binary state.

    The bitmap variant (DistinctContinuousAggregate) is exact but its
    state grows with |distinct values|/32; this one caps state at one
    ~2^lgk-register sketch per (bucket, keys) FOREVER -- the 100 TB
    path when per-bucket cardinalities outgrow bitmaps -- at the
    standard ~1-2% relative error. Same append-only replay contract:
    hll_union is idempotent and associative, so replays and
    compactions never change an estimate's inputs."""
    lgk: int = 12                       # log2 registers, Spark default

    def _partials(self, batch_df: DataFrame, epoch_id: int) -> DataFrame:
        return (batch_df
                .groupBy(F.window(self.ts_col, self.window_duration)
                          .alias("w"), *self.key_cols)
                .agg(F.hll_sketch_agg(self.value_col, F.lit(self.lgk))
                      .alias("sketch"))
                .select(F.col("w.start").alias("win_start"),
                        *self.key_cols, "sketch",
                        F.lit(epoch_id).alias("epoch")))

    def read(self, spark: SparkSession) -> DataFrame:
        return merge_hll_partials(spark.read.parquet(self.sink_dir),
                                  self.key_cols)

    def _compacted(self, spark: SparkSession) -> DataFrame:
        """All sketches of a bucket unioned into one row."""
        return (spark.read.parquet(self.sink_dir)
                .groupBy("win_start", *self.key_cols)
                .agg(F.hll_union_agg("sketch").alias("sketch")))


def merge_theta_partials(partials: DataFrame,
                         key_cols: Sequence[str]) -> DataFrame:
    """Merge-on-read for theta/KMV partials: elementwise-min the
    per-epoch (bucket, vmin) rows, then estimate. Min is idempotent
    and associative, so replayed epochs and compactions re-merge to
    the identical sketch -- the same no-dedup-machinery contract as
    the bitmap and HLL reducers."""
    from ..operators.sketch import theta_estimate
    merged = (partials.groupBy("win_start", *key_cols, "bucket")
              .agg(F.min("vmin").alias("vmin")))
    return (theta_estimate(merged, ["win_start", *key_cols])
            .select("win_start", *key_cols,
                    F.col("est").alias("n_distinct_approx")))


@dataclass
class ThetaContinuousAggregate(PartialsRollup):
    """Approximate COUNT(DISTINCT) continuous aggregate on the
    repo-owned theta/KMV sketch (operators/sketch.py) -- the third
    point in the uniqState/uniqMerge family next to the exact bitmap
    (state ~ |distinct|/32) and Spark's binary HLL (opaque state):
    state is <= k integer ROWS per (bucket, keys) forever, merge is a
    plain MIN, and -- uniquely among the three -- the state is
    engine-portable md5 arithmetic, so a non-Spark reader (or the
    DuckDB oracle) can audit or continue the aggregate bit-for-bit.

    Same append-only replay contract: elementwise min is idempotent
    and associative, so replays and compactions never change an
    estimate's inputs."""
    k: int = 1024

    def _partials(self, batch_df: DataFrame, epoch_id: int) -> DataFrame:
        from ..operators.sketch import theta_sketch
        windowed = (batch_df
                    .withColumn("__w", F.window(self.ts_col,
                                                self.window_duration))
                    .withColumn("win_start", F.col("__w.start")))
        return (theta_sketch(windowed, ["win_start", *self.key_cols],
                             self.value_col, k=self.k)
                .withColumn("epoch", F.lit(epoch_id)))

    def read(self, spark: SparkSession) -> DataFrame:
        return merge_theta_partials(spark.read.parquet(self.sink_dir),
                                    self.key_cols)

    def _compacted(self, spark: SparkSession) -> DataFrame:
        """All partials of a (window, keys, sketch bucket) min-merged
        into one row."""
        return (spark.read.parquet(self.sink_dir)
                .groupBy("win_start", *self.key_cols, "bucket")
                .agg(F.min("vmin").alias("vmin")))
