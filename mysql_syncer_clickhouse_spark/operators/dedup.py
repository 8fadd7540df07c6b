"""Deduplication operators for LLM training-data pipelines: exact,
MinHash+LSH, SimHash, and n-gram Jaccard with metadata blocking.

All shuffle-conscious:
- exact dedup = one hash aggregation on the fingerprint;
- MinHash/LSH = shingle explode -> per-doc signature aggregation (one
  shuffle on doc id) -> band-bucket self-join (shuffle on small band
  signatures, never an N^2 cross join) -> Jaccard verify restricted to
  candidate pairs;
- SimHash = per-(doc,bit) aggregation, again keyed shuffles only;
- n-gram Jaccard uses cheap blocking keys to bound candidates.

Hashes are md5-derived (functions/text.py:portable_hash32) so every
stage is reproducible and oracle-checkable across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as TX
from ..functions.text import char_shingles, fingerprint, portable_hash32

# LCG-style MinHash parameter pairs (a, b); modulus below
MINHASH_PARAMS = (
    (1000003, 12345), (1000033, 54321), (1000037, 7777), (1000039, 3141),
    (1000081, 2718), (1000099, 1618), (1000117, 999331), (1000121, 424243),
)
MINHASH_P = 2147483647          # 2^31 - 1
_BAND_SHIFT = 2147483648        # 2^31: pack two <2^31 hashes into one long
BANDS_OF = 2                    # rows per band -> len(params)/2 bands


def _pin_concurrent(*dfs: DataFrame) -> list[DataFrame]:
    """Eagerly localCheckpoint several INDEPENDENT DataFrames
    CONCURRENTLY (r16, guide §2.6 'overlap independent jobs'): each
    eager pin is one blocking job, and the pin chains in this module
    ran them serially -- paying every job's full latency back to back
    even though the frames share no dependency. A small thread pool
    submits them together so each job's tail back-fills the others'
    idle executors (FIFO scheduling gives exactly the back-fill
    behavior; jobs are independent by the caller's contract).
    Honest construction-inclusive A/B at sf0.1 (r16): the serial
    chain's pin phase ~4.2 s -> ~2.4 s for fuzzy_decontaminate.
    Results are unaffected: pinning is pure materialization."""
    if len(dfs) == 1:
        return [dfs[0].localCheckpoint(eager=True)]
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    pin = inheritable_thread_target(
        lambda df: df.localCheckpoint(eager=True))
    with ThreadPoolExecutor(max_workers=len(dfs)) as pool:
        return list(pool.map(pin, dfs))


def _spread(df: DataFrame, key_col: str) -> DataFrame:
    """Repartition doc rows across all cores before a ~100x-or-more
    shingle explode. Input splits bound pre-explode parallelism: a
    corpus read from a few small files would run the whole explode +
    hash work on a few cores. Shuffling the (small) doc rows is cheap
    insurance; on a many-split 100 TB scan it is a no-op cost-wise."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, key_col)


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup via fingerprint hash-aggregation: one row per
    distinct normalized text, keeping the smallest id as canonical."""
    return (df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
              .groupBy("fp")
              .agg(F.min(id_col).alias("canonical_id"),
                   F.count(F.lit(1)).alias("n_copies")))


def hashed_shingle_set(df: DataFrame, id_col: str, text_col: str,
                       k: int = 8) -> DataFrame:
    """Distinct (id, h32) pairs: 32-bit portable hashes of character
    k-shingles. Hashing BEFORE the distinct means every downstream
    shuffle (dedup, signature agg, set intersection) moves 8-byte longs
    instead of k-char strings -- the representation all near-dup
    operators share. md5-derived, so DuckDB computes identical values
    and hash collisions (if any) affect both engines identically."""
    # explode positions, then slice + hash as flat Column expressions:
    # building the shingle array via a transform() lambda runs
    # interpreted per element (SCALE.md §1); flat codegen measured ~25%
    # faster on the dominant stage. Same (id, h32) set either way.
    n = F.greatest(F.length(text_col) - (k - 1), F.lit(1))
    return (_spread(df, id_col)
            .select(F.col(id_col).alias("id"), F.col(text_col),
                    F.explode(F.sequence(F.lit(1), n)).alias("p"))
            .select("id",
                    portable_hash32(
                        F.substring(F.col(text_col), F.col("p"), F.lit(k))
                    ).alias("h32"))
            .distinct())


def minhash_signatures(hashed: DataFrame) -> DataFrame:
    """(id, i, minhash_i): min over shingle hashes of (a_i*H + b_i)
    mod P. Exact int64 arithmetic -- a*H < 2^53 -- identical on any
    engine. Input is (id, h32) from hashed_shingle_set.

    The package bands through fused_doc_profile + fused_band_rows;
    this unfused block is the test oracle those are checked against
    (test_minhash_fused_matches_unfused_blocks).

    All len(MINHASH_PARAMS) minhashes are computed as aggregates of ONE
    groupBy(id) pass (map-side partial min per hash), instead of
    fanning each shingle out len(params)x through a params join -- at
    100 TB that fan-out would multiply the dominant shuffle by 8."""
    wide = hashed.groupBy("id").agg(*[
        F.min((F.lit(a) * F.col("h32") + F.lit(b)) % MINHASH_P)
         .alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_PARAMS)])
    sig_structs = F.array(*[
        F.struct(F.lit(i).alias("i"), F.col(f"mh{i}").alias("mh"))
        for i in range(len(MINHASH_PARAMS))])
    return (wide.select("id", F.explode(sig_structs).alias("s"))
                .select("id", F.col("s.i").alias("i"),
                        F.col("s.mh").alias("mh")))


def lsh_band_signatures(sigs: DataFrame) -> DataFrame:
    """Pack each band of BANDS_OF minhashes into one long (exact).
    Like minhash_signatures, the test oracle of fused_band_rows."""
    packed = F.when(F.col("i") % BANDS_OF == 0,
                    F.col("mh") * _BAND_SHIFT).otherwise(F.col("mh"))
    return (sigs.withColumn("band", F.floor(F.col("i") / BANDS_OF))
                .groupBy("id", "band")
                .agg(F.sum(packed).alias("band_sig")))


# unique suffix per observe() node: Spark rejects two observations with
# the same name inside one plan (e.g. a union of two minhash_dedup runs)
_OBS_COUNTER = [0]


def lsh_candidate_pairs(bands: DataFrame,
                        bucket_cap: int | None = None,
                        cap_observation=None) -> DataFrame:
    """Distinct id pairs sharing at least one band bucket. The join is
    keyed on (band, band_sig) -- collision buckets, not a cross join.

    `bucket_cap` bounds the per-bucket fan-out: each (band, band_sig)
    bucket keeps only its `bucket_cap` smallest ids before the
    self-join, so a bucket of N rows emits O(min(N, cap)^2) candidate
    pairs instead of O(N^2). Without it a mass-duplicated document
    family (million-copy boilerplate -- the common case in web corpora)
    lands in the same bucket in EVERY band and the join explodes; the
    cap turns that into a bounded, AQE-splittable equi-join. Docs
    beyond the cap lose only THIS bucket's candidates (other bands
    still pair them); callers that first collapse exact-identical
    texts (minhash_dedup) only hit the cap on genuinely distinct
    near-dup floods. Dropped-row counts are exposed two ways, per the
    no-silent-caps rule: a named observe() metric
    ('lsh_bucket_cap_<n>': rows_dropped, max_bucket_size) costing no
    extra job, and the explicit lsh_bucket_audit() relation."""
    if bucket_cap is not None:
        bands = cap_band_buckets(bands, bucket_cap,
                                 observation=cap_observation)
    a = bands.select(F.col("id").alias("id_a"), "band", "band_sig")
    b = bands.select(F.col("id").alias("id_b"), "band", "band_sig")
    return (a.join(b, ["band", "band_sig"])
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b")
             .distinct())


def cap_band_buckets(bands: DataFrame, bucket_cap: int,
                     observation=None) -> DataFrame:
    """Keep each (band, band_sig) bucket's `bucket_cap` smallest ids,
    with the dropped-row count exposed as an observe() metric (zero
    extra jobs). One window shuffle on the join key itself -- the hot
    bucket runs through ONE linear window task instead of an O(N^2)
    join explosion. Shared by lsh_candidate_pairs (self-join) and
    fuzzy_decontaminate (cross-join).

    `observation`: an optional pyspark Observation object; when given,
    the (rows_dropped, max_bucket_size) metrics ride it instead of an
    anonymous named observation, so the CALLER can harvest them after
    its action and push them into the operational surface
    (record_lsh_cap_metrics -> SyncMetrics -> StatusServer /stat and
    /metrics) -- a capped production run REPORTS its recall
    concession, per the no-silent-caps rule."""
    if bucket_cap < 2:
        raise ValueError("bucket_cap must be >= 2 (a 1-row bucket "
                         "emits no pairs at all)")
    w = Window.partitionBy("band", "band_sig").orderBy("id")
    dropped = F.sum(F.when(F.col("__rn") > bucket_cap, 1)
                    .otherwise(0)).alias("rows_dropped")
    biggest = F.max("__rn").alias("max_bucket_size")
    ranked = bands.withColumn("__rn", F.row_number().over(w))
    if observation is not None:
        ranked = ranked.observe(observation, dropped, biggest)
    else:
        _OBS_COUNTER[0] += 1
        ranked = ranked.observe(f"lsh_bucket_cap_{_OBS_COUNTER[0]}",
                                dropped, biggest)
    return ranked.filter(F.col("__rn") <= bucket_cap).drop("__rn")


def record_lsh_cap_metrics(observation, metrics) -> dict:
    """Harvest a cap_band_buckets Observation (AFTER an action has run
    over the capped plan -- Observation.get blocks otherwise) into an
    operational metrics object: rows_dropped accumulates as a counter,
    max_bucket_size keeps its high-water mark. `metrics` is duck-typed
    on streaming.pipeline.SyncMetrics (record_counts + counts), so the
    values surface through StatusServer's /stat JSON and /metrics
    Prometheus text exactly like the op counters. Returns the raw
    observed dict."""
    got = dict(observation.get)
    metrics.record_counts({
        "lsh_bucket_cap_rows_dropped": int(got.get("rows_dropped") or 0),
    })
    hw = int(got.get("max_bucket_size") or 0)
    prev = metrics.counts.get("lsh_bucket_cap_max_bucket_size", 0)
    metrics.counts["lsh_bucket_cap_max_bucket_size"] = max(prev, hw)
    return got


def lsh_bucket_audit(bands: DataFrame, bucket_cap: int) -> DataFrame:
    """One-row accounting of what a bucket_cap would drop from a
    (id, band, band_sig) relation: (n_buckets_over_cap, n_rows_dropped,
    max_bucket_size). The explicit audit pair to lsh_candidate_pairs's
    free observe() metric -- run it when a capped dedup pass must
    REPORT its recall concession (one keyed count, corpus-scale safe)."""
    sizes = bands.groupBy("band", "band_sig").agg(
        F.count(F.lit(1)).alias("n"))
    return sizes.agg(
        F.count(F.when(F.col("n") > bucket_cap, 1))
         .alias("n_buckets_over_cap"),
        F.coalesce(F.sum(F.when(F.col("n") > bucket_cap,
                                F.col("n") - bucket_cap)),
                   F.lit(0)).alias("n_rows_dropped"),
        F.coalesce(F.max("n"), F.lit(0)).alias("max_bucket_size"))


def collapse_exact_texts(df: DataFrame, id_col: str,
                         text_col: str) -> tuple[DataFrame, DataFrame]:
    """Collapse byte-identical texts to one representative:
    (reps: (id, text) -- the min-id doc of each distinct raw text;
    members: (id, rep_id) -- every doc mapped to its representative).

    The load-bearing pre-step for LSH at scale: a million-copy
    boilerplate family shares ALL band signatures, so without collapse
    it puts N rows in the same bucket in every band and the candidate
    join emits O(N^2 x bands) pairs. Collapsed, the family is ONE band
    row; member-level results are reconstructed exactly afterwards
    (identical raw text => identical shingle set => identical minhashes
    and Jaccard, so every member inherits its rep's matches verbatim).
    Keyed on md5 of the RAW text -- not the whitespace-normalized
    fingerprint() -- because shingling consumes the raw text and two
    docs differing only in whitespace have different shingle sets.

    Plan shape: a partial-aggregable groupBy on the text hash (NOT a
    window over it -- a window would shuffle the full text column for
    every row, where the groupBy's map-side combine collapses each
    partition's identical texts before the exchange, which is the
    whole point in the boilerplate case), carrying one text per group
    (min_by id, deterministic); `members` re-keys ids to reps via an
    (id, hash) join that moves no text. A 100 TB run would
    parquet-checkpoint `members` before fan-out reuse (same note as
    minhash_dedup's per-doc relation)."""
    base = df.select(F.col(id_col).alias("id"),
                     F.col(text_col).alias("text"),
                     F.md5(text_col).alias("__tfp"))
    rep = base.groupBy("__tfp").agg(
        F.min("id").alias("rep_id"),
        F.min_by("text", "id").alias("text"))
    reps = rep.select(F.col("rep_id").alias("id"), "text")
    members = (base.select("id", "__tfp")
               .join(rep.select("__tfp", "rep_id"), "__tfp")
               .select("id", "rep_id"))
    return reps, members


def jaccard_verify(candidates: DataFrame, hashed: DataFrame,
                   threshold: float) -> DataFrame:
    """Exact Jaccard on candidate pairs only, over the (id, h32) hashed
    shingle sets.

    Plan shape: one groupBy(id) folds each document's shingle set into
    an array (~hundreds of longs), then the candidate pairs pick up
    both arrays via two keyed joins and intersect JVM-side with
    array_intersect. This moves |docs| array rows through the joins
    instead of exploding |pairs| x |shingles_per_doc| rows -- at 72k
    candidate pairs and ~300 shingles/doc that is a 20M-row shuffle
    avoided; the ratio only grows with corpus size."""
    sets = hashed.groupBy("id").agg(
        F.collect_set(F.when(F.col("h32") >= (1 << 31),
                             F.col("h32") - (1 << 32))
                      .otherwise(F.col("h32"))
                      .cast("int")).alias("hs"))
    return jaccard_verify_sets(candidates, sets, threshold)


def jaccard_verify_sets(candidates: DataFrame, sets: DataFrame,
                        threshold: float) -> DataFrame:
    """jaccard_verify over pre-aggregated (id, hs: array<long>) sets --
    the shared tail when a caller already has per-doc hash arrays.

    Alongside Jaccard it reports max-containment |A∩B| / min(|A|,|B|):
    a short document wholly embedded in a long one scores low Jaccard
    (the union is dominated by the long doc) but containment ~1 --
    the signal that catches subsumed/quoted documents, which pure
    Jaccard dedup misses. Same intersect, zero extra cost.

    The candidate pairs are SPREAD across cores first: they are
    byte-tiny (two longs) but each carries an array_intersect over
    ~hundreds-of-element hash sets, and AQE -- which sizes partitions
    by bytes -- otherwise coalesces them to ONE task and serializes
    the whole verify (measured 2.8 s -> 0.6 s at sf0.1 when the
    bucket-cap's WindowGroupLimit stats triggered exactly that; same
    byte-blind-AQE trap operators/funnel._pin_user_parallelism
    documents)."""
    candidates = _spread(candidates, "id_a")
    # shuffle_hash on the sets side: sort-merge would SORT the
    # pair-side intermediate -- per-pair rows already carrying a
    # ~300-int hs_a array (the x100 probe's dominant shuffle); hashing
    # the doc-grain sets side instead streams the fat side through
    return (candidates
            .join(sets.select(F.col("id").alias("id_a"),
                              F.col("hs").alias("hs_a"))
                  .hint("shuffle_hash"), "id_a")
            .join(sets.select(F.col("id").alias("id_b"),
                              F.col("hs").alias("hs_b"))
                  .hint("shuffle_hash"), "id_b")
            .withColumn("n_inter", F.size(F.array_intersect("hs_a", "hs_b")))
            .withColumn("jaccard",
                        F.round(F.col("n_inter").cast("double")
                                / (F.size("hs_a") + F.size("hs_b")
                                   - F.col("n_inter")), 6))
            .withColumn("containment",
                        F.round(F.col("n_inter").cast("double")
                                / F.least(F.size("hs_a"), F.size("hs_b")),
                                6))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard", "containment"))


def minhash_dedup(df: DataFrame, id_col: str, text_col: str,
                  k: int = 8, threshold: float = 0.5,
                  bucket_cap: int | None = 64,
                  grain: str = "member", cap_observation=None):
    """End-to-end MinHash+LSH near-dup detection: collapse exact
    texts -> shingle -> signature -> band buckets -> candidate pairs
    -> exact-Jaccard verify -> expand back to member grain.

    `grain` picks the output shape:
    - 'member' (default): the expanded (id_a, id_b, jaccard,
      containment) pair list. The pair LIST for an N-copy exact-dup
      family is inherently O(N^2) rows -- fine when families are
      bounded (the fixtures), a scale-killer under mass duplication.
    - 'rep': returns the tuple (rep_pairs, members) -- verified
      near-dup pairs at REPRESENTATIVE grain (one row per distinct
      text, never quadratic) plus the (id, rep_id) members map. THIS
      is the 100 TB path: every downstream dedup decision composes
      from it in O(N) -- rep_cluster_labels() for member-grain
      cluster ids, minhash_dedup_canonical() for a deduped corpus --
      without ever materializing member pairs. The expanded output is
      exactly expand_rep_pairs(rep_pairs, members, threshold).

    Scale armor (the 100 TB boilerplate case): byte-identical texts
    are collapsed to one representative FIRST (collapse_exact_texts),
    so a mass-duplicated family contributes one band row instead of
    flooding every bucket; any remaining hot bucket of genuinely
    distinct near-dups is bounded by `bucket_cap` (observe-metric +
    lsh_bucket_audit accounting -- no silent recall loss). Member
    pairs are reconstructed exactly: within a family every pair is a
    (1.0, 1.0) duplicate, and a rep-level match expands to all member
    cross pairs with the rep's jaccard (identical text => identical
    shingle set, so the values are equal BY CONSTRUCTION, not
    approximately). Output is row-identical to the uncollapsed
    pipeline (test-asserted); only the candidate join shrinks. NOTE:
    the expanded pair LIST for an N-copy family is inherently
    O(N^2) rows -- pure dedup consumers should take keep_canonical /
    duplicate_clusters on the REP pairs plus the members map instead
    of materializing member pairs (see keep_canonical).

    Fused plan: the per-doc aggregation (all minhash mins AND the
    exact hash set, each partial-aggregable before the doc-keyed
    shuffle) is declared ONCE, and band signatures come from flat
    column arithmetic over the wide row -- no (id, band) shuffle.
    Compared to the unfused building blocks (minhash_signatures +
    lsh_band_signatures + jaccard_verify, kept above as the test
    oracle of this plan) that drops two doc-grain shuffles.

    Deliberately NO persist: Catalyst prunes the aggregate per branch
    (the band branch aggregates only the 8 mins, each verify side only
    collect_set), so the "redundant" branch recomputes are each
    cheaper than one fused aggregation -- and caching the wide row
    forces columnar (de)serialization of the hs arrays, which measured
    2-4x SLOWER than recompute at sf0.1 (cold 1.8s unpersisted vs
    2.2s persisting this relation vs 8.2s persisting raw shingles;
    warm 1.4s vs 5.7s vs 2.0s). A 100 TB run that cannot afford three
    corpus scans would parquet-checkpoint the per-doc relation and
    read it back -- same plan shape, columnar on disk, no cache-read
    penalty. No pre-distinct on shingles: min is duplicate-insensitive
    and collect_set dedups, so a distinct would be a pure extra
    shuffle. Results are row-identical to the unfused pipeline
    (test-asserted)."""
    if grain not in ("member", "rep"):
        raise ValueError(f"grain must be 'member' or 'rep': {grain!r}")
    reps, members = collapse_exact_texts(df, id_col, text_col)
    # PIN members before its fan-out reuse: expand_rep_pairs references
    # it four times (intra self-join + two cross sides) and per_doc's
    # branches re-derive reps three more -- without pinning, EVERY
    # reference re-runs the corpus-wide collapse aggregation (measured
    # 3.6 s -> 1.0 s at sf0.1). members is two longs per doc, the
    # cheapest possible materialization; reps deliberately stays lazy
    # (pinning the TEXT column would hold the distinct corpus in
    # executor memory -- the 100 TB version parquet-checkpoints it
    # instead, per the docstring note).
    per_doc = fused_doc_profile(reps, k)
    bands = fused_band_rows(per_doc)
    cands = lsh_candidate_pairs(bands, bucket_cap=bucket_cap,
                                cap_observation=cap_observation)
    # Round 10 (found by the SCALE.md §6 stage cuts): the verify join
    # consumes hs sets for CANDIDATE docs only, but feeding it the
    # full per_doc relation aggregated collect_set over the WHOLE
    # corpus -- twice (once per join side). At x100 that was 89 s of
    # the chain's 130 s. Pin the bounded candidate pairs (two longs
    # per row), restrict the corpus to candidate ids with a semi join
    # BEFORE the shingle explode + collect_set, and pin the restricted
    # sets so the two-sided join aggregates once. The r8 finding that
    # caching the FULL hs relation loses to recompute still holds --
    # this caches only the ~|candidates| slice, which is the part the
    # join actually reads.
    # members and cands share no dependency -- pin them CONCURRENTLY
    # (r16, guide §2.6) instead of paying both jobs' latencies serially
    members, cands = _pin_concurrent(members, cands)
    cand_ids = (cands.select(F.col("id_a").alias("id"))
                .unionByName(cands.select(F.col("id_b").alias("id")))
                .distinct())
    cand_sets = (fused_doc_profile(reps.join(cand_ids, "id", "semi"), k)
                 .select("id", "hs")
                 .localCheckpoint(eager=True))
    rep_pairs = jaccard_verify_sets(cands, cand_sets, threshold)
    if grain == "rep":
        return rep_pairs, members
    return expand_rep_pairs(rep_pairs, members, threshold)


def fused_doc_profile(docs: DataFrame, k: int = 8) -> DataFrame:
    """(id, hs, mh0..mh7): the exact shingle-hash SET and all minhash
    mins of each document in ONE groupBy(id) aggregation (every
    aggregate partial-combines map-side before the single doc-keyed
    shuffle). This is the fused core minhash_dedup's docstring argues
    for; extracted so fuzzy_decontaminate shares it per side instead
    of running the unfused distinct -> signature -> band chain (three
    extra doc-grain shuffles per side). Input contract: (id, text)."""
    sh = (_spread(docs, "id")
          .select("id",
                  F.explode(char_shingles("text", k)).alias("shingle"))
          .select("id", portable_hash32("shingle").alias("h32")))
    # hs elements are the 32-bit hash values stored as INT via an
    # explicit two's-complement wrap (a bijection on [0, 2^32); ANSI
    # mode forbids the overflowing cast), and the set is only ever
    # compared for equality/intersection -- round 10:
    # halves the verify join's per-pair array payload, the dominant
    # shuffle at x100 candidate density. The minhash arithmetic keeps
    # the long form (a*h + b mod P needs the unsigned value).
    return sh.groupBy("id").agg(
        F.collect_set(F.when(F.col("h32") >= (1 << 31),
                             F.col("h32") - (1 << 32))
                      .otherwise(F.col("h32"))
                      .cast("int")).alias("hs"),
        *[F.min((F.lit(a) * F.col("h32") + F.lit(b))
                % MINHASH_P).alias(f"mh{i}")
          for i, (a, b) in enumerate(MINHASH_PARAMS)])


def fused_band_rows(per_doc: DataFrame) -> DataFrame:
    """(id, band, band_sig) from the fused wide row: flat column
    arithmetic (identical packing to lsh_band_signatures -- test-
    asserted via the fused/unfused equality), no (id, band) shuffle."""
    def band_sig(b: int):
        sig = F.col(f"mh{b * BANDS_OF}") * _BAND_SHIFT
        for j in range(1, BANDS_OF):
            sig = sig + F.col(f"mh{b * BANDS_OF + j}")
        return sig

    n_bands = len(MINHASH_PARAMS) // BANDS_OF
    return (per_doc.select("id", F.explode(F.array(*[
                F.struct(F.lit(b).alias("band"),
                         band_sig(b).alias("band_sig"))
                for b in range(n_bands)])).alias("bs"))
            .select("id", "bs.band", "bs.band_sig"))


def expand_rep_pairs(rep_pairs: DataFrame, members: DataFrame,
                     threshold: float) -> DataFrame:
    """Reconstruct member-grain (id_a, id_b, jaccard, containment)
    pairs from representative-grain verified pairs + the (id, rep_id)
    members map of collapse_exact_texts:

    - intra-family: every pair inside an exact-duplicate family is a
      (1.0, 1.0) near-dup (identical text), subject to the same
      threshold filter;
    - cross-family: each rep-level match fans out to all member cross
      pairs, carrying the rep's exact jaccard/containment (equal for
      every member pair because the shingle sets are identical).

    Pairs are re-ordered with least/greatest so id_a < id_b holds at
    member grain (families interleave numerically); families are
    disjoint, so no pair is emitted twice. All joins are keyed on
    rep ids -- never corpus x corpus."""
    intra = (members.select("rep_id", F.col("id").alias("id_a"))
             .join(members.select("rep_id", F.col("id").alias("id_b")),
                   "rep_id")
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b",
                     F.lit(1.0).alias("jaccard"),
                     F.lit(1.0).alias("containment")))
    cross = (rep_pairs
             .join(members.select(F.col("rep_id").alias("id_a"),
                                  F.col("id").alias("__ma")), "id_a")
             .join(members.select(F.col("rep_id").alias("id_b"),
                                  F.col("id").alias("__mb")), "id_b")
             .select(F.least("__ma", "__mb").alias("id_a"),
                     F.greatest("__ma", "__mb").alias("id_b"),
                     "jaccard", "containment"))
    # intra-family pairs all sit at jaccard exactly 1.0, so the
    # threshold gate is a build-time branch, not a row filter (a
    # lit(bool) filter here read as row-wise and would silently
    # keep/drop everything if jaccard ever became a column)
    if threshold > 1.0:
        return cross
    return cross.unionByName(intra)


def rep_pair_report(rep_pairs: DataFrame, members: DataFrame,
                    threshold: float = 0.5) -> DataFrame:
    """Bounded near-dup report at REPRESENTATIVE grain: one row per
    verified rep pair plus one summary row per exact-duplicate family,
    each carrying member counts and the exact size of the member-grain
    pair set it stands for.

    Columns: (id_a, id_b, jaccard, containment, n_members_a,
    n_members_b, n_member_pairs). Cross rows have id_a < id_b (rep
    ids) and n_member_pairs = n_a * n_b; family rows have
    id_a == id_b == rep_id, jaccard = containment = 1.0 and
    n_member_pairs = n * (n - 1) / 2.

    This is the scale-safe REPLACEMENT for expand_rep_pairs' member
    pair list as a reporting surface: sum(n_member_pairs) equals the
    expanded list's row count exactly (test-asserted), and every
    member pair's jaccard/containment is recoverable (members of a
    family share their rep's values BY CONSTRUCTION -- identical text,
    identical shingle set), but the output is O(reps + rep_pairs)
    rows no matter how mass-duplicated the corpus is. Under a
    million-copy boilerplate family the expanded list is ~10^12 rows;
    this report is ONE row. The x100 scale probe measured the
    difference: 113.97 s / 10.8x second-decade growth for the
    expanded list vs ~3.7x for the rep-grain path (SCALE.md §6).

    Plan: one count per family (partial-aggregable groupBy over the
    two-long members map), two bounded joins keyed on rep ids. `fam`
    is pinned before its three-way fan-out (same rationale as the
    members pin in minhash_dedup -- a 100 TB run parquet-checkpoints
    it instead)."""
    fam = (members.groupBy("rep_id")
           .agg(F.count(F.lit(1)).alias("__n"))
           .localCheckpoint(eager=True))
    cross = (rep_pairs
             .join(fam.select(F.col("rep_id").alias("id_a"),
                              F.col("__n").alias("n_members_a")), "id_a")
             .join(fam.select(F.col("rep_id").alias("id_b"),
                              F.col("__n").alias("n_members_b")), "id_b")
             .select("id_a", "id_b", "jaccard", "containment",
                     "n_members_a", "n_members_b",
                     (F.col("n_members_a") * F.col("n_members_b"))
                     .alias("n_member_pairs")))
    intra = (fam.filter(F.col("__n") >= 2)
             .select(F.col("rep_id").alias("id_a"),
                     F.col("rep_id").alias("id_b"),
                     F.lit(1.0).alias("jaccard"),
                     F.lit(1.0).alias("containment"),
                     F.col("__n").alias("n_members_a"),
                     F.col("__n").alias("n_members_b"),
                     (F.col("__n") * (F.col("__n") - 1) / F.lit(2))
                     .cast("long").alias("n_member_pairs")))
    # same build-time threshold gate as expand_rep_pairs: family rows
    # are exact duplicates (jaccard 1.0) by construction
    if threshold > 1.0:
        return cross
    return cross.unionByName(intra)


def simhash_table(df: DataFrame, id_col: str, text_col: str,
                  k: int = 8, bits: int = 32) -> DataFrame:
    """Per-document SimHash: for each bit, +1/-1 votes over shingle
    hashes; bit set when the vote sum is positive. Identical simhash
    == near-identical text at this k.

    One aggregation, no row explosion (r15, guide §2.3 "aggregate
    before you shuffle"): the per-bit vote over a doc's n distinct
    shingles is sum(+1/-1) = 2*cnt_b - n where cnt_b counts shingles
    with bit b set, so all 32 votes are 32 conditional sums in ONE
    groupBy(id) -- the previous shape broadcast-joined a 32-row bit
    table, multiplying the (id, h32) relation 32x through an extra
    (id, b) aggregation (measured 1.9 s -> 0.6 s isolated for the
    simhash branch at sf0.1, and the 32x intermediate is gone at any
    scale). h32 is an unsigned 32-bit value in a long, so
    shiftright(h32, b) & 1 IS floor(h32 / 2^b) % 2, the documented
    engine-parity bit extraction; vote > 0 <=> 2*cnt_b > n in exact
    integers, so the fingerprints are bit-identical."""
    # h32 is a 32-bit hash: bits > 32 would vote on constant-zero bits
    # (and the 1 << b literal overflows long at b >= 63) -- fail loudly
    # instead of degrading silently (r15 ADVICE guard)
    if not 1 <= bits <= 32:
        raise ValueError(f"simhash bits must be in [1, 32] (h32 is a "
                         f"32-bit hash), got {bits}")
    h = hashed_shingle_set(df, id_col, text_col, k)
    cnts = h.groupBy("id").agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.sum(F.shiftright(F.col("h32"), b).bitwiseAND(F.lit(1)))
           .alias(f"__c{b}") for b in range(bits)])
    sim = F.lit(0).cast("long")
    for b in range(bits):
        sim = sim + F.when(F.col(f"__c{b}") * 2 > F.col("__n"),
                           F.lit(1 << b).cast("long")).otherwise(F.lit(0))
    return cnts.select("id", sim.alias("simhash"))


def simhash_near_dups(df: DataFrame, id_col: str, text_col: str,
                      max_hamming: int = 3, k: int = 8) -> DataFrame:
    """Near-dup pairs from 32-bit SimHash fingerprints: candidates are
    generated by the pigeonhole block trick -- split each fingerprint
    into 4 bytes; any pair within hamming distance <= 3 must agree
    EXACTLY on at least one byte (4 blocks, <= 3 differing bits), so
    the self-join keys on (block_idx, block_value) and misses nothing.
    Verification is bit_count(xor) <= max_hamming, JVM-codegen'd.

    Candidate volume is bounded by byte-block collisions (256 buckets
    per block on uniform fingerprints), never corpus^2 -- same shape as
    the MinHash band join, trading its shingle-set verify for an O(1)
    popcount. max_hamming > 3 would need wider/more blocks; guarded."""
    if max_hamming > 3:
        raise ValueError("byte-block candidates guarantee recall only "
                         "for max_hamming <= 3 over 4 blocks")
    sh = simhash_table(df, id_col, text_col, k=k)
    blocks = sh.select(
        "id", "simhash",
        F.posexplode(F.array(*[
            (F.floor(F.col("simhash") / F.lit(256 ** i)) % 256).cast("int")
            for i in range(4)])).alias("blk", "blk_val"))
    a = blocks.select(F.col("id").alias("id_a"),
                      F.col("simhash").alias("sh_a"), "blk", "blk_val")
    b = blocks.select(F.col("id").alias("id_b"),
                      F.col("simhash").alias("sh_b"), "blk", "blk_val")
    return (a.join(b, ["blk", "blk_val"])
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b", "sh_a", "sh_b")
             .dropDuplicates(["id_a", "id_b"])
             .withColumn("hamming", F.bit_count(
                 F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
             .filter(F.col("hamming") <= max_hamming)
             .select("id_a", "id_b", "hamming"))


def ngram_jaccard_blocked(df: DataFrame, id_col: str, text_col: str,
                          block_cols: list[str], n: int = 3,
                          threshold: float = 0.3) -> DataFrame:
    """Word-n-gram Jaccard with metadata blocking: only pairs sharing
    the blocking key are compared -- the classic scalable alternative
    to LSH when trustworthy blocking attributes exist."""
    base = df.select(F.col(id_col).alias("id"), *block_cols)
    a = base.select(F.col("id").alias("id_a"), *block_cols)
    b = base.select(F.col("id").alias("id_b"), *block_cols)
    cands = (a.join(b, block_cols)
              .filter(F.col("id_a") < F.col("id_b"))
              .select("id_a", "id_b"))
    # flat-codegen gram explode (r15): the array form ran the
    # transform() concat lambda interpreted per gram -- 4.5 s -> 1.1 s
    # isolated for this relation at sf0.1; also keeps the gram arrays
    # out of the spread exchange (text shuffles, grams compute after)
    grams = (TX.exploded_word_ngrams(
                 _spread(df.select(F.col(id_col).alias("id"), text_col),
                         "id"), text_col, n)
             .select("id", portable_hash32("g").alias("h32"))
             .distinct())
    return jaccard_verify(cands, grams, threshold)


def near_dup_corpus(docs: DataFrame) -> DataFrame:
    """Deterministic near/exact-duplicate test corpus: the fixture
    documents plus (a) a perturbed copy (suffix appended) of every 7th
    doc and (b) an exact copy of every 11th doc. Offsets keep ids
    disjoint; metadata columns carry over so blocking keys still match.
    The same construction exists in SQL for the oracle."""
    base = docs.select(F.col("doc_id").alias("id"), "text", "source",
                       "n_chars")
    near = (docs.filter(F.col("doc_id") % 7 == 0)
                .select((F.col("doc_id") + 1000000).alias("id"),
                        F.concat(F.col("text"),
                                 F.lit(" almost duplicate suffix"))
                         .alias("text"),
                        "source", "n_chars"))
    exact = (docs.filter(F.col("doc_id") % 11 == 0)
                 .select((F.col("doc_id") + 2000000).alias("id"),
                         "text", "source", "n_chars"))
    return base.unionByName(near).unionByName(exact)


CORPUS_SQL = """
SELECT doc_id AS id, text, source, n_chars FROM documents
UNION ALL
SELECT doc_id + 1000000, text || ' almost duplicate suffix', source, n_chars
FROM documents WHERE doc_id % 7 = 0
UNION ALL
SELECT doc_id + 2000000, text, source, n_chars
FROM documents WHERE doc_id % 11 = 0
"""


def duplicate_clusters(pairs: DataFrame, max_iters: int = 1,
                       hard_cap: int = 64) -> DataFrame:
    """Connected components over duplicate pairs -> (id, cluster_id)
    with cluster_id = min id in the component (deterministic).

    Min-label propagation: each iteration joins current labels across
    the (symmetrized) edge list and keeps the per-node minimum -- one
    keyed aggregation per iteration, converging in O(component
    diameter) rounds. The first `max_iters` rounds run action-free;
    after that a CONVERGENCE GUARD takes over: keep propagating until
    a round changes no label, raising RuntimeError if a pathological
    component is still unconverged at `hard_cap` rounds -- a long
    chain costs extra rounds instead of silently mislabeling. The
    loop is driver-side control flow only; all data stays distributed.

    max_iters default 1 (r16, was 6): near-dup components are cliques
    or short chains -- the sf0.1 fixture converges with delta=0 at
    round TWO (measured: iter-1 delta 948, iter-2 delta 0) -- so five
    of the six blind rounds were pure waste (~0.3-0.45 s of join+agg
    stages each in the final materializing job). Since the r16
    changed-flag guard, each guarded round's convergence check is one
    cheap count over the round's own pinned output (no extra join),
    so guarding early costs one tiny job per round and saves every
    unneeded propagate at ANY scale where components stay small --
    which is the operating assumption the bucket caps already
    enforce upstream."""
    # PIN the pair list FIRST (round 12): the symmetrizing union
    # below references `pairs` TWICE -- the cross-branch shape that
    # re-executed the xdup chain's gram subtree (SCALE.md §6c). Here
    # the edges pin below already bounded that to once per RUN, so
    # the clean §6d A/B measured this entry pin as a WASH at x100
    # (93.1 vs 79.7 s, in-band; e2e family row flat at 190 vs 185 s)
    # -- it stays as cheap hygiene (two longs per pair): downstream
    # iteration cost no longer depends on lazy-checkpoint caching
    # timing, and every caller (rep_cluster_labels, keep_canonical,
    # minhash_dedup_canonical, dedup_clusters) shares the one choke
    # point. An earlier 139.5-vs-61.0 A/B claiming -56% did not
    # survive a clean-box re-run; SCALE.md §6d records both.
    pairs = pairs.select("id_a", "id_b").localCheckpoint(eager=True)
    # PIN the edge list before the loop (round 9, found by the honest
    # construction-inclusive scale probe): every propagate() iteration
    # joins against `edges`, and each lazy-checkpoint boundary runs as
    # its own job -- unpinned, EVERY iteration re-executed the entire
    # upstream pair-producing chain (for MinHash rep pairs: the full
    # shingle/band/verify pipeline, ~6-7x the dominant cost at x100).
    # Edges are two longs per pair; a 100 TB run parquet-checkpoints
    # the same relation.
    edges = (pairs.select(F.col("id_a").alias("src"),
                          F.col("id_b").alias("dst"))
             .unionByName(pairs.select(F.col("id_b").alias("src"),
                                       F.col("id_a").alias("dst")))
             .distinct()
             .localCheckpoint(eager=False))
    labels = (edges.select(F.col("src").alias("id"))
              .distinct()
              .withColumn("cluster_id", F.col("id")))

    def propagate(cur: DataFrame, with_flag: bool = False) -> DataFrame:
        neighbor_min = (edges
                        .join(cur.withColumnRenamed("id", "dst")
                                 .withColumnRenamed("cluster_id", "nl"),
                              "dst")
                        .groupBy("src")
                        .agg(F.min("nl").alias("neighbor_label")))
        nl = F.coalesce("neighbor_label", "cluster_id")
        # the convergence guard's changed flag rides the SAME join
        # (r16): labels only ever DECREASE, so `changed` is exactly
        # `neighbor_label < cluster_id` -- computing it here lets the
        # guard count over the pinned result instead of re-joining the
        # new and old label tables (one join + exchange fewer per
        # guard round; the old delta join was the guard's whole cost)
        flag = [(nl < F.col("cluster_id")).alias("__chg")] \
            if with_flag else []
        return (cur
                .join(neighbor_min.withColumnRenamed("src", "id"),
                      "id", "left")
                .select("id",
                        F.least("cluster_id", nl).alias("cluster_id"),
                        *flag))

    for _ in range(max_iters):
        # localCheckpoint truncates the exponentially growing lineage;
        # at scale this is the standard iterative-algorithm pattern
        labels = propagate(labels).localCheckpoint(eager=False)
    for it in range(max_iters, hard_cap + 1):
        nxt = propagate(labels, with_flag=True) \
            .localCheckpoint(eager=True)
        delta = nxt.filter(F.col("__chg")).count()
        labels = nxt.select("id", "cluster_id")
        if delta == 0:
            return labels
    raise RuntimeError(
        f"duplicate_clusters did not converge within {hard_cap} rounds "
        "-- a duplicate component has pathological diameter; raise "
        "hard_cap or pre-split the component")


def keep_canonical(docs: DataFrame, pairs: DataFrame,
                   id_col: str = "id") -> DataFrame:
    """Dedup filter: drop every doc that belongs to a duplicate
    cluster but is not its canonical (min-id) member. Anti-join --
    docs outside any cluster pass through untouched."""
    clusters = duplicate_clusters(pairs)
    losers = clusters.filter(F.col("id") != F.col("cluster_id")) \
                     .select(F.col("id").alias(id_col))
    return docs.join(losers, [id_col], "left_anti")


def rep_cluster_labels(rep_pairs: DataFrame,
                       members: DataFrame) -> DataFrame:
    """Member-grain duplicate-cluster labels (id, cluster_id) from
    REP-grain verified pairs + the collapse_exact_texts members map --
    row-identical to duplicate_clusters(expand_rep_pairs(...)) but
    never materializing the O(N^2) member pair list (test-asserted
    on a planted 1000-copy family): connected components run over rep
    pairs (bounded by DISTINCT texts), then one members join fans the
    labels back out.

    Why the labels agree: a member-graph component is a union of
    exact-dup families connected by rep matches; its min id is the min
    member of some family = that family's rep_id (collapse keeps the
    min id as rep) = the min over the component's reps = the rep-grain
    cluster_id. Ids covered: members of families of size >= 2 (their
    intra pairs put them in the member-grain output) plus all members
    of any rep that matched another rep -- exactly the ids the
    expanded pair list touches. Contract: threshold <= 1.0 (exact
    copies count as near-dups -- expand_rep_pairs' intra filter).

    Every relation here is O(N): members (two longs/doc), family
    sizes (one count per family), rep clusters (bounded by reps in
    pairs). This is the dedup-decision path minhash_dedup's 'rep'
    grain exists for."""
    rep_clusters = duplicate_clusters(rep_pairs.select("id_a", "id_b"))
    fam = members.groupBy("rep_id").agg(
        F.count(F.lit(1)).alias("__fam_n"))
    return (members
            .join(fam, "rep_id")
            .join(rep_clusters
                  .withColumnRenamed("id", "rep_id")
                  .withColumnRenamed("cluster_id", "__rc"),
                  "rep_id", "left")
            .filter((F.col("__fam_n") >= 2) | F.col("__rc").isNotNull())
            .select("id",
                    F.coalesce("__rc", F.col("rep_id"))
                     .alias("cluster_id")))


def minhash_dedup_canonical(df: DataFrame, id_col: str, text_col: str,
                            k: int = 8, threshold: float = 0.5,
                            bucket_cap: int | None = 64) -> DataFrame:
    """The documented 100 TB dedup path: MinHash+LSH near-dup
    detection composed straight to a DEDUPED CORPUS -- collapse exact
    texts -> capped LSH -> rep-grain verify -> rep-grain connected
    components -> anti-join the non-canonical members away. Returns
    df minus every doc whose cluster has a smaller-id member; no
    intermediate relation ever exceeds O(N) rows (the member pair
    list, O(N^2) under mass duplication, is never built).
    Row-identical to keep_canonical(df, minhash_dedup(..., grain=
    'member')) -- test-asserted, including on a 1000-copy family."""
    rep_pairs, members = minhash_dedup(
        df, id_col, text_col, k=k, threshold=threshold,
        bucket_cap=bucket_cap, grain="rep")
    labels = rep_cluster_labels(rep_pairs, members)
    losers = labels.filter(F.col("id") != F.col("cluster_id")) \
                   .select(F.col("id").alias(id_col))
    return df.join(losers, [id_col], "left_anti")
