"""Similarity search over embedding columns (array<float>).

Patterns chosen for the 100 TB stance:
- `topk_bruteforce` broadcasts a SMALL query set against the full
  corpus (never corpus x corpus) -- linear scan per query, the exact
  baseline every ANN variant is measured against.
- `topk_ivf` restricts each query to its coarse partition (the fixture
  `label` plays the IVF centroid assignment, nprobe=1) -- the scale
  path: candidate lists shrink by the number of partitions.
- `embedding_near_dups` finds near-duplicate vectors via bucketed
  self-join (label + id residue blocking), never all-pairs.

Scores use exact decimal accumulation (functions/vectors.py) and are
rounded before ranking, with id tie-breaks, so top-k is deterministic
and engine-portable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine, dot, norm_sq, quantize_int8


def _ranked_topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rk", F.row_number().over(w))
                  .filter(F.col("rk") <= k)
                  .select("query_id", "rk", "neighbor_id", "score"))


def topk_bruteforce(emb: DataFrame, queries: DataFrame, k: int = 5,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k of each query against the whole corpus; the
    query side is broadcast (small by contract)."""
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("qv"))
    c = emb.select(F.col(id_col).alias("neighbor_id"),
                   F.col(vec_col).alias("cv"))
    scored = (c.join(F.broadcast(q))
               .filter(F.col("query_id") != F.col("neighbor_id"))
               .withColumn("score", cosine("qv", "cv")))
    return _ranked_topk(scored, k)


def topk_bruteforce_quantized(emb: DataFrame, queries: DataFrame,
                              k: int = 5, id_col: str = "vec_id",
                              vec_col: str = "embedding") -> DataFrame:
    """Exact-shape brute-force top-k over the int8-QUANTIZED corpus.
    Cosine is scale-invariant, so scoring runs directly on the tinyint
    codes (no dequantization): the broadcast query relation and the
    corpus scan both carry 1/4 the float32 bytes (1/8 of Spark's
    array<double>), which is the term that dominates ANN shuffle and
    cache cost at 100 TB. Ranking error vs the exact float path is
    bounded by the codec's ~1e-3 cosine error (recall test-asserted)."""
    q = queries.select(F.col(id_col).alias("query_id"),
                       quantize_int8(vec_col).getField("q").alias("qv"))
    c = emb.select(F.col(id_col).alias("neighbor_id"),
                   quantize_int8(vec_col).getField("q").alias("cv"))
    scored = (c.join(F.broadcast(q))
               .filter(F.col("query_id") != F.col("neighbor_id"))
               .withColumn("score", cosine("qv", "cv")))
    return _ranked_topk(scored, k)


def topk_ivf(emb: DataFrame, queries: DataFrame, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             part_col: str = "label") -> DataFrame:
    """IVF-style ANN: search only the query's coarse partition
    (nprobe=1). The join is keyed on the partition column, so each
    query scans corpus/N_partitions instead of the full corpus."""
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("qv"),
                       F.col(part_col).alias("part"))
    c = emb.select(F.col(id_col).alias("neighbor_id"),
                   F.col(vec_col).alias("cv"),
                   F.col(part_col).alias("part"))
    scored = (c.join(F.broadcast(q), "part")
               .filter(F.col("query_id") != F.col("neighbor_id"))
               .withColumn("score", cosine("qv", "cv")))
    return _ranked_topk(scored, k)


def embedding_near_dups(emb: DataFrame, threshold: float = 0.98,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        block_cols: tuple[str, ...] = ("label",)) -> DataFrame:
    """Near-duplicate vectors: cosine >= threshold within blocking
    buckets (id_a < id_b). Blocking bounds the self-join the way LSH
    bucketing would at scale."""
    # r15: each side's norm is computed once per ROW before the join
    # instead of per PAIR inside cosine() -- same sqrt of the same
    # fold, so the rounded scores are bit-identical; the per-pair cost
    # drops from three interpreted-lambda array folds to one (guide
    # §1.2 per-task work; measured 2x on dedup_embedding_cosine)
    a = emb.select(F.col(id_col).alias("id_a"),
                   F.col(vec_col).alias("va"), *block_cols,
                   F.sqrt(norm_sq(vec_col)).alias("__na"))
    b = emb.select(F.col(id_col).alias("id_b"),
                   F.col(vec_col).alias("vb"), *block_cols,
                   F.sqrt(norm_sq(vec_col)).alias("__nb"))
    return (a.join(b, list(block_cols))
             .filter(F.col("id_a") < F.col("id_b"))
             .withColumn("score",
                         F.round(dot("va", "vb")
                                 / (F.col("__na") * F.col("__nb")), 6))
             .filter(F.col("score") >= threshold)
             .select("id_a", "id_b", "score"))


def hyperplane_lsh_near_dups(emb: DataFrame, threshold: float = 0.98,
                             n_planes: int = 32, n_bands: int = 4,
                             seed: int = 42,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding") -> DataFrame:
    """Near-duplicate vectors via random-hyperplane LSH (SimHash for
    cosine): signature bit i = sign(v . r_i); vectors agreeing on a
    whole band of n_planes/n_bands bits become join candidates, then
    exact cosine verifies. P[bit match] = 1 - angle/pi, so near-dups
    (cos >= 0.98 -> angle <= 11.5deg) agree per 8-bit band with
    p ~ 0.74 and collide on >=1 of 4 bands with p ~ 0.995, while
    unrelated vectors survive a band with p <~ 2^-8 -- band WIDTH
    (bits) controls the candidate count, band COUNT the recall;
    4-bit-wide bands were measured to drown the verify stage in
    false candidates. The content-blind analog of embedding_near_dups'
    metadata blocking, and the honest scale path when no blocking key
    exists.

    Measured width trade on a 20k-vector corpus where every vector
    sits in a near-dup clique (the adversarial density case): 8-bit
    bands 43.8 s / full pair set; 16-bit (n_planes=64) 12.4 s at ~91%
    of those pairs; 24-bit 6.3 s at ~79%. Defaults stay recall-first
    (8-bit); at 100 TB set n_planes=64 -- candidate volume, not the
    signature matmul, is the term that grows.

    The planes ship to executors as a seeded numpy matrix and the
    n_planes sign bits come from ONE Arrow-batched matmul per batch
    (sign(V @ P.T) via mapInPandas) -- dense linear algebra is exactly
    where the vectorized-pandas path beats Column lambdas (measured
    ~10x on the signature stage; a zip_with/aggregate dot product runs
    interpreted per element). The candidate join is keyed on
    (band, band_bits), so cost scales with collisions, never corpus^2.
    Same verify-on-candidates contract as the text-side MinHash LSH."""
    import random as _random

    import numpy as np
    if n_planes % n_bands:
        raise ValueError("n_planes must divide evenly into n_bands")
    first = emb.select(vec_col).first()
    if first is None:
        return (emb.select(F.col(id_col).alias("id_a"))
                .withColumn("id_b", F.col("id_a"))
                .withColumn("score", F.lit(0.0)).limit(0))
    dim = len(first[0])
    rng = _random.Random(seed)
    planes = np.array([[rng.gauss(0.0, 1.0) for _ in range(dim)]
                       for _ in range(n_planes)])
    per_band = n_planes // n_bands

    weights = 1 << np.arange(per_band - 1, -1, -1)

    def signatures(batches):
        import pandas as pd
        for pdf in batches:
            if not len(pdf):
                continue
            n = len(pdf)
            V = np.array(list(pdf["v"]), dtype=np.float64)
            bits = (V @ planes.T >= 0).astype(np.int64)   # (n, n_planes)
            # pack each band's bits into one long join key, all numpy
            keys = (bits.reshape(n, n_bands, per_band) @ weights)
            rep = np.repeat(np.arange(n), n_bands)
            yield pd.DataFrame({
                "id": pdf["id"].to_numpy()[rep],
                "v": pdf["v"].iloc[rep],
                "band": np.tile(np.arange(n_bands), n),
                "band_bits": keys.reshape(-1)})

    sigs = (emb.select(F.col(id_col).alias("id"),
                       F.col(vec_col).cast("array<double>").alias("v"))
            .mapInPandas(signatures,
                         "id long, v array<double>, band int, "
                         "band_bits long"))
    # candidate ids only through the band join + dedup (8-byte pairs,
    # not vector payloads); vectors re-join once per verified pair
    keys = sigs.select("id", "band", "band_bits")
    cands = (keys.alias("a")
             .join(keys.alias("b"), ["band", "band_bits"])
             .select(F.col("a.id").alias("id_a"),
                     F.col("b.id").alias("id_b"))
             .filter(F.col("id_a") < F.col("id_b"))
             .dropDuplicates(["id_a", "id_b"]))
    # each side's norm computed once per ROW before the pair joins
    # (r16, guide §1.2 -- the same hoist semdedup's pair stage got in
    # r15): cosine() recomputed both operands' norms per PAIR, three
    # interpreted folds per candidate for values that are per-id
    # constants. Same sqrt of the same fold, so every rounded score is
    # bit-identical.
    vecs = (sigs.select("id", "v").dropDuplicates(["id"])
            .withColumn("vn", F.sqrt(norm_sq("v"))))
    pairs = (cands
             .join(vecs.select(F.col("id").alias("id_a"),
                               F.col("v").alias("va"),
                               F.col("vn").alias("na")), "id_a")
             .join(vecs.select(F.col("id").alias("id_b"),
                               F.col("v").alias("vb"),
                               F.col("vn").alias("nb")), "id_b"))
    return (pairs.withColumn("score",
                             F.round(dot("va", "vb")
                                     / (F.col("na") * F.col("nb")), 6))
                 .filter(F.col("score") >= threshold)
                 .select("id_a", "id_b", "score"))


def kmeans_centroids(emb: DataFrame, k: int = 8, iters: int = 3,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     tol: float | None = None,
                     strict: bool = False) -> DataFrame:
    """Deterministic Lloyd's k-means over an embedding column, pure
    DataFrame ops: init = the k lowest-id vectors; each iteration is
    one broadcast of the k centroids + one groupBy(cid) with per-
    dimension avg aggregates (vector mean without explode). Iterative
    algorithms fit Spark fine when each step is a keyed aggregation --
    the loop is driver-side control flow over small state (k x dim),
    never driver-side data.

    Convergence guard: with tol=None (default) runs exactly `iters`
    rounds -- fixed cost, bit-for-bit deterministic (what the checked
    registry query uses). With tol set, `iters` becomes a CAP: stop
    early once the max centroid L2-shift of a round is <= tol (the
    shift check is driver-side over k x dim doubles -- centroids are
    small by construction); if the cap is hit unconverged, raise when
    strict=True else return the cap's centroids (Lloyd's converges
    asymptotically; the overflow is surfaced, not silent)."""
    import math
    dim = len(emb.select(vec_col).first()[0])
    vecs = emb.select(F.col(id_col).alias("id"),
                      F.col(vec_col).cast("array<double>").alias("v"))
    cents = (vecs.orderBy("id").limit(k)
                 .select(F.row_number().over(
                             Window.orderBy("id")).alias("cid"),
                         F.col("v").alias("cv")))

    def shift(prev: dict[int, list[float]],
              cur: dict[int, list[float]]) -> float:
        return max(
            math.sqrt(sum((a - b) ** 2
                          for a, b in zip(prev[cid], cur[cid])))
            if cid in prev else float("inf")
            for cid in cur)

    prev_state: dict[int, list[float]] | None = None
    for _ in range(iters):
        assigned = assign_to_centroids(vecs, cents)
        cents = assigned.groupBy("cid").agg(
            F.array(*[F.avg(F.col("v")[i]) for i in range(dim)]).alias("cv"))
        if tol is not None:
            state = {r["cid"]: list(r["cv"]) for r in cents.collect()}
            if prev_state is not None and shift(prev_state, state) <= tol:
                return cents
            prev_state = state
    if tol is not None and strict:
        raise RuntimeError(
            f"k-means centroid shift still > {tol} after {iters} "
            "iterations -- raise iters or loosen tol")
    return cents


def _centroid_literal(cents: DataFrame):
    """Centroids as a literal array<struct<cid,cv>> expression. They
    are k x dim BY CONSTRUCTION (bounded like the ANN query set), so
    the collect here is the broadcast-variable analog, not driver-side
    data flow."""
    rows = sorted(cents.collect(), key=lambda r: r["cid"])
    return F.array(*[
        F.struct(F.lit(int(r["cid"])).alias("cid"),
                 F.array(*[F.lit(float(x)) for x in r["cv"]]).alias("cv"))
        for r in rows])


def assign_to_centroids(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """(id, v, cid): nearest centroid per vector (squared L2, cid
    breaks ties). The centroids travel as a literal array expression,
    so assignment is a MAP-ONLY projection -- no join, no window, zero
    shuffle -- which is what keeps each Lloyd's iteration at exactly
    one keyed aggregation (the re-centering groupBy) at any corpus
    size. The per-element arithmetic is the same zip_with/aggregate
    chain as before, so distances are bit-identical."""
    carr = _centroid_literal(cents)
    best = F.array_min(F.transform(carr, lambda c: F.struct(
        F.aggregate(F.zip_with(F.col("v"), c.getField("cv"),
                               lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0), lambda acc, x: acc + x).alias("d2"),
        c.getField("cid").alias("cid"))))
    return vecs.select("id", "v", best.getField("cid").alias("cid"))


def topk_kmeans_ivf(emb: DataFrame, queries: DataFrame, k: int = 5,
                    n_centroids: int = 8, nprobe: int = 2,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """IVF with LEARNED coarse quantizer: corpus assigned to its
    nearest centroid, each query probes its nprobe nearest cells.
    Candidates shrink by ~n_centroids/nprobe vs brute force; recall is
    tunable via nprobe. The inverted lists are just a cid-keyed
    DataFrame -- at 100 TB they'd be a cid-partitioned table."""
    cents = kmeans_centroids(emb, k=n_centroids, iters=3, id_col=id_col,
                             vec_col=vec_col)
    corpus = assign_to_centroids(
        emb.select(F.col(id_col).alias("id"),
                   F.col(vec_col).cast("array<double>").alias("v")), cents) \
        .select(F.col("id").alias("neighbor_id"), F.col("v").alias("cv"),
                "cid")
    return _ivf_probe_and_score(corpus, cents, queries, k, nprobe,
                                id_col, vec_col)


def _ivf_probe_and_score(corpus: DataFrame, cents: DataFrame,
                         queries: DataFrame, k: int, nprobe: int,
                         id_col: str, vec_col: str) -> DataFrame:
    """Shared IVF search: each query picks its nprobe nearest centroid
    cells, then scores only those cells' inverted lists (the cid join
    is the candidate bound; probes broadcast)."""
    qv = queries.select(F.col(id_col).alias("id"),
                        F.col(vec_col).cast("array<double>").alias("v"))
    wq = Window.partitionBy("id").orderBy("d2", "cid")
    probes = (qv.join(F.broadcast(cents.withColumnRenamed("cv", "cv_c")))
                .withColumn("d2", F.aggregate(
                    F.zip_with("v", "cv_c", lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0), lambda acc, x: acc + x))
                .withColumn("__rn", F.row_number().over(wq))
                .filter(F.col("__rn") <= nprobe)
                .select(F.col("id").alias("query_id"),
                        F.col("v").alias("qv"), "cid"))
    scored = (corpus.join(F.broadcast(probes), "cid")
                    .filter(F.col("query_id") != F.col("neighbor_id"))
                    .withColumn("score", cosine("qv", "cv")))
    return _ranked_topk(scored, k)


def build_kmeans_ivf_index(emb: DataFrame, path: str, *,
                           n_centroids: int = 8, iters: int = 3,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> None:
    """Persist the learned IVF index: centroids (k x dim parquet) +
    inverted lists PARTITIONED BY cid. Build-once/query-many is the
    production ANN lifecycle: at 100 TB the index build is the one
    expensive pass, and the cid partitioning means a query probing
    nprobe cells reads nprobe/n_centroids of the corpus from disk
    (partition pruning), not just post-scan filtering."""
    cents = kmeans_centroids(emb, k=n_centroids, iters=iters,
                             id_col=id_col, vec_col=vec_col)
    corpus = assign_to_centroids(
        emb.select(F.col(id_col).alias("id"),
                   F.col(vec_col).cast("array<double>").alias("v")), cents) \
        .select(F.col("id").alias("neighbor_id"), F.col("v").alias("cv"),
                "cid")
    corpus.write.mode("overwrite").partitionBy("cid") \
        .parquet(path.rstrip("/") + "/lists")
    cents.write.mode("overwrite").parquet(path.rstrip("/") + "/centroids")


def append_to_kmeans_ivf_index(spark, path: str, new_emb: DataFrame, *,
                               id_col: str = "vec_id",
                               vec_col: str = "embedding") -> None:
    """Incrementally extend a persisted IVF index WITHOUT retraining:
    new vectors are assigned to the EXISTING (frozen) centroids -- a
    map-only projection against the stored k x dim literal -- and
    appended to the cid-partitioned inverted lists. This is the
    production append path (nightly ingest into a standing index);
    centroids drift is handled by a periodic full rebuild, not per
    batch. Search results after append are identical to searching the
    union under the same frozen centroids (test-asserted); appends
    land in existing cid partitions, so partition pruning keeps
    working."""
    cents = spark.read.parquet(path.rstrip("/") + "/centroids")
    rows = assign_to_centroids(
        new_emb.select(F.col(id_col).alias("id"),
                       F.col(vec_col).cast("array<double>").alias("v")),
        cents)         .select(F.col("id").alias("neighbor_id"),
                F.col("v").alias("cv"), "cid")
    rows.write.mode("append").partitionBy("cid") \
        .parquet(path.rstrip("/") + "/lists")


def query_kmeans_ivf_index(spark, path: str, queries: DataFrame, *,
                           k: int = 5, nprobe: int = 2,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """Search a persisted IVF index (build_kmeans_ivf_index). Identical
    results to the inline topk_kmeans_ivf for the same build
    parameters (test-asserted)."""
    cents = spark.read.parquet(path.rstrip("/") + "/centroids")
    lists = spark.read.parquet(path.rstrip("/") + "/lists")
    return _ivf_probe_and_score(lists, cents, queries, k, nprobe,
                                id_col, vec_col)


def topk_bruteforce_np(emb: DataFrame, queries: DataFrame, k: int = 5,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """Vectorized brute-force cosine top-k: the query set (small by
    contract, same as topk_bruteforce's broadcast) ships to executors
    as a normalized numpy matrix; each Arrow batch of the corpus is ONE
    `batch_matrix @ queries.T` matmul instead of per-row array
    lambdas, and each batch emits only its local top-k per query, so
    the final exact window ranks |batches| x |queries| x k rows, not
    the whole corpus. This is the high-throughput path for 100 TB
    similarity sweeps; the JVM-expression variant (topk_bruteforce)
    stays the oracle-checkable reference (numpy's pairwise summation
    can differ from sequential summation in the last ulp, so this
    variant is checked against the reference by recall, not hash)."""
    import numpy as np
    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows])
    qm = np.array([r[1] for r in q_rows], dtype=np.float64)
    qm /= np.linalg.norm(qm, axis=1, keepdims=True)

    def score(batches):
        import pandas as pd
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            cm = np.array(list(pdf[vec_col]), dtype=np.float64)
            cm /= np.linalg.norm(cm, axis=1, keepdims=True)
            sims = cm @ qm.T                       # (batch, n_queries)
            top = min(k + 1, sims.shape[0])        # +1 covers self-hit
            idx = np.argpartition(-sims, top - 1, axis=0)[:top]
            out_q, out_n, out_s = [], [], []
            for j, qid in enumerate(q_ids):
                for i in idx[:, j]:
                    if ids[i] != qid:
                        out_q.append(qid)
                        out_n.append(ids[i])
                        out_s.append(round(float(sims[i, j]), 6))
            yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_n,
                                "score": out_s})

    scored = emb.select(id_col, vec_col).mapInPandas(
        score, "query_id long, neighbor_id long, score double")
    return _ranked_topk(scored, k)


# --- Product quantization (IVF-PQ's compression half) --------------------

def pq_train_codebooks(emb: DataFrame, *, m: int = 8, ksub: int = 16,
                       iters: int = 3, id_col: str = "vec_id",
                       vec_col: str = "embedding") -> list[list[list[float]]]:
    """Train product-quantization codebooks: split the dim-d space into
    m subspaces of d/m dims and run the deterministic DataFrame Lloyd's
    (kmeans_centroids) independently in each. Returns the codebooks as
    plain Python -- m x ksub x (d/m) doubles, bounded BY CONSTRUCTION
    (the broadcast-variable analog, like _centroid_literal), never
    corpus-scale. PQ is the compression half of the billion-scale
    IVF-PQ recipe: a vector becomes m small codes (m bytes at
    ksub<=256) instead of d floats -- 32x smaller than array<double>
    at the defaults here -- and search scores against codes without
    reconstructing vectors (topk_pq_adc)."""
    dim = len(emb.select(vec_col).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    books: list[list[list[float]]] = []
    for s in range(m):
        sub = emb.select(
            F.col(id_col),
            F.slice(F.col(vec_col).cast("array<double>"),
                    s * d + 1, d).alias("subv"))
        cents = kmeans_centroids(sub, k=ksub, iters=iters,
                                 id_col=id_col, vec_col="subv")
        rows = sorted(cents.collect(), key=lambda r: r["cid"])
        books.append([[float(x) for x in r["cv"]] for r in rows])
    return books


def _book_literal(book: list[list[float]]):
    """One subspace's codebook as a literal array<struct<cid, cv>>."""
    return F.array(*[
        F.struct(F.lit(ci).alias("cid"),
                 F.array(*[F.lit(x) for x in cv]).alias("cv"))
        for ci, cv in enumerate(book)])


def pq_encode(emb: DataFrame, books: list[list[list[float]]], *,
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """(id, codes: array<int> of length m): nearest sub-centroid per
    subspace. The codebooks travel as literal expressions, so encoding
    is MAP-ONLY -- zero shuffle at any corpus size (the same property
    as assign_to_centroids, applied m times in one projection)."""
    m = len(books)
    d = len(books[0][0])
    v = F.col(vec_col).cast("array<double>")

    def best_code(book, sub):
        # closure, not a 2nd lambda param (transform would bind the
        # extra param to the element INDEX)
        return F.array_min(F.transform(
            _book_literal(book),
            lambda c: F.struct(
                F.aggregate(F.zip_with(sub, c.getField("cv"),
                                       lambda a, b: (a - b) * (a - b)),
                            F.lit(0.0), lambda acc, x: acc + x)
                 .alias("d2"),
                c.getField("cid").alias("cid")))).getField("cid")

    codes = [best_code(books[s], F.slice(v, s * d + 1, d))
             for s in range(m)]
    return emb.select(F.col(id_col).alias("id"),
                      F.array(*codes).cast("array<int>").alias("codes"))


def topk_pq_adc(codes_df: DataFrame, books: list[list[list[float]]],
                queries: DataFrame, k: int = 5,
                id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: score(q, x) =
    sum_s dot(q_sub_s, books[s][code_s(x)]) -- the query stays exact,
    the corpus is its code approximation. Encode an L2-NORMALIZED
    corpus and this is the cosine ranking (dot against unit vectors);
    per-query ranking is invariant to |q|, so queries need no
    normalization. The scan is map-only arithmetic against literal
    codebooks over m ints per row -- no vectors move; ranking reuses
    the exact-window tail with rounded scores + id tie-breaks, so
    results are deterministic under any partitioning."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"))
    joined = (codes_df.select(F.col("id").alias("neighbor_id"), "codes")
              .join(F.broadcast(q))
              .filter(F.col("query_id") != F.col("neighbor_id")))
    return _ranked_topk(
        joined.withColumn("score", _adc_score(books)), k)


def _adc_score(books: list[list[list[float]]],
               qv_col: str = "qv", codes_col: str = "codes"):
    """The ADC scoring expression: sum over subspaces of
    dot(query subvector, codebook centroid picked by the code).
    Literal-codebook arithmetic -- map-only wherever it appears."""
    m = len(books)
    d = len(books[0][0])
    score = None
    for s in range(m):
        lut = F.array(*[F.array(*[F.lit(x) for x in cv])
                        for cv in books[s]])
        cent = F.element_at(lut, F.col(codes_col)[s] + 1)
        term = F.aggregate(
            F.zip_with(F.slice(F.col(qv_col), s * d + 1, d), cent,
                       lambda a, b: a * b),
            F.lit(0.0), lambda acc, x: acc + x)
        score = term if score is None else score + term
    return F.round(score, 6)


def topk_pq_rerank(emb: DataFrame, codes_df: DataFrame,
                   books: list[list[list[float]]], queries: DataFrame,
                   k: int = 5, oversample: int = 10,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Two-stage PQ search, the production IVF-PQ read path: a cheap
    ADC pass over the codes builds a k*oversample shortlist per query,
    then ONLY those candidates re-join their exact vectors for a full
    cosine re-rank. The expensive exact arithmetic touches
    |queries| x k x oversample rows instead of the corpus; the
    candidate join is keyed on neighbor_id (the shortlist is tiny and
    broadcasts). Measured on the fixture corpus: ADC alone recalls
    ~0.3 of the exact top-5, the re-ranked shortlist ~0.95+ -- the
    compression stays, the ranking error mostly goes."""
    shortlist = topk_pq_adc(codes_df, books, queries, k * oversample,
                            id_col=id_col, vec_col=vec_col) \
        .select("query_id", "neighbor_id")
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("qv"))
    c = emb.select(F.col(id_col).alias("neighbor_id"),
                   F.col(vec_col).alias("cv"))
    scored = (c.join(F.broadcast(shortlist), "neighbor_id")
               .join(F.broadcast(q), "query_id")
               .withColumn("score", cosine("qv", "cv")))
    return _ranked_topk(scored, k)


def topk_ivf_pq(emb: DataFrame, queries: DataFrame, k: int = 5, *,
                n_centroids: int = 8, nprobe: int = 2,
                m: int = 16, ksub: int = 16, oversample: int = 10,
                id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """The full IVF-PQ read path (the FAISS billion-scale recipe,
    re-expressed as DataFrame ops): learned coarse cells prune the
    corpus to each query's nprobe nearest cells, PQ codes score the
    survivors by asymmetric distance (no vectors move through the
    probe join -- m ints per row), and the exact cosine re-rank
    touches only the |q| x k x oversample shortlist.

    Divergence from classic IVF-PQ, documented: residual encoding
    (coding v - centroid per cell) is skipped -- codes quantize the
    L2-normalized vectors directly, so ONE global codebook set serves
    every cell and the exact re-rank recovers the recall the residual
    trick buys (recall >= 0.8 test-asserted; measured ~parity with
    topk_pq_rerank on the fixture). At 100 TB the coded corpus is
    cid-partitioned exactly like build_kmeans_ivf_index's lists --
    probes prune at the scan, and the per-row payload is m bytes-ish
    of codes instead of d floats."""
    from ..functions.vectors import l2_normalize
    norm = emb.select(F.col(id_col),
                      l2_normalize(vec_col).alias(vec_col))
    cents = kmeans_centroids(norm, k=n_centroids, iters=3,
                             id_col=id_col, vec_col=vec_col)
    books = pq_train_codebooks(norm, m=m, ksub=ksub,
                               id_col=id_col, vec_col=vec_col)
    assigned = assign_to_centroids(
        norm.select(F.col(id_col).alias("id"),
                    F.col(vec_col).cast("array<double>").alias("v")),
        cents)
    coded = (assigned.select("id", "cid")
             .join(pq_encode(norm, books, id_col=id_col,
                             vec_col=vec_col), "id"))

    qv = queries.select(F.col(id_col).alias("query_id"),
                        F.col(vec_col).cast("array<double>").alias("qv"))
    wq = Window.partitionBy("query_id").orderBy("d2", "cid")
    probes = (qv.join(F.broadcast(cents.withColumnRenamed("cv", "cv_c")))
                .withColumn("d2", F.aggregate(
                    F.zip_with("qv", "cv_c",
                               lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0), lambda acc, x: acc + x))
                .withColumn("__rn", F.row_number().over(wq))
                .filter(F.col("__rn") <= nprobe)
                .select("query_id", "qv", "cid"))
    cand = (coded.join(F.broadcast(probes), "cid")
                 .filter(F.col("query_id") != F.col("id")))
    shortlist = _ranked_topk(
        cand.select(F.col("id").alias("neighbor_id"), "query_id",
                    F.col("qv"), "codes")
            .withColumn("score", _adc_score(books)),
        k * oversample).select("query_id", "neighbor_id")

    q_exact = queries.select(F.col(id_col).alias("query_id"),
                             F.col(vec_col).alias("qv"))
    c_exact = emb.select(F.col(id_col).alias("neighbor_id"),
                         F.col(vec_col).alias("cv"))
    scored = (c_exact.join(F.broadcast(shortlist), "neighbor_id")
                     .join(F.broadcast(q_exact), "query_id")
                     .withColumn("score", cosine("qv", "cv")))
    return _ranked_topk(scored, k)


def semdedup(vecs: DataFrame, *, eps: float = 0.97, keep: str = "far",
             cluster_col: str | None = None, n_centroids: int = 8,
             id_col: str = "id", vec_col: str = "v",
             quant: int = 1_000_000) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication = k-means clustering + within-cluster cosine pruning.
    A document is dropped when a HIGHER-PRIORITY member of its cluster
    sits within `eps` cosine similarity; priority is distance to the
    cluster centroid direction -- keep="far" keeps the member farthest
    from the centroid (the paper's best-performing policy: duplicates
    collapse onto their most outlying representative, preserving
    diversity), keep="near" keeps the closest.

    Returns one row per input: (id, cid, csim, dup_of, kept) where
    csim = cosine(vector, cluster centroid direction), dup_of = the
    smallest-id higher-priority neighbor within eps (NULL when kept).
    Like the reference SemDeDup implementation this is the ONE-SHOT
    matrix rule, not iterative chaining: dup_of may itself be dropped;
    kept rows are exactly those with no higher-priority neighbor
    within eps.

    Scale + determinism design:
    - Clustering: pass `cluster_col` to use a precomputed assignment
      (IVF cell, category, ...); otherwise `kmeans_centroids` +
      map-only `assign_to_centroids`. At 100 TB, n_centroids grows
      with the corpus so cluster sizes stay bounded -- the pairwise
      step is a cid-keyed self-join over bounded buckets, never
      corpus x corpus.
    - Centroid direction: vectors are floor-quantized to integers
      (x -> floor(x * quant)), and the centroid is their element-wise
      integer SUM -- cosine is scale-invariant, so the sum IS the mean
      direction without a division. Integer sums are exact and
      order-free, making csim bit-identical across partitionings AND
      engines (a double avg would drift in the last ulp with shuffle
      order). Element-wise sum = one posexplode + (cid, pos)-keyed
      aggregation, map-side combinable.
    - All cosines go through functions/vectors.cosine (sequential
      fold, rounded to 6), with id tie-breaks on equal priority, so
      the kept set is deterministic everywhere. Zero vectors get NULL
      csim and are always kept (NULL comparisons are false).
    """
    if keep not in ("far", "near"):
        raise ValueError(f"keep must be 'far' or 'near', got {keep!r}")
    if cluster_col is None:
        cents = kmeans_centroids(vecs, k=n_centroids, id_col=id_col,
                                 vec_col=vec_col)
        assigned = assign_to_centroids(
            vecs.select(F.col(id_col).alias("id"),
                        F.col(vec_col).cast("array<double>").alias("v")),
            cents)
    else:
        assigned = vecs.select(F.col(id_col).alias("id"),
                               F.col(vec_col).cast("array<double>")
                                .alias("v"),
                               F.col(cluster_col).alias("cid"))
    # r15: each member's norm is computed once per ROW before the
    # within-cluster self-join instead of per PAIR inside cosine() --
    # same sqrt of the same fold, so every rounded cosine is
    # bit-identical (guide §1.2; the pair stage dominated the entry at
    # three interpreted-lambda array folds per pair, now one)
    q = assigned.select(
        "id", "cid",
        F.transform("v", lambda x: F.floor(x * quant).cast("double"))
         .alias("q"))

    # centroid direction per cluster: element-wise exact integer sum
    cent = (q.select("cid", F.posexplode("q").alias("pos", "x"))
             .groupBy("cid", "pos")
             .agg(F.sum(F.col("x").cast("long")).alias("s"))
             .groupBy("cid")
             .agg(F.transform(
                 F.array_sort(F.collect_list(F.struct("pos", "s"))),
                 lambda t: t.getField("s").cast("double")).alias("cv")))

    scored = (q.join(cent, "cid")
               .select("id", "cid", "q",
                       cosine("q", "cv").alias("csim"),
                       F.sqrt(norm_sq("q")).alias("__qn")))

    # pair stage: ONE numpy matrix pass per cluster when the id column
    # is integral (r16, guide §4.2 -- the per-pair interpreted dot fold
    # was the entry's dominant cost); the DataFrame fold is the
    # reference implementation, kept for non-integral ids, for
    # sessions without a JVM handle (Spark Connect: the Arrow pass's
    # round threshold asks the JVM's Double.toString) and for the
    # forced bit-equality tests (tests/test_semdedup_parity.py)
    id_type = dict(scored.dtypes)["id"]
    if id_type in ("tinyint", "smallint", "int", "bigint") and \
            getattr(scored.sparkSession, "_jvm", None) is not None:
        dup = _semdedup_dups_arrow(scored, eps, keep, id_type)
    else:
        dup = _semdedup_dups_frame(scored, eps, keep)
    return (scored.join(dup, "id", "left")
                  .select("id", "cid", "csim", "dup_of",
                          F.col("dup_of").isNull().alias("kept")))


def _semdedup_dups_frame(scored: DataFrame, eps: float,
                         keep: str) -> DataFrame:
    """semdedup's pair stage as the original DataFrame self-join +
    per-pair fold: (id, dup_of) for every DROPPED member. Kept as the
    reference implementation -- the Arrow pass below is forced
    bit-equal to this in tests/test_semdedup_parity.py -- and as the
    fallback for non-integral id columns."""
    better = (F.col("y_csim") < F.col("csim")) if keep == "far" \
        else (F.col("y_csim") > F.col("csim"))
    prio = better | ((F.col("y_csim") == F.col("csim"))
                     & (F.col("y_id") < F.col("id")))
    other = scored.select(F.col("id").alias("y_id"), "cid",
                          F.col("q").alias("y_q"),
                          F.col("csim").alias("y_csim"),
                          F.col("__qn").alias("__yqn"))
    pair_cos = F.round(dot("q", "y_q")
                       / (F.col("__qn") * F.col("__yqn")), 6)
    return (scored.join(other, "cid")
                  .filter(prio & (pair_cos >= eps))
                  .groupBy("id")
                  .agg(F.min("y_id").alias("dup_of")))


def _round_ge_threshold(spark, eps: float, scale: int = 6) -> float:
    """Smallest double c with Spark ROUND(c, scale) >= eps. Spark's
    Round on DoubleType is BigDecimal.valueOf(c).setScale(scale,
    HALF_UP) -- i.e. HALF_UP over Double.toString's SHORTEST decimal
    repr (probed: round(2.675, 2) = 2.68, round(2.5e-6, 6) = 3e-6).
    Replicating that per pair inside executors would need Java's
    exact toString; instead the threshold is computed ONCE on the
    driver via the session JVM's own Double.toString, and the pair
    stage tests a plain c >= t. Valid because round is monotone
    non-decreasing in c (both shortest-repr conversion and HALF_UP
    quantization preserve order), so {c : round(c) >= eps} is an
    upward-closed set with a unique least double. Bit-level binary
    search over the IEEE double line."""
    import struct
    from decimal import ROUND_HALF_UP, Decimal

    if not (eps > 0):
        raise ValueError(f"eps must be positive, got {eps}")
    jdouble = spark._jvm.java.lang.Double
    quantum = Decimal(1).scaleb(-scale)

    def ge(c: float) -> bool:
        rounded = float(Decimal(jdouble.toString(float(c)))
                        .quantize(quantum, rounding=ROUND_HALF_UP))
        return rounded >= eps

    bits = lambda x: struct.unpack("<q", struct.pack("<d", x))[0]
    flt = lambda b: struct.unpack("<d", struct.pack("<q", b))[0]
    lo, hi = eps - 2 * 10.0 ** -scale, eps + 10.0 ** -scale
    if ge(lo) or not ge(hi):
        raise AssertionError("round-threshold bracket failed "
                             f"(eps={eps}, scale={scale})")
    lo_b, hi_b = bits(lo), bits(hi)
    while hi_b - lo_b > 1:
        mid = (lo_b + hi_b) // 2
        if ge(flt(mid)):
            hi_b = mid
        else:
            lo_b = mid
    return flt(hi_b)


# elements per row tile of the SemDeDup Arrow pair pass: each of the
# pass's float64 tile arrays is at most 8 MB for any cluster of up to
# a million members (a tile is never less than one row)
_SEMDEDUP_TILE_ELEMS = 1 << 20


def _semdedup_dups_arrow(scored: DataFrame, eps: float, keep: str,
                         id_type: str) -> DataFrame:
    """semdedup's pair stage as ONE numpy matrix pass per cluster
    (r16, guide §4.2): (id, dup_of) for every DROPPED member,
    bit-equal to _semdedup_dups_frame (forced in
    tests/test_semdedup_parity.py). The frame path evaluated the
    zip_with/aggregate dot fold per PAIR interpreted; here each
    cluster ships once through Arrow and the pair dots are vectorized,
    a tile of rows at a time (_semdedup_scan).

    Bit-parity contract, edge by edge:
    - dot: the per-dimension accumulation loop (P += q_d outer y_d in
      dimension order) reproduces functions/vectors.dot's
      left-to-right fold exactly -- each numpy multiply/add is one
      correctly-rounded IEEE double op, no FMA, no reassociation, and
      the divide happens after the qn_x * qn_y product exactly like
      the frame's column expression;
    - ROUND(c, 6) >= eps: replaced by c >= _round_ge_threshold(eps)
      -- equivalent by monotonicity, and exact where a re-derived
      decimal rounding would not be (Java's Double.toString is the
      authority, consulted on the driver);
    - NULL csim (zero vectors / zero centroid under a non-ANSI
      session): NULL comparisons are false in the frame's prio AND
      pair filter, so such rows never pair on either side -- they are
      excluded here via an explicit isnull flag (Arrow conflates NULL
      and NaN in float64, so the flag must be computed JVM-side);
    - NaN csim (NaN vector elements): Spark comparisons treat NaN as
      LARGER than any double and NaN = NaN as TRUE -- reproduced by
      substituting +inf for NaN csim (csim is otherwise bounded by
      cosine's [-1, 1], so +inf collides with nothing) and forcing
      NaN pair dots to +inf (Spark: NaN >= eps is true).
    """
    t = _round_ge_threshold(scored.sparkSession, eps)
    src = scored.select("cid", "id", "q", "csim", "__qn",
                        F.isnull("csim").alias("__cnull"))
    return (src.groupBy("cid")
               .applyInPandas(_semdedup_scan(t, keep == "far"),
                              f"id {id_type}, dup_of {id_type}"))


def _semdedup_scan(t: float, far: bool):
    """The Arrow pair pass's per-cluster function (one pandas frame of
    cid, id, q, csim, __qn, __cnull in; id, dup_of out). Each x row's
    answer reads only row x of the n x n pair matrices, so they are
    built a tile of max(1, _SEMDEDUP_TILE_ELEMS // n) rows at a time:
    peak memory is O(_SEMDEDUP_TILE_ELEMS) per array, not O(n^2),
    while every pair dot keeps its per-dimension accumulation order."""

    def scan(pdf):
        import numpy as np
        import pandas as pd
        empty = pd.DataFrame({"id": pd.Series([], dtype="int64"),
                              "dup_of": pd.Series([], dtype="int64")})
        # a NULL cid never matches itself in the frame path's equi-join
        # (NULL != NULL), but groupBy collects NULL cids into ONE group
        # -- such rows must not pair here either
        if pdf["cid"].isna().any():
            return empty
        valid = (~pdf["__cnull"]).to_numpy()
        if valid.sum() < 2:
            return empty
        ids = pdf["id"].to_numpy(dtype=np.int64)[valid]
        qn = pdf["__qn"].to_numpy(dtype=np.float64)[valid]
        csim = pdf["csim"].to_numpy(dtype=np.float64)[valid]
        csim = np.where(np.isnan(csim), np.inf, csim)   # NaN largest
        Q = np.stack(pdf["q"].to_numpy()[valid])
        n, dim = Q.shape
        rows = max(1, _SEMDEDUP_TILE_ELEMS // n)
        int64_max = np.iinfo(np.int64).max
        out_ids, out_dup = [], []
        for lo in range(0, n, rows):
            hi = min(lo + rows, n)
            # pair dots, sequential over dimensions (the fold's IEEE order)
            P = np.zeros((hi - lo, n))
            tmp = np.empty((hi - lo, n))
            for d in range(dim):
                np.multiply(Q[lo:hi, d, None], Q[None, :, d], out=tmp)
                P += tmp
            C = P / np.multiply(qn[lo:hi, None], qn[None, :])
            C[np.isnan(C)] = np.inf                     # NaN >= eps
            # prio[x, y]: y strictly higher-priority than x
            cx = csim[lo:hi, None]
            if far:
                better = csim[None, :] < cx
            else:
                better = csim[None, :] > cx
            prio = better | ((csim[None, :] == cx)
                             & (ids[None, :] < ids[lo:hi, None]))
            mask = prio & (C >= t)
            any_x = mask.any(axis=1)
            dup = np.where(mask, ids[None, :], int64_max).min(axis=1)
            out_ids.append(ids[lo:hi][any_x])
            out_dup.append(dup[any_x])
        return pd.DataFrame({"id": np.concatenate(out_ids),
                             "dup_of": np.concatenate(out_dup)})

    return scan


def embedding_decontaminate(train: DataFrame, bench: DataFrame, *,
                            threshold: float = 0.95,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """Semantic decontamination: flag training vectors whose cosine to
    ANY benchmark vector reaches `threshold` -- the embedding-space
    complement of the n-gram-hash decontamination in
    operators/curation.benchmark_decontaminate (paraphrased eval
    leakage has no n-gram overlap but lands next to the benchmark in
    embedding space). Returns (id, max_bench_sim, contaminated).

    The benchmark side is an eval suite -- bounded by contract like
    the ANN query set -- so it BROADCASTS against one corpus scan:
    |train| x |bench| cosine evaluations as a map-side join, no
    shuffle of the training corpus, no corpus x corpus product.

    Norms are hoisted to per-ROW columns on each side (r16, guide
    §1.2): cosine() recomputed the train norm |bench| times per row
    and the bench norm per pair -- the pair stage now evaluates one
    dot. Same sqrt of the same fold; rounded scores bit-identical."""
    t = train.select(F.col(id_col).alias("id"),
                     F.col(vec_col).cast("array<double>").alias("tv")) \
             .withColumn("tn", F.sqrt(norm_sq("tv")))
    b = bench.select(F.col(vec_col).cast("array<double>").alias("bv")) \
             .withColumn("bn", F.sqrt(norm_sq("bv")))
    sim = F.round(dot("tv", "bv") / (F.col("tn") * F.col("bn")), 6)
    return (t.join(F.broadcast(b))
             .groupBy("id")
             .agg(F.max(sim).alias("max_bench_sim"))
             .select("id", "max_bench_sim",
                     (F.col("max_bench_sim") >= threshold)
                      .alias("contaminated")))


def cluster_balanced_sample(emb: DataFrame, *, per_cluster: int,
                            n_centroids: int = 8, seed: str = "cbs",
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """Semantically balanced subsampling: k-means the corpus, then keep
    `per_cluster` vectors from EACH cluster -- uniform coverage of the
    embedding space instead of the head-heavy sample a global hash
    filter gives (the cluster-balanced selection used alongside
    SemDeDup-style pipelines to preserve tail topics). Selection
    within a cluster is by md5 hash of (seed, id): deterministic,
    resumable, partitioning-stable, like curation.hash_sample.
    Returns (id, cid) for kept vectors; clusters smaller than
    `per_cluster` keep everything. One keyed window after the map-only
    assignment; at 100 TB n_centroids grows with the corpus so each
    partition stays bounded."""
    from ..functions.text import portable_hash32
    cents = kmeans_centroids(emb, k=n_centroids, id_col=id_col,
                             vec_col=vec_col)
    assigned = assign_to_centroids(
        emb.select(F.col(id_col).alias("id"),
                   F.col(vec_col).cast("array<double>").alias("v")),
        cents)
    h = portable_hash32(F.concat_ws(":", F.lit(seed),
                                    F.col("id").cast("string")))
    w = Window.partitionBy("cid").orderBy(h.asc(), F.col("id").asc())
    return (assigned.withColumn("rk", F.row_number().over(w))
                    .filter(F.col("rk") <= per_cluster)
                    .select("id", "cid"))


def pca_fit(emb: DataFrame, vec_col: str = "embedding",
            k: int = 2) -> dict:
    """Distributed PCA fit: {mean, components (k x d), eigvals}.

    The d x d second-moment matrix is computed as ONE mapInPandas pass
    emitting a single (count, sum-vector, gram-matrix) partial row per
    partition -- dense linear algebra on the numpy path (one BLAS
    matmul per Arrow batch), never a d^2-per-row explode -- then the
    partials element-sum IN SPARK (two keyed aggregations over the
    exploded entries) so exactly d + d^2 values reach the driver
    regardless of cluster width (collecting raw partials would ship
    n_partitions x d^2 -- gigabytes at 1000 executors). The driver
    keeps only the model fold (the k-means/BPE/classifier pattern). The
    eigendecomposition runs on the driver's d x d covariance: O(d^3)
    once, independent of corpus size. Like the numpy top-k variant,
    partial sums are float adds, so results agree across partitionings
    to last-ulp tolerance (documented; the md5-determinism convention
    applies to hash-derived operators, not dense algebra)."""
    import numpy as np
    import pandas as pd

    def partials(batches):
        n, s, g = 0, None, None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.stack([np.asarray(x, dtype=np.float64)
                          for x in pdf[vec_col]])
            n += v.shape[0]
            s = v.sum(axis=0) if s is None else s + v.sum(axis=0)
            gg = v.T @ v
            g = gg if g is None else g + gg
        if n == 0:
            return
        yield pd.DataFrame({"n": [n], "s": [s.tolist()],
                            "g": [g.ravel().tolist()]})

    part = emb.select(vec_col).mapInPandas(
        partials, "n long, s array<double>, g array<double>")
    part = part.localCheckpoint(eager=True)  # 1 row/partition, reused 3x
    # reduce the partials IN SPARK before anything reaches the driver:
    # collecting raw partials would ship n_partitions x d^2 doubles
    # (gigabytes at 1000 executors x d=1024); two keyed element sums
    # bring exactly d + d^2 values back -- the model itself
    n = part.agg(F.sum("n")).collect()[0][0]
    s_rows = (part.select(F.posexplode("s").alias("i", "v"))
                  .groupBy("i").agg(F.sum("v").alias("v")).collect())
    g_rows = (part.select(F.posexplode("g").alias("i", "v"))
                  .groupBy("i").agg(F.sum("v").alias("v")).collect())
    d = len(s_rows)
    s = np.zeros(d)
    for r in s_rows:
        s[r["i"]] = r["v"]
    g = np.zeros(d * d)
    for r in g_rows:
        g[r["i"]] = r["v"]
    g = g.reshape(d, d)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    eigvals, eigvecs = np.linalg.eigh(cov)   # ascending
    order = np.argsort(eigvals)[::-1][:k]
    comps = eigvecs[:, order].T              # k x d
    # sign convention: make each component's largest-|x| entry positive
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return {"mean": mean.tolist(),
            "components": comps.tolist(),
            "eigvals": eigvals[order].tolist()}


def pca_project(emb: DataFrame, model: dict, vec_col: str = "embedding",
                out_col: str = "pca", whiten: bool = False,
                eps: float = 1e-9) -> DataFrame:
    """Map-only projection onto the fitted components (optionally
    whitened: each component divided by sqrt(eigval) so projected
    variance is ~1 -- the standard preprocessing before cosine/
    euclidean embedding dedup). One Arrow-batched matmul per batch;
    the k x d model travels as a closure constant (bounded by
    construction, the broadcast-analog)."""
    import numpy as np
    import pandas as pd

    mean = np.array(model["mean"], dtype=np.float64)
    comps = np.array(model["components"], dtype=np.float64)
    if whiten:
        scale = np.sqrt(np.maximum(np.array(model["eigvals"]), eps))
        comps = comps / scale[:, None]
    cols = emb.columns

    def project(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.stack([np.asarray(x, dtype=np.float64)
                          for x in pdf[vec_col]])
            proj = (v - mean) @ comps.T
            out = pdf.copy()
            out[out_col] = [p.tolist() for p in proj]
            yield out

    schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in emb.schema]
        + [f"{out_col} array<double>"])
    return emb.mapInPandas(project, schema)
