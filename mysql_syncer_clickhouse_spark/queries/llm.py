"""Oracle-checked queries for the LLM-data-pipeline layer (SURVEY §7
M6): dedup (exact / MinHash+LSH / SimHash / blocked n-gram Jaccard),
similarity search over embeddings (brute-force + IVF top-k, near-dup
pairs), text analysis (token counts, quality, lang-id heuristic,
fingerprints), and multimodal metadata extraction.

Near/exact duplicates are synthesized deterministically inside the
query (operators/dedup.py:near_dup_corpus and its SQL twin) because the
fixture corpus has no duplicates; both engines build the identical
corpus so results stay oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TX
from ..operators import ann, bloom, curation, dedup, multimodal, sketch
from ..sources.tables import load_table

# ---------------------------------------------------------------------------
# shared SQL fragments
# ---------------------------------------------------------------------------

_CORPUS = f"WITH corpus AS ({dedup.CORPUS_SQL})"

_H32 = "('0x' || substr(md5({x}), 1, 8))::BIGINT"

_STOP_IN = ", ".join(f"'{w}'" for w in TX.DEFAULT_STOPWORDS)

_SHINGLES_SQL = f"""
shingles AS (
  -- distinct (id, h32): hash before distinct, exactly like
  -- operators/dedup.hashed_shingle_set, so any md5-prefix collision
  -- affects both engines identically
  SELECT DISTINCT id, {_H32.format(x='substr(text, p, 8)')} AS h32
  FROM (SELECT id, text,
               unnest(generate_series(1, greatest(len(text) - 7, 1))) AS p
        FROM corpus)
)
"""

_PARAMS_SQL = "(VALUES " + ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(dedup.MINHASH_PARAMS)
) + ") AS prm(i, a, b)"

_VECS_SQL = """
vecs AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v, label FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(embedding::DOUBLE[], x -> x * 1.01 + 0.001), label
  FROM embeddings WHERE vec_id % 10 = 0
)
"""

_DOT = ("(SELECT SUM(x*y) FROM (SELECT unnest({a}) x, unnest({b}) y))")
_NSQ = "(SELECT SUM(x*x) FROM unnest({a}) t(x))"


def _cos_sql(a: str, b: str) -> str:
    return (f"ROUND({_DOT.format(a=a, b=b)} / "
            f"(sqrt({_NSQ.format(a=a)}) * sqrt({_NSQ.format(a=b)})), 6)")


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def _corpus(spark, sf_dir):
    return dedup.near_dup_corpus(_docs(spark, sf_dir))


def _vec_corpus(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    base = emb.select(F.col("vec_id").alias("id"),
                      F.col("embedding").cast("array<double>").alias("v"),
                      "label")
    pert = (emb.filter(F.col("vec_id") % 10 == 0)
               .select((F.col("vec_id") + 1000000).alias("id"),
                       F.transform(F.col("embedding").cast("array<double>"),
                                   lambda x: x * F.lit(1.01) + F.lit(0.001))
                        .alias("v"),
                       "label"))
    return base.unionByName(pert)


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_duplicates(_corpus(spark, sf_dir), "id", "text")


_DEDUP_EXACT_SQL = _CORPUS + """
SELECT md5(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS fp,
       MIN(id) AS canonical_id, COUNT(*) AS n_copies
FROM corpus GROUP BY 1
"""


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded rep-grain near-dup report (operators/dedup.
    rep_pair_report): one row per verified representative pair plus
    one per exact-dup family, carrying member counts and the exact
    member-pair cardinality. Replaces the member-grain expanded pair
    list this entry used to return -- the repo's own x100 probe
    measured that list's O(N^2) blowup (113.97 s, 10.8x second-decade
    growth) while the rep-grain path held 3.7x (SCALE.md §6); the
    report preserves the full information content (sum of
    n_member_pairs == expanded row count, per-member values
    recoverable by construction) at O(reps) output."""
    rep_pairs, members = dedup.minhash_dedup(
        _corpus(spark, sf_dir), "id", "text", threshold=0.5, grain="rep")
    return dedup.rep_pair_report(rep_pairs, members, threshold=0.5)


def _minhash_pair_ctes(src: str) -> str:
    """shingles -> sigs -> bands -> cands -> sizes -> inter -> pairs
    CTE chain over relation `src` (needs (id, text)): the DuckDB twin
    of operators/dedup's fused MinHash+LSH pipeline, parameterized so
    the member-grain clusters oracle (src=corpus) and the rep-grain
    report oracle (src=repdocs) share one definition."""
    return f"""
, shingles AS (
  -- distinct (id, h32): hash before distinct, exactly like
  -- operators/dedup.hashed_shingle_set, so any md5-prefix collision
  -- affects both engines identically
  SELECT DISTINCT id, {_H32.format(x='substr(text, p, 8)')} AS h32
  FROM (SELECT id, text,
               unnest(generate_series(1, greatest(len(text) - 7, 1))) AS p
        FROM {src})
), sigs AS (
  SELECT id, i, MIN((a * h32 + b) % {dedup.MINHASH_P}) AS mh
  FROM shingles CROSS JOIN {_PARAMS_SQL}
  GROUP BY id, i
), bands AS (
  SELECT id, i // {dedup.BANDS_OF} AS band,
         SUM(CASE WHEN i % {dedup.BANDS_OF} = 0
                  THEN mh * {dedup._BAND_SHIFT} ELSE mh END) AS band_sig
  FROM sigs GROUP BY id, i // {dedup.BANDS_OF}
), cands AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.id < b.id
), sizes AS (
  SELECT id, COUNT(*) AS n FROM shingles GROUP BY id
), inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
  FROM cands c
  JOIN shingles sa ON sa.id = c.id_a
  JOIN shingles sb ON sb.id = c.id_b AND sb.h32 = sa.h32
  GROUP BY c.id_a, c.id_b
), pairs AS (
  SELECT i.id_a, i.id_b,
         ROUND(CAST(n_inter AS DOUBLE) / (za.n + zb.n - n_inter), 6)
           AS jaccard,
         ROUND(CAST(n_inter AS DOUBLE) / LEAST(za.n, zb.n), 6)
           AS containment
  FROM inter i
  JOIN sizes za ON za.id = i.id_a
  JOIN sizes zb ON zb.id = i.id_b
  WHERE CAST(n_inter AS DOUBLE) / (za.n + zb.n - n_inter) >= 0.5
)"""


# member-grain chain: kept for the connected-components cluster oracle
_MINHASH_CTES = _CORPUS + _minhash_pair_ctes("corpus")

# rep-grain report oracle: collapse byte-identical texts to the min-id
# representative (md5(raw text), exactly collapse_exact_texts' key),
# run the pair chain over representatives only, then attach family
# sizes and the member-pair cardinality each row stands for
_MINHASH_SQL = _CORPUS + """
, fams AS (
  SELECT md5(text) AS tfp, MIN(id) AS rep_id,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM corpus GROUP BY 1
), repdocs AS (
  SELECT c.id, c.text FROM corpus c JOIN fams f ON c.id = f.rep_id
)""" + _minhash_pair_ctes("repdocs") + """
SELECT p.id_a, p.id_b, p.jaccard, p.containment,
       fa.n AS n_members_a, fb.n AS n_members_b,
       CAST(fa.n * fb.n AS BIGINT) AS n_member_pairs
FROM pairs p
JOIN fams fa ON fa.rep_id = p.id_a
JOIN fams fb ON fb.rep_id = p.id_b
UNION ALL
SELECT rep_id, rep_id, CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE),
       n, n, CAST(n * (n - 1) / 2 AS BIGINT)
FROM fams WHERE n >= 2
"""


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Member-grain duplicate clusters (id, cluster_id = min id in
    component) computed the 100 TB way: connected components over
    REP-grain MinHash pairs (bounded by distinct texts), labels fanned
    back out through the members map (operators/dedup.
    rep_cluster_labels) -- the O(N^2) member pair list is never
    materialized. The oracle stays the member-grain recursive-CTE
    reachability over the EXPANDED pairs, so the driver check is
    itself the proof that the rep-grain path reproduces member-grain
    clustering exactly."""
    rep_pairs, members = dedup.minhash_dedup(
        _corpus(spark, sf_dir), "id", "text", threshold=0.5,
        grain="rep")
    return dedup.rep_cluster_labels(rep_pairs, members)


_CLUSTERS_SQL = _MINHASH_CTES.replace(
    "WITH corpus", "WITH RECURSIVE corpus", 1) + """
, sym AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), reach AS (
  SELECT src AS id, dst AS r FROM sym
  UNION
  SELECT reach.id, sym.dst FROM reach JOIN sym ON reach.r = sym.src
)
SELECT id, LEAST(id, MIN(r)) AS cluster_id FROM reach GROUP BY id
"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_table(_corpus(spark, sf_dir), "id", "text")


_SIMHASH_SQL = _CORPUS + "," + _SHINGLES_SQL + """
, votes AS (
  SELECT id, b,
         SUM(CASE WHEN CAST(FLOOR(h32 / POWER(2, b)) AS BIGINT) % 2 = 1
                  THEN 1 ELSE -1 END) AS vote
  FROM shingles
  CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b)
  GROUP BY id, b
)
SELECT id, SUM(CASE WHEN vote > 0 THEN CAST(POWER(2, b) AS BIGINT)
                    ELSE 0 END) AS simhash
FROM votes GROUP BY id
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_blocked(
        _corpus(spark, sf_dir), "id", "text",
        block_cols=["source", "n_chars"], n=3, threshold=0.3)


_NGRAM_SQL = _CORPUS + f"""
, grams AS (
  SELECT DISTINCT id,
         {_H32.format(x="array_to_string(w[i:i+2], ' ')")} AS h32
  FROM (SELECT id, w,
               unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i
        FROM (SELECT id, string_split(trim(text), ' ') AS w FROM corpus))
), cands AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM corpus a JOIN corpus b
    ON a.source = b.source AND a.n_chars = b.n_chars AND a.id < b.id
), sizes AS (
  SELECT id, COUNT(*) AS n FROM grams GROUP BY id
), inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
  FROM cands c
  JOIN grams ga ON ga.id = c.id_a
  JOIN grams gb ON gb.id = c.id_b AND gb.h32 = ga.h32
  GROUP BY c.id_a, c.id_b
)
SELECT i.id_a, i.id_b,
       ROUND(CAST(n_inter AS DOUBLE) / (za.n + zb.n - n_inter), 6) AS jaccard
FROM inter i
JOIN sizes za ON za.id = i.id_a
JOIN sizes zb ON zb.id = i.id_b
WHERE CAST(n_inter AS DOUBLE) / (za.n + zb.n - n_inter) >= 0.3
"""


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup surface, two labelled parts over the
    synthesized vector corpus:

    - 'pair': near-duplicate pairs via bucketed self-join, cosine >=
      0.98 within (label, id%5) blocks (operators/ann.
      embedding_near_dups) -- val = the pair's cosine.
    - 'sem': SemDeDup (operators/ann.semdedup) with `label` standing
      in for the k-means cell (a deterministic cluster assignment the
      oracle can mirror; the learned-quantizer path is pytest-covered).
      One row per DROPPED doc: id_a = the dropped id, id_b = its
      smallest-id higher-priority neighbor within eps, val = the
      dropped doc's cosine to the exact integer centroid direction.
    """
    vecs = _vec_corpus(spark, sf_dir)
    pairs = ann.embedding_near_dups(
        vecs.withColumn("blk", F.col("id") % 5), threshold=0.98,
        id_col="id", vec_col="v", block_cols=("label", "blk"))
    pair_part = pairs.select(F.lit("pair").alias("part"), "id_a", "id_b",
                             F.col("score").alias("val"))
    sem = ann.semdedup(vecs, eps=0.98, keep="far", cluster_col="label",
                       id_col="id", vec_col="v")
    sem_part = (sem.filter(~F.col("kept"))
                   .select(F.lit("sem").alias("part"),
                           F.col("id").alias("id_a"),
                           F.col("dup_of").alias("id_b"),
                           F.col("csim").alias("val")))
    return pair_part.unionByName(sem_part)


_EMB_DEDUP_SQL = "WITH " + _VECS_SQL[_VECS_SQL.index("vecs"):] + f"""
, scored AS (
  SELECT a.id AS id_a, b.id AS id_b,
         {_cos_sql('a.v', 'b.v')} AS score
  FROM vecs a JOIN vecs b
    ON a.label = b.label AND a.id % 5 = b.id % 5 AND a.id < b.id
)
-- SemDeDup twin: floor-quantized vectors, exact integer centroid
-- direction per label (cosine is scale-invariant so the element-wise
-- SUM is the mean direction), priority = lower centroid-cosine
-- (keep='far'), id tie-break
, q AS (
  SELECT id, label, list_transform(v, x -> floor(x * 1000000)) AS q
  FROM vecs
)
, cent AS (
  SELECT label, list(s ORDER BY i) AS cv
  FROM (SELECT label, i, SUM(x)::DOUBLE AS s
        FROM (SELECT label, unnest(q) AS x,
                     generate_subscripts(q, 1) AS i
              FROM q)
        GROUP BY label, i)
  GROUP BY label
)
, semsc AS (
  SELECT q.id, q.label, q.q, {_cos_sql('q.q', 'cent.cv')} AS csim
  FROM q JOIN cent ON q.label = cent.label
)
, dropped AS (
  SELECT x.id AS id_a, MIN(y.id) AS id_b, x.csim AS val
  FROM semsc x JOIN semsc y
    ON x.label = y.label
   AND (y.csim < x.csim OR (y.csim = x.csim AND y.id < x.id))
   AND {_cos_sql('x.q', 'y.q')} >= 0.98
  GROUP BY x.id, x.csim
)
SELECT 'pair' AS part, id_a, id_b, score AS val
FROM scored WHERE score >= 0.98
UNION ALL
SELECT 'sem' AS part, id_a, id_b, val FROM dropped
"""


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    return ann.topk_bruteforce(emb, queries, k=5)


_ANN_BRUTE_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
      FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id, {_cos_sql('qv', 'cv')} AS score
  FROM c CROSS JOIN q WHERE query_id <> neighbor_id
)
SELECT query_id, rk, neighbor_id, score FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id ASC) AS rk
  FROM scored
) WHERE rk <= 5
"""


def ann_kmeans_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable wrapper for the k-means IVF index: macro recall
    of the IVF top-5 against the exact brute-force top-5, asserted
    >= 0.6 (measured: 0.86 / 0.86 / 0.80 at sf0.001 / 0.01 / 0.1, and
    the whole pipeline is deterministic -- lowest-id k-means init,
    fixed Lloyd iterations, id tie-breaks). The oracle can't replicate
    learned centroids, so it asserts the banded outcome; exact
    neighbor sets are pytest-checked (test_llm_ops.py)."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    k = 5
    ivf = ann.topk_kmeans_ivf(emb, queries, k=k, n_centroids=8, nprobe=2)
    brute = ann.topk_bruteforce(emb, queries, k=k)
    hits = ivf.select("query_id", "neighbor_id").join(
        brute.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"])
    # left join from the query set so zero-hit queries still count in
    # the denominator (n_queries must equal the oracle's COUNT(*))
    per_q = (queries.select(F.col("vec_id").alias("query_id"))
             .join(hits.groupBy("query_id")
                       .agg(F.count(F.lit(1)).alias("n_hits")),
                   "query_id", "left")
             .select(F.coalesce("n_hits", F.lit(0)).alias("n_hits")))
    return (per_q.agg(F.count(F.lit(1)).alias("n_queries"),
                      F.sum("n_hits").alias("total_hits"))
                 .select("n_queries",
                         F.lit(k).alias("k"),
                         (F.col("total_hits")
                          >= 0.6 * k * F.col("n_queries"))
                         .alias("recall_ok")))


_ANN_KMEANS_RECALL_SQL = """
SELECT COUNT(*) AS n_queries, 5 AS k, TRUE AS recall_ok
FROM embeddings WHERE vec_id < 10
"""


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    return ann.topk_ivf(emb, queries, k=5)


_ANN_IVF_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv, label
      FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id, {_cos_sql('qv', 'cv')} AS score
  FROM c JOIN q USING (label) WHERE query_id <> neighbor_id
)
SELECT query_id, rk, neighbor_id, score FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id ASC) AS rk
  FROM scored
) WHERE rk <= 5
"""


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data cleaning pipeline as ONE composed
    plan: build the corpus -> MinHash near-dup pairs -> connected
    components -> keep canonical members only -> quality-score the
    survivors -> per-source stats. Every stage is the same operator the
    standalone queries check individually; this query checks that they
    COMPOSE (the real 100 TB workload is this chain, not single ops).

    The dedup stage is minhash_dedup_canonical -- the rep-grain path
    whose every intermediate stays O(N) (member pairs, O(N^2) under
    mass duplication, are never materialized). Row-identical to the
    member-grain minhash_dedup + keep_canonical composition
    (test-asserted incl. a planted 1000-copy family), so the
    recursive-CTE oracle below is unchanged."""
    corpus = dedup.near_dup_corpus(_docs(spark, sf_dir))
    kept = dedup.minhash_dedup_canonical(corpus, "id", "text",
                                         threshold=0.5)
    return (kept.select("id", "source", TX.quality_score("text").alias("q"))
                .filter(F.col("q") >= 0.5)
                .groupBy("source")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.round(F.min("q"), 6).alias("min_q"),
                     # decimal-sum avg (functions/numeric convention):
                     # order-independent, so 6-dp rounding is stable
                     F.round(F.sum(F.col("q").cast("decimal(38,6)"))
                              .cast("double") / F.count(F.lit(1)), 6)
                      .alias("avg_q")))


_PIPELINE_SQL = _MINHASH_CTES.replace(
    "WITH corpus", "WITH RECURSIVE corpus", 1) + f"""
, sym AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), reach AS (
  SELECT src AS id, dst AS r FROM sym
  UNION
  SELECT reach.id, sym.dst FROM reach JOIN sym ON reach.r = sym.src
), losers AS (
  SELECT id FROM (SELECT id, LEAST(id, MIN(r)) AS cluster_id
                  FROM reach GROUP BY id)
  WHERE id <> cluster_id
), kept AS (
  SELECT c.* FROM corpus c LEFT JOIN losers l ON c.id = l.id
  WHERE l.id IS NULL
), scored AS (
  SELECT id, source,
         ROUND(0.4 * least(CAST(len(w) AS DOUBLE) / 100.0, 1.0)
               + 0.3 * (1.0 - CAST(len(list_filter(w, x -> x IN ({_STOP_IN})))
                              AS DOUBLE) / len(w))
               + 0.3 * least(CAST(list_sum(list_transform(w, x -> len(x)))
                              AS DOUBLE) / len(w) / 10.0, 1.0), 6) AS q
  FROM (SELECT id, source, string_split(trim(text), ' ') AS w FROM kept)
)
SELECT source, COUNT(*) AS n_docs, ROUND(MIN(q), 6) AS min_q,
       ROUND(CAST(SUM(CAST(q AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6)
         AS avg_q
FROM scored WHERE q >= 0.5 GROUP BY source
"""


def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        TX.token_count_ws("text").alias("n_ws_tokens"),
        TX.token_count_bpe("text").alias("n_bpe_tokens"))


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.select("doc_id",
                       F.round(TX.stopword_ratio("text"), 6)
                        .alias("stop_ratio"),
                       F.round(TX.avg_word_len("text"), 6)
                        .alias("avg_word_len"),
                       TX.quality_score("text").alias("quality"))


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/stopword language-ID heuristic. The fixture corpus is
    synthetic English-ish word salad for every lang label, so the
    heuristic honestly predicts 'en'/'unk'; the operator's value is the
    deterministic scoring pipeline, checked for parity."""
    docs = _docs(spark, sf_dir)
    ws = TX.words("text")
    en_hits = F.size(F.filter(ws, lambda w: w.isin("the", "a", "of", "and")))
    ratio = en_hits.cast("double") / F.size(ws)
    pred = (F.when(ratio >= 0.05, "en")
             .when(ratio > 0.0, "en-ish")
             .otherwise("unk"))
    return docs.select("doc_id", F.col("lang").alias("lang_label"),
                       F.round(ratio, 6).alias("en_signal"),
                       pred.alias("lang_pred"))


def text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide most-frequent word 3-grams (contamination / boiler-
    plate analysis), two labelled parts over ONE gram relation:

    - 'exact': explode -> count -> top-20 with deterministic tie-break.
      Map-side partial counts collapse the explosion before the
      shuffle, so the exchange carries distinct grams, not tokens --
      but still one row per DISTINCT gram, which at 100 TB of web text
      is billions of rows.
    - 'cms': the same 20 grams estimated from a count-min sketch
      (operators/sketch.py) whose shuffle is capped at d*w rows no
      matter the corpus size -- the bounded-memory heavy-hitter path.
      md5-salted bucketing makes the estimates (including their
      deterministic overcounts) bit-identical in the oracle."""
    docs = _docs(spark, sf_dir)
    grams = TX.exploded_word_ngrams(docs, "text", 3, alias="gram",
                                    keep=())
    exact = (grams.groupBy("gram")
                  .agg(F.count(F.lit(1)).alias("n"))
                  .orderBy(F.col("n").desc(), F.col("gram").asc())
                  .limit(20))
    est = sketch.cms_estimate(sketch.cms_table(grams, "gram"),
                              exact.select("gram"), "gram")
    return (exact.select(F.lit("exact").alias("part"), "gram", "n")
                 .unionByName(exact.join(est, "gram").select(
                     F.lit("cms").alias("part"), "gram",
                     F.col("est").alias("n"))))


_NGRAM_TOPK_SQL = f"""
WITH grams AS (
  SELECT array_to_string(w[i:i+2], ' ') AS gram
  FROM (SELECT w, unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i
        FROM (SELECT string_split(trim(text), ' ') AS w FROM documents))
), exact AS (
  SELECT gram, COUNT(*) AS n FROM grams
  GROUP BY 1 ORDER BY n DESC, gram ASC LIMIT 20
), cms AS ({sketch.cms_sql("grams", "gram")}
), est AS (
  SELECT e.gram, MIN(COALESCE(c.cnt, 0)) AS n
  FROM exact e
  CROSS JOIN (VALUES (0), (1), (2), (3)) AS s(i)
  LEFT JOIN cms c ON c.i = s.i AND c.bucket =
    ('0x' || substr(md5('cms' || s.i || ':' || e.gram), 1, 8))::BIGINT % 2048
  GROUP BY e.gram
)
SELECT 'exact' AS part, gram, n FROM exact
UNION ALL
SELECT 'cms', gram, n FROM est
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.select("doc_id",
                       TX.fingerprint("text").alias("fp"),
                       TX.portable_hash32(F.col("text")).alias("fp32"))


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------

def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing; the oracle checks the fan-out
    shape + deterministic frame sizes (binary content checked by
    pytest, not SQL-expressible)."""
    docs = _docs(spark, sf_dir)
    frames = multimodal.sample_frames(
        multimodal.with_binary_payload(docs), n_frames=4)
    return frames.select("doc_id", "frame_idx", "frame_n_bytes")


_MM_FRAMES_SQL = """
SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
       CASE WHEN (frame_idx + 1) * (strlen(text) // 4) <= strlen(text)
            THEN strlen(text) // 4
            ELSE GREATEST(strlen(text) - frame_idx * (strlen(text) // 4), 0)
       END AS frame_n_bytes
FROM documents
CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS frame_idx)
"""


# ---------------------------------------------------------------------------
# merged registry queries
#
# The driver's correctness gate evaluates at most 50 registry entries;
# same-shape single-op queries are merged into one checked entry each.
# The standalone functions above stay as unit-level building blocks
# (tests/test_llm_ops.py exercises them directly).
# ---------------------------------------------------------------------------

def dedup_simhash_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints + blocked n-gram Jaccard pairs, one checked
    query: ('simhash', id, NULL, simhash-as-double) rows -- simhash is
    32-bit so the double render is exact -- and ('ngram', id_a, id_b,
    jaccard) rows."""
    sh = dedup_simhash(spark, sf_dir).select(
        F.lit("simhash").alias("part"),
        F.col("id").alias("id_a"),
        F.lit(None).cast("long").alias("id_b"),
        F.col("simhash").cast("double").alias("score"))
    ng = dedup_ngram_jaccard(spark, sf_dir).select(
        F.lit("ngram").alias("part"), "id_a", "id_b",
        F.col("jaccard").alias("score"))
    return sh.unionByName(ng)


_SIMHASH_NGRAM_SQL = f"""
SELECT 'simhash' AS part, id AS id_a, CAST(NULL AS BIGINT) AS id_b,
       CAST(simhash AS DOUBLE) AS score
FROM ({_SIMHASH_SQL})
UNION ALL
SELECT 'ngram', id_a, id_b, jaccard FROM ({_NGRAM_SQL})
"""


def text_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-document text-analysis surface in one scan: token counts
    (whitespace + BPE-ish regex), quality signals (stopword ratio, avg
    word length, composite score), the language-ID heuristic, and the
    document fingerprints (md5 + 32-bit portable hash) --
    column-for-column the same expressions as the standalone
    text_token_count / text_quality_score / text_lang_id /
    doc_fingerprint building blocks.

    The scan is spread across cores first: the query is map-only, so
    its parallelism is otherwise bound by input splits (one row group
    locally), and the per-row gram/distinct work for dup_3gram_ratio
    dominates -- measured 1.8 s -> 0.4 s at sf0.1. On a many-split
    100 TB read the repartition is proportional noise."""
    docs = dedup._spread(_docs(spark, sf_dir), "doc_id")
    ws = TX.words("text")
    stop = TX.stopword_ratio("text")
    awl = TX.avg_word_len("text")
    n = TX.token_count_ws("text")
    quality = TX.quality_score("text")
    en_hits = F.size(F.filter(ws, lambda w: w.isin("the", "a", "of", "and")))
    ratio = en_hits.cast("double") / F.size(ws)
    pred = (F.when(ratio >= 0.05, "en")
             .when(ratio > 0.0, "en-ish")
             .otherwise("unk"))
    return docs.select(
        "doc_id",
        n.alias("n_ws_tokens"),
        TX.token_count_bpe("text").alias("n_bpe_tokens"),
        F.round(stop, 6).alias("stop_ratio"),
        F.round(awl, 6).alias("avg_word_len"),
        quality.alias("quality"),
        F.col("lang").alias("lang_label"),
        F.round(ratio, 6).alias("en_signal"),
        pred.alias("lang_pred"),
        TX.fingerprint("text").alias("fp"),
        TX.portable_hash32(F.col("text")).alias("fp32"),
        F.round(TX.dup_ngram_ratio("text", 3), 6).alias("dup_3gram_ratio"),
        # PII scrub (round 12): the fixtures carry no PII, so a
        # deterministic email/phone/IPv4 tail derived from doc_id is
        # appended FIRST -- the count and the redacted-text md5 then
        # exercise the real match+replace behavior against the oracle
        # on every row, not a constant no-op
        TX.pii_count(_pii_probe_text()).alias("pii_n"),
        F.md5(TX.redact_pii(_pii_probe_text())).alias("pii_red_fp"))


def _pii_probe_text():
    did = F.col("doc_id").cast("string")
    return F.concat(
        F.col("text"), F.lit(" contact user"), did,
        F.lit("@example.com or +1 555 00"), did,
        F.lit(" at 10.0."), (F.col("doc_id") % 256).cast("string"),
        F.lit(".7"))


_TEXT_ANALYSIS_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, text, string_split(trim(text), ' ') AS w
  FROM documents
), m AS (
  SELECT doc_id, lang, text, w,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or +1 555 00' || CAST(doc_id AS VARCHAR)
              || ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
           AS ptxt,
         CAST(len(list_filter(w, x -> x IN ({_STOP_IN}))) AS DOUBLE)
           / len(w) AS stop,
         CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE)
           / len(w) AS awl,
         len(w) AS n,
         CAST(len(list_filter(w, x -> x IN ('the','a','of','and')))
              AS DOUBLE) / len(w) AS ratio,
         list_transform(generate_series(1, greatest(len(w) - 2, 1)),
                        i -> array_to_string(w[i:i+2], ' ')) AS grams
  FROM t
)
SELECT doc_id,
       n AS n_ws_tokens,
       len(regexp_extract_all(text, '{TX.BPE_REGEX}')) AS n_bpe_tokens,
       ROUND(stop, 6) AS stop_ratio,
       ROUND(awl, 6) AS avg_word_len,
       ROUND(0.4 * least(CAST(n AS DOUBLE) / 100.0, 1.0)
             + 0.3 * (1.0 - stop)
             + 0.3 * least(awl / 10.0, 1.0), 6) AS quality,
       lang AS lang_label,
       ROUND(ratio, 6) AS en_signal,
       CASE WHEN ratio >= 0.05 THEN 'en'
            WHEN ratio > 0.0 THEN 'en-ish'
            ELSE 'unk' END AS lang_pred,
       md5(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS fp,
       {_H32.format(x='text')} AS fp32,
       ROUND(1 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6)
         AS dup_3gram_ratio,
       CAST(len(regexp_extract_all(
             regexp_replace(regexp_replace(regexp_replace(ptxt,
               '{TX.PII_EMAIL}', '<EMAIL>', 'g'),
               '{TX.PII_IPV4}', '<IP>', 'g'),
               '{TX.PII_PHONE}', '<PHONE>', 'g'),
             '<EMAIL>|<PHONE>|<IP>')) AS BIGINT) AS pii_n,
       md5(regexp_replace(regexp_replace(regexp_replace(ptxt,
             '{TX.PII_EMAIL}', '<EMAIL>', 'g'),
             '{TX.PII_IPV4}', '<IP>', 'g'),
             '{TX.PII_PHONE}', '<PHONE>', 'g')) AS pii_red_fp
FROM m
"""


def multimodal_meta_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload decode metadata + extracted feature vector, one
    checked query. Payloads are MIXED by doc_id%5: real BMP, PNG, JPEG
    (segment-walked SOF), and GIF headers (dimensions derived from
    doc_id -- the decode proves each pure-Python header parser
    round-trips) plus UTF-8 text (the fake path). The feature vector is
    projected to scalar columns (f1..f4) because the driver's hash
    cannot canonicalize raw array cells. Frame sampling keeps its own
    entry (different fan-out shape).

    The px_* / sum_* columns drive REAL pixel decoding through the
    driver gate: a second payload (with_pixel_payload) carries
    complete BMP / P6 PPM / LZW-compressed GIF / zlib-deflated PNG
    images whose pixels derive from doc_id coordinate formulas,
    decode_image_pixels inflates them (GIF through the from-scratch
    LZW decoder, PNG through stdlib-zlib + all-five-filter scanline
    reconstruction -- operators/multimodal.py), and the oracle
    recomputes every per-channel SUM analytically from the same
    formulas. Sums, not
    means: sum = round(mean_6dp * w * h) is exactly integer-
    recoverable (rounding error < 5e-7 * w * h << 0.5), so the hash
    compare is float-safe."""
    # Round 15 (guide §4): the entry's three branches (mixed-payload
    # meta + features, pixel decode, audio round-trip) were each their
    # own mapInPandas chain -- six Python stage setups and two joins
    # for columns that are all functions of one doc row -- and the
    # single-file local fixture scans as ONE split, so the per-doc
    # codec work (LZW, zlib, FLAC) ran serially on one core (measured
    # 1.3 s pixel + 1.2 s audio at sf0.1 on one task). Now: spread the
    # doc rows across cores (the dedup._spread insurance; a no-op
    # cost-wise on a many-split 100 TB scan), then ONE fused Python
    # pass through the same per-doc cores the standalone operators
    # run (multimodal.fused_meta_pixel_audio -- value-identity
    # documented there). The JVM-side sum_c arithmetic is unchanged.
    docs = dedup._spread(_docs(spark, sf_dir), "doc_id")
    mm = multimodal.fused_meta_pixel_audio(docs, dim=4)
    wh = F.col("px_w") * F.col("px_h")
    f = F.col("features")
    return mm.select("doc_id", "n_bytes", "width", "height", "format",
                     F.get(f, 0).alias("f1"), F.get(f, 1).alias("f2"),
                     F.get(f, 2).alias("f3"), F.get(f, 3).alias("f4"),
                     "px_format", "px_w", "px_h",
                     *[F.round(F.col(f"mean_{c}") * wh).cast("long")
                       .alias(f"sum_{c}") for c in ("r", "g", "b")],
                     "aud_fmt", "aud_n", "aud_sum", "aud_abs")


# mirrors with_mixed_payload's synthesis arithmetic + the header-parse
# round-trip: BMP headers are 54 bytes, PNG and JPEG 33, GIF 13; image
# dims come from doc_id, fake dims from the byte length (DuckDB strlen
# counts BYTES, matching Spark's encode(text,'UTF-8') length).
# The px CTEs recompute with_pixel_payload's per-channel sums from the
# shared coordinate formulas (BMP/PPM: direct RGB; GIF: palette-mapped
# index), so the REAL pixel decode -- including the LZW inflate -- is
# checked value-for-value.
_MM_META_FEATURES_SQL = """
WITH m AS (
  SELECT doc_id, CAST(doc_id % 5 AS INT) AS r,
         CAST(CASE CAST(doc_id % 5 AS INT)
              WHEN 0 THEN 54 WHEN 1 THEN 33 WHEN 2 THEN 33 WHEN 3 THEN 13
              ELSE strlen(text) END AS BIGINT) AS n_bytes
  FROM documents
), pxx AS (
  SELECT doc_id, pm, s, w, h, y, unnest(generate_series(0, w - 1)) AS x
  FROM (SELECT doc_id, CAST(doc_id % 4 AS INT) AS pm, doc_id % 256 AS s,
               doc_id % 13 + 4 AS w, (doc_id * 3) % 11 + 4 AS h,
               unnest(generate_series(0, (doc_id * 3) % 11 + 3)) AS y
        FROM documents)
), pxv AS (
  SELECT doc_id, pm, w, h,
         (x * 3 + y * 7 + s) % 256 AS idx,
         (x * 5 + y * 11 + 2 * s) % 256 AS g0,
         (x * 13 + y * 17 + 3 * s) % 256 AS b0
  FROM pxx
), pxs AS (
  SELECT doc_id,
         CASE pm WHEN 0 THEN 'bmp' WHEN 1 THEN 'ppm'
                 WHEN 2 THEN 'gif' ELSE 'png' END AS px_format,
         CAST(MAX(w) AS INT) AS px_w, CAST(MAX(h) AS INT) AS px_h,
         CAST(SUM(idx) AS BIGINT) AS sum_r,
         CAST(SUM(CASE WHEN pm = 2 THEN (idx * 7 + 31) % 256
                       ELSE g0 END) AS BIGINT) AS sum_g,
         CAST(SUM(CASE WHEN pm = 2 THEN (idx * 13 + 77) % 256
                       ELSE b0 END) AS BIGINT) AS sum_b
  FROM pxv GROUP BY doc_id, pm
), audv AS (
  SELECT doc_id, ((doc_id * 31 + i * 17) % 4096) - 2048 AS s
  FROM (SELECT doc_id,
               unnest(generate_series(0, doc_id % 50 + 19)) AS i
        FROM documents)
), auds AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN 'pcm' ELSE 'flac' END AS aud_fmt,
         COUNT(*) AS aud_n,
         CAST(SUM(s) AS BIGINT) AS aud_sum,
         CAST(SUM(ABS(s)) AS BIGINT) AS aud_abs
  FROM audv GROUP BY doc_id
)
SELECT doc_id, n_bytes,
       CAST(CASE WHEN r < 4 THEN doc_id % 64 + 1
                 ELSE n_bytes % 640 END AS INT) AS width,
       CAST(CASE WHEN r < 4 THEN (doc_id * 7) % 48 + 1
                 ELSE (n_bytes * 7) % 480 END AS INT) AS height,
       CASE r WHEN 0 THEN 'bmp' WHEN 1 THEN 'png' WHEN 2 THEN 'jpeg'
              WHEN 3 THEN 'gif' ELSE 'fake' END AS format,
       CAST(n_bytes * 1 % 997 AS DOUBLE) / 997.0 AS f1,
       CAST(n_bytes * 2 % 997 AS DOUBLE) / 997.0 AS f2,
       CAST(n_bytes * 3 % 997 AS DOUBLE) / 997.0 AS f3,
       CAST(n_bytes * 4 % 997 AS DOUBLE) / 997.0 AS f4,
       px_format, px_w, px_h, sum_r, sum_g, sum_b,
       aud_fmt, aud_n, aud_sum, aud_abs
FROM m JOIN pxs USING (doc_id) JOIN auds USING (doc_id)
"""


def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-curation surface (operators/curation.py) as one
    checked query with five labelled parts over `documents`:

    - 'decontam': per training doc (source <> 'src0'), the count of
      distinct word 3-grams shared with the 'src0' benchmark split --
      val = n_overlap (0 = clean).
    - 'pack': concat-and-chunk sequence packing at a 200-token budget,
      per-source streams ordered by doc_id -- val = seq_id.
    - 'sample': deterministic 20% stratified hash sample --
      val = hash bucket of each KEPT doc.
    - 'split': 80/10/10 train/val/test assignment -- val = 0/1/2
      (disjoint-exhaustive bucket ranges; oracle mirrors the range
      arithmetic).
    - 'chunk': overlapping chunking at size 32 / overlap 8, one row
      per doc with val = the emitted chunk count (checks the fan-out
      arithmetic through the real explode).
    - 'mix': token-weighted mixing toward uniform 5% shares across the
      20 sources -- val = keep_ppm of each KEPT doc (checks the
      rate arithmetic AND the bucket filter).
    - 'xdup': cross-document span duplication -- val = count of the
      doc's distinct word 3-grams that appear in >=1 OTHER document
      (the n-gram-hash approximation of exact-substring dedup;
      operators/curation.cross_doc_ngram_dup).
    - 'dsir': DSIR importance weighting (Xie et al. 2023) -- val = the
      per-doc log importance weight in integer micro-nats under
      add-one-smoothed hashed bag-of-trigram models, target = the
      'src0' split, raw = the rest (operators/curation.dsir_scores;
      the Gumbel-top-k resampling half is pytest-covered).
    - 'spanrm': C4-style duplicate-span REMOVAL -- val = the number of
      16-word blocks stripped from each doc because their text occurs
      elsewhere in the corpus and this doc is not the canonical
      occurrence (operators/curation.remove_duplicate_spans; the
      reassembled text itself is pytest-covered, the oracle mirrors
      every keep/drop decision through the same md5 block hashes).
    - 'bloom': cross-snapshot Bloom screening (operators/bloom.py) --
      a bounded m-bit filter over the even-doc_id half's text
      fingerprints probes the odd half; val = might_contain (the
      no-false-negative / deterministic-false-positive arithmetic is
      mirrored bit-for-bit by the oracle).
    """
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("source") == "src0")
    train = docs.filter(F.col("source") != "src0")
    # ONE-PASS TOKENIZE (SCALE.md contract): the word-trigram explode
    # + hash is the dominant cost shared by decontam, xdup, and dsir
    # (which previously tokenized the corpus FIVE times between them:
    # train+bench, all-docs, raw+target). Compute the (id, source, gh)
    # BAG relation once, localCheckpoint it (compact: three fixed-width
    # columns, post-explode), and derive every consumer's shape from
    # it: distinct sets for the decontam/xdup joins, % buckets for the
    # DSIR bag models. A 100 TB run would parquet-checkpoint the same
    # relation. Hashes are portable_hash32 in all three consumers, so
    # the derivations are exact, not approximations.
    tri = (TX.exploded_word_ngrams(
               dedup._spread(docs.select("doc_id", "source", "text"),
                             "doc_id"),
               "text", 3,
               keep=(F.col("doc_id").alias("id"), "source"))
           .select("id", "source", TX.portable_hash32("g").alias("gh"))
           .localCheckpoint(eager=False))
    # ONE distinct pass shared by decontam and xdup (round 7: the two
    # parts each ran their own corpus-wide distinct over tri; the
    # (id, source, gh) SET relation is computed once, pinned like tri
    # itself, and filtered per consumer -- set semantics are preserved
    # because (id, gh) distinctness is unaffected by the functional
    # source column)
    tri_dist = (tri.distinct().localCheckpoint(eager=False))
    tri_train = tri.filter(F.col("source") != "src0")
    bench_gh = (tri_dist.filter(F.col("source") == "src0")
                .select("gh").distinct())
    dec = curation.benchmark_decontaminate(
        train, bench, n=3,
        doc_grams=tri_dist.filter(F.col("source") != "src0")
                          .select("id", "gh"),
        bench_grams=bench_gh).select(
        F.lit("decontam").alias("part"),
        F.col("id").alias("doc_id"),
        F.col("n_overlap").cast("long").alias("val"))
    pack = curation.pack_sequences(docs, budget=200).select(
        F.lit("pack").alias("part"),
        F.col("id").alias("doc_id"),
        F.col("seq_id").cast("long").alias("val"))
    samp = curation.hash_sample(docs, pct=20).select(
        F.lit("sample").alias("part"),
        F.col("id").alias("doc_id"),
        F.col("bucket").cast("long").alias("val"))
    spl = curation.hash_split(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}).select(
        F.lit("split").alias("part"),
        "doc_id",
        F.when(F.col("split") == "train", 0)
         .when(F.col("split") == "val", 1)
         .otherwise(2).cast("long").alias("val"))
    chunks = (curation.chunk_documents(docs, size=32, overlap=8)
              .groupBy("id")
              .agg(F.count(F.lit(1)).alias("n"))
              .select(F.lit("chunk").alias("part"),
                      F.col("id").alias("doc_id"),
                      F.col("n").cast("long").alias("val")))
    mix = curation.mix_corpus(
        docs, {f"src{i}": 0.05 for i in range(20)}).select(
        F.lit("mix").alias("part"),
        F.col("id").alias("doc_id"),
        F.col("keep_ppm").cast("long").alias("val"))
    xdup = curation.cross_doc_ngram_dup(
        docs, n=3, grams=tri_dist.select("id", "gh")).select(
        F.lit("xdup").alias("part"),
        F.col("id").alias("doc_id"),
        F.col("n_dup_grams").cast("long").alias("val"))
    train_buckets = tri_train.select(
        "id", (F.col("gh") % 4096).alias("bucket"))
    lr = curation.dsir_logratio_table(
        train, bench, n=3,
        raw_buckets=train_buckets,
        target_buckets=tri.filter(F.col("source") == "src0")
                          .select("id", (F.col("gh") % 4096)
                                  .alias("bucket")))
    dsir = curation.dsir_scores(train, lr, n=3,
                                doc_buckets=train_buckets).select(
        F.lit("dsir").alias("part"),
        F.col("id").alias("doc_id"),
        F.col("dsir_micro").cast("long").alias("val"))
    spanrm = curation.remove_duplicate_spans(docs, span_words=16).select(
        F.lit("spanrm").alias("part"),
        "doc_id",
        F.col("n_removed_spans").alias("val"))
    # 'bloom': cross-snapshot screening -- a Bloom filter built over
    # the even-doc_id half's text fingerprints probes the odd half;
    # val = 1 iff the doc might have been seen before (planted
    # duplicate texts flag true; the rare false positive is
    # deterministic md5 arithmetic, mirrored by the oracle exactly)
    seen = (docs.filter(F.col("doc_id") % 2 == 0)
                .select(F.md5("text").alias("fp")))
    probe = (docs.filter(F.col("doc_id") % 2 == 1)
                 .withColumn("fp", F.md5("text")))
    blm = (bloom.bloom_might_contain(
               probe, "fp", bloom.bloom_build(seen, "fp"))
           .select(F.lit("bloom").alias("part"), "doc_id",
                   F.col("might_contain").cast("long").alias("val")))
    # 'fuzzy': MinHash-LSH fuzzy decontamination through the real
    # train x bench band join + Jaccard/containment verify -- val =
    # the number of 'src0' benchmark items each flagged training doc
    # near-duplicates (only flagged docs appear; the oracle replays
    # the identical md5 minhash chain)
    fz = (curation.fuzzy_decontaminate(train, bench, threshold=0.5)
          .groupBy("id").agg(F.count(F.lit(1)).alias("n"))
          .select(F.lit("fuzzy").alias("part"),
                  F.col("id").alias("doc_id"),
                  F.col("n").cast("long").alias("val")))
    return (dec.unionByName(pack).unionByName(samp)
            .unionByName(spl).unionByName(chunks).unionByName(mix)
            .unionByName(xdup).unionByName(dsir).unionByName(spanrm)
            .unionByName(blm).unionByName(fz))


_CURATION_SQL = f"""
WITH g AS (
  SELECT doc_id, source,
         {_H32.format(x="array_to_string(w[i:i+2], ' ')")} AS gh
  FROM (SELECT doc_id, source, w,
               unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i
        FROM (SELECT doc_id, source, string_split(trim(text), ' ') AS w
              FROM documents))
), bench_g AS (
  SELECT DISTINCT gh FROM g WHERE source = 'src0'
), train_g AS (
  SELECT DISTINCT doc_id, gh FROM g WHERE source <> 'src0'
), overlap AS (
  SELECT t.doc_id, COUNT(*) AS n_overlap
  FROM train_g t JOIN bench_g b ON t.gh = b.gh
  GROUP BY t.doc_id
), decontam AS (
  SELECT d.doc_id, COALESCE(o.n_overlap, 0) AS val
  FROM documents d LEFT JOIN overlap o ON d.doc_id = o.doc_id
  WHERE d.source <> 'src0'
), pack AS (
  -- CAST the windowed SUM: DuckDB SUM(BIGINT) yields HUGEINT, which
  -- UNION ALL then propagates to the whole val column -> float64 in
  -- pandas -> hash mismatch vs Spark's int64 (CORRECTNESS_r03)
  SELECT doc_id,
         CAST((SUM(n) OVER (PARTITION BY source ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) - n) // 200
              AS BIGINT) AS val
  FROM (SELECT doc_id, source,
               len(string_split(trim(text), ' ')) AS n
        FROM documents)
), samp AS (
  SELECT doc_id, val FROM (
    SELECT doc_id,
           {_H32.format(x="source || ':' || CAST(doc_id AS VARCHAR)")}
             % 100 AS val
    FROM documents)
  WHERE val < 20
), spl AS (
  SELECT doc_id,
         CASE WHEN b < 800000 THEN 0
              WHEN b < 900000 THEN 1
              ELSE 2 END AS val
  FROM (SELECT doc_id,
               {_H32.format(x="source || ':' || CAST(doc_id AS VARCHAR)")}
                 % 1000000 AS b
        FROM documents)
), chunk AS (
  -- chunk count = greatest(ceil((tokens - overlap) / step), 1),
  -- size 32 / overlap 8 / step 24
  SELECT doc_id,
         GREATEST(CAST(CEIL((len(string_split(trim(text), ' ')) - 8)
                            / 24.0) AS BIGINT), 1) AS val
  FROM documents
), toks AS (
  SELECT doc_id, source,
         len(string_split(trim(text), ' ')) AS n,
         {_H32.format(x="source || ':' || CAST(doc_id AS VARCHAR)")}
           % 1000000 AS b
  FROM documents
), rates AS (
  -- keep_ppm = least(1e6, floor(total * share * 1e6 / avail)),
  -- double arithmetic in the SAME order as mix_corpus
  SELECT source,
         LEAST(1000000, CAST(FLOOR(
           CAST((SELECT SUM(n) FROM toks) AS DOUBLE)
           * 0.05 * 1000000 / SUM(n)) AS BIGINT)) AS keep_ppm
  FROM toks GROUP BY source
), mix AS (
  SELECT t.doc_id, r.keep_ppm AS val
  FROM toks t JOIN rates r ON t.source = r.source
  WHERE t.b < r.keep_ppm
), xg AS (
  SELECT DISTINCT doc_id, gh FROM g
), gfreq AS (
  SELECT gh FROM xg GROUP BY gh HAVING COUNT(*) >= 2
), xdup AS (
  SELECT d.doc_id, COALESCE(x.v, 0) AS val
  FROM documents d LEFT JOIN (
    SELECT xg.doc_id, COUNT(*) AS v
    FROM xg JOIN gfreq ON xg.gh = gfreq.gh
    GROUP BY xg.doc_id) x
  ON d.doc_id = x.doc_id
), dsb AS (
  -- DSIR: bag (non-distinct) trigram hashes feature-hashed into 4096
  -- buckets; integer micro-nat log-ratios so the per-doc sum is exact
  SELECT doc_id, source, gh % 4096 AS bucket FROM g
), dcr AS (
  SELECT bucket, COUNT(*) AS cr FROM dsb
  WHERE source <> 'src0' GROUP BY bucket
), dct AS (
  SELECT bucket, COUNT(*) AS ct FROM dsb
  WHERE source = 'src0' GROUP BY bucket
), dlr AS (
  SELECT COALESCE(dcr.bucket, dct.bucket) AS bucket,
         CAST(ROUND(ln(
             (COALESCE(ct, 0) + 1.0)
             * ((SELECT SUM(cr) FROM dcr) + 4096.0)
           / ((COALESCE(cr, 0) + 1.0)
              * ((SELECT SUM(ct) FROM dct) + 4096.0))
         ) * 1000000) AS BIGINT) AS lr_micro
  FROM dcr FULL JOIN dct ON dcr.bucket = dct.bucket
), dsir AS (
  SELECT b.doc_id, CAST(SUM(COALESCE(l.lr_micro, 0)) AS BIGINT) AS val
  FROM dsb b LEFT JOIN dlr l ON b.bucket = l.bucket
  WHERE b.source <> 'src0'
  GROUP BY b.doc_id
), spans AS (
  -- C4-style span removal: 16-word blocks, keep only the canonical
  -- (min packed (doc, block)) occurrence of each duplicated block
  SELECT doc_id, b,
         {_H32.format(
             x="array_to_string(w[b*16+1 : b*16+16], ' ')")} AS h,
         doc_id * 1048576 + b AS pk
  FROM (SELECT doc_id, w,
               unnest(generate_series(
                   0, GREATEST(CAST(CEIL(len(w) / 16.0) AS INT) - 1, 0)
               )) AS b
        FROM (SELECT doc_id, string_split(trim(text), ' ') AS w
              FROM documents))
), span_stats AS (
  SELECT h, COUNT(*) AS cnt, MIN(pk) AS winner FROM spans GROUP BY h
), spanrm AS (
  SELECT s.doc_id,
         CAST(SUM(CASE WHEN st.cnt > 1 AND s.pk <> st.winner
                       THEN 1 ELSE 0 END) AS BIGINT) AS val
  FROM spans s JOIN span_stats st ON s.h = st.h
  GROUP BY s.doc_id
), bloomf AS (
  {bloom.bloom_sql(
      "(SELECT md5(text) AS fp FROM documents WHERE doc_id % 2 = 0) prev",
      "fp")}
), bpos AS (
  {bloom.bloom_probe_sql("doc_id", "documents", "md5(text)",
                         where="doc_id % 2 = 1")}
), bloomp AS (
  SELECT p.doc_id,
         CAST(CASE WHEN BOOL_AND(
               (COALESCE(f.bits, 0) & (1::BIGINT << (p.pos % 32)::INT)) <> 0)
              THEN 1 ELSE 0 END AS BIGINT) AS val
  FROM bpos p LEFT JOIN bloomf f ON p.pos // 32 = f.word
  GROUP BY p.doc_id
), fz_sh AS (
  SELECT DISTINCT doc_id AS id, source,
         {_H32.format(x="substr(text, p, 8)")} AS h32
  FROM (SELECT doc_id, source, text,
               unnest(generate_series(1, greatest(len(text) - 7, 1))) AS p
        FROM documents)
), fz_sig AS (
  SELECT id, source, i, MIN((a * h32 + b) % {dedup.MINHASH_P}) AS mh
  FROM fz_sh CROSS JOIN {_PARAMS_SQL}
  GROUP BY id, source, i
), fz_band AS (
  SELECT id, source, i // {dedup.BANDS_OF} AS band,
         SUM(CASE WHEN i % {dedup.BANDS_OF} = 0
                  THEN mh * {dedup._BAND_SHIFT} ELSE mh END) AS band_sig
  FROM fz_sig GROUP BY id, source, i // {dedup.BANDS_OF}
), fz_cand AS (
  SELECT DISTINCT t.id AS id_a, b.id AS id_b
  FROM fz_band t JOIN fz_band b
    ON t.band = b.band AND t.band_sig = b.band_sig
  WHERE t.source <> 'src0' AND b.source = 'src0'
), fz_sizes AS (
  SELECT id, COUNT(*) AS n FROM fz_sh GROUP BY id
), fz_pairs AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS ni, MIN(za.n) AS na, MIN(zb.n) AS nb
  FROM fz_cand c
  JOIN fz_sh sa ON sa.id = c.id_a
  JOIN fz_sh sb ON sb.id = c.id_b AND sb.h32 = sa.h32
  JOIN fz_sizes za ON za.id = c.id_a
  JOIN fz_sizes zb ON zb.id = c.id_b
  GROUP BY c.id_a, c.id_b
), fuzzy AS (
  SELECT id_a AS doc_id, CAST(COUNT(*) AS BIGINT) AS val
  FROM fz_pairs
  WHERE ROUND(CAST(ni AS DOUBLE) / (na + nb - ni), 6) >= 0.5
     OR ROUND(CAST(ni AS DOUBLE) / LEAST(na, nb), 6) >= 0.5
  GROUP BY id_a
)
SELECT 'decontam' AS part, doc_id, val FROM decontam
UNION ALL SELECT 'pack', doc_id, val FROM pack
UNION ALL SELECT 'sample', doc_id, val FROM samp
UNION ALL SELECT 'split', doc_id, val FROM spl
UNION ALL SELECT 'chunk', doc_id, val FROM chunk
UNION ALL SELECT 'mix', doc_id, val FROM mix
UNION ALL SELECT 'xdup', doc_id, val FROM xdup
UNION ALL SELECT 'dsir', doc_id, val FROM dsir
UNION ALL SELECT 'spanrm', doc_id, val FROM spanrm
UNION ALL SELECT 'bloom', doc_id, val FROM bloomp
UNION ALL SELECT 'fuzzy', doc_id, val FROM fuzzy
"""


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_clusters": dedup_clusters,
    "pipeline_clean_corpus": pipeline_clean_corpus,
    "dedup_simhash_ngram": dedup_simhash_ngram,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "ann_cosine_topk": ann_cosine_topk,
    "ann_ivf_topk": ann_ivf_topk,
    "ann_kmeans_ivf_recall": ann_kmeans_ivf_recall,
    "text_analysis": text_analysis,
    "text_ngram_topk": text_ngram_topk,
    "corpus_curation": corpus_curation,
    "multimodal_meta_features": multimodal_meta_features,
    "multimodal_frame_sample": multimodal_frame_sample,
}

ORACLE = {
    "dedup_exact": _DEDUP_EXACT_SQL,
    "dedup_minhash_lsh": _MINHASH_SQL,
    "dedup_clusters": _CLUSTERS_SQL,
    "pipeline_clean_corpus": _PIPELINE_SQL,
    "dedup_simhash_ngram": _SIMHASH_NGRAM_SQL,
    "dedup_embedding_cosine": _EMB_DEDUP_SQL,
    "ann_cosine_topk": _ANN_BRUTE_SQL,
    "ann_ivf_topk": _ANN_IVF_SQL,
    "ann_kmeans_ivf_recall": _ANN_KMEANS_RECALL_SQL,
    "text_analysis": _TEXT_ANALYSIS_SQL,
    "text_ngram_topk": _NGRAM_TOPK_SQL,
    "corpus_curation": _CURATION_SQL,
    "multimodal_meta_features": _MM_META_FEATURES_SQL,
    "multimodal_frame_sample": _MM_FRAMES_SQL,
}
