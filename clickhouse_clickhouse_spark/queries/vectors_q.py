"""M7 — vector/similarity operators on `embeddings` (SURVEY.md §2.8
distance family + §7 M7 ANN).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

from clickhouse_clickhouse_spark.functions.vectors import (
    cosine_similarity, dot_product, l2_distance,
)
from clickhouse_clickhouse_spark.pipeline.similarity import (
    brute_force_topk, label_centroids, lsh_bucketed_topk,
)
from clickhouse_clickhouse_spark.registry import register
from clickhouse_clickhouse_spark.session import local_frame
from clickhouse_clickhouse_spark.tables import load_table


@register("vec_distances", oracle="""
WITH p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.embedding AS ea, b.embedding AS eb
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE a.vec_id < 3 AND b.vec_id < 8),
x AS (
  SELECT id_a, id_b,
         sum(CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)) AS dot,
         sum(CAST(ea[i] AS DOUBLE) * CAST(ea[i] AS DOUBLE)) AS na,
         sum(CAST(eb[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)) AS nb,
         sum(pow(CAST(ea[i] AS DOUBLE) - CAST(eb[i] AS DOUBLE), 2)) AS sq
  FROM p, (SELECT unnest(generate_series(1, 64)) AS i) g
  GROUP BY id_a, id_b)
SELECT id_a, id_b,
       round(dot, 6)                        AS dot,
       round(sqrt(sq), 6)                   AS l2_dist,
       round(dot / (sqrt(na) * sqrt(nb)), 6) AS cosine
FROM x
""")
def vec_distances(spark, sf):
    """dotProduct / L2Distance / cosine (reference arrayDotProduct /
    arrayDistance) via JVM higher-order functions."""
    e = load_table(spark, sf, "embeddings").select("vec_id", "embedding")
    a = e.alias("a")
    b = e.alias("b")
    ea, eb = F.col("a.embedding"), F.col("b.embedding")
    return (a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
            .filter((F.col("a.vec_id") < 3) & (F.col("b.vec_id") < 8))
            .select(F.col("a.vec_id").alias("id_a"),
                    F.col("b.vec_id").alias("id_b"),
                    F.round(dot_product(ea, eb), 6).alias("dot"),
                    F.round(l2_distance(ea, eb), 6).alias("l2_dist"),
                    F.round(cosine_similarity(ea, eb), 6).alias("cosine")))


@register("topk_cosine", oracle="""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
c AS (SELECT vec_id AS corpus_id, embedding AS cv FROM embeddings),
x AS (
  SELECT query_id, corpus_id,
         sum(CAST(cv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)) AS dot,
         sum(CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)) AS nc,
         sum(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)) AS nq
  FROM c JOIN q ON corpus_id <> query_id,
       (SELECT unnest(generate_series(1, 64)) AS i) g
  GROUP BY query_id, corpus_id),
s AS (SELECT query_id, corpus_id,
             round(dot / (sqrt(nc) * sqrt(nq)), 6) AS cosine FROM x)
SELECT query_id, corpus_id, cosine, rk FROM (
  SELECT query_id, corpus_id, cosine,
         cast(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, corpus_id) AS INT) AS rk
  FROM s) t WHERE rk <= 5
""")
def topk_cosine(spark, sf):
    """Brute-force cosine top-5 per query vector (queries = vec_id < 3,
    broadcast against the corpus; the exact-ANN baseline). Deterministic
    tiebreak on (rounded cosine, corpus_id)."""
    e = load_table(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 3)
    return brute_force_topk(e, q, k=5,
                            corpus_id="vec_id", corpus_vec="embedding",
                            query_id="vec_id", query_vec="embedding")


@register("label_centroids_q", oracle="""
SELECT label, cast(i - 1 AS INT) AS dim,
       round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS mean_val
FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) g
GROUP BY label, i
""")
def label_centroids_q(spark, sf):
    """Label-wise centroids in relational (label, dim, mean) form —
    posexplode + hash agg (pipeline/similarity.label_centroids)."""
    e = load_table(spark, sf, "embeddings")
    return (e.select("label", F.posexplode("embedding").alias("dim", "val"))
            .groupBy("label", "dim")
            .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("mean_val"))
            .select("label", F.col("dim").cast("int").alias("dim"), "mean_val"))


# ANN results are approximate by construction and can't hash-match an
# oracle, so each ann_* query checks the STRUCTURAL invariant the index
# promises instead: plant an exact copy of every query vector in the
# corpus (id + 1e6) — an identical vector lands in the same LSH bucket /
# IVF inverted list / PQ cell with the minimal possible distance, so the
# top-k MUST contain it. Raw recall@k per variant per round is recorded
# in RECALL.md; per-variant recall gates live in the unit tests.
_PLANT = 1_000_000

_ANN_ORACLE = """
SELECT vec_id AS query_id, TRUE AS found_planted_dup
FROM embeddings WHERE vec_id < 3
"""


def _planted_setup(spark, sf):
    e = load_table(spark, sf, "embeddings").select("vec_id", "embedding")
    q = e.filter(F.col("vec_id") < 3)
    planted = q.select((F.col("vec_id") + _PLANT).alias("vec_id"),
                       "embedding")
    corpus = e.unionByName(planted)
    queries = q.select(F.col("vec_id").alias("query_id"), "embedding")
    return corpus, queries


def _planted_found(topk):
    return (topk.groupBy("query_id")
            .agg(F.max(F.col("corpus_id") == F.col("query_id") + _PLANT)
                 .alias("found_planted_dup")))


@register("ann_lsh_topk", oracle=_ANN_ORACLE)
def ann_lsh_topk(spark, sf):
    """Sign-LSH bucketed ANN top-5 (6-bit buckets, 1-bit multiprobe) —
    planted-duplicate recovery invariant (an identical vector shares the
    sign bucket, scores cosine 1.0, and must rank first); recall vs the
    exact baseline is asserted in unit tests
    (pipeline/similarity.lsh_bucketed_topk)."""
    corpus, q = _planted_setup(spark, sf)
    return _planted_found(
        lsh_bucketed_topk(corpus, q, k=5, bits=6, multiprobe=1,
                          corpus_id="vec_id", corpus_vec="embedding",
                          query_id="query_id", query_vec="embedding"))


@register("vec_near_dup_blocked", oracle="""
WITH p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.embedding AS ea, b.embedding AS eb
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE a.vec_id < 120 AND b.vec_id < 120),
x AS (
  SELECT id_a, id_b,
         sum(CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)) AS dot,
         sum(CAST(ea[i] AS DOUBLE) * CAST(ea[i] AS DOUBLE)) AS na,
         sum(CAST(eb[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)) AS nb
  FROM p, (SELECT unnest(generate_series(1, 64)) AS i) g
  GROUP BY id_a, id_b)
SELECT id_a, id_b, round(dot / (sqrt(na) * sqrt(nb)), 6) AS cosine
FROM x WHERE dot / (sqrt(na) * sqrt(nb)) >= 0.2
""")
def vec_near_dup_blocked(spark, sf):
    """Embedding near-dup candidates inside a blocking key (label):
    label-equi join bounds the pair count, cosine filter keeps the
    near-duplicates (pipeline/dedup.embedding_near_dup_pairs shape)."""
    e = (load_table(spark, sf, "embeddings")
         .filter(F.col("vec_id") < 120)
         .select("vec_id", "label", "embedding"))
    a, b = e.alias("a"), e.alias("b")
    cos = cosine_similarity(F.col("a.embedding"), F.col("b.embedding"))
    return (a.join(b, (F.col("a.label") == F.col("b.label")) &
                   (F.col("a.vec_id") < F.col("b.vec_id")))
            .select(F.col("a.vec_id").alias("id_a"),
                    F.col("b.vec_id").alias("id_b"),
                    F.round(cos, 6).alias("cosine"))
            .filter(F.col("cosine") >= 0.2))


@register("ann_ivf_topk", oracle=_ANN_ORACLE)
def ann_ivf_topk(spark, sf):
    """IVF ANN top-5: k-means coarse quantizer (8 lists, 2 Lloyd
    iterations, deterministic seeds), 2-probe search
    (pipeline/similarity.ivf_topk). Planted-duplicate recovery invariant:
    an identical vector is assigned to the query's own nearest list —
    always probed — and must rank first by cosine. Recall vs the exact
    baseline asserted in unit tests."""
    from clickhouse_clickhouse_spark.pipeline.similarity import ivf_topk

    corpus, q = _planted_setup(spark, sf)
    return _planted_found(
        ivf_topk(corpus, q, k=5, n_centroids=8, n_probe=2,
                 query_id="query_id", query_vec="embedding"))


# sign-LSH bucket (8 bits over the first 8 coordinates) spelled in plain
# SQL for the oracle — identical arithmetic to the fold in
# pipeline/dedup.embedding_near_dup_pairs
_SIGN_BUCKET_SQL = " + ".join(
    f"(CASE WHEN CAST(embedding[{i + 1}] AS DOUBLE) > 0 "
    f"THEN {1 << (7 - i)} ELSE 0 END)" for i in range(8))


@register("vec_near_dup_bucketed", oracle=f"""
WITH e AS (
  SELECT vec_id, embedding, {_SIGN_BUCKET_SQL} AS bkt FROM embeddings),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         a.embedding AS ea, b.embedding AS eb
  FROM e a JOIN e b ON a.bkt = b.bkt AND a.vec_id < b.vec_id),
x AS (
  SELECT id_a, id_b,
         sum(CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)) AS dot,
         sum(CAST(ea[i] AS DOUBLE) * CAST(ea[i] AS DOUBLE)) AS na,
         sum(CAST(eb[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)) AS nb
  FROM p, (SELECT unnest(generate_series(1, 64)) AS i) g
  GROUP BY id_a, id_b)
SELECT id_a, id_b, round(dot / (sqrt(na) * sqrt(nb)), 6) AS cosine
FROM x WHERE round(dot / (sqrt(na) * sqrt(nb)), 6) >= 0.2
""")
def vec_near_dup_bucketed(spark, sf):
    """Embedding near-dup pairs through the sign-LSH bucketed DEFAULT path
    of pipeline/dedup.embedding_near_dup_pairs (bucket_bits=8): the
    self-join is equi on the bucket key — per-bucket cross products, not
    all-pairs — which is the 100 TB-safe default."""
    from clickhouse_clickhouse_spark.pipeline.dedup import (
        embedding_near_dup_pairs,
    )

    e = load_table(spark, sf, "embeddings").select("vec_id", "embedding")
    return embedding_near_dup_pairs(e, "vec_id", "embedding",
                                    threshold=0.2)


_V_PAIR_SQL = f"""
WITH RECURSIVE e AS (
  SELECT vec_id, embedding, {_SIGN_BUCKET_SQL} AS bkt FROM embeddings),
p0 AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         a.embedding AS ea, b.embedding AS eb
  FROM e a JOIN e b ON a.bkt = b.bkt AND a.vec_id < b.vec_id),
x AS (
  SELECT id_a, id_b,
         sum(CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)) AS dot,
         sum(CAST(ea[i] AS DOUBLE) * CAST(ea[i] AS DOUBLE)) AS na,
         sum(CAST(eb[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)) AS nb
  FROM p0, (SELECT unnest(generate_series(1, 64)) AS i) g
  GROUP BY id_a, id_b),
pairs AS (
  SELECT id_a, id_b FROM x
  WHERE round(dot / (sqrt(na) * sqrt(nb)), 6) >= 0.2)
"""


@register("dedup_connected_components", oracle=_V_PAIR_SQL + """,
sym AS (SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
reach(n, m) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
  UNION
  SELECT r.n, s.b FROM reach r JOIN sym s ON r.m = s.a)
SELECT n AS vec_id, min(m) AS component FROM reach GROUP BY n
""")
def dedup_connected_components(spark, sf):
    """Near-dup clustering: sign-LSH bucketed candidate pairs ->
    connected components by min-label propagation
    (pipeline/components.py) — the pairs-to-clusters step of a dedup
    pipeline. Oracle: DuckDB recursive-CTE reachability closure over the
    identical pair set."""
    from clickhouse_clickhouse_spark.pipeline.components import (
        connected_components,
    )
    from clickhouse_clickhouse_spark.pipeline.dedup import (
        embedding_near_dup_pairs,
    )

    e = load_table(spark, sf, "embeddings").select("vec_id", "embedding")
    pairs = embedding_near_dup_pairs(e, "vec_id", "embedding",
                                     threshold=0.2)
    comp = connected_components(pairs, "id_a", "id_b")
    return comp.select(F.col("n").alias("vec_id"),
                       F.col("lbl").alias("component"))


@register("vec_quantize_int8", oracle="""
WITH s AS (
  SELECT vec_id, embedding,
         greatest(list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE)))), 1e-12) AS scale
  FROM embeddings WHERE vec_id < 100),
q AS (
  SELECT vec_id, scale,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) / scale * 127) AS BIGINT)) AS qv
  FROM s)
SELECT vec_id, round(scale, 6) AS scale,
       cast(list_aggregate(qv, 'sum') AS BIGINT) AS q_sum,
       cast(list_aggregate(qv, 'min') AS BIGINT) AS q_min,
       cast(list_aggregate(qv, 'max') AS BIGINT) AS q_max
FROM q
""")
def vec_quantize_int8(spark, sf):
    """Symmetric int8 embedding quantization (the 4x storage cut every
    100 TB vector corpus takes): per-vector absmax scale, round(v/scale
    * 127). Pure HOF arithmetic — no UDF, no shuffle; summarized to
    sum/min/max per vector for a compact hash-compare."""
    e = (load_table(spark, sf, "embeddings").filter(F.col("vec_id") < 100)
         .select("vec_id", "embedding"))
    absmax = F.greatest(
        F.array_max(F.transform(F.col("embedding"),
                                lambda x: F.abs(x.cast("double")))),
        F.lit(1e-12))
    d = e.withColumn("scale", absmax)
    qv = F.transform(F.col("embedding"),
                     lambda x: F.round(x.cast("double") / F.col("scale")
                                       * 127, 0).cast("long"))
    d = d.withColumn("qv", qv)
    return d.select(
        "vec_id", F.round("scale", 6).alias("scale"),
        F.aggregate("qv", F.lit(0).cast("long"),
                    lambda a, x: a + x).alias("q_sum"),
        F.array_min("qv").alias("q_min"),
        F.array_max("qv").alias("q_max"))


@register("ann_pq_topk", oracle=_ANN_ORACLE)
def ann_pq_topk(spark, sf):
    """Product-quantization ANN top-5 (the 100 TB storage/scan path: m
    bytes per vector + table-lookup ADC distances): 8 subspaces x 16
    codes over the 64-dim fixture, asymmetric distance, rank-pruned
    per-query top-k. Planted-duplicate recovery invariant: the duplicate's
    code cells are the per-subspace argmin codewords for the query, so its
    ADC distance is the global minimum and it must appear in the top-k.
    Recall vs exact L2 asserted in unit tests (pipeline/similarity.pq_topk)."""
    from clickhouse_clickhouse_spark.pipeline.similarity import pq_topk

    corpus, q = _planted_setup(spark, sf)
    return _planted_found(
        pq_topk(corpus, q, k=5, m=8, codes=16, dim=64,
                query_id="query_id"))


@register("ann_ivf_pq_topk", oracle=_ANN_ORACLE)
def ann_ivf_pq_topk(spark, sf):
    """IVF-PQ ANN top-5 (the billion-scale composition: coarse lists
    prune the corpus, PQ ADC scores only probed candidates from m-byte
    codes). Planted-duplicate recovery invariant, same argument as
    ann_ivf_topk (dup in the first-probed list) + ann_pq_topk (minimal
    ADC distance) composed (pipeline/similarity.ivf_pq_topk)."""
    from clickhouse_clickhouse_spark.pipeline.similarity import ivf_pq_topk

    corpus, q = _planted_setup(spark, sf)
    return _planted_found(
        ivf_pq_topk(corpus, q, k=5, n_centroids=8, n_probe=3, m=8,
                    codes=16, dim=64, query_id="query_id"))


# cosine in explicit DOUBLE unnest arithmetic (matches Spark's aggregate
# fold exactly — same pattern as vec_near_dup_blocked's oracle)
def _cos_sql(ea: str, eb: str) -> str:
    return (f"sum(CAST({ea}[g.i] AS DOUBLE) * CAST({eb}[g.i] AS DOUBLE)) / "
            f"(sqrt(sum(CAST({ea}[g.i] AS DOUBLE) * CAST({ea}[g.i] AS DOUBLE))) * "
            f"sqrt(sum(CAST({eb}[g.i] AS DOUBLE) * CAST({eb}[g.i] AS DOUBLE))))")


@register("semantic_dedup_keep", oracle=f"""
WITH corpus AS (
  SELECT vec_id, embedding, label FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, embedding, label
  FROM embeddings WHERE vec_id % 50 = 0),
cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id,
         embedding AS centroid
  FROM (SELECT vec_id, embedding FROM corpus ORDER BY vec_id LIMIT 8)),
sims AS (
  SELECT c.vec_id, ct.centroid_id, {_cos_sql('c.embedding', 'ct.centroid')} AS sim
  FROM corpus c CROSS JOIN cents ct,
       (SELECT unnest(generate_series(1, 64)) AS i) g
  GROUP BY c.vec_id, ct.centroid_id),
assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT vec_id, centroid_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY sim DESC, centroid_id) AS rn
    FROM sims) WHERE rn = 1),
drops AS (
  SELECT a.vec_id AS src, b.vec_id AS dst
  FROM assigned a
  JOIN assigned b ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  JOIN corpus ca ON ca.vec_id = a.vec_id
  JOIN corpus cb ON cb.vec_id = b.vec_id,
       (SELECT unnest(generate_series(1, 64)) AS i) g
  GROUP BY a.vec_id, b.vec_id
  HAVING {_cos_sql('ca.embedding', 'cb.embedding')} >= 0.99)
SELECT vec_id, label FROM corpus
WHERE vec_id NOT IN (SELECT dst FROM drops)
""")
def semantic_dedup_keep(spark, sf):
    """SemDeDup (cluster-then-dedup over embeddings,
    pipeline/semdedup.semantic_dedup): the fixture has no natural
    semantic duplicates (max pairwise cosine 0.51), so exact copies of
    every 50th vector are injected; the pipeline must drop exactly the
    copies (cosine 1.0 with their originals inside the same cluster) and
    keep everything else. Fixed seeds (iterations=0 → the 8 lowest-id
    vectors are the centroids) keep the whole computation
    SQL-expressible for the oracle; the Lloyd-iteration path is pinned
    by unit tests."""
    from clickhouse_clickhouse_spark.pipeline.semdedup import semantic_dedup

    e = load_table(spark, sf, "embeddings").select(
        "vec_id", "embedding", "label")
    copies = (e.filter(F.col("vec_id") % 50 == 0)
              .withColumn("vec_id", F.col("vec_id") + F.lit(100000)))
    corpus = e.unionByName(copies)
    return semantic_dedup(corpus, k=8, iterations=0,
                          threshold=0.99).select("vec_id", "label")


@register("ann_recall_gate", oracle="""
SELECT true AS ivf_ok, true AS lsh_ok
""")
def ann_recall_gate(spark, sf):
    """Hash-checked recall gate for the approximate-NN family: recall@5
    vs the exact brute-force baseline computed in the same job must
    clear the documented floors (IVF 8-list/2-probe >= 0.6; 6-bit
    sign-LSH >= 0.2 — the low floor is the honest 64-dim random-vector
    tradeoff, raised by more bits/probes). Converts the ANN rows-only
    entries into a strict oracle assertion."""
    from clickhouse_clickhouse_spark.pipeline.similarity import (
        brute_force_topk,
        ivf_topk,
        lsh_bucketed_topk,
    )

    e = load_table(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 3)
    kw = dict(corpus_id="vec_id", corpus_vec="embedding",
              query_id="vec_id", query_vec="embedding")
    exact = brute_force_topk(e, q, 5, **kw).select(
        F.col("query_id").alias("qid"),
        F.col("corpus_id").alias("nid")).persist()
    n_exact = exact.count()

    # The two approximate pipelines are independent; their build-eager
    # training jobs and recall counts run from a 2-thread pool so the
    # later pipeline's jobs back-fill the idle cluster during the
    # earlier one's single-task tails (guide §2.6 — actions are only
    # sequential because driver code calls them sequentially).
    # Optimization round 15: tuned gate 18.9 -> 13.9 s same-session
    # A/B, identical gate booleans (training is deterministic and the
    # pipelines share no mutable state).
    def recall_of(build):
        return (exact.join(build(), ["qid", "nid"]).count() / n_exact)

    with ThreadPoolExecutor(max_workers=2) as pool:
        fivf = pool.submit(recall_of, lambda: ivf_topk(
            e, q, k=5, n_centroids=8, n_probe=2,
            query_id="vec_id", query_vec="embedding").select(
            F.col("query_id").alias("qid"),
            F.col("corpus_id").alias("nid")))
        flsh = pool.submit(recall_of, lambda: lsh_bucketed_topk(
            e, q, k=5, bits=6, multiprobe=1, **kw).select(
            F.col("query_id").alias("qid"),
            F.col("corpus_id").alias("nid")))
        ivf_ok, lsh_ok = fivf.result() >= 0.6, flsh.result() >= 0.2
    exact.unpersist()   # round-15 advice: recalls are computed, the
    # returned relation is a driver literal - don't leak the cache
    return local_frame(spark, [(ivf_ok, lsh_ok)],
                              "ivf_ok boolean, lsh_ok boolean")


@register("ann_pq_tuned_topk", oracle="""
SELECT vec_id AS query_id, TRUE AS planted_dup_is_top1
FROM embeddings WHERE vec_id < 3
""")
def ann_pq_tuned_topk(spark, sf):
    """PQ ANN at the PRODUCTION parameterization (round 10): m=16
    subspaces x 256 codes, unit-normalized inputs, exact-cosine re-rank
    of the top-20 ADC candidates (pipeline/similarity.pq_topk
    normalize/rerank knobs — the FAISS-refine / upstream
    MergeTreeIndexVectorSimilarity rescore step). The invariant is
    STRICTER than the coarse-demo twins: the planted duplicate must be
    rank 1 exactly (identical vector → identical codes → minimal ADC →
    in candidates; re-rank scores it cosine 1.0, and the fixture's max
    natural pairwise cosine is ~0.51 so no tie can displace it).
    RECALL.md records recall@5 = 1.0 at this parameterization."""
    from clickhouse_clickhouse_spark.pipeline.similarity import pq_topk

    corpus, q = _planted_setup(spark, sf)
    topk = pq_topk(corpus, q, k=5, m=16, codes=256, dim=64,
                   iterations=2, normalize=True, rerank=20,
                   query_id="query_id")
    return (topk.filter(F.col("rk") == 1)
            .select("query_id",
                    (F.col("corpus_id") == F.col("query_id") + _PLANT)
                    .alias("planted_dup_is_top1")))


@register("ann_tuned_recall_gate", oracle="""
SELECT true AS pq_ok, true AS ivfpq_ok
""")
def ann_tuned_recall_gate(spark, sf):
    """Hash-checked recall gate at the round-10 QUANTIZER settings —
    PQ m=16/codes=256/normalize and IVF-PQ lists=8/probe=4/m=16/
    codes=64/normalize — with the exact-rescore set scaled to the
    corpus (production_knobs rerank). Round-13 sf0.1 sweep finding:
    the original FIXED rerank (20/40, tuned at sf0.01) asserted >= 0.9
    recall at ANY corpus, contradicting RECALL.md's own measurement
    that fixed rescore degrades with n (1.000 -> 0.800 at 10x) — the
    gate first met a corpus large enough to show it at sf0.1. The
    quantizer-geometry property (these m/codes/lists/probe settings
    reach >= 0.9 recall@5 when the rescore budget scales) is the one
    that holds at any scale; the fully-scaled parameterization
    (lists/probe growing too) is ann_scaled_recall_gate's contract."""
    from clickhouse_clickhouse_spark.pipeline.similarity import (
        brute_force_topk,
        ivf_pq_topk,
        pq_topk,
        production_knobs,
    )

    e = load_table(spark, sf, "embeddings").select("vec_id", "embedding")
    kb = production_knobs(e.count())
    q = (e.filter(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("query_id"), "embedding"))
    exact = brute_force_topk(e, q, 5, query_id="query_id").select(
        F.col("query_id").alias("qid"),
        F.col("corpus_id").alias("nid")).persist()
    n_exact = exact.count()

    # Independent quantizer pipelines built + evaluated from a 2-thread
    # pool (guide §2.6; see ann_recall_gate): their build-eager Lloyd
    # jobs interleave instead of serializing. 18.9 -> 13.9 s A/B,
    # identical gate booleans.
    def recall_of(build):
        return exact.join(build(), ["qid", "nid"]).count() / n_exact

    with ThreadPoolExecutor(max_workers=2) as pool:
        fpq = pool.submit(recall_of, lambda: pq_topk(
            e, q, k=5, m=16, codes=256, dim=64, iterations=2,
            normalize=True, rerank=kb["rerank_pq"],
            query_id="query_id").select(
            F.col("query_id").alias("qid"),
            F.col("corpus_id").alias("nid")))
        fivfpq = pool.submit(recall_of, lambda: ivf_pq_topk(
            e, q, k=5, n_centroids=8, n_probe=4, m=16,
            codes=64, dim=64, iterations=3, normalize=True,
            rerank=kb["rerank_ivfpq"], query_id="query_id").select(
            F.col("query_id").alias("qid"),
            F.col("corpus_id").alias("nid")))
        pq_ok, ivfpq_ok = fpq.result() >= 0.9, fivfpq.result() >= 0.9
    exact.unpersist()   # round-15 advice: see ann_recall_gate
    return local_frame(spark, [(pq_ok, ivfpq_ok)],
                              "pq_ok boolean, ivfpq_ok boolean")


@register("ann_scaled_recall_gate", oracle="""
SELECT true AS pq_ok, true AS ivfpq_ok
""")
def ann_scaled_recall_gate(spark, sf):
    """Round-12 verdict item 7: the recall gate at the PRODUCTION
    contract — knobs derived from the corpus count via
    pipeline/similarity.production_knobs (rerank ~ n/1500, lists ~
    sqrt(n)/16, probe ~ 3/8 lists) instead of the fixed sf0.01 tuning,
    so the property the sweep checks is the one that holds at ANY
    scale (RECALL.md: fixed rerank=20 degrades 1.000 -> 0.800 at 10x;
    scaled knobs hold 1.000/0.933 at 600k vectors). recall@5 vs the
    in-job brute-force baseline must reach >= 0.9 for both tuned
    paths."""
    from clickhouse_clickhouse_spark.pipeline.similarity import (
        brute_force_topk,
        ivf_pq_topk,
        pq_topk,
        production_knobs,
    )

    e = load_table(spark, sf, "embeddings").select("vec_id", "embedding")
    kb = production_knobs(e.count())
    q = (e.filter(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("query_id"), "embedding"))
    exact = brute_force_topk(e, q, 5, query_id="query_id").select(
        F.col("query_id").alias("qid"),
        F.col("corpus_id").alias("nid")).persist()
    n_exact = exact.count()

    # 2-thread pipeline overlap — guide §2.6, see ann_recall_gate
    def recall_of(build):
        return exact.join(build(), ["qid", "nid"]).count() / n_exact

    with ThreadPoolExecutor(max_workers=2) as pool:
        fpq = pool.submit(recall_of, lambda: pq_topk(
            e, q, k=5, m=16, codes=256, dim=64, iterations=2,
            normalize=True, rerank=kb["rerank_pq"],
            query_id="query_id").select(
            F.col("query_id").alias("qid"),
            F.col("corpus_id").alias("nid")))
        fivfpq = pool.submit(recall_of, lambda: ivf_pq_topk(
            e, q, k=5, n_centroids=kb["lists"], n_probe=kb["probe"],
            m=16, codes=64, dim=64, iterations=3, normalize=True,
            rerank=kb["rerank_ivfpq"], query_id="query_id").select(
            F.col("query_id").alias("qid"),
            F.col("corpus_id").alias("nid")))
        pq_ok, ivfpq_ok = fpq.result() >= 0.9, fivfpq.result() >= 0.9
    exact.unpersist()   # round-15 advice: see ann_recall_gate
    return local_frame(spark, [(pq_ok, ivfpq_ok)],
                              "pq_ok boolean, ivfpq_ok boolean")
