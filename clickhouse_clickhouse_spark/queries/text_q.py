"""M7 — LLM-pipeline text operators on `documents` (SURVEY.md §7 M7).

The MinHash/SimHash oracles are built from the SAME hash constants as the
Spark implementation (pipeline/dedup.py) so both engines compute the
identical deterministic pipeline; token-ids come from the sorted-vocabulary
mode (the oracle-checkable variant — xxhash64 mode is the 100 TB path).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from clickhouse_clickhouse_spark.pipeline.dedup import (
    MINHASH_COEFFS, MINHASH_PRIME,
    exact_dedup, minhash_candidate_pairs, minhash_signatures,
    ngram_jaccard_pairs, simhash,
)
from clickhouse_clickhouse_spark.functions import text as TXT
from clickhouse_clickhouse_spark.registry import register
from clickhouse_clickhouse_spark.session import local_frame
from clickhouse_clickhouse_spark.tables import load_table

P = MINHASH_PRIME

# Shared oracle CTEs: bigram shingles + sorted-vocab token ids.
_BIGRAM_VOCAB_CTE = """
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (SELECT DISTINCT doc_id, token FROM (
         SELECT doc_id,
                unnest(list_transform(generate_series(1, len(t) - 1),
                                      i -> t[i] || ' ' || t[i + 1])) AS token
         FROM toks) u),
vocab AS (SELECT token, cast(row_number() OVER (ORDER BY token) AS BIGINT) AS tid
          FROM (SELECT DISTINCT token FROM sh) v),
tt AS (SELECT doc_id, tid FROM sh JOIN vocab USING (token))
"""

_MH8 = ",\n       ".join(
    f"min(({a} * tid + {b}) % {P}) AS mh{k}"
    for k, (a, b) in enumerate(MINHASH_COEFFS[:8]))


@register("text_stats", oracle="""
SELECT lang,
       count(*) AS n_docs,
       round(avg(n_chars), 4) AS avg_chars,
       round(avg(len(string_split(text, ' '))), 4) AS avg_tokens
FROM documents GROUP BY lang
""")
def text_stats(spark, sf):
    """Per-language corpus profile: doc counts, char/token means."""
    d = load_table(spark, sf, "documents")
    return (d.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.round(F.avg("n_chars"), 4).alias("avg_chars"),
                 F.round(F.avg(F.size(F.split("text", " "))), 4).alias("avg_tokens")))


@register("text_quality", oracle="""
SELECT doc_id,
       cast(len(string_split(text, ' ')) AS INT) AS n_tokens,
       round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
             / greatest(length(text), 1), 6) AS digit_ratio,
       round(cast(list_aggregate(list_transform(string_split(text, ' '),
                                                x -> length(x)), 'sum') AS DOUBLE)
             / greatest(len(string_split(text, ' ')), 1), 6) AS mean_word_len
FROM documents WHERE doc_id <= 40
""")
def text_quality(spark, sf):
    """Quality-signal columns: token count, digit ratio, mean word length
    (the cheap pre-filters of a training-data pipeline)."""
    d = load_table(spark, sf, "documents").filter(F.col("doc_id") <= 40)
    t = F.col("text")
    return d.select(
        "doc_id",
        TXT.token_count(t).alias("n_tokens"),
        F.round(TXT.digit_ratio(t), 6).alias("digit_ratio"),
        F.round(TXT.mean_word_length(t).cast("double"), 6).alias("mean_word_len"))


@register("dedup_exact", oracle="""
WITH surv AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text)
SELECT lang, count(*) AS n_surviving
FROM documents JOIN surv USING (doc_id)
GROUP BY lang
""")
def dedup_exact(spark, sf):
    """Exact dedup: lowest doc_id survives per identical text; survivors
    counted per language (pipeline/dedup.exact_dedup)."""
    d = load_table(spark, sf, "documents")
    return exact_dedup(d, "text", "doc_id").groupBy("lang") \
        .agg(F.count("*").alias("n_surviving"))


@register("fingerprint_md5", oracle="""
SELECT source,
       count(*) AS n_docs,
       count(DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')))
           AS n_fingerprints
FROM documents GROUP BY source
""")
def fingerprint_md5(spark, sf):
    """Document fingerprinting: hash of normalized text per source (md5
    here for cross-engine checkability; functions.text.fingerprint64 is
    the cheaper xxhash64 production variant)."""
    d = load_table(spark, sf, "documents")
    norm = F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")
    return (d.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.countDistinct(F.md5(norm)).alias("n_fingerprints")))


@register("minhash_signatures_q", oracle=f"""
WITH {_BIGRAM_VOCAB_CTE}
SELECT doc_id, {_MH8}
FROM tt WHERE doc_id <= 30 GROUP BY doc_id
""")
def minhash_signatures_q(spark, sf):
    """MinHash(8) signatures over bigram shingles, sorted-vocab token ids
    (deterministic oracle mode of pipeline/dedup.minhash_signatures)."""
    d = load_table(spark, sf, "documents")
    sig = minhash_signatures(d, "doc_id", "text", num_hashes=8, shingle=2,
                             token_hash="vocab")
    return sig.filter(F.col("doc_id") <= 30)


@register("minhash_lsh_pairs", oracle=f"""
WITH {_BIGRAM_VOCAB_CTE},
sig AS (SELECT doc_id, {_MH8} FROM tt GROUP BY doc_id),
bands AS (
  SELECT doc_id, 0 AS band, mh0 || '_' || mh1 AS key FROM sig
  UNION ALL SELECT doc_id, 1, mh2 || '_' || mh3 FROM sig
  UNION ALL SELECT doc_id, 2, mh4 || '_' || mh5 FROM sig
  UNION ALL SELECT doc_id, 3, mh6 || '_' || mh7 FROM sig)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
""")
def minhash_lsh_pairs(spark, sf):
    """MinHash-LSH near-dup candidate pairs: 8 hashes, 4 bands × 2 rows
    (pipeline/dedup.minhash_candidate_pairs, vocab mode)."""
    d = load_table(spark, sf, "documents")
    return minhash_candidate_pairs(d, "doc_id", "text", num_hashes=8,
                                   bands=4, shingle=2, token_hash="vocab")


@register("minhash_lsh_pairs_xxhash")
def minhash_lsh_pairs_xxhash(spark, sf):
    """MinHash-LSH candidate pairs, xxhash64 token mode — the 100 TB path:
    no global vocabulary sort, tokens hash independently per partition.
    Rows-only check (xxhash64 has no DuckDB equivalent); the algorithm
    itself is oracle-verified via the vocab-mode twin (minhash_lsh_pairs)."""
    d = load_table(spark, sf, "documents")
    return minhash_candidate_pairs(d, "doc_id", "text", num_hashes=8,
                                   bands=4, shingle=2, token_hash="xxhash")


@register("ngram_jaccard_by_source", oracle="""
WITH sh AS (
  SELECT doc_id, source,
         list_distinct(list_transform(generate_series(1, len(t) - 1),
                                      i -> t[i] || ' ' || t[i + 1])) AS g
  FROM (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents) u)
SELECT a.source AS source,
       count(*) AS n_pairs,
       round(sum(round(cast(len(list_intersect(a.g, b.g)) AS DOUBLE)
                 / greatest(len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)), 1), 6)), 6)
           AS sum_jaccard
FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
GROUP BY a.source
""")
def ngram_jaccard_by_source(spark, sf):
    """Exact bigram-Jaccard over source-blocked pairs; per-source pair
    count + total similarity mass (sum of per-pair 6-dp jaccards: sums over
    the decimal grid are immune to round-half boundary flips that averages
    can hit; pipeline/dedup.ngram_jaccard_pairs)."""
    d = load_table(spark, sf, "documents")
    p = ngram_jaccard_pairs(d, "doc_id", "text", "source", shingle=2)
    src = d.select("doc_id", "source")
    return (p.join(src, p.id_a == src.doc_id)
            .groupBy("source")
            .agg(F.count("*").alias("n_pairs"),
                 F.round(F.sum("jaccard"), 6).alias("sum_jaccard")))


@register("simhash_q", oracle=f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (SELECT DISTINCT doc_id, token FROM (
         SELECT doc_id, unnest(t) AS token FROM toks) u),
vocab AS (SELECT token, cast(row_number() OVER (ORDER BY token) AS BIGINT) AS tid
          FROM (SELECT DISTINCT token FROM sh) v),
h AS (SELECT doc_id, ({MINHASH_COEFFS[0][0]} * tid + {MINHASH_COEFFS[0][1]}) % {P} AS h
      FROM sh JOIN vocab USING (token)),
votes AS (
  SELECT doc_id, bit,
         sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM h, (SELECT unnest(generate_series(0, 15)) AS bit) bits
  GROUP BY doc_id, bit)
SELECT doc_id,
       cast(sum(CASE WHEN v > 0 THEN 1 << bit ELSE 0 END) AS BIGINT) AS simhash
FROM votes WHERE doc_id <= 30 GROUP BY doc_id
""")
def simhash_q(spark, sf):
    """16-bit SimHash per document, unigram tokens, vocab-id mode
    (pipeline/dedup.simhash)."""
    d = load_table(spark, sf, "documents")
    return simhash(d, "doc_id", "text", bits=16, shingle=1,
                   token_hash="vocab").filter(F.col("doc_id") <= 30)


def _lang_hits_sql(lang):
    from clickhouse_clickhouse_spark.functions.text import STOPWORDS
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (f"len(list_filter(string_split(lower(text), ' '), "
            f"t -> list_contains([{words}], t)))")


@register("lang_guess_q", oracle=f"""
WITH h AS (
  SELECT lang,
         {_lang_hits_sql('de')} AS h_de,
         {_lang_hits_sql('en')} AS h_en,
         {_lang_hits_sql('es')} AS h_es,
         {_lang_hits_sql('fr')} AS h_fr
  FROM documents)
SELECT lang,
       CASE WHEN h_fr >= h_es AND h_fr >= h_en AND h_fr >= h_de AND h_fr > 0 THEN 'fr'
            WHEN h_es >= h_en AND h_es >= h_de AND h_es > 0 THEN 'es'
            WHEN h_en >= h_de AND h_en > 0 THEN 'en'
            WHEN h_de > 0 THEN 'de'
            ELSE 'und' END AS guess,
       count(*) AS n
FROM h GROUP BY 1, 2
""")
def lang_guess_q(spark, sf):
    """Stopword-vote language ID vs the labeled lang column (confusion
    counts). Oracle replicates the vote with the same tiebreak (highest
    hit count, lexicographically larger language on ties)."""
    d = load_table(spark, sf, "documents")
    return (d.select("lang", TXT.lang_guess(F.col("text")).alias("guess"))
            .groupBy("lang", "guess").agg(F.count("*").alias("n")))


@register("quality_score_by_source", oracle="""
WITH q AS (
  SELECT source,
         least(len(string_split(text, ' ')) / 50.0, 1.0) AS length_term,
         1.0 - least(
           ((length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')))
              / greatest(length(text), 1)) * 4
           + ((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
              / greatest(length(text), 1)) * 2, 1.0) AS noise_term,
         CASE WHEN cast(list_aggregate(list_transform(string_split(text, ' '),
                                                      x -> length(x)), 'sum') AS DOUBLE)
                   / greatest(len(string_split(text, ' ')), 1) BETWEEN 2 AND 12
              THEN 1.0 ELSE 0.3 END AS wl_term
  FROM documents)
SELECT source,
       round(sum(round(length_term * 0.4 + noise_term * 0.4 + wl_term * 0.2, 6)), 6)
           AS sum_quality,
       count(*) AS n_docs
FROM q GROUP BY source
""")
def quality_score_by_source(spark, sf):
    """Composite quality score per source — the oracle replicates the full
    formula (length, punct/digit noise, word-length terms); summed over
    the 6-dp grid (boundary-safe) rather than averaged."""
    d = load_table(spark, sf, "documents")
    return (d.groupBy("source")
            .agg(F.round(F.sum(TXT.quality_score(F.col("text"))), 6).alias("sum_quality"),
                 F.count("*").alias("n_docs")))


@register("minhash_verified_pairs", oracle=f"""
WITH {_BIGRAM_VOCAB_CTE},
sig AS (SELECT doc_id, {_MH8} FROM tt GROUP BY doc_id),
bands AS (
  SELECT doc_id, 0 AS band, mh0 || '_' || mh1 AS key FROM sig
  UNION ALL SELECT doc_id, 1, mh2 || '_' || mh3 FROM sig
  UNION ALL SELECT doc_id, 2, mh4 || '_' || mh5 FROM sig
  UNION ALL SELECT doc_id, 3, mh6 || '_' || mh7 FROM sig),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
g AS (SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(t) - 1),
                                          i -> t[i] || ' ' || t[i + 1])) AS g
      FROM toks)
SELECT id_a, id_b,
       round(cast(len(list_intersect(ga.g, gb.g)) AS DOUBLE)
             / greatest(len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g)), 1), 6)
           AS jaccard
FROM cand JOIN g ga ON ga.doc_id = id_a JOIN g gb ON gb.doc_id = id_b
WHERE cast(len(list_intersect(ga.g, gb.g)) AS DOUBLE)
      / greatest(len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g)), 1) >= 0.2
""")
def minhash_verified_pairs(spark, sf):
    """The full near-dup pipeline: MinHash-LSH candidate generation, then
    exact Jaccard verification of ONLY the candidates (the production
    shape — verification cost is |candidates|, not |corpus|²), keeping
    pairs with true similarity >= 0.2."""
    d = load_table(spark, sf, "documents")
    cand = minhash_candidate_pairs(d, "doc_id", "text", num_hashes=8,
                                   bands=4, shingle=2, token_hash="vocab")
    # Verification via an inverted index restricted to the candidate
    # pairs (round 14; same shape as pipeline/dedup.ngram_jaccard_pairs):
    # joining whole bigram ARRAYS per pair re-built an array_intersect
    # hashset for every partner of a doc (~3.8 s of the 7.3 s sf0.1
    # wall).  Exploding distinct bigrams once and counting token matches
    # per candidate pair is pure codegen join+aggregate — |A∩B| is the
    # same integer, sizes ride along, so jaccard is bit-equal.  Pairs
    # with zero overlap drop out of the inner join, but their jaccard
    # (0.0) fails the >= 0.2 gate anyway.
    # Sizes RIDE ALONG on the token relation (optimization round 15,
    # guide §2.3 — the ngram_jaccard_pairs shape): the former separate
    # ``sizes`` relation re-ran the shingle pipeline per side just to
    # count it, then re-attached the counts with two more joins. |A|
    # and |B| are now group keys of the intersection aggregate — two
    # scans, two shingle passes and two joins gone; the jaccard
    # arithmetic (and its 6-dp rounding) is unchanged.
    g = F.array_distinct(TXT.word_ngrams(F.col("text"), 2))
    sized = d.select(F.col("doc_id"), F.size(g).alias("n"), g.alias("g"))
    tok = sized.select("doc_id", "n", F.explode("g").alias("tk"))
    ta, tb = tok.alias("ta"), tok.alias("tb")
    ic = (cand.join(ta, cand.id_a == F.col("ta.doc_id"))
          .join(tb, (cand.id_b == F.col("tb.doc_id"))
                & (F.col("ta.tk") == F.col("tb.tk")))
          .groupBy("id_a", "id_b", "ta.n", "tb.n")
          .agg(F.count("*").alias("__i")))
    uni = F.col("ta.n") + F.col("tb.n") - F.col("__i")
    jac = F.col("__i").cast("double") / F.greatest(uni, F.lit(1)).cast("double")
    return (ic.select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
            .filter(F.col("jaccard") >= 0.2))


@register("pipeline_end_to_end", oracle="""
WITH q AS (
  SELECT doc_id, text, lang, source, n_chars,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
  WHERE len(string_split(text, ' ')) >= 10),
surv AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY text)
SELECT lang,
       count(*) AS n_docs,
       round(avg(n_tokens), 4) AS avg_tokens,
       cast(sum(n_chars) AS BIGINT) AS total_chars
FROM q JOIN surv USING (doc_id)
GROUP BY lang
""")
def pipeline_end_to_end(spark, sf):
    """A complete training-data pipeline stage: quality filter (min
    length) → exact dedup (lowest id survives) → per-language corpus
    stats. Composition of the M7 operators in one declarative plan."""
    d = load_table(spark, sf, "documents")
    q = d.filter(TXT.token_count(F.col("text")) >= 10)
    deduped = exact_dedup(q, "text", "doc_id")
    return (deduped.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.round(F.avg(TXT.token_count(F.col("text"))), 4).alias("avg_tokens"),
                 F.sum("n_chars").cast("long").alias("total_chars")))


@register("fingerprint_normalize_query", oracle="""
SELECT doc_id,
       md5(regexp_replace(regexp_replace(lower(text), '[0-9]+', '?', 'g'),
                          ' +', ' ', 'g')) AS norm_hash,
       regexp_replace(regexp_replace(lower(text), '[0-9]+', '?', 'g'),
                      ' +', ' ', 'g') AS norm_text
FROM documents WHERE doc_id <= 40
""")
def fingerprint_normalize_query(spark, sf):
    """normalizeQuery/normalizedQueryHash (reference [U]
    src/Functions/normalizeQuery.cpp — literals replaced by
    placeholders, then hashed, for query-log dedup): numeric literals →
    '?', whitespace collapsed, md5 fingerprint. Pure JVM string kernels
    (scan-parallel, no shuffle)."""
    d = load_table(spark, sf, "documents").filter(F.col("doc_id") <= 40)
    norm = F.regexp_replace(
        F.regexp_replace(F.lower("text"), "[0-9]+", "?"), " +", " ")
    return d.select("doc_id", F.md5(norm).alias("norm_hash"),
                    norm.alias("norm_text"))


@register("winnowing_fingerprints_q", oracle="""
WITH d AS (
  SELECT doc_id,
         regexp_replace(lower(substr(text, 1, 256)), '[^a-z0-9 ]', '', 'g')
           AS t
  FROM documents WHERE doc_id < 200),
g AS (
  SELECT doc_id, t, p
  FROM d, (SELECT unnest(generate_series(1, 256)) AS p) s
  WHERE length(t) >= 5 AND p <= length(t) - 4),
h AS (
  SELECT doc_id, p,
         (ascii(substr(t, p, 1))::BIGINT
          + ascii(substr(t, p + 1, 1))::BIGINT * 131
          + ascii(substr(t, p + 2, 1))::BIGINT * 17161
          + ascii(substr(t, p + 3, 1))::BIGINT * 2248091
          + ascii(substr(t, p + 4, 1))::BIGINT * 294499921) % 1073741789 AS hh
  FROM g),
o AS (
  SELECT doc_id, p, hh * 2097152 + (1048576 - p) AS ord FROM h),
m AS (
  SELECT doc_id, p,
         min(ord) OVER (PARTITION BY doc_id ORDER BY p
                        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS mo,
         max(p) OVER (PARTITION BY doc_id) AS maxp
  FROM o),
sel AS (
  SELECT DISTINCT doc_id,
         CAST(mo // 2097152 AS BIGINT) AS fp_hash
  FROM m WHERE p >= 4 OR (maxp < 4 AND p = maxp))
SELECT doc_id, cast(count(*) AS BIGINT) AS n_fp,
       cast(min(fp_hash) AS BIGINT) AS min_fp,
       cast(max(fp_hash) AS BIGINT) AS max_fp,
       cast(sum(fp_hash) AS BIGINT) AS sum_fp
FROM sel GROUP BY doc_id
""")
def winnowing_fingerprints_q(spark, sf):
    """Winnowing (MOSS) document fingerprints — k=5 grams, window w=4,
    rightmost-min selection encoded arithmetically so the DuckDB oracle
    replays the identical integer math (functions/text.py
    winnowing_fingerprints). Aggregated to per-doc count/min/max/sum of
    selected hashes for a compact hash-compare."""
    from clickhouse_clickhouse_spark.functions.text import (
        winnowing_fingerprints,
    )

    d = load_table(spark, sf, "documents").filter(F.col("doc_id") < 200)
    fp = winnowing_fingerprints(d, "doc_id", "text", k=5, w=4,
                                max_chars=256)
    agg = (fp.select("doc_id", "fp_hash").distinct()
           .groupBy("doc_id")
           .agg(F.count("*").alias("n_fp"),
                F.min("fp_hash").alias("min_fp"),
                F.max("fp_hash").alias("max_fp"),
                F.sum("fp_hash").alias("sum_fp")))
    return agg


@register("doc_chunking", oracle="""
WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents
           WHERE doc_id < 300),
c AS (
  SELECT doc_id, s.i AS chunk_id,
         substr(text, 1 + s.i * 80, 100) AS chunk
  FROM d, (SELECT unnest(generate_series(0, 20)) AS i) s
  WHERE 1 + s.i * 80 <= n)
SELECT doc_id, cast(chunk_id AS BIGINT) AS chunk_id,
       cast(length(chunk) AS INT) AS chunk_len,
       md5(chunk) AS chunk_md5
FROM c
""")
def doc_chunking(spark, sf):
    """Training-pipeline document chunking: fixed-size overlapping
    windows (size 100, stride 80 — 20-char overlap keeps boundary
    context) exploded JVM-side; one narrow transform, no shuffle. The
    md5 in the output makes the chunk content hash-comparable without
    shipping full text through the compare."""
    d = (load_table(spark, sf, "documents").filter(F.col("doc_id") < 300)
         .select("doc_id", "text", F.length("text").alias("n")))
    c = (d.select("doc_id", "text",
                  F.explode(F.sequence(F.lit(0), F.lit(20))).alias("chunk_id"))
         .filter(1 + F.col("chunk_id") * 80 <= F.col("n"))
         .select("doc_id", F.col("chunk_id").cast("long"),
                 F.substring(F.col("text"), F.col("chunk_id") * 80 + 1,
                             F.lit(100)).alias("chunk")))
    return c.select("doc_id", "chunk_id",
                    F.length("chunk").alias("chunk_len"),
                    F.md5("chunk").alias("chunk_md5"))


@register("stratified_sample", oracle="""
WITH h AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % 100 AS bucket
  FROM documents)
SELECT source, cast(count(*) AS BIGINT) AS n_sampled,
       cast(min(doc_id) AS BIGINT) AS min_id,
       cast(sum(doc_id) AS BIGINT) AS id_sum
FROM h
WHERE (source = 'web' AND bucket < 10)
   OR (source <> 'web' AND bucket < 50)
GROUP BY source
""")
def stratified_sample(spark, sf):
    """Deterministic stratified sampling for training-data mixing:
    per-source rates (10% of 'web', 50% of everything else) keyed on
    md5(doc_id) buckets — reproducible across engines and runs, unlike
    Bernoulli sample(); the filter pushes to the scan as a deterministic
    predicate. The same shape the reference's SAMPLE key gives per-table,
    extended to per-stratum rates."""
    d = load_table(spark, sf, "documents")
    bucket = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                                 1, 8), 16, 10).cast("long") % 100)
    keep = ((F.col("source") == "web") & (bucket < 10)) | \
           ((F.col("source") != "web") & (bucket < 50))
    return (d.filter(keep).groupBy("source")
            .agg(F.count("*").alias("n_sampled"),
                 F.min("doc_id").alias("min_id"),
                 F.sum("doc_id").alias("id_sum")))


@register("multimodal_features", oracle="""
WITH m AS (
  SELECT doc_id AS media_id, encode(text) AS payload FROM documents
  WHERE doc_id < 100),
b AS (
  SELECT media_id, payload, i,
         CAST(('0x' || substr(hex(payload), i * 16 + 1, 2)) AS INT) AS byte0
  -- 1000-chunk cap covers payloads <= 8008 bytes (fixture max: 549);
  -- raise alongside any fixture that grows documents past that
  FROM m, (SELECT unnest(generate_series(0, 1000)) AS i) g
  WHERE i * 8 < octet_length(payload))
SELECT media_id,
       cast(octet_length(any_value(payload)) AS BIGINT) AS n_bytes,
       cast(count(*) AS INT) AS n_chunks,
       cast(sum(byte0) AS BIGINT) AS chunk_head_sum
FROM b GROUP BY media_id
""")
def multimodal_features(spark, sf):
    """Multimodal-column plumbing, oracle-checked end to end: fixture
    text re-encoded as an opaque BINARY payload, then a REAL
    mapInPandas Arrow pass (pipeline/multimodal-style batch signature)
    computes per-payload chunk features (byte length, 8-byte chunk
    count, sum of chunk head bytes). The decode kernel here is the
    deterministic byte reader — the exact shape a PIL/ffmpeg kernel
    plugs into — so schema, batching, and partitioning are verified
    against an independent engine even though media libs are absent."""
    import pandas as pd
    from pyspark.sql import types as T

    d = (load_table(spark, sf, "documents").filter(F.col("doc_id") < 100)
         .select(F.col("doc_id").alias("media_id"),
                 F.encode("text", "utf-8").alias("payload")))

    schema = T.StructType([
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("n_chunks", T.IntegerType(), True),
        T.StructField("chunk_head_sum", T.LongType(), True),
    ])

    def run(batches):
        for pdf in batches:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload)
                heads = [b[i] for i in range(0, len(b), 8)]
                out.append((mid, len(b), len(heads), sum(heads)))
            yield pd.DataFrame(out, columns=["media_id", "n_bytes",
                                             "n_chunks", "chunk_head_sum"])

    return d.mapInPandas(run, schema=schema)


@register("decontam_ngram_overlap", oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g AS (SELECT DISTINCT doc_id,
        unnest(list_transform(generate_series(1, len(t) - 2),
                              i -> array_to_string(t[i:i+2], ' '))) AS gram
      FROM toks WHERE len(t) >= 3),
bench AS (SELECT doc_id AS bid, gram FROM g WHERE doc_id % 41 = 0)
SELECT g.doc_id,
       count(DISTINCT gram) AS n_gram_hits,
       count(DISTINCT bid) AS n_bench_docs
FROM g JOIN bench USING (gram)
WHERE g.doc_id <> bench.bid
GROUP BY g.doc_id
""")
def decontam_ngram_overlap(spark, sf):
    """Benchmark decontamination (GPT-3 appendix-C style): per-doc count
    of word n-grams shared with a benchmark set (here the deterministic
    ``doc_id % 41`` slice of the corpus; n=3 at fixture scale — the
    production default is n=13). Plan: distinct grams per side, 64-bit
    xxhash gram keys, benchmark side BROADCAST, so the corpus never
    shuffles for the join — see pipeline/decontam.py."""
    from clickhouse_clickhouse_spark.pipeline.decontam import ngram_contamination

    d = load_table(spark, sf, "documents")
    bench = d.filter(F.col("doc_id") % 41 == 0)
    return ngram_contamination(d, bench, n=3)


@register("decontam_survivors", oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g AS (SELECT DISTINCT doc_id,
        unnest(list_transform(generate_series(1, len(t) - 2),
                              i -> array_to_string(t[i:i+2], ' '))) AS gram
      FROM toks WHERE len(t) >= 3),
bench AS (SELECT doc_id AS bid, gram FROM g WHERE doc_id % 41 = 0),
bad AS (SELECT DISTINCT g.doc_id FROM g JOIN bench USING (gram)
        WHERE g.doc_id <> bench.bid)
SELECT d.doc_id, d.lang, d.source
FROM documents d ANTI JOIN bad USING (doc_id)
""")
def decontam_survivors(spark, sf):
    """The decontaminated corpus (left-anti join against the
    contamination report) — the actual training-set output."""
    from clickhouse_clickhouse_spark.pipeline.decontam import decontaminate

    d = load_table(spark, sf, "documents")
    bench = d.filter(F.col("doc_id") % 41 == 0)
    return decontaminate(d, bench, n=3).select("doc_id", "lang", "source")


@register("pii_redact", oracle=r"""
WITH s AS (
  SELECT doc_id,
         'contact u' || doc_id || '@ex' || (doc_id % 7) || '.org tel '
           || lpad(cast(doc_id % 1000 AS VARCHAR), 3, '0') || '-555-'
           || lpad(cast((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
           || ' from 10.' || (doc_id % 256) || '.0.' || ((doc_id * 3) % 256)
           || ' card 4111-1111-1111-'
           || lpad(cast(doc_id % 10000 AS VARCHAR), 4, '0')
           || ' ' || substr(text, 1, 40) AS raw
  FROM documents)
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(regexp_replace(raw,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         '\b[0-9]{4}-[0-9]{4}-[0-9]{4}-[0-9]{4}\b', '<CARD>', 'g'),
         '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
         '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b', '<PHONE>', 'g') AS redacted,
       cast(len(regexp_extract_all(raw,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
       cast(len(regexp_extract_all(raw,
         '\b[0-9]{4}-[0-9]{4}-[0-9]{4}-[0-9]{4}\b')) AS INT) AS n_card,
       cast(len(regexp_extract_all(raw,
         '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS INT) AS n_ipv4,
       cast(len(regexp_extract_all(raw,
         '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b')) AS INT) AS n_phone
FROM s
""")
def pii_redact(spark, sf):
    """PII scrub (pre-training privacy pass): emails, card numbers,
    IPv4s, phone numbers replaced with typed tags via chained JVM-side
    regexp_replace — functions/text.redact_pii. The fixture corpus has
    no real PII, so a deterministic PII-laden column is synthesized from
    doc_id and the scrubbed STRING itself is value-hashed against the
    oracle (a byte-exact regex-equivalence check across engines), plus
    per-type audit counts."""
    from clickhouse_clickhouse_spark.functions.text import (PII_PATTERNS,
                                                            redact_pii)

    d = load_table(spark, sf, "documents")
    did = F.col("doc_id")
    raw = F.concat(
        F.lit("contact u"), did.cast("string"),
        F.lit("@ex"), (did % 7).cast("string"), F.lit(".org tel "),
        F.lpad((did % 1000).cast("string"), 3, "0"), F.lit("-555-"),
        F.lpad(((did * 7) % 10000).cast("string"), 4, "0"),
        F.lit(" from 10."), (did % 256).cast("string"), F.lit(".0."),
        ((did * 3) % 256).cast("string"),
        F.lit(" card 4111-1111-1111-"),
        F.lpad((did % 10000).cast("string"), 4, "0"),
        F.lit(" "), F.substring("text", 1, 40))
    d = d.select("doc_id", raw.alias("raw"))
    counts = [F.regexp_count("raw", F.lit(pat)).cast("int").alias(f"n_{kind}")
              for kind, pat, _ in PII_PATTERNS]
    return d.select("doc_id", redact_pii(F.col("raw")).alias("redacted"),
                    *counts)


@register("gopher_repetition", oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
w AS (SELECT doc_id,
             round(1.0 - len(list_distinct(t)) * 1.0 / greatest(len(t), 1), 6)
               AS word_rep_frac
      FROM toks),
b AS (SELECT doc_id,
             unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> array_to_string(t[i:i+1], ' '))) AS g
      FROM toks),
bc AS (SELECT doc_id, g, count(*) AS c FROM b GROUP BY 1, 2),
tb AS (SELECT doc_id, round(max(c) * 1.0 / sum(c), 6) AS top_bigram_frac
       FROM bc GROUP BY 1)
SELECT w.doc_id, word_rep_frac, top_bigram_frac,
       word_rep_frac <= 0.6 AND top_bigram_frac <= 0.10 AS keep
FROM w JOIN tb USING (doc_id)
""")
def gopher_repetition(spark, sf):
    """Gopher-style repetition filter: per-doc repeated-word fraction and
    top-bigram share with a composite keep flag — the cheap repetition
    gate of a training-data pipeline. One keyed shuffle on doc_id; both
    signals compared AFTER 6-dp rounding on both engines so the flag
    can't flip on float noise. functions/text.repetition_profile."""
    from clickhouse_clickhouse_spark.functions.text import repetition_profile

    d = load_table(spark, sf, "documents")
    return repetition_profile(d)


@register("pipeline_full_curation", oracle="""
WITH toks AS (SELECT doc_id, text, lang, source, n_chars,
                     string_split(text, ' ') AS t
              FROM documents),
w AS (SELECT doc_id,
             round(1.0 - len(list_distinct(t)) * 1.0 / greatest(len(t), 1), 6)
               AS wr
      FROM toks),
b AS (SELECT doc_id,
             unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> array_to_string(t[i:i+1], ' '))) AS g
      FROM toks),
bc AS (SELECT doc_id, g, count(*) AS c FROM b GROUP BY 1, 2),
tb AS (SELECT doc_id, round(max(c) * 1.0 / sum(c), 6) AS tbf
       FROM bc GROUP BY 1),
keepers AS (SELECT doc_id FROM w JOIN tb USING (doc_id)
            WHERE wr <= 0.6 AND tbf <= 0.10),
base AS (SELECT toks.* FROM toks JOIN keepers USING (doc_id)
         WHERE len(t) >= 10),
surv AS (SELECT min(doc_id) AS doc_id FROM base GROUP BY text),
ded AS (SELECT base.* FROM base JOIN surv USING (doc_id)),
g3 AS (SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 2),
                               i -> array_to_string(t[i:i+2], ' '))) AS gram
       FROM toks WHERE len(t) >= 3),
bench AS (SELECT doc_id AS bid, gram FROM g3 WHERE doc_id % 41 = 0),
bad AS (SELECT DISTINCT g3.doc_id FROM g3 JOIN bench USING (gram)
        WHERE g3.doc_id <> bench.bid),
clean AS (SELECT ded.* FROM ded ANTI JOIN bad USING (doc_id))
SELECT source, count(*) AS n_docs, cast(sum(len(t)) AS BIGINT) AS total_tokens
FROM clean GROUP BY source
""")
def pipeline_full_curation(spark, sf):
    """The full curation pipeline in ONE declarative plan — the
    north-star composition: Gopher repetition gate → token-count floor →
    exact dedup (lowest id survives) → benchmark decontamination
    (broadcast 3-gram set) → per-source corpus stats. Every stage is the
    already-oracled operator; Catalyst fuses the chain (the repetition
    profile and the dedup re-use the same scan; the decontamination side
    is map-side against a broadcast)."""
    from clickhouse_clickhouse_spark.functions.text import repetition_profile
    from clickhouse_clickhouse_spark.pipeline.decontam import decontaminate

    d = load_table(spark, sf, "documents")
    keep_ids = repetition_profile(d).filter("keep").select("doc_id")
    base = (d.join(keep_ids, "doc_id")
            .filter(TXT.token_count(F.col("text")) >= 10))
    deduped = exact_dedup(base, "text", "doc_id")
    bench = d.filter(F.col("doc_id") % 41 == 0)
    clean = decontaminate(deduped, bench, n=3)
    return (clean.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(TXT.token_count(F.col("text"))).cast("long")
                  .alias("total_tokens")))


@register("dedup_near_clusters", oracle=f"""
WITH RECURSIVE {_BIGRAM_VOCAB_CTE},
sig AS (SELECT doc_id, {_MH8} FROM tt GROUP BY doc_id),
bands AS (
  SELECT doc_id, 0 AS band, mh0 || '_' || mh1 AS key FROM sig
  UNION ALL SELECT doc_id, 1, mh2 || '_' || mh3 FROM sig
  UNION ALL SELECT doc_id, 2, mh4 || '_' || mh5 FROM sig
  UNION ALL SELECT doc_id, 3, mh6 || '_' || mh7 FROM sig),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
sym AS (SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
reach(n, m) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
  UNION
  SELECT r.n, s.b FROM reach r JOIN sym s ON r.m = s.a),
comp AS (SELECT n, min(m) AS lbl FROM reach GROUP BY n)
SELECT lang, count(*) AS n_surviving,
       cast(sum(doc_id) AS BIGINT) AS id_sum
FROM documents d LEFT JOIN comp ON d.doc_id = comp.n
WHERE comp.n IS NULL OR d.doc_id = comp.lbl
GROUP BY lang
""")
def dedup_near_clusters(spark, sf):
    """The COMPLETE near-dup removal pipeline in one plan — the
    composition a 100 TB curation job actually runs: MinHash(8) over
    bigram shingles -> 4-band LSH candidate pairs (banded equi-join, not
    all-pairs) -> connected components (min-label propagation,
    pipeline/components.py) -> keep each cluster's canonical minimum
    doc_id -> per-language survivor stats. Docs in no pair survive via
    the left-join null path. Oracle replays the identical hash
    arithmetic in DuckDB and closes the pair graph with a recursive CTE.
    """
    from clickhouse_clickhouse_spark.pipeline.components import (
        dedup_keep_canonical,
    )

    d = load_table(spark, sf, "documents")
    pairs = minhash_candidate_pairs(d, "doc_id", "text", num_hashes=8,
                                    bands=4, shingle=2, token_hash="vocab")
    surv = dedup_keep_canonical(d, "doc_id", pairs, "id_a", "id_b")
    return (surv.groupBy("lang")
            .agg(F.count("*").alias("n_surviving"),
                 F.sum("doc_id").cast("long").alias("id_sum")))


@register("chunk_dedup_stats", oracle="""
WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
c AS (SELECT doc_id, s.i AS chunk_id, substr(text, 1 + s.i * 100, 100) AS chunk
      FROM d, (SELECT unnest(generate_series(0, 20)) AS i) s
      WHERE s.i * 100 + 1 <= length(text)),
k AS (SELECT chunk, min(doc_id * 21 + chunk_id) AS keeper FROM c GROUP BY chunk)
SELECT c.doc_id, count(*) AS n_chunks,
       cast(sum(CASE WHEN c.doc_id * 21 + c.chunk_id = k.keeper
                THEN 1 ELSE 0 END) AS BIGINT) AS n_surviving
FROM c JOIN k USING (chunk)
GROUP BY c.doc_id
""")
def chunk_dedup_stats(spark, sf):
    """Sub-document (chunk-level) exact dedup: non-overlapping 100-char
    windows, each distinct chunk's first occurrence (minimum
    (doc_id, chunk_id), encoded arithmetically) is the keeper
    (pipeline/dedup.chunk_dedup). Catches boilerplate repeated across
    otherwise-distinct documents — the dedup stage whole-document
    hashing misses. One explode + one hash-agg + one equi-join."""
    from clickhouse_clickhouse_spark.pipeline.dedup import chunk_dedup

    d = load_table(spark, sf, "documents").filter(F.col("doc_id") < 300)
    cd = chunk_dedup(d, "doc_id", "text", size=100, stride=100,
                     max_chunks=20)
    return (cd.groupBy("doc_id")
            .agg(F.count("*").alias("n_chunks"),
                 F.sum(F.col("keep").cast("int")).cast("long")
                  .alias("n_surviving")))


@register("boilerplate_ngrams", oracle="""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
grams AS (
  SELECT doc_id, array_to_string(w[g.i:g.i+4], ' ') AS g
  FROM toks CROSS JOIN LATERAL (
    SELECT unnest(generate_series(1, greatest(len(w) - 4, 0))) AS i) g)
SELECT g AS gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 3
""")
def boilerplate_ngrams(spark, sf):
    """Corpus-frequent word 5-grams (cross-document boilerplate set;
    pipeline/boilerplate.frequent_ngrams — one gram-keyed hash shuffle)."""
    from clickhouse_clickhouse_spark.pipeline.boilerplate import (
        frequent_ngrams,
    )

    d = load_table(spark, sf, "documents")
    return (frequent_ngrams(d, n=5, min_docs=3)
            .select(F.col("g").alias("gram"), "n_docs"))


@register("repeated_span_stats", oracle="""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
grams AS (
  SELECT doc_id, g.i AS i, array_to_string(w[g.i:g.i+4], ' ') AS g,
         len(w) AS nw
  FROM toks CROSS JOIN LATERAL (
    SELECT unnest(generate_series(1, greatest(len(w) - 4, 0))) AS i) g),
freq AS (
  SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 3),
flagged AS (
  SELECT doc_id, i FROM grams WHERE g IN (SELECT g FROM freq)),
cov AS (
  SELECT doc_id, CAST(count(DISTINCT x.t) AS BIGINT) AS n_cov_tokens,
         CAST(count(DISTINCT i) AS BIGINT) AS n_rep_pos
  FROM flagged CROSS JOIN LATERAL (
    SELECT unnest(generate_series(i, i + 4)) AS t) x
  GROUP BY doc_id),
base AS (
  SELECT doc_id, CAST(len(w) AS INT) AS n_tokens,
         CAST(greatest(len(w) - 4, 0) AS BIGINT) AS n_gram_pos
  FROM toks)
SELECT b.doc_id, b.n_tokens, b.n_gram_pos,
       coalesce(c.n_rep_pos, 0) AS n_rep_pos,
       coalesce(c.n_cov_tokens, 0) AS n_cov_tokens,
       round(coalesce(c.n_cov_tokens, 0) / CAST(b.n_tokens AS DOUBLE), 6)
         AS rep_fraction
FROM base b LEFT JOIN cov c USING (doc_id)
""")
def repeated_span_stats_q(spark, sf):
    """Per-document repeated-span coverage: fraction of each document
    covered by the union of corpus-frequent 5-gram spans
    (pipeline/boilerplate.repeated_span_stats — the Lee-et-al-style
    cross-doc repetition score a curation pipeline thresholds)."""
    from clickhouse_clickhouse_spark.pipeline.boilerplate import (
        repeated_span_stats,
    )

    d = load_table(spark, sf, "documents")
    return repeated_span_stats(d, n=5, min_docs=3)


# Knuth multiplicative hash spelled in plain SQL — identical arithmetic
# to pipeline/training._knuth_hash (seed 0)
_KNUTH_SQL = "((doc_id * 2654435761) % 4294967296)"


@register("hash_split_assign", oracle=f"""
SELECT doc_id,
       CASE WHEN {_KNUTH_SQL} / 4294967296.0 < 0.9 THEN 'train'
            WHEN {_KNUTH_SQL} / 4294967296.0 < 0.95 THEN 'val'
            ELSE 'test' END AS split
FROM documents
""")
def hash_split_assign(spark, sf):
    """Reproducible train/val/test split from the id hash
    (pipeline/training.hash_split): membership depends only on
    (id, seed), so it is stable under corpus growth and re-partitioning —
    no shuffle, pure projection."""
    from clickhouse_clickhouse_spark.pipeline.training import hash_split

    d = load_table(spark, sf, "documents")
    return hash_split(d, "doc_id",
                      {"train": 0.9, "val": 0.05, "test": 0.05}) \
        .select("doc_id", "split")


@register("pack_sequences_layout", oracle="""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents),
st AS (
  SELECT doc_id, source,
         CAST(coalesce(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS start_token
  FROM t)
SELECT doc_id, source, start_token,
       start_token // 512 AS pack_id,
       start_token % 512 AS pack_offset
FROM st
""")
def pack_sequences_layout(spark, sf):
    """Concat-and-chunk sequence packing per source
    (pipeline/training.pack_sequences): documents laid end-to-end in id
    order, cut into 512-token blocks; each doc gets its block id and
    offset. One window per source partition — parallel across sources."""
    from clickhouse_clickhouse_spark.pipeline.training import pack_sequences

    d = load_table(spark, sf, "documents").select(
        "doc_id", "source",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"))
    return pack_sequences(d, 512, group_col="source").select(
        "doc_id", "source", "start_token", "pack_id", "pack_offset")


@register("training_shuffle_order", oracle="""
SELECT doc_id,
       CAST(row_number() OVER (
         ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS BIGINT)
         AS shuffle_rank
FROM documents
""")
def training_shuffle_order(spark, sf):
    """Deterministic global shuffle order
    (pipeline/training.training_shuffle_rank): rank by id hash via the
    distributed bucketed global rank — reproducible across runs and
    partitionings, no single-partition window."""
    from clickhouse_clickhouse_spark.pipeline.training import (
        training_shuffle_rank,
    )

    d = load_table(spark, sf, "documents").select("doc_id")
    return training_shuffle_rank(d, "doc_id").select("doc_id",
                                                     "shuffle_rank")


@register("media_probe_meta", oracle="""
SELECT CAST(g.i AS BIGINT) AS media_id, 'png' AS format,
       CAST(8 + g.i % 5 AS INT) AS width, CAST(6 + g.i % 4 AS INT) AS height
FROM (SELECT unnest(generate_series(0, 15)) AS i) g
""")
def media_probe_meta(spark, sf):
    """Header-level media probe over REAL PNG payloads produced by the
    in-repo stdlib codec (pipeline/multimodal.probe_media +
    functions/png.sniff_media): the oracle states the independently
    known dimensions the encode→sniff path must recover."""
    from clickhouse_clickhouse_spark.pipeline.multimodal import (
        probe_media,
        synthetic_png_media,
    )

    media = synthetic_png_media(spark, 16)
    return probe_media(media).select("media_id", "format", "width",
                                     "height")


@register("media_resize_probe", oracle="""
SELECT CAST(g.i AS BIGINT) AS media_id, CAST(5 AS INT) AS width,
       CAST(4 AS INT) AS height
FROM (SELECT unnest(generate_series(0, 15)) AS i) g
""")
def media_resize_probe(spark, sf):
    """PNG resize kernel end-to-end (decode → nearest-neighbor → encode →
    re-probe): every payload must come back as a valid 5×4 PNG."""
    from clickhouse_clickhouse_spark.pipeline.multimodal import (
        probe_media,
        resize_images,
        synthetic_png_media,
    )

    media = synthetic_png_media(spark, 16)
    return (probe_media(resize_images(media, 5, 4))
            .select("media_id", "width", "height"))


@register("hashed_linear_quality", oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
  FROM documents),
scored AS (
  SELECT doc_id,
         ((((ascii(t[1]) * 961 + ascii(t[-1]) * 31 + len(t)) % 1024
            + 1024) % 1024) * 2654435761) % 1000 / 1000.0 - 0.5 AS w
  FROM toks WHERE t <> ''),
agg AS (
  SELECT doc_id, sum(w) / count(*) AS mean_w FROM scored GROUP BY doc_id)
SELECT doc_id, round(1.0 / (1.0 + exp(-mean_w * 10)), 6) AS model_score
FROM agg
""")
def hashed_linear_quality(spark, sf):
    """Model-based quality filter slot: fastText-style hashing-trick
    linear scorer (functions/text.hashed_linear_score) — token →
    hash bucket → weight, mean-pooled, logistic-squashed. Placeholder
    hash/weights keep it oracle-replayable; production swaps in
    xxhash64 buckets and trained broadcast weights."""
    from clickhouse_clickhouse_spark.functions.text import (
        hashed_linear_score,
    )

    d = load_table(spark, sf, "documents")
    return d.select("doc_id",
                    hashed_linear_score(F.col("text")).alias("model_score"))


@register("pipeline_full_curation_v2", oracle="""
WITH toks AS (SELECT doc_id, text, lang, source, n_chars,
                     string_split(text, ' ') AS t
              FROM documents),
w AS (SELECT doc_id,
             round(1.0 - len(list_distinct(t)) * 1.0 / greatest(len(t), 1), 6)
               AS wr
      FROM toks),
b1 AS (SELECT doc_id,
              unnest(list_transform(generate_series(1, len(t) - 1),
                                    i -> array_to_string(t[i:i+1], ' '))) AS g
       FROM toks),
b1c AS (SELECT doc_id, g, count(*) AS c FROM b1 GROUP BY 1, 2),
tb AS (SELECT doc_id, round(max(c) * 1.0 / sum(c), 6) AS tbf
       FROM b1c GROUP BY 1),
bgrams AS (
  SELECT doc_id, array_to_string(lt[g.i:g.i+4], ' ') AS g
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS lt FROM documents)
  CROSS JOIN LATERAL (
    SELECT unnest(generate_series(1, greatest(len(lt) - 4, 0))) AS i) g),
bfreq AS (SELECT g FROM bgrams GROUP BY g
          HAVING count(DISTINCT doc_id) >= 3),
bflag AS (SELECT doc_id, g FROM bgrams
          WHERE g IN (SELECT g FROM bfreq)),
bcov AS (SELECT b.doc_id,
                count(*) * 1.0 / greatest(len(tk.t), 1) AS rough_cov
         FROM bflag b JOIN toks tk USING (doc_id) GROUP BY b.doc_id, len(tk.t)),
mtoks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
          FROM documents),
mscored AS (
  SELECT doc_id,
         ((((ascii(tok[1]) * 961 + ascii(tok[-1]) * 31 + len(tok)) % 1024
            + 1024) % 1024) * 2654435761) % 1000 / 1000.0 - 0.5 AS wgt
  FROM mtoks WHERE tok <> ''),
model AS (SELECT doc_id,
                 1.0 / (1.0 + exp(-(sum(wgt) / count(*)) * 10)) AS ms
          FROM mscored GROUP BY doc_id),
keepers AS (
  SELECT w.doc_id FROM w
  JOIN tb USING (doc_id)
  JOIN model USING (doc_id)
  LEFT JOIN bcov USING (doc_id)
  WHERE wr <= 0.6 AND tbf <= 0.10
    AND coalesce(rough_cov, 0) <= 0.9 AND ms >= 0.3),
base AS (SELECT toks.* FROM toks JOIN keepers USING (doc_id)
         WHERE len(t) >= 10),
surv AS (SELECT min(doc_id) AS doc_id FROM base GROUP BY text),
ded AS (SELECT base.* FROM base JOIN surv USING (doc_id)),
g3 AS (SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 2),
                               i -> array_to_string(t[i:i+2], ' '))) AS gram
       FROM toks WHERE len(t) >= 3),
bench AS (SELECT doc_id AS bid, gram FROM g3 WHERE doc_id % 41 = 0),
bad AS (SELECT DISTINCT g3.doc_id FROM g3 JOIN bench USING (gram)
        WHERE g3.doc_id <> bench.bid),
clean AS (SELECT ded.* FROM ded ANTI JOIN bad USING (doc_id))
SELECT source,
       CASE WHEN ((doc_id * 2654435761) % 4294967296) / 4294967296.0 < 0.9
            THEN 'train'
            WHEN ((doc_id * 2654435761) % 4294967296) / 4294967296.0 < 0.95
            THEN 'val' ELSE 'test' END AS split,
       count(*) AS n_docs,
       cast(sum(len(t)) AS BIGINT) AS total_tokens
FROM clean GROUP BY 1, 2
""")
def pipeline_full_curation_v2(spark, sf):
    """The round-4 curation composition in ONE declarative plan:
    Gopher repetition gate → cross-doc boilerplate-coverage cap
    (pipeline/boilerplate) → model-based quality floor
    (hashed_linear_score) → token floor → exact dedup → benchmark
    decontamination → reproducible hash split → per-(source, split)
    corpus stats. Each stage is an already-oracled operator; the whole
    chain is Catalyst-fused with the gram-count shuffle and dedup rank
    as the only wide stages."""
    from clickhouse_clickhouse_spark.functions.text import (
        hashed_linear_score,
        repetition_profile,
    )
    from clickhouse_clickhouse_spark.pipeline.boilerplate import (
        repeated_span_stats,
    )
    from clickhouse_clickhouse_spark.pipeline.decontam import decontaminate
    from clickhouse_clickhouse_spark.pipeline.training import hash_split

    d = load_table(spark, sf, "documents")
    keep_ids = repetition_profile(d).filter("keep").select("doc_id")
    cov = (repeated_span_stats(d, n=5, min_docs=3)
           .select("doc_id",
                   (F.col("n_rep_pos")
                    / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double"))
                   .alias("rough_cov")))
    scored = d.select("doc_id",
                      hashed_linear_score(F.col("text")).alias("ms"))
    base = (d.join(keep_ids, "doc_id")
            .join(cov, "doc_id", "left")
            .join(scored, "doc_id")
            .filter((F.coalesce("rough_cov", F.lit(0.0)) <= 0.9)
                    & (F.col("ms") >= 0.3))
            .filter(TXT.token_count(F.col("text")) >= 10)
            .select(*d.columns))
    deduped = exact_dedup(base, "text", "doc_id")
    bench = d.filter(F.col("doc_id") % 41 == 0)
    clean = decontaminate(deduped, bench, n=3)
    return (hash_split(clean, "doc_id")
            .groupBy("source", "split")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(TXT.token_count(F.col("text"))).cast("long")
                 .alias("total_tokens")))


@register("mixture_sample_assign", oracle="""
WITH counts AS (
  SELECT source, count(*) AS n FROM documents GROUP BY source),
targets AS (
  SELECT source,
         least(1.0, (CASE WHEN source = 'src0' THEN 0.5
                          WHEN source = 'src1' THEN 0.3
                          WHEN source = 'src2' THEN 0.2
                          ELSE 0.0 END) / 1.0 * 120.0 / n) AS frac
  FROM counts)
SELECT d.doc_id, d.source
FROM documents d JOIN targets t USING (source)
WHERE ((d.doc_id * 2654435761) % 4294967296) / 4294967296.0 < t.frac
""")
def mixture_sample_assign(spark, sf):
    """Deterministic data mixing (pipeline/training.mixture_sample):
    sample sources toward a 50/30/20 target mixture at 120 docs via a
    reproducible id-hash threshold; sources absent from the weights drop
    out, over-represented ones thin down, membership is stable under
    re-partitioning."""
    from clickhouse_clickhouse_spark.pipeline.training import (
        mixture_sample,
    )

    d = load_table(spark, sf, "documents")
    return mixture_sample(
        d, {"src0": 0.5, "src1": 0.3, "src2": 0.2}, 120) \
        .select("doc_id", "source")


@register("dsir_log_weights", oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
  FROM documents),
tk AS (
  SELECT doc_id,
         ((ascii(t[1]) * 961 + ascii(t[-1]) * 31 + len(t)) % 1024
          + 1024) % 1024 AS b
  FROM toks WHERE t <> ''),
tgt AS (SELECT DISTINCT doc_id FROM documents WHERE lang = 'en'),
rcnt AS (SELECT b, count(*) AS r_cnt FROM tk GROUP BY b),
tcnt AS (SELECT b, count(*) AS t_cnt
         FROM tk JOIN tgt USING (doc_id) GROUP BY b),
tot AS (SELECT (SELECT sum(r_cnt) FROM rcnt) AS r_tot,
               (SELECT sum(t_cnt) FROM tcnt) AS t_tot),
ratio AS (
  SELECT r.b,
         round(ln((coalesce(t.t_cnt, 0) + 1.0) / (tot.t_tot + 1024.0))
             - ln((r.r_cnt + 1.0) / (tot.r_tot + 1024.0)), 6) AS lr
  FROM rcnt r LEFT JOIN tcnt t ON r.b = t.b CROSS JOIN tot)
SELECT tk.doc_id, round(sum(ratio.lr), 6) AS log_weight
FROM tk JOIN ratio ON tk.b = ratio.b
GROUP BY tk.doc_id
""")
def dsir_log_weights_q(spark, sf):
    """DSIR importance log-weights (pipeline/dsir.dsir_log_weights;
    public method: Xie et al., NeurIPS 2023): hashed-unigram bucket
    distributions for the in-domain target (lang='en') vs the raw
    corpus, Laplace-smoothed log-ratio per bucket, summed per document.
    The ratio table is <=1024 rows (broadcast); corpus-wide work is one
    token explode + one bucket count + one per-doc sum."""
    from clickhouse_clickhouse_spark.pipeline.dsir import dsir_log_weights

    d = load_table(spark, sf, "documents")
    tgt = d.filter(F.col("lang") == "en").select("doc_id")
    return dsir_log_weights(d, tgt)


@register("dsir_resample_topk", oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
  FROM documents),
tk AS (
  SELECT doc_id,
         ((ascii(t[1]) * 961 + ascii(t[-1]) * 31 + len(t)) % 1024
          + 1024) % 1024 AS b
  FROM toks WHERE t <> ''),
tgt AS (SELECT DISTINCT doc_id FROM documents WHERE lang = 'en'),
rcnt AS (SELECT b, count(*) AS r_cnt FROM tk GROUP BY b),
tcnt AS (SELECT b, count(*) AS t_cnt
         FROM tk JOIN tgt USING (doc_id) GROUP BY b),
tot AS (SELECT (SELECT sum(r_cnt) FROM rcnt) AS r_tot,
               (SELECT sum(t_cnt) FROM tcnt) AS t_tot),
ratio AS (
  SELECT r.b,
         round(ln((coalesce(t.t_cnt, 0) + 1.0) / (tot.t_tot + 1024.0))
             - ln((r.r_cnt + 1.0) / (tot.r_tot + 1024.0)), 6) AS lr
  FROM rcnt r LEFT JOIN tcnt t ON r.b = t.b CROSS JOIN tot),
w AS (SELECT tk.doc_id, round(sum(ratio.lr), 6) AS log_weight
      FROM tk JOIN ratio ON tk.b = ratio.b GROUP BY tk.doc_id),
keyed AS (
  SELECT doc_id, log_weight,
         round(log_weight
               - ln(-ln(((doc_id * 2654435761) % 1000003 + 1)
                        / 1000005.0)), 4) AS sample_key
  FROM w)
SELECT doc_id, log_weight, sample_key
FROM keyed ORDER BY sample_key DESC, doc_id LIMIT 100
""")
def dsir_resample_topk(spark, sf):
    """DSIR Gumbel top-k resampling (pipeline/dsir.dsir_resample):
    sampling-without-replacement proportional to importance weight via
    the Gumbel-max trick — k largest (log_weight + Gumbel(id)) keys,
    with deterministic replayable noise. Global top-k is
    TakeOrderedAndProject (per-partition heaps)."""
    from clickhouse_clickhouse_spark.pipeline.dsir import dsir_resample

    d = load_table(spark, sf, "documents")
    tgt = d.filter(F.col("lang") == "en").select("doc_id")
    return dsir_resample(d, tgt, 100)


@register("chunk_dedup_rebuild", oracle="""
WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
c AS (SELECT doc_id, s.i AS chunk_id,
             substr(text, 1 + s.i * 100, 100) AS chunk
      FROM d, (SELECT unnest(generate_series(0, 20)) AS i) s
      WHERE s.i * 100 + 1 <= length(text)),
k AS (SELECT chunk, min(doc_id * 21 + chunk_id) AS keeper
      FROM c GROUP BY chunk),
f AS (SELECT c.doc_id, c.chunk_id, c.chunk,
             c.doc_id * 21 + c.chunk_id = k.keeper AS keep
      FROM c JOIN k USING (chunk))
SELECT doc_id,
       md5(coalesce(string_agg(CASE WHEN keep THEN chunk END, ''
                               ORDER BY chunk_id), '')) AS clean_md5,
       cast(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       cast(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
FROM f GROUP BY doc_id
""")
def chunk_dedup_rebuild_q(spark, sf):
    """Sub-document dedup with text reassembly
    (pipeline/dedup.chunk_dedup_rebuild): drop each document's non-keeper
    100-char chunks and stitch the survivors back in order — the
    span-removal cleaning step (Lee et al.) downstream of chunk-level
    duplicate detection. md5 keeps the cleaned text hash-comparable
    without multi-KB driver rows."""
    from clickhouse_clickhouse_spark.pipeline.dedup import (
        chunk_dedup_rebuild,
    )

    d = load_table(spark, sf, "documents").filter(F.col("doc_id") < 300)
    out = chunk_dedup_rebuild(d, "doc_id", "text", size=100, stride=100,
                              max_chunks=20)
    return out.select("doc_id", F.md5("clean_text").alias("clean_md5"),
                      "n_kept", "n_dropped")


@register("html_extract_text", oracle="""
WITH h AS (
  SELECT doc_id,
         '<html><head><style>p {color: red}</style></head><body><h1>'
         || substr(text, 1, 40)
         || '</h1><!-- note --><p>' || substr(text, 41, 120)
         || ' &amp; more &lt;tags&gt;</p><script>var a = 1 < 2;</script>'
         || '</body></html>' AS html
  FROM documents WHERE doc_id < 200),
x AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             html,
             '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
             '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
             '(?s)<!--.*?-->', ' ', 'g'),
             '(?s)<[^>]*>', ' ', 'g') AS t1
  FROM h),
d AS (
  SELECT doc_id,
         replace(replace(replace(replace(replace(replace(replace(
             t1, '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
             '&apos;', ''''), '&#39;', ''''), '&nbsp;', ' '),
             '&amp;', '&') AS t2
  FROM x)
SELECT doc_id, trim(regexp_replace(t2, '\\s+', ' ', 'g')) AS clean
FROM d
""")
def html_extract_text_q(spark, sf):
    """HTML→text extraction (functions/text.html_extract_text): fixture
    text wrapped in synthetic HTML with style/script blocks, comments,
    and entities, then stripped back — byte-exact vs the oracle's
    identical regex/entity chain."""
    from clickhouse_clickhouse_spark.functions.text import (
        html_extract_text,
    )

    d = load_table(spark, sf, "documents").filter(F.col("doc_id") < 200)
    html = F.concat(
        F.lit("<html><head><style>p {color: red}</style></head><body><h1>"),
        F.substring("text", 1, 40),
        F.lit("</h1><!-- note --><p>"), F.substring("text", 41, 120),
        F.lit(" &amp; more &lt;tags&gt;</p><script>var a = 1 < 2;</script>"),
        F.lit("</body></html>"))
    return d.select("doc_id", html_extract_text(html).alias("clean"))


@register("temperature_sample_assign", oracle="""
WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
z AS (SELECT sum(n ** 0.5) AS z FROM c),
t AS (SELECT c.source,
             least(1.0, (c.n ** 0.5) / z.z * 300.0 / c.n) AS frac
      FROM c CROSS JOIN z)
SELECT d.doc_id, d.source
FROM documents d JOIN t USING (source)
WHERE ((d.doc_id * 2654435761) % 4294967296) / 4294967296.0 < t.frac
""")
def temperature_sample_assign(spark, sf):
    """α-smoothed temperature sampling (pipeline/training.
    temperature_sample, α=0.5, 300-doc budget): source shares raised to
    α and renormalized, membership by replayable id hash — the
    multilingual-rebalance composition rule. Oracle replays the share
    math and the Knuth-mix hash bit-exactly."""
    from clickhouse_clickhouse_spark.pipeline.training import (
        temperature_sample,
    )

    d = load_table(spark, sf, "documents")
    return temperature_sample(d, 0.5, 300).select("doc_id", "source")


@register("corpus_report_by_source", oracle="""
WITH q AS (
  SELECT source, text, lang,
         len(string_split(text, ' ')) AS tok,
         round(
           least(len(string_split(text, ' ')) / 50.0, 1.0) * 0.4
           + (1.0 - least(
               ((length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')))
                  / greatest(length(text), 1)) * 4
               + ((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
                  / greatest(length(text), 1)) * 2, 1.0)) * 0.4
           + CASE WHEN cast(list_aggregate(list_transform(string_split(text, ' '),
                                                          x -> length(x)), 'sum') AS DOUBLE)
                       / greatest(len(string_split(text, ' ')), 1)
                       BETWEEN 2 AND 12
                  THEN 1.0 ELSE 0.3 END * 0.2, 6) AS score
  FROM documents)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(tok) AS BIGINT) AS total_tokens,
       CAST(sum(length(text)) AS BIGINT) AS total_chars,
       round(avg(tok), 4) AS avg_tokens,
       round(avg(CASE WHEN length(trim(text)) = 0 THEN 1.0
                 ELSE 0.0 END), 6) AS empty_share,
       round(avg(score), 6) AS avg_quality,
       round(1.0 - CAST(count(DISTINCT text) AS DOUBLE) / count(*), 6)
           AS dup_share,
       CAST(count(DISTINCT lang) AS INT) AS n_langs
FROM q GROUP BY source
""")
def corpus_report_by_source(spark, sf):
    """Dataset report (round-6, pipeline/report.corpus_report): the
    one-pass per-source dataset-card summary a training pipeline
    publishes with every snapshot — volume, token/length profile,
    empty/dup shares, mean quality, language count. One scan + two
    hash shuffles at any corpus size; the oracle replicates the full
    quality formula."""
    from clickhouse_clickhouse_spark.pipeline.report import corpus_report

    d = load_table(spark, sf, "documents")
    r = corpus_report(d, "text", "doc_id", group_by="source")
    return r.select(
        "source", "n_docs", "total_tokens", "total_chars", "avg_tokens",
        "empty_share", "avg_quality", "dup_share",
        F.size(F.map_keys("lang_docs")).alias("n_langs"))


@register("exact_substring_spans_q", oracle="""
WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS t
           FROM documents),
p AS (SELECT doc_id, t,
             unnest(generate_series(1, len(t) - 2)) AS i FROM w),
g AS (SELECT doc_id, i, array_to_string(t[i:i + 2], ' ') AS gram
      FROM p),
f AS (SELECT gram FROM g GROUP BY gram
      HAVING count(DISTINCT doc_id) >= 2),
fl AS (SELECT doc_id, i FROM g WHERE gram IN (SELECT gram FROM f)),
isl AS (SELECT doc_id, i,
               sum(CASE WHEN prev IS NULL OR i > prev + 3 THEN 1
                   ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY i) AS island
        FROM (SELECT doc_id, i,
                     lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev
              FROM fl))
SELECT doc_id, CAST(min(i) AS INT) AS span_start,
       CAST(max(i) + 2 AS BIGINT) AS span_end
FROM isl GROUP BY doc_id, island
""")
def exact_substring_spans_q(spark, sf):
    """Exact-substring dedup spans (Lee et al. ACL'22 — round 6,
    pipeline/boilerplate.exact_substring_spans): maximal token
    intervals whose every 3-token window appears verbatim in >= 2
    documents; the DuckDB oracle replays the full
    enumerate -> cross-doc filter -> island merge recipe."""
    from clickhouse_clickhouse_spark.pipeline.boilerplate import (
        exact_substring_spans,
    )

    d = load_table(spark, sf, "documents")
    return exact_substring_spans(d, n=3, min_docs=2)


_ND_GA = ("(CASE WHEN len(n_name) >= 4 THEN "
          "list_transform(generate_series(1, len(n_name) - 3), "
          "i -> substr(n_name, i, 4)) "
          "ELSE CAST([] AS VARCHAR[]) END)")
_ND_GB = ("list_transform(generate_series(1, len('UNITED STATES') - 3), "
          "i -> substr('UNITED STATES', i, 4))")


@register("ch_dialect_demo9", oracle=f"""
SELECT n_nationkey AS k,
       regexp_matches(replace(n_name, 'A', ' '),
           '(^|[^0-9A-Za-z_])KENY([^0-9A-Za-z_]|$)') AS ht,
       regexp_matches(n_name,
           '(?i)(^|[^0-9A-Za-z_])kenya([^0-9A-Za-z_]|$)') AS hti,
       (regexp_matches(n_name, 'IA$')
        OR regexp_matches(n_name, '^K')) AS mma,
       CAST(CASE WHEN regexp_matches(n_name, 'IA$') THEN 1
                 WHEN regexp_matches(n_name, '^K') THEN 2
                 ELSE 0 END AS BIGINT) AS mmi,
       CAST(CASE WHEN strpos(n_name, 'AN') > 0
                  AND (strpos(n_name, 'IA') = 0
                       OR strpos(n_name, 'AN') <= strpos(n_name, 'IA'))
                 THEN 1
                 WHEN strpos(n_name, 'IA') > 0 THEN 2
                 ELSE 0 END AS BIGINT) AS msf,
       to_json([CAST(strpos(n_name, 'AN') AS BIGINT),
                CAST(strpos(n_name, 'IA') AS BIGINT)]) AS msp,
       round(CASE WHEN len({_ND_GA}) + len({_ND_GB}) = 0 THEN 0.0
             ELSE CAST(list_sum(list_transform(
                      list_distinct(list_concat({_ND_GA}, {_ND_GB})),
                      g -> abs(len(list_filter({_ND_GA}, x -> x = g))
                           - len(list_filter({_ND_GB}, x -> x = g)))))
                  AS DOUBLE) / (len({_ND_GA}) + len({_ND_GB})) END,
             6) AS nd,
       (len(list_filter(generate_series(1, greatest(len(n_name), 1)),
            i -> levenshtein(substr(n_name, i, 11),
                             'UNITED STATE') <= 1)) > 0
        OR len(list_filter(generate_series(1, greatest(len(n_name), 1)),
            i -> levenshtein(substr(n_name, i, 12),
                             'UNITED STATE') <= 1)) > 0
        OR len(list_filter(generate_series(1, greatest(len(n_name), 1)),
            i -> levenshtein(substr(n_name, i, 13),
                             'UNITED STATE') <= 1)) > 0) AS mfm,
       CAST(n_nationkey + 10 AS BIGINT) AS tp,
       CAST(16 AS BIGINT) AS rs_len
FROM nation
""")
def ch_dialect_demo9(spark, sf):
    """Round-7 string-similarity / multi-search scalar tail through
    ch_sql ([U] src/Functions/FunctionsStringSimilarity.cpp,
    MultiMatchAnyImpl.h, HasTokenImpl.h, tupleArithmetic):
    hasToken[CaseInsensitive] (RE2-compatible token boundaries — the
    oracle runs the IDENTICAL regex), multiMatchAny[Index],
    multiSearchFirstIndex/AllPositions, ngramDistance (4-gram multiset
    symmetric difference, replayed in DuckDB list algebra),
    multiFuzzyMatchAny (literal needle within Levenshtein distance 1,
    window-scan replayed), tuplePlus/tupleElement, randomString
    (length-checked — content is random by contract). The
    wordShingleMinHash/ngramMinHash scalars interop-match the corpus
    pipeline in tests/test_functions.py (xxhash64 has no DuckDB
    equivalent — same stance as the r6 SimHash twins). Array output
    emitted as a JSON string (shapes.py driver-gate note)."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql
    from clickhouse_clickhouse_spark.shapes import json_arrays

    load_table(spark, sf, "nation").createOrReplaceTempView("nation")
    return json_arrays(ch_sql(spark, """
        SELECT n_nationkey AS k,
               hasToken(replaceAll(n_name, 'A', ' '), 'KENY') AS ht,
               hasTokenCaseInsensitive(n_name, 'kenya') AS hti,
               multiMatchAny(n_name, ['IA$', '^K']) AS mma,
               multiMatchAnyIndex(n_name, ['IA$', '^K']) AS mmi,
               multiSearchFirstIndex(n_name, ['AN', 'IA']) AS msf,
               multiSearchAllPositions(n_name, ['AN', 'IA']) AS msp,
               round(ngramDistance(n_name, 'UNITED STATES'), 6) AS nd,
               multiFuzzyMatchAny(n_name, 1, ['UNITED STATE']) AS mfm,
               toInt64(tupleElement(tuplePlus(tuple(n_nationkey, 2),
                                              tuple(10, 20)), 1)) AS tp,
               toInt64(length(randomString(16))) AS rs_len
        FROM nation"""), "msp")


_TOKS_SQL = ("list_filter(string_split_regex(lower(text), '\\s+'), "
             "__t -> __t != '')")


@register("lm_perplexity_bigram", oracle=f"""
WITH tk AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
bpair AS (
  SELECT doc_id, p[1] AS w1, p[2] AS w2
  FROM (SELECT doc_id,
               unnest(list_transform(generate_series(1, len(t) - 1),
                                     i -> [t[i], t[i + 1]])) AS p
        FROM tk WHERE len(t) >= 2)),
uni AS (SELECT w1, count(*) AS u_cnt
        FROM (SELECT unnest(t) AS w1 FROM tk) GROUP BY w1),
bi AS (SELECT w1, w2, count(*) AS b_cnt FROM bpair GROUP BY w1, w2),
v AS (SELECT count(*) AS vocab FROM uni),
nll AS (
  SELECT g.doc_id,
         -ln((coalesce(bi.b_cnt, 0) + 0.5)
             / (coalesce(uni.u_cnt, 0) + 0.5 * v.vocab)) AS x
  FROM bpair g
  LEFT JOIN uni USING (w1)
  LEFT JOIN bi ON g.w1 = bi.w1 AND g.w2 = bi.w2
  CROSS JOIN v)
SELECT doc_id, round(avg(x), 6) AS avg_nll,
       count(*) AS n_bigrams,
       round(exp(avg(x)), 6) AS perplexity
FROM nll GROUP BY doc_id
""")
def lm_perplexity_bigram(spark, sf):
    """Bigram-LM perplexity quality scoring (round-7;
    pipeline/lm_score.py — the CCNet/Gopher quality-filter class, [P]
    Wenzek et al. LREC 2020): the model trains FROM the corpus (two
    hash aggregates), every doc scores by average NLL with add-0.5
    smoothing. DuckDB replays the entire train+score recipe exactly."""
    from clickhouse_clickhouse_spark.pipeline.lm_score import (
        score_perplexity,
        train_bigram_lm,
    )

    d = load_table(spark, sf, "documents")
    uni, bi, stats = train_bigram_lm(d, "doc_id", "text")
    out = score_perplexity(d, "doc_id", "text", uni, bi, stats, k=0.5)
    return out.select("doc_id", F.round("avg_nll", 6).alias("avg_nll"),
                      "n_bigrams",
                      F.round("perplexity", 6).alias("perplexity"))


@register("bm25_topk_q", oracle=f"""
WITH tk AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
dl AS (SELECT doc_id, len(t) AS dl FROM tk),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf
       FROM (SELECT doc_id, unnest(t) AS term FROM tk)
       WHERE term IN ('vector', 'hash', 'stream')
       GROUP BY doc_id, term),
dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term)
SELECT doc_id,
       round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                 * tf * 2.2
                 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))),
             6) AS bm25,
       count(*) AS n_terms_hit
FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 10
""")
def bm25_topk_q(spark, sf):
    """BM25 top-10 for a 3-term keyword query (round-7;
    pipeline/bm25.py, [P] Robertson & Zaragoza 2009) — retrieval /
    decontamination twin of the embedding top-k; corpus stats ride as
    broadcast joins, no driver collect."""
    from clickhouse_clickhouse_spark.pipeline.bm25 import bm25_topk

    d = load_table(spark, sf, "documents")
    return bm25_topk(d, "doc_id", "text", ["vector", "hash", "stream"],
                     k=10)


@register("curation_lm_quality_gate", oracle=f"""
WITH tk AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
bpair AS (
  SELECT doc_id, p[1] AS w1, p[2] AS w2
  FROM (SELECT doc_id,
               unnest(list_transform(generate_series(1, len(t) - 1),
                                     i -> [t[i], t[i + 1]])) AS p
        FROM tk WHERE len(t) >= 2)),
uni AS (SELECT w1, count(*) AS u_cnt
        FROM (SELECT unnest(t) AS w1 FROM tk) GROUP BY w1),
bi AS (SELECT w1, w2, count(*) AS b_cnt FROM bpair GROUP BY w1, w2),
v AS (SELECT count(*) AS vocab FROM uni),
nll AS (
  SELECT g.doc_id,
         -ln((coalesce(bi.b_cnt, 0) + 0.5)
             / (coalesce(uni.u_cnt, 0) + 0.5 * v.vocab)) AS x
  FROM bpair g
  LEFT JOIN uni USING (w1)
  LEFT JOIN bi ON g.w1 = bi.w1 AND g.w2 = bi.w2
  CROSS JOIN v),
sc AS (SELECT doc_id, avg(x) AS avg_nll FROM nll GROUP BY doc_id),
med AS (SELECT quantile_cont(avg_nll, 0.5) AS m FROM sc)
SELECT d.source,
       CAST(count(*) FILTER (WHERE sc.avg_nll <= med.m) AS BIGINT)
           AS n_kept,
       CAST(count(*) FILTER (WHERE sc.avg_nll > med.m) AS BIGINT)
           AS n_dropped,
       round(avg(CASE WHEN sc.avg_nll <= med.m
                 THEN exp(sc.avg_nll) END), 4) AS kept_ppl
FROM documents d JOIN sc USING (doc_id) CROSS JOIN med
GROUP BY d.source
""")
def curation_lm_quality_gate(spark, sf):
    """Round-7 capstone: the CCNet-style LM quality gate composed into
    a curation report — the corpus-trained bigram LM scores every doc,
    the corpus MEDIAN avg-NLL (computed in-plan, broadcast) is the
    keep threshold, and the per-source kept/dropped split plus kept
    perplexity reports out. One declarative plan: the LM count tables,
    the scorer, the exact median, and the report all fuse under
    Catalyst; nothing collects to the driver. DuckDB replays the
    entire train → score → median-gate → report chain."""
    from pyspark.sql import functions as F

    from clickhouse_clickhouse_spark.pipeline.lm_score import (
        score_perplexity,
        train_bigram_lm,
    )

    d = load_table(spark, sf, "documents")
    uni, bi, stats = train_bigram_lm(d, "doc_id", "text")
    sc = score_perplexity(d, "doc_id", "text", uni, bi, stats, k=0.5)
    med = sc.agg(F.percentile("avg_nll", F.lit(0.5)).alias("m"))
    return (d.join(sc, "doc_id").crossJoin(F.broadcast(med))
            .groupBy("source")
            .agg(F.count_if(F.col("avg_nll") <= F.col("m"))
                 .alias("n_kept"),
                 F.count_if(F.col("avg_nll") > F.col("m"))
                 .alias("n_dropped"),
                 F.round(F.avg(F.when(F.col("avg_nll") <= F.col("m"),
                                      F.exp("avg_nll"))), 4)
                 .alias("kept_ppl")))


@register("hybrid_retrieval_rrf", oracle=f"""
WITH tk AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
dl AS (SELECT doc_id, len(t) AS dl FROM tk),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf
       FROM (SELECT doc_id, unnest(t) AS term FROM tk)
       WHERE term IN ('vector', 'hash', 'stream')
       GROUP BY doc_id, term),
dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
bm AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY bm25 DESC, doc_id) AS ra
  FROM (SELECT doc_id,
               round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                         * tf * 2.2
                         / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))),
                     6) AS bm25
        FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id)
        CROSS JOIN stats
        GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20)),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id = 0),
c AS (SELECT vec_id AS corpus_id, embedding AS cv FROM embeddings),
x AS (
  SELECT corpus_id,
         sum(CAST(cv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)) AS dot,
         sum(CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)) AS nc,
         sum(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)) AS nq
  FROM c JOIN q ON corpus_id <> query_id,
       (SELECT unnest(generate_series(1, 64)) AS i) g
  GROUP BY corpus_id),
cs AS (
  SELECT corpus_id AS doc_id,
         row_number() OVER (ORDER BY cosine DESC, corpus_id) AS rb
  FROM (SELECT corpus_id,
               round(dot / (sqrt(nc) * sqrt(nq)), 6) AS cosine
        FROM x ORDER BY cosine DESC, corpus_id LIMIT 20)),
f AS (
  SELECT coalesce(bm.doc_id, cs.doc_id) AS doc_id,
         round(coalesce(1.0 / (60 + ra), 0)
               + coalesce(1.0 / (60 + rb), 0), 6) AS rrf,
         CAST(ra AS INT) AS rank_0, CAST(rb AS INT) AS rank_1
  FROM bm FULL OUTER JOIN cs ON bm.doc_id = cs.doc_id)
SELECT CAST(0 AS BIGINT) AS query_id, doc_id, rrf,
       CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INT)
         AS rank,
       rank_0, rank_1
FROM f
QUALIFY rank <= 10
""")
def hybrid_retrieval_rrf(spark, sf):
    """Hybrid retrieval capstone (round 8; pipeline/retrieval.rrf_fuse,
    [P] Cormack et al. SIGIR 2009): BM25 keyword top-20 fused with
    exact-cosine top-20 for the same corpus (doc_id == vec_id in the
    fixture) by reciprocal-rank fusion, k=60. Candidate generation is
    the distributed heavy part (one tf shuffle + one broadcast
    crossJoin topk); fusion runs per-query windows over 2x20 rows. The
    DuckDB oracle replays both rankers and the fusion end-to-end."""
    from clickhouse_clickhouse_spark.pipeline.bm25 import bm25_topk
    from clickhouse_clickhouse_spark.pipeline.retrieval import rrf_fuse
    from clickhouse_clickhouse_spark.pipeline.similarity import (
        brute_force_topk,
    )

    d = load_table(spark, sf, "documents")
    e = load_table(spark, sf, "embeddings")
    bm = (bm25_topk(d, "doc_id", "text", ["vector", "hash", "stream"],
                    k=20)
          .withColumn("query_id", F.lit(0).cast("long")))
    cos = (brute_force_topk(e, e.filter(F.col("vec_id") == 0), k=20,
                            query_id="vec_id")
           .withColumnRenamed("corpus_id", "doc_id"))
    return rrf_fuse([(bm, "bm25"), (cos, "cosine")],
                    "query_id", "doc_id", k=60, topk=10)


@register("audio_sine_features", oracle="""
SELECT CAST(g.i AS BIGINT) AS media_id,
       TRUE AS freq_ok, TRUE AS rms_ok, TRUE AS dur_ok, TRUE AS zcr_ok
FROM (SELECT unnest(generate_series(0, 7)) AS i) g
""")
def audio_sine_features(spark, sf):
    """REAL audio decode + DSP (round 10): pure sine WAV clips with
    closed-form ground truth — clip i at 200·(i+1) Hz, amplitude
    0.1·(i+1), 0.5 s @ 8 kHz. The mapInPandas kernel
    (pipeline/multimodal.extract_audio_features over the stdlib RIFF
    codec functions/audio.py) must recover the dominant frequency to
    the exact FFT bin, RMS to amp/sqrt(2) within 1%, the duration
    exactly, and the zero-crossing rate to 2·f within 4 Hz."""
    from clickhouse_clickhouse_spark.pipeline.multimodal import (
        extract_audio_features,
        synthetic_wav_media,
    )

    feats = extract_audio_features(synthetic_wav_media(spark, 8))
    f = F.col("media_id") + 1
    return feats.select(
        "media_id",
        (F.abs(F.col("dominant_hz") - 200.0 * f) < 1e-9).alias("freq_ok"),
        (F.abs(F.col("rms") - 0.1 * f / F.sqrt(F.lit(2.0)))
         <= 0.01 * 0.1 * f).alias("rms_ok"),
        (F.col("duration_s") == 0.5).alias("dur_ok"),
        (F.abs(F.col("zcr_hz") - 2 * 200.0 * f) <= 4.0).alias("zcr_ok"))


@register("audio_embedding_ann", oracle="""
SELECT CAST(g.i AS BIGINT) AS query_id, TRUE AS planted_dup_is_top1
FROM (SELECT unnest(generate_series(0, 2)) AS i) g
""")
def audio_embedding_ann(spark, sf):
    """Multimodal retrieval end-to-end (round 10): WAV clips → REAL
    spectral-band embeddings (pipeline/multimodal.audio_embedding) →
    exact cosine top-k (pipeline/similarity.brute_force_topk) — the
    audio analog of the embeddings-fixture ANN queries. Planted
    duplicate clips (id + 1000) embed identically and must rank 1 by
    cosine for each of the first three query clips."""
    from clickhouse_clickhouse_spark.pipeline.multimodal import (
        audio_embedding,
        synthetic_wav_media,
    )
    from clickhouse_clickhouse_spark.pipeline.similarity import (
        brute_force_topk,
    )

    media = synthetic_wav_media(spark, 12)
    planted = (media.filter(F.col("media_id") < 3)
               .withColumn("media_id", F.col("media_id") + 1000))
    emb = audio_embedding(media.unionByName(planted))
    corpus = emb.withColumnRenamed("media_id", "vec_id")
    queries = (emb.filter(F.col("media_id") < 3)
               .withColumnRenamed("media_id", "query_id"))
    topk = brute_force_topk(corpus, queries, k=3, query_id="query_id")
    return (topk.filter(F.col("rk") == 1)
            .select("query_id",
                    (F.col("corpus_id") == F.col("query_id") + 1000)
                    .alias("planted_dup_is_top1")))


@register("media_jpeg_roundtrip", oracle="""
SELECT CAST(g.i AS BIGINT) AS media_id, 'jpeg' AS format,
       CAST(12 + g.i % 5 AS INT) AS width,
       CAST(9 + g.i % 4 AS INT) AS height, TRUE AS mae_ok
FROM (SELECT unnest(generate_series(0, 11)) AS i) g
""")
def media_jpeg_roundtrip(spark, sf):
    """Baseline JPEG codec end-to-end on the driver's oracle gate
    (functions/jpeg.py, round 10): deterministic gradient images →
    in-repo T.81 encode (4:4:4/4:2:2/4:2:0, restart markers) → sniff +
    decode → dims recovered exactly and decoded pixels within the lossy
    bound the oracle states as TRUE."""
    from clickhouse_clickhouse_spark.pipeline.multimodal import (
        jpeg_roundtrip_report,
        synthetic_jpeg_media,
    )

    return jpeg_roundtrip_report(synthetic_jpeg_media(spark, 12))


@register("video_mjpeg_decode", oracle="""
SELECT CAST(v.i AS BIGINT) AS media_id, CAST(s.j AS INT) AS sample_idx,
       'jpeg' AS codec,
       CAST(24 + 8 * (v.i % 3) AS INT) AS width,
       CAST(16 + 8 * (v.i % 2) AS INT) AS height,
       TRUE AS ok
FROM (SELECT unnest(generate_series(0, 3)) AS i) v,
     (SELECT unnest(generate_series(0, 4, 2)) AS j) s
""")
def video_mjpeg_decode(spark, sf):
    """The fully in-repo VIDEO path on the driver's oracle gate
    (round 10): Motion-JPEG mux (functions/mp4.build_mp4) → ISO-BMFF
    demux → every-2nd-frame sampling → baseline-JPEG pixel decode
    (functions/jpeg.py) → per-channel means, checked against the
    recomputed source frames (max channel-mean error < 4/255, stated
    TRUE by the oracle along with the demuxed dims/codec)."""
    from clickhouse_clickhouse_spark.pipeline.multimodal import (
        _mjpeg_frame,
        decode_frames,
        synthetic_mjpeg_media,
    )

    frames = decode_frames(synthetic_mjpeg_media(spark, 4, 6), every_n=2)
    expect = []
    for i in range(4):
        h, w = 16 + 8 * (i % 2), 24 + 8 * (i % 3)
        for j in range(0, 6, 2):
            ref = _mjpeg_frame(j, h, w)
            expect.append((i, j, [float(ref[..., c].mean())
                                  for c in range(3)]))
    exp = local_frame(
        spark, expect, "media_id long, sample_idx int, want array<double>")
    return (frames.join(F.broadcast(exp), ["media_id", "sample_idx"])
            .select("media_id", "sample_idx", "codec", "width", "height",
                    (F.aggregate(
                        F.zip_with("mean_rgb", "want",
                                   lambda a, b: F.abs(a - b)),
                        F.lit(0.0),
                        lambda acc, d: F.greatest(acc, d))
                     < 4.0).alias("ok")))
