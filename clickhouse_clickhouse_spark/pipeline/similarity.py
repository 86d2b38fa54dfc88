"""Approximate-nearest-neighbor / similarity search over embedding columns
(SURVEY.md §7 M7; the reference's vector-distance functions power the same
use case — ``arrayDistance.cpp`` / ``cosineDistance``).

- ``brute_force_topk``: exact top-k by cosine — broadcast the (small) query
  set against the full corpus; one pass, no corpus shuffle. The
  correctness baseline.
- ``lsh_bucketed_topk``: sign-LSH bucketed ANN — queries only probe
  matching buckets (with multi-probe on neighboring buckets), cutting the
  scanned fraction ~2^bits-fold at the cost of recall. The 100 TB path:
  bucket is a partition key, so each query touches a few partitions
  instead of the whole corpus.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from clickhouse_clickhouse_spark.functions.vectors import (
    cosine_similarity,
    dot_product,
    l2_norm,
)
from clickhouse_clickhouse_spark.session import local_frame


def _paired_cosine(cv, qv, cn, qn):
    """Cosine for an (exploded) pair join from per-row precomputed norms.

    ``dot/(cn*qn)`` evaluates the identical double arithmetic to
    ``cosine_similarity`` (= ``dot/(sqrt(dot_aa)*sqrt(dot_bb))``), so
    scores are bit-equal — but the two norm folds run once per ROW
    before the join instead of once per candidate PAIR (optimization
    round 14, guide §2.3: HOF folds are interpreted, and the pair side
    is the explosive one — corpus×queries here)."""
    return dot_product(cv, qv) / (cn * qn)


def _sign_bucket(vec, bits: int):
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(bits - 1)),
        F.lit(0).cast("long"),
        lambda acc, i: acc * 2 + F.when(F.element_at(vec, i + 1) > 0, 1).otherwise(0),
    )


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int,
                     corpus_id: str = "vec_id", corpus_vec: str = "embedding",
                     query_id: str = "query_id", query_vec: str = "embedding",
                     exclude_self: bool = True) -> DataFrame:
    """Exact cosine top-k per query vector. Queries are broadcast (the
    query set is small by assumption); ranking is a per-query window.
    Deterministic tiebreak: (rounded cosine desc, corpus id asc)."""
    q = queries.select(F.col(query_id).alias("query_id"),
                       F.col(query_vec).alias("qv")) \
               .withColumn("__qn", l2_norm(F.col("qv")))
    c = corpus.select(F.col(corpus_id).alias("corpus_id"),
                      F.col(corpus_vec).alias("cv")) \
              .withColumn("__cn", l2_norm(F.col("cv")))
    joined = c.crossJoin(F.broadcast(q))
    if exclude_self:
        joined = joined.filter(F.col("corpus_id") != F.col("query_id"))
    scored = joined.select(
        "query_id", "corpus_id",
        F.round(_paired_cosine(F.col("cv"), F.col("qv"),
                               F.col("__cn"), F.col("__qn")),
                6).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               F.col("corpus_id").asc())
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k))


def lsh_bucketed_topk(corpus: DataFrame, queries: DataFrame, k: int,
                      bits: int = 6, multiprobe: int = 1,
                      corpus_id: str = "vec_id", corpus_vec: str = "embedding",
                      query_id: str = "query_id", query_vec: str = "embedding",
                      exclude_self: bool = True) -> DataFrame:
    """Sign-LSH ANN: bucket corpus by the sign pattern of the first ``bits``
    coordinates; each query probes its own bucket plus all buckets at
    Hamming distance ≤ ``multiprobe`` (explode of a small static bucket
    list). Approximate — recall grows with multiprobe.

    At scale the corpus side is written partitioned by ``__bkt`` so a probe
    is a partition-pruned scan, not a full-corpus join.
    """
    c = corpus.select(F.col(corpus_id).alias("corpus_id"),
                      F.col(corpus_vec).alias("cv")) \
              .withColumn("__bkt", _sign_bucket(F.col("cv"), bits)) \
              .withColumn("__cn", l2_norm(F.col("cv")))
    q = queries.select(F.col(query_id).alias("query_id"),
                       F.col(query_vec).alias("qv")) \
               .withColumn("__qbkt", _sign_bucket(F.col("qv"), bits)) \
               .withColumn("__qn", l2_norm(F.col("qv")))
    # Multi-probe: query bucket XOR each mask with popcount <= multiprobe.
    masks = [m for m in range(1 << bits) if bin(m).count("1") <= multiprobe]
    probe = q.withColumn("__bkt",
                         F.explode(F.array(*[
                             F.col("__qbkt").bitwiseXOR(F.lit(m)) for m in masks])))
    joined = c.join(F.broadcast(probe), "__bkt")
    if exclude_self:
        joined = joined.filter(F.col("corpus_id") != F.col("query_id"))
    scored = joined.select(
        "query_id", "corpus_id",
        F.round(_paired_cosine(F.col("cv"), F.col("qv"),
                               F.col("__cn"), F.col("__qn")),
                6).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               F.col("corpus_id").asc())
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k))


# -- Shared kernel math (optimization round 15) ---------------------------
#
# The Lloyd-iteration rewrite (driver-side codebook state, one fused
# Arrow pass per iteration) and the assignment kernels must use
# BIT-IDENTICAL arithmetic, so the matrix construction and the per-batch
# argmin/argmax live here and both paths call them.

def _centroid_arrays(crows):
    """(cids, C float64, cn, all_null) from (centroid_id, centroid) rows
    sorted by centroid_id — the exact construction assign_to_centroids
    has used since round 14 (NULL/zero-norm semantics documented there)."""
    cids = np.asarray([int(r[0]) for r in crows], dtype=np.int64)
    dim0 = next((len(r[1]) for r in crows
                 if r[1] is not None
                 and all(x is not None for x in r[1])), 1)
    C = np.asarray([list(r[1])
                    if r[1] is not None
                    and all(x is not None for x in r[1])
                    else [0.0] * dim0 for r in crows], dtype=np.float64)
    cn = np.zeros(C.shape[0], dtype=np.float64)
    for i in range(C.shape[1]):
        cn += C[:, i] * C[:, i]          # left-assoc self-dot
    cn = np.sqrt(cn)
    all_null = not any(
        r[1] is not None
        and all(x is not None for x in r[1]) for r in crows)
    return cids, C, cn, all_null


def _centroid_batch_positions(A, C, cn):
    """argmax positions into the sorted centroid array for a float64 row
    block ``A`` — cosine by left-assoc dot/norm folds, NaN → -inf (never
    wins), zero denominator → +inf (Spark /0 → NULL sorts first, wins);
    np.argmax's first-max == min_by's (-sim, centroid_id) tiebreak."""
    vn = np.zeros(A.shape[0], dtype=np.float64)
    dot = np.zeros((A.shape[0], C.shape[0]), dtype=np.float64)
    for i in range(A.shape[1]):
        vn += A[:, i] * A[:, i]              # left-assoc
        dot += A[:, i:i + 1] * C[None, :, i]  # left-assoc
    denom = np.sqrt(vn)[:, None] * cn[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        sims = dot / denom
    if np.isnan(sims).any():
        sims[np.isnan(sims)] = -np.inf   # NaN input: never wins
    sims[denom == 0.0] = np.inf          # Spark /0 → NULL: wins
    return np.argmax(sims, axis=1)


def _pq_codebook_arrays(rows):
    """Per-sub (mats float32, ids, null_codes) dicts from
    (sub, code_id, codeword) tuples/Rows — the exact construction
    _pq_assign has used since round 14 (NULL-codeword semantics
    documented there)."""
    by_sub: dict[int, list] = {}
    for r in rows:
        by_sub.setdefault(int(r[0]), []).append((int(r[1]), r[2]))
    mats: dict[int, "np.ndarray"] = {}
    ids: dict[int, "np.ndarray"] = {}
    null_codes: dict[int, "np.ndarray"] = {}
    for s, lst in by_sub.items():
        lst.sort(key=lambda t: t[0])
        # a NULL codeword (or NULL element) made that code's distance
        # NULL in the old unrolled form, and NULL sorts FIRST under
        # (distance, code_id) — i.e. it WINS; mark it and force -inf
        isnull = [cw is None or any(x is None for x in cw)
                  for _, cw in lst]
        d0 = next((len(cw) for (_, cw), n in zip(lst, isnull) if not n), 1)
        mats[s] = np.asarray(
            [[0.0] * d0 if n else list(cw)
             for (_, cw), n in zip(lst, isnull)], dtype=np.float32)
        ids[s] = np.asarray([cid for cid, _ in lst], dtype=np.int32)
        null_codes[s] = np.asarray(isnull, dtype=bool)
    return mats, ids, null_codes


def _pq_batch_positions(A, C, nc):
    """argmin positions into the sorted codeword array for a float32 row
    block ``A``: float32 squared differences widened to double,
    accumulated left-associatively (the _l2sq unroll arithmetic); NaN
    distances → +inf (Spark NaN sorts highest), NULL codewords → -inf
    (NULL sorts first, wins); np.argmin's first-min == min_by's
    (distance, code_id) tiebreak. Callers handle the all-NULL-codeword
    short circuit."""
    acc = np.zeros((A.shape[0], C.shape[0]), dtype=np.float64)
    for i in range(A.shape[1]):
        diff = A[:, i:i + 1] - C[None, :, i]      # float32
        acc += (diff * diff).astype(np.float64)   # left-assoc
    if np.isnan(acc).any():
        acc[np.isnan(acc)] = np.inf
    if nc.any():
        acc[:, nc] = -np.inf   # NULL codeword: old NULL-first
    return np.argmin(acc, axis=1)


def _kmeans_lloyd_step(corpus: DataFrame, vec: str, state: list) -> list:
    """One Lloyd iteration with the centroids as DRIVER-side state
    (optimization round 15, guide §4.2/§2.4): a single Arrow pass fuses
    the assignment (the exact _centroid_batch_positions arithmetic the
    assignment kernel uses) with per-centroid segment sums — the former
    per-iteration chain (assignment projection → posexplode of corpus·d
    rows → two hash aggregates → carry-forward join → persist) collapses
    to ONE job whose shuffle is ≤ batches·k·d tiny partial rows.

    Bit-equality with the label_centroids re-average: np.bincount
    accumulates float64(v) sequentially in row order — exactly Spark's
    partial avg (sum += cast(v as double) in iterator order, from 0.0);
    partials merge through F.sum the same way avg's merge did; the mean
    is sum/count in double. Rows with NULL vectors contribute nothing
    (posexplode dropped them); NaN elements propagate into the mean;
    a centroid no row chose keeps its previous value (the coalesce
    carry-forward). ``state`` is [(centroid_id, centroid-or-None), ...]
    sorted by centroid_id; returns the stepped state."""
    import pyarrow as pa

    cids, C, cn, all_null = _centroid_arrays(state)
    k = len(cids)

    def gen(batches):
        for b in batches:
            sv = b.column(0).to_pandas()
            valid = sv.notna().to_numpy()
            if not valid.any():
                continue
            A = np.stack(sv[valid].to_list()).astype(np.float64)
            if all_null:
                pos = np.zeros(A.shape[0], dtype=np.int64)
            else:
                pos = _centroid_batch_positions(A, C, cn)
            cnt = np.bincount(pos, minlength=k)
            nz = np.flatnonzero(cnt)
            if not len(nz) or not A.shape[1]:
                continue
            out = {"centroid_id": [], "dim": [], "s": [], "c": []}
            for d_i in range(A.shape[1]):
                w = np.bincount(pos, weights=A[:, d_i], minlength=k)
                out["centroid_id"].append(cids[nz])
                out["dim"].append(np.full(len(nz), d_i, dtype=np.int32))
                out["s"].append(w[nz])
                out["c"].append(cnt[nz].astype(np.int64))
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.concatenate(out[n]))
                 for n in ("centroid_id", "dim", "s", "c")],
                names=["centroid_id", "dim", "s", "c"])

    rows = (corpus.select(F.col(vec).alias("__v"))
            .mapInArrow(gen, "centroid_id long, dim int, s double, c long")
            .groupBy("centroid_id", "dim")
            .agg(F.sum("s").alias("s"), F.sum("c").alias("c"))
            .collect())
    sums: dict[int, dict[int, float]] = {}
    cnts: dict[int, int] = {}
    for r in rows:
        sums.setdefault(int(r["centroid_id"]), {})[int(r["dim"])] = r["s"]
        cnts[int(r["centroid_id"])] = int(r["c"])
    stepped = []
    for cid, old in state:
        if cid in sums:
            dmap, n = sums[cid], cnts[cid]
            stepped.append((cid, [dmap[i] / n for i in range(len(dmap))]))
        else:
            stepped.append((cid, old))
    return stepped


def _pq_lloyd_step(subs: DataFrame, state: list) -> list:
    """One PQ Lloyd iteration with the codebook as DRIVER-side state —
    the pq_train analog of :func:`_kmeans_lloyd_step`: one Arrow pass
    fuses the (sub, code) assignment (exact _pq_batch_positions
    arithmetic) with per-(sub, code) segment sums, replacing the former
    posexplode of corpus·m·d rows through two hash aggregates plus the
    carry-forward join and per-iteration persist.

    Bit-equality as in _kmeans_lloyd_step, with the PQ specifics:
    assignment distances accumulate float32 squared diffs widened to
    double (the _l2sq unroll); the segment sums use the RAW subvector
    values widened to float64 (exactly avg's cast(v as double)); the
    new codeword element is float32(sum/count) — the __ncw FLOAT cast.
    ``state`` is [(sub, code_id, codeword-or-None), ...] sorted by
    (sub, code_id); returns the stepped state."""
    import pyarrow as pa

    mats, ids, null_codes = _pq_codebook_arrays(state)

    def gen(batches):
        for b in batches:
            sub = b.column(0).to_numpy(zero_copy_only=False)
            sv = b.column(1).to_pandas()
            valid = sv.notna().to_numpy()
            out = {"sub": [], "code_id": [], "dim": [], "s": [], "c": []}
            for s in np.unique(sub):
                s = int(s)
                if s not in mats:
                    continue   # the old inner join dropped these rows
                mask = (sub == s) & valid
                if not mask.any():
                    continue
                cid, nc = ids[s], null_codes[s]
                raw = np.stack(sv[mask].to_list())
                if nc.all():
                    # every codeword NULL → every distance NULL → the
                    # old struct ordering picked the lowest code id
                    pos = np.zeros(raw.shape[0], dtype=np.int64)
                else:
                    pos = _pq_batch_positions(
                        raw.astype(np.float32, copy=False), mats[s], nc)
                kk = len(cid)
                cnt = np.bincount(pos, minlength=kk)
                nz = np.flatnonzero(cnt)
                if not len(nz) or not raw.shape[1]:
                    continue
                W = raw.astype(np.float64, copy=False)
                for d_i in range(raw.shape[1]):
                    w = np.bincount(pos, weights=W[:, d_i], minlength=kk)
                    out["sub"].append(np.full(len(nz), s, dtype=np.int32))
                    out["code_id"].append(cid[nz])
                    out["dim"].append(np.full(len(nz), d_i, dtype=np.int32))
                    out["s"].append(w[nz])
                    out["c"].append(cnt[nz].astype(np.int64))
            if out["sub"]:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(np.concatenate(out[n]))
                     for n in ("sub", "code_id", "dim", "s", "c")],
                    names=["sub", "code_id", "dim", "s", "c"])

    rows = (subs.select("sub", "subvec")
            .mapInArrow(gen, "sub int, code_id int, dim int, "
                             "s double, c long")
            .groupBy("sub", "code_id", "dim")
            .agg(F.sum("s").alias("s"), F.sum("c").alias("c"))
            .collect())
    sums: dict[tuple, dict[int, float]] = {}
    cnts: dict[tuple, int] = {}
    for r in rows:
        key = (int(r["sub"]), int(r["code_id"]))
        sums.setdefault(key, {})[int(r["dim"])] = r["s"]
        cnts[key] = int(r["c"])
    stepped = []
    for s, cid, old in state:
        key = (s, cid)
        if key in sums:
            dmap, n = sums[key], cnts[key]
            stepped.append((s, cid,
                            [float(np.float32(dmap[i] / n))
                             for i in range(len(dmap))]))
        else:
            stepped.append((s, cid, old))
    return stepped


def label_centroids(embeddings: DataFrame, label: str = "label",
                    vec: str = "embedding") -> DataFrame:
    """Per-label centroid: posexplode → (label, dim) mean → re-assemble a
    dense array ordered by dimension. The relational form (label, dim,
    mean) is what downstream joins use; the array assembly is for ANN
    seeding. Fully distributed (one explode + one agg)."""
    per_dim = (embeddings
               .select(F.col(label), F.posexplode(F.col(vec)).alias("dim", "val"))
               .groupBy(label, "dim")
               .agg(F.avg("val").alias("mean_val")))
    return (per_dim.groupBy(label)
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "mean_val"))),
                lambda s: s["mean_val"]).alias("centroid")))


def kmeans_centroids(corpus: DataFrame, k: int, iterations: int = 2,
                     vec: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Coarse k-means for IVF: seeds = the k lowest-id vectors
    (deterministic), then Lloyd iterations with the k centroids as
    DRIVER-side state — each iteration is ONE fused Arrow job
    (assignment + per-centroid segment sums, :func:`_kmeans_lloyd_step`)
    over the corpus. Returns (centroid_id, centroid) as a local
    relation (k tiny rows).

    Optimization round 15 (guide §4.2/§2.4): the former in-plan loop ran,
    per iteration, the assignment projection plus a posexplode of
    corpus·d rows through two hash aggregates, a carry-forward join and
    a persist — and every downstream consumer's collect re-read that
    cached chain. Values are bit-equal (see _kmeans_lloyd_step); the
    result schema is array<double> exactly as the old coalesce typing
    produced for every iterated codebook. NOTE the training is EAGER:
    with iterations > 0 the Lloyd jobs run at CALL time (previously they
    ran at the first downstream collect — which assign_to_centroids
    already issued at DataFrame-construction time, so the observable
    contract is unchanged). ``iterations=0`` still returns the lazy seed
    relation (semantic_dedup's SQL-expressible mode depends on it).

    Scale: driver state is k·dim doubles — model-sized; the per-job
    shuffle is ≤ batches·k·d partial rows, never corpus-sized.
    """
    c = corpus.select(F.col(id_col).alias("cid"), F.col(vec).alias("centroid"))
    # k lowest ids via TakeOrderedAndProject (per-partition heaps), then a
    # tiny k-row window for the 0..k-1 numbering — not a full-corpus scan
    # through one task
    from pyspark.sql import Window

    seeds = c.orderBy("cid").limit(k)
    # Input here is <= k rows (post-TakeOrderedAndProject), so a
    # single-partition window is harmless at any corpus scale; the
    # non-foldable constant key keeps the plan identical while silencing
    # Spark's "No Partition Defined" warning so plan audits stay
    # signal-clean (a bare F.lit(0) is constant-folded out of the
    # partition spec inside larger plans, bringing the warning back).
    from clickhouse_clickhouse_spark.operators.grank import single_partition_key
    w = Window.partitionBy(single_partition_key("cid")).orderBy("cid")
    cents = (seeds.withColumn("rn", F.row_number().over(w))
             .select((F.col("rn") - 1).alias("centroid_id"), "centroid"))
    if iterations <= 0:
        return cents
    # empty-cluster carry-forward (round-14 review) lives inside
    # _kmeans_lloyd_step: a centroid no vector chose keeps its previous
    # position instead of vanishing
    state = sorted(((int(r["centroid_id"]),
                     None if r["centroid"] is None
                     else list(r["centroid"]))
                    for r in cents.collect()), key=lambda t: t[0])
    for _ in range(iterations):
        if not state:
            break
        state = _kmeans_lloyd_step(corpus, vec, state)
    return local_frame(
        corpus.sparkSession, [(cid, cw) for cid, cw in state],
        "centroid_id int, centroid array<double>")


def assign_to_centroids(corpus: DataFrame, centroids: DataFrame,
                        vec: str = "embedding", id_col: str = "vec_id",
                        keep_vec: bool = False) -> DataFrame:
    """Nearest-centroid assignment by cosine, as a vectorized numpy
    argmax (optimization round 14).

    EAGER-COLLECT CONTRACT (round-15 advice): building the returned
    DataFrame collects the centroid relation (k rows — model-sized) to
    the driver, so merely CONSTRUCTING the plan runs the centroid
    subtree as a Spark job; errors in it surface at build time, not at
    the first action. Same stance as grank._bucket_bounds and
    _pq_assign — the collected rows parameterize the Arrow kernel.

    The former shape crossJoined the broadcast centroids (corpus × k
    rows, each evaluating an interpreted 64-element dot-product HOF
    fold) and collapsed them with a min_by hash aggregate. The
    centroids are tiny (k rows — they were already broadcast;
    collecting them is the same driver motion), so the argmax now runs
    inside ONE Arrow-batched pandas UDF over the corpus rows: cosines
    to all centroids are (rows × k) float64 array arithmetic, the
    k-fold row explosion never exists, and the result is a projection
    — no aggregate, no exchange. ``keep_vec`` carries the vector
    through, letting callers (kmeans update, semdedup pair build, IVF
    list build) skip re-joining the assignment back to the corpus.

    Bit-equal to the min_by form (differential-verified at sf0.1):
    - dot products and norms accumulate LEFT-ASSOCIATIVELY in double
      over elements cast from their stored type — exactly the
      ``dot_product``/``l2_norm`` fold arithmetic (collected centroid
      cells are the exact doubles Spark held: float32 → double is
      value-preserving, and label_centroids means are double already);
    - ``sim = dot / (vn * cn)`` in that operand order;
    - ``np.argmax`` returns the FIRST maximal index == min_by's
      (-sim, centroid_id) lexicographic tiebreak (centroids laid out
      sorted by centroid_id);
    - degenerate cases follow Spark's ANSI-off arithmetic + struct
      ordering exactly (pinned in tests/test_ann_kernels.py): a ZERO
      denominator makes Spark's division NULL, and NULL sorts FIRST
      under (-sim, ci) — i.e. a zero-norm centroid CAPTURES every row
      (masked to +inf here, ties to the lowest id); a NaN sim (NaN
      input values) sorts LAST as -sim — never chosen (masked to
      -inf); an all-degenerate row falls back to the lowest centroid
      id either way.
    """
    from pyspark.sql.functions import pandas_udf

    crows = centroids.select("centroid_id", "centroid").collect()
    crows.sort(key=lambda r: r["centroid_id"])
    if not crows:
        # old lazy form: crossJoin with an empty broadcast produced an
        # EMPTY assignment — reproduce without crashing the kernel
        cols = [F.col(id_col)] + ([F.col(vec)] if keep_vec else [])
        return (corpus.select(*cols,
                              F.lit(None).cast("int").alias("centroid_id"))
                .filter(F.lit(False)))
    # a NULL centroid (or one with NULL elements) made every sim NULL
    # in the old form, and NULL sorts FIRST under (-sim, ci) — i.e. it
    # CAPTURES rows like a zero-norm centroid does; an all-zeros row
    # reproduces exactly that (denominator 0 → +inf mask inside
    # _centroid_batch_positions)
    cids, C, cn, all_null_cents = _centroid_arrays(
        [(r["centroid_id"], r["centroid"]) for r in crows])

    @pandas_udf("long")
    def _nearest_centroid(v: pd.Series) -> pd.Series:
        out = np.full(len(v), cids[0], dtype=np.int64)
        valid = v.notna().to_numpy()
        if all_null_cents:
            # every sim NULL in the old form → lowest centroid id
            return pd.Series(out)
        if valid.any():
            A = np.stack(v[valid].to_list()).astype(np.float64)
            out[valid] = cids[_centroid_batch_positions(A, C, cn)]
        return pd.Series(out)

    cols = [F.col(id_col)] + ([F.col(vec)] if keep_vec else [])
    assigned = corpus.select(
        *cols, _nearest_centroid(F.col(vec)).alias("centroid_id"))
    # centroid_id stays the integer type row_number produced (the old
    # min_by returned it unchanged); kmeans ids are ints
    return assigned.withColumn("centroid_id",
                               F.col("centroid_id").cast("int"))


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int,
             n_centroids: int = 8, n_probe: int = 2,
             corpus_id: str = "vec_id", corpus_vec: str = "embedding",
             query_id: str = "query_id", query_vec: str = "embedding",
             exclude_self: bool = True) -> DataFrame:
    """IVF ANN: coarse-quantize the corpus into n_centroids inverted lists
    (k-means), score each query only against its n_probe nearest lists.
    At scale the corpus is WRITTEN partitioned by centroid_id, so a probe
    is a partition-pruned scan of n_probe/n_centroids of the data.
    Approximate; recall grows with n_probe."""
    from pyspark.sql import Window

    cents = kmeans_centroids(corpus, n_centroids, iterations=2,
                             vec=corpus_vec, id_col=corpus_id)
    # keep_vec carries the corpus vector through the assignment
    # projection — the former corpus ⋈ lists shuffle join is gone
    # (optimization round 14)
    c = (assign_to_centroids(corpus, cents, vec=corpus_vec,
                             id_col=corpus_id, keep_vec=True)
         .select(F.col(corpus_id).alias("corpus_id"),
                 F.col(corpus_vec).alias("cv"), "centroid_id")
         .withColumn("__cn", l2_norm(F.col("cv"))))
    # queries probe their n_probe closest centroids
    q = queries.select(F.col(query_id).alias("query_id"),
                       F.col(query_vec).alias("qv")) \
               .withColumn("__qn", l2_norm(F.col("qv")))
    qs = (q.crossJoin(F.broadcast(cents))
          .select("query_id", "qv", "__qn", "centroid_id",
                  cosine_similarity(F.col("qv"), F.col("centroid")).alias("csim")))
    wq = Window.partitionBy("query_id").orderBy(F.col("csim").desc(),
                                                F.col("centroid_id"))
    probes = (qs.withColumn("rn", F.row_number().over(wq))
              .filter(F.col("rn") <= n_probe)
              .select("query_id", "qv", "__qn", "centroid_id"))
    joined = c.join(F.broadcast(probes), "centroid_id")
    if exclude_self:
        joined = joined.filter(F.col("corpus_id") != F.col("query_id"))
    scored = joined.select(
        "query_id", "corpus_id",
        F.round(_paired_cosine(F.col("cv"), F.col("qv"),
                               F.col("__cn"), F.col("__qn")),
                6).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               F.col("corpus_id").asc())
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k))


# -- Product quantization (PQ) -------------------------------------------

def _subvectors(df: DataFrame, m: int, dim: int, vec: str,
                id_col: str) -> DataFrame:
    """(id, sub, subvec): each vector sliced into m contiguous blocks of
    dim/m — built as one posexplode of an array-of-slices (no UDF)."""
    d = dim // m
    slices = F.array(*[F.slice(F.col(vec), s * d + 1, d) for s in range(m)])
    return df.select(F.col(id_col),
                     F.posexplode(slices).alias("sub", "subvec"))


def _l2sq(a, b, d: int | None = None):
    """Squared L2 between two float arrays. With ``d`` (the statically
    known width — PQ subvectors are dim/m elements), the sum is
    UNROLLED into plain column arithmetic that whole-stage codegen
    compiles, instead of an interpreted ``aggregate`` fold: the fold
    was the dominant cost of PQ training/encoding (8 M+ evaluations per
    Lloyd iteration at codes=256 — see OPTIMIZATION_r14.md). Bit-equal
    to the fold by construction: each squared difference is computed in
    FLOAT (as ``zip_with`` did), widened to double, and added
    left-associatively from the first term (the fold's ``0.0 + t1``
    is exact, so dropping it changes nothing)."""
    if d is None:
        return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                           F.lit(0.0), lambda acc, v: acc + v)
    terms = []
    for i in range(1, d + 1):
        diff = F.element_at(a, i) - F.element_at(b, i)
        terms.append((diff * diff).cast("double"))
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def l2_normalize(df: DataFrame, vec: str = "embedding") -> DataFrame:
    """Scale each vector to unit L2 norm (pure column ops). On unit
    vectors, squared L2 = 2 − 2·cosine, so PQ's L2-trained codebooks and
    ADC ranking align with the cosine ground truth — the standard
    normalize-before-PQ preparation for cosine retrieval. Cosine itself
    is norm-invariant, so downstream cosine scores are unchanged."""
    n = F.sqrt(F.aggregate(
        F.col(vec), F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double")))
    return df.withColumn(vec, F.transform(
        F.col(vec), lambda x: (x.cast("double") / n).cast("float")))


def _rerank_exact(cands: DataFrame, corpus: DataFrame, queries: DataFrame,
                  k: int, corpus_id: str, corpus_vec: str,
                  query_id: str, query_vec: str) -> DataFrame:
    """Exact-cosine re-rank of an ANN candidate set (FAISS refine /
    upstream MergeTreeIndexVectorSimilarity posting-list rescore): join
    the candidates back to their RAW corpus vectors — at scale a point
    lookup of |candidates| rows, never a corpus scan — and emit the true
    top-k per query by cosine. Output schema matches brute_force_topk
    (query_id, corpus_id, cosine, rk)."""
    cv = corpus.select(F.col(corpus_id).alias("corpus_id"),
                       F.col(corpus_vec).alias("__cv")) \
               .withColumn("__cn", l2_norm(F.col("__cv")))
    qv = queries.select(F.col(query_id).alias("query_id"),
                        F.col(query_vec).alias("__qv")) \
                .withColumn("__qn", l2_norm(F.col("__qv")))
    scored = (cands.select("query_id", "corpus_id")
              .join(cv, "corpus_id")
              .join(F.broadcast(qv), "query_id")
              .select("query_id", "corpus_id",
                      F.round(_paired_cosine(F.col("__cv"), F.col("__qv"),
                                             F.col("__cn"), F.col("__qn")),
                              6).alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               F.col("corpus_id").asc())
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k))


def pq_train(corpus: DataFrame, *, m: int = 8, codes: int = 16, dim: int,
             iterations: int = 2, vec: str = "embedding",
             id_col: str = "vec_id") -> DataFrame:
    """Train a product-quantization codebook: m independent sub-space
    k-means (squared-L2 Lloyd), the codebook as DRIVER-side state — each
    iteration is ONE fused Arrow job (assignment + per-(sub, code)
    segment sums, :func:`_pq_lloyd_step`) over the subvector relation.
    Returns (sub, code_id, codeword) as a local relation (m·codes tiny
    rows).

    Seeds are the subvectors of the ``codes`` lowest-id corpus rows
    (deterministic, TakeOrderedAndProject — no full scan through one
    task). Optimization round 15 (guide §4.2/§2.4): the former in-plan
    loop posexploded corpus·m·d rows through two hash aggregates plus a
    carry-forward join and a persist per iteration; values are bit-equal
    (see _pq_lloyd_step) and the empty-cluster carry-forward (round-14
    review — the positional ADC lookup needs a DENSE code_id space)
    lives inside the step. NOTE training is EAGER for iterations > 0
    (the Lloyd jobs run at call time — previously they ran at the first
    downstream collect, which _pq_assign already issued at
    DataFrame-construction time, so the observable contract is
    unchanged); ``iterations=0`` still returns the lazy seed relation.
    Embeddings must be float or double arrays (the only element types
    whose iterated-codebook schema the old coalesce typing produced;
    loudly refused rather than silently diverged)."""
    from pyspark.sql.types import DoubleType, FloatType

    subs = _subvectors(corpus, m, dim, vec, id_col)
    seed_ids = corpus.select(id_col).orderBy(id_col).limit(codes)
    from pyspark.sql import Window
    w = Window.partitionBy("sub").orderBy(id_col)
    cb = (subs.join(F.broadcast(seed_ids), id_col)
          .withColumn("code_id", F.row_number().over(w) - 1)
          .select("sub", "code_id", F.col("subvec").alias("codeword")))
    if iterations <= 0:
        return cb
    elem = subs.schema["subvec"].dataType.elementType
    if isinstance(elem, FloatType):
        et = "float"
    elif isinstance(elem, DoubleType):
        et = "double"
    else:
        raise ValueError(
            f"pq_train: unsupported embedding element type {elem} — "
            "float or double arrays only")
    state = sorted(((int(r["sub"]), int(r["code_id"]),
                     None if r["codeword"] is None
                     else list(r["codeword"]))
                    for r in cb.collect()), key=lambda t: (t[0], t[1]))
    for _ in range(iterations):
        if not state:
            break
        state = _pq_lloyd_step(subs, state)
    return local_frame(
        corpus.sparkSession, [(s, c, cw) for s, c, cw in state],
        f"sub int, code_id int, codeword array<{et}>")


def _pq_assign(subs: DataFrame, codebook: DataFrame,
               id_col: str, d: int | None = None,
               keep_subvec: bool = False) -> DataFrame:
    """Nearest codeword per (id, sub) row, as a vectorized numpy argmin.
    ``keep_subvec`` carries the subvector through (the assignment is a
    projection now, not an aggregate), letting pq_train's update step
    skip re-joining the assignment back to the subvectors.

    EAGER-COLLECT CONTRACT (round-15 advice): building the returned
    DataFrame collects the codebook (m·codes rows — model-sized) to the
    driver at plan-CONSTRUCTION time; see assign_to_centroids.

    KNOWN DIVERGENCE (round-15 advice, unreachable via pq_train whose
    coalesce carry-forward keeps codewords non-null): when a NULL
    CODEWORD coexists with a subvector containing NULL elements, the
    old SQL form had every distance NULL and min_by picked the lowest
    code id overall, while the kernel picks the lowest NULL-codeword id
    (the NULL-element row arrives as NaN through Arrow, and the NaN
    path — which the kernel replays exactly, matching the SQL NaN
    semantics — lets the -inf NULL-codeword column win). The two
    sub-cases (NULL element vs NaN element) are indistinguishable after
    the Arrow conversion, so replaying both is impossible; the kernel
    replays the NaN semantics and this note pins the delta.

    The former shape exploded to (id, sub) × codes rows (broadcast
    join) and ran the unrolled L2 + a min_by hash aggregate over them —
    corpus·m·codes rows of codegen arithmetic and aggregate state
    (8.2 M rows per call at the tuned m=16/codes=256 settings on the
    2 k-row sf0.1 fixture, and training + encode run it 3-4 times per
    query). The codebook is tiny (m·codes rows — it was already
    broadcast; collecting it is the same driver motion), so the argmin
    now runs inside ONE Arrow-batched pandas UDF over the corpus·m
    subvector rows: distances to all codewords are (rows × codes)
    array arithmetic, codes-fold fewer rows ever exist, and the result
    is a projection — no aggregate, no exchange.

    Bit-equal to the min_by form (differential-verified over the full
    sf0.1 trajectory — seed assignment, trained codebook, encodings):

    - each squared difference is computed in FLOAT32 and widened to
      double, accumulated LEFT-ASSOCIATIVELY over the d elements —
      exactly the unrolled ``_l2sq`` arithmetic;
    - ``np.argmin`` returns the FIRST minimal index == min_by's
      (distance, code_id) lexicographic tiebreak (codewords are laid
      out sorted by code_id);
    - NaN distances sort HIGHEST under Spark's double ordering, so
      they are masked to +inf before the argmin; all-NaN / NULL rows
      fall back to the lowest code id, the old struct-ordering result.
    """
    from pyspark.sql.functions import pandas_udf

    rows = codebook.select("sub", "code_id", "codeword").collect()
    mats, ids, null_codes = _pq_codebook_arrays(rows)
    # rows whose sub has no codebook entry were DROPPED by the old
    # inner broadcast join — reproduce with a pre-filter
    if mats:
        subs = subs.filter(F.col("sub").isin([int(s) for s in mats]))
    else:
        subs = subs.filter(F.lit(False))

    @pandas_udf("int")
    def _nearest(sub: pd.Series, sv: pd.Series) -> pd.Series:
        out = np.zeros(len(sub), dtype=np.int32)
        subv = sub.to_numpy()
        valid = sv.notna().to_numpy()
        for s in np.unique(subv):
            cid = ids[int(s)]
            sel = subv == s
            mask = sel & valid
            rest = sel & ~valid
            if rest.any():
                out[rest] = cid[0]
            if not mask.any():
                continue
            nc = null_codes[int(s)]
            if nc.all():
                # every codeword NULL → every distance NULL → the old
                # struct ordering picked the lowest code id
                out[mask] = cid[0]
                continue
            A = np.stack(sv[mask].to_list()).astype(np.float32,
                                                    copy=False)
            out[mask] = cid[_pq_batch_positions(A, mats[int(s)], nc)]
        return pd.Series(out)

    cols = [id_col, "sub"] + (["subvec"] if keep_subvec else [])
    return subs.select(*cols,
                       _nearest(F.col("sub"), F.col("subvec"))
                       .alias("code_id"))


def _adc_table(qsubs: DataFrame, cb: DataFrame, qid: str,
               d: int | None = None) -> DataFrame:
    """Per-query nested ADC lookup table: qtab[sub][code] = squared L2
    of the query subvector to that codeword. Rows are positionally
    indexed by code_id — safe because pq_train keeps the codebook
    DENSE (empty-cluster carry-forward). Shared by pq_topk and
    ivf_pq_topk (previously duplicated verbatim, round-14 review)."""
    return (qsubs.join(F.broadcast(cb), "sub")
            .select(qid, "sub", "code_id",
                    _l2sq(F.col("subvec"), F.col("codeword"), d).alias("d"))
            .groupBy(qid, "sub")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("code_id", "d"))),
                lambda s: s["d"]).alias("row"))
            .groupBy(qid)
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "row"))),
                lambda s: s["row"]).alias("qtab")))


def pq_encode(corpus: DataFrame, codebook: DataFrame, *, m: int, dim: int,
              vec: str = "embedding", id_col: str = "vec_id",
              passthrough: tuple = ()) -> DataFrame:
    """(id, codes): each vector reduced to m small ints — the 100 TB
    storage form (m bytes/vector at codes<=256 vs 4*dim).

    One fused Arrow pass (optimization round 15, guide §4.2): all m
    subspaces are sliced and assigned inside a single mapInArrow — the
    former posexplode to corpus·m rows, per-row kernel, and groupBy +
    collect_list/array_sort RE-ASSEMBLY (a full corpus shuffle) never
    exist. Codes are the identical ints in the identical sub-ascending
    order (_pq_batch_positions is the same assignment arithmetic; the
    old array_sort ordered by the struct's leading ``sub``). Subspaces
    absent from the codebook are skipped (the old inner join dropped
    their rows before the collect). ``passthrough`` columns ride along
    unchanged, letting ivf_pq_topk chain the coarse assignment through
    instead of re-joining the corpus to itself. Ids are treated as row
    identities (unique by contract — the old groupBy-on-id form merged
    duplicate ids into one interleaved codes row, which no caller
    wants); NULL vectors encode to each subspace's lowest code id,
    exactly as the old NULL-subvec kernel rows did."""
    import pyarrow as pa

    rows = codebook.select("sub", "code_id", "codeword").collect()
    mats, ids, null_codes = _pq_codebook_arrays(rows)
    d = dim // m
    sub_list = sorted(mats)
    id_t = corpus.schema[id_col].dataType.simpleString()
    pt_t = [f"{c} {corpus.schema[c].dataType.simpleString()}"
            for c in passthrough]
    out_schema = ", ".join([f"{id_col} {id_t}", "codes array<int>"] + pt_t)
    base = corpus.select(id_col, vec, *passthrough)
    if not sub_list:
        # empty codebook: the old inner join emptied the assignment and
        # the groupBy produced zero rows
        return local_frame(base.sparkSession, [], out_schema)

    def gen(batches):
        for b in batches:
            vcol = b.column(1).to_pandas()
            n = len(vcol)
            valid = vcol.notna().to_numpy()
            codes = np.zeros((n, len(sub_list)), dtype=np.int32)
            lists = vcol[valid].to_list()
            lens = {len(x) for x in lists}
            V = np.stack(lists) if len(lens) == 1 and lists else None
            for j, s in enumerate(sub_list):
                cid, nc = ids[s], null_codes[s]
                codes[:, j] = cid[0]
                if nc.all() or not lists:
                    continue   # all-NULL codewords → lowest code id
                if V is not None:
                    A = V[:, s * d:s * d + d]
                else:   # ragged vectors: per-row F.slice semantics
                    A = np.stack([x[s * d:s * d + d] for x in lists])
                codes[valid, j] = cid[_pq_batch_positions(
                    A.astype(np.float32, copy=False), mats[s], nc)]
            arrs = [b.column(0),
                    pa.ListArray.from_arrays(
                        pa.array(np.arange(0, (n + 1) * len(sub_list),
                                           len(sub_list), dtype=np.int32)),
                        pa.array(codes.ravel()))]
            for i in range(len(passthrough)):
                arrs.append(b.column(2 + i))
            yield pa.RecordBatch.from_arrays(
                arrs, names=[id_col, "codes", *passthrough])

    return base.mapInArrow(gen, out_schema)


def _adc_sum(qtab, codes, m: int):
    """Unrolled ADC lookup sum (optimization round 15): the former
    ``aggregate(sequence(0, m-1), 0.0, acc + qtab[s][codes[s]])`` was an
    interpreted HOF fold evaluated once per (corpus × query) row — the
    explosive relation. The unroll is the identical left-associative
    ``0.0 + t0 + ... + t(m-1)`` double chain (bit-equal, NULL propagates
    the same), as plain column arithmetic whole-stage codegen compiles —
    the _l2sq precedent (round 14) applied to the ADC scorer."""
    out = F.lit(0.0)
    for s in range(m):
        out = out + F.element_at(F.element_at(qtab, s + 1),
                                 F.element_at(codes, s + 1) + 1)
    return out


def pq_topk(corpus: DataFrame, queries: DataFrame, k: int, *, m: int = 8,
            codes: int = 16, dim: int, iterations: int = 2,
            normalize: bool = False, rerank: int = 0,
            corpus_id: str = "vec_id", corpus_vec: str = "embedding",
            query_id: str = "query_id", query_vec: str = "embedding",
            exclude_self: bool = True) -> DataFrame:
    """PQ ANN top-k by asymmetric distance (ADC): exact query subvectors
    against quantized corpus codes. Per query, distances to the m*codes
    codewords form a lookup table; a corpus row's distance is m table
    lookups summed — pure JVM expression over the broadcast tables, NO
    per-query shuffle of the corpus (the only corpus-wide exchange is
    the final per-query top-k window, on hit rows only after rank
    pruning). Approximate; quality grows with m and codes.

    Production knobs (round 10): ``normalize=True`` unit-normalizes both
    sides so L2 codebooks/ADC rank by cosine; ``rerank=C`` (C > k) keeps
    the top-C ADC candidates and re-scores them by EXACT cosine against
    the raw corpus vectors (a |C|-row point lookup at scale — the FAISS
    refine / upstream vector-index rescore step). With both, the output
    is exact top-k as long as the true neighbors survive into the ADC
    top-C; RECALL.md records 1.0 at the tuned parameterization.
    """
    from pyspark.sql import Window

    raw_corpus, raw_queries = corpus, queries
    if normalize:
        corpus = l2_normalize(corpus, corpus_vec)
        queries = l2_normalize(queries, query_vec)
    cb = pq_train(corpus, m=m, codes=codes, dim=dim, iterations=iterations,
                  vec=corpus_vec, id_col=corpus_id)
    enc = pq_encode(corpus, cb, m=m, dim=dim, vec=corpus_vec,
                    id_col=corpus_id)
    qsubs = _subvectors(
        queries.select(F.col(query_id), F.col(query_vec).alias("__qv")),
        m, dim, "__qv", query_id)
    qtab = _adc_table(qsubs, cb, query_id, d=dim // m)
    hits = (enc.withColumnRenamed(corpus_id, "corpus_id")
            .crossJoin(F.broadcast(qtab)))
    if exclude_self:
        hits = hits.filter(F.col("corpus_id") != F.col(query_id))
    scored = (hits
              .select(query_id, "corpus_id",
                      F.round(_adc_sum(F.col("qtab"), F.col("codes"), m),
                              6).alias("adc_dist")))
    w = Window.partitionBy(query_id).orderBy("adc_dist", "corpus_id")
    if rerank:
        if rerank < k:
            raise ValueError(f"pq_topk: rerank={rerank} must be >= k={k}")
        cands = (scored.withColumn("rank", F.row_number().over(w))
                 .filter(F.col("rank") <= rerank)
                 .withColumnRenamed(query_id, "query_id"))
        return _rerank_exact(cands, raw_corpus, raw_queries, k,
                             corpus_id, corpus_vec, query_id, query_vec)
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def ivf_pq_topk(corpus: DataFrame, queries: DataFrame, k: int, *,
                n_centroids: int = 8, n_probe: int = 2, m: int = 8,
                codes: int = 16, dim: int, iterations: int = 2,
                normalize: bool = False, rerank: int = 0,
                corpus_id: str = "vec_id", corpus_vec: str = "embedding",
                query_id: str = "query_id", query_vec: str = "embedding",
                exclude_self: bool = True) -> DataFrame:
    """IVF-PQ — the standard billion-scale ANN composition: the IVF
    coarse quantizer prunes the corpus to n_probe/n_centroids of its
    inverted lists, then PQ ADC scores only those candidates (no
    residual encoding — codes are trained on the raw vectors, the
    simpler FAISS ``IVFx,PQy`` non-residual variant, documented).

    At scale the corpus is stored partitioned by centroid_id with the
    m-byte PQ codes as columns: a query touches n_probe partitions and
    never reads the raw vectors.

    ``normalize``/``rerank`` as in pq_topk: unit-normalize for cosine
    alignment; re-score the top-C ADC candidates by exact cosine (with
    rerank the raw vectors of ONLY the C candidates are fetched —
    n_probe partition pruning still bounds the scan).
    """
    from pyspark.sql import Window

    raw_corpus, raw_queries = corpus, queries
    if normalize:
        corpus = l2_normalize(corpus, corpus_vec)
        queries = l2_normalize(queries, query_vec)
    # The coarse quantizer and the PQ codebook are INDEPENDENT trainings
    # in this non-residual variant (both consume the raw/normalized
    # vectors, neither reads the other's output), and both are eager
    # sequential Lloyd jobs — run them from a 2-thread pool so the
    # second model's jobs back-fill the idle cluster during the first
    # one's single-task tails (guide §2.6; optimization round 15:
    # ann_ivf_pq_topk job chain is otherwise fully serial). Training is
    # deterministic, so results are unchanged.
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=2) as _pool:
        _fc = _pool.submit(kmeans_centroids, corpus, n_centroids,
                           iterations=iterations, vec=corpus_vec,
                           id_col=corpus_id)
        _fb = _pool.submit(pq_train, corpus, m=m, codes=codes, dim=dim,
                           iterations=iterations, vec=corpus_vec,
                           id_col=corpus_id)
        cents, cb = _fc.result(), _fb.result()
    # the coarse assignment and the PQ encoding are both per-row
    # PROJECTIONS — chaining them (assignment rides through pq_encode's
    # passthrough) deletes the former ``enc ⋈ lists`` corpus self-join,
    # a full shuffle of the corpus on ids (optimization round 15,
    # guide §2.4)
    lists = assign_to_centroids(corpus, cents, vec=corpus_vec,
                                id_col=corpus_id, keep_vec=True)
    enc = (pq_encode(lists, cb, m=m, dim=dim, vec=corpus_vec,
                     id_col=corpus_id, passthrough=("centroid_id",))
           .withColumnRenamed(corpus_id, "corpus_id"))

    q = queries.select(F.col(query_id), F.col(query_vec).alias("__qv"))
    qs = (q.crossJoin(F.broadcast(cents))
          .select(query_id, "__qv", "centroid_id",
                  cosine_similarity(F.col("__qv"),
                                    F.col("centroid")).alias("csim")))
    wq = Window.partitionBy(query_id).orderBy(F.col("csim").desc(),
                                              F.col("centroid_id"))
    probes = (qs.withColumn("rn", F.row_number().over(wq))
              .filter(F.col("rn") <= n_probe)
              .select(query_id, "__qv", "centroid_id"))

    qsubs = _subvectors(probes.select(query_id, "__qv").distinct(),
                        m, dim, "__qv", query_id)
    qtab = _adc_table(qsubs, cb, query_id, d=dim // m)

    cand = (enc.join(F.broadcast(probes.select(query_id, "centroid_id")),
                     "centroid_id")
            .join(F.broadcast(qtab), query_id))
    if exclude_self:
        cand = cand.filter(F.col("corpus_id") != F.col(query_id))
    scored = cand.select(
        query_id, "corpus_id",
        F.round(_adc_sum(F.col("qtab"), F.col("codes"), m), 6)
        .alias("adc_dist"))
    w = Window.partitionBy(query_id).orderBy("adc_dist", "corpus_id")
    if rerank:
        if rerank < k:
            raise ValueError(
                f"ivf_pq_topk: rerank={rerank} must be >= k={k}")
        cands = (scored.withColumn("rank", F.row_number().over(w))
                 .filter(F.col("rank") <= rerank)
                 .withColumnRenamed(query_id, "query_id"))
        return _rerank_exact(cands, raw_corpus, raw_queries, k,
                             corpus_id, corpus_vec, query_id, query_vec)
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def production_knobs(n: int) -> dict:
    """Corpus-scaled ANN parameterization (the production contract,
    RECALL.md): recall at FIXED knobs degrades as the corpus grows
    (measured round 11: PQ rerank=20 gives 1.000 recall@5 at 60k rows
    but 0.800 at 10x), so the rescore set and inverted-list count must
    grow with n:
      rerank ~ n / 1500   (exact-cosine rescore; cost per QUERY)
      lists  ~ sqrt(n)/16 (classic IVF sqrt rule), probe ~ 3/8 lists.
    Shared by tools/scale_ann.py (the soak harness) and
    ann_scaled_recall_gate (the per-round sweep gate) so the contract
    the gate checks is the contract the soak validated."""
    return {
        "rerank_pq": max(40, n // 1500),
        "rerank_ivfpq": max(80, n // 750),
        "lists": max(8, round(n ** 0.5 / 16)),
        "probe": max(6, round(n ** 0.5 / 16 * 3 / 8)),
    }
