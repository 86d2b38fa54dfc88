"""Round-13 advisor findings — regression pins.

1. _wrap_order_rewrite must REFUSE (not silently hoist) when a
   LIMIT BY / DISTINCT ON key or ORDER BY expression over a SELECT
   DISTINCT body is outside the DISTINCT select list — hoisting widens
   the dedup key set (upstream refuses such ORDER BY columns).
2. _expand_sql_udfs must splice all parameters simultaneously: an
   argument whose text contains a later parameter's name must not be
   macro-captured (f AS (x, y) -> x + y called as f(y, 2)).
3. arrayNormalizedGini's internal sort must be TOTAL (key DESC, other
   field ASC) so equal predicted keys with different labels cannot
   leak COLLECT_LIST shuffle order into the cumsum.
4. QUALIFY / LIMIT n BY / DISTINCT ON must translate in EVERY union
   branch, each wrap confined to its own branch.
5. nested() must return NULL when any input array is NULL (the
   ARRAYS_ZIP contract) — GREATEST skips NULL sizes, so the old form
   NULL-padded to the other arrays' size.
"""

import pytest


def test_distinct_body_hoist_refuses():
    from clickhouse_clickhouse_spark.ch_sql import translate

    with pytest.raises(ValueError, match="DISTINCT select list"):
        translate("SELECT DISTINCT a FROM t ORDER BY b LIMIT 1 BY a")
    with pytest.raises(ValueError, match="DISTINCT select list"):
        translate("SELECT DISTINCT a FROM t ORDER BY b + 1 LIMIT 2 BY a")
    # DISTINCT ON rewrites into a NON-distinct LIMIT 1 BY, where
    # hoisting an outside ORDER BY key is semantically safe (it only
    # picks the survivor) — must NOT refuse
    out = translate("SELECT DISTINCT ON (a) a FROM t ORDER BY b + 1")
    assert "__ch_ob0" in out
    # projected keys / ORDER BY stay fine over DISTINCT
    out = translate("SELECT DISTINCT a, b FROM t ORDER BY b LIMIT 1 BY a")
    assert "__ch_rn" in out and "__ch_ob" not in out


def test_sql_udf_simultaneous_splice(spark):
    import clickhouse_clickhouse_spark.ch_sql as cs

    cs.ch_statement(spark, "CREATE FUNCTION __r13fxy AS (x, y) -> x + y * x")
    try:
        out = cs._expand_sql_udfs("SELECT __r13fxy(y, 2) FROM t")
        # the caller's column y must survive; only params rewrite
        assert "(y) + (2) * (y)" in out
        out = cs._expand_sql_udfs("SELECT __r13fxy(y, x) FROM t")
        assert "(y) + (x) * (y)" in out
    finally:
        cs.ch_statement(spark, "DROP FUNCTION __r13fxy")


def test_union_branch_clause_rewrites(spark):
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    spark.sql("SELECT * FROM VALUES (1, 'a'), (1, 'b'), (2, 'c') "
              "AS t(k, v)").createOrReplaceTempView("r13_t")
    spark.sql("SELECT * FROM VALUES (3, 'x'), (3, 'y'), (4, 'z') "
              "AS u(k, v)").createOrReplaceTempView("r13_u")

    # QUALIFY in BOTH branches, each confined to its own branch
    rows = ch_sql(spark, """
        SELECT k, v, row_number() OVER (PARTITION BY k ORDER BY v) rn
        FROM r13_t QUALIFY rn = 1
        UNION ALL
        SELECT k, v, row_number() OVER (PARTITION BY k ORDER BY v) rn
        FROM r13_u QUALIFY rn = 1""").collect()
    got = sorted((r.k, r.v) for r in rows)
    assert got == [(1, "a"), (2, "c"), (3, "x"), (4, "z")]

    # LIMIT BY in both branches
    rows = ch_sql(spark, """
        SELECT k, v FROM r13_t ORDER BY v LIMIT 1 BY k
        UNION ALL
        SELECT k, v FROM r13_u ORDER BY v LIMIT 1 BY k""").collect()
    got = sorted((r.k, r.v) for r in rows)
    assert got == [(1, "a"), (2, "c"), (3, "x"), (4, "z")]

    # DISTINCT ON in the FIRST branch must not dedup the union
    rows = ch_sql(spark, """
        SELECT DISTINCT ON (k) k FROM r13_t
        UNION ALL SELECT k FROM r13_u""").collect()
    ks = sorted(r.k for r in rows)
    assert ks == [1, 2, 3, 3, 4]

    # star-EXCEPT is not a set operator: the branch scanner must not
    # split mid-select-list, and the query must run
    from clickhouse_clickhouse_spark.ch_sql import _branch_start
    assert _branch_start(
        "SELECT * EXCEPT(v) FROM t LIMIT 1 BY k", 30) == 0
    assert _branch_start(
        "SELECT a FROM t EXCEPT SELECT a FROM u QUALIFY x", 40) > 0
    rows = ch_sql(spark,
                  "SELECT * EXCEPT(v) FROM r13_t LIMIT 1 BY k"
                  ).collect()
    assert sorted(r.k for r in rows) == [1, 2]


def test_gini_tie_break_is_shuffle_stable(spark):
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    # equal predicted keys carrying DIFFERENT labels: any permutation
    # of the input pairs must give the same gini tuple
    base = [(0.5, 1.0), (0.5, 0.0), (0.5, 3.0), (0.2, 2.0),
            (0.9, 0.0), (0.9, 5.0)]
    import itertools
    seen = set()
    for perm in list(itertools.permutations(base))[:24:5] + [
            tuple(base), tuple(reversed(base))]:
        ps = ", ".join(str(p) for p, _ in perm)
        ls = ", ".join(str(l) for _, l in perm)
        row = ch_sql(spark, f"""
            SELECT round(arrayNormalizedGini(
                       [{ps}], [{ls}])._3, 10) AS ng""").collect()[0]
        seen.add(row.ng)
    assert len(seen) == 1, f"permutation-dependent gini: {seen}"


def test_gini_docs_example_still_pinned(spark):
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    row = ch_sql(spark, """
        SELECT arrayNormalizedGini([0.9, 0.3, 0.8, 0.7],
                                   [6, 1, 0, 2]) AS g""").collect()[0]
    assert abs(row.g._1 - 0.18055555555555558) < 1e-12
    assert abs(row.g._2 - 0.2638888888888889) < 1e-12
    assert abs(row.g._3 - 0.6842105263157896) < 1e-12


def test_nested_null_in_null_out(spark):
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    rows = ch_sql(spark, """
        SELECT nested(['k', 'v'], CAST(NULL AS ARRAY<INT>),
                      ARRAY(1, 2)) AS n1,
               nested(['k', 'v'], ARRAY(1), ARRAY('a', 'b')) AS n2,
               nested(['k'], CAST(ARRAY() AS ARRAY<INT>)) AS n3
        """).collect()
    r = rows[0]
    assert r.n1 is None
    assert [(x.k, x.v) for x in r.n2] == [(1, "a"), (None, "b")]
    assert r.n3 == []


def test_siphash128_vectors_and_legacy_inheritance(spark):
    """Round-13 item: sipHash128 family (former refusals).

    - reference variant == published vectors_sip128 (first four, key
      bytes 00..0f, inputs 0..n-1 bytes);
    - legacy get128: XOR of the 16-byte digest's two LE-u64 halves ==
      the paper-vector-pinned sipHash64 (the [U] src/Common/SipHash.h
      construction), so the legacy form inherits the 64-bit pins;
    - Spark-side dialect wiring returns the same hex as the python
      kernel."""
    import struct

    from clickhouse_clickhouse_spark.ch_sql import ch_sql
    from clickhouse_clickhouse_spark.functions.hashing import (
        siphash64_py, siphash128_py)

    k0, k1 = 0x0706050403020100, 0x0F0E0D0C0B0A0908
    vectors = [
        "a3817f04ba25a8e66df67214c7550293",
        "da87c1d86b99af44347659119b22fc45",
        "8177228da4a45dc7fca38bdef60affe4",
        "9c70b60c5267a94e5f33b6b02985ed51",
    ]
    for n, want in enumerate(vectors):
        got = siphash128_py(bytes(range(n)), k0, k1,
                            reference=True).hex()
        assert got == want, f"vectors_sip128[{n}]"

    for s in [b"", b"a", b"hello world", bytes(range(100)) * 3]:
        lo, hi = struct.unpack("<QQ", siphash128_py(s))
        assert (lo ^ hi) == siphash64_py(s)

    row = ch_sql(spark, f"""
        SELECT sipHash128('hello world') AS legacy,
               sipHash128Reference('hello world') AS ref,
               sipHash128Keyed(({k0}, {k1}), 'hello world') AS leg_k,
               sipHash128ReferenceKeyed(({k0}, {k1}),
                                        'hello world') AS ref_k
        """).collect()[0]
    assert row.legacy == siphash128_py(b"hello world").hex()
    assert row.ref == siphash128_py(b"hello world",
                                    reference=True).hex()
    assert row.leg_k == siphash128_py(b"hello world", k0, k1).hex()
    assert row.ref_k == siphash128_py(b"hello world", k0, k1,
                                      reference=True).hex()


def test_series_decompose_stl_recovery(spark):
    """Round-13 item: seriesDecomposeSTL (former refusal). Component
    recovery on a synthetic series with KNOWN parts — seasonal/trend
    correlation with the truth > 0.99 — plus exact reconstruction and
    the 4-array upstream convention, end-to-end through the dialect."""
    import math

    import numpy as np

    from clickhouse_clickhouse_spark.ch_sql import ch_sql
    from clickhouse_clickhouse_spark.functions.series import (
        stl_decompose_py)

    n, p = 72, 12
    t = np.arange(n)
    true_seas = 3 * np.sin(2 * np.pi * t / p)
    true_trend = 0.5 * t + 10
    y = true_seas + true_trend + 0.1 * np.cos(t * 1.7)

    out = stl_decompose_py(y.tolist(), p)
    s, tr, r, b = map(np.array, out)
    assert np.abs(y - (s + tr + r)).max() < 1e-9
    assert np.corrcoef(s, true_seas)[0, 1] > 0.99
    assert np.corrcoef(tr, true_trend)[0, 1] > 0.999
    assert np.abs(b - (s + tr)).max() == 0.0

    # upstream-rejected shapes -> NULL (period < 2, < 2 periods, NaN)
    assert stl_decompose_py([1.0, 2.0, 3.0], 12) is None
    assert stl_decompose_py(y.tolist(), 1) is None
    bad = y.tolist()
    bad[3] = float("nan")
    assert stl_decompose_py(bad, p) is None

    vals = ", ".join(f"{v!r}" for v in y.tolist())
    row = ch_sql(spark, f"""
        SELECT seriesDecomposeSTL([{vals}], {p}) AS c""").collect()[0]
    assert len(row.c) == 4 and all(len(a) == n for a in row.c)
    for i in range(n):
        assert math.isclose(row.c[0][i] + row.c[1][i] + row.c[2][i],
                            y[i], rel_tol=0, abs_tol=1e-9)


def test_jump_consistent_hash_paper_properties(spark):
    """Round-13 former refusal: jumpConsistentHash. The pure kernel is
    the Lamport-Veach 2014 paper code verbatim; pins: range, the
    minimal-disruption law (growing n never moves a key to a non-new
    bucket), near-uniform spread, and dialect == kernel parity."""
    import random

    from clickhouse_clickhouse_spark.ch_sql import ch_sql
    from clickhouse_clickhouse_spark.functions.hashing import (
        jump_consistent_hash_py as jch)

    rng = random.Random(13)
    keys = [rng.getrandbits(64) for _ in range(3000)]
    for n in (1, 2, 7, 64, 1000):
        assert all(0 <= jch(k, n) < n for k in keys)
    assert all(jch(k, 11) in (jch(k, 10), 10) for k in keys)
    from collections import Counter
    c = Counter(jch(k, 8) for k in keys)
    assert max(c.values()) < 1.25 * min(c.values())

    rows = ch_sql(spark, """
        SELECT xxHash64(CAST(number AS String)) AS k,
               jumpConsistentHash(xxHash64(CAST(number AS String)),
                                  1000) AS b
        FROM numbers(64)""").collect()
    for r in rows:
        assert r.b == jch(r.k & ((1 << 64) - 1), 1000)


def test_ulid_generate_and_decode(spark):
    """generateULID / ULIDStringToDateTime (former refusals): 26-char
    Crockford form, decode == an independent python Crockford decode,
    timestamp ~ now, malformed input -> NULL, tz variant shifts
    presentation only."""
    import time

    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    now = time.time()
    rows = ch_sql(spark, """
        SELECT generateULID() AS u,
               ULIDStringToDateTime(generateULID()) AS ut,
               ULIDStringToDateTime('definitely-not-a-ulid!!!!!') AS bad
        FROM numbers(20)""").collect()
    alphabet = "0123456789ABCDEFGHJKMNPQRSTVWXYZ"
    assert len({r.u for r in rows}) == 20
    for r in rows:
        assert len(r.u) == 26 and all(ch in alphabet for ch in r.u)
        ms = 0
        for ch in r.u[:10]:
            ms = ms * 32 + alphabet.index(ch)
        assert abs(ms / 1000.0 - now) < 300
        assert abs(r.ut.timestamp() - now) < 300
        assert r.bad is None


def test_group_max_marker_shapes(spark):
    """_apply_group_max (the EMA/decayed two-phase rewrite, round 13)
    across adversarial query shapes: CTE body, derived table, HAVING,
    two distinct time expressions (two window columns), whole-table
    aggregate, union branches, WHERE-before-anchor (the anchor must see
    only the filtered rows), and a GROUP BY that references a select
    ALIAS (resolved to its expression inside the injected subquery).
    Expectations are closed-form hand calculations."""
    import math

    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    spark.sql("SELECT * FROM VALUES (1, 10.0, 1.0), (1, 20.0, 2.0), "
              "(2, 30.0, 3.0), (2, 40.0, 100.0) AS t(g, v, t)"
              ).createOrReplaceTempView("gm13_t")

    g1 = 10.0 * math.exp((1 - 2) / 10.0) + 20.0
    g2 = 30.0 * math.exp((3 - 100) / 10.0) + 40.0

    rows = ch_sql(spark, """
        WITH base AS (SELECT g, exponentialTimeDecayedSum(10)(v, t) AS s
                      FROM gm13_t GROUP BY g)
        SELECT g, round(s, 6) AS s FROM base ORDER BY g""").collect()
    assert [(r.g, r.s) for r in rows] == [
        (1, round(g1, 6)), (2, round(g2, 6))]

    rows = ch_sql(spark, """
        SELECT g FROM gm13_t GROUP BY g
        HAVING exponentialTimeDecayedCount(10)(t) > 1.0
        ORDER BY g""").collect()
    assert [r.g for r in rows] == [1, 2]

    rows = ch_sql(spark, """
        SELECT g, round(exponentialTimeDecayedSum(10)(v, t), 6) AS a,
               round(exponentialTimeDecayedSum(10)(v, t / 2), 6) AS b
        FROM gm13_t GROUP BY g ORDER BY g""").collect()
    assert rows[0].a == round(g1, 6)
    assert rows[0].b == round(10.0 * math.exp((0.5 - 1) / 10.0) + 20.0, 6)

    # WHERE runs BEFORE the anchor: group 2 keeps only t=3 -> exactly v
    rows = ch_sql(spark, """
        SELECT g, round(exponentialTimeDecayedSum(10)(v, t), 6) AS s
        FROM gm13_t WHERE t < 50 GROUP BY g ORDER BY g""").collect()
    assert rows[1].s == 30.0

    # alias GROUP BY resolves to its expression inside the subquery
    rows = ch_sql(spark, """
        SELECT g + 0 AS gg,
               round(exponentialTimeDecayedSum(10)(v, t), 6) AS s
        FROM gm13_t GROUP BY gg ORDER BY gg""").collect()
    assert [(r.gg, r.s) for r in rows] == [
        (1, round(g1, 6)), (2, round(g2, 6))]

    # union branches rewrite independently
    rows = ch_sql(spark, """
        SELECT round(exponentialTimeDecayedMax(10)(v, t), 6) AS x
        FROM gm13_t
        UNION ALL
        SELECT round(exponentialTimeDecayedMax(20)(v, t), 6) AS x
        FROM gm13_t""").collect()
    assert [r.x for r in rows] == [40.0, 40.0]


def test_stochastic_regression_surface(spark):
    """Round 13: stochasticLinearRegression (closed-form ridge) +
    evalMLMethod + IRLS logistic — recovery of planted coefficients,
    parametric/bare equivalence, ridge shrinkage, line-wrapped
    parametric call (the newline between the two paren groups used to
    fall through to the bare-call path), and IRLS shuffle
    determinism."""
    import numpy as np

    from clickhouse_clickhouse_spark.ch_sql import ch_sql
    from clickhouse_clickhouse_spark.operators.advanced import (
        logistic_regression_irls,
    )

    rng = np.random.RandomState(7)
    n = 800
    x1 = rng.uniform(-5, 5, n)
    x2 = rng.uniform(-2, 2, n)
    y = 2 * x1 - 3 * x2 + 5 + 0.01 * np.cos(np.arange(n))
    vals = ", ".join(f"({a!r}, {b!r}, {c!r})"
                     for a, b, c in zip(x1, x2, y))
    spark.sql(f"SELECT * FROM VALUES {vals} AS t(x1, x2, y)"
              ).createOrReplaceTempView("r13_lr")

    row = ch_sql(spark, """
        SELECT stochasticLinearRegression(0.1, 0.0, 5, 'SGD')
                   (y, x1, x2) AS c,
               stochasticLinearRegression(y, x1, x2) AS c2,
               stochasticLinearRegression(0.1, 10000.0, 5, 'SGD')
                   (y, x1, x2) AS ridge
        FROM r13_lr""").collect()[0]
    assert abs(row.c[0] - 2) < 0.02 and abs(row.c[1] + 3) < 0.02 \
        and abs(row.c[2] - 5) < 0.02
    assert row.c == row.c2          # bare call == default params
    assert abs(row.ridge[0]) < abs(row.c[0])   # l2 shrinks weights

    mse = ch_sql(spark, """
        WITH m AS (SELECT stochasticLinearRegression(y, x1, x2) AS c
                   FROM r13_lr)
        SELECT round(avg(pow(y - evalMLMethod((SELECT c FROM m),
                                              x1, x2), 2)), 6) AS mse
        FROM r13_lr""").collect()[0].mse
    assert mse < 0.001

    lab = (1 / (1 + np.exp(-(1.5 * x1 - 1.0 * x2 + 0.5)))
           > rng.uniform(0, 1, n)).astype(float)
    vals2 = ", ".join(f"({a!r}, {b!r}, {c!r})"
                      for a, b, c in zip(x1, x2, lab))
    df = spark.sql(f"SELECT * FROM VALUES {vals2} AS t(x1, x2, y)")
    w = logistic_regression_irls(df, "y", ["x1", "x2"], iterations=8)
    assert abs(w[0] - 1.5) < 0.5 and abs(w[1] + 1.0) < 0.5
    w2 = logistic_regression_irls(df.repartition(13), "y",
                                  ["x1", "x2"], iterations=8)
    assert max(abs(a - b) for a, b in zip(w, w2)) < 1e-12

    import pytest as _pt
    with _pt.raises(Exception, match="logistic_regression_irls"):
        ch_sql(spark, "SELECT stochasticLogisticRegression(y, x1) "
                      "FROM r13_lr")


def test_probe_gap_closures_r13(spark):
    """Round-13 straggler probe: timeZoneOf (documented camelCase
    spelling of timezoneOf) and arrayPartialShuffle (full-shuffle
    instance of the partial-shuffle contract: sample in front,
    remaining order undefined upstream; seeded form deterministic)."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql

    r = ch_sql(spark, """
        SELECT timeZoneOf(now()) AS tz,
               arraySort(arrayPartialShuffle([1, 2, 3, 4, 5], 2)) AS s,
               arrayPartialShuffle([1, 2, 3, 4, 5], 2, 42) AS seeded,
               arrayPartialShuffle([1, 2, 3, 4, 5], 2, 42) AS seeded2
        """).collect()[0]
    assert r.tz == "UTC"
    assert r.s == [1, 2, 3, 4, 5]          # permutation, no loss
    assert sorted(r.seeded) == [1, 2, 3, 4, 5]
    assert r.seeded == r.seeded2           # seed-stable
