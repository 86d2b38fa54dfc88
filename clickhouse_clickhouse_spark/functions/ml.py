"""In-query regression aggregates (reference
``stochasticLinearRegression`` / ``stochasticLogisticRegression`` +
``evalMLMethod``, upstream ``src/AggregateFunctions/
AggregateFunctionMLMethod.cpp``).

Design deviation (documented, deliberate): upstream fits by SGD, whose
result depends on row order, batching, and learning rate — it is NOT
deterministic under shuffle, which this engine treats as a defect, not
a contract. Here the SAME objective is solved exactly:

* linear: the closed-form ridge minimizer of
  ``sum((y - w.x - b)^2) + l2 * ||w||^2`` (bias unpenalized) via
  normal equations — the unique optimum the SGD would converge to.
  The data-pass is plain SUM/COUNT moment aggregates (two-phase,
  constant state, any skew); the (p+1)x(p+1) solve happens in a
  one-row numpy UDF.
* logistic: IRLS (Newton) on the regularized log-likelihood — each
  iteration is ONE distributed moment aggregation + a tiny driver-side
  solve; fixed iteration count keeps it deterministic
  (operators/advanced.logistic_regression_irls).

``evalMLMethod(coefs, x1..xp)`` applies a fitted coefficient array
[w1..wp, b] as the linear predictor (for logistic output wrap it in
``1/(1+exp(-...))`` — the coefficient carrier is a plain array, so the
link function stays explicit).
"""

from __future__ import annotations

import numpy as np

from clickhouse_clickhouse_spark.functions.kernels import kernel, per_value


def linreg_solve_py(a_flat, rhs):
    """Solve the (p+1)x(p+1) normal-equation system; returns
    [w1..wp, b] or None on NULL/singular-beyond-lstsq input."""
    if a_flat is None or rhs is None:
        return None
    if any(v is None for v in a_flat) or any(v is None for v in rhs):
        return None
    m = len(rhs)
    a = np.asarray(a_flat, dtype=np.float64).reshape(m, m)
    b = np.asarray(rhs, dtype=np.float64)
    try:
        w = np.linalg.solve(a, b)
    except np.linalg.LinAlgError:
        w = np.linalg.lstsq(a, b, rcond=None)[0]
    return [float(x) for x in w]


kernel("__linreg_solve", "array<double>")(per_value(linreg_solve_py))
