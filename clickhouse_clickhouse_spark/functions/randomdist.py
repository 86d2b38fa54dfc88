"""Poisson sampling for the dialect's ``randPoisson`` (upstream
``src/Functions/randDistribution.cpp``).

The other distribution functions unroll EXACT uniform constructions in
SQL (see ch_sql helper docstrings); Poisson has no bounded uniform
construction, so it draws through numpy's generator. The entropy
column (a per-row RAND() value) seeds each Arrow batch's generator —
nondeterministic across runs like every rand* function, independent
across batches and rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from clickhouse_clickhouse_spark.functions.kernels import kernel


@kernel("__rand_poisson", "bigint")
def _rand_poisson(lam: pd.Series, u: pd.Series) -> pd.Series:
    if lam.empty:
        return pd.Series([], dtype="int64")
    seed = int(u.iloc[0] * (1 << 63)) ^ len(u)
    rng = np.random.default_rng(seed)
    lam_vals = lam.to_numpy(dtype=np.float64)
    return pd.Series(rng.poisson(lam_vals).astype(np.int64))
