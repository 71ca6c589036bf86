"""Descriptive statistics FROM the cofactor triple — the ring as a
general analytics primitive.

The triple (count, Σx, Σxxᵀ) is a sufficient statistic for every
second-order quantity: ONE distributed aggregation pass yields the full
mean vector, covariance matrix, correlation matrix, and standard
deviations of any column set — where the naive route runs d(d+1)/2
separate ``covar_pop`` aggregates (each its own scan or at best its own
aggregate slot).  This is the same aggregation the ML trainers ride
(ml/linreg.py trains from exactly these statistics — reference
ring/ring.cpp builds them the same way); here it is exposed as a plain
stats API.

Population (1/N) normalization, matching SQL ``covar_pop`` /
``stddev_pop`` — the DuckDB twin for a catalog row is a plain
covar_pop/corr aggregate."""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame

from ..functions.triple import Triple, pair_index
from ..operators.cofactor import sum_to_triple
from ..operators.flatten import triple_entries

__all__ = [
    "second_order_stats",
    "covariance_matrix",
    "correlation_matrix",
    "grouped_covariance",
    "grouped_simple_linreg",
]


def second_order_stats(
    df: DataFrame, cols: Sequence[str]
) -> tuple[int, np.ndarray, np.ndarray]:
    """One cofactor pass → (n, mean vector, covariance matrix) for
    ``cols`` (population normalization).  Rows containing a NULL in any
    of ``cols`` are excluded (lift semantics)."""
    cols = list(cols)
    d = len(cols)
    t = Triple.from_entries(triple_entries(df.dropna(subset=cols), cols).collect(), d, 0)
    n = int(t.n)
    if n == 0:
        return 0, np.zeros(d), np.zeros((d, d))
    mean = np.asarray(t.lin, dtype=np.float64) / n
    cov = np.empty((d, d), dtype=np.float64)
    for i in range(d):
        for j in range(i, d):
            exy = t.quad[pair_index(i, j, d)] / n
            cov[i, j] = cov[j, i] = exy - mean[i] * mean[j]
    return n, mean, cov


def covariance_matrix(df: DataFrame, cols: Sequence[str]) -> np.ndarray:
    """Population covariance matrix of ``cols`` from one triple pass."""
    return second_order_stats(df, cols)[2]


def correlation_matrix(df: DataFrame, cols: Sequence[str]) -> np.ndarray:
    """Pearson correlation matrix of ``cols`` from one triple pass.
    A zero-variance column yields NaN against every other column (and
    1.0 with itself), matching SQL ``corr`` semantics."""
    cov = covariance_matrix(df, cols)
    sd = np.sqrt(np.diag(cov))
    with np.errstate(divide="ignore", invalid="ignore"):
        corr = cov / np.outer(sd, sd)
    np.fill_diagonal(corr, 1.0)
    return corr


def grouped_covariance(
    df: DataFrame, cols: Sequence[str], by_cols: Sequence[str]
) -> DataFrame:
    """Per-group covariance matrices, fully in-engine: ONE grouped
    cofactor pass, then pure Column arithmetic unpacks every (i, j)
    pair from the triple struct — no driver collect, no per-statistic
    re-aggregation (the naive route is d(d+1)/2 covar_pop aggregate
    slots, or worse, separate scans).

    Returns long form (by_cols..., col_x, col_y, n, cov) with one row
    per group per unordered pair i <= j, population normalization —
    exactly what a ``covar_pop ... GROUP BY`` oracle produces.  Rows
    with a NULL in any of ``cols`` are excluded (lift semantics)."""
    from pyspark.sql import functions as F

    cols = list(cols)
    d = len(cols)
    t = sum_to_triple(df.dropna(subset=list(cols)), cols, [], group_by=list(by_cols))
    n = F.col("triple.N").cast("double")
    pairs = []
    for i in range(d):
        for j in range(i, d):
            q = F.element_at("triple.quad_agg", pair_index(i, j, d) + 1)
            li_ = F.element_at("triple.lin_agg", i + 1)
            lj = F.element_at("triple.lin_agg", j + 1)
            pairs.append(
                F.struct(
                    F.lit(cols[i]).alias("col_x"),
                    F.lit(cols[j]).alias("col_y"),
                    (q / n - (li_ / n) * (lj / n)).alias("cov"),
                )
            )
    return t.select(
        *by_cols,
        F.col("triple.N").alias("n"),
        F.explode(F.array(*pairs)).alias("__p"),
    ).select(
        *by_cols,
        F.col("__p.col_x").alias("col_x"),
        F.col("__p.col_y").alias("col_y"),
        "n",
        F.col("__p.cov").alias("cov"),
    )


def grouped_simple_linreg(
    df: DataFrame,
    x_col: str,
    y_col: str,
    by_cols: Sequence[str],
) -> DataFrame:
    """Per-group simple least squares — MANY models from ONE grouped
    cofactor pass, fully in-engine:

        slope = cov(x, y) / var(x),   intercept = ȳ − slope·x̄

    unpacked from the grouped triple with pure Column arithmetic (the
    same pattern as :func:`grouped_covariance` — no driver collect, no
    per-group re-aggregation; the naive route is a regr_slope +
    regr_intercept aggregate pair, which is exactly what a SQL twin
    runs).  Returns (by_cols..., n, slope, intercept); groups whose x
    is exactly constant yield NULL slope/intercept (SQL ``regr_slope``
    semantics), and rows with a NULL in x or y are excluded (lift
    semantics — SQL regr_* aggregates skip NULL pairs identically.
    Reference: the single-model trainer rides the same statistics,
    ml/linreg.py / reference regression.cpp:108-354; this is the
    grouped d=1 closed form the engine can keep entirely in-plan;
    train per-group multi-feature models by feeding each group's sigma
    to linreg_train).

    Numerical note: slope comes from the sufficient statistics
    (E[xy] − E[x]E[y]), not a streaming co-moment — near-constant
    (but not exactly constant) x is ill-conditioned on ANY route; the
    exact-zero variance guard mirrors SQL NULL behavior for the
    constant case."""
    from pyspark.sql import functions as F

    t = sum_to_triple(
        df.dropna(subset=[x_col, y_col]), [x_col, y_col], [],
        group_by=list(by_cols),
    )
    n = F.col("triple.N").cast("double")
    sx = F.element_at("triple.lin_agg", 1)
    sy = F.element_at("triple.lin_agg", 2)
    sxx = F.element_at("triple.quad_agg", pair_index(0, 0, 2) + 1)
    sxy = F.element_at("triple.quad_agg", pair_index(0, 1, 2) + 1)
    var = sxx / n - (sx / n) * (sx / n)
    cov = sxy / n - (sx / n) * (sy / n)
    slope = F.when(var != 0, cov / var)
    intercept = F.when(var != 0, sy / n - (cov / var) * (sx / n))
    return t.select(
        *by_cols,
        F.col("triple.N").alias("n"),
        slope.alias("slope"),
        intercept.alias("intercept"),
    )
