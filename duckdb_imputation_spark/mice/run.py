"""MICE — Multiple Imputation by Chained Equations over DataFrames.

Spark-first re-expression of the reference's three strategies
(imputation/algorithms/):

* ``baseline``  (imputation_base.cpp:6-146): per column per round, a fresh
  cofactor over the rows where that column is observed → train → rewrite.
* ``low``       (imputation_low.cpp:9-306, the paper's main algorithm):
  ONE full cofactor up front; per column the *delta* cofactor over the
  rows being re-imputed; train on ``full ⊖ delta`` (driver-side ring
  subtraction, imputation/triple/sub.cpp:71-217); after the rewrite,
  ``full = train ⊕ delta'``.  The full table is scanned once — each round
  touches only the missing rows of the active column.
* ``high``      (imputation_high.cpp:8-319): for heavily-missing data,
  a *static* cofactor over the all-null partition (mean/mode rows) plus a
  per-column delta over the observed rows; train on ``static ⊕ delta``.

Continuous columns train stochastic ridge regression (predict + Gaussian
noise — imputation_low.cpp:125-136 bakes Box–Muller into SQL; we use
``randn(seed)`` for reproducibility); categorical columns train LDA.

Spark-specific (replaces the reference's zero-copy column-swap storage
patch, duckdb_imputation.patch:26-175): imputed columns are rewritten
with ``withColumn(when(flag, pred))`` and lineage is cut with
``localCheckpoint`` every round so the plan does not grow across
``iters × n_cols`` rewrites.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.triple import Triple
from ..ml.lda import lda_train
from ..ml.linreg import linreg_train
from ..operators.flatten import triple_entries
from .partition import column_stats, flag_and_fill, null_flag

__all__ = ["mice_impute", "MiceResult"]


@dataclass
class MiceResult:
    df: DataFrame  # imputed table (original columns)
    models: dict = field(default_factory=dict)  # (iter, col) -> model
    timings: dict = field(default_factory=dict)  # phase -> seconds


def _collect_triple(
    df: DataFrame, cont_cols: Sequence[str], cat_cols: Sequence[str]
) -> Triple:
    rows = triple_entries(df, cont_cols, cat_cols).collect()
    return Triple.from_entries(rows, len(cont_cols), len(cat_cols))


def mice_impute(
    df: DataFrame,
    cont_cols: Sequence[str],
    cat_cols: Sequence[str] = (),
    cont_nulls: Sequence[str] | None = None,
    cat_nulls: Sequence[str] | None = None,
    iters: int = 3,
    strategy: str = "low",
    noise: bool = True,
    seed: int = 42,
    lambda_: float = 0.0,
    shrinkage: float = 0.0,
) -> MiceResult:
    """Impute missing values in ``cont_nulls``/``cat_nulls`` (default: every
    listed column that actually contains NULLs), chained over ``iters``
    rounds.  ``cont_cols``/``cat_cols`` are ALL model columns, in the
    num-before-cat convention of the reference (README.md:126)."""
    cont_cols = list(cont_cols)
    cat_cols = list(cat_cols)
    if cont_nulls is None or cat_nulls is None:
        null_counts = df.select(
            [
                F.sum(F.col(c).isNull().cast("long")).alias(c)
                for c in cont_cols + cat_cols
            ]
        ).collect()[0]
        if cont_nulls is None:
            cont_nulls = [c for c in cont_cols if null_counts[c]]
        if cat_nulls is None:
            cat_nulls = [c for c in cat_cols if null_counts[c]]
    cont_nulls = list(cont_nulls)
    cat_nulls = list(cat_nulls)
    if strategy not in ("baseline", "low", "high"):
        raise ValueError(f"unknown strategy {strategy!r}")

    timings: dict[str, float] = {}
    t0 = time.perf_counter()
    stats = column_stats(df, cont_nulls, cat_nulls)
    # lazy checkpoint: the next action over `work` (the full/static
    # cofactor, or the first delta) materializes the checkpoint as a
    # side effect of its own scan — one pass where eager would take two.
    # The frame keeps the SOURCE's partitioning: flag_and_fill's
    # __n_nulls range partitioning stays OFF (it collapses the corpus
    # to n_nullable+1 partitions — see partition.py; measured 600k rows
    # → TWO partitions, serializing every loop scan), and no substitute
    # repartition is added — at scale the input arrives well-partitioned,
    # and locally one extra 600k-row shuffle costs more than the loop's
    # scans save (measured 5.8 vs 5.0 s).
    work = flag_and_fill(df, cont_nulls, cat_nulls, stats).localCheckpoint(
        eager=False
    )
    timings["prepare"] = time.perf_counter() - t0

    models: dict = {}
    all_nulls = [(c, False) for c in cont_nulls] + [(c, True) for c in cat_nulls]
    n_nullable = len(all_nulls)

    full = static = None
    pending_delta = None
    if strategy == "low":
        t0 = time.perf_counter()
        if all_nulls:
            # r13: the full cofactor and the FIRST column's pre-train
            # delta are both cofactors of the same checkpointed frame —
            # sum_to_triples_conditional([TRUE, flag]) computes the pair
            # in ONE scan (cond 0 matches every row, so its triple IS
            # the full cofactor; values identical to the two separate
            # jobs this replaces).
            from ..operators.cofactor import sum_to_triples_conditional

            first_flag = F.col(null_flag(all_nulls[0][0]))
            full, pending_delta = sum_to_triples_conditional(
                work, cont_cols, cat_cols, [F.lit(True), first_flag]
            )
        else:
            full = _collect_triple(work, cont_cols, cat_cols)
        timings["full_cofactor"] = time.perf_counter() - t0
    elif strategy == "high":
        t0 = time.perf_counter()
        static = _collect_triple(
            work.filter(F.col("__n_nulls") == n_nullable), cont_cols, cat_cols
        )
        timings["static_cofactor"] = time.perf_counter() - t0

    step = 0
    # `low` lookahead: the post-rewrite delta of column k and the
    # pre-train delta of column k+1 are both filtered cofactors of the
    # SAME checkpointed frame — sum_to_triples_conditional computes the
    # pair in ONE scan (bit-identical to the filtered form), carrying
    # the second forward.  Halves the low loop's job count.
    flat_steps = [(col, is_cat) for _ in range(iters) for col, is_cat in all_nulls]
    for it in range(iters):
        for col, is_cat in all_nulls:
            step += 1
            flag = F.col(null_flag(col))
            t0 = time.perf_counter()
            if strategy == "baseline":
                train_t = _collect_triple(work.filter(~flag), cont_cols, cat_cols)
            elif strategy == "low":
                if pending_delta is not None:
                    delta = pending_delta
                else:
                    delta = _collect_triple(work.filter(flag), cont_cols, cat_cols)
                train_t = full - delta
            else:  # high
                delta = _collect_triple(
                    work.filter(~flag & (F.col("__n_nulls") < n_nullable)),
                    cont_cols,
                    cat_cols,
                )
                train_t = static + delta
            timings.setdefault("cofactor", 0.0)
            timings["cofactor"] += time.perf_counter() - t0

            t0 = time.perf_counter()
            if is_cat:
                label = cat_cols.index(col)
                model = lda_train(train_t, label=label, shrinkage=shrinkage)
                feats_num = cont_cols
                feats_cat = [c for c in cat_cols if c != col]
                pred = model.predict_expr(feats_num, feats_cat)
            else:
                label = cont_cols.index(col)
                model = linreg_train(
                    train_t,
                    label=label,
                    lambda_=lambda_,
                    compute_variance=noise,
                    method="closed",
                )
                feats_num = [c for c in cont_cols if c != col]
                pred = model.predict_expr(
                    feats_num,
                    cat_cols,
                    add_noise=noise,
                    seed=seed + step,
                )
            models[(it, col)] = model
            timings.setdefault("train", 0.0)
            timings["train"] += time.perf_counter() - t0

            t0 = time.perf_counter()
            typ = "int" if is_cat else "double"
            work = work.withColumn(
                col, F.when(flag, pred.cast(typ)).otherwise(F.col(col))
            )
            if strategy == "low":
                # re-read the delta with the freshly imputed values.
                # eager=False fuses checkpoint materialization into the
                # delta scan below (one pass over the frame per step,
                # not a materialize pass + a scan pass); every rewrite
                # expression is deterministic (seeded randn), so lazy
                # materialization yields byte-identical state
                work = work.localCheckpoint(eager=False)
                if step < len(flat_steps):
                    from ..operators.cofactor import sum_to_triples_conditional

                    next_col = flat_steps[step][0]  # step is 1-based here
                    delta2, pending_delta = sum_to_triples_conditional(
                        work,
                        cont_cols,
                        cat_cols,
                        [flag, F.col(null_flag(next_col))],
                    )
                    full = train_t + delta2
                # else: final step — `full` is never read again, so the
                # post-rewrite delta scan would be a dead job (guide
                # §1.2: don't compute things you throw away); the final
                # frame materializes in the caller's first action over
                # the lazily-checkpointed `work`
            timings.setdefault("update", 0.0)
            timings["update"] += time.perf_counter() - t0
        if strategy != "low":  # low checkpoints per column already
            work = work.localCheckpoint(eager=False)

    drop = [null_flag(c) for c, _ in all_nulls] + ["__n_nulls"]
    return MiceResult(df=work.drop(*drop), models=models, timings=timings)
