"""Incremental cofactor maintenance (F-IVM style).

The reference maintains its training cofactor incrementally —
``full ⊖ delta ⊕ delta′`` across MICE rounds (imputation_low.cpp:110,
188-194, driver-side sub.cpp/sum.cpp).  This module names that pattern
as a standalone API: a driver-resident cofactor view over a (possibly
huge) fact table that absorbs inserts and deletes without rescanning.

Each ``insert``/``delete`` aggregates ONLY the changed rows on the
cluster (one bounded cofactor job) and folds the result into the
driver state with ⊕/⊖ — O(|delta|) work per refresh, never O(|table|).
The streaming module is the event-time flavor of the same algebra.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame

from ..functions.triple import Triple
from .flatten import triple_entries

__all__ = ["IncrementalCofactor"]


class IncrementalCofactor:
    """Maintained cofactor over a logical table.

    >>> view = IncrementalCofactor(["price"], ["region"])
    >>> view.insert(day1_df)       # one cofactor job over day1 only
    >>> view.insert(day2_df)
    >>> view.delete(corrections)   # retract bad rows
    >>> model = linreg_train(view.triple, label=0)
    """

    def __init__(
        self, num_cols: Sequence[str], cat_cols: Sequence[str] = (), nb: bool = False
    ):
        self.num_cols = list(num_cols)
        self.cat_cols = list(cat_cols)
        self.nb = nb
        self.triple = Triple.zero(len(self.num_cols), len(self.cat_cols), nb=nb)

    def _aggregate(self, df: DataFrame) -> Triple:
        rows = triple_entries(df, self.num_cols, self.cat_cols, nb=self.nb).collect()
        return Triple.from_entries(
            rows, len(self.num_cols), len(self.cat_cols), nb=self.nb
        )

    def insert(self, delta: DataFrame) -> "IncrementalCofactor":
        self.triple = self.triple + self._aggregate(delta)
        return self

    def delete(self, delta: DataFrame) -> "IncrementalCofactor":
        self.triple = self.triple - self._aggregate(delta)
        return self
