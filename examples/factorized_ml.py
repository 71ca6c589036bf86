#!/usr/bin/env python
"""The reference README's flagship flow (README.md:163-186), Spark-first:

1. the cofactor of ``lineitem ⋈ orders`` as flat entry rows — orders
   joins on its primary key, so the join cannot multiply rows and one
   join plus one cofactor scan is the plan (``unique_right=True``),
2. ⊕-fold the entries to one training triple on the driver,
3. train ridge regression from the triple on the driver,
4. predict back on the cluster as a generated Column expression.

Run:  python examples/factorized_ml.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F

from duckdb_imputation_spark.functions.triple import Triple
from duckdb_imputation_spark.ml import linreg_train
from duckdb_imputation_spark.operators.multiply import triple_over_join
from duckdb_imputation_spark.session import get_spark
from duckdb_imputation_spark.sources import load_table


def main(sf_dir: str = "/root/testdata/sf0.001") -> None:
    spark = get_spark("factorized-ml")
    li = load_table(spark, sf_dir, "lineitem")
    orders = (
        load_table(spark, sf_dir, "orders")
        .withColumnRenamed("o_orderkey", "l_orderkey")
        .withColumn("o_price100", (F.col("o_totalprice") / 100.0))
        .select("l_orderkey", "o_price100", "o_orderpriority")
    )

    # cofactor of (l_quantity, l_extendedprice, o_price100 | l_linenumber)
    # over lineitem ⋈ orders.  o_orderkey is the orders primary key, so
    # the join cannot multiply rows: unique_right joins first and runs one
    # cofactor scan, and the driver folds the flat entry rows
    entries = triple_over_join(
        li,
        orders,
        on="l_orderkey",
        num1=["l_quantity", "l_extendedprice"],
        cat1=["l_linenumber"],
        num2=["o_price100"],
        cat2=[],
        unique_right=True,
        flat_entries=True,
    ).collect()
    triple = Triple.from_entries(entries, 3, 1)
    print(f"training triple: N={triple.n}, d_num={triple.d_num}, d_cat={triple.d_cat}")

    # ridge regression: predict l_extendedprice (label idx 1) from the rest
    model = linreg_train(triple, label=1, lambda_=1e-6, compute_variance=True)
    print(f"intercept={model.intercept:.3f} coefs={[round(c, 4) for c in model.coef_num]}")

    joined = li.join(orders, "l_orderkey")
    scored = joined.withColumn(
        "pred",
        model.predict_expr(["l_quantity", "o_price100"], ["l_linenumber"]),
    )
    r2 = scored.select(
        (
            1
            - F.sum((F.col("l_extendedprice") - F.col("pred")) ** 2)
            / F.sum(
                (
                    F.col("l_extendedprice")
                    - F.lit(float(triple.lin[1] / triple.n))
                )
                ** 2
            )
        ).alias("r2")
    ).collect()[0]["r2"]
    print(f"train R² = {r2:.4f} (synthetic columns are near-independent, "
          f"so R² ≈ 0 is expected; the point is the factorized plumbing)")
    spark.stop()


if __name__ == "__main__":
    main(*sys.argv[1:])
