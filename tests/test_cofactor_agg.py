"""Distributed cofactor aggregation vs reference golden literals and vs the
driver-side algebra (compositional equivalence, as in the reference's
test_sum.py:44-52)."""

import pytest

from duckdb_imputation_spark.functions.triple import Triple
from duckdb_imputation_spark.operators.cofactor import (
    lift_columns,
    sum_to_triple,
    sum_triples,
)

from test_triple_algebra import GOLDEN_FULL, ROWS, agg

NUM = ["a", "b", "c"]
CAT = ["d", "e", "f"]


def triple_dict(row):
    return Triple.from_row(row).to_dict()


def test_full_table_matches_golden(ring_fixture):
    out = sum_to_triple(ring_fixture, NUM, CAT).collect()
    assert len(out) == 1
    assert triple_dict(out[0]["triple"]) == GOLDEN_FULL


def test_group_by_matches_golden(ring_fixture):
    out = sum_to_triple(ring_fixture, NUM, CAT, group_by=["gb"]).collect()
    got = {r["gb"]: triple_dict(r["triple"]) for r in out}
    exp = {
        g: agg([r for r in ROWS if r[0] == g], [1, 2, 3], [4, 5, 6]).to_dict()
        for g in (1, 2)
    }
    assert got == exp


def test_having_filter_after_agg(ring_fixture):
    df = sum_to_triple(ring_fixture, NUM, CAT, group_by=["gb"])
    out = df.filter("gb = 2").collect()
    assert len(out) == 1
    exp = agg([r for r in ROWS if r[0] == 2], [1, 2, 3], [4, 5, 6]).to_dict()
    assert triple_dict(out[0]["triple"]) == exp


def test_num_only(ring_fixture):
    out = sum_to_triple(ring_fixture, NUM, []).collect()[0]["triple"]
    d = triple_dict(out)
    assert d["N"] == 5
    assert d["lin_agg"] == [15.0, 17.0, 22.0]
    assert d["quad_agg"] == [59.0, 71.0, 80.0, 91.0, 96.0, 112.0]
    assert d["lin_cat"] == []


def test_cat_only(ring_fixture):
    out = sum_to_triple(ring_fixture, [], ["e"]).collect()[0]["triple"]
    d = triple_dict(out)
    assert d["N"] == 5
    assert d["lin_agg"] == []
    assert d["lin_cat"] == [
        [
            {"key": 5, "value": 1.0},
            {"key": 6, "value": 2.0},
            {"key": 9, "value": 1.0},
            {"key": 10, "value": 1.0},
        ]
    ]
    assert d["quad_cat"] == [
        [
            {"key1": 5, "key2": 5, "value": 1.0},
            {"key1": 6, "key2": 6, "value": 2.0},
            {"key1": 9, "key2": 9, "value": 1.0},
            {"key1": 10, "key2": 10, "value": 1.0},
        ]
    ]


def test_nb_aggregate(ring_fixture):
    out = sum_to_triple(ring_fixture, NUM, CAT, nb=True).collect()[0]["triple"]
    d = triple_dict(out)
    exp = agg(ROWS, [1, 2, 3], [4, 5, 6], nb=True).to_dict()
    assert d == exp
    assert "quad_cat" not in d


def test_fused_equals_lift_then_sum(ring_fixture):
    """sum_to_triple ≡ sum_triples ∘ lift (reference test_sum.py:44-52)."""
    lifted = ring_fixture.select(
        "gb", lift_columns(NUM, CAT).alias("t")
    )
    out = sum_triples(lifted, "t", 3, 3, group_by=["gb"]).collect()
    got = {r["gb"]: triple_dict(r["triple"]) for r in out}
    fused = sum_to_triple(ring_fixture, NUM, CAT, group_by=["gb"]).collect()
    exp = {r["gb"]: triple_dict(r["triple"]) for r in fused}
    assert got == exp


def test_group_with_null_key(spark):
    rows = [(None, 1.0, 3), (None, 2.0, 3), (7, 5.0, 4)]
    df = spark.createDataFrame(rows, "gb int, x double, k int")
    out = sum_to_triple(df, ["x"], ["k"], group_by=["gb"]).collect()
    got = {r["gb"]: triple_dict(r["triple"]) for r in out}
    assert set(got) == {None, 7}
    assert got[None]["N"] == 2
    assert got[None]["lin_agg"] == [3.0]
    assert got[None]["lin_cat"] == [[{"key": 3, "value": 2.0}]]


@pytest.mark.parametrize("key", ["i", "val"])
def test_group_key_named_like_an_entry_column(ring_fixture, key):
    """The nested triple is assembled from flat entry rows
    (part, i, j, k1, k2, val): a group key of the same name is kept
    apart from them."""
    named = sum_to_triple(
        ring_fixture.withColumnRenamed("gb", key), NUM, CAT, group_by=[key]
    )
    assert named.columns == [key, "triple"]
    got = {r[key]: triple_dict(r["triple"]) for r in named.collect()}
    exp = {
        r["gb"]: triple_dict(r["triple"])
        for r in sum_to_triple(ring_fixture, NUM, CAT, group_by=["gb"]).collect()
    }
    assert got == exp


@pytest.mark.parametrize("key", ["i", "val"])
def test_entry_rows_reject_a_group_key_named_like_an_entry_column(ring_fixture, key):
    """Flat entry rows carry the group keys beside (part, i, j, k1, k2,
    val): a key of one of those names raises instead of returning two
    columns of one name."""
    from duckdb_imputation_spark.operators.flatten import flatten_triple, triple_entries
    from duckdb_imputation_spark.operators.multiply import triple_over_join

    df = ring_fixture.withColumnRenamed("gb", key)
    with pytest.raises(ValueError, match=f"'{key}'"):
        triple_entries(df, NUM, CAT, group_by=[key])
    nested = sum_to_triple(df, NUM, CAT, group_by=[key])
    with pytest.raises(ValueError, match=f"'{key}'"):
        flatten_triple(nested, len(NUM), len(CAT), group_by=[key])
    for unique_right in (True, False):
        with pytest.raises(ValueError, match=f"'{key}'"):
            triple_over_join(
                df, ring_fixture, on="a", num1=["b"], cat1=["d"], num2=["c"],
                cat2=["f"], group_by=[key], unique_right=unique_right,
                flat_entries=True,
            )


def test_input_validation(ring_fixture):
    import pytest as _pt

    with _pt.raises(ValueError, match="both continuous and categorical"):
        sum_to_triple(ring_fixture, ["a", "b"], ["b"])
    with _pt.raises(ValueError, match="group keys overlap"):
        sum_to_triple(ring_fixture, ["a"], ["d"], group_by=["a"])


def test_incremental_cofactor_view(ring_fixture):
    """insert/insert/delete folds must equal a fresh aggregate over the
    net table (F-IVM pattern)."""
    from duckdb_imputation_spark.operators.incremental import IncrementalCofactor

    g1 = ring_fixture.filter("gb = 1")
    g2 = ring_fixture.filter("gb = 2")
    view = IncrementalCofactor(NUM, CAT)
    view.insert(g1).insert(g2).delete(g1)
    fresh = Triple.from_row(
        sum_to_triple(g2, NUM, CAT).collect()[0]["triple"]
    )
    got = view.triple
    assert got.n == fresh.n
    import numpy as np

    assert np.allclose(got.lin, fresh.lin)
    assert np.allclose(got.quad, fresh.quad)
    for m1, m2 in zip(got.lin_cat, fresh.lin_cat):
        assert {k: v for k, v in m1.items() if v != 0} == m2


def test_spark_lift_matches_reference_golden(ring_fixture):
    """lift_columns (to_cofactor) on Spark vs the reference's per-row
    golden literal (test_lift.py row 1)."""
    row = (
        ring_fixture.filter("a = 1.0")
        .select(lift_columns(NUM, CAT).alias("t"))
        .collect()[0]["t"]
    )
    got = Triple.from_row(row).to_dict(lin_name="lin_num", quad_name="quad_num")
    from test_triple_algebra import ROWS  # noqa: F401
    exp = Triple.lift([1.0, 2.0, 3.0], [4, 5, 6]).to_dict(
        lin_name="lin_num", quad_name="quad_num"
    )
    assert got == exp


def test_max_arity_19_19(spark):
    """The registry's largest instance: 19 num × 19 cat (190 quads,
    361 num-cat maps, 190 pair maps) builds and aggregates correctly."""
    import numpy as np
    from duckdb_imputation_spark.functions import registry as reg

    rng = np.random.default_rng(0)
    rows = [
        tuple([float(x) for x in rng.normal(0, 1, 19)] + [int(k) for k in rng.integers(0, 3, 19)])
        for _ in range(30)
    ]
    schema = ", ".join([f"x{i} double" for i in range(19)] + [f"k{j} int" for j in range(19)])
    df = spark.createDataFrame(rows, schema)
    cols = [f"x{i}" for i in range(19)] + [f"k{j}" for j in range(19)]
    t = reg.sum_to_triple_19_19(df, *cols).collect()[0]["triple"]
    assert t["N"] == 30
    assert len(t["quad_agg"]) == 190
    assert len(t["quad_num_cat"]) == 361
    assert len(t["quad_cat"]) == 190


def test_sum_to_triples_conditional_bit_identical(spark, ring_fixture):
    """One conditional scan must equal per-filter cofactors bit-for-bit
    (overlapping conditions included) — the contract the MICE low loop
    relies on."""
    from pyspark.sql import functions as F

    from duckdb_imputation_spark.functions.triple import Triple
    from duckdb_imputation_spark.operators.cofactor import (
        sum_to_triple,
        sum_to_triples_conditional,
    )

    conds = [
        F.col("gb") == 1,
        F.col("a") > 1.5,          # overlaps cond 0
        F.col("gb") == 99,         # matches nothing -> zero triple
    ]
    multi = sum_to_triples_conditional(
        ring_fixture, ["a", "b"], ["d"], conds
    )
    for i, c in enumerate(conds[:2]):
        row = sum_to_triple(ring_fixture.filter(c), ["a", "b"], ["d"]).collect()
        single = Triple.from_row(row[0]["triple"], d_num=2, d_cat=1)
        assert multi[i].to_dict() == single.to_dict()
    assert multi[2].to_dict() == Triple.zero(2, 1).to_dict()
