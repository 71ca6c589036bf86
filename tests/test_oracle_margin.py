"""Static rounding-boundary margin check over the driver window
(VERDICT r6 #1b / #7).

Round 6's red row was rehearsal-green and driver-red: a ROUND(,6)
covariance cell sat 4.6e-8 from its .5 boundary, so a different
partial-agg order flips the rounded digit — a FLAKE no replay can
rule out.  These tests make the margin rule a CI gate: every rounded
float cell a window row emits must sit safely away from its rounding
boundary (oracle_margin.py documents the two-class noise model), and
the exact oracle form that failed in round 6 must red-flag.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="testdata missing"
)


def _window_oracles():
    import __spark_entry__ as em

    window = list(em.queries())[:50]
    return window, em.oracle_sql()


def test_margin_check_green_over_driver_window():
    from duckdb_imputation_spark.oracle_margin import check_window

    window, oracles = _window_oracles()
    reports = check_window(oracles, SF_DIR, names=window)
    assert reports, "no window oracles found"
    bad = [
        (r.name, r.flags[0].column, r.flags[0].value, r.flags[0].distance)
        for r in reports
        if r.flags
    ]
    assert not bad, (
        "boundary-fragile rounded cells in driver-window oracles "
        f"(move the row to a coarser tier or re-shape the cell): {bad}"
    )
    errors = [r.name for r in reports if r.note.startswith("ERROR")]
    assert not errors, f"margin check could not parse/run: {errors}"


OLD_COV_ORACLE = """
    WITH g AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             covar_pop(l_quantity, l_quantity) AS c11,
             covar_pop(l_quantity, l_discount) AS c12,
             covar_pop(l_quantity, l_tax)      AS c13,
             covar_pop(l_discount, l_discount) AS c22,
             covar_pop(l_discount, l_tax)      AS c23,
             covar_pop(l_tax, l_tax)           AS c33
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'l_quantity' AS col_x, 'l_quantity' AS col_y, n,
           ROUND(c11, 6) AS cov FROM g
    UNION ALL SELECT l_returnflag, 'l_quantity', 'l_discount', n,
           ROUND(c12, 6) FROM g
    UNION ALL SELECT l_returnflag, 'l_quantity', 'l_tax', n,
           ROUND(c13, 6) FROM g
    UNION ALL SELECT l_returnflag, 'l_discount', 'l_discount', n,
           ROUND(c22, 6) FROM g
    UNION ALL SELECT l_returnflag, 'l_discount', 'l_tax', n,
           ROUND(c23, 6) FROM g
    UNION ALL SELECT l_returnflag, 'l_tax', 'l_tax', n,
           ROUND(c33, 6) FROM g
"""


def test_margin_check_red_flags_the_r6_covariance_form():
    """The literal oracle that was driver-red in round 6: ROUND(,6) on
    second-moment statistics keeps noise digits, so every cell must
    flag (the max attainable boundary distance at tier 6 is the stat
    class's noise budget)."""
    from duckdb_imputation_spark.oracle_margin import check_window

    rep = check_window({"old_cov": OLD_COV_ORACLE}, SF_DIR)[0]
    assert len(rep.flags) == 18


def test_margin_check_passes_the_repaired_covariance_row():
    import __spark_entry__ as em
    from duckdb_imputation_spark.oracle_margin import check_window

    oracles = em.oracle_sql()
    assert "grouped_covariance_lineitem" in oracles
    rep = check_window(
        oracles, SF_DIR, names=["grouped_covariance_lineitem"]
    )[0]
    assert rep.ok
    assert rep.checked_cols.get("cov") == 4


def test_strip_rounds_parser():
    from duckdb_imputation_spark.oracle_margin import strip_rounds

    s, tiers = strip_rounds(
        "SELECT ROUND(SUM(x), 4) AS a, ROUND(f(y, 2), 6) AS b, "
        "ROUND(z) AS c FROM t"
    )
    assert tiers == [0, 4, 6]
    assert "ROUND" not in s.upper()
    assert "(SUM(x))" in s and "(f(y, 2))" in s and "(z)" in s
    # nested ROUND
    s2, t2 = strip_rounds("SELECT ROUND(ROUND(x, 6) + y, 2) FROM t")
    assert t2 == [2, 6]
    assert "ROUND" not in s2.upper()


def test_boundary_distance():
    from duckdb_imputation_spark.oracle_margin import boundary_distance

    # 0.1234565 is 5e-8 inside the .5 boundary region at d=6
    assert boundary_distance(0.12345655, 6) == pytest.approx(5e-8, rel=1e-3)
    # an exact tick is maximally far: half a step
    assert boundary_distance(0.123456, 6) == pytest.approx(5e-7, rel=1e-6)
    # symmetric for negatives
    assert boundary_distance(-0.12345655, 6) == pytest.approx(
        boundary_distance(0.12345655, 6), rel=1e-9
    )


def test_boundary_is_exact_double():
    from duckdb_imputation_spark.oracle_margin import boundary_is_exact_double

    # integer tiers: x.5 is always an exact double
    assert boundary_is_exact_double(3.2, 0)
    assert boundary_is_exact_double(4851.2, -2)
    # fractional tier, binary-friendly boundary: 714687.5/1e6 is NOT
    # exact (denominator keeps a factor of 5^6 after reduction)
    assert not boundary_is_exact_double(0.7146875, 6)
    # the r8 live catch: 4851.235 (boundary of ROUND(., 2)) inexact
    assert not boundary_is_exact_double(4851.235, 2)
    # a fractional boundary that IS exact: 0.5/10^1 = 0.05? no — but
    # 0.25 as boundary of ROUND(., 1)? boundaries are odd/2*10^d;
    # (2*0+1)/(2*10) = 0.05 is inexact; use d with denominator a
    # power of 2 after reduction: 5/2/10 never is — at fractional
    # tiers exactness is rare, which is the point
    assert not boundary_is_exact_double(0.05, 1)


def test_margin_flags_exact_rational_on_inexact_fractional_boundary():
    """The r9 strengthened rule: a pointwise exact-rational cell ON a
    fractional-tier boundary whose decimal boundary is not an exact
    double must FLAG (the r8 target_encode / text_stats quality
    class), while an on-tick cell stays exempt."""
    import duckdb

    from duckdb_imputation_spark.oracle_margin import check_oracle

    con = duckdb.connect()
    # 0.7146875 = 2287/3200 exactly ON the .5 boundary of ROUND(., 6)
    con.execute(
        "CREATE TABLE t AS SELECT 1 AS id, "
        "CAST(2287 AS DOUBLE)/3200 AS v"
    )
    rep = check_oracle(
        con, "hazard", "SELECT id, ROUND(v, 6) AS q FROM t"
    )
    assert rep.flags, "on-boundary inexact-double cell must flag"
    # the integer-tier scaled-cast form of the SAME value is exempt
    rep2 = check_oracle(
        con,
        "fixed",
        "SELECT id, CAST(ROUND(v * 1000000.0) AS BIGINT) / 1000000.0 "
        "AS q FROM t",
    )
    assert not rep2.flags, rep2.flags
    # an on-tick cell (v*10^6 integral) never flags
    con.execute("CREATE TABLE t2 AS SELECT 1 AS id, 0.714687 AS v")
    rep3 = check_oracle(
        con, "tick", "SELECT id, ROUND(CAST(v AS DOUBLE), 6) AS q FROM t2"
    )
    assert not rep3.flags, rep3.flags
