"""Triple → flat entry rows, for cross-engine comparison and IO.

The nested triple struct is convenient in-engine but awkward to
hash-compare against another engine.  ``triple_entries`` lowers a
(grouped) cofactor to one row per statistic:

    <group keys...>, part, i, j, k1, k2, val

    part='N'             i=j=k1=k2=-1          val = row count
    part='lin'           i = num idx           val = Σ x_i
    part='quad'          (i,j) num pair        val = Σ x_i x_j
    part='lin_cat'       i = cat idx, k1 = key val = count
    part='quad_num_cat'  i = num, j = cat, k1  val = Σ x_i | cat_j = k1
    part='quad_cat'      (i,j) cat pair, k1,k2 val = co-occurrence count

The same rows are expressible in ANSI SQL as a UNION ALL of plain
GROUP BYs (see ``triple_entries_sql``), which any engine — e.g. the
DuckDB oracle harness — can run on the same data.  Values are bitwise
comparable when the inputs are integer-valued (sums of integers are
exact in float64 up to 2^53 regardless of accumulation order).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.triple import cat_pairs
from .cofactor import (
    _KKV_T,
    _KV_T,
    _check_entry_keys,
    _cofactor_entries,
    _empty,
    _ent,
    _quad_pairs,
)

__all__ = ["triple_entries", "triple_entries_sql", "flatten_triple", "unflatten_triple"]


def _entry(part: str, i: int, j: int, k1: Column, k2: Column, val: Column) -> Column:
    """One flat statistic entry struct — field for field the layout
    :func:`flatten_triple` emits."""
    return F.struct(
        F.lit(part).alias("part"),
        F.lit(i).cast("int").alias("i"),
        F.lit(j).cast("int").alias("j"),
        k1.cast("int").alias("k1"),
        k2.cast("int").alias("k2"),
        val.cast("double").alias("val"),
    )


def triple_entries(
    df: DataFrame,
    num_cols: Sequence[str],
    cat_cols: Sequence[str] = (),
    group_by: Sequence[str] = (),
    nb: bool = False,
) -> DataFrame:
    """Cofactor over ``df`` as entry rows: each per-key aggregate row
    emits its own entries, with no nested triple in between."""
    return _cofactor_entries(df, list(num_cols), list(cat_cols), list(group_by), nb, None)


def flatten_triple(
    t: DataFrame,
    d: int,
    c: int,
    group_by: Sequence[str] = (),
    nb: bool = False,
    triple_col: str = "triple",
) -> DataFrame:
    """Flatten an existing triple-column DataFrame (e.g. the output of
    ``sum_to_triple`` or ``triple_over_join``) to entry rows.

    The generator expression is built as ONE SQL string parsed JVM-side:
    building it from Column objects costs a py4j round trip per call
    (thousands for wide triples — it dominated wall clock at small SF).
    """
    group_by = list(group_by)
    _check_entry_keys(group_by)
    tc = triple_col

    arrays = [f"array({_ent('N', -1, -1, '-1', '-1', f'{tc}.N')})"]
    for i in range(d):
        arrays.append(
            f"array({_ent('lin', i, -1, '-1', '-1', f'{tc}.lin_agg[{i}]')})"
        )
    for p, (i, j) in enumerate(_quad_pairs(d, nb)):
        arrays.append(
            f"array({_ent('quad', i, j, '-1', '-1', f'{tc}.quad_agg[{p}]')})"
        )
    for j in range(c):
        arrays.append(
            f"transform({tc}.lin_cat[{j}], e -> "
            + _ent("lin_cat", j, -1, "e.key", "-1", "e.value")
            + ")"
        )
    if not nb:
        for i in range(d):
            for j in range(c):
                arrays.append(
                    f"transform({tc}.quad_num_cat[{i * c + j}], e -> "
                    + _ent("quad_num_cat", i, j, "e.key", "-1", "e.value")
                    + ")"
                )
        for p, (a, b) in enumerate(cat_pairs(c)):
            arrays.append(
                f"transform({tc}.quad_cat[{p}], e -> "
                + _ent("quad_cat", a, b, "e.key1", "e.key2", "e.value")
                + ")"
            )
    entries_sql = "concat(" + ", ".join(arrays) + ")" if len(arrays) > 1 else arrays[0]
    return t.select(*group_by, F.inline(F.expr(entries_sql)))


def unflatten_triple(
    entries: DataFrame,
    d: int,
    c: int,
    group_by: Sequence[str] = (),
    nb: bool = False,
    result_col: str = "triple",
) -> DataFrame:
    """Inverse of :func:`flatten_triple`: summed entry rows (at most one
    per ``(group, part, i, j, k1, k2)``) → one nested triple per group.

    One ``collect_list`` per group, then every struct slot picks its
    entries by ``(part, i, j)``; maps come out key-sorted.  ``N`` makes
    an exact double→bigint round trip (counts are integral and ≪ 2^53).
    Ungrouped input gets one triple, or no row at all when empty.
    """
    group_by = list(group_by)
    keyless = not group_by
    if keyless:
        entries = entries.withColumn("__g", F.lit(0))
        group_by = ["__g"]
    assembled = entries.groupBy(*group_by).agg(
        F.collect_list(F.struct("part", "i", "j", "k1", "k2", "val")).alias("__e")
    )

    # reassembly generated as SQL text (single parse, no per-expression
    # py4j round trips)
    def match(part: str, i: int, j: int) -> str:
        return f"filter(__e, x -> x.part = '{part}' AND x.i = {i} AND x.j = {j})"

    def scalar(part: str, i: int, j: int) -> str:
        return f"element_at({match(part, i, j)}, 1).val"

    def kv_list(part: str, i: int, j: int) -> str:
        return (
            f"sort_array(transform({match(part, i, j)}, "
            f"x -> named_struct('key', x.k1, 'value', x.val)))"
        )

    def kkv_list(i: int, j: int) -> str:
        return (
            f"sort_array(transform({match('quad_cat', i, j)}, "
            f"x -> named_struct('key1', x.k1, 'key2', x.k2, 'value', x.val)))"
        )

    def array(items: list[str], empty_t: str) -> Column:
        return F.expr("array(" + ", ".join(items) + ")") if items else _empty(empty_t)

    fields = [
        F.expr(f"CAST({scalar('N', -1, -1)} AS BIGINT)").alias("N"),
        array([scalar("lin", i, -1) for i in range(d)], "array<double>").alias(
            "lin_agg"
        ),
        array(
            [scalar("quad", i, j) for (i, j) in _quad_pairs(d, nb)], "array<double>"
        ).alias("quad_agg"),
        array([kv_list("lin_cat", j, -1) for j in range(c)], f"array<{_KV_T}>").alias(
            "lin_cat"
        ),
    ]
    if not nb:
        fields += [
            array(
                [kv_list("quad_num_cat", i, j) for i in range(d) for j in range(c)],
                f"array<{_KV_T}>",
            ).alias("quad_num_cat"),
            array(
                [kkv_list(a, b) for (a, b) in cat_pairs(c)], f"array<{_KKV_T}>"
            ).alias("quad_cat"),
        ]
    out = assembled.select(*group_by, F.struct(*fields).alias(result_col))
    return out.drop("__g") if keyless else out


def triple_entries_sql(
    table: str,
    num_exprs: Sequence[str],
    cat_exprs: Sequence[str] = (),
    group_by: Sequence[str] = (),
    nb: bool = False,
) -> str:
    """ANSI SQL producing exactly the rows of :func:`triple_entries` —
    the DuckDB-runnable oracle.  ``num_exprs``/``cat_exprs`` are SQL
    expressions (cat expressions must be integer-typed)."""
    num_exprs, cat_exprs, group_by = list(num_exprs), list(cat_exprs), list(group_by)
    d, c = len(num_exprs), len(cat_exprs)
    gb_sel = "".join(f"{g}, " for g in group_by)
    gb_clause = (" GROUP BY " + ", ".join(group_by)) if group_by else ""

    def q(part: str, i: int, j: int, k1: str, k2: str, val: str, extra_gb: str = "") -> str:
        gb = gb_clause + (
            (", " if group_by else " GROUP BY ") + extra_gb if extra_gb else ""
        )
        return (
            f"SELECT {gb_sel}'{part}' AS part, CAST({i} AS INT) AS i, "
            f"CAST({j} AS INT) AS j, CAST({k1} AS INT) AS k1, "
            f"CAST({k2} AS INT) AS k2, CAST({val} AS DOUBLE) AS val "
            f"FROM {table}{gb}"
        )

    parts = [q("N", -1, -1, "-1", "-1", "COUNT(*)")]
    for i in range(d):
        parts.append(q("lin", i, -1, "-1", "-1", f"SUM({num_exprs[i]})"))
    for i, j in _quad_pairs(d, nb):
        parts.append(
            q("quad", i, j, "-1", "-1", f"SUM(({num_exprs[i]}) * ({num_exprs[j]}))")
        )
    for j in range(c):
        parts.append(q("lin_cat", j, -1, cat_exprs[j], "-1", "COUNT(*)", cat_exprs[j]))
    if not nb:
        for i in range(d):
            for j in range(c):
                parts.append(
                    q(
                        "quad_num_cat",
                        i,
                        j,
                        cat_exprs[j],
                        "-1",
                        f"SUM({num_exprs[i]})",
                        cat_exprs[j],
                    )
                )
        for a, b in cat_pairs(c):
            parts.append(
                q(
                    "quad_cat",
                    a,
                    b,
                    cat_exprs[a],
                    cat_exprs[b],
                    "COUNT(*)",
                    f"{cat_exprs[a]}, {cat_exprs[b]}",
                )
            )
    return "\nUNION ALL\n".join(parts)
