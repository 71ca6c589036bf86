"""The ring ("triple" / cofactor) aggregate — data model and driver-side algebra.

A *triple* is the sufficient-statistics aggregate of the reference engine
(eddbase/duckdb-imputation): for ``d`` continuous columns and ``c``
categorical columns it holds

    N            -- row count
    lin_agg[d]                   -- Σ x_i
    quad_agg[d(d+1)/2]           -- Σ x_i x_j   (upper triangle, row major)
    lin_cat[c]                   -- per cat col: {category -> count}
    quad_num_cat[d*c]            -- per (num i, cat j), num-major i*c+j:
                                    {category -> Σ x_i | cat_j = category}
    quad_cat[c(c+1)/2]           -- per (cat i <= cat j) pair, row major:
                                    {(k1, k2) -> co-occurrence count}

Reference declaration: duckdb_extension/src/triple/lift.cpp:254-280 and
triple/sum/sum.cpp:26-52; layout rules lift.cpp:156-219 (num-major
quad_num_cat, upper-triangle quad_cat); key-sorted map output
sum_state.cpp:310-461.  The NB ("naive bayes") variant is the 4-field
prefix with a *diagonal-only* quad_agg (lift_to_nb_agg.cpp:145-158).

Deviations from the reference (documented, deliberate):
  * we accumulate in float64 (reference: float32) — SURVEY §4;
  * N is int64 (reference: int32).

This module is pure Python/NumPy: it is the *driver-side* value algebra
(⊕ ⊖ ⊗) the MICE loops use (reference: imputation/triple/sum.cpp:12-210,
sub.cpp:71-217, duckdb_extension/src/triple/mul.cpp:19-611).  The
distributed aggregation that *produces* triples lives in
``duckdb_imputation_spark.operators.cofactor``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

__all__ = [
    "Triple",
    "triple_schema",
    "nb_schema",
    "n_quad",
    "pair_index",
    "cat_pairs",
]


def n_quad(d: int) -> int:
    """Number of upper-triangle entries for ``d`` columns."""
    return d * (d + 1) // 2


def pair_index(i: int, j: int, d: int) -> int:
    """Row-major upper-triangle index of pair (i, j), i <= j, over d columns.

    Matches the reference layout ``i*d - i(i+1)/2 + j``
    (duckdb_extension/src/ML/utils.cpp:196-199).
    """
    if i > j:
        i, j = j, i
    return i * d - (i * (i + 1)) // 2 + j


def cat_pairs(c: int) -> list[tuple[int, int]]:
    """Upper-triangle (incl. diagonal) pair order over ``c`` categorical cols."""
    return [(a, b) for a in range(c) for b in range(a, c)]


_KV = StructType(
    [StructField("key", IntegerType()), StructField("value", DoubleType())]
)
_KKV = StructType(
    [
        StructField("key1", IntegerType()),
        StructField("key2", IntegerType()),
        StructField("value", DoubleType()),
    ]
)


def triple_schema() -> StructType:
    """Spark StructType of a full triple (mirrors lift.cpp:254-280)."""
    return StructType(
        [
            StructField("N", LongType()),
            StructField("lin_agg", ArrayType(DoubleType())),
            StructField("quad_agg", ArrayType(DoubleType())),
            StructField("lin_cat", ArrayType(ArrayType(_KV))),
            StructField("quad_num_cat", ArrayType(ArrayType(_KV))),
            StructField("quad_cat", ArrayType(ArrayType(_KKV))),
        ]
    )


def nb_schema() -> StructType:
    """Spark StructType of an NB aggregate (lift_to_nb_agg.cpp:145-158)."""
    return StructType(
        [
            StructField("N", LongType()),
            StructField("lin_agg", ArrayType(DoubleType())),
            StructField("quad_agg", ArrayType(DoubleType())),
            StructField("lin_cat", ArrayType(ArrayType(_KV))),
        ]
    )


def _sorted_kv(m: dict) -> list[dict]:
    return [{"key": int(k), "value": float(v)} for k, v in sorted(m.items())]


def _sorted_kkv(m: dict) -> list[dict]:
    return [
        {"key1": int(k[0]), "key2": int(k[1]), "value": float(v)}
        for k, v in sorted(m.items())
    ]


def _merge(a: dict, b: dict, sign: float = 1.0) -> dict:
    out = dict(a)
    for k, v in b.items():
        out[k] = out.get(k, 0.0) + sign * v
    return out


@dataclass
class Triple:
    """Driver-side triple value with ring algebra ⊕ (__add__), ⊖ (__sub__),
    ⊗ (__mul__)."""

    d_num: int
    d_cat: int
    n: int = 0
    lin: np.ndarray = field(default_factory=lambda: np.zeros(0))
    quad: np.ndarray = field(default_factory=lambda: np.zeros(0))
    lin_cat: list = field(default_factory=list)  # list[dict[int, float]]
    quad_num_cat: list = field(default_factory=list)  # num-major i*d_cat+j
    quad_cat: list = field(default_factory=list)  # dict[(k1,k2), float]
    nb: bool = False  # NB aggregate: diagonal quad, no num_cat/cat_cat

    # -- construction -----------------------------------------------------

    @classmethod
    def zero(cls, d_num: int, d_cat: int, nb: bool = False) -> "Triple":
        return cls(
            d_num=d_num,
            d_cat=d_cat,
            n=0,
            lin=np.zeros(d_num),
            quad=np.zeros(d_num if nb else n_quad(d_num)),
            lin_cat=[{} for _ in range(d_cat)],
            quad_num_cat=[] if nb else [{} for _ in range(d_num * d_cat)],
            quad_cat=[] if nb else [{} for _ in range(n_quad(d_cat))],
            nb=nb,
        )

    @classmethod
    def lift(cls, nums, cats, nb: bool = False) -> "Triple":
        """Degree-1 triple of one row (reference to_cofactor, lift.cpp:15-243)."""
        d, c = len(nums), len(cats)
        x = np.asarray([float(v) for v in nums])
        t = cls.zero(d, c, nb=nb)
        t.n = 1
        t.lin = x
        if nb:
            t.quad = x * x
        else:
            t.quad = np.array([x[i] * x[j] for i in range(d) for j in range(i, d)])
        for j, k in enumerate(cats):
            t.lin_cat[j] = {int(k): 1.0}
        if not nb:
            for i in range(d):
                for j, k in enumerate(cats):
                    t.quad_num_cat[i * c + j] = {int(k): x[i]}
            for p, (a, b) in enumerate(cat_pairs(c)):
                t.quad_cat[p] = {(int(cats[a]), int(cats[b])): 1.0}
        return t

    @classmethod
    def from_row(cls, row, d_num: int | None = None, d_cat: int | None = None) -> "Triple":
        """Build from a Spark Row / plain dict shaped like ``triple_schema``."""
        if isinstance(row, dict):
            fields = set(row.keys())
            get = row.get
        else:  # pyspark Row
            fields = set(getattr(row, "__fields__", []))
            get = lambda f: row[f]  # noqa: E731
        lin = np.asarray(get("lin_agg") or [], dtype=np.float64)
        lin_cat_raw = get("lin_cat") or []
        d = d_num if d_num is not None else len(lin)
        c = d_cat if d_cat is not None else len(lin_cat_raw)
        quad = np.asarray(get("quad_agg") or [], dtype=np.float64)
        if "quad_num_cat" in fields:
            nb = False
            qnc_raw = get("quad_num_cat")
            qcc_raw = get("quad_cat")
        else:
            nb = True
            qnc_raw, qcc_raw = None, None
        t = cls.zero(d, c, nb=nb)
        t.n = int(get("N"))
        t.lin = lin
        t.quad = quad
        # NULL category keys (rows aggregated before imputation filled them)
        # carry no usable one-hot slot — drop them, as the reference's MICE
        # does by mean/mode-filling before aggregation (partition.cpp:43-57).
        t.lin_cat = [
            {
                int(e["key"]): float(e["value"])
                for e in (grp or [])
                if e["key"] is not None
            }
            for grp in lin_cat_raw
        ]
        if not nb:
            t.quad_num_cat = [
                {
                    int(e["key"]): float(e["value"])
                    for e in (grp or [])
                    if e["key"] is not None and e["value"] is not None
                }
                for grp in (qnc_raw or [])
            ]
            t.quad_cat = [
                {
                    (int(e["key1"]), int(e["key2"])): float(e["value"])
                    for e in (grp or [])
                    if e["key1"] is not None and e["key2"] is not None
                }
                for grp in (qcc_raw or [])
            ]
        return t

    @classmethod
    def from_entries(cls, rows, d_num: int, d_cat: int, nb: bool = False) -> "Triple":
        """⊕-fold flat entry rows (``part, i, j, k1, k2, val`` — the
        :func:`~duckdb_imputation_spark.operators.flatten.triple_entries`
        layout; any order, any duplication) into one triple.  No rows
        give the zero triple.

        The rules of :meth:`from_row` apply: an entry with a NULL category
        key is dropped, and so is a NULL value (a sum over no value)."""
        t = cls.zero(d_num, d_cat, nb=nb)
        for r in rows:
            part, i, j, v = r["part"], r["i"], r["j"], r["val"]
            if v is None:
                continue
            v = float(v)
            if part == "N":
                t.n += int(v)
            elif part == "lin":
                t.lin[i] += v
            elif part == "quad":
                t.quad[i if nb else pair_index(i, j, d_num)] += v
            elif r["k1"] is not None and (part != "quad_cat" or r["k2"] is not None):
                if part == "lin_cat":
                    m, key = t.lin_cat[i], int(r["k1"])
                elif part == "quad_num_cat":
                    m, key = t.quad_num_cat[i * d_cat + j], int(r["k1"])
                else:
                    m, key = t.quad_cat[pair_index(i, j, d_cat)], (int(r["k1"]), int(r["k2"]))
                m[key] = m.get(key, 0.0) + v
        return t

    # -- export ------------------------------------------------------------

    def to_dict(self, lin_name: str = "lin_agg", quad_name: str = "quad_agg") -> dict:
        """Nested dict matching the reference golden-test shape (key-sorted)."""
        out = {
            "N": int(self.n),
            lin_name: [float(v) for v in self.lin],
            quad_name: [float(v) for v in self.quad],
            "lin_cat": [_sorted_kv(m) for m in self.lin_cat],
        }
        if not self.nb:
            out["quad_num_cat"] = [_sorted_kv(m) for m in self.quad_num_cat]
            out["quad_cat"] = [_sorted_kkv(m) for m in self.quad_cat]
        return out

    def to_row(self) -> dict:
        return self.to_dict()

    # -- ring algebra -------------------------------------------------------

    def _binop(self, other: "Triple", sign: float) -> "Triple":
        assert (self.d_num, self.d_cat, self.nb) == (
            other.d_num,
            other.d_cat,
            other.nb,
        ), "triple shape mismatch"
        t = Triple.zero(self.d_num, self.d_cat, nb=self.nb)
        t.n = self.n + int(sign) * other.n
        t.lin = self.lin + sign * other.lin
        t.quad = self.quad + sign * other.quad
        t.lin_cat = [_merge(a, b, sign) for a, b in zip(self.lin_cat, other.lin_cat)]
        if not self.nb:
            t.quad_num_cat = [
                _merge(a, b, sign)
                for a, b in zip(self.quad_num_cat, other.quad_num_cat)
            ]
            t.quad_cat = [
                _merge(a, b, sign) for a, b in zip(self.quad_cat, other.quad_cat)
            ]
        return t

    def __add__(self, other: "Triple") -> "Triple":
        """⊕ — element-wise sum (reference sum.cpp:263-460)."""
        return self._binop(other, 1.0)

    def __sub__(self, other: "Triple") -> "Triple":
        """⊖ — used for delta/incremental cofactor maintenance
        (reference imputation/triple/sub.cpp:71-217).

        Representation note (found by the property fuzz,
        tests/test_triple_properties.py): a categorical entry whose
        contribution fully cancels stays as an explicit ``{key: 0.0}``
        rather than being deleted — value-equal to an absent key for
        every consumer (sigma assembly and the predict-expression
        renderers fold by VALUE), and the key set stays bounded by the
        column's category cardinality (keys are category ids; ⊖ can
        never introduce a key ⊕ hasn't seen), so no pruning pass is
        needed.  Compare triples value-level, not dict-level, after
        subtraction."""
        return self._binop(other, -1.0)

    def __mul__(self, other: "Triple") -> "Triple":
        """⊗ — factorized aggregation over a join (reference mul.cpp:19-611).

        Result is a triple over the *concatenated* column spaces:
        N = N₁N₂;  lin = lin₁·N₂ ∥ lin₂·N₁;  quad blocks: A·N₂ / lin₁⊗lin₂ /
        B·N₁;  cat maps scaled by the other side's N; num×cat and cat×cat
        cross blocks from products of linear parts (full key cross product
        for cat×cat, mul.cpp:564-580).
        """
        assert not self.nb and not other.nb or (self.nb == other.nb)
        a, b = self, other
        d1, d2, c1, c2 = a.d_num, b.d_num, a.d_cat, b.d_cat
        d, c = d1 + d2, c1 + c2
        t = Triple.zero(d, c, nb=self.nb)
        t.n = a.n * b.n
        t.lin = np.concatenate([a.lin * b.n, b.lin * a.n])

        if self.nb:
            t.quad = np.concatenate([a.quad * b.n, b.quad * a.n])
        else:
            quad = np.zeros(n_quad(d))
            for i in range(d):
                for j in range(i, d):
                    p = pair_index(i, j, d)
                    if j < d1:  # both in A
                        quad[p] = a.quad[pair_index(i, j, d1)] * b.n
                    elif i >= d1:  # both in B
                        quad[p] = b.quad[pair_index(i - d1, j - d1, d2)] * a.n
                    else:  # cross: lin_A[i] * lin_B[j]
                        quad[p] = a.lin[i] * b.lin[j - d1]
            t.quad = quad

        for j in range(c1):
            t.lin_cat[j] = {k: v * b.n for k, v in a.lin_cat[j].items()}
        for j in range(c2):
            t.lin_cat[c1 + j] = {k: v * a.n for k, v in b.lin_cat[j].items()}

        if self.nb:
            return t

        for i in range(d):
            for j in range(c):
                dst = t.quad_num_cat[i * c + j]
                if i < d1 and j < c1:
                    src = a.quad_num_cat[i * c1 + j]
                    for k, v in src.items():
                        dst[k] = v * b.n
                elif i >= d1 and j >= c1:
                    src = b.quad_num_cat[(i - d1) * c2 + (j - c1)]
                    for k, v in src.items():
                        dst[k] = v * a.n
                elif i < d1:  # num from A, cat from B: lin_A[i] * count_B(key)
                    for k, v in b.lin_cat[j - c1].items():
                        dst[k] = a.lin[i] * v
                else:  # num from B, cat from A
                    for k, v in a.lin_cat[j].items():
                        dst[k] = b.lin[i - d1] * v

        for p, (x, y) in enumerate(cat_pairs(c)):
            dst = t.quad_cat[p]
            if y < c1:  # both from A
                for k, v in a.quad_cat[pair_index(x, y, c1)].items():
                    dst[k] = v * b.n
            elif x >= c1:  # both from B
                for k, v in b.quad_cat[pair_index(x - c1, y - c1, c2)].items():
                    dst[k] = v * a.n
            else:  # cross: full key cross product (mul.cpp:564-580)
                for k1, v1 in a.lin_cat[x].items():
                    for k2, v2 in b.lin_cat[y - c1].items():
                        dst[(k1, k2)] = v1 * v2
        return t
