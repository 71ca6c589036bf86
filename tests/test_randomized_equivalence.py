"""Randomized (seeded) equivalence: the distributed aggregation must match
the pure-Python driver algebra on arbitrary data, for every shape — the
cross-implementation safety net behind the golden fixtures."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from duckdb_imputation_spark.functions.triple import Triple
from duckdb_imputation_spark.operators.cofactor import sum_to_triple
from duckdb_imputation_spark.operators.flatten import triple_entries

RNG = np.random.default_rng(123)


def random_frame(spark, n=200, d=2, c=2, n_groups=3):
    rows = []
    for _ in range(n):
        g = int(RNG.integers(0, n_groups))
        nums = [float(np.round(RNG.normal(0, 10), 3)) for _ in range(d)]
        cats = [int(RNG.integers(0, 6)) for _ in range(c)]
        rows.append((g, *nums, *cats))
    fields = (
        ["g int"]
        + [f"x{i} double" for i in range(d)]
        + [f"k{j} int" for j in range(c)]
    )
    return spark.createDataFrame(rows, ", ".join(fields)), rows


def python_agg(rows, d, c, group=None, nb=False):
    t = Triple.zero(d, c, nb=nb)
    for r in rows:
        if group is not None and r[0] != group:
            continue
        t = t + Triple.lift(r[1 : 1 + d], r[1 + d : 1 + d + c], nb=nb)
    return t


def close(a: Triple, b: Triple):
    assert a.n == b.n
    assert np.allclose(a.lin, b.lin, rtol=1e-9, atol=1e-6)
    assert np.allclose(a.quad, b.quad, rtol=1e-9, atol=1e-6)
    for m1, m2 in zip(
        a.lin_cat + a.quad_num_cat + a.quad_cat,
        b.lin_cat + b.quad_num_cat + b.quad_cat,
    ):
        assert set(m1) == set(m2)
        for k in m1:
            assert abs(m1[k] - m2[k]) < 1e-6 + 1e-9 * abs(m1[k])


_SHAPES = [(1, 1, False), (3, 2, False), (2, 3, True), (4, 0, False), (0, 2, False), (8, 4, False)]


# (8, 4): fan-out × quads = 14 × 36 > _FUSE_DENSE_MAX, the two-scan union
# shape; (4, 0) is the dense aggregate alone, the rest the fused single
# scan.  The ids keep the "twolevel-" prefix they had while a second
# builder was compared here, so the test ids stay stable.
@pytest.mark.parametrize(
    "d,c,nb", _SHAPES, ids=[f"twolevel-{d}-{c}-{nb}" for d, c, nb in _SHAPES]
)
def test_spark_agg_equals_python_algebra(spark, d, c, nb):
    df, rows = random_frame(spark, n=150, d=d, c=c)
    num = [f"x{i}" for i in range(d)]
    cat = [f"k{j}" for j in range(c)]
    out = sum_to_triple(df, num, cat, group_by=["g"], nb=nb)
    got = {r["g"]: Triple.from_row(r["triple"], d_num=d, d_cat=c) for r in out.collect()}
    for g in got:
        close(got[g], python_agg(rows, d, c, group=g, nb=nb))
    # the flat entry rows, folded on the driver, give the same triples
    entries = triple_entries(df, num, cat, group_by=["g"], nb=nb).collect()
    assert {r["g"] for r in entries} == set(got)
    for g in got:
        folded = Triple.from_entries([r for r in entries if r["g"] == g], d, c, nb=nb)
        close(folded, python_agg(rows, d, c, group=g, nb=nb))


def test_max_categories_guard(spark):
    df = spark.range(5000).select(
        F.lit(1.0).alias("x"), F.col("id").cast("int").alias("k")
    )
    with pytest.raises(ValueError, match="max_categories"):
        sum_to_triple(df, ["x"], ["k"], max_categories=100)
    # bounded column passes
    df2 = spark.range(5000).select(
        F.lit(1.0).alias("x"), (F.col("id") % 5).cast("int").alias("k")
    )
    assert sum_to_triple(df2, ["x"], ["k"], max_categories=100).count() == 1


@pytest.mark.parametrize(
    "n1,c1,n2,c2,nb",
    [
        (1, 1, 1, 1, False),
        (2, 0, 1, 2, False),
        (0, 2, 2, 0, False),
        (0, 1, 0, 1, False),
        (2, 1, 1, 1, True),
    ],
)
def test_factorized_equals_materialized_shapes(spark, n1, c1, n2, c2, nb):
    """⊗ over the join == cofactor over the materialized join, across
    degenerate shapes (numeric-only side, categorical-only side, NB);
    on each shape the flat ⊗ emits exactly the rows, in order, that
    flattening the nested ⊗ does (both walk one slot table)."""
    from duckdb_imputation_spark.operators.flatten import flatten_triple
    from duckdb_imputation_spark.operators.multiply import (
        multiply_flatten_entries,
        multiply_triples,
        triple_over_join,
    )

    left_rows, right_rows = [], []
    for i in range(120):
        key = int(RNG.integers(0, 20))
        left_rows.append(
            (key,
             *[float(np.round(RNG.normal(0, 5), 2)) for _ in range(n1)],
             *[int(RNG.integers(0, 4)) for _ in range(c1)])
        )
    for i in range(40):
        key = int(RNG.integers(0, 20))
        right_rows.append(
            (key,
             *[float(np.round(RNG.normal(0, 5), 2)) for _ in range(n2)],
             *[int(RNG.integers(0, 4)) for _ in range(c2)])
        )
    ls = ", ".join(["k int"] + [f"a{i} double" for i in range(n1)] + [f"p{j} int" for j in range(c1)])
    rs = ", ".join(["k int"] + [f"b{i} double" for i in range(n2)] + [f"q{j} int" for j in range(c2)])
    ldf = spark.createDataFrame(left_rows, ls)
    rdf = spark.createDataFrame(right_rows, rs)
    num1, cat1 = [f"a{i}" for i in range(n1)], [f"p{j}" for j in range(c1)]
    num2, cat2 = [f"b{i}" for i in range(n2)], [f"q{j}" for j in range(c2)]

    fact = triple_over_join(
        ldf, rdf, on="k", num1=num1, cat1=cat1, num2=num2, cat2=cat2, nb=nb
    ).collect()
    joined = ldf.join(rdf, "k")
    mat = sum_to_triple(joined, num1 + num2, cat1 + cat2, nb=nb).collect()
    a = Triple.from_row(fact[0]["triple"], d_num=n1 + n2, d_cat=c1 + c2)
    b = Triple.from_row(mat[0]["triple"], d_num=n1 + n2, d_cat=c1 + c2)
    close(a, b)

    sides = sum_to_triple(ldf, num1, cat1, group_by=["k"], nb=nb, result_col="A").join(
        sum_to_triple(rdf, num2, cat2, group_by=["k"], nb=nb, result_col="B"), "k"
    )
    shapes = ((n1, c1), (n2, c2))
    flat = sides.select(
        "k", F.inline(multiply_flatten_entries(F.col("A"), F.col("B"), *shapes, nb=nb))
    ).collect()
    nested = flatten_triple(
        sides.select("k", multiply_triples(F.col("A"), F.col("B"), *shapes, nb=nb).alias("t")),
        n1 + n2, c1 + c2, ["k"], nb=nb, triple_col="t",
    ).collect()

    def by_key(rows):  # one joined row per key: its entries in emission order
        out = {}
        for r in rows:
            out.setdefault(r["k"], []).append(tuple(r))
        return out

    assert by_key(flat) == by_key(nested)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_bucket_pairs_equals_naive_self_join(spark, seed):
    """_bucket_pairs (capped collect+explode) must produce exactly the
    id-pairs a naive bucket self-join would, for random bucket layouts
    below the cap."""
    from duckdb_imputation_spark.operators.dedup import _bucket_pairs

    rng = np.random.default_rng(seed)
    rows = [
        (int(i), int(rng.integers(0, 3)), f"b{rng.integers(0, 6)}")
        for i in range(120)
    ]
    slim = spark.createDataFrame(rows, "__id long, __band int, __bucket string")
    got = {
        (r["id_a"], r["id_b"])
        for r in _bucket_pairs(slim, cap=1000).collect()
    }
    L, R = slim.alias("L"), slim.alias("R")
    naive = {
        (r["a"], r["b"])
        for r in L.join(
            R,
            (F.col("L.__band") == F.col("R.__band"))
            & (F.col("L.__bucket") == F.col("R.__bucket"))
            & (F.col("L.__id") < F.col("R.__id")),
        )
        .select(F.col("L.__id").alias("a"), F.col("R.__id").alias("b"))
        .distinct()
        .collect()
    }
    assert got == naive
    # with a cap, pairs from oversized buckets disappear, none are invented
    capped = {
        (r["id_a"], r["id_b"]) for r in _bucket_pairs(slim, cap=10).collect()
    }
    assert capped <= naive


# ---------------- round-5 text operators vs pure-Python references ----


def _py_repetition(text, n=2):
    text = text or ""
    lines = [l.strip() for l in text.split("\n") if l.strip()]
    dl = 0.0 if not lines else round((len(lines) - len(set(lines))) / len(lines), 6)
    toks = text.strip().split() if text.strip() else []
    grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
    if not grams:
        return (dl, 0.0, 0.0)
    dg = round((len(grams) - len(set(grams))) / len(grams), 6)
    top = round(max(grams.count(g) for g in set(grams)) / len(grams), 6)
    return (dl, dg, top)


def test_repetition_metrics_random(spark):
    from duckdb_imputation_spark.operators.textstats import repetition_metrics

    words = ["a", "bb", "ccc", "dd d", "x"]  # "dd d" never appears: split is ws
    vocab = ["a", "bb", "ccc", "x", "yy"]
    docs = []
    for i in range(60):
        k = int(RNG.integers(0, 30))
        toks = [vocab[int(RNG.integers(0, len(vocab)))] for _ in range(k)]
        text = " ".join(toks)
        if i % 7 == 0:
            text = text + "\n" + text  # force duplicate lines
        docs.append((i, text if i % 11 else None))
    df = spark.createDataFrame(docs, "id long, text string")
    got = {
        r["id"]: (
            r["m"]["dup_line_frac"],
            r["m"]["dup_ngram_frac"],
            r["m"]["top_ngram_frac"],
        )
        for r in df.select("id", repetition_metrics(F.col("text")).alias("m")).collect()
    }
    for i, text in docs:
        assert got[i] == _py_repetition(text), (i, text)


def test_encode_with_vocabulary_random(spark):
    from duckdb_imputation_spark.operators.textprep import encode_with_vocabulary

    vocab_tokens = {"a": 1, "bb": 2, "ccc": 3}
    pool = list(vocab_tokens) + ["oov1", "oov2"]
    docs = []
    for i in range(50):
        k = int(RNG.integers(0, 12))
        docs.append((i, " ".join(pool[int(RNG.integers(0, len(pool)))] for _ in range(k))))
    df = spark.createDataFrame(docs, "id long, text string")
    vdf = spark.createDataFrame(
        list(vocab_tokens.items()), "token string, token_id long"
    )
    got = {
        r["id"]: (list(r["token_ids"]), r["n_oov"])
        for r in encode_with_vocabulary(df, "text", "id", vdf).collect()
    }
    for i, text in docs:
        toks = text.split() if text.strip() else []
        ids = [vocab_tokens.get(t, -1) for t in toks]
        assert got[i] == (ids, ids.count(-1)), (i, text)


# ---------------------------------------------------------------------- #
# Round-6 pipeline ops vs pure-Python references on randomized corpora   #
# ---------------------------------------------------------------------- #


def _random_line_docs(n_docs=40, n_lines=5, vocab=12, seed=7):
    rng = np.random.default_rng(seed)
    # a small pool of long lines so cross-doc repeats are common, plus
    # per-doc unique lines and short lines that must never dedup
    pool = [
        "shared line %d %s" % (i, " ".join(f"w{rng.integers(0, vocab)}" for _ in range(6)))
        for i in range(10)
    ]
    docs = []
    for d in range(n_docs):
        lines = []
        for p in range(n_lines):
            r = rng.random()
            if r < 0.4:
                lines.append(pool[int(rng.integers(0, len(pool)))])
            elif r < 0.6:
                lines.append("ok")  # short: always passes
            else:
                lines.append(f"unique doc{d} pos{p} " + " ".join(
                    f"u{rng.integers(0, 999999)}" for _ in range(4)))
        docs.append((d, "\n".join(lines)))
    return docs


def _py_line_dedup(docs, min_chars=10):
    first = {}
    for d, text in sorted(docs):
        for p, line in enumerate(text.split("\n")):
            if len(line) >= min_chars and line not in first:
                first[line] = (d, p)
    out = {}
    for d, text in docs:
        kept = [
            line
            for p, line in enumerate(text.split("\n"))
            if len(line) < min_chars or first[line] == (d, p)
        ]
        if kept:
            out[d] = "\n".join(kept)
    return out


def test_line_dedup_matches_python_reference(spark):
    from duckdb_imputation_spark.operators import dedup as dd

    docs = _random_line_docs()
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r["text"] for r in dd.line_dedup(df, "text", "doc_id").collect()}
    assert got == _py_line_dedup(docs)


def _py_passage_runs(docs, n=3):
    from collections import defaultdict

    def grams(text):
        toks = text.split()
        if len(toks) >= n:
            return [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
        return [" ".join(toks)]

    owners = defaultdict(set)
    for d, text in docs:
        for g in grams(text):
            owners[g].add(d)
    out = {}
    for d, text in docs:
        run = best = 0
        for g in grams(text):
            run = run + 1 if len(owners[g]) >= 2 else 0
            best = max(best, run)
        out[d] = best
    return out


def test_duplicate_passage_runs_match_python_reference(spark):
    from duckdb_imputation_spark.operators import dedup as dd

    rng = np.random.default_rng(11)
    docs = [
        (d, " ".join(f"t{rng.integers(0, 6)}" for _ in range(20)))
        for d in range(30)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: r["max_dup_run"]
        for r in dd.duplicate_passage_flags(df, "text", "doc_id", n=3, min_run=3).collect()
    }
    assert got == _py_passage_runs(docs, n=3)


def test_temperature_sample_rates_match_python_reference(spark):
    """The per-stratum thresholds must equal the driver-side formula, and
    membership must equal the md5 predicate row by row."""
    import hashlib
    import math

    from duckdb_imputation_spark.operators import textprep as tp

    rng = np.random.default_rng(5)
    rows = [(i, f"s{int(rng.integers(0, 4))}") for i in range(800)]
    df = spark.createDataFrame(rows, "id long, s string")
    got = {r["id"] for r in tp.temperature_sample(df, "s", "id", target_frac=0.4).collect()}

    from collections import Counter
    counts = Counter(s for _, s in rows)
    N = sum(counts.values())
    D = round(sum(math.sqrt(c) for c in counts.values()), 6)
    thresh = {
        s: math.floor(round(min(1.0, 0.4 * N * math.sqrt(c) / D / c) * 1_000_000, 3))
        for s, c in counts.items()
    }

    def h(i):
        return int(hashlib.md5(f"mix{i}".encode()).hexdigest()[:8], 16)

    expect = {i for i, s in rows if h(i) % 1_000_000 < thresh[s]}
    assert got == expect


def _py_remove_passages(docs, n=3, min_run=3):
    """Pure-Python reference for remove_duplicate_passages: shared-gram
    runs >= min_run cover tokens [start, start+run+n-2]; covered tokens
    drop, the document rebuilds from survivors in order."""
    from collections import defaultdict

    def grams(text):
        toks = text.split()
        if len(toks) >= n:
            return [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
        return [" ".join(toks)]

    owners = defaultdict(set)
    for d, text in docs:
        for g in grams(text):
            owners[g].add(d)
    out = {}
    for d, text in docs:
        toks = text.split()
        shared = [len(owners[g]) >= 2 for g in grams(text)]
        covered = set()
        i = 0
        while i < len(shared):
            if shared[i]:
                j = i
                while j < len(shared) and shared[j]:
                    j += 1
                if j - i >= min_run:
                    covered.update(range(i, i + (j - i) + n - 1))
                i = j
            else:
                i += 1
        kept = [t for p, t in enumerate(toks) if p not in covered]
        out[d] = (" ".join(kept), len(toks) - len(kept))
    return out


@pytest.mark.parametrize("seed", [3, 4])
def test_remove_duplicate_passages_matches_python_reference(spark, seed):
    from duckdb_imputation_spark.operators import dedup as dd

    rng = np.random.default_rng(seed)
    docs = [
        (d, " ".join(f"t{rng.integers(0, 6)}" for _ in range(20)))
        for d in range(30)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in dd.remove_duplicate_passages(
            df, "text", "doc_id", n=3, min_run=3
        ).collect()
    }
    assert got == _py_remove_passages(docs, n=3, min_run=3)


def test_remove_duplicate_passages_short_and_unique_docs(spark):
    from duckdb_imputation_spark.operators import dedup as dd

    docs = [
        (0, "a b"),                    # short (< n): whole-doc gram, unique
        (1, "a b"),                    # short duplicate pair: fully removed
        (2, "unique words only here"),
        (3, ""),                       # empty text
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in dd.remove_duplicate_passages(
            df, "text", "doc_id", n=3, min_run=1
        ).collect()
    }
    assert got[0] == ("", 2)  # shared whole-doc gram with doc 1 -> removed
    assert got[1] == ("", 2)
    assert got[2] == ("unique words only here", 0)
    assert got[3] == ("", 0)


# ------------------------------------------------- snapshot diff / apply


def _py_snapshot_diff(old, new):
    """Pure-Python reference: dicts key -> value tuple."""
    out = {}
    for k in old.keys() | new.keys():
        if k not in old:
            out[k] = "added"
        elif k not in new:
            out[k] = "removed"
        elif old[k] != new[k]:
            out[k] = "changed"
    return out


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_snapshot_diff_matches_python_reference(spark, seed):
    from duckdb_imputation_spark.operators.snapshot import (
        snapshot_apply,
        snapshot_diff,
    )

    rng = np.random.default_rng(seed)
    vals = [None, "", "a", "b", "a|b", "x\x1fy"]

    def mk():
        return {
            int(k): (
                vals[rng.integers(len(vals))],
                vals[rng.integers(len(vals))],
            )
            for k in rng.choice(200, size=120, replace=False)
        }

    old, new = mk(), mk()
    o = spark.createDataFrame(
        [(k, a, b) for k, (a, b) in old.items()], "k long, x string, y string"
    )
    n = spark.createDataFrame(
        [(k, a, b) for k, (a, b) in new.items()], "k long, x string, y string"
    )
    got = {
        r["k"]: r["change_type"]
        for r in snapshot_diff(o, n, ["k"]).collect()
    }
    assert got == _py_snapshot_diff(old, new)
    rebuilt = snapshot_apply(o, n, snapshot_diff(o, n, ["k"]), ["k"])
    assert sorted(map(tuple, rebuilt.collect())) == sorted(
        map(tuple, n.collect())
    )


# --------------------------------------------------------------- #
# round-9 surfaces: seeded randomized properties                   #
# --------------------------------------------------------------- #


def test_quantile_buckets_row_preserving_random(spark):
    """Property: quantile_buckets NEVER changes the row count, for any
    mix of NULL values, NULL keys and all-NULL strata; non-NULL
    buckets are always in [0, n_buckets)."""
    from duckdb_imputation_spark.operators.profile import quantile_buckets

    rng = np.random.default_rng(77)
    for trial in range(3):
        rows = []
        for _ in range(120):
            h = None if rng.random() < 0.15 else int(rng.integers(0, 4))
            v = None if rng.random() < 0.25 else float(
                np.round(rng.normal(0, 5), 3)
            )
            if h == 3:
                v = None  # stratum 3: all NULL -> no edges
            rows.append((h, v))
        df = spark.createDataFrame(rows, "h int, v double")
        out = quantile_buckets(df, "v", n_buckets=5, by_cols=["h"]).collect()
        assert len(out) == len(rows), trial
        for r in out:
            if r["v"] is None or r["h"] is None or r["h"] == 3:
                assert r["bucket"] is None, r
            else:
                assert 0 <= r["bucket"] <= 4, r


def test_target_encode_range_and_singleton_random(spark):
    """Property: every code lies within [min, max] of {prior, category
    means} (convex combination), and a LOO singleton equals the prior
    for ANY smoothing (including 0)."""
    from duckdb_imputation_spark.operators.features import target_encode

    rng = np.random.default_rng(99)
    for m in (0.0, 1.0, 25.0):
        rows = [
            (chr(97 + int(rng.integers(0, 5))), float(rng.integers(0, 100)))
            for _ in range(80)
        ] + [("singleton", 55.0)]
        df = spark.createDataFrame(rows, "c string, y double")
        ys = [y for _, y in rows]
        prior = sum(ys) / len(ys)
        got = target_encode(
            df, "c", "y", smoothing=m, loo=True, round_digits=None
        ).collect()
        means = {}
        for c, y in rows:
            means.setdefault(c, []).append(y)
        lo = min(min(v) for v in means.values() if v)
        hi = max(max(v) for v in means.values() if v)
        lo, hi = min(lo, prior), max(hi, prior)
        for r in got:
            assert lo - 1e-9 <= r["te"] <= hi + 1e-9, (m, r)
        s_row = [r for r in got if r["c"] == "singleton"][0]
        assert abs(s_row["te"] - prior) < 1e-9, m


def test_embedding_dedup_clustered_drops_planted_copies(spark):
    """Property: an EXACT copy has distance zero to its original, so it
    lands in the same k-means cluster for ANY centroid set — clustered
    SemDeDup must drop every planted copy regardless of k."""
    from duckdb_imputation_spark.operators.dedup import embedding_dedup

    rng = np.random.default_rng(5)
    base = [
        (i, [float(x) for x in rng.normal(0, 1, 16)]) for i in range(30)
    ]
    copies = [(i + 1000, v) for i, v in base[:8]]
    df = spark.createDataFrame(
        base + copies, "vec_id long, embedding array<double>"
    )
    for k in (2, 5):
        kept = {
            r["vec_id"]
            for r in embedding_dedup(
                df, "embedding", "vec_id", dim=16,
                threshold=0.999999, clusters=k,
            ).select("vec_id").collect()
        }
        assert not any(v >= 1000 for v in kept), k
        assert set(range(8)) <= kept, k
