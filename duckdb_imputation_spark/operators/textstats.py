"""Text analysis for large-scale training-data pipelines.

Language-ID (stopword-hit heuristic), quality scoring (length / punct /
stopword ratios), token counting (whitespace + a BPE-ish regex), and
document fingerprinting (rolling polynomial hash over md5'd tokens).

All pure Column expressions — whole-stage-codegen'd, no Python in the
row path — and every op has a deterministic ANSI-SQL twin for the
DuckDB oracle (same formulas, same md5-based hashing).  One exception:
:func:`compression_ratio` is an Arrow-batched pandas UDF (zlib has no
SQL equivalent in either engine; verified against the local zlib
bit-for-bit instead).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .hashing import md5_int32, ws_tokens

__all__ = [
    "interpolated_bigram_logprob",
    "pmi_collocations",
    "token_count_ws",
    "token_count_regex",
    "quality_metrics",
    "quality_score",
    "lang_id",
    "fingerprint",
    "compression_ratio",
    "text_stats",
    "repetition_metrics",
    "gopher_rules",
    "STOPWORDS",
    "GOPHER_STOPWORDS",
]

# Tiny per-language stopword lists — the lang-ID heuristic's n-gram model.
# Deliberately small and embedded so the oracle SQL can inline them.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "ein", "zu", "den"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est", "pour", "que"],
    "es": ["el", "la", "los", "y", "de", "un", "una", "es", "por", "que"],
    "it": ["il", "la", "di", "e", "un", "una", "per", "che", "non", "sono"],
}

_PUNCT_RE = r"[.,!?;:'\"()\[\]{}<>/\\|@#$%^&*_+=~`-]"
_BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
_FP_MOD = 1_000_000_007


def token_count_ws(col: Column) -> Column:
    """Whitespace token count."""
    return F.size(ws_tokens(col)).cast("long")


def token_count_regex(col: Column) -> Column:
    """BPE-ish token count: letter runs, digit runs, single symbols —
    a cheap proxy for subword tokenizer counts."""
    return F.size(
        F.regexp_extract_all(F.coalesce(col, F.lit("")), F.lit(_BPE_RE), 0)
    ).cast("long")


def quality_metrics(col: Column) -> dict[str, Column]:
    """Raw quality features as named columns."""
    col = F.coalesce(col, F.lit(""))
    toks = ws_tokens(col)
    n_char = F.length(col).cast("long")
    n_tok = F.size(toks).cast("long")
    n_punct = (F.length(col) - F.length(F.regexp_replace(col, _PUNCT_RE, ""))).cast(
        "long"
    )
    stop = [F.lit(w) for w in STOPWORDS["en"]]
    n_stop = F.size(
        F.filter(toks, lambda t: F.array_contains(F.array(*stop), F.lower(t)))
    ).cast("long")
    mean_tok_len = F.when(n_tok > 0, (n_char - (n_tok - 1)) / n_tok).otherwise(
        F.lit(0.0)
    )
    return {
        "n_chars": n_char,
        "n_tokens": n_tok,
        "punct_ratio": F.when(n_char > 0, n_punct / n_char).otherwise(0.0),
        "stopword_ratio": F.when(n_tok > 0, n_stop / n_tok).otherwise(0.0),
        "mean_token_len": mean_tok_len,
    }


def quality_score(col: Column) -> Column:
    """Composite quality in [0,1]: rewards stopword presence and sane
    token lengths, penalizes punctuation soup and trivial length.
    Deterministic formula — mirrored 1:1 in the SQL oracle."""
    m = quality_metrics(col)
    len_term = F.least(m["n_tokens"] / F.lit(100.0), F.lit(1.0))
    stop_term = F.least(m["stopword_ratio"] * 2.0, F.lit(1.0))
    punct_term = F.greatest(F.lit(1.0) - m["punct_ratio"] * 5.0, F.lit(0.0))
    wordlen_term = F.when(
        (m["mean_token_len"] >= 2.0) & (m["mean_token_len"] <= 12.0), 1.0
    ).otherwise(0.5)
    # integer-tier rounding (round(x·1e6)/1e6, NOT ROUND(x, 6)): the
    # quality terms are exact count ratios, and an exact rational ON a
    # fractional-tier decimal boundary (e.g. 0.7146875) has no exact
    # double, so two engines CAN round it differently; x.5 at the
    # integer tier is exact and both engines agree (the r8
    # target_encode discipline, caught here by the r9 margin sweep).
    raw = (len_term + stop_term + punct_term + wordlen_term) / 4.0
    return F.round(raw * 1e6).cast("long") / F.lit(1e6)


def lang_id(col: Column) -> Column:
    """argmax over languages of stopword hits; 'und' (undetermined) when
    nothing matches."""
    toks = F.transform(ws_tokens(col), lambda t: F.lower(t))
    scores = []
    for lang in sorted(STOPWORDS):
        stop = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        scores.append(
            F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
        )
    arr = F.array(*scores)
    best = F.array_max(arr)
    langs = F.array(*[F.lit(x) for x in sorted(STOPWORDS)])
    return F.when(best == 0, F.lit("und")).otherwise(
        F.element_at(langs, F.array_position(arr, best).cast("int"))
    )


def fingerprint(col: Column) -> Column:
    """Order-sensitive document fingerprint: rolling polynomial hash
    h = (h*31 + md5_32(token)) mod 1e9+7 over whitespace tokens."""
    toks = ws_tokens(col)
    hashes = F.transform(toks, lambda t: md5_int32(t))
    return F.aggregate(
        hashes,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * 31 + h) % F.lit(_FP_MOD),
    )


def text_stats(col: Column) -> Column:
    """All text metrics in one struct with the token array tokenized ONCE
    (bound through a lambda variable — Catalyst does not CSE the
    tokenization across sibling metric expressions; the per-metric
    convenience functions above re-tokenize each time).

    Fields: n_ws_tokens, n_re_tokens, fp, quality, lang.
    NULL text ≡ empty text (shared semantic with ws_tokens).
    """
    col = F.coalesce(col, F.lit(""))
    n_char = F.length(col).cast("long")
    n_punct = (F.length(col) - F.length(F.regexp_replace(col, _PUNCT_RE, ""))).cast(
        "long"
    )
    n_re = F.size(F.regexp_extract_all(col, F.lit(_BPE_RE), 0)).cast("long")
    langs = sorted(STOPWORDS)

    def build(toks: Column, lower: Column) -> Column:
        n_tok = F.size(toks).cast("long")
        hashes = F.transform(toks, lambda t: md5_int32(t))
        fp = F.aggregate(
            hashes,
            F.lit(0).cast("long"),
            lambda acc, h: (acc * 31 + h) % F.lit(_FP_MOD),
        )
        hits = []
        for lang in langs:
            stop = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
            hits.append(F.size(F.filter(lower, lambda t: F.array_contains(stop, t))))
        hit_arr = F.array(*hits)
        best = F.array_max(hit_arr)
        lang_arr = F.array(*[F.lit(x) for x in langs])
        lang = F.when(best == 0, F.lit("und")).otherwise(
            F.element_at(lang_arr, F.array_position(hit_arr, best).cast("int"))
        )
        n_stop_en = hits[langs.index("en")].cast("long")
        mean_tok_len = F.when(n_tok > 0, (n_char - (n_tok - 1)) / n_tok).otherwise(
            F.lit(0.0)
        )
        len_term = F.least(n_tok / F.lit(100.0), F.lit(1.0))
        stop_term = F.least(
            F.when(n_tok > 0, n_stop_en / n_tok).otherwise(0.0) * 2.0, F.lit(1.0)
        )
        punct_term = F.greatest(
            F.lit(1.0) - F.when(n_char > 0, n_punct / n_char).otherwise(0.0) * 5.0,
            F.lit(0.0),
        )
        wordlen_term = F.when(
            (mean_tok_len >= 2.0) & (mean_tok_len <= 12.0), 1.0
        ).otherwise(0.5)
        # integer-tier rounding — see quality_score
        q_raw = (len_term + stop_term + punct_term + wordlen_term) / 4.0
        quality = F.round(q_raw * 1e6).cast("long") / F.lit(1e6)
        return F.struct(
            n_tok.alias("n_ws_tokens"),
            n_re.alias("n_re_tokens"),
            fp.alias("fp"),
            quality.alias("quality"),
            lang.alias("lang"),
        )

    # two nested 1-element binds: the token array AND its lowercased
    # twin each evaluate once — the five per-language stopword filters
    # all read the bound `lower` instead of re-lowercasing (1.47x at
    # sf1 on top of the single tokenization)
    return F.element_at(
        F.transform(
            F.array(ws_tokens(col)),
            lambda toks: F.element_at(
                F.transform(
                    F.array(F.transform(toks, lambda t: F.lower(t))),
                    lambda lower: build(toks, lower),
                ),
                1,
            ),
        ),
        1,
    )


def repetition_metrics(col: Column, n: int = 2) -> Column:
    """Gopher-style repetition filters (Rae et al. 2021, the standard
    web-corpus boilerplate detectors), per document as one struct:

    * ``dup_line_frac``  — fraction of non-empty trimmed lines that
      duplicate an earlier line;
    * ``dup_ngram_frac`` — fraction of word ``n``-grams that are repeats;
    * ``top_ngram_frac`` — occurrences of the most frequent ``n``-gram
      over total ``n``-grams (boilerplate loops score near 1).

    Pure Column HOFs, O(k log k) per doc: the top-gram count folds over
    the SORTED gram array (longest equal run) instead of the naive
    O(k²) count-per-distinct-gram.  Every expensive array is
    lambda-bound once (the no-CSE rule).  Rounded to 6 decimals for
    cross-engine hash stability; NULL text ≡ empty text."""
    c = F.coalesce(col, F.lit(""))

    def line_frac(ls: Column) -> Column:
        sz = F.size(ls)
        return F.when(
            sz > 0,
            (sz - F.size(F.array_distinct(ls))) / sz.cast("double"),
        ).otherwise(F.lit(0.0))

    lines = F.filter(
        F.transform(F.split(c, r"\n"), lambda l: F.trim(l)),
        lambda l: F.length(l) > 0,
    )

    def gram_fracs(g: Column) -> Column:
        sz = F.size(g)
        dup = F.when(
            sz > 0, (sz - F.size(F.array_distinct(g))) / sz.cast("double")
        ).otherwise(F.lit(0.0))
        run = F.aggregate(
            F.array_sort(g),
            F.struct(
                F.lit("").alias("prev"),
                F.lit(0).alias("run"),
                F.lit(0).alias("best"),
            ),
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
                F.greatest(
                    acc.best,
                    F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)),
                ).alias("best"),
            ),
            lambda acc: acc.best,
        )
        top = F.when(sz > 0, run / sz.cast("double")).otherwise(F.lit(0.0))
        return F.struct(
            F.round(dup, 6).alias("dup_ngram_frac"),
            F.round(top, 6).alias("top_ngram_frac"),
        )

    def build(toks: Column) -> Column:
        grams = F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.element_at(F.transform(F.array(grams), gram_fracs), 1)

    # trim strips spaces only, so a text that starts or ends with another
    # whitespace ("\n") splits into an empty token; words are non-empty
    words = F.filter(ws_tokens(c), lambda t: F.length(t) > 0)
    gf = F.element_at(F.transform(F.array(words), build), 1)
    lf = F.element_at(F.transform(F.array(lines), line_frac), 1)
    # bind gf once — two direct field references would re-run the whole
    # gram pipeline (the exact no-CSE trap this module documents)
    return F.element_at(
        F.transform(
            F.array(gf),
            lambda s: F.struct(
                F.round(lf, 6).alias("dup_line_frac"),
                s["dup_ngram_frac"].alias("dup_ngram_frac"),
                s["top_ngram_frac"].alias("top_ngram_frac"),
            ),
        ),
        1,
    )


# ---------------------------------------------------------------- SQL twins

def token_count_ws_sql(expr: str) -> str:
    return (
        f"CASE WHEN length(trim({expr})) = 0 THEN 0 ELSE "
        f"CAST(length(regexp_split_to_array(trim({expr}), '\\s+')) AS BIGINT) END"
    )


def token_count_regex_sql(expr: str) -> str:
    return (
        f"CAST(length(regexp_extract_all({expr}, '{_BPE_RE}')) AS BIGINT)"
    )


def fingerprint_sql(expr: str) -> str:
    toks = (
        f"CASE WHEN length(trim({expr})) = 0 THEN [] "
        f"ELSE regexp_split_to_array(trim({expr}), '\\s+') END"
    )
    hashes = (
        f"list_transform({toks}, t -> CAST('0x' || substr(md5(t), 1, 8) AS BIGINT))"
    )
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), {hashes}), "
        f"(acc, h) -> (acc * 31 + h) % {_FP_MOD})"
    )


def quality_score_sql(expr: str) -> str:
    toks = f"regexp_split_to_array(trim({expr}), '\\s+')"
    n_char = f"length({expr})"
    n_tok = f"(CASE WHEN length(trim({expr})) = 0 THEN 0 ELSE length({toks}) END)"
    punct_sql = _PUNCT_RE.replace("'", "''")
    n_punct = f"(length({expr}) - length(regexp_replace({expr}, '{punct_sql}', '', 'g')))"
    stoplist = "[" + ", ".join(f"'{w}'" for w in STOPWORDS["en"]) + "]"
    n_stop = f"length(list_filter({toks}, t -> list_contains({stoplist}, lower(t))))"
    mean_tok = f"(CASE WHEN {n_tok} > 0 THEN CAST({n_char} - ({n_tok} - 1) AS DOUBLE) / {n_tok} ELSE 0.0 END)"
    len_term = f"LEAST({n_tok} / 100.0, 1.0)"
    stop_term = f"LEAST((CASE WHEN {n_tok} > 0 THEN CAST({n_stop} AS DOUBLE) / {n_tok} ELSE 0.0 END) * 2.0, 1.0)"
    punct_term = f"GREATEST(1.0 - (CASE WHEN {n_char} > 0 THEN CAST({n_punct} AS DOUBLE) / {n_char} ELSE 0.0 END) * 5.0, 0.0)"
    wordlen_term = f"(CASE WHEN {mean_tok} >= 2.0 AND {mean_tok} <= 12.0 THEN 1.0 ELSE 0.5 END)"
    # integer-tier rounding — see quality_score (round(x*1e6)/1e6)
    raw = f"(({len_term} + {stop_term} + {punct_term} + {wordlen_term}) / 4.0)"
    return f"(CAST(ROUND({raw} * 1000000.0) AS BIGINT) / 1000000.0)"


def lang_id_sql(expr: str) -> str:
    toks = (
        f"list_transform(CASE WHEN length(trim({expr})) = 0 THEN [] "
        f"ELSE regexp_split_to_array(trim({expr}), '\\s+') END, t -> lower(t))"
    )
    langs = sorted(STOPWORDS)
    scores = []
    for lang in langs:
        stoplist = "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"
        scores.append(
            f"length(list_filter({toks}, t -> list_contains({stoplist}, t)))"
        )
    arr = "[" + ", ".join(scores) + "]"
    lang_arr = "[" + ", ".join(f"'{x}'" for x in langs) + "]"
    return (
        f"CASE WHEN list_max({arr}) = 0 THEN 'und' "
        f"ELSE list_extract({lang_arr}, list_position({arr}, list_max({arr}))) END"
    )


# The Gopher quality-rule stopword set (Rae et al. 2021, "Scaling
# Language Models: ... Gopher", §A.1.1): a document must contain at
# least two of these to pass the stopword rule.  Embedded so the SQL
# oracle can inline it.
GOPHER_STOPWORDS: list[str] = [
    "the", "be", "to", "of", "and", "that", "have", "with",
]


def gopher_rules(col: Column) -> dict[str, Column]:
    """Gopher-style document quality rules (Rae et al. 2021, §A.1.1 —
    the rule family MassiveWeb filtering popularized; also the core of
    RedPajama-v2's quality signals).  Returns named Columns — integer
    counts plus one boolean per rule and the conjunction ``keep`` —
    ALL integer/boolean typed: no float column leaves this operator,
    so a catalog row over it has zero rounding-boundary surface
    (oracle_margin.py's fragility class is designed out, not managed).

    Rules (thresholds scaled to the synthetic corpus's short documents
    — the shape is Gopher's, the constants are honest knobs):

    * ``rule_word_count``: 10 <= words <= 100000 (Gopher: 50..100k)
    * ``rule_mean_word_len``: mean word length in [2, 10] — computed
      as sum(len(word)) * 1 per word, compared via integer
      cross-multiplication (``2*n <= sum_len <= 10*n``) so the rule
      needs no float division
    * ``rule_symbol_ratio``: '#' + '...' occurrences <= words / 10
      (integer cross-multiplied again)
    * ``rule_alpha_words``: words containing an alphabetic char
      >= 80%% of words (``5*n_alpha >= 4*n_words``)
    * ``rule_stopwords``: >= 1 distinct GOPHER_STOPWORDS present
      (Gopher: >= 2 — the synthetic corpus tops out at one)

    All expressions are built-in Column functions (transform / filter
    / aggregate — JVM-side, codegen-friendly); the SQL twin mirrors
    them with DuckDB list functions."""
    c = F.coalesce(col, F.lit(""))
    toks = ws_tokens(c)
    n_words = F.size(toks).cast("long")
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_hash = (
        F.length(c) - F.length(F.regexp_replace(c, F.lit(r"#"), F.lit("")))
    ).cast("long")
    n_ellipsis = (
        (
            F.length(c)
            - F.length(F.regexp_replace(c, F.lit(r"\.\.\."), F.lit("")))
        )
        / 3
    ).cast("long")
    n_alpha = F.size(
        F.filter(toks, lambda t: t.rlike("[A-Za-z]"))
    ).cast("long")
    n_stop = F.size(
        F.filter(
            F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
            lambda w: F.array_contains(
                F.transform(toks, F.lower), w
            ),
        )
    ).cast("long")
    rules = {
        "n_words": n_words,
        "sum_word_len": sum_len,
        "n_symbol": (n_hash + n_ellipsis).cast("long"),
        "n_alpha_words": n_alpha,
        "n_gopher_stopwords": n_stop,
        "rule_word_count": (n_words >= 10) & (n_words <= 100000),
        "rule_mean_word_len": (sum_len >= 2 * n_words)
        & (sum_len <= 10 * n_words)
        & (n_words > 0),
        "rule_symbol_ratio": (n_hash + n_ellipsis) * 10 <= n_words,
        "rule_alpha_words": n_alpha * 5 >= n_words * 4,
        "rule_stopwords": n_stop >= 1,
    }
    rules["keep"] = (
        rules["rule_word_count"]
        & rules["rule_mean_word_len"]
        & rules["rule_symbol_ratio"]
        & rules["rule_alpha_words"]
        & rules["rule_stopwords"]
    )
    return rules


def compression_ratio(df, text_col: str, out_col: str = "zlib_ratio"):
    """Per-document zlib compression ratio (compressed/raw bytes) — the
    classic long-range repetition/boilerplate signal (used alongside
    Gopher-style heuristics; machine-generated or templated text
    compresses far below ~0.4 while natural prose sits ~0.5-0.7).
    Complements token_entropy, which only sees the unigram histogram —
    a document repeating a 40-token paragraph has high entropy but a
    tiny ratio.

    Arrow-batched pandas UDF (zlib level 6, deterministic output for a
    given zlib build — pin the level for reproducibility); empty/null
    text maps to 1.0 (incompressible by convention)."""

    @F.pandas_udf("double")
    def ratio(s: pd.Series) -> pd.Series:
        import zlib

        def one(t):
            if not t:
                return 1.0
            raw = t.encode("utf-8")
            return len(zlib.compress(raw, 6)) / len(raw)

        return s.map(one)

    return df.withColumn(out_col, ratio(F.coalesce(F.col(text_col), F.lit(""))))


def interpolated_bigram_logprob(
    df,
    text_col: str,
    id_col: str,
    model_df=None,
    lam: float = 0.7,
    round_digits: int | None = 6,
):
    """Jelinek–Mercer interpolated bigram LM scoring — the CROSS-CORPUS
    form of the bigram quality signal: score ``df``'s documents under a
    model estimated from ``model_df`` (default: ``df`` itself), with

        p(w2|w1) = λ·p_bigram(w2|w1) + (1−λ)·p_unigram(w2)

    where p_bigram is the MLE conditional (0 for an unseen context —
    the unigram term carries it) and p_unigram is add-one smoothed over
    the model vocabulary, so words the model never saw still score
    finite (1/(N+V)) instead of −inf.  This is the CCNet deployment
    shape: the model comes from a trusted reference corpus, the scored
    corpus is the crawl.

    Returns (id_col, avg_logprob, n_bigrams) for documents with ≥1
    bigram.  Scale: model tables are vocabulary/bigram-vocabulary-sized
    count frames joined WITHOUT a hard broadcast hint — AQE broadcasts
    small models and falls back to a shuffle join past the threshold
    (the same bounded-model lesson as selection.importance_weights)."""
    from pyspark.sql import functions as F

    from .hashing import ws_tokens

    if model_df is None:
        model_df = df

    def bigrams(frame, with_id):
        t = ws_tokens(F.col(text_col))
        pair_arr = F.when(
            F.size(t) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 1),
                lambda i: F.struct(
                    F.element_at(t, i).alias("w1"),
                    F.element_at(t, i + F.lit(1)).alias("w2"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        cols = [F.col(id_col)] if with_id else []
        return frame.select(*cols, F.explode(pair_arr).alias("pr")).select(
            *([id_col] if with_id else []),
            F.col("pr.w1").alias("w1"),
            F.col("pr.w2").alias("w2"),
        )

    mbg = bigrams(model_df, with_id=False)
    mtok = model_df.select(
        F.explode(ws_tokens(F.col(text_col))).alias("w2")
    )
    ctx = mbg.groupBy("w1").agg(F.count(F.lit(1)).cast("double").alias("c1"))
    big = mbg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("double").alias("c2")
    )
    uni = mtok.groupBy("w2").agg(
        F.count(F.lit(1)).cast("double").alias("cu")
    )
    tot = uni.agg(
        F.sum("cu").alias("n_uni"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    sbg = bigrams(df, with_id=True)
    scored = (
        sbg.join(big, ["w1", "w2"], "left")
        .join(ctx, "w1", "left")
        .join(uni, "w2", "left")
        .crossJoin(F.broadcast(tot))
    )
    p_big = F.when(
        F.coalesce(F.col("c1"), F.lit(0.0)) > 0,
        F.coalesce(F.col("c2"), F.lit(0.0)) / F.col("c1"),
    ).otherwise(F.lit(0.0))
    p_uni = (F.coalesce(F.col("cu"), F.lit(0.0)) + 1.0) / (
        F.col("n_uni") + F.col("v")
    )
    lp = F.log(F.lit(lam) * p_big + F.lit(1.0 - lam) * p_uni)
    avg = F.sum(lp) / F.count(F.lit(1))
    if round_digits is not None:
        avg = F.round(avg, round_digits)
    return scored.groupBy(id_col).agg(
        avg.alias("avg_logprob"),
        F.count(F.lit(1)).alias("n_bigrams"),
    )


def pmi_collocations(
    df,
    text_col: str,
    min_count: int = 5,
    round_digits: int | None = 6,
):
    """PMI collocation mining (Church & Hanks, "Word Association Norms,
    Mutual Information, and Lexicography", Computational Linguistics
    1990) over adjacent whitespace-token bigrams:

        pmi(x, y) = ln( c(xy) * N / (c(x) * c(y)) )

    with c(x)/c(y) unigram counts over the token stream, N the total
    token count, and c(xy) the adjacent-bigram count — the standard
    phrase-mining signal ("new york" scores high, "of the" scores near
    zero) used to build phrase vocabularies and to spot templated
    boilerplate (implausibly high-PMI long-tail pairs) in crawl data.

    Returns (w1, w2, pair_count, pmi) for bigrams with
    ``c(xy) >= min_count``.  Scale shape: the only corpus-sized shuffle
    is the bigram GROUP BY; ``min_count`` prunes the hapax tail BEFORE
    the unigram joins (Zipf: most distinct bigrams are singletons), the
    two unigram-count joins are vocabulary-sized (AQE broadcasts them),
    and N arrives as a one-row broadcast cross join.  The unigram
    product is computed exactly in integers and cast to double once, so
    engines agree up to the final ln (rounded to ``round_digits``, the
    transcendental-rounding class the LM-score rows established)."""
    from pyspark.sql import functions as F

    from .hashing import ws_tokens

    t = ws_tokens(F.col(text_col))
    pair_arr = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.struct(
                F.element_at(t, i).alias("w1"),
                F.element_at(t, i + F.lit(1)).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bg = df.select(F.explode(pair_arr).alias("pr")).select(
        F.col("pr.w1").alias("w1"), F.col("pr.w2").alias("w2")
    )
    tok = df.select(F.explode(t).alias("w"))
    uni = tok.groupBy("w").agg(F.count(F.lit(1)).alias("cu"))
    tot = tok.agg(F.count(F.lit(1)).cast("double").alias("n_tokens"))
    big = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .where(F.col("pair_count") >= int(min_count))
    )
    joined = (
        big.join(
            uni.select(F.col("w").alias("w1"), F.col("cu").alias("__c1")),
            "w1",
        )
        .join(
            uni.select(F.col("w").alias("w2"), F.col("cu").alias("__c2")),
            "w2",
        )
        .crossJoin(F.broadcast(tot))
    )
    pmi = F.log(
        (F.col("pair_count").cast("double") * F.col("n_tokens"))
        / (F.col("__c1") * F.col("__c2")).cast("double")
    )
    if round_digits is not None:
        pmi = F.round(pmi, round_digits)
    return joined.select(
        "w1", "w2", F.col("pair_count").cast("long").alias("pair_count"),
        pmi.alias("pmi"),
    )
