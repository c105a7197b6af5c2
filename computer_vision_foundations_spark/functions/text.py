"""Text-analysis column functions for training-data pipelines.

Everything here is built from native Catalyst expressions (split,
higher-order array functions, regexp) so it runs JVM-side with
whole-stage codegen — no Python in the hot path. These are the
text-quality / tokenization / fingerprint primitives a 100 TB document
pipeline needs (north-star extensions, SURVEY §2.10).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Minimal per-language stopword lists for the n-gram/stopword language
# heuristic. Deliberately tiny and deterministic.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "es": ["el", "la", "de", "y", "que", "en", "un", "es"],
    "fr": ["le", "la", "de", "et", "que", "en", "un", "est"],
    "de": ["der", "die", "das", "und", "zu", "in", "ein", "ist"],
}


def tokens(text: Column | str, sep: str = " ") -> Column:
    """Whitespace tokenization (single-separator split, JVM-side)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, sep)


def token_count(text: Column | str, sep: str = " ") -> Column:
    return F.size(tokens(text, sep))


def normalized_text(text: Column | str) -> Column:
    """Lowercase + strip non-alphanumerics: canonical form for dedup."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(F.lower(c), "[^a-z0-9 ]", "")


def fingerprint_md5(text: Column | str) -> Column:
    """Deterministic 128-bit document fingerprint of the canonical text."""
    return F.md5(normalized_text(text).cast("binary"))


def stopword_ratio(text: Column | str, stopwords: list[str]) -> Column:
    """Fraction of tokens that are in ``stopwords`` (0 for empty docs)."""
    toks = tokens(text)
    sw = F.array(*[F.lit(w) for w in stopwords])
    n_sw = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    n = F.size(toks)
    return F.when(n > 0, n_sw.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def shingles_from_tokens(toks: Column | str, k: int = 3) -> Column:
    """Distinct word k-gram shingles from a token-array column.

    Built as a ``zip_with`` fold over k shifted slices of the token
    array — each zip lambda touches only its lambda variables, so the
    per-element work is one string concat. The earlier
    ``transform(sequence(...), i -> array_join(slice(toks,i,k)))`` form
    is semantically identical but catastrophically slower once the
    expression is inlined under a Generate (explode): Catalyst's
    CollapseProject inlines a once-referenced token ``split`` into the
    per-element lambda, re-splitting the document per shingle —
    O(tokens²) per document, measured ~100× slower at sf0.1.

    ``toks`` should still be a materialized column (its own projection):
    the k slice references keep CollapseProject from inlining an
    expensive upstream expression. Documents shorter than k tokens
    produce one whole-doc shingle.

    Higher-order-function lambdas are interpreted, not code-generated:
    the k-1 ``zip_with`` folds cost one interpreted lambda call per
    shingle per fold. Consumers that explode the shingles anyway (and
    do not need them distinct) should use :func:`shingle_rows`, which
    builds the same shingle strings without lambdas.
    """
    toks = F.col(toks) if isinstance(toks, str) else toks
    n = F.size(toks)
    m = n - F.lit(k - 1)  # shingle count when n >= k

    sh = F.slice(toks, k, m)
    for i in range(k - 1, 0, -1):
        sh = F.zip_with(
            F.slice(toks, i, m), sh, lambda x, y: F.concat(x, F.lit("|"), y)
        )
    return F.when(n >= k, F.array_distinct(sh)).otherwise(
        F.array(F.array_join(toks, "|"))
    )


def shingle_rows(
    df: DataFrame, toks: str, k: int = 3, keep: tuple[str, ...] = (),
    out: str = "_shingle",
) -> DataFrame:
    """``(*keep, out)``: one row per word k-gram shingle of the
    token-array column ``toks`` — the exploded, lambda-free twin of
    :func:`shingles_from_tokens`.

    ``inline(arrays_zip(slice(toks,1,m), …, slice(toks,k,m)))`` yields
    one row per position with the k tokens as plain columns, then a
    code-generated ``concat(t0,'|',t1,…)`` builds the shingle — the
    same bytes the ``zip_with`` fold builds. A document shorter than k
    tokens (or a null token array) yields its one whole-doc
    ``array_join(toks,'|')`` shingle. Shingles are NOT distinct:
    repeats stay as rows, which suits min/count-distinct consumers;
    set consumers keep the array form.
    """
    t = F.col(toks)
    n = F.size(t)
    m = n - F.lit(k - 1)
    is_full = n >= k
    cols = [f"_sh{i}" for i in range(k)]
    full = F.arrays_zip(*[F.slice(t, i + 1, m).alias(c) for i, c in enumerate(cols)])
    short = F.array(
        F.struct(
            F.array_join(t, "|").alias(cols[0]),
            *[F.lit(None).cast("string").alias(c) for c in cols[1:]],
        )
    )
    rows = df.select(
        *keep,
        is_full.alias("_full"),
        F.inline(F.when(is_full, full).otherwise(short)),
    )
    parts = [F.col(cols[0])]
    for c in cols[1:]:
        parts += [F.lit("|"), F.col(c)]
    return rows.select(
        *keep,
        F.when(F.col("_full"), F.concat(*parts)).otherwise(F.col(cols[0])).alias(out),
    )


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """Single-expression shingles from raw text.

    Convenience form for small frames / tests; hot paths should
    two-step it (``tokens`` projection, then ``shingles_from_tokens``)
    — see that function's note.
    """
    return shingles_from_tokens(tokens(text), k)


def quality_columns(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add standard quality-score columns for document filtering.

    - n_tokens: whitespace token count
    - n_chars_measured: character length
    - avg_token_len: mean token length
    - punct_ratio: punctuation chars / total chars
    - en_stopword_ratio: fraction of tokens in a small English stopword set
    """
    c = F.col(text_col)
    n_tok = token_count(c)
    return (
        df.withColumn("n_tokens", n_tok)
        .withColumn("n_chars_measured", F.length(c))
        .withColumn(
            "avg_token_len",
            F.when(
                n_tok > 0,
                (F.length(c) - (n_tok - F.lit(1))).cast("double") / n_tok,
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "punct_ratio",
            F.when(
                F.length(c) > 0,
                (
                    F.length(c) - F.length(F.regexp_replace(c, "[^a-zA-Z0-9 ]", ""))
                ).cast("double")
                / F.length(c),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn("en_stopword_ratio", stopword_ratio(c, STOPWORDS["en"]))
    )


def language_score_columns(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-overlap score per candidate language + argmax guess.

    A deterministic, SQL-expressible language-ID heuristic: for each
    language, the fraction of tokens in that language's stopword list;
    ``lang_guess`` is the language with the highest score ('und' if all
    scores are zero). Ties resolve by language-code order.
    """
    out = df
    for lang, words in sorted(STOPWORDS.items()):
        out = out.withColumn(f"score_{lang}", stopword_ratio(F.col(text_col), words))
    scores = F.array(
        *[
            F.struct(
                F.col(f"score_{lang}").alias("score"), F.lit(lang).alias("lang")
            )
            for lang in sorted(STOPWORDS)
        ]
    )
    best = F.array_max(scores)
    out = out.withColumn(
        "lang_guess",
        F.when(best.getField("score") > 0, best.getField("lang")).otherwise(
            F.lit("und")
        ),
    )
    return out


# ---------------------------------------------------------------------------
# Rolling-hash fingerprinting (winnowing) + regex tokenization
# ---------------------------------------------------------------------------

# Polynomial rolling-hash parameters. base^(k-1)·255·k stays far below
# 2^63 for k ≤ 6, so the sum is exact int64 arithmetic in any engine.
ROLLING_BASE = 257
ROLLING_PRIME = 2_147_483_647  # 2^31 − 1


def char_codes(text: Column | str, k: int = 5) -> Column:
    """array<int> of character codes of the text NUL-padded to ≥ k.

    Stage 1 of the winnowing pipeline. The HOF argument (split of the
    padded text) is evaluated once per ROW — materialize this column
    before building k-gram hashes on it, or the downstream lambdas
    re-evaluate the pad+split per position (O(len²)).
    """
    c = F.col(text) if isinstance(text, str) else text
    # NUL-pad up to k (rpad TRUNCATES when the target is shorter than
    # the string, so the pad length must be max(len, k)).
    padded = F.rpad(c, F.greatest(F.length(c), F.lit(k)), F.lit("\x00"))
    return F.transform(F.split(padded, ""), lambda ch: F.ascii(ch))


def kgram_hashes_from_codes(codes: Column | str, k: int = 5) -> Column:
    """array<long> of polynomial hashes of every character k-gram.

    ``h_i = (Σ_j code[i+j] · base^(k−1−j)) mod p`` — the Rabin-Karp
    k-gram hash as a fixed k-term expression per position: exact int64
    arithmetic, bit-identical in every SQL engine. ``codes`` MUST be a
    materialized column (see ``char_codes``): a captured non-column
    expression would be re-evaluated on every lambda invocation.
    """
    cc = F.col(codes) if isinstance(codes, str) else codes
    return F.transform(
        F.sequence(F.lit(1), F.size(cc) - F.lit(k - 1)),
        lambda i: sum(
            (
                F.element_at(cc, i + F.lit(j)).cast("long")
                * F.lit(ROLLING_BASE ** (k - 1 - j))
                for j in range(1, k)
            ),
            F.element_at(cc, i).cast("long") * F.lit(ROLLING_BASE ** (k - 1)),
        )
        % F.lit(ROLLING_PRIME),
    )


def winnow_from_hashes(hashes: Column | str, w: int = 8) -> Column:
    """Distinct min-of-each-length-w-window over a MATERIALIZED
    array<long> hash column — stage 3 of winnowing. Sorted array<long>."""
    hs = F.col(hashes) if isinstance(hashes, str) else hashes
    n = F.size(hs)
    mins = F.when(
        n >= w,
        F.transform(
            F.sequence(F.lit(1), n - F.lit(w - 1)),
            lambda j: F.array_min(F.slice(hs, j, w)),
        ),
    ).otherwise(F.array(F.array_min(hs)))
    return F.array_sort(F.array_distinct(mins))


def winnow_udf(k: int = 5, w: int = 8):
    """Arrow-batched winnowing: text → sorted distinct array<long>.

    Vectorized numpy inner loop (sliding-window matmul for the k-gram
    hashes, sliding-window min for selection) in exact int64 — the same
    integers as the SQL formulation, verified differentially. The
    staged-HOF expression forms above are kept for SQL-only
    composition, but under a Generate (explode) Spark's optimizer
    re-inlines every stage into the consuming lambdas — re-evaluating
    the padded split per element, O(len²·k) per document (measured as
    a multi-minute hang on 500 docs) — so the hot path is this UDF.
    """
    from pyspark.sql.pandas.functions import pandas_udf

    weights = np.array(
        [ROLLING_BASE ** (k - 1 - j) for j in range(k)], dtype=np.int64
    )

    @pandas_udf("array<bigint>")
    def f(texts: pd.Series) -> pd.Series:
        swv = np.lib.stride_tricks.sliding_window_view
        out = []
        for s in texts:
            s = s or ""
            codes = np.fromiter(
                (ord(c) for c in s), dtype=np.int64, count=len(s)
            )
            if len(codes) < k:  # NUL-pad to one whole-text k-gram
                codes = np.pad(codes, (0, k - len(codes)))
            hs = (swv(codes, k) @ weights) % ROLLING_PRIME
            mins = swv(hs, w).min(axis=1) if len(hs) >= w else hs.min(
                keepdims=True
            )
            out.append(np.unique(mins))
        return pd.Series(out)

    return f


def with_winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    k: int = 5,
    w: int = 8,
    out_col: str = "fingerprints",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS local fingerprinting scheme): min k-gram rolling hash of each
    length-w window, deduplicated — any shared substring of length
    ≥ w+k−1 between two documents shares a fingerprint.

    Adds ``out_col`` (sorted array<long>) via ``winnow_udf``. Per-doc
    work is O(len·(k+w)) integer ops in numpy; the cross-doc near-dup
    phase is a plain exploded equi-join on fingerprint.
    """
    return df.withColumn(out_col, winnow_udf(k, w)(F.col(text_col)))


# GPT-2-flavored pre-tokenizer, reduced to a dialect-portable core
# (no \p classes, no lookarounds — identical semantics in Java regex
# and RE2): contractions | letter runs | digit runs | single
# non-alphanumeric-non-space | space runs.
BPE_ISH_PATTERN = "'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s']+|'"


def bpe_ish_token_count(text: Column | str, pattern: str = BPE_ISH_PATTERN) -> Column:
    """Token count under the BPE-ish pre-tokenizer regex (JVM-side
    ``regexp_count``; DuckDB twin ``len(regexp_extract_all(...))``)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(pattern))


def tfidf_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_docs: int | None = None,
) -> DataFrame:
    """Smoothed TF-IDF per (doc, term): ``tf · (ln((1+N)/(1+df)) + 1)``.

    Pure DataFrame plan (SURVEY §2.10's tf-idf without any mllib
    dependency): explode tokens → hash-agg term counts per doc →
    hash-agg document frequencies → broadcast the (small, ≤ vocab)
    DF table back onto the term counts. Shuffles are keyed on
    (doc, term) / term — never on document bodies. ``n_docs`` is a
    scalar (driver aggregate, reference S7 idiom) if not supplied.

    Columns: ``(id_col, term, tf double, df bigint, tfidf double)``
    with tf = term_count / doc_token_count.
    """
    c = F.col(text_col)
    if n_docs is None:
        n_docs = df.select(id_col).distinct().count()
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(c), " ")).alias("term"),
    ).filter(F.col("term") != "")
    term_counts = toks.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("_tc")
    )
    doc_lens = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("_dl"))
    doc_freq = term_counts.groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    idf = F.log((F.lit(1.0) + F.lit(float(n_docs))) / (F.lit(1.0) + F.col("df"))) + F.lit(1.0)
    return (
        term_counts.join(doc_lens, on=id_col)
        .join(F.broadcast(doc_freq), on="term")
        .select(
            F.col(id_col),
            "term",
            (F.col("_tc").cast("double") / F.col("_dl")).alias("tf"),
            "df",
            (F.col("_tc").cast("double") / F.col("_dl") * idf).alias("tfidf"),
        )
    )


def repetition_columns(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition/boilerplate signals for quality filtering
    (Rae et al. 2021 §A1.1 repetition heuristics; C4 uses the same
    family): heavily repetitive documents are low-value training data
    and these four per-document fractions are the standard gates.

    - ``dup_token_frac``:  1 − |distinct tokens| / |tokens|
    - ``top_token_frac``:  occurrences of the most frequent token / |tokens|
    - ``dup_bigram_frac``: 1 − |distinct bigrams| / |bigrams|
    - ``top_bigram_frac``: occurrences of the most frequent bigram / |bigrams|

    All-Catalyst HOF expressions (no Python). The token and bigram
    arrays are materialized in their OWN projections first — an inline
    ``split`` inside the mode-count lambdas is re-evaluated per array
    element (the ``_with_shingles`` trap), which measured 88 s for the
    sf0.1 corpus vs ~1 s with the staged projections (each temp column
    is referenced several times, so CollapseProject keeps the stages).
    The mode count is ``array_sort`` + ONE linear ``aggregate`` pass
    (longest run of equal adjacent elements): O(n log n) per document
    inside whole-stage codegen, replacing the earlier
    O(|distinct| · n) distinct×filter scan (measured 10.7 s → ~1 s on
    the sf0.1 corpus — mostly-distinct documents made the quadratic
    form its own worst case). Rounded to 6 for cross-engine hash
    parity (DuckDB twins: list_distinct / list_filter / list_max stay
    in the oracle — n² there is fine at oracle scale).
    """
    c = F.col(text_col)
    staged = df.withColumn("_rep_toks", F.split(c, " "))
    n = F.size("_rep_toks")
    staged = staged.withColumn(
        "_rep_bigrams",
        F.transform(
            F.slice("_rep_toks", 1, F.greatest(n - 1, F.lit(0))),
            lambda t, i: F.concat_ws(
                " ", t, F.element_at(F.col("_rep_toks"), i + 2)
            ),
        ),
    )
    nb = F.size("_rep_bigrams")

    def mode_count(col_name):
        # mode frequency = longest run in the sorted array; one linear
        # fold, no distinct×filter rescan. The empty-string init for
        # ``prev`` is safe: run==0 makes both branches yield 1.
        arr = F.array_sort(F.col(col_name))

        def step(acc, x):
            run = (
                F.when(x == acc["prev"], acc["run"] + 1)
                .otherwise(F.lit(1))
            )
            return F.struct(
                x.alias("prev"),
                run.alias("run"),
                F.greatest(acc["best"], run).alias("best"),
            )

        init = F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        )
        return F.aggregate(arr, init, step, lambda acc: acc["best"])

    def frac(num, den):
        return F.when(den > 0, F.round(num.cast("double") / den, 6)).otherwise(
            F.lit(0.0)
        )

    return (
        staged.withColumn(
            "dup_token_frac", frac(n - F.size(F.array_distinct("_rep_toks")), n)
        )
        .withColumn("top_token_frac", frac(mode_count("_rep_toks"), n))
        .withColumn(
            "dup_bigram_frac",
            frac(nb - F.size(F.array_distinct("_rep_bigrams")), nb),
        )
        .withColumn("top_bigram_frac", frac(mode_count("_rep_bigrams"), nb))
        .drop("_rep_toks", "_rep_bigrams")
    )
