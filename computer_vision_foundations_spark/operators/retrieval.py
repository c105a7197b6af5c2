"""Ranked keyword retrieval (BM25) as a relational operator.

The missing sibling of the embedding-ANN family: classic sparse
retrieval over the same `documents` table, used in training-data
pipelines for targeted corpus slicing ("give me the docs about X"),
eval-set construction, and hybrid (sparse+dense) search baselines.

Okapi BM25 (Robertson/Spärck Jones; the Lucene-default scoring):

    score(q, d) = Σ_{t ∈ q} idf(t) · tf(t,d)·(k1+1)
                              / (tf(t,d) + k1·(1 − b + b·|d|/avgdl))
    idf(t)      = ln(1 + (N − df(t) + 0.5) / (df(t) + 0.5))

Everything is hash aggregates and broadcast joins:

- the token stream is SEMI-JOINED against the (broadcast, tiny) query
  vocabulary BEFORE the tf aggregate, so the per-(doc, token) shuffle
  carries only query-term hits — at 100 TB the full stream is scanned
  once but never shuffled in full;
- df(t) aggregates the tf rows (≤ |query vocab| keys, broadcast back);
- document lengths come from a separate narrow projection (no explode);
- corpus N/avgdl ride a broadcast single-row cross join, so the
  operator stays lazy end-to-end (no driver collect);
- one final (query_id, doc_id) aggregate + top-k window per query.

Scores are summed per (query, doc) over ≤|terms| f64 addends and
rounded to ``round_digits`` — keep it ≤4 when hash-comparing across
engines (float sum order is not associative).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from computer_vision_foundations_spark.functions.text import token_count, tokens

__all__ = ["bm25_topk", "rrf_fuse", "phrase_search"]


def phrase_search(
    docs: DataFrame,
    phrases: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    phrase_id_col: str = "phrase_id",
    terms_col: str = "terms",
) -> DataFrame:
    """Exact phrase matching via a positional inverted index — the
    retrieval primitive BM25's bag-of-words scoring cannot express
    (classic positional-postings evaluation, e.g. Manning et al.,
    IIR §2.4): document d matches phrase [t0..tk-1] at position p iff
    token(d, p+i) = ti for all i. Returns
    ``(phrase_id, doc_id, n_matches)`` counting occurrences, one row
    per (phrase, doc) with ≥ 1 match.

    ``phrases``: ``(phrase_id, terms array<string>)`` — a SMALL frame
    (broadcast). Spark-first shape, the BM25 discipline: the token
    stream is semi-joined against the broadcast phrase VOCABULARY
    before anything else, so only positions of phrase terms survive —
    the (id, pos, term) postings shuffle is bounded by the phrase
    terms' document frequency, never corpus size. Each phrase then
    chains |terms|−1 self-equi-joins on (doc, pos offset) — all hash
    joins on (id, pos) longs. Per-term postings join on the SAME doc
    key, so AQE coalesces the chain into co-partitioned stages.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("_toks")
    )
    postings = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("_toks") - 1),
                lambda i: F.struct(
                    i.cast("long").alias("pos"),
                    F.element_at(F.col("_toks"), i + 1).alias("term"),
                ),
            )
        ).alias("s"),
    ).select("doc_id", "s.pos", "s.term")

    vocab = phrases.select(
        F.explode(F.col(terms_col)).alias("term")
    ).distinct()
    # the filtered postings feed one join per phrase slot; unpersisted,
    # every slot replayed the corpus tokenize+posexplode (round-12 plan
    # audit: 98 Exchanges for 3 slots). Materialize the (small,
    # DF-bounded) postings once with one eager localCheckpoint job; the
    # ContextCleaner frees its blocks once the result is unreachable.
    postings = postings.join(
        F.broadcast(vocab), "term", "left_semi"
    ).localCheckpoint()

    # (phrase_id, slot, term) rows — model-sized, broadcast per slot
    slots = phrases.select(
        F.col(phrase_id_col).alias("phrase_id"),
        F.posexplode(F.col(terms_col)).alias("slot", "term"),
    )
    first = slots.where(F.col("slot") == 0).select("phrase_id", "term")
    matches = postings.join(F.broadcast(first), "term").select(
        "phrase_id", "doc_id", F.col("pos").alias("start")
    )
    n_slots = phrases.select(
        F.max(F.size(F.col(terms_col)))
    ).collect()[0][0]
    for i in range(1, n_slots):
        slot_i = slots.where(F.col("slot") == i).select(
            "phrase_id", "term"
        )
        step = postings.join(F.broadcast(slot_i), "term").select(
            "phrase_id",
            "doc_id",
            (F.col("pos") - F.lit(i)).alias("start"),
        )
        # phrases shorter than the longest keep their matches: only
        # phrases that HAVE slot i are constrained by it
        constrained = matches.join(
            F.broadcast(
                slot_i.select("phrase_id").distinct()
            ),
            "phrase_id",
            "left_semi",
        ).join(step, ["phrase_id", "doc_id", "start"], "left_semi")
        unconstrained = matches.join(
            F.broadcast(slot_i.select("phrase_id").distinct()),
            "phrase_id",
            "left_anti",
        )
        matches = constrained.unionByName(unconstrained)
    return (
        matches.groupBy("phrase_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_matches"))
        .orderBy("phrase_id", "doc_id")
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    terms_col: str = "terms",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    round_digits: int = 4,
) -> DataFrame:
    """Top-k documents per query by BM25.

    ``queries``: ``(query_id, terms array<string>)`` — a SMALL frame
    (it is broadcast twice). Returns ``(query_id, doc_id, bm25,
    rank)``, rank 1 = best, score ties broken on doc_id. A query whose
    terms never occur in the corpus yields no rows (missing terms
    contribute 0 to every document, so they cannot rank anything).
    """
    qterms = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(F.array_distinct(F.col(terms_col))).alias("_token"),
    )
    qvocab = qterms.select("_token").distinct()

    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("_token")
    ).filter(F.col("_token") != "")
    # prune to query vocabulary BEFORE any shuffle
    hits = toks.join(F.broadcast(qvocab), "_token", "left_semi")
    tf = hits.groupBy("doc_id", "_token").agg(F.count(F.lit(1)).alias("_tf"))
    df_t = tf.groupBy("_token").agg(F.count(F.lit(1)).alias("_df"))

    doclen = docs.select(
        F.col(id_col).alias("doc_id"), token_count(text_col).cast("double").alias("_dl")
    )
    stats = docs.agg(
        F.count(F.lit(1)).cast("double").alias("_n_docs"),
        F.avg(token_count(text_col)).alias("_avgdl"),
    )

    idf = F.log(
        F.lit(1.0)
        + (F.col("_n_docs") - F.col("_df") + F.lit(0.5)) / (F.col("_df") + F.lit(0.5))
    )
    denom = F.col("_tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("_dl") / F.col("_avgdl")
    )
    term_score = idf * (F.col("_tf") * F.lit(k1 + 1.0)) / denom

    scored = (
        tf.join(F.broadcast(df_t), "_token")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .join(F.broadcast(qterms), "_token")
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(term_score), round_digits).alias("bm25"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "bm25", "rank")
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 10,
    rrf_k: int = 60,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    round_digits: int = 6,
) -> DataFrame:
    """Reciprocal-rank fusion of ranked result lists (Cormack et al.
    2009): ``score(q, d) = Σ_r 1 / (rrf_k + rank_r(q, d))`` over every
    input ranking that contains (q, d). The standard way to combine a
    sparse (BM25) and a dense (ANN) ranking — or any ranker with a
    metadata prior — without score calibration, since only ranks enter.

    Inputs are (query_col, id_col, rank_col) frames — top-k lists, so
    broadcast-small relative to the corpus; the fusion is a union + one
    hash aggregate on (query, id) + one top-k window. Returns
    ``(query_id, doc_id, rrf_score, n_rankers, rank)``.

    Determinism note: with two input rankings the per-pair sum has at
    most two IEEE-754 addends (order-insensitive); with ≥3 rankers
    hash-comparison across engines needs a defined summation order —
    keep ``round_digits`` modest.
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    parts = [
        r.select(
            F.col(query_col).alias("query_id"),
            F.col(id_col).alias("doc_id"),
            (F.lit(1.0) / (F.lit(float(rrf_k)) + F.col(rank_col))).alias("_c"),
        )
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("_c"), round_digits).alias("rrf_score"),
        F.count(F.lit(1)).alias("n_rankers"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "rrf_score", "n_rankers", "rank")
    )
