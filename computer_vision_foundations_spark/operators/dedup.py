"""Deduplication operators for large-scale training-data pipelines.

North-star extensions (SURVEY §2.10): exact dedup, n-gram Jaccard
near-dup, MinHash(+LSH), SimHash, and embedding-cosine near-dup. All
operators are DataFrame-in/DataFrame-out, shuffle-aware, seeded, and
never collect to the driver:

- exact:        one hash-aggregate on the canonical text (map-side
                partial agg; the 100 TB plan is a single shuffle on
                fingerprint, not on the raw text).
- n-gram/Jaccard: explode distinct shingles → self-join on shingle →
                count common → Jaccard. The shingle join is the
                textbook plan; hot shingles are the skew risk, so
                ``max_shingle_freq`` drops stop-shingles (standard
                trick: a shingle appearing in thousands of docs
                contributes no discriminative signal but quadratic
                join fan-out).
- MinHash+LSH:  signature = per-seed min over shingle hashes (JVM-side,
                functions/hashing.py), bands of r rows → candidate
                pairs join on (band_index, band_signature). Turns the
                quadratic all-pairs problem into an equi-join — the
                scale path.
- SimHash:      64-bit fingerprint from per-token hash bit votes; near
                dups = small Hamming distance.
- embedding:    cosine over ``array<float>`` with a blocking column to
                bound the pair count (all-pairs within a block); at
                100 TB block on an LSH bucket / coarse quantizer id.

Every pair generator (n-gram, containment, winnowing, MinHash LSH,
SimHash bands, incremental LSH, and ``ppjoin``/``cf`` outside this
module) shares one candidate step: ``_capped_buckets`` materializes the
bucketed rows with ``localCheckpoint`` and drops keys hotter than the
cap, then ``_bucket_pairs`` self-joins inside each bucket. A local
checkpoint's blocks are freed by Spark's ContextCleaner once the result
is unreachable; a ``Dataset.persist`` would stay in the CacheManager for
the life of the session.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from computer_vision_foundations_spark.functions.hashing import (
    md5_hash_pair,
    minhash_agg_columns,
)
from computer_vision_foundations_spark.functions.text import (
    fingerprint_md5,
    shingle_rows,
    shingles_from_tokens,
    tokens,
)
from computer_vision_foundations_spark.functions.vectors import (
    cosine_from_norms,
    l2_norm,
)


def exact_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    canonicalize: bool = True,
) -> DataFrame:
    """Group exact duplicates; keep min-id representative per group.

    Returns ``(fingerprint, keep_id, n_dupes)`` — one row per distinct
    content. A single hash aggregate over the md5 fingerprint: the
    shuffle carries 16-byte keys, never the document bodies.
    """
    fp = fingerprint_md5(text_col) if canonicalize else F.md5(F.col(text_col).cast("binary"))
    return (
        df.select(fp.alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dupes"),
        )
    )


def _with_shingles(
    df: DataFrame,
    text_col: str,
    id_col: str,
    id_alias: str,
    k: int,
    repartition_to: int | None = None,
) -> DataFrame:
    """(id, _shingles) via two projections: tokens, then shingles.

    The intermediate token-array projection is load-bearing — see
    ``shingles_from_tokens``: an inline ``split`` inside the shingle
    lambdas is re-evaluated per element (O(tokens²)/doc). The token
    attribute is referenced k+2 times by the shingle expression (size
    bound + k slices), so CollapseProject keeps the projections
    separate.

    ``repartition_to`` is the explicit opt-in for sources with fewer
    partitions than the cluster has cores (small files / single
    row-group parquet), where the per-doc shingle+hash work would
    otherwise run on a fraction of the cores. It is deliberately NOT
    auto-detected: the old ``df.rdd.getNumPartitions()`` probe forced
    plan analysis and an RDD conversion on the driver per call,
    defeating lazy composition. At real scale the scan already yields
    ≥ cores partitions and callers should leave this ``None``.
    """
    return _tokenized(df, text_col, id_col, id_alias, repartition_to).select(
        id_alias, shingles_from_tokens("_toks", k).alias("_shingles")
    )


def _tokenized(
    df: DataFrame,
    text_col: str,
    id_col: str,
    id_alias: str,
    repartition_to: int | None,
) -> DataFrame:
    """(id, _toks): the materialized token projection both shingle
    forms build on (see ``_with_shingles``)."""
    if repartition_to is not None:
        df = df.repartition(repartition_to, F.col(id_col))
    return df.select(
        F.col(id_col).alias(id_alias), tokens(text_col).alias("_toks")
    )


def _capped_buckets(
    rows: DataFrame, keys: list[str], cap: int | None
) -> DataFrame:
    """``rows`` materialized once, minus every bucket of more than
    ``cap`` rows (``None``: keep all).

    The bucketed rows feed several consumers (the bucket-size
    aggregate and both self-join sides), so the upstream pipeline is
    run by ONE eager ``localCheckpoint`` job; consumers inside a later
    job would otherwise race a lazy cache and recompute it (measured
    91 s → ~10 s on MinHash LSH). Its blocks belong to the returned
    frame and are freed once the result is unreachable. The hot-key
    set is at most ``|rows| / cap`` keys, so it is removed with a
    broadcast anti-join — no extra shuffle of the rows."""
    rows = rows.localCheckpoint()
    if cap is None:
        return rows
    hot = (
        rows.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > cap)
        .select(*keys)
    )
    return rows.join(F.broadcast(hot), keys, "left_anti")


def _bucket_pairs(
    buckets: DataFrame,
    keys: list[str],
    id_col: str,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """``(id_a, id_b, <c>_a…, <c>_b…)`` for every two rows that share a
    bucket, ``id_a < id_b``: the self-equi-join on ``keys``, carrying
    each ``carry`` column from both sides. A pair sharing n buckets is
    emitted n times — count it or take ``distinct``."""

    def side(s: str) -> DataFrame:
        return buckets.select(
            F.col(id_col).alias(f"id_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in carry],
            *keys,
        )

    return (
        side("a")
        .join(side("b"), keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            *[f"{c}_a" for c in carry],
            *[f"{c}_b" for c in carry],
        )
    )


def _shared_key_counts(
    exploded: DataFrame, key: str, cap: int | None
) -> DataFrame:
    """``(id_a, id_b, _size_a, _size_b, common)`` from an exploded
    ``(_id, _size, key)`` stream of distinct keys per id: how many
    keys each pair shares. Keys held by more than ``cap`` ids are
    dropped, but ``_size`` still counts them, so a score over the
    sizes stays exact for every surviving pair."""
    return (
        _bucket_pairs(
            _capped_buckets(exploded, [key], cap), [key], "_id", ("_size",)
        )
        .groupBy("id_a", "id_b", "_size_a", "_size_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )


def _shingle_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    cap: int | None,
    repartition_to: int | None,
) -> DataFrame:
    """``_shared_key_counts`` over each doc's distinct word k-grams."""
    shingled = _with_shingles(df, text_col, id_col, "_id", k, repartition_to)
    exploded = shingled.select(
        "_id",
        F.size("_shingles").alias("_size"),
        F.explode("_shingles").alias("_shingle"),
    )
    return _shared_key_counts(exploded, "_shingle", cap)


def _check_bands(width: int, bands: int, what: str) -> int:
    """Rows per band; ``bands`` must divide ``width`` exactly, or the
    trailing hashes would be silently ignored."""
    if bands < 1 or width % bands:
        raise ValueError(f"bands={bands} must divide {what}={width}")
    return width // bands


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = 10_000,
    repartition_to: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs by word-k-gram Jaccard similarity.

    Returns ``(id_a, id_b, jaccard)`` with id_a < id_b and
    jaccard >= threshold. Plan: distinct-shingle explode → self-equi-join
    on shingle → count common → |A|+|B|-common. Only pairs sharing ≥1
    shingle are ever materialized, so cost is driven by shingle
    document-frequency, which ``max_shingle_freq`` caps against skew —
    ON by default: a stop-shingle ("in the of") appearing in millions of
    docs contributes no discriminative signal but quadratic join
    fan-out. Dropped shingles still count toward each doc's set size
    (denominator), so Jaccard for surviving pairs is exact; pairs whose
    ONLY overlap is stop-shingles are not emitted. Pass ``None`` for the
    exact all-pairs semantics.

    The hot-shingle set is tiny by construction (≤ |shingles|/cap), so
    it is removed with a broadcast anti-join — no extra shuffle of the
    exploded stream.
    """
    counts = _shingle_counts(
        df, text_col, id_col, k, max_shingle_freq, repartition_to
    )
    union = F.col("_size_a") + F.col("_size_b") - F.col("common")
    jaccard = F.col("common").cast("double") / union.cast("double")
    return counts.filter(jaccard >= F.lit(threshold)).select(
        "id_a", "id_b", F.round(jaccard, 6).alias("jaccard")
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = 10_000,
    repartition_to: int | None = None,
) -> DataFrame:
    """Asymmetric near-SUBSET pairs by shingle containment — the
    doc-inside-doc case symmetric Jaccard systematically misses: a
    paragraph quoted whole inside a 100× longer page has Jaccard
    ≈ 1%, containment ≈ 100%. Broder's original resemblance paper
    (1997) defines both; quote/wrapper detection and boilerplate
    hunting need this one.

    Returns ``(id_a, id_b, overlap, containment_a, containment_b)``
    with id_a < id_b, where ``containment_a = |A∩B| / |A|`` (how much
    of A is inside B), symmetrically for b, and ``overlap`` is their
    max — the overlap coefficient ``|A∩B| / min(|A|,|B|)``; emitted
    when overlap >= threshold.

    Identical plan and skew discipline as
    :func:`ngram_jaccard_pairs` (shared candidate machinery, only the
    scoring expression differs): distinct-shingle explode →
    equi-join → count common; ``max_shingle_freq`` caps hot-shingle
    fan-out while dropped shingles still count in the denominators,
    so scores for surviving pairs are exact.
    """
    counts = _shingle_counts(
        df, text_col, id_col, k, max_shingle_freq, repartition_to
    )
    common = F.col("common").cast("double")
    overlap = common / F.least("_size_a", "_size_b").cast("double")
    return counts.filter(overlap >= F.lit(threshold)).select(
        "id_a",
        "id_b",
        F.round(overlap, 6).alias("overlap"),
        F.round(common / F.col("_size_a").cast("double"), 6).alias(
            "containment_a"
        ),
        F.round(common / F.col("_size_b").cast("double"), 6).alias(
            "containment_b"
        ),
    )


def _minhash_wide(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    n_hashes: int,
    hash_fn: str,
    repartition_to: int | None = None,
) -> DataFrame:
    """``(doc_id, _m0.._m{n-1})`` minima via an exploded hash aggregate.

    The scale plan: tokenize → one row per shingle → hash ONCE →
    ``groupBy(doc).agg(min(remix) × n_hashes)``. The shingle rows come
    from ``functions/text.shingle_rows`` (explode of zipped token
    slices, then a code-generated concat), not from exploding the
    ``shingles_from_tokens`` array, whose ``zip_with`` lambdas are
    interpreted — one call per shingle per fold. On 5,000 docs
    (276,636 shingles, local[2]) the array form measured 0.45 s
    against 0.27 s for the rows. The rows keep repeated shingles: a
    repeat cannot change a min, and each shingle's bytes are the array
    form's, so both hash families give the same minima. The aggregate
    is whole-stage codegen'd with map-side partial aggregation, so the
    shuffle carries one row of n_hashes minima per doc per partition —
    never the shingles. Each shingle string is hashed exactly once for
    either family: ``xxhash64`` → long, remixed ``xxhash64(seed, h)``;
    ``md5`` → 28-bit ``(h1, h2)`` pair, remixed with portable
    Kirsch-Mitzenmacher double hashing (functions/hashing.py) so the
    DuckDB oracle reproduces the signatures bit-for-bit. Earlier forms
    (per-seed interpreted HOF lambdas, then per-seed md5 digests)
    measured 10-70× slower.
    """
    ex = shingle_rows(
        _tokenized(df, text_col, id_col, "doc_id", repartition_to),
        "_toks", k, keep=("doc_id",), out="_shingle",
    )
    if hash_fn == "xxhash64":
        ex = ex.select("doc_id", F.xxhash64("_shingle").alias("_shingle"))
    elif hash_fn == "md5":
        h1, h2 = md5_hash_pair("_shingle")
        ex = ex.select("doc_id", F.struct(h1.alias("h1"), h2.alias("h2")).alias("_shingle"))
    return ex.groupBy("doc_id").agg(
        *minhash_agg_columns("_shingle", n_hashes, hash_fn)
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 16,
    hash_fn: str = "xxhash64",
    repartition_to: int | None = None,
) -> DataFrame:
    """Per-document MinHash signature: ``(id, signature array<n_hashes>)``.

    ``array<string>`` (hex digests) for ``hash_fn='md5'``,
    ``array<bigint>`` for ``'xxhash64'`` (default — the scale path).
    See ``_minhash_wide`` for the plan.
    """
    wide = _minhash_wide(df, text_col, id_col, k, n_hashes, hash_fn, repartition_to)
    return wide.select(
        "doc_id",
        F.array(*[F.col(f"_m{s}") for s in range(n_hashes)]).alias("signature"),
    )


def minhash_lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    hash_fn: str = "xxhash64",
    max_bucket_size: int | None = 1_000,
    repartition_to: int | None = None,
) -> DataFrame:
    """LSH banding: pairs agreeing on ≥1 full band of the signature.

    ``n_hashes`` must divide into ``bands`` equal rows (``ValueError``
    otherwise). Each doc emits
    ``bands`` (band_idx, band_key) rows; candidates are an equi-join on
    the band key — linear in docs + join fan-out on genuinely similar
    buckets, never quadratic across buckets. Output: distinct
    ``(id_a, id_b)``.

    ``max_bucket_size`` (ON by default) drops band buckets larger than
    the cap before the self-join: a million byte-identical documents
    land in one bucket and would otherwise go quadratic inside it. Hot
    buckets are found with one small aggregate and removed via
    broadcast anti-join; exact duplicates should be removed by
    ``exact_duplicates`` first (one cheap hash-agg), which is also what
    makes the cap safe to apply. Pass ``None`` to disable.

    Band keys are built from the aggregate's plain minima columns
    (``_minhash_wide``), so nothing re-derives the signature array
    per band.
    """
    rows_per_band = _check_bands(n_hashes, bands, "n_hashes")
    wide = _minhash_wide(df, text_col, id_col, k, n_hashes, hash_fn, repartition_to)
    band_arr = F.array(
        *[
            F.concat_ws(
                ",",
                *[
                    F.col(f"_m{b * rows_per_band + j}").cast("string")
                    for j in range(rows_per_band)
                ],
            )
            for b in range(bands)
        ]
    )
    banded = wide.select(
        "doc_id", F.posexplode(band_arr).alias("band_idx", "band_key")
    )
    keys = ["band_idx", "band_key"]
    return (
        _bucket_pairs(_capped_buckets(banded, keys, max_bucket_size), keys, "doc_id")
        .distinct()
    )


def simhash_from_hashes(hashes: Column | str, bits: int = 32) -> Column:
    """SimHash from a precomputed ``array<long>`` of token hashes.

    Each output bit is the majority vote of the corresponding hash bit.
    Prefer computing the hash array in its own projection first (see
    ``simhash_column`` note) so the ``bits``-fold fan-out below reuses
    one materialized array instead of re-hashing per bit.
    """
    hashes = F.col(hashes) if isinstance(hashes, str) else hashes
    n = F.size(hashes)
    # single-parameter lambdas only: a second parameter would be bound
    # to the array index by PySpark's higher-order-function protocol
    def _bit_test(i: int):
        return lambda h: F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1

    bit_cols = []
    for i in range(bits):
        ones = F.size(F.filter(hashes, _bit_test(i)))
        bit_cols.append(
            F.when(ones * 2 >= n, F.lit(2**i).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    out = bit_cols[0]
    for bc in bit_cols[1:]:
        out = out + bc
    return out


def simhash_grouped(
    hashed: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "_h",
    bits: int = 32,
    out_col: str = "simhash",
) -> DataFrame:
    """``(id, simhash)`` from an EXPLODED ``(id, token-hash)`` stream —
    value-identical to ``simhash_from_hashes`` over the collected
    array (bit i of the fingerprint is set iff
    ``2·|{h : bit_i(h)=1}| >= |hashes|``; both forms compute exactly
    these integer counts), but as ONE whole-stage-codegen hash
    aggregate with ``bits`` conditional sums and map-side partials
    instead of ``bits`` interpreted higher-order ``filter`` passes
    per array (round-12: the array form was the dominant cost of
    every SimHash-family query; the shuffle carries one
    (id, bits·long) partial row per map task per id). Requires every
    id to contribute ≥ 1 non-null hash row (true for any tokenizer
    whose split yields ≥ 1 element — the engine's does even on empty
    text)."""
    h = F.col(hash_col)
    ones = [
        F.sum(F.shiftright(h, i).bitwiseAND(F.lit(1))).alias(f"_o{i}")
        for i in range(bits)
    ]
    agg = hashed.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n"), *ones
    )
    bit_cols = [
        F.when(
            F.col(f"_o{i}") * 2 >= F.col("_n"), F.lit(2**i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        for i in range(bits)
    ]
    out = bit_cols[0]
    for bc in bit_cols[1:]:
        out = out + bc
    return agg.select(id_col, out.alias(out_col))


def simhash_pairs(
    df: DataFrame,
    simhash_col: str = "simhash",
    id_col: str = "doc_id",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    max_band_freq: int | None = 10_000,
) -> DataFrame:
    """Near-duplicate pairs from SimHash fingerprints:
    ``(id_a, id_b, hamming)`` with ``hamming <= max_hamming``.

    The Hamming-LSH pigeonhole: split the ``bits``-wide fingerprint
    into ``bands`` equal slices (``ValueError`` unless ``bands``
    divides ``bits``) — two hashes within Hamming distance
    ``bands - 1`` MUST agree on at least one slice, so the candidate
    join is an equi-join on (band_idx, band_val), never all-pairs
    (``max_hamming < bands`` keeps the guarantee exact; beyond it the
    operator is a recall-tunable approximation like MinHash-LSH).

    Identical fingerprints are collapsed BEFORE banding: the band join
    runs over one representative per DISTINCT fingerprint, and member
    ids are re-attached afterwards. A cluster of m byte-identical
    documents therefore costs one row in the candidate join instead of
    m rows colliding in every band (the quadratic blowup the old
    docstring pushed onto callers via "run exact_duplicates first");
    the m*(m-1)/2 hamming-0 output pairs come from a direct equi-join
    on the fingerprint, with no banding or bit_count on the way.

    ``max_band_freq`` (ON by default) drops band values shared by more
    than the cap's worth of DISTINCT fingerprints before the self-join
    — the same broadcast-anti-join skew defense as
    ``ngram_jaccard_pairs``/``minhash_lsh_candidate_pairs``. Because
    the count is over distinct fingerprints, a large exact-duplicate
    cluster cannot trip it; only a genuinely hot band slice (e.g. a
    near-constant low-word across the corpus) can. Pass ``None`` for
    exact pigeonhole semantics.

    Works on either hash family's fingerprints (the md5-portable one
    is oracle-checkable)."""
    width = _check_bands(bits, bands, "bits")
    mask = (1 << width) - 1
    # (id, fingerprint) is consumed by the distinct-fp aggregate and by
    # both member-expansion joins — checkpoint it so the upstream
    # fingerprint computation (typically a full tokenize+hash pipeline)
    # runs once, in one eager job (see ``_capped_buckets``).
    members = df.select(
        F.col(id_col).alias("_id"), F.col(simhash_col).alias("_fp")
    ).localCheckpoint()
    fps = members.select("_fp").distinct()

    # 1. hamming-0 pairs within each identical-fingerprint group.
    # BLOCKED self-join (round 8 — found by the 25x replica sweep): a
    # plain equi-join on the fingerprint routes a hot exact-dup class
    # of m members through ONE reducer that must emit m^2/2 pairs (a
    # 250k-member class = 31e9 pairs in one straggler task). Members
    # are split into blocks of _SAME_BLOCK rows; the join key becomes
    # (fp, block_a, block_b) — the left side carries each member to
    # the block pairs where its block is the SMALLER one, the right
    # side to those where it is the LARGER one, so every unordered
    # member pair meets exactly once (same-block pairs meet in both
    # orientations and the id filter keeps one) and no task ever holds
    # more than _SAME_BLOCK^2 pairs. Output set is identical; for
    # classes <= _SAME_BLOCK the plan degenerates to the old one.
    _SAME_BLOCK = 2048
    wblk = Window.partitionBy("_fp").orderBy("_id")
    blocked = members.select(
        "_id",
        "_fp",
        ((F.row_number().over(wblk) - 1) / F.lit(_SAME_BLOCK))
        .cast("int")
        .alias("_blk"),
        (
            F.ceil(
                F.count(F.lit(1)).over(
                    Window.partitionBy("_fp").rowsBetween(
                        Window.unboundedPreceding, Window.unboundedFollowing
                    )
                )
                / F.lit(float(_SAME_BLOCK))
            )
            - 1
        )
        .cast("int")
        .alias("_maxblk"),
    )
    sl = blocked.select(
        F.col("_id").alias("id_l"),
        "_fp",
        F.col("_blk").alias("_ba"),
        F.explode(F.sequence(F.col("_blk"), F.col("_maxblk"))).alias("_bb"),
    )
    sr = blocked.select(
        F.col("_id").alias("id_r"),
        "_fp",
        F.explode(F.sequence(F.lit(0), F.col("_blk"))).alias("_ba"),
        F.col("_blk").alias("_bb"),
    )
    same = (
        sl.join(sr, ["_fp", "_ba", "_bb"])
        .where(
            (F.col("_ba") < F.col("_bb")) | (F.col("id_l") < F.col("id_r"))
        )
        .select(
            F.least("id_l", "id_r").alias("id_a"),
            F.greatest("id_l", "id_r").alias("id_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )

    # 2. candidate DISTINCT-fingerprint pairs via the band equi-join
    slices = F.array(
        *[
            F.shiftright(F.col("_fp"), i * width)
            .bitwiseAND(F.lit(mask))
            .cast("long")
            for i in range(bands)
        ]
    )
    banded = fps.select("_fp", F.posexplode(slices).alias("band_idx", "band_val"))
    keys = ["band_idx", "band_val"]
    ham = F.bit_count(F.col("_fa").bitwiseXOR(F.col("_fb"))).cast("int")
    fp_pairs = (
        _bucket_pairs(_capped_buckets(banded, keys, max_band_freq), keys, "_fp")
        .select(F.col("id_a").alias("_fa"), F.col("id_b").alias("_fb"))
        .distinct()
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
    )

    # 3. expand fingerprint pairs back to member id pairs (the two
    # groups are disjoint, so least/greatest restores id_a < id_b)
    expanded = (
        fp_pairs.join(members.select(F.col("_id").alias("_ia"), F.col("_fp").alias("_fa")), "_fa")
        .join(members.select(F.col("_id").alias("_ib"), F.col("_fp").alias("_fb")), "_fb")
        .select(
            F.least("_ia", "_ib").alias("id_a"),
            F.greatest("_ia", "_ib").alias("id_b"),
            "hamming",
        )
    )
    return same.unionByName(expanded)


def simhash_column(
    text_col: Column | str, bits: int = 32, token_sep: str = " "
) -> Column:
    """SimHash fingerprint of the token set, as a ``bits``-wide long.

    Convenience single-expression form; Catalyst inlines the token
    hashing into every bit vote, so for hot paths materialize
    ``transform(array_distinct(split(text)), xxhash64)`` in a
    projection and use ``simhash_from_hashes`` (the
    q31 registry entry does this). Near-duplicates are pairs with
    small Hamming distance (``bit_count(a ^ b)``).
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    hashes = F.transform(F.array_distinct(F.split(c, token_sep)), lambda t: F.xxhash64(t))
    return simhash_from_hashes(hashes, bits)


def embedding_near_duplicates(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str | None = None,
    threshold: float = 0.95,
    dim: int | None = None,
    allow_full_cross: bool = False,
    keep_block: bool = False,
) -> DataFrame:
    """Cosine near-duplicate pairs ``(id_a, id_b, cos_sim)``, id_a < id_b;
    with ``keep_block`` the blocking column is kept as the first output
    column (semantic-dedup pipelines group decisions per cluster).

    With ``block_col`` the self-join is an equi-join within blocks
    (at scale: LSH bucket / IVF cell id). Without it the plan is a full
    cross product — an O(n²) scale-killer — so ``block_col=None``
    raises unless the caller explicitly passes
    ``allow_full_cross=True`` (legitimate only for small frames or
    post-candidate-generation verification).
    Leave ``dim`` unset (the HOF fold measures 5-6× faster than the
    unrolled form — see functions/vectors.dot_product). Norms
    are computed once per vector BEFORE the self-join (n sqrts, not
    n² — see functions/vectors.cosine_from_norms).
    """
    if block_col is None and not allow_full_cross:
        raise ValueError(
            "embedding_near_duplicates: block_col=None plans a full cross "
            "product (O(n²) pairs). Pass a blocking column (LSH bucket / "
            "IVF cell id) or opt in explicitly with allow_full_cross=True "
            "for small frames."
        )
    left = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        l2_norm(vec_col, dim).alias("_na"),
        *( [F.col(block_col).alias("_blk")] if block_col else [] ),
    )
    right = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        l2_norm(vec_col, dim).alias("_nb"),
        *( [F.col(block_col).alias("_blk")] if block_col else [] ),
    )
    joined = (
        left.join(right, on="_blk") if block_col else left.crossJoin(right)
    ).filter(F.col("id_a") < F.col("id_b"))
    out_cols = (
        [F.col("_blk").alias(block_col)] if (block_col and keep_block) else []
    )
    return (
        joined.withColumn(
            "cos_sim", cosine_from_norms("_va", "_vb", "_na", "_nb", dim)
        )
        .filter(F.col("cos_sim") >= F.lit(threshold))
        .select(*out_cols, "id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))
    )


def winnow_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 8,
    min_shared: int = 3,
    max_fingerprint_freq: int | None = 10_000,
) -> DataFrame:
    """Near-duplicate pairs by shared winnowing fingerprints
    (functions/text.winnow_udf): local substring matching, robust to
    insertions/reorderings that defeat whole-document hashing.

    Returns ``(id_a, id_b, n_shared, resemblance)`` with id_a < id_b,
    n_shared >= min_shared; resemblance = |A∩B| / |A∪B| over the
    fingerprint sets. Plan: fingerprint (Arrow-batched, narrow) →
    explode → self-equi-join on fingerprint → count shared — only
    pairs sharing ≥1 fingerprint materialize, so cost tracks
    fingerprint document-frequency, capped by
    ``max_fingerprint_freq`` against boilerplate passages (same skew
    defense as ngram_jaccard_pairs; dropped fingerprints still count
    in each doc's set size, so resemblance for surviving pairs is
    exact).
    """
    from computer_vision_foundations_spark.functions.text import winnow_udf

    fps = df.select(
        F.col(id_col).alias("_id"),
        winnow_udf(k, w)(F.col(text_col)).alias("_fps"),
    )
    exploded = fps.select(
        "_id", F.size("_fps").alias("_size"), F.explode("_fps").alias("_fp")
    )
    shared = _shared_key_counts(exploded, "_fp", max_fingerprint_freq)
    return shared.filter(F.col("common") >= min_shared).select(
        "id_a",
        "id_b",
        F.col("common").alias("n_shared"),
        F.round(
            F.col("common").cast("double")
            / (F.col("_size_a") + F.col("_size_b") - F.col("common")),
            6,
        ).alias("resemblance"),
    )


def incremental_exact_duplicates(
    new_df: DataFrame,
    old_fingerprints: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    fp_col: str = "fingerprint",
    old_id_col: str = "keep_id",
    canonicalize: bool = True,
    broadcast_old: bool = False,
) -> DataFrame:
    """Classify a NEW document batch against an existing fingerprint
    snapshot — the daily-crawl-increment flow: yesterday's corpus is
    already deduped and persisted as its ``exact_duplicates`` output
    (16-byte fingerprint + canonical id); today's batch must be checked
    against it WITHOUT rescanning old text.

    Returns ``(id, fingerprint, status, canonical_id)`` where status is
    ``'dup_of_snapshot'`` (fingerprint already known — canonical is the
    snapshot's keep id), ``'dup_in_batch'`` (first seen in this batch,
    not the batch-min id), or ``'new'`` (batch-min id of an unseen
    fingerprint). Plan: one hash agg on the batch fingerprints + two
    equi-joins on 16-byte keys; at 100 TB the snapshot side is
    fingerprint-sized (one row per distinct historical document), and
    neither side shuffles document bodies. ``broadcast_old`` for
    snapshots that fit executor memory."""
    from computer_vision_foundations_spark.functions.text import fingerprint_md5

    fp = (
        fingerprint_md5(text_col)
        if canonicalize
        else F.md5(F.col(text_col).cast("binary"))
    )
    batch = new_df.select(F.col(id_col), fp.alias("fingerprint"))
    batch_min = batch.groupBy("fingerprint").agg(
        F.min(id_col).alias("_batch_min")
    )
    old = old_fingerprints.select(
        F.col(fp_col).alias("fingerprint"), F.col(old_id_col).alias("_old_id")
    )
    if broadcast_old:
        old = F.broadcast(old)
    return (
        batch.join(batch_min, "fingerprint")
        .join(old, "fingerprint", "left")
        .select(
            id_col,
            "fingerprint",
            F.when(F.col("_old_id").isNotNull(), F.lit("dup_of_snapshot"))
            .when(F.col(id_col) != F.col("_batch_min"), F.lit("dup_in_batch"))
            .otherwise(F.lit("new"))
            .alias("status"),
            F.coalesce("_old_id", "_batch_min").alias("canonical_id"),
        )
    )


def edit_similarity_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_chars: int = 200,
    threshold: float = 0.0,
    out_col: str = "edit_sim",
) -> DataFrame:
    """Verification stage for candidate pairs: normalized edit
    similarity ``1 − levenshtein(a, b) / max(|a|, |b|)`` over text
    PREFIXES of ``max_chars``.

    LSH/banding stages answer "possibly similar"; serious dedup
    pipelines verify candidates before dropping documents. Levenshtein
    is O(|a|·|b|) per pair — fine exactly because it runs AFTER
    candidate generation (pairs, not corpus²), and the prefix cap
    bounds the worst case; the distance runs JVM-side
    (``F.levenshtein``). Two joins re-attach prefixes to the id pairs
    — shuffles carry (id, ≤max_chars chars). Identical empty prefixes
    score 1.0."""
    t = docs.select(
        F.col(id_col).alias("_id"),
        F.substring(F.col(text_col), 1, max_chars).alias("_txt"),
    )
    a = t.select(
        F.col("_id").alias("id_a"), F.col("_txt").alias("_ta")
    )
    b = t.select(
        F.col("_id").alias("id_b"), F.col("_txt").alias("_tb")
    )
    la, lb = F.length("_ta"), F.length("_tb")
    sim = F.when(F.greatest(la, lb) == 0, F.lit(1.0)).otherwise(
        F.lit(1.0)
        - F.levenshtein("_ta", "_tb").cast("double")
        / F.greatest(la, lb).cast("double")
    )
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(out_col, F.round(sim, 6))
        .filter(F.col(out_col) >= F.lit(float(threshold)))
        .drop("_ta", "_tb")
    )


def _band_signature(
    sigs: DataFrame, id_col: str, n_hashes: int, bands: int
) -> DataFrame:
    """(id, band_idx, band_key) from a stored ``signature`` array —
    banding WITHOUT re-deriving signatures from text (the index-read
    path of the incremental flow)."""
    rows_per_band = n_hashes // bands
    band_arr = F.array(
        *[
            F.concat_ws(
                ",",
                *[
                    F.element_at("signature", b * rows_per_band + j + 1).cast(
                        "string"
                    )
                    for j in range(rows_per_band)
                ],
            )
            for b in range(bands)
        ]
    )
    return sigs.select(
        F.col(id_col), F.posexplode(band_arr).alias("band_idx", "band_key")
    )


def incremental_lsh_candidates(
    new_df: DataFrame,
    old_signatures: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    hash_fn: str = "xxhash64",
    max_bucket_size: int | None = 1_000,
    repartition_to: int | None = None,
) -> DataFrame:
    """NEAR-dup sibling of :func:`incremental_exact_duplicates`: check
    a new batch against a persisted MinHash-signature snapshot (the
    ``minhash_signatures`` output of the already-ingested corpus)
    WITHOUT rescanning old text.

    Returns ``(batch_id, match_id, origin)`` — candidate pairs where
    ``origin`` is ``'snapshot'`` (band collision with an indexed
    document) or ``'batch'`` (collision within the new batch,
    ``batch_id < match_id``). Plan: signatures for the BATCH only
    (one codegen'd exploded aggregate), snapshot bands come straight
    from the stored arrays (index-sized rows: id + n_hashes values),
    then one band equi-join of batch bands against snapshot ∪ batch
    bands. The ``max_bucket_size`` cap applies to the combined bucket
    population — a band value shared by a million indexed docs is a
    stop-band for every future increment, same skew logic as the batch
    form. ``n_hashes``/``bands``/``k``/``hash_fn`` must match the
    snapshot's build parameters (enforce by storing them with the
    index)."""
    _check_bands(n_hashes, bands, "n_hashes")
    batch_sigs = minhash_signatures(
        new_df, text_col, id_col, k, n_hashes, hash_fn, repartition_to
    )
    batch_b = _band_signature(batch_sigs, id_col, n_hashes, bands).select(
        F.col(id_col).alias("_id"), "band_idx", "band_key",
        F.lit("batch").alias("_side"),
    )
    snap_b = _band_signature(old_signatures, id_col, n_hashes, bands).select(
        F.col(id_col).alias("_id"), "band_idx", "band_key",
        F.lit("snapshot").alias("_side"),
    )
    all_b = _capped_buckets(
        batch_b.unionByName(snap_b), ["band_idx", "band_key"], max_bucket_size
    )
    probe = all_b.filter(F.col("_side") == "batch").select(
        F.col("_id").alias("batch_id"), "band_idx", "band_key"
    )
    build = all_b.select(
        F.col("_id").alias("match_id"), "band_idx", "band_key", "_side"
    )
    return (
        probe.join(build, ["band_idx", "band_key"])
        .filter(
            # never a self-pair: a re-ingested id that already sits in
            # the snapshot would otherwise "near-duplicate" itself
            (
                (F.col("_side") == "snapshot")
                & (F.col("batch_id") != F.col("match_id"))
            )
            | (
                (F.col("_side") == "batch")
                & (F.col("batch_id") < F.col("match_id"))
            )
        )
        .select(
            "batch_id", "match_id", F.col("_side").alias("origin")
        )
        .distinct()
    )
