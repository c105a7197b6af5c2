"""Dedup-operator properties (SURVEY §2.10 north-star extensions)."""

import pytest
from pyspark.sql import functions as F

from computer_vision_foundations_spark.operators.dedup import (
    embedding_near_duplicates,
    exact_duplicates,
    minhash_lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_from_hashes,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (3, "The quick brown fox jumps over the lazy dog!"),  # canonical dup of 1
    (4, "a completely different sentence about spark engines"),
    (5, "the quick brown fox jumps over the sleepy dog"),  # near dup of 1
]


def _docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_duplicates_canonical(spark):
    out = exact_duplicates(_docs(spark), "text", "doc_id", canonicalize=True)
    rows = {r.keep_id: r.n_dupes for r in out.collect()}
    assert rows[1] == 3  # 1, 2, 3 share a canonical fingerprint
    assert rows[4] == 1 and rows[5] == 1


def test_exact_duplicates_raw(spark):
    out = exact_duplicates(_docs(spark), "text", "doc_id", canonicalize=False)
    rows = {r.keep_id: r.n_dupes for r in out.collect()}
    assert rows[1] == 2  # only 1 and 2 are byte-identical
    assert len(rows) == 4


def test_ngram_jaccard_identical_docs(spark):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(_docs(spark), k=3, threshold=0.1).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert 0.2 < pairs[(1, 5)] < 1.0  # near dup: some shared shingles
    assert (1, 4) not in pairs


def test_minhash_identical_signatures(spark):
    sigs = {r.doc_id: r.signature for r in minhash_signatures(_docs(spark)).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[4]


def test_lsh_candidates_include_duplicates(spark):
    cands = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidate_pairs(
            _docs(spark), n_hashes=8, bands=4
        ).collect()
    }
    assert (1, 2) in cands  # identical docs always collide in every band
    assert (1, 4) not in cands
    # 16 hashes in 5 bands would silently drop the 16th hash
    with pytest.raises(ValueError, match="must divide"):
        minhash_lsh_candidate_pairs(_docs(spark), n_hashes=16, bands=5)


def test_simhash_identical_and_distinct(spark):
    hashed = _docs(spark).select(
        "doc_id",
        F.transform(
            F.array_distinct(F.split("text", " ")), lambda t: F.xxhash64(t)
        ).alias("h"),
    )
    out = {r.doc_id: r.s for r in hashed.select(
        "doc_id", simhash_from_hashes("h", bits=32).alias("s")
    ).collect()}
    assert out[1] == out[2]
    assert bin(out[1] ^ out[5]).count("1") < bin(out[1] ^ out[4]).count("1")


def test_embedding_near_duplicates_blocked(spark):
    rows = [
        (1, [1.0, 0.0, 0.0], "a"),
        (2, [1.0, 0.0, 0.0], "a"),  # identical, same block
        (3, [0.0, 1.0, 0.0], "a"),  # orthogonal
        (4, [1.0, 0.0, 0.0], "b"),  # identical to 1 but other block
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = {
        (r.id_a, r.id_b): r.cos_sim
        for r in embedding_near_duplicates(
            df, "embedding", "vec_id", block_col="label", threshold=0.9
        ).collect()
    }
    assert out == {(1, 2): 1.0}


def test_ngram_jaccard_hot_shingle_cap_bounds_fanout(spark):
    """A stop-shingle shared by every doc must not create all-pairs fan-out.

    50 docs share one hot 3-gram ("aa bb cc") but are otherwise unique;
    two docs (900, 901) are genuinely near-identical. With the frequency
    cap below the hot shingle's document frequency, only the genuine
    pair survives — not the 50*49/2 stop-shingle pairs.
    """
    docs = [(i, f"aa bb cc unique{i} token{i} word{i}") for i in range(50)]
    docs += [
        (900, "spark engines shuffle data across the cluster nodes"),
        (901, "spark engines shuffle data across the cluster nodes fast"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    pairs = ngram_jaccard_pairs(
        df, "text", "doc_id", k=3, threshold=0.1, max_shingle_freq=10
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(900, 901)}
    # Uncapped, the hot shingle joins all 50 docs pairwise.
    uncapped = ngram_jaccard_pairs(
        df, "text", "doc_id", k=3, threshold=0.01, max_shingle_freq=None
    )
    assert uncapped.count() > 1000


def test_lsh_hot_bucket_cap_bounds_fanout(spark):
    """Identical docs all land in one band bucket; the cap drops it.

    40 byte-identical docs would emit 40*39/2 pairs per band uncapped;
    with max_bucket_size=10 the hot bucket is dropped entirely while a
    small genuine duplicate group (ids 900/901) still pairs up.
    """
    docs = [(i, "the same exact document body repeated many times over") for i in range(40)]
    docs += [
        (900, "a rare duplicate pair about distributed query planning"),
        (901, "a rare duplicate pair about distributed query planning"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    capped = minhash_lsh_candidate_pairs(
        df, "text", "doc_id", k=3, n_hashes=8, bands=4, max_bucket_size=10
    )
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert got == {(900, 901)}
    uncapped = minhash_lsh_candidate_pairs(
        df, "text", "doc_id", k=3, n_hashes=8, bands=4, max_bucket_size=None
    )
    assert uncapped.count() == 40 * 39 // 2 + 1


def test_winnow_udf_matches_expression_form(spark):
    """The numpy winnowing UDF and the staged-HOF expression form are
    the same integer function (the UDF is the hot path; the expression
    form exists for SQL-only composition)."""
    import pyspark.sql.functions as F
    from computer_vision_foundations_spark.functions.text import (
        char_codes,
        kgram_hashes_from_codes,
        winnow_from_hashes,
        winnow_udf,
    )

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "ab"),
         (3, ""),
         (4, "aaaaaaaaaaaaaaaaaaaaaaaaaaaa")],
        ["doc_id", "text"],
    )
    staged = (
        df.withColumn("_c", char_codes("text", 5))
        .withColumn("_h", kgram_hashes_from_codes("_c", 5))
        .select("doc_id", winnow_from_hashes("_h", 8).alias("fp"))
    )
    viaudf = df.select("doc_id", winnow_udf(5, 8)(F.col("text")).alias("fp"))
    a = {r.doc_id: r.fp for r in staged.collect()}
    b = {r.doc_id: r.fp for r in viaudf.collect()}
    assert a == b
    assert len(a[1]) > 1  # real fingerprints, not a degenerate single


def test_winnow_shared_substring_shares_fingerprint(spark):
    """Winnowing guarantee: docs sharing a substring of length >= w+k-1
    share at least one fingerprint."""
    import pyspark.sql.functions as F
    from computer_vision_foundations_spark.functions.text import winnow_udf

    shared = "a very long shared passage of text here"
    df = spark.createDataFrame(
        [(1, "prefix one " + shared), (2, shared + " suffix two")],
        ["doc_id", "text"],
    )
    rows = df.select(
        "doc_id", F.explode(winnow_udf(5, 8)(F.col("text"))).alias("fp")
    ).collect()
    fps1 = {r.fp for r in rows if r.doc_id == 1}
    fps2 = {r.fp for r in rows if r.doc_id == 2}
    assert fps1 & fps2


def test_bpe_ish_token_count(spark):
    from computer_vision_foundations_spark.functions.text import (
        bpe_ish_token_count,
    )

    df = spark.createDataFrame(
        [(1, "it's 42 degrees, isn't it?"), (2, ""), (3, "hello")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.n for r in df.select(
        "doc_id", bpe_ish_token_count("text").alias("n")).collect()}
    # it|'s|42|degrees|,|isn|'t|it|? = 9 matches
    assert out[1] == 9 and out[2] == 0 and out[3] == 1


def test_tfidf_scores_basic(spark):
    import math
    from computer_vision_foundations_spark.functions.text import tfidf_scores

    df = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "cherry date")],
        ["doc_id", "text"],
    )
    rows = {(r.doc_id, r.term): r for r in tfidf_scores(df).collect()}
    # apple: tf 2/3 in doc 1, df=1 over N=3 → idf = ln(4/2)+1
    r = rows[(1, "apple")]
    assert abs(r.tf - 2 / 3) < 1e-12 and r.df == 1
    assert abs(r.tfidf - (2 / 3) * (math.log(4 / 2) + 1)) < 1e-12
    # banana appears in 2 docs
    assert rows[(2, "banana")].df == 2


def test_winnow_near_duplicates_pairs(spark):
    from computer_vision_foundations_spark.operators.dedup import (
        winnow_near_duplicates,
    )

    shared = "this long passage is copied between the two documents verbatim"
    df = spark.createDataFrame(
        [
            (1, "intro alpha " + shared),
            (2, shared + " outro beta"),
            (3, "completely different text with nothing in common at all xyz"),
        ],
        ["doc_id", "text"],
    )
    pairs = {
        (r.id_a, r.id_b): r
        for r in winnow_near_duplicates(df, min_shared=2).collect()
    }
    assert (1, 2) in pairs
    r = pairs[(1, 2)]
    assert r.n_shared >= 2 and 0 < r.resemblance <= 1.0
    assert not any(3 in p for p in pairs)


def test_simhash_pairs_pigeonhole_exact(spark):
    """Within max_hamming = bands-1 the banding is exact: result equals
    the brute-force Hamming filter."""
    from computer_vision_foundations_spark.operators.dedup import simhash_pairs

    import itertools
    rows = [
        (1, 0b1111_0000_1010_0101),
        (2, 0b1111_0000_1010_0100),  # d(1,2)=1
        (3, 0b1111_0000_1010_0111),  # d(1,3)=1, d(2,3)=2
        (4, 0b0000_1111_0101_1010),  # far from all
        (5, 0b1111_0000_1010_0101),  # identical to 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_pairs(df, bits=16, bands=4, max_hamming=3).collect()
    }
    want = {}
    for (ia, ha), (ib, hb) in itertools.combinations(rows, 2):
        d = bin(ha ^ hb).count("1")
        if d <= 3:
            want[(min(ia, ib), max(ia, ib))] = d
    assert got == want
    assert got[(1, 5)] == 0 and got[(1, 2)] == 1
    with pytest.raises(ValueError, match="must divide"):
        simhash_pairs(df, bits=16, bands=5)

def test_embedding_near_duplicates_cartesian_requires_opt_in(spark):
    """block_col=None plans an O(n²) cross product — hard error unless
    the caller opts in explicitly (VERDICT r2 item 3)."""
    import pytest

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0])], ["vec_id", "embedding"]
    )
    with pytest.raises(ValueError, match="allow_full_cross"):
        embedding_near_duplicates(df, "embedding", "vec_id")
    out = {
        (r.id_a, r.id_b)
        for r in embedding_near_duplicates(
            df, "embedding", "vec_id", allow_full_cross=True
        ).collect()
    }
    assert out == {(1, 2)}


def test_simhash_pairs_collapses_identical_fingerprints(spark):
    """A large identical-fingerprint cluster must still emit all its
    hamming-0 pairs, and must NOT trip the distinct-fingerprint band
    cap (the count is over distinct fingerprints, not members)."""
    from computer_vision_foundations_spark.operators.dedup import simhash_pairs

    n = 30
    rows = [(i, 0b1111_0000_1010_0101) for i in range(n)]  # one big cluster
    rows += [(100, 0b0000_1111_0101_1010), (101, 0b0000_1111_0101_1011)]  # d=1
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_pairs(
            df, bits=16, bands=4, max_hamming=3, max_band_freq=5
        ).collect()
    }
    # all n*(n-1)/2 hamming-0 pairs survive despite max_band_freq=5
    zero_pairs = {k for k, v in got.items() if v == 0}
    assert len(zero_pairs) == n * (n - 1) // 2
    assert got[(100, 101)] == 1


def test_simhash_pairs_band_freq_cap_drops_hot_band(spark):
    """Many DISTINCT fingerprints sharing one band value go quadratic in
    the candidate join; max_band_freq drops that band value while pairs
    still reachable through other bands survive."""
    from computer_vision_foundations_spark.operators.dedup import simhash_pairs

    # 20 distinct fingerprints all share band 0 (low nibble = 0b0101)
    # but differ in the top 12 bits by >3 hamming; plus one genuine
    # near-dup pair differing only in the low nibble.
    rows = [(i, (i << 8) | (i << 4) | 0b0101) for i in range(20)]
    rows += [(900, 0b1010_1010_1010_0000), (901, 0b1010_1010_1010_0001)]
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    capped = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_pairs(
            df, bits=16, bands=4, max_hamming=3, max_band_freq=10
        ).collect()
    }
    assert (900, 901) in capped and capped[(900, 901)] == 1
    uncapped = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_pairs(
            df, bits=16, bands=4, max_hamming=3, max_band_freq=None
        ).collect()
    }
    # the cap can only shrink the result set, never grow it
    assert set(capped) <= set(uncapped)


def test_incremental_exact_duplicates(spark):
    from computer_vision_foundations_spark.operators.dedup import (
        exact_duplicates,
        incremental_exact_duplicates,
    )

    old = spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text")], "doc_id long, text string"
    )
    snapshot = exact_duplicates(old, "text", "doc_id")
    batch = spark.createDataFrame(
        [
            (10, "alpha text"),   # dup of snapshot doc 1
            (11, "gamma text"),   # new
            (12, "gamma text"),   # dup in batch of 11
            (13, "Alpha, TEXT"),  # canonicalizes to snapshot doc 1
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.status, r.canonical_id)
        for r in incremental_exact_duplicates(batch, snapshot).collect()
    }
    assert out[10] == ("dup_of_snapshot", 1)
    assert out[13] == ("dup_of_snapshot", 1)
    assert out[11] == ("new", 11)
    assert out[12] == ("dup_in_batch", 11)


def test_incremental_dedup_broadcast_path_matches(spark):
    from computer_vision_foundations_spark.operators.dedup import (
        exact_duplicates,
        incremental_exact_duplicates,
    )

    docs = spark.createDataFrame(
        [(i, f"text {i % 7}") for i in range(40)], "doc_id long, text string"
    )
    snap = exact_duplicates(docs.filter("doc_id < 10"), "text", "doc_id")
    batch = docs.filter("doc_id >= 10")
    a = sorted(map(tuple, incremental_exact_duplicates(batch, snap).collect()))
    b = sorted(
        map(
            tuple,
            incremental_exact_duplicates(
                batch, snap, broadcast_old=True
            ).collect(),
        )
    )
    assert a == b


def test_incremental_lsh_candidates_flow(spark):
    from computer_vision_foundations_spark.operators.dedup import (
        incremental_lsh_candidates,
        minhash_signatures,
    )

    old = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely different content about spark execution plans"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            # near-identical to snapshot doc 1
            (10, "the quick brown fox jumps over the lazy dog today"),
            # near-identical pair within the batch
            (11, "distributed dedup via minhash banding works very well"),
            (12, "distributed dedup via minhash banding works very well"),
            # unrelated
            (13, "nothing shares any shingle with this sentence at all"),
        ],
        "doc_id long, text string",
    )
    snap = minhash_signatures(old, n_hashes=8, hash_fn="md5")
    out = incremental_lsh_candidates(
        new, snap, n_hashes=8, bands=4, hash_fn="md5"
    ).collect()
    pairs = {(r.batch_id, r.match_id, r.origin) for r in out}
    assert (10, 1, "snapshot") in pairs
    assert (11, 12, "batch") in pairs
    assert not any(r.batch_id == 13 for r in out)
    # batch pairs are ordered batch_id < match_id, no self matches
    assert all(r.batch_id < r.match_id for r in out if r.origin == "batch")
    with pytest.raises(ValueError, match="must divide"):
        incremental_lsh_candidates(new, snap, n_hashes=8, bands=3)


def test_incremental_lsh_bucket_cap(spark):
    from computer_vision_foundations_spark.operators.dedup import (
        incremental_lsh_candidates,
        minhash_signatures,
    )

    # 12 identical batch docs collide in every band; cap kills the bucket
    new = spark.createDataFrame(
        [(i, "same text everywhere for every single batch document") for i in range(12)],
        "doc_id long, text string",
    )
    snap = minhash_signatures(
        spark.createDataFrame([(100, "unrelated snapshot doc entirely")],
                              "doc_id long, text string"),
        n_hashes=8, hash_fn="md5",
    )
    capped = incremental_lsh_candidates(
        new, snap, n_hashes=8, bands=4, hash_fn="md5", max_bucket_size=5
    ).count()
    uncapped = incremental_lsh_candidates(
        new, snap, n_hashes=8, bands=4, hash_fn="md5", max_bucket_size=None
    ).count()
    assert capped == 0 and uncapped == 66  # C(12,2)


def test_incremental_lsh_no_self_pair_on_reingest(spark):
    from computer_vision_foundations_spark.operators.dedup import (
        incremental_lsh_candidates,
        minhash_signatures,
    )

    doc = (7, "a document that gets re-fetched by the daily crawl again")
    old = spark.createDataFrame([doc], "doc_id long, text string")
    new = spark.createDataFrame([doc], "doc_id long, text string")
    snap = minhash_signatures(old, n_hashes=8, hash_fn="md5")
    out = incremental_lsh_candidates(
        new, snap, n_hashes=8, bands=4, hash_fn="md5"
    ).collect()
    assert out == []  # identical id in snapshot+batch: not a dup of itself


def test_containment_catches_doc_inside_doc(spark):
    from computer_vision_foundations_spark.operators.dedup import (
        containment_pairs,
    )

    quote = "alpha beta gamma delta epsilon"
    page = quote + " " + " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, quote), (2, page), (3, "totally different text here")],
        "doc_id long, text string",
    )
    rows = containment_pairs(docs, k=3, threshold=0.8).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    # every shingle of the quote is inside the page
    assert r["containment_a"] == 1.0
    assert r["overlap"] == 1.0
    assert r["containment_b"] < 0.2


def test_containment_threshold_filters(spark):
    from computer_vision_foundations_spark.operators.dedup import (
        containment_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c x y z q r s t")],
        "doc_id long, text string",
    )
    # shared shingle a|b|c -> overlap = 1/3 of the smaller set
    assert containment_pairs(docs, k=3, threshold=0.5).count() == 0
    got = containment_pairs(docs, k=3, threshold=0.3).collect()
    assert len(got) == 1 and abs(got[0]["overlap"] - 1 / 3) < 1e-6


def test_minhash_row_shingles_match_array_form(spark):
    """``minhash_signatures`` builds shingles as rows (no lambdas); its
    signatures must equal the array form's — ``word_shingles`` exploded
    into the same per-seed min aggregate — for both hash families,
    including null/empty text, short docs, empty tokens, ``|`` inside a
    token and repeated shingles."""
    from computer_vision_foundations_spark.functions import word_shingles
    from computer_vision_foundations_spark.functions.hashing import (
        md5_hash_pair,
        minhash_agg_columns,
    )

    docs = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "one"),
            (4, "two words"),
            (5, "a  b c  d"),  # double spaces: empty tokens
            (6, "x|y z w|v q"),  # '|' inside tokens
            (7, "la la la la la la"),  # one shingle, repeated
            (8, "a b c a b c a b c d"),
            (9, " lead and trail "),
        ],
        "doc_id long, text string",
    )
    for hash_fn in ("xxhash64", "md5"):
        for k in (1, 3):
            ex = docs.select(
                "doc_id", F.explode(word_shingles("text", k)).alias("_s")
            )
            if hash_fn == "xxhash64":
                ex = ex.select("doc_id", F.xxhash64("_s").alias("_s"))
            else:
                h1, h2 = md5_hash_pair("_s")
                ex = ex.select(
                    "doc_id", F.struct(h1.alias("h1"), h2.alias("h2")).alias("_s")
                )
            want = {
                r["doc_id"]: [r[f"_m{s}"] for s in range(8)]
                for r in ex.groupBy("doc_id")
                .agg(*minhash_agg_columns("_s", 8, hash_fn))
                .collect()
            }
            got = {
                r.doc_id: list(r.signature)
                for r in minhash_signatures(
                    docs, k=k, n_hashes=8, hash_fn=hash_fn
                ).collect()
            }
            assert got == want, (hash_fn, k)
