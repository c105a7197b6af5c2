"""A long-lived session keeps no storage from the near-dup pair
generators, nor from the operators that materialize an intermediate
table they read several times (span islands, event disorder, market
basket, phrase search): once a result is collected and dropped,
neither the CacheManager nor the persistent-RDD table holds anything
they made."""

from datetime import datetime, timedelta

import gc
import time

from computer_vision_foundations_spark.operators.basket import basket_pair_rules
from computer_vision_foundations_spark.operators.cdc import chunk_dedup_stats
from computer_vision_foundations_spark.operators.cf import item_cosine_pairs
from computer_vision_foundations_spark.operators.dedup import (
    containment_pairs,
    incremental_lsh_candidates,
    minhash_lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_pairs,
    winnow_near_duplicates,
)
from computer_vision_foundations_spark.operators.disorder import (
    event_disorder_stats,
)
from computer_vision_foundations_spark.operators.ppjoin import (
    prefix_jaccard_pairs,
)
from computer_vision_foundations_spark.operators.retrieval import phrase_search
from computer_vision_foundations_spark.operators.spans import (
    duplicated_span_islands,
)


def _generators(spark, variant: int):
    """One call of every pair generator on a tiny input; ``variant``
    makes the inputs (and so the plans) distinct between rounds."""
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "an unrelated sentence about columnar storage",
        f"variant {variant} of a short closing line here",
    ]
    docs = spark.createDataFrame(
        [(i + 10 * variant, t) for i, t in enumerate(texts)],
        "doc_id long, text string",
    )
    fps = spark.createDataFrame(
        [(1, 0b1111_0000), (2, 0b1111_0001), (3, variant), (4, 0b1111_0000)],
        "doc_id long, simhash long",
    )
    baskets = spark.createDataFrame(
        [(b, i) for b in range(3) for i in range(variant, variant + 3)],
        "bk long, it long",
    )
    snap = minhash_signatures(docs.limit(2), n_hashes=8, hash_fn="md5")
    t0 = datetime(2024, 1, 1)
    events = spark.createDataFrame(
        [
            (u, t0 + timedelta(seconds=s), t0 + timedelta(seconds=a), 10 * u + s)
            for u in range(2)
            for s, a in [(0, 1), (5, 2 + variant), (3, 4), (9, 9)]
        ],
        "user_id long, ts timestamp, arrived timestamp, event_id long",
    )
    phrases = spark.createDataFrame(
        [(1, ["quick", "brown"]), (2, ["lazy", "dog"])],
        "phrase_id long, terms array<string>",
    )
    return [
        ngram_jaccard_pairs(docs, threshold=0.3),
        containment_pairs(docs, threshold=0.3),
        winnow_near_duplicates(docs, k=3, w=2, min_shared=1),
        minhash_lsh_candidate_pairs(docs, n_hashes=8, bands=4),
        simhash_pairs(fps, bits=8, bands=4),
        incremental_lsh_candidates(
            docs, snap, n_hashes=8, bands=4, hash_fn="md5"
        ),
        prefix_jaccard_pairs(docs, threshold=0.3),
        item_cosine_pairs(baskets, "bk", "it", min_cooc=1),
        chunk_dedup_stats(docs, w=4, modulus=4),
        duplicated_span_islands(docs, n=3),
        event_disorder_stats(events, "user_id", "ts", "arrived", "event_id"),
        basket_pair_rules(baskets, "bk", "it", min_pair_count=1),
        phrase_search(docs, phrases),
    ]


def _collect_all(spark, variant: int) -> None:
    for out in _generators(spark, variant):
        out.collect()


def test_pair_generators_release_storage(spark):
    jsc = spark.sparkContext._jsc
    cache = spark._jsparkSession.sharedState().cacheManager()

    def _ids():
        return {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}

    # other tests' cached frames are not this test's business
    spark.catalog.clearCache()
    before = _ids()
    # collected inside a helper, so no frame of this test (pytest's
    # assertion temporaries included) keeps a result alive
    for variant in (1, 2):
        _collect_all(spark, variant)

    deadline = time.monotonic() + 20
    while True:
        gc.collect()
        spark._jvm.System.gc()
        leaked = _ids() - before
        if (cache.isEmpty() and not leaked) or time.monotonic() > deadline:
            break
        time.sleep(0.5)
    assert cache.isEmpty(), "a pair generator left a Dataset in the CacheManager"
    # id-set compare, not counts: an unrelated test's block may be
    # ContextCleaner-GC'd between the two snapshots in a full-suite run
    assert leaked == set()
