"""Content-defined chunking (CDC) for storage-level dedup.

Rsync/LBFS-style dedup splits content at positions where a rolling
window hash satisfies a mask condition, so chunk boundaries survive
insertions/deletions (fixed-size blocks do not) and identical regions
across files hash to identical chunks. The classic gear/Rabin rollers
are byte-serial with min/max-length clamps — inherently sequential
state. The STATELESS formulation used here keeps the content-defined
property and stays fully declarative (and SQL-replayable):

    boundary after position i  ⟺  hash(window of w chars ending at i) % m == 0

Chunks are the runs between boundaries. Same text region ⇒ same
windows ⇒ same boundaries ⇒ same chunk hashes, regardless of what
precedes it (after the first w-1 positions) — the dedup property.
Expected chunk length is m; no clamps means a pathological input can
make long chunks, which is the documented trade-off for losing the
sequential scan.

Scale shape: boundary detection is one narrow Arrow-batched pass per
document (sequential window hashing — the winnowing pattern; an
interpreted Catalyst HOF measured ~3× slower); the only shuffle
carries (doc, chunk_hash) rows for the cross-document frequency
aggregate. Nothing document-sized is ever broadcast.
"""

from __future__ import annotations

import hashlib

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

__all__ = ["content_chunks", "chunk_dedup_stats"]


def content_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 8,
    modulus: int = 32,
    repartition_to: int | None = None,
) -> DataFrame:
    """``(id, chunk_idx, chunk_start, chunk_len, chunk_hash)`` — 1-based
    ``chunk_start``, ``chunk_hash`` = md5 of the chunk's characters.

    A boundary falls AFTER character position i (i ≥ w) when
    ``xx = md5(substr(text, i-w+1, w))`` has its first 7 hex digits,
    read as an integer, ≡ 0 (mod ``modulus``). The final chunk always
    ends at the text end."""
    if repartition_to:
        # small single-file inputs plan ONE partition; the boundary UDF
        # is the work, so spread it (same opt-in as the shingle ops)
        df = df.repartition(repartition_to)
    n = F.length(text_col)

    # Boundary detection: per-document sequential window hashing — the
    # winnowing pattern. An Arrow-batched UDF (hashlib md5, ~1 µs per
    # window) measures ~8× faster than the equivalent Catalyst HOF
    # because higher-order-function lambdas evaluate interpreted per
    # element, while the md5-hex arithmetic here is byte-identical to
    # the oracle's SQL (`md5(substr(text, i-w+1, w))` first 7 hex
    # digits as an integer, mod `modulus`). Narrow: one text in, one
    # small int array out — nothing document-sized is duplicated.
    @pandas_udf(T.ArrayType(T.IntegerType()))
    def starts_udf(texts: pd.Series) -> pd.Series:
        md5 = hashlib.md5

        def one(t: str) -> list[int]:
            ln = len(t)
            starts = [1]
            b = t.encode("utf-8")
            if len(b) == ln:
                # ASCII fast path (byte offsets == char offsets):
                # encode ONCE and slice a memoryview per window, and
                # read the first 7 hex digits as (first 4 digest
                # bytes) >> 4 — the same 28 bits without building a
                # hex string per window (r13; ~13% off the boundary
                # pass — the md5 call itself dominates and its choice
                # is pinned by the SQL-replayable oracle)
                mv = memoryview(b)
                from_bytes = int.from_bytes
                for i in range(w, ln):
                    d = md5(mv[i - w : i]).digest()
                    if (from_bytes(d[:4], "big") >> 4) % modulus == 0:
                        starts.append(i + 1)
                return starts
            for i in range(w, ln):  # boundary AFTER position i; i < ln
                window = t[i - w : i].encode("utf-8")
                h = int(md5(window).hexdigest()[:7], 16)
                if h % modulus == 0:
                    starts.append(i + 1)
            return starts

        return texts.map(one)

    starts = starts_udf(F.col(text_col))
    with_chunks = (
        df.filter(n >= 1)
        .select(F.col(id_col), F.col(text_col).alias("_t"), starts.alias("_starts"))
        .select(
            id_col,
            "_t",
            "_starts",
            F.posexplode("_starts").alias("chunk_idx", "chunk_start"),
        )
        .withColumn(
            "_next",
            F.coalesce(
                F.try_element_at("_starts", F.col("chunk_idx") + 2),
                F.length("_t") + 1,
            ),
        )
        .withColumn("chunk_len", F.col("_next") - F.col("chunk_start"))
        .withColumn(
            "chunk_hash",
            F.md5(
                F.substring(
                    F.col("_t"), F.col("chunk_start"), F.col("chunk_len")
                ).cast("binary")
            ),
        )
    )
    return with_chunks.select(
        id_col, "chunk_idx", "chunk_start", "chunk_len", "chunk_hash"
    )


def chunk_dedup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 8,
    modulus: int = 32,
    repartition_to: int | None = None,
    broadcast_shared: bool = True,
) -> DataFrame:
    """Per-document storage-dedup profile: ``(id, n_chunks,
    shared_chunks, shared_chars, dedup_fraction)`` where a chunk is
    *shared* when its hash occurs in at least one OTHER document.
    ``dedup_fraction`` = shared_chars / total_chars — the fraction of
    the document's bytes a content-addressed store would not have to
    write twice.

    ``broadcast_shared`` broadcasts the shared-hash set into the probe
    semi-join (r13, guide §3.2 — the spans.broadcast_frequent
    contract): the set is bounded by the DISTINCT shared-chunk count
    (16-byte rows), the probe side is every chunk of the corpus;
    without the broadcast the semi-join re-shuffles + re-sorts the
    full chunk stream by hash. Flip off beyond ~5·10^7 shared hashes;
    results are join-strategy independent either way."""
    # three consumers (shared-hash agg, semi-join probe, totals) — one
    # boundary-UDF pass, not three; rows are (id, idx, start, len,
    # hash16), tiny. One eager localCheckpoint job (the near-dup
    # family's discipline, dedup._capped_buckets): its blocks are freed
    # once the result is unreachable.
    chunks = content_chunks(
        df, text_col, id_col, w, modulus, repartition_to
    ).localCheckpoint()
    shared = (
        chunks.groupBy("chunk_hash")
        .agg(F.count_distinct(id_col).alias("_docs"))
        .filter(F.col("_docs") >= 2)
        .select("chunk_hash")
    )
    if broadcast_shared:
        shared = F.broadcast(shared)
    flagged = chunks.join(shared, "chunk_hash", "left_semi").groupBy(id_col).agg(
        F.count(F.lit(1)).alias("shared_chunks"),
        F.sum("chunk_len").alias("shared_chars"),
    )
    totals = chunks.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("chunk_len").alias("_total_chars"),
    )
    return (
        totals.join(flagged, id_col, "left")
        .select(
            id_col,
            "n_chunks",
            F.coalesce("shared_chunks", F.lit(0)).cast("long").alias(
                "shared_chunks"
            ),
            F.coalesce("shared_chars", F.lit(0)).cast("long").alias(
                "shared_chars"
            ),
            F.round(
                F.coalesce("shared_chars", F.lit(0))
                / F.col("_total_chars"),
                6,
            ).alias("dedup_fraction"),
        )
    )
