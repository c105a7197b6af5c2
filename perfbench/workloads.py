"""The three benchmark workloads, and ``ingest_mutations``, which runs
two of them in one session.

Each workload owns a directory under the run's temp root and exposes:

- ``prepare(d)``: generate inputs and create the initial state in the
  fresh directory ``d`` (timed as set-up);
- ``round(r, warm)``: one round of write-side then read-side library
  calls, followed by untimed output checks; a ``warm`` round (discarded)
  may run on smaller inputs;
- ``storage()``: bytes the writes left on disk, and the generated
  payload bytes they hold.

A round returns a :class:`Round`. Only library calls are timed: the
generator and the checks run outside the spans.
"""

from __future__ import annotations

import dataclasses
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from gen import (
    Corpus,
    TableModel,
    Vectors,
    jpeg_pool,
    land_jpegs,
    make_corpus,
    make_vectors,
    mutual_knn_truth,
    new_rows,
    round_dates,
    upsert_rows,
)


@dataclass
class Round:
    items: int
    write_s: float
    read_s: float
    checks: list[tuple[str, bool]] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)
    traced: bool = False
    peak_rss_mb: float = 0.0
    peak_procs: dict[int, float] = field(default_factory=dict)
    # write and read seconds of each part of a composite round
    parts: dict[str, tuple[float, float]] = field(default_factory=dict)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _span_sum(tracer, first: int, name: str, key: str | None = None) -> float:
    """Sum of wall seconds (or counter ``key``) over spans ``name``
    recorded since span index ``first``."""
    spans = [s for s in tracer.spans[first:] if s.name == name]
    if key is None:
        return sum(s.wall for s in spans)
    return sum(s.counters.get(key, 0.0) for s in spans)


class Workload:
    name = ""
    calls = 0  # library calls made so far

    def finish(self) -> list[tuple[str, bool]]:
        """Checks over the whole run, made once after the last round."""
        return []

    def __init__(self, spark, tracer, rng: np.random.Generator):
        self.spark = spark
        self.tracer = tracer
        self.rng = rng

    def timed(self, phase: str, calls):
        """Run ``calls`` (a list of (span name, thunk)) under one phase
        span; returns the thunks' results and the phase wall time."""
        out = []
        with self.tracer.span(phase) as ph:
            for name, fn in calls:
                self.calls += 1
                with self.tracer.span(name):
                    out.append(fn())
        return out, ph.wall


# ================================================================ ingest


class ImageIngest(Workload):
    """Streaming JPEG ingest into a date-partitioned silver table."""

    name = "image_ingest"
    # bench.py's admission size: two 512-file micro-batches per round
    FILES_PER_ROUND = 1024
    FILES_PER_TRIGGER = 512
    WARM_FILES = 128
    POOL = 64

    def prepare(self, d: str) -> None:
        from computer_vision_foundations_spark.plans.pipeline import (
            IngestConfig,
            PipelineConfig,
            SinkConfig,
        )
        from computer_vision_foundations_spark.streaming.ingest import (
            run_ingest,
            run_scoring_stream,
        )

        self.d = d
        self.pool = jpeg_pool(self.rng, self.POOL)
        self.landing = os.path.join(d, "landing")
        os.makedirs(self.landing)
        self.cfg = PipelineConfig(
            ingest=IngestConfig(
                input_path=self.landing,
                glob="*.jpg",
                recursive=True,
                max_files_per_trigger=self.FILES_PER_TRIGGER,
                ts_format="yyyy-MM-dd HH-mm-ss",
                coalesce_partitions=8,
            ),
            sink=SinkConfig(
                format="parquet",
                output_path=os.path.join(d, "silver"),
                checkpoint_path=os.path.join(d, "silver_ckpt"),
                partition_by=("date",),
                optimize_write=True,
            ),
        )
        # the scoring consumer admits every new file in one trigger
        self.score_cfg = dataclasses.replace(
            self.cfg,
            ingest=dataclasses.replace(self.cfg.ingest, max_files_per_trigger=None),
        )
        self.scored = os.path.join(d, "scored")
        self._run_ingest, self._run_scoring = run_ingest, run_scoring_stream
        self.seq = 0
        self.landed = 0
        self.landed_bytes = 0

    def land(self, r: int, n: int):
        batch = land_jpegs(self.rng, self.landing, r, n, self.seq, self.pool)
        self.seq += n
        self.landed += len(batch.paths)
        self.landed_bytes += batch.payload_bytes
        return batch

    def ingest(self) -> None:
        self._run_ingest(self.spark, self.cfg)

    def score(self) -> None:
        self._run_scoring(
            self.spark,
            self.score_cfg,
            _content_length,
            output_path=self.scored,
            checkpoint_path=os.path.join(self.d, "scored_ckpt"),
        )

    def training_query(self, dates: list[str]):
        from computer_vision_foundations_spark.operators.split import (
            train_test_split,
        )

        silver = self.spark.read.parquet(self.cfg.sink.output_path).where(
            F.col("date").isin(*dates)
        )
        train, test = train_test_split(silver, "label", "path", 0.8, seed=7)
        counts = silver.groupBy("date", "label").count().collect()
        return train.count(), test.count(), counts

    def _sink_size(self) -> tuple[int, int]:
        """(parquet files, bytes) of the silver table directory."""
        silver = self.cfg.sink.output_path
        files = sum(
            1 for _d, _s, fs in os.walk(silver) for f in fs if f.endswith(".parquet")
        )
        return files, dir_bytes(silver)

    def round(self, r: int, warm: bool = False) -> Round:
        batch = self.land(r, self.WARM_FILES if warm else self.FILES_PER_ROUND)
        sink_before = self._sink_size()
        first = len(self.tracer.spans)
        _, write_s = self.timed(
            "write",
            [("streaming.ingest", self.ingest), ("streaming.score", self.score)],
        )
        dates = round_dates(r)
        (res,), read_s = self.timed(
            "read",
            [("operators.split", lambda: self.training_query(dates))],
        )
        n_train, n_test, counts = res
        by_label: dict[int, int] = {}
        by_date: dict[str, int] = {}
        for x in counts:
            by_label[x["label"]] = by_label.get(x["label"], 0) + x["count"]
            by_date[str(x["date"])] = by_date.get(str(x["date"]), 0) + x["count"]
        checks = [
            ("per-label counts", by_label == batch.label_counts),
            ("per-date counts", by_date == batch.date_counts),
            ("split is a partition", n_train + n_test == len(batch.paths)),
        ]
        layer = {}
        if self.tracer.enabled:
            files, size = self._sink_size()
            layer = self._layer(first)
            layer["sink.files_written"] = float(files - sink_before[0])
            layer["sink.bytes_written"] = float(size - sink_before[1])
        return Round(len(batch.paths), write_s, read_s, checks, layer)

    def _layer(self, first: int) -> dict[str, float]:
        t = self.tracer
        return {
            "streaming.ingest.cycle_s": _span_sum(t, first, "streaming.ingest"),
            "streaming.ingest.batches": _span_sum(
                t, first, "streaming.ingest", "streaming.batches"
            ),
            "streaming.ingest.add_batch_ms": _span_sum(
                t, first, "streaming.ingest", "streaming.addBatch_ms"
            ),
            "streaming.ingest.commit_ms": _span_sum(
                t, first, "streaming.ingest", "streaming.commit_ms"
            ),
            "streaming.ingest.plan_ms": _span_sum(
                t, first, "streaming.ingest", "streaming.plan_ms"
            ),
            "streaming.score.cycle_s": _span_sum(t, first, "streaming.score"),
            "udf.python_rows": _span_sum(
                t, first, "streaming.ingest", "sql.ArrowEvalPython.number of output rows"
            ),
            "udf.bytes_to_python": _span_sum(
                t, first, "streaming.ingest",
                "sql.ArrowEvalPython.data sent to Python workers",
            ),
            "udf.bytes_from_python": _span_sum(
                t, first, "streaming.ingest",
                "sql.ArrowEvalPython.data returned from Python workers",
            ),
            "operators.split.read_s": _span_sum(t, first, "operators.split"),
        }

    def finish(self) -> list[tuple[str, bool]]:
        silver = self.spark.read.parquet(self.cfg.sink.output_path)
        totals = silver.agg(
            F.count(F.lit(1)).alias("n"), F.countDistinct("path").alias("d")
        ).first()
        n_scored = self.spark.read.parquet(self.scored).count()
        return [
            ("sink rows == files landed", totals["n"] == self.landed),
            ("distinct paths == rows (exactly once)", totals["d"] == totals["n"]),
            ("scored rows == files landed", n_scored == self.landed),
        ]

    def storage(self) -> tuple[int, int]:
        written = sum(
            dir_bytes(os.path.join(self.d, p))
            for p in ("silver", "silver_ckpt", "scored", "scored_ckpt")
        )
        return written, self.landed_bytes


class _InputSet:
    """A generated corpus and embedding table on disk, with their truth."""

    def __init__(self, rng, d: str, n_docs: int, n_vectors: int, k: int):
        import pyarrow as pa

        self.corpus: Corpus = make_corpus(rng, n_docs)
        self.vectors: Vectors = make_vectors(rng, n_vectors)
        c, v = self.corpus, self.vectors
        self.docs_path = os.path.join(d, "documents")
        self.vecs_path = os.path.join(d, "embeddings")
        _write_parts(pa.table({"doc_id": c.doc_id, "text": c.text}), self.docs_path)
        _write_parts(
            pa.table(
                {
                    "vec_id": v.vec_id,
                    "label": v.label,
                    "embedding": pa.array(list(v.embedding), pa.list_(pa.float64())),
                }
            ),
            self.vecs_path,
        )
        self.mutual_truth = mutual_knn_truth(v, k)
        self.canonical_bytes = c.payload_bytes(c.canonical_ids)


def _write_parts(table, path: str, parts: int = 4) -> None:
    """``table`` as ``parts`` parquet files under the new directory ``path``."""
    os.makedirs(path)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(
            table.slice(i * step, step), os.path.join(path, f"part-{i}.parquet")
        )


def _content_length(pdf):
    """Stand-in model for the scoring stream: payload length."""
    return pdf["content"].map(len).astype(float)


# ================================================================ near dup


class NearDupSearch(Workload):
    """Near-duplicate clustering over a planted text corpus and
    mutual-kNN over planted blocked embeddings."""

    name = "near_dup_search"
    N_DOCS = 5000
    N_VECTORS = 2000
    WARM_SHARE = 10  # the warm-up round runs on a tenth of the inputs
    K = 3

    def prepare(self, d: str) -> None:
        self.d = d
        self.full = _InputSet(self.rng, d, self.N_DOCS, self.N_VECTORS, self.K)
        self.warm = _InputSet(
            self.rng, os.path.join(d, "warm"), self.N_DOCS // self.WARM_SHARE,
            self.N_VECTORS // self.WARM_SHARE, self.K,
        )
        self.cache_bytes = 0

    def round(self, r: int, warm: bool = False) -> Round:
        from computer_vision_foundations_spark.operators.components import (
            dedup_clusters,
        )
        from computer_vision_foundations_spark.operators.dedup import (
            minhash_lsh_candidate_pairs,
        )
        from computer_vision_foundations_spark.operators.similarity import (
            mutual_knn_pairs,
        )
        from computer_vision_foundations_spark.sources.sinks import (
            cache_for_training,
        )

        inp = self.warm if warm else self.full
        docs = self.spark.read.parquet(inp.docs_path)
        vecs = self.spark.read.parquet(inp.vecs_path)
        first = len(self.tracer.spans)
        state: dict = {}

        def lsh():
            # materialized here so the candidate join is timed as LSH,
            # not inside the components loop; clearCache() frees it
            pairs = minhash_lsh_candidate_pairs(docs, n_hashes=16, bands=8)
            state["pairs"] = pairs.persist()
            return pairs.count()

        def cc():
            state["clusters"] = dedup_clusters(state["pairs"])
            return state["clusters"].collect()

        def mutual():
            return mutual_knn_pairs(
                vecs, k=self.K, block_col="label", vec_col="embedding",
                id_col="vec_id",
            ).collect()

        (_, clusters, mutual_rows), read_s = self.timed(
            "read",
            [
                ("operators.dedup.lsh", lsh),
                ("operators.components.cc", cc),
                ("operators.similarity.mutual_knn", mutual),
            ],
        )
        out = os.path.join(self.d, f"cache_{r}")
        dropped = state["clusters"].where(~F.col("is_canonical")).select("doc_id")
        canonical = docs.join(dropped, "doc_id", "left_anti")
        (cache,), write_s = self.timed(
            "write",
            [("sources.sinks.write", lambda: cache_for_training(canonical, out))],
        )

        comp = {int(x["doc_id"]): int(x["component"]) for x in clusters}
        groups: dict[int, set[int]] = {}
        for doc, c in comp.items():
            groups.setdefault(c, set()).add(doc)
        found = {frozenset(g) for g in groups.values()}
        together = all(
            len({comp.get(m, -1 - m) for m in g}) == 1 for g in inp.corpus.groups
        )
        pairs = {(int(x["id_a"]), int(x["id_b"])) for x in mutual_rows}
        n_cache = sum(
            pq.ParquetFile(os.path.join(out, f)).metadata.num_rows
            for f in os.listdir(out)
            if f.endswith(".parquet")
        )
        checks = [
            ("every planted group in one cluster", together),
            ("clusters are the planted groups", found == set(inp.corpus.groups)),
            ("mutual pairs == numpy brute force", pairs == inp.mutual_truth),
            ("planted mutual pairs found", inp.vectors.planted_mutual <= pairs),
            ("cache rows == canonical docs", n_cache == len(inp.corpus.canonical_ids)),
        ]
        layer = {}
        if self.tracer.enabled:
            layer = self._layer(first, inp.corpus, state["pairs"], len(pairs))
        if not warm:
            self.cache_bytes = dir_bytes(out)
        cache.delete()
        return Round(len(inp.corpus.text), write_s, read_s, checks, layer)

    def _layer(self, first: int, corpus: Corpus, pairs_df, n_mutual: int):
        t = self.tracer
        cand = {(int(x[0]), int(x[1])) for x in pairs_df.collect()}
        planted = {(a, b) for g in corpus.groups for a in g for b in g if a < b}
        hit = len(cand & planted)
        join_rows = _span_sum(
            t, first, "operators.similarity.mutual_knn",
            "sql.FlatMapGroupsInPandas.number of output rows",
        )
        return {
            "operators.dedup.lsh_s": _span_sum(t, first, "operators.dedup.lsh"),
            "operators.dedup.candidate_pairs": float(len(cand)),
            "operators.dedup.candidate_precision": hit / max(1, len(cand)),
            "operators.dedup.recall": hit / max(1, len(planted)),
            "operators.components.cc_s": _span_sum(t, first, "operators.components.cc"),
            "operators.components.jobs": _span_sum(
                t, first, "operators.components.cc", "spark.jobs"
            ),
            "operators.components.driver_s": _span_sum(
                t, first, "operators.components.cc", "driver.construct_s"
            ),
            "operators.similarity.mutual_knn_s": _span_sum(
                t, first, "operators.similarity.mutual_knn"
            ),
            "operators.similarity.join_rows": join_rows,
            "operators.similarity.keep_ratio": n_mutual / max(1.0, join_rows),
            "sources.sinks.write_s": _span_sum(t, first, "sources.sinks.write"),
        }

    def storage(self) -> tuple[int, int]:
        return self.cache_bytes, self.full.canonical_bytes


# ================================================================ delta


class TableMutations(Workload):
    """Append / Zipf upsert / delete / optimize on a Delta table, with
    latest and time-travel reads."""

    name = "table_mutations"
    N0 = 10_000
    APPEND = 500
    UPSERT = 500
    OPTIMIZE_EVERY = 2  # rounds 1, 3, ...: the traced rounds of a --trace 1 run

    def prepare(self, d: str) -> None:
        from computer_vision_foundations_spark.sources.delta_writer import (
            delta_create,
        )

        self.d = d
        self.table = os.path.join(d, "table")
        self.model = TableModel()
        rows = new_rows(self.rng, self.model, self.N0)
        self._apply_upsert(rows)
        delta_create(self.spark, self.table, self._df(rows), partition_by=["part"])
        self.model.versions[0] = self.model.summary()

    def _df(self, rows):
        return self.spark.createDataFrame(
            [(k, v, p, k % 4) for k, v, p in rows],
            "key long, val long, payload string, part int",
        )

    def _apply_upsert(self, rows) -> None:
        for k, v, p in rows:
            self.model.rows[k] = (v, p)

    def round(self, r: int, warm: bool = False) -> Round:
        from computer_vision_foundations_spark.sources import (
            delta_reader as dr,
            delta_writer as dw,
        )

        m = self.model
        appended = new_rows(self.rng, m, self.APPEND)
        upserts = upsert_rows(self.rng, m, self.UPSERT)
        cut = m.low_key + self.APPEND
        # appended and new upserted keys are all above ``cut``
        n_deleted = sum(1 for k in m.rows if k < cut)
        app_df, up_df = self._df(appended), self._df(upserts)
        travel_to = max(m.versions)
        first = len(self.tracer.spans)
        calls = [
            ("sources.delta_writer.append", lambda: dw.delta_append(self.spark, self.table, app_df)),
            ("sources.delta_writer.upsert", lambda: dw.delta_upsert(self.spark, self.table, up_df, ["key"])),
            ("sources.delta_writer.delete", lambda: dw.delta_delete_where(self.spark, self.table, F.col("key") < cut)),
        ]
        if r % self.OPTIMIZE_EVERY == self.OPTIMIZE_EVERY - 1:
            calls.append(
                ("sources.delta_writer.optimize", lambda: dw.delta_optimize(self.spark, self.table))
            )
        versions, write_s = self.timed("write", calls)

        # model, versioned like the log
        self._apply_upsert(appended)
        m.versions[versions[0]] = m.summary()
        self._apply_upsert(upserts)
        m.versions[versions[1]] = m.summary()
        for k in [k for k in m.rows if k < cut]:
            del m.rows[k]
        m.low_key = cut
        m.versions[versions[2]] = m.summary()
        if len(versions) > 3:
            m.versions[versions[3]] = m.summary()

        def summarize(df):
            row = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((F.col("key") * 31 + F.col("val")) % 1_000_003).alias("s"),
            ).first()
            return int(row["n"]), int(row["s"] or 0)

        where = "val % 4 = 0"
        (snap, latest, travel), read_s = self.timed(
            "read",
            [
                ("sources.delta_reader.snapshot", lambda: dr.delta_snapshot(self.table, self.spark)),
                ("sources.delta_reader.read_latest", lambda: summarize(dr.read_delta(self.spark, self.table, where=where))),
                ("sources.delta_reader.time_travel", lambda: summarize(dr.read_delta(self.spark, self.table, version=travel_to))),
            ],
        )
        full = summarize(dr.read_delta(self.spark, self.table))
        want_where = (
            sum(1 for v, _ in m.rows.values() if v % 4 == 0),
            sum((k * 31 + v) % 1_000_003 for k, (v, _) in m.rows.items() if v % 4 == 0),
        )
        checks = [
            ("version after each commit", snap.version == max(m.versions)),
            ("latest count + checksum == model", full == m.summary()),
            ("filtered read == model", latest == want_where),
            ("time travel == model", travel == m.versions[travel_to]),
        ]
        layer = {}
        if self.tracer.enabled:
            layer = self._layer(first, versions[1:], len(snap.files))
        items = len(appended) + len(upserts) + n_deleted
        return Round(items, write_s, read_s, checks, layer)

    def _layer(self, first: int, rewriting: list[int], live_files: int):
        t = self.tracer
        files = rewritten = 0
        for v in rewriting:
            with open(os.path.join(self.table, "_delta_log", f"{v:020d}.json")) as f:
                acts = [json.loads(line) for line in f if line.strip()]
            files += sum(1 for a in acts if "remove" in a)
            rewritten += sum(a["add"]["size"] for a in acts if "add" in a)
        p = "sources.delta_writer."
        q = "sources.delta_reader."
        return {
            p + "append_s": _span_sum(t, first, p + "append"),
            p + "upsert_s": _span_sum(t, first, p + "upsert"),
            p + "delete_s": _span_sum(t, first, p + "delete"),
            p + "optimize_s": _span_sum(t, first, p + "optimize"),
            p + "files_rewritten": float(files),
            p + "bytes_rewritten": float(rewritten),
            q + "snapshot_s": _span_sum(t, first, q + "snapshot"),
            q + "read_latest_s": _span_sum(t, first, q + "read_latest"),
            q + "time_travel_s": _span_sum(t, first, q + "time_travel"),
            q + "files_scanned": _span_sum(t, first, q + "read_latest", "sql.Scan.number of files read")
            + _span_sum(t, first, q + "time_travel", "sql.Scan.number of files read"),
        }

    def storage(self) -> tuple[int, int]:
        return dir_bytes(self.table), self.model.payload_bytes()


# ================================================================ composite


class IngestMutations(Workload):
    """An ``image_ingest`` round then a ``table_mutations`` round in
    every round, in one session: the benchmark's second gated workload
    (see README for why these two share one)."""

    name = "ingest_mutations"

    def __init__(self, spark, tracer, rng):
        super().__init__(spark, tracer, rng)
        self.parts = [
            ImageIngest(spark, tracer, rng),
            TableMutations(spark, tracer, rng),
        ]

    @property
    def calls(self) -> int:
        return sum(p.calls for p in self.parts)

    def prepare(self, d: str) -> None:
        for p in self.parts:
            p.prepare(os.path.join(d, p.name))

    def round(self, r: int, warm: bool = False) -> Round:
        rs = [p.round(r, warm) for p in self.parts]
        return Round(
            sum(x.items for x in rs),
            sum(x.write_s for x in rs),
            sum(x.read_s for x in rs),
            [c for x in rs for c in x.checks],
            {k: v for x in rs for k, v in x.layer.items()},
            parts={p.name: (x.write_s, x.read_s) for p, x in zip(self.parts, rs)},
        )

    def finish(self) -> list[tuple[str, bool]]:
        return [c for p in self.parts for c in p.finish()]

    def storage(self) -> tuple[int, int]:
        sizes = [p.storage() for p in self.parts]
        return sum(b for b, _ in sizes), sum(p for _, p in sizes)


WORKLOADS = {
    w.name: w
    for w in (ImageIngest, NearDupSearch, TableMutations, IngestMutations)
}
