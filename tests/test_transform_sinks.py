"""Tests for the batch transform operator (U4), layout sinks (R1/R3/S6/S8),
Bernoulli sample (SA2), and DDL helpers (S5)."""

import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from computer_vision_foundations_spark.operators.split import bernoulli_sample
from computer_vision_foundations_spark.operators.transform import (
    TRAINING_BATCH_SCHEMA,
    default_transform,
    to_training_batches,
)
from computer_vision_foundations_spark.sources.sinks import (
    cache_for_training,
    dataset_bytes,
    repartition_for,
    to_pandas,
    write_row_grouped_parquet,
)
from computer_vision_foundations_spark.sources.tables import (
    create_database,
    drop_database,
)


@pytest.fixture()
def content_df(spark):
    rows = [
        (f"/img/{i}.jpg", bytes([i % 251] * 64) + b"payload%d" % i, i % 2)
        for i in range(20)
    ]
    return spark.createDataFrame(rows, "path string, content binary, label int")


def test_to_training_batches_schema_and_values(content_df):
    out = to_training_batches(content_df.select("content", "label"))
    assert out.schema == TRAINING_BATCH_SCHEMA
    rows = out.collect()
    assert len(rows) == 20
    for r in rows:
        assert r.shape == [len(r.features)]
        assert all(0.0 <= f <= 1.0 for f in r.features)
        assert r.label in (0.0, 1.0)


def test_to_training_batches_deterministic(content_df):
    a = to_training_batches(content_df.select("content", "label")).collect()
    b = to_training_batches(content_df.select("content", "label")).collect()
    key = lambda r: tuple(r.features)
    assert sorted(a, key=key) == sorted(b, key=key)


def test_to_training_batches_custom_fn(content_df):
    import pandas as pd

    def fn(batch: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"n": batch["content"].str.len().astype("int64")})

    out = to_training_batches(content_df, transform_fn=fn, schema="n long")
    lens = sorted(r.n for r in out.collect())
    assert len(lens) == 20 and all(n > 64 for n in lens)


def test_default_transform_missing_label():
    import pandas as pd

    batch = pd.DataFrame({"content": [b"abc", b"defg"]})
    out = default_transform(batch)
    assert list(out.columns) == ["features", "shape", "label"]
    assert (out["label"] == 0.0).all()


def test_bernoulli_sample_seeded_and_bounded(spark):
    df = spark.range(10_000)
    s1 = bernoulli_sample(df, 0.1, seed=7)
    s2 = bernoulli_sample(df, 0.1, seed=7)
    ids1 = sorted(r.id for r in s1.collect())
    ids2 = sorted(r.id for r in s2.collect())
    assert ids1 == ids2  # seeded → deterministic
    assert 700 < len(ids1) < 1300  # ~10%


def test_repartition_for(content_df):
    out = repartition_for(content_df, 7)
    assert out.rdd.getNumPartitions() == 7


def test_dataset_bytes(spark):
    df = spark.createDataFrame(
        [("ab", b"1234"), ("c", b"56")], "path string, content binary"
    )
    assert dataset_bytes(df) == 2 + 4 + 1 + 2
    assert dataset_bytes(df.select("path"), ("content",)) == 0
    nums = spark.createDataFrame([(7, 1.5), (1234, None)], "id long, x double")
    assert dataset_bytes(nums, ("id", "x")) == 1 + 4 + 3


def test_dataset_bytes_nested_columns(spark, tmp_path):
    """Array/map/struct columns get their string rendering's length
    instead of the ``length()`` type error, so the default row-group
    sizing of ``cache_for_training`` works on embedding tables."""
    df = spark.createDataFrame(
        [(1, [0.25, 1.0], {"a": 1}, ("x", 2))],
        "vec_id long, embedding array<double>, m map<string,int>,"
        " s struct<t:string,n:int>",
    )
    # "1" + "[0.25, 1.0]" + "{a -> 1}" + "{x, 2}"
    assert dataset_bytes(df, tuple(df.columns)) == 1 + 11 + 8 + 6
    cache = cache_for_training(df.select("vec_id", "embedding"), str(tmp_path / "c"))
    back = cache.read(spark).collect()
    assert [(r.vec_id, r.embedding) for r in back] == [(1, [0.25, 1.0])]


def test_write_row_grouped_parquet_roundtrip(content_df, tmp_path):
    path = str(tmp_path / "cache")
    used = write_row_grouped_parquet(content_df, path, parallelism=4)
    assert used >= 64 * 1024
    back = content_df.sparkSession.read.parquet(path)
    assert back.count() == 20
    assert set(back.columns) == {"path", "content", "label"}


def test_write_row_grouped_parquet_row_group_size(spark, tmp_path):
    # A big frame with a small explicit row-group size must produce
    # multiple row groups inside a single file.
    df = spark.range(50_000).coalesce(1).withColumn(
        "pad", F.repeat(F.lit("x"), 100)
    )
    path = str(tmp_path / "rg")
    write_row_grouped_parquet(df, path, parallelism=1, row_group_bytes=256 * 1024)
    files = [f for f in (tmp_path / "rg").iterdir() if f.suffix == ".parquet"]
    assert files
    assert max(pq.ParquetFile(str(f)).num_row_groups for f in files) > 1


def test_cache_for_training_lifecycle(content_df, tmp_path):
    path = str(tmp_path / "train_cache")
    cache = cache_for_training(content_df, path)
    assert cache.read(content_df.sparkSession).count() == 20
    cache.delete()
    import os

    assert not os.path.exists(path)


def test_to_pandas_limit(content_df):
    pdf = to_pandas(content_df.select("path", "label"), limit=5)
    assert len(pdf) == 5
    assert list(pdf.columns) == ["path", "label"]


def test_create_drop_database(spark, tmp_path):
    name = "cv_test_db"
    create_database(spark, name, location=str(tmp_path / "db"), drop_first=True)
    dbs = {r.namespace for r in spark.sql("SHOW DATABASES").collect()}
    assert name in dbs
    # idempotent
    create_database(spark, name)
    drop_database(spark, name)
    dbs = {r.namespace for r in spark.sql("SHOW DATABASES").collect()}
    assert name not in dbs


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """R-family capstone: two tables bucketed on the same key/count
    join with NO Exchange in the physical plan — the co-located-join
    lever for 100 TB fact-fact joins."""
    from computer_vision_foundations_spark.sources.sinks import (
        write_bucketed_table,
    )

    left = spark.range(0, 1000).withColumn("v", F.col("id") * 2)
    right = spark.range(0, 1000).withColumn("w", F.col("id") % 7)
    write_bucketed_table(left, "bk_left", ("id",), 4, sort_cols=("id",))
    write_bucketed_table(right, "bk_right", ("id",), 4, sort_cols=("id",))
    # tiny fixtures would take the broadcast path (which ignores
    # bucketing); force the sort-merge plan the helper exists for
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bk_left").join(spark.table("bk_right"), "id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan, plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bk_left")
        spark.sql("DROP TABLE IF EXISTS bk_right")


def test_compact_parquet_dir(spark, tmp_path):
    import os

    from computer_vision_foundations_spark.sources.sinks import (
        compact_parquet_dir,
    )

    path = str(tmp_path / "frag")
    # fragment: 40 tiny files
    spark.range(0, 4000).repartition(40).write.parquet(path)
    n_before = sum(
        1 for f in os.listdir(path) if f.endswith(".parquet")
    )
    assert n_before >= 40
    n_after = compact_parquet_dir(spark, path, target_file_bytes=10**9)
    assert n_after == 1
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(files) == 1
    # data intact
    assert spark.read.parquet(path).count() == 4000
    assert not os.path.exists(path + ".compact.tmp")
    assert not os.path.exists(path + ".compact.old")


def test_compact_parquet_dir_partitioned(spark, tmp_path):
    from pyspark.sql import functions as F

    from computer_vision_foundations_spark.sources.sinks import (
        compact_parquet_dir,
    )

    path = str(tmp_path / "part")
    df = spark.range(0, 1000).withColumn("p", (F.col("id") % 3).cast("int"))
    df.repartition(20).write.partitionBy("p").parquet(path)
    compact_parquet_dir(spark, path, target_file_bytes=10**9, partition_by=("p",))
    out = spark.read.parquet(path)
    assert out.count() == 1000
    assert {r.p for r in out.select("p").distinct().collect()} == {0, 1, 2}


def test_stratified_hash_sample_fractions_and_purity(spark):
    from computer_vision_foundations_spark.operators.split import (
        stratified_hash_sample,
    )

    rows = [(i, "A" if i % 2 == 0 else "B") for i in range(2000)]
    df = spark.createDataFrame(rows, ["id", "lab"])
    out = stratified_hash_sample(
        df, "lab", {"A": 0.1, "B": 0.6}, "id", seed=3
    )
    got = {r["lab"]: 0 for r in out.select("lab").distinct().collect()}
    counts = {
        r["lab"]: r["n"]
        for r in out.groupBy("lab").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # fraction targets within a loose binomial band (1000 per stratum)
    assert 60 <= counts["A"] <= 160
    assert 510 <= counts["B"] <= 690
    # purity: repartitioning does not change the row set
    a = {tuple(r) for r in out.collect()}
    b = {
        tuple(r)
        for r in stratified_hash_sample(
            df.repartition(13), "lab", {"A": 0.1, "B": 0.6}, "id", seed=3
        ).collect()
    }
    assert a == b
    # strata not in fractions are dropped
    df2 = spark.createDataFrame([(1, "C")], ["id", "lab"])
    assert (
        stratified_hash_sample(df2, "lab", {"A": 0.5}, "id").count() == 0
    )


def test_cms_and_bloom_shard_merge(spark):
    """Count-min counters ADD across shards; bloom bits OR across
    shards - both merges must equal the single-pass sketch."""
    from functools import reduce

    from computer_vision_foundations_spark.functions.sketches import (
        bloom_bits,
        count_min_registers,
    )

    df = spark.createDataFrame(
        [(i % 4, f"t{i % 50}") for i in range(400)], ["shard", "term"]
    )
    # CMS: per-shard register tables summed == direct registers
    direct = {
        (r["row"], r["slot"]): r["cnt"]
        for r in count_min_registers(df, "term", d=2, w=64).collect()
    }
    parts = [
        count_min_registers(df.where(F.col("shard") == s), "term", d=2, w=64)
        for s in range(4)
    ]
    merged_df = reduce(lambda a, b: a.unionByName(b), parts)
    merged = {
        (r["row"], r["slot"]): r["cnt"]
        for r in merged_df.groupBy("row", "slot")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    }
    assert merged == direct
    # Bloom: OR of per-shard bit sets == direct bit set
    direct_bits = {
        r["bit"] for r in bloom_bits(df, "term", m=512, k=3).collect()
    }
    shard_bits = set()
    for s in range(4):
        shard_bits |= {
            r["bit"]
            for r in bloom_bits(
                df.where(F.col("shard") == s), "term", m=512, k=3
            ).collect()
        }
    assert shard_bits == direct_bits
