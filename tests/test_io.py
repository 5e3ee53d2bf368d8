"""Sources/sinks: JSON auto-loader, row-id minting, row ranges,
parquet cache guard (C5), partitioned artifact store (S6)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from datas_spark.io.sinks import parquet_cache, write_json, write_parquet
from datas_spark.io.sources import read_json_auto, row_range, with_row_id


def test_read_json_auto_array_and_jsonl(spark, tmp_path):
    rows = [{"a": 1, "b": "x"}, {"a": 2, "b": "y"}]
    arr = tmp_path / "d.json"
    arr.write_text(json.dumps(rows))
    jl = tmp_path / "d.jsonl"
    jl.write_text("\n".join(json.dumps(r) for r in rows))
    assert read_json_auto(spark, str(arr)).count() == 2
    assert read_json_auto(spark, str(jl)).count() == 2


def test_with_row_id_dense_and_deterministic(spark):
    df = spark.createDataFrame([(30,), (10,), (20,)], "k int")
    got = {r.k: r.row_id for r in with_row_id(df, "k").collect()}
    assert got == {10: 0, 20: 1, 30: 2}


def test_row_range_semantics(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], "k int")
    assert row_range(df, 0, -1).count() == 10            # end=-1 -> all
    assert sorted(r.k for r in row_range(df, 0, 3, "k").collect()) == [0, 1, 2]
    assert sorted(r.k for r in row_range(df, 7, -1, "k").collect()) == [7, 8, 9]
    assert sorted(r.k for r in row_range(df, 2, 4, "k").collect()) == [2, 3]
    with pytest.raises(ValueError, match="order_by"):
        row_range(df, 2, 4)


def test_parquet_cache_skip_if_exists(spark, tmp_path):
    path = str(tmp_path / "cache")
    df1 = spark.range(5).withColumn("v", F.lit("first"))
    got1 = parquet_cache(spark, df1, path)
    assert got1.count() == 5
    # second call with DIFFERENT data must hit the cache, not recompute
    df2 = spark.range(99).withColumn("v", F.lit("second"))
    got2 = parquet_cache(spark, df2, path)
    assert got2.count() == 5
    assert got2.select("v").first().v == "first"
    # recompute=True refreshes
    got3 = parquet_cache(spark, df2, path, recompute=True)
    assert got3.count() == 99


def test_partitioned_artifact_store(spark, tmp_path):
    path = str(tmp_path / "artifacts")
    df = spark.createDataFrame(
        [("llama", 1, 0.5), ("llama", 2, 0.7), ("yi", 1, 0.9)],
        "model string, row_id int, score double",
    )
    write_parquet(df, path, partition_by=["model"])
    assert os.path.isdir(os.path.join(path, "model=llama"))
    # partition pruning: reading one model touches only its directory
    got = spark.read.parquet(path).where("model = 'yi'")
    assert got.count() == 1


def test_write_json_single_file(spark, tmp_path):
    path = str(tmp_path / "out")
    write_json(spark.range(3), path, single_file=True)
    parts = [f for f in os.listdir(path) if f.startswith("part-")]
    assert len(parts) == 1


def test_tsne_gated_on_sklearn(spark):
    from datas_spark.operators.clustering import tsne_viz

    df = spark.createDataFrame([([0.1, 0.2],)], "v array<double>")
    try:
        import sklearn  # noqa: F401

        pytest.skip("sklearn installed; gate not exercised")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError, match="scikit-learn"):
        tsne_viz(df, "v")
