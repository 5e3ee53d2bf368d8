"""Structured Streaming operators run against file sources with
``trigger(availableNow=True)`` and compared to their batch twins — one
set of expression semantics, two execution modes (SURVEY §2.9)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from datas_spark.streaming.scoring import enrich_stream, join_streams, sessionize

SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double, props string"
)


@pytest.fixture(scope="module")
def event_dir(tmp_path_factory):
    path = tmp_path_factory.mktemp("events")
    rows = []
    for i in range(40):
        rows.append(
            {
                "event_id": i,
                # two users; 30s apart, with a >5min session gap at i==20
                "ts": f"2024-01-01T00:{(i % 20) * 2:02d}:{(i // 20) * 30:02d}",
                "user_id": i % 2,
                "event_type": ["click", "view"][i % 2],
                "value": float(i),
                "props": "{}",
            }
        )
    # a redelivered event: sessions count every row they receive
    rows.append(dict(rows[0]))
    with open(os.path.join(path, "part-0.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return str(path)


def _run_stream(spark, sdf, name, mode="append"):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_sessionize_gap_semantics(spark, event_dir):
    stream = sessionize(
        spark.readStream.schema(SCHEMA).json(event_dir), gap="5 minutes"
    )
    rows = _run_stream(spark, stream, "sessions", mode="complete").collect()
    # 2 users x 20 events each at 4-minute spacing within a user: the
    # 30s-shifted second half keeps gaps < 5min -> ONE session per user
    # (user 0 carries the duplicated event: 21)
    assert {(r.user_id, r.n_events) for r in rows} == {(0, 21), (1, 20)}
    # session_window end = last event + gap
    for r in rows:
        assert (r.session_end - r.session_start).total_seconds() > 0


def test_enrich_stream_static_join_matches_batch(spark, event_dir):
    dim = spark.createDataFrame(
        [(0, "gold"), (1, "silver")], "user_id long, tier string"
    )
    stream = enrich_stream(
        spark.readStream.schema(SCHEMA).json(event_dir), dim, "user_id"
    )
    got = _run_stream(spark, stream, "enriched_events").collect()
    batch_src = spark.read.schema(SCHEMA).json(event_dir)
    batch = enrich_stream(batch_src, dim, "user_id").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, batch))
    assert all(r.tier in ("gold", "silver") for r in got)


def test_stream_stream_attribution_join_matches_batch(spark, tmp_path):
    src_dir = tmp_path / "attrib_events"
    src_dir.mkdir()
    rows = []
    for i in range(40):
        rows.append(
            {
                "event_id": i,
                "ts": f"2024-01-01T00:{i:02d}:00",
                "user_id": i % 3,
                "event_type": ["click", "view"][(i // 3) % 2],
                "value": float(i),
                "props": "{}",
            }
        )
    with open(src_dir / "part-0.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    s = spark.readStream.schema(SCHEMA).json(str(src_dir))
    got = _run_stream(
        spark,
        join_streams(
            s.where(F.col("event_type") == "click"),
            s.where(F.col("event_type") == "view"),
            max_gap="10 minutes",
        ),
        "attributed",
    ).collect()
    batch_src = spark.read.schema(SCHEMA).json(str(src_dir))
    batch = join_streams(
        batch_src.where(F.col("event_type") == "click"),
        batch_src.where(F.col("event_type") == "view"),
        max_gap="10 minutes",
    ).collect()
    assert len(batch) > 0
    assert sorted(map(tuple, got)) == sorted(map(tuple, batch))


def test_enrich_stream_with_components_artifact(spark, tmp_path, monkeypatch):
    """The round-5 artifact store works as a streaming dimension: a doc
    stream joins the persisted (node, component) parquet map-side and
    every micro-batch row carries its near-dup component label."""
    from datas_spark.operators import artifacts as ART

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "art"))
    comp = ART.components_artifact(
        spark, "/root/testdata/sf0.001", "jaccard"
    ).withColumnRenamed("node", "doc_id")

    src = tmp_path / "es_src"
    src.mkdir()
    some_node = comp.first()
    with open(src / "a.json", "w") as f:
        f.write(json.dumps({"doc_id": int(some_node["doc_id"])}) + "\n")
        f.write(json.dumps({"doc_id": 10**9}) + "\n")  # unknown doc
    stream = spark.readStream.schema("doc_id bigint").json(str(src))
    out = _run_stream(
        spark, enrich_stream(stream, comp, "doc_id"), "artifact_enriched"
    ).collect()
    by_id = {r.doc_id: r.component for r in out}
    assert by_id[some_node["doc_id"]] == some_node["component"]
    assert by_id[10**9] is None  # left join: unknown docs pass through
