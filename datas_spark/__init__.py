"""datas_spark — a PySpark-native data-quality scoring and subset-selection
engine with the capabilities of muyu42/DataS, re-expressed Spark-first.

The reference (see /root/reference, surveyed in SURVEY.md) is an eager,
single-process pipeline over (instruction, input, output) rows:

    load JSON → per-row scoring → model features (ppl/embedding) →
    KMeans clustering → per-cluster percentile-band filter →
    even-stride sampling → gather → write JSON

This package re-expresses those semantics as lazy DataFrame plans that
Catalyst optimizes:

- ``io``         — sources/sinks (JSON/JSONL/Parquet), row-id minting,
                   row-range selection (SURVEY §2.1)
- ``functions``  — column-expression library: array math, text scoring,
                   prompt templating (SURVEY §2.2)
- ``operators``  — selection/sampling analytics, dedup, similarity
                   search, task-vector algebra, clustering
                   (SURVEY §2.4–2.7 + north-star extensions)
- ``pipeline``   — scorer registry + pipeline runner (SURVEY §2.8)
- ``streaming``  — Structured Streaming sessions, enrichment and
                   attribution joins over event streams

Design stance (SURVEY §7): DataFrame-in/DataFrame-out transforms, no
custom Catalyst rules, model calls behind a Scorer protocol with
deterministic proxies, everything else pure ``pyspark.sql.functions``
so a DuckDB oracle can check it.
"""

__version__ = "0.1.0"

from datas_spark.session import get_spark  # noqa: F401
