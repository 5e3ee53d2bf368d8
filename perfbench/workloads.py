"""The benchmark pipelines, written against the package's public
functions.

Every pipeline takes ``call(layer, fn, *args, **kw)``. The untraced
runner (`direct`) just calls ``fn``; the traced runner
(`attribution.Tracer.call`) wraps it in a span, tags its Spark jobs with the
layer and forces its output. Pipeline glue (a semi-join after a stats
operator, a filter on an operator's flag) runs inside the span of the
operator it belongs to, so every job of a traced pass lands in a layer.

The ``dedup_lexical`` workload runs `pipeline.curate.curate_corpus` when
untraced; its traced twin calls the same operator functions in the
same order as `curate_corpus` does for the same knobs, so both produce
the same rows (the runner checks the digests match).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datas_spark.io import sinks, sources
from datas_spark.operators import clustering, corpus, dedup, scoring, selection
from datas_spark.pipeline.curate import curate_corpus

from gen import Shape

Call = Callable[..., object]

# the registered-query knobs the oracles replay (registry_taskvector
# `datas_full_pipeline`, registry_curation `curate_corpus`,
# curate_corpus_full's near-dup threshold)
FLAGSHIP_K, FLAGSHIP_ROUNDS, FLAGSHIP_DIM, FLAGSHIP_N = 5, 3, 8, 5
LEX = dict(
    max_dup_token_frac=0.9,
    max_top_bigram_frac=0.9,
    near_dup_threshold=0.2,
    temperature=2.0,
    split_weights={"train": 0.9, "test": 0.1},
)
BENCH_IDS = 20  # docs with doc_id < 20 are the contamination benchmark


def direct(layer: str, fn: Callable, *args, **kw):
    return fn(*args, **kw)


# ---------------------------------------------------------------- select


def select(spark: SparkSession, data: str, out: str, call: Call = direct) -> None:
    """DataS selection: IFD model scoring through the pandas_udf
    boundary (drops ratio > 1), proxy embedding, Lloyd KMeans, proxy
    perplexity confidence, middle-band stride sample, gather; the kept
    rows plus their IFD score go to JSON."""
    docs = call("io.sources", sources.read_table, spark, data, "documents")
    pseudo = docs.select(
        "doc_id",
        F.substring("text", 1, 80).alias("instruction"),
        F.lit("").alias("input"),
        F.substring("text", 81, 60).alias("output"),
    )
    scored = call("operators.scoring", scoring.ifd_model_scorer, pseudo)
    emb = call(
        "operators.clustering",
        clustering.embedding_proxy,
        scored.select("doc_id", "instruction", "input", "score_ifd"),
        "instruction",
        dim=FLAGSHIP_DIM,
    )
    asg, _ = call(
        "operators.clustering",
        clustering.kmeans_lloyd,
        emb,
        "doc_id",
        "emb_ins_alone",
        k=FLAGSHIP_K,
        n_rounds=FLAGSHIP_ROUNDS,
        carry_cols=["instruction", "input", "score_ifd"],
    )
    ppl = call("operators.scoring", scoring.perplexity_scorer_proxy, asg)
    sel = call(
        "operators.selection",
        selection.middle_confidence_sample,
        ppl,
        "cluster",
        "ppl_ins_alone",
        "doc_id",
        n=FLAGSHIP_N,
    )

    def gather(raw: DataFrame, chosen: DataFrame) -> DataFrame:
        rows = selection.gather_rows(raw, chosen, "doc_id")
        score = chosen.select("doc_id", F.round("score_ifd", 6).alias("score_ifd"))
        return rows.join(score, "doc_id")

    kept = call("operators.selection", gather, docs, sel)
    call("io.sinks", sinks.write_json, kept, out)


# --------------------------------------------------------- dedup_lexical


def dedup_lexical(spark: SparkSession, data: str, out: str) -> None:
    """`curate_corpus`: repetition filter, exact dedup, 3-gram Jaccard
    near-dup (keep the longest per component), decontamination against
    the doc_id < 20 slice, temperature rebalancing by lang, hash split;
    every survivor is written to parquet."""
    docs = sources.read_table(spark, data, "documents")
    kept = curate_corpus(
        docs, benchmark=docs.where(f"doc_id < {BENCH_IDS}"), domain_col="lang", **LEX
    )
    sinks.write_parquet(kept.drop("component"), out)


def _repetition_filter(df: DataFrame, max_dup: float, max_bigram: float) -> DataFrame:
    # the generator-guarded filter curate_corpus uses (see its comment)
    rep = corpus.repetition_stats(df, "doc_id", "text")
    cond = (F.col("dup_token_frac") <= max_dup) & (F.col("top_bigram_frac") <= max_bigram)
    keep = (
        rep.select("doc_id", F.explode_outer(F.when(cond, F.array(F.lit(1)))).alias("__k"))
        .where(F.col("__k").isNotNull())
        .select("doc_id")
    )
    return df.join(keep, "doc_id", "left_semi")


def _near_dup(df: DataFrame, threshold: float) -> DataFrame:
    pairs = dedup.ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=threshold)
    return (
        dedup.near_dedup_keep_best(
            df.withColumn("__len", F.length("text")), "doc_id", "__len", pairs
        )
        .where(F.col("is_representative") == 1)
        .drop("__len", "is_representative")
    )


def _decontaminate(df: DataFrame, bench: DataFrame) -> DataFrame:
    clean = (
        corpus.ngram_contamination(df, bench, "doc_id", "text", min_shared=5)
        .where(F.col("contaminated") == 0)
        .select("doc_id")
    )
    return df.join(clean, "doc_id", "left_semi")


def dedup_lexical_traced(spark: SparkSession, data: str, out: str, call: Call) -> None:
    docs = call("io.sources", sources.read_table, spark, data, "documents")
    bench = docs.where(f"doc_id < {BENCH_IDS}")
    kept = call(
        "operators.corpus",
        _repetition_filter,
        docs,
        LEX["max_dup_token_frac"],
        LEX["max_top_bigram_frac"],
    )
    kept = call("operators.dedup", dedup.exact_dedup, kept, "text", "doc_id")
    kept = call("operators.dedup", _near_dup, kept, LEX["near_dup_threshold"])
    kept = call("operators.corpus", _decontaminate, kept, bench)
    kept = call(
        "operators.corpus", corpus.temperature_sample, kept, "lang", "doc_id", LEX["temperature"]
    )
    kept = call("operators.corpus", corpus.hash_split, kept, "doc_id", LEX["split_weights"])
    call("io.sinks", sinks.write_parquet, kept.drop("component"), out)


# ------------------------------------------------------------- registry
# why each workload exists: perfbench/README.md and BENCHMARK.json


@dataclass(frozen=True)
class Workload:
    name: str
    shape: Shape  # timed size
    small: Shape  # oracle-checked size
    sink: str  # "json" | "parquet"
    run: Callable[[SparkSession, str, str], None]
    traced: Callable[[SparkSession, str, str, Call], None]


WORKLOADS = {
    w.name: w
    for w in (
        Workload("select", Shape(docs=2500, copies=2), Shape(docs=600), "json", select, select),
        Workload(
            "dedup_lexical",
            Shape(docs=5000),
            Shape(docs=500),
            "parquet",
            dedup_lexical,
            dedup_lexical_traced,
        ),
    )
}
