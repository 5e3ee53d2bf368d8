"""Query registry: every implemented operator from SURVEY.md §2 exposed
as a named (spark, sf_dir) -> DataFrame callable plus a matching DuckDB
oracle SQL string (the driver's correctness gate — __spark_entry__.py).

Column-name / type discipline: the driver sorts columns by name and
hash-compares values, so every computed column is aliased identically
on both sides and cast to a stable type (bigint for counts/lengths,
double rounded where float math crosses row boundaries).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datas_spark.functions import arrays as A
from datas_spark.functions import text as T
from datas_spark.io.sources import read_table, row_range
from datas_spark.operators import dedup as D
from datas_spark.operators import selection as S
from datas_spark.operators import similarity as SIM
from datas_spark.operators import taskvector as TV

# the tables and decorator live in the LEAF module registry_core so
# every batch can import them without re-entering this chain; this
# module remains the aggregation point (import it to get ALL queries)
from datas_spark.registry_core import ORACLES, QUERIES, QueryFn, register  # noqa: F401,E402


# ---------------------------------------------------------------------------
# §2.2 P1/P2 — length scores
# ---------------------------------------------------------------------------

@register(
    "length_score",
    oracle="""
    SELECT doc_id, length(text)::BIGINT AS score_lenth
    FROM documents
    """,
)
def q_length_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2 (main_test_4_DataS.py:66-75, score_pipeline_lenth.py:35-38)."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select("doc_id", T.length_score("text").cast("long").alias("score_lenth"))


# ---------------------------------------------------------------------------
# §2.2 P3 — alpaca prompt templating
# ---------------------------------------------------------------------------

# real newlines inside SQL string literals are valid in DuckDB
_P3_ORACLE = f"""
    SELECT doc_id,
      CASE WHEN (CASE WHEN doc_id % 2 = 0 THEN '' ELSE lang END) = ''
        THEN '{T.PROMPT_NO_INPUT.split('{instruction}')[0]}' || substr(text, 1, 80)
             || '

### Response:'
        ELSE '{T.PROMPT_INPUT.split('{instruction}')[0]}' || substr(text, 1, 80)
             || '

### Input:
' || (CASE WHEN doc_id % 2 = 0 THEN '' ELSE lang END)
             || '

### Response:'
      END AS prompt
    FROM documents
"""


@register("prompt_template", oracle=_P3_ORACLE)
def q_prompt_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 (main.py:72-83,177-212): treat documents as pseudo-alpaca rows
    (instruction = text prefix; input empty for even doc_ids)."""
    docs = read_table(spark, sf_dir, "documents")
    instruction = F.substring("text", 1, 80)
    input_ = F.when(F.col("doc_id") % 2 == 0, F.lit("")).otherwise(F.col("lang"))
    return docs.select("doc_id", T.alpaca_prompt(instruction, input_).alias("prompt"))


# ---------------------------------------------------------------------------
# §2.1 S2 — row-range select
# ---------------------------------------------------------------------------

@register(
    "row_range_select",
    oracle="""
    SELECT doc_id, n_chars FROM (
      SELECT doc_id, n_chars, row_number() OVER (ORDER BY doc_id) - 1 AS rn
      FROM documents
    ) WHERE rn >= 100 AND rn < 200
    """,
)
def q_row_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 (main.py:157-159)."""
    docs = read_table(spark, sf_dir, "documents")
    return row_range(docs, 100, 200, order_by="doc_id").select("doc_id", "n_chars")


# ---------------------------------------------------------------------------
# §2.5 A1+A2 — percentile-band filter + stride sample (the flagship)
# ---------------------------------------------------------------------------

_BAND_N = 5

_BAND_ORACLE = f"""
    WITH conf AS (
      SELECT doc_id, lang AS cluster, n_chars AS conf FROM documents
    ), stats AS (
      SELECT cluster, count(*) AS cnt,
             quantile_cont(conf, 0.25) AS lo, quantile_cont(conf, 0.75) AS hi
      FROM conf GROUP BY cluster
    ), band AS (
      SELECT c.* FROM conf c JOIN stats s USING (cluster)
      WHERE s.cnt < {_BAND_N} OR (c.conf >= s.lo AND c.conf <= s.hi)
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY cluster ORDER BY doc_id) AS rn,
             count(*) OVER (PARTITION BY cluster) AS m
      FROM band
    ), strided AS (
      SELECT *, row_number() OVER (PARTITION BY cluster ORDER BY rn) AS k
      FROM ranked WHERE (rn - 1) % greatest(m // {_BAND_N}, 1) = 0
    )
    SELECT doc_id, cluster, conf FROM strided WHERE k <= {_BAND_N}
"""


@register("middle_band_select", oracle=_BAND_ORACLE)
def q_middle_band_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A2 (main.py:402-450): per-language percentile band on n_chars
    + even-stride top-5 — the DataS selection semantics on the
    documents table."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("lang").alias("cluster"), F.col("n_chars").alias("conf")
    )
    return S.middle_confidence_sample(
        docs, "cluster", "conf", "doc_id", n=_BAND_N
    ).select("doc_id", "cluster", "conf")


@register(
    "stride_skew_sample",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn,
             count(*) OVER () AS m
      FROM documents
    ), strided AS (
      SELECT doc_id, row_number() OVER (ORDER BY rn) AS k FROM ranked
      WHERE (rn - 1) % greatest(m // 20, 1) = 0
    )
    SELECT doc_id FROM strided WHERE k <= 20
    """,
)
def q_stride_skew_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 under pathological skew: EVERY row in one cluster (the
    worst case for a cluster-partitioned window — one task would sort
    the whole table). stride_sample_skew_resistant keeps the same
    semantics with no per-cluster window: range-repartition balances
    the giant cluster across tasks, per-cluster ranks are rebuilt from
    broadcast per-partition offsets. Oracle is the PLAIN stride SQL —
    proving output parity, not just plumbing."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.lit("all").alias("cluster")
    )
    return S.stride_sample_skew_resistant(docs, "cluster", "doc_id", 20).select("doc_id")


@register(
    "band_gather",
    oracle=f"""
    WITH conf AS (
      SELECT doc_id, lang AS cluster, n_chars AS conf FROM documents
    ), stats AS (
      SELECT cluster, count(*) AS cnt,
             quantile_cont(conf, 0.25) AS lo, quantile_cont(conf, 0.75) AS hi
      FROM conf GROUP BY cluster
    ), band AS (
      SELECT c.* FROM conf c JOIN stats s USING (cluster)
      WHERE s.cnt < {_BAND_N} OR (c.conf >= s.lo AND c.conf <= s.hi)
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY cluster ORDER BY doc_id) AS rn,
             count(*) OVER (PARTITION BY cluster) AS m
      FROM band
    ), strided AS (
      SELECT *, row_number() OVER (PARTITION BY cluster ORDER BY rn) AS k
      FROM ranked WHERE (rn - 1) % greatest(m // {_BAND_N}, 1) = 0
    )
    SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
    FROM documents d
    WHERE d.doc_id IN (SELECT doc_id FROM strided WHERE k <= {_BAND_N})
    """,
)
def q_band_gather(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 (main.py:461-471): gather selected ids back to full source rows
    via LEFT SEMI join."""
    docs = read_table(spark, sf_dir, "documents")
    conf = docs.select(
        "doc_id", F.col("lang").alias("cluster"), F.col("n_chars").alias("conf")
    )
    sel = S.middle_confidence_sample(conf, "cluster", "conf", "doc_id", n=_BAND_N)
    return S.gather_rows(docs, sel, "doc_id")


# ---------------------------------------------------------------------------
# §2.2 P7/P8 — IFD score math on (proxy) loss arrays
# ---------------------------------------------------------------------------

@register(
    "ifd_score",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
        list_transform(string_split_regex(trim(text), '\s+'),
                       w -> ((length(w)*7+3) % 11) / 10.0 + 0.1) AS loss_alone,
        list_transform(string_split_regex(trim(text), '\s+'),
                       w -> ((length(w)*5+1) % 11) / 10.0 + 0.05) AS loss_cond
      FROM documents
    ), m AS (
      SELECT doc_id,
        list_sum(loss_cond)::DOUBLE / len(loss_cond) AS mean_cond,
        list_sum(loss_alone)::DOUBLE / len(loss_alone) AS mean_alone
      FROM t WHERE len(loss_alone) > 0
    )
    SELECT doc_id, round(mean_cond / mean_alone, 6) AS score_ifd
    FROM m WHERE mean_cond / mean_alone <= 1.0
    """,
)
def q_ifd_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 (score_pipeline_ifd.py:120-219): IFD = mean(loss_cond)/
    mean(loss_alone), dropping rows with ratio > 1 — the reference's
    silent drop (:193-204) made explicit. Loss arrays here are
    deterministic per-token proxies (the real model scorer is a
    pandas_udf behind the Scorer protocol, SURVEY §5); the relational
    math downstream of the model is what this verifies."""
    docs = read_table(spark, sf_dir, "documents")
    # project each array before the next consumer: arr_mean references
    # its argument twice (fold + size), so feeding it the transform
    # EXPRESSION would tokenize+score every row twice per loss array —
    # bound column references make each stage compute once
    toks = docs.select("doc_id", T.word_tokens("text").alias("__toks"))
    losses = toks.select(
        "doc_id",
        F.transform(
            "__toks", lambda w: ((F.length(w) * 7 + 3) % 11) / F.lit(10.0) + 0.1
        ).alias("__la"),
        F.transform(
            "__toks", lambda w: ((F.length(w) * 5 + 1) % 11) / F.lit(10.0) + 0.05
        ).alias("__lc"),
    )
    means = losses.select(
        "doc_id",
        A.arr_mean("__la").alias("mean_alone"),
        A.arr_mean("__lc").alias("mean_cond"),
    )
    ratio = F.col("mean_cond") / F.col("mean_alone")
    keep = F.col("mean_alone").isNotNull() & (ratio <= 1.0)
    # the drop-filter rides through a generator, NOT a where() on the
    # derived ratio: predicate pushdown substitutes aliases, so a plain
    # filter above these projections re-inlines the whole tokenize+fold
    # tree ~4x into the pushed condition (HOFs are interpreted — no
    # codegen CSE rescues it; measured 2x slower). A filter on the
    # generator OUTPUT cannot push below the Generate, and explode_outer
    # (not explode) avoids InferFiltersFromGenerate cloning the
    # generator expression into a per-row filter.
    return (
        means.select(
            "doc_id",
            F.explode_outer(F.when(keep, F.array(F.round(ratio, 6)))).alias(
                "score_ifd"
            ),
        ).where(F.col("score_ifd").isNotNull())
    )


# ---------------------------------------------------------------------------
# north-star text analysis
# ---------------------------------------------------------------------------

@register(
    "token_count",
    oracle=r"""
    SELECT doc_id,
      len(list_filter(
        string_split_regex(trim(regexp_replace(lower(text), '([^\w\s])', ' \1 ', 'g')), '\s+'),
        t -> t != ''))::BIGINT AS n_tokens
    FROM documents
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return docs.select("doc_id", T.token_count("text").cast("long").alias("n_tokens"))


# moved to the LEAF oracle_shared module (circular-import fix: a test
# importing registry_similarity first would re-enter this module
# mid-chain); the alias keeps old imports working
from datas_spark.oracle_shared import LANG_ORACLE as _LANG_ORACLE  # noqa: E402


@register("language_id", oracle=_LANG_ORACLE)
def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return docs.select("doc_id", T.language_id("text").alias("lang_guess"))


@register(
    "quality_score",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, text,
        string_split_regex(trim(text), '\s+') AS toks,
        length(text) AS n,
        length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS n_punct
      FROM documents
    ), terms AS (
      SELECT doc_id,
        least(n / 500.0, 1.0) AS len_term,
        least((CASE WHEN len(toks) > 0
               THEN len(list_filter(toks, t -> lower(t) IN
                    ('the','and','of','to','a','in','is','it')))::DOUBLE / len(toks)
               ELSE 0.0 END) * 4.0, 1.0) AS stop_term,
        1.0 - least((CASE WHEN n > 0 THEN n_punct::DOUBLE / n ELSE 0.0 END) * 5.0, 1.0)
          AS punct_term
      FROM t
    )
    SELECT doc_id, round((len_term + stop_term + punct_term) / 3.0, 6) AS quality
    FROM terms
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return docs.select("doc_id", T.quality_score("text").alias("quality"))


@register(
    "doc_fingerprint",
    oracle=r"""
    SELECT doc_id,
      ('0x' || substr(md5(trim(regexp_replace(
          regexp_replace(lower(text), '[^\w\s]', '', 'g'), '\s+', ' ', 'g'))), 1, 14)
      )::BIGINT AS fp
    FROM documents
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return docs.select("doc_id", T.fingerprint("text").alias("fp"))


# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------

@register(
    "exact_dedup",
    oracle=r"""
    SELECT doc_id FROM (
      SELECT doc_id, row_number() OVER (
        PARTITION BY md5(trim(regexp_replace(
          regexp_replace(lower(text), '[^\w\s]', '', 'g'), '\s+', ' ', 'g')))
        ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return D.exact_dedup(docs, "text", "doc_id").select("doc_id")


# shared oracle builders live in the leaf module oracle_shared (so
# other batches can import them without re-entering this chain); the
# underscore aliases keep this module's internal naming stable
from datas_spark.oracle_shared import minhash_oracle as _minhash_oracle  # noqa: E402
from datas_spark.oracle_shared import (  # noqa: E402
    NEAR_DEDUP_RESOLVE_ORACLE as _NEAR_DEDUP_RESOLVE_ORACLE,
)


@register(
    "minhash_signature",
    oracle=f"""
    WITH sig AS ({_minhash_oracle().strip()})
    SELECT doc_id, array_to_string(minhash, ',') AS minhash_csv FROM sig
    """,
)
def q_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (16 perms over word-3-gram shingles) — the
    signature stage of MinHash+LSH near-dup (SURVEY §2.9).

    The signature array is projected to a CSV scalar for the driver's
    pandas canonicalizer (list cells are unhashable there); the values
    are the bit-exact md5-permutation minima either way."""
    docs = read_table(spark, sf_dir, "documents")
    sig = D.minhash_signature(docs, "text")
    return sig.select(
        "doc_id",
        F.concat_ws(
            ",", F.transform("minhash", lambda x: x.cast("string"))
        ).alias("minhash_csv"),
    )


@register(
    "ngram_jaccard_pairs",
    oracle=r"""
    WITH sh AS (
      SELECT doc_id,
        list_distinct(list_transform(
          range(1, greatest(len(string_split_regex(trim(text), '\s+')) - 2, 0) + 1),
          i -> array_to_string((string_split_regex(trim(text), '\s+'))[i:i+2], ' ')))
          AS grams
      FROM documents
    ), ex AS (
      SELECT doc_id, len(grams) AS n, unnest(grams) AS s FROM sh
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
             count(*) AS shared
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b,
           round(shared / (na + nb - shared), 6) AS jaccard
    FROM pairs WHERE shared / (na + nb - shared) >= 0.2
    """,
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.2)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))




@register("near_dedup_resolve", oracle=_NEAR_DEDUP_RESOLVE_ORACLE)
def q_near_dedup_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair generation is half of dedup; this resolves n-gram Jaccard
    pairs into keep/drop decisions via connected components (iterative
    min-label propagation; DuckDB twin is a recursive CTE)."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.2)
    return D.near_dedup_keep_first(docs, "doc_id", pairs).select(
        "doc_id", "component", "is_representative"
    )


@register("near_dedup_resolve_star", oracle=_NEAR_DEDUP_RESOLVE_ORACLE)
def q_near_dedup_resolve_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same resolution through the large-star/small-star connected-
    components path (O(log^2 n) rounds regardless of component
    diameter — the adversarial-graph flag). Identical labels, same
    recursive-CTE oracle row as near_dedup_resolve."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.2)
    return D.near_dedup_keep_first(
        docs, "doc_id", pairs, cc_algorithm="star"
    ).select("doc_id", "component", "is_representative")


# ---------------------------------------------------------------------------
# §2.6 active-learning strategies
# ---------------------------------------------------------------------------

@register(
    "least_confidence",
    oracle="""
    SELECT doc_id, n_chars AS conf FROM documents
    ORDER BY n_chars DESC, doc_id ASC LIMIT 20
    """,
)
def q_least_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2: top-k by confidence proxy (highest ppl first in the
    reference's setting) — TakeOrdered, no full sort."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").alias("conf")
    )
    return S.least_confidence_sampling(docs, "conf", 20, tiebreak="doc_id")


# ---------------------------------------------------------------------------
# events — tumbling-window aggregation
# ---------------------------------------------------------------------------

@register(
    "events_window_agg",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
           count(*) AS n_events, round(sum(value), 4) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q_events_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h window × event_type."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


# batch-2/3 registrations (scorer proxies, AL, clustering, task vectors,
# similarity, sessionization, conversations, multimodal) — imported for
# side effects.
from datas_spark import registry_scoring  # noqa: E402,F401  (isort: skip)
from datas_spark import registry_taskvector  # noqa: E402,F401  (isort: skip)
from datas_spark import registry_curation  # noqa: E402,F401  (isort: skip)
from datas_spark import registry_olap  # noqa: E402,F401  (isort: skip)
from datas_spark import registry_tpch  # noqa: E402,F401  (isort: skip)
from datas_spark import registry_similarity  # noqa: E402,F401  (isort: skip)
from datas_spark import registry_search  # noqa: E402,F401  (isort: skip)
from datas_spark import registry_sketches  # noqa: E402,F401  (isort: skip)
from datas_spark import registry_corpus  # noqa: E402,F401  (isort: skip)
from datas_spark import registry_events  # noqa: E402,F401  (isort: skip)
from datas_spark import registry_eval  # noqa: E402,F401  (isort: skip)
from datas_spark import registry_mlfeatures  # noqa: E402,F401  (isort: skip)
from datas_spark import registry_multimodal  # noqa: E402,F401  (isort: skip)
from datas_spark import registry_dedup  # noqa: E402,F401  (isort: skip)
from datas_spark import registry_cdc  # noqa: E402,F401  (isort: skip)
