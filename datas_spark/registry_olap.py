"""Classic OLAP analytics batch (round 3): windowed/sessionized event analytics, simhash flagship, media dups.

Consolidated from the former numeric registry batches 10 (round-5 cleanup; query
names unchanged). Each section below keeps its original batch
docstring for provenance."""
from __future__ import annotations

# ==================================================================
# former registry10.py
# ==================================================================

r"""Query registry, batch 10 (round 3): classic OLAP analytics over the
TPC-H-shaped tables — the scan-aggregate, join-order, and top-k shapes
a general engine must plan well at 100 TB (SURVEY §2.9: joins and
aggregations are absent from the reference; this is the north-star OLAP
surface exercising lineitem, the biggest table, with broadcast dims and
AQE-planned fact joins).

Imported by datas_spark.registry for its side effects (registrations).
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from datas_spark.io.sources import read_table
from datas_spark.registry_core import register


@register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity::DECIMAL(18,2)) AS sum_qty,
           sum(l_extendedprice::DECIMAL(18,2)) AS sum_base_price,
           sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,6)) AS sum_disc_price,
           sum((l_extendedprice * (1 - l_discount) * (1 + l_tax))::DECIMAL(18,6))
             AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape — the canonical scan-heavy pricing summary over
    the biggest table: ONE pass, map-side partial aggregation into a
    handful of (returnflag, linestatus) groups, shipdate predicate
    pushed to the parquet scan. Money sums in DECIMAL so engines agree
    exactly; averages rounded at the boundary. At 100 TB this query IS
    the scan throughput benchmark."""
    li = read_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp")
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("sum_base_price"),
        F.sum(disc.cast("decimal(18,6)")).alias("sum_disc_price"),
        F.sum((disc * (1 + F.col("l_tax"))).cast("decimal(18,6)")).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "regional_revenue",
    oracle="""
    SELECT n.n_name AS nation,
           sum((l.l_extendedprice * (1 - l.l_discount))::DECIMAL(18,6)) AS revenue
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
                   AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= DATE '1996-01-01'
      AND o.o_orderdate < DATE '1998-01-01'
    GROUP BY n.n_name
    """,
)
def q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape — the 6-table join-order test: local-supplier
    revenue per nation for one region and a two-year window. Dimension
    chain (region → nation) broadcasts; customer/supplier are
    AQE-sized; the lineitem ⋈ orders fact join shuffles on the order
    key with both date filters pushed below it. DECIMAL revenue keeps
    engines exact."""
    region = read_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = read_table(spark, sf_dir, "nation")
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    lineitem = read_table(spark, sf_dir, "lineitem")
    supplier = read_table(spark, sf_dir, "supplier")
    joined = (
        customer.join(broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(
            broadcast(region), nation.n_regionkey == region.r_regionkey
        )
        .join(orders, orders.o_custkey == customer.c_custkey)
        .join(lineitem, lineitem.l_orderkey == orders.o_orderkey)
        .join(
            supplier,
            (supplier.s_suppkey == lineitem.l_suppkey)
            & (supplier.s_nationkey == customer.c_nationkey),
        )
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.groupBy(F.col("n_name").alias("nation")).agg(
        F.sum(rev.cast("decimal(18,6)")).alias("revenue")
    )


@register(
    "top_unshipped_orders",
    oracle="""
    SELECT l.l_orderkey,
           sum((l.l_extendedprice * (1 - l.l_discount))::DECIMAL(18,6)) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < DATE '1998-01-01'
      AND l.l_shipdate > DATE '1998-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
    """,
)
def q_top_unshipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape — shipping-priority top-k: orders taken before
    the date whose items shipped after it, ranked by outstanding
    revenue. Both date predicates push into their scans BEFORE the fact
    join; the limit runs as TakeOrderedAndProject (each task ships its
    local 10, no global sort). Deterministic tie-break on the order
    key."""
    customer = read_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = read_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    lineitem = read_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        customer.join(orders, orders.o_custkey == customer.c_custkey)
        .join(lineitem, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev.cast("decimal(18,6)")).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# datas_full_pipeline_deterministic — the flagship §3.1 flow with the
# one non-SQL stage (MLlib KMeans) swapped for hyperplane sign-bucket
# clustering, making the ENTIRE reference dataflow hash-checkable:
# pseudo-alpaca projection → proxy embedding → bucket "cluster" →
# proxy perplexity confidence → per-cluster percentile band → stride
# sample. The KMeans flagship (datas_full_pipeline / entry()) keeps the
# adaptive quantizer; this twin proves the COMPOSITION.
# ---------------------------------------------------------------------------

def _flagship_oracle() -> str:
    from datas_spark.functions import text as T
    from datas_spark.operators.similarity import random_hyperplanes

    unit = "(('0x' || substr(md5({key}), 1, 8))::BIGINT / 4294967296.0)"
    comps = ", ".join(
        f"({unit.format(key=f'''instruction || '#emb{i}' ''')} - 0.5)::FLOAT"
        for i in range(8)
    )
    planes = random_hyperplanes(8, 3, 42)
    bits = " + ".join(
        "(CASE WHEN ("
        + " + ".join(f"e[{j + 1}]::DOUBLE * {x!r}" for j, x in enumerate(plane))
        + f") >= 0 THEN {1 << i} ELSE 0 END)::BIGINT"
        for i, plane in enumerate(planes)
    )
    prefix = T.PROMPT_NO_INPUT.split("{instruction}")[0]
    prompt = f"'{prefix}' || instruction || '\n\n### Response:'"
    return f"""
    WITH pseudo AS (
      SELECT doc_id, substr(text, 1, 80) AS instruction FROM documents
    ), emb AS (
      SELECT doc_id, instruction, [{comps}] AS e FROM pseudo
    ), clustered AS (
      SELECT doc_id, instruction, ({bits}) AS cluster FROM emb
    ), conf AS (
      SELECT doc_id, cluster,
             1.0 + 99.0 * {unit.format(key=prompt)} AS conf
      FROM clustered
    ), stats AS (
      SELECT cluster, count(*) AS cnt,
             quantile_cont(conf, 0.25) AS lo, quantile_cont(conf, 0.75) AS hi
      FROM conf GROUP BY cluster
    ), band AS (
      SELECT c.* FROM conf c JOIN stats s USING (cluster)
      WHERE s.cnt < 5 OR (c.conf >= s.lo AND c.conf <= s.hi)
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY cluster ORDER BY doc_id) AS rn,
             count(*) OVER (PARTITION BY cluster) AS m
      FROM band
    ), strided AS (
      SELECT *, row_number() OVER (PARTITION BY cluster ORDER BY rn) AS k
      FROM ranked WHERE (rn - 1) % greatest(m // 5, 1) = 0
    )
    SELECT doc_id, cluster, round(conf, 6) AS conf FROM strided WHERE k <= 5
    """


@register("datas_full_pipeline_deterministic", oracle=_flagship_oracle())
def q_datas_full_pipeline_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ENTIRE main.py flow (SURVEY §3.1), hash-checked:
    pseudo-alpaca projection → proxy embedding (F1) → hyperplane
    sign-bucket clustering standing in for KMeans (F2 — deterministic,
    SQL-expressible; the adaptive-quantizer flagship stays rows-only as
    entry()) → proxy prompt-perplexity confidence (P5) → per-cluster
    percentile-band filter + stride sample (A1+A2). One lazy plan,
    every stage reproduced in the composed oracle."""
    from datas_spark.operators import clustering as C
    from datas_spark.operators import scoring as SC
    from datas_spark.operators import selection as S
    from datas_spark.operators.similarity import (
        hyperplane_signature,
        random_hyperplanes,
    )

    docs = read_table(spark, sf_dir, "documents")
    pseudo = docs.select(
        "doc_id",
        F.substring("text", 1, 80).alias("instruction"),
        F.lit("").alias("input"),
    )
    emb = C.embedding_proxy(pseudo, "instruction", dim=8)
    clustered = hyperplane_signature(
        emb, "emb_ins_alone", random_hyperplanes(8, 3, 42)
    ).withColumnRenamed("bucket", "cluster")
    scored = SC.perplexity_scorer_proxy(clustered)
    selected = S.middle_confidence_sample(
        scored, "cluster", "ppl_ins_alone", "doc_id", n=5
    )
    return selected.select(
        "doc_id", "cluster", F.round("ppl_ins_alone", 6).alias("conf")
    )


@register(
    "nation_market_share",
    oracle="""
    WITH rev AS (
      SELECT n.n_name AS nation, year(o.o_orderdate) AS order_year,
             sum((l.l_extendedprice * (1 - l.l_discount))::DECIMAL(18,6)) AS revenue
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    )
    SELECT nation, order_year, revenue,
           round((revenue / sum(revenue) OVER (PARTITION BY order_year))::DOUBLE, 6)
             AS market_share
    FROM rev
    """,
)
def q_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — window over an aggregate: each nation's share
    of yearly revenue. The expensive part (fact join + DECIMAL revenue
    rollup) reduces to |nations|x|years| rows FIRST; the share window
    then runs over that tiny frame — windows belong above aggregates,
    never on raw fact rows."""
    from pyspark.sql import Window

    lineitem = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    rev = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("order_year"),
        )
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            ).alias("revenue")
        )
    )
    w = Window.partitionBy("order_year")
    return rev.withColumn(
        "market_share",
        F.round((F.col("revenue") / F.sum("revenue").over(w)).cast("double"), 6),
    )


def _simhash_near_dup_oracle(
    bits: int = 60, capped: bool = False, cap_literal: int | None = None
) -> str:
    from datas_spark.registry_scoring import _simhash_oracle

    width = bits // 4
    mask = (1 << width) - 1
    nb = 1 << width
    if capped or cap_literal is not None:
        # the bucket cap, replayed exactly: either the corpus-scaled
        # auto formula (16x uniform expected occupancy clamped to
        # [1024, 2048], dedup.py _auto_cap_expr) or an explicit literal
        # — hot buckets drop out of candidate generation
        # the cap CTE must be ONE row: the auto form aggregates s, the
        # literal form selects a constant (a bare FROM s would fan the
        # ok-filter's counts by |docs|)
        cap_cte = (
            f"SELECT {int(cap_literal)} AS cap"
            if cap_literal is not None
            else f"SELECT greatest(1024, least(2048, "
                 f"16 * ((count(*) + {nb - 1}) // {nb}))) AS cap FROM s"
        )
        cap_ctes = f""",
    cap AS (
      {cap_cte}
    ), ok AS (
      SELECT band, bval FROM bb, cap GROUP BY band, bval, cap.cap
      HAVING count(*) <= cap.cap
    )"""
        bucket_src = "bb a JOIN ok ON ok.band = a.band AND ok.bval = a.bval"
    else:
        cap_ctes = ""
        bucket_src = "bb a"
    return f"""
    WITH s AS ({_simhash_oracle(bits)}),
    bb AS (
      SELECT doc_id, simhash, band,
             (simhash >> (band * {width})) & {mask} AS bval
      FROM s, unnest(range(0, 4)) AS u(band)
    ){cap_ctes}, cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.simhash AS sa, b.simhash AS sb
      FROM {bucket_src} JOIN bb b
        ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, bit_count(xor(sa, sb))::INT AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= 3
    """


@register("simhash_near_dup", oracle=_simhash_near_dup_oracle(capped=True))
def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming <= 3), banded 4x15 bits over a
    60-BIT signature: by pigeonhole a pair within distance 3 always
    shares an intact band, so the equi-join banding has COMPLETE recall
    — exact near-dup detection at n*bands shuffle keys, no cross join.

    The 15-bit bands are the scale config: 32,768 values per band
    (vs 256 for the 4x8 split of a 32-bit signature), so expected
    bucket occupancy — and the quadratic in-bucket candidate count —
    drops ~128x at the same corpus size. 60 bits, not 64, because the
    md5-prefix token hash must round-trip through signed int64 on both
    engines.

    Round-8 (VERDICT r7 #1): the corpus-scaled bucket cap is wired in
    (``max_bucket_size="auto"``, a lazy in-plan 1-row count — cap
    clamp(16 * expected occupancy, 1024, 2048)). Occupancy grows
    linearly with corpus size and in-bucket candidates quadratically,
    so uncapped the flagship was the suite's one remaining 100x
    scale-killer. The floor is chosen so sf0.01/sf0.1/sf1 outputs are
    bit-identical to the uncapped run (measured max occupancy 321 at
    sf1 vs floor 1024); the DuckDB oracle replays the cap exactly, so
    the query stays hash-green even at scales where the cap binds.
    The recall trade of the dropped buckets is measured by
    ``simhash_cap_agreement``."""
    from datas_spark.operators import dedup as D

    docs = read_table(spark, sf_dir, "documents")
    return D.simhash_near_dup_pairs(
        docs, "doc_id", "text", bits=60, bands=4, max_hamming=3,
        max_bucket_size="auto",
    )


def _simhash_cap_agreement_oracle() -> str:
    from datas_spark.registry_scoring import _simhash_oracle

    return f"""
    WITH s AS ({_simhash_oracle(60)}),
    bb AS (
      SELECT doc_id, simhash, band,
             (simhash >> (band * 15)) & 32767 AS bval
      FROM s, unnest(range(0, 4)) AS u(band)
    ), bc AS (
      SELECT band, bval, count(*) AS c FROM bb GROUP BY 1, 2
    ), cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             max(CASE WHEN bc.c <= 64 THEN 1 ELSE 0 END) AS in_capped
      FROM bb a
      JOIN bb b ON a.band = b.band AND a.bval = b.bval
                AND a.doc_id < b.doc_id
      JOIN bc ON bc.band = a.band AND bc.bval = a.bval
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
      GROUP BY 1, 2
    ), hot AS (
      SELECT count(*) AS n_buckets_hot FROM bc WHERE c > 64
    ), agg AS (
      SELECT coalesce(sum(in_capped), 0)::BIGINT AS pairs_both,
             coalesce(sum(1 - in_capped), 0)::BIGINT AS pairs_only_uncapped
      FROM cand
    )
    SELECT hot.n_buckets_hot, agg.pairs_both, agg.pairs_only_uncapped,
           round(100.0 * pairs_both /
                 nullif(pairs_both + pairs_only_uncapped, 0), 6)
             AS recall_pct
    FROM agg, hot
    """


@register("simhash_cap_agreement", oracle=_simhash_cap_agreement_oracle())
def q_simhash_cap_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucket cap's recall trade as a measured query (VERDICT r7 #1
    done-criterion): a 1-row Venn of near-dup pairs reachable under a
    DELIBERATELY tight cap (64 — the production auto-cap floor of 1024
    never binds at test scales, so the trade would measure a boring
    zero) vs the uncapped twin, plus the hot-bucket count. A pair
    survives capping iff ANY of its shared band buckets is under the
    cap — the pigeonhole argument degrades gracefully, and this query
    prices exactly how gracefully on the current corpus."""
    from datas_spark.operators import dedup as D

    docs = read_table(spark, sf_dir, "documents")
    sig = D.simhash(docs, "text", 60).select("doc_id", "simhash")
    return D.hamming_cap_agreement(
        sig, "doc_id", "simhash", bits=60, bands=4, max_hamming=3,
        max_bucket_size=64,
    )


@register(
    "simhash_near_dup_cap64",
    oracle=_simhash_near_dup_oracle(cap_literal=64),
)
def q_simhash_near_dup_cap64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship with a DELIBERATELY tight explicit cap (64): at
    sf0.1 several band buckets exceed it (measured occupancy up to
    260), so this twin hash-proves the capped SEMANTICS at a scale
    where dropping actually happens — the flagship's auto floor (1024)
    never binds at driver scales, so without this twin the cap replay
    in the oracle would only ever be exercised as a no-op. Recall
    difference vs the uncapped flagship is priced by
    `simhash_cap_agreement` (same cap)."""
    from datas_spark.operators import dedup as D

    docs = read_table(spark, sf_dir, "documents")
    return D.simhash_near_dup_pairs(
        docs, "doc_id", "text", bits=60, bands=4, max_hamming=3,
        max_bucket_size=64,
    )


@register("simhash_near_dup32", oracle=_simhash_near_dup_oracle(32))
def q_simhash_near_dup32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The narrow-signature variant (32-bit, 4x8-bit bands) — higher
    recall on short texts at quadratically higher bucket occupancy;
    kept as the oracle-checked twin of the pre-scale-fix flagship."""
    from datas_spark.operators import dedup as D

    docs = read_table(spark, sf_dir, "documents")
    return D.simhash_near_dup_pairs(
        docs, "doc_id", "text", bits=32, bands=4, max_hamming=3
    )


@register(
    "top_returned_customers",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name AS nation,
           sum((l.l_extendedprice * (1 - l.l_discount))::DECIMAL(18,6)) AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= DATE '1996-01-01'
      AND o.o_orderdate < DATE '1997-01-01'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, c_custkey ASC LIMIT 20
    """,
)
def q_top_returned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape — returned-item revenue: the 20 customers who
    returned the most value in one year. The returnflag predicate
    pushes into the lineitem scan (dictionary-encoded column — cheap
    skip at the parquet level), the nation dim broadcasts, the limit
    runs as TakeOrderedAndProject."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    lineitem = read_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    )
    nation = read_table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        customer.join(orders, orders.o_custkey == customer.c_custkey)
        .join(lineitem, lineitem.l_orderkey == orders.o_orderkey)
        .join(broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(F.sum(rev.cast("decimal(18,6)")).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


# Synthetic media with PLANTED cross-container duplicates: consecutive
# doc pairs share the payload text (doc 2k and 2k+1 carry doc 2k's
# text) while the container magic differs by doc_id % 3 — so payload
# dedup must merge across containers and exact dedup must not.
_MEDIA_DUP_SQL = """
      SELECT d.doc_id AS media_id,
        unhex(CASE WHEN d.doc_id % 3 = 0 THEN '89504E47'
                   WHEN d.doc_id % 3 = 1 THEN 'FFD8' ELSE '' END
              || hex(encode(b.text))) AS content
      FROM documents d
      JOIN documents b ON b.doc_id = d.doc_id - (d.doc_id % 2)
"""


def _synth_media_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.select(
        (F.col("doc_id")).alias("__bid"), F.col("text").alias("__btext")
    )
    paired = docs.join(
        base, (F.col("doc_id") - F.col("doc_id") % 2) == F.col("__bid")
    )
    magic = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("89504E47"))
        .when(F.col("doc_id") % 3 == 1, F.lit("FFD8"))
        .otherwise(F.lit(""))
    )
    content = F.unhex(F.concat(magic, F.hex(F.encode(F.col("__btext"), "utf-8"))))
    return paired.select(F.col("doc_id").alias("media_id"), content.alias("content"))


@register(
    "media_exact_dedup",
    oracle=f"""
    WITH m AS ({_MEDIA_DUP_SQL})
    SELECT media_id FROM (
      SELECT media_id, row_number() OVER (
        PARTITION BY hex(content) ORDER BY media_id) AS rn
      FROM m
    ) WHERE rn = 1
    """,
)
def q_media_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed media dedup (full-byte identity): the planted
    same-payload pairs survive when their containers differ — exact
    dedup must NOT merge across containers."""
    from datas_spark.operators import multimodal as MM

    media = _synth_media_dups(spark, sf_dir)
    return MM.media_exact_dedup(media, "content", "media_id").select("media_id")


@register(
    "media_payload_dedup",
    oracle=f"""
    WITH m AS ({_MEDIA_DUP_SQL}), p AS (
      SELECT media_id,
        CASE WHEN hex(content) LIKE '89504E47%' THEN substr(hex(content), 9)
             WHEN hex(content) LIKE 'FFD8%' THEN substr(hex(content), 5)
             ELSE hex(content) END AS payload
      FROM m
    )
    SELECT media_id FROM (
      SELECT media_id, row_number() OVER (
        PARTITION BY payload ORDER BY media_id) AS rn
      FROM p
    ) WHERE rn = 1
    """,
)
def q_media_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container-insensitive media dedup: magic bytes stripped before
    hashing, so the planted same-payload/different-container pairs
    merge (first media_id wins) — roughly half the rows of
    media_exact_dedup survive."""
    from datas_spark.operators import multimodal as MM

    media = _synth_media_dups(spark, sf_dir)
    return MM.media_payload_dedup(media, "content", "media_id").select("media_id")


# Conversations with PLANTED repost duplicates: even conversation ids
# carry the previous even id's turns with punctuation/casing noise, so
# normalized conversation dedup must merge them.
def _synth_conv_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    base = docs.select(
        F.col("doc_id").alias("__bid"),
        F.col("text").alias("__btext"),
        F.col("lang").alias("__blang"),
    )
    paired = docs.join(
        base, (F.col("doc_id") - F.col("doc_id") % 2) == F.col("__bid")
    )
    # the "repost" (odd ids) uppercases and appends punctuation — gone
    # under normalization
    h1 = F.when(
        F.col("doc_id") % 2 == 1, F.upper(F.substring("__btext", 1, 40))
    ).otherwise(F.substring("__btext", 1, 40))
    a1 = F.when(
        F.col("doc_id") % 2 == 1, F.concat(F.col("__blang"), F.lit("!!"))
    ).otherwise(F.col("__blang"))
    return paired.select(
        F.col("doc_id").alias("conversation_id"),
        F.array(
            F.struct(h1.alias("human"), a1.alias("assistant")),
            F.struct(
                F.substring("__btext", 41, 40).alias("human"),
                F.lit("ok").alias("assistant"),
            ),
        ).alias("conversation"),
    )


_CONV_NORM = (
    r"trim(regexp_replace(regexp_replace(lower({t}), '[^\w\s]', '', 'g'),"
    r" '\s+', ' ', 'g'))"
)

_CONV_TEXT_SQL = """
      (CASE WHEN d.doc_id % 2 = 1 THEN upper(substr(b.text, 1, 40))
            ELSE substr(b.text, 1, 40) END)
      || ' ' ||
      (CASE WHEN d.doc_id % 2 = 1 THEN b.lang || '!!' ELSE b.lang END)
      || ' ' || substr(b.text, 41, 40) || ' ok'
"""


@register(
    "conversation_dedup",
    oracle=f"""
    WITH m AS (
      SELECT d.doc_id AS doc_id, {_CONV_TEXT_SQL} AS flat
      FROM documents d
      JOIN documents b ON b.doc_id = d.doc_id - (d.doc_id % 2)
    )
    SELECT doc_id AS conversation_id FROM (
      SELECT doc_id, row_number() OVER (
        PARTITION BY {_CONV_NORM.format(t='flat')} ORDER BY doc_id) AS rn
      FROM m
    ) WHERE rn = 1
    """,
)
def q_conversation_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-conversation dedup on normalized flattened turns: the
    planted reposts (odd ids — uppercased, punctuation appended) merge
    with their originals, first conversation_id wins — half the corpus
    survives."""
    from datas_spark.operators import conversations as CV

    conv = _synth_conv_dups(spark, sf_dir)
    return CV.conversation_dedup(conv, "conversation", "conversation_id").select(
        "conversation_id"
    )


@register(
    "conversation_stats",
    oracle=f"""
    WITH m AS (
      SELECT d.doc_id,
        CASE WHEN d.doc_id % 2 = 1 THEN upper(substr(b.text, 1, 40))
             ELSE substr(b.text, 1, 40) END AS h1,
        CASE WHEN d.doc_id % 2 = 1 THEN b.lang || '!!' ELSE b.lang END AS a1,
        substr(b.text, 41, 40) AS h2
      FROM documents d
      JOIN documents b ON b.doc_id = d.doc_id - (d.doc_id % 2)
    )
    SELECT doc_id AS conversation_id,
           2::BIGINT AS n_turns,
           (length(h1) + length(h2))::BIGINT AS human_chars,
           (length(a1) + 2)::BIGINT AS assistant_chars,
           round((length(h1) + length(h2)) / 2.0, 4) AS avg_human_chars
    FROM m
    """,
)
def q_conversation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation shape stats (turn count, per-side char mass,
    mean human-turn length) — the multi-turn curation filter inputs,
    pure map-only array folds."""
    from datas_spark.operators import conversations as CV

    conv = _synth_conv_dups(spark, sf_dir)
    return CV.conversation_stats(conv, "conversation", "conversation_id")


@register(
    "orders_priority_pivot",
    oracle="""
    SELECT year(o_orderdate) AS order_year,
           sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
             AS n_urgent,
           sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END)
             AS n_high,
           sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END)
             AS n_medium,
           sum(CASE WHEN o_orderpriority NOT IN
                    ('1-URGENT', '2-HIGH', '3-MEDIUM') THEN 1 ELSE 0 END)
             AS n_other
    FROM orders GROUP BY 1
    """,
)
def q_orders_priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide pivot of order counts by priority per year — the
    cross-tab report shape. An EXPLICIT pivot value list (Spark's
    ``pivot(col, values)``), never the value-discovery form: at 100 TB
    the two-pass distinct scan pivot(col) needs is a full extra read,
    and an unbounded value set is a schema hazard anyway. Unlisted
    priorities fold into n_other."""
    orders = read_table(spark, sf_dir, "orders")
    known = ["1-URGENT", "2-HIGH", "3-MEDIUM"]
    tagged = orders.select(
        F.year("o_orderdate").alias("order_year"),
        F.when(F.col("o_orderpriority").isin(known), F.col("o_orderpriority"))
        .otherwise(F.lit("OTHER"))
        .alias("prio"),
    )
    wide = (
        tagged.groupBy("order_year")
        .pivot("prio", known + ["OTHER"])
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "order_year",
        F.coalesce("1-URGENT", F.lit(0)).alias("n_urgent"),
        F.coalesce("2-HIGH", F.lit(0)).alias("n_high"),
        F.coalesce("3-MEDIUM", F.lit(0)).alias("n_medium"),
        F.coalesce("OTHER", F.lit(0)).alias("n_other"),
    )


@register(
    "churned_customers",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment FROM customer c
    WHERE c.c_custkey IN (
      SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    ) AND c.c_custkey NOT IN (
      SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
    )
    """,
)
def q_churned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-difference churn: customers active in 1996 with no 1997
    order — semi-join minus anti-join on the pre-aggregated distinct
    key sets (the EXCEPT shape without materializing wide rows; both
    probe sides reduce to bare keys before any join)."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    y96 = orders.where(F.year("o_orderdate") == 1996).select(
        F.col("o_custkey").alias("c_custkey")
    )
    y97 = orders.where(F.year("o_orderdate") == 1997).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return (
        customer.join(y96, "c_custkey", "left_semi")
        .join(y97, "c_custkey", "left_anti")
        .select("c_custkey", "c_mktsegment")
    )


@register(
    "sql_interface_revenue",
    oracle="""
    SELECT n.n_name AS nation, count(DISTINCT o.o_custkey) AS n_customers,
           sum(o.o_totalprice::DECIMAL(18,2)) AS total_spend
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q_sql_interface_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine through the SQL door: tables registered as temp views
    and the query written in ANSI SQL via spark.sql — Catalyst compiles
    it to the identical plan the DataFrame API builds (broadcast dim,
    partial aggregates), proving a SQL-only user gets the same engine.
    """
    for t in ("orders", "customer", "nation"):
        read_table(spark, sf_dir, t).createOrReplaceTempView(f"v_{t}")
    return spark.sql(
        """
        SELECT n.n_name AS nation,
               count(DISTINCT o.o_custkey) AS n_customers,
               sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS total_spend
        FROM v_orders o
        JOIN v_customer c ON o.o_custkey = c.c_custkey
        JOIN v_nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
        """
    )


@register(
    "priority_counts_long",
    oracle="""
    SELECT year(o_orderdate) AS order_year,
           CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
                THEN o_orderpriority ELSE 'OTHER' END AS priority,
           count(*) AS n
    FROM orders GROUP BY 1, 2
    """,
)
def q_priority_counts_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot → unpivot roundtrip in one plan: the wide cross-tab from
    orders_priority_pivot melts back to long (year, priority, n) via
    df.unpivot — proving both reshaping APIs against the plain
    GROUP BY oracle. Zero-count cells introduced by the pivot are
    dropped on the way back (the long form never had them)."""
    orders = read_table(spark, sf_dir, "orders")
    known = ["1-URGENT", "2-HIGH", "3-MEDIUM"]
    tagged = orders.select(
        F.year("o_orderdate").alias("order_year"),
        F.when(F.col("o_orderpriority").isin(known), F.col("o_orderpriority"))
        .otherwise(F.lit("OTHER"))
        .alias("prio"),
    )
    wide = (
        tagged.groupBy("order_year")
        .pivot("prio", known + ["OTHER"])
        .agg(F.count(F.lit(1)))
    )
    long = wide.unpivot(
        ids=["order_year"],
        values=known + ["OTHER"],
        variableColumnName="priority",
        valueColumnName="n",
    )
    return long.where(F.col("n").isNotNull()).select(
        "order_year", "priority", F.col("n").cast("long").alias("n")
    )


# ---------------------------------------------------------------------------
# Curation recipe with the banded MinHash near-dup backend (VERDICT r3 #6):
# the cheap LSH pair generator composed INTO the flagship pipeline, the
# whole chain (exact dedup -> LSH pairs -> connected components -> longest-
# doc election -> split) hash-checked as one composition.
# ---------------------------------------------------------------------------

def _curate_minhash_oracle(
    num_hashes: int = 16, bands: int = 4, shingle_n: int = 3, thr: float = 0.5
) -> str:
    from datas_spark.operators import dedup as D
    from datas_spark.oracle_shared import minhash_oracle as _minhash_oracle
    from datas_spark.registry_curation import _MD5_UNIT_SQL, _NORM_SQL

    rows = num_hashes // bands
    sig_cte = _minhash_oracle(num_hashes, shingle_n).strip()
    band_selects = "\n      UNION ALL ".join(
        f"SELECT s.doc_id, s.minhash, {b} AS band, "
        f"md5(array_to_string(s.minhash[{b * rows + 1}:{b * rows + rows}], ',')) AS bucket "
        f"FROM sig s JOIN ded USING (doc_id) WHERE s.minhash[1] < {D.MINHASH_P}"
        for b in range(bands)
    )
    return rf"""
    WITH RECURSIVE ded AS (
      SELECT doc_id FROM (
        SELECT d.doc_id, row_number() OVER (
          PARTITION BY md5({_NORM_SQL.format(t='d.text')})
          ORDER BY d.doc_id) AS rn
        FROM documents d
      ) WHERE rn = 1
    ), sig AS ({sig_cte}),
    banded AS (
      {band_selects}
    ), cand AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
             l.minhash AS ma, r.minhash AS mb
      FROM banded l JOIN banded r
        ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
    ), pairs AS (
      SELECT id_a, id_b FROM cand
      WHERE list_sum(list_transform(range(1, {num_hashes} + 1),
            i -> CASE WHEN ma[i] = mb[i] THEN 1 ELSE 0 END))::DOUBLE
            / {num_hashes} >= {thr}
    ), e AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), reach(node, r) AS (
      SELECT a, a FROM e
      UNION
      SELECT e.a, reach.r FROM e JOIN reach ON reach.node = e.b
    ), comp AS (
      SELECT node, min(r) AS component FROM reach GROUP BY node
    ), labeled AS (
      SELECT d.doc_id, length(d.text) AS ln,
             coalesce(comp.component, d.doc_id) AS component
      FROM documents d JOIN ded USING (doc_id)
      LEFT JOIN comp ON d.doc_id = comp.node
    ), best AS (
      SELECT component, doc_id AS keep_id,
             row_number() OVER (PARTITION BY component
                                ORDER BY ln DESC, doc_id ASC) AS rn
      FROM labeled
    )
    SELECT l.doc_id, l.component,
           CASE WHEN {_MD5_UNIT_SQL.format(key="l.doc_id::VARCHAR")} < 0.9
                THEN 'train' ELSE 'test' END AS split
    FROM labeled l
    JOIN best b ON l.component = b.component AND b.rn = 1
               AND b.keep_id = l.doc_id
    """


@register("curate_corpus_minhash", oracle=_curate_minhash_oracle())
def q_curate_corpus_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation recipe with ``near_dup_method="minhash"`` — banded
    LSH candidate pairs (estimated Jaccard >= 0.5) instead of exact
    n-gram Jaccard feeding the same connected-components + longest-doc
    election, then the deterministic split. The oracle chains every
    stage's proven CTE in recipe order, so the backend swap is
    hash-checked as a composition, not just as pieces."""
    from datas_spark.pipeline.curate import curate_corpus

    docs = read_table(spark, sf_dir, "documents")
    out = curate_corpus(
        docs.select("doc_id", "text"),
        max_dup_token_frac=1.0,
        max_top_bigram_frac=1.0,
        near_dup_threshold=0.5,
        near_dup_method="minhash",
        split_weights={"train": 0.9, "test": 0.1},
    )
    return out.select("doc_id", "component", "split")


# ---------------------------------------------------------------------------
# round 6: 2-D skyline (Pareto frontier, no O(n^2) dominance join)
# ---------------------------------------------------------------------------

@register(
    "part_skyline",
    oracle="""
    SELECT p.p_partkey, p.p_size, p.p_retailprice
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_size >= p.p_size AND q.p_retailprice <= p.p_retailprice
        AND (q.p_size > p.p_size OR q.p_retailprice < p.p_retailprice)
    )
    """,
)
def q_part_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline over parts — biggest size at the lowest price, no
    dominated row: the multi-criteria shortlist operator. The oracle is
    the O(n²) NOT-EXISTS dominance definition; the engine runs the
    sorted-sweep identity (one grouped min + suffix-min window over the
    ≤|sizes| aggregate rows + broadcast pair filter) — the soundness of
    the sweep rewrite is exactly what the hash check proves."""
    from datas_spark.operators.selection import skyline_2d

    part = read_table(spark, sf_dir, "part").select(
        "p_partkey", "p_size", "p_retailprice"
    )
    return skyline_2d(part, "p_size", "p_retailprice")
