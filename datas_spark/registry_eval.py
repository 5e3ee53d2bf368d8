"""Evaluation metrics: AUC/lift/ECE, PRF1, nDCG, WOE, Benford, bootstrap CIs, concentration.

Consolidated from the former numeric registry batches 28, 40, 48, 51, 59, 65, 75 (round-5 cleanup; query
names unchanged). Each section below keeps its original batch
docstring for provenance."""
from __future__ import annotations

# ==================================================================
# former registry28.py
# ==================================================================

"""Registry batch 28 — categorical association and concentration:
chi-square independence between event type and hour-of-day, and the
top-1% revenue concentration share.

Exact-arithmetic discipline: contingency cells and marginals are
BIGINT; the chi-square and share statistics are per-row float
expressions over those integers (expected counts as ratios of doubles
— products of three marginals overflow int64 at scale).
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datas_spark.io.sources import read_table
from datas_spark.registry_core import register


@register(
    "events_type_hour_chi2",
    oracle="""
    WITH cells AS (
      SELECT event_type, (hour(ts) // 6)::INT AS hour_bucket,
             count(*)::BIGINT AS obs
      FROM events GROUP BY 1, 2
    ), rowm AS (
      SELECT event_type, sum(obs)::BIGINT AS row_tot FROM cells GROUP BY 1
    ), colm AS (
      SELECT hour_bucket, sum(obs)::BIGINT AS col_tot FROM cells GROUP BY 1
    ), grand AS (
      SELECT sum(obs)::BIGINT AS n FROM cells
    )
    SELECT round(sum(
             pow(c.obs::DOUBLE
                 - r.row_tot::DOUBLE * m.col_tot::DOUBLE / g.n::DOUBLE, 2)
             / (r.row_tot::DOUBLE * m.col_tot::DOUBLE / g.n::DOUBLE)), 6)
             AS chi2,
           ((count(DISTINCT c.event_type) - 1)
            * (count(DISTINCT c.hour_bucket) - 1))::BIGINT AS dof
    FROM cells c
    JOIN rowm r USING (event_type) JOIN colm m USING (hour_bucket)
    CROSS JOIN grand g
    """,
)
def q_events_type_hour_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between event type and
    6-hour time-of-day bucket: Σ (obs − exp)² / exp over the
    |types|×4 contingency table, with the degrees of freedom — the
    standard "is behavior time-dependent?" screen.

    The table and all marginals are exact BIGINT from ONE grouped pass;
    expected counts are computed as ratios of doubles (a row×col×grand
    integer product would overflow int64 at corpus scale). The final
    statistic sums ≤ |types|·4 per-cell terms in a single tiny
    aggregate; marginals broadcast."""
    ev = read_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", (F.hour("ts") / 6).cast("int").alias("hour_bucket")
    ).agg(F.count("*").cast("long").alias("obs"))
    rowm = cells.groupBy("event_type").agg(
        F.sum("obs").cast("long").alias("row_tot")
    )
    colm = cells.groupBy("hour_bucket").agg(
        F.sum("obs").cast("long").alias("col_tot")
    )
    grand = cells.agg(F.sum("obs").cast("long").alias("n"))
    exp = (
        F.col("row_tot").cast("double")
        * F.col("col_tot").cast("double")
        / F.col("n").cast("double")
    )
    return (
        cells.join(F.broadcast(rowm), "event_type")
        .join(F.broadcast(colm), "hour_bucket")
        .crossJoin(F.broadcast(grand))
        .agg(
            F.round(
                F.sum(F.pow(F.col("obs").cast("double") - exp, 2) / exp), 6
            ).alias("chi2"),
            (
                (F.count_distinct("event_type") - 1)
                * (F.count_distinct("hour_bucket") - 1)
            )
            .cast("long")
            .alias("dof"),
        )
    )


_CONC_Q = 0.99  # threshold quantile: "the top 1%"


@register(
    "revenue_concentration",
    oracle=f"""
    WITH per_cust AS (
      SELECT o_custkey, sum(o_totalprice::DECIMAL(18,2)) AS rev
      FROM orders GROUP BY o_custkey
    ), thr AS (
      SELECT round(quantile_cont(rev::DOUBLE, {_CONC_Q}), 6) AS t FROM per_cust
    )
    SELECT t.t AS threshold,
           count(*) FILTER (WHERE p.rev::DOUBLE >= t.t)::BIGINT AS top_customers,
           count(*)::BIGINT AS all_customers,
           round(sum(CASE WHEN p.rev::DOUBLE >= t.t THEN p.rev
                     ELSE 0::DECIMAL(18,2) END)::DOUBLE
                 / sum(p.rev)::DOUBLE * 100.0, 6) AS top_share_pct
    FROM per_cust p CROSS JOIN thr t
    GROUP BY t.t
    """,
)
def q_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration: what share of total revenue comes from
    customers at or above the p99 of per-customer revenue — the
    Pareto/whale metric, computed WITHOUT ranking customers (a global
    rank over per-customer rows funnels 10⁹ rows through one reducer
    at scale; the percentile threshold + conditional sum is one
    combinable aggregate each).

    Per-customer revenue is DECIMAL-exact; the threshold is the exact
    interpolated percentile rounded to 6 dp before the >= comparison,
    so the top-set membership is identical on both engines; both share
    sums stay DECIMAL (order-independent), divided once at the end."""
    orders = read_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    thr = per_cust.agg(
        F.round(F.percentile(F.col("rev").cast("double"), F.lit(_CONC_Q)), 6).alias(
            "t"
        )
    )
    revd = F.col("rev").cast("double")
    top = revd >= F.col("t")
    return (
        per_cust.crossJoin(F.broadcast(thr))
        .groupBy(F.col("t").alias("threshold"))
        .agg(
            F.count(F.when(top, 1)).cast("long").alias("top_customers"),
            F.count("*").cast("long").alias("all_customers"),
            F.round(
                F.sum(
                    F.when(top, F.col("rev")).otherwise(
                        F.lit(0).cast("decimal(18,2)")
                    )
                ).cast("double")
                / F.sum("rev").cast("double")
                * 100.0,
                6,
            ).alias("top_share_pct"),
        )
    )

# ==================================================================
# former registry40.py
# ==================================================================

"""Registry batch 40 — statistical screens: weight-of-evidence (WOE)
feature binning against a binary outcome, and the two-proportion
z-test (A/B experiment readout). Exact-integer contingency counts;
floats appear only in per-row final expressions.
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datas_spark.io.sources import read_table
from datas_spark.registry_core import register


@register(
    "value_band_woe",
    oracle="""
    WITH thr AS (
      SELECT round(quantile_cont(value, 0.25), 6) AS q1,
             round(quantile_cont(value, 0.50), 6) AS q2,
             round(quantile_cont(value, 0.75), 6) AS q3
      FROM events
    ), banded AS (
      SELECT CASE WHEN e.value <= t.q1 THEN 1
                  WHEN e.value <= t.q2 THEN 2
                  WHEN e.value <= t.q3 THEN 3
                  ELSE 4 END AS band,
             (e.event_type = 'error')::INT AS bad
      FROM events e CROSS JOIN thr t
    ), cells AS (
      SELECT band,
             count(*) FILTER (WHERE bad = 0)::BIGINT AS n_good,
             count(*) FILTER (WHERE bad = 1)::BIGINT AS n_bad
      FROM banded GROUP BY 1
    ), tot AS (
      SELECT sum(n_good)::BIGINT AS tg, sum(n_bad)::BIGINT AS tb FROM cells
    )
    SELECT c.band, c.n_good, c.n_bad,
           round(ln((c.n_good::DOUBLE / t.tg) / (c.n_bad::DOUBLE / t.tb)), 6)
             AS woe,
           round((c.n_good::DOUBLE / t.tg - c.n_bad::DOUBLE / t.tb)
                 * ln((c.n_good::DOUBLE / t.tg) / (c.n_bad::DOUBLE / t.tb)), 6)
             AS iv_term
    FROM cells c CROSS JOIN tot t
    """,
)
def q_value_band_woe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight of evidence of the event value against the 'error'
    outcome, by value quartile: WOE = ln(%good/%bad) per band plus the
    information-value term — the classic credit-scoring/feature-audit
    screen (does this feature separate the bad outcome at all?).

    Quartile thresholds come from ONE percentile buffer (rounded 6 dp
    before comparison → identical band membership on both engines),
    the contingency cells are exact BIGINT, and the two log
    expressions evaluate per band row."""
    ev = read_table(spark, sf_dir, "events")
    thr = ev.agg(
        *[
            F.round(F.percentile("value", F.lit(p)), 6).alias(f"q{i}")
            for i, p in ((1, 0.25), (2, 0.50), (3, 0.75))
        ]
    )
    band = (
        F.when(F.col("value") <= F.col("q1"), 1)
        .when(F.col("value") <= F.col("q2"), 2)
        .when(F.col("value") <= F.col("q3"), 3)
        .otherwise(4)
    )
    cells = (
        ev.crossJoin(F.broadcast(thr))
        .select(band.alias("band"), (F.col("event_type") == "error").alias("bad"))
        .groupBy("band")
        .agg(
            F.count(F.when(~F.col("bad"), 1)).cast("long").alias("n_good"),
            F.count(F.when(F.col("bad"), 1)).cast("long").alias("n_bad"),
        )
    )
    tot = cells.agg(
        F.sum("n_good").cast("long").alias("tg"),
        F.sum("n_bad").cast("long").alias("tb"),
    )
    pg = F.col("n_good").cast("double") / F.col("tg")
    pb = F.col("n_bad").cast("double") / F.col("tb")
    return cells.crossJoin(F.broadcast(tot)).select(
        "band",
        "n_good",
        "n_bad",
        F.round(F.log(pg / pb), 6).alias("woe"),
        F.round((pg - pb) * F.log(pg / pb), 6).alias("iv_term"),
    )


@register(
    "ab_conversion_ztest",
    oracle="""
    WITH assign AS (
      SELECT user_id, (user_id % 2)::INT AS grp,
             max(CASE WHEN event_type = 'purchase' AND value >= 900
                      THEN 1 ELSE 0 END)::INT AS converted
      FROM events GROUP BY 1
    ), arms AS (
      SELECT grp, count(*)::BIGINT AS n, sum(converted)::BIGINT AS conv
      FROM assign GROUP BY 1
    ), wide AS (
      SELECT max(CASE WHEN grp = 0 THEN n END)::BIGINT AS n_a,
             max(CASE WHEN grp = 0 THEN conv END)::BIGINT AS conv_a,
             max(CASE WHEN grp = 1 THEN n END)::BIGINT AS n_b,
             max(CASE WHEN grp = 1 THEN conv END)::BIGINT AS conv_b
      FROM arms
    )
    SELECT n_a, conv_a, n_b, conv_b,
           round(conv_a::DOUBLE / n_a, 6) AS rate_a,
           round(conv_b::DOUBLE / n_b, 6) AS rate_b,
           round(CASE WHEN (conv_a + conv_b) > 0
                      AND (conv_a + conv_b) < (n_a + n_b) THEN
             (conv_a::DOUBLE / n_a - conv_b::DOUBLE / n_b)
             / sqrt(((conv_a + conv_b)::DOUBLE / (n_a + n_b))
                    * (1 - (conv_a + conv_b)::DOUBLE / (n_a + n_b))
                    * (1.0 / n_a + 1.0 / n_b)) END, 6) AS z_score
    FROM wide
    """,
)
def q_ab_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on per-user conversion (did the user ever
    make a high-value purchase, value >= 900) between the user_id-parity
    arms — the A/B experiment readout, pooled-variance form. The z
    score is NULL when pooled conversion is degenerate (0% or 100% —
    zero pooled variance). Per-user conversion is ONE grouped
    max (each user counted once regardless of event count); the two
    arms reduce to a single wide row; everything after is per-row
    float on exact integers."""
    ev = read_table(spark, sf_dir, "events")
    assign = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") >= 900), 1
            ).otherwise(0)
        ).alias("converted")
    ).select((F.col("user_id") % 2).cast("int").alias("grp"), "converted")
    arms = assign.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("converted").cast("long").alias("conv"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("grp") == 0, F.col("n"))).cast("long").alias("n_a"),
        F.max(F.when(F.col("grp") == 0, F.col("conv"))).cast("long").alias("conv_a"),
        F.max(F.when(F.col("grp") == 1, F.col("n"))).cast("long").alias("n_b"),
        F.max(F.when(F.col("grp") == 1, F.col("conv"))).cast("long").alias("conv_b"),
    )
    ra = F.col("conv_a").cast("double") / F.col("n_a")
    rb = F.col("conv_b").cast("double") / F.col("n_b")
    pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    tot_conv = F.col("conv_a") + F.col("conv_b")
    tot_n = F.col("n_a") + F.col("n_b")
    z = F.when(
        (tot_conv > 0) & (tot_conv < tot_n),
        (ra - rb)
        / F.sqrt(pool * (1 - pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))),
    )
    return wide.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.round(ra, 6).alias("rate_a"),
        F.round(rb, 6).alias("rate_b"),
        F.round(z, 6).alias("z_score"),
    )

# ==================================================================
# former registry48.py
# ==================================================================

"""Registry batch 48 — data forensics: Benford first-digit conformance
of order totals (fabricated/synthesized financial data screams here)
and the dispersion index of hourly event volume (Poisson-or-bursty).
"""


import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datas_spark.io.sources import read_table
from datas_spark.registry_core import register

# Benford expected first-digit probabilities log10(1 + 1/d), as exact
# literals shared by both engines
_BENFORD = {d: math.log10(1 + 1 / d) for d in range(1, 10)}
_BENFORD_SQL = "CASE " + " ".join(
    f"WHEN digit = {d} THEN {p!r}::DOUBLE" for d, p in _BENFORD.items()
) + " END"


@register(
    "benford_first_digit",
    oracle=f"""
    WITH digits AS (
      SELECT substr(floor(o_totalprice)::BIGINT::VARCHAR, 1, 1)::INT
               AS digit
      FROM orders WHERE o_totalprice >= 1
    ), cells AS (
      SELECT digit, count(*)::BIGINT AS n FROM digits GROUP BY 1
    ), tot AS (
      SELECT sum(n)::BIGINT AS total FROM cells
    )
    SELECT c.digit, c.n,
           round(c.n::DOUBLE / t.total, 6) AS observed_p,
           round({_BENFORD_SQL}, 6) AS benford_p,
           round(pow(c.n::DOUBLE / t.total - {_BENFORD_SQL}, 2)
                 / {_BENFORD_SQL} * t.total, 6) AS chi2_term
    FROM cells c CROSS JOIN tot t
    """,
)
def q_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law conformance of order totals: observed vs expected
    first-digit shares with per-digit chi-square terms — the
    fabrication/forensics screen (organic financial magnitudes follow
    log10(1+1/d); generated or tampered ones usually don't, and the
    chi2 terms localize WHICH digits give it away).

    First digits come from the integer part's string form (exact —
    no float log10 of the value itself), cells and the total are
    BIGINT, and the Benford expectations are shared literal constants;
    one grouped count + a 9-row broadcast-total expression."""
    orders = read_table(spark, sf_dir, "orders")
    # explicit floor: DuckDB's ::BIGINT cast ROUNDS while Spark's
    # truncates — floor first so both engines read the same digit
    digit = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    ).cast("int")
    cells = (
        orders.where(F.col("o_totalprice") >= 1)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = cells.agg(F.sum("n").cast("long").alias("total"))
    expr = None
    for d, p in _BENFORD.items():
        expr = (
            F.when(F.col("digit") == d, F.lit(p))
            if expr is None
            else expr.when(F.col("digit") == d, F.lit(p))
        )
    bexp = expr
    obs = F.col("n").cast("double") / F.col("total")
    return cells.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        F.round(obs, 6).alias("observed_p"),
        F.round(bexp, 6).alias("benford_p"),
        F.round(F.pow(obs - bexp, 2) / bexp * F.col("total"), 6).alias(
            "chi2_term"
        ),
    )


@register(
    "events_dispersion_index",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h, count(*)::BIGINT AS n
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, count(*)::BIGINT AS n_hours,
           round(sum(n)::DOUBLE / count(*), 6) AS mean_per_hour,
           round((sum(n * n)::DOUBLE - sum(n)::DOUBLE * sum(n) / count(*))
                 / (count(*) - 1)
                 / (sum(n)::DOUBLE / count(*)), 6) AS dispersion_index
    FROM hourly GROUP BY event_type HAVING count(*) >= 2
    """,
)
def q_events_dispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dispersion index (variance/mean of hourly counts) per event
    type: ≈1 means Poisson-like arrivals; ≫1 means bursty/clumped
    traffic (bot storms, batch uploads) — the one-number companion to
    the rolling anomaly detector. Exact integer moments over the
    hourly aggregate; sample variance; one float division per type."""
    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    cnt = F.count(F.lit(1))
    sn = F.sum("n")
    snn = F.sum(F.col("n") * F.col("n"))
    mean = sn.cast("double") / cnt
    var = (snn.cast("double") - sn.cast("double") * sn / cnt) / (cnt - 1)
    return (
        hourly.groupBy("event_type")
        .agg(
            cnt.cast("long").alias("n_hours"),
            F.round(mean, 6).alias("mean_per_hour"),
            F.round(var / mean, 6).alias("dispersion_index"),
        )
        .where(F.col("n_hours") >= 2)
    )

# ==================================================================
# former registry51.py
# ==================================================================

"""Registry batch 51 — deterministic Poisson bootstrap: confidence
intervals on a 100 TB mean without RNG state. Classic bootstrap
resampling is awkward distributed (per-replica multinomial draws need
coordinated randomness); the Poisson bootstrap replaces each row's
replica count with an independent Poisson(1) draw — and OUR draw is a
hash, so every engine, run, and partitioning produces the same
replicas, which is what makes the whole thing oracle-checkable.
"""


import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datas_spark.io.sources import read_table
from datas_spark.registry_core import register

_B = 32  # bootstrap replicas
_G = _B // 4  # md5 digests per row (each 32-hex digest yields 4 units)

# Poisson(1) inverse-CDF cutoffs, exact shared literals
_POIS_CDF = []
acc = 0.0
for k in range(6):
    acc += math.exp(-1) / math.factorial(k)
    _POIS_CDF.append(acc)

# the engine-side compare avoids the number parse entirely: the
# ascending cutoffs as 8-digit hex-string thresholds (see the
# query-body comment; ceil(c * 2^32) reproduces the float compare
# exactly)
_POIS_HEX = [format(math.ceil(c * (1 << 32)), "08x") for c in _POIS_CDF]

# unit draw for replica b: hex chars [1+8*(b%4), +8) of digest b//4.
# One digest feeds four replicas — 8 md5s per row instead of 32.
_U_SQL = (
    "(('0x' || substr(md5(o_orderkey::VARCHAR || ':' || (b // 4)::VARCHAR),"
    " 1 + 8 * (b % 4), 8))::BIGINT / 4294967296.0)"
)
_W_SQL = "CASE " + " ".join(
    f"WHEN {_U_SQL} < {c!r}::DOUBLE THEN {k}" for k, c in enumerate(_POIS_CDF)
) + " ELSE 6 END"


@register(
    "bootstrap_mean_ci",
    oracle=f"""
    WITH reps AS (
      SELECT o.o_orderkey, round(o.o_totalprice * 100)::BIGINT AS cents, t.b
      FROM orders o CROSS JOIN (SELECT unnest(range({_B})) AS b) t
    ), weighted AS (
      SELECT b, ({_W_SQL})::BIGINT AS w, cents FROM reps
    ), per_rep AS (
      SELECT b, sum(w * cents)::BIGINT AS wsum, sum(w)::BIGINT AS n
      FROM weighted GROUP BY b HAVING sum(w) > 0
    ), means AS (
      SELECT b, wsum::DOUBLE / n / 100.0 AS m FROM per_rep
    ), point AS (
      SELECT sum(round(o_totalprice * 100)::BIGINT)::DOUBLE
               / count(*) / 100.0 AS pm
      FROM orders
    )
    SELECT count(*)::BIGINT AS n_replicas,
           round(max(p.pm), 6) AS point_mean,
           round(quantile_cont(m, 0.025), 6) AS ci_lo,
           round(quantile_cont(m, 0.975), 6) AS ci_hi
    FROM means CROSS JOIN point p
    """,
)
def q_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap CI for the mean order total via {_B}
    hash-deterministic Poisson(1) replicas: replica b of a row draws
    its resample count from hex window b%4 of md5(key:b//4) through
    the shared inverse-CDF cutoffs, per-replica weighted means reduce
    from exact integer cents, and the interval is the 2.5/97.5
    percentile of the {_B} replica means.

    Scale shape: 8 md5 digests per ROW (not per replica), computed in
    a projection BELOW the replica explode — the Generate is a barrier,
    so CollapseProject cannot re-inline the digests into the
    inverse-CDF when-chain (which would evaluate each md5 6×; measured
    ~5× on this query before the barrier). Post-explode work per
    replica row is a substring+conv on a carried digest. Each
    replica's moments are ONE combinable aggregate and the final
    percentile runs over {_B} rows. No RNG state, no driver
    coordination, bit-identical on any partitioning."""
    orders = read_table(spark, sf_dir, "orders")

    digests = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.transform(
            F.sequence(F.lit(0), F.lit(_G - 1)),
            lambda g: F.md5(
                F.concat(
                    F.col("o_orderkey").cast("string"),
                    F.lit(":"),
                    g.cast("string"),
                )
            ),
        ).alias("__h"),
    )
    reps = digests.select(
        "cents", "__h", F.explode(F.sequence(F.lit(0), F.lit(_B - 1))).alias("b")
    )
    # round 12 (guide §1.2 per-task work): the per-replica draw used to
    # parse its hex window into a number — substring -> conv (string
    # radix parse) -> cast double -> 6 float compares — and the conv
    # column alone measured 11 s of the sf1 runtime (48M replica rows).
    # The cutoffs are CONSTANTS, and md5's hex output is fixed-width
    # lowercase, where lexicographic order IS numeric order: so
    # ``u >= c_i``  <=>  ``intval >= ceil(c_i * 2^32)``  <=>  the 8-char
    # window compared against a precomputed 8-digit hex literal. The
    # number parse disappears entirely; ``w = #{i: c_i <= u}`` is the
    # same integer as the old when-chain (ascending cutoffs), with
    # every comparison in an always-evaluated position. Exactness:
    # u = intval/2^32 with intval < 2^32 is an exact double, c_i * 2^32
    # is an exponent shift (exact), so the integer-threshold compare
    # reproduces the float compare bit-for-bit. Two REVERTED attempts,
    # with numbers: (a) folding the replica loop into HOF lambdas
    # (explode removed) — lambda bodies run interpreted, 23.3 -> 56.7 s
    # at sf1; (b) a 32-column codegen projection + wide aggregate — the
    # repeated md5 subtrees are NOT subexpression-eliminated in a
    # projection (43.9 s for the projection alone). The Generate stays:
    # it is the barrier that keeps the 8 md5 digests evaluated once per
    # base row. Measured 25.2 -> 16.3 s at sf1 (sf0.1 3.8 -> 2.9 s),
    # hash-identical. Two MORE reverted attempts (round 12, interleaved
    # same-JVM A/B at sf1, scripts/ab_bootstrap.py): (c) fanning per
    # DIGEST (posexplode ×8, four (w·cents, w) lanes per aggregate row,
    # reshaped to 32 replicas post-agg) — 4× fewer Generate rows but
    # LOSES 13-15 s -> 17-20 s (the wider agg row + per-row string copy
    # out of the array cost more than 36M saved int-row Generate
    # iterations); (d) a nested short-circuit CASE for w (expected 2.2
    # vs 6 compares per draw) — loses 16 s -> 20 s: the branchless sum
    # of 6 compares pipelines better under codegen than data-dependent
    # branches. This shape stands as measured-optimal; the ×32 draw fan
    # is the query's oracle-pinned semantics, so the residual sf1 cost
    # is the 48M-row codegen pass itself.
    win = F.substring(
        F.element_at(F.col("__h"), (F.col("b") / 4).cast("int") + 1),
        F.lit(1) + 8 * (F.col("b") % 4),
        F.lit(8),
    )
    w = sum(
        F.when(win >= F.lit(t), 1).otherwise(0) for t in _POIS_HEX
    ).cast("long")
    per_rep = (
        reps.select("b", w.alias("w"), "cents")
        .groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("cents")).alias("wsum"),
            F.sum("w").alias("n"),
        )
        .where(F.col("n") > 0)
    )
    means = per_rep.select(
        (F.col("wsum").cast("double") / F.col("n") / 100.0).alias("m")
    )
    point = orders.agg(
        (
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("double")
            / F.count(F.lit(1))
            / 100.0
        ).alias("pm")
    )
    return means.crossJoin(F.broadcast(point)).agg(
        F.count(F.lit(1)).cast("long").alias("n_replicas"),
        F.round(F.max("pm"), 6).alias("point_mean"),
        F.round(F.percentile("m", F.lit(0.025)), 6).alias("ci_lo"),
        F.round(F.percentile("m", F.lit(0.975)), 6).alias("ci_hi"),
    )

# ==================================================================
# former registry59.py
# ==================================================================

"""Registry batch 59 — evaluation metrics: temporal repeat-view
recommendation eval (MRR / recall@k, exact-integer averaging), binary
AUC by tie-corrected rank-sum, and Cohen's kappa for the declared-vs-
detected language labels (`operators/evalmetrics.py`).
"""


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datas_spark.functions import text as T
from datas_spark.io.sources import read_table
from datas_spark.operators import evalmetrics as EM
from datas_spark.registry_core import register
from datas_spark.oracle_shared import LANG_ORACLE as _LANG_ORACLE

_EVAL_CUT = "2024-01-16"
_EVAL_K = 5
_EVAL_SCALE = 60  # lcm(1..5)


@register(
    "repeat_view_eval",
    oracle=f"""
    WITH views AS (
      SELECT user_id AS u, json_extract(props, '$.k')::INT AS i, ts
      FROM events WHERE event_type = 'view'
    ), preds AS (
      SELECT u, i, r FROM (
        SELECT u, i, row_number() OVER (
                 PARTITION BY u ORDER BY count(*) DESC, i ASC) AS r
        FROM views WHERE ts < TIMESTAMP '{_EVAL_CUT}' GROUP BY u, i
      ) WHERE r <= {_EVAL_K}
    ), truth AS (
      SELECT DISTINCT u, i FROM views WHERE ts >= TIMESTAMP '{_EVAL_CUT}'
    ), nt AS (
      SELECT u, count(*) AS n_truth FROM truth GROUP BY u
    ), hits AS (
      SELECT p.u, min(p.r) AS best, count(*) AS hits_k
      FROM preds p JOIN truth t ON p.u = t.u AND p.i = t.i
      GROUP BY p.u
    ), per_user AS (
      SELECT nt.u,
             coalesce({_EVAL_SCALE} // best, 0) AS rr_s,
             ({_EVAL_SCALE} * coalesce(hits_k, 0))
               // least(n_truth, {_EVAL_K}) AS rec_s
      FROM nt LEFT JOIN hits ON nt.u = hits.u
    )
    SELECT count(*)::BIGINT AS n_users,
           round(sum(rr_s) / ({_EVAL_SCALE}.0 * count(*)), 6) AS mrr,
           round(sum(rec_s) / ({_EVAL_SCALE}.0 * count(*)), 6) AS recall_at_k
    FROM per_user
    """,
)
def q_repeat_view_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal recommendation eval: predict weeks-3+ views from each
    user's weeks-1-2 top-{_EVAL_K} most-viewed items (count desc, item
    asc tie-break); score with MRR and recall@{_EVAL_K} on the
    exact-integer path (scale {_EVAL_SCALE} = lcm(1..{_EVAL_K}) — the
    metric is bit-identical on any row order)."""
    ev = read_table(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("u"),
        F.get_json_object("props", "$.k").cast("int").alias("i"),
        "ts",
    )
    counts = (
        views.where(F.col("ts") < _EVAL_CUT)
        .groupBy("u", "i")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w = Window.partitionBy("u").orderBy(F.desc("__c"), F.asc("i"))
    preds = (
        counts.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= _EVAL_K)
        .select("u", "i", "r")
    )
    truth = views.where(F.col("ts") >= _EVAL_CUT).select("u", "i")
    return EM.ranking_metrics(
        preds, truth, "u", "i", "r", k=_EVAL_K, exact_scale=_EVAL_SCALE
    )


@register(
    "purchase_value_auc",
    oracle="""
    WITH lab AS (
      SELECT round(value, 2) AS s,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events WHERE event_type IN ('purchase', 'view') AND value IS NOT NULL
    ), g AS (
      SELECT s, count(*) FILTER (y = 1) AS pos, count(*) FILTER (y = 0) AS neg
      FROM lab GROUP BY s
    ), c AS (
      SELECT pos, neg,
             pos * (2 * coalesce(sum(neg) OVER (
               ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + neg) AS c2
      FROM g
    )
    SELECT sum(pos)::BIGINT AS n_pos, sum(neg)::BIGINT AS n_neg,
           round(sum(c2) / (2.0 * sum(pos) * sum(neg)), 6) AS auc
    FROM c
    """,
)
def q_purchase_value_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does event value separate purchases from views? ROC AUC by the
    Mann–Whitney rank-sum with tie correction — exact ×2-scaled
    integer numerator, no pairwise join; the cumulative window runs
    over the distinct-score aggregate, not raw rows. precision=2
    ENFORCES the distinct-score bound (a continuous score would
    otherwise make |distinct| ≈ n); the oracle rounds identically."""
    ev = read_table(spark, sf_dir, "events")
    lab = ev.where(F.col("event_type").isin("purchase", "view")).select(
        "value", (F.col("event_type") == "purchase").cast("int").alias("y")
    )
    return EM.binary_auc(lab, "value", "y", precision=2)


@register(
    "lang_agreement_kappa",
    oracle="WITH guesses AS (" + _LANG_ORACLE + """
    ), pairs AS (
      SELECT d.lang AS a, g.lang_guess AS b
      FROM documents d JOIN guesses g USING (doc_id)
    ), tot AS (
      SELECT count(*)::BIGINT AS n,
             count(*) FILTER (a = b)::BIGINT AS agree
      FROM pairs
    ), marg AS (
      SELECT c, count(*) FILTER (ia = 1)::BIGINT AS na,
             count(*) FILTER (ia = 0)::BIGINT AS nb
      FROM (
        SELECT a AS c, 1 AS ia FROM pairs
        UNION ALL SELECT b, 0 FROM pairs
      ) GROUP BY c
    ), ch AS (SELECT sum(na * nb)::BIGINT AS chance2 FROM marg)
    SELECT n, round(agree / n::DOUBLE, 6) AS po,
           round(chance2 / (n::DOUBLE * n), 6) AS pe,
           round((agree / n::DOUBLE - chance2 / (n::DOUBLE * n))
                 / (1 - chance2 / (n::DOUBLE * n)), 6) AS kappa
    FROM tot CROSS JOIN ch
    """,
)
def q_lang_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the corpus's declared language tags and
    the n-gram detector — the chance-corrected scalar on top of the
    `lang_id_confusion` matrix. Exact BIGINT counts, divisions at the
    end."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = docs.select(
        F.col("lang").alias("a"), T.language_id("text").alias("b")
    )
    return EM.cohens_kappa(pairs, "a", "b")

# ==================================================================
# former registry65.py
# ==================================================================

"""Registry batch 65 — model-eval completions: sliced AUC, decile
lift/cumulative gains, and expected calibration error.
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datas_spark.io.sources import read_table
from datas_spark.operators import evalmetrics as EM
from datas_spark.operators.scoring import hash_unit_interval
from datas_spark.registry_core import register

_LAB_SQL = """
      SELECT round(value, 2) AS s, ts,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events WHERE event_type IN ('purchase', 'view') AND value IS NOT NULL
"""


@register(
    "purchase_value_auc_by_dow",
    oracle=f"""
    WITH lab AS ({_LAB_SQL}
    ), g AS (
      SELECT date_part('dow', ts)::INT AS dow, s,
             count(*) FILTER (y = 1) AS pos, count(*) FILTER (y = 0) AS neg
      FROM lab GROUP BY 1, 2
    ), c AS (
      SELECT dow, pos, neg,
             pos * (2 * coalesce(sum(neg) OVER (PARTITION BY dow
               ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + neg) AS c2
      FROM g
    )
    SELECT dow, sum(pos)::BIGINT AS n_pos, sum(neg)::BIGINT AS n_neg,
           round(sum(c2) / (2.0 * sum(pos) * sum(neg)), 6) AS auc
    FROM c GROUP BY dow
    """,
)
def q_purchase_value_auc_by_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliced AUC: the purchase-vs-view value discrimination per
    day-of-week — the QA slicing that catches a slice where an overall
    AUC hides anti-predictive behavior. The cumulative window
    partitions on the slice, so the distinct-score frames stay
    per-slice sized."""
    ev = read_table(spark, sf_dir, "events")
    lab = ev.where(F.col("event_type").isin("purchase", "view")).select(
        "value",
        (F.dayofweek("ts") - 1).cast("int").alias("dow"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    return EM.binary_auc(lab, "value", "y", by=["dow"], precision=2)


@register(
    "value_lift_table",
    oracle=f"""
    WITH lab AS ({_LAB_SQL}
    ), g0 AS (
      SELECT s, count(*)::BIGINT AS n, count(*) FILTER (y = 1)::BIGINT AS pos
      FROM lab GROUP BY s
    ), g AS (
      SELECT s, n, pos,
             coalesce(sum(n) OVER (ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM g0
    ), tot AS (
      SELECT sum(n)::BIGINT AS tn, sum(pos)::BIGINT AS tp FROM g
    ), binned AS (
      SELECT floor((cb * 10) / tn::DOUBLE)::INT AS band, n, pos, tn, tp
      FROM g CROSS JOIN tot
    ), per AS (
      SELECT band, sum(n)::BIGINT AS n, sum(pos)::BIGINT AS n_pos,
             any_value(tn) AS tn, any_value(tp) AS tp
      FROM binned GROUP BY band
    )
    SELECT band, n, n_pos,
           round(n_pos / n::DOUBLE, 6) AS response_rate,
           round((n_pos / n::DOUBLE) / (tp / tn::DOUBLE), 6) AS lift,
           round(sum(n_pos) OVER (ORDER BY band
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / tp::DOUBLE, 6)
             AS cum_gain
    FROM per
    """,
)
def q_value_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift & cumulative gains of event value against the
    purchase label — the targeting-table companion to AUC. Band cuts
    come from a cumulative count over the distinct-score aggregate
    (identical double math in both engines), never a raw-row ntile.
    precision=2 enforces the distinct-score bound in both engines."""
    ev = read_table(spark, sf_dir, "events")
    lab = ev.where(F.col("event_type").isin("purchase", "view")).select(
        "value", (F.col("event_type") == "purchase").cast("int").alias("y")
    )
    return EM.lift_table(lab, "value", "y", bins=10, precision=2)


@register(
    "proxy_calibration_ece",
    oracle="""
    WITH lab AS (
      SELECT ('0x' || substr(md5('cal:' || event_id::VARCHAR), 1, 8))::BIGINT
               / 4294967296.0 AS p,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events WHERE event_type IN ('purchase', 'view')
    ), g AS (
      SELECT least(floor(p * 10)::INT, 9) AS bin,
             count(*)::BIGINT AS n,
             sum(round(p * 1000000000)::BIGINT)::BIGINT AS sum_pe9,
             sum(y)::BIGINT AS n_pos
      FROM lab GROUP BY 1
    ), tot AS (SELECT sum(n)::BIGINT AS tn FROM g
    )
    SELECT bin, n, n_pos,
           round(sum_pe9 / n / 1e9, 6) AS mean_pred,
           round(n_pos / n::DOUBLE, 6) AS obs_rate,
           round(sum(abs(sum_pe9 / n / 1e9 - n_pos / n::DOUBLE) * n / tn)
                 OVER (), 6) AS ece
    FROM g CROSS JOIN tot
    """,
)
def q_proxy_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected Calibration Error of the md5-proxy score against the
    purchase label (the model boundary's standard stand-in): per-bin
    reliability rows + the mass-weighted ECE. Bin means reduce from
    exact e9-scaled integers, so they are engine-identical."""
    ev = read_table(spark, sf_dir, "events")
    lab = ev.where(F.col("event_type").isin("purchase", "view")).select(
        hash_unit_interval(
            F.concat(F.lit("cal:"), F.col("event_id").cast("string"))
        ).alias("p"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    return EM.calibration_ece(lab, "p", "y", bins=10)

# ==================================================================
# former registry75.py
# ==================================================================

"""Registry batch 75 — per-class PRF1, nDCG@k, and the reference's
active-learning round (select-from-unlabeled → promote) as one plan.
"""


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datas_spark.functions import text as T
from datas_spark.io.sources import read_table
from datas_spark.operators import evalmetrics as EM
from datas_spark.operators.scoring import hash_unit_interval
from datas_spark.operators.selection import least_confidence_sampling
from datas_spark.oracle_shared import LANG_ORACLE as _LANG_ORACLE
from datas_spark.registry_core import register

_AL_K = 25


@register(
    "lang_prf1",
    oracle="WITH guesses AS (" + _LANG_ORACLE + """
    ), pairs AS (
      SELECT d.lang AS t, g.lang_guess AS p
      FROM documents d JOIN guesses g USING (doc_id)
    ), per_true AS (
      SELECT t AS label, count(*)::BIGINT AS n_true,
             count(*) FILTER (p = t)::BIGINT AS tp_t
      FROM pairs GROUP BY 1
    ), per_pred AS (
      SELECT p AS label, count(*)::BIGINT AS n_pred,
             count(*) FILTER (p = t)::BIGINT AS tp_p
      FROM pairs GROUP BY 1
    ), j AS (
      SELECT coalesce(pt.label, pp.label) AS label,
             coalesce(tp_t, tp_p, 0)::BIGINT AS tp,
             (coalesce(n_pred, 0) - coalesce(tp_p, 0))::BIGINT AS fp,
             (coalesce(n_true, 0) - coalesce(tp_t, 0))::BIGINT AS fn
      FROM per_true pt FULL OUTER JOIN per_pred pp ON pt.label = pp.label
    )
    SELECT label, tp, fp, fn,
           round(CASE WHEN tp + fp > 0 THEN tp / (tp + fp)::DOUBLE END, 6)
             AS precision,
           round(CASE WHEN tp + fn > 0 THEN tp / (tp + fn)::DOUBLE END, 6)
             AS recall,
           round(CASE WHEN 2 * tp + fp + fn > 0
                 THEN 2 * tp / (2 * tp + fp + fn)::DOUBLE END, 6) AS f1
    FROM j
    """,
)
def q_lang_prf1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 of the language detector against
    the declared tags — the class-level table under the kappa scalar
    and confusion matrix. Exact integer tp/fp/fn."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = docs.select(
        F.col("lang").alias("t"), T.language_id("text").alias("p")
    )
    return EM.classification_prf1(pairs, "t", "p")


@register(
    "repeat_view_ndcg",
    oracle=f"""
    WITH views AS (
      SELECT user_id AS u, json_extract(props, '$.k')::INT AS i, ts
      FROM events WHERE event_type = 'view'
    ), preds AS (
      SELECT u, i, r FROM (
        SELECT u, i, row_number() OVER (
                 PARTITION BY u ORDER BY count(*) DESC, i ASC) AS r
        FROM views WHERE ts < TIMESTAMP '{_EVAL_CUT}' GROUP BY u, i
      ) WHERE r <= {_EVAL_K}
    ), truth AS (
      SELECT DISTINCT u, i FROM views WHERE ts >= TIMESTAMP '{_EVAL_CUT}'
    ), nt AS (
      SELECT u, count(*)::BIGINT AS n_truth FROM truth GROUP BY u
    ), hits AS (
      SELECT p.u, list_sort(list(p.r)) AS ranks
      FROM preds p JOIN truth t ON p.u = t.u AND p.i = t.i
      GROUP BY p.u
    ), per AS (
      SELECT nt.u,
        round((
          list_reduce(list_prepend(0.0, list_transform(
            coalesce(hits.ranks, []), r -> 1.0 / log2(r + 1.0))), (a, b) -> a + b)
          /
          list_reduce(list_prepend(0.0, list_transform(
            range(1, least(nt.n_truth, {_EVAL_K}) + 1),
            r -> 1.0 / log2(r + 1.0))), (a, b) -> a + b)
        ) * 1000000000)::BIGINT AS ndcg_e9
      FROM nt LEFT JOIN hits ON nt.u = hits.u
    )
    SELECT count(*)::BIGINT AS n_users,
           round(sum(ndcg_e9) / 1e9 / count(*), 6) AS ndcg_at_k
    FROM per
    """,
)
def q_repeat_view_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@{_EVAL_K} for the temporal repeat-view recommender — the
    position-weighted companion to MRR/recall, with per-user scores
    folded in sorted-rank order and e9-quantized before the global
    average (bit-stable on any row order)."""
    ev = read_table(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("u"),
        F.get_json_object("props", "$.k").cast("int").alias("i"),
        "ts",
    )
    counts = (
        views.where(F.col("ts") < _EVAL_CUT)
        .groupBy("u", "i")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("u").orderBy(F.desc("__c"), F.asc("i"))
    preds = (
        counts.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= _EVAL_K)
        .select("u", "i", "r")
    )
    truth = views.where(F.col("ts") >= _EVAL_CUT).select("u", "i")
    return EM.ndcg_at_k(preds, truth, "u", "i", "r", k=_EVAL_K)


@register(
    "active_learning_round",
    oracle=f"""
    WITH pools AS (
      SELECT doc_id,
        CASE WHEN doc_id % 10 = 0 THEN 'labeled' ELSE 'unlabeled' END AS pool,
        ('0x' || substr(md5('al:' || doc_id::VARCHAR), 1, 8))::BIGINT
          / 4294967296.0 AS conf
      FROM documents
    ), picked AS (
      SELECT doc_id FROM (
        SELECT doc_id, row_number() OVER (ORDER BY conf DESC, doc_id ASC) AS rn
        FROM pools WHERE pool = 'unlabeled'
      ) WHERE rn <= {_AL_K}
    )
    SELECT p.doc_id, p.pool AS pool_before,
           CASE WHEN pk.doc_id IS NOT NULL THEN 'labeled' ELSE p.pool END
             AS pool_after
    FROM pools p LEFT JOIN picked pk ON p.doc_id = pk.doc_id
    """,
)
def q_active_learning_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One active-learning round, end-to-end (main.py:37-52 rd_N
    semantics): from the unlabeled pool, the {_AL_K} most-uncertain
    docs (proxy uncertainty at the model boundary; TakeOrdered top-k,
    never a full sort) are promoted into the labeled pool — the
    select→train loop's data half as one auditable plan."""
    docs = read_table(spark, sf_dir, "documents")
    pools = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 10 == 0, "labeled")
        .otherwise("unlabeled")
        .alias("pool"),
        hash_unit_interval(
            F.concat(F.lit("al:"), F.col("doc_id").cast("string"))
        ).alias("conf"),
    )
    unlabeled = pools.where(F.col("pool") == "unlabeled")
    picked = least_confidence_sampling(
        unlabeled, "conf", k=_AL_K, tiebreak="doc_id"
    ).select("doc_id", F.lit(1).alias("__sel"))
    return (
        pools.join(F.broadcast(picked), "doc_id", "left")
        .select(
            "doc_id",
            F.col("pool").alias("pool_before"),
            F.when(F.col("__sel").isNotNull(), "labeled")
            .otherwise(F.col("pool"))
            .alias("pool_after"),
        )
    )


# ---------------------------------------------------------------------------
# round 6: exact KNN-Shapley data valuation (Jia et al. 2019, VLDB)
# ---------------------------------------------------------------------------

_KNN_SHAPLEY_K = 5

# shared oracle CTE chain: probe set = vec_id < 8, train = the rest;
# squared-euclidean rounded to 6 before ranking (engine-exact order),
# suffix recursion as a running window over rank DESC, per-pair values
# rounded to 8 (absorbs any sub-1e-10 fold-order drift of the window sum).
_KNN_SHAPLEY_CTES = f"""
    WITH q AS (
      SELECT vec_id AS test_id, embedding AS qv, label AS ql
      FROM embeddings WHERE vec_id < 8
    ), tr AS (
      SELECT vec_id AS train_id, embedding AS dv, label AS dl
      FROM embeddings WHERE vec_id >= 8
    ), scored AS (
      SELECT q.test_id, tr.train_id, (tr.dl = q.ql)::INT AS matches,
        round(list_sum(list_transform(range(1, len(tr.dv) + 1),
              i -> (tr.dv[i]::DOUBLE - q.qv[i]::DOUBLE)
                 * (tr.dv[i]::DOUBLE - q.qv[i]::DOUBLE))), 6) AS d2
      FROM tr CROSS JOIN q
    ), ranked AS (
      SELECT test_id, train_id, matches,
        row_number() OVER (PARTITION BY test_id
                           ORDER BY d2 ASC, train_id ASC) AS rank,
        count(*) OVER (PARTITION BY test_id) AS n
      FROM scored
    ), step AS (
      SELECT *,
        CASE WHEN rank < n THEN
          (matches - lead(matches) OVER (PARTITION BY test_id ORDER BY rank ASC))::DOUBLE
          / greatest(rank, {_KNN_SHAPLEY_K})
        ELSE 0.0 END AS delta,
        max(CASE WHEN rank = n THEN matches END)
          OVER (PARTITION BY test_id) AS m_last
      FROM ranked
    ), vals AS (
      SELECT test_id, train_id, rank, matches,
        round(m_last::DOUBLE / n
              + sum(delta) OVER (PARTITION BY test_id ORDER BY rank DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
              8) AS shapley
      FROM step
    )
"""


@register(
    "knn_shapley_pairs",
    oracle=_KNN_SHAPLEY_CTES
    + """
    SELECT test_id, train_id, rank, matches, shapley + 0.0 AS shapley
    FROM vals
    """,
)
def q_knn_shapley_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-(test, train) KNN-Shapley contributions (Jia et al.
    2019 closed form — reference has no data-valuation module; Spark-
    native extension). One broadcast of the 8-probe set, distances
    map-side, one shuffle-sort per probe, suffix recursion as a running
    window — no subset enumeration, no Python loop."""
    from datas_spark.operators import valuation as V

    emb = read_table(spark, sf_dir, "embeddings")
    return V.knn_shapley_pairs(
        emb.where("vec_id >= 8"),
        emb.where("vec_id < 8"),
        "vec_id",
        "embedding",
        "label",
        k=_KNN_SHAPLEY_K,
    )


@register(
    "knn_shapley_values",
    oracle=_KNN_SHAPLEY_CTES
    + """
    SELECT train_id, count(*)::BIGINT AS n_tests,
           round(list_sum(list(shapley ORDER BY test_id)) / count(*), 6) + 0.0
             AS value
    FROM vals GROUP BY train_id
    """,
)
def q_knn_shapley_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-training-point KNN-Shapley value: mean contribution over the
    probe set, folded in explicit test_id order on both engines.
    Negative-value points are the mislabeled/outlier removal candidates
    — the data-valuation ranking a curation pass selects against."""
    from datas_spark.operators import valuation as V

    emb = read_table(spark, sf_dir, "embeddings")
    return V.knn_shapley_values(
        emb.where("vec_id >= 8"),
        emb.where("vec_id < 8"),
        "vec_id",
        "embedding",
        "label",
        k=_KNN_SHAPLEY_K,
    )


# ==================================================================
# round 8: post-training readouts — Bradley-Terry ratings and pass@k
# ==================================================================

"""Registry batch — the two measurement companions of the
``preference_pairs`` construction: per-model Bradley-Terry strengths
from pairwise outcomes (the Chatbot-Arena readout) and unbiased
pass@k over per-prompt response samples (the best-of-n harness
readout). Both run on the same multi-response fixture as
``preference_pairs``: documents grouped 8-per-prompt (doc_id // 8),
model = doc_id % 8, score = n_chars % 97."""


def _bt_oracle(n_steps: int = 5) -> str:
    """Chained-CTE twin of ``evalmetrics.bt_rating_k``: pack the
    (winner, loser) count frame into one row, build the win vector and
    the flat k×k game matrix as list projections, then unroll
    ``n_steps`` MM updates — only +,/ arithmetic, per-step 12-dp
    resync, identical fold order to the Spark HOFs."""
    steps = []
    prev = "b0"
    for t in range(1, n_steps + 1):
        steps.append(f"""
    d{t} AS (
      SELECT items, k, W, N, p,
        list_transform(range(0, k), i ->
          list_sum(list_transform(range(0, k), j ->
            CASE WHEN j <> i AND N[i*k + j + 1] > 0.0
                 THEN N[i*k + j + 1] / (p[i + 1] + p[j + 1])
                 ELSE 0.0 END))) AS den
      FROM {prev}
    ), r{t} AS (
      SELECT items, k, W, N,
        list_transform(range(0, k), i ->
          CASE WHEN den[i + 1] > 0.0 THEN W[i + 1] / den[i + 1]
               ELSE p[i + 1] END) AS r
      FROM d{t}
    ), b{t} AS (
      SELECT items, k, W, N,
        list_transform(r, x ->
          round(CASE WHEN z > 0.0 THEN x / z ELSE x END, 12)) AS p
      FROM (SELECT items, k, W, N, r, list_sum(r) AS z FROM r{t})
    )""")
        prev = f"b{t}"
    return f"""
    WITH resp AS MATERIALIZED (
      SELECT doc_id // 8 AS prompt_id,
             'm' || (doc_id % 8)::VARCHAR AS model,
             (n_chars % 97)::DOUBLE AS score
      FROM documents
    ), comp AS (
      SELECT a.model AS winner, b.model AS loser
      FROM resp a JOIN resp b ON a.prompt_id = b.prompt_id
      WHERE a.score > b.score
    ), wins AS (
      SELECT winner, loser, count(*)::DOUBLE AS c FROM comp GROUP BY 1, 2
    ), its AS (
      SELECT list_sort(list(DISTINCT it)) AS items FROM (
        SELECT winner AS it FROM wins UNION ALL SELECT loser FROM wins
      )
    ), idx AS (
      SELECT list_position(i.items, w.winner) - 1 AS wi,
             list_position(i.items, w.loser) - 1 AS li, w.c
      FROM wins w, its i
    ), pk AS (
      SELECT (SELECT items FROM its) AS items,
             len((SELECT items FROM its)) AS k,
             list(struct_pack(wi := wi, li := li, c := c)
                  ORDER BY wi, li) AS pairs
      FROM idx
    ), b0 AS (
      SELECT items, k, pairs,
        list_transform(range(0, k), i ->
          list_sum(list_transform(pairs, s ->
            CASE WHEN s.wi = i THEN s.c ELSE 0.0 END))) AS W,
        list_transform(range(0, k*k), x ->
          list_sum(list_transform(pairs, s ->
            CASE WHEN (s.wi = x // k AND s.li = x % k)
                   OR (s.li = x // k AND s.wi = x % k)
                 THEN s.c ELSE 0.0 END))) AS N,
        list_transform(range(0, k), i -> 1.0 / k) AS p
      FROM pk
    ),{",".join(steps)}
    SELECT items[i + 1] AS item,
           W[i + 1]::BIGINT AS n_wins,
           list_sum(list_transform(range(0, k), j -> N[i*k + j + 1]))::BIGINT
             AS n_games,
           round(p[i + 1], 6) AS rating
    FROM (SELECT unnest(range(0, k)) AS i, items, k, W, N, p FROM {prev})
    """


@register("bt_model_ratings", oracle=_bt_oracle(5))
def q_bt_model_ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry model strengths (`evalmetrics.bt_rating_k`,
    Hunter 2004 MM) from all within-prompt pairwise outcomes of the
    8-response fixture — the Chatbot-Arena-style leaderboard a
    preference dataset implies. Comparisons are a prompt-blocked
    self-join (equi-join on prompt_id, strict score inequality — ties
    never count as games); the ≤k²-row win frame is then collected
    and 5 MM steps run as a driver loop in the oracle's item order."""
    from datas_spark.operators.evalmetrics import bt_rating_k

    docs = read_table(spark, sf_dir, "documents")
    r = docs.select(
        F.floor(F.col("doc_id") / 8).cast("long").alias("prompt_id"),
        F.concat(F.lit("m"), (F.col("doc_id") % 8).cast("string")).alias(
            "model"
        ),
        (F.col("n_chars") % 97).cast("double").alias("score"),
    )
    a, b = r.alias("a"), r.alias("b")
    comps = (
        a.join(b, "prompt_id")
        .where(F.col("a.score") > F.col("b.score"))
        .select(
            F.col("a.model").alias("winner"), F.col("b.model").alias("loser")
        )
    )
    return bt_rating_k(comps, "winner", "loser", n_steps=5)


@register(
    "passk_estimate",
    oracle="""
    WITH r AS (
      SELECT doc_id // 8 AS g, ((n_chars % 97) >= 60)::INT AS ok
      FROM documents
    ), per AS (
      SELECT g, count(*)::INT AS n, sum(ok)::INT AS c FROM r GROUP BY g
    ), fan AS (
      SELECT n, c, k FROM per, (SELECT unnest([1, 2, 4]) AS k) ks
    ), pp AS (
      SELECT k,
        CAST(round(CASE
          WHEN c <= 0 THEN 0.0
          WHEN n - c < k THEN 1.0
          ELSE 1.0 - list_reduce(
            list_transform(range(0, k),
                           i -> (n - c - i)::DOUBLE / (n - i)::DOUBLE),
            (a, x) -> a * x)
        END * 1000000000) AS BIGINT) AS e9
      FROM fan
    )
    SELECT k, count(*)::BIGINT AS n_prompts,
           round(sum(e9)::DOUBLE / 1e9 / count(*), 6) AS pass_at_k
    FROM pp GROUP BY k ORDER BY k
    """,
)
def q_passk_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbiased pass@{1,2,4} (`evalmetrics.pass_at_k`, Chen et al.
    2021 eq. 1) on the 8-response fixture with "pass" = score ≥ 60 —
    the best-of-n readout of the same frame `preference_pairs`
    consumes. ONE (count, sum) aggregate per prompt; exact rational
    product folds (no libm), per-prompt e9 quantization before the
    global mean (the ndcg_at_k bit-stability contract)."""
    from datas_spark.operators.evalmetrics import pass_at_k

    docs = read_table(spark, sf_dir, "documents")
    resp = docs.select(
        F.floor(F.col("doc_id") / 8).cast("long").alias("prompt_id"),
        ((F.col("n_chars") % 97) >= 60).cast("int").alias("ok"),
    )
    return pass_at_k(resp, "prompt_id", "ok", [1, 2, 4])


@register(
    "conformal_coverage_audit",
    oracle=r"""
    WITH d AS MATERIALIZED (
      SELECT doc_id, n_chars,
             len(string_split_regex(trim(text), '\s+')) AS toks,
             ('0x' || substr(md5('conf:' || doc_id::VARCHAR), 1, 8))::BIGINT
               / 4294967296.0 AS u
      FROM documents
    ), tr AS (
      SELECT round(sum(n_chars)::DOUBLE / sum(toks)::DOUBLE, 9) AS ratio
      FROM d WHERE u < 0.5
    ), sc AS MATERIALIZED (
      SELECT CASE WHEN u < 0.75 THEN 'cal' ELSE 'eval' END AS split,
             CAST(round(abs(n_chars::DOUBLE - tr.ratio * toks::DOUBLE)
                        * 100.0) AS BIGINT) AS r
      FROM d, tr WHERE u >= 0.5
    ), grid AS (
      SELECT r, count(*)::BIGINT AS c FROM sc WHERE split = 'cal' GROUP BY r
    ), cum AS (
      SELECT r, sum(c) OVER (ORDER BY r ROWS UNBOUNDED PRECEDING) AS cum
      FROM grid
    ), nc AS (
      SELECT coalesce(sum(c), 0)::BIGINT AS ncal,
             ceil(0.9::DOUBLE * (coalesce(sum(c), 0) + 1)::DOUBLE)::BIGINT AS k
      FROM grid
    ), q AS (
      SELECT min(r) AS q_e2 FROM cum, nc WHERE cum >= nc.k
    ), ev AS (
      SELECT count(*)::BIGINT AS n_eval,
             round(count(*) FILTER (WHERE r <= q.q_e2)::DOUBLE
                   / count(*)::DOUBLE * 100.0, 4) AS cov
      FROM sc, q WHERE split = 'eval'
    )
    SELECT nc.ncal AS n_cal, ev.n_eval, 0.1::DOUBLE AS alpha,
           nc.k AS k_rank,
           round(q.q_e2::DOUBLE / 100.0, 2) AS q_hat,
           CASE WHEN q.q_e2 IS NULL AND nc.k > nc.ncal THEN 100.0
                ELSE ev.cov END AS coverage_pct
    FROM nc, ev, q
    """,
)
def q_conformal_coverage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal interval audit
    (`evalmetrics.split_conformal_audit`, Lei et al. 2018) of the
    engine's simplest proxy model — chars ≈ ratio · tokens with the
    ratio fit on a DISJOINT md5 train slice (u < 0.5), calibrated on
    u ∈ [0.5, 0.75), coverage measured on u ≥ 0.75. The
    distribution-free guarantee says eval coverage ≥ 90%; this query
    MEASURES it, so a drift in the scorer's error distribution is a
    visible correctness diff, not a silent assumption. Exact
    order-statistic threshold via the e2 residual grid — no raw-row
    sort, no buffer-everything percentile."""
    from datas_spark.operators.evalmetrics import split_conformal_audit

    docs = read_table(spark, sf_dir, "documents")
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("conf:"), F.col("doc_id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("double") / F.lit(4294967296.0)
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    d = docs.select(
        "doc_id", "n_chars", toks.alias("toks"), u.alias("u")
    )
    tr = d.where(F.col("u") < 0.5).agg(
        F.round(
            F.sum("n_chars").cast("double") / F.sum("toks").cast("double"), 9
        ).alias("ratio")
    )
    scored = (
        d.where(F.col("u") >= 0.5)
        .crossJoin(F.broadcast(tr))
        .select(
            F.when(F.col("u") < 0.75, F.lit("cal"))
            .otherwise(F.lit("eval"))
            .alias("split"),
            F.col("n_chars").cast("double").alias("y"),
            (F.col("ratio") * F.col("toks").cast("double")).alias("pred"),
        )
    )
    return split_conformal_audit(scored, "split", "y", "pred", alpha=0.1)


# ---------------------------------------------------------------------------
# round-9: generation-eval n-gram metrics (VERDICT r8 "Next round" #7) —
# the half of the reference's scorer intent (README.md:28-39) that
# measures generated text against references. Candidates are the
# 8-response fixture's non-best responses, the reference is each
# prompt's top-scoring response; pure clipped counting over the shingle
# machinery, exact integer totals, one ln/exp pair at the very end.
# ---------------------------------------------------------------------------

_GEN_EVAL_PAIRS_SQL = """
    r AS (
      SELECT doc_id // 8 AS pid, doc_id, text, (n_chars % 97) AS score
      FROM documents
    ), best AS (
      SELECT pid, doc_id AS ref_id, text AS ref_text FROM (
        SELECT pid, doc_id, text,
               row_number() OVER (PARTITION BY pid
                                  ORDER BY score DESC, doc_id ASC) AS rn
        FROM r
      ) WHERE rn = 1
    ), pairs AS (
      SELECT r.doc_id,
             string_split_regex(trim(lower(r.text)), '\\s+') AS ct,
             string_split_regex(trim(lower(b.ref_text)), '\\s+') AS rt
      FROM r JOIN best b ON r.pid = b.pid AND r.doc_id <> b.ref_id
    ), ns AS (SELECT unnest([{ns}]) AS n
    ), cg AS (
      SELECT doc_id, n, g, count(*)::BIGINT AS c FROM (
        SELECT p.doc_id, ns.n,
               unnest(list_transform(range(1, len(p.ct) - ns.n + 2),
                      j -> array_to_string(list_slice(p.ct, j, j + ns.n - 1),
                                           ' '))) AS g
        FROM pairs p CROSS JOIN ns
      ) GROUP BY 1, 2, 3
    ), rg AS (
      SELECT doc_id, n, g, count(*)::BIGINT AS c FROM (
        SELECT p.doc_id, ns.n,
               unnest(list_transform(range(1, len(p.rt) - ns.n + 2),
                      j -> array_to_string(list_slice(p.rt, j, j + ns.n - 1),
                                           ' '))) AS g
        FROM pairs p CROSS JOIN ns
      ) GROUP BY 1, 2, 3
    ), clip AS (
      SELECT cg.n, sum(least(cg.c, rg.c))::BIGINT AS clipped
      FROM cg JOIN rg ON cg.doc_id = rg.doc_id AND cg.n = rg.n
                     AND cg.g = rg.g
      GROUP BY 1
    ), tot AS (
      SELECT ns.n,
             sum(greatest(len(p.ct) - ns.n + 1, 0))::BIGINT AS cand_total,
             sum(greatest(len(p.rt) - ns.n + 1, 0))::BIGINT AS ref_total
      FROM pairs p CROSS JOIN ns GROUP BY 1
    ), st AS (
      SELECT tot.n, coalesce(clip.clipped, 0)::BIGINT AS clipped,
             tot.cand_total, tot.ref_total
      FROM tot LEFT JOIN clip ON tot.n = clip.n
    )
"""


def _gen_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    )
    r = docs.select(
        F.floor(F.col("doc_id") / 8).cast("long").alias("pid"),
        "doc_id",
        "text",
        (F.col("n_chars") % 97).alias("score"),
    )
    w = W.partitionBy("pid").orderBy(F.desc("score"), F.asc("doc_id"))
    best = (
        r.select("pid", "doc_id", "text", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") == 1)
        .select(
            "pid",
            F.col("doc_id").alias("ref_id"),
            F.col("text").alias("ref_text"),
        )
    )
    return (
        r.join(best, "pid")
        .where(F.col("doc_id") != F.col("ref_id"))
        .select("doc_id", "text", "ref_text")
    )


@register(
    "corpus_bleu",
    oracle="WITH " + _GEN_EVAL_PAIRS_SQL.format(ns="1, 2, 3, 4") + """,
    m AS (
      SELECT max(CASE WHEN n = 1 THEN clipped END) AS c1,
             max(CASE WHEN n = 2 THEN clipped END) AS c2,
             max(CASE WHEN n = 3 THEN clipped END) AS c3,
             max(CASE WHEN n = 4 THEN clipped END) AS c4,
             max(CASE WHEN n = 1 THEN cand_total END) AS t1,
             max(CASE WHEN n = 2 THEN cand_total END) AS t2,
             max(CASE WHEN n = 3 THEN cand_total END) AS t3,
             max(CASE WHEN n = 4 THEN cand_total END) AS t4,
             max(CASE WHEN n = 1 THEN ref_total END) AS rl
      FROM st
    ), d AS (
      SELECT t1::DOUBLE AS c_len, rl::DOUBLE AS r_len,
             c1::DOUBLE / t1::DOUBLE AS p1, c2::DOUBLE / t2::DOUBLE AS p2,
             c3::DOUBLE / t3::DOUBLE AS p3, c4::DOUBLE / t4::DOUBLE AS p4
      FROM m
    )
    SELECT CAST(c_len AS BIGINT) AS c_len, CAST(r_len AS BIGINT) AS r_len,
           round(CASE WHEN c_len <= 0.0 THEN 0.0
                      WHEN c_len < r_len THEN exp(1.0 - r_len / c_len)
                      ELSE 1.0 END, 6) AS bp,
           round(p1, 6) AS p1, round(p2, 6) AS p2,
           round(p3, 6) AS p3, round(p4, 6) AS p4,
           round(CASE WHEN p1 > 0.0 AND p2 > 0.0 AND p3 > 0.0 AND p4 > 0.0
                       AND c_len > 0.0
                 THEN (CASE WHEN c_len <= 0.0 THEN 0.0
                            WHEN c_len < r_len THEN exp(1.0 - r_len / c_len)
                            ELSE 1.0 END)
                      * exp((((ln(p1) + ln(p2)) + ln(p3)) + ln(p4)) / 4.0)
                 ELSE 0.0 END, 6) AS bleu
    FROM d
    """,
)
def q_corpus_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus BLEU (`evalmetrics.corpus_bleu`, Papineni 2002) of the
    8-response fixture's 7 non-best responses against each prompt's
    top-scoring response — clipped per-pair n-gram precisions pooled
    corpus-wide, brevity penalty from corpus token lengths, fixed-order
    log fold. ONE stacked (n, gram) explode per side, one clip join."""
    from datas_spark.operators.evalmetrics import corpus_bleu

    return corpus_bleu(
        _gen_pairs(spark, sf_dir), "doc_id", "text", "ref_text", max_n=4
    )


@register(
    "rouge_n",
    oracle="WITH " + _GEN_EVAL_PAIRS_SQL.format(ns="1, 2") + """
    SELECT n, clipped, cand_total, ref_total,
           round(CASE WHEN cand_total > 0
                 THEN clipped::DOUBLE / cand_total::DOUBLE END, 6)
             AS rouge_precision,
           round(CASE WHEN ref_total > 0
                 THEN clipped::DOUBLE / ref_total::DOUBLE END, 6)
             AS rouge_recall,
           round(CASE WHEN cand_total > 0 AND ref_total > 0
                  AND (clipped::DOUBLE / cand_total::DOUBLE
                       + clipped::DOUBLE / ref_total::DOUBLE) > 0.0
                 THEN 2.0 * (clipped::DOUBLE / cand_total::DOUBLE)
                      * (clipped::DOUBLE / ref_total::DOUBLE)
                      / (clipped::DOUBLE / cand_total::DOUBLE
                         + clipped::DOUBLE / ref_total::DOUBLE) END, 6)
             AS rouge_f1
    FROM st ORDER BY n
    """,
)
def q_rouge_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Micro-averaged corpus ROUGE-1/ROUGE-2 (`evalmetrics.rouge_n`,
    Lin 2004) on the same responses-vs-best-response frame as
    `corpus_bleu` — the recall side of the generation readout (BLEU
    alone rewards short outputs; ROUGE recall exposes them)."""
    from datas_spark.operators.evalmetrics import rouge_n

    return rouge_n(
        _gen_pairs(spark, sf_dir), "doc_id", "text", "ref_text", ns=(1, 2)
    )
# Appended to datas_spark/registry_eval.py after the sf1 session.


# ---------------------------------------------------------------------------
# round-9 batch 2: generation-eval completion — diversity (distinct-n,
# Self-BLEU) and the tokenization-free chrF, on the same fixtures as
# corpus_bleu. All pure counting over the stacked-explode core; the
# only libm is the final ln/exp (BLEU BP) or nothing (distinct-n, chrF
# ratios).
# ---------------------------------------------------------------------------


@register(
    "distinct_n",
    oracle=r"""
    WITH toks AS (
      SELECT string_split_regex(trim(lower(text)), '\s+') AS t FROM documents
    ), ns AS (SELECT unnest([1, 2, 3]) AS n),
    g AS (
      SELECT ns.n,
             unnest(list_transform(range(1, len(t.t) - ns.n + 2),
                    j -> array_to_string(list_slice(t.t, j, j + ns.n - 1),
                                         ' '))) AS gram
      FROM toks t CROSS JOIN ns
    )
    SELECT n, count(DISTINCT gram)::BIGINT AS distinct_grams,
           count(*)::BIGINT AS total_grams,
           round(count(DISTINCT gram)::DOUBLE / count(*)::DOUBLE, 6)
             AS distinct_ratio
    FROM g GROUP BY n ORDER BY n
    """,
)
def q_distinct_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-1/2/3 diversity (`evalmetrics.distinct_n`, Li 2016)
    over the document corpus as the generated-set stand-in — the
    mode-collapse readout next to Self-BLEU. ONE stacked explode, one
    distinct-count aggregate per n."""
    from datas_spark.operators.evalmetrics import distinct_n

    docs = read_table(spark, sf_dir, "documents")
    return distinct_n(docs, "text", ns=(1, 2, 3))


@register(
    "self_bleu",
    oracle=r"""
    WITH base0 AS (
      SELECT doc_id // 8 AS g, doc_id AS id,
             string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents
    ), gsz AS (
      SELECT g FROM base0 GROUP BY g HAVING count(*) >= 2
    ), base AS (
      SELECT b.g, b.id, b.t, len(b.t) AS l FROM base0 b JOIN gsz USING (g)
    ), ns AS (SELECT unnest([1, 2, 3, 4]) AS n),
    cnts AS (
      SELECT g, id, n, gram, count(*)::BIGINT AS cnt FROM (
        SELECT b.g, b.id, ns.n,
               unnest(list_transform(range(1, len(b.t) - ns.n + 2),
                      j -> array_to_string(list_slice(b.t, j, j + ns.n - 1),
                                           ' '))) AS gram
        FROM base b CROSS JOIN ns
      ) GROUP BY 1, 2, 3, 4
    ), ranked AS (
      SELECT g, id, n, gram, cnt,
             row_number() OVER (PARTITION BY g, n, gram
                                ORDER BY cnt DESC, id ASC) AS rn
      FROM cnts
    ), top2 AS (
      SELECT g, n, gram,
             max(CASE WHEN rn = 1 THEN cnt END) AS m1,
             max(CASE WHEN rn = 1 THEN id END) AS a1,
             coalesce(max(CASE WHEN rn = 2 THEN cnt END), 0) AS m2
      FROM ranked WHERE rn <= 2 GROUP BY 1, 2, 3
    ), clip AS (
      SELECT c.n,
             sum(least(c.cnt, CASE WHEN t.a1 <> c.id THEN t.m1
                              ELSE t.m2 END))::BIGINT AS clipped
      FROM cnts c JOIN top2 t ON c.g = t.g AND c.n = t.n AND c.gram = t.gram
      GROUP BY 1
    ), tot AS (
      SELECT ns.n, sum(greatest(b.l - ns.n + 1, 0))::BIGINT AS cand_total
      FROM base b CROSS JOIN ns GROUP BY 1
    ), rl AS (
      SELECT sum(best)::BIGINT AS r_len FROM (
        SELECT a.id, b.l AS best,
               row_number() OVER (PARTITION BY a.g, a.id
                                  ORDER BY abs(b.l - a.l) ASC, b.l ASC,
                                           b.id ASC) AS rn
        FROM base a JOIN base b ON a.g = b.g AND a.id <> b.id
      ) WHERE rn = 1
    ), st AS (
      SELECT tot.n, coalesce(clip.clipped, 0) AS clipped, tot.cand_total
      FROM tot LEFT JOIN clip USING (n)
    ), m AS (
      SELECT max(CASE WHEN n=1 THEN clipped END) AS c1,
             max(CASE WHEN n=2 THEN clipped END) AS c2,
             max(CASE WHEN n=3 THEN clipped END) AS c3,
             max(CASE WHEN n=4 THEN clipped END) AS c4,
             max(CASE WHEN n=1 THEN cand_total END) AS t1,
             max(CASE WHEN n=2 THEN cand_total END) AS t2,
             max(CASE WHEN n=3 THEN cand_total END) AS t3,
             max(CASE WHEN n=4 THEN cand_total END) AS t4
      FROM st
    ), d AS (
      SELECT t1::DOUBLE AS c_len, (SELECT r_len FROM rl)::DOUBLE AS r_len,
             c1::DOUBLE / t1::DOUBLE AS p1, c2::DOUBLE / t2::DOUBLE AS p2,
             c3::DOUBLE / t3::DOUBLE AS p3, c4::DOUBLE / t4::DOUBLE AS p4
      FROM m
    )
    SELECT CAST(c_len AS BIGINT) AS c_len, CAST(r_len AS BIGINT) AS r_len,
           round(CASE WHEN c_len <= 0.0 THEN 0.0
                      WHEN c_len < r_len THEN exp(1.0 - r_len / c_len)
                      ELSE 1.0 END, 6) AS bp,
           round(p1, 6) AS p1, round(p2, 6) AS p2,
           round(p3, 6) AS p3, round(p4, 6) AS p4,
           round(CASE WHEN p1 > 0.0 AND p2 > 0.0 AND p3 > 0.0 AND p4 > 0.0
                       AND c_len > 0.0
                 THEN (CASE WHEN c_len <= 0.0 THEN 0.0
                            WHEN c_len < r_len THEN exp(1.0 - r_len / c_len)
                            ELSE 1.0 END)
                      * exp((((ln(p1) + ln(p2)) + ln(p3)) + ln(p4)) / 4.0)
                 ELSE 0.0 END, 6) AS self_bleu
    FROM d
    """,
)
def q_self_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-pooled Self-BLEU (`evalmetrics.self_bleu`, Zhu 2018) of
    the 8-response groups — each response against the other seven as
    multiple references via the top-2 per-(group, gram) clip ceiling
    (never an all-pairs gram join); effective reference length by the
    closest-other rank-1 window. The diversity readout paired with
    `distinct_n`: high Self-BLEU = the sampler repeats itself."""
    from datas_spark.operators.evalmetrics import self_bleu

    docs = read_table(spark, sf_dir, "documents")
    r = docs.select(
        F.floor(F.col("doc_id") / 8).cast("long").alias("pid"),
        "doc_id",
        "text",
    )
    return self_bleu(r, "pid", "doc_id", "text", max_n=4)


@register(
    "chrf_score",
    oracle=r"""
    WITH r AS (
      SELECT doc_id // 8 AS pid, doc_id, text, (n_chars % 97) AS score
      FROM documents
    ), best AS (
      SELECT pid, doc_id AS ref_id, text AS ref_text FROM (
        SELECT pid, doc_id, text,
               row_number() OVER (PARTITION BY pid
                                  ORDER BY score DESC, doc_id ASC) AS rn
        FROM r
      ) WHERE rn = 1
    ), pairs AS (
      SELECT r.doc_id,
             regexp_replace(trim(lower(r.text)), '\s+', '', 'g') AS c,
             regexp_replace(trim(lower(b.ref_text)), '\s+', '', 'g') AS rf
      FROM r JOIN best b ON r.pid = b.pid AND r.doc_id <> b.ref_id
    ), ns AS (SELECT unnest([1, 2, 3, 4, 5, 6]) AS n),
    cg AS (
      SELECT doc_id, n, g, count(*)::BIGINT AS cnt FROM (
        SELECT p.doc_id, ns.n,
               unnest(list_transform(range(1, length(p.c) - ns.n + 2),
                      j -> substr(p.c, j, ns.n))) AS g
        FROM pairs p CROSS JOIN ns
      ) GROUP BY 1, 2, 3
    ), rg AS (
      SELECT doc_id, n, g, count(*)::BIGINT AS cnt FROM (
        SELECT p.doc_id, ns.n,
               unnest(list_transform(range(1, length(p.rf) - ns.n + 2),
                      j -> substr(p.rf, j, ns.n))) AS g
        FROM pairs p CROSS JOIN ns
      ) GROUP BY 1, 2, 3
    ), clip AS (
      SELECT cg.n, sum(least(cg.cnt, rg.cnt))::BIGINT AS clipped
      FROM cg JOIN rg ON cg.doc_id = rg.doc_id AND cg.n = rg.n
                     AND cg.g = rg.g
      GROUP BY 1
    ), tot AS (
      SELECT ns.n,
             sum(greatest(length(p.c) - ns.n + 1, 0))::BIGINT AS cand_total,
             sum(greatest(length(p.rf) - ns.n + 1, 0))::BIGINT AS ref_total
      FROM pairs p CROSS JOIN ns GROUP BY 1
    ), st AS (
      SELECT tot.n, coalesce(clip.clipped, 0) AS clipped,
             tot.cand_total, tot.ref_total
      FROM tot LEFT JOIN clip USING (n)
    ), lay AS (
      SELECT n,
        CASE WHEN cand_total > 0
             THEN clipped::DOUBLE / cand_total::DOUBLE ELSE 0.0 END AS pl,
        CASE WHEN ref_total > 0
             THEN clipped::DOUBLE / ref_total::DOUBLE ELSE 0.0 END AS rl
      FROM st
    ), m AS (
      SELECT
        ((((max(CASE WHEN n=1 THEN pl END) + max(CASE WHEN n=2 THEN pl END))
           + max(CASE WHEN n=3 THEN pl END))
           + max(CASE WHEN n=4 THEN pl END))
           + max(CASE WHEN n=5 THEN pl END))
           + max(CASE WHEN n=6 THEN pl END) AS psum,
        ((((max(CASE WHEN n=1 THEN rl END) + max(CASE WHEN n=2 THEN rl END))
           + max(CASE WHEN n=3 THEN rl END))
           + max(CASE WHEN n=4 THEN rl END))
           + max(CASE WHEN n=5 THEN rl END))
           + max(CASE WHEN n=6 THEN rl END) AS rsum
      FROM lay
    ), pr AS (
      SELECT psum / 6.0 AS p, rsum / 6.0 AS r FROM m
    )
    SELECT round(p, 6) AS chrp, round(r, 6) AS chrr,
           round(CASE WHEN (4.0 * p + r) > 0.0
                 THEN 5.0 * p * r / (4.0 * p + r) ELSE 0.0 END, 6) AS chrf
    FROM pr
    """,
)
def q_chrf_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """chrF with beta=2 (`evalmetrics.chrf`, Popovic 2015) on the same
    responses-vs-best-response pairs as `corpus_bleu` — the character
    n-gram F-score that needs no tokenizer and so survives morphology
    where word BLEU shatters. Six stacked char-gram layers, one clip
    join, ratio means in fixed layer order."""
    from datas_spark.operators.evalmetrics import chrf

    return chrf(
        _gen_pairs(spark, sf_dir), "doc_id", "text", "ref_text",
        max_n=6, beta=2.0,
    )


# ---------------------------------------------------------------------------
# round-9 batch 4: calibration anatomy + multi-rater agreement.
# ---------------------------------------------------------------------------


@register(
    "brier_decomposition",
    oracle=r"""
    WITH lab AS (
      SELECT (('0x' || substr(md5('cal:' || event_id::VARCHAR), 1, 8))::BIGINT
              / 4294967296.0) AS p,
             (event_type = 'purchase')::INT AS y
      FROM events WHERE event_type IN ('purchase', 'view')
    ), qz AS (
      SELECT CAST(round(p * 1e9) AS BIGINT) AS pe, y::BIGINT AS y FROM lab
    ), binned AS (
      SELECT least(CAST(floor(pe * 10 / 1000000000) AS INT), 9) AS b, pe, y
      FROM qz
    ), per AS (
      SELECT b, count(*)::BIGINT AS n_b,
             sum(pe::HUGEINT) AS sp, sum(pe::HUGEINT * pe) AS spp,
             sum(y)::BIGINT AS sy, sum(pe::HUGEINT * y) AS spy
      FROM binned GROUP BY b
    ), f AS (
      SELECT
        list_reduce(list(n_b::DOUBLE ORDER BY b), (a, x) -> a + x) AS n,
        list_reduce(list(sy::DOUBLE ORDER BY b), (a, x) -> a + x) AS sy,
        list_reduce(list(spp::DOUBLE / 1e18 ORDER BY b),
                    (a, x) -> a + x) AS spp,
        list_reduce(list(spy::DOUBLE / 1e9 ORDER BY b),
                    (a, x) -> a + x) AS spy,
        list_reduce(list(n_b::DOUBLE * pow(sp::DOUBLE / 1e9 / n_b::DOUBLE
                                           - sy::DOUBLE / n_b::DOUBLE, 2)
                         ORDER BY b), (a, x) -> a + x) AS rel_n,
        list_reduce(list(spp::DOUBLE / 1e18
                         - n_b::DOUBLE
                           * pow(sp::DOUBLE / 1e9 / n_b::DOUBLE, 2)
                         ORDER BY b), (a, x) -> a + x) AS wbv_n,
        list_reduce(list(spy::DOUBLE / 1e9
                         - sp::DOUBLE / 1e9 * sy::DOUBLE / n_b::DOUBLE
                         ORDER BY b), (a, x) -> a + x) AS wbc_n
      FROM per
    ), g AS (
      SELECT f.*,
        (SELECT list_reduce(
           list(n_b::DOUBLE * pow(sy::DOUBLE / n_b::DOUBLE
                                  - f.sy / f.n, 2) ORDER BY b),
           (a, x) -> a + x) FROM per) AS res_n
      FROM f
    )
    SELECT CAST(n AS BIGINT) AS n,
           round((spp - 2.0 * spy + sy) / n, 6) AS brier,
           round(rel_n / n, 6) AS reliability,
           round(res_n / n, 6) AS resolution,
           round((sy / n) * (1.0 - sy / n), 6) AS uncertainty,
           round(wbv_n / n, 6) AS within_bin_var,
           round(wbc_n / n, 6) AS within_bin_cov
    FROM g
    """,
)
def q_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy/Stephenson Brier decomposition
    (`evalmetrics.brier_decomposition`) of the md5-proxy score against
    the purchase label — the same frame `proxy_calibration_ece` bins,
    now split into calibration gap, discrimination, irreducible
    uncertainty, and the two exact binning residuals. e9-quantized
    decimal-38 moments; per-bin folds in bin order."""
    ev = read_table(spark, sf_dir, "events")
    lab = ev.where(F.col("event_type").isin("purchase", "view")).select(
        hash_unit_interval(
            F.concat(F.lit("cal:"), F.col("event_id").cast("string"))
        ).alias("p"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    return EM.brier_decomposition(lab, "p", "y", bins=10)


@register(
    "annotator_alpha",
    oracle=r"""
    WITH r AS (
      SELECT doc_id AS u,
        CASE WHEN (('0x' || substr(md5(doc_id::VARCHAR || ':'
                                       || j::VARCHAR), 1, 8))::BIGINT
                   / 4294967296.0) < 0.8
             THEN 'c' || (n_chars % 4)::VARCHAR
             ELSE 'c' || ((n_chars + 1 + j) % 4)::VARCHAR END AS v
      FROM documents CROSS JOIN (SELECT unnest([0, 1, 2]) AS j)
    ), ruc AS (
      SELECT u, v, count(*)::BIGINT AS r FROM r GROUP BY 1, 2
    ), pu AS (
      SELECT u, sum(r)::BIGINT AS m, sum(r * r)::BIGINT AS rr
      FROM ruc GROUP BY u HAVING sum(r) >= 2
    ), un AS (
      SELECT count(*)::BIGINT AS n_units, sum(m)::BIGINT AS n,
             sum(((m * m - rr) * (840 // (m - 1)))::HUGEINT) AS do_s
      FROM pu
    ), nc AS (
      SELECT sum(t::HUGEINT * t) AS sncc FROM (
        SELECT sum(ruc.r)::BIGINT AS t
        FROM ruc SEMI JOIN pu ON ruc.u = pu.u GROUP BY ruc.v)
    )
    SELECT n_units, n AS n_ratings,
           round(CASE WHEN (n::DOUBLE * n::DOUBLE - sncc::DOUBLE) > 0.0
                 THEN 1.0 - (n::DOUBLE - 1.0) * do_s::DOUBLE
                      / (840.0 * (n::DOUBLE * n::DOUBLE - sncc::DOUBLE))
                 END, 6) AS alpha
    FROM un CROSS JOIN nc
    """,
)
def q_annotator_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha (`evalmetrics.krippendorff_alpha`) over a
    3-annotator synthetic labeling of documents (each annotator agrees
    with the n_chars-derived base category ~80% of the time,
    md5-deterministic flips otherwise) — the multi-rater, missing-
    tolerant agreement readout next to `cohens_kappa`. Exact integer
    coincidence algebra, one division."""
    docs = read_table(spark, sf_dir, "documents")
    r = docs.select(
        "doc_id",
        "n_chars",
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("j"),
    ).select(
        F.col("doc_id").alias("u"),
        F.when(
            hash_unit_interval(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("j").cast("string"),
                )
            )
            < 0.8,
            F.concat(F.lit("c"), (F.col("n_chars") % 4).cast("string")),
        )
        .otherwise(
            F.concat(
                F.lit("c"),
                ((F.col("n_chars") + 1 + F.col("j")) % 4).cast("string"),
            )
        )
        .alias("v"),
    )
    return EM.krippendorff_alpha(r, "u", "v", exact_scale=840)
