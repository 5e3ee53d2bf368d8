"""Ordered-funnel semantics: strict after-ordering, stage chaining,
0-safe percentages."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from datas_spark.operators import events as EV


def _ts(m):
    return dt.datetime(2026, 1, 1, 0, m)


@pytest.fixture(scope="module")
def ev(spark):
    rows = [
        # u1: full ordered funnel
        (1, _ts(1), "view"), (1, _ts(2), "click"), (1, _ts(3), "purchase"),
        # u2: clicks BEFORE viewing -> click must not count
        (2, _ts(2), "click"), (2, _ts(3), "view"),
        # u3: view+click, purchase before click -> no purchase credit
        (3, _ts(1), "view"), (3, _ts(4), "click"), (3, _ts(2), "purchase"),
        # u4: same-timestamp click (NOT strictly after) -> no credit
        (4, _ts(1), "view"), (4, _ts(1), "click"),
        # u5: never views
        (5, _ts(1), "purchase"),
    ]
    return spark.createDataFrame(rows, "user_id: long, ts: timestamp, event_type: string")


def test_funnel_counts_strict_ordering(ev):
    r = EV.funnel_counts(ev, ["view", "click", "purchase"]).collect()[0]
    assert (r["n_step_0"], r["n_step_1"], r["n_step_2"]) == (4, 2, 1)
    assert r["pct_1"] == 50.0
    assert r["pct_2"] == 50.0


def test_funnel_stage_times_pick_first_qualifying(ev, spark):
    extra = spark.createDataFrame(
        [(1, _ts(5), "click")], "user_id: long, ts: timestamp, event_type: string"
    )
    frames = EV.funnel_stage_times(ev.unionByName(extra), ["view", "click"])
    t1 = {r["user_id"]: r["t1"] for r in frames[1].collect()}
    assert t1[1] == _ts(2)  # first qualifying click, not the later one


def test_funnel_zero_safe(spark):
    ev = spark.createDataFrame(
        [(1, _ts(1), "view")], "user_id: long, ts: timestamp, event_type: string"
    )
    r = EV.funnel_counts(ev, ["view", "click", "purchase"]).collect()[0]
    assert (r["n_step_0"], r["n_step_1"], r["n_step_2"]) == (1, 0, 0)
    assert r["pct_1"] == 0.0 and r["pct_2"] == 0.0


def test_funnel_validation(ev):
    with pytest.raises(ValueError):
        EV.funnel_stage_times(ev, [])


def test_event_pattern_matches_consecutive_only(spark):
    from datas_spark.operators.events import event_pattern_matches

    rows = [
        # u1: exact consecutive sequence
        (1, _ts(1), 1, "view"), (1, _ts(2), 2, "click"), (1, _ts(3), 3, "purchase"),
        # u2: interrupted by an error event -> no match
        (2, _ts(1), 4, "view"), (2, _ts(2), 5, "click"),
        (2, _ts(3), 6, "error"), (2, _ts(4), 7, "purchase"),
        # u3: two full consecutive runs
        (3, _ts(1), 8, "view"), (3, _ts(2), 9, "click"), (3, _ts(3), 10, "purchase"),
        (3, _ts(4), 11, "view"), (3, _ts(5), 12, "click"), (3, _ts(6), 13, "purchase"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id: long, ts: timestamp, event_id: long, event_type: string"
    )
    got = {
        r["user_id"]: r["n_matches"]
        for r in event_pattern_matches(ev, "view,click,purchase").collect()
    }
    assert got == {1: 1, 3: 2}


def test_association_rules_lift(spark):
    """Items that always co-occur get lift > 1; independent ones ~ 1."""
    from datas_spark.registry import QUERIES  # noqa: F401  (registry import side effects)
    from pyspark.sql import functions as F

    # build baskets directly with the same algebra as the query
    rows = []
    for u in range(40):
        rows.append((u, "a"))
        if u % 2 == 0:
            rows.append((u, "b"))   # b occurs iff u even
        if u % 2 == 0:
            rows.append((u, "c"))   # c co-occurs exactly with b
    b = spark.createDataFrame(rows, "user_id: long, event_type: string").distinct()
    n = 40.0
    pair_bc = (
        b.where("event_type = 'b'")
        .join(
            b.where("event_type = 'c'").withColumnRenamed("event_type", "rhs"),
            "user_id",
        )
        .count()
    )
    supp_b = b.where("event_type = 'b'").count() / n
    supp_c = b.where("event_type = 'c'").count() / n
    lift_bc = (pair_bc / n) / (supp_b * supp_c)
    assert lift_bc == pytest.approx(2.0)  # perfectly correlated halves


# --- linear attribution (batch 58) --------------------------------------

def test_linear_attribution_splits_equally(spark):
    from datetime import datetime as dt
    rows = [
        # user u1: 2 views (items 1, 2) then a $10 purchase → 5e8 e6-cents each
        (1, "u1", dt(2024, 1, 1, 10, 0), "view", None, 1),
        (2, "u1", dt(2024, 1, 1, 10, 30), "view", None, 2),
        (3, "u1", dt(2024, 1, 1, 10, 45), "purchase", 10.0, None),
        # view outside the horizon → unattributed
        (4, "u2", dt(2024, 1, 1, 8, 0), "view", None, 3),
        (5, "u2", dt(2024, 1, 1, 10, 0), "purchase", 7.0, None),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id string, ts timestamp, event_type string, value double, item int"
    )
    out = {
        r.item: r
        for r in EV.linear_attribution(
            df, "user_id", "ts", "event_type",
            touch_type="view", convert_type="purchase",
            item_col="item", value_col="value", conv_id_col="event_id",
            horizon_minutes=60,
        ).collect()
    }
    assert out[1].attributed_e6 == 500 * 1_000_000  # half of 1000 cents
    assert out[2].attributed_e6 == 500 * 1_000_000
    assert 3 not in out
    assert out[1].n_touches == 1


def test_linear_attribution_integer_share_truncates(spark):
    from datetime import datetime as dt
    rows = [
        (1, "u", dt(2024, 1, 1, 10, 0), "view", None, 1),
        (2, "u", dt(2024, 1, 1, 10, 1), "view", None, 2),
        (3, "u", dt(2024, 1, 1, 10, 2), "view", None, 3),
        (4, "u", dt(2024, 1, 1, 10, 30), "purchase", 0.01, None),  # 1 cent / 3
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id string, ts timestamp, event_type string, value double, item int"
    )
    out = EV.linear_attribution(
        df, "user_id", "ts", "event_type",
        touch_type="view", convert_type="purchase",
        item_col="item", value_col="value", conv_id_col="event_id",
    ).collect()
    shares = sorted(r.attributed_e6 for r in out)
    assert shares == [333333, 333333, 333333]  # floor(1e6/3) each; remainder dropped


# ---------------------------------------------------------------------------
# round 6: frequent triples
# ---------------------------------------------------------------------------


def test_frequent_triples_hand_example(spark):
    from datas_spark.operators.events import frequent_triples

    # users 1..4 hold {a,b,c}; user 5 holds {a,b}; user 6 holds {a,c,d}
    rows = []
    for u in (1, 2, 3, 4):
        rows += [(u, "a"), (u, "b"), (u, "c")]
    rows += [(5, "a"), (5, "b"), (6, "a"), (6, "c"), (6, "d")]
    baskets = spark.createDataFrame(rows, "k long, i string")
    got = frequent_triples(baskets, "k", "i", min_support=4).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["item_a"], r["item_b"], r["item_c"]) == ("a", "b", "c")
    assert r["support_cnt"] == 4
    assert r["conf_ab_c"] == 0.8      # ab appears 5 times
    assert r["conf_ac_b"] == 0.8      # ac appears 5 times
    assert r["conf_bc_a"] == 1.0      # bc appears 4 times, all with a


def test_frequent_triples_min_support_filters(spark):
    from datas_spark.operators.events import frequent_triples

    rows = [(1, "x"), (1, "y"), (1, "z")]
    baskets = spark.createDataFrame(rows, "k long, i string")
    assert frequent_triples(baskets, "k", "i", min_support=2).count() == 0
    assert frequent_triples(baskets, "k", "i", min_support=1).count() == 1


def test_sequence_pair_support_order_matters(spark):
    from datas_spark.operators.events import sequence_pair_support

    # 3 users do a then b; 1 user does b then a; 1 user does only a
    rows = []
    for u, seq in [(1, "ab"), (2, "ab"), (3, "ab"), (4, "ba"), (5, "a")]:
        for t, it in enumerate(seq):
            rows.append((u, it, t))
    df = spark.createDataFrame(rows, "k long, i string, ts long")
    got = {
        (r["item_from"], r["item_to"]): r
        for r in sequence_pair_support(df, "k", "i", "ts", min_support=1).collect()
    }
    assert got[("a", "b")]["support_cnt"] == 3
    assert got[("b", "a")]["support_cnt"] == 1
    assert got[("a", "b")]["direction_ratio"] == 0.75
    assert got[("b", "a")]["direction_ratio"] == 0.25


def test_sequence_pair_support_strict_order(spark):
    from datas_spark.operators.events import sequence_pair_support

    # same timestamp: not "before", so no support either way
    df = spark.createDataFrame([(1, "a", 5), (1, "b", 5)], "k long, i string, ts long")
    assert sequence_pair_support(df, "k", "i", "ts", min_support=1).count() == 0


def test_retention_cohort_matrix_weekly(spark):
    from datas_spark.operators.events import retention_cohort_matrix

    rows = [
        # user 1: first week W0 (2026-01-05 is a Monday), active W0, W1, W3
        (1, "2026-01-06"), (1, "2026-01-13"), (1, "2026-01-28"),
        # user 2: same cohort, active W0 only (two events, one week)
        (2, "2026-01-05"), (2, "2026-01-09"),
        # user 3: cohort W1, active W1 and W2
        (3, "2026-01-14"), (3, "2026-01-19"),
    ]
    df = spark.createDataFrame(rows, "user_id long, d string").select(
        "user_id", F.to_timestamp("d").alias("ts")
    )
    got = {
        (str(r.cohort_start), r.period_offset): (
            r.n_active, r.cohort_size, r.retention_pct
        )
        for r in retention_cohort_matrix(df, "user_id", "ts").collect()
    }
    assert got[("2026-01-05", 0)] == (2, 2, 100.0)
    assert got[("2026-01-05", 1)] == (1, 2, 50.0)
    assert got[("2026-01-05", 3)] == (1, 2, 50.0)
    assert ("2026-01-05", 2) not in got  # nobody active that week
    assert got[("2026-01-12", 0)] == (1, 1, 100.0)
    assert got[("2026-01-12", 1)] == (1, 1, 100.0)


def test_cuped_readout_planted_values(spark):
    """Hand-computed CUPED on a planted frame: x perfectly predicts y
    in both arms (y = 2x + arm effect), so theta -> 2, the adjusted
    means recover the pure arm effect, and variance reduction -> 100%."""
    from datas_spark.operators.events import cuped_readout

    rows = []
    # arm 0: y = 2x; arm 1: y = 2x + 10 (the true treatment effect)
    for i, x in enumerate([1, 2, 3, 4, 5, 6]):
        rows.append((i, i % 2, x * 100, (2 * x + (10 if i % 2 else 0)) * 100))
    df = spark.createDataFrame(rows, "uid long, arm int, x long, y long")
    out = {r.arm: r for r in cuped_readout(df, "arm", "y", "x").collect()}
    assert set(out) == {0, 1}
    # pooled theta: cov(x,y)/var(x) -- the odd-i offset correlates with
    # x (odd x mean 4 vs even 3), so pooled theta overshoots the within-
    # arm slope of 2; it must stay in the plausible band
    assert 1.5 < out[0].theta < 3.5
    assert out[0].theta == out[1].theta  # pooled, not per-arm
    # CUPED never changes the DIFFERENCE estimand's unbiasedness, and
    # here it must tighten the gap toward the true effect of 1000 cents
    raw_gap = out[1].mean_y - out[0].mean_y
    adj_gap = out[1].mean_y_cuped - out[0].mean_y_cuped
    assert abs(adj_gap - 1000.0) <= abs(raw_gap - 1000.0) + 1e-6
    # x explains most of y's variance -> large pooled reduction
    assert out[0].var_reduction_pct > 50.0
    # zero-variance covariate degrades gracefully: theta = 0, no adjust
    flat = spark.createDataFrame(
        [(1, 0, 5, 10), (2, 1, 5, 30)], "uid long, arm int, x long, y long"
    )
    out2 = {r.arm: r for r in cuped_readout(flat, "arm", "y", "x").collect()}
    assert out2[0].theta == 0.0
    assert out2[0].mean_y_cuped == out2[0].mean_y


def test_srm_check_fires_on_biased_split_only(spark):
    from datas_spark.operators.events import srm_check
    import pytest as _pytest

    # clean 50/50: no alarm
    ok = spark.createDataFrame(
        [(i, i % 2) for i in range(2000)], "uid long, arm int"
    ).select("arm")
    r = srm_check(ok, "arm", {0: 0.5, 1: 0.5}).collect()[0]
    assert (r.n_units, r.n_arms, r.srm_flag) == (2000, 2, 0)
    assert r.chi2 == 0.0
    # 10% of arm 1 lost (the classic lossy-logging SRM): alarm fires
    biased = spark.createDataFrame(
        [(i, i % 2) for i in range(2000) if not (i % 2 == 1 and i % 10 == 1)],
        "uid long, arm int",
    ).select("arm")
    r2 = srm_check(biased, "arm", {0: 0.5, 1: 0.5}).collect()[0]
    assert r2.srm_flag == 1 and r2.chi2 > 10.828
    # an observed arm OUTSIDE the declared allocation -> NULL chi2
    stray = spark.createDataFrame([(0,), (1,), (7,)], "arm int")
    r3 = srm_check(stray, "arm", {0: 0.5, 1: 0.5}).collect()[0]
    assert r3.chi2 is None and r3.srm_flag is None
    # three-arm support with unequal shares
    three = spark.createDataFrame(
        [(0,)] * 500 + [(1,)] * 250 + [(2,)] * 250, "arm int"
    )
    r4 = srm_check(three, "arm", {0: 0.5, 1: 0.25, 2: 0.25}).collect()[0]
    assert (r4.chi2, r4.srm_flag) == (0.0, 0)
    # config validation
    with _pytest.raises(ValueError):
        srm_check(ok, "arm", {0: 0.6, 1: 0.5})
    with _pytest.raises(ValueError):
        srm_check(ok, "arm", {0: 1.0})


def test_did_readout_recovers_planted_effect(spark):
    """DiD on a planted panel: control drifts +30, treated drifts
    +30 plus a true effect of +50 -> did == 50 exactly; t is large
    when within-arm delta noise is small."""
    from datas_spark.operators.events import did_readout

    rows = []
    for i in range(40):
        arm = i % 2
        pre = 100 + (i % 5)  # small unit heterogeneity
        # shared drift + effect + noise keyed by the (control, treated)
        # pair index so both arms see the identical noise sequence
        post = pre + 30 + (50 if arm else 0) + (i // 2 % 3)
        rows.append((arm, pre, post))
    df = spark.createDataFrame(rows, "arm int, pre long, post long")
    r = did_readout(df, "arm", "pre", "post").collect()[0]
    assert (r.n_treat, r.n_control) == (20, 20)
    # pair-indexed noise has the same mean in both arms, so the
    # planted effect is recovered exactly
    assert r.did == 50.0
    assert r.se > 0 and r.t_stat > 10
    # removing the effect zeroes the estimate
    df0 = spark.createDataFrame(
        [(a, p, q - (50 if a else 0)) for a, p, q in rows],
        "arm int, pre long, post long",
    )
    assert did_readout(df0, "arm", "pre", "post").collect()[0].did == 0.0


def test_power_mde_shrinks_with_n(spark):
    """MDE must scale like 1/sqrt(n): quadrupling the population at
    the same variance halves the detectable effect."""
    from datas_spark.operators.events import power_mde

    base = [(i % 7 * 10,) for i in range(140)]
    small = spark.createDataFrame(base, "y long")
    big = spark.createDataFrame(base * 4, "y long")
    r1 = power_mde(small, "y").collect()[0]
    r4 = power_mde(big, "y").collect()[0]
    assert r1.n_units == 140 and r4.n_units == 560
    assert abs(r1.sd_y - r4.sd_y) < 0.2  # same distribution
    assert abs(r4.mde_abs - r1.mde_abs / 2) < 0.05
    # alpha/power constants: MDE = 2.8016 * sqrt(2 var / (n/2))
    import math

    var = r1.sd_y**2
    want = (1.959963984540054 + 0.8416212335729143) * math.sqrt(
        2 * var / (140 / 2)
    )
    assert abs(r1.mde_abs - want) < 0.01


def test_sequential_looks_obf_boundaries_gate_early_peeks(spark):
    """A moderate effect (z ~ 2.5 at every look) must NOT cross the
    4.333/2.963 early boundaries but cross the 2.359/2.014 late ones —
    the exact property that makes weekly peeking legal."""
    from datas_spark.operators.events import sequential_looks

    rows = []
    for look in (1, 2, 3, 4):
        for u in range(400):
            arm = u % 2
            # pair-indexed noise (identical sequence in both arms):
            # values 0..199 -> per-arm sample sd sqrt(200*201/12) = 57.9,
            # Welch se = sqrt(2*3350/200) = 5.788; effect 15 -> z = 2.59
            y = (u // 2) + (15 if arm else 0)
            rows.append((look, arm, y))
    df = spark.createDataFrame(rows, "look int, arm int, y long")
    out = {r.look: r for r in sequential_looks(df, "look", "arm", "y").collect()}
    assert [out[t].obf_bound for t in (1, 2, 3, 4)] == [4.333, 2.963, 2.359, 2.014]
    zs = {t: out[t].z for t in (1, 2, 3, 4)}
    assert all(2.0 < zs[t] < 3.0 for t in zs), zs
    assert [out[t].crossed for t in (1, 2, 3, 4)] == [0, 0, 1, 1]


def test_sequential_looks_null_se_yields_null_crossed(spark):
    from datas_spark.operators.events import sequential_looks

    df = spark.createDataFrame(
        [(1, 0, 5), (1, 0, 5), (1, 1, 5), (1, 1, 5)],
        "look int, arm int, y long",
    )
    r = sequential_looks(df, "look", "arm", "y").collect()[0]
    assert r.se == 0.0 and r.z is None and r.crossed is None


def test_quantile_treatment_effect_exact_order_statistics(spark):
    """Control = 1..100, treated = control + 10 at every rank: QTE is
    exactly 10 at every p; type-1 quantile = ceil(p*n)-th smallest."""
    from datas_spark.operators.events import quantile_treatment_effect

    rows = [(0, i) for i in range(1, 101)] + [(1, i + 10) for i in range(1, 101)]
    df = spark.createDataFrame(rows, "arm int, y long")
    out = {r.p: r for r in quantile_treatment_effect(df, "arm", "y", (0.5, 0.9)).collect()}
    assert out[0.5].q_control == 50 and out[0.5].q_treat == 60
    assert out[0.9].q_control == 90 and out[0.9].q_treat == 100
    assert out[0.5].qte == 10 and out[0.9].qte == 10
    assert out[0.5].n_treat == 100 and out[0.5].n_control == 100


def test_quantile_treatment_effect_sees_tail_only_effect(spark):
    """A whales-only treatment (top decile doubled) must leave the
    median QTE at 0 and move p90 — the property means can't show."""
    from datas_spark.operators.events import quantile_treatment_effect
    import pytest as _pytest

    rows = [(0, i) for i in range(1, 101)] + [
        (1, i * 2 if i > 85 else i) for i in range(1, 101)
    ]
    df = spark.createDataFrame(rows, "arm int, y long")
    out = {r.p: r for r in quantile_treatment_effect(df, "arm", "y", (0.5, 0.9)).collect()}
    assert out[0.5].qte == 0
    assert out[0.9].qte > 0
    with _pytest.raises(ValueError):
        quantile_treatment_effect(df, "arm", "y", (0.0,))


def test_markov_attribution_credits_feeder_channels(spark):
    """A channel that ONLY feeds another channel (never last-touch)
    must still earn credit — the property last-touch attribution
    denies. Fixture: every conversion path is view -> click -> conv;
    last-touch gives view nothing, Markov removal gives view 100% of
    what click gets (removing either kills every conversion)."""
    from datas_spark.operators.events import markov_attribution
    import datetime as dtm

    T = dtm.datetime
    rows = []
    eid = 0
    for u in range(10):
        eid += 3
        rows += [
            (u, T(2024, 1, 1, 10, 0), eid - 2, "view"),
            (u, T(2024, 1, 1, 10, 1), eid - 1, "click"),
            (u, T(2024, 1, 1, 10, 2), eid, "purchase"),
        ]
    # plus two non-converting view-only users so p_base < 1
    rows += [(100, T(2024, 1, 1, 10, 0), 900, "view"),
             (101, T(2024, 1, 1, 10, 0), 901, "view")]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    out = {r.channel: r for r in markov_attribution(
        df, "user_id", "ts", "event_id", "event_type", "purchase"
    ).collect()}
    assert set(out) == {"view", "click"}
    # removing either channel severs every converting path
    assert out["view"].removal_effect == 1.0
    assert out["click"].removal_effect == 1.0
    assert out["view"].attribution_pct == 50.0
    assert out["click"].attribution_pct == 50.0
    assert out["view"].attributed_conversions == 5.0  # half of 10


def test_markov_attribution_journey_rules(spark):
    """Touches after conversion are outside the journey; a bare
    conversion contributes start->conv; ties order by event_id."""
    from datas_spark.operators.events import markov_attribution
    import datetime as dtm

    T = dtm.datetime
    rows = [
        # u1 converts, then views afterwards (must not count)
        (1, T(2024, 1, 1, 9, 0), 1, "click"),
        (1, T(2024, 1, 1, 10, 0), 2, "purchase"),
        (1, T(2024, 1, 1, 11, 0), 3, "view"),
        # u2: bare conversion
        (2, T(2024, 1, 1, 9, 0), 4, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    out = {r.channel: r for r in markov_attribution(
        df, "user_id", "ts", "event_id", "event_type", "purchase"
    ).collect()}
    # 'view' never appears inside a journey -> it is not a channel
    assert set(out) == {"click"}
    # removing click still leaves u2's bare conversion: p drops 2/2 -> 1/2
    assert out["click"].removal_effect == 0.5
    assert out["click"].p_conv_base == 1.0


def test_markov_attribution_rounds_ties_half_up(spark):
    """The driver-side rounding matches Spark's and DuckDB's HALF_UP
    ``round``, not Python's half-even: one journey through 8 distinct
    channels credits each with 1/8 = 0.125 conversions, which both
    engines round to 0.13 at 2 dp."""
    from datas_spark.operators.events import markov_attribution
    import datetime as dtm

    T = dtm.datetime
    rows = [(1, T(2024, 1, 1, 10, i), i, f"c{i}") for i in range(8)]
    rows.append((1, T(2024, 1, 1, 10, 8), 8, "buy"))
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    out = markov_attribution(
        df, "user_id", "ts", "event_id", "event_type", "buy", n_steps=16
    ).collect()
    assert [r.channel for r in out] == [f"c{i}" for i in range(8)]
    assert spark.sql("SELECT round(0.125D, 2) AS r").first().r == 0.13
    for r in out:
        assert r.removal_effect == 1.0
        assert r.attribution_pct == 12.5
        assert r.attributed_conversions == 0.13


def test_uplift_curve_front_loads_incremental_conversions(spark):
    """A perfect uplift score (converts iff treated AND high score)
    shows qini == all incremental conversions at the high threshold
    and a flat tail; a random score tracks ~0 uplift."""
    from datas_spark.operators.events import uplift_curve

    rows = []
    for i in range(200):
        arm = i % 2
        hi = 1 if i < 100 else 0  # first half scored high
        # converts only when treated AND high-scored
        y = 1 if (arm == 1 and hi == 1) else 0
        rows.append((arm, hi, y))
    df = spark.createDataFrame(rows, "arm int, s int, y int")
    out = {r.score_threshold: r for r in uplift_curve(df, "arm", "s", "y").collect()}
    top = out[1]
    assert (top.n_treat, top.n_control) == (50, 50)
    assert top.conv_treat == 50 and top.conv_control == 0
    assert top.qini == 50.0 and top.uplift_pct == 100.0
    full = out[0]
    assert (full.n_treat, full.n_control) == (100, 100)
    assert full.qini == 50.0          # no more incremental conv below
    assert full.uplift_pct == 50.0    # dilution halves the rate gap


def test_hte_segments_flags_planted_heterogeneity(spark):
    """Two segments with the same effect -> Q ~ 0, no flag; a planted
    segment-dependent effect -> Q large, flag fires; pooled estimate
    sits between the per-segment diffs."""
    from datas_spark.operators.events import hte_segments

    def frame(eff_b):
        rows = []
        for i in range(400):
            segment = "a" if i < 200 else "b"
            arm = i % 2
            eff = 50 if segment == "a" else eff_b
            rows.append((segment, arm, (i // 2) % 20 + (eff if arm else 0)))
        return spark.createDataFrame(rows, "segment string, arm int, y long")

    homo = {r.segment: r for r in hte_segments(frame(50), "segment", "arm", "y").collect()}
    assert homo["a"].diff == 50.0 and homo["b"].diff == 50.0
    assert homo["a"].q_stat == 0.0 and homo["a"].het_flag == 0
    assert homo["a"].pooled_diff == 50.0
    assert homo["a"].df == 1

    het = {r.segment: r for r in hte_segments(frame(5), "segment", "arm", "y").collect()}
    assert het["a"].diff == 50.0 and het["b"].diff == 5.0
    assert het["a"].het_flag == 1
    assert 5.0 < het["a"].pooled_diff < 50.0
    # same scalars on every row (pooled/Q are cross-segment)
    assert het["a"].q_stat == het["b"].q_stat


def test_hte_segments_degenerate_segment_excluded(spark):
    """A segment with a single unit per arm (no variance df) is
    excluded from the pooled fold; with only one valid segment the
    Q test has df 0 and stays NULL."""
    from datas_spark.operators.events import hte_segments

    rows = [("big", i % 2, (i // 2) % 10 + (7 if i % 2 else 0)) for i in range(100)]
    rows += [("tiny", 0, 5), ("tiny", 1, 9)]
    df = spark.createDataFrame(rows, "segment string, arm int, y long")
    out = {r.segment: r for r in hte_segments(df, "segment", "arm", "y").collect()}
    assert out["tiny"].se is None
    assert out["big"].df == 0
    assert out["big"].q_stat is None and out["big"].het_flag is None
    assert out["big"].pooled_diff == out["big"].diff


def test_trimmed_readout_resists_whales(spark):
    """One mega-outlier in the treated arm swings the raw mean but not
    the 5%-trimmed readout; thresholds are per-arm and tie-inclusive."""
    from datas_spark.operators.events import trimmed_readout

    base = [(a, v) for v in range(1, 101) for a in (0, 1)]
    clean = spark.createDataFrame(base, "arm int, y long")
    r0 = trimmed_readout(clean, "arm", "y", trim=0.05).collect()[0]
    assert r0.trimmed_diff == 0.0  # identical arms
    assert r0.lo_treat == 5 and r0.hi_treat == 95  # ceil(.05*100)=5th val

    whale = spark.createDataFrame(
        base + [(1, 10_000_000)], "arm int, y long"
    )
    r1 = trimmed_readout(whale, "arm", "y", trim=0.05).collect()[0]
    # raw means differ by ~99k; the trimmed readout barely moves
    assert abs(r1.trimmed_diff) < 2.0
    assert r1.n_treat == 101 and r1.kept_treat < r1.n_treat

    import pytest as _pytest

    with _pytest.raises(ValueError):
        trimmed_readout(clean, "arm", "y", trim=0.5)


def test_sequential_looks_out_of_range_look_yields_null_bound(spark):
    """A 0-based look column or a 5th look against the default K=4
    table must yield NULL obf_bound/crossed, not abort the job under
    ANSI mode with INVALID_ARRAY_INDEX. The guard is a range-checked
    F.when around element_at (try_element_at was insufficient — it
    still raises INVALID_INDEX_OF_ZERO at index 0; see the operator
    comment in events.sequential_looks)."""
    from datas_spark.operators.events import sequential_looks

    rows = []
    for look in (0, 5):
        for u in range(40):
            rows.append((look, u % 2, u + (10 if u % 2 else 0)))
    df = spark.createDataFrame(rows, "look int, arm int, y long")
    out = {r.look: r for r in sequential_looks(df, "look", "arm", "y").collect()}
    for t in (0, 5):
        assert out[t].obf_bound is None and out[t].crossed is None
        assert out[t].z is not None  # the stats themselves still compute


def test_bayes_ab_readout_matches_exact_beta_integral(spark):
    """Planted 60/100 vs 50/100: P(p_T > p_C) must match a dense
    independent numerical integral of the two Beta posteriors, and the
    expected-loss difference must equal the posterior-mean difference
    (the identity E[(a-b)+] - E[(b-a)+] = E[a] - E[b], which also pins
    the grid mean to the closed-form conjugate mean within O(1/G^2))."""
    import numpy as np

    from datas_spark.operators.events import bayes_ab_readout

    rows = [(1, 1)] * 60 + [(1, 0)] * 40 + [(0, 1)] * 50 + [(0, 0)] * 50
    df = spark.createDataFrame(rows, "arm int, y int")
    r = bayes_ab_readout(df, "arm", "y").collect()[0]

    # dense independent integral (8192 cells, float128-free but fine)
    x = (2 * np.arange(8192) + 1) / (2 * 8192.0)
    def post(c, n):
        lp = c * np.log(x) + (n - c) * np.log1p(-x)
        w = np.exp(lp - lp.max())
        return w / w.sum()
    wT, wC = post(60, 100), post(50, 100)
    cdfC = np.cumsum(wC)
    p_exact = float(np.sum(wT * (cdfC - 0.5 * wC)))
    assert abs(r.p_treat_beats_control - p_exact) < 2e-3, (
        r.p_treat_beats_control, p_exact)

    assert abs(
        (r.exp_loss_control - r.exp_loss_treat)
        - (r.pm_treat - r.pm_control)
    ) < 1e-4
    assert r.pm_treat == round(61 / 102, 6)  # closed-form conjugate mean
    assert r.pm_control == round(51 / 102, 6)


def test_bayes_ab_readout_symmetric_arms(spark):
    from datas_spark.operators.events import bayes_ab_readout

    rows = ([(1, 1)] * 30 + [(1, 0)] * 70) + ([(0, 1)] * 30 + [(0, 0)] * 70)
    df = spark.createDataFrame(rows, "arm int, y int")
    r = bayes_ab_readout(df, "arm", "y").collect()[0]
    assert abs(r.p_treat_beats_control - 0.5) < 5e-3
    assert abs(r.exp_loss_treat - r.exp_loss_control) < 1e-4


def test_bayes_ab_readout_validates_params(spark):
    import pytest as _pytest

    from datas_spark.operators.events import bayes_ab_readout

    df = spark.createDataFrame([(0, 1), (1, 0)], "arm int, y int")
    with _pytest.raises(ValueError):
        bayes_ab_readout(df, "arm", "y", alpha=0.0)
    with _pytest.raises(ValueError):
        bayes_ab_readout(df, "arm", "y", beta=-1.0)
    with _pytest.raises(ValueError):
        bayes_ab_readout(df, "arm", "y", grid=8)
