import pytest

from datas_spark.operators import evalmetrics as EM


def _rank_frames(spark):
    preds = spark.createDataFrame(
        # u1: hit at rank 2; u2: hit at rank 1; u3: no hit
        [("u1", "a", 1), ("u1", "b", 2), ("u2", "c", 1), ("u3", "x", 1)],
        ["u", "i", "r"],
    )
    truth = spark.createDataFrame(
        [("u1", "b"), ("u1", "z"), ("u2", "c"), ("u3", "q")], ["u", "i"]
    )
    return preds, truth


def test_ranking_metrics_hand_example(spark):
    preds, truth = _rank_frames(spark)
    row = EM.ranking_metrics(preds, truth, "u", "i", "r", k=2).collect()[0]
    assert row.n_users == 3
    # MRR = (1/2 + 1 + 0) / 3
    assert row.mrr == pytest.approx(0.5, abs=1e-6)
    # recall@2: u1 1/min(2,2); u2 1/min(1,2); u3 0 → (0.5 + 1 + 0)/3
    assert row.recall_at_k == pytest.approx(0.5, abs=1e-6)


def test_ranking_metrics_exact_scale_matches_float_path(spark):
    preds, truth = _rank_frames(spark)
    a = EM.ranking_metrics(preds, truth, "u", "i", "r", k=2).collect()[0]
    b = EM.ranking_metrics(
        preds, truth, "u", "i", "r", k=2, exact_scale=60
    ).collect()[0]
    assert (a.n_users, a.mrr, a.recall_at_k) == (b.n_users, b.mrr, b.recall_at_k)


def test_ranking_metrics_rejects_bad_scale(spark):
    preds, truth = _rank_frames(spark)
    with pytest.raises(ValueError, match="divisible"):
        EM.ranking_metrics(preds, truth, "u", "i", "r", k=4, exact_scale=6)


def test_ranking_metrics_exact_scale_rejects_rank_beyond_k(spark):
    # the exact path's bit-exactness contract requires rank <= k; a
    # rank-3 prediction at k=2 must fail loudly, not floor-truncate MRR
    preds = spark.createDataFrame(
        [("u1", "a", 1), ("u1", "b", 3)], ["u", "i", "r"]
    )
    truth = spark.createDataFrame([("u1", "b")], ["u", "i"])
    with pytest.raises(Exception, match="rank <= k"):
        EM.ranking_metrics(
            preds, truth, "u", "i", "r", k=2, exact_scale=2
        ).collect()
    # the float path has no such restriction: rank-3 hit → MRR = 1/3
    row = EM.ranking_metrics(preds, truth, "u", "i", "r", k=2).collect()[0]
    assert row.mrr == pytest.approx(1 / 3, abs=1e-6)


def test_binary_auc_precision_bounds_distinct_scores(spark):
    # continuous scores: precision=1 buckets them before the cumulative
    # window; the AUC equals the exact AUC of the rounded scores
    rows = [(i / 97.0, 1 if i % 3 == 0 else 0) for i in range(200)]
    df = spark.createDataFrame(rows, ["s", "y"])
    got = EM.binary_auc(df, "s", "y", precision=1).collect()[0]
    rounded = spark.createDataFrame(
        [(round(s, 1), y) for s, y in rows], ["s", "y"]
    )
    want = EM.binary_auc(rounded, "s", "y").collect()[0]
    assert (got.n_pos, got.n_neg, got.auc) == (want.n_pos, want.n_neg, want.auc)


def test_lift_table_precision_matches_prerounded(spark):
    rows = [(i / 37.0, 1 if i % 4 == 0 else 0) for i in range(120)]
    df = spark.createDataFrame(rows, ["s", "y"])
    got = EM.lift_table(df, "s", "y", bins=5, precision=1).collect()
    rounded = spark.createDataFrame(
        [(round(s, 1), y) for s, y in rows], ["s", "y"]
    )
    want = EM.lift_table(rounded, "s", "y", bins=5).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_binary_auc_perfect_and_random(spark):
    perfect = spark.createDataFrame(
        [(float(i), 1 if i >= 5 else 0) for i in range(10)], ["s", "y"]
    )
    row = EM.binary_auc(perfect, "s", "y").collect()[0]
    assert (row.n_pos, row.n_neg, row.auc) == (5, 5, 1.0)
    # all scores tied → AUC exactly 0.5 by the tie correction
    tied = spark.createDataFrame([(1.0, i % 2) for i in range(10)], ["s", "y"])
    assert EM.binary_auc(tied, "s", "y").collect()[0].auc == 0.5


def test_binary_auc_hand_computed_with_ties(spark):
    # scores: neg {1, 2}, pos {2, 3} → pairs: (1<2)=1, (1<3)=1, (2=2)=.5, (2<3)=1
    df = spark.createDataFrame(
        [(1.0, 0), (2.0, 0), (2.0, 1), (3.0, 1)], ["s", "y"]
    )
    row = EM.binary_auc(df, "s", "y").collect()[0]
    assert row.auc == pytest.approx(3.5 / 4)


def test_cohens_kappa_perfect_and_chance(spark):
    same = spark.createDataFrame([("x", "x")] * 5 + [("y", "y")] * 5, ["a", "b"])
    assert EM.cohens_kappa(same, "a", "b").collect()[0].kappa == 1.0
    # independent labels with identical marginals → kappa ≈ 0
    rows = [("x", "x"), ("x", "y"), ("y", "x"), ("y", "y")]
    row = EM.cohens_kappa(spark.createDataFrame(rows, ["a", "b"]), "a", "b").collect()[0]
    assert row.kappa == pytest.approx(0.0, abs=1e-9)
    assert row.po == 0.5 and row.pe == 0.5


def test_binary_auc_sliced_matches_per_slice(spark):
    rows = [("a", float(i), 1 if i >= 5 else 0) for i in range(10)] + [
        ("b", float(i), 1 if i < 5 else 0) for i in range(10)  # anti-predictive
    ]
    df = spark.createDataFrame(rows, ["g", "s", "y"])
    out = {r.g: r.auc for r in EM.binary_auc(df, "s", "y", by=["g"]).collect()}
    assert out["a"] == 1.0 and out["b"] == 0.0
    # global AUC hides it
    assert EM.binary_auc(df, "s", "y").collect()[0].auc == 0.5


def test_lift_table_top_band_captures_positives(spark):
    # top 20 scores are the positives → bands 0-1 have lift 5, rest 0
    df = spark.createDataFrame(
        [(float(i), 1 if i >= 80 else 0) for i in range(100)], ["s", "y"]
    )
    rows = {r.band: r for r in EM.lift_table(df, "s", "y", bins=10).collect()}
    assert len(rows) == 10
    assert rows[0].response_rate == 1.0 and rows[0].lift == 5.0
    assert rows[1].cum_gain == 1.0          # all positives captured by band 1
    assert rows[9].response_rate == 0.0
    assert sum(r.n for r in rows.values()) == 100


def test_calibration_ece_perfectly_calibrated_is_low(spark):
    # p = k/10 with observed rate exactly k/10 within each bin
    rows = []
    for k in range(10):
        p = k / 10 + 0.05
        n_pos = k  # of 10 rows per bin... rate k/10
        for i in range(10):
            rows.append((p, 1 if i < k else 0))
    df = spark.createDataFrame(rows, ["p", "y"])
    out = EM.calibration_ece(df, "p", "y", bins=10).collect()
    ece = out[0].ece
    # |mean_pred − rate| = 0.05 in every bin → ECE = 0.05 exactly
    assert ece == pytest.approx(0.05, abs=1e-6)
    assert all(r.ece == ece for r in out)


def test_calibration_ece_top_edge_folds_into_last_bin(spark):
    df = spark.createDataFrame([(1.0, 1), (0.95, 1)], ["p", "y"])
    out = EM.calibration_ece(df, "p", "y", bins=10).collect()
    assert len(out) == 1 and out[0].bin == 9 and out[0].n == 2


def test_classification_prf1_hand_example(spark):
    pairs = [("a", "a"), ("a", "a"), ("a", "b"), ("b", "b"), ("c", "a")]
    df = spark.createDataFrame(pairs, ["t", "p"])
    got = {r.label: r for r in EM.classification_prf1(df, "t", "p").collect()}
    # class a: tp 2, fp 1 (c→a), fn 1 (a→b)
    assert (got["a"].tp, got["a"].fp, got["a"].fn) == (2, 1, 1)
    assert got["a"].precision == pytest.approx(2 / 3)
    assert got["a"].recall == pytest.approx(2 / 3)
    # class c: never predicted → precision NULL, recall 0
    assert got["c"].precision is None and got["c"].recall == 0.0


def test_ndcg_at_k_perfect_and_miss(spark):
    preds = spark.createDataFrame(
        [("u1", "a", 1), ("u1", "b", 2), ("u2", "x", 1)], ["u", "i", "r"]
    )
    truth = spark.createDataFrame([("u1", "a"), ("u1", "b"), ("u2", "q")], ["u", "i"])
    row = EM.ndcg_at_k(preds, truth, "u", "i", "r", k=2).collect()[0]
    # u1 perfect (ndcg 1), u2 zero hits (ndcg 0) → mean 0.5
    assert row.n_users == 2
    assert row.ndcg_at_k == pytest.approx(0.5, abs=1e-6)


def test_ndcg_rank_position_matters(spark):
    truth = spark.createDataFrame([("u", "a")], ["u", "i"])
    hi = spark.createDataFrame([("u", "a", 1)], ["u", "i", "r"])
    lo = spark.createDataFrame([("u", "a", 3), ("u", "z", 1)], ["u", "i", "r"])
    v_hi = EM.ndcg_at_k(hi, truth, "u", "i", "r", k=3).collect()[0].ndcg_at_k
    v_lo = EM.ndcg_at_k(lo, truth, "u", "i", "r", k=3).collect()[0].ndcg_at_k
    assert v_hi == 1.0 and 0 < v_lo < 1.0


# ------------------------------------------------------------------
# round 8: Bradley-Terry ratings + pass@k
# ------------------------------------------------------------------


def test_bt_rating_matches_reference_mm(spark):
    """5 MM steps must equal a plain-Python Hunter-2004 implementation
    term for term (same fold order, same per-step 12-dp resync)."""
    rows = (
        [("A", "B")] * 3
        + [("B", "A")]
        + [("B", "C")] * 2
        + [("C", "B")]
        + [("A", "C")] * 2
    )
    df = spark.createDataFrame(rows, ["winner", "loser"])
    got = {
        r.item: r for r in EM.bt_rating_k(df, "winner", "loser", 5).collect()
    }

    import collections

    wins = collections.Counter(rows)
    items = sorted({x for r in rows for x in r})
    k = len(items)
    ix = {it: i for i, it in enumerate(items)}
    W = [0.0] * k
    N = [[0.0] * k for _ in range(k)]
    for (w, l), c in wins.items():
        W[ix[w]] += c
        N[ix[w]][ix[l]] += c
        N[ix[l]][ix[w]] += c
    p = [1.0 / k] * k
    for _ in range(5):
        r = []
        for i in range(k):
            den = sum(
                N[i][j] / (p[i] + p[j])
                for j in range(k)
                if j != i and N[i][j] > 0
            )
            r.append(W[i] / den if den > 0 else p[i])
        z = sum(r)
        p = [round(x / z, 12) if z > 0 else x for x in r]
    for it in items:
        assert got[it].rating == round(p[ix[it]], 6)
        assert got[it].n_wins == int(W[ix[it]])
        assert got[it].n_games == int(sum(N[ix[it]]))


def test_bt_rating_orders_by_strength_and_sums_to_one(spark):
    """A dominant item must out-rate everyone; ratings stay a
    distribution; an item that never wins converges to ~0."""
    rows = [("A", "B")] * 9 + [("B", "A")] + [("B", "C")] * 9 + [("A", "C")] * 9
    df = spark.createDataFrame(rows, ["winner", "loser"])
    out = {r.item: r.rating for r in EM.bt_rating_k(df, "winner", "loser", 8).collect()}
    assert out["A"] > out["B"] > out["C"]
    assert abs(sum(out.values()) - 1.0) < 1e-6
    assert out["C"] < 0.01  # zero wins -> rating decays to 0


def test_pass_at_k_hand_example(spark):
    """n=4, c=2: pass@1 = 0.5, pass@2 = 1 - C(2,2)/C(4,2) = 5/6,
    pass@4 = 1 (k > n-c). A prompt with c=0 contributes 0."""
    rows = [("p1", 1), ("p1", 1), ("p1", 0), ("p1", 0), ("p2", 0), ("p2", 0)]
    df = spark.createDataFrame(rows, ["g", "ok"])
    got = {r.k: r.pass_at_k for r in EM.pass_at_k(df, "g", "ok", [1, 2, 4]).collect()}
    assert got[1] == round((0.5 + 0.0) / 2, 6)
    assert got[2] == round((1 - 1 / 6) / 2, 6)
    assert got[4] == round((1.0 + 0.0) / 2, 6)


def test_pass_at_k_matches_combinatorial_definition(spark):
    """The product form must equal 1 - C(n-c,k)/C(n,k) for every
    (n, c, k) the fixture can produce."""
    from math import comb

    rows = []
    expect = {}
    cases = [(5, 0), (5, 1), (5, 3), (5, 5), (3, 2), (8, 4)]
    for gi, (n, c) in enumerate(cases):
        g = f"g{gi}"
        rows += [(g, 1)] * c + [(g, 0)] * (n - c)
    df = spark.createDataFrame(rows, ["g", "ok"])
    for k in (1, 2, 4):
        vals = []
        for n, c in cases:
            if k > n:
                vals.append(1.0 if c > 0 else 0.0)
            else:
                vals.append(1.0 - comb(n - c, k) / comb(n, k) if n - c >= k else 1.0)
            if c == 0:
                vals[-1] = 0.0
        expect[k] = round(sum(round(v, 9) for v in vals) / len(vals), 6)
    got = {r.k: r.pass_at_k for r in EM.pass_at_k(df, "g", "ok", [1, 2, 4]).collect()}
    for k in (1, 2, 4):
        assert abs(got[k] - expect[k]) < 2e-6, (k, got[k], expect[k])


def test_split_conformal_exact_order_statistic(spark):
    """n_cal=100 residuals 1..100 cents, alpha=0.1: k = ceil(0.9*101)
    = 91, q_hat = 0.91; eval residuals 1..200 -> coverage 45.5%."""
    rows = [("cal", i / 100.0, 0.0) for i in range(1, 101)] + [
        ("eval", j / 100.0, 0.0) for j in range(1, 201)
    ]
    df = spark.createDataFrame(rows, ["split", "y", "pred"])
    r = EM.split_conformal_audit(df, "split", "y", "pred", 0.1).collect()[0]
    assert (r.n_cal, r.n_eval, r.k_rank) == (100, 200, 91)
    assert r.q_hat == 0.91
    assert r.coverage_pct == 45.5


def test_split_conformal_guarantee_holds_on_exchangeable_data(spark):
    """When cal and eval draw the same residual distribution the
    realized coverage must be >= 1 - alpha minus sampling slack."""
    rows = [("cal" if i % 2 == 0 else "eval", (i * 37 % 500) / 100.0, 0.0)
            for i in range(2000)]
    df = spark.createDataFrame(rows, ["split", "y", "pred"])
    r = EM.split_conformal_audit(df, "split", "y", "pred", 0.1).collect()[0]
    assert r.coverage_pct >= 88.0  # 90% guarantee minus slack


def test_split_conformal_tiny_cal_set_means_infinite_interval(spark):
    """k > n_cal (here k = ceil(0.9*4) = 4 > 3): q_hat NULL = +inf,
    coverage 100% by the conformal definition."""
    rows = [("cal", 1.0, 0.0)] * 3 + [("eval", 9.0, 0.0)] * 5
    df = spark.createDataFrame(rows, ["split", "y", "pred"])
    r = EM.split_conformal_audit(df, "split", "y", "pred", 0.1).collect()[0]
    assert r.n_cal == 3 and r.k_rank == 4
    assert r.q_hat is None and r.coverage_pct == 100.0

    import pytest as _pytest

    with _pytest.raises(ValueError):
        EM.split_conformal_audit(df, "split", "y", "pred", alpha=1.5)


def test_pass_at_k_rejects_bad_ks(spark):
    import pytest as _pytest

    df = spark.createDataFrame([("p1", 1)], ["g", "ok"])
    with _pytest.raises(ValueError):
        EM.pass_at_k(df, "g", "ok", [])
    with _pytest.raises(ValueError):
        EM.pass_at_k(df, "g", "ok", [1, 0])


def test_corpus_bleu_hand_example(spark):
    """Hand-counted 2-pair corpus: p1=8/10, p2=5/8, p3=3/6, p4=1/4,
    BP=e^(1-11/10); BLEU = BP*(p1*p2*p3*p4)^(1/4) = BP*0.5."""
    import math

    pairs = spark.createDataFrame([
        (1, "the cat sat on the mat", "the cat sat on a mat"),
        (2, "a quick brown fox", "the quick brown fox jumps"),
    ], ["pid", "cand", "ref"])
    r = EM.corpus_bleu(pairs, "pid", "cand", "ref").collect()[0]
    assert (r.c_len, r.r_len) == (10, 11)
    assert (r.p1, r.p2, r.p3, r.p4) == (0.8, 0.625, 0.5, 0.25)
    assert r.bp == round(math.exp(1 - 11 / 10), 6)
    assert abs(r.bleu - math.exp(1 - 11 / 10) * 0.5) < 1e-6


def test_corpus_bleu_perfect_and_zero(spark):
    pairs = spark.createDataFrame(
        [(1, "a b c d e", "a b c d e")], ["pid", "cand", "ref"]
    )
    r = EM.corpus_bleu(pairs, "pid", "cand", "ref").collect()[0]
    assert r.bleu == 1.0 and r.bp == 1.0
    # no 4-gram overlap anywhere -> BLEU exactly 0, precisions reported
    pairs0 = spark.createDataFrame(
        [(1, "a b c d", "x y z w")], ["pid", "cand", "ref"]
    )
    r0 = EM.corpus_bleu(pairs0, "pid", "cand", "ref").collect()[0]
    assert r0.bleu == 0.0 and r0.p1 == 0.0


def test_corpus_bleu_clip_is_per_pair(spark):
    """'the the the' vs 'the cat': clipped count of 'the' is min(3,1)=1
    — the modified-precision clip that stops degenerate repetition."""
    pairs = spark.createDataFrame(
        [(1, "the the the", "the cat")], ["pid", "cand", "ref"]
    )
    r = EM.corpus_bleu(pairs, "pid", "cand", "ref", max_n=1).collect()[0]
    assert r.p1 == round(1 / 3, 6)


def test_rouge_n_hand_example(spark):
    pairs = spark.createDataFrame([
        (1, "the cat sat on the mat", "the cat sat on a mat"),
        (2, "a quick brown fox", "the quick brown fox jumps"),
    ], ["pid", "cand", "ref"])
    out = {r.n: r for r in EM.rouge_n(pairs, "pid", "cand", "ref").collect()}
    assert out[1].clipped == 8 and out[1].ref_total == 11
    assert out[1].rouge_recall == round(8 / 11, 6)
    assert out[2].clipped == 5 and out[2].rouge_precision == 0.625
    p, r2 = 5 / 8, 5 / 9
    assert out[2].rouge_f1 == round(2 * p * r2 / (p + r2), 6)


def test_bleu_rouge_validate_params(spark):
    import pytest as _pytest

    pairs = spark.createDataFrame([(1, "a", "a")], ["pid", "cand", "ref"])
    with _pytest.raises(ValueError):
        EM.corpus_bleu(pairs, "pid", "cand", "ref", max_n=0)
    with _pytest.raises(ValueError):
        EM.rouge_n(pairs, "pid", "cand", "ref", ns=())
    with _pytest.raises(ValueError):
        EM.rouge_n(pairs, "pid", "cand", "ref", ns=(1, 0))


def test_distinct_n_hand_example(spark):
    df = spark.createDataFrame(
        [("a b a b",), ("a b c",)], ["text"]
    )
    out = {r.n: r for r in EM.distinct_n(df, "text", ns=(1, 2)).collect()}
    # 1-grams: 7 total (a,b,a,b,a,b,c), 3 distinct
    assert out[1].total_grams == 7 and out[1].distinct_grams == 3
    assert out[1].distinct_ratio == round(3 / 7, 6)
    # 2-grams: "a b","b a","a b" + "a b","b c" -> 5 total, 3 distinct
    assert out[2].total_grams == 5 and out[2].distinct_grams == 3


def test_self_bleu_identical_vs_diverse(spark):
    """Three identical responses -> Self-BLEU 1.0; three disjoint
    responses -> 0 (no clip ceiling anywhere)."""
    same = spark.createDataFrame(
        [(1, i, "a b c d e") for i in range(3)], ["g", "id", "text"]
    )
    r = EM.self_bleu(same, "g", "id", "text").collect()[0]
    assert r.self_bleu == 1.0 and r.bp == 1.0
    assert r.c_len == 15 and r.r_len == 15

    diverse = spark.createDataFrame(
        [(1, 0, "a b c d e"), (1, 1, "f g h i j"), (1, 2, "k l m n o")],
        ["g", "id", "text"],
    )
    r2 = EM.self_bleu(diverse, "g", "id", "text").collect()[0]
    assert r2.self_bleu == 0.0 and r2.p1 == 0.0


def test_self_bleu_top2_excludes_self(spark):
    """Candidate 0 repeats 'x' 3 times; the only other response has one
    'x' -> ceiling for cand 0 is 1 (not its own 3): p1 pools
    min(3,1)+min(1,3) = 2 over 4 total 1-grams."""
    df = spark.createDataFrame(
        [(1, 0, "x x x"), (1, 1, "x")], ["g", "id", "text"]
    )
    r = EM.self_bleu(df, "g", "id", "text", max_n=1).collect()[0]
    assert r.p1 == 0.5
    # singleton groups are excluded entirely
    df2 = spark.createDataFrame(
        [(1, 0, "x x x"), (1, 1, "x"), (2, 9, "lonely response")],
        ["g", "id", "text"],
    )
    r2 = EM.self_bleu(df2, "g", "id", "text", max_n=1).collect()[0]
    assert r2.c_len == 4  # the lonely group contributes nothing


def test_chrf_identical_and_disjoint(spark):
    pairs = spark.createDataFrame(
        [(1, "abc def", "abc def")], ["pid", "cand", "ref"]
    )
    r = EM.chrf(pairs, "pid", "cand", "ref").collect()[0]
    assert r.chrp == 1.0 and r.chrr == 1.0 and r.chrf == 1.0
    pairs0 = spark.createDataFrame(
        [(1, "aaaa", "bbbb")], ["pid", "cand", "ref"]
    )
    r0 = EM.chrf(pairs0, "pid", "cand", "ref").collect()[0]
    assert r0.chrf == 0.0


def test_chrf_recall_weighting(spark):
    """beta=2 weights recall 4x: a candidate covering half the
    reference scores below one the same P/R would give at beta=1."""
    # cand 'abcd' vs ref 'abcdefgh' (whitespace removed lengths 4 vs 8)
    pairs = spark.createDataFrame(
        [(1, "ab cd", "ab cd ef gh")], ["pid", "cand", "ref"]
    )
    r = EM.chrf(pairs, "pid", "cand", "ref", max_n=2).collect()[0]
    # P: n1 4/4=1, n2 3/3=1 -> 1.0; R: n1 4/8, n2 3/7 -> mean 0.4643
    assert r.chrp == 1.0
    want_r = round((4 / 8 + 3 / 7) / 2, 6)
    assert r.chrr == want_r
    p, rr = 1.0, (4 / 8 + 3 / 7) / 2
    assert abs(r.chrf - 5 * p * rr / (4 * p + rr)) < 1e-6


def test_gen_eval_extensions_validate(spark):
    import pytest as _pytest

    df = spark.createDataFrame([("a",)], ["text"])
    with _pytest.raises(ValueError):
        EM.distinct_n(df, "text", ns=())
    p = spark.createDataFrame([(1, "a", "a")], ["pid", "cand", "ref"])
    with _pytest.raises(ValueError):
        EM.chrf(p, "pid", "cand", "ref", max_n=0)
    with _pytest.raises(ValueError):
        EM.chrf(p, "pid", "cand", "ref", beta=0.0)
    g = spark.createDataFrame([(1, 0, "a")], ["g", "id", "text"])
    with _pytest.raises(ValueError):
        EM.self_bleu(g, "g", "id", "text", max_n=0)


def test_brier_decomposition_exact_identity_and_perfect(spark):
    """The 5-term Stephenson identity holds exactly (to the 6-dp
    rounding of the components); a perfect forecaster has Brier 0,
    reliability ~0 and resolution = uncertainty."""
    import random

    random.seed(3)
    rows = [(p, 1 if random.random() < p else 0)
            for p in (random.random() for _ in range(1500))]
    df = spark.createDataFrame(rows, "p double, y int")
    r = EM.brier_decomposition(df, "p", "y").collect()[0]
    ident = (r.reliability - r.resolution + r.uncertainty
             + r.within_bin_var - 2 * r.within_bin_cov)
    assert abs(ident - r.brier) < 5e-6

    perfect = spark.createDataFrame(
        [(1.0, 1)] * 40 + [(0.0, 0)] * 60, "p double, y int"
    )
    rp = EM.brier_decomposition(perfect, "p", "y").collect()[0]
    assert rp.brier == 0.0 and rp.reliability == 0.0
    assert rp.resolution == rp.uncertainty == 0.24


def test_brier_decomposition_validates(spark):
    import pytest as _pytest

    df = spark.createDataFrame([(0.5, 1)], "p double, y int")
    with _pytest.raises(ValueError):
        EM.brier_decomposition(df, "p", "y", bins=0)


def test_krippendorff_alpha_known_values(spark):
    """Perfect 3-rater agreement -> 1; a unit with one dissent lowers
    it; single-rating units are excluded; variable rater counts work
    when (m-1) divides the scale."""
    perfect = spark.createDataFrame(
        [(u, f"a{u % 3}") for u in range(10) for _ in range(3)], ["u", "v"]
    )
    r = EM.krippendorff_alpha(perfect, "u", "v").collect()[0]
    assert r.alpha == 1.0 and r.n_units == 10 and r.n_ratings == 30

    # degenerate: every rating the SAME category -> D_e = 0 -> alpha
    # NULL (undefined by construction, the standard convention)
    same = spark.createDataFrame(
        [(u, "a") for u in range(5) for _ in range(3)], ["u", "v"]
    )
    assert EM.krippendorff_alpha(same, "u", "v").collect()[0].alpha is None

    # mixed: 2 units agree on different categories -> alpha 1 still
    mixed = spark.createDataFrame(
        [(1, "a")] * 3 + [(2, "b")] * 3 + [(3, "c")], ["u", "v"]
    )
    r2 = EM.krippendorff_alpha(mixed, "u", "v").collect()[0]
    assert r2.n_units == 2 and r2.n_ratings == 6  # singleton u=3 excluded
    assert r2.alpha == 1.0

    # variable rater counts: m in {2, 3}
    varm = spark.createDataFrame(
        [(1, "a"), (1, "a"), (1, "b"), (2, "a"), (2, "a")], ["u", "v"]
    )
    r3 = EM.krippendorff_alpha(varm, "u", "v").collect()[0]
    assert r3.n_ratings == 5 and r3.alpha is not None


def test_krippendorff_alpha_validates(spark):
    import pytest as _pytest

    df = spark.createDataFrame([(1, "a")], ["u", "v"])
    with _pytest.raises(ValueError):
        EM.krippendorff_alpha(df, "u", "v", exact_scale=0)


def test_bt_rating_edge_inputs(spark):
    """No comparisons: no items. One item: all the rating. One game:
    the loser decays to 0. A repeated comparison counts once per row; a
    pair with a NULL side is no game, but a win over a NULL loser still
    counts in n_wins — pinned ratings."""

    def ratings(rows, schema="winner string, loser string"):
        return sorted(
            map(tuple, EM.bt_rating_k(
                spark.createDataFrame(rows, schema), "winner", "loser", 5
            ).collect())
        )

    assert ratings([]) == []
    assert ratings([("a", "a"), ("a", "a")]) == [("a", 2, 2, 1.0)]
    assert ratings([("a", "b")]) == [("a", 1, 1, 1.0), ("b", 0, 1, 0.0)]
    rows = [("a", "b"), ("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"),
            ("d", "a"), ("b", "a")]
    assert ratings(rows) == [
        ("a", 3, 6, 0.114681), ("b", 2, 4, 0.102747),
        ("c", 1, 3, 0.057604), ("d", 1, 1, 0.724968),
    ]
    assert ratings(rows + [(None, "a"), ("e", None)]) == [
        ("a", 3, 6, 0.102153), ("b", 2, 4, 0.091524), ("c", 1, 3, 0.051311),
        ("d", 1, 1, 0.645776), ("e", 1, 0, 0.109235),
    ]
    # the item type is the input's
    assert ratings([(1, 2), (2, 3), (3, 1), (1, 3)], "winner long, loser long") == [
        (1, 2, 3, 0.477862), (2, 1, 2, 0.31534), (3, 1, 3, 0.206798),
    ]
