"""Unit tests for corpus-level curation operators (decontamination,
stratified sampling, quota caps, TF-IDF, sequence packing)."""

import pytest

import math

from pyspark.sql import functions as F

from datas_spark.operators import corpus as C


def test_ngram_contamination_flags_copied_text(spark):
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the fence"),  # shares 3-grams
            (2, "completely unrelated content about spark engines here"),
            (3, "tiny"),  # no 3-grams at all
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: (r.shared_ngrams, r.contaminated)
        for r in C.ngram_contamination(corpus, bench, "doc_id", "text", min_shared=2).collect()
    }
    # doc 1 shares "the quick brown", "quick brown fox", "brown fox jumps",
    # "fox jumps over", "jumps over the" = 5 shingles
    assert rows[1] == (5, 1)
    assert rows[2] == (0, 0)
    assert rows[3] == (0, 0)


def test_stratified_sample_every_stratum_represented(spark):
    rows = [(i, "big" if i < 90 else "tiny") for i in range(100)]
    df = spark.createDataFrame(rows, "id long, s string")
    got = C.stratified_sample(df, "s", "id", 0.1).collect()
    by_s = {}
    for r in got:
        by_s.setdefault(r.s, []).append(r.id)
    assert len(by_s["big"]) == math.ceil(90 * 0.1)
    assert len(by_s["tiny"]) == 1  # ceil(10 * 0.1) — the tail survives


def test_stratified_sample_deterministic_across_layouts(spark):
    rows = [(i, str(i % 3)) for i in range(60)]
    df = spark.createDataFrame(rows, "id long, s string")
    a = sorted(r.id for r in C.stratified_sample(df, "s", "id", 0.2).collect())
    b = sorted(
        r.id for r in C.stratified_sample(df.repartition(7), "s", "id", 0.2).collect()
    )
    assert a == b and len(a) == 12


def test_source_quota_cap_keeps_first_in_order(spark):
    rows = [(i, "a" if i < 8 else "b") for i in range(10)]
    df = spark.createDataFrame(rows, "id long, src string")
    got = sorted(r.id for r in C.source_quota_cap(df, "src", "id", 3).collect())
    assert got == [0, 1, 2, 8, 9]  # first 3 of a, all (2) of b


def test_tfidf_ranks_rare_terms_above_common(spark):
    df = spark.createDataFrame(
        [
            (1, "common common rare1"),
            (2, "common common rare2"),
            (3, "common common common"),
        ],
        "doc_id long, text string",
    )
    got = C.tfidf_top_terms(df, "doc_id", "text", k=1).collect()
    top = {r.doc_id: r.term for r in got}
    # "common" appears in all 3 docs → idf = ln(1) = 0; the rare term wins
    assert top[1] == "rare1" and top[2] == "rare2"
    assert top[3] == "common"  # only term left, tfidf 0
    r1 = next(r for r in got if r.doc_id == 1)
    assert r1.tf == 1 and abs(r1.tfidf - round(math.log(3.0), 6)) < 1e-9


def test_pack_sequences_bins_by_running_budget(spark):
    # token counts: 3, 3, 3 → cumsum 3,6,9; budget 5 → starts 0,3,6 → bins 0,0,1
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f"), (3, "g h i")], "id long, text string"
    )
    got = {r.id: (r.n_tokens, r.bin) for r in C.pack_sequences(df, "id", "text", 5).collect()}
    assert got == {1: (3, 0), 2: (3, 0), 3: (3, 1)}


def test_pack_sequences_shards_pack_independently(spark):
    df = spark.createDataFrame(
        [(1, "a b c", "x"), (2, "d e f", "y"), (3, "g h i", "x")],
        "id long, text string, shard string",
    )
    got = {
        (r.shard, r.id): r.bin
        for r in C.pack_sequences(df, "id", "text", 5, shard_col="shard").collect()
    }
    # shard x: ids 1,3 → starts 0,3 → bins 0,0 ; shard y: id 2 → bin 0
    assert got == {("x", 1): 0, ("x", 3): 0, ("y", 2): 0}


def test_hash_split_deterministic_and_layout_independent(spark):
    df = spark.range(200).withColumnRenamed("id", "doc_id")
    a = {r.doc_id: r.split for r in C.hash_split(df, "doc_id").collect()}
    b = {
        r.doc_id: r.split
        for r in C.hash_split(df.repartition(13), "doc_id").collect()
    }
    assert a == b
    frac = sum(1 for s in a.values() if s == "train") / len(a)
    assert 0.8 < frac < 1.0  # ~0.9 by construction


def test_group_split_never_straddles_groups(spark):
    df = (
        spark.range(300)
        .withColumnRenamed("id", "doc_id")
        .withColumn("component", (F.col("doc_id") % 29))
    )
    rows = C.group_split(df, "component", {"train": 0.7, "val": 0.1, "test": 0.2}).collect()
    by_g = {}
    for r in rows:
        by_g.setdefault(r.component, set()).add(r.split)
    assert all(len(s) == 1 for s in by_g.values())
    assert {s for ss in by_g.values() for s in ss} <= {"train", "val", "test"}


def test_repetition_stats_known_values(spark):
    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "x y z w"), (3, "q"), (4, "")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.dup_token_frac, r.top_bigram_frac)
        for r in C.repetition_stats(df, "doc_id", "text").collect()
    }
    # doc1: 6 tokens 2 distinct -> 2/3 dup; bigrams ab,ba,ab,ba,ab -> 3/5
    assert got[1] == (0.666667, 0.6)
    assert got[2] == (0.0, 0.333333)  # all distinct, 3 distinct bigrams
    assert got[3] == (0.0, 0.0)  # single token: no bigrams
    assert got[4] == (0.0, 0.0)  # empty text


def test_temperature_sample_flattens_dominant_domain(spark):
    rows = [(i, "big" if i < 180 else "small") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, d string")
    got = C.temperature_sample(df, "d", "doc_id", temperature=3.0).collect()
    by_d = {}
    for r in got:
        by_d.setdefault(r.d, []).append(r.doc_id)
    # rare domain keeps everything (rate capped at 1)
    assert len(by_d["small"]) == 20
    # dominant domain is downsampled toward the flattened share
    assert len(by_d["big"]) < 180
    # deterministic: same rows on rerun with different layout
    again = C.temperature_sample(df.repartition(7), "d", "doc_id", temperature=3.0)
    assert sorted(r.doc_id for r in again.collect()) == sorted(r.doc_id for r in got)
    # tau=1 keeps natural proportions (every row)
    assert C.temperature_sample(df, "d", "doc_id", temperature=1.0).count() == 200


def test_ngram_lm_score_matches_hand_computed_probs(spark):
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a c"), (3, "x")], "doc_id long, text string"
    )
    got = {r.doc_id: (r.n_bigrams, r.nll) for r in C.ngram_lm_score(df, "doc_id", "text").collect()}
    # corpus counts: c(a,b)=2 c(b,a)=1 c(a,c)=1 ; contexts c(a.)=3 c(b.)=1
    # doc1: bigrams ab,ba,ab -> -(ln(2/3)+ln(1)+ln(2/3))/3
    exp1 = round(-(2 * math.log(2 / 3) + math.log(1.0)) / 3, 6)
    assert got[1] == (3, exp1)
    assert got[2] == (1, round(-math.log(1 / 3), 6))
    assert got[3] == (0, None)  # single token: no bigrams


def test_weighted_sample_is_deterministic_and_excludes_nonpositive(spark):
    docs = spark.createDataFrame(
        [(i, float(i % 5)) for i in range(1, 41)],
        "doc_id long, w double",
    )
    a = sorted(r.doc_id for r in C.weighted_sample(docs, "doc_id", "w", k=10).collect())
    b = sorted(r.doc_id for r in C.weighted_sample(docs, "doc_id", "w", k=10).collect())
    assert a == b and len(a) == 10
    # rows with w == 0 (doc_id % 5 == 0) can never be drawn
    assert all(d % 5 != 0 for d in a)
    # k >= eligible rows -> every positive-weight row survives
    full = C.weighted_sample(docs, "doc_id", "w", k=100).collect()
    assert len(full) == 32


def test_chunk_documents_covers_all_tokens_with_overlap(spark):
    text = " ".join(f"t{i}" for i in range(10))
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = sorted(
        C.chunk_documents(docs, "doc_id", "text", chunk_tokens=4, overlap=1).collect(),
        key=lambda r: r.chunk_id,
    )
    # step 3, starts capped at n - overlap - 1 = 8: starts 0,3,6 only —
    # a chunk starting at 9 ([t9]) would duplicate the tail of [t6..t9]
    assert [r.chunk_id for r in rows] == [0, 1, 2]
    assert rows[0].chunk_text == "t0 t1 t2 t3"
    assert rows[1].chunk_text == "t3 t4 t5 t6"
    assert rows[2].chunk_text == "t6 t7 t8 t9"
    # consecutive chunks overlap by exactly `overlap` tokens
    assert rows[0].chunk_text.split()[-1] == rows[1].chunk_text.split()[0]
    # every token still covered
    covered = {t for r in rows for t in r.chunk_text.split()}
    assert covered == {f"t{i}" for i in range(10)}


def test_chunk_documents_rejects_bad_overlap(spark):
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    import pytest

    with pytest.raises(ValueError):
        C.chunk_documents(docs, "doc_id", "text", chunk_tokens=4, overlap=4)


def test_pii_stats_and_redact(spark):
    docs = spark.createDataFrame(
        [
            (1, "reach me at jo.doe+x@mail.example.org or 555-123-4567"),
            (2, "server at 192.168.0.1 responded"),
            (3, "no sensitive content here"),
        ],
        "doc_id long, text string",
    )
    stats = {r.doc_id: r for r in C.pii_stats(docs, "doc_id", "text").collect()}
    assert (stats[1].n_email, stats[1].n_phone, stats[1].n_ip) == (1, 1, 0)
    assert stats[1].has_pii == 1
    assert (stats[2].n_email, stats[2].n_phone, stats[2].n_ip) == (0, 0, 1)
    assert stats[3].has_pii == 0
    red = {r.doc_id: r.text_redacted for r in C.pii_redact(docs, "text").collect()}
    assert red[1] == "reach me at <EMAIL> or <PHONE>"
    assert red[2] == "server at <IP> responded"
    assert red[3] == "no sensitive content here"


def test_bow_classifier_score_known_logit(spark):
    import math

    docs = spark.createDataFrame(
        [(1, "good good bad"), (2, "unknown words only")],
        "doc_id long, text string",
    )
    weights = spark.createDataFrame(
        [("good", 1.0), ("bad", -2.0)], "term string, weight double"
    )
    got = {
        r.doc_id: (r.n_tokens, r.quality_prob)
        for r in C.bow_classifier_score(docs, "doc_id", "text", weights).collect()
    }
    # doc 1: mean weight (1 + 1 - 2)/3 = 0 -> sigmoid 0.5
    assert got[1] == (3, 0.5)
    # doc 2: all tokens unknown -> logit 0 -> 0.5
    assert got[2] == (3, 0.5)
    # bias shifts the logit
    b = C.bow_classifier_score(docs, "doc_id", "text", weights, bias=1.0).collect()
    exp = round(1 / (1 + math.exp(-1.0)), 6)
    assert all(abs(r.quality_prob - exp) < 1e-9 for r in b)


def _skewed_docs(spark):
    # one stratum holds ~95% of rows
    return spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 20 == 19, F.concat(F.lit("s"), F.col("id") % 5))
        .otherwise(F.lit("dominant"))
        .alias("lang"),
    )


def test_stratified_sample_skew_resistant_matches_window_path(spark):
    docs = _skewed_docs(spark)
    a = sorted(
        r.doc_id for r in C.stratified_sample(docs, "lang", "doc_id", 0.1).collect()
    )
    b = sorted(
        r.doc_id
        for r in C.stratified_sample(
            docs, "lang", "doc_id", 0.1, skew_resistant=True
        ).collect()
    )
    assert a == b and len(a) > 0
    # no window spec partitioned by the stratum key in the skew plan
    # (the window path shows windowspecdefinition(lang, ...); the skew
    # path's only window runs over the tiny per-partition stats frame)
    plan = (
        C.stratified_sample(docs, "lang", "doc_id", 0.1, skew_resistant=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
        .lower()
    )
    assert "windowspecdefinition(lang" not in plan
    ref_plan = (
        C.stratified_sample(docs, "lang", "doc_id", 0.1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
        .lower()
    )
    assert "windowspecdefinition(lang" in ref_plan


def test_source_quota_cap_skew_resistant_matches_window_path(spark):
    docs = _skewed_docs(spark).withColumnRenamed("lang", "source")
    a = sorted(
        r.doc_id for r in C.source_quota_cap(docs, "source", "doc_id", 7).collect()
    )
    b = sorted(
        r.doc_id
        for r in C.source_quota_cap(
            docs, "source", "doc_id", 7, skew_resistant=True
        ).collect()
    )
    assert a == b
    # exactly max_per_source survivors for the dominant source
    out = C.source_quota_cap(docs, "source", "doc_id", 7, skew_resistant=True)
    per = {r.source: r.c for r in out.groupBy("source").agg(F.count("*").alias("c")).collect()}
    assert per["dominant"] == 7


def test_pack_sequences_tokenized_subword_budgets(spark):
    # fake BPE: "hello world!!" -> tokens [hello, world, !, !] -> 2+2+1+1 = 6
    df = spark.createDataFrame(
        [(1, "hello world!!"), (2, "abcdefgh"), (3, "")],
        "id long, text string",
    )
    got = {
        r.id: (r.n_tokens, r.bin)
        for r in C.pack_sequences_tokenized(df, "id", "text", budget=7).collect()
    }
    # id1: ceil(5/4)+ceil(5/4)+1+1 = 6 ; id2: ceil(8/4) = 2 ; id3: 0
    assert got[1] == (6, 0)
    assert got[2] == (2, 0)  # cumsum 8 -> start offset 6 < 7 -> bin 0
    assert got[3] == (0, 1)  # start offset 8 -> bin 1


def test_pack_sequences_tokenized_custom_factory(spark):
    # a real tokenizer plugs in via the same factory signature: here a
    # stand-in that charges 1 token per character
    def chars_factory():
        return lambda text: len(text)

    df = spark.createDataFrame([(1, "abc"), (2, "defg")], "id long, text string")
    got = {
        r.id: r.n_tokens
        for r in C.pack_sequences_tokenized(
            df, "id", "text", budget=10, counter_factory=chars_factory
        ).collect()
    }
    assert got == {1: 3, 2: 4}


def test_pack_sequences_tokenized_with_real_bpe(spark):
    """Plug a REAL byte-pair encoder (the GPT-2 greedy ranked-merge
    loop, pure Python, hardcoded merge table) into the
    make_subword_counter boundary — proving it takes an actual BPE,
    not just fake-shaped counters. Defined inside the test so
    cloudpickle ships it by value to the workers."""

    def _tiny_bpe_factory():
        merges = [
            ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
            ("e", "r"), ("o", "n"), ("r", "e"), ("in", "g"), ("l", "o"),
            ("lo", "w"), ("h", "e"), ("he", "l"), ("hel", "l"), ("hell", "o"),
        ]
        ranks = {m: i for i, m in enumerate(merges)}

        def encode(word):
            parts = list(word)
            while len(parts) > 1:
                best, best_i = None, None
                for i in range(len(parts) - 1):
                    r = ranks.get((parts[i], parts[i + 1]))
                    if r is not None and (best is None or r < best):
                        best, best_i = r, i
                if best is None:
                    break
                parts[best_i:best_i + 2] = [parts[best_i] + parts[best_i + 1]]
            return parts

        def count(text):
            return sum(len(encode(w)) for w in text.lower().split())

        return count

    # sanity of the encoder itself: merges actually fire
    count = _tiny_bpe_factory()
    assert count("the") == 1          # t+h -> th, th+e -> the
    assert count("hello") == 2        # (l,o) outranks (h,e): hel + lo
    assert count("xyz") == 3          # no merges apply
    assert count("the hello xyz") == 6

    rows = [
        (1, "the quick hello"), (2, "and another thing"),
        (3, "xyz pqr"), (4, "low lower lowest"), (5, "in the ring"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = sorted(
        (r.id, r.n_tokens, r.bin)
        for r in C.pack_sequences_tokenized(
            df, "id", "text", budget=8, counter_factory=_tiny_bpe_factory
        ).collect()
    )
    # oracle: identical counts + running-cumsum bins computed driver-side
    want, cum = [], 0
    for i, text in sorted(rows):
        n = count(text)
        want.append((i, n, (cum) // 8))
        cum += n
    assert got == [(i, n, b) for (i, n, b) in want]


def test_weighted_sample_per_key_quota_and_determinism(spark):
    rows = [(i, "a" if i < 30 else "b", float(1 + i % 7)) for i in range(1, 41)]
    df = spark.createDataFrame(rows, "doc_id long, k string, w double")
    out = C.weighted_sample_per_key(df, "k", "doc_id", "w", k=5)
    got = {}
    for r in out.collect():
        got.setdefault(r.k, []).append(r.doc_id)
    assert len(got["a"]) == 5 and len(got["b"]) == 5
    again = C.weighted_sample_per_key(df.repartition(7), "k", "doc_id", "w", k=5)
    assert sorted(r.doc_id for r in again.collect()) == sorted(
        i for ids in got.values() for i in ids
    )
    # zero-weight rows can never be drawn
    zw = df.withColumn("w", F.when(F.col("doc_id") % 2 == 0, 0.0).otherwise(F.col("w")))
    drawn = [r.doc_id for r in C.weighted_sample_per_key(zw, "k", "doc_id", "w", 50).collect()]
    assert all(d % 2 == 1 for d in drawn)


def test_zscore_outliers_flags_planted_anomaly(spark):
    rows = [(i, "g", 100.0 + (i % 5)) for i in range(20)] + [(99, "g", 10_000.0)]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    out = {r.id: (r.zscore, r.is_outlier) for r in C.zscore_outliers(df, "g", "v", k=3.0).collect()}
    assert out[99][1] == 1
    assert all(flag == 0 for i, (_, flag) in out.items() if i != 99)
    # singleton group: no sample stddev -> NULL z, flag 0
    single = spark.createDataFrame([(1, "s", 5.0)], "id long, g string, v double")
    r = C.zscore_outliers(single, "g", "v").collect()[0]
    assert r.zscore is None and r.is_outlier == 0


def test_value_deciles_ties_share_buckets(spark):
    df = spark.createDataFrame([(i, i % 4) for i in range(100)], "id long, v long")
    out = C.value_deciles(df, "v", buckets=4)
    got = {}
    for r in out.collect():
        got.setdefault(r.v, set()).add(r.bucket)
    # equal values always share a bucket; buckets increase with value
    assert all(len(b) == 1 for b in got.values())
    buckets = [next(iter(got[v])) for v in sorted(got)]
    assert buckets == sorted(buckets)
    assert buckets[0] >= 1 and buckets[-1] <= 4


def test_value_deciles_nulls_pass_through_without_shifting(spark):
    # 20 real values 0..19 plus 80 NULLs: NULLs must neither join away
    # nor inflate the cumulative counts that place real values
    rows = [(i, i) for i in range(20)] + [(100 + j, None) for j in range(80)]
    df = spark.createDataFrame(rows, "id long, v long")
    out = C.value_deciles(df, "v", buckets=10).collect()
    assert len(out) == 100  # every row assigned (NULLs kept)
    by_v = {r.v: r.bucket for r in out if r.v is not None}
    # exactly 2 of 20 real values per decile: v=0,1 -> 1 ... v=18,19 -> 10
    assert all(by_v[v] == v // 2 + 1 for v in range(20))
    assert all(r.bucket is None for r in out if r.v is None)


def test_standardize_embeddings_unit_stats(spark):
    import numpy as np

    from datas_spark.operators.clustering import standardize_embeddings

    rows = [(i, [float(i), 10.0 * i, 7.0]) for i in range(1, 21)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = standardize_embeddings(df, "vec_id", "embedding")
    z = np.array([r.z[:2] for r in out.collect()], dtype=float)
    # standardized dims: mean ~0, sample std ~1
    assert np.allclose(z.mean(axis=0), 0.0, atol=1e-4)
    assert np.allclose(z.std(axis=0, ddof=1), 1.0, atol=1e-4)
    # constant dim -> NULL (explicit, not div-by-zero)
    assert all(r.z[2] is None for r in out.collect())


# ---------------------------------------------------------------------------
# dsir_importance
# ---------------------------------------------------------------------------

def test_dsir_target_like_docs_score_higher(spark):
    from pyspark.sql import functions as F
    from datas_spark.operators.corpus import dsir_importance

    rows = [
        (1, "alpha beta alpha beta", 1),      # target vocabulary
        (2, "alpha beta gamma", 1),
        (3, "alpha beta alpha", 0),           # raw doc made of target words
        (4, "zeta eta theta iota", 0),        # raw doc, non-target words
        (5, "", 0),                           # empty-ish doc
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, tgt int")
    out = {
        r.doc_id: r
        for r in dsir_importance(df, "doc_id", "text", F.col("tgt") == 1).collect()
    }
    # target-vocabulary doc must outrank the non-target-vocabulary doc
    assert out[3].dsir_weight > out[4].dsir_weight
    # words never in the target slice only appear via smoothing: negative
    assert out[4].dsir_weight < 0
    assert out[4].n_tokens == 4


def test_dsir_weight_matches_hand_computation(spark):
    import pytest
    import math

    from pyspark.sql import functions as F
    from datas_spark.operators.corpus import dsir_importance

    rows = [(1, "a a b", 1), (2, "a c", 0)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, tgt int")
    out = {
        r.doc_id: r.dsir_weight
        for r in dsir_importance(df, "doc_id", "text", F.col("tgt") == 1).collect()
    }
    # counts: target a=2 b=1 (nt=3); raw a=3 b=1 c=1 (nr=5); vocab=3
    def lr(ct, cr):
        return math.log((ct + 1) / (3 + 3)) - math.log((cr + 1) / (5 + 3))

    expect2 = lr(2, 3) + lr(0, 1)  # doc 2 = "a c"
    assert out[2] == pytest.approx(expect2, abs=1e-6)
    expect1 = 2 * lr(2, 3) + lr(1, 1)
    assert out[1] == pytest.approx(expect1, abs=1e-6)


def test_clean_text_strips_and_collapses(spark):
    rows = [
        (1, "see https://ex.com/a?b=1 and mail me@x.org  now"),
        (2, "tab\tand\x00control\x1fchars"),
        (3, "  already clean  "),
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    got = {r.id: r.text_clean for r in C.clean_text(df, "text").collect()}
    assert got[1] == "see and mail now"
    assert got[2] == "tab and control chars"
    assert got[3] == "already clean"


def test_clean_text_lowercase_flag(spark):
    df = spark.createDataFrame([(1, "MiXeD Case")], ["id", "text"])
    got = C.clean_text(df, "text", lowercase=True).collect()[0].text_clean
    assert got == "mixed case"


def test_gopher_quality_flags_rules(spark):
    good = " ".join(["the quick brown fox and that dog have fun with it"] * 6)
    rows = [
        (1, good),                                   # passes every rule
        (2, "short text"),                           # word count
        (3, "- a\n- b\n- c\n- d"),                   # bullets + word count
        (4, ""),                                     # empty → all guarded flags
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    got = {r.id: r for r in C.gopher_quality_flags(df, "id", "text").collect()}
    assert got[1].gopher_pass
    assert got[2].flag_word_count and not got[2].gopher_pass
    assert got[3].flag_bullet_lines
    assert got[4].flag_word_len and got[4].flag_symbol_ratio and not got[4].gopher_pass


def test_gopher_symbol_and_ellipsis_rules(spark):
    hashy = " ".join(["w#rd"] * 60)  # 60 words, 60 '#' → ratio 1 > 0.1
    dots = "\n".join(["line one..."] * 10)
    df = spark.createDataFrame([(1, hashy), (2, dots)], ["id", "text"])
    got = {r.id: r for r in C.gopher_quality_flags(df, "id", "text").collect()}
    assert got[1].flag_symbol_ratio
    assert got[2].flag_ellipsis_lines


def test_compression_ratio_redundant_vs_random(spark):
    import random
    rnd = random.Random(7)
    noisy = " ".join(
        "".join(rnd.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(8))
        for _ in range(200)
    )
    redundant = "spam " * 400
    df = spark.createDataFrame(
        [(1, redundant), (2, noisy), (3, ""), (4, None)], "id long, text string"
    )
    got = {r.id: r for r in C.compression_ratio(df, "id", "text").collect()}
    assert got[1].ratio < 0.05          # pure repetition collapses
    assert got[2].ratio > 0.5           # random text barely compresses
    assert got[1].n_bytes == 2000
    assert got[3].ratio is None and got[4].ratio is None


def test_c4_line_filters_rules(spark):
    from datas_spark.operators.corpus import c4_line_filters

    doc = "\n".join(
        [
            "This line is a keeper because it ends properly.",  # keep
            "Short line.",                                       # < 3 words
            "No terminal punctuation here at all",               # no ./!/?
            "Enable javascript to view this page.",              # javascript
            "Lorem ipsum dolor sit amet, consectetur elit.",     # lorem ipsum
            "A brace { ruins an otherwise fine sentence.",       # brace
            "Is this a question with enough words?",             # keep
            'He said "stop right there!"',                       # keep: ! + quote
        ]
    )
    df = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    row = c4_line_filters(df, "doc_id", "text").collect()[0]
    assert row.n_lines == 8
    assert row.n_lines_kept == 3
    kept = row.text_clean.split("\n")
    assert kept[0].startswith("This line") and kept[1].startswith("Is this")
    assert kept[2] == 'He said "stop right there!"'


def test_c4_line_filters_empty_survivors(spark):
    from datas_spark.operators.corpus import c4_line_filters

    df = spark.createDataFrame([(1, "nope\nstill nope")], "doc_id long, text string")
    row = c4_line_filters(df, "doc_id", "text").collect()[0]
    assert row.n_lines_kept == 0 and row.text_clean == ""


def test_unimax_allocation_water_filling(spark):
    from datas_spark.operators.corpus import unimax_allocation

    rows = (
        [("tiny", 100)] * 1
        + [("mid", 500)] * 2
        + [("big", 1000)] * 5
    )
    df = spark.createDataFrame(rows, "source string, w long")
    # avail: tiny=100, mid=1000, big=5000; budget 2100, cap 1 epoch
    out = {
        r.source: r
        for r in unimax_allocation(df, "source", "w", 2100, max_epochs=1.0).collect()
    }
    # tiny and mid are fully allocated; big gets the leftover 1000
    assert out["tiny"].alloc_tokens == 100
    assert out["mid"].alloc_tokens == 1000
    assert out["big"].alloc_tokens == 1000
    assert sum(r.alloc_tokens for r in out.values()) <= 2100
    assert out["tiny"].epochs == 1.0 and out["big"].epochs == 0.2


def test_unimax_allocation_epoch_cap_and_surplus_budget(spark):
    from datas_spark.operators.corpus import unimax_allocation

    df = spark.createDataFrame(
        [("a", 100), ("b", 300)], "source string, w long"
    )
    # budget far above availability: every source capped at 2 epochs
    out = {
        r.source: r
        for r in unimax_allocation(df, "source", "w", 10_000, max_epochs=2.0).collect()
    }
    assert out["a"].alloc_tokens == 200 and out["a"].epochs == 2.0
    assert out["b"].alloc_tokens == 600 and out["b"].epochs == 2.0


def test_unimax_allocation_validation(spark):
    import pytest as _pytest

    from datas_spark.operators.corpus import unimax_allocation

    df = spark.createDataFrame([("a", 1)], "source string, w long")
    with _pytest.raises(ValueError):
        unimax_allocation(df, "source", "w", -1)
    with _pytest.raises(ValueError):
        unimax_allocation(df, "source", "w", 10, max_epochs=0)


def test_pack_concat_chunks_exact_windows(spark):
    from datas_spark.operators.corpus import pack_concat_chunks

    rows = [(1, "a b c"), (2, "d e f g"), (3, "h i"), (4, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(
        pack_concat_chunks(df, "doc_id", "text", budget=4).collect(),
        key=lambda r: (r.chunk, r.doc_id),
    )
    got = [(r.chunk, r.doc_id, r.doc_from, r.doc_to, r.chunk_off) for r in out]
    # stream: doc1 tokens 0-2, doc2 tokens 3-6, doc3 tokens 7-8; doc4 empty
    assert got == [
        (0, 1, 0, 3, 0),   # doc1 fully in chunk 0 at offset 0
        (0, 2, 0, 1, 3),   # doc2's first token completes chunk 0
        (1, 2, 1, 4, 0),   # doc2's remaining 3 tokens open chunk 1
        (1, 3, 0, 1, 3),   # doc3's first token completes chunk 1
        (2, 3, 1, 2, 0),   # doc3's last token opens chunk 2
    ]
    # every chunk except the last is exactly full
    from collections import defaultdict
    fill = defaultdict(int)
    for c, _d, f, t, _o in got:
        fill[c] += t - f
    assert fill[0] == 4 and fill[1] == 4 and fill[2] == 1


def test_pack_concat_chunks_sharded_independent(spark):
    from datas_spark.operators.corpus import pack_concat_chunks

    df = spark.createDataFrame(
        [("s1", 1, "a b c d e"), ("s2", 2, "x y z")],
        "source string, doc_id long, text string",
    )
    out = pack_concat_chunks(df, "doc_id", "text", budget=4, shard_col="source")
    by_shard = {}
    for r in out.collect():
        by_shard.setdefault(r.source, []).append((r.chunk, r.doc_from, r.doc_to))
    # each shard starts its own chunk numbering at 0
    assert min(c for c, _f, _t in by_shard["s1"]) == 0
    assert by_shard["s2"] == [(0, 0, 3)]


def test_pack_concat_chunks_validation(spark):
    import pytest as _pytest

    from datas_spark.operators.corpus import pack_concat_chunks

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        pack_concat_chunks(df, "doc_id", "text", budget=0)


def test_token_budget_mixture_accepts_budget_dataframe(spark):
    from pyspark.sql import functions as F

    from datas_spark.operators.corpus import token_budget_mixture

    df = spark.createDataFrame(
        [(i, "a" if i < 6 else "b", 10) for i in range(10)],
        "doc_id long, source string, w long",
    )
    as_dict = token_budget_mixture(df, "source", "w", {"a": 30, "b": 15})
    budgets = spark.createDataFrame(
        [("a", 30), ("b", 15)], "source string, budget long"
    )
    as_df = token_budget_mixture(df, "source", "w", budgets)
    assert sorted(r.doc_id for r in as_dict.collect()) == sorted(
        r.doc_id for r in as_df.collect()
    )
    # a source absent from the budget table is excluded either way
    short = token_budget_mixture(
        df, "source", "w", spark.createDataFrame([("a", 30)], "source string, budget long")
    )
    assert {r.source for r in short.collect()} == {"a"}


# ---------------------------------------------------------------------------
# round 6: distributed quality-classifier training (CCNet/RedPajama loop)
# ---------------------------------------------------------------------------

def _separable_docs(spark):
    """20 'good' docs of good-vocabulary tokens, 20 'bad' ones — linearly
    separable in hashed-BoW space."""
    good_vocab = ["insight", "method", "theory", "proof", "result"]
    bad_vocab = ["zzz", "spamword", "junktok", "garbled", "noise"]
    rows = []
    for i in range(20):
        rows.append((i, " ".join(good_vocab[(i + j) % 5] for j in range(12)), 1.0))
        rows.append((100 + i, " ".join(bad_vocab[(i + j) % 5] for j in range(12)), 0.0))
    return spark.createDataFrame(rows, "doc_id: long, text: string, label: double")


@pytest.mark.slow
def test_quality_classifier_train_shape_and_separation(spark):
    docs = _separable_docs(spark)
    model = C.quality_classifier_train(
        docs, "doc_id", "text", "label", num_features=64
    )
    rows = model.collect()
    assert len(rows) == 64 + 1  # one weight per bucket + intercept
    assert {r["feature"] for r in rows} == set(range(64)) | {-1}
    assert all(abs(r["weight"]) < 1e6 for r in rows)  # finite, sane
    # end-to-end: score the training docs through the inference path
    bias = [r["weight"] for r in rows if r["feature"] == -1][0]
    scored = {
        r["doc_id"]: r["quality_prob"]
        for r in C.hashed_bow_score(
            docs, "doc_id", "text", model, num_features=64, bias=bias
        ).collect()
    }
    good = [scored[i] for i in range(20)]
    bad = [scored[100 + i] for i in range(20)]
    assert min(good) > max(bad)  # separable fixture separates


@pytest.mark.slow
def test_quality_classifier_train_reproducible(spark):
    docs = _separable_docs(spark)
    w1 = {r["feature"]: r["weight"] for r in C.quality_classifier_train(
        docs, "doc_id", "text", "label", num_features=32).collect()}
    w2 = {r["feature"]: r["weight"] for r in C.quality_classifier_train(
        docs, "doc_id", "text", "label", num_features=32).collect()}
    assert set(w1) == set(w2)
    assert all(abs(w1[k] - w2[k]) < 1e-6 for k in w1)


def test_logreg_gd_train_shape_and_separation(spark):
    """The deterministic GD twin learns the separable fixture: correct
    model shape, weights finite, and the train→score loop ranks every
    good doc above every bad doc."""
    docs = _separable_docs(spark)
    model = C.logreg_gd_train(
        docs, "doc_id", "text", "label", num_features=64, n_steps=4
    )
    rows = model.collect()
    assert len(rows) == 64 + 1
    assert {r["feature"] for r in rows} == set(range(64)) | {-1}
    bias = [r["weight"] for r in rows if r["feature"] == -1][0]
    scored = {
        r["doc_id"]: r["quality_prob"]
        for r in C.hashed_bow_score(
            docs, "doc_id", "text", model, num_features=64, bias=bias
        ).collect()
    }
    good = [scored[i] for i in range(20)]
    bad = [scored[100 + i] for i in range(20)]
    assert min(good) > max(bad)


def test_logreg_gd_train_exactly_reproducible(spark):
    """Unlike the MLlib twin's <1e-6 tolerance, the GD trainer is
    integer-exact: two fits are IDENTICAL doubles."""
    docs = _separable_docs(spark)
    fit = lambda: {r["feature"]: r["weight"] for r in C.logreg_gd_train(
        docs, "doc_id", "text", "label", num_features=32, n_steps=3
    ).collect()}
    w1, w2 = fit(), fit()
    assert w1 == w2  # bit-identical, not approximately equal


def test_logreg_gd_train_matches_python_replay(spark):
    """Every GD step replays in plain Python with the same integer
    algebra (the oracle's third engine): exact match."""
    import hashlib
    import math

    docs = spark.createDataFrame(
        [(1, "alpha beta beta", 1.0), (2, "gamma gamma", 0.0),
         (3, "alpha gamma", 1.0), (4, "beta", 0.0)],
        "doc_id: long, text: string, label: double",
    )
    nf, steps, scale = 8, 3, 1_000_000
    got = {r["feature"]: r["weight"] for r in C.logreg_gd_train(
        docs, "doc_id", "text", "label",
        num_features=nf, n_steps=steps).collect()}

    def h60(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)

    feats, ys = {}, {}
    for did, text, y in [(1, "alpha beta beta", 1), (2, "gamma gamma", 0),
                         (3, "alpha gamma", 1), (4, "beta", 0)]:
        ys[did] = y
        cs = {-1: 1}
        for t in text.split():
            b = h60(t) % nf
            cs[b] = cs.get(b, 0) + 1
        feats[did] = cs
    w = {b: 0 for b in range(-1, nf)}
    n = len(feats)
    for _ in range(steps):
        grads = {b: 0 for b in w}
        for did, cs in feats.items():
            zq = sum(w[b] * c for b, c in cs.items())
            p = 1.0 / (1.0 + math.exp(-(zq / scale)))
            x = (p - ys[did]) * scale
            rq = math.floor(abs(x) + 0.5) * (1 if x >= 0 else -1)
            for b, c in cs.items():
                grads[b] += rq * c
        for b in w:
            s, dn = 1 * grads[b], 2 * n
            w[b] -= (s - ((s % dn) + dn) % dn) // dn
    assert got == {b: wq / scale for b, wq in w.items()}


def test_logreg_gd_train_edge_inputs(spark):
    """No docs: every weight stays at its init 0 (N = 0 takes no step).
    One doc: plain GD on that doc. Docs sharing an id merge into one
    training row per (id, label) over the id's merged token counts —
    pinned weights."""
    schema = "doc_id: long, text: string, label: int"
    docs = [(i, f"tok{i % 5} word{i % 3} alpha beta", i % 2) for i in range(12)]

    def fit(rows):
        return sorted(
            tuple(r) for r in C.logreg_gd_train(
                spark.createDataFrame(rows, schema), "doc_id", "text", "label",
                num_features=8, n_steps=3,
            ).collect()
        )

    assert fit([]) == [(b, 0.0) for b in range(-1, 8)]
    assert fit(docs[:1]) == [
        (-1, -0.37092), (0, 0.0), (1, 0.0), (2, 0.0), (3, -0.741841),
        (4, -0.37092), (5, 0.0), (6, -0.37092), (7, 0.0),
    ]
    assert fit(docs + [(3, "other words here", 1)]) == [
        (-1, -0.06451), (0, 0.0), (1, 0.086755), (2, 0.065185), (3, 0.107004),
        (4, -0.087836), (5, -0.007305), (6, 0.01193), (7, 0.0),
    ]


def test_logreg_gd_train_job_count(spark, job_count):
    """Each step is one collected gradient aggregate (N rides along as
    the intercept bucket's row count): at most 2 jobs per step plus a
    small constant."""
    docs = _separable_docs(spark)
    n = job_count(lambda: C.logreg_gd_train(
        docs, "doc_id", "text", "label", num_features=32, n_steps=3
    ).collect())
    assert n <= 2 * 3 + 4


def test_logreg_gd_train_validates_params(spark):
    import pytest as _pytest

    docs = _separable_docs(spark)
    for kw in ({"num_features": 0}, {"n_steps": 0},
               {"lr_num": 0}, {"lr_den": 0}):
        with _pytest.raises(ValueError):
            C.logreg_gd_train(docs, "doc_id", "text", "label", **kw)


def test_hashed_bow_features_zero_vector_and_counts(spark):
    docs = spark.createDataFrame(
        [(1, "alpha alpha beta"), (2, None)], "doc_id: long, text: string"
    )
    out = {r["doc_id"]: r["features"] for r in
           C.hashed_bow_features(docs, "doc_id", "text", num_features=16).collect()}
    assert len(out) == 2
    # counts: 3 tokens total over 1-2 buckets (alpha/beta may collide)
    assert sum(out[1]) == 3.0 and max(out[1]) >= 2.0
    assert sum(out[2]) == 0.0  # null doc -> zero vector, row preserved
    assert len(out[1]) == 16 and len(out[2]) == 16


# ---------------------------------------------------------------------------
# round 6: Unicode NFC normalization
# ---------------------------------------------------------------------------


def test_nfc_normalize_text_composes_and_passes_nulls(spark):
    from datas_spark.operators.corpus import nfc_normalize_text

    decomposed = "café Å"
    composed = "café Å"
    df = spark.createDataFrame(
        [(1, decomposed), (2, composed), (3, None), (4, "plain ascii")],
        "id long, text string",
    )
    got = {r["id"]: r["text_nfc"] for r in nfc_normalize_text(df, "text").collect()}
    assert got[1] == composed
    assert got[2] == composed  # already-NFC is a fixpoint
    assert got[3] is None
    assert got[4] == "plain ascii"


def test_unigram_lm_score_matches_hand_computed_probs(spark):
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_tokens, r.nll)
        for r in C.unigram_lm_score(df, "doc_id", "text").collect()
    }
    # corpus: c(a)=2 c(b)=2 c(c)=1, total 5
    exp1 = round(-(2 * math.log(2 / 5) + math.log(2 / 5)) / 3, 6)
    exp2 = round(-(math.log(2 / 5) + math.log(1 / 5)) / 2, 6)
    assert got[1] == (3, exp1)
    assert got[2] == (2, exp2)


def test_doremi_weights_upweight_high_excess_and_sum_to_one(spark):
    df = spark.createDataFrame(
        [
            ("web", 1.0, 3.0, 2.5),   # excess 0.5
            ("web", 2.0, 3.2, 2.8),   # excess 0.4
            ("code", 3.0, 4.0, 2.0),  # excess 2.0
            ("wiki", 4.0, 2.0, 2.5),  # proxy BETTER than ref -> clipped 0
        ],
        "domain string, doc_id double, proxy double, ref double",
    )
    rows = {
        r.domain: r
        for r in C.doremi_domain_weights(df, "domain", "proxy", "ref").collect()
    }
    assert rows["wiki"].excess_loss == 0.0
    assert rows["code"].excess_loss == 2.0
    assert abs(rows["web"].excess_loss - 0.45) < 1e-9
    # the hardest domain gets the largest weight; clipped one the smallest
    assert rows["code"].weight > rows["web"].weight > rows["wiki"].weight
    assert abs(sum(r.weight for r in rows.values()) - 1.0) < 1e-5
    # smoothing floor: even a zero-excess domain keeps >= c/k
    assert rows["wiki"].weight >= 0.01 / 3


def test_doremi_k_edge_inputs(spark):
    """k-step DoReMi on edge inputs: no rows give no domains; one domain
    takes all the weight; a NULL domain is a domain of its own (first
    in fold order) and a NULL loss adds zero excess — pinned weights."""
    schema = "src string, p double, r double"

    def weights(rows):
        return sorted(
            map(tuple, C.doremi_domain_weights_k(
                spark.createDataFrame(rows, schema), "src", "p", "r", n_steps=5
            ).collect()),
            key=lambda t: (t[0] is not None, t[0]),
        )

    assert weights([]) == []
    assert weights([("a", 3.0, 1.0), ("a", 1.0, 2.0)]) == [("a", 2, 1.0, 1.0)]
    assert weights([
        ("a", 3.0, 1.0), ("a", 2.5, 2.0), ("b", 1.0, 0.5),
        ("c", 4.0, 1.0), ("c", None, 1.0), (None, 2.0, 1.0),
    ]) == [
        (None, 1, 1.0, 0.064226), ("a", 2, 1.25, 0.210479),
        ("b", 1, 0.5, 0.008925), ("c", 2, 1.5, 0.716371),
    ]


def test_doremi_null_losses_contribute_zero_excess(spark):
    df = spark.createDataFrame(
        [("a", 1, 2.0, 1.0), ("a", 2, None, None), ("b", 3, 1.0, 1.0)],
        "domain string, doc_id long, proxy double, ref double",
    )
    rows = {
        r.domain: r
        for r in C.doremi_domain_weights(df, "domain", "proxy", "ref").collect()
    }
    # null (proxy - ref) clips to 0 via greatest, counted in the avg
    assert abs(rows["a"].excess_loss - 0.5) < 1e-9
    assert rows["a"].n_docs == 2


def test_importance_weight_diagnostics_ess_bounds(spark):
    """Uniform weights -> ESS == n (100%); one dominant weight -> ESS
    near 1 and max share near 100%; NULL/zero-token rows excluded."""
    from datas_spark.operators.corpus import importance_weight_diagnostics

    uni = spark.createDataFrame(
        [(0.0, 10)] * 50, "dsir_weight double, n_tokens long"
    )
    r = importance_weight_diagnostics(uni, "dsir_weight", "n_tokens").collect()[0]
    assert r.n_docs == 50 and r.n_excluded == 0
    assert r.ess == 50.0 and r.ess_pct == 100.0
    assert abs(r.max_w_share_pct - 2.0) < 1e-6

    skewed = spark.createDataFrame(
        [(100.0, 10)] + [(0.0, 10)] * 49 + [(None, 0)],
        "dsir_weight double, n_tokens long",
    )
    r2 = importance_weight_diagnostics(skewed, "dsir_weight", "n_tokens").collect()[0]
    assert r2.n_docs == 50 and r2.n_excluded == 1
    assert r2.ess < 1.01  # exp(10) dwarfs the 49 unit weights
    assert r2.max_w_share_pct > 99.0


def test_importance_weight_diagnostics_extreme_and_degenerate(spark):
    """A per-token log-ratio above ~42 must clamp (not CAST_OVERFLOW
    under ANSI); all-zero quantized weights must yield NULL ess, not
    NaN."""
    from datas_spark.operators.corpus import importance_weight_diagnostics

    huge = spark.createDataFrame(
        [(1000.0, 1), (0.0, 10)], "dsir_weight double, n_tokens long"
    )
    r = importance_weight_diagnostics(huge, "dsir_weight", "n_tokens").collect()[0]
    assert r.n_docs == 2 and r.max_w_share_pct > 99.0  # clamp binds, no crash

    zero = spark.createDataFrame(
        [(-1000.0, 1)] * 3, "dsir_weight double, n_tokens long"
    )
    r2 = importance_weight_diagnostics(zero, "dsir_weight", "n_tokens").collect()[0]
    assert r2.n_docs == 3 and r2.ess is None and r2.ess_pct is None
    assert r2.max_w_share_pct is None

    # Round-9 ADVICE: a NaN log-ratio must be EXCLUDED, not clamped to
    # the 1e18 maximum (Spark orders NaN above every double, so
    # F.least(NaN, 1e18) would silently make a corrupt weight dominate).
    nan = spark.createDataFrame(
        [(float("nan"), 10)] + [(0.0, 10)] * 4,
        "dsir_weight double, n_tokens long",
    )
    r3 = importance_weight_diagnostics(nan, "dsir_weight", "n_tokens").collect()[0]
    assert r3.n_docs == 4 and r3.n_excluded == 1
    assert r3.ess == 4.0  # the 4 clean uniform weights, NaN gone
    assert abs(r3.max_w_share_pct - 25.0) < 1e-6


def test_doc_novelty_rate_counts_and_routing(spark):
    """Planted: eval doc e1 repeats training text (novelty 0 ->
    review), e2 is fresh (novelty 1 -> release), e3 is half-known,
    e4 too short to certify (NULL -> review)."""
    from datas_spark.operators.corpus import doc_novelty_rate

    train = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], ["doc_id", "text"]
    )
    evald = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),       # grams all known
            (2, "zig zag zip zap"),              # grams all novel
            (3, "alpha beta gamma zap"),         # 1 of 2 known
            (4, "too short"),                    # < 3 tokens: no grams
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in doc_novelty_rate(evald, train, "doc_id", "text", n=3).collect()
    }
    assert out[1].n_grams == 2 and out[1].n_known == 2
    assert out[1].novelty_rate == 0.0 and out[1].route == "review"
    assert out[2].n_known == 0 and out[2].novelty_rate == 1.0
    assert out[2].route == "release"
    assert out[3].n_grams == 2 and out[3].n_known == 1
    assert out[3].novelty_rate == 0.5 and out[3].route == "release"
    assert out[4].n_grams == 0 and out[4].novelty_rate is None
    assert out[4].route == "review"


def test_doc_novelty_rate_validates_threshold(spark):
    import pytest as _pytest

    from datas_spark.operators.corpus import doc_novelty_rate

    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with _pytest.raises(ValueError):
        doc_novelty_rate(df, df, "doc_id", "text", min_novelty=1.5)


def test_doc_novelty_route_bloom_is_sound_lower_bound(spark):
    """Bloom one-sidedness: per doc, novelty_lower_bound <= the exact
    tier's novelty_rate, and every Bloom 'release' is an exact-tier
    'release' (false positives only ever send MORE docs to verify)."""
    from datas_spark.operators.corpus import (
        doc_novelty_rate,
        doc_novelty_route_bloom,
    )

    train = spark.createDataFrame(
        [(100 + i, f"alpha beta gamma delta run{i} end{i}") for i in range(20)],
        ["doc_id", "text"],
    )
    evald = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "zig zag zip zap zoom"),
            (3, "alpha beta gamma zap novel words here"),
        ],
        ["doc_id", "text"],
    )
    exact = {
        r.doc_id: r
        for r in doc_novelty_rate(evald, train, "doc_id", "text", n=3).collect()
    }
    bloom = {
        r.doc_id: r
        for r in doc_novelty_route_bloom(
            evald, train, "doc_id", "text", n=3, m_bits=1 << 16
        ).collect()
    }
    for d in exact:
        assert bloom[d].n_grams == exact[d].n_grams
        assert bloom[d].novelty_lower_bound <= exact[d].novelty_rate + 1e-9
        if bloom[d].route == "release":
            assert exact[d].route == "release"
    # with a roomy filter the known/novel split is exact on this data
    assert bloom[1].route == "verify" and bloom[2].route == "release"


def test_doc_novelty_route_bloom_validates(spark):
    import pytest as _pytest

    from datas_spark.operators.corpus import doc_novelty_route_bloom

    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with _pytest.raises(ValueError):
        doc_novelty_route_bloom(df, df, "doc_id", "text", min_novelty=-0.1)


def test_data_constrained_report_decay_law(spark):
    """Muennighoff decay math: a 1-epoch source is 100% efficient; a
    repeated source's effective tokens follow U*(1+R*(1-e^{-R/R*}))
    with efficiency strictly below 1; the in-plan budget equals
    budget_epochs x the corpus total; allocations never exceed the
    epoch cap."""
    import math

    rows = [("big", 1000), ("small", 100)]
    df = spark.createDataFrame(
        [(s, 1, w) for s, w in rows], "source string, row int, w long"
    )
    out = {r.source: r for r in C.data_constrained_report(
        df, "source", "w", budget_epochs=2.0, max_epochs=8.0, r_star=15.39
    ).collect()}
    total = 1100
    assert sum(r.alloc_tokens for r in out.values()) <= 2 * total
    for s, avail in rows:
        r = out[s]
        assert r.avail_tokens == avail
        assert r.alloc_tokens <= 8 * avail
        reps = round(max(r.alloc_tokens / avail - 1.0, 0.0), 6)
        assert abs(r.repetitions - reps) < 1e-9
        mult = 1.0 + 15.39 * (1.0 - math.exp(-reps / 15.39))
        assert abs(r.effective_tokens - round(avail * mult, 6)) < 1e-5
        if r.alloc_tokens > avail:
            assert r.efficiency < 1.0
    # a budget of exactly 1 epoch -> no repetition, efficiency 1.0
    one = {r.source: r for r in C.data_constrained_report(
        df, "source", "w", budget_epochs=1.0).collect()}
    for r in one.values():
        if r.alloc_tokens == r.avail_tokens:
            assert r.efficiency == 1.0 and r.repetitions == 0.0
    import pytest as _pytest
    with _pytest.raises(ValueError):
        C.data_constrained_report(df, "source", "w", budget_epochs=0)
