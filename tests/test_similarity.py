"""Similarity-search tests: exact top-k ground truth + LSH plumbing."""

import pytest

import math
import random

from datas_spark.operators import similarity as SIM


def _vecs(spark, n=30, dim=8, seed=3):
    rng = random.Random(seed)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)]
    return rows, spark.createDataFrame(rows, "id long, v array<double>")


def _cos(a, b):
    d = sum(x * y for x, y in zip(a, b))
    na, nb = math.sqrt(sum(x * x for x in a)), math.sqrt(sum(x * x for x in b))
    return d / (na * nb)


def test_cosine_topk_matches_bruteforce(spark):
    rows, df = _vecs(spark)
    queries = df.where("id < 2")
    got = SIM.cosine_topk(df, queries, "id", "id", "v", k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r[0], []).append(r)
    vec = dict(rows)
    for qid, hits in by_q.items():
        expected = sorted(
            ((round(_cos(vec[qid], v), 6), i) for i, v in rows),
            key=lambda t: (-t[0], t[1]),
        )[:5]
        got_ids = [h[1] for h in sorted(hits, key=lambda h: h.rank)]
        assert got_ids == [i for _, i in expected]


def test_cosine_topk_zero_norm_dropped_both_paths(spark):
    rows = [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [0.5, 0.5]), (3, [-1.0, 0.2])]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    queries = df.where("id = 0")
    hof = SIM.cosine_topk(df, queries, "id", "id", "v", k=4).collect()
    vec = SIM.cosine_topk_vectorized(df, queries, "id", "id", "v", k=4).collect()
    hof_ids = [r.d_id for r in sorted(hof, key=lambda r: r.rank)]
    vec_ids = [r.d_id for r in sorted(vec, key=lambda r: r.rank)]
    assert hof_ids == vec_ids
    assert 1 not in hof_ids  # zero-norm row excluded, not ranked as 0.0


def test_cosine_topk_prune_is_lossless_small_bucket_count(spark):
    # k > number of non-empty buckets exercises the no-prune fallback
    rows, df = _vecs(spark, n=12)
    queries = df.where("id < 2")
    got = SIM.cosine_topk(df, queries, "id", "id", "v", k=11, prune_buckets=2).collect()
    assert len(got) == 22  # 11 ranked hits per query, nothing lost


def test_lsh_topk_self_hit(spark):
    rows, df = _vecs(spark)
    queries = df.where("id < 3")
    got = SIM.lsh_topk(df, queries, "id", "id", "v", k=3, n_planes=4)
    res = got.collect()
    # every query shares a bucket with itself → rank-1 hit is itself (cos=1)
    top1 = {r[0]: r[1] for r in res if r.rank == 1}
    assert top1 == {0: 0, 1: 1, 2: 2}


def _recall_at_k(rows, got, k, qids):
    vec = dict(rows)
    exact = {
        qid: {
            i
            for _, i in sorted(
                ((round(_cos(vec[qid], v), 6), i) for i, v in rows),
                key=lambda t: (-t[0], t[1]),
            )[:k]
        }
        for qid in qids
    }
    by_q = {}
    for r in got:
        by_q.setdefault(r[0], set()).add(r[1])
    return sum(len(by_q.get(q, set()) & exact[q]) for q in exact) / (k * len(qids))


def test_lsh_topk_multiprobe_recall_not_worse(spark):
    rows, df = _vecs(spark, n=80, seed=7)
    queries = df.where("id < 4")
    qids = (0, 1, 2, 3)
    single = SIM.lsh_topk(df, queries, "id", "id", "v", k=5, n_planes=6).collect()
    multi = SIM.lsh_topk(
        df, queries, "id", "id", "v", k=5, n_planes=6, n_probe=4
    ).collect()
    r1 = _recall_at_k(rows, single, 5, qids)
    rn = _recall_at_k(rows, multi, 5, qids)
    assert rn >= r1
    assert rn >= 0.5  # 4 probes of 64 buckets must beat coin-flip recall
    top1 = {r[0]: r[1] for r in multi if r.rank == 1}
    assert top1 == {0: 0, 1: 1, 2: 2, 3: 3}  # self-hit survives probing


def test_lsh_topk_n_probe_validation(spark):
    import pytest

    _, df = _vecs(spark, n=5)
    with pytest.raises(ValueError, match="n_probe"):
        SIM.lsh_topk(df, df, "id", "id", "v", n_planes=4, n_probe=6)


def test_ivf_topk_self_hit_and_recall(spark):
    rows, df = _vecs(spark, n=40)
    queries = df.where("id < 3")
    got = SIM.ivf_topk(df, queries, "id", "id", "v", k=5, n_cells=4, n_probe=2).collect()
    # every query's own cell is always its nearest cell → rank-1 is itself
    top1 = {r[0]: r[1] for r in got if r.rank == 1}
    assert top1 == {0: 0, 1: 1, 2: 2}
    # probing 2/4 cells must surface a decent share of the true top-5
    vec = dict(rows)
    exact = {
        qid: {
            i
            for _, i in sorted(
                ((round(_cos(vec[qid], v), 6), i) for i, v in rows),
                key=lambda t: (-t[0], t[1]),
            )[:5]
        }
        for qid in (0, 1, 2)
    }
    by_q = {}
    for r in got:
        by_q.setdefault(r[0], set()).add(r[1])
    hits = sum(len(by_q.get(q, set()) & exact[q]) for q in exact)
    assert hits >= 6  # ≥40% overall recall on this tiny fixture


def test_ivf_index_partitions_rows(spark):
    _, df = _vecs(spark, n=25)
    assigned, centers = SIM.ivf_build_index(df, "id", "v", n_cells=3)
    assert len(centers) == 3 and all(len(c) == 8 for c in centers)
    rows = assigned.collect()
    assert len(rows) == 25  # every row lands in exactly one cell
    assert {r["__cell"] for r in rows} <= {0, 1, 2}


def test_hyperplane_signature_deterministic(spark):
    _, df = _vecs(spark, n=5)
    planes = SIM.random_hyperplanes(8, 4, seed=42)
    a = [r.bucket for r in SIM.hyperplane_signature(df, "v", planes).orderBy("id").collect()]
    b = [r.bucket for r in SIM.hyperplane_signature(df, "v", planes).orderBy("id").collect()]
    assert a == b
    assert all(0 <= x < 16 for x in a)


def test_cosine_topk_vectorized_matches_hof_path(spark):
    rows, df = _vecs(spark, n=60)
    queries = df.where("id < 3")
    hof = SIM.cosine_topk(df, queries, "id", "id", "v", k=7)
    vec = SIM.cosine_topk_vectorized(df, queries, "id", "id", "v", k=7)
    key = lambda r: (r[0], r.rank)
    hof_rows = sorted(hof.collect(), key=key)
    vec_rows = sorted(vec.collect(), key=key)
    assert [tuple(r) for r in hof_rows] == [tuple(r) for r in vec_rows]


def test_cosine_topk_vectorized_prunes_per_batch(spark):
    # force many small partitions so local-top-k pruning actually kicks
    # in across batch boundaries, then check global ranks stay exact
    rows, df = _vecs(spark, n=50)
    df = df.repartition(10)
    queries = spark.createDataFrame([rows[5]], "id long, v array<double>")
    got = SIM.cosine_topk_vectorized(df, queries, "id", "id", "v", k=5).collect()
    assert [r.rank for r in sorted(got, key=lambda r: r.rank)] == [1, 2, 3, 4, 5]
    assert sorted(got, key=lambda r: r.rank)[0][1] == 5  # self-hit first


@pytest.mark.slow
def test_ivf_index_persists_and_partition_prunes(spark, tmp_path):
    # the 100 TB contract from ivf_build_index's docstring: persist the
    # inverted lists partitioned by cell, and a cell probe becomes a
    # partition-PRUNED scan (no full-index read per query batch)
    from pyspark.sql import functions as F

    _, df = _vecs(spark, n=40)
    assigned, centers = SIM.ivf_build_index(df, "id", "v", n_cells=4)
    path = str(tmp_path / "ivf_index")
    assigned.write.partitionBy("__cell").parquet(path)
    back = spark.read.parquet(path)
    probe = back.where(F.col("__cell") == 1)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__cell" in plan.split("PartitionFilters")[1][:120]
    # pruned scan returns exactly that cell's rows, index round-trips whole
    assert probe.count() == assigned.where("__cell = 1").count()
    assert back.count() == 40
    # the query half runs against the PERSISTED index (no re-cluster,
    # no rebuild) and matches querying the live build exactly
    queries = df.where("id < 3")
    live = SIM.ivf_topk(df, queries, "id", "id", "v", k=5, n_cells=4, n_probe=2)
    stored = SIM.ivf_topk_on_index(
        back, centers, queries, "id", "id", "v", k=5, n_probe=2
    )
    key = lambda r: (r[0], r.rank)
    assert [tuple(r) for r in sorted(stored.collect(), key=key)] == [
        tuple(r) for r in sorted(live.collect(), key=key)
    ]


def test_cosine_topk_vectorized_wide_4096_dim(spark):
    # the module's claimed wide-embedding path: 4096-dim vectors through
    # the Arrow matmul agree with the Column-expression plan exactly
    import random

    rng = random.Random(17)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(4096)]) for i in range(24)]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    queries = df.where("id < 2")
    key = lambda r: (r[0], r.rank)
    hof = sorted(SIM.cosine_topk(df, queries, "id", "id", "v", k=4).collect(), key=key)
    vec = sorted(
        SIM.cosine_topk_vectorized(df, queries, "id", "id", "v", k=4).collect(), key=key
    )
    assert [tuple(r) for r in hof] == [tuple(r) for r in vec]
    assert hof[0][1] == 0  # self-hit at rank 1


def test_cross_contamination_flags_planted_twin(spark):
    from datas_spark.operators.similarity import cross_contamination

    base = [0.0] * 8
    bench = spark.createDataFrame(
        [(100, [1.0, 0.5, -0.25, 0.75, 0.1, -0.6, 0.3, 0.9])],
        "vec_id: long, embedding: array<double>",
    )
    twin = [1.0, 0.5, -0.25, 0.75, 0.1, -0.6, 0.3, 0.90001]  # cos ~ 1
    ortho = [0.9, -0.5, 0.25, -0.75, 0.0, 0.6, -0.3, 0.0]
    train = spark.createDataFrame(
        [(1, twin), (2, ortho)], "vec_id: long, embedding: array<double>"
    )
    got = cross_contamination(
        train, bench, "vec_id", "embedding", threshold=0.95, n_planes=4, dim=8
    ).collect()
    assert [(r["vec_id"], r["n_matches"]) for r in got] == [(1, 1)]
    assert got[0]["max_cos"] > 0.999


def test_cross_contamination_no_cross_join(spark, sf_dir):
    from datas_spark.operators.similarity import cross_contamination

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = cross_contamination(
        emb.where("vec_id % 13 != 0"), emb.where("vec_id % 13 = 0"),
        "vec_id", "embedding", threshold=0.3,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# round 6: product quantization (ADC compressed-domain ANN)
# ---------------------------------------------------------------------------


def test_pq_encode_contract(spark):
    rows, df = _vecs(spark, n=40, dim=8, seed=11)
    cbs = df.where("id < 8").selectExpr("id as code", "v")
    enc = SIM.pq_encode(df, cbs, "id", "code", "v", m=4).collect()
    assert len(enc) == 40
    for r in enc:
        assert len(r["__codes"]) == 4
        assert all(0 <= c < 8 for c in r["__codes"])
        assert r["__dn2"] > 0
    # deterministic: re-encode gives identical codes
    enc2 = {r["__did"]: r["__codes"] for r in SIM.pq_encode(df, cbs, "id", "code", "v", m=4).collect()}
    assert {r["__did"]: r["__codes"] for r in enc} == enc2


def test_pq_topk_full_oversample_equals_exact(spark):
    # when k*oversample covers the whole dataset every row survives the
    # candidate cut, so the exact rerank must reproduce cosine_topk
    rows, df = _vecs(spark, n=30, dim=8, seed=7)
    q = df.where("id < 3")
    cbs = df.where("id < 8").selectExpr("id as code", "v")
    pq = SIM.pq_topk_fixed(df, q, cbs, "id", "id", "code", "v", m=4, k=5, oversample=6)
    exact = SIM.cosine_topk(df, q, "id", "id", "v", k=5)
    key = lambda r: (r["q_id"], r["rank"])
    assert sorted(map(tuple, pq.collect()), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, exact.collect()), key=lambda t: (t[0], t[3])
    )


def test_pq_topk_recall_reasonable(spark):
    rows, df = _vecs(spark, n=200, dim=16, seed=5)
    q = df.where("id < 4")
    cbs = df.where("id < 16").selectExpr("id as code", "v")
    pq = SIM.pq_topk_fixed(df, q, cbs, "id", "id", "code", "v", m=4, k=5, oversample=8)
    exact = SIM.cosine_topk(df, q, "id", "id", "v", k=5)
    ex = {(r["q_id"], r["d_id"]) for r in exact.collect()}
    got = {(r["q_id"], r["d_id"]) for r in pq.collect()}
    assert len(ex & got) / len(ex) >= 0.5


def test_pq_topk_rejects_indivisible_dim(spark):
    import pytest as _pytest

    rows, df = _vecs(spark, n=10, dim=6, seed=2)
    cbs = df.where("id < 4").selectExpr("id as code", "v")
    with _pytest.raises(ValueError):
        SIM.pq_encode(df, cbs, "id", "code", "v", m=4)


@pytest.mark.slow
def test_ivfpq_full_probe_full_oversample_equals_exact(spark):
    # probing every cell with a whole-dataset candidate cut degrades
    # IVF-PQ to exact search after the rerank
    rows, df = _vecs(spark, n=30, dim=8, seed=9)
    q = df.where("id < 3")
    cells = df.where("id < 4").selectExpr("id as cell", "v")
    cbs = df.where("id < 8").selectExpr("id as code", "v")
    got = SIM.ivfpq_topk_fixed(
        df, q, cells, cbs, "id", "id", "cell", "code", "v",
        m=4, k=5, oversample=6, n_probe=4,
    )
    exact = SIM.cosine_topk(df, q, "id", "id", "v", k=5)
    assert sorted(map(tuple, got.collect()), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, exact.collect()), key=lambda t: (t[0], t[3])
    )


def test_ivfpq_probe_subset_reduces_candidates(spark):
    rows, df = _vecs(spark, n=100, dim=8, seed=13)
    q = df.where("id < 2")
    cells = df.where("id < 8").selectExpr("id as cell", "v")
    cbs = df.where("id < 8").selectExpr("id as code", "v")
    got = SIM.ivfpq_topk_fixed(
        df, q, cells, cbs, "id", "id", "cell", "code", "v",
        m=4, k=5, oversample=4, n_probe=2,
    ).collect()
    # contract shape holds and every query returns <= k rows
    per_q = {}
    for r in got:
        per_q.setdefault(r["q_id"], []).append(r)
    for qid, hits in per_q.items():
        assert len(hits) <= 5
        ranks = sorted(h["rank"] for h in hits)
        assert ranks == list(range(1, len(hits) + 1))


def test_ann_recall_report_counts(spark):
    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21)], "q long, d long"
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 99), (1, 12), (2, 77), (2, 78)], "q long, d long"
    )
    got = {r["q"]: r for r in SIM.ann_recall_report(exact, approx, "q", "d").collect()}
    assert got[1]["n_exact"] == 3 and got[1]["n_hits"] == 2
    assert abs(got[1]["recall"] - 0.666667) < 1e-9
    assert got[2]["n_hits"] == 0 and got[2]["recall"] == 0.0


@pytest.mark.slow
def test_pq_topk_on_persisted_codes_equals_inline(spark, tmp_path):
    from datas_spark.operators.similarity import pq_encode, pq_topk_on_codes

    rows, df = _vecs(spark, n=40, dim=8, seed=31)
    q = df.where("id < 2")
    cbs = df.where("id < 8").selectExpr("id as code", "v")
    inline = SIM.pq_topk_fixed(df, q, cbs, "id", "id", "code", "v", m=4, k=5, oversample=4)
    path = str(tmp_path / "pq_codes")
    pq_encode(df, cbs, "id", "code", "v", m=4).write.parquet(path)
    persisted = pq_topk_on_codes(
        spark.read.parquet(path), df, q, cbs, "id", "id", "code", "v",
        m=4, k=5, oversample=4,
    )
    assert sorted(map(tuple, inline.collect())) == sorted(map(tuple, persisted.collect()))


def test_pq_family_empty_queries_raise(spark):
    import pytest as _pytest

    rows, df = _vecs(spark, n=10, dim=8, seed=2)
    cbs = df.where("id < 4").selectExpr("id as code", "v")
    cells = df.where("id < 4").selectExpr("id as cell", "v")
    empty = df.where("id < 0")
    with _pytest.raises(ValueError, match="empty"):
        SIM.pq_topk_fixed(df, empty, cbs, "id", "id", "code", "v", m=4)
    with _pytest.raises(ValueError, match="empty"):
        SIM.ivfpq_topk_fixed(df, empty, cells, cbs, "id", "id", "cell", "code", "v", m=4)


# ---------------------------------------------------------------------------
# round 10: margin-based bitext mining
# ---------------------------------------------------------------------------


def test_bitext_margin_deflates_hub_vectors(spark):
    """A true translation pair (near-identical vectors) must out-margin
    a hub pairing: the hub's high mean-neighborhood cosine divides its
    margin down even when its raw cosine is high."""
    from datas_spark.operators.similarity import bitext_margin_pairs

    # src 1 <-> tgt 11 is the planted translation (same direction);
    # src 2 is a hub: fairly close to EVERY target
    src = spark.createDataFrame(
        [
            (1, [0.5, 0.1, 0.0, 0.0]),
            (2, [0.3, 0.3, 0.3, 0.3]),
        ],
        "id long, v array<double>",
    )
    tgt = spark.createDataFrame(
        [
            (11, [0.5, 0.1, 0.001, 0.0]),
            (12, [0.25, 0.35, 0.3, 0.3]),
            (13, [0.3, 0.25, 0.35, 0.3]),
        ],
        "id long, v array<double>",
    )
    out = bitext_margin_pairs(src, tgt, "id", "v", knn=2, top_n=10,
                              n_planes=1)  # 1 plane: everything shares buckets
    rows = {(r.src_id, r.tgt_id): r for r in out.collect()}
    assert (1, 11) in rows
    m_true = rows[(1, 11)].margin
    hub_margins = [r.margin for (s, _), r in rows.items() if s == 2]
    assert hub_margins and all(m_true > m for m in hub_margins)
    # ordered by margin desc
    ms = [r.margin for r in out.collect()]
    assert ms == sorted(ms, reverse=True)


def test_bitext_margin_validates(spark):
    import pytest as _pytest

    from datas_spark.operators.similarity import bitext_margin_pairs

    df = spark.createDataFrame([(1, [0.1, 0.2])], "id long, v array<double>")
    with _pytest.raises(ValueError):
        bitext_margin_pairs(df, df, "id", "v", knn=0)


# ---------------------------------------------------------------------------
# round 11: Lloyd-learned PQ codebooks (VERDICT r10 #2)
# ---------------------------------------------------------------------------


def test_pq_codebooks_lloyd_shape_and_determinism(spark):
    rows, df = _vecs(spark, n=60, dim=8, seed=13)
    cb = SIM.pq_codebooks_lloyd(df, "id", "v", dim=8, m=2, ks=4, n_rounds=2)
    got = cb.collect()
    assert len(got) == 2 * 4  # m*ks entries
    assert {(r["__j"], r["__code"]) for r in got} == {
        (j, c) for j in range(2) for c in range(4)
    }
    for r in got:
        assert len(r["__cb"]) == 4  # sub = dim/m
        assert r["__n2"] >= 0.0
    again = {(r["__j"], r["__code"]): r["__cb"]
             for r in SIM.pq_codebooks_lloyd(
                 df, "id", "v", dim=8, m=2, ks=4, n_rounds=2).collect()}
    assert {(r["__j"], r["__code"]): r["__cb"] for r in got} == again


def _codebooks(cb):
    return {(r["__j"], r["__code"]): r["__cb"] for r in cb.collect()}


def _slice_lloyd(spark, rows, m, ks, n_rounds):
    """Each subspace's codebook as a standalone `kmeans_lloyd` run over
    that slice of the same rows."""
    from datas_spark.operators.clustering import kmeans_lloyd

    sub = len(next(v for _, v in rows if v is not None)) // m
    out = {}
    for j in range(m):
        part = spark.createDataFrame(
            [(i, None if v is None else v[j * sub:(j + 1) * sub]) for i, v in rows],
            "id long, v array<double>",
        )
        _, cents = kmeans_lloyd(part, "id", "v", k=ks, n_rounds=n_rounds)
        out.update({(j, r["cluster"]): r["centroid"] for r in cents.collect()})
    return out


@pytest.mark.parametrize(
    "case", ["plain", "null_vector", "duplicated_id", "fewer_rows_than_ks", "empty"]
)
def test_pq_codebooks_lloyd_equals_per_slice_kmeans_lloyd(spark, case):
    """Every subspace trains exactly like `kmeans_lloyd` over its slice,
    NULL rules included: a NULL training vector adds no moments to any
    subspace, so the codebooks equal those trained without it; copies
    of one id are drawn in (md5(id), id, vector) order; fewer rows
    than ks give one code per row; no rows give no codes."""
    import hashlib

    rows, _ = _vecs(spark, n=40, dim=8, seed=5)
    # the first seed's id again, with a vector that sorts after the
    # original in every slice: both copies are seeds 0 and 1
    first = min((hashlib.md5(str(i).encode()).hexdigest(), i) for i, _ in rows)[1]
    rows = {
        "plain": rows,
        "null_vector": rows + [(1000, None)],
        "duplicated_id": rows + [(first, [2.0] * 8)],
        "fewer_rows_than_ks": rows[:3],
        "empty": [],
    }[case]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    got = _codebooks(SIM.pq_codebooks_lloyd(df, "id", "v", dim=8, m=2, ks=4, n_rounds=2))
    if not rows:
        assert got == {}
        return
    assert got == _slice_lloyd(spark, rows, m=2, ks=4, n_rounds=2)
    if case == "null_vector":
        plain = spark.createDataFrame(rows[:-1], "id long, v array<double>")
        assert got == _codebooks(
            SIM.pq_codebooks_lloyd(plain, "id", "v", dim=8, m=2, ks=4, n_rounds=2)
        )
    if case == "fewer_rows_than_ks":
        assert len(got) == 2 * 3


def test_pq_codebooks_lloyd_job_count(spark, sf_dir, job_count, monkeypatch):
    """Under the driver cap a call runs ONE job, the bounded collect;
    above it, the collect, one seed collect, then one assignment + one
    collected moment aggregate per round for all m subspaces together."""
    from datas_spark.io.sources import read_table
    from datas_spark.operators import clustering as C

    emb = read_table(spark, sf_dir, "embeddings")

    def run():
        SIM.pq_codebooks_lloyd(emb, "vec_id", "embedding", 64, m=4, ks=8, n_rounds=2)

    assert job_count(run) == 1
    monkeypatch.setattr(C, "LLOYD_DRIVER_MAX_BYTES", 0)
    assert job_count(run) <= 2 * 2 + 2


@pytest.mark.parametrize("seed,n,dim,m,ks,rounds", [(21, 90, 8, 2, 4, 3), (22, 60, 12, 3, 8, 2), (23, 5, 8, 4, 8, 2)])
def test_pq_codebooks_lloyd_driver_twin_equals_grouped_rounds(spark, monkeypatch, seed, n, dim, m, ks, rounds):
    """The driver twin slices the collected vectors per subspace and
    gives the codebooks of the grouped distributed rounds."""
    from datas_spark.operators import clustering as C

    _, df = _vecs(spark, n=n, dim=dim, seed=seed)
    calls = []
    real = C._lloyd_rounds
    monkeypatch.setattr(C, "_lloyd_rounds", lambda *a, **kw: calls.append(1) or real(*a, **kw))
    twin = _codebooks(SIM.pq_codebooks_lloyd(df, "id", "v", dim=dim, m=m, ks=ks, n_rounds=rounds))
    assert not calls
    monkeypatch.setattr(C, "LLOYD_DRIVER_MAX_BYTES", -1)
    dist = _codebooks(SIM.pq_codebooks_lloyd(df, "id", "v", dim=dim, m=m, ks=ks, n_rounds=rounds))
    assert calls == [1]
    assert twin == dist and len(twin) == m * min(n, ks)


def test_pq_topk_learned_full_oversample_equals_exact(spark):
    rows, df = _vecs(spark, n=30, dim=8, seed=7)
    q = df.where("id < 3")
    pq = SIM.pq_topk_learned(df, q, df, "id", "id", "v", dim=8,
                             m=4, ks=8, k=5, oversample=6)
    exact = SIM.cosine_topk(df, q, "id", "id", "v", k=5)
    assert sorted(map(tuple, pq.collect()), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, exact.collect()), key=lambda t: (t[0], t[3])
    )


def test_ivfpq_topk_learned_contract(spark):
    rows, df = _vecs(spark, n=80, dim=8, seed=9)
    q = df.where("id < 2")
    out = SIM.ivfpq_topk_learned(
        df, q, df, "id", "id", "v", dim=8,
        n_cells=4, m=4, ks=8, k=5, oversample=8, n_probe=4,
    ).collect()
    assert out and all(r["rank"] <= 5 for r in out)
    # probing every cell with full oversample: each query finds itself
    best = {r["q_id"]: r["d_id"] for r in out if r["rank"] == 1}
    assert best == {0: 0, 1: 1}


def test_pq_distortion_learned_beats_fixed_and_rounds_monotone(spark):
    """Lloyd training wins its own objective: on the sf-embedding-like
    random data the learned codebooks beat the first-ks sample
    codebooks on reconstruction MSE, and more Lloyd rounds never make
    it worse (per-step monotonicity of the k-means objective)."""
    rows, df = _vecs(spark, n=200, dim=8, seed=21)
    from pyspark.sql.functions import broadcast as _bc

    mse = lambda cb: {
        r["j"]: r["mse"]
        for r in SIM.pq_distortion_presplit(df, _bc(cb), "id", "v", 2, 4).collect()
    }
    learned = mse(SIM.pq_codebooks_lloyd(df, "id", "v", dim=8, m=2, ks=4, n_rounds=3))
    fixed = mse(SIM._pq_codebook(
        df.where("id < 4").selectExpr("id as code", "v"), "code", "v", 2, 4
    ))
    one_round = mse(SIM.pq_codebooks_lloyd(df, "id", "v", dim=8, m=2, ks=4, n_rounds=1))
    assert set(learned) == {0, 1} and all(v >= 0 for v in learned.values())
    assert sum(learned.values()) < sum(fixed.values())
    assert sum(learned.values()) <= sum(one_round.values()) + 1e-9


def test_pq_learned_rejects_indivisible_dim(spark):
    import pytest as _pytest

    rows, df = _vecs(spark, n=10, dim=6, seed=2)
    with _pytest.raises(ValueError):
        SIM.pq_codebooks_lloyd(df, "id", "v", dim=6, m=4)
    with _pytest.raises(ValueError):
        SIM.pq_topk_learned(df, df, df, "id", "id", "v", dim=6, m=4)
