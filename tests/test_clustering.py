"""MLlib-backed ops (F2/F3) — seed-pinned invariants, since SVD signs
and centroid init aren't SQL-expressible (SURVEY §5)."""

import pytest
from pyspark.sql import functions as F

from datas_spark.io.sources import read_table
from datas_spark.operators.clustering import (
    cluster_indices,
    cluster_sizes,
    embedding_proxy,
    kmeans_cluster,
    pca_reduce,
)


def test_kmeans_partition_invariants(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    n = emb.count()
    labeled = kmeans_cluster(emb, "embedding", k=3, seed=0)
    # every row gets exactly one label in 0..k-1; row count preserved
    assert labeled.count() == n
    labels = {r.cluster for r in labeled.select("cluster").distinct().collect()}
    assert labels <= {0, 1, 2} and len(labels) >= 2
    # deterministic under a fixed seed
    again = kmeans_cluster(emb, "embedding", k=3, seed=0)
    assert (
        labeled.select("vec_id", "cluster").subtract(again.select("vec_id", "cluster")).count()
        == 0
    )


def test_cluster_aggregates_partition_rows(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings").withColumnRenamed("label", "cluster")
    sizes = {r.cluster: r.n_rows for r in cluster_sizes(emb).collect()}
    assert sum(sizes.values()) == emb.count()
    idx = cluster_indices(emb, "cluster", "vec_id").collect()
    assert sum(len(r.row_ids) for r in idx) == emb.count()
    for r in idx:
        assert r.row_ids == sorted(r.row_ids)


def test_pca_shapes_and_determinism(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    out = pca_reduce(emb, "embedding", k=4)
    assert out.count() == emb.count()
    first = out.select("pca").first().pca
    assert len(first) == 4
    # same seedless SVD on same data → same result
    again = pca_reduce(emb, "embedding", k=4).select("pca").first().pca
    assert first == again


def test_embedding_proxy_deterministic(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents").limit(10)
    a = embedding_proxy(docs, "text", dim=8).select("doc_id", "emb_ins_alone")
    b = embedding_proxy(docs, "text", dim=8).select("doc_id", "emb_ins_alone")
    assert a.subtract(b).count() == 0
    vec = a.first().emb_ins_alone
    assert len(vec) == 8 and all(-0.5 <= x < 0.5 for x in vec)


# ---------------------------------------------------------------------------
# round 6: DBSCAN over a precomputed neighbor-pair frame
# ---------------------------------------------------------------------------


def test_dbscan_clique_border_noise(spark):
    from datas_spark.operators.clustering import dbscan_labels

    # clique 1-2-3 (all cores at min_pts=3), border 4 attached to 3,
    # isolated pair 10-11 (degree 1 -> non-core, no core neighbor -> noise),
    # fully isolated 20 -> noise
    ids = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 20]], "id long")
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    got = {r["id"]: r for r in dbscan_labels(ids, pairs, "id", min_pts=3).collect()}
    for v in (1, 2, 3):
        assert got[v]["role"] == "core" and got[v]["cluster"] == 1
    assert got[4]["role"] == "border" and got[4]["cluster"] == 1
    for v in (10, 11, 20):
        assert got[v]["role"] == "noise" and got[v]["cluster"] is None


def test_dbscan_singleton_core_and_min_border_attach(spark):
    from datas_spark.operators.clustering import dbscan_labels

    # star: center 5 with leaves 6,7 -> 5 is core (deg 2 + self = 3),
    # leaves are borders of 5's singleton cluster
    ids = spark.createDataFrame([(i,) for i in [5, 6, 7]], "id long")
    pairs = spark.createDataFrame([(5, 6), (5, 7)], "id_a long, id_b long")
    got = {r["id"]: r for r in dbscan_labels(ids, pairs, "id", min_pts=3).collect()}
    assert got[5]["role"] == "core" and got[5]["cluster"] == 5
    assert got[6]["role"] == "border" and got[6]["cluster"] == 5
    assert got[7]["role"] == "border" and got[7]["cluster"] == 5


# ---------------------------------------------------------------------------
# round 10: deterministic unrolled Lloyd's KMeans
# ---------------------------------------------------------------------------


def test_kmeans_lloyd_separated_blobs_and_determinism(spark):
    """Three well-separated 2-D blobs must come out as three pure
    clusters; a re-run (fresh plan) must assign identically (the
    whole point of the deterministic trainer)."""
    from datas_spark.operators.clustering import kmeans_lloyd

    rows = []
    for i in range(10):
        rows.append((i, [0.0 + i * 1e-4, 0.0]))          # blob A
        rows.append((100 + i, [0.4, 0.4 + i * 1e-4]))    # blob B
        rows.append((200 + i, [-0.4 - i * 1e-4, 0.4]))   # blob C
    df = spark.createDataFrame(rows, "id long, v array<double>")
    asg, cents = kmeans_lloyd(df, "id", "v", k=3, n_rounds=4)
    got = {r.id: r.cluster for r in asg.collect()}
    blobs = [
        {got[i] for i in range(10)},
        {got[100 + i] for i in range(10)},
        {got[200 + i] for i in range(10)},
    ]
    assert all(len(b) == 1 for b in blobs)          # each blob is pure
    assert len(set().union(*blobs)) == 3            # and they differ
    c = {r.cluster: r.centroid for r in cents.collect()}
    assert len(c) == 3 and all(len(v) == 2 for v in c.values())
    asg2, _ = kmeans_lloyd(df, "id", "v", k=3, n_rounds=4)
    assert {r.id: r.cluster for r in asg2.collect()} == got


def test_kmeans_lloyd_empty_cluster_carries_previous_centroid(spark):
    """k larger than the number of distinct points leaves clusters
    empty after round 1 — they must keep their seed centroid (no NULL
    centroids, no crash) and every point still gets a label."""
    from datas_spark.operators.clustering import kmeans_lloyd

    df = spark.createDataFrame(
        [(1, [0.1, 0.1]), (2, [0.1, 0.1]), (3, [-0.2, 0.3])],
        "id long, v array<double>",
    )
    asg, cents = kmeans_lloyd(df, "id", "v", k=3, n_rounds=2)
    labels = {r.id: r.cluster for r in asg.collect()}
    assert set(labels) == {1, 2, 3}
    assert labels[1] == labels[2]  # identical points share a cluster
    crows = cents.collect()
    assert len(crows) == 3
    assert all(r.centroid is not None and len(r.centroid) == 2 for r in crows)


def test_kmeans_lloyd_validates_params(spark):
    import pytest as _pytest

    from datas_spark.operators.clustering import kmeans_lloyd

    df = spark.createDataFrame([(1, [0.0])], "id long, v array<double>")
    with _pytest.raises(ValueError):
        kmeans_lloyd(df, "id", "v", k=0)
    with _pytest.raises(ValueError):
        kmeans_lloyd(df, "id", "v", k=2, n_rounds=0)


def _by_seed_rank(ids):
    """Ids in kmeans_lloyd's seed order: ascending (md5(id), id)."""
    import hashlib

    return sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))


def _lloyd(spark, rows, k, n_rounds):
    from datas_spark.operators.clustering import kmeans_lloyd

    df = spark.createDataFrame(rows, "id long, v array<double>")
    asg, cents = kmeans_lloyd(df, "id", "v", k=k, n_rounds=n_rounds)
    return (
        {r.id: r.cluster for r in asg.collect()},
        {r.cluster: r.centroid for r in cents.collect()},
    )


def test_kmeans_lloyd_tie_goes_to_smaller_index(spark):
    """A point equidistant from two centroids joins the smaller index;
    the round-1 pick decides which side the update pulls it to, so the
    final label exposes the tie rule."""
    a, b, m = _by_seed_rank([1, 2, 3])  # a, b are the seeds; m is not
    for va, vb in ((0.0, 0.2), (0.2, 0.0)):
        labels, cents = _lloyd(
            spark, [(a, [va]), (b, [vb]), (m, [0.1])], k=2, n_rounds=1
        )
        assert labels == {a: 0, b: 1, m: 0}
        assert cents[0] == [round((va + 0.1) / 2, 6)]


def test_kmeans_lloyd_null_vector_takes_cluster_zero_without_moments(spark):
    """A NULL vector has a NULL distance to every centroid, so the
    (d, j) minimum picks index 0; it contributes no moments, so the
    centroids equal the run without that row."""
    a, b, c, z = _by_seed_rank([11, 12, 13, 14])
    rows = [(a, [0.4, 0.0]), (b, [-0.4, 0.0]), (c, [0.3, 0.1])]
    base_labels, base_cents = _lloyd(spark, rows, k=2, n_rounds=2)
    labels, cents = _lloyd(spark, rows + [(z, None)], k=2, n_rounds=2)
    assert labels == {**base_labels, z: 0}
    assert cents == base_cents


def test_kmeans_lloyd_null_component_counts_in_n_not_in_s(spark):
    """A NULL component adds to the (cluster, dim) row count but not to
    its sum, so the floor mean is pulled toward zero."""
    _, cents = _lloyd(
        spark, [(1, [0.3, 0.4]), (2, [None, 0.2])], k=1, n_rounds=1
    )
    assert cents == {0: [0.15, 0.3]}  # d0: 300000 // 2, d1: 600000 // 2


def test_kmeans_lloyd_k_above_row_count(spark):
    rows = [(1, [0.1, 0.2]), (2, [-0.3, 0.5])]
    labels, cents = _lloyd(spark, rows, k=5, n_rounds=2)
    assert sorted(cents) == [0, 1]
    assert sorted(labels.values()) == [0, 1]
    for i, v in rows:
        assert cents[labels[i]] == v


def test_kmeans_lloyd_empty_input(spark):
    for k in (3, "auto"):
        labels, cents = _lloyd(spark, [], k=k, n_rounds=2)
        assert labels == {} and cents == {}


def _job_count_frame(spark):
    return spark.range(0, 400, 1, 4).select(
        F.col("id"),
        F.array(
            ((F.col("id") % 7) / 10).cast("double"),
            ((F.col("id") % 5) / 10).cast("double"),
        ).alias("v"),
    )


def test_kmeans_lloyd_job_count_per_call(spark, job_count):
    """Under the driver cap a call runs ONE job — the bounded Arrow
    collect; the seed draw and every round run on the driver."""
    from datas_spark.operators.clustering import kmeans_lloyd

    df = _job_count_frame(spark)
    assert job_count(lambda: kmeans_lloyd(df, "id", "v", k=5, n_rounds=3)) == 1
    assert job_count(lambda: kmeans_lloyd(df, "id", "v", k="auto", n_rounds=3)) == 1


def test_kmeans_lloyd_job_count_above_the_cap(spark, job_count, monkeypatch):
    """Above the cap the distributed rounds keep their budget: the
    bounded collect, the seed pick and at most 2 jobs per round."""
    from datas_spark.operators import clustering as C

    monkeypatch.setattr(C, "LLOYD_DRIVER_MAX_BYTES", 0)
    df = _job_count_frame(spark)
    assert job_count(lambda: C.kmeans_lloyd(df, "id", "v", k=5, n_rounds=3)) <= 2 * 3 + 2


# ---------------------------------------------------------------------------
# the driver twin of the Lloyd rounds: identical to the distributed rounds
# under the cap, and the distributed rounds whenever a precondition fails
# ---------------------------------------------------------------------------


def _paths(monkeypatch):
    """Record which Lloyd core each call runs: 'driver' or 'spark'."""
    from datas_spark.operators import clustering as C

    seen = []
    for name, tag in (("_lloyd_driver", "driver"), ("_lloyd_rounds", "spark")):
        fn = getattr(C, name)

        def spy(*a, _fn=fn, _tag=tag, **kw):
            seen.append(_tag)
            return _fn(*a, **kw)

        monkeypatch.setattr(C, name, spy)
    return seen


def _lloyd_both(spark, monkeypatch, rows, **kw):
    """``kmeans_lloyd`` with the driver cap as shipped, then with the
    distributed path forced; returns the two ``(labels, centroids)``
    results and the path each call took."""
    from datas_spark.operators import clustering as C

    df = spark.createDataFrame(rows, "id long, v array<double>")
    seen = _paths(monkeypatch)

    def run():
        asg, cents = C.kmeans_lloyd(df, "id", "v", **kw)
        return (
            {r.id: r.cluster for r in asg.collect()},
            {r.cluster: r.centroid for r in cents.collect()},
        )

    twin = run()
    # a negative cap is below every input, the empty one included
    monkeypatch.setattr(C, "LLOYD_DRIVER_MAX_BYTES", -1)
    spark_ = run()
    return twin, spark_, seen


def _random_rows(seed, n, dim, grid=None):
    """Seeded dense vectors; with ``grid`` every component is one of
    ``grid`` evenly spaced values, so distances tie often."""
    import random

    rng = random.Random(seed)
    if grid:
        draw = lambda: rng.randrange(grid) / grid - 0.5  # noqa: E731
    else:
        draw = lambda: rng.uniform(-1, 1)  # noqa: E731
    return [(i * 7 + seed, [draw() for _ in range(dim)]) for i in range(n)]


@pytest.mark.parametrize(
    "seed,n,dim,k,rounds,grid",
    [
        (1, 200, 8, 5, 4, None),
        (2, 300, 16, 12, 3, None),
        (3, 150, 4, 6, 4, 3),   # a 3-value grid: exact distance ties
        (4, 120, 2, 9, 5, 2),   # a 2-value grid: mostly identical points
        (5, 40, 3, "auto", 3, None),
    ],
)
def test_kmeans_lloyd_driver_twin_equals_distributed(spark, monkeypatch, seed, n, dim, k, rounds, grid):
    rows = _random_rows(seed, n, dim, grid)
    twin, dist, seen = _lloyd_both(spark, monkeypatch, rows, k=k, n_rounds=rounds)
    assert seen == ["driver", "spark"]
    assert twin == dist


@pytest.mark.parametrize("k", [5, "auto"])
def test_kmeans_lloyd_driver_twin_small_and_empty(spark, monkeypatch, k):
    """k above the row count and an empty input give the same result on
    both paths."""
    rows = [(1, [0.1, 0.2]), (2, [-0.3, 0.5]), (3, [0.1, 0.2])]
    twin, dist, seen = _lloyd_both(spark, monkeypatch, rows, k=k, n_rounds=2)
    assert seen == ["driver", "spark"] and twin == dist
    assert len(twin[1]) == min(3, 5 if k == 5 else 2)
    monkeypatch.undo()
    twin, dist, seen = _lloyd_both(spark, monkeypatch, [], k=k, n_rounds=2)
    assert seen == ["driver", "spark"] and twin == dist == ({}, {})


@pytest.mark.parametrize(
    "case",
    [
        "null_vector",
        "null_component",
        "ragged_width",
        "duplicate_id",
        "inexact_float_range",
        "overflow_range",
    ],
)
def test_kmeans_lloyd_twin_preconditions_fall_back(spark, monkeypatch, case):
    """Each broken precondition of the twin sends the call to the
    distributed rounds, which return today's result."""
    rows = _random_rows(9, 30, 3)
    first = _by_seed_rank([i for i, _ in rows])[0]
    rows = {
        "null_vector": rows + [(10_001, None)],
        "null_component": rows + [(10_001, [0.1, None, 0.2])],
        "ragged_width": rows + [(10_001, [0.1, 0.2])],
        "duplicate_id": rows + [(first, [0.3, 0.3, 0.3])],
        # 2⁵³ ≤ dim·(2·max|q|)² < 2⁶³: a float64 distance could round
        "inexact_float_range": [(i, [30.0 + x for x in v]) for i, v in rows],
        # dim·(2·max|q|)² ≥ 2⁶³ although no distance actually overflows
        "overflow_range": [(i, [1500.0 + x for x in v]) for i, v in rows],
    }[case]
    twin, dist, seen = _lloyd_both(spark, monkeypatch, rows, k=4, n_rounds=3)
    assert seen == ["spark", "spark"]
    assert twin == dist


def test_kmeans_lloyd_overflowing_distance_raises_on_both_paths(spark, monkeypatch):
    """Magnitudes whose squared distances overflow a long take the
    distributed rounds, so ANSI mode raises exactly as before."""
    from datas_spark.operators import clustering as C

    if spark.conf.get("spark.sql.ansi.enabled") != "true":
        pytest.skip("the long overflow raises only under ANSI mode")
    df = spark.createDataFrame(
        [(1, [3000.0]), (2, [-3000.0]), (3, [2999.0])], "id long, v array<double>"
    )
    for cap in (C.LLOYD_DRIVER_MAX_BYTES, -1):
        monkeypatch.setattr(C, "LLOYD_DRIVER_MAX_BYTES", cap)
        with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
            C.kmeans_lloyd(df, "id", "v", k=2, n_rounds=1)[0].collect()


def test_kmeans_lloyd_twin_cap_boundary(spark, monkeypatch):
    """Exactly the cap's points run on the driver; one more falls back."""
    from datas_spark.operators import clustering as C

    rows = _random_rows(12, 25, 4)
    seen = _paths(monkeypatch)
    monkeypatch.setattr(C, "LLOYD_DRIVER_MAX_BYTES", 24 * 8 * C.LLOYD_DRIVER_MAX_WIDTH)
    got = {}
    for n in (24, 25):
        df = spark.createDataFrame(rows[:n], "id long, v array<double>")
        asg, _ = C.kmeans_lloyd(df, "id", "v", k=3, n_rounds=2)
        got[n] = {r.id: r.cluster for r in asg.collect()}
    assert seen == ["driver", "spark"]
    monkeypatch.setattr(C, "LLOYD_DRIVER_MAX_BYTES", 0)
    for n in (24, 25):
        df = spark.createDataFrame(rows[:n], "id long, v array<double>")
        asg, _ = C.kmeans_lloyd(df, "id", "v", k=3, n_rounds=2)
        assert {r.id: r.cluster for r in asg.collect()} == got[n]


def test_kmeans_lloyd_twin_wide_vectors_stay_off_the_driver(spark, monkeypatch):
    """A vector wider than LLOYD_DRIVER_MAX_WIDTH comes back NULL from
    the collect, so the call falls back instead of collecting it."""
    from datas_spark.operators import clustering as C

    monkeypatch.setattr(C, "LLOYD_DRIVER_MAX_WIDTH", 2)
    twin, dist, seen = _lloyd_both(spark, monkeypatch, _random_rows(3, 20, 3), k=3, n_rounds=2)
    assert seen == ["spark", "spark"]
    assert twin == dist


def test_spark_round_is_half_up_on_the_decimal_string(spark):
    """The driver-side 12-dp resync rounds like Spark's ``round``: HALF_UP
    on the double's decimal string, where Python's ``round`` rounds
    these ties down; a zero result is +0.0."""
    import math

    from datas_spark.operators.clustering import _spark_round

    ties = [0.1234567890125, 5e-13, 0.9999999999995]
    assert [_spark_round(x, 12) for x in ties] == [0.123456789013, 1e-12, 1.0]
    assert [round(x, 12) for x in ties] == [0.123456789012, 0.0, 0.999999999999]
    xs = ties + [-0.1234567890125, -1e-15, -0.0, 2.5e-7, 1e20, 123.4565]
    row = spark.createDataFrame([(x,) for x in xs], "x double").select(
        F.collect_list(F.struct(F.col("x"), F.round("x", 12).alias("r12"),
                                F.round("x", 3).alias("r3")))
    ).first()[0]
    for r in row:
        assert _spark_round(r["x"], 12) == r["r12"], r
        assert _spark_round(r["x"], 3) == r["r3"], r
        assert math.copysign(1.0, _spark_round(r["x"], 12)) == math.copysign(1.0, r["r12"])
    assert math.isnan(_spark_round(float("nan"), 12))
    assert _spark_round(float("-inf"), 12) == float("-inf")


# ---------------------------------------------------------------------------
# round 10: exact-covariance PCA (power iteration, e12 resync)
# ---------------------------------------------------------------------------


def test_pca_exact_matches_numpy_directions(spark):
    """On anisotropic synthetic data the power-iteration components
    must align with numpy's eigenvectors of the same covariance
    (|cos| ~ 1), be near-orthonormal, and order variance pc1 >= pc2."""
    import numpy as np

    from datas_spark.operators.clustering import (
        pca_exact_components,
        pca_exact_project,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=(300, 4)) * np.array([0.3, 0.12, 0.05, 0.02])
    rot, _ = np.linalg.qr(rng.normal(size=(4, 4)))
    data = base @ rot.T
    rows = [(int(i), [float(x) for x in data[i]]) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    comps, means, n = pca_exact_components(df, "v", k=2, dim=4, n_iters=12)
    assert n == 300 and len(comps) == 2 and all(len(c) == 4 for c in comps)
    c = np.array(comps)
    # unit norm + mutual orthogonality (up to the e12 resync grid)
    assert np.allclose(np.linalg.norm(c, axis=1), 1.0, atol=1e-9)
    assert abs(float(c[0] @ c[1])) < 1e-6
    cov = np.cov((data * 1e6).round().T)  # the quantized covariance
    w, v = np.linalg.eigh(cov)
    top2 = v[:, ::-1][:, :2].T
    for got, ref in zip(c, top2):
        assert abs(float(got @ ref)) > 0.999  # aligned up to sign
    proj = pca_exact_project(df, "id", "v", k=2, dim=4, n_iters=12)
    p = np.array([[r.pc1, r.pc2] for r in proj.collect()])
    assert p.shape == (300, 2)
    assert p[:, 0].var() >= p[:, 1].var()  # variance ordering


def test_pca_exact_is_deterministic_and_validates(spark):
    import pytest as _pytest

    from datas_spark.operators.clustering import (
        pca_exact_components,
        pca_exact_project,
    )

    rows = [(i, [float(i % 7) / 7, float(i % 3) / 3]) for i in range(40)]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    a, _, _ = pca_exact_components(df, "v", k=1, dim=2, n_iters=8)
    b, _, _ = pca_exact_components(df, "v", k=1, dim=2, n_iters=8)
    assert a == b  # bit-identical across runs
    with _pytest.raises(ValueError):
        pca_exact_components(df, "v", k=0)
    with _pytest.raises(ValueError):
        pca_exact_project(df, "id", "v", n_iters=0)


def test_pca_exact_skips_null_vectors(spark):
    """A NULL vector adds no moments and no count: the result equals the
    same frame without that row (it used to raise "ragged width")."""
    from datas_spark.operators.clustering import pca_exact_components

    rows = [(i, [float(i % 7) / 7, float(i % 3) / 3]) for i in range(40)]
    schema = "id long, v array<double>"
    with_null = spark.createDataFrame([(99, None)] + rows, schema).repartition(3)
    without = spark.createDataFrame(rows, schema)
    got = pca_exact_components(with_null, "v", k=2, n_iters=8)
    assert got == pca_exact_components(without, "v", k=2, dim=2, n_iters=8)
    assert got[2] == 40
