"""Feature-engineering / ML operators (SURVEY §2.4, F1-F6).

The reference extracts last-hidden-state embeddings row-by-row on GPU,
``torch.cat``s them into a [N, 4096] matrix on the driver, and runs
sklearn KMeans (``/root/reference/main.py:316-376``). Here the
embedding stays a distributed ``array<float>`` column end-to-end:
``array_to_vector`` bridges into MLlib, KMeans fit streams over the
data (executors aggregate, only k centroids come to the driver), and
``transform`` appends the cluster label as a column — no N×4096 driver
materialization. The deterministic twin `kmeans_lloyd` keeps the
k centroids on the driver and inlines them into each map-only
assignment as one literal. Below `LLOYD_DRIVER_MAX_BYTES` of quantized
vectors — the shape of the reference, which clusters a driver-held
matrix — one bounded Arrow collect brings the points to the driver and
the seed draw and every round run there in exact int64 numpy
(`_lloyd_driver`): no Spark job per round. Above the cap, or when a
precondition of the twin fails, the rounds stay distributed: per round
one collected ≤ k·dim-row moment aggregate (`_lloyd_rounds`; under
AQE every action over a shuffled plan — a lazy checkpoint included —
runs its stages anyway, so keeping the centroids in-plan saved no
jobs). The two are the one Lloyd core in the engine: the PQ codebook
trainer (`similarity.pq_codebooks_lloyd`) runs its m subspaces
through them.

t-SNE (F4) has no distributed formulation; the reference uses it only
for a scatter-plot png (main.py:360-376). We keep it driver-side,
gated on a small sampled collect — viz tooling, not engine path.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Context, Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# shared quantization default: kmeans_lloyd and every other caller of
# the Lloyd core (`_lloyd_rounds`; the PQ codebook trainer) reference
# THIS constant — the oracle CTEs replay every Lloyd run at this scale,
# so a drifted copy would silently desynchronize codebooks from them
DEFAULT_SCALE = 1_000_000

# Driver-bytes contract of the Lloyd twin (`_lloyd_collect`): one Arrow
# collect of at most LLOYD_DRIVER_MAX_BYTES // (8 · LLOYD_DRIVER_MAX_WIDTH)
# + 1 points, each vector only when it is at most LLOYD_DRIVER_MAX_WIDTH
# wide, so the int64 matrix the driver rounds over holds at most this
# many bytes (131,072 points × 64 dims) and a wide LLM embedding never
# reaches the driver at the row cap: it falls back to the distributed
# rounds. The crossover table in CHANGES.md (10³–10⁵ points × dim 8/64
# × k 5/64, 4 local cores) found the driver faster at every size, so
# the cap bounds driver memory, not time.
LLOYD_DRIVER_MAX_BYTES = 64 << 20
LLOYD_DRIVER_MAX_WIDTH = 64

__all__ = [
    "DEFAULT_SCALE",
    "embedding_proxy",
    "kmeans_cluster",
    "kmeans_lloyd",
    "pca_reduce",
    "cluster_sizes",
    "cluster_indices",
    "tsne_viz",
    "standardize_embeddings",
    "cluster_cohesion",
    "nearest_centroid_accuracy",
    "random_projection",
]


def embedding_proxy(df: DataFrame, text_col: str, dim: int = 16, out_col: str = "emb_ins_alone") -> DataFrame:
    """F1 with the model proxied (real path: iterator pandas_udf per
    SURVEY §4): deterministic pseudo-embedding — component i is the
    md5-unit-interval hash of (text, i), shifted to [-0.5, 0.5).
    Pure expression → reproducible anywhere."""
    from datas_spark.operators.scoring import hash_unit_interval

    c = F.col(text_col)
    comps = [
        (hash_unit_interval(F.concat(c, F.lit(f"#emb{i}"))) - F.lit(0.5)).cast("float")
        for i in range(dim)
    ]
    return df.withColumn(out_col, F.array(*comps))


def kmeans_cluster(
    df: DataFrame,
    vec_col: str,
    k: int = 3,
    seed: int = 0,
    out_col: str = "cluster",
    max_iter: int = 20,
) -> DataFrame:
    """F2 (main.py:316-322 do_clustering): KMeans(k, seed) labels.
    MLlib fit/transform; the ``array<float>`` column converts via
    ``array_to_vector`` (no Python boundary — JVM-side)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    work = df.withColumn("__features", array_to_vector(F.col(vec_col).cast("array<double>")))
    model = KMeans(k=k, seed=seed, maxIter=max_iter, featuresCol="__features", predictionCol=out_col).fit(work)
    return model.transform(work).drop("__features")


def kmeans_lloyd(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int | str = 3,
    n_rounds: int = 4,
    scale: int = DEFAULT_SCALE,
    auto_target: int = 256,
    auto_min_k: int = 2,
    auto_max_k: int = 64,
    carry_cols: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic fixed-round Lloyd's KMeans (F2, reference
    main.py:316-322) — the hash-checkable twin of `kmeans_cluster`:
    every step is exact integer algebra, so the whole trainer replays
    in ANSI SQL (``oracle_shared.lloyd_cte_sql``) and the driver can
    hash-verify clusters end to end. MLlib KMeans is seeded but not
    replayable (parallel float accumulation + k-means|| init); this is
    the engine's BPE/DoReMi unrolled-iteration discipline applied to
    clustering.

    Algorithm:
    - vectors quantize once to exact ``1/scale`` units (`_quantized` —
      order-independent integer sums from here on);
    - init: the k rows with smallest ``(md5(id), id)`` — a seedless
      deterministic pseudo-random draw any engine reproduces;
    - each of ``n_rounds`` rounds: assign every point to the centroid
      with the smallest INTEGER squared L2 distance (ties → smaller
      centroid index), then recompute each centroid as
      ``floor(Σq_i / n)`` per dimension via EXACT integer floor
      division (Python ``s // n`` on the collected long sums — no float
      rounding at any magnitude; the DuckDB twin's
      ``(s - ((s % n) + n) % n) // n`` is the same floor; empty
      clusters keep their previous centroid);
    - one final assignment pass against the round-``n_rounds``
      centroids.

    Plan shape (scale contract): the k centroids live on the DRIVER as
    Python int lists — MLlib's own "only k centroids reach the driver"
    shape — and the points frame is lazily localCheckpoint-ed. One
    bounded Arrow collect of it (`_lloyd_collect`) picks the path:

    - the driver twin (`_lloyd_driver`), when the points fit
      `LLOYD_DRIVER_MAX_BYTES` (at most ``LLOYD_DRIVER_MAX_BYTES // (8 ·
      LLOYD_DRIVER_MAX_WIDTH)`` points, none wider than
      ``LLOYD_DRIVER_MAX_WIDTH``) and its preconditions hold: no NULL
      id, vector or component, one vector width, distinct
      ``md5(cast(id as string))`` values (so distinct ids and a seed
      order that needs no tie-break), ``dim·(2·max|q|)² < 2⁵³`` (so
      every distance is exact in float64) and ``n·max|q| < 2⁶³`` (so
      every moment sum is exact in int64). The seed draw, every round and the ``k="auto"`` row
      count run on the driver; per call that is ONE Spark job, and
      the result equals the distributed rounds' exactly.
    - otherwise the distributed rounds, `_lloyd_rounds` — the reference
      semantics, NULL rules and ANSI overflow errors included: one seed
      collect (plus one count for ``k="auto"`` above the cap), then per
      round a map-only assignment fold per point against the centroids
      inlined as ONE constant-folded array literal (NEVER a
      points×centroids shuffle) and one collected ≤ k·dim-row (cluster,
      dim) moment aggregate, two jobs per round. Why a collect per
      round instead of a lazy in-plan centroid row: under AQE any
      action over a plan with exchanges — including the lazy
      ``localCheckpoint`` a lazy round would need to keep lineage flat —
      already runs every query stage, so a lazy round costs the same
      jobs plus a broadcast cross join and a per-slot rebuild of the
      centroid row. At 10⁹ rows the per-round cost is one scan + one
      k·dim-row aggregate, exactly KMeans' lower bound.

    Either way the final assignment is the same map-only `_nearest`
    pass over the points frame.

    Σq per (cluster, dim) stays long-exact up to ~2^63/(|x|max·scale)
    rows per cluster (≈9e12 at the e6 default with unit-norm vectors —
    the division itself is exact at any magnitude, so the only bound is
    the long sum); past that, widen the moment sums to decimal(38,0)
    (the `cluster_cohesion` discipline) — the DuckDB twin's HUGEINT sum
    is already 128-bit.

    NULL handling: a NULL vector has a NULL distance to every centroid,
    so it takes cluster 0 and adds no moments; a NULL component counts
    in the (cluster, dim) row count but not in its sum; a centroid
    seeded from a NULL vector stays NULL.

    ``carry_cols`` (round 11, guide §8): extra ``df`` columns carried
    THROUGH the final map-only assignment pass, so a consumer that
    needs (payload, cluster) — semdedup's vectors, the flagship's
    instruction text — gets them without re-joining ``df`` against the
    assignments (that join re-shuffles the payload by id at 100 TB for
    rows the assignment pass already held). Carried columns ride the
    pts checkpoint but stay out of the round aggregates.

    Returns ``(assignments, centroids)``: assignments =
    ``(id_col, *carry_cols, cluster int)``; centroids = ``(cluster
    int, centroid array<double>)`` with components ``c/scale`` — the
    quantizer frame `ivf_topk_fixed` consumes as learned cells.
    """
    auto_k = isinstance(k, str)
    if auto_k:
        # k="auto" (VERDICT r10 #3): grow k with the corpus —
        # ``clamp(ceil(sqrt(N / auto_target)), auto_min_k, auto_max_k)``.
        # ceil(sqrt(·)) can only flip cross-engine at perfect squares,
        # where sqrt is exact on both.
        if k != "auto":
            raise ValueError(f"k must be an int >= 1 or 'auto', got {k!r}")
        if not 1 <= auto_min_k <= auto_max_k or auto_target < 1:
            raise ValueError(
                f"need 1 <= auto_min_k <= auto_max_k and auto_target >= 1, "
                f"got {auto_min_k}/{auto_max_k}/{auto_target}"
            )
    elif k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if n_rounds < 1:
        raise ValueError(f"n_rounds must be >= 1, got {n_rounds}")
    carry = list(carry_cols or [])
    # reserve every internal name AND the output column (ADVICE r11): a
    # carry column named 'cluster' (or an internal temp) would silently
    # produce a duplicate/ambiguous output column downstream
    bad = {"__id", "__q", "__cluster", "cluster"} & set(carry)
    if bad:
        raise ValueError(f"carry_cols collide with reserved names: {sorted(bad)}")
    if id_col in carry:
        raise ValueError(f"carry_cols must not repeat id_col ({id_col!r})")
    pts = df.select(
        F.col(id_col).alias("__id"),
        _quantized(vec_col, scale).alias("__q"),
        *[F.col(c) for c in carry],
    ).localCheckpoint(eager=False)
    n, q = _lloyd_collect(pts)
    if auto_k:
        if n is None:
            n = pts.count()
        k = max(auto_min_k, min(auto_max_k, math.ceil(math.sqrt(n / auto_target))))
    if q is None:
        cents = _lloyd_rounds(pts, _lloyd_seeds(pts, k), n_rounds)
    else:
        cents = _lloyd_driver(q, q[:k], n_rounds)
    final = pts.select(
        F.col("__id").alias(id_col),
        *carry,
        _nearest(cents).alias("cluster"),
    )
    centroids = (
        df.sparkSession.range(1)
        .select(F.explode(F.expr(_centroid_literal(cents))).alias("__pc"))
        .select(
            F.col("__pc")["j"].alias("cluster"),
            F.transform(
                F.col("__pc")["c"], lambda x: x.cast("double") / F.lit(float(scale))
            ).alias("centroid"),
        )
    )
    return final, centroids


def _lloyd_collect(pts: DataFrame):
    """The Lloyd points ``pts.__q`` on the driver, for `_lloyd_driver`:
    ``(n, q)`` from ONE ``limit(cap + 1)`` Arrow collect, where the cap
    is ``LLOYD_DRIVER_MAX_BYTES // (8 · LLOYD_DRIVER_MAX_WIDTH)`` points.

    ``n`` is the exact row count of ``pts`` when it is at most the cap,
    else None. ``q`` is the (n, dim) int64 matrix in seed order —
    ascending ``md5(cast(__id as string))`` — when the twin's
    preconditions hold (see `kmeans_lloyd`), else None. A vector wider
    than ``LLOYD_DRIVER_MAX_WIDTH`` comes back NULL, so it falls back
    like a NULL vector. The ids themselves are not collected: distinct
    md5 values imply distinct ids, and with them the distributed
    ``(md5, id, q)`` seed order is the md5 order."""
    import numpy as np
    import pyarrow.compute as pc

    cap = LLOYD_DRIVER_MAX_BYTES // (8 * LLOYD_DRIVER_MAX_WIDTH)
    head = (
        pts.select(
            F.md5(F.col("__id").cast("string")).alias("__h"),
            F.when(F.size("__q") <= LLOYD_DRIVER_MAX_WIDTH, F.col("__q")).alias("__q"),
        )
        .limit(cap + 1)
        .toArrow()
    )
    n = head.num_rows
    if n > cap:
        return None, None
    h, vec = head["__h"].combine_chunks(), head["__q"].combine_chunks()
    flat = vec.flatten()
    if h.null_count or vec.null_count or flat.null_count:
        return n, None
    widths = np.diff(np.asarray(vec.offsets))
    dim = int(widths[0]) if n else 0
    if (widths != dim).any() or pc.count_distinct(h).as_py() != n:
        return n, None
    vals = np.asarray(flat, dtype=np.int64)
    big = max(int(vals.max()), -int(vals.min())) if vals.size else 0
    if dim * (2 * big) ** 2 >= 1 << 53 or n * big >= 1 << 63:
        return n, None
    order = np.asarray(pc.sort_indices(h))
    return n, vals.reshape(n, dim)[order]


def _lloyd_driver(q, cents, n_rounds: int) -> list:
    """``n_rounds`` Lloyd rounds on the driver over the int64 point
    matrix ``q`` from ``cents`` (an int64 matrix); returns the final
    centroids as Python int lists — the driver twin of `_lloyd_rounds`,
    equal to it whenever `_lloyd_collect` returns a matrix.

    Each point joins the centroid with the smallest squared L2 distance
    (``np.argmin``: ties go to the smaller index); each centroid with
    members becomes the exact floor mean ``Σq // n`` per dimension, and
    an empty cluster keeps its centroid. Distances are ranked as
    ``‖c‖² − 2·q·c`` per block of rows — the dropped ``‖q‖²`` is constant
    per row — in float64 BLAS: `_lloyd_collect` keeps
    ``dim·(2·max|q|)²`` below 2⁵³, so every partial sum is an exact
    integer. Moment sums are int64 ``reduceat`` sums, which it keeps
    below 2⁶³, so every step is exact."""
    import numpy as np

    cents = np.array(cents, dtype=np.int64)
    if not len(q):
        return cents.tolist()
    qd = q.astype(np.float64)
    step = max(1, (1 << 20) // len(cents))
    for _ in range(n_rounds):
        c = cents.astype(np.float64)
        norms = (c * c).sum(axis=1)
        lab = np.concatenate(
            [
                (norms - 2 * (qd[lo : lo + step] @ c.T)).argmin(axis=1)
                for lo in range(0, len(q), step)
            ]
        )
        cnt = np.bincount(lab, minlength=len(cents))
        live = np.flatnonzero(cnt)
        starts = np.concatenate(([0], np.cumsum(cnt[live])[:-1]))
        sums = np.add.reduceat(q[np.argsort(lab, kind="stable")], starts, axis=0)
        cents[live] = sums // cnt[live, None]
    return cents.tolist()


def _lloyd_seeds(pts: DataFrame, k: int) -> list:
    """The Lloyd init: ``__q`` of the k rows of ``pts`` with the smallest
    ``(md5(__id), __id)`` — a seedless deterministic draw any engine
    reproduces; ``__q`` only orders duplicate ids."""
    return [
        r["__q"]
        for r in pts.select(F.md5(F.col("__id").cast("string")).alias("__h"), "__id", "__q")
        .orderBy("__h", "__id", "__q")
        .limit(k)
        .collect()
    ]


def _lloyd_rounds(
    pts: DataFrame, cents: list, n_rounds: int, group: str | None = None
) -> list:
    """``n_rounds`` Lloyd rounds over the quantized points ``pts.__q``,
    starting from the driver-held ``cents``; returns the final centroids.

    Each round is one map-only assignment (`_nearest`) and one collected
    ``(cluster, d)`` moment aggregate of at most k·dim rows; the driver
    then sets each centroid to the exact floor mean ``s // n`` per slot
    of its previous width (a NULL sum stays NULL). A cluster with no
    moment rows, or a centroid seeded from a NULL vector, keeps its
    previous value. The assignment is its own projection under the
    ``posexplode``: written into the generator's select, Catalyst would
    re-evaluate the HOF once per exploded element.

    With ``group`` (an int column numbering independent instances
    0..G−1, e.g. the PQ subspaces), ``cents`` holds one centroid list
    per instance, each point only sees its own instance's centroids, and
    the moments are keyed by ``(group, cluster, d)`` — G Lloyd runs for
    the jobs of one.
    """
    keys = [group] if group else []
    groups = cents if group else [cents]
    for _ in range(n_rounds):
        # narrow (cluster, d) moments: a wide per-dimension-column
        # aggregate measured 2x slower at dim=64 (codegen cost per round)
        rows = (
            pts.select(*keys, "__q", _nearest(cents, group).alias("__cluster"))
            .select(*keys, "__cluster", F.posexplode("__q").alias("__d", "__x"))
            .groupBy(*keys, "__cluster", "__d")
            .agg(
                F.sum("__x").alias("__s"),
                F.count(F.lit(1)).cast("long").alias("__n"),
            )
            .collect()
        )
        moments = {
            (r[group] if group else 0, r["__cluster"], r["__d"]): (
                None if r["__s"] is None else r["__s"] // r["__n"]
            )
            for r in rows
        }
        members = {(g, j) for g, j, _ in moments}
        groups = [
            [
                [moments.get((g, j, d)) for d in range(len(c))]
                if (g, j) in members and c is not None
                else c
                for j, c in enumerate(gc)
            ]
            for g, gc in enumerate(groups)
        ]
        cents = groups if group else groups[0]
    return cents


def _nearest(cents: list, group: str | None = None) -> F.Column:
    """Index of the centroid nearest ``__q`` by INTEGER squared L2
    distance, the centroids inlined as one constant-folded literal (per
    ``group`` value when grouped, see `_lloyd_rounds`). Ties go to the
    smaller index (the (d, j) struct minimum); a NULL distance (NULL
    vector / component, ragged width) sorts first."""
    lit = (
        _centroid_literal(cents)
        if group is None
        else f"element_at(array({', '.join(map(_centroid_literal, cents))}), {group} + 1)"
    )
    return F.expr(
        f"array_min(transform({lit}, s -> named_struct("
        "'d', aggregate(zip_with(__q, s.c, (a, b) -> (a - b) * (a - b)),"
        " 0L, (acc, v) -> acc + v), 'j', s.j)))"
    )["j"]


def _centroid_literal(cents: list) -> str:
    """SQL literal ``array<struct<j int, c array<bigint>>>`` of driver-side
    centroids (index j = list position); Spark constant-folds it."""

    def arr(c):
        if c is None:
            return "NULL"
        return "array(" + ", ".join("NULL" if x is None else f"{x}L" for x in c) + ")"

    body = ", ".join(f"struct({j}, {arr(c)})" for j, c in enumerate(cents))
    return f"CAST(array({body}) AS ARRAY<STRUCT<j: INT, c: ARRAY<BIGINT>>>)"


def _spark_round(x: float, dp: int) -> float:
    """Spark's ``round(x, dp)`` of a double, on the driver: HALF_UP on
    the double's shortest decimal string. Python's ``round`` rounds the
    binary value half-even instead (0.1234567890125 → 0.123456789012,
    where Spark gives 0.123456789013). NaN and ±inf pass through; a
    zero result is +0.0, as Spark's BigDecimal has no negative zero.
    The driver-side loops of the small iterative trainers resync with
    this, so their per-step rounding is the one the plan applied."""
    if not math.isfinite(x):
        return x
    exact = Decimal(repr(x)).quantize(
        Decimal(1).scaleb(-dp), ROUND_HALF_UP, Context(prec=400)
    )
    return float(exact) + 0.0


def pca_reduce(df: DataFrame, vec_col: str, k: int = 10, out_col: str = "pca") -> DataFrame:
    """F3 (main.py:362-364): PCA to k dims; output back as array<double>."""
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector, vector_to_array

    work = df.withColumn("__features", array_to_vector(F.col(vec_col).cast("array<double>")))
    model = PCA(k=k, inputCol="__features", outputCol="__pca").fit(work)
    return (
        model.transform(work)
        .withColumn(out_col, vector_to_array(F.col("__pca")))
        .drop("__features", "__pca")
    )


def cluster_sizes(df: DataFrame, cluster_col: str = "cluster") -> DataFrame:
    """F5 (main.py:381-383): per-cluster row counts (the distinct count
    is one more agg on top)."""
    return df.groupBy(cluster_col).agg(F.count(F.lit(1)).alias("n_rows"))


def cluster_indices(df: DataFrame, cluster_col: str, id_col: str) -> DataFrame:
    """F6 (main.py:386-389): cluster → sorted member-id list. At scale
    prefer the long form (this materializes per-cluster arrays)."""
    return df.groupBy(cluster_col).agg(
        F.array_sort(F.collect_list(id_col)).alias("row_ids")
    )


def tsne_viz(df: DataFrame, vec_col: str, sample: int = 1000, seed: int = 0, **tsne_kwargs):
    """F4 (main.py:360-376): driver-side t-SNE on a bounded sample —
    viz-only, outside the engine core. Requires sklearn (absent in this
    container) → raises with guidance."""
    try:
        from sklearn.manifold import TSNE  # noqa: F401
    except ImportError as e:  # pragma: no cover
        raise NotImplementedError(
            "t-SNE viz needs scikit-learn on the driver; engine-side ops "
            "never depend on it (SURVEY §4: viz outside engine core)"
        ) from e
    rows = df.select(vec_col).limit(sample).toPandas()
    import numpy as np

    mat = np.array(rows[vec_col].tolist())
    params = {"perplexity": 5, "learning_rate": 200, "max_iter": 1000, **tsne_kwargs}
    return TSNE(n_components=2, random_state=seed, **params).fit_transform(mat)


def standardize_embeddings(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    out_col: str = "z",
) -> DataFrame:
    """Per-dimension standardization of an embedding column:
    ``z[d] = (v[d] − mean_d) / std_d`` — the feature-normalization pass
    before any distance-based downstream step (KMeans cells, k-center,
    cosine buckets all assume comparable dimension scales; raw
    last-hidden-state dims are wildly heteroscedastic).

    Plan: posexplode to (dim, value) → ONE map-side-combinable
    aggregate over |dim| groups → the |dim|-row stats frame collapses
    to a single broadcast array row (sorted by dim) → map-only
    ``zip_with`` against every vector. The data is scanned twice
    (stats + transform) but never shuffled; the stats frame is |dim|
    rows regardless of corpus size. Zero-variance dims map to NULL
    (flagging a constant dimension beats silently dividing by 0).
    Values round to 6 with −0.0 normalized so the oracle hash matches.
    """
    e = df.select(
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("__d", "__v")
    )
    stats = e.groupBy("__d").agg(
        F.avg("__v").alias("__mu"), F.stddev_samp("__v").alias("__sd")
    )
    packed = stats.select(
        F.sort_array(
            F.collect_list(F.struct(F.col("__d"), F.col("__mu"), F.col("__sd")))
        ).alias("__s")
    ).select(
        F.transform(F.col("__s"), lambda s: s["__mu"]).alias("__mus"),
        F.transform(F.col("__s"), lambda s: s["__sd"]).alias("__sds"),
    )
    z = F.zip_with(
        F.zip_with(
            F.col(vec_col).cast("array<double>"),
            F.col("__mus"),
            lambda v, m: v - m,
        ),
        F.col("__sds"),
        lambda c, s: F.when(s > 0, F.round(c / s, 6) + F.lit(0.0)),
    )
    from pyspark.sql.functions import broadcast

    return (
        df.crossJoin(broadcast(packed))
        .withColumn(out_col, z)
        .drop("__mus", "__sds")
    )


def _quantized(vec_col: str, scale: int) -> F.Column:
    # exact-integer view of the embedding: float32 -> double is exact,
    # round(x*scale) is the same integer on every engine, and integer
    # sums are order-independent — the float-accumulation
    # nondeterminism that plagues cross-row vector sums never appears
    return F.transform(
        F.col(vec_col), lambda x: F.round(x.cast("double") * scale).cast("long")
    )


def cluster_cohesion(
    df: DataFrame,
    label_col: str,
    vec_col: str,
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-cluster quality WITHOUT pairwise joins: the algebraic
    identity  Σ_{i≠j} v_i·v_j = ||Σv||² − Σ||v||²  turns the O(n²)
    mean pairwise dot product into three combinable integer aggregates
    — the only way intra-cluster similarity is computable at 10⁹
    vectors per cluster.

    Vectors are quantized to exact ``1/scale`` units first (see
    `_quantized`), so every sum is an order-independent integer and
    the result is bit-identical on any engine/partitioning; analysis
    resolution is 1e-6 of a component, far below float32 noise.

    Returns per label: ``n_points``, ``mean_pair_dot`` (average dot
    product between distinct same-label vectors; NULL for singleton
    clusters), ``centroid_norm``, and ``centroid_dot_global`` (this
    centroid · global centroid — a separation screen: cohesive,
    well-separated labels have mean_pair_dot >> centroid_dot_global).

    Plan: one explode to (label, dim, x) long rows — 64 bigints per
    vector, map-side combined to ≤ |labels|·|dims| rows per task —
    then every downstream frame is metadata-sized.
    """
    e = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(_quantized(vec_col, scale)).alias("d", "x"),
    )
    sums = e.groupBy("label", "d").agg(F.sum("x").alias("s"))
    ssq = (
        e.groupBy("label")
        .agg(F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("ssq"))
    )
    norm2 = sums.groupBy("label").agg(
        F.sum((F.col("s") * F.col("s")).cast("decimal(38,0)")).alias("n2")
    )
    g = sums.groupBy("d").agg(F.sum("s").alias("gd"))
    cross = (
        sums.join(F.broadcast(g), "d")
        .groupBy("label")
        .agg(
            F.sum(
                F.col("s").cast("decimal(38,0)") * F.col("gd").cast("decimal(38,0)")
            ).alias("sg")
        )
    )
    cnt = df.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n_points")
    )
    tot = df.agg(F.count(F.lit(1)).cast("long").alias("__ntot"))
    sc2 = float(scale) * float(scale)
    n = F.col("n_points").cast("double")
    return (
        cnt.join(ssq, "label")
        .join(norm2, "label")
        .join(cross, "label")
        .crossJoin(F.broadcast(tot))
        .select(
            "label",
            "n_points",
            F.when(
                F.col("n_points") > 1,
                F.round(
                    (F.col("n2").cast("double") - F.col("ssq").cast("double"))
                    / (n * (n - 1))
                    / sc2,
                    6,
                ),
            ).alias("mean_pair_dot"),
            F.round(F.sqrt(F.col("n2").cast("double")) / n / scale, 6).alias(
                "centroid_norm"
            ),
            F.round(
                F.col("sg").cast("double")
                / (n * F.col("__ntot").cast("double"))
                / sc2,
                6,
            ).alias("centroid_dot_global"),
        )
    )


def nearest_centroid_accuracy(
    df: DataFrame,
    label_col: str,
    vec_col: str,
    scale: int = 1_000_000,
) -> DataFrame:
    """Label-noise / cluster-quality screen: per label, the fraction of
    points whose NEAREST label centroid (by dot product with the
    unit-count-normalized centroid) is their own label.

    Centroids come from the same exact-integer sums as
    `cluster_cohesion` (deterministic on any engine); the assignment
    pass is map-side — each point scores against the ≤|labels|
    broadcast centroid frame, argmax ties break on the smaller label.
    One data shuffle total (the centroid aggregate); the scoring scan
    never shuffles.

    Returns per label: ``n_points``, ``n_own`` (points keeping their
    own label), ``own_centroid_pct``.
    """
    e = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(_quantized(vec_col, scale)).alias("d", "x"),
    )
    sums = e.groupBy("label", "d").agg(F.sum("x").alias("s"))
    cnt = df.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).alias("__n")
    )
    cent = (
        sums.join(F.broadcast(cnt), "label")
        .groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "d",
                        (
                            F.col("s").cast("double")
                            / F.col("__n").cast("double")
                        ).alias("c"),
                    )
                )
            ).alias("__cs")
        )
        .select(
            F.col("label").alias("__clabel"),
            F.transform("__cs", lambda s: s["c"]).alias("__cvec"),
        )
    )
    pts = df.select(
        F.col(label_col).alias("label"), _quantized(vec_col, scale).alias("__q")
    )
    # score map-side against an ARRAY of all centroids packed into one
    # broadcast row (a per-point groupBy over a joined centroid frame
    # would shuffle n·|labels| rows; the fold keeps the argmax inside
    # the scan). Ties keep the first (smallest) label — __all is sorted.
    cents_packed = cent.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("__clabel").alias("l"), F.col("__cvec").alias("v")))
        ).alias("__all")
    )
    assigned = (
        pts.crossJoin(F.broadcast(cents_packed))
        .select(
            "label",
            F.aggregate(
                "__all",
                F.struct(
                    F.lit(float("-inf")).alias("best"),
                    F.lit(None).cast("integer").alias("who"),
                ),
                lambda acc, c: F.when(
                    F.aggregate(
                        F.zip_with(
                            F.col("__q"), c["v"], lambda a, b: a.cast("double") * b
                        ),
                        F.lit(0.0),
                        lambda s, v: s + v,
                    )
                    > acc["best"],
                    F.struct(
                        F.aggregate(
                            F.zip_with(
                                F.col("__q"), c["v"], lambda a, b: a.cast("double") * b
                            ),
                            F.lit(0.0),
                            lambda s, v: s + v,
                        ).alias("best"),
                        c["l"].cast("integer").alias("who"),
                    ),
                ).otherwise(acc),
            ).alias("__win"),
        )
        .select("label", F.col("__win.who").alias("__who"))
    )
    return (
        assigned.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.count(F.when(F.col("label") == F.col("__who"), 1))
            .cast("long")
            .alias("n_own"),
        )
        .select(
            "label",
            "n_points",
            "n_own",
            F.round(
                F.col("n_own").cast("double") / F.col("n_points").cast("double") * 100,
                6,
            ).alias("own_centroid_pct"),
        )
    )


def random_projection(
    df: DataFrame,
    vec_col: str,
    k: int = 8,
    seed: int = 42,
    out_col: str = "z",
    dim: int | None = None,
) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction with fixed seeded
    pseudo-gaussian planes — `pca_reduce`'s SCALE twin: PCA needs an
    eigendecomposition over a driver-collected covariance (fine at 4096
    dims, but a fit step); random projection is map-only, zero fit,
    zero shuffle, and preserves pairwise distances within the JL bound
    regardless of data size. The standard pre-step before LSH/KMeans on
    very wide embeddings.

    Deterministic: planes come from `similarity.random_hyperplanes`
    (seeded, plain-Python literals), so the same matrix can be embedded
    in an oracle or shipped to another engine; each output component is
    one in-row dot product rounded to 6 dp — no cross-row float sums
    anywhere.
    """
    from datas_spark.operators.similarity import random_hyperplanes

    # array columns carry no static width; pass ``dim`` explicitly in
    # composed pipelines (VERDICT r10 #8 — each probe is a separate
    # Spark job at plan-construction time), else probe one row for it
    if dim is None:
        first = (
            df.where(F.col(vec_col).isNotNull())
            .select(F.size(F.col(vec_col)).alias("n"))
            .limit(1)
            .collect()
        )
        if not first:
            raise ValueError("empty frame: cannot infer vector width")
        dim = int(first[0].n)
    planes = random_hyperplanes(dim, k, seed)
    comps = [
        F.round(
            F.aggregate(
                F.zip_with(
                    F.col(vec_col),
                    F.array(*[F.lit(float(x)) for x in plane]),
                    lambda a, b: a.cast("double") * b,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            6,
        )
        for plane in planes
    ]
    return df.withColumn(out_col, F.array(*comps))


def dbscan_labels(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    min_pts: int = 3,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """DBSCAN (Ester et al. 1996) over a precomputed ε-neighbor pair
    frame — the density-based complement of KMeans for embedding-space
    curation: dense regions become clusters regardless of shape, sparse
    points are explicitly ``noise`` instead of being forced into the
    nearest centroid. Pair generation is pluggable (exact n-gram /
    LSH-blocked cosine / banded SimHash — any canonical ``src < dst``
    frame), which is where the scale contract lives: neighborhoods come
    from a blocked equi-join, never a cross join.

    Distributed formulation (one degree aggregate + one CC run instead
    of the sequential seed-expansion loop):
    - core:   |N_ε(p)| ≥ min_pts, counting the point itself — degree is
      one combinable count over exploded endpoints;
    - clusters: connected components of the core-core subgraph (the
      proven min-label machinery; density-reachability between cores IS
      graph reachability). Cores untouched by any core-core edge keep a
      singleton cluster of their own id;
    - border: non-core with ≥ 1 core neighbor — joins the SMALLEST core
      neighbor's cluster (the deterministic stand-in for DBSCAN's
      first-seen assignment ambiguity);
    - noise: everything else; cluster is NULL.

    Returns (id_col, cluster bigint NULL, role in core|border|noise).
    """
    from datas_spark.operators.dedup import connected_components

    e = pairs.select(F.col(src).alias("__a"), F.col(dst).alias("__b")).distinct()
    und = e.unionAll(e.select(F.col("__b").alias("__a"), F.col("__a").alias("__b")))
    deg = und.groupBy("__a").agg(F.count(F.lit(1)).cast("long").alias("__deg"))
    core = deg.where(F.col("__deg") + 1 >= min_pts).select(F.col("__a").alias("__id"))

    core_edges = (
        e.join(core.select(F.col("__id").alias("__a")), "__a", "left_semi")
        .join(core.select(F.col("__id").alias("__b")), "__b", "left_semi")
    )
    comp = connected_components(core_edges, src="__a", dst="__b")
    core_comp = (
        core.join(comp, core["__id"] == comp["node"], "left")
        .select("__id", F.coalesce(F.col("component"), F.col("__id")).alias("__cluster"))
    )
    border = (
        und.join(core_comp.select(F.col("__id").alias("__b"), "__cluster"), "__b")
        .join(core.select(F.col("__id").alias("__a")), "__a", "left_anti")
        .groupBy("__a")
        .agg(F.min("__cluster").alias("__cluster"))
        .select(F.col("__a").alias("__id"), "__cluster")
    )
    labeled = core_comp.withColumn("role", F.lit("core")).unionByName(
        border.withColumn("role", F.lit("border"))
    )
    return (
        df.select(F.col(id_col))
        .join(labeled, df[id_col] == labeled["__id"], "left")
        .select(
            F.col(id_col),
            F.col("__cluster").cast("long").alias("cluster"),
            F.coalesce(F.col("role"), F.lit("noise")).alias("role"),
        )
    )


def _rint_away(y: float) -> int:
    """round-half-away-from-zero to int — the DuckDB/Spark ``round()``
    tie rule, reproduced for driver-side math that must match SQL."""
    return int(math.floor(y + 0.5)) if y >= 0 else -int(math.floor(-y + 0.5))


def pca_exact_components(
    df: DataFrame,
    vec_col: str,
    k: int = 2,
    dim: int | None = None,
    n_iters: int = 10,
    scale: int = 1_000_000,
) -> tuple[list[list[float]], list[float], int]:
    """Exact-covariance PCA components (F3, reference main.py:362-364)
    — the hash-checkable twin of MLlib `pca_reduce` (VERDICT r9 #5):

    1. Scatter moments from e6-quantized integers in ONE combinable
       aggregate: n, S_i = Σq_i, S_ij = Σq_i·q_j — exact integer
       algebra on any partitioning (decimal-38 sums; Σq_i stays
       double-exact to ~2^53/(0.5·scale) rows).
    2. The d×d matrix M_ij = n·S_ij − S_i·S_j (∝ covariance — the
       proportionality constant cancels in eigenVECTORS) collects to
       the driver — d² values, the Markov tiny-collect pattern — and
       k components come from fixed-round power iteration with
       deflation, every step e12-resynced (unit vector re-quantized to
       1e-12 grid per round) so the whole eigensolve replays in SQL
       (`oracle_shared.pca_power_cte_sql`): md5-derived start vector,
       matvec and norms as init-0.0 left folds, Rayleigh deflation.

    Returns ``(components, means, n)``: components = k lists of d
    floats (the resynced unit vectors — broadcastable literals), means
    = per-dim quantized means S_i/n (in q units), n = row count.
    """
    import functools
    import hashlib

    if k < 1 or n_iters < 1:
        raise ValueError(f"need k >= 1 and n_iters >= 1, got {k}/{n_iters}")
    if dim is None:
        first = (
            df.where(F.col(vec_col).isNotNull())
            .select(F.size(F.col(vec_col)).alias("n"))
            .limit(1)
            .collect()
        )
        if not first:
            raise ValueError("empty frame: cannot infer vector width")
        dim = int(first[0].n)
    base = df.select(_quantized(vec_col, scale).alias("__q"))
    # ONE scan for ALL moments (round 12). History, with numbers: the
    # r11 shape exploded d(d+1)/2 upper-triangle product structs per
    # row into a decimal aggregate, in TWO collect jobs (S_i then
    # S_ij). Folding both into one struct fan still cost 15 s of
    # interpreted HOF array-build + 4 s Generate + 6 s decimal agg at
    # sf1 (measured stage split) — the per-element interpreted-lambda
    # trap again (guide §1.2/§4.2). The scatter matrix is a matmul, so
    # the pass is now ONE mapInArrow: per batch, Gram = Qᵀ·Q via int64
    # numpy matmul, chunked so chunk_rows·maxq² < 2⁶² (no int64
    # overflow anywhere), accumulated across batches in PYTHON ints
    # (arbitrary precision) — bit-exact integer sums on any
    # partitioning, emitted per task as decimal(38,0) partials and
    # reduced by one tiny grouped sum. sf1: 26.8 → ~3 s.
    from pyspark.sql.types import (
        DecimalType,
        IntegerType,
        StructField,
        StructType,
    )

    part_schema = StructType(
        [
            StructField("i", IntegerType()),
            StructField("j", IntegerType()),
            StructField("s", DecimalType(38, 0)),
        ]
    )
    d = dim

    def _scatter_partials(batches):
        import decimal as _dec

        import numpy as np
        import pyarrow as pa

        tot = None  # d×d python-int matrix (object dtype)
        s1 = None  # d python-int vector
        n_rows = 0
        for batch in batches:
            col = batch.column(0)
            if isinstance(col, pa.ChunkedArray):
                col = col.combine_chunks()
            lst = col
            # NULL vectors add no moments (and count nowhere); offsets
            # and flatten() are slice-aware, `.values` is not
            widths = np.diff(np.asarray(lst.offsets))[
                np.asarray(lst.is_valid(), dtype=bool)
            ]
            if len(widths) and not np.all(widths == d):
                raise ValueError(
                    f"pca_exact_components: ragged vector width "
                    f"(expected {d}, saw {set(widths.tolist())})"
                )
            vals = np.asarray(lst.flatten(), dtype=np.int64)
            if vals.size == 0:
                continue
            arr = vals.reshape(-1, d)
            maxq = int(np.abs(arr).max())
            if maxq > 3_000_000_000:
                raise ValueError(
                    f"pca_exact_components: |q| = {maxq} too large for "
                    "exact int64 row products — lower `scale`"
                )
            safe = max(1, (1 << 62) // max(1, maxq * maxq))
            for c0 in range(0, arr.shape[0], safe):
                ch = arr[c0 : c0 + safe]
                g = ch.T @ ch  # exact: safe-chunked int64
                tot = g.astype(object) if tot is None else tot + g
            sb = arr.sum(axis=0, dtype=object)
            s1 = sb if s1 is None else s1 + sb
            n_rows += arr.shape[0]
        if n_rows == 0:
            return
        ii, jj, ss = [], [], []
        for i in range(d):
            ii.append(i)
            jj.append(-1)
            ss.append(_dec.Decimal(int(s1[i])))
        for i in range(d):
            for j in range(i, d):
                ii.append(i)
                jj.append(j)
                ss.append(_dec.Decimal(int(tot[i][j])))
        ii.append(-1)
        jj.append(-1)
        ss.append(_dec.Decimal(n_rows))
        yield pa.record_batch(
            [
                pa.array(ii, type=pa.int32()),
                pa.array(jj, type=pa.int32()),
                pa.array(ss, type=pa.decimal128(38, 0)),
            ],
            names=["i", "j", "s"],
        )

    mom_rows = (
        base.mapInArrow(_scatter_partials, part_schema)
        .groupBy("i", "j")
        .agg(F.sum("s").alias("__s"))
        .collect()
    )
    if not mom_rows:
        raise ValueError("empty frame: no vectors to decompose")
    n = 0
    S1 = {}
    S2 = {}
    for r in mom_rows:
        i, j, v = int(r["i"]), int(r["j"]), int(r["__s"])
        if i < 0:
            n = v
        elif j < 0:
            S1[i] = v
        else:
            S2[(i, j)] = v
            S2[(j, i)] = v
    # M ∝ covariance, converted to double EXACTLY as SQL's ::DOUBLE
    # (round-to-nearest of the exact integer)
    M = [
        [float(n * S2[(i, j)] - S1[i] * S1[j]) for j in range(dim)]
        for i in range(dim)
    ]

    fold = lambda terms: functools.reduce(  # noqa: E731
        lambda a, b: a + b, terms, 0.0
    )  # init-0.0 left fold == SQL list_reduce(list_prepend(0.0, ...))

    def unit_hash(key: str) -> float:
        h = int(hashlib.md5(key.encode()).hexdigest()[:8], 16)
        return h / 4294967296.0 - 0.5

    comps: list[list[float]] = []
    for c in range(1, k + 1):
        v = [unit_hash(f"pca:{c}:{i}") for i in range(dim)]
        for _ in range(n_iters):
            u = [fold(M[i][j] * v[j] for j in range(dim)) for i in range(dim)]
            nr = fold(u[i] * u[i] for i in range(dim)) ** 0.5
            if nr == 0.0:
                raise ValueError(
                    f"power iteration start vector for component {c} is "
                    f"orthogonal to the data — change n_iters/k"
                )
            v = [_rint_away(u[i] / nr * 1e12) / 1e12 for i in range(dim)]
        comps.append(v)
        # deflate: M <- M - lam v v^T  (Rayleigh lam = v^T M v)
        u = [fold(M[i][j] * v[j] for j in range(dim)) for i in range(dim)]
        lam = fold(v[i] * u[i] for i in range(dim))
        M = [
            [M[i][j] - (lam * (v[i] * v[j])) for j in range(dim)]
            for i in range(dim)
        ]
    means = [float(S1[i]) / n for i in range(dim)]
    return comps, means, n


def pca_exact_project(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 2,
    dim: int | None = None,
    n_iters: int = 10,
    scale: int = 1_000_000,
) -> DataFrame:
    """F3 end-to-end, hash-checkable: fit components with
    `pca_exact_components` (driver-side on the tiny collected moment
    matrix), then project every vector map-side against the component
    LITERALS — ``pc_c = Σ_i (q_i − mean_i)·v_ci / scale`` with the same
    init-0.0 fold the oracle uses, rounded 6. Returns
    ``(id_col, pc1..pck)``. Two passes over the data (one combinable
    moment aggregate + one map-only projection), no shuffle beyond the
    d²-row moment reduce."""
    comps, means, _ = pca_exact_components(
        df, vec_col, k=k, dim=dim, n_iters=n_iters, scale=scale
    )
    qd = F.transform(_quantized(vec_col, scale), lambda x: x.cast("double"))
    mean_arr = F.array(*[F.lit(float(m)) for m in means])
    cols = [F.col(id_col)]
    for c, comp in enumerate(comps, start=1):
        varr = F.array(*[F.lit(float(x)) for x in comp])
        centered = F.zip_with(qd, mean_arr, lambda a, b: a - b)
        terms = F.zip_with(centered, varr, lambda a, b: a * b)
        proj = F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x)
        cols.append(F.round(proj / F.lit(float(scale)), 6).alias(f"pc{c}"))
    return df.select(*cols)
