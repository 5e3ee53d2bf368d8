"""Similarity search over embedding columns — north-star extension
(SURVEY §2.9; replaces the reference's commented-out FAISS intent at
``/root/reference/src/utils/get_info.py:142-146``).

Two tiers (the exact tier has two physical paths):
- ``cosine_topk``      — exact brute-force top-k: broadcast the (small)
  query set, one map-side cosine per (row, query), per-query top-k via
  window rank. Baseline + ground truth.
- ``cosine_topk_vectorized`` — same exact semantics, numpy matmul over
  Arrow batches with local-top-k candidate pruning; the wide-embedding
  (4096-dim) path.
- ``lsh_topk``         — random-hyperplane LSH: sign-bit signature →
  bucket equi-join → exact cosine only within matching buckets. The
  scale path: shuffle is O(n) bucket keys instead of O(n·|queries|)
  full scan per query batch. ``n_probe>1`` enables multi-probe
  (flip the smallest-margin sign bits on the broadcast query side)
  for recall without extra tables.
- ``ivf_topk``         — IVF (inverted-file) ANN: a KMeans coarse
  quantizer assigns every data row to a cell once (index build);
  each query probes only its ``n_probe`` nearest cells and runs exact
  cosine inside them. Unlike LSH's fixed random planes, the cells
  adapt to the data distribution — the standard trade: better
  recall/candidate ratio, plus a (re-usable, persistable) index build.

Hyperplanes are generated from a fixed seed so results are
deterministic and the plumbing oracle-checkable; the IVF quantizer is
seed-pinned MLlib KMeans (deterministic, rows-only checkable).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from datas_spark.functions.arrays import (
    cosine_from_norms,
    cosine_similarity,
    dot,
    l2_norm,
)

__all__ = [
    "bitext_margin_pairs",
    "cosine_topk",
    "cosine_topk_vectorized",
    "random_hyperplanes",
    "hyperplane_signature",
    "lsh_topk",
    "ivf_build_index",
    "ivf_topk",
    "ivf_topk_on_index",
    "ivf_topk_fixed",
    "sq8_topk",
    "pq_encode",
    "pq_topk_fixed",
    "pq_topk_on_codes",
    "ivfpq_topk_fixed",
    "ivfpq_build_fixed",
    "ivfpq_topk_on_index",
    "cross_contamination",
    "random_projection",
]


def _out_names(query_id: str, data_id: str) -> tuple[str, str]:
    """Output column names; disambiguated when query/data share an id name."""
    if query_id == data_id:
        return f"q_{query_id}", f"d_{data_id}"
    return query_id, data_id


def cosine_topk(
    data: DataFrame,
    queries: DataFrame,
    data_id: str,
    query_id: str,
    vec_col: str,
    k: int = 10,
    prune_buckets: int = 64,
    exclude_match_col: str | None = None,
) -> DataFrame:
    """Exact cosine top-k per query with pure Column-expression scoring
    (the oracle ground-truth path — prefer ``cosine_topk_vectorized``
    as the default for wide embeddings; it is the faster physical plan
    with identical semantics). Returns (query_id, data_id, cos, rank<=k),
    ties broken by data id ascending.

    Two-stage bucketed rank (so no per-query hot reducer ever sorts
    n·|queries| rows): each scored row gets a hash bucket, ONE explicit
    exchange partitions the NARROW (query, id, cos) projection by
    (query, bucket) — the vectors themselves never shuffle — and the
    stage-1 window ranks each small (query, bucket) slice in place
    (its partitioning already satisfies the window, no second
    exchange). A row outranked within its own bucket cannot be in the
    global top-k, so stage 2 ranks only ≤ k·buckets survivors per
    query. Cosine is evaluated once, map-side, before the exchange.

    Zero-norm vectors have undefined cosine: their NULL cos is
    filtered between the stages, so such rows never rank —
    ``cosine_topk_vectorized`` drops them identically.

    ``exclude_match_col`` drops candidate pairs whose data row shares
    that column's value with the query row BEFORE any scoring ranks —
    the hard-negative-mining restriction (rank only different-label
    neighbors). NULL values never match, mirroring SQL ``!=``.
    """
    qname, dname = _out_names(query_id, data_id)
    d_cols = [F.col(data_id).alias("__did"), F.col(vec_col).alias("__dv")]
    q_cols = [F.col(query_id).alias("__qid"), F.col(vec_col).alias("__qv")]
    if exclude_match_col is not None:
        d_cols.append(F.col(exclude_match_col).alias("__dx"))
        q_cols.append(F.col(exclude_match_col).alias("__qx"))
    # per-side norms hoisted above the |queries|-way fan (round 12,
    # guide §1.2; bit-identical — see `cosine_from_norms`)
    d = data.select(*d_cols).withColumn("__dn", l2_norm("__dv"))
    q = queries.select(*q_cols).withColumn("__qn", l2_norm("__qv"))
    pairs = d.crossJoin(broadcast(q))
    if exclude_match_col is not None:
        pairs = pairs.where(F.col("__dx") != F.col("__qx"))
    scored = pairs.select(
        F.col("__qid").alias(qname),
        F.col("__did").alias(dname),
        F.round(cosine_from_norms("__dv", "__qv", "__dn", "__qn"), 6).alias("cos"),
        F.pmod(F.xxhash64(F.col("__did")), F.lit(max(prune_buckets, 1))).alias("__b"),
    )
    part = scored.repartition(F.col(qname), F.col("__b"))
    w1 = Window.partitionBy(qname, "__b").orderBy(F.col("cos").desc(), F.col(dname).asc())
    # NULL-cos filter sits ABOVE the stage-1 window on purpose: cos is a
    # post-exchange attribute there, so predicate pushdown cannot clone
    # the cosine HOF tree into a map-side filter (the round-1 landmine)
    local = (
        part.withColumn("__r", F.row_number().over(w1))
        .where((F.col("__r") <= k) & F.col("cos").isNotNull())
    )
    w = Window.partitionBy(qname).orderBy(F.col("cos").desc(), F.col(dname).asc())
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .drop("__b", "__r")
    )


def cosine_topk_vectorized(
    data: DataFrame,
    queries: DataFrame,
    data_id: str,
    query_id: str,
    vec_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k, Arrow/numpy path — same semantics and
    tie-break as ``cosine_topk`` (cos desc, data id asc; cos rounded to
    6 before ranking, float32 widened to float64 first), different
    physical plan for wide embeddings.

    The reference's embeddings are 4096-dim (``main.py:349``); a
    per-element ``zip_with`` fold evaluates 3×4096 lambda nodes per
    (row, query) pair, while one ``mapInPandas`` matmul scores an
    entire Arrow batch against all queries at BLAS speed. Candidate
    generation is local-top-k: each batch emits at most k rows per
    query, so the final shuffle carries O(k · batches · |queries|)
    rows instead of O(n · |queries|) — the global window then ranks a
    frame that fits on one reducer regardless of data size. Pruning is
    lossless because per-batch selection uses the same rounded
    (cos desc, id asc) total order as the global rank.

    Queries are collected to the driver (they are small by contract —
    this is the broadcast side) and ship to workers inside the UDF
    closure once per task. Zero-norm vectors (undefined cosine) are
    dropped — data rows and whole queries alike — exactly as the
    expression path's NULL cos never survives its threshold filter.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    def _round6(a):
        # F.round / DuckDB round are half-away-from-zero; np.round is
        # half-to-even — align so the two exact paths cannot diverge on
        # a boundary value
        return np.sign(a) * np.floor(np.abs(a) * 1e6 + 0.5) / 1e6

    qname, dname = _out_names(query_id, data_id)
    qrows = queries.select(query_id, vec_col).collect()
    if not qrows:
        raise ValueError("queries frame is empty")
    qids = [r[0] for r in qrows]
    qm = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    qnorm = np.linalg.norm(qm, axis=1, keepdims=True)
    keep_q = qnorm[:, 0] != 0.0
    qids = [qid for qid, keep in zip(qids, keep_q) if keep]
    qm = qm[keep_q] / qnorm[keep_q]
    if not qids:
        raise ValueError("all query vectors have zero norm")

    out_schema = StructType(
        [
            StructField(qname, queries.schema[query_id].dataType),
            StructField(dname, data.schema[data_id].dataType),
            StructField("cos", DoubleType()),
        ]
    )

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            dm = np.vstack(pdf["__dv"].to_numpy()).astype(np.float64)
            ids = pdf["__did"].to_numpy()
            dnorm = np.linalg.norm(dm, axis=1, keepdims=True)
            nz = dnorm[:, 0] != 0.0
            dm, ids, dnorm = dm[nz], ids[nz], dnorm[nz]
            if len(ids) == 0:
                continue
            sims = _round6((dm / dnorm) @ qm.T)  # (batch, |queries|)
            kk = min(k, len(ids))
            out_q, out_d, out_c = [], [], []
            for j, qid in enumerate(qids):
                top = np.lexsort((ids, -sims[:, j]))[:kk]
                out_q.extend([qid] * kk)
                out_d.extend(ids[top])
                out_c.extend(sims[top, j])
            yield pd.DataFrame({qname: out_q, dname: out_d, "cos": out_c})

    cand = data.select(
        F.col(data_id).alias("__did"), F.col(vec_col).alias("__dv")
    ).mapInPandas(run, out_schema)
    w = Window.partitionBy(qname).orderBy(F.col("cos").desc(), F.col(dname).asc())
    return cand.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-gaussian hyperplanes (Box–Muller-free: sum of
    uniforms, CLT) — plain Python so the same literals can be embedded
    in tests and docs."""
    rng = random.Random(seed)
    return [
        [sum(rng.uniform(-1, 1) for _ in range(3)) for _ in range(dim)]
        for _ in range(n_planes)
    ]


def hyperplane_signature(df: DataFrame, vec_col: str, planes: list[list[float]]) -> DataFrame:
    """Append ``bucket``: sign-bit signature of the vector against each
    hyperplane, packed into a bigint. Map-only, codegen'd."""
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(float(x)) for x in plane])
        sig = sig + F.when(dot(vec_col, p) >= 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return df.withColumn("bucket", sig)


def lsh_topk(
    data: DataFrame,
    queries: DataFrame,
    data_id: str,
    query_id: str,
    vec_col: str,
    k: int = 10,
    n_planes: int = 8,
    dim: int | None = None,
    seed: int = 42,
    n_probe: int = 1,
) -> DataFrame:
    """Approximate top-k: exact cosine ranking restricted to rows whose
    hyperplane bucket matches one of the query's probe buckets.

    ``n_probe=1`` probes only the query's own bucket. ``n_probe>1`` adds
    multi-probe (Lv et al., "Multi-Probe LSH"): the extra probes flip
    ONE sign bit each, choosing the planes with the smallest projection
    margin first — a near-boundary sign bit is exactly the one a true
    neighbor most likely landed on the other side of. Recall rises with
    ``n_probe`` at candidate cost ≈ n_probe × bucket size, without
    re-hashing or extra tables.

    Plan shape is unchanged: the probe expansion happens on the tiny
    broadcast query side (n_probe rows per query); the data side still
    carries one 8-byte bucket key per row and never re-shuffles.
    """
    if dim is None:
        dim = len(queries.select(vec_col).first()[0])
    if not 1 <= n_probe <= n_planes + 1:
        raise ValueError(f"n_probe must be in [1, n_planes + 1], got {n_probe}")
    planes = random_hyperplanes(dim, n_planes, seed)
    d = hyperplane_signature(
        data.select(F.col(data_id).alias("__did"), F.col(vec_col).alias("__dv")),
        "__dv",
        planes,
    )
    # query side: project the per-plane dots ONCE (HOF lambdas re-evaluate
    # unbound subtrees per element), then derive bucket + probe set
    plane_lits = [F.array(*[F.lit(float(x)) for x in p]) for p in planes]
    q = (
        queries.select(F.col(query_id).alias("__qid"), F.col(vec_col).alias("__qv"))
        .withColumn("__dots", F.array(*[dot("__qv", p) for p in plane_lits]))
    )
    dots = F.col("__dots")
    own = F.lit(0).cast("long")
    for i in range(n_planes):
        own = own + F.when(dots[i] >= 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    q = q.withColumn("__qbucket", own)
    if n_probe > 1:
        # struct(margin, bit) sorts by margin asc — smallest margin first
        flips = F.array_sort(
            F.array(
                *[
                    F.struct(
                        F.abs(dots[i]).alias("m"),
                        F.lit(1 << i).cast("long").alias("bit"),
                    )
                    for i in range(n_planes)
                ]
            )
        )
        probes = F.concat(
            F.array(F.col("__qbucket")),
            F.transform(
                F.slice(flips, 1, n_probe - 1),
                lambda s: F.col("__qbucket").bitwiseXOR(s["bit"]),
            ),
        )
    else:
        probes = F.array(F.col("__qbucket"))
    # probe buckets are distinct by construction (own ^ distinct single
    # bits), so the bucket join emits each (query, row) pair at most once
    qp = q.select("__qid", "__qv", F.explode(probes).alias("__qbucket"))
    qname, dname = _out_names(query_id, data_id)
    scored = d.join(broadcast(qp), F.col("bucket") == F.col("__qbucket")).select(
        F.col("__qid").alias(qname),
        F.col("__did").alias(dname),
        F.round(cosine_similarity("__dv", "__qv"), 6).alias("cos"),
    )
    w = Window.partitionBy(qname).orderBy(F.col("cos").desc(), F.col(dname).asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def ivf_build_index(
    data: DataFrame,
    data_id: str,
    vec_col: str,
    n_cells: int = 16,
    seed: int = 42,
) -> tuple[DataFrame, list[list[float]]]:
    """IVF index build: seed-pinned MLlib KMeans coarse quantizer.

    Returns ``(assigned, centers)`` where ``assigned`` is the data with a
    ``__cell`` column (the inverted lists) and ``centers`` the k cell
    centroids as plain lists (small — lives on the driver, broadcast at
    query time).

    At scale the index is built ONCE and persisted partitioned by cell
    (``assigned.write.partitionBy("__cell").parquet(...)``) so query-time
    probes become partition-pruned scans — no re-clustering per query
    batch.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    d = data.select(F.col(data_id).alias("__did"), F.col(vec_col).alias("__dv"))
    feat = d.withColumn("__feat", array_to_vector(F.col("__dv").cast("array<double>")))
    model = KMeans(
        k=n_cells, seed=seed, featuresCol="__feat", predictionCol="__cell"
    ).fit(feat)
    assigned = model.transform(feat).select("__did", "__dv", "__cell")
    centers = [[float(x) for x in c] for c in model.clusterCenters()]
    return assigned, centers


def ivf_topk(
    data: DataFrame,
    queries: DataFrame,
    data_id: str,
    query_id: str,
    vec_col: str,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 3,
    seed: int = 42,
) -> DataFrame:
    """IVF ANN top-k: each query probes its ``n_probe`` nearest KMeans
    cells (by centroid cosine) and runs exact cosine only inside them.

    Plan shape: the probe assignment is a broadcast crossJoin of queries
    × centroids (both tiny) ranked per query; the candidate scan is a
    broadcast hash join of the (query, probed-cell) pairs against the
    cell-assigned data — the big side never shuffles. Candidate fraction
    ≈ n_probe / n_cells, and unlike LSH's fixed random planes the cells
    adapt to the data distribution.
    """
    assigned, centers = ivf_build_index(data, data_id, vec_col, n_cells=n_cells, seed=seed)
    return ivf_topk_on_index(
        assigned, centers, queries, data_id, query_id, vec_col, k=k, n_probe=n_probe
    )


def ivf_topk_on_index(
    assigned: DataFrame,
    centers: list[list[float]],
    queries: DataFrame,
    data_id: str,
    query_id: str,
    vec_col: str,
    k: int = 10,
    n_probe: int = 3,
) -> DataFrame:
    """The query half of IVF, decoupled from the build: ``assigned`` is
    the inverted-lists frame (``__did``, ``__dv``, ``__cell``) —
    typically ``spark.read.parquet`` of an index persisted with
    ``partitionBy("__cell")`` — and ``centers`` the quantizer loaded
    alongside it. Build once, persist, query forever: the probe list is
    broadcast, and against a cell-partitioned store the candidate scan
    prunes to the probed cells' partitions instead of re-clustering (or
    even re-reading) the corpus per query batch.
    """
    spark = assigned.sparkSession
    centers_df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centers)], "__cell int, __cv array<double>"
    )
    q = queries.select(F.col(query_id).alias("__qid"), F.col(vec_col).alias("__qv"))
    wp = Window.partitionBy("__qid").orderBy(F.col("__csim").desc(), F.col("__cell").asc())
    probed = (
        q.crossJoin(broadcast(centers_df))
        .withColumn("__csim", cosine_similarity("__qv", "__cv"))
        .withColumn("__pr", F.row_number().over(wp))
        .where(F.col("__pr") <= n_probe)
        .select("__qid", "__qv", "__cell")
    )
    qname, dname = _out_names(query_id, data_id)
    scored = assigned.join(broadcast(probed), "__cell").select(
        F.col("__qid").alias(qname),
        F.col("__did").alias(dname),
        F.round(cosine_similarity("__dv", "__qv"), 6).alias("cos"),
    )
    w = Window.partitionBy(qname).orderBy(F.col("cos").desc(), F.col(dname).asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def ivf_topk_fixed(
    data: DataFrame,
    queries: DataFrame,
    cells: DataFrame,
    data_id: str,
    query_id: str,
    cell_id: str,
    vec_col: str,
    k: int = 10,
    n_probe: int = 3,
) -> DataFrame:
    """IVF ANN with a FIXED quantizer: the coarse cells are given as a
    small (cell_id, vector) frame instead of being KMeans-fit — the
    random-sample quantizer variant (cells = a deterministic sample of
    the data, or centroids loaded from a prior index build). Unlike
    ``ivf_topk``'s MLlib quantizer this makes the WHOLE query
    SQL-expressible, so the driver hash-checks it; recall behaves like
    IVF with one Lloyd iteration skipped.

    Plan: cell assignment is a broadcast crossJoin (|cells| rows per
    data row) reduced by a map-side-combinable ``min_by`` — NO window
    over the data, so assignment never sorts a big partition. Queries
    rank cells in a tiny window (queries are small by contract), and
    candidates meet in a broadcast equi-join on the cell id. Assignment
    and probe ordering use cosine rounded to 6 (ties to the smaller
    cell id) so every engine agrees on the cell boundaries.
    """
    # per-side norms hoisted above the |cells|-way assignment fan
    # (round 12, guide §1.2; bit-identical — `cosine_from_norms`)
    d = data.select(
        F.col(data_id).alias("__did"), F.col(vec_col).alias("__dv")
    ).withColumn("__dn", l2_norm("__dv"))
    c = cells.select(
        F.col(cell_id).alias("__cell"), F.col(vec_col).alias("__cv")
    ).withColumn("__cn", l2_norm("__cv"))
    cs = F.round(cosine_from_norms("__dv", "__cv", "__dn", "__cn"), 6) + F.lit(0.0)
    assign = (
        d.crossJoin(broadcast(c))
        .withColumn("__cs", cs)
        .groupBy("__did")
        .agg(
            F.min_by(
                "__cell", F.struct((-F.col("__cs")).alias("n"), F.col("__cell"))
            ).alias("__cell")
        )
        .join(d, "__did")
    )
    q = queries.select(
        F.col(query_id).alias("__qid"), F.col(vec_col).alias("__qv")
    ).withColumn("__qn", l2_norm("__qv"))
    qs = F.round(cosine_from_norms("__qv", "__cv", "__qn", "__cn"), 6) + F.lit(0.0)
    wp = Window.partitionBy("__qid").orderBy(F.col("__qs").desc(), F.col("__cell").asc())
    probes = (
        q.crossJoin(broadcast(c))
        .withColumn("__qs", qs)
        .withColumn("__pr", F.row_number().over(wp))
        .where(F.col("__pr") <= n_probe)
        .select("__qid", "__qv", "__qn", "__cell")
    )
    qname, dname = _out_names(query_id, data_id)
    scored = assign.join(broadcast(probes), "__cell").select(
        F.col("__qid").alias(qname),
        F.col("__did").alias(dname),
        F.round(cosine_from_norms("__dv", "__qv", "__dn", "__qn"), 6).alias("cos"),
    )
    w = Window.partitionBy(qname).orderBy(F.col("cos").desc(), F.col(dname).asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def sq8_topk(
    data: DataFrame,
    queries: DataFrame,
    data_id: str,
    query_id: str,
    vec_col: str,
    k: int = 10,
    oversample: int = 4,
) -> DataFrame:
    """Scalar-quantized (int8) ANN with exact rerank — the
    compressed-domain scale path: store/scan 1 byte per dimension
    instead of 4, rank candidates on integer dot products, then
    re-score only ``k·oversample`` survivors per query with exact
    float cosine. At 100 TB the first pass is 4× less scan and memory
    bandwidth, and the rerank touches a constant-size candidate set.

    Quantization: one 1-row broadcast aggregate finds the data-side
    max |component|; every vector (queries included — symmetric, so
    the integer dot preserves the unquantized ordering up to rounding)
    maps through ``round(x·127/amax)`` into [−127, 127]. Approximate
    scores are EXACT INTEGERS, so candidate ranking is deterministic
    on any engine — no float-order ambiguity at the cutoff.

    Plan shape mirrors ``cosine_topk``'s discipline: the approx pass
    shuffles only the narrow (query, id, int-score) projection through
    a two-stage bucketed rank (vectors never move); survivors (tiny)
    broadcast back against the data side to fetch vectors for the
    rerank, whose final per-query window orders ≤ k·oversample rows.

    Returns (query_id, data_id, cos, rank<=k) — same contract and
    tie-break (cos desc, id asc) as the exact paths; recall < 1 only
    when quantization reorders a pair across the oversample boundary.
    """
    qname, dname = _out_names(query_id, data_id)
    d = data.select(F.col(data_id).alias("__did"), F.col(vec_col).alias("__dv"))
    q = queries.select(F.col(query_id).alias("__qid"), F.col(vec_col).alias("__qv"))
    amax = d.agg(
        F.max(
            F.array_max(F.transform("__dv", lambda x: F.abs(x.cast("double"))))
        ).alias("__amax")
    )

    def quant(col: F.Column) -> F.Column:
        return F.transform(
            col,
            lambda x: F.round(x.cast("double") * 127.0 / F.col("__amax")).cast(
                "long"
            ),
        )

    dq = d.crossJoin(broadcast(amax)).select("__did", quant(F.col("__dv")).alias("__dq"))
    qq = q.crossJoin(broadcast(amax)).select("__qid", quant(F.col("__qv")).alias("__qq"))
    n_cand = k * max(oversample, 1)
    buckets = 64
    scored = dq.crossJoin(broadcast(qq)).select(
        "__qid",
        "__did",
        F.aggregate(
            F.zip_with("__dq", "__qq", lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("__s"),
        F.pmod(F.xxhash64(F.col("__did")), F.lit(buckets)).alias("__b"),
    )
    part = scored.repartition(F.col("__qid"), F.col("__b"))
    w1 = Window.partitionBy("__qid", "__b").orderBy(
        F.col("__s").desc(), F.col("__did").asc()
    )
    local = part.withColumn("__r", F.row_number().over(w1)).where(
        F.col("__r") <= n_cand
    )
    wa = Window.partitionBy("__qid").orderBy(F.col("__s").desc(), F.col("__did").asc())
    kept = (
        local.withColumn("__ar", F.row_number().over(wa))
        .where(F.col("__ar") <= n_cand)
        .select("__qid", "__did")
    )
    # rerank: survivors are k·oversample·|queries| rows — broadcast them
    # into the data side (vectors fetched map-side, no data shuffle),
    # then broadcast the query vectors for the exact cosine
    rer = (
        d.join(broadcast(kept), "__did")
        .join(broadcast(q), "__qid")
        .select(
            F.col("__qid").alias(qname),
            F.col("__did").alias(dname),
            F.round(cosine_similarity("__dv", "__qv"), 6).alias("cos"),
        )
        .where(F.col("cos").isNotNull())
    )
    w = Window.partitionBy(qname).orderBy(F.col("cos").desc(), F.col(dname).asc())
    return rer.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _pq_codebook(codebook_src: DataFrame, code_id: str, vec_col: str, m: int, sub: int) -> DataFrame:
    """Split each codebook-source vector into ``m`` ``sub``-dim subvectors:
    one (``__j``, ``__code``, ``__cb`` array<double>, ``__n2`` double) row
    per (subspace, code). ``__n2`` is the subvector's squared norm,
    folded in index order (deterministic accumulation)."""
    slices = F.array(*[F.slice(F.col("__v"), j * sub + 1, sub) for j in range(m)])
    cb = (
        codebook_src.select(
            F.col(code_id).alias("__code"), F.col(vec_col).cast("array<double>").alias("__v")
        )
        .select("__code", F.posexplode(slices).alias("__j", "__cb"))
    )
    n2 = F.aggregate(F.col("__cb"), F.lit(0.0), lambda acc, x: acc + x * x)
    return cb.withColumn("__n2", n2)


def pq_encode(
    data: DataFrame,
    codebook_src: DataFrame,
    data_id: str,
    code_id: str,
    vec_col: str,
    m: int = 8,
) -> DataFrame:
    """Product-quantization encoder: each vector becomes ``m`` small
    integer codes — the compressed-domain representation PQ/IVF-PQ
    indexes scan at 100 TB (64 float32 dims = 256 B → 8 codes = 8 B
    here; the vectors themselves never need to be read again).

    The ``m`` subquantizer codebooks are FIXED data: the corresponding
    subvectors of ``codebook_src`` (a small deterministic sample /
    persisted training output), so encoding — argmin L2² per subspace,
    distances rounded to 6 with ties to the smaller code — is fully
    SQL-expressible and the driver hash-checks it (same contract as
    ``ivf_topk_fixed``'s sample quantizer vs the learned MLlib twin).

    Plan: one posexplode (m rows per vector) → broadcast join against
    the m·ks codebook rows → map-side-combinable ``min_by`` per
    (vector, subspace) → one groupBy back to a row per vector. No
    window over the data, no data-side vector shuffle: only the
    (id, j, code, n2) projection moves. Returns
    (``__did``, ``__codes`` array<int> ordered by subspace,
    ``__dn2`` double = Σ_j ||codebook[j][code_j]||², folded in j order)
    — ``__dn2`` is the reconstructed vector's squared norm, carried so
    ADC scoring never touches the codebook again.
    """
    first = data.select(vec_col).first()
    if first is None:
        raise ValueError("data frame is empty")
    dim = len(first[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    cb = broadcast(_pq_codebook(codebook_src, code_id, vec_col, m, sub))
    return _pq_encode_presplit(data, cb, data_id, vec_col, m, sub)


def _pq_encode_presplit(
    data: DataFrame,
    cb: DataFrame,
    data_id: str,
    vec_col: str,
    m: int,
    sub: int,
) -> DataFrame:
    """`pq_encode`'s body against an already-split (and already
    broadcast-wrapped) codebook frame ``(__j, __code, __cb, __n2)`` —
    the shape both the fixed-sample splitter (`_pq_codebook`) and the
    per-subspace Lloyd trainer (`pq_codebooks_lloyd`) emit."""
    slices = F.array(*[F.slice(F.col("__v"), j * sub + 1, sub) for j in range(m)])
    dsub = data.select(
        F.col(data_id).alias("__did"), F.col(vec_col).cast("array<double>").alias("__v")
    ).select("__did", F.posexplode(slices).alias("__j", "__sub"))
    dist = F.round(
        F.aggregate(
            F.zip_with("__sub", "__cb", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    ) + F.lit(0.0)
    chosen = (
        dsub.join(cb, "__j")
        .withColumn("__dist", dist)
        .groupBy("__did", "__j")
        .agg(
            F.min_by(
                F.struct(F.col("__code"), F.col("__n2")),
                F.struct(F.col("__dist"), F.col("__code")),
            ).alias("__c")
        )
    )
    ordered = F.array_sort(
        F.collect_list(F.struct(F.col("__j"), F.col("__c.__code").alias("__code"),
                                F.col("__c.__n2").alias("__n2")))
    )
    return chosen.groupBy("__did").agg(
        F.transform(ordered, lambda x: x["__code"].cast("int")).alias("__codes"),
        F.aggregate(ordered, F.lit(0.0), lambda acc, x: acc + x["__n2"]).alias("__dn2"),
    )


def _pq_lut(
    queries: DataFrame,
    codebook_src: DataFrame,
    query_id: str,
    code_id: str,
    vec_col: str,
    m: int,
    sub: int,
    ks: int,
) -> tuple[DataFrame, DataFrame]:
    """Per-query ADC lookup table: ``(__qid, __lut array<double>,
    __qn)`` where ``__lut[j*ks + code]`` is the dot of the query's
    subvector j with codebook entry ``code`` (each an index-order fold)
    and ``__qn`` the exact query norm. Built distributed over the
    |q|·m·ks tiny rows, then broadcast into the code scan. Also returns
    the normalized query frame ``(__qid, __v)`` for the rerank."""
    cb = broadcast(_pq_codebook(codebook_src, code_id, vec_col, m, sub))
    return _pq_lut_presplit(queries, cb, query_id, vec_col, m, sub, ks)


def _pq_lut_presplit(
    queries: DataFrame,
    cb: DataFrame,
    query_id: str,
    vec_col: str,
    m: int,
    sub: int,
    ks: int,
) -> tuple[DataFrame, DataFrame]:
    """`_pq_lut`'s body against an already-split codebook frame."""
    slices = F.array(*[F.slice(F.col("__v"), j * sub + 1, sub) for j in range(m)])
    q = queries.select(
        F.col(query_id).alias("__qid"), F.col(vec_col).cast("array<double>").alias("__v")
    )
    qn = q.select(
        "__qid",
        F.sqrt(F.aggregate("__v", F.lit(0.0), lambda acc, x: acc + x * x)).alias("__qn"),
    )
    qsub = q.select("__qid", F.posexplode(slices).alias("__j", "__qsub"))
    qdot = F.aggregate(
        F.zip_with("__qsub", "__cb", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    lut = (
        qsub.join(cb, "__j")
        .select("__qid", (F.col("__j") * ks + F.col("__code")).alias("__fi"), qdot.alias("__dot"))
        .groupBy("__qid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("__fi"), F.col("__dot")))),
                lambda x: x["__dot"],
            ).alias("__lut")
        )
        .join(qn, "__qid")
    )
    return q, lut


def _pq_adc_score(m: int, ks: int) -> F.Column:
    """Approximate cosine from codes + LUT: Σ_j lut[j][code_j] (m-term
    fold in subspace order) over qnorm · reconstructed-norm, rounded to
    6 — deterministic on every engine."""
    ip = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(F.col("__lut"), (j * ks + F.element_at(F.col("__codes"), j + 1) + 1).cast("int")),
    )
    return F.when(
        (F.col("__qn") > 0) & (F.col("__dn2") > 0),
        F.round(ip / (F.col("__qn") * F.sqrt(F.col("__dn2"))), 6) + F.lit(0.0),
    )


def pq_topk_fixed(
    data: DataFrame,
    queries: DataFrame,
    codebook_src: DataFrame,
    data_id: str,
    query_id: str,
    code_id: str,
    vec_col: str,
    m: int = 8,
    k: int = 10,
    oversample: int = 4,
) -> DataFrame:
    """Product-quantization ANN top-k with asymmetric distance
    computation (ADC) and exact rerank — the compressed-domain scan
    shape real 100 TB vector search uses (FAISS ``IVFPQ``'s PQ half;
    Jégou et al. 2011): the approximate pass reads ONLY the m-byte
    codes, never the vectors.

    ADC: each query precomputes a lookup table of its subvector dots
    against every codebook entry (|q|·m·ks tiny rows → one array per
    query, built distributed and broadcast); a data row's approximate
    inner product is then Σ_j lut[j][code_j] — an m-term fold over the
    codes, folded in subspace order so every engine accumulates
    identically. Approximate cosine divides by the EXACT query norm and
    the RECONSTRUCTED data norm (``__dn2`` carried by the encoder),
    rounded to 6 with id tie-break — a deterministic candidate cut.

    Plan shape mirrors ``sq8_topk``: the approx pass shuffles only the
    narrow (query, id, score) projection through a bucketed two-stage
    rank; the k·oversample survivors broadcast back against the data
    for the exact-cosine rerank whose final window orders ≤ k·oversample
    rows per query. Candidate recall < 1 only when quantization error
    reorders a pair across the oversample boundary.

    Returns (query_id, data_id, cos, rank<=k) — the family contract
    (cos desc, id asc), same as ``cosine_topk``/``sq8_topk``.
    """
    enc = pq_encode(data, codebook_src, data_id, code_id, vec_col, m=m)
    return pq_topk_on_codes(
        enc, data, queries, codebook_src, data_id, query_id, code_id, vec_col,
        m=m, k=k, oversample=oversample,
    )


def pq_topk_on_codes(
    enc: DataFrame,
    data: DataFrame,
    queries: DataFrame,
    codebook_src: DataFrame,
    data_id: str,
    query_id: str,
    code_id: str,
    vec_col: str,
    m: int = 8,
    k: int = 10,
    oversample: int = 4,
) -> DataFrame:
    """The query half of PQ, decoupled from encoding: ``enc`` is the
    (``__did``, ``__codes``, ``__dn2``) code table — typically
    ``spark.read.parquet`` of codes persisted at index-build time —
    and ``data`` supplies vectors ONLY for the k·oversample rerank
    survivors (at 100 TB the rerank fetch is a broadcast-semi-joined
    point read; the scan itself never touches vectors). Encode once,
    persist, query forever — the ``ivf_topk_on_index`` contract for the
    compressed domain."""
    first = queries.select(vec_col).first()
    if first is None:
        raise ValueError("queries frame is empty")
    qname, dname = _out_names(query_id, data_id)
    dim = len(first[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    ks = codebook_src.count()
    q, lut = _pq_lut(queries, codebook_src, query_id, code_id, vec_col, m, sub, ks)
    return _pq_rank_on_codes(
        enc, data, q, lut, data_id, vec_col, qname, dname, m, ks, k, oversample
    )


def _pq_rank_on_codes(
    enc: DataFrame,
    data: DataFrame,
    q: DataFrame,
    lut: DataFrame,
    data_id: str,
    vec_col: str,
    qname: str,
    dname: str,
    m: int,
    ks: int,
    k: int,
    oversample: int,
) -> DataFrame:
    """Shared ADC-scan + exact-rerank tail of every PQ query path
    (fixed-sample and Lloyd-learned codebooks alike): broadcast LUT
    into the code scan, bucketed two-stage candidate rank, broadcast
    the survivors back for the exact-cosine rerank."""
    approx = _pq_adc_score(m, ks)
    n_cand = k * max(oversample, 1)
    buckets = 64
    scored = enc.crossJoin(broadcast(lut)).select(
        "__qid",
        "__did",
        approx.alias("__s"),
        F.pmod(F.xxhash64(F.col("__did")), F.lit(buckets)).alias("__b"),
    ).where(F.col("__s").isNotNull())
    part = scored.repartition(F.col("__qid"), F.col("__b"))
    w1 = Window.partitionBy("__qid", "__b").orderBy(F.col("__s").desc(), F.col("__did").asc())
    local = part.withColumn("__r", F.row_number().over(w1)).where(F.col("__r") <= n_cand)
    wa = Window.partitionBy("__qid").orderBy(F.col("__s").desc(), F.col("__did").asc())
    kept = (
        local.withColumn("__ar", F.row_number().over(wa))
        .where(F.col("__ar") <= n_cand)
        .select("__qid", "__did")
    )
    d = data.select(F.col(data_id).alias("__did"), F.col(vec_col).alias("__dv"))
    qv = q.select("__qid", F.col("__v").alias("__qv"))
    rer = (
        d.join(broadcast(kept), "__did")
        .join(broadcast(qv), "__qid")
        .select(
            F.col("__qid").alias(qname),
            F.col("__did").alias(dname),
            F.round(cosine_similarity("__dv", "__qv"), 6).alias("cos"),
        )
        .where(F.col("cos").isNotNull())
    )
    w = Window.partitionBy(qname).orderBy(F.col("cos").desc(), F.col(dname).asc())
    return rer.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def pq_codebooks_lloyd(
    train: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 4,
    ks: int = 8,
    n_rounds: int = 2,
) -> DataFrame:
    """Lloyd-learned PQ codebooks — what real FAISS ``index_factory``
    training does (per-subspace k-means), replacing the fixed-sample
    codebooks of `pq_topk_fixed`, and hash-checkable because each
    subspace trains exactly like `clustering.kmeans_lloyd` over its
    slice (e6-integer distances, (md5(id), id) init, exact-integer
    centroid updates, the same NULL rules).

    The ``m`` per-subspace Lloyd instances share the IDENTICAL seed
    election (the ``(md5(id), id)`` draw never sees the slice, and
    quantize-then-slice equals slice-then-quantize), so the seeds are
    drawn once and sliced per subspace on the driver. The training
    points take the same bounded Arrow collect as `kmeans_lloyd`
    (`clustering._lloyd_collect`): under its cap, and when its
    preconditions hold, the driver slices the collected vectors per
    subspace and runs each instance's rounds itself
    (`clustering._lloyd_driver`) — one Spark job per call. Otherwise
    all ``m`` instances run as ONE grouped instance of the distributed
    Lloyd core (`clustering._lloyd_rounds`) keyed by subspace ``__g``:
    points live as ``(g, subvector)`` rows, each round is one map-only
    assignment pass plus one collected ``(g, code, d)`` moment
    aggregate of at most ks·dim rows, and the m·ks centroids stay on
    the driver — one seed collect and two jobs per round. ``dim`` is
    an explicit parameter so composing this into a pipeline triggers
    no pre-plan width probe.

    Returns the pre-split codebook frame ``(__j int, __code int,
    __cb array<double>, __n2 double)`` that `_pq_encode_presplit` /
    `_pq_lut_presplit` broadcast — contractually tiny (m·ks rows,
    built from one literal, so re-reading it runs no job).
    """
    from datas_spark.operators.clustering import (
        DEFAULT_SCALE,
        _centroid_literal,
        _lloyd_collect,
        _lloyd_driver,
        _lloyd_rounds,
        _lloyd_seeds,
        _quantized,
    )

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    scale = DEFAULT_SCALE  # shared with kmeans_lloyd (ADVICE r11)
    pts = train.select(
        F.col(id_col).alias("__id"), _quantized(vec_col, scale).alias("__q")
    ).localCheckpoint(eager=False)
    _, q = _lloyd_collect(pts)
    if q is not None:
        subs = [q[:, g * sub : (g + 1) * sub] for g in range(m)]
        cents = [_lloyd_driver(s, s[:ks], n_rounds) for s in subs]
    else:
        seeds = _lloyd_seeds(pts, ks)
        rows = pts.select(
            F.posexplode(
                F.array(*[F.slice("__q", g * sub + 1, sub) for g in range(m)])
            ).alias("__g", "__q")
        ).localCheckpoint(eager=False)
        cents = _lloyd_rounds(
            rows,
            [[None if v is None else v[g * sub : (g + 1) * sub] for v in seeds] for g in range(m)],
            n_rounds,
            group="__g",
        )
    books = f"array({', '.join(map(_centroid_literal, cents))})"
    out = (
        train.sparkSession.range(1)
        .select(F.posexplode(F.expr(books)).alias("__j", "__book"))
        .select("__j", F.explode("__book").alias("__e"))
        .select(
            "__j",
            F.col("__e.j").alias("__code"),
            F.transform(
                F.col("__e.c"), lambda x: x.cast("double") / F.lit(float(scale))
            ).alias("__cb"),
        )
    )
    n2 = F.aggregate(F.col("__cb"), F.lit(0.0), lambda acc, x: acc + x * x)
    return out.withColumn("__n2", n2)


def pq_topk_learned(
    data: DataFrame,
    queries: DataFrame,
    train: DataFrame,
    data_id: str,
    query_id: str,
    vec_col: str,
    dim: int,
    m: int = 4,
    ks: int = 8,
    n_rounds: int = 2,
    k: int = 10,
    oversample: int = 4,
) -> DataFrame:
    """PQ ANN top-k with LEARNED per-subspace Lloyd codebooks — the
    full FAISS ``PQ{m}`` layout end to end: train (`pq_codebooks_lloyd`
    on ``train``), encode (`_pq_encode_presplit`), per-query ADC LUTs,
    compressed-domain scan, exact rerank — every stage deterministic,
    so training + encoding + ADC + rerank all replay in the oracle.
    Same output contract as `pq_topk_fixed` (query, id, cos,
    rank<=k)."""
    qname, dname = _out_names(query_id, data_id)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    cbn = broadcast(pq_codebooks_lloyd(train, data_id, vec_col, dim, m, ks, n_rounds))
    enc = _pq_encode_presplit(data, cbn, data_id, vec_col, m, sub)
    q, lut = _pq_lut_presplit(queries, cbn, query_id, vec_col, m, sub, ks)
    return _pq_rank_on_codes(
        enc, data, q, lut, data_id, vec_col, qname, dname, m, ks, k, oversample
    )


def ivfpq_topk_learned(
    data: DataFrame,
    queries: DataFrame,
    train: DataFrame,
    data_id: str,
    query_id: str,
    vec_col: str,
    dim: int,
    n_cells: int = 8,
    cell_rounds: int = 2,
    m: int = 4,
    ks: int = 8,
    cb_rounds: int = 2,
    k: int = 10,
    oversample: int = 8,
    n_probe: int = 3,
) -> DataFrame:
    """IVF-PQ with BOTH quantizers learned — the full FAISS
    ``IVF{n_cells},PQ{m}`` training story, hash-checkable end to end:
    the coarse quantizer is a deterministic full-dim Lloyd run
    (`clustering.kmeans_lloyd`, the `ivf_topk_learned` cells) and the
    fine quantizer is `pq_codebooks_lloyd` (per-subspace Lloyd). Cell
    assignment, codes, probes, ADC scores, candidate cut and rerank
    all replay in the oracle. Same plan shape as `ivfpq_topk_fixed`:
    two broadcast-join map-side index passes, probes ⋈ LUTs broadcast
    into the code scan, vectors touched only for rerank survivors.
    ``dim`` is explicit — composing this triggers no pre-plan width
    probe."""
    from datas_spark.operators.clustering import kmeans_lloyd

    qname, dname = _out_names(query_id, data_id)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    _, cents = kmeans_lloyd(
        train.select(F.col(data_id), F.col(vec_col)),
        data_id, vec_col, k=n_cells, n_rounds=cell_rounds,
    )
    c = cents.select(
        F.col("cluster").alias("__cell"),
        F.col("centroid").alias("__cv"),
        l2_norm("centroid").alias("__cn"),
    ).localCheckpoint(eager=False)
    cbn = broadcast(pq_codebooks_lloyd(train, data_id, vec_col, dim, m, ks, cb_rounds))
    d = data.select(
        F.col(data_id).alias("__did"), F.col(vec_col).alias("__dv")
    ).withColumn("__dn", l2_norm("__dv"))
    # norms hoisted above the |cells| assignment fan (round 12,
    # bit-identical — `cosine_from_norms`)
    cs = F.round(cosine_from_norms("__dv", "__cv", "__dn", "__cn"), 6) + F.lit(0.0)
    assign = (
        d.crossJoin(broadcast(c))
        .withColumn("__cs", cs)
        .groupBy("__did")
        .agg(
            F.min_by(
                "__cell", F.struct((-F.col("__cs")).alias("n"), F.col("__cell"))
            ).alias("__cell")
        )
    )
    enc = _pq_encode_presplit(data, cbn, data_id, vec_col, m, sub).join(
        assign, "__did"
    )
    q, lut = _pq_lut_presplit(queries, cbn, query_id, vec_col, m, sub, ks)
    return _ivfpq_rank_on_index(
        enc, data, q, lut, c, data_id, vec_col, qname, dname,
        m, ks, k, oversample, n_probe,
    )


def pq_distortion_presplit(
    data: DataFrame,
    cb: DataFrame,
    data_id: str,
    vec_col: str,
    m: int,
    sub: int,
) -> DataFrame:
    """Per-subspace mean squared quantization error of a (pre-split)
    PQ codebook — the k-means objective itself, measured as a query:
    codebook comparisons (learned vs sample, ks choices) should land
    with this number, not a hand-waved 'trained is better'.

    Per (vector, subspace): the min rounded L2² distance to any code
    (exactly the encoder's assignment metric), e6-quantized to an
    integer so the corpus-wide sum is order-free exact; the mean is
    ONE division of exact integers (deterministic cross-engine).
    Returns ``(j int, n_vectors long, mse double)``."""
    slices = F.array(*[F.slice(F.col("__v"), j * sub + 1, sub) for j in range(m)])
    dsub = data.select(
        F.col(data_id).alias("__did"), F.col(vec_col).cast("array<double>").alias("__v")
    ).select("__did", F.posexplode(slices).alias("__j", "__sub"))
    dist = F.round(
        F.aggregate(
            F.zip_with("__sub", "__cb", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    ) + F.lit(0.0)
    per = (
        dsub.join(cb, "__j")
        .select("__did", "__j", dist.alias("__d"))
        .groupBy("__did", "__j")
        .agg(F.min("__d").alias("__e2"))
    )
    e2q = F.round(F.col("__e2") * F.lit(1e6), 0).cast("long")
    return per.groupBy("__j").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        (
            F.round(
                F.sum(e2q)
                / (F.count(F.lit(1)) * F.lit(1_000_000)).cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("mse"),
    ).select(F.col("__j").alias("j"), "n_vectors", "mse")


def ivfpq_topk_fixed(
    data: DataFrame,
    queries: DataFrame,
    cells: DataFrame,
    codebook_src: DataFrame,
    data_id: str,
    query_id: str,
    cell_id: str,
    code_id: str,
    vec_col: str,
    m: int = 8,
    k: int = 10,
    oversample: int = 8,
    n_probe: int = 3,
) -> DataFrame:
    """IVF-PQ — the full FAISS ``IVFPQ`` shape (Jégou et al. 2011) and
    the canonical 100 TB vector-search layout: a coarse quantizer
    partitions the corpus into inverted lists, product-quantized codes
    compress each list 32×, and a query touches only its ``n_probe``
    lists in the compressed domain before an exact rerank of
    ``k·oversample`` survivors. Scan cost per query ≈
    (n_probe/n_cells) · n · m bytes — both knobs independent of the
    vector dimensionality.

    Both quantizers are FIXED data samples (``ivf_topk_fixed`` /
    ``pq_topk_fixed`` determinism contract): the cell assignment
    (rounded-cosine min_by), the PQ codes, the ADC candidate scores and
    the rerank are all SQL-expressible, so the whole index+query
    composition hash-checks against the DuckDB oracle.

    Plan: cell assignment and PQ encoding are two broadcast-join
    map-side passes over the data (index build — persisted with
    ``partitionBy(cell)`` in a real deployment so probes become
    partition-pruned scans); at query time the (query, probed-cell)
    pairs ⋈ per-query LUTs broadcast into the code table, and only the
    narrow (query, id, score) projection shuffles through the bucketed
    two-stage rank.
    """
    enc = ivfpq_build_fixed(
        data, cells, codebook_src, data_id, cell_id, code_id, vec_col, m=m
    )
    return ivfpq_topk_on_index(
        enc, data, queries, cells, codebook_src,
        data_id, query_id, cell_id, code_id, vec_col,
        m=m, k=k, oversample=oversample, n_probe=n_probe,
    )


def ivfpq_build_fixed(
    data: DataFrame,
    cells: DataFrame,
    codebook_src: DataFrame,
    data_id: str,
    cell_id: str,
    code_id: str,
    vec_col: str,
    m: int = 8,
) -> DataFrame:
    """IVF-PQ index build: coarse cell assignment (``ivf_topk_fixed``'s
    rounded-cosine min_by contract) + PQ codes in one pass. Returns
    (``__did``, ``__codes``, ``__dn2``, ``__cell``) — the m-byte-per-
    vector index table; persist with ``partitionBy("__cell")`` so
    query-time probes prune to their inverted lists' partitions."""
    d = data.select(
        F.col(data_id).alias("__did"), F.col(vec_col).alias("__dv")
    ).withColumn("__dn", l2_norm("__dv"))
    c = cells.select(
        F.col(cell_id).alias("__cell"), F.col(vec_col).alias("__cv")
    ).withColumn("__cn", l2_norm("__cv"))
    # norms hoisted above the |cells| assignment fan (round 12,
    # bit-identical — `cosine_from_norms`)
    cs = F.round(cosine_from_norms("__dv", "__cv", "__dn", "__cn"), 6) + F.lit(0.0)
    assign = (
        d.crossJoin(broadcast(c))
        .withColumn("__cs", cs)
        .groupBy("__did")
        .agg(
            F.min_by(
                "__cell", F.struct((-F.col("__cs")).alias("n"), F.col("__cell"))
            ).alias("__cell")
        )
    )
    return pq_encode(data, codebook_src, data_id, code_id, vec_col, m=m).join(
        assign, "__did"
    )


def ivfpq_topk_on_index(
    enc: DataFrame,
    data: DataFrame,
    queries: DataFrame,
    cells: DataFrame,
    codebook_src: DataFrame,
    data_id: str,
    query_id: str,
    cell_id: str,
    code_id: str,
    vec_col: str,
    m: int = 8,
    k: int = 10,
    oversample: int = 8,
    n_probe: int = 3,
) -> DataFrame:
    """The query half of IVF-PQ over a prebuilt/persisted index table
    (``ivfpq_build_fixed``'s schema): probes ⋈ LUTs broadcast into the
    code scan, vectors touched only for the rerank survivors."""
    qname, dname = _out_names(query_id, data_id)
    first = queries.select(vec_col).first()
    if first is None:
        raise ValueError("queries frame is empty")
    dim = len(first[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    ks = codebook_src.count()
    c = cells.select(F.col(cell_id).alias("__cell"), F.col(vec_col).alias("__cv"))
    q, lut = _pq_lut(queries, codebook_src, query_id, code_id, vec_col, m, sub, ks)
    return _ivfpq_rank_on_index(
        enc, data, q, lut, c, data_id, vec_col, qname, dname,
        m, ks, k, oversample, n_probe,
    )


def _ivfpq_rank_on_index(
    enc: DataFrame,
    data: DataFrame,
    q: DataFrame,
    lut: DataFrame,
    c: DataFrame,
    data_id: str,
    vec_col: str,
    qname: str,
    dname: str,
    m: int,
    ks: int,
    k: int,
    oversample: int,
    n_probe: int,
) -> DataFrame:
    """Shared probe + cell-restricted ADC scan + rerank tail of the
    IVF-PQ query paths (fixed and Lloyd-learned quantizers alike);
    ``c`` is the normalized ``(__cell, __cv)`` cell frame."""
    d = data.select(F.col(data_id).alias("__did"), F.col(vec_col).alias("__dv"))
    qs = F.round(cosine_similarity("__v", "__cv"), 6) + F.lit(0.0)
    wp = Window.partitionBy("__qid").orderBy(F.col("__qs").desc(), F.col("__cell").asc())
    probes = (
        q.crossJoin(broadcast(c))
        .withColumn("__qs", qs)
        .withColumn("__pr", F.row_number().over(wp))
        .where(F.col("__pr") <= n_probe)
        .select("__qid", "__cell")
        .join(lut, "__qid")
    )

    approx = _pq_adc_score(m, ks)
    n_cand = k * max(oversample, 1)
    buckets = 64
    scored = enc.join(broadcast(probes), "__cell").select(
        "__qid",
        "__did",
        approx.alias("__s"),
        F.pmod(F.xxhash64(F.col("__did")), F.lit(buckets)).alias("__b"),
    ).where(F.col("__s").isNotNull())
    part = scored.repartition(F.col("__qid"), F.col("__b"))
    w1 = Window.partitionBy("__qid", "__b").orderBy(F.col("__s").desc(), F.col("__did").asc())
    local = part.withColumn("__r", F.row_number().over(w1)).where(F.col("__r") <= n_cand)
    wa = Window.partitionBy("__qid").orderBy(F.col("__s").desc(), F.col("__did").asc())
    kept = (
        local.withColumn("__ar", F.row_number().over(wa))
        .where(F.col("__ar") <= n_cand)
        .select("__qid", "__did")
    )
    rer = (
        d.join(broadcast(kept), "__did")
        .join(broadcast(q.select("__qid", F.col("__v").alias("__qv"))), "__qid")
        .select(
            F.col("__qid").alias(qname),
            F.col("__did").alias(dname),
            F.round(cosine_similarity("__dv", "__qv"), 6).alias("cos"),
        )
        .where(F.col("cos").isNotNull())
    )
    w = Window.partitionBy(qname).orderBy(F.col("cos").desc(), F.col(dname).asc())
    return rer.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def cross_contamination(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    n_planes: int = 4,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Semantic decontamination across TWO tables: training vectors
    whose cosine similarity to ANY benchmark vector reaches
    ``threshold``. Returns ``(id_col, n_matches bigint, max_cos
    double)`` per contaminated training row.

    The embedding twin of n-gram benchmark decontamination: both sides
    get the same seed-pinned hyperplane sign signature (map-only), the
    candidate space is the bucket equi-join (never a cross join), and
    the cosine is an exact JVM-side fold inside each bucket. Standard
    LSH recall trade: near-identical vectors almost surely share all
    sign bits; lower ``n_planes`` for higher recall at more candidates.

    Scale: the benchmark side is the small one — Catalyst/AQE
    broadcasts it under the join threshold, so the training scan stays
    map-side; the only wide shuffle is the per-training-id aggregate of
    its (few) above-threshold matches.
    """
    from datas_spark.functions.arrays import cosine_from_norms, l2_norm

    if dim is None:
        dim = len(bench.select(vec_col).first()[0])
    planes = random_hyperplanes(dim, n_planes, seed)
    # per-side norms hoisted into the row projections (round 12, guide
    # §1.2): the bucket join evaluates the cosine once per candidate
    # (~2^-planes · |bench| candidates per training row), so inlined
    # norms would re-fold both vectors per candidate; bit-identical —
    # see `cosine_from_norms`
    tb = hyperplane_signature(
        train.select(F.col(id_col), F.col(vec_col)), vec_col, planes
    ).withColumn("__tn", l2_norm(vec_col))
    bb = hyperplane_signature(
        bench.select(
            F.col(id_col).alias("__bid"), F.col(vec_col).alias("__bvec")
        ),
        "__bvec",
        planes,
    ).withColumn("__bn", l2_norm("__bvec"))
    cand = tb.join(bb, "bucket")
    cos = cosine_from_norms(
        F.col(vec_col), F.col("__bvec"), F.col("__tn"), F.col("__bn")
    )
    return (
        cand.select(F.col(id_col), cos.alias("__cos"))
        .where(F.col("__cos") >= threshold)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_matches"),
            F.round(F.max("__cos"), 6).alias("max_cos"),
        )
    )


def ann_recall_report(
    exact: DataFrame,
    approx: DataFrame,
    query_col: str,
    data_col: str,
) -> DataFrame:
    """Per-query recall of an approximate ANN result against the exact
    top-k frame — 'measure, don't guess' as a first-class operator:
    every index knob change (planes, probes, codebooks, oversample)
    should land with this report, not a hand-waved recall claim.

    Both inputs are (query, data, ...) top-k frames (k·|q| rows —
    tiny); the hit count is one semi-join + grouped count, so the
    report costs nothing beyond the searches themselves. Returns
    (query_col, n_exact, n_hits, recall) per query.
    """
    e = exact.select(F.col(query_col), F.col(data_col))
    a = approx.select(F.col(query_col), F.col(data_col))
    base = e.groupBy(query_col).agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    hits = (
        e.join(a, [query_col, data_col], "left_semi")
        .groupBy(query_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    return (
        base.join(hits, query_col, "left")
        .withColumn("n_hits", F.coalesce(F.col("n_hits"), F.lit(0).cast("long")))
        .withColumn(
            "recall",
            F.round(F.col("n_hits") / F.col("n_exact"), 6) + F.lit(0.0),
        )
    )


def random_projection(
    df: DataFrame,
    vec_col: str,
    in_dim: int,
    out_dim: int,
    out_col: str = "rp",
    tag: str = "jl",
) -> DataFrame:
    """Johnson–Lindenstrauss random projection with a DETERMINISTIC
    ±1 sign matrix (Achlioptas 2003, "Database-friendly random
    projections"): ``rp[j] = (1/√k) · Σ_i vec[i] · sign(i, j)`` where
    ``sign(i, j) ∈ {+1, −1}`` comes from ``md5(tag|i|j)`` — seed-free,
    so the SAME matrix materializes on any cluster, any engine, and
    the DuckDB oracle regenerates it from the same md5 strings (the
    `hash_split` determinism contract applied to a matrix).

    The sketching step BEFORE the ANN index: at 100 TB, projecting
    64-dim embeddings to 16 dims quarters every downstream shuffle,
    LSH signature, and PQ codebook while JL guarantees pairwise
    distances distort by at most ~ε for k = O(log n / ε²). Map-only:
    the k×d sign matrix rides the plan as a literal (k·d ≤ a few
    thousand doubles), each output coordinate is one ordered
    index-fold over the input array, no shuffle, no UDF. Output
    coordinates round to 6 decimals (engine-identical fold order).

    Compose with `cosine_topk` / `ann_recall_report` to MEASURE the
    recall cost of the compression instead of trusting the lemma
    (`jl_recall_report`).
    """
    import hashlib
    import math as _math

    if in_dim <= 0 or out_dim <= 0:
        raise ValueError("in_dim and out_dim must be positive")
    signs = [
        [
            1.0
            if int(
                hashlib.md5(f"{tag}|{i}|{j}".encode()).hexdigest()[:15], 16
            )
            % 2
            == 0
            else -1.0
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]
    scale = 1.0 / _math.sqrt(float(out_dim))
    rmat = F.array(*[F.array(*[F.lit(v) for v in row]) for row in signs])
    return df.withColumn(
        out_col,
        F.transform(
            rmat,
            lambda row: F.round(
                F.aggregate(
                    F.zip_with(
                        F.col(vec_col), row, lambda x, s: x.cast("double") * s
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                * F.lit(scale),
                6,
            ),
        ),
    )


def bitext_margin_pairs(
    src: DataFrame,
    tgt: DataFrame,
    id_col: str,
    vec_col: str,
    knn: int = 4,
    top_n: int = 20,
    n_planes: int = 4,
    seed: int = 42,
    max_bucket_side: int | None = 128,
    dim: int | None = None,
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019, the LASER
    recipe): candidate translation pairs are scored by the RATIO
    margin

        margin(x, y) = cos(x, y) /
            ( (mean_k-NN-cos(x) + mean_k-NN-cos(y)) / 2 )

    — dividing by each side's local cosine neighborhood deflates hub
    vectors that are "close to everything", the failure mode of raw
    cosine mining. Returns the ``top_n`` mined pairs
    ``(src_id, tgt_id, cos, margin)`` by (margin DESC, ids ASC).

    Scale shape (the `lsh_blocked_near_dup` discipline): candidates —
    and the k-NN neighborhoods the margin normalizes by — come ONLY
    from seed-pinned hyperplane sign buckets (map-only bucketing, the
    equi-join bounds the pair fan; at 100 TB this is exactly the
    ANN-blocked mining FAISS-based miners run). Fixed buckets alone
    are still quadratic across a data decade, so each bucket SIDE
    additionally caps at ``max_bucket_side`` vectors (smallest ids
    kept — deterministic; the SimHash in-bucket cap discipline: the
    dropped tail is the documented recall trade, and the measured sf1
    run without the cap was the superlinear flag that added it).
    k-NN means fold the
    ≤``knn`` rounded cosines in (cos DESC, partner-id ASC) order —
    bit-reproducible, so the whole miner replays in SQL. Candidates
    with an empty neighborhood cannot occur (each candidate pair IS
    in both endpoints' neighborhoods).
    """
    if knn < 1 or top_n < 1:
        raise ValueError(f"need knn/top_n >= 1, got {knn}/{top_n}")
    # explicit ``dim`` skips the pre-plan width probe (VERDICT r10 #8)
    if dim is None:
        first = src.select(F.size(F.col(vec_col)).alias("n")).limit(1).collect()
        if not first:
            raise ValueError("empty src frame: cannot infer vector width")
        dim = int(first[0]["n"])
    planes = random_hyperplanes(dim, n_planes, seed)
    s = hyperplane_signature(
        src.select(F.col(id_col).alias("sid"), F.col(vec_col).alias("__sv")),
        "__sv",
        planes,
    )
    t = hyperplane_signature(
        tgt.select(F.col(id_col).alias("tid"), F.col(vec_col).alias("__tv")),
        "__tv",
        planes,
    )
    if max_bucket_side is not None:
        ws = Window.partitionBy("bucket").orderBy(F.col("sid").asc())
        s = (
            s.withColumn("__br", F.row_number().over(ws))
            .where(F.col("__br") <= max_bucket_side)
            .drop("__br")
        )
        wt = Window.partitionBy("bucket").orderBy(F.col("tid").asc())
        t = (
            t.withColumn("__br", F.row_number().over(wt))
            .where(F.col("__br") <= max_bucket_side)
            .drop("__br")
        )
    # per-side norms hoisted above the bucket join (round 12, guide
    # §1.2): the capped pair fan evaluates a cosine per candidate, so
    # inlined norms would re-fold both vectors per candidate —
    # bit-identical restructure, see `cosine_from_norms`
    from datas_spark.functions.arrays import cosine_from_norms, l2_norm

    s = s.withColumn("__sn", l2_norm("__sv"))
    t = t.withColumn("__tn", l2_norm("__tv"))
    cand = (
        s.join(t, "bucket")
        .select(
            "sid",
            "tid",
            (
                F.round(cosine_from_norms("__sv", "__tv", "__sn", "__tn"), 6)
                + F.lit(0.0)
            ).alias("cos"),
        )
        .localCheckpoint(eager=False)  # feeds both k-NN means + the score
    )

    def knn_mean(key: str, partner: str) -> DataFrame:
        w = Window.partitionBy(key).orderBy(
            F.col("cos").desc(), F.col(partner).asc()
        )
        kept = cand.withColumn("__r", F.row_number().over(w)).where(
            F.col("__r") <= knn
        )
        return (
            kept.select(
                key, F.struct(F.col("__r"), F.col("cos")).alias("__rc")
            )
            .groupBy(key)
            .agg(
                (
                    F.aggregate(
                        F.array_sort(F.collect_list("__rc")),
                        F.lit(0.0),
                        lambda acc, x: acc + x["cos"],
                    )
                    / F.count(F.lit(1)).cast("double")
                ).alias(f"__m_{key}")
            )
        )

    ms = knn_mean("sid", "tid")
    mt = knn_mean("tid", "sid")
    denom = (F.col("__m_sid") + F.col("__m_tid")) / F.lit(2.0)
    # a zero mean-neighborhood denominator (cosines cancelling exactly)
    # yields NULL margin rather than a division blow-up
    margin = F.when(denom != 0.0, F.round(F.col("cos") / denom, 6))
    return (
        cand.join(ms, "sid")
        .join(mt, "tid")
        .select(
            F.col("sid").alias("src_id"),
            F.col("tid").alias("tgt_id"),
            "cos",
            margin.alias("margin"),
        )
        .orderBy(F.desc("margin"), F.asc("src_id"), F.asc("tgt_id"))
        .limit(int(top_n))
    )
