"""Shared DuckDB-oracle SQL builders used by multiple registry
batches — a LEAF module (imports only operator constants, never the
registry chain), so any batch can pull these at import/decoration time
without re-entering `datas_spark.registry` mid-import.
"""

from __future__ import annotations

from datas_spark.functions import text as _T
from datas_spark.operators import dedup as D

__all__ = [
    "minhash_oracle",
    "NEAR_DEDUP_RESOLVE_ORACLE",
    "LANG_ORACLE",
    "lloyd_cte_sql",
    "kcenter_cte_sql",
    "pca_power_cte_sql",
    "logreg_cte_sql",
    "IVF_COS_SQL",
]

# rounded cosine between two table aliases' ``embedding`` columns —
# the shared scoring expression of every fixed-quantizer IVF oracle
# (mirrors functions.arrays.cosine_similarity + round 6; the trailing
# + 0.0 normalizes -0.0)
IVF_COS_SQL = """
        round(
          list_sum(list_transform(range(1, len({a}.embedding) + 1),
                   i -> {a}.embedding[i]::DOUBLE * {b}.embedding[i]::DOUBLE))
          / (sqrt(list_sum(list_transform(range(1, len({a}.embedding) + 1),
                   i -> {a}.embedding[i]::DOUBLE * {a}.embedding[i]::DOUBLE)))
           * sqrt(list_sum(list_transform(range(1, len({b}.embedding) + 1),
                   i -> {b}.embedding[i]::DOUBLE * {b}.embedding[i]::DOUBLE)))), 6)
          + 0.0
"""


def pca_power_cte_sql(
    src: str,
    id_expr: str,
    vec_expr: str,
    k: int,
    dim: int,
    n_iters: int = 10,
    scale: int = 1_000_000,
    prefix: str = "pw",
) -> str:
    """DuckDB CTE chain replaying `clustering.pca_exact_components` +
    the projection bit-exactly: e-scale quantization, exact HUGEINT
    scatter moments, M_ij = n·S_ij − S_i·S_j cast to DOUBLE, k rounds
    of md5-seeded power iteration with per-round e12 unit-vector
    resync, Rayleigh deflation between components. Every float fold is
    an init-0.0 left fold (``list_reduce(list_prepend(0.0, ...))`` ==
    Spark ``F.aggregate(..., 0.0, +)`` == the driver-side Python loop),
    so the three implementations agree to the bit.

    Exposes ``{prefix}_q (id, q)``, ``{prefix}_n (n)``, ``{prefix}_si
    (i, s)`` and per component c: ``{prefix}_v{c}_{n_iters} (i, val)``
    — the resynced component vectors. Build the projection SELECT on
    top (see the pca_embeddings registry query).
    """
    p = prefix
    fold = "list_reduce(list_prepend(0.0, {lst}), (a, b) -> a + b)"
    parts = [
        f"""
    {p}_q AS MATERIALIZED (
      SELECT {id_expr} AS id,
             list_transform({vec_expr},
                            x -> CAST(round(x::DOUBLE * {scale}.0) AS BIGINT)) AS q
      FROM {src}
    ), {p}_n AS MATERIALIZED (
      SELECT count(*)::BIGINT AS n FROM {p}_q
    ), {p}_ix AS (
      SELECT unnest(range(1, {dim + 1}))::INT AS i
    ), {p}_si AS MATERIALIZED (
      SELECT t.i, sum(q[t.i])::HUGEINT AS s
      FROM {p}_q CROSS JOIN {p}_ix t GROUP BY t.i
    ), {p}_sij AS MATERIALIZED (
      SELECT ti.i, tj.i AS j, sum(q[ti.i] * q[tj.i])::HUGEINT AS s
      FROM {p}_q CROSS JOIN {p}_ix ti CROSS JOIN {p}_ix tj
      GROUP BY 1, 2
    ), {p}_m1 AS MATERIALIZED (
      SELECT sij.i, sij.j,
             ((n.n * sij.s) - (sa.s * sb.s))::DOUBLE AS m
      FROM {p}_sij sij
      JOIN {p}_si sa ON sa.i = sij.i
      JOIN {p}_si sb ON sb.i = sij.j
      CROSS JOIN {p}_n n
    )"""
    ]
    for c in range(1, k + 1):
        parts.append(
            f""", {p}_v{c}_0 AS MATERIALIZED (
      SELECT i,
             (('0x' || substr(md5('pca:{c}:' || (i - 1)::VARCHAR), 1, 8))::BIGINT
              / 4294967296.0 - 0.5) AS val
      FROM {p}_ix
    )"""
        )
        for r in range(1, n_iters + 1):
            mv = fold.format(lst="list(m.m * v.val ORDER BY m.j)")
            nrm = fold.format(lst="list(u * u ORDER BY i)")
            parts.append(
                f""", {p}_u{c}_{r} AS MATERIALIZED (
      SELECT m.i, {mv} AS u
      FROM {p}_m{c} m JOIN {p}_v{c}_{r - 1} v ON v.i = m.j
      GROUP BY m.i
    ), {p}_nr{c}_{r} AS MATERIALIZED (
      SELECT sqrt({nrm}) AS nr FROM {p}_u{c}_{r}
    ), {p}_v{c}_{r} AS MATERIALIZED (
      SELECT i,
             CAST(round(u / nr * 1000000000000.0) AS BIGINT)::DOUBLE
               / 1000000000000.0 AS val
      FROM {p}_u{c}_{r} CROSS JOIN {p}_nr{c}_{r}
    )"""
            )
        if c < k:
            mv = fold.format(lst="list(m.m * v.val ORDER BY m.j)")
            ray = fold.format(lst="list(v.val * mv.u ORDER BY v.i)")
            parts.append(
                f""", {p}_mv{c} AS MATERIALIZED (
      SELECT m.i, {mv} AS u
      FROM {p}_m{c} m JOIN {p}_v{c}_{n_iters} v ON v.i = m.j
      GROUP BY m.i
    ), {p}_lam{c} AS MATERIALIZED (
      SELECT {ray} AS lam
      FROM {p}_v{c}_{n_iters} v JOIN {p}_mv{c} mv ON mv.i = v.i
    ), {p}_m{c + 1} AS MATERIALIZED (
      SELECT m.i, m.j, m.m - (l.lam * (vi.val * vj.val)) AS m
      FROM {p}_m{c} m
      JOIN {p}_v{c}_{n_iters} vi ON vi.i = m.i
      JOIN {p}_v{c}_{n_iters} vj ON vj.i = m.j
      CROSS JOIN {p}_lam{c} l
    )"""
            )
    return "".join(parts)


def kcenter_cte_sql(
    src: str,
    id_expr: str,
    vec_expr: str,
    k: int,
    dim: int,
    scale: int = 1_000_000,
    prefix: str = "kc",
) -> str:
    """DuckDB CTE chain replaying `selection.kcenter_sampling(...,
    exact_scale=scale)` exactly — the greedy farthest-first traversal
    unrolled k−1 rounds (the Markov-16-step discipline): quantize once
    to integers, seed with the smallest id, then per round pick the
    unchosen point with the largest INTEGER squared min-distance
    (ties → smaller id) and fold ``least`` of the distance to it into
    every row. Assumes the pool has ≥ k rows (the Spark side breaks
    early on exhaustion; SQL can't).

    Emits CTEs named ``{prefix}_*``; exposes ``{prefix}_sel (id)`` —
    the k chosen ids.
    """
    p = prefix
    d2 = (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        "i -> (d.q[i] - c.q[i]) * (d.q[i] - c.q[i])))"
    )
    parts = [
        f"""
    {p}_pts AS (
      SELECT {id_expr} AS id,
             list_transform({vec_expr},
                            x -> CAST(round(x::DOUBLE * {scale}.0) AS BIGINT)) AS q
      FROM {src}
    ), {p}_s0 AS (
      SELECT id, q FROM {p}_pts ORDER BY id LIMIT 1
    ), {p}_d1 AS (
      SELECT d.id, d.q, {d2} AS md, d.id = c.id AS ch
      FROM {p}_pts d CROSS JOIN {p}_s0 c
    )"""
    ]
    for r in range(1, k):
        parts.append(
            f""", {p}_s{r} AS (
      SELECT id, q FROM {p}_d{r} WHERE NOT ch
      ORDER BY md DESC, id ASC LIMIT 1
    ), {p}_d{r + 1} AS (
      SELECT d.id, d.q, least(d.md, {d2}) AS md, d.ch OR d.id = c.id AS ch
      FROM {p}_d{r} d CROSS JOIN {p}_s{r} c
    )"""
        )
    parts.append(
        f""", {p}_sel AS (
      SELECT id FROM {p}_d{k} WHERE ch
    )"""
    )
    return "".join(parts)


def lloyd_cte_sql(
    src: str,
    id_expr: str,
    vec_expr: str,
    k: int | str,
    n_rounds: int,
    dim: int,
    scale: int = 1_000_000,
    prefix: str = "lw",
    auto_target: int = 256,
    auto_min_k: int = 2,
    auto_max_k: int = 64,
) -> str:
    """DuckDB CTE chain replaying `clustering.kmeans_lloyd` exactly:
    e-scale integer quantization, (md5(id), id)-order init, per-round
    integer-distance argmin assignment (ties → smaller index) and
    floor(Σ/n) centroid update — EXACT integer floor division
    ``(s - ((s % n) + n) % n) // n`` (HUGEINT sums), bit-identical to
    Spark's ``(s - pmod(s, n)) div n`` — with empty-cluster carry-over,
    one final assignment pass. Every value is an integer, so neither
    fold order nor float rounding matters cross-engine.

    Emits CTEs named ``{prefix}_*``; append after your own WITH list.
    Exposes ``{prefix}_asg (id, cluster)`` and ``{prefix}_cent
    (j, cv DOUBLE[])`` (components divided back by ``scale`` — the
    quantizer frame for the fixed-cell IVF oracle shape).
    """
    p = prefix
    d2 = (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        "i -> (p.q[i] - s.c[i]) * (p.q[i] - s.c[i])))"
    )
    if isinstance(k, str):
        # k="auto": clamp(ceil(sqrt(n / target)), min_k, max_k) from the
        # corpus count — mirrors kmeans_lloyd's k exactly
        c0 = f"""{p}_n AS (SELECT count(*)::BIGINT AS n FROM {p}_pts),
    {p}_c0 AS (
      SELECT j, c FROM (
        SELECT (row_number() OVER (ORDER BY h, id) - 1)::INT AS j, q AS c
        FROM (SELECT md5(id::VARCHAR) AS h, id, q FROM {p}_pts
              ORDER BY h, id LIMIT {auto_max_k})
      ) WHERE j < (SELECT greatest({auto_min_k}, least({auto_max_k},
                     CAST(ceil(sqrt(n::DOUBLE / {auto_target}.0)) AS BIGINT)))
                   FROM {p}_n)
    )"""
    else:
        c0 = f"""{p}_c0 AS (
      SELECT (row_number() OVER (ORDER BY h, id) - 1)::INT AS j, q AS c
      FROM (SELECT md5(id::VARCHAR) AS h, id, q FROM {p}_pts
            ORDER BY h, id LIMIT {k})
    )"""
    parts = [
        f"""
    {p}_pts AS (
      SELECT {id_expr} AS id,
             list_transform({vec_expr},
                            x -> CAST(round(x::DOUBLE * {scale}.0) AS BIGINT)) AS q
      FROM {src}
    ), {c0}"""
    ]
    for r in range(1, n_rounds + 1):
        parts.append(
            f""", {p}_a{r} AS (
      SELECT id, q, j AS cluster FROM (
        SELECT p.id, p.q, s.j,
               row_number() OVER (PARTITION BY p.id
                                  ORDER BY {d2} ASC, s.j ASC) AS rn
        FROM {p}_pts p CROSS JOIN {p}_c{r - 1} s
      ) WHERE rn = 1
    ), {p}_c{r} AS (
      SELECT pv.j, coalesce(nw.c, pv.c) AS c
      FROM {p}_c{r - 1} pv LEFT JOIN (
        SELECT j, list(cc ORDER BY i) AS c FROM (
          SELECT cluster AS j, i,
                 CAST((sum(q[i]) - ((sum(q[i]) % count(*)) + count(*))
                       % count(*)) // count(*) AS BIGINT) AS cc
          FROM {p}_a{r} CROSS JOIN (SELECT unnest(range(1, {dim + 1})) AS i) t
          GROUP BY 1, 2
        ) GROUP BY j
      ) nw USING (j)
    )"""
        )
    parts.append(
        f""", {p}_asg AS (
      SELECT id, cluster FROM (
        SELECT p.id, s.j AS cluster,
               row_number() OVER (PARTITION BY p.id
                                  ORDER BY {d2} ASC, s.j ASC) AS rn
        FROM {p}_pts p CROSS JOIN {p}_c{n_rounds} s
      ) WHERE rn = 1
    ), {p}_cent AS (
      SELECT j, list_transform(c, x -> x::DOUBLE / {scale}.0) AS cv
      FROM {p}_c{n_rounds}
    )"""
    )
    return "".join(parts)

def semdedup_cte_sql(
    src: str,
    id_col: str,
    k: int | str,
    n_rounds: int,
    threshold: float,
    n_planes: int,
    cap: int,
    dim: int = 64,
    prefix: str = "sd",
) -> str:
    """DuckDB CTE chain replaying `dedup.semdedup` over ``{src}``
    (columns ``({id_col}, embedding)``): the Lloyd clustering
    (``k="auto"`` supported — the lazy corpus-count k), seed-pinned
    hyperplane buckets, the per-(cluster, bucket) ``cap``, rounded
    cosine pairs ≥ ``threshold``, CC over the pairs (RECURSIVE — the
    caller's WITH must say ``WITH RECURSIVE``), and the
    least-centroid-typical keeper election. Exposes ``{prefix}_lab
    (id, cluster, component, csim, keep)``."""
    # deferred: registry_scoring imports this module at its own load
    from datas_spark.registry_scoring import _LSH_DOT_SQL, _planes_values_sql

    p = prefix
    lloyd = lloyd_cte_sql(
        src, id_col, "embedding", k, n_rounds, dim, prefix=f"{p}w"
    )
    return f"""{lloyd},
    {p}_pl AS (SELECT * FROM {_planes_values_sql(n_planes)}),
    {p}_dots AS (
      SELECT e.{id_col} AS id, p.pid, {_LSH_DOT_SQL} AS dt
      FROM {src} e CROSS JOIN {p}_pl p
    ), {p}_db AS (
      SELECT id,
        sum(CASE WHEN dt >= 0 THEN (1::BIGINT << pid) ELSE 0 END)::BIGINT
          AS bucket
      FROM {p}_dots GROUP BY id
    ), {p}_eb AS MATERIALIZED (
      SELECT emb.{id_col} AS id, a.cluster, db.bucket, emb.embedding
      FROM {src} emb
      JOIN {p}w_asg a ON a.id = emb.{id_col}
      JOIN {p}_db db ON db.id = emb.{id_col}
    ), {p}_ebc AS MATERIALIZED (
      SELECT id, cluster, bucket, embedding FROM (
        SELECT {p}_eb.*, row_number() OVER (PARTITION BY cluster, bucket
                                            ORDER BY id ASC) AS rn
        FROM {p}_eb
      ) WHERE rn <= {cap}
    ), {p}_prs AS MATERIALIZED (
      SELECT x.id AS id_a, y.id AS id_b
      FROM {p}_ebc x JOIN {p}_ebc y
        ON x.cluster = y.cluster AND x.bucket = y.bucket AND x.id < y.id
      WHERE {IVF_COS_SQL.format(a='x', b='y')} >= {threshold}
    ), {p}_e2 AS (
      SELECT id_a AS a, id_b AS b FROM {p}_prs
      UNION SELECT id_b, id_a FROM {p}_prs
    ), {p}_reach(node, r) AS (
      SELECT a, a FROM {p}_e2
      UNION
      SELECT {p}_e2.a, {p}_reach.r FROM {p}_e2
      JOIN {p}_reach ON {p}_reach.node = {p}_e2.b
    ), {p}_comp AS (
      SELECT node, min(r) AS component FROM {p}_reach GROUP BY node
    ), {p}_cents AS (
      SELECT j AS cluster, cv AS embedding FROM {p}w_cent
    ), {p}_csim AS MATERIALIZED (
      SELECT eb.id, {IVF_COS_SQL.format(a='eb', b='c')} AS csim
      FROM {p}_eb eb JOIN {p}_cents c ON c.cluster = eb.cluster
    ), {p}_m AS MATERIALIZED (
      SELECT eb.id, eb.cluster, coalesce(cp.component, eb.id) AS component
      FROM {p}_eb eb LEFT JOIN {p}_comp cp ON cp.node = eb.id
    ), {p}_kp AS (
      SELECT component, id AS keeper FROM (
        SELECT m.id, m.component,
               row_number() OVER (PARTITION BY m.component
                                  ORDER BY c.csim ASC, m.id ASC) AS rn
        FROM {p}_m m JOIN {p}_csim c ON c.id = m.id
      ) WHERE rn = 1
    ), {p}_lab AS (
      SELECT m.id, m.cluster, m.component, c.csim,
             (m.id = kp.keeper) AS keep
      FROM {p}_m m JOIN {p}_csim c ON c.id = m.id
      JOIN {p}_kp kp ON kp.component = m.component
    )"""


def logreg_cte_sql(
    src: str,
    id_expr: str,
    text_expr: str,
    label_sql: str,
    num_features: int,
    n_steps: int,
    lr_num: int = 1,
    lr_den: int = 2,
    scale: int = 1_000_000,
    prefix: str = "lr",
) -> str:
    """DuckDB CTE chain replaying `corpus.logreg_gd_train` exactly:
    hash60 bucket counts, integer ``1/scale``-unit weights (init 0,
    intercept rides as bucket −1 with count 1 per doc), per-step exact
    integer logit → sigmoid → residual re-quantized to an integer at
    1e-6 (the per-step resync that stops libm-exp ulp drift), exact
    integer gradient, and the weight update via exact integer floor
    division ``(s − ((s % n) + n) % n) // n`` with HUGEINT sums.

    ``label_sql`` is a SQL expression over ``{src}``'s columns yielding
    the 0/1 teacher label. Emits CTEs named ``{prefix}_*``; the final
    weight table is ``{prefix}_w{n_steps} (b, wq)`` and
    ``{prefix}_model (feature, weight)`` is the divided-back output
    shape. Every re-referenced CTE is MATERIALIZED (plain CTEs inline
    and replay the whole chain exponentially).
    """
    p = prefix
    parts = [
        f"""
    {p}_cnt AS MATERIALIZED (
      SELECT id, b, count(*)::BIGINT AS c FROM (
        SELECT {id_expr} AS id,
               ('0x' || substr(md5(tok), 1, 15))::BIGINT % {num_features}
                 AS b
        FROM (SELECT {id_expr},
                     unnest(string_split_regex(trim({text_expr}), '\\s+'))
                       AS tok
              FROM {src})
      ) GROUP BY id, b
    ), {p}_lab AS MATERIALIZED (
      SELECT {id_expr} AS id, CAST({label_sql} AS BIGINT) AS y FROM {src}
    ), {p}_n AS (SELECT count(*)::BIGINT AS n FROM {p}_lab),
    {p}_feat AS MATERIALIZED (
      SELECT l.id, l.y, c.b, c.c
      FROM {p}_lab l JOIN {p}_cnt c ON c.id = l.id
      UNION ALL
      SELECT id, y, -1, 1::BIGINT FROM {p}_lab
    ), {p}_w0 AS (
      SELECT f::INT AS b, 0::BIGINT AS wq
      FROM (SELECT unnest(range(-1, {num_features})) AS f)
    )"""
    ]
    for r in range(1, n_steps + 1):
        parts.append(
            f""", {p}_rq{r} AS MATERIALIZED (
      SELECT id, CAST(round((1.0 / (1.0 + exp(-(zq::DOUBLE / {scale}.0)))
                             - y::DOUBLE) * {scale}.0) AS BIGINT) AS rq
      FROM (
        SELECT f.id, any_value(f.y) AS y, sum(w.wq * f.c) AS zq
        FROM {p}_feat f JOIN {p}_w{r - 1} w ON w.b = f.b
        GROUP BY f.id
      )
    ), {p}_w{r} AS MATERIALIZED (
      SELECT w.b,
             w.wq - CAST((s - ((s % dn) + dn) % dn) // dn AS BIGINT) AS wq
      FROM {p}_w{r - 1} w LEFT JOIN (
        SELECT f.b, {lr_num} * sum(r.rq * f.c) AS g
        FROM {p}_feat f JOIN {p}_rq{r} r ON r.id = f.id
        GROUP BY f.b
      ) gr ON gr.b = w.b,
      LATERAL (SELECT coalesce(gr.g, 0)::HUGEINT AS s,
                      ({lr_den} * (SELECT n FROM {p}_n))::HUGEINT AS dn) t
    )"""
        )
    parts.append(
        f""", {p}_model AS (
      SELECT b AS feature, wq::DOUBLE / {scale}.0 AS weight
      FROM {p}_w{n_steps}
    )"""
    )
    return "".join(parts)


_LANG_COUNTS_SQL = {
    lang: (
        r"len(list_filter(string_split_regex(trim(text), '\s+'), "
        f"t -> lower(t) IN ({', '.join(repr(s) for s in stops)})))"
    )
    for lang, stops in _T._STOPWORDS.items()
}

# batch-1 shared oracle (language_id and its downstream eval queries);
# lives here so registry_eval / registry_similarity can import it
# without re-entering the registry import chain (the circular-import
# trap this module exists to break)
LANG_ORACLE = f"""
    WITH c AS (
      SELECT doc_id,
        {_LANG_COUNTS_SQL['en']} AS c_en,
        {_LANG_COUNTS_SQL['es']} AS c_es,
        {_LANG_COUNTS_SQL['fr']} AS c_fr,
        {_LANG_COUNTS_SQL['de']} AS c_de
      FROM documents
    )
    SELECT doc_id,
      CASE WHEN greatest(c_en, c_es, c_fr, c_de) = 0 THEN 'und'
           WHEN c_en = greatest(c_en, c_es, c_fr, c_de) THEN 'en'
           WHEN c_es = greatest(c_en, c_es, c_fr, c_de) THEN 'es'
           WHEN c_fr = greatest(c_en, c_es, c_fr, c_de) THEN 'fr'
           ELSE 'de' END AS lang_guess
    FROM c
"""


def minhash_oracle(num_hashes: int = 16, shingle_n: int = 3) -> str:
    perms = ", ".join(
        f"coalesce(list_min(list_transform(hs, h -> ({a} * h + {b}) % {D.MINHASH_P})), {D.MINHASH_P})"
        for a, b in zip(D.MINHASH_A[:num_hashes], D.MINHASH_B[:num_hashes])
    )
    return rf"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
    ), sh AS (
      SELECT doc_id,
        list_distinct(list_transform(
          range(1, greatest(len(w) - {shingle_n - 1}, 0) + 1),
          i -> array_to_string(w[i:i+{shingle_n - 1}], ' '))) AS grams
      FROM toks
    ), hashed AS (
      SELECT doc_id,
        list_transform(grams, g -> ('0x' || substr(md5(g), 1, 8))::BIGINT) AS hs
      FROM sh
    )
    SELECT doc_id, [{perms}] AS minhash FROM hashed
    """


NEAR_DEDUP_RESOLVE_ORACLE = r"""
    WITH RECURSIVE sh AS (
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
      HAVING shared / (na + nb - shared) >= 0.2
    ), e AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), reach(node, r) AS (
      SELECT a, a FROM e
      UNION
      SELECT e.a, reach.r FROM e JOIN reach ON reach.node = e.b
    ), comp AS (
      SELECT node, min(r) AS component FROM reach GROUP BY node
    )
    SELECT d.doc_id,
           coalesce(comp.component, d.doc_id) AS component,
           CASE WHEN comp.component IS NULL OR comp.component = d.doc_id
                THEN 1 ELSE 0 END AS is_representative
    FROM documents d LEFT JOIN comp ON d.doc_id = comp.node
    """
