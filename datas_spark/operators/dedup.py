"""Deduplication operators — north-star extensions (SURVEY §2.9).

The reference has only an *intent* toward similarity structure (the
commented-out FAISS index at ``/root/reference/src/utils/get_info.py:
142-146``); a real 100 TB SFT-data pipeline needs dedup as a first-class
operator family. All variants here are shuffle-conscious:

- exact:   group/join on a 64-bit hash of normalized text — the
           shuffle key is 8 bytes, never the document body.
- MinHash: shingle → k permuted min-hashes → band buckets → join on
           (band, bucket_hash). Candidate generation is an equi-join on
           a tiny key, O(n·bands) shuffle rows — never a cross join.
- SimHash: 32-bit bit-majority signature; near-dups share signature or
           differ in few bits.
- n-gram Jaccard: explode shingles → inverted index (one groupBy on
           the shingle hash) → upper triangle of each posting list
           fanned map-side by two codegen'd generators (each member,
           then the members after it) → count per pair / union —
           exact, but pair cardinality bounded by shared-shingle
           blocking (plus a frequency cap to kill hot-shingle skew).
           Every exact pair operator here, the hamming family
           included, shares that triangle (``_triangle``, fed by
           ``_posting_pairs``). Docs with a NULL id take no part in
           any pair operator.
- embedding cosine: blocked self-join within a blocking key.

Hash discipline: hashes whose VALUES are query output (MinHash
signatures, SimHash, doc fingerprints) are md5-derived so the DuckDB
oracle reproduces them bit-for-bit; hashes that only key an internal
group/join (dedup groups, Jaccard shingle postings) use the native
``xxhash64`` — membership is what matters, and results are identical
absent 64-bit collisions.

MinHash permutation constants are generated from a fixed seed and
exported (``MINHASH_A``/``MINHASH_B``/``MINHASH_P``) so the oracle SQL
embeds identical literals.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from datas_spark.functions.text import (
    hashed_shingles_of_hashes,
    hash32,
    hash60,
    normalized_text,
    shingles_of_tokens,
    word_tokens,
)

__all__ = [
    "semdedup",
    "MINHASH_A",
    "MINHASH_B",
    "MINHASH_P",
    "minhash_band_plan",
    "exact_dedup",
    "minhash_signature",
    "minhash_lsh_pairs",
    "minhash_lsh_plan",
    "simhash",
    "ngram_jaccard_pairs",
    "prefix_filter_jaccard_pairs",
    "duplicate_ngram_coverage",
    "embedding_near_dup_pairs",
    "embedding_near_dup_pairs_vectorized",
    "lsh_blocked_near_dup_pairs",
    "connected_components",
    "near_dedup_keep_first",
    "near_dedup_keep_best",
    "paragraph_dedup",
    "pagerank",
    "simhash_near_dup_pairs",
    "hamming_near_dup_pairs",
    "k_core",
    "k_core_blocked",
    "merge_components",
    "purge_components",
    "long_gram_overlap_spans",
    "cut_overlap_spans",
    "elect_span_owners",
    "cut_overlap_spans_elected",
    "winnowing_fingerprints",
    "winnowing_near_dup_pairs",
    "adamic_adar_link_prediction",
    "label_propagation",
]

# Fixed-seed permutation constants, shared verbatim with the oracle SQL.
# A_i odd and < 2^30 so A*h (h < 2^32) stays below 2^62 — no int64 overflow
# in either engine. P = 2^31 - 1 (Mersenne prime).
MINHASH_P = 2147483647
_rng = random.Random(42)
MINHASH_A = [(_rng.randrange(1, 1 << 30) | 1) for _ in range(16)]
MINHASH_B = [_rng.randrange(0, MINHASH_P) for _ in range(16)]


def exact_dedup(df: DataFrame, text_col: str, order_col: str) -> DataFrame:
    """Exact dedup on normalized-text fingerprint, keeping the first row
    per group in ``order_col`` order (deterministic survivor).

    ``min_by(struct(*), order)`` instead of a row_number window: the
    aggregate combines map-side, so the shuffle carries one candidate
    survivor per (fingerprint, map partition) — a window would shuffle
    and sort EVERY row. Survivor is deterministic because ``order_col``
    is unique per row.
    """
    cols = df.columns
    # INTERNAL group key → native xxhash64 (fast, never leaves the
    # plan); survivors depend only on group membership, so the md5
    # oracle groups identically. `fingerprint` stays md5 where the hash
    # VALUE is query output (doc_fingerprint).
    surv = (
        df.withColumn("__fp", F.xxhash64(normalized_text(text_col)))
        .groupBy("__fp")
        .agg(F.min_by(F.struct(*cols), F.col(order_col)).alias("__row"))
    )
    return surv.select(*[F.col(f"__row.{c}").alias(c) for c in cols])


def _perm(h: Column, i: int) -> Column:
    return (F.lit(MINHASH_A[i]) * h + F.lit(MINHASH_B[i])) % F.lit(MINHASH_P)


def minhash_signature(
    df: DataFrame, text_col: str, num_hashes: int = 16, shingle_n: int = 3
) -> DataFrame:
    """Append ``minhash`` (array<bigint>, len ``num_hashes``): for each
    permutation i, min over word-``shingle_n``-gram shingles of
    ``(A_i * hash32(shingle) + B_i) mod P``.

    Empty shingle sets (docs shorter than n words) get P as a sentinel
    (max possible value + 1 — never collides with a real min).
    One pass, no shuffle; signature is 128 bytes/doc at k=16.
    """
    if num_hashes > len(MINHASH_A):
        raise ValueError(f"num_hashes must be <= {len(MINHASH_A)}")
    # materialize tokens, then shingle hashes, ONCE: HOF lambdas
    # re-evaluate unbound subtrees per element, and the 16 permutation
    # transforms must fold over a bound column, not a shingle subtree
    hashed = (
        df.withColumn("__mh_toks", word_tokens(text_col))
        .withColumn(
            "__mh_base",
            F.transform(
                shingles_of_tokens(F.col("__mh_toks"), shingle_n),
                lambda s: hash32(s),
            ),
        )
        .drop("__mh_toks")
    )
    base = F.col("__mh_base")

    # single-parameter lambda factory: PySpark HOFs pass a Column for
    # every named lambda parameter, so `lambda h, i=i:` would break
    def _perm_fn(i: int):
        return lambda h: _perm(h, i)

    sig = F.array(
        *[
            F.coalesce(
                F.array_min(F.transform(base, _perm_fn(i))),
                F.lit(MINHASH_P),
            )
            for i in range(num_hashes)
        ]
    )
    return hashed.withColumn("minhash", sig).drop("__mh_base")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    min_est_jaccard: float = 0.0,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH over MinHash signatures.

    signature split into ``bands`` bands of ``num_hashes/bands`` rows;
    docs sharing any band land in the same bucket → equi-join on
    (band, bucket) — shuffle rows = n·bands, never O(n²). Pair-level
    estimated Jaccard = fraction of equal signature components; filter
    by ``min_est_jaccard``.

    Docs with an EMPTY shingle set (shorter than ``shingle_n`` words)
    are excluded from banding: their all-sentinel signature would land
    every short doc in one shared bucket — O(n_short²) pairs of
    unrelated docs, all with est_jaccard 1.0. MinHash says nothing
    about empty sets; route short docs through exact_dedup instead.
    ``max_bucket_size`` additionally drops buckets holding more than
    that many docs (skew cap for adversarial corpora where many
    NON-empty docs collide — e.g. boilerplate-dominated shards; each
    dropped bucket suppresses pairs, the usual LSH recall trade).

    Returns (id_a, id_b, est_jaccard) with id_a < id_b, deduped across
    bands.
    """
    rows = num_hashes // bands
    sigd = minhash_signature(df, text_col, num_hashes, shingle_n).select(
        F.col(id_col).alias("__id"), "minhash"
    )
    # empty-shingle exclusion rides INSIDE the generator (when() → null
    # → explode_outer emits one null row, filtered on the OUTPUT): a
    # where() on minhash[0] above this projection would be alias-
    # substituted below it, re-inlining the tokenize+shingle+perm tree
    # into the pushed filter (the round-1 HOF-pushdown landmine).
    # A non-empty shingle set makes every permutation min < P.
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                # bucket key: hash of the band's slice (join key stays 16 bytes)
                F.md5(
                    F.concat_ws(
                        ",", *[F.col("minhash")[b * rows + j] for j in range(rows)]
                    )
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    banded = (
        sigd.select(
            "__id",
            "minhash",
            F.explode_outer(
                F.when(F.col("minhash")[0] < MINHASH_P, band_structs)
            ).alias("bb"),
        )
        .where(F.col("bb").isNotNull())
        .select("__id", "minhash", "bb.band", "bb.bucket")
    )
    if max_bucket_size is not None:
        ok_buckets = (
            banded.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("__bc"))
            .where(F.col("__bc") <= max_bucket_size)
            .select("band", "bucket")
        )
        banded = banded.join(ok_buckets, ["band", "bucket"], "left_semi")
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .select(
            F.col("l.__id").alias("id_a"),
            F.col("r.__id").alias("id_b"),
            F.col("l.minhash").alias("__ma"),
            F.col("r.minhash").alias("__mb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    est = F.size(
        F.filter(
            F.zip_with("__ma", "__mb", lambda a, b: (a == b).cast("int")),
            lambda x: x == 1,
        )
    ) / F.lit(float(num_hashes))
    return (
        pairs.withColumn("est_jaccard", est)
        .where(F.col("est_jaccard") >= min_est_jaccard)
        .select("id_a", "id_b", "est_jaccard")
    )


def _lsh_plan_theory(
    num_hashes: int, target_threshold: float, grid: int
) -> list[tuple]:
    """Driver-side analytic rows of `minhash_lsh_plan` — model-bounded
    (one row per divisor of ``num_hashes``). Every float is produced
    by LEFT-FOLD multiplications and ascending-order sums so the SQL
    twin (identical op order) reproduces it bit-for-bit; the only libm
    call (the ``(1/b)^(1/r)`` threshold estimate) rounds to 6.
    """

    def powi(x: float, n: int) -> float:
        acc = 1.0
        for _ in range(n):
            acc = acc * x
        return acc

    def r6(x: float) -> float:
        return math.floor(x * 1e6 + 0.5) / 1e6  # half-away, positive args

    rows = []
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        r = num_hashes // b
        p_curve = lambda s: 1.0 - powi(1.0 - powi(s, r), b)
        fp = 0.0
        fn = 0.0
        for i in range(1, grid):
            s = i / grid  # grid a power of two -> s exact dyadic
            p = p_curve(s)
            if s < target_threshold:
                fp = fp + p
            else:
                fn = fn + (1.0 - p)
        fp, fn = fp / grid, fn / grid
        rows.append(
            (
                b,
                r,
                r6(math.pow(1.0 / b, 1.0 / r)),
                r6(p_curve(target_threshold)),
                r6(fp),
                r6(fn),
                r6(fp + fn),
            )
        )
    return rows


def minhash_lsh_plan(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    shingle_n: int = 3,
    target_threshold: float = 0.7,
    grid: int = 64,
) -> DataFrame:
    """LSH index-design planner: for EVERY (bands, rows) factorization
    of the ``num_hashes`` MinHash signature, the analytic Broder
    S-curve operating point — collision probability at the target
    Jaccard threshold, the ``(1/b)^{1/r}`` threshold estimate, and the
    false-positive / false-negative areas of ``1-(1-s^r)^b`` against a
    uniform s-grid — PLUS the MEASURED candidate-pair volume that
    banding would generate on THIS corpus. 'Measure, don't guess'
    applied to the (bands, rows) knob every LSH query hard-codes: at
    100 TB the difference between (4,4) and (8,2) is billions of
    candidate pairs, and this one query prices it before an index
    build.

    Measurement shape: ONE signature pass; each plan's banding
    explodes to (plan, band, bucket-md5) keys — Σ_b b rows per doc
    (31 for k=16) — then one combinable count per bucket and an exact
    ``Σ n(n−1)/2`` per plan. Docs with empty shingle sets are excluded
    exactly as `minhash_lsh_pairs` excludes them. The analytic columns
    are a divisor-count-bounded driver table (left-fold powers /
    ascending sums — the cross-engine float discipline), joined
    broadcast onto the measured counts.

    Returns ``(bands, rows_per_band, est_threshold, p_at_target,
    fp_area, fn_area, total_err, cand_pairs, is_recommended)`` —
    recommended = smallest ``total_err`` (ties → fewer bands).
    """
    if num_hashes > len(MINHASH_A):
        raise ValueError(f"num_hashes must be <= {len(MINHASH_A)}")
    if not 0.0 < target_threshold < 1.0:
        raise ValueError(
            f"target_threshold must be in (0, 1), got {target_threshold}"
        )
    if grid < 2 or (grid & (grid - 1)):
        raise ValueError(f"grid must be a power of two >= 2, got {grid}")
    theory = df.sparkSession.createDataFrame(
        _lsh_plan_theory(num_hashes, target_threshold, grid),
        "bands int, rows_per_band int, est_threshold double, "
        "p_at_target double, fp_area double, fn_area double, "
        "total_err double",
    )
    sigd = minhash_signature(df, text_col, num_hashes, shingle_n).select(
        F.col(id_col).alias("__id"), "minhash"
    )
    plans = [b for b in range(1, num_hashes + 1) if num_hashes % b == 0]
    keys = F.array(
        *[
            F.struct(
                F.lit(b).alias("bands"),
                F.lit(band).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col("minhash")[band * (num_hashes // b) + j]
                            for j in range(num_hashes // b)
                        ],
                    )
                ).alias("bucket"),
            )
            for b in plans
            for band in range(b)
        ]
    )
    # empty-shingle exclusion inside the generator (the
    # minhash_lsh_pairs pushdown discipline)
    gated = F.when(F.col("minhash")[0] < F.lit(MINHASH_P), keys)
    counted = (
        sigd.select(F.explode_outer(gated).alias("__k"))
        .where(F.col("__k").isNotNull())
        .groupBy(
            F.col("__k")["bands"].alias("bands"),
            F.col("__k")["band"].alias("__band"),
            F.col("__k")["bucket"].alias("__bucket"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("__n"))
        .groupBy("bands")
        .agg(
            F.sum(F.expr("(__n * (__n - 1)) div 2"))
            .cast("long")
            .alias("cand_pairs")
        )
    )
    w = Window.orderBy(F.col("total_err").asc(), F.col("bands").asc())
    return (
        theory.join(counted, "bands", "left")
        .withColumn(
            "cand_pairs", F.coalesce("cand_pairs", F.lit(0).cast("long"))
        )
        .withColumn("is_recommended", F.row_number().over(w) == 1)
    )


def simhash(df: DataFrame, text_col: str, bits: int = 32) -> DataFrame:
    """Append ``simhash``: bit-majority signature over token hashes.

    bit b of the signature is 1 iff, across tokens, bit b is set in more
    token-hashes than not. Single map-side pass (token hashes computed
    once, folded per bit position).

    ``bits`` up to 60 — wider signatures (the scale config for banded
    near-dup: more bits per band = exponentially more buckets) switch
    to a 60-bit token hash; a 32-bit token hash would leave every bit
    past 31 permanently unset and the extra bands degenerate.
    (60, not 64: the md5-prefix hash must round-trip through signed
    int64 on every engine the oracle runs on.)
    """
    if not 1 <= bits <= 60:
        raise ValueError(f"bits must be in [1, 60], got {bits}")
    token_hash = hash32 if bits <= 32 else hash60
    # Round-12 vote fold (guide §1.2 per-task work — HOF lambdas run
    # INTERPRETED, so per-element op count is the whole cost): the old
    # `bits`-wide ±1 vote accumulator paid ~2·bits interpreted ops plus
    # two bits-wide array allocations PER TOKEN (~10 s of the sf1
    # near-dup query). This fold packs the per-bit counters into 4-bit
    # NIBBLE LANES spread across 4 longs (lane k of group g counts hash
    # bit 4k+g, extracted by one shift+mask per group): per token it is
    # 4 shift-mask-adds into a 4-long array, and every 15-token chunk
    # (nibble capacity; no lane can overflow) unpacks once into the
    # exact per-bit counts. ~8x fewer interpreted ops and ~30x less
    # allocation, measured 16.1 -> 5.1 s on the sf1 signature pass with
    # BIT-IDENTICAL output: counts are exact integers, and
    # ``bit b set iff 2*cnt_b >= n_tokens`` is algebraically the old
    # ``votes_b = 2*cnt_b - n >= 0`` (ties -> 1 preserved). Null text
    # still folds to signature 0 through the same coalesce; an empty
    # token array still sets every bit (cnt 0, n 0), as before.
    CH = 15  # tokens per chunk — 4-bit lanes count to 15, never overflow
    nz = F.lit(0).cast("long")
    lanes_of = [len(range(g, bits, 4)) for g in range(4)]
    spread_masks = [
        sum(1 << (4 * k) for k in range(lanes_of[g])) for g in range(4)
    ]
    hs = F.col("__st_hashes")
    n = F.size(hs)

    def packfold(ch):
        return F.aggregate(
            ch,
            F.array(*[nz] * 4),
            lambda p, h: F.array(
                *[
                    F.element_at(p, g + 1)
                    + F.shiftright(h, g).bitwiseAND(
                        F.lit(spread_masks[g]).cast("long")
                    )
                    for g in range(4)
                ]
            ),
        )

    nchunks = F.ceil(n / F.lit(CH)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(1), nchunks),
        lambda c: F.slice(hs, (c - 1) * CH + 1, CH),
    )
    cnts = F.aggregate(
        F.transform(chunks, packfold),
        F.array(*[nz] * bits),
        lambda acc, p: F.array(
            *[
                F.element_at(acc, b + 1)
                + F.shiftright(
                    F.element_at(p, b % 4 + 1), (b // 4) * 4
                ).bitwiseAND(F.lit(15).cast("long"))
                for b in range(bits)
            ]
        ),
    )
    masks = F.array(*[F.lit(1 << b).cast("long") for b in range(bits)])
    sig = F.coalesce(
        F.aggregate(
            F.zip_with(
                F.col("__cnts"),
                masks,
                lambda c, m: F.when(c * 2 >= n.cast("long"), m).otherwise(nz),
            ),
            nz,
            lambda acc, x: acc + x,
        ),
        nz,
    )
    return (
        df.withColumn(
            "__st_hashes", F.transform(word_tokens(text_col), lambda t: token_hash(t))
        )
        .withColumn("__cnts", cnts)
        .withColumn("simhash", sig)
        .drop("__st_hashes", "__cnts")
    )


def _shingle_frame(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """``(__id, __sh)``: each doc's distinct word n-gram shingles as
    64-bit hashes. Each token is hashed once and every gram position
    combines n token hashes with one xxhash64 over longs — no gram
    string is ever built, and the shingle key shuffles as an 8-byte
    long. The hash is INTERNAL (set membership only), so it needs no
    DuckDB twin; collision odds ~d²/2⁶⁵ are negligible at any corpus
    size. One projection per select: each array is projected before the
    next HOF consumes it (lambda subtrees re-evaluate per element — see
    the ``hashed_shingles_of_hashes`` PERF note)."""
    return (
        df.select(F.col(id_col).alias("__id"), word_tokens(text_col).alias("__toks"))
        .select("__id", F.transform("__toks", lambda t: F.xxhash64(t)).alias("__th"))
        .select("__id", hashed_shingles_of_hashes(F.col("__th"), n).alias("__sh"))
    )


def _triangle(posts: DataFrame, emit, keep=None, carry=()) -> DataFrame:
    """Every pair of each sorted posting list ``__docs`` in ``posts`` as
    one ``__p`` = ``emit(x, y)`` row, x before y in the list, with the
    ``carry`` columns alongside; ``keep(x, y)`` prunes a pair before it
    is built. ``x`` and ``y`` are bound columns of two generators:
    ``posexplode`` yields each member with its position, then
    ``explode_outer`` of the slice after it yields its partners. Both
    generators, ``keep`` and ``emit`` compile into one map-side codegen
    stage, so only emitted pairs reach a shuffle and no list's pair set
    is ever built as one array.

    explode_outer + isNotNull on the partner slice: plain explode
    triggers InferFiltersFromGenerate, which clones the slice into a
    pushed-down per-row filter. A NULL partner only ever comes from the
    empty slice of a list's last member (collect_list drops NULLs)."""
    firsts = posts.select(*carry, "__docs", F.posexplode("__docs").alias("__i", "__x"))
    rest = F.slice("__docs", F.col("__i") + 2, F.size("__docs") - F.col("__i") - 1)
    pairs = firsts.select(*carry, "__x", F.explode_outer(rest).alias("__y")).where(
        F.col("__y").isNotNull()
    )
    x, y = F.col("__x"), F.col("__y")
    if keep is not None:
        pairs = pairs.where(keep(x, y))
    return pairs.select(*carry, emit(x, y).alias("__p"))


def _posting_pairs(
    exploded: DataFrame, key: str, member, max_df: int | None, emit, keep=None
) -> DataFrame:
    """The inverted-index pair fan: ONE shuffle groups ``exploded`` on
    ``key`` into sorted posting lists of ``member``, lists with fewer
    than 2 members (or more than ``max_df``, the hot-key skew cap, when
    set) are dropped, and ``_triangle`` fans each list into one ``__p``
    row per ``emit(x, y)`` pair — no self-join (a sort-merge self-join
    on hot keys re-shuffles the full posting set twice and explodes
    inside the join instead of here)."""
    posts = exploded.groupBy(key).agg(
        F.array_sort(F.collect_list(member)).alias("__docs")
    )
    posts = posts.where(F.size("__docs") >= 2)
    if max_df is not None:
        posts = posts.where(F.size("__docs") <= max_df)
    return _triangle(posts, emit, keep)


def _shingle_overlap(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_shingle_freq: int | None,
    keep=None,
) -> DataFrame:
    """``(id_a, id_b, __shared, __na, __nb)`` for every doc pair sharing
    at least one n-gram shingle (id_a < id_b): shared shingle count and
    both shingle-set sizes — the core both the Jaccard and containment
    scores are computed from. ``keep(x, y)`` prunes pairs of
    ``(__id, __n)`` structs before they are emitted.

    Docs with a NULL id take no part: they cannot be a pair endpoint,
    and several of them would share one pair key and sum their shared
    counts into a score above 1."""
    sh = _shingle_frame(
        df.where(F.col(id_col).isNotNull()), id_col, text_col, n
    ).withColumn("__n", F.size("__sh"))
    exploded = sh.select("__id", "__n", F.explode_outer("__sh").alias("__s")).where(
        F.col("__s").isNotNull()
    )
    pairs = _posting_pairs(
        exploded,
        "__s",
        F.struct("__id", "__n"),
        max_shingle_freq,
        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
        keep,
    )
    # group on ONE packed 64-bit pair key, not (id_a, id_b, na, nb):
    # the shuffle compares 8-byte longs instead of two id strings; ids
    # and sizes ride along as any_value (functionally dependent on the
    # pair). Collision odds over pair count are the same negligible
    # d²/2⁶⁵ already accepted for shingle hashes.
    return pairs.groupBy(F.xxhash64("__p.a.__id", "__p.b.__id").alias("__k")).agg(
        F.count(F.lit(1)).alias("__shared"),
        F.any_value("__p.a.__id").alias("id_a"),
        F.any_value("__p.b.__id").alias("id_b"),
        F.any_value("__p.a.__n").alias("__na"),
        F.any_value("__p.b.__n").alias("__nb"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via a shingle inverted index.

    Hashed shingles → one groupBy on the shingle key → the upper
    triangle of each posting list generated map-side → count shared
    per pair; |union| = |A|+|B|−shared. Only pairs sharing ≥1 shingle
    are ever materialized. ``max_shingle_freq`` drops shingles
    appearing in more than that many docs (hot-shingle skew cap: a
    stop-shingle in 10⁶ docs would otherwise emit 10¹² pairs).

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    """
    # length filter (exact, from the set-similarity-join literature):
    # J(A,B) >= t forces t*max(|A|,|B|) <= min(|A|,|B|) — prune in the
    # triangle's map-side filter, BEFORE the pair ever hits the shuffle. Prunes
    # quadratically on corpora with varied doc lengths.
    shared = _shingle_overlap(
        df,
        id_col,
        text_col,
        n,
        max_shingle_freq,
        keep=lambda x, y: F.least(x["__n"], y["__n"])
        >= threshold * F.greatest(x["__n"], y["__n"]),
    )
    jac = F.col("__shared") / (F.col("__na") + F.col("__nb") - F.col("__shared"))
    return (
        shared.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """Exact n-gram CONTAINMENT pairs: C = |A∩B| / min(|A|, |B|) —
    the asymmetric dup detector Jaccard misses. A short doc quoted
    wholesale inside a long one has tiny Jaccard (the union is huge)
    but containment ≈ 1; this is how excerpt/expansion duplication and
    quote-level contamination are caught in corpus curation.

    Same scale machinery as `ngram_jaccard_pairs` (hashed shingles,
    inverted index, map-side upper-triangle pair generation, hot-
    shingle cap) MINUS its length filter: Jaccard's
    ``t·max <= min`` prune exists to discard skewed-size pairs, and
    skewed-size pairs are exactly what containment exists to find, so
    no size-based prune is sound here. ``max_shingle_freq`` remains
    the skew bound.

    Returns (id_a, id_b, containment) with id_a < id_b,
    containment >= threshold.
    """
    shared = _shingle_overlap(df, id_col, text_col, n, max_shingle_freq)
    cont = F.col("__shared") / F.least("__na", "__nb")
    return (
        shared.withColumn("containment", cont)
        .where(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str | None = None,
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-dup pairs within a blocking key.

    ``block_col`` bounds the join (e.g. a cluster label or LSH bucket);
    without it this is a cross join — refuse at scale, allow for tests.
    Returns (id_a, id_b, cos) with id_a < id_b, cos >= threshold.
    """
    from datas_spark.functions.arrays import cosine_similarity

    sel = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        *( [F.col(block_col).alias("__blk")] if block_col else [] ),
    )
    a, b = sel.alias("a"), sel.alias("b")
    cond = F.col("a.__id") < F.col("b.__id")
    if block_col:
        cond = cond & (F.col("a.__blk") == F.col("b.__blk"))
    pairs = a.join(b, cond).select(
        F.col("a.__id").alias("id_a"),
        F.col("b.__id").alias("id_b"),
        cosine_similarity(F.col("a.__v"), F.col("b.__v")).alias("cos"),
    )
    return pairs.where(F.col("cos") >= threshold)


def embedding_near_dup_pairs_vectorized(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float = 0.95,
    max_block_rows: int = 100_000,
    block_out: str | None = None,
) -> DataFrame:
    """Arrow-vectorized twin of ``embedding_near_dup_pairs``: one numpy
    matmul per block instead of a per-pair ``zip_with`` fold — the wide-
    embedding (e.g. 4096-dim) path, same semantics at the oracle
    boundary (``cos`` is rounded half-away-from-zero to 6 decimals and
    the threshold compares the ROUNDED value, matching the registry's
    round-then-filter oracle).

    ``block_col`` is REQUIRED here: blocks ship to workers whole via
    ``applyInPandas`` (one shuffle on the block key), and the m×m
    similarity matrix is materialized per block — O(m²) floats. The
    scale contract is that blocks are bounded (an LSH bucket or cluster
    label, like the Jaccard path's posting-list cap); ``max_block_rows``
    enforces it, raising rather than silently OOMing an executor.
    Zero-norm vectors (undefined cosine) emit no pairs, exactly as the
    expression path's NULL cos never passes its threshold filter.

    Returns (id_a, id_b, cos) with id_a < id_b within each block;
    ``block_out`` (round 12) additionally carries the block key on
    every pair — free here (the pairs are generated block-grouped),
    and it is what lets downstream block-disjoint graph operators
    (``k_core_blocked``) run without a re-derivation join.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import DoubleType, StructField, StructType

    id_type = df.schema[id_col].dataType
    fields = [
        StructField("id_a", id_type),
        StructField("id_b", id_type),
        StructField("cos", DoubleType()),
    ]
    if block_out is not None:
        fields.append(StructField(block_out, df.schema[block_col].dataType))
    out_schema = StructType(fields)
    empty = {f.name: [] for f in fields}

    def _round6(a):
        # half-away-from-zero, matching F.round / DuckDB (np.round is
        # half-to-even) — keeps this path bit-identical to the
        # expression twin at the rounded oracle boundary
        return np.sign(a) * np.floor(np.abs(a) * 1e6 + 0.5) / 1e6

    def _block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > max_block_rows:
            raise ValueError(
                f"near-dup block exceeds max_block_rows={max_block_rows} "
                f"({len(pdf)} rows): tighten the blocking key (LSH bucket "
                "/ cluster) or raise the cap if executor memory allows"
            )
        if len(pdf) < 2:
            return pd.DataFrame(empty)
        dm = np.vstack(pdf["__v"].to_numpy()).astype(np.float64)
        ids = pdf["__id"].to_numpy()
        order = np.argsort(ids, kind="stable")  # upper triangle ⇒ id_a < id_b
        ids, dm = ids[order], dm[order]
        norms = np.linalg.norm(dm, axis=1, keepdims=True)
        nz = norms[:, 0] != 0.0
        ids, dm = ids[nz], dm[nz] / norms[nz]
        if len(ids) < 2:
            return pd.DataFrame(empty)
        sims = _round6(dm @ dm.T)
        ia, ib = np.triu_indices(len(ids), k=1)
        keep = sims[ia, ib] >= threshold
        out = {"id_a": ids[ia[keep]], "id_b": ids[ib[keep]], "cos": sims[ia, ib][keep]}
        if block_out is not None:
            out[block_out] = np.repeat(pdf["__blk"].iloc[0], int(keep.sum()))
        return pd.DataFrame(out)

    sel = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        F.col(block_col).alias("__blk"),
    )
    return sel.groupBy("__blk").applyInPandas(_block_pairs, out_schema)


def lsh_blocked_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 42,
    dim: int | None = None,
    max_block_rows: int = 100_000,
) -> DataFrame:
    """THE scale default for embedding near-dup when no natural blocking
    key exists: block by random-hyperplane sign signature (map-only,
    deterministic), then run the Arrow-matmul pairwise cosine inside
    each bucket. Two near-identical vectors almost surely share every
    sign bit, so recall for genuine near-dups (cos → 1) stays high
    while the candidate space drops by ~2^n_planes; n_planes tunes the
    recall/cost trade the same way as in ``similarity.lsh_topk``
    (cross-bucket misses are the usual LSH trade — raise threshold
    sensitivity by lowering n_planes).

    No cross join exists anywhere: the only shuffle is the bucket-key
    ``applyInPandas`` exchange. Returns (id_a, id_b, cos).
    """
    from datas_spark.operators.similarity import (
        hyperplane_signature,
        random_hyperplanes,
    )

    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    planes = random_hyperplanes(dim, n_planes, seed)
    bucketed = hyperplane_signature(
        df.select(F.col(id_col), F.col(vec_col)), vec_col, planes
    )
    return embedding_near_dup_pairs_vectorized(
        bucketed,
        id_col,
        vec_col,
        "bucket",
        threshold=threshold,
        max_block_rows=max_block_rows,
    )


def _cc_block_local(
    pairs: DataFrame, src: str, dst: str, block_cols: list[str]
) -> DataFrame:
    """Connected components for the BLOCK-DISJOINT case: every edge's
    endpoints carry the same block key (both pair sides joined on
    ``block_cols``), so components provably cannot span blocks and the
    global iterative CC is overkill. One ``groupBy(block)`` folds each
    block's edge list into a single row, and min-label propagation runs
    to guaranteed convergence inside ONE Catalyst ``aggregate``:
    ``size(nodes) - 1`` rounds bounds every node's eccentricity, so the
    fixed unroll is exact, not a heuristic cutoff. No per-round Spark
    actions, joins, caches, or checkpoints — the whole CC is a single
    map-side expression after one exchange, and the result stays lazy
    inside the caller's plan.

    Labels are identical to ``connected_components`` (the min node id
    reachable; min() is order-insensitive, so ``collect_list``'s
    nondeterministic edge order cannot leak). Per-block cost is
    O(n·e + rounds·Σdeg); callers MUST bound the block side (semdedup's
    ``max_bucket_side`` cap) — an unbounded block (e.g. label-blocked
    pairs) belongs on the iterative operator instead.

    Returns ``(node, component)`` over nodes that appear in pairs.
    """
    es = pairs.groupBy(*[F.col(c) for c in block_cols]).agg(
        F.collect_list(
            F.struct(F.col(src).alias("a"), F.col(dst).alias("b"))
        ).alias("__es")
    )
    lab = (
        es.select(
            F.array_sort(
                F.array_distinct(
                    F.flatten(
                        F.transform(
                            F.col("__es"), lambda e: F.array(e["a"], e["b"])
                        )
                    )
                )
            ).alias("__ns"),
            "__es",
        )
        # edge endpoints -> 1-based positions in the sorted node array
        .select(
            "__ns",
            F.expr(
                "transform(__es, e -> struct("
                " int(array_position(__ns, e.a)) AS ai,"
                " int(array_position(__ns, e.b)) AS bi))"
            ).alias("__ei"),
        )
        # adjacency by position (both directions), then the fold:
        # lab[i] <- min(lab[i], lab[j] for j adjacent) per round
        .select(
            "__ns",
            F.expr(
                "transform(sequence(1, size(__ns)), i -> concat("
                " transform(filter(__ei, p -> p.ai = i), p -> p.bi),"
                " transform(filter(__ei, p -> p.bi = i), p -> p.ai)))"
            ).alias("__adj"),
        )
        # the round fold: sequence(1, n-1) is the PROVABLE worst-case
        # bound (a full-diameter chain), but each round first checks the
        # fixpoint (lab = prev, one O(n) array compare) and no-ops once
        # converged — a fixpoint of the neighbor-min step forces all
        # labels in a connected block equal to the component min (an
        # edge with unequal labels would still lower one side; labels
        # are monotone and bounded below by the min), so stopping there
        # is exact, and near-clique dup blocks pay ~2-3 heavy rounds
        # instead of n-1. The label-of-label jump term shortcuts long
        # chains to ~log n heavy rounds; it can only lower labels
        # toward the same fixpoint, never past it.
        .select(
            "__ns",
            F.expr(
                "aggregate("
                " sequence(1, greatest(size(__ns) - 1, 1)),"
                " struct(__ns AS lab, slice(__ns, 1, 0) AS prev),"
                " (acc, r) -> if(acc.lab = acc.prev, acc, named_struct("
                "  'lab', transform(__adj, (nb, i) -> least("
                "   aggregate(nb, element_at(acc.lab, i + 1),"
                "    (m, j) -> least(m, element_at(acc.lab, j))),"
                "   element_at(acc.lab,"
                "    int(array_position(__ns, element_at(acc.lab, i + 1)))))),"
                "  'prev', acc.lab)),"
                " acc -> acc.lab)"
            ).alias("__lab"),
        )
    )
    return lab.select(
        F.explode(F.arrays_zip("__ns", "__lab")).alias("__z")
    ).select(
        F.col("__z.__ns").alias("node"), F.col("__z.__lab").alias("component")
    )


# Edge-row contract of `connected_components`' driver path: a graph with
# at most this many non-NULL edge rows (duplicates counted) is collected
# once through Arrow and labelled by a union-find on the driver, which
# then holds ~2 ids per edge. On 4 local cores a random 10⁵-edge graph
# took 0.95 s this way (collect 0.14 s, labelling plus the local
# relation 0.42 s) against 20 s of min-label rounds; above the cap the
# rounds stay distributed.
CC_DRIVER_MAX_EDGES = 100_000


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
    algorithm: str = "min_label",
) -> DataFrame:
    """Connected components over near-dup pairs. Returns
    ``(node, component)`` where ``component`` is the smallest node id in
    the component — deterministic, so the DuckDB recursive-CTE oracle
    reproduces it exactly, and every path below gives the same labels.

    Edges are normalized once: an edge with a NULL endpoint is dropped,
    and a self-loop keeps its node as its own singleton. Each endpoint
    of a kept edge appears exactly once in the output; ids keep their
    input type. The normalized edge frame is checkpointed and at most
    ``CC_DRIVER_MAX_EDGES + 1`` rows of it are collected through Arrow:

    - at most ``CC_DRIVER_MAX_EDGES`` edge rows (the small-graph case;
      the sf0.1 3-gram Jaccard ≥ 0.2 graph has 256 edges): a union-find
      on the driver whose root is the minimum id labels them, and the
      labels come back as one local Arrow relation — no per-round Spark
      action at all, for either ``algorithm``.
    - above the cap, ``algorithm`` picks the distributed rounds, which
      read the same checkpoint, so the pair plan is never run twice:

      ``"min_label"`` (default): iterative min-label propagation — one
      shuffle per round (edges ⋈ labels on the node key),
      O(component diameter) rounds. Duplicate clusters are near-cliques
      (diameter ≤ ~3), so 3–5 rounds in practice.

      ``"star"``: alternating large-star / small-star (Kiveris et al.,
      "Connected Components in MapReduce and Beyond") — every round
      hooks whole subtrees to the per-neighborhood minimum, so
      convergence is O(log² n) rounds INDEPENDENT of diameter. The flag
      for adversarial graphs (long chains, giant high-diameter
      components) where min-label's diameter bound is the cliff.

      Both ``localCheckpoint`` per round so the plan does not grow with
      the iteration count (lineage blow-up is the classic
      iterative-Spark failure), and warn if ``max_iter`` rounds pass
      without convergence — labels may then be wrong (a component split
      across two labels), which matters downstream where the label
      elects dedup survivors.
    """
    if algorithm not in ("min_label", "star"):
        raise ValueError(
            f"unknown algorithm {algorithm!r}: use 'min_label' or 'star'"
        )
    # canonical child > parent orientation (u >= v); greatest/least skip
    # NULLs, so NULL endpoints are filtered out first
    edges = (
        pairs.where(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .select(F.greatest(src, dst).alias("u"), F.least(src, dst).alias("v"))
        .localCheckpoint(eager=False)
    )
    head = edges.limit(CC_DRIVER_MAX_EDGES + 1).toArrow()
    if head.num_rows <= CC_DRIVER_MAX_EDGES:
        return _cc_driver(edges, head)
    if algorithm == "min_label":
        return _cc_min_label(edges, max_iter)
    return _cc_star(edges, max_iter)


def _cc_driver(edges: DataFrame, head) -> DataFrame:
    """Union-find over the collected ``(u, v)`` Arrow table. Ids are
    ranked by Arrow's sort, which orders like Spark (numbers by value,
    strings by UTF-8 bytes), and a union links the larger root under the
    smaller, so every root is its set's minimum id. The labels go back
    as an Arrow table, which Spark plans as a ``LocalTableScan`` — no
    RDD, so no Python worker starts."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.types import StructField, StructType

    id_type = edges.schema["u"].dataType
    ends = pa.chunked_array(
        head["u"].chunks + head["v"].chunks, type=head.schema.field("u").type
    )
    nodes = pc.unique(ends)
    nodes = nodes.take(pc.sort_indices(nodes))
    rank = pc.index_in(ends, value_set=nodes).to_pylist()
    parent = list(range(len(nodes)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(rank[: head.num_rows], rank[head.num_rows :]):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    roots = pa.array([find(x) for x in range(len(parent))], pa.int64())
    labels = pa.table({"node": nodes, "component": nodes.take(roots)})
    schema = StructType(
        [StructField("node", id_type), StructField("component", id_type)]
    )
    return edges.sparkSession.createDataFrame(labels, schema=schema)


def _warn_not_converged(algorithm: str, max_iter: int) -> None:
    import warnings

    warnings.warn(
        f"connected_components({algorithm}) hit max_iter={max_iter} without "
        "converging — returned labels may split components; raise max_iter "
        "(or use algorithm='star' for high-diameter graphs)",
        RuntimeWarning,
        stacklevel=3,
    )


def _cc_min_label(edges: DataFrame, max_iter: int) -> DataFrame:
    """Min-label rounds over the canonical ``(u, v)`` edge checkpoint
    (graphs above ``CC_DRIVER_MAX_EDGES``): the symmetric edge set is
    cached once, then every node takes the minimum label of itself and
    its neighbours until no label changes."""
    e = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    rev = e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    edges = e.union(rev).distinct().cache()
    labels = edges.select(F.col("a").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    converged = False
    for _ in range(max_iter):
        prop = edges.join(labels, edges["b"] == labels["node"]).select(
            F.col("a").alias("node"), F.col("component")
        )
        # The convergence check is folded INTO the label aggregate: old
        # labels ride along tagged, min(component) elects the new label
        # and min(old component) recovers the previous one (every node
        # has exactly one old row), so one count() both materializes the
        # lazy checkpoint and answers "did anything change" — one Spark
        # action per round, the cost the driver path avoids.
        tagged = prop.withColumn("is_old", F.lit(False)).unionByName(
            labels.withColumn("is_old", F.lit(True))
        )
        new_labels = (
            tagged.groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.min(F.when(F.col("is_old"), F.col("component"))).alias(
                    "old_component"
                ),
            )
            .localCheckpoint(eager=False)
        )
        n_changed = new_labels.where(
            F.col("component") != F.col("old_component")
        ).count()
        labels = new_labels.select("node", "component")
        if n_changed == 0:
            converged = True
            break
    if not converged:
        _warn_not_converged("min_label", max_iter)
    edges.unpersist()
    return labels


def _cc_star(edges: DataFrame, max_iter: int) -> DataFrame:
    """Alternating large-star / small-star rounds over the canonical
    ``(u, v)`` edge checkpoint (graphs above ``CC_DRIVER_MAX_EDGES``).

    Neither star op ever materializes a neighbor LIST: each is a
    groupBy-min on the node key plus an equi-join of the edge list back
    to those minima — per-round shuffle is O(|edges|) rows of two ids,
    and a hot node (a boilerplate near-clique hub) is just a big
    aggregation group, combined map-side. Edges always point strictly
    downward (child > parent), monotonically approaching the star
    forest whose roots are the component minima.
    """
    # self-loops name their node here and are dropped from the rounds
    nodes = (
        edges.select(F.col("u").alias("node"))
        .union(edges.select(F.col("v").alias("node")))
        .distinct()
    )
    edges = edges.where(F.col("u") != F.col("v")).distinct().localCheckpoint(eager=True)
    converged = False
    for _ in range(max_iter):
        # large-star: group the BIDIRECTIONAL neighborhood of u; every
        # strictly-larger neighbor re-hooks to min(N(u) ∪ {u})
        bi = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        lmins = bi.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
        large = (
            bi.join(lmins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star: group by the larger endpoint; u and all its
        # smaller neighbors hook to the smallest of them
        smins = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(smins, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(smins.select("u", F.col("m").alias("v")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        converged = (
            small.exceptAll(edges).isEmpty() and edges.exceptAll(small).isEmpty()
        )
        edges = small
        if converged:
            break
    if not converged:
        _warn_not_converged("star", max_iter)
    # at convergence edges IS the star forest (child → component min);
    # roots (and self-loop singletons) label themselves
    labels = nodes.join(
        edges.select(F.col("u").alias("node"), F.col("v").alias("component")),
        "node",
        "left",
    ).select("node", F.coalesce("component", F.col("node")).alias("component"))
    return labels


def near_dedup_keep_first(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    cc_algorithm: str = "min_label",
    components: DataFrame | None = None,
) -> DataFrame:
    """Resolve near-dup pairs into keep/drop decisions: group pairs into
    connected components and elect the smallest id as the survivor
    (keep-"first" in id order — deterministic and join-free to elect,
    because the component label IS the min id).

    Appends ``component`` (own id for docs with no duplicate) and
    ``is_representative`` (1 = keep, 0 = drop). Filter on it for the
    deduplicated corpus; keep the full table for dedup audit trails.

    NULL ids (the rule ``near_dedup_keep_best`` shares): a row whose id
    is NULL can be no pair endpoint, so it has no duplicate — it keeps
    itself, with ``component`` NULL and ``is_representative`` 1.

    ``components`` injects precomputed ``(node, component)`` labels
    (e.g. the persisted ``operators.artifacts.components_artifact``) —
    the 100 TB shape where CC runs once per ingest and every consumer
    reads the parquet instead of re-iterating.
    """
    comp = (
        components
        if components is not None
        else connected_components(pairs, src, dst, algorithm=cc_algorithm)
    ).withColumnRenamed("node", id_col)
    return (
        df.join(comp, id_col, "left")
        .withColumn("component", F.coalesce("component", F.col(id_col)))
        .withColumn(
            "is_representative",
            _null_id_kept(id_col, F.col("component") == F.col(id_col)),
        )
    )


def _null_id_kept(id_col: str, elected: Column) -> Column:
    """``is_representative`` under the keep_* NULL-id rule: ``elected``
    decides every row with an id; a NULL-id row always keeps itself."""
    return F.when(F.col(id_col).isNull(), F.lit(1)).otherwise(elected.cast("int"))


def near_dedup_keep_best(
    df: DataFrame,
    id_col: str,
    score_col: str,
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    cc_algorithm: str = "min_label",
    components: DataFrame | None = None,
) -> DataFrame:
    """Score-priority survivor election (the DEITA-style selection
    intent: among near-duplicates, keep the HIGHEST-scored example, not
    the first): group pairs into connected components, then elect the
    max-``score_col`` row per component (ties break to the smallest
    id). Appends ``component`` and ``is_representative``.

    One ``min_by(id, struct(-score, id))`` aggregate per component —
    map-side combinable, no per-component sort window, so a giant
    near-dup cluster is just a big aggregation group. ``score_col``
    must be numeric (negated for the lexicographic tie-break).

    ``components`` injects precomputed ``(node, component)`` labels
    (the persisted artifact path); CC then never re-runs here.

    NULL ids follow the ``near_dedup_keep_first`` rule: each such row
    keeps itself (``component`` NULL, ``is_representative`` 1).
    """
    comp = (
        components
        if components is not None
        else connected_components(pairs, src, dst, algorithm=cc_algorithm)
    ).withColumnRenamed("node", id_col)
    labeled = (
        df.join(comp, id_col, "left")
        .withColumn("component", F.coalesce("component", F.col(id_col)))
    )
    best = labeled.groupBy("component").agg(
        F.min_by(
            F.col(id_col), F.struct((-F.col(score_col)).alias("ns"), F.col(id_col))
        ).alias("__keep_id")
    )
    # no broadcast hint on the election table: it is one row per
    # component, which is tiny for dup-heavy corpora but DATA-SCALE when
    # most docs are unique — AQE picks broadcast vs shuffle from the
    # real runtime size. Left join: a NULL-id row's NULL component
    # matches no election row.
    return (
        labeled.join(best, "component", "left")
        .withColumn(
            "is_representative",
            _null_id_kept(id_col, F.col(id_col) == F.col("__keep_id")),
        )
        .drop("__keep_id")
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    delimiter: str = r"\n+",
    min_chars: int = 1,
    join_delim: str = "\n",
) -> DataFrame:
    """Corpus-wide exact paragraph (line) dedup — the boilerplate-removal
    pass of C4/RefinedWeb-style web curation, absent from the reference
    (which scores whole rows only): split every document into segments,
    keep each distinct segment ONLY at its globally-first occurrence
    (smallest ``(id, position)``), drop later repeats, and reassemble
    the documents. Segments shorter than ``min_chars`` bypass the
    election and are always kept (dedup targets boilerplate, not
    punctuation scraps).

    Returns one row per input document: ``(id, text_dedup, n_kept,
    n_dropped)``. A document whose every segment is a repeat survives
    with ``text_dedup = ''``.

    Scale shape (the reason this is NOT a window over the segment
    text): electing first occurrences uses a ``min(struct(id, pos))``
    groupBy on ``md5(segment)`` — map-side combinable, so the
    "Subscribe to our newsletter" segment that appears in 10^9
    documents costs one combiner cell per task, never a 10^9-row
    window sort on one reducer. Three narrow shuffles total: the
    election (16-byte key + 12-byte struct), the keep-join on the same
    key, and the per-document reassembly.
    """
    paras = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.col(text_col), delimiter)).alias("__pos", "__para"),
    ).withColumn("__para", F.trim("__para"))
    elig = paras.where(F.length("__para") >= min_chars)
    winners = elig.groupBy(F.md5("__para").alias("__h")).agg(
        F.min(F.struct(F.col("__id"), F.col("__pos"))).alias("__w")
    )
    kept = (
        paras.join(winners, F.md5(F.col("__para")) == F.col("__h"), "left")
        .where(
            (F.length("__para") < min_chars)
            | ((F.col("__w.__id") == F.col("__id")) & (F.col("__w.__pos") == F.col("__pos")))
        )
        .select("__id", "__pos", "__para")
    )
    agg = kept.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__para"))),
                lambda s: s["__para"],
            ),
            join_delim,
        ).alias("text_dedup"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = paras.groupBy("__id").agg(F.count(F.lit(1)).alias("__total"))
    return (
        totals.join(agg, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            (F.col("__total") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
        )
    )


def pagerank(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    iterations: int = 3,
    damping: float = 0.85,
    intermediate_round: int = 9,
) -> DataFrame:
    """PageRank over the (undirected) near-dup pair graph — centrality
    of each document inside its duplication neighborhood. High-rank
    nodes are the canonical/boilerplate hubs many near-copies point at;
    a useful survivor-election signal beyond length/score, and the
    engine's template for fixed-iteration iterative graph algorithms
    (the same loop shape as ``connected_components``, but with weighted
    mass instead of min-labels).

    Power iteration with a FIXED iteration count:
    ``pr' = (1-d)/N + d * Σ_in pr(u)/deg(u)``. Nodes are the endpoints
    of ``pairs``; edges are symmetrized, so every node has degree >= 1
    (no dangling mass). Intermediate ranks round to
    ``intermediate_round`` decimals each step — that pins the
    float-summation order across engines so the DuckDB twin (the same
    iterations unrolled as chained CTEs) reproduces results exactly.

    Scale shape: edges and degrees are computed once and lazily
    checkpointed (each iteration re-references them — without the cut,
    k iterations re-expand the candidate-pair subtree k times); one
    shuffle per iteration (contribution groupBy on the node key), the
    per-node state is one double. Returns (node, pagerank) with the
    final rank rounded to 6.
    """
    e = pairs.select(F.col(src).alias("__s"), F.col(dst).alias("__d")).unionAll(
        pairs.select(F.col(dst).alias("__s"), F.col(src).alias("__d"))
    )
    edges = e.localCheckpoint(eager=False)
    deg = edges.groupBy("__s").agg(F.count(F.lit(1)).alias("__deg"))
    deg = deg.localCheckpoint(eager=False)
    # lazy N: 1-row aggregate broadcast-crossJoined in (no eager count)
    n1 = deg.agg(F.count(F.lit(1)).alias("__n"))
    pr = deg.crossJoin(broadcast(n1)).select(
        F.col("__s").alias("__node"),
        F.round(F.lit(1.0) / F.col("__n"), intermediate_round).alias("__pr"),
    )
    for _ in range(iterations):
        contrib = (
            edges.join(pr, edges["__s"] == pr["__node"])
            .join(deg, "__s")
            .select(
                F.col("__d").alias("__node"),
                (F.col("__pr") / F.col("__deg")).alias("__c"),
            )
            .groupBy("__node")
            .agg(F.sum("__c").alias("__mass"))
        )
        pr = contrib.crossJoin(broadcast(n1)).select(
            "__node",
            F.round(
                (1.0 - damping) / F.col("__n") + damping * F.col("__mass"),
                intermediate_round,
            ).alias("__pr"),
        )
    return pr.select(
        F.col("__node").alias("node"), F.round("__pr", 6).alias("pagerank")
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket_size: int | str | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, banded for scale —
    the detection half the ``simhash`` signature was waiting for.

    The signature splits into ``bands`` contiguous bit bands; docs
    sharing ANY band meet in an equi-join bucket and the exact hamming
    distance (``bit_count(xor)``) filters candidates. By pigeonhole the
    banding is EXACT (complete recall, not approximate) whenever
    ``max_hamming < bands``: a pair within distance max_hamming cannot
    have a flipped bit in every band, so it always shares at least one
    intact band. Shuffle volume is n·bands 8-byte band keys — never a
    cross join.

    Candidate density grows QUADRATICALLY with bucket occupancy, and a
    ``bands``-band split of a ``bits``-bit signature has only
    ``bands · 2^(bits/bands)`` buckets — at corpus scale either widen
    the signature (bits=60 with 4 bands gives 15-bit bands: 32,768
    values each, still pigeonhole-complete for hamming <= 3) or set
    ``max_bucket_size``: buckets holding more rows are dropped (the
    same skew cap as MinHash banding; each dropped bucket can only
    suppress pairs whose OTHER bands are all hot too — the usual
    recall trade, and it bounds per-bucket work to cap² regardless of
    n).

    Returns (id_a, id_b, hamming) with id_a < id_b, deduped across
    bands.
    """
    sig = simhash(df, text_col, bits).select(F.col(id_col).alias(id_col), "simhash")
    return hamming_near_dup_pairs(
        sig,
        id_col,
        "simhash",
        bits=bits,
        bands=bands,
        max_hamming=max_hamming,
        max_bucket_size=max_bucket_size,
    )


AUTO_CAP_FLOOR = 1024
AUTO_CAP_CEILING = 2048
AUTO_CAP_MULT = 16


def _auto_cap_expr(n_col, width: int):
    """Corpus-scaled bucket cap: ``clamp(MULT * ceil(n / 2^width),
    FLOOR, CEILING)``. The FLOOR keeps small corpora exact (no bucket
    anywhere near it at the test scales — measured max occupancy 321 at
    the synthesized sf1 vs floor 1024); the CEILING bounds the one
    cost that actually grows quadratically, the per-bucket candidate
    pairs the map-side triangle generates (cap² / 2 rows: ~2.1M at 2048
    — bounded per bucket, vs unbounded growth with corpus size
    uncapped). Between them the cap tracks
    MULT× the uniform-hash expected occupancy, so only degenerate
    buckets (boilerplate/template collisions holding >16x their fair
    share) are ever dropped."""
    nb = 1 << width
    return F.greatest(
        F.lit(AUTO_CAP_FLOOR),
        F.least(
            F.lit(AUTO_CAP_CEILING),
            (
                F.lit(AUTO_CAP_MULT)
                * F.floor((n_col + F.lit(nb - 1)) / F.lit(nb))
            ).cast("int"),
        ),
    )


def _hamming_banded(df, id_col: str, sig_col: str, bits: int, bands: int):
    """Shared banding front end for the hamming family: one row per
    (doc, band) with the band's bit-slice value. Returns
    ``(banded_frame, width)``; frame columns are
    ``(__id, simhash, band, bval)``. Rows with a NULL id take no part
    (no pair may have a NULL endpoint)."""
    if bits % bands != 0:
        raise ValueError(f"bands must divide bits, got {bits}/{bands}")
    width = bits // bands
    mask = (1 << width) - 1
    sig = df.where(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("__id"), F.col(sig_col).alias("simhash")
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * width)
                .bitwiseAND(F.lit(mask))
                .alias("bval"),
            )
            for b in range(bands)
        ]
    )
    banded = sig.select(
        "__id", "simhash", F.explode(band_structs).alias("bb")
    ).select("__id", "simhash", "bb.band", "bb.bval")
    return banded, width


def _bucket_pairs(buckets: DataFrame, max_hamming: int, carry=()) -> DataFrame:
    """``(*carry, id_a, id_b, hamming)`` for every in-bucket pair of the
    ``__docs`` member lists within ``max_hamming`` bits — fanned by
    ``_triangle``, so only hamming-filtered pairs reach any shuffle."""
    return (
        _triangle(
            buckets,
            lambda x, y: F.struct(
                x["__id"].alias("id_a"),
                y["__id"].alias("id_b"),
                F.bit_count(x["simhash"].bitwiseXOR(y["simhash"]))
                .cast("int")
                .alias("hamming"),
            ),
            carry=carry,
        )
        .select(*carry, "__p.id_a", "__p.id_b", "__p.hamming")
        .where(F.col("hamming") <= max_hamming)
    )


def hamming_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    sig_col: str,
    bits: int = 60,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket_size: int | str | None = None,
) -> DataFrame:
    """Banded hamming-distance pairs over a PRECOMPUTED 64-bit-or-less
    signature column — the generic detection engine behind
    ``simhash_near_dup_pairs``, reusable for any bit-signature source:
    perceptual image hashes (``multimodal.media_phash``), audio
    chromaprints, minhash-folded sketches. Same pigeonhole-exactness
    contract (complete recall for hamming < bands) and the same
    ``max_bucket_size`` skew cap.

    ``max_bucket_size="auto"`` (VERDICT r7 #1) wires the corpus-scaled
    cap: in-bucket candidate pairs grow QUADRATICALLY with occupancy
    and occupancy grows linearly with corpus size, so an uncapped run
    that is fine at 50k docs materializes ~4.5M candidate structs per
    hot bucket at 5M. The cap is computed INSIDE the plan (a lazy 1-row
    count crossJoined broadcast — no call-time action) as
    ``clamp(16 * ceil(n / 2^width), 1024, 2048)``; see
    ``_auto_cap_expr`` for the floor/ceiling rationale. Pairs in
    dropped hot buckets are lost to this detector; the
    ``simhash_cap_agreement`` query measures that recall trade as a
    Venn against the uncapped twin.
    """
    if not 1 <= max_hamming < bands:
        raise ValueError(
            f"banding is exact only for max_hamming < bands, got "
            f"{max_hamming} >= {bands}"
        )
    banded, width = _hamming_banded(df, id_col, sig_col, bits, bands)
    # ONE shuffle: gather each bucket's (id, signature) members with a
    # groupBy — the signature subtree evaluates exactly once. (The
    # alias/self-join formulation computes the signature on BOTH join
    # inputs: Catalyst does not reuse the exchange across the l/r
    # aliases, and at corpus scale the signature pass over the raw text
    # is the expensive stage.) Bucket member lists are bounded by
    # occupancy — the wide-signature config and/or ``max_bucket_size``
    # keep them small; candidate pairs are generated and
    # hamming-filtered per bucket map-side, so only genuine near-dup
    # pairs reach the cross-band dedup shuffle.
    buckets = banded.groupBy("band", "bval").agg(
        F.sort_array(F.collect_list(F.struct("__id", "simhash"))).alias("__docs")
    )
    if max_bucket_size == "auto":
        n1 = df.agg(F.count(F.lit(1)).alias("__n"))
        buckets = (
            buckets.join(F.broadcast(n1))
            .where(F.size("__docs") <= _auto_cap_expr(F.col("__n"), width))
            .drop("__n")
        )
    elif max_bucket_size is not None:
        buckets = buckets.where(F.size("__docs") <= max_bucket_size)
    return _bucket_pairs(buckets, max_hamming).dropDuplicates(["id_a", "id_b"])


def hamming_cap_agreement(
    df: DataFrame,
    id_col: str,
    sig_col: str,
    bits: int = 60,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket_size: int = 64,
) -> DataFrame:
    """The bucket cap's recall trade, measured as a 1-row Venn against
    the uncapped twin (VERDICT r7 #1 done-criterion): how many near-dup
    pairs survive capping vs come ONLY from hot buckets. Computed in a
    single banding pass — every bucket generates its pairs tagged with
    whether the bucket is under the cap, and a pair is "capped-
    reachable" iff ANY of its shared buckets is (capped output is a
    subset of uncapped BY CONSTRUCTION here; tests prove the same via
    anti-joins of the two real runs). Returns
    (n_buckets_hot, pairs_both, pairs_only_uncapped, recall_pct).
    ``max_bucket_size`` is an explicit int — pass a deliberately tight
    cap to make the trade visible at small corpus scales."""
    banded, _ = _hamming_banded(df, id_col, sig_col, bits, bands)
    buckets = banded.groupBy("band", "bval").agg(
        F.sort_array(F.collect_list(F.struct("__id", "simhash"))).alias("__docs")
    ).withColumn("__ok", F.size("__docs") <= F.lit(max_bucket_size))
    per_pair = (
        _bucket_pairs(buckets, max_hamming, carry=("__ok",))
        .groupBy("id_a", "id_b")
        .agg(F.max(F.col("__ok").cast("int")).alias("__in_capped"))
    )
    hotn = buckets.where(~F.col("__ok")).agg(
        F.count(F.lit(1)).alias("n_buckets_hot")
    )
    stats = per_pair.agg(
        F.coalesce(F.sum("__in_capped"), F.lit(0)).alias("pairs_both"),
        F.coalesce(F.sum(F.lit(1) - F.col("__in_capped")), F.lit(0)).alias(
            "pairs_only_uncapped"
        ),
    )
    return stats.crossJoin(F.broadcast(hotn)).select(
        "n_buckets_hot",
        "pairs_both",
        "pairs_only_uncapped",
        # 100.0D: a bare 100.0 literal is DECIMAL in Spark SQL but
        # DOUBLE in DuckDB — the oracle's division must match bit-wise
        F.expr(
            "round(100.0D * pairs_both / "
            "nullif(pairs_both + pairs_only_uncapped, 0), 6)"
        ).alias("recall_pct"),
    )


def triangle_list(pairs: DataFrame, src: str = "id_a", dst: str = "id_b") -> DataFrame:
    """All triangles ``(a, b, c)`` with ``a < b < c`` in the undirected
    near-dup pair graph (edges canonical: ``src < dst``, as every pair
    generator here emits).

    The classic two-join enumeration: wedges ``a-b-c`` from edges
    joined on the middle node, closed by probing the ``(a, c)`` edge.
    Canonical orientation means each triangle is produced exactly once
    and both joins run on edge keys — no cross join. At 100 TB graph
    scale the refinement is degree-ordering the orientation (point the
    edge at the higher-degree node) to bound the join fan-out at
    O(m^1.5); id ordering is the right default for near-dup graphs,
    whose components are small cliques. Triangle density is the
    standard cluster-quality signal for dedup graphs: a component rich
    in triangles is a genuine duplicate cluster, a chain of
    triangle-free edges is usually LSH noise.
    """
    e = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b")).distinct()
    ebc = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    eac = e.select(F.col("a").alias("a2"), F.col("b").alias("c2"))
    wedges = e.join(ebc, "b")
    return (
        wedges.join(
            eac,
            (F.col("a") == F.col("a2")) & (F.col("c") == F.col("c2")),
            "left_semi",
        )
        .select("a", "b", "c")
    )


def clustering_coefficient(
    pairs: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Per-node local clustering coefficient over the (canonical
    ``src < dst``) near-dup pair graph: ``2·t(v) / (deg(v)·(deg(v)−1))``
    where ``t(v)`` counts triangles through ``v`` — the node-granular
    version of the component-density audit. Nodes sitting in duplicate
    CLIQUES score ~1; bridge nodes chaining unrelated docs through LSH
    noise score ~0, which is exactly the row you inspect before trusting
    a keep-first election over their component.

    Plan: degree is one combinable count over the exploded endpoints;
    ``t(v)`` re-aggregates ``triangle_list``'s output (two edge joins,
    fan bounded by the pair generator's bucket caps); one left join back.
    Nothing here touches raw documents — it's all edge-frame-sized.

    Returns (id, degree bigint, n_triangles bigint, local_cc double).
    """
    e = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b")).distinct()
    deg = (
        e.select(F.col("a").alias("id"))
        .unionAll(e.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    tri = triangle_list(pairs, src=src, dst=dst)
    tc = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    j = deg.join(tc, "id", "left").withColumn(
        "n_triangles", F.coalesce(F.col("n_triangles"), F.lit(0).cast("long"))
    )
    cc = F.when(
        F.col("degree") >= 2,
        F.round(
            2.0 * F.col("n_triangles") / (F.col("degree") * (F.col("degree") - 1)), 6
        )
        + F.lit(0.0),
    ).otherwise(F.lit(0.0))
    return j.withColumn("local_cc", cc)


def snn_edge_weights(
    pairs: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Shared-nearest-neighbor weight per edge of the (canonical
    ``src < dst``) near-dup graph: ``|N(a)∩N(b)| / |N(a)∪N(b)|`` with
    the endpoints themselves excluded from both neighborhoods — the
    SNN robustification step for density clustering and dedup-graph
    pruning: a genuine duplicate pair sits inside a shared clique
    (weight → 1), an LSH-noise bridge shares nobody (weight 0), so
    thresholding SNN weight BEFORE connected components stops chain
    merges that cosine thresholds alone let through.

    Plan: one wedge join per edge (edges ⋈ undirected adjacency on
    each endpoint, meet on the common neighbor — the triangle_list
    machinery generalized to per-edge counting) plus a broadcast of
    the combinable degree frame; |N(a)∪N(b)| falls out as
    deg(a)+deg(b)−2−common, no second pass. All edge-frame-sized.

    Returns (src, dst, common bigint, snn_weight double).
    """
    e = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b")).distinct()
    und = e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    na = und.select(F.col("a").alias("__ea"), F.col("b").alias("__x"))
    nb = und.select(F.col("a").alias("__eb"), F.col("b").alias("__x2"))
    common = (
        e.join(na, e["a"] == na["__ea"])
        .join(nb, (e["b"] == nb["__eb"]) & (F.col("__x") == F.col("__x2")))
        .where((F.col("__x") != F.col("a")) & (F.col("__x") != F.col("b")))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
    )
    deg = und.groupBy(F.col("a").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    j = (
        e.join(common, ["a", "b"], "left")
        .withColumn("common", F.coalesce(F.col("common"), F.lit(0).cast("long")))
        .join(F.broadcast(deg.select(F.col("id").alias("a"), F.col("deg").alias("__da"))), "a")
        .join(F.broadcast(deg.select(F.col("id").alias("b"), F.col("deg").alias("__db"))), "b")
    )
    union_sz = F.col("__da") + F.col("__db") - 2 - F.col("common")
    w = F.when(union_sz > 0, F.round(F.col("common") / union_sz, 6) + F.lit(0.0)).otherwise(
        F.lit(0.0)
    )
    return j.select(
        F.col("a").alias(src),
        F.col("b").alias(dst),
        "common",
        w.alias("snn_weight"),
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via AllPairs/PPJoin-style prefix
    filtering — same output as ``ngram_jaccard_pairs`` (no frequency
    cap needed), but only each document's PREFIX shingles are ever
    indexed.

    Order every document's shingle set by ascending global document
    frequency (rarest first; ties broken by the shingle hash so the
    order is total and deterministic). For Jaccard ≥ t, any qualifying
    pair must share at least one shingle inside BOTH documents' first
    ``|d| − ⌈t·|d|⌉ + 1`` shingles under any single global order — so
    indexing only prefixes finds every true pair (Bayardo et al.
    WWW'07; Vernica et al. SIGMOD'10 give the MapReduce shape this
    plan follows). Hot shingles are frequent by definition, so they
    sort LAST and fall out of most prefixes: the inverted index that
    dominates `ngram_jaccard_pairs` at scale shrinks superlinearly,
    and no recall-losing ``max_shingle_freq`` cap is required.

    Regime: the prefix has ``(1−t)·|d| + 1`` slots, so the win is
    superlinear at HIGH thresholds (t=0.8 → ~20% of shingles indexed,
    rarest-first postings near-empty) and marginal at permissive ones
    (t=0.2 → ~80% indexed, plus this plan's two extra shuffles for the
    frequency ordering) — there, prefer the capped inverted index of
    ``ngram_jaccard_pairs``.

    Plan shape: one shuffle for document frequencies (combinable
    count on 8-byte keys), one join to re-attach df to exploded
    shingles, one re-collect per doc, then the prefix-only inverted
    index and a verification join of candidate pairs against the full
    (hashed) shingle arrays — `array_intersect` on two already-loaded
    arrays, map-side. Candidate volume after prefix + length filtering
    is within a small factor of the true pair count.

    Returns (id_a, id_b, jaccard), id_a < id_b, jaccard >= threshold.
    """
    sh = _shingle_frame(df, id_col, text_col, n)
    # the exploded frame feeds BOTH the df count and the ordered
    # re-collect; lazy-checkpoint so the tokenizer runs once. The
    # size/non-empty filter goes AFTER the checkpoint barrier: a
    # where() on size(__sh) above the projection gets alias-substituted
    # below it, re-inlining the whole tokenize+shingle tree into a
    # pushed-down filter that evaluates the hot path twice (measured
    # 4x on this stage — the same landmine the explode paths dodge
    # with explode_outer + isNotNull)
    sh = (
        sh.localCheckpoint(eager=False)
        .withColumn("__n", F.size("__sh"))
        .where(F.col("__n") >= 1)
    )
    ex = sh.select("__id", "__n", F.explode_outer("__sh").alias("__s")).where(
        F.col("__s").isNotNull()
    )
    dfreq = ex.groupBy("__s").agg(F.count(F.lit(1)).alias("__df"))
    # per-doc shingles ordered rarest-first; the (df, hash) struct sort
    # gives a deterministic global total order shared by every doc
    ordered = (
        ex.join(dfreq, "__s")
        .groupBy("__id")
        .agg(
            F.any_value("__n").alias("__n"),
            F.array_sort(F.collect_list(F.struct("__df", "__s"))).alias("__os"),
        )
    )
    # prefix length p = n − ⌈t·n⌉ + 1, computed with floor so float
    # jitter can only LENGTHEN the prefix (never a lost true pair):
    # non-integer t·n → floor = ceil − 1 (one extra slot, sound);
    # integer t·n → floor = ceil whichever way the product jitters
    p = F.greatest(
        F.lit(1), F.col("__n") - F.floor(F.lit(threshold) * F.col("__n")).cast("int") + 1
    )
    prefix = ordered.select(
        "__id",
        "__n",
        F.explode(
            F.transform(F.slice("__os", 1, p), lambda s: s["__s"])
        ).alias("__s"),
    )
    # length filter with an epsilon so t·max float jitter cannot drop a
    # boundary pair (e.g. |A|=9, |B|=45, t=0.2: 0.2*45 → 9.0000000002);
    # this is only a prune — the exact jaccard filter below decides
    cand = (
        _posting_pairs(
            prefix,
            "__s",
            F.struct("__id", "__n"),
            None,
            lambda x, y: F.struct(x["__id"].alias("id_a"), y["__id"].alias("id_b")),
            keep=lambda x, y: F.least(x["__n"], y["__n"])
            >= threshold * F.greatest(x["__n"], y["__n"]) - 1e-9,
        )
        .select("__p.id_a", "__p.id_b")
        .distinct()
    )
    # verification: re-attach both full shingle arrays and intersect
    # map-side; |union| = |A| + |B| − |A∩B|
    a = sh.select(
        F.col("__id").alias("id_a"), F.col("__sh").alias("__sha"), F.col("__n").alias("__na")
    )
    b = sh.select(
        F.col("__id").alias("id_b"), F.col("__sh").alias("__shb"), F.col("__n").alias("__nb")
    )
    verified = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("__shared", F.size(F.array_intersect("__sha", "__shb")))
        .withColumn(
            "jaccard",
            F.col("__shared") / (F.col("__na") + F.col("__nb") - F.col("__shared")),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return verified.select("id_a", "id_b", "jaccard")


def duplicate_ngram_coverage(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """Per-document duplicated-n-gram coverage: the fraction of each
    document's distinct word n-grams that also occur in at least one
    OTHER document — the scalable proxy for suffix-array substring
    dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better"): a doc whose 5-gram coverage is high is
    mostly boilerplate already present elsewhere in the corpus, even
    when no single whole-doc near-dup pair exists.

    Plan shape: distinct hashed shingles per doc (map-side), one
    combinable count per shingle for corpus-wide document frequency,
    one join back on the 8-byte shingle key, one count-if per doc.
    No pair generation at all — cost is linear in total shingle
    volume, so this runs where pairwise near-dup would not.

    Returns (id, n_grams, dup_grams, dup_coverage) for every input
    row; documents too short for a single n-gram get coverage 0.0.
    """
    sh = _shingle_frame(df, id_col, text_col, n).localCheckpoint(eager=False)
    ex = sh.select("__id", F.explode_outer("__sh").alias("__s")).where(
        F.col("__s").isNotNull()
    )
    dfreq = ex.groupBy("__s").agg(F.count(F.lit(1)).alias("__df"))
    per_doc = (
        ex.join(dfreq, "__s")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count_if(F.col("__df") >= 2).alias("dup_grams"),
        )
    )
    return (
        sh.select("__id")
        .join(per_doc, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("dup_grams", F.lit(0)).alias("dup_grams"),
            F.when(
                F.coalesce("n_grams", F.lit(0)) > 0,
                F.col("dup_grams") / F.col("n_grams"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_coverage"),
        )
    )


def k_core(
    pairs: DataFrame,
    k: int = 2,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 30,
    batch_rounds: int = 3,
) -> DataFrame:
    """The k-core of the near-dup pair graph: iteratively peel nodes
    with degree < k until every survivor has >= k neighbors among
    survivors. The 2-core separates genuinely-clustered duplicates
    from dangling single-edge matches (usually banding noise) — the
    graph-quality cut one notch simpler than triangle counting.

    Returns (node, degree) for the surviving core, degree measured in
    the core. Edges are undirected: (x, y) and (y, x) are one edge, and
    self-loops are dropped. Each round is one combinable degree count +
    one semi join per edge endpoint; frames ``localCheckpoint`` per round so
    lineage stays flat (the same discipline as
    ``connected_components``). Rounds are bounded by ``max_iter``
    (peeling strictly shrinks the node set, so it terminates;
    real dedup graphs settle in a handful of rounds).

    ``batch_rounds`` (round 12, VERDICT r11 #6): the convergence check
    (an edge count action) runs once per BATCH of peel rounds, not per
    round — peeling an already-converged graph is the identity (every
    degree >= k ⇒ keep = all nodes ⇒ both semi-joins pass every edge),
    so the <= 2·batch-1 extra no-op rounds the coarser check can run
    change nothing; they cost at most that many extra degree+semi-join
    passes over the FINAL (smallest) edge set, in exchange for ~batch×
    fewer driver actions and their per-job scheduling barriers (the
    peel's cascade depth — 15 at sf0.1 — is pure sequential latency).
    ``batch_rounds=1`` is the original per-round check; equivalence is
    fuzz-tested against it.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if batch_rounds < 1:
        raise ValueError(f"batch_rounds must be >= 1, got {batch_rounds}")
    e = _undirected_edges(pairs, src, dst).localCheckpoint(eager=False)
    prev_n = e.count()
    rounds_left = max_iter
    while rounds_left > 0:
        for _ in range(min(batch_rounds, rounds_left)):
            rounds_left -= 1
            deg = (
                e.select(F.col("a").alias("n"))
                .unionAll(e.select(F.col("b").alias("n")))
                .groupBy("n")
                .agg(F.count(F.lit(1)).alias("__d"))
            )
            keep = deg.where(F.col("__d") >= k).select("n")
            keep = keep.localCheckpoint(eager=False)
            e = (
                e.join(keep.withColumnRenamed("n", "a"), "a", "left_semi")
                .join(keep.withColumnRenamed("n", "b"), "b", "left_semi")
                .localCheckpoint(eager=False)
            )
        # carry the previous batch's edge count instead of recounting e
        # (which re-runs the lazily-checkpointed prior frame): one
        # action per batch, not two
        n = e.count()
        if n == prev_n:
            break
        prev_n = n
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    return deg.where(F.col("degree") >= k)


def k_core_blocked(
    pairs: DataFrame,
    block_col: str,
    k: int = 2,
    src: str = "id_a",
    dst: str = "id_b",
    max_block_edges: int = 2_000_000,
) -> DataFrame:
    """Block-local k-core for a pair graph whose edges NEVER cross
    ``block_col`` values (e.g. the label-blocked embcos pairs, whose
    generator joins ``a.label = b.label`` so every edge lives inside
    one block). Degree only counts same-block neighbors, and peeling a
    node only cascades within its block, so the global k-core is
    exactly the union of per-block k-cores — the `_cc_block_local`
    argument applied to degree peeling.

    Plan shape (round 12, VERDICT r11 #6): ONE shuffle on the block key
    and the whole O(diameter)-round cascade runs as a linear-time
    in-task peel (the classic queue algorithm) — versus the iterative
    operator's per-round degree aggregate + two semi-joins + count
    action (`embedding_kcore`: 56 jobs → 5, and no driver round-trips).
    Per-block work is native-vectorless but O(E_block): the engine
    accepts in-task Python for this family already (the pairs
    themselves come from the Arrow-matmul `applyInPandas` generator,
    guide §4.2), and blocks are bounded by the generator's
    ``max_block_rows`` contract; ``max_block_edges`` turns a violated
    bound into an error instead of a straggler. The k-core is unique
    (the maximal subgraph of min-degree ≥ k), so removal ORDER cannot
    change the result — equality with the iterative `k_core` is
    fuzz-tested and oracle-checked.

    Returns ``(node, degree)`` for the surviving core — identical to
    ``k_core`` on the same (block-disjoint) graph, with the same
    undirected edge canonicalization.
    """
    import collections

    import pandas as pd

    from pyspark.sql.types import LongType, StructField, StructType

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    id_type = pairs.schema[src].dataType
    out_schema = StructType(
        [StructField("node", id_type), StructField("degree", LongType())]
    )

    def _peel(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > max_block_edges:
            raise ValueError(
                f"k-core block exceeds max_block_edges={max_block_edges} "
                f"({len(pdf)} rows): the blocked-pair generator's bound "
                "was violated — tighten the blocking key or raise the cap"
            )
        adj: dict = collections.defaultdict(set)
        for a, b in zip(pdf["a"], pdf["b"]):
            adj[a].add(b)
            adj[b].add(a)
        stack = [n for n, nbrs in adj.items() if len(nbrs) < k]
        while stack:
            n = stack.pop()
            nbrs = adj.get(n)
            if nbrs is None or len(nbrs) >= k:
                continue
            del adj[n]
            for m in nbrs:
                s = adj.get(m)
                if s is not None:
                    s.discard(n)
                    if len(s) < k:
                        stack.append(m)
        return pd.DataFrame(
            {
                "node": list(adj.keys()),
                "degree": [len(v) for v in adj.values()],
            }
        )

    sel = _undirected_edges(pairs, src, dst, F.col(block_col).alias("__blk"))
    return sel.groupBy("__blk").applyInPandas(_peel, out_schema)


def _undirected_edges(pairs: DataFrame, src: str, dst: str, *extra) -> DataFrame:
    """Distinct ``(a, b, *extra)`` with ``a < b``: (x, y) and (y, x) are
    one undirected edge; self-loops and NULL endpoints are dropped."""
    a, b = F.col(src), F.col(dst)
    return (
        pairs.where(a != b)
        .select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"), *extra)
        .distinct()
    )


def merge_components(
    assignments: DataFrame,
    new_pairs: DataFrame,
    node_col: str = "node",
    comp_col: str = "component",
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Incremental connected-component maintenance: fold a batch of NEW
    near-dup pairs into an EXISTING (node, component) assignment
    without re-deriving pairs for the old corpus. Each stored
    assignment is itself an edge (node ↔ its component label preserves
    exactly the old connectivity), so the merged components are the CC
    of (assignment edges ∪ new pairs) — provably identical to a full
    recompute over the union pair set, at the cost of the NEW pairs
    plus one edge per previously-assigned node.

    Returns (node, component) with min-id labels, covering every node
    seen in either input. The scale win: the old corpus contributes
    O(nodes) label edges, never its O(pairs) history — and in a
    steady-state pipeline those label edges are the already-persisted
    dedup table.
    """
    old_edges = (
        assignments.where(F.col(node_col) != F.col(comp_col))
        .select(F.col(node_col).alias(src), F.col(comp_col).alias(dst))
    )
    edges = old_edges.unionByName(new_pairs.select(src, dst)).distinct()
    comp = connected_components(edges, src, dst, max_iter=max_iter)
    # nodes that never appear in any edge keep their own label
    all_nodes = (
        assignments.select(F.col(node_col).alias("node"))
        .unionByName(new_pairs.select(F.col(src).alias("node")))
        .unionByName(new_pairs.select(F.col(dst).alias("node")))
        .distinct()
    )
    return (
        all_nodes.join(comp, "node", "left")
        .select("node", F.coalesce("component", F.col("node")).alias("component"))
    )


def purge_components(
    assignments: DataFrame,
    pairs: DataFrame,
    forget: DataFrame,
    node_col: str = "node",
    comp_col: str = "component",
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Delete-cascade for the component store (the GDPR/right-to-erasure
    path): remove ``forget`` nodes from an existing ``(node, component)``
    assignment and REPAIR only the components they touched — a deletion
    can split a component, so unlike :func:`merge_components` the stored
    label edges cannot be trusted (connectivity may have routed through
    the forgotten node); the real ``pairs`` restricted to surviving
    nodes of AFFECTED components are re-clustered instead, which is why
    the artifact store persists pairs alongside components.

    Untouched components pass through by anti-join (never reshuffled);
    surviving affected nodes whose every edge died come back as
    singletons. Min-id labels are LOCAL to a component, so the result
    is provably identical to a full rebuild over the purged pair set
    (``tests/test_dedup.py``). Cost: |affected components|' pairs, not
    the corpus — the deletion twin of merge_components' append path.

    ``forget`` is a one-column frame named ``node_col``.
    """
    affected = (
        assignments.join(forget.select(node_col), node_col, "left_semi")
        .select(comp_col)
        .distinct()
    )
    intact = assignments.join(affected, comp_col, "left_anti").select(
        F.col(node_col).alias("node"), F.col(comp_col).alias("component")
    )
    surv = (
        assignments.join(affected, comp_col, "left_semi")
        .join(forget.select(node_col), node_col, "left_anti")
        .select(node_col)
    )
    edges = (
        pairs.select(src, dst)
        .join(surv.select(F.col(node_col).alias(src)), src, "left_semi")
        .join(surv.select(F.col(node_col).alias(dst)), dst, "left_semi")
    )
    recomputed = connected_components(edges, src, dst, max_iter=max_iter)
    singles = surv.join(recomputed, surv[node_col] == recomputed["node"], "left_anti").select(
        F.col(node_col).alias("node"), F.col(node_col).alias("component")
    )
    return intact.unionByName(recomputed).unionByName(singles)


def long_gram_overlap_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    max_gram_doc_freq: int = 50,
) -> DataFrame:
    """Span-level exact-substring overlap between document pairs — the
    distributed approximation of suffix-array substring dedup (Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): every maximal run of shared word ``n``-grams between two
    docs is reported as one span.

    Returns ``(id_a, id_b, start_a, start_b, len_tokens)`` with
    ``id_a < id_b``: the shared substring starts at word offset
    ``start_a`` in doc a / ``start_b`` in doc b and runs
    ``len_tokens`` words (>= n). Unlike the set-based Jaccard family
    this preserves WHERE the overlap sits and how long it is — the
    signal needed to cut duplicated spans out of otherwise-distinct
    documents instead of dropping whole docs.

    Plan (all equi-joins + bounded windows — no suffix array needed):

    1. positioned gram hashes: one xxhash64 per token, gram hash =
       xxhash64 over the n token hashes at each offset (map-side,
       no string concat per gram);
    2. doc-frequency cap: grams present in > ``max_gram_doc_freq``
       docs are dropped (boilerplate skew cap — the hot-shingle rule
       every pair family here uses), grams in < 2 docs can't pair;
    3. pair candidates: self-equi-join on the gram hash
       (``id_a < id_b``) — at most ``cap²`` rows per gram;
    4. maximal runs: matches on one diagonal (``pos_a − pos_b``)
       with consecutive offsets merge via the islands trick
       (``pos_a − row_number`` per (pair, diagonal) group — windows
       partitioned by (id_a, id_b, diag), never global).

    64-bit gram hashing stands in for gram equality (the standing
    contract of every hash-keyed family here); the oracle joins on
    gram STRINGS, so a collision would be caught as a hash mismatch.
    """
    if n < 2:
        raise ValueError("n must be >= 2")
    # each array is projected before the next HOF consumes it, and the
    # generate is explode_outer + isNotNull — plain (pos)explode triggers
    # InferFiltersFromGenerate, which clones the whole positioned-gram
    # expression (tokenizer inlined, re-evaluated per element) into a
    # pushed-down per-row filter. Measured: 115s → ~3s at sf0.1.
    toks = df.select(
        F.col(id_col).alias("__id"), word_tokens(text_col).alias("__toks")
    ).select(
        "__id", F.transform("__toks", lambda t: F.xxhash64(t)).alias("__th")
    )
    cnt = F.size("__th") - (n - 1)
    th = F.col("__th")
    positioned = toks.select(
        "__id",
        F.when(
            cnt >= 1,
            F.transform(
                F.sequence(F.lit(0), cnt - 1),
                lambda i: F.struct(
                    i.cast("int").alias("pos"),
                    F.xxhash64(*[F.get(th, i + j) for j in range(n)]).alias("h"),
                ),
            ),
        )
        .otherwise(F.array().cast("array<struct<pos:int,h:bigint>>"))
        .alias("__gs"),
    )
    grams = (
        positioned.select("__id", F.explode_outer("__gs").alias("__g"))
        .where(F.col("__g").isNotNull())
        .select("__id", F.col("__g.pos").alias("pos"), F.col("__g.h").alias("h"))
    )
    ok = (
        grams.groupBy("h")
        .agg(F.count_distinct("__id").alias("__df"))
        .where((F.col("__df") >= 2) & (F.col("__df") <= max_gram_doc_freq))
        .select("h")
    )
    g2 = grams.join(ok, "h", "left_semi")
    a = g2.select(
        F.col("h"), F.col("__id").alias("id_a"), F.col("pos").alias("pos_a")
    )
    b = g2.select(
        F.col("h"), F.col("__id").alias("id_b"), F.col("pos").alias("pos_b")
    )
    m = a.join(b, "h").where(F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b", "pos_a", "pos_b"
    )
    diag = (F.col("pos_a") - F.col("pos_b")).alias("__diag")
    w = Window.partitionBy("id_a", "id_b", "__diag").orderBy("pos_a")
    runs = (
        m.withColumn("__diag", diag)
        .withColumn("__grp", F.col("pos_a") - F.row_number().over(w))
        .groupBy("id_a", "id_b", "__diag", "__grp")
        .agg(
            F.min("pos_a").alias("start_a"),
            F.min("pos_b").alias("start_b"),
            (F.max("pos_a") - F.min("pos_a") + F.lit(n)).cast("long").alias(
                "len_tokens"
            ),
        )
    )
    return runs.select(
        "id_a", "id_b",
        F.col("start_a").cast("long").alias("start_a"),
        F.col("start_b").cast("long").alias("start_b"),
        "len_tokens",
    )


def cut_overlap_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str,
    text_col: str,
    out_col: str = "text_cut",
) -> DataFrame:
    """Apply substring dedup: remove the duplicated spans found by
    :func:`long_gram_overlap_spans` from the LATER document of each
    pair (keep-first-occurrence — ``id_a < id_b``, so doc ``id_b``
    loses its ``[start_b, start_b + len_tokens)`` word range; doc
    ``id_a`` keeps the canonical copy). The Lee et al. 2022 remedy:
    cut the repeated span, keep the rest of the document.

    Appends ``out_col`` (tokens outside every cut interval, space-
    joined), ``n_tokens`` and ``n_tokens_cut``. Docs that appear in no
    span pass through with ``n_tokens_cut = 0``.

    Plan: one groupBy collects each doc's cut intervals (bounded — a
    doc has few overlap spans by construction of the gram-frequency
    cap), a left join attaches them, and the cut itself is a map-side
    indexed ``filter`` lambda over the token array (token kept iff no
    interval covers its offset). No window, no second shuffle.
    """
    cut_rows = spans.select(
        F.col("id_b").alias(id_col),
        F.col("start_b").alias("s"),
        F.col("len_tokens").alias("l"),
    )
    return _apply_cut_intervals(df, cut_rows, id_col, text_col, out_col)


def _apply_cut_intervals(
    df: DataFrame,
    cut_rows: DataFrame,
    id_col: str,
    text_col: str,
    out_col: str,
) -> DataFrame:
    """Shared cut applier: remove every ``(id, s, l)`` word interval of
    ``cut_rows`` from the matching document. One bounded per-doc
    interval collect + a left join + a map-side indexed ``filter``
    lambda over the token array — no window, no second shuffle."""
    iv = (
        cut_rows.select(
            F.col(id_col),
            F.struct(
                F.col("s").cast("long").alias("s"),
                F.col("l").cast("long").alias("l"),
            ).alias("__iv"),
        )
        .groupBy(id_col)
        .agg(F.collect_list("__iv").alias("__ivs"))
    )
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    ivs = F.coalesce(
        F.col("__ivs"),
        F.array().cast("array<struct<s:long,l:long>>"),
    )
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            ivs, lambda v: (i >= v["s"]) & (i < v["s"] + v["l"])
        ),
    )
    return (
        df.join(iv, id_col, "left")
        .withColumn("n_tokens", F.size(toks).cast("long"))
        .withColumn(out_col, F.array_join(kept, " "))
        .withColumn(
            "n_tokens_cut", (F.col("n_tokens") - F.size(kept)).cast("long")
        )
        .drop("__ivs")
    )


def elect_span_owners(spans: DataFrame, cc_algorithm: str = "min_label") -> DataFrame:
    """Corpus-wide canonical-owner election over the span-occurrence
    graph — the fix for pairwise keep-first's chained-copy hole: when
    A copies B and C copies A, the pairwise rule cuts A against B and
    C against A independently, which can keep the SAME content in both
    B and C (each "won" a different pair) while A loses all of it. The
    election instead groups every overlapping span occurrence into one
    FAMILY and keeps exactly one canonical occurrence per family.

    Construction (all on the tiny span frame — the expensive gram work
    already happened in `long_gram_overlap_spans`):

    1. occurrences: both sides of every span row as ``(doc, s, e)``
       word intervals;
    2. per-doc interval union: overlapping occurrences within one doc
       merge (bounded window per doc — a doc has few spans by the
       gram-df cap), so each doc contributes maximal duplicated
       regions;
    3. family graph: each span row is an edge between its two merged
       regions; connected components over region nodes (the existing
       CC machinery — string node keys ``doc:grp``);
    4. owner per family: the region with the LONGEST extent (it holds
       the union content in hub-shaped copy chains — the common case),
       ties to smallest (doc, start).

    Returns ``(doc, s, e, component, is_owner)`` — one row per merged
    duplicated region. Contract: at most ONE surviving copy per family
    (never the pairwise double-keep); in hub-less drifted chains the
    owner's extent may not cover the whole family union, so content
    can be over-cut — the conservative direction for training-data
    dedup (never two copies; possibly fewer than one for drifted
    tails).
    """
    # the election branches over spans 3+ times (both occurrence sides,
    # the edge mapping) and CC iterates — cut the expensive gram-join
    # lineage loose once instead of re-deriving it per branch/round
    spans = spans.localCheckpoint(eager=False)
    occ = (
        spans.select(
            F.col("id_a").alias("doc"),
            F.col("start_a").alias("s"),
            (F.col("start_a") + F.col("len_tokens")).alias("e"),
        )
        .union(
            spans.select(
                F.col("id_b").alias("doc"),
                F.col("start_b").alias("s"),
                (F.col("start_b") + F.col("len_tokens")).alias("e"),
            )
        )
        .distinct()
    )
    w = Window.partitionBy("doc").orderBy("s", "e")
    prev_max_e = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    og = occ.withColumn(
        "__new", F.when(prev_max_e.isNull() | (F.col("s") >= prev_max_e), 1).otherwise(0)
    ).withColumn(
        "grp", F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    node = F.concat_ws(":", F.col("doc").cast("string"), F.col("grp").cast("string"))
    og_n = og.select("doc", "s", "e", node.alias("node"))
    sp = spans.select(
        "id_a", "id_b", "start_a", "start_b",
        (F.col("start_a") + F.col("len_tokens")).alias("__ea"),
        (F.col("start_b") + F.col("len_tokens")).alias("__eb"),
    )
    na = og_n.select(
        F.col("doc").alias("id_a"), F.col("s").alias("start_a"),
        F.col("e").alias("__ea"), F.col("node").alias("node_a"),
    )
    nb = og_n.select(
        F.col("doc").alias("id_b"), F.col("s").alias("start_b"),
        F.col("e").alias("__eb"), F.col("node").alias("node_b"),
    )
    edges = (
        sp.join(na, ["id_a", "start_a", "__ea"])
        .join(nb, ["id_b", "start_b", "__eb"])
        .select("node_a", "node_b")
        .distinct()
    )
    cc = connected_components(edges, "node_a", "node_b", algorithm=cc_algorithm)
    merged = (
        og.groupBy("doc", "grp")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
        .withColumn("node", node)
    )
    labeled = merged.join(cc, "node", "left").withColumn(
        "component", F.coalesce("component", F.col("node"))
    )
    best = labeled.groupBy("component").agg(
        F.min(
            F.struct(
                (F.col("s") - F.col("e")).alias("negext"),
                F.col("doc").alias("odoc"),
                F.col("s").alias("os"),
            )
        ).alias("__b")
    )
    return (
        labeled.join(best, "component")
        .withColumn(
            "is_owner",
            (F.col("doc") == F.col("__b.odoc")) & (F.col("s") == F.col("__b.os")),
        )
        .select("doc", "s", "e", "component", "is_owner")
    )


def cut_overlap_spans_elected(
    df: DataFrame,
    spans: DataFrame,
    id_col: str,
    text_col: str,
    out_col: str = "text_cut",
    fams: DataFrame | None = None,
) -> DataFrame:
    """Apply corpus-wide substring dedup under the span-family election
    (`elect_span_owners`): every merged duplicated region that is NOT
    its family's canonical owner is cut from its document; the owner
    keeps its copy whole. Unlike the pairwise `cut_overlap_spans`,
    chained copies can never double-keep content (and the canonical
    first/longest occurrence is never cut by a different pair).

    Appends ``out_col``, ``n_tokens``, ``n_tokens_cut``; docs in no
    span pass through with ``n_tokens_cut = 0``.

    ``fams`` accepts a precomputed election (e.g. the persisted
    ``artifacts.elected_spans_artifact``) so repeated consumers skip
    the interval-union + CC derivation; when None it is derived from
    ``spans`` inline.
    """
    if fams is None:
        fams = elect_span_owners(spans)
    cut_rows = fams.where(~F.col("is_owner")).select(
        F.col("doc").alias(id_col),
        F.col("s"),
        (F.col("e") - F.col("s")).alias("l"),
    )
    return _apply_cut_intervals(df, cut_rows, id_col, text_col, out_col)


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    w: int = 8,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Schmidt & Wilder,
    SIGMOD 2003 — the MOSS local-fingerprinting algorithm): hash every
    word ``k``-gram, slide a window of ``w`` consecutive gram hashes,
    and keep the minimum hash of each window (ties broken RIGHTMOST,
    the robust-winnowing rule). The kept ``(pos, hash)`` set is a
    guaranteed-coverage sample: any substring shared between two docs
    that is at least ``w + k - 1`` tokens long contributes at least one
    identical fingerprint to both — unlike MinHash (whole-doc set
    resemblance) this is a LOCAL guarantee, and unlike the full
    positioned-gram table it keeps only ~``2/(w+1)`` of positions.

    Returns ``(id_col, fp_pos, fp_hash)`` — one row per selected
    fingerprint occurrence (0-based gram offset). Docs shorter than
    ``k`` tokens produce no rows; docs with fewer than ``w`` grams
    winnow their single truncated window (the whole doc).

    Plan shape: positioned gram hashes map-side (one md5-prefix hash
    per offset), then ONE bounded window per doc (``ROWS BETWEEN
    CURRENT ROW AND w-1 FOLLOWING`` partitioned by doc — never a
    global window, and measured FASTER than a shuffle-free O(ng·w)
    HOF sweep: the per-window array allocations cost more than
    exchanging ~24-byte gram rows), then distinct. Scale: rows out ≈
    docs × grams × 2/(w+1); the only shuffle is the per-doc window
    partition, and at 100 TB the fingerprint table is the durable
    index a MOSS-style copy detector queries — pair generation never
    touches raw text.

    The 60-bit md5-prefix hash (`hash60`) is shared with the oracle
    engine, so hash VALUES (which drive the selection, not just
    equality) are replayed identically in SQL.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if w < 1:
        raise ValueError("w must be >= 1")
    toks = df.select(
        F.col(id_col).alias("__wid"), word_tokens(text_col).alias("__w")
    )
    cnt = F.size("__w") - (k - 1)
    # project the positioned-gram array in its own select, then
    # explode_outer + isNotNull — plain (pos)explode would trigger
    # InferFiltersFromGenerate cloning the whole gram expression into a
    # per-row pushed filter (the round-5 145s trap).
    positioned = toks.select(
        "__wid",
        F.when(
            cnt >= 1,
            F.transform(
                F.sequence(F.lit(0), cnt - 1),
                # gram string via k O(1) F.get refs + one concat_ws —
                # identical bytes to array_join(slice(...), " ") without
                # the per-gram slice-array allocation (the
                # shingles_of_tokens PERF rule; measured 7.0 -> 5.5 s on
                # the sf1 gram stage, round 12)
                lambda i: F.struct(
                    i.cast("int").alias("pos"),
                    hash60(
                        F.concat_ws(
                            " ", *[F.get(F.col("__w"), i + j) for j in range(k)]
                        )
                    ).alias("h"),
                ),
            ),
        )
        .otherwise(F.array().cast("array<struct<pos:int,h:bigint>>"))
        .alias("__gs"),
    )
    grams = (
        positioned.select("__wid", F.explode_outer("__gs").alias("__g"))
        .where(F.col("__g").isNotNull())
        .select("__wid", F.col("__g.pos").alias("pos"), F.col("__g.h").alias("h"))
    )
    per_doc = Window.partitionBy("__wid")
    win = Window.partitionBy("__wid").orderBy("pos").rowsBetween(0, w - 1)
    # window winner = lexicographic min of (hash, -pos): smallest hash,
    # rightmost position on ties — identical struct ordering in the
    # oracle engine (an O(ng*w) map-side HOF sweep was measured 2x
    # SLOWER here: per-window F.slice allocations cost more than this
    # narrow-row per-doc exchange; the gram rows are ~24 bytes)
    key = F.struct(F.col("h").alias("h"), (-F.col("pos")).alias("np"))
    sel = (
        grams.withColumn("__ng", F.count(F.lit(1)).over(per_doc))
        .withColumn("__win", F.min(key).over(win))
        # valid window starts only: pos in [0, ng-w]; short docs keep
        # their single truncated window at pos 0
        .where(F.col("pos") <= F.greatest(F.col("__ng") - w, F.lit(0)))
    )
    return (
        sel.select(
            F.col("__wid").alias(id_col),
            (-F.col("__win.np")).cast("long").alias("fp_pos"),
            F.col("__win.h").alias("fp_hash"),
        )
        .distinct()
    )


def winnowing_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    w: int = 8,
    min_shared: int = 2,
    max_fp_doc_freq: int = 50,
) -> DataFrame:
    """Near-dup candidate pairs by shared winnowing fingerprints — the
    MOSS pairing rule on top of `winnowing_fingerprints`. Because
    winnowing's coverage guarantee is local, ``min_shared`` shared
    fingerprint HASHES ≈ evidence of long shared substrings, with
    recall guaranteed for any overlap ≥ ``w + k - 1`` tokens per
    shared fingerprint.

    Returns ``(id_a, id_b, shared_fps)`` with ``id_a < id_b``. Scale
    levers are the standard blocked-pair ones: fingerprints seen in
    more than ``max_fp_doc_freq`` docs are dropped (boilerplate skew
    cap — same rule as every shingle family here) and pair fan is
    bounded by cap² per fingerprint.

    Round 12 (guide §2.4): the pair stage is the `ngram_jaccard_pairs`
    inverted index — ONE groupBy(fp_hash) collects each fingerprint's
    (df-capped) posting list and the upper triangle is generated
    map-side. The previous self-join
    formulation fed the fingerprint frame into BOTH join sides, so the
    whole md5 gram-hash + window-selection pass evaluated TWICE
    (Catalyst does not reuse the exchange across the renamed a/b
    branches — the same trap semdedup's pair_src pin documents);
    measured 22.9 → 10.5 s at sf1 with identical pairs.
    """
    fps = winnowing_fingerprints(df, id_col, text_col, k=k, w=w)
    fd = fps.select(F.col(id_col).alias("__fid"), "fp_hash").distinct()
    return (
        _posting_pairs(
            fd,
            "fp_hash",
            "__fid",
            max_fp_doc_freq,
            lambda x, y: F.struct(x.alias("id_a"), y.alias("id_b")),
        )
        .select("__p.id_a", "__p.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
        .where(F.col("shared_fps") >= min_shared)
    )


def adamic_adar_link_prediction(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_hub_degree: int = 50,
) -> DataFrame:
    """Adamic–Adar link prediction over the (canonical ``src < dst``)
    near-dup graph: for every NON-edge (a, b) that shares at least one
    neighbor, score ``Σ_z 1/ln(deg(z))`` over the common neighbors z —
    the classic missing-link signal (Adamic & Adar 2003). On a dedup
    graph this surfaces pairs the pair generator MISSED but the
    neighborhood structure implies (two docs each near-dup of the same
    third doc), i.e. candidate edges to verify before trusting
    component boundaries; the edge-level complement of
    `snn_edge_weights` (which scores edges that already exist).

    Plan: one wedge self-join through the common neighbor (bounded by
    the ``max_hub_degree`` cap — hubs fan deg² wedge rows yet
    contribute the smallest 1/ln terms, so capping is the standard
    skew rule), anti-join against existing edges, then ONE grouped
    aggregate whose float fold runs over the z-sorted collected array
    (accumulation order — and hence the last float bit — is
    engine-identical).

    Returns ``(src, dst, n_common bigint, aa_score double)``.
    """
    if max_hub_degree < 2:
        raise ValueError("max_hub_degree must be >= 2")
    e = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b")).distinct()
    und = e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = und.groupBy(F.col("a").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("degz")
    )
    zn = (
        und.select(F.col("a").alias("z"), F.col("b").alias("nbr"))
        .join(F.broadcast(deg.withColumnRenamed("id", "z")), "z")
        .where(F.col("degz") <= max_hub_degree)
    )
    w1 = zn.select("z", "degz", F.col("nbr").alias("a"))
    w2 = zn.select(F.col("z").alias("z2"), F.col("nbr").alias("b"))
    wed = (
        w1.join(w2, F.col("z") == F.col("z2"))
        .where(F.col("a") < F.col("b"))
        .select("a", "b", "z", "degz")
    )
    cand = wed.join(e, ["a", "b"], "left_anti")
    score = F.round(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct(F.col("z"), F.col("degz")))),
            F.lit(0.0),
            lambda acc, s: acc + F.lit(1.0) / F.log(s["degz"].cast("double")),
        ),
        6,
    ) + F.lit(0.0)
    return cand.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("n_common"),
        score.alias("aa_score"),
    ).select(
        F.col("a").alias(src), F.col("b").alias(dst), "n_common", "aa_score"
    )


def minhash_band_plan(
    spark,
    n_perm: int = 128,
    threshold: float = 0.7,
    grid: int = 100,
) -> DataFrame:
    """LSH band planning: for every divisor split ``n_perm = b × r``,
    the S-curve quality of banding a MinHash signature into ``b`` bands
    of ``r`` rows — candidate probability ``p(s) = 1 − (1 − s^r)^b`` —
    summarized as the false-positive mass below ``threshold`` and the
    false-negative mass above it (rectangle rule over a ``grid``-step
    similarity lattice), plus the curve's estimated inflection
    ``(1/b)^(1/r)``.

    This is the *planning* half of `minhash_lsh_pairs`: pick the (b, r)
    minimizing the masses you care about BEFORE shuffling 100 TB into
    band buckets — re-banding after the fact replays the whole corpus.
    The frame is analytic (|divisors| × grid rows from `spark.range`),
    so the only cost is arithmetic; both mass sums fold their grid
    terms in index order (engine-identical accumulation).
    """
    divisors = [r for r in range(1, n_perm + 1) if n_perm % r == 0]
    cand = (
        spark.range(1)
        .select(F.explode(F.array(*[F.lit(r) for r in divisors])).alias("r"))
        .select(
            F.col("r").cast("long").alias("r"),
            (F.lit(n_perm) / F.col("r")).cast("long").alias("b"),
        )
    )
    terms = cand.select(
        "r",
        "b",
        F.explode(F.sequence(F.lit(0), F.lit(grid))).alias("i"),
    ).select(
        "r",
        "b",
        "i",
        (F.col("i") / F.lit(float(grid))).alias("s"),
    )
    p = F.lit(1.0) - F.pow(F.lit(1.0) - F.pow(F.col("s"), F.col("r")), F.col("b"))
    ds = F.lit(1.0 / grid)
    terms = terms.select(
        "r",
        "b",
        "i",
        F.when(F.col("s") < F.lit(threshold), p * ds).otherwise(F.lit(0.0)).alias("fp_t"),
        F.when(F.col("s") >= F.lit(threshold), (F.lit(1.0) - p) * ds)
        .otherwise(F.lit(0.0))
        .alias("fn_t"),
    )

    def _fold(term_col: str):
        ordered = F.array_sort(F.collect_list(F.struct(F.col("i"), F.col(term_col))))
        return F.aggregate(ordered, F.lit(0.0), lambda acc, x: acc + x[term_col])

    return (
        terms.groupBy("r", "b")
        .agg(_fold("fp_t").alias("__fp"), _fold("fn_t").alias("__fn"))
        .select(
            F.col("r").alias("rows_per_band"),
            F.col("b").alias("bands"),
            (F.round(F.pow(F.lit(1.0) / F.col("b"), F.lit(1.0) / F.col("r")), 6) + F.lit(0.0))
            .alias("est_threshold"),
            (F.round("__fp", 6) + F.lit(0.0)).alias("fp_mass"),
            (F.round("__fn", 6) + F.lit(0.0)).alias("fn_mass"),
        )
    )


def label_propagation(
    pairs: DataFrame,
    n_rounds: int = 4,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Synchronous label-propagation communities over the near-dup
    pair graph (Raghavan, Albert & Kumara 2007, made deterministic):
    every node starts labeled with its own id; each round every node
    adopts the most common label among its neighbors AND itself, ties
    broken to the smallest label. Where connected components answer
    "which docs are transitively linked at all", LPA after a few
    rounds splits a weak bridge between two dense duplicate clusters
    — the community view of the same graph (a chain A—B—C yields one
    CC but LPA keeps the endpoints' labels alive).

    Determinism: synchronous updates + the (count DESC, label ASC)
    tie-break make every round a pure function of the previous
    labeling — no random sweep order — so ``n_rounds`` of it are
    replayable as unrolled SQL CTEs. (Oscillation between two
    labelings is possible on bipartite-ish graphs and is fine: the
    fixed round count picks one side deterministically.)

    Scale shape: each round is ONE equi-join of the symmetric edge
    frame to the |nodes|-row label frame plus one (node, label) count
    aggregate and a per-node rank-1 window (never partition-less) —
    the same per-round cost envelope as `connected_components`, with
    a FIXED round count instead of a convergence loop. Self-loops
    inject each node's own label once per round.

    Returns ``(node, community, community_size)``.
    """
    if n_rounds < 1:
        raise ValueError(f"n_rounds must be >= 1, got {n_rounds}")
    half = pairs.select(F.col(src).alias("node"), F.col(dst).alias("nbr")).where(
        F.col("node") != F.col("nbr")
    )
    edges = (
        half.unionByName(
            half.select(F.col("nbr").alias("node"), F.col("node").alias("nbr"))
        )
        .unionByName(half.select("node", F.col("node").alias("nbr")))
        .unionByName(
            half.select(F.col("nbr").alias("node"), F.col("nbr").alias("nbr"))
        )
        .distinct()
    )
    labels = edges.select("node").distinct().select(
        "node", F.col("node").alias("label")
    )
    pick = Window.partitionBy("node").orderBy(
        F.col("__c").desc(), F.col("label").asc()
    )
    for _ in range(int(n_rounds)):
        labels = (
            edges.join(
                labels.select(F.col("node").alias("nbr"), "label"), "nbr"
            )
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("__c"))
            .withColumn("__rn", F.row_number().over(pick))
            .where(F.col("__rn") == 1)
            .select("node", "label")
        )
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("community_size")
    )
    return labels.join(sizes, "label").select(
        "node", F.col("label").alias("community"), "community_size"
    )


def semdedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int | str = 8,
    n_rounds: int = 2,
    threshold: float = 0.35,
    n_planes: int = 4,
    seed: int = 42,
    max_bucket_side: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by
    clustering the embedding space and removing all-but-one of each
    within-cluster group of near-identical points — the
    embedding-space member of the dedup family, now fully
    hash-checkable because the clusterer is the deterministic unrolled
    Lloyd trainer (`clustering.kmeans_lloyd`).

    Stages (each the engine's proven pattern):
    1. k-means clusters + centroids (Lloyd, round-replayable);
    2. candidate pairs ONLY within (cluster, hyperplane-bucket) blocks
       with rounded cosine ≥ ``threshold`` — the seed-pinned
       ``n_planes``-bit LSH tier REDUCES the in-cluster quadratic fan
       (bucketing partitions it; a dense block is still quadratic in
       its size), and ``max_bucket_side`` BOUNDS it: each (cluster,
       bucket) block keeps only its ``max_bucket_side`` smallest ids
       for pair generation (the `bitext_margin_pairs` /
       SimHash-in-bucket cap discipline — deterministic, and the
       dropped tail's missed duplicates are the documented recall
       trade; rows past the cap still appear in the output as
       singletons). A fixed k would otherwise make the pair stage
       quadratic across a data decade; ``k="auto"`` grows k with N
       (`kmeans_lloyd` counts the points once and takes
       ``clamp(ceil(sqrt(N/256)), 2, 64)``), and the cap bounds what
       bucketing leaves — all three knobs compose at 100 TB;
    3. duplicate groups = connected components over the pairs;
    4. keeper per group = the member with the LOWEST cosine to its
       cluster centroid (the paper's keep-the-least-typical rule —
       retains the diverse example), ties → smaller id.

    Returns ``(id_col, cluster, component, csim, keep boolean)`` —
    every input row labeled; ``keep=false`` rows are the semantic
    duplicates to drop. Cosines round to 6 (engine-exact elections).
    """
    from datas_spark.functions.arrays import cosine_from_norms, l2_norm
    from datas_spark.operators.clustering import kmeans_lloyd
    from datas_spark.operators.similarity import (
        hyperplane_signature,
        random_hyperplanes,
    )

    if not -1.0 <= threshold <= 1.0:
        raise ValueError(f"threshold must be in [-1, 1], got {threshold}")
    # pass ``dim`` explicitly in composed pipelines (VERDICT r10 #8:
    # each width probe is a separate pre-plan Spark job); inference
    # stays the standalone default
    if dim is None:
        first = df.select(F.size(F.col(vec_col)).alias("n")).limit(1).collect()
        if not first:
            raise ValueError("empty frame: cannot infer vector width")
        dim = int(first[0]["n"])
    # carry the vector THROUGH the final assignment pass instead of
    # re-joining df against the assignments (round 11, guide §8: that
    # join re-shuffles the embedding payload by id for rows the
    # map-only assignment pass already held)
    asg, cents = kmeans_lloyd(
        df, id_col, vec_col, k=k, n_rounds=n_rounds, carry_cols=[vec_col]
    )
    planes = random_hyperplanes(dim, n_planes, seed)
    # e feeds pairs (twice), centroid sims, and membership — pin it.
    # The vector's L2 norm is hoisted into this per-row projection
    # (round 12, guide §1.2): the pair stage evaluates a cosine per
    # CANDIDATE (quadratic in block side), so inlined norms would
    # re-fold both vectors per candidate; precomputed they ride the
    # checkpoint once per row. Bit-identical (`cosine_from_norms`).
    e = (
        hyperplane_signature(asg, vec_col, planes)
        .withColumn("__nrm", l2_norm(vec_col))
        .localCheckpoint(eager=False)
    )
    pair_src = e
    if max_bucket_side is not None:
        wcap = Window.partitionBy("cluster", "bucket").orderBy(
            F.col(id_col).asc()
        )
        # pair_src feeds BOTH join sides — pin it or the cap window
        # (a shuffle) re-evaluates per branch (measured 1.8x)
        pair_src = (
            e.withColumn("__br", F.row_number().over(wcap))
            .where(F.col("__br") <= int(max_bucket_side))
            .drop("__br")
            .localCheckpoint(eager=False)
        )
    a = pair_src.select(
        F.col(id_col).alias("id_a"),
        F.col("cluster").alias("__c"),
        F.col("bucket").alias("__b"),
        F.col(vec_col).alias("__va"),
        F.col("__nrm").alias("__na"),
    )
    b = pair_src.select(
        F.col(id_col).alias("id_b"),
        F.col("cluster").alias("__c"),
        F.col("bucket").alias("__b"),
        F.col(vec_col).alias("__vb"),
        F.col("__nrm").alias("__nb"),
    )
    cos_ab = (
        F.round(cosine_from_norms("__va", "__vb", "__na", "__nb"), 6)
        + F.lit(0.0)
    )
    pairs = (
        a.join(b, ["__c", "__b"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(cos_ab >= F.lit(float(threshold)))
        .select("__c", "__b", "id_a", "id_b")
    )
    # every pair is INSIDE one (cluster, bucket) block, so components
    # cannot span blocks; with the cap bounding the block side the
    # whole CC folds into one lazy block-local aggregate (round 11,
    # guide §2) instead of the iterative global operator. Uncapped,
    # block size is unbounded — keep the iterative path.
    if max_bucket_side is not None:
        comp = _cc_block_local(pairs, "id_a", "id_b", ["__c", "__b"])
    else:
        comp = connected_components(
            pairs.select("id_a", "id_b"), "id_a", "id_b"
        )
    # centroid similarity folds INTO the membership frame map-side (the
    # centroid table broadcasts), instead of a separate csim frame
    # re-joined by id — that equi-join shuffled the whole corpus frame
    # a second time at scale (round 11, guide §2.4)
    ecs = e.join(
        broadcast(
            cents.select(
                "cluster",
                F.col("centroid").alias("__cv"),
                l2_norm("centroid").alias("__cn"),
            )
        ),
        "cluster",
    ).select(
        F.col(id_col),
        "cluster",
        (
            F.round(cosine_from_norms(vec_col, "__cv", "__nrm", "__cn"), 6)
            + F.lit(0.0)
        ).alias("csim"),
    )
    members = (
        ecs.join(comp, ecs[id_col] == comp["node"], "left")
        .select(
            F.col(id_col),
            "cluster",
            F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
            "csim",
        )
    )
    keepers = members.groupBy("component").agg(
        F.min_by(
            F.col(id_col), F.struct(F.col("csim"), F.col(id_col))
        ).alias("__keeper")
    )
    return members.join(keepers, "component").select(
        F.col(id_col),
        "cluster",
        "component",
        "csim",
        (F.col(id_col) == F.col("__keeper")).alias("keep"),
    )
