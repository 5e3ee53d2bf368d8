"""Physical-layout operators: Z-order (Morton) clustering for
multi-dimensional scan pruning, plus a key-skew profiler's natural
companion — the range-clustered writer.

Why this exists at 100 TB: parquet scans prune on row-group min/max
stats and on partition values. A table range-sorted on ONE column
prunes only predicates on that column; interleaving the bits of two
quantized columns (the Morton / Z-order curve) gives locality in BOTH
dimensions, so `WHERE x BETWEEN .. AND y BETWEEN ..` skips most files
on either predicate. This is the same layout trick Delta's OPTIMIZE
ZORDER BY applies; here it is expressed as plain Spark — a pure
column expression plus ``repartitionByRange(zkey)`` +
``sortWithinPartitions(zkey)`` — so it works on vanilla parquet.

All bit math is int64 mask/shift (whole-stage codegen, no UDFs) and is
mirrored exactly by the DuckDB oracles (registry11).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "quantize",
    "part1by1",
    "morton_key",
    "zorder_write",
    "zone_minmax",
    "zone_skipping_report",
    "with_hilbert_key",
    "hilbert_sql",
]

# magic-number bit spreads for 16-bit -> 32-bit interleave
_SPREAD = [
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
]


def quantize(col: Column, lo: float, hi: float, bits: int = 16) -> Column:
    """Quantize a numeric column into ``[0, 2^bits)`` over the explicit
    domain ``[lo, hi]`` (values outside clamp to the edge cells).

    The domain is an explicit argument — deriving it from the data
    would add a full pass and make the key non-deterministic under
    appends; layout keys must be stable as the table grows.
    """
    if hi <= lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi}]")
    cells = (1 << bits) - 1
    scaled = F.floor((col.cast("double") - F.lit(float(lo)))
                     / F.lit((hi - lo) / cells + 0.0))
    # least/greatest SKIP nulls (a NULL input would silently clamp to
    # the top cell) — pass NULL through explicitly
    return F.when(
        col.isNull(), F.lit(None).cast("long")
    ).otherwise(F.greatest(F.lit(0), F.least(F.lit(cells), scaled)).cast("long"))


def part1by1(col: Column) -> Column:
    """Spread the low 16 bits of ``col`` so bit i lands at bit 2i
    (Morton 'part1by1', the standard mask-shift ladder)."""
    x = col.cast("long").bitwiseAND(F.lit(0xFFFF))
    for shift, mask in _SPREAD:
        x = (x.bitwiseOR(F.shiftleft(x, shift))).bitwiseAND(F.lit(mask))
    return x


def morton_key(xcell: Column, ycell: Column) -> Column:
    """Interleave two 16-bit cell ids into one 32-bit Z-order key:
    x occupies even bits, y odd bits. Pure int64 expression."""
    return part1by1(xcell).bitwiseOR(F.shiftleft(part1by1(ycell), 1))


def zorder_write(
    df: DataFrame,
    path: str,
    zkey_col: str,
    n_files: int,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` parquet clustered on ``zkey_col``: a range exchange
    into ``n_files`` partitions followed by an in-partition sort, so
    each output file covers a narrow, (near-)disjoint zkey range and
    row-group min/max stats prune on BOTH interleaved dimensions.

    ``repartitionByRange`` samples the key distribution for balanced
    split points (skew-proof vs hash partitioning on a clustered key);
    the in-partition sort is a spillable local sort, never a global
    one.
    """
    (
        df.repartitionByRange(n_files, F.col(zkey_col))
        .sortWithinPartitions(zkey_col)
        .write.mode(mode)
        .parquet(path)
    )


def zone_minmax(
    df: DataFrame,
    layout_key_col: str,
    zone_rows: int,
    stat_cols: list[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-zone min/max statistics under a WHAT-IF layout: as if the
    table were rewritten sorted by ``layout_key_col`` into zones of
    ``zone_rows`` rows (a zone models a parquet row-group / file whose
    footer stats a scan prunes on). Returns
    ``(zone, n_rows, min_<c>, max_<c> ...)``.

    ``layout_key_col`` must be unique per row (compose the layout key
    with a row id) so zone boundaries are deterministic.

    Scale shape: the global rank comes from
    ``selection.skew_resistant_rank`` — ONE balanced range exchange +
    local sort, partition offsets from a tiny per-partition aggregate —
    never a partition-less window over raw rows; the min/max roll-up is
    a map-side-combinable groupBy on the zone id.
    """
    from datas_spark.operators.selection import skew_resistant_rank

    ranked = skew_resistant_rank(
        df.withColumn("__one", F.lit(1)), "__one", layout_key_col, num_partitions
    )
    zoned = ranked.withColumn(
        "zone", F.floor((F.col("__rn") - F.lit(1)) / F.lit(zone_rows)).cast("long")
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for c in stat_cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    return zoned.groupBy("zone").agg(*aggs)


def zone_skipping_report(
    df: DataFrame,
    layouts: dict[str, Column],
    zone_rows: int,
    predicates: dict[str, tuple[float, float]],
    num_partitions: int | None = None,
) -> DataFrame:
    """Data-skipping what-if: for each candidate physical layout (name →
    unique sort-key Column), how many ``zone_rows``-row zones could a
    scan with the conjunctive range ``predicates`` (col → [lo, hi])
    skip on zone min/max stats alone, and how many rows ride along?

    One summary row per layout: ``(layout, n_zones, n_zones_skipped,
    n_rows_skipped, n_rows_matching)``. A zone is skippable when ANY
    predicate column's zone range is disjoint from its [lo, hi] — the
    exact rule parquet row-group pruning applies — and
    ``n_rows_matching`` (layout-invariant) anchors the skip ratio
    against the predicate's true selectivity. An empty ``layouts``
    raises ``ValueError`` (there is nothing to compare), and so do
    layout keys of different Spark types: the layouts are ranked as one
    melted key column, so every key must resolve to ONE type (cast the
    keys yourself — a silent widening could reorder a layout).

    This is the design tool for the 100 TB decision "sort by one
    column or Z-order by two": run it on a sample, compare
    ``n_zones_skipped`` across layouts, THEN pay for the rewrite
    (`zorder_write`). Cost: ONE range exchange over the frame melted
    |layouts|× — round 12 (guide §2.4): the per-layout
    ``skew_resistant_rank`` passes shared no exchange, so k layouts
    paid k range exchanges + k checkpoint materializations + k sampling
    jobs over the same input; the melted rank (cluster = layout name,
    exactly the oracle's UNION-ALL shape) moves the same total bytes
    through one exchange and one groupBy, halving jobs/exchanges on
    both what-if queries with identical summary rows.
    """
    if not layouts:
        raise ValueError("zone_skipping_report needs at least one layout")
    by_type: dict[str, list[str]] = {}
    for name, field in zip(layouts, df.select(*layouts.values()).schema.fields):
        by_type.setdefault(field.dataType.simpleString(), []).append(name)
    if len(by_type) > 1:
        raise ValueError(
            f"zone_skipping_report needs one layout key type, got {by_type}"
        )
    cols = list(predicates)
    match = F.lit(True)
    for c, (lo, hi) in predicates.items():
        match = match & F.col(c).between(F.lit(lo), F.lit(hi))
    # layout-invariant true selectivity as a LAZY 1-row aggregate — no
    # call-time action (an eager count here would execute the full
    # input lineage once per invocation before the returned plan runs);
    # broadcast-cross-joined onto the n_layouts-row summary below, it
    # is computed exactly once inside the returned frame's own plan
    match_agg = df.agg(
        F.coalesce(F.sum(match.cast("long")), F.lit(0))
        .cast("long")
        .alias("n_rows_matching")
    )
    from datas_spark.operators.selection import skew_resistant_rank

    # melt: one row per (input row, layout) with the layout's sort key —
    # every layout key expression (e.g. an unrolled Hilbert ladder) is
    # evaluated once per input row in a single projection. The array is
    # projected in its own select before the explode consumes it
    # (explode_outer + isNotNull: the InferFiltersFromGenerate rule
    # would otherwise clone the whole key expression into a pushed
    # per-row filter).
    keyed = df.select(
        *[F.col(c) for c in cols],
        F.array(
            *[
                F.struct(F.lit(name).alias("__layout"), key.alias("__lk"))
                for name, key in layouts.items()
            ]
        ).alias("__ls"),
    )
    melted = (
        keyed.select(*cols, F.explode_outer("__ls").alias("__l"))
        .where(F.col("__l").isNotNull())
        .select(*cols, F.col("__l.__layout").alias("__layout"), F.col("__l.__lk").alias("__lk"))
    )
    ranked = skew_resistant_rank(melted, "__layout", "__lk", num_partitions)
    zoned = ranked.withColumn(
        "zone", F.floor((F.col("__rn") - F.lit(1)) / F.lit(zone_rows)).cast("long")
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for c in cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    zones = zoned.groupBy("__layout", "zone").agg(*aggs)
    skip = F.lit(False)
    for c, (lo, hi) in predicates.items():
        skip = skip | (F.col(f"max_{c}") < F.lit(lo)) | (F.col(f"min_{c}") > F.lit(hi))
    out = (
        zones.groupBy("__layout")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_zones"),
            F.sum(skip.cast("long")).cast("long").alias("n_zones_skipped"),
            F.sum(F.when(skip, F.col("n_rows")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_rows_skipped"),
        )
        .select(
            F.col("__layout").alias("layout"),
            "n_zones",
            "n_zones_skipped",
            "n_rows_skipped",
        )
    )
    return out.crossJoin(F.broadcast(match_agg))


def with_hilbert_key(
    df: DataFrame,
    xcell_col: str,
    ycell_col: str,
    bits: int,
    out: str = "hkey",
) -> DataFrame:
    """Append the Hilbert-curve index of ``(xcell, ycell)`` (each in
    ``[0, 2^bits)``) — the space-filling curve behind 'liquid'-style
    clustering: like Z-order it interleaves two dimensions for 2-D scan
    pruning, but its unit-step locality avoids Z-order's long diagonal
    jumps, so zone min/max ranges are tighter and more zones skip
    (measure with `zone_skipping_report`, don't take the folklore's
    word).

    The standard xy→d bit ladder (Hamilton's algorithm), UNROLLED into
    ``bits`` chained projections of two long columns — each iteration's
    (x, y) land as real named columns, so the expression tree stays
    LINEAR in ``bits`` (nesting the rotations instead doubles the tree
    per level: the swap references both inputs). All int64
    mask/compare/arith — whole-stage codegen, no UDFs; mirrored
    constant-for-constant by :func:`hilbert_sql`.
    """
    x, y, d = f"__hx_{out}", f"__hy_{out}", out
    carry = list(df.columns)
    cur = df.select(
        "*",
        F.col(xcell_col).cast("long").alias(x),
        F.col(ycell_col).cast("long").alias(y),
        F.lit(0).cast("long").alias(d),
    )
    for level in range(bits - 1, -1, -1):
        s = 1 << level
        rx = F.when(F.col(x).bitwiseAND(F.lit(s)) > 0, F.lit(1)).otherwise(F.lit(0))
        ry = F.when(F.col(y).bitwiseAND(F.lit(s)) > 0, F.lit(1)).otherwise(F.lit(0))
        step = F.lit(s) * F.lit(s) * ((F.lit(3) * rx).bitwiseXOR(ry))
        flip_x = F.when(rx == 1, F.lit(s - 1) - F.col(x)).otherwise(F.col(x))
        flip_y = F.when(rx == 1, F.lit(s - 1) - F.col(y)).otherwise(F.col(y))
        new_x = F.when(ry == 0, flip_y).otherwise(F.col(x))
        new_y = F.when(ry == 0, flip_x).otherwise(F.col(y))
        # ONE Project per level (a withColumn chain is ~5 analyzer nodes
        # per level and the py4j round-trips alone cost seconds at 14
        # levels; measured 2.3s plan build -> ~0.3s with single selects)
        cur = cur.select(
            *carry,
            new_x.cast("long").alias(x),
            new_y.cast("long").alias(y),
            (F.col(d) + step).cast("long").alias(d),
        )
    return cur.select(*carry, F.col(d))


def hilbert_sql(x_expr: str, y_expr: str, bits: int, out: str = "hkey") -> str:
    """DuckDB twin of :func:`with_hilbert_key`: a chained-CTE SQL
    fragment computing the same unrolled ladder over ``x_expr`` /
    ``y_expr`` (SQL expressions for the input cells). Returns the BODY
    of a WITH chain — caller embeds it as
    ``WITH <prior>, {hilbert_sql(...)} SELECT ... FROM h{bits}``; the
    final CTE ``h<bits>`` exposes every source column plus ``out``.

    The input CTE/table must be named ``h0src``.
    """
    parts = [
        f"h0 AS (SELECT *, ({x_expr})::BIGINT AS hx, ({y_expr})::BIGINT AS hy,"
        f" 0::BIGINT AS {out} FROM h0src)"
    ]
    prev = "h0"
    step_i = 0
    for level in range(bits - 1, -1, -1):
        s = 1 << level
        step_i += 1
        cur = f"h{step_i}"
        rx = f"(CASE WHEN (hx & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN (hy & {s}) > 0 THEN 1 ELSE 0 END)"
        flip_x = f"(CASE WHEN {rx} = 1 THEN {s - 1} - hx ELSE hx END)"
        flip_y = f"(CASE WHEN {rx} = 1 THEN {s - 1} - hy ELSE hy END)"
        parts.append(
            f"{cur} AS (SELECT * REPLACE ("
            f"({out} + {s}::BIGINT * {s} * xor(3 * {rx}, {ry}))::BIGINT AS {out}, "
            f"(CASE WHEN {ry} = 0 THEN {flip_y} ELSE hx END)::BIGINT AS hx, "
            f"(CASE WHEN {ry} = 0 THEN {flip_x} ELSE hy END)::BIGINT AS hy"
            f") FROM {prev})"
        )
        prev = cur
    return ",\n    ".join(parts)
