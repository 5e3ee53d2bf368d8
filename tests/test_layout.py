"""Z-order layout: Morton key algebra + the clustered writer's file-
level pruning property (disjoint zkey ranges per output file)."""

import glob

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from datas_spark.operators import layout as LAY


def _morton_py(x, y):
    def spread(v):
        v &= 0xFFFF
        v = (v | (v << 8)) & 0x00FF00FF
        v = (v | (v << 4)) & 0x0F0F0F0F
        v = (v | (v << 2)) & 0x33333333
        v = (v | (v << 1)) & 0x55555555
        return v

    return spread(x) | (spread(y) << 1)


def test_morton_matches_reference_bit_interleave(spark):
    cells = [(0, 0), (1, 0), (0, 1), (3, 5), (65535, 65535), (1234, 4321)]
    df = spark.createDataFrame(cells, "x: long, y: long")
    got = df.select(
        "x", "y", LAY.morton_key(F.col("x"), F.col("y")).alias("z")
    ).collect()
    for r in got:
        assert r["z"] == _morton_py(r["x"], r["y"])


def test_morton_is_injective_on_sample(spark):
    df = spark.createDataFrame(
        [(i * 37 % 256, i * 91 % 256) for i in range(256)], "x: long, y: long"
    ).distinct()
    n_in = df.count()
    n_out = df.select(
        LAY.morton_key(F.col("x"), F.col("y")).alias("z")
    ).distinct().count()
    assert n_in == n_out


def test_morton_locality(spark):
    """Adjacent cells differ in few low bits — the curve property that
    makes range scans prune: cell (x, y) and (x+1, y) land within 2
    positions of each other's quad at the bottom level."""
    z00 = _morton_py(2, 2)
    z10 = _morton_py(3, 2)
    z01 = _morton_py(2, 3)
    assert {z10 - z00, z01 - z00} == {1, 2}


def test_quantize_clamps_and_buckets(spark):
    df = spark.createDataFrame(
        [(-5.0,), (0.0,), (250.0,), (500.0,), (999.0,), (None,)], "v: double"
    )
    got = [
        r["c"]
        for r in df.select(
            LAY.quantize(F.col("v"), 0.0, 500.0, bits=8).alias("c")
        ).collect()
    ]
    assert got[0] == 0  # clamped low
    assert got[1] == 0
    assert got[2] == 127  # mid-domain -> mid-cell
    assert got[3] == 255  # top edge
    assert got[4] == 255  # clamped high
    assert got[5] is None  # null passes through

    with pytest.raises(ValueError):
        LAY.quantize(F.col("v"), 10.0, 10.0)


def test_zorder_write_produces_disjoint_file_ranges(spark, sf_dir, tmp_path):
    """Each output file must cover a (near-)disjoint zkey range — the
    property row-group/file pruning depends on. Verified from the
    parquet footers, not the plan."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    with_z = ev.withColumn(
        "zkey",
        LAY.morton_key(
            LAY.quantize(F.col("value"), 0.0, 500.0, bits=16),
            F.greatest(F.lit(0), F.least(F.lit(65535), F.col("user_id"))).cast(
                "long"
            ),
        ),
    )
    out = str(tmp_path / "zordered")
    LAY.zorder_write(with_z, out, "zkey", n_files=8)

    ranges = []
    for f in glob.glob(f"{out}/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        if md.num_rows == 0:
            continue
        zcol = next(
            i
            for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "zkey"
        )
        mins, maxs = [], []
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(zcol).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 2
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # range-exchange split points: no overlap

    # round-trip: clustering must not lose or duplicate rows
    assert spark.read.parquet(out).count() == ev.count()


def test_zone_skipping_report_hand_example(spark):
    """8 rows, 2-row zones: sorted-by-x layout skips zones the natural
    layout cannot."""
    from datas_spark.operators.layout import zone_skipping_report

    # natural order interleaves x so every 2-row zone straddles the
    # predicate range; sorted by x isolates it into one zone
    rows = [(i, x) for i, x in enumerate([10, 1, 11, 2, 12, 3, 13, 4])]
    df = spark.createDataFrame(rows, "rid long, x long")
    rep = zone_skipping_report(
        df,
        layouts={
            "natural": F.col("rid"),
            "sort_x": F.col("x") * 100 + F.col("rid"),
        },
        zone_rows=2,
        predicates={"x": (1, 2)},
        num_partitions=2,
    )
    got = {r["layout"]: r for r in rep.collect()}
    assert got["natural"]["n_zones"] == 4 and got["sort_x"]["n_zones"] == 4
    # natural zones: {10,1},{11,2},{12,3},{13,4} -> only {12,3},{13,4} skippable
    assert got["natural"]["n_zones_skipped"] == 2
    # sorted zones: {1,2},{3,4},{10,11},{12,13} -> all but the first skip
    assert got["sort_x"]["n_zones_skipped"] == 3
    assert got["sort_x"]["n_rows_skipped"] == 6
    for r in got.values():
        assert r["n_rows_matching"] == 2


def test_zone_skipping_report_rejects_empty_layouts(spark):
    df = spark.createDataFrame([(0, 1)], "rid long, x long")
    with pytest.raises(ValueError, match="at least one layout"):
        LAY.zone_skipping_report(df, layouts={}, zone_rows=2, predicates={"x": (1, 2)})


def test_zone_skipping_report_rejects_mixed_key_types(spark):
    df = spark.createDataFrame([(0, 1)], "rid long, x long")
    layouts = {
        "natural": F.col("rid"),
        "sort_x": F.col("x") * 100 + F.col("rid"),
        "as_text": F.col("rid").cast("string"),
    }
    with pytest.raises(ValueError, match=r"one layout key type.*as_text"):
        LAY.zone_skipping_report(df, layouts, zone_rows=2, predicates={"x": (1, 2)})


def test_zone_minmax_covers_all_rows(spark):
    from datas_spark.operators.layout import zone_minmax

    df = spark.range(103).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    zones = zone_minmax(df, "k", 10, ["v"], num_partitions=3).collect()
    assert sum(r["n_rows"] for r in zones) == 103
    assert sorted(r["zone"] for r in zones) == list(range(11))
    # every zone but the tail holds exactly zone_rows rows
    assert all(r["n_rows"] == 10 for r in zones if r["zone"] < 10)


def _hilbert_ref(x, y, bits):
    d = 0
    s = 1 << (bits - 1)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_key_matches_reference_and_bijects(spark):
    from datas_spark.operators.layout import with_hilbert_key

    bits = 3
    cells = [(x, y) for x in range(8) for y in range(8)]
    df = spark.createDataFrame(cells, "x long, y long")
    got = {
        (r.x, r.y): r.hkey
        for r in with_hilbert_key(df, "x", "y", bits).collect()
    }
    for (x, y), d in got.items():
        assert d == _hilbert_ref(x, y, bits), (x, y)
    assert sorted(got.values()) == list(range(64))  # bijection onto [0, 4^bits)


def test_hilbert_unit_step_locality(spark):
    """The defining property Z-order lacks: consecutive curve positions
    are GRID NEIGHBORS (manhattan distance exactly 1), so zone ranges
    stay tight."""
    from datas_spark.operators.layout import with_hilbert_key

    bits = 4
    cells = [(x, y) for x in range(16) for y in range(16)]
    df = spark.createDataFrame(cells, "x long, y long")
    rows = sorted(
        with_hilbert_key(df, "x", "y", bits).collect(), key=lambda r: r.hkey
    )
    for a, b in zip(rows, rows[1:]):
        assert abs(a.x - b.x) + abs(a.y - b.y) == 1


def test_hilbert_sql_twin_matches(spark):
    import duckdb

    from datas_spark.operators.layout import hilbert_sql, with_hilbert_key

    bits = 3
    cells = [(x, y) for x in range(8) for y in range(8)]
    df = spark.createDataFrame(cells, "x long, y long")
    spark_side = {
        (r.x, r.y): r.hkey for r in with_hilbert_key(df, "x", "y", bits).collect()
    }
    con = duckdb.connect()
    sql = (
        "WITH h0src AS (SELECT x, y FROM (VALUES "
        + ", ".join(f"({x}, {y})" for x, y in cells)
        + ") t(x, y)),\n    "
        + hilbert_sql("x", "y", bits)
        + f"\n    SELECT x, y, hkey FROM h{bits}"
    )
    duck_side = {(x, y): d for x, y, d in con.execute(sql).fetchall()}
    assert duck_side == spark_side
