"""SCD Type-2 CDC operators: build, incremental MERGE == full rebuild,
point-in-time snapshot."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from datas_spark.operators import cdc as CDC

KEYS = ["k"]
ATTRS = ["a", "b"]


def _log(spark, rows):
    return spark.createDataFrame(rows, "k int, ts timestamp, seq long, a string, b int")


@pytest.fixture(scope="module")
def changelog(spark):
    d = datetime
    return _log(
        spark,
        [
            # key 1: run-collapse (two identical consecutive changes),
            # then a flip, then a flip back
            (1, d(2020, 1, 1), 1, "x", 10),
            (1, d(2020, 2, 1), 2, "x", 10),
            (1, d(2020, 3, 1), 3, "y", 10),
            (1, d(2020, 4, 1), 4, "x", 10),
            # key 2: single change — stays current forever
            (2, d(2020, 1, 15), 5, "z", None),
            # key 3: same-timestamp changes resolved by seq; NULL attr
            # transitions are null-safe
            (3, d(2020, 5, 1), 6, None, 1),
            (3, d(2020, 5, 1), 7, "w", 1),
            (3, d(2020, 6, 1), 8, "w", None),
        ],
    )


def _sorted(df):
    return sorted(tuple(repr(v) for v in r) for r in df.collect())


def test_scd2_build_runs_and_intervals(spark, changelog):
    scd = CDC.scd2_from_changelog(changelog, KEYS, ATTRS, "ts", "seq")
    rows = {(r["k"], r["change_seq"]): r for r in scd.collect()}
    # key 1: seq 2 collapsed into seq 1's run
    assert set(k for k in rows) == {(1, 1), (1, 3), (1, 4), (2, 5), (3, 6), (3, 7), (3, 8)}
    r11 = rows[(1, 1)]
    assert r11["valid_from"] == datetime(2020, 1, 1)
    assert r11["valid_to"] == datetime(2020, 3, 1) and not r11["is_current"]
    assert rows[(1, 4)]["is_current"] and rows[(1, 4)]["valid_to"] is None
    # key 2: one open run
    assert rows[(2, 5)]["is_current"]
    # key 3: same-ts runs ordered by seq -> first closes AT the same ts
    assert rows[(3, 6)]["valid_to"] == datetime(2020, 5, 1)
    assert rows[(3, 8)]["b"] is None and rows[(3, 8)]["is_current"]


def test_intervals_tile_per_key(spark, changelog):
    scd = CDC.scd2_from_changelog(changelog, KEYS, ATTRS, "ts", "seq")
    for k in (1, 2, 3):
        runs = sorted(
            scd.where(F.col("k") == k).collect(), key=lambda r: r["change_seq"]
        )
        assert sum(r["is_current"] for r in runs) == 1
        for prev, nxt in zip(runs, runs[1:]):
            assert prev["valid_to"] == nxt["valid_from"]


@pytest.mark.parametrize("cut", [datetime(2020, 2, 15), datetime(2020, 5, 1)])
def test_merge_equals_full_rebuild(spark, changelog, cut):
    full = CDC.scd2_from_changelog(changelog, KEYS, ATTRS, "ts", "seq")
    hist = CDC.scd2_from_changelog(
        changelog.where(F.col("ts") < F.lit(cut)), KEYS, ATTRS, "ts", "seq"
    )
    merged = CDC.merge_scd2(
        hist, changelog.where(F.col("ts") >= F.lit(cut)), KEYS, ATTRS, "ts", "seq"
    )
    assert _sorted(merged.select(*full.columns)) == _sorted(full)


def test_merge_late_data_splits_interval(spark, changelog):
    """A late change landing INSIDE an existing interval splits it and
    stays effective until the NEXT RUN boundary (run-view semantics:
    the repeat-observation at 2020-02-01 was collapsed into run 1, so
    the merge cannot — by design — resurrect it; see merge_scd2's
    docstring)."""
    late = _log(spark, [(1, datetime(2020, 1, 20), 99, "late", 10)])
    hist = CDC.scd2_from_changelog(changelog, KEYS, ATTRS, "ts", "seq")
    merged = CDC.merge_scd2(hist, late, KEYS, ATTRS, "ts", "seq")
    k1 = {r["change_seq"]: r for r in merged.where(F.col("k") == 1).collect()}
    assert k1[1]["valid_to"] == datetime(2020, 1, 20)
    # effective until the next surviving run boundary (2020-03-01),
    # NOT the collapsed 2020-02-01 observation
    assert k1[99]["a"] == "late" and k1[99]["valid_to"] == datetime(2020, 3, 1)
    # intervals still tile per key and exactly one run is current
    runs = sorted(
        merged.where(F.col("k") == 1).collect(), key=lambda r: (r["valid_from"], r["change_seq"])
    )
    assert sum(r["is_current"] for r in runs) == 1
    for prev, nxt in zip(runs, runs[1:]):
        assert prev["valid_to"] == nxt["valid_from"]


def test_merge_touches_only_delta_keys(spark, changelog):
    hist = CDC.scd2_from_changelog(changelog, KEYS, ATTRS, "ts", "seq")
    delta = _log(spark, [(2, datetime(2021, 1, 1), 100, "z2", 5)])
    merged = CDC.merge_scd2(hist, delta, KEYS, ATTRS, "ts", "seq")
    # untouched keys bit-identical
    assert _sorted(merged.where(F.col("k") != 2)) == _sorted(
        hist.where(F.col("k") != 2)
    )
    k2 = sorted(merged.where(F.col("k") == 2).collect(), key=lambda r: r["change_seq"])
    assert [r["a"] for r in k2] == ["z", "z2"]
    assert k2[0]["valid_to"] == datetime(2021, 1, 1) and k2[1]["is_current"]


def test_merge_repeat_of_current_collapses(spark, changelog):
    """A delta row repeating the key's current attrs adds NO run."""
    hist = CDC.scd2_from_changelog(changelog, KEYS, ATTRS, "ts", "seq")
    delta = _log(spark, [(2, datetime(2021, 1, 1), 100, "z", None)])
    merged = CDC.merge_scd2(hist, delta, KEYS, ATTRS, "ts", "seq")
    assert _sorted(merged) == _sorted(hist)


def test_as_of_snapshot(spark, changelog):
    scd = CDC.scd2_from_changelog(changelog, KEYS, ATTRS, "ts", "seq")
    snap = CDC.scd2_as_of(scd, F.lit("2020-03-15").cast("timestamp"))
    got = {r["k"]: (r["a"], r["b"]) for r in snap.collect()}
    assert got == {1: ("y", 10), 2: ("z", None)}  # key 3 not yet born
    # exactly one row per present key at any probe instant
    assert snap.groupBy("k").count().where("count > 1").count() == 0


def test_scd2_from_snapshots_deletes_and_reappearance(spark):
    from datas_spark.operators.cdc import scd2_from_snapshots

    # key 1: present s1 (x), s2 (x, collapses), s3 MISSING (delete),
    #        s4 back (y) — the gap must NOT be spanned
    # key 2: appears only at s3 (leading absences are no-ops)
    # key 3: present throughout, never changes -> ONE run
    snaps = spark.createDataFrame(
        [
            (1, 1, "x"), (1, 2, "x"), (1, 4, "y"),
            (2, 3, "z"), (2, 4, "z"),
            (3, 1, "c"), (3, 2, "c"), (3, 3, "c"), (3, 4, "c"),
        ],
        "k int, snap int, a string",
    )
    scd = scd2_from_snapshots(snaps, ["k"], ["a"], "snap")
    rows = {(r.k, r.valid_from): r for r in scd.collect()}
    assert set(rows) == {(1, 1), (1, 4), (2, 3), (3, 1)}
    # delete closes the run at the first non-observing snapshot
    assert rows[(1, 1)].valid_to == 3 and not rows[(1, 1)].is_current
    assert rows[(1, 4)].a == "y" and rows[(1, 4)].is_current
    assert rows[(2, 3)].is_current and rows[(2, 3)].valid_to is None
    assert rows[(3, 1)].is_current  # full collapse to one open run
    # exactly one current run per live key
    assert scd.where("is_current").groupBy("k").count().where("count > 1").count() == 0


def test_scd2_from_snapshots_attr_flip_without_gap(spark):
    from datas_spark.operators.cdc import scd2_from_snapshots

    snaps = spark.createDataFrame(
        [(1, 1, "x"), (1, 2, "y"), (1, 3, "x")], "k int, snap int, a string"
    )
    scd = scd2_from_snapshots(snaps, ["k"], ["a"], "snap")
    runs = sorted(scd.collect(), key=lambda r: r.valid_from)
    assert [(r.a, r.valid_from, r.valid_to) for r in runs] == [
        ("x", 1, 2), ("y", 2, 3), ("x", 3, None),
    ]


def test_merge_snapshot_equals_full_fold(spark):
    """Sequential per-snapshot merges land on the exact full-fold
    result, through deletes, reappearances, and attr flips."""
    from datas_spark.operators.cdc import merge_snapshot_scd2, scd2_from_snapshots

    snaps = spark.createDataFrame(
        [
            (1, 1, "x"), (1, 2, "x"), (1, 4, "y"),   # collapse, delete, return
            (2, 3, "z"), (2, 4, "z"),                  # late birth
            (3, 1, "c"), (3, 2, "d"), (3, 3, "d"), (3, 4, "c"),  # flips
        ],
        "k int, snap int, a string",
    )
    full = scd2_from_snapshots(snaps, ["k"], ["a"], "snap")
    hist = scd2_from_snapshots(
        snaps.where(F.col("snap") <= 2), ["k"], ["a"], "snap"
    ).select("k", "a", "valid_from", "valid_to", "is_current")
    for s in (3, 4):
        hist = merge_snapshot_scd2(
            hist, snaps.where(F.col("snap") == s).select("k", "a"), ["k"], ["a"], s
        )
    key = lambda df: sorted(tuple(repr(v) for v in r) for r in df.collect())
    assert key(hist) == key(full.select(*hist.columns))


def test_merge_snapshot_closed_history_untouched(spark):
    from datas_spark.operators.cdc import merge_snapshot_scd2, scd2_from_snapshots

    snaps = spark.createDataFrame(
        [(1, 1, "x"), (1, 2, "y")], "k int, snap int, a string"
    )
    hist = scd2_from_snapshots(snaps, ["k"], ["a"], "snap").select(
        "k", "a", "valid_from", "valid_to", "is_current"
    )
    # snapshot 3 repeats the current value: nothing changes at all
    merged = merge_snapshot_scd2(
        hist, spark.createDataFrame([(1, "y")], "k int, a string"), ["k"], ["a"], 3
    )
    key = lambda df: sorted(tuple(repr(v) for v in r) for r in df.collect())
    assert key(merged) == key(hist)


@pytest.mark.slow
def test_merge_snapshot_chain_depth_stays_linear(spark):
    """VERDICT r6 #7: a chain of 12 sequential nightly merges must stay
    LINEAR in wall-clock and plan size. merge_snapshot_scd2 relies on a
    lazy localCheckpoint to pin each generation; if a future edit drops
    it, every merge re-evaluates all prior merges per union branch and
    the chain goes exponential (measured 8.1s -> ~1s for a 2-merge
    chain at sf0.1 when the checkpoint landed). Correctness is asserted
    against the full fold; the budget bounds the regression."""
    import time

    from datas_spark.operators.cdc import merge_snapshot_scd2, scd2_from_snapshots

    n_snaps = 12
    rows = []
    for s in range(1, n_snaps + 1):
        for k in range(6):
            # key k flips its attr every (k+2) snapshots; key 5 blinks
            # in and out to exercise deletes/reappearances down the chain
            if k == 5 and s % 2 == 0:
                continue
            rows.append((k, s, f"v{(s // (k + 2)) % 3}"))
    snaps = spark.createDataFrame(rows, "k int, snap int, a string")

    hist = scd2_from_snapshots(
        snaps.where(F.col("snap") == 1), ["k"], ["a"], "snap"
    ).select("k", "a", "valid_from", "valid_to", "is_current")
    t0 = time.perf_counter()
    per_merge = []
    for s in range(2, n_snaps + 1):
        m0 = time.perf_counter()
        hist = merge_snapshot_scd2(
            hist, snaps.where(F.col("snap") == s).select("k", "a"), ["k"], ["a"], s
        )
        hist.count()  # materialize each generation, as a nightly job would
        per_merge.append(time.perf_counter() - m0)
    total = time.perf_counter() - t0

    full = scd2_from_snapshots(snaps, ["k"], ["a"], "snap")
    key = lambda df: sorted(tuple(repr(v) for v in r) for r in df.collect())
    assert key(hist) == key(full.select(*hist.columns))

    # linearity gates: an exponential chain re-evaluates every prior
    # merge, so the LAST merge costs >> the median and the total
    # explodes (2^11 plan evaluations); with the checkpoint each merge
    # is flat. Generous bounds that still catch the regression class.
    med = sorted(per_merge)[len(per_merge) // 2]
    assert per_merge[-1] < med * 6 + 2.0, (per_merge, med)
    assert total < 120, total


@pytest.mark.slow
def test_repair_equals_full_rebuild_on_shuffled_deltas(spark, changelog):
    """VERDICT r7 #8 done-criterion: repair from the retained log is
    bit-identical to a full rebuild for ARBITRARY (shuffled,
    out-of-order) straggler subsets — including ones merge_scd2 can
    only approximate with run-view semantics."""
    full = CDC.scd2_from_changelog(changelog, KEYS, ATTRS, "ts", "seq")
    # every nonempty straggler subset of seq ids, a few shuffled picks
    for late_seqs in ([2], [3, 7], [1, 4, 8], [6, 2, 5], [4]):
        late = changelog.where(F.col("seq").isin(late_seqs))
        early = changelog.where(~F.col("seq").isin(late_seqs))
        history = CDC.scd2_from_changelog(early, KEYS, ATTRS, "ts", "seq")
        repaired = CDC.scd2_repair_keys(
            history, early, late, KEYS, ATTRS, "ts", "seq"
        )
        assert _sorted(repaired) == _sorted(full), late_seqs
    # contrast: with seq 3 late, history collapsed k=1's runs to one
    # open "x" run (seq 4's re-observation is GONE from the compacted
    # history) — merge_scd2 must extend the late "y" to the end, while
    # repair replays the retained log and restores the x@[4/1 run
    late = changelog.where(F.col("seq") == 3)
    early = changelog.where(F.col("seq") != 3)
    history = CDC.scd2_from_changelog(early, KEYS, ATTRS, "ts", "seq")
    merged = CDC.merge_scd2(history, late, KEYS, ATTRS, "ts", "seq")
    assert _sorted(merged) != _sorted(full)  # the gap repair closes


def test_repair_untouched_keys_pass_through(spark, changelog):
    """Keys absent from the late batch are never replayed: their rows
    are the history's own (anti-join identity)."""
    late = changelog.where(F.col("seq") == 3)  # touches key 1 only
    early = changelog.where(F.col("seq") != 3)
    history = CDC.scd2_from_changelog(early, KEYS, ATTRS, "ts", "seq")
    repaired = CDC.scd2_repair_keys(
        history, early, late, KEYS, ATTRS, "ts", "seq"
    )
    want = _sorted(history.where(F.col("k") != 1))
    got = _sorted(repaired.where(F.col("k") != 1))
    assert got == want


def test_repair_partitioned_touches_only_straggler_partitions(
    spark, changelog, tmp_path
):
    """The mtime-isolation contract:
    a straggler batch for key 1 must leave every other partition's
    FILES untouched — not re-read-and-rewritten-identically."""
    import glob
    import os

    path = str(tmp_path / "scd2_store")
    pexpr = F.col("k") % 8
    late = changelog.where(F.col("seq") == 3)  # key 1 -> partition 1
    early = changelog.where(F.col("seq") != 3)
    history = CDC.scd2_from_changelog(early, KEYS, ATTRS, "ts", "seq")
    history.withColumn("kb", pexpr).write.partitionBy("kb").parquet(path)

    before = sorted(glob.glob(os.path.join(path, "kb=*", "*.parquet")))
    mtimes = {f: os.path.getmtime(f) for f in before}
    CDC.scd2_repair_partitioned(
        spark, path, early, late, KEYS, ATTRS, "ts", "seq", "kb", pexpr
    )
    after = sorted(glob.glob(os.path.join(path, "kb=*", "*.parquet")))
    untouched = [f for f in after if "/kb=1/" not in f]
    assert untouched and all(f in mtimes for f in untouched)
    assert all(os.path.getmtime(f) == mtimes[f] for f in untouched)
    # and the repaired store equals the full rebuild
    full = CDC.scd2_from_changelog(changelog, KEYS, ATTRS, "ts", "seq")
    got = spark.read.parquet(path).drop("kb")
    assert _sorted(got) == _sorted(full)
