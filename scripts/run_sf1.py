"""Measured scale validation: run the most expensive headline queries
at the synthesized sf1 (see ``gen_sf1.py``) and compare per-query
wall-clock against the sf0.1 numbers in ``BENCH_DETAIL.json``.

Pass criterion (VERDICT round-4 #4): at 10x the data, no query may
exceed ``10x its sf0.1 time + 0.3 s`` — linear-or-better scaling, with
the same additive slack as ``bench_diff.py`` so a 30 ms query jittering
to 0.4 s is noise, not a finding. Superlinear queries are listed
loudly. Every run appends a dated section to ``SF1_SCALING.md`` —
scale evidence is never overwritten.

Usage::

    python bench.py                       # refresh BENCH_RUN.json at sf0.1
    python scripts/gen_sf1.py             # synthesize once
    python scripts/run_sf1.py [--top 20] [--runs 3] [--same-session]

``--top 999`` runs the FULL headline set (VERDICT round-5 #3 — the two
known quadratics were both caught OUTSIDE the original top-20).

``--same-session`` (round-9 default for full refreshes) re-times each
query at sf0.1 in the SAME JVM right before its sf1 runs, instead of
comparing against the committed floors doc: this box's speed varies up
to ~2x between sessions, so a cross-session ratio conflates scale
behavior with box phase (round-6: two "superlinear" flags at 17.5x and
10.3x re-measured at 3.5x/3.2x back-to-back). Floors-based mode
remains for quick spot checks against known sf0.1 numbers.

Run on an otherwise-idle machine (concurrent Spark work inflates
timings ~2x).
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datas_spark.session import get_spark  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--top", type=int, default=20)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf1-dir", default=None)
    ap.add_argument("--same-session", action="store_true")
    ap.add_argument("--sf01-dir", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--queries", default=None,
        help="comma-separated query names (overrides --top selection; "
             "names need not have committed floors yet — pair with "
             "--same-session).",
    )
    args = ap.parse_args()
    sf1_dir = args.sf1_dir
    if sf1_dir is None:
        from scripts.gen_sf1 import default_out_dir

        sf1_dir = default_out_dir()
    if not os.path.exists(os.path.join(sf1_dir, "lineitem.parquet")):
        raise SystemExit(f"no sf1 data at {sf1_dir} — run scripts/gen_sf1.py first")

    with open(os.path.join(REPO, "BENCH_DETAIL.json")) as f:
        detail = json.load(f)
    if detail.get("sf") != 0.1:
        raise SystemExit(
            f"BENCH_DETAIL.json is at sf={detail.get('sf')}, need 0.1 — "
            "run `python bench.py` first"
        )
    base = detail["queries"]
    if args.queries:
        names = [n.strip() for n in args.queries.split(",") if n.strip()]
        base = {n: base.get(n, 0.0) for n in names}
        if not args.same_session:
            missing = [n for n in names if not base[n]]
            if missing:
                raise SystemExit(
                    f"no committed sf0.1 floors for {missing} — "
                    "use --same-session"
                )
    else:
        names = [
            n for n, _ in sorted(base.items(), key=lambda kv: -kv[1])
        ][: args.top]

    import __spark_entry__ as E

    queries = E.queries()
    spark = get_spark("datas-spark-sf1")
    spark.sparkContext.setLogLevel("ERROR")

    def timed(fn, sf_dir: str) -> float:
        fn(spark, sf_dir).count()  # warmup (also builds artifacts once)
        samples = []
        for _ in range(args.runs):
            t0 = time.time()
            fn(spark, sf_dir).count()
            samples.append(time.time() - t0)
        return round(statistics.median(samples), 3)

    results = {}
    import gc as _gc

    for name in names:
        fn = queries[name]
        if args.same_session:
            # numerator and denominator from the SAME JVM, back to back
            base[name] = timed(fn, args.sf01_dir)
        results[name] = timed(fn, sf1_dir)
        print(f"{name}: sf0.1={base[name]:.2f}s sf1={results[name]:.2f}s "
              f"({results[name] / max(base[name], 1e-9):.1f}x)", flush=True)
        spark.catalog.clearCache()
        _gc.collect()
    spark.stop()

    # label fix (VERDICT r11 minor #6): an explicit --queries list used
    # to shrink `base` and read as "FULL headline set (1 queries)"
    if args.queries:
        scope = f"explicit query list ({len(names)} queries)"
    elif args.top >= len(base):
        scope = f"FULL headline set ({len(names)} queries)"
    else:
        scope = f"top-{args.top} most expensive headline queries"
    mode = (
        "sf0.1 and sf1 timed back-to-back in ONE JVM per query "
        "(same-session ratios — box phase cancels)"
        if args.same_session
        else "sf0.1 baselines from the committed BENCH_DETAIL.json floors"
    )
    today = datetime.date.today().isoformat()
    lines = [
        "",
        f"## {today}: {scope}",
        "",
        f"Synthesized sf1 (10x sf0.1, `scripts/gen_sf1.py`) at `{sf1_dir}`;",
        f"median of {args.runs} timed runs after warmup, "
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]; {mode}.",
        "",
        "| query | sf0.1 (s) | sf1 (s) | ratio |",
        "|---|---|---|---|",
    ]
    worst = []
    for name in names:
        r = results[name] / max(base[name], 1e-9)
        bad = results[name] > base[name] * 10 + 0.3
        flag = " **> 10x**" if bad else ""
        lines.append(f"| {name} | {base[name]:.2f} | {results[name]:.2f} | {r:.1f}x{flag} |")
        if bad:
            worst.append(name)
    lines += [
        "",
        (
            f"**{len(worst)} queries exceed 10x: {', '.join(worst)}**"
            if worst
            else "**All queries scale at or below 10x — linear-or-better.**"
        ),
        "",
    ]
    out = os.path.join(REPO, "SF1_SCALING.md")
    if not os.path.exists(out):
        lines = [
            "# SF1 scaling runs",
            "",
            "Pass criterion: at 10x data, no query exceeds 10x its sf0.1 time",
            "+ 0.3 s (additive slack mutes timer noise on sub-100 ms queries).",
        ] + lines
    with open(out, "a") as f:
        f.write("\n".join(lines))
    print(f"appended {len(names)} rows to {out}")
    if worst:
        sys.exit(1)


if __name__ == "__main__":
    main()
