"""Curation benchmark: one workload, one seed, one result line.

Run from the root of a source checkout::

    python3 perfbench/run.py --workload select --seed 1 --seconds 12 --trace 0

Each run generates its inputs from ``--seed`` under ``.perfbench/`` in
the checkout, starts Spark, times one cold pass and then ``--seconds``
worth of warm passes (see ``WARM_PASS_S``), checks every pass's output
digest against the cold pass, checks the workload on a small instance
against DuckDB replays of the registered oracles, and prints a
human-readable table followed by one JSON result line (the last line
of stdout).

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes and reports the per-layer metrics read from
Spark's event log (see ``attribution.py``).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# --seconds buys seconds / WARM_PASS_S warm passes (at least MIN_WARM).
# A fixed count, not a deadline: per-pass time and CPU still fall over
# every pass (JIT warm-up), so stopping on the clock moved the median to
# a different pass on a faster or slower box and widened the spread.
WARM_PASS_S = 4.0
MIN_WARM = 3
END_TO_END = (
    ("setup_s", "s"),
    ("first_pass_s", "s"),
    ("docs_per_s", "1/s"),
    ("cpu_s", "s"),
    ("peak_rss_mb", "MB"),
)


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="curation benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def isolate_env(root: str, work: str) -> dict[str, str]:
    """Pin everything Spark and its workers read from the environment,
    and point every output, temp files included, at the benchmark's
    scratch space."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        TMPDIR=tmp,
        # the launcher JVM spark-submit runs before the driver JVM
        SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM="3g",
        SPARK_GRAFT_ARTIFACTS=os.path.join(work, "artifacts"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        OMP_NUM_THREADS="1",
        PYTHONPATH=os.pathsep.join([root, HERE]),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # native-library extraction and other JVM temp files; no
        # hsperfdata file under /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def import_package(root: str):
    """Import the package from this checkout, or exit non-zero."""
    sys.path.insert(0, root)
    try:
        import datas_spark
    except ImportError as e:
        sys.exit(f"perfbench: cannot import datas_spark from {root}: {e}")
    if not os.path.abspath(datas_spark.__file__).startswith(os.path.join(root, "")):
        sys.exit(f"perfbench: datas_spark resolves outside the checkout: {datas_spark.__file__}")


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return (xs[0],) * 3
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


class Run:
    def __init__(self, args: argparse.Namespace, root: str):
        import workloads

        if args.workload not in workloads.WORKLOADS:
            sys.exit(f"perfbench: unknown workload {args.workload!r}")
        self.args = args
        self.w = workloads.WORKLOADS[args.workload]
        self.work = os.path.join(root, ".perfbench")
        shutil.rmtree(self.work, ignore_errors=True)
        self.conf = isolate_env(root, self.work)
        if args.trace:
            self.events = os.path.join(self.work, "events")
            os.makedirs(self.events)
            self.conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.events,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.attempted = self.failed = 0
        self.mismatched = False
        self.small_ok = False
        self.expected: str | None = None
        self.windows: dict[str, tuple[float, float]] = {}  # traced passes, epoch s

    # -------------------------------------------------------------- setup

    def generate(self) -> None:
        import gen

        self.data = os.path.join(self.work, "data")
        self.small = os.path.join(self.work, "small")
        gen.write(self.args.seed, self.w.shape, self.data)
        gen.write(self.args.seed, self.w.small, self.small)

    def start_spark(self) -> float:
        """Launch the JVM through get_spark and run one trivial job;
        returns the seconds that took (``setup_s``)."""
        from datas_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark(app_name="perfbench", extra_conf=self.conf)
        spark.sparkContext.setJobDescription("harness|setup")
        spark.range(1).count()
        setup_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        self.app_id = spark.sparkContext.applicationId
        self.jvm_pid = spark.sparkContext._gateway.proc.pid
        return setup_s

    def stop_spark(self) -> None:
        gw = self.spark.sparkContext._gateway
        self.spark.stop()
        gw.shutdown()
        proc = gw.proc
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    # ------------------------------------------------------------- passes

    def one_pass(self, tag: str, tracer=None) -> tuple[float, float] | None:
        """Run the workload once at full size; ``(wall_s, cpu_s)``, or
        None when the pass raised or its digest is wrong."""
        import oracle
        import procstat

        out = os.path.join(self.work, "out")
        shutil.rmtree(out, ignore_errors=True)
        self.attempted += 1
        sc = self.spark.sparkContext
        c0 = procstat.cpu_seconds(self.jvm_pid)
        t0 = time.perf_counter()
        start = time.time()
        try:
            if tracer is None:
                sc.setJobDescription(f"untraced|{tag}")
                self.w.run(self.spark, self.data, out)
            else:
                tracer.tag = tag
                self.w.traced(self.spark, self.data, out, tracer.call)
        except Exception:  # a failed pass is counted, not fatal
            print(f"perfbench: pass {tag} failed:\n{traceback.format_exc()[-4000:]}", file=sys.stderr)
            self.failed += 1
            return None
        finally:
            sc.setJobDescription(None)
            if tracer is not None:
                self.windows[tag] = (start, time.time())
        wall = time.perf_counter() - t0
        cpu = procstat.cpu_seconds(self.jvm_pid) - c0
        print(f"perfbench: pass {tag} wall {wall:.3f} s cpu {cpu:.2f} s", file=sys.stderr)
        got = oracle.digest(oracle.read_output(out, self.w.sink))
        if self.expected is None:
            self.expected = got
        elif got != self.expected:
            print(f"perfbench: pass {tag} digest {got} != {self.expected}", file=sys.stderr)
            self.failed += 1
            self.mismatched = True
            return None
        return wall, cpu

    def check_small(self) -> bool:
        """The workload on the small instance vs the DuckDB oracle."""
        import oracle

        out = os.path.join(self.work, "out-small")
        self.spark.sparkContext.setJobDescription("harness|oracle")
        self.w.run(self.spark, self.small, out)
        self.spark.sparkContext.setJobDescription(None)
        got = oracle.digest(oracle.read_output(out, self.w.sink))
        want = oracle.digest(oracle.expected_rows(self.w.name, self.small))
        if got != want:
            print(f"perfbench: small-instance digest {got} != oracle {want}", file=sys.stderr)
        return got == want

    # ---------------------------------------------------------------- run

    def measure(self) -> dict:
        import attribution
        import procstat

        a = self.args
        walls, cpus, traced_walls = [], [], []
        tracer = attribution.Tracer(self.spark, self.jvm_pid) if a.trace else None
        with procstat.PeakRss(self.jvm_pid) as rss:
            cold = self.one_pass("cold")
            # the oracle check runs between the cold and the warm passes:
            # the first pass stays cold, and the check's small pass runs
            # the same code, so it doubles as JIT warm-up
            self.small_ok = self.check_small()
            n_warm = max(MIN_WARM, round(a.seconds / WARM_PASS_S))
            if tracer is not None:  # each warm pass pairs with a traced one
                n_warm = max(2, n_warm // 2)
            for i in range(n_warm):
                warm = self.one_pass(f"u{i}")
                if warm:
                    walls.append(warm[0])
                    cpus.append(warm[1])
                if tracer is not None:
                    tw = self.one_pass(f"t{i}", tracer)
                    if tw:
                        traced_walls.append(tw[0])
        if cold is None or not walls:
            raise RuntimeError("no successful pass")
        return {
            "cold": cold,
            "walls": walls,
            "cpus": cpus,
            "traced_walls": traced_walls,
            "peak_rss_mb": rss.peak,
            "tracer": tracer,
        }


def main() -> int:
    args = parse_args()
    root = os.getcwd()
    import_package(root)
    if args.trace:
        import attribution
        import procstat

        attribution.self_test()
        procstat.self_test()
    run = Run(args, root)
    run.generate()
    setup_s = run.start_spark()
    try:
        m = run.measure()
        correct = run.small_ok and not run.mismatched
    finally:
        run.stop_spark()

    walls = m["walls"]
    q1, med, q3 = quartiles(walls)
    docs = run.w.shape.total_docs
    table = [
        ("docs", docs, "docs"),
        ("warm_passes", len(walls), "count"),
        ("setup_s", setup_s, "s"),
        ("first_pass_s", m["cold"][0], "s"),
        ("warm_pass_q1_s", q1, "s"),
        ("warm_pass_median_s", med, "s"),
        ("warm_pass_q3_s", q3, "s"),
        ("docs_per_s", docs / med, "1/s"),
        ("cpu_s", statistics.median(m["cpus"]), "s"),
        ("peak_rss_mb", m["peak_rss_mb"], "MB"),
        ("fail_rate", run.failed / run.attempted, "ratio"),
    ]
    values = {k: (v, u) for k, v, u in table}
    if args.trace:
        import attribution

        tracer = m["tracer"]
        (log,) = glob.glob(os.path.join(run.events, run.app_id + "*"))
        with open(log) as f:
            per, tasks = attribution.parse_event_log(f)
        traced_tasks, unattributed = attribution.check_totals(per, tasks, run.windows)
        layer = attribution.layer_metrics(tracer.spans, per, sorted(run.windows))
        units = dict(attribution.metric_names())
        metrics = {k: (layer[k], units[k]) for k in units}
        metrics["trace_overhead_s"] = (
            statistics.median(m["traced_walls"]) - med if m["traced_walls"] else 0.0,
            "s",
        )
        # over the tasks of the traced passes, the only ones that can lack a tag
        metrics["unattributed_task_share"] = (unattributed / max(traced_tasks, 1), "ratio")
        table += [(k, v, u) for k, (v, u) in metrics.items()]
    else:
        metrics = {k: values[k] for k, _ in END_TO_END}

    print(f"workload={args.workload} seed={args.seed} trace={args.trace} passes={run.attempted}")
    for k, v, u in table:
        print(f"  {k:<48} {v:>14.4f} {u}")
    shutil.rmtree(run.work, ignore_errors=True)
    result = {
        "correct": bool(correct),
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if correct and run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
