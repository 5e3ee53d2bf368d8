"""Per-layer attribution for a traced pass.

`Tracer.call` wraps one call into a layer's public function in a span
(layer, function, pass tag, parent, start, end). While the span is open
its Spark jobs carry the job description ``<layer>|<pass tag>``, and a
DataFrame result is forced with an eager ``localCheckpoint`` so the
layer's work runs inside its own span. Rows out are counted afterwards
under a ``harness|…`` description, outside the span.

`parse_event_log` reads Spark's JSON-lines event log and sums task
metrics per job description; tasks of jobs without a description land
in ``unattributed``. `check_totals` checks that every task launched
during a traced pass carries that pass's tag (a layer or the harness)
or no description, and counts the unattributed ones. `layer_metrics`
joins spans and event log into one value per layer and metric: the
median over the traced passes.

Self-test of the parser (no Spark needed)::

    python3 perfbench/attribution.py --self-test
"""

from __future__ import annotations

import json
import statistics
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

import procstat

LAYERS = (
    "io.sources",
    "io.sinks",
    "operators.scoring",
    "operators.clustering",
    "operators.selection",
    "operators.dedup",
    "operators.corpus",
)
# (metric, unit); py_cpu_s is reported for operators.scoring only
METRICS = (
    ("self_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("exec_cpu_s", "s"),
    ("exec_wait_s", "s"),
    ("gc_s", "s"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
    ("rows_out", "rows"),
    ("rows_out_per_shuffle_row", "ratio"),
)
SCORING_EXTRA = (("py_cpu_s", "s"),)
UNATTRIBUTED = "unattributed"


def metric_names() -> list[tuple[str, str]]:
    out = [(f"{layer}.{m}", u) for layer in LAYERS for m, u in METRICS]
    out += [(f"operators.scoring.{m}", u) for m, u in SCORING_EXTRA]
    return out


@dataclass
class Span:
    layer: str
    name: str
    tag: str
    parent: int | None
    start: float
    end: float = 0.0
    child_s: float = 0.0
    rows_out: int = 0
    py_cpu_s: float = 0.0

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.child_s


@dataclass
class Tracer:
    spark: object
    jvm_pid: int
    spans: list[Span] = field(default_factory=list)
    tag: str = ""
    _stack: list[int] = field(default_factory=list)

    def describe(self, desc: str | None) -> None:
        self.spark.sparkContext.setJobDescription(desc)

    def call(self, layer: str, fn, *args, **kw):
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        parent = self._stack[-1] if self._stack else None
        span = Span(layer, getattr(fn, "__name__", "call"), self.tag, parent, time.perf_counter())
        self.spans.append(span)
        self._stack.append(len(self.spans) - 1)
        py0 = procstat.cpu_seconds(self.jvm_pid, python_only=True)
        self.describe(f"{layer}|{self.tag}")
        try:
            out = _force(fn(*args, **kw))
        finally:
            span.end = time.perf_counter()
            span.py_cpu_s = procstat.cpu_seconds(self.jvm_pid, python_only=True) - py0
            self._stack.pop()
            if parent is not None:
                self.spans[parent].child_s += span.end - span.start
                self.spans[parent].py_cpu_s -= span.py_cpu_s
        self.describe(f"harness|{self.tag}")
        frames = [x for x in (out if isinstance(out, tuple) else (out,)) if _is_frame(x)]
        if not frames and args and _is_frame(args[0]):  # sinks: rows written
            frames = [args[0]]
        span.rows_out = sum(f.count() for f in frames)
        # back to the enclosing span's tag (no tag between top-level spans)
        self.describe(f"{self.spans[parent].layer}|{self.tag}" if parent is not None else None)
        return out


def _is_frame(x) -> bool:
    return hasattr(x, "localCheckpoint")


def _force(out):
    if isinstance(out, tuple):
        return tuple(_force(x) for x in out)
    return out.localCheckpoint(eager=True) if _is_frame(out) else out


# ------------------------------------------------------------- event log


def _zero() -> dict[str, float]:
    return defaultdict(float)


def parse_event_log(lines) -> tuple[dict[str, dict[str, float]], list[tuple[str, float]]]:
    """Sum task metrics per job description. Returns ``(per_desc,
    tasks)``: ``per_desc[desc]`` holds jobs, tasks, run_s, cpu_s, gc_s,
    shuffle_bytes, shuffle_records, spill_bytes; ``tasks`` lists every
    task's ``(desc, launch time in epoch seconds)``. Jobs and stages
    without a description are keyed ``unattributed``."""
    stage_desc: dict[int, str] = {}
    per: dict[str, dict[str, float]] = defaultdict(_zero)
    pending: list[tuple[int, float, dict]] = []
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description") or UNATTRIBUTED
            per[desc]["jobs"] += 1
            for sid in ev.get("Stage IDs", ()):
                stage_desc.setdefault(sid, desc)
        elif kind == "SparkListenerStageSubmitted":
            desc = (ev.get("Properties") or {}).get("spark.job.description")
            if desc:
                stage_desc[ev["Stage Info"]["Stage ID"]] = desc
        elif kind == "SparkListenerTaskEnd":
            launch = ev["Task Info"]["Launch Time"] / 1e3
            pending.append((ev["Stage ID"], launch, ev.get("Task Metrics") or {}))
    tasks = []
    for sid, launch, m in pending:
        desc = stage_desc.get(sid, UNATTRIBUTED)
        tasks.append((desc, launch))
        d = per[desc]
        sw = m.get("Shuffle Write Metrics") or {}
        d["tasks"] += 1
        d["run_s"] += m.get("Executor Run Time", 0) / 1e3
        d["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        d["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        d["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
        d["shuffle_records"] += sw.get("Shuffle Records Written", 0)
        d["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return dict(per), tasks


def check_totals(
    per: dict[str, dict[str, float]],
    tasks: list[tuple[str, float]],
    windows: dict[str, tuple[float, float]],
) -> tuple[int, int]:
    """Check the tagging of a traced run against the traced passes'
    wall-clock ``windows`` (``{tag: (start, end)}``, epoch seconds).

    Every description must be ``<layer>|<traced tag>``,
    ``harness|<any>``, ``untraced|<any>`` or ``unattributed``. A task
    launched inside a traced pass's window must carry that pass's tag
    or no description; a task carrying a traced tag must have been
    launched inside its window. Returns ``(tasks in traced passes,
    unattributed tasks among them)``; the layer sums plus the harness
    and unattributed tasks must add up to the first."""
    for desc in per:
        kind, _, tag = desc.partition("|")
        known = desc == UNATTRIBUTED or kind in ("harness", "untraced") or (
            kind in LAYERS and tag in windows
        )
        if not known:
            raise AssertionError(f"unknown job description {desc!r}")
    # window edges to whole ms, the resolution of Spark's launch times
    ms = {t: (int(a * 1e3) / 1e3, -int(-b * 1e3) / 1e3) for t, (a, b) in windows.items()}
    inside = unattributed = 0
    for desc, launch in tasks:
        kind, _, tag = desc.partition("|")
        where = [t for t, (a, b) in ms.items() if a <= launch <= b]
        if tag in windows and kind != "untraced" and where != [tag]:
            raise AssertionError(f"task of {desc!r} launched at {launch:.3f}, outside its pass")
        if where:
            inside += 1
            if desc == UNATTRIBUTED:
                unattributed += 1
            elif tag not in where or kind == "untraced":
                raise AssertionError(f"task of {desc!r} launched inside traced pass {where[0]!r}")
    tagged = sum(
        int(d.get("tasks", 0))
        for desc, d in per.items()
        if desc.partition("|")[2] in windows and desc.partition("|")[0] in LAYERS + ("harness",)
    )
    if tagged + unattributed != inside:
        raise AssertionError(f"traced passes ran {inside} tasks; {tagged} tagged + {unattributed} unattributed")
    return inside, unattributed


def layer_metrics(spans: list[Span], per: dict[str, dict[str, float]], tags: list[str]) -> dict[str, float]:
    """Median over traced passes ``tags`` of each layer metric."""
    samples: dict[str, list[float]] = defaultdict(list)
    for tag in tags:
        for layer in LAYERS:
            mine = [s for s in spans if s.tag == tag and s.layer == layer]
            ev = per.get(f"{layer}|{tag}", {})
            shuffle_rows = ev.get("shuffle_records", 0)
            rows = sum(s.rows_out for s in mine)
            vals = {
                "self_s": sum(s.self_s for s in mine),
                "jobs": ev.get("jobs", 0),
                "tasks": ev.get("tasks", 0),
                "exec_cpu_s": ev.get("cpu_s", 0),
                "exec_wait_s": ev.get("run_s", 0) - ev.get("cpu_s", 0),
                "gc_s": ev.get("gc_s", 0),
                "shuffle_write_mb": ev.get("shuffle_bytes", 0) / 2**20,
                "spill_mb": ev.get("spill_bytes", 0) / 2**20,
                "rows_out": rows,
                "rows_out_per_shuffle_row": rows / max(shuffle_rows, 1) if mine else 0.0,
            }
            if layer == "operators.scoring":
                vals["py_cpu_s"] = sum(s.py_cpu_s for s in mine)
            for m, v in vals.items():
                samples[f"{layer}.{m}"].append(float(v))
    return {k: statistics.median(v) for k, v in samples.items()}


# -------------------------------------------------------------- self-test


def _job(jid: int, stages: list[int], desc: str | None) -> str:
    props = {"spark.job.description": desc} if desc else {}
    return json.dumps({"Event": "SparkListenerJobStart", "Job ID": jid, "Stage IDs": stages, "Properties": props})


def _task(sid: int, launch_ms: int, cpu_ns: int = 1_000_000, shuffle_records: int = 0) -> str:
    return json.dumps(
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": sid,
            "Task Info": {"Launch Time": launch_ms},
            "Task Metrics": {
                "Executor Run Time": 30,
                "Executor CPU Time": cpu_ns,
                "JVM GC Time": 1,
                "Disk Bytes Spilled": 0,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**20, "Shuffle Records Written": shuffle_records},
            },
        }
    )


def _expect(ok: bool, what: str) -> None:
    if not ok:
        raise AssertionError(what)


def _rejects(log: list[str], windows: dict[str, tuple[float, float]]) -> bool:
    try:
        check_totals(*parse_event_log(log), windows)
    except AssertionError:
        return True
    return False


def self_test() -> None:
    """Parser and tagging invariants on hand-built logs: the tasks of a
    traced pass split into layers, harness and ``unattributed``; a job
    with no description is ``unattributed``; metrics land on the right
    layer; a mistagged job fails the check."""
    windows = {"t0": (100.0, 102.0)}
    setup = [_job(0, [0], "harness|setup"), _task(0, 99_000)]
    log = setup + [
        _job(1, [1, 2], "operators.dedup|t0"),
        _task(1, 100_100, 10_000_000, shuffle_records=5),
        _task(2, 100_200, 20_000_000),
        _job(2, [3], None),
        _task(3, 100_500, 5_000_000),
        _job(3, [4], "harness|t0"),
        _task(4, 101_000),
        _task(4, 101_100),
        _job(4, [5], "untraced|u0"),
        _task(5, 103_000),
    ]
    per, tasks = parse_event_log(log)
    _expect(len(tasks) == 7, f"tasks {len(tasks)}")
    inside, unattributed = check_totals(per, tasks, windows)
    _expect((inside, unattributed) == (5, 1), f"traced tasks {inside}, unattributed {unattributed}")
    u = per[UNATTRIBUTED]
    _expect(u["tasks"] == 1 and u["jobs"] == 1, f"unattributed {dict(u)}")
    spans = [Span("operators.dedup", "exact_dedup", "t0", None, 0.0, 2.0, rows_out=10)]
    lm = layer_metrics(spans, per, ["t0"])
    _expect(lm["operators.dedup.jobs"] == 1 and lm["operators.dedup.tasks"] == 2, "dedup counts")
    _expect(abs(lm["operators.dedup.exec_cpu_s"] - 0.03) < 1e-12, "dedup cpu")
    _expect(abs(lm["operators.dedup.exec_wait_s"] - 0.03) < 1e-12, "dedup wait")
    _expect(lm["operators.dedup.shuffle_write_mb"] == 2.0, "dedup shuffle")
    _expect(lm["operators.dedup.rows_out_per_shuffle_row"] == 2.0, "dedup useful ratio")
    _expect(lm["operators.corpus.tasks"] == 0 and lm["io.sinks.self_s"] == 0, "idle layers")
    mistagged = {
        "unknown layer": [_job(1, [1], "operators.dedupe|t0"), _task(1, 100_100)],
        "unknown pass": [_job(1, [1], "operators.dedup|t9"), _task(1, 100_100)],
        "layer job outside its pass": [_job(1, [1], "operators.dedup|t0"), _task(1, 102_500)],
        "untraced job inside a traced pass": [_job(1, [1], "untraced|u0"), _task(1, 100_100)],
        "set-up job inside a traced pass": [_job(1, [1], "harness|setup"), _task(1, 101_000)],
    }
    for what, extra in mistagged.items():
        _expect(_rejects(setup + extra, windows), f"check accepted a {what}")


if __name__ == "__main__":
    if sys.argv[1:] != ["--self-test"]:
        sys.exit("usage: attribution.py --self-test")
    self_test()
    print("attribution self-test ok")
