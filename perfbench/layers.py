"""Per-layer tracing for the benchmark's --trace 1 runs.

Three sources, all driven from the benchmark's own process:

* LayerClock wraps the public functions of the extraction modules and adds
  up the self time of each module while extract_document runs on one core.
* JobGroupMarkers wraps the public operators run_extraction_job calls
  (completed_parts, each funnel tier's operator, extract_stage).  A call
  marks the start of that layer's span: the wrapper notes the time and sets
  a Spark job group, so every Spark job the layer triggers is tagged with it.
* parse_event_log reads the uncompressed Spark event log after the session
  stops and sums task and SQL metrics by job group.
"""

from __future__ import annotations

import functools
import importlib
import json
import time
from collections import defaultdict
from dataclasses import dataclass, field

# extraction layer -> (module, attributes to wrap).  An empty tuple means
# every public function defined in the module.  The normalizers are reached
# through names other modules imported, so they are wrapped where used.
EXTRACTION_LAYERS = {
    "boilerplate": ("ocr_sam_project_spark.extraction.boilerplate", ()),
    "classifier": ("ocr_sam_project_spark.extraction.classifier", ()),
    "pdftext": ("ocr_sam_project_spark.extraction.pdftext", ()),
    "segmentation": ("ocr_sam_project_spark.extraction.segmentation", ()),
    "extractors": ("ocr_sam_project_spark.extraction.extractors", ()),
    "normalizers": ("ocr_sam_project_spark.extraction.document", ("parse_date_es",)),
}
_NORMALIZERS_IN_EXTRACTORS = ("parse_money",)


class _Patches:
    """Module attributes swapped for wrappers, restored on close.  Callers
    that look a function up through its module at call time get the
    wrapper; nothing in the package is edited."""

    def __init__(self) -> None:
        self._saved: list[tuple[object, str, object]] = []

    def wrap(self, mod, name: str, make) -> None:
        orig = getattr(mod, name)
        self._saved.append((mod, name, orig))
        setattr(mod, name, make(orig))

    def restore(self) -> None:
        for mod, name, orig in reversed(self._saved):
            setattr(mod, name, orig)
        self._saved.clear()


class LayerClock:
    """Self time per layer: a wrapped call's duration minus the time spent in
    wrapped calls it made."""

    def __init__(self) -> None:
        self.self_s: dict[str, float] = defaultdict(float)
        self._child: list[float] = []
        self._patches = _Patches()

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            self._child.append(0.0)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                self.self_s[layer] += dt - self._child.pop()
                if self._child:
                    self._child[-1] += dt

        return timed

    def __enter__(self) -> "LayerClock":
        for layer, (mod_name, names) in EXTRACTION_LAYERS.items():
            mod = importlib.import_module(mod_name)
            if not names:
                names = tuple(
                    n for n, v in vars(mod).items()
                    if callable(v) and not n.startswith("_")
                    and getattr(v, "__module__", None) == mod_name
                    and not isinstance(v, type)
                )
            for n in names:
                self._patches.wrap(mod, n, functools.partial(self._wrap, layer))
        extractors = importlib.import_module(EXTRACTION_LAYERS["extractors"][0])
        for n in _NORMALIZERS_IN_EXTRACTORS:
            self._patches.wrap(extractors, n, functools.partial(self._wrap, "normalizers"))
        return self

    def __exit__(self, *exc) -> None:
        self._patches.restore()


def profile_extraction(sample) -> dict[str, float]:
    """extraction.* metrics over a fixed page sample, in this process: one
    clean pass for pages/s on one core, then one wrapped pass for the
    per-module self times."""
    from ocr_sam_project_spark.extraction import document

    def run_all() -> None:
        for p in sample:
            document.extract_document(p.url, p.html, p.text, p.lang)

    run_all()  # warm the regex caches and lazily built tables
    t0 = time.perf_counter()
    run_all()
    clean_s = time.perf_counter() - t0
    with LayerClock() as clock:
        run_all()
    out = {"extraction.pages_per_s_1core": len(sample) / clean_s}
    for layer in EXTRACTION_LAYERS:
        out[f"extraction.{layer}_s"] = clock.self_s.get(layer, 0.0)
    return out


# --------------------------------------------------------------------------
# Spark-side spans

# (module, attribute) -> layer group whose span starts when it is called
PIPELINE_MARKERS = (
    ("ocr_sam_project_spark.pipeline.job", "completed_parts", "job.completed_parts"),
    ("ocr_sam_project_spark.operators.webgraph", "domain_suffixes", "tier.blocklist"),
    ("ocr_sam_project_spark.operators.webgraph", "robots_filter", "tier.robots"),
    ("ocr_sam_project_spark.operators.curation", "canonical_url", "tier.url_dedup"),
    ("ocr_sam_project_spark.operators.dedup", "dedup_losers", "tier.text_dedup"),
    ("ocr_sam_project_spark.operators.dedup", "corpus_fingerprints", "tier.fp_store"),
    ("ocr_sam_project_spark.pipeline.job", "extract_stage", "write"),
)


@dataclass
class UnitSpans:
    tag: str
    marks: list[tuple[str, float]] = field(default_factory=list)
    end: float = 0.0
    start_epoch_ms: float = 0.0
    end_epoch_ms: float = 0.0

    def spans(self) -> dict[str, float]:
        """Wall seconds from each marker to the next (the last to unit end)."""
        out: dict[str, float] = defaultdict(float)
        for (g, t), nxt in zip(self.marks, [t for _, t in self.marks[1:]] + [self.end]):
            out[g] += nxt - t
        return out


class JobGroupMarkers:
    """While active, each marked call starts a span and tags the Spark jobs
    that follow with the job group `<unit tag>|<layer>`.  A layer marks only
    once per unit: the fp-store append after the write reuses
    corpus_fingerprints but belongs to the bookkeeping after the write."""

    def __init__(self, spark, unit: UnitSpans) -> None:
        self.sc = spark.sparkContext
        self.unit = unit
        self._patches = _Patches()

    def mark(self, group: str) -> None:
        if any(g == group for g, _ in self.unit.marks):
            return
        self.unit.marks.append((group, time.monotonic()))
        self.sc.setJobGroup(f"{self.unit.tag}|{group}", group, False)

    def _wrap(self, group: str, fn):
        @functools.wraps(fn)
        def marked(*args, **kwargs):
            self.mark(group)
            return fn(*args, **kwargs)

        return marked

    def __enter__(self) -> "JobGroupMarkers":
        self.unit.start_epoch_ms = time.time() * 1000.0
        self.mark("job.plan")
        for mod_name, name, group in PIPELINE_MARKERS:
            mod = importlib.import_module(mod_name)
            self._patches.wrap(mod, name, functools.partial(self._wrap, group))
        return self

    def __exit__(self, *exc) -> None:
        self.unit.end = time.monotonic()
        self.unit.end_epoch_ms = time.time() * 1000.0
        self._patches.restore()
        self.sc.setJobGroup("", "", False)


class in_group:
    """Tags the Spark jobs of one separately timed call with `group`; `s`
    holds the call's wall seconds afterwards."""

    def __init__(self, spark, group: str) -> None:
        self.sc, self.group, self.s = spark.sparkContext, group, 0.0

    def __enter__(self) -> "in_group":
        self.sc.setJobGroup(self.group, self.group, False)
        self.t0 = time.monotonic()
        return self

    def __exit__(self, *exc) -> None:
        self.s = time.monotonic() - self.t0
        self.sc.setJobGroup("", "", False)


# --------------------------------------------------------------------------
# event log

_PY_METRICS = {
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "bytes_to_py",
    "data returned from Python workers": "bytes_from_py",
}
# A task on a freshly started Python worker reports both of these.  A task on
# a reused worker reports no start time, and its "initialize" time runs from
# the end of the worker's previous task (worker.py takes its boot timestamp
# at the top of its serve loop), i.e. it is idle time: such tasks are left
# out of py_start_ms.
_PY_START = "time to start Python workers"
_PY_INIT = "time to initialize Python workers"
_TASK_METRICS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.memoryBytesSpilled": "spill_mem",
    "internal.metrics.diskBytesSpilled": "spill_disk",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_bytes",
}


@dataclass
class EventLog:
    jobs: dict[int, dict] = field(default_factory=dict)
    stages: dict[int, dict] = field(default_factory=dict)
    py_rows_ids: set[int] = field(default_factory=set)
    # input bytes are the file scans' "size of files read", a driver-side
    # metric (scan_ids picks it out of each execution's driver updates).  The
    # tasks' input.bytesRead is not used: the parquet reader reads on threads
    # Spark's per-task byte counter does not see (a full 594 KB documents
    # scan reported 3 438 bytes read).
    scan_ids: set[int] = field(default_factory=set)
    driver_accums: dict[str, dict[int, float]] = field(default_factory=lambda: defaultdict(dict))

    def jobs_in(self, pred) -> list[dict]:
        return [j for j in self.jobs.values() if j["group"] and pred(j["group"])]

    @staticmethod
    def busy_ms(jobs: list[dict], lo: float, hi: float) -> float:
        """Length of the union of the jobs' [submit, complete] intervals,
        clipped to [lo, hi] (epoch ms)."""
        busy, reach = 0.0, lo
        for s, e in sorted((max(j["start"], lo), min(j["end"], hi)) for j in jobs):
            if e > reach:
                busy += e - max(s, reach)
                reach = e
        return busy

    def totals(self, jobs: list[dict]) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        seen: set[int] = set()
        for ex in {j["exec"] for j in jobs if j["exec"] is not None}:
            out["input_bytes"] += sum(
                v for aid, v in self.driver_accums.get(ex, {}).items() if aid in self.scan_ids
            )
        for j in jobs:
            out["jobs"] += 1
            for sid in j["stages"]:
                st = self.stages.get(sid)
                if st is None or sid in seen:
                    continue  # skipped (shuffle reused) or already counted
                seen.add(sid)
                out["tasks"] += st["tasks"]
                out["nonempty_tasks"] += st["nonempty_tasks"]
                for k, v in st["acc"].items():
                    out[k] += v
        return out


def _walk_plan(node: dict, ev: EventLog) -> None:
    name = node.get("nodeName", "")
    for m in node["metrics"]:
        if name.startswith("MapInPandas") and m["name"] == "number of output rows":
            ev.py_rows_ids.add(m["accumulatorId"])
        elif name.startswith("Scan") and m["name"] == "size of files read":
            ev.scan_ids.add(m["accumulatorId"])
    for c in node.get("children", []):
        _walk_plan(c, ev)


def parse_event_log(path: str) -> EventLog:
    """Jobs with their group, SQL execution and stages; per-stage sums of the
    tasks' own metric updates (a stage's cumulative SQL-metric values would
    count a node shared by two stages twice)."""
    ev = EventLog()
    acc: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    nonempty: dict[int, int] = defaultdict(int)
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                ev.jobs[e["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id") or "",
                    "exec": props.get("spark.sql.execution.id"),
                    "start": e["Submission Time"],
                    "end": e["Submission Time"],
                    "stages": e["Stage IDs"],
                }
            elif kind == "SparkListenerJobEnd":
                ev.jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                sid = e["Stage ID"]
                st = acc[sid]
                start: dict[str, float] = {}
                for a in (e.get("Task Info") or {}).get("Accumulables", []):
                    name, upd = a.get("Name"), a.get("Update")
                    key = _TASK_METRICS.get(name) or _PY_METRICS.get(name)
                    if key is not None:
                        st[key] += float(upd or 0)
                    elif name in (_PY_START, _PY_INIT):
                        start[name] = float(upd or 0)
                    elif name == "number of output rows":
                        st[("rows", a["ID"])] += float(upd or 0)
                if _PY_START in start:
                    st["py_start_ms"] += sum(start.values())
                if ((e.get("Task Metrics") or {}).get("Input Metrics") or {}).get("Records Read", 0) > 0:
                    nonempty[sid] += 1
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                ev.stages[si["Stage ID"]] = {
                    "tasks": si["Number of Tasks"],
                    "submit": si.get("Submission Time", 0),
                    "end": si.get("Completion Time", 0),
                }
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _walk_plan(e["sparkPlanInfo"], ev)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for aid, v in e["accumUpdates"]:
                    ev.driver_accums[str(e["executionId"])][aid] = float(v)
    for sid, st in ev.stages.items():
        st["nonempty_tasks"] = nonempty.get(sid, 0)
        sums = acc.get(sid, {})
        st["acc"] = {k: v for k, v in sums.items() if not isinstance(k, tuple)}
        st["acc"]["py_rows_out"] = sum(
            v for k, v in sums.items() if isinstance(k, tuple) and k[1] in ev.py_rows_ids
        )
    return ev
