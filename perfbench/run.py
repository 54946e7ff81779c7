#!/usr/bin/env python3
"""Extraction benchmark: one workload per invocation, closed loop.

    python3 perfbench/run.py --workload funnel_dup --seed 1 --seconds 10 --trace 0

Run from the repository root.  After two untimed warm units, one caller runs
one timed unit at a time and waits for its result, for --seconds seconds and
at least two units, on local[nproc] with shuffle partitions set to the same
count.  Pipeline inputs are made from --seed under a scratch directory in
the checkout, which is removed on exit; operator_suite reads the TESTDATA
copies under perfbench/testdata/.  Every output is checked against a
reference; on any mismatch the result line says "correct": false and the exit
code is 1.

--trace 0 prints the end-to-end metrics; --trace 1 runs with the Spark event
log on and prints the per-layer metrics instead (see perfbench/README.md).
The last line of stdout is one JSON object: correct, attempted, failed,
metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "ocr_sam_project_spark"

WORKLOADS = ("html_extract", "pdf_text", "funnel_dup", "operator_suite")
# pages per unit (pipeline workloads) or the TESTDATA scale of the suite's
# documents and embeddings
SIZES = {
    "full": {"html_extract": 2000, "pdf_text": 800, "funnel_dup": 600, "operator_suite": "sf0.1"},
    "tiny": {"html_extract": 200, "pdf_text": 60, "funnel_dup": 200, "operator_suite": "sf0.001"},
}
# The four leaves that regressed in round 6 (robots, bm25, lsh clusters, ivf),
# the near-store probe the profile targets first, and the one leaf whose
# oracle disagrees with the typed hash (hll).  One pass over these six takes
# about 10 s at sf0.1 on a 4-vCPU Xeon VM, so two warm and two timed passes
# fit a run's budget; the other leaves the suite could hold do not.
SUITE = (
    "g_robots_filter",
    "t_bm25_topk",
    "d_lsh_clusters_fast",
    "d_near_store_fast",
    "s_ivf_assign",
    "a_hll_distinct",
)
MIN_UNITS = 2  # timed units per run, at least: wall_s is their median
DRIVER_MEMORY = "2g"

END_TO_END = {"wall_s": "s", "pages_per_s": "pages/s", "setup_s": "s", "peak_rss_mb": "MB"}
# reported on every run but kept out of the JSON: each is 0 on a correct run
# and feeds "correct"/"failed" instead
CHECKS = {"error_frac": "ratio", "failed_frac": "ratio", "golden_mismatch": "count"}
TIERS = ("blocklist", "robots", "url_dedup", "text_dedup", "fp_store")
PER_LAYER = {
    "extraction.pages_per_s_1core": "pages/s",
    "extraction.boilerplate_s": "s",
    "extraction.classifier_s": "s",
    "extraction.pdftext_s": "s",
    "extraction.segmentation_s": "s",
    "extraction.extractors_s": "s",
    "extraction.normalizers_s": "s",
    "stages.extract_s": "s",
    "stages.py_run_s": "s",
    "stages.py_start_s": "s",
    "stages.bytes_to_py": "bytes",
    "stages.bytes_from_py": "bytes",
    "stages.rows_out": "count",
    "sources.scan_s": "s",
    "sources.input_bytes": "bytes",
    "sources.scan_tasks_nonempty": "count",
    "job.split_bytes": "bytes",
    "job.map_tasks": "count",
    "job.completed_parts_s": "s",
    "job.bookkeeping_s": "s",
    **{f"tier.{t}.{m}": u for t in TIERS for m, u in (("s", "s"), ("drops", "count"), ("shuffle_bytes", "bytes"))},
    "write.s": "s",
    "write.shuffle_bytes": "bytes",
    "write.files": "count",
    "write.bytes": "bytes",
    **{f"op.{q}.{m}": u for q in SUITE for m, u in (("s", "s"), ("jobs", "count"), ("shuffle_bytes", "bytes"))},
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "trace.overhead_s": "s",
    "trace.unattributed_frac": "ratio",
}


# --------------------------------------------------------------------------
# process-tree peak RSS

def tree_peak_rss_bytes() -> int:
    """Sum of the kernel's per-process peak RSS (VmHWM) over this process
    and every live descendant: the driver, the JVM and the Python workers.
    Read while they are all alive, before Spark stops.  Peaks kept by the
    kernel miss no spike between samples, and a child the JVM has spawned
    but not yet exec'd (which briefly reports the JVM's whole RSS) is gone
    by the time this runs."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/status") as f:
                total += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:")) << 10
        except (OSError, StopIteration, ValueError):
            pass  # exited meanwhile, or a kernel thread
        stack.extend(children.get(pid, ()))
    return total


# --------------------------------------------------------------------------
# Spark

def start_spark(work: str, cores: int, event_dir: str | None):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp  # inherited by the JVM and the Python workers
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # a fixed-size heap: the JVM's RSS then grows into a set heap rather
        # than with resize decisions, which keeps peak_rss_mb steadier
        .config("spark.driver.extraJavaOptions",
                f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
    )
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + event_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    # Python workers do not inherit the driver's sys.path: ship the package
    # the way spark-submit --py-files would.
    zip_path = shutil.make_archive(os.path.join(work, PACKAGE), "zip", root_dir=ROOT, base_dir=PACKAGE)
    spark.sparkContext.addPyFile(zip_path)
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM (and
    with it the Python worker daemon) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Run:
    """One benchmark invocation: set-up, warm units, closed timed loop,
    checks.  The workload-specific parts live in the subclasses."""

    def __init__(self, spark, work: str, cores: int, seed: int, size: str, corrupt: str | None):
        self.spark, self.work, self.cores = spark, work, cores
        self.seed, self.size, self.corrupt = seed, size, corrupt
        self.walls: list[float] = []
        self.traced_walls: list[float] = []
        self.failed = 0
        self.mismatch = 0
        self.error_frac = 0.0

    # subclass API -------------------------------------------------------
    n_pages = 0
    # Untimed units before timing.  The first pays the Python worker spawn
    # and the plan compiles.
    warm_units = 1

    def prepare(self) -> None: ...
    def warm(self, i: int) -> None: ...
    def unit(self, i: int, traced: bool) -> None: ...
    def check(self) -> None: ...
    def separate_calls(self) -> None: ...
    def finish_layers(self, ev) -> dict[str, float]: return {}
    def profile_sample(self) -> list: return []

    # timed loop ---------------------------------------------------------
    def loop(self, seconds: float, alternate_traced: bool) -> None:
        """Closed loop.  In a traced run, plain and traced units alternate in
        ABBA order, so a drift over the run (the JIT still warming) does not
        land on one side, and each side gets at least two units."""
        t_start = time.monotonic()
        least = 4 if alternate_traced else MIN_UNITS
        i = 0
        while i < least or time.monotonic() - t_start < seconds:
            traced = alternate_traced and i % 4 in (1, 2)
            try:
                self.unit(i, traced)
            except Exception:  # a failed unit is counted, not fatal
                traceback.print_exc()
                self.failed += 1
            i += 1

    @property
    def attempted(self) -> int:
        return len(self.walls) + len(self.traced_walls) + self.failed


# --------------------------------------------------------------------------
# pipeline workloads

class PipelineRun(Run):
    def __init__(self, name: str, *args) -> None:
        super().__init__(*args)
        self.name = name
        self.job_kwargs: dict = {}
        self.last_out: str | None = None
        self.units: list = []

    def prepare(self) -> None:
        import inputs

        self.inp = getattr(inputs, self.name)(self.work, self.seed, SIZES[self.size][self.name])
        self.n_pages = self.inp.n_pages
        if self.name == "funnel_dup":
            from ocr_sam_project_spark.operators.dedup import corpus_fingerprints
            from ocr_sam_project_spark.operators.webgraph import parse_robots

            sp = self.spark
            self.store_seed = os.path.join(self.work, "fp_store_seed")
            store_pages = sp.read.parquet(self.inp.store_path)
            corpus_fingerprints(store_pages, "text", "url").write.parquet(self.store_seed)
            self.job_kwargs = dict(
                dedup="exact",
                url_dedup=True,
                pii_scrub=True,
                blocklist=sp.createDataFrame([(d,) for d in self.inp.blocklist], "domain string"),
                robots_rules=parse_robots(
                    sp.createDataFrame(sorted(self.inp.robots_txt.items()), "host string, robots_txt string")
                ),
            )

    def profile_sample(self) -> list:
        return self.inp.profile_sample

    def _kwargs(self, i: int) -> dict:
        kw = dict(self.job_kwargs)
        if self.name == "funnel_dup":
            # every unit starts from a fresh copy of the seeded store, because
            # the job appends this run's fingerprints to it
            store = os.path.join(self.work, f"fp_store_{i}")
            shutil.copytree(self.store_seed, store)
            kw["fp_store_path"] = store
        return kw

    def _run_job(self, i: int, tag: str, traced: bool):
        from contextlib import nullcontext

        from ocr_sam_project_spark.pipeline.job import run_extraction_job

        import layers as tr

        out = os.path.join(self.work, f"out_{tag}{i}")
        kw = self._kwargs(i)
        spans = tr.UnitSpans(f"{tag}{i}")
        t0 = time.monotonic()
        with tr.JobGroupMarkers(self.spark, spans) if traced else nullcontext():
            summary = run_extraction_job(self.spark, self.inp.path, out, run_id=f"{tag}{i}",
                                         num_parts=self.cores, **kw)
        wall = time.monotonic() - t0
        return out, summary, wall, spans

    def warm(self, i: int) -> None:
        out, _, _, _ = self._run_job(i, "warm", False)
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(os.path.join(self.work, f"fp_store_{i}"), ignore_errors=True)

    def unit(self, i: int, traced: bool) -> None:
        out, summary, wall, spans = self._run_job(i, "unit", traced)
        (self.traced_walls if traced else self.walls).append(wall)
        self.mismatch += self._count_mismatch(summary)
        if traced:
            self.units.append((spans, summary, _dir_files(os.path.join(out, "extractions")),
                               self.spark.conf.get("spark.sql.files.maxPartitionBytes")))
        if self.last_out:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self.last_out = out
        shutil.rmtree(os.path.join(self.work, f"fp_store_{i}"), ignore_errors=True)

    def _expected_drops(self) -> dict[str, int]:
        planted = dict(self.inp.planted)
        if self.corrupt == "count" and planted:
            planted["blocklist"] += 1
        return planted

    def _count_mismatch(self, summary: dict) -> int:
        """Per-unit count check: surviving documents and, on funnel_dup, each
        tier's drops against what was planted for it."""
        bad = abs(summary["docs_in"] - self.inp.survivors)
        got = _tier_drops(summary)
        for tier, want in self._expected_drops().items():
            bad += abs(got[tier] - want)
        return bad

    def check(self) -> None:
        """Full output check on the last unit: every (url, seg_no) text
        against the golden rows (html_extract, pdf_text), and the quarantine
        share."""
        import pyarrow.parquet as pq

        if self.last_out is None:
            return
        t = pq.read_table(os.path.join(self.last_out, "extractions"),
                          columns=["url", "seg_no", "extracted_text", "error"]).to_pydict()
        n = len(t["url"])
        errors = sum(e is not None for e in t["error"])
        self.error_frac = errors / n if n else 0.0
        if not self.inp.golden:
            return
        got = {(u, s): x for u, s, x, e in zip(t["url"], t["seg_no"], t["extracted_text"], t["error"])
               if e is None}
        if self.corrupt == "text" and got:
            k = min(got)
            got[k] = got[k] + " "
        # the repo's golden gate: every golden segment byte-identical, and no
        # extra segment on a golden url (garbage pages have no golden rows)
        want = self.inp.golden
        golden_urls = {u for u, _ in want}
        self.mismatch += sum(got.get(k) != v for k, v in want.items())
        self.mismatch += sum(k not in want for k in got if k[0] in golden_urls)

    def separate_calls(self) -> None:
        """sources.scan and stages.extract, each timed on its own under its
        own job group (after the timed loop, with the split size the job
        set)."""
        import layers as tr
        from ocr_sam_project_spark.pipeline.stages import extract_stage

        sp = self.spark
        with tr.in_group(sp, "sources.scan") as g:
            sp.read.parquet(self.inp.path).write.format("noop").mode("overwrite").save()
        self.sep = {"sources.scan_s": g.s}
        with tr.in_group(sp, "stages.extract") as g:
            extract_stage(sp.read.parquet(self.inp.path)).write.format("noop").mode("overwrite").save()
        self.sep_extract_s = g.s

    def finish_layers(self, ev) -> dict[str, float]:
        """Per-layer metrics: medians over the traced units, plus the
        separately timed scan and extract-stage calls."""
        per_unit = [self._unit_layers(ev, *u) for u in self.units]
        m = {k: _median([u[k] for u in per_unit]) for k in (per_unit[0] if per_unit else ())}
        m.update(self.sep)
        m["stages.extract_s"] = max(0.0, self.sep_extract_s - self.sep["sources.scan_s"])
        scan = ev.totals(ev.jobs_in(lambda g: g == "sources.scan"))
        m["sources.input_bytes"] = scan["input_bytes"]
        m["sources.scan_tasks_nonempty"] = scan["nonempty_tasks"]
        return m

    def _unit_layers(self, ev, spans, summary, files, split_bytes) -> dict[str, float]:
        tag = spans.tag
        span_s = spans.spans()
        group_jobs = lambda layer: ev.jobs_in(lambda g: g == f"{tag}|{layer}")  # noqa: E731
        m: dict[str, float] = {"job.split_bytes": float(split_bytes or 0)}
        m["job.completed_parts_s"] = span_s.get("job.completed_parts", 0.0)
        drops = _tier_drops(summary)
        for t in TIERS:
            tot = ev.totals(group_jobs(f"tier.{t}"))
            m[f"tier.{t}.s"] = span_s.get(f"tier.{t}", 0.0)
            m[f"tier.{t}.drops"] = float(drops[t])
            m[f"tier.{t}.shuffle_bytes"] = tot["shuffle_bytes"]
        # the "write" span runs from extract_stage to the unit's end: its
        # first SQL execution is the extract+write; every job after it is
        # the post-write bookkeeping (stats, lineage, metrics, fp append)
        wjobs = sorted(group_jobs("write"), key=lambda j: j["start"])
        write_exec = wjobs[0]["exec"] if wjobs else None
        wj = [j for j in wjobs if j["exec"] == write_exec]
        wt = ev.totals(wj)
        py_stages = [s for j in wj for s in j["stages"]
                     if s in ev.stages and ev.stages[s]["acc"].get("py_run_ms", 0) > 0]
        # write.s: from the end of the Python (scan+extract) stages to the
        # end of the write's last job, i.e. the file-writing stage
        write_end = max((j["end"] for j in wj), default=spans.end_epoch_ms)
        write_start = max((ev.stages[s]["end"] for s in py_stages), default=write_end)
        m["write.s"] = (write_end - write_start) / 1000.0
        m["job.bookkeeping_s"] = max(0.0, (spans.end_epoch_ms - write_end) / 1000.0)
        m["write.shuffle_bytes"] = wt["shuffle_bytes"]
        m["write.files"], m["write.bytes"] = float(files[0]), float(files[1])
        m["job.map_tasks"] = float(sum(ev.stages[s]["tasks"] for s in py_stages))
        m["stages.py_run_s"] = wt["py_run_ms"] / 1000.0
        m["stages.py_start_s"] = wt["py_start_ms"] / 1000.0
        m["stages.bytes_to_py"] = wt["bytes_to_py"]
        m["stages.bytes_from_py"] = wt["bytes_from_py"]
        m["stages.rows_out"] = wt["py_rows_out"]
        unit_jobs = ev.jobs_in(lambda g: g.startswith(f"{tag}|"))
        m.update(_engine(ev.totals(unit_jobs)))
        m["trace.unattributed_frac"] = _unattributed(ev, unit_jobs, spans.start_epoch_ms, spans.end_epoch_ms)
        return m


def _tier_drops(summary: dict) -> dict[str, int]:
    return {
        "blocklist": summary["blocked_dropped"],
        "robots": summary["robots_dropped"],
        "url_dedup": summary["url_dups_dropped"],
        "text_dedup": summary["dups_dropped"],
        "fp_store": summary["store_dups_dropped"],
    }


def _engine(t: dict) -> dict[str, float]:
    return {
        "spark.executor_run_s": t["run_ms"] / 1000.0,
        "spark.gc_s": t["gc_ms"] / 1000.0,
        "spark.spill_bytes": t["spill_mem"] + t["spill_disk"],
        "spark.jobs": t["jobs"],
        "spark.tasks": t["tasks"],
    }


def _unattributed(ev, jobs: list[dict], start_ms: float, end_ms: float) -> float:
    """Share of a unit's wall during which none of its layer-tagged Spark
    jobs ran: driver-side planning, Python driver code, result transfer."""
    wall = end_ms - start_ms
    return 1.0 - ev.busy_ms(jobs, start_ms, end_ms) / wall if wall > 0 else 0.0


def _dir_files(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


# --------------------------------------------------------------------------
# operator suite

def _norm(v):
    import math
    from decimal import Decimal

    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    return v


def _multiset(cols: list[str], rows) -> list[tuple]:
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(repr(_norm(r[i])) for i in idx) for r in rows)


class SuiteRun(Run):
    """One pass over SUITE.  Each query's result is collected: the results
    are small, every pass (warm and timed) then runs the same physical plans,
    and every pass's output is compared with the query's DuckDB twin after
    the pass, outside the timed region.  The inputs are the TESTDATA tables
    (inputs.suite_tables)."""

    name = "operator_suite"
    # the JIT keeps compiling the suite's many small plans: a pass after one
    # warm pass ran 0-36% slower than the next, after two 5-18%
    warm_units = 2

    def prepare(self) -> None:
        import duckdb
        import inputs
        import pyarrow.parquet as pq

        from ocr_sam_project_spark.queries import ORACLES, TABLES

        self.tables = inputs.suite_tables(self.work, SIZES[self.size]["operator_suite"])
        self.n_pages = pq.ParquetFile(f"{self.tables}/documents.parquet").metadata.num_rows
        self.op_runs: list[tuple[str, dict[str, float], float, float]] = []
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.tables}/{t}.parquet')")
        self.oracle: dict[str, tuple[list[str], list[tuple]]] = {}
        for q in SUITE:
            if q in ORACLES:
                res = con.execute(ORACLES[q])
                cols = [d[0] for d in res.description]
                self.oracle[q] = (sorted(cols), _multiset(cols, res.fetchall()))
        con.close()

    def _pass(self, tag: str, traced: bool) -> tuple[float, dict[str, float], float, float]:
        from ocr_sam_project_spark.queries import QUERY_FNS

        sc = self.spark.sparkContext
        per_q: dict[str, float] = {}
        results = {}
        start_ms = time.time() * 1000.0
        t0 = time.monotonic()
        for q in SUITE:
            if traced:
                sc.setJobGroup(f"{tag}|op.{q}", q, False)
            tq = time.monotonic()
            df = QUERY_FNS[q](self.spark, self.tables)
            results[q] = (df.columns, df.collect())
            per_q[q] = time.monotonic() - tq
        wall = time.monotonic() - t0
        end_ms = time.time() * 1000.0
        if traced:
            sc.setJobGroup("", "", False)
        for q, (cols, rows) in results.items():
            if q in self.oracle and self.oracle[q] != (
                sorted(cols), _multiset(cols, [[r[c] for c in cols] for r in rows])
            ):
                print(f"oracle mismatch: {q} ({tag})", file=sys.stderr)
                self.mismatch += 1
        return wall, per_q, start_ms, end_ms

    def warm(self, i: int) -> None:
        self._pass(f"warm{i}", False)

    def profile_sample(self) -> list:
        """The pipeline_extract query's pages: documents as text-path pages."""
        from types import SimpleNamespace

        from ocr_sam_project_spark.queries import _docs_as_pages

        rows = _docs_as_pages(self.spark, self.tables).orderBy("url").limit(100).collect()
        return [SimpleNamespace(url=r.url, html=r.html, text=r.text, lang=r.lang) for r in rows]

    def unit(self, i: int, traced: bool) -> None:
        tag = f"pass{i}"
        wall, per_q, start_ms, end_ms = self._pass(tag, traced)
        (self.traced_walls if traced else self.walls).append(wall)
        if traced:
            self.op_runs.append((tag, per_q, start_ms, end_ms))

    def separate_calls(self) -> None:
        import layers as tr
        from ocr_sam_project_spark.pipeline.stages import extract_stage
        from ocr_sam_project_spark.queries import _docs_as_pages

        sp = self.spark
        with tr.in_group(sp, "sources.scan") as g:
            for t in ("documents", "embeddings"):
                sp.read.parquet(f"{self.tables}/{t}.parquet").write.format("noop").mode("overwrite").save()
        scan_s = g.s
        with tr.in_group(sp, "stages.extract") as g:
            extract_stage(_docs_as_pages(sp, self.tables)).write.format("noop").mode("overwrite").save()
        self.sep = {"sources.scan_s": scan_s}
        self.sep_extract_s = g.s

    def finish_layers(self, ev) -> dict[str, float]:
        m: dict[str, float] = {}
        per_pass = []
        for tag, per_q, start_ms, end_ms in self.op_runs:
            d: dict[str, float] = {}
            for q, s in per_q.items():
                t = ev.totals(ev.jobs_in(lambda g, q=q: g == f"{tag}|op.{q}"))
                d[f"op.{q}.s"] = s
                d[f"op.{q}.jobs"] = t["jobs"]
                d[f"op.{q}.shuffle_bytes"] = t["shuffle_bytes"]
            pass_jobs = ev.jobs_in(lambda g: g.startswith(f"{tag}|"))
            d.update(_engine(ev.totals(pass_jobs)))
            d["trace.unattributed_frac"] = _unattributed(ev, pass_jobs, start_ms, end_ms)
            per_pass.append(d)
        for k in per_pass[0] if per_pass else ():
            m[k] = _median([p[k] for p in per_pass])
        scan = ev.totals(ev.jobs_in(lambda g: g == "sources.scan"))
        ext = ev.totals(ev.jobs_in(lambda g: g == "stages.extract"))
        m.update(self.sep)
        m["stages.extract_s"] = max(0.0, self.sep_extract_s - self.sep["sources.scan_s"])
        m["sources.input_bytes"] = scan["input_bytes"]
        m["sources.scan_tasks_nonempty"] = scan["nonempty_tasks"]
        m["stages.py_run_s"] = ext["py_run_ms"] / 1000.0
        m["stages.py_start_s"] = ext["py_start_ms"] / 1000.0
        m["stages.bytes_to_py"] = ext["bytes_to_py"]
        m["stages.bytes_from_py"] = ext["bytes_from_py"]
        m["stages.rows_out"] = ext["py_rows_out"]
        m["job.map_tasks"] = float(ext["tasks"])
        return m


# --------------------------------------------------------------------------

def _layer_metrics(run: Run, ev, profile: dict[str, float]) -> dict[str, float]:
    m = {k: 0.0 for k in PER_LAYER}
    m.update(profile)
    m.update(run.finish_layers(ev))
    m["trace.overhead_s"] = _median(run.traced_walls) - _median(run.walls)
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full",
                    help="input size; 'tiny' is for the self-test")
    ap.add_argument("--corrupt", choices=("text", "count"), default=None,
                    help="self-test only: alter one output text or one planted count before checking")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    spark = None
    try:
        t_setup = time.monotonic()
        os.makedirs(work)
        spark = start_spark(work, cores, event_dir)
        base = (spark, work, cores, args.seed, args.size, args.corrupt)
        run = SuiteRun(*base) if args.workload == "operator_suite" else PipelineRun(args.workload, *base)
        run.prepare()
        for i in range(run.warm_units):
            run.warm(i)
        setup_s = time.monotonic() - t_setup

        run.loop(args.seconds, alternate_traced=bool(args.trace))
        run.check()
        profile: dict[str, float] = {}
        if args.trace:
            import layers as tr

            run.separate_calls()
            profile = tr.profile_extraction(run.profile_sample())
        peak = tree_peak_rss_bytes()
        stop_spark(spark)
        spark = None

        walls = run.walls
        wall = _median(walls)
        e2e = {
            "wall_s": wall,
            "pages_per_s": run.n_pages / wall if wall else 0.0,
            "setup_s": setup_s,
            "peak_rss_mb": peak / (1 << 20),
        }
        checks = {
            "error_frac": run.error_frac,
            "failed_frac": run.failed / run.attempted if run.attempted else 1.0,
            "golden_mismatch": run.mismatch,
        }
        correct = run.mismatch == 0 and len(walls) > 0 and run.failed == 0
        print(f"workload {args.workload} seed {args.seed} cores {cores} pages {run.n_pages}")
        print("  unit walls (s): " + " ".join(f"{w:.3f}" for w in walls))
        if run.traced_walls:
            print("  traced unit walls (s): " + " ".join(f"{w:.3f}" for w in run.traced_walls))
        for k, v in {**e2e, **checks}.items():
            print(f"  {k:<34} {v:>14.6g} {(END_TO_END | CHECKS)[k]}")
        if args.trace:
            import layers as tr

            logs = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
            ev = tr.parse_event_log(logs[0])
            shutil.rmtree(event_dir, ignore_errors=True)
            metrics = _layer_metrics(run, ev, profile)
            for k, v in metrics.items():
                print(f"  {k:<34} {v:>14.6g} {PER_LAYER[k]}")
            out = {k: {"value": float(metrics[k]), "unit": PER_LAYER[k]} for k in PER_LAYER}
        else:
            out = {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in e2e.items()}
        print(json.dumps({"correct": correct, "attempted": run.attempted, "failed": run.failed,
                          "metrics": out}), flush=True)
        return 0 if correct else 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there


if __name__ == "__main__":
    sys.exit(main())
