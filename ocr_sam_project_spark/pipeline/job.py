"""End-to-end extraction job: scan -> salt -> funnel -> extract -> write ->
lineage.

Scale design (SURVEY.md §4; graded against the 100 TB target):

* **Zero-shuffle core.** The extraction stage is a narrow map over Arrow
  batches; the only data movement is the parquet write.  At 10^12 rows the
  job is embarrassingly parallel — throughput scales with executors as long
  as input splits are balanced.
* **Skew salting.** Common-Crawl domains are Zipfian, so partitioning by
  domain would melt one executor.  `part_id = pmod(xxhash64(url), P)` is a
  uniform url-hash salt: hot domains spread evenly across all P partitions.
* **Checkpoint-resume.** A lineage table records per-part_id status; a rerun
  anti-joins completed parts out of the scan before any work happens, and
  the write uses dynamic partition overwrite so re-processing a partition is
  idempotent (the reference's DynamoDB state machine + idempotent S3 keys,
  tracking_service.py:22-82, storage_service.py:68).
* **One-pass funnel.** The admission and dedup tiers run as ONE query over
  a slim keyed frame (url, part_id, fp) that carries no html/text payload,
  and their losers leave the scan through one broadcast anti-join.
* **Quarantine.** Rows that fail extraction carry an `error` column instead
  of throwing (the DLQ analog, template.yaml:88-107).
"""

from __future__ import annotations

import os
import time
import warnings
from datetime import datetime, timezone
from typing import Optional

_TIMING = os.environ.get("SPARK_GRAFT_TIMING") == "1"


def _mark(label: str, t0: float) -> float:
    now = time.monotonic()
    if _TIMING:
        print(f"[job-timing] {label}: {now - t0:.2f}s", flush=True)
    return now

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .schema import LINEAGE_SCHEMA, METRICS_SCHEMA
from .stages import extract_stage

DEFAULT_NUM_PARTS = 32

_MIN_SPLIT = 64 << 10        # 64 KiB — bench corpora compress hard; a floor
                             # above the compressed row-group size would cap
                             # the map stage below the core count
_MAX_SPLIT = 128 << 20       # Spark default


def _tune_split_size(
    spark: SparkSession, pages_path: str, target_parallelism: Optional[int] = None
) -> None:
    """Size input splits to the cluster so the map-only extraction stage
    actually fans out.  With Spark's default 128 MB maxPartitionBytes a
    small-corpus bench collapses to 1 task and cannot scale; at 100 TB the
    computed value caps back at the 128 MB default, so this is a no-op on a
    real cluster (where file count >> cores) and only matters at bench scale.
    Local paths only: a non-local path keeps Spark's defaults, and a local
    one that cannot be sized keeps them with a warning."""
    try:
        total = 0
        if os.path.isdir(pages_path):
            for root, _dirs, files in os.walk(pages_path):
                total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        elif os.path.isfile(pages_path):
            total = os.path.getsize(pages_path)
        else:
            return
    except OSError as e:
        warnings.warn(f"split sizing skipped, Spark defaults kept: {e!r}", RuntimeWarning)
        return
    cores = target_parallelism or spark.sparkContext.defaultParallelism
    # ~3 waves of tasks per core for balance.  target_parallelism lets a
    # scaling comparison pin IDENTICAL splits at every cluster size.
    split = max(_MIN_SPLIT, min(_MAX_SPLIT, total // max(1, cores * 3)))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))


def _row_groups_below(pages_path: str, cores: int) -> bool:
    """True iff the LOCAL parquet input's total row-group count is below
    `cores` — i.e. the scan cannot reach full parallelism no matter the
    split size (parquet is unsplittable below row-group granularity).
    Only reads footers when the file COUNT is already below `cores` (a
    many-file input is parallel enough without any probe), so at scale
    this never touches a footer.  Non-local paths: False; unreadable ones:
    False with a warning."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.isdir(pages_path):
        files = [
            os.path.join(root, f)
            for root, _dirs, fs in os.walk(pages_path)
            for f in fs
            if f.endswith(".parquet")
        ]
    elif os.path.isfile(pages_path):
        files = [pages_path]
    else:
        return False
    if len(files) >= cores:
        return False
    groups = 0
    try:
        for f in files:
            groups += pq.ParquetFile(f).metadata.num_row_groups
            if groups >= cores:
                return False
    except (OSError, pa.ArrowInvalid) as e:
        warnings.warn(f"row-group probe skipped: {e!r}", RuntimeWarning)
        return False
    return True


def with_part_id(pages: DataFrame, num_parts: int = DEFAULT_NUM_PARTS) -> DataFrame:
    """Uniform url-hash salt — the unit of lineage/resume."""
    return pages.withColumn(
        "part_id", F.pmod(F.xxhash64(F.col("url")), F.lit(num_parts)).cast("int")
    )


def completed_parts(spark: SparkSession, lineage_path: str) -> list[int]:
    """part_ids whose LATEST lineage row says completed.

    A MISSING path means "first run" (no parts done); a path that exists
    but fails to read must RAISE — treating a corrupt lineage table as
    empty would silently re-run every part (safe only because writes are
    idempotent, but masking the corruption; same contract as the fp-store
    read below)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(lineage_path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return []
    # mergeSchema (ADVICE r5): lineage is append-only and its schema grew
    # mid-history (8 -> 11 columns); without merging, Spark picks one
    # file's footer arbitrarily and the newer audit columns can silently
    # vanish from reads over a mixed directory
    lin = spark.read.option("mergeSchema", "true").parquet(lineage_path)
    latest = (
        lin.groupBy("part_id")
        .agg(F.max_by("status", "updated_at").alias("status"))
        .filter(F.col("status") == "completed")
    )
    return [r.part_id for r in latest.collect()]


# drop counters in summary/metrics order; the funnel's tier ORDER (which
# fires first) is the order of the tier blocks in run_extraction_job
_DROP_COUNTERS = ("dups", "store_dups", "url_dups", "blocked", "robots")


def _drop_where(frame: DataFrame, tier: str, fires: Column) -> DataFrame:
    """Name `tier` as the drop of each row it fires on that no earlier tier
    dropped (first fire wins)."""
    alive = F.col("_drop").isNull()
    return frame.withColumn(
        "_drop", F.when(alive & fires, F.lit(tier)).otherwise(F.col("_drop"))
    )


def _flag(frame: DataFrame, tier: str, hits: DataFrame) -> DataFrame:
    """Per-row tier: its (small) hit-url set joins in as a flag."""
    flag = F.broadcast(hits.select("url").distinct().withColumn("_hit", F.lit(True)))
    joined = frame.join(flag, "url", "left")
    return _drop_where(joined, tier, F.col("_hit").isNotNull()).drop("_hit")


def _keep_min(frame: DataFrame, tier: str, key: Column, member: Column) -> DataFrame:
    """Keep-one tier: among the `member` rows no earlier tier dropped, the
    min url of each `key` group is kept and the others fire."""
    cand = F.col("_drop").isNull() & member
    keep = F.min(F.when(cand, F.col("url"))).over(Window.partitionBy(key))
    return _drop_where(frame, tier, cand & (F.col("url") != keep))


def run_extraction_job(
    spark: SparkSession,
    pages_path: str,
    out_dir: str,
    run_id: str = "run-0",
    run_ts: Optional[datetime] = None,
    num_parts: int = DEFAULT_NUM_PARTS,
    pages_per_doc: int = 1,
    only_parts: Optional[list[int]] = None,
    split_parallelism: Optional[int] = None,
    dedup: Optional[str] = None,
    fp_store_path: Optional[str] = None,
    fp_store_bloom: bool = False,
    fp_store_bloom_bits: int = 1 << 20,
    url_dedup: bool = False,
    pii_scrub: bool = False,
    blocklist=None,
    robots_rules=None,
) -> dict:
    """Run (or resume) the extraction pipeline.

    Writes:
      {out_dir}/extractions/  parquet partitioned by part_id (dynamic overwrite)
      {out_dir}/lineage/      append-only status rows (latest row wins)
      {out_dir}/metrics/      per-run counters

    `only_parts` restricts the run to a subset of partitions (used by the
    kill-and-resume test to simulate a mid-job failure).

    Pre-extract funnel: at 100 TB you drop pages BEFORE paying Python
    extraction.  The enabled tiers run in this order, and the FIRST tier
    that fires on a page names its drop, so every dropped page is audited
    exactly once (a keep-one tier picks its winner only among the pages no
    earlier tier dropped):

    1. `blocklist` (DataFrame with a `domain` column) refuses ADMISSION to
       pages whose url host — or any parent domain of it — is listed
       (UT1-style suffix semantics, operators.webgraph).
    2. `robots_rules` (a parse_robots output (host, allow, prefix)) applies
       the REP verdict per url.
    3. `url_dedup` collapses tracking-param/fragment/case variants of one
       canonical URL to the min-url page, without reading any text.
    4. `dedup` ("exact" | "minhash") drops duplicate texts, keeping the
       min url of each cluster.  Empty/whitespace texts never dedup: they
       share one fingerprint but each keeps its own provenance.
    5. `fp_store_path` enables CROSS-RUN dedup (the re-crawl scenario):
       pages whose fingerprint is already in the persisted store — i.e.
       processed by a COMPLETED earlier run — are dropped, and the
       survivors' fingerprints are appended to the store when this run's
       partitions complete.  `fp_store_bloom` probes a Bloom filter of the
       store first (operators.dedup.bloom_build/bloom_hit), so only the
       bloom-hit slice (true dups + the designed FP rate of
       `fp_store_bloom_bits`) pays the exact semi-join; output and lineage
       are identical either way.

    The funnel is one pass: the corpus is read once into a slim keyed frame
    (url, part_id, fp) with no html/text payload; each tier marks a single
    `_drop` column (per-row tiers join their small hit sets in as flags,
    keep-one tiers are windows); one eager checkpoint of the loser rows
    gives the per-(tier, part) counts in one collect and the one broadcast
    anti-join out of the input.  Losers are computed over the FULL corpus,
    not this run's todo: on resume a duplicate pair can span a completed
    part and a remaining one.  Summary and metrics count each tier
    separately; lineage folds blocklist + robots into `blocked_dropped`,
    url variants into `url_dups_dropped`, and text + store dups into
    `dups_dropped`.

    `pii_scrub` redacts emails / phone numbers / cedula IDs from the
    extracted text AFTER extraction (pure regexp codegen on the narrow
    output — the input corpus is untouched), appending a per-row
    `pii_redactions` count column to the extractions table and the
    per-partition totals to lineage.  NOTE: scrubbing deliberately breaks
    the byte-identical-vs-reference invariant — it is a training-corpus
    tier, off by default.
    Returns a small summary dict.
    """
    run_ts = run_ts or datetime(2025, 1, 1, tzinfo=timezone.utc)
    extractions_path = f"{out_dir}/extractions"
    lineage_path = f"{out_dir}/lineage"
    metrics_path = f"{out_dir}/metrics"

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    _tune_split_size(spark, pages_path, split_parallelism)

    # Row-group-aware spread at the SCAN (r6): when the input is a handful
    # of single-row-group files, parquet cannot split below row-group
    # granularity, so _tune_split_size plans many byte-range tasks but only
    # row-group-count of them carry rows — every admission tier and the
    # Python extraction then run on that many cores.  (spread_scan's
    # partition-count probe is fooled by exactly those empty splits, so the
    # guard here counts REAL row groups from the local footers — and only
    # when the file count is below the core count, so at scale no footer is
    # ever read and this is a no-op.)  Measured at sf0.1 on a 4-row-group
    # input: extract+write 10s -> ~3s on local[32].
    raw_pages = spark.read.parquet(pages_path)
    par = spark.sparkContext.defaultParallelism
    if _row_groups_below(pages_path, par):
        raw_pages = raw_pages.repartition(par)

    done = set(completed_parts(spark, lineage_path))

    def in_run(df: DataFrame) -> DataFrame:
        """The rows of the parts THIS run owns."""
        if done:
            df = df.filter(~F.col("part_id").isin(list(done)))
        if only_parts is not None:
            df = df.filter(F.col("part_id").isin(only_parts))
        return df

    todo = in_run(with_part_id(raw_pages, num_parts))
    t0 = time.monotonic()
    tm = t0

    store = None
    if fp_store_path is not None:
        # explicit existence probe (Hadoop FS — scheme-agnostic): ONLY a
        # missing path means "first crawl".  A store that exists but fails to
        # read (corrupt footer, permission error) must PROPAGATE — silently
        # treating it as first-crawl would skip cross-run dedup and append
        # duplicate fingerprints to a store that is still there.
        jpath = spark._jvm.org.apache.hadoop.fs.Path(fp_store_path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(jpath):
            store = spark.read.parquet(fp_store_path).select("fp")

    # --- pre-extract funnel: one keyed frame, one loser table -------------
    drops: dict[str, dict[int, int]] = {t: {} for t in _DROP_COUNTERS}
    need_fp = dedup is not None or fp_store_path is not None
    if need_fp or url_dedup or blocklist is not None or robots_rules is not None:
        keyed = raw_pages.select("url")
        if need_fp:
            from ..operators.dedup import corpus_fingerprints

            nonempty = F.length(F.trim(F.col("text"))) > 0
            keyed = corpus_fingerprints(
                raw_pages.select("url", F.when(nonempty, F.col("text")).alias("text")),
                "text",
                "url",
            )
        # eager: one scan and one hash of the corpus for every tier below
        # and for the fp-store append
        keyed = with_part_id(keyed, num_parts).localCheckpoint()
        frame = keyed.withColumn("_drop", F.lit(None).cast("string"))
        if blocklist is not None:
            from ..operators.webgraph import domain_suffixes, host_of

            hits = keyed.select(
                "url", F.explode(domain_suffixes(host_of(F.col("url")))).alias("_sfx")
            ).join(
                F.broadcast(blocklist.select(F.lower("domain").alias("_sfx"))),
                "_sfx",
                "left_semi",
            )
            frame = _flag(frame, "blocked", hits)
        if robots_rules is not None:
            from ..operators.webgraph import robots_filter

            # the verdict is per row, so it runs on the frame itself
            verdict = robots_filter(frame, robots_rules)
            frame = _drop_where(verdict, "robots", ~F.col("allowed")).drop("allowed")
        if url_dedup:
            from ..operators.curation import canonical_url

            frame = _keep_min(frame, "url_dups", canonical_url(F.col("url")), F.lit(True))
        if dedup == "exact":
            # null fps (empty texts) are never members; keying them by url
            # spreads them instead of piling them into one window partition
            has_fp = F.col("fp").isNotNull()
            frame = _keep_min(frame, "dups", F.coalesce("fp", "url"), has_fp)
        elif dedup is not None:
            from ..operators.dedup import dedup_losers

            # the one tier that needs the text back, for the pages still in
            alive = frame.filter(F.col("_drop").isNull() & F.col("fp").isNotNull())
            texts = raw_pages.select("url", "text").join(alive, "url", "left_semi")
            frame = _flag(frame, "dups", dedup_losers(texts, dedup, "text", "url"))
        if store is not None:
            probe = keyed.filter(F.col("fp").isNotNull())
            if fp_store_bloom:
                from ..operators.dedup import bloom_build, bloom_hit

                words = bloom_build(store, m_bits=fp_store_bloom_bits, k=4)
                probe = probe.filter(
                    bloom_hit(F.col("fp"), words, fp_store_bloom_bits, 4)
                )
            frame = _flag(frame, "store_dups", probe.join(store, "fp", "left_semi"))
        # eager: the whole funnel DAG runs exactly once
        losers = (
            frame.filter(F.col("_drop").isNotNull())
            .select("url", "part_id", "_drop")
            .localCheckpoint()
        )
        for r in in_run(losers).groupBy("_drop", "part_id").count().collect():
            drops[r["_drop"]][r["part_id"]] = r["count"]
        # Regime note (100 TB): the loser anti-join carries an EXPLICIT
        # broadcast hint (r6): the checkpointed loser table is a LogicalRDD
        # scan whose size statistic defaults to Long.Max, so without the hint
        # the planner never chose broadcast and the corpus paid a
        # SortMergeJoin shuffle with its html/text payload (measured 10.4s ->
        # 4.7s on the dedup pipeline's extract+write at sf0.1).  Losers are
        # |dups|-sized, not corpus-sized, in the common <~1%-dup case.  The
        # high-dup deployment keeps the corpus bucketed by url at ingest and
        # writes the losers bucketed identically; then
        # sources.bucketing.bucketed_anti_join does this step with NO
        # Exchange on either side (plan-tested in
        # test_plans.test_bucketed_dedup_anti_join_has_no_exchange).
        todo = todo.join(F.broadcast(losers.select("url")), "url", "left_anti")
        tm = _mark("funnel", tm)
    counters = {f"{t}_dropped": sum(by_part.values()) for t, by_part in drops.items()}

    def parts_sum(*tiers: str) -> dict[int, int]:
        out: dict[int, int] = {}
        for t in tiers:
            for p, n in drops[t].items():
                out[p] = out.get(p, 0) + n
        return out

    admission_by_part = parts_sum("blocked", "robots")
    url_drops_by_part = parts_sum("url_dups")
    drops_by_part = parts_sum("dups", "store_dups")

    # part_id is a pure function of url, so it is recomputed after the Arrow
    # stage instead of being dragged through it (narrower Arrow batches).
    extracted = extract_stage(todo, pages_per_doc).withColumn(
        "part_id", F.pmod(F.xxhash64(F.col("url")), F.lit(num_parts)).cast("int")
    )

    # --- optional post-extract PII scrub (narrow regexp codegen on the
    # already-small output; counts ride a per-row column into the written
    # table so the lineage rollup needs no extra pass) ---------------------
    if pii_scrub:
        from ..operators.curation import (
            PII_CEDULA_RE,
            PII_EMAIL_RE,
            PII_PHONE_RE,
        )

        t = F.col("extracted_text")
        after_phone = F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"), PII_PHONE_RE, "<PHONE>"
        )
        # ids counted AFTER phone redaction (a phone's digit tail would
        # double-count as an id fragment) — same order as operators.pii_scrub
        n_red = (
            F.regexp_count(t, F.lit(PII_EMAIL_RE))
            + F.regexp_count(t, F.lit(PII_PHONE_RE))
            + F.regexp_count(after_phone, F.lit(PII_CEDULA_RE))
        )
        extracted = extracted.withColumn(
            "pii_redactions",
            F.when(t.isNull(), F.lit(0)).otherwise(n_red).cast("long"),
        ).withColumn(
            "extracted_text",
            F.when(
                t.isNull(), t
            ).otherwise(F.regexp_replace(after_phone, PII_CEDULA_RE, "<ID>")),
        )

    # One explicit shuffle of the EXTRACTED rows (boilerplate already
    # stripped — far smaller than the input html) clusters each lineage
    # partition into a single output file.  Without it, every map task
    # writes a file into every partition dir: M x P tiny files, and the
    # file-commit + later scans dominate wall-clock (measured 44s write /
    # 31s read-back vs 7s/0.4s at bench scale).
    (
        extracted.repartition(num_parts, F.col("part_id"))
        .write.mode("overwrite")
        .partitionBy("part_id")
        .parquet(extractions_path)
    )
    elapsed = time.monotonic() - t0
    tm = _mark("extract+write", tm)

    # lineage rollup from the *written* table (cheap column-pruned scan of
    # the much smaller output — the input is never re-scanned) — set-based
    # counters, not per-row RMW (A3/K5, crm_integrator/app.py:785-807).
    # This run's partitions are exactly: written parts minus already-done
    # parts, intersected with only_parts when restricted.
    # explicit schema: a run whose every page was deduped away writes an
    # EMPTY partitioned dir, where schema inference would throw
    this_run = in_run(spark.read.schema(extracted.schema).parquet(extractions_path))
    pii_agg = (
        F.sum("pii_redactions") if pii_scrub else F.lit(0).cast("long")
    ).alias("pii_n")
    stats_rows = (
        this_run
        .groupBy("part_id")
        .agg(
            F.countDistinct("url").alias("docs_in"),
            F.count("*").alias("segments_out"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("errors"),
            pii_agg,
        )
        .collect()
    )
    tm = _mark("stats", tm)
    docs_in = int(sum(r.docs_in for r in stats_rows))
    pii_redactions_total = int(sum(r.pii_n or 0 for r in stats_rows))
    # a partition whose EVERY page was a dedup loser writes zero output rows
    # and so never appears in the written table — it is still COMPLETE, and
    # without a lineage row every resume would re-run it (and re-count its
    # losers in the metrics) forever.  The drop counts are already restricted
    # to this run's parts, so their keys minus the written parts are exactly
    # the dedup-emptied partitions.
    seen_parts = {r.part_id for r in stats_rows}
    dedup_only_parts = sorted(
        p
        for p in set(drops_by_part) | set(url_drops_by_part) | set(admission_by_part)
        if p not in seen_parts
    )
    if not stats_rows and not dedup_only_parts:
        return {"run_id": run_id, "docs_in": 0, "segments_out": 0, "errors": 0,
                **counters, "pii_redactions": 0,
                "skipped_parts": sorted(done), "elapsed_sec": 0.0}
    stats = spark.createDataFrame(
        [
            (r.part_id, "completed", r.docs_in, r.segments_out, r.errors,
             drops_by_part.get(r.part_id, 0),
             url_drops_by_part.get(r.part_id, 0),
             admission_by_part.get(r.part_id, 0), r.pii_n or 0, run_id, run_ts)
            for r in stats_rows
        ]
        + [
            (p, "completed", 0, 0, 0, drops_by_part.get(p, 0),
             url_drops_by_part.get(p, 0), admission_by_part.get(p, 0), 0,
             run_id, run_ts)
            for p in dedup_only_parts
        ],
        schema=LINEAGE_SCHEMA,
    )
    stats.write.mode("append").parquet(lineage_path)

    seg_out = sum(r.segments_out for r in stats_rows)
    err_out = sum(r.errors for r in stats_rows)
    metrics = spark.createDataFrame(
        [
            (run_id, "docs_in", float(docs_in), run_ts),
            (run_id, "segments_out", float(seg_out), run_ts),
            (run_id, "errors", float(err_out), run_ts),
            *[(run_id, k, float(n), run_ts) for k, n in counters.items()],
            (run_id, "pii_redactions", float(pii_redactions_total), run_ts),
            (run_id, "elapsed_sec", float(elapsed), run_ts),
            (run_id, "docs_per_sec", float(docs_in) / elapsed if elapsed > 0 else 0.0, run_ts),
        ],
        schema=METRICS_SCHEMA,
    )
    metrics.write.mode("append").parquet(metrics_path)
    tm = _mark("metrics+lineage-write", tm)

    if fp_store_path is not None:
        # append the fingerprints of everything THIS run actually processed
        # (written urls = post-dedup survivors; in-run losers share their
        # winner's fp, store losers are already present — neither re-enters)
        # so the next crawl's store probe sees this run as completed.  The
        # keyed frame already holds every fp: the pages are not re-read.
        keyed.filter(F.col("fp").isNotNull()).join(
            this_run.select("url").distinct(), "url", "left_semi"
        ).select("url", "fp").write.mode("append").parquet(fp_store_path)
        _mark("fp-store-append", tm)

    return {
        "run_id": run_id,
        "docs_in": docs_in,
        "segments_out": seg_out,
        "errors": err_out,
        **counters,
        "pii_redactions": pii_redactions_total,
        "skipped_parts": sorted(done),
        "elapsed_sec": elapsed,
    }
