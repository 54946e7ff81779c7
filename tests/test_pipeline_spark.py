"""End-to-end Spark pipeline tests: Arrow stage plumbing, byte-identical
golden diff via anti-join, long-format flattening, lineage + resume."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_sam_project_spark.pipeline.job import (
    completed_parts,
    run_extraction_job,
    with_part_id,
)
from ocr_sam_project_spark.pipeline.stages import entities_long, extract_stage, fields_long


@pytest.fixture(scope="module")
def extractions(spark, pages_parquet):
    pages = spark.read.parquet(pages_parquet)
    df = extract_stage(pages)
    df.cache()
    df.count()
    return df


def test_extract_stage_runs_and_covers_all_urls(spark, pages_parquet, extractions):
    n_pages = spark.read.parquet(pages_parquet).count()
    assert n_pages == 400
    # every input url appears (content rows extracted, dead rows quarantined)
    assert extractions.select("url").distinct().count() == n_pages


def test_byte_identical_vs_golden_antijoin(spark, golden_parquet, extractions):
    """The fixture gate: golden ANTI-JOIN extracted == empty, both directions,
    joined on (url, seg_no, extracted_text) — any byte drift shows up."""
    golden = spark.read.parquet(golden_parquet)
    got = extractions.filter(F.col("error").isNull()).select(
        "url", F.col("seg_no").cast("int").alias("seg_no"), "extracted_text"
    )
    keys = ["url", "seg_no", "extracted_text"]
    missing = golden.join(got, keys, "left_anti").count()
    assert missing == 0, f"{missing} golden segments not reproduced byte-identically"
    # and the expected-covered urls produce no EXTRA segments
    golden_urls = golden.select("url").distinct()
    extra = (
        got.join(golden_urls, "url", "left_semi")
        .join(golden, keys, "left_anti")
        .count()
    )
    assert extra == 0, f"{extra} unexpected extra segments on golden urls"


def test_quarantine_rows_carry_error(extractions):
    errs = extractions.filter(F.col("error").isNotNull())
    assert errs.count() > 0
    assert errs.filter(F.col("error") == "empty_document").count() > 0


def test_quarantine_null_html_null_text_not_lost(spark):
    """DLQ contract: a (NULL html, NULL text) row must land in the
    empty_document quarantine branch, not vanish (a bare `length(html) > 0`
    predicate is SQL NULL there, dropping the row from BOTH filter sides)."""
    pages = spark.createDataFrame(
        [
            ("null://both", None, None, "es"),
            ("null://html-only-empty", None, "   ", "es"),
            ("ok://text", None, "texto util presente aqui", "es"),
        ],
        "url string, html binary, text string, lang string",
    )
    out = extract_stage(pages).cache()
    assert out.select("url").distinct().count() == 3  # docs_in preserved
    dead = {
        r.url
        for r in out.filter(F.col("error") == "empty_document").collect()
    }
    assert dead == {"null://both", "null://html-only-empty"}
    out.unpersist()


def test_doc_types_routed(extractions):
    types = {r.doc_type for r in extractions.select("doc_type").distinct().collect()}
    # all 16 types + unknown appear across 400 synthetic pages
    assert "unknown" in types
    assert len(types) >= 15, sorted(types)


def test_fields_long_format(extractions):
    fl = fields_long(extractions)
    assert set(fl.columns) == {"url", "seg_no", "doc_type", "field", "value", "span"}
    rows = fl.filter(F.col("field") == "numero_oficio").limit(5).collect()
    assert rows
    # span offsets index into extracted_text
    sample = rows[0]
    text = (
        extractions.filter((F.col("url") == sample.url) & (F.col("seg_no") == sample.seg_no))
        .select("extracted_text")
        .first()
        .extracted_text
    )
    assert text[sample.span.start : sample.span.end] == sample.value


def test_entities_long_both_name_conventions(extractions):
    e = entities_long(extractions)
    row = (
        e.filter(F.size(F.split(F.col("nombre_completo"), " ")) >= 4)
        .select("nombre_completo", "apellido_paterno_v1", "apellido_paterno_v2")
        .first()
    )
    assert row is not None
    toks = row.nombre_completo.split()
    assert row.apellido_paterno_v1 == toks[1]
    assert row.apellido_paterno_v2 == toks[-2]


def test_monto_total_equals_sum_of_personas(extractions):
    bad = (
        extractions.filter(F.size("personas") > 0)
        .withColumn(
            "recomputed",
            F.aggregate("personas", F.lit(0.0), lambda acc, p: acc + p["monto_numerico"]),
        )
        .filter(F.abs(F.col("recomputed") - F.col("monto_total")) > 1e-9)
        .count()
    )
    assert bad == 0


def test_extraction_plan_is_shuffle_free(extractions, spark, pages_parquet):
    """Scale guard: the extract stage must be a narrow map — no Exchange."""
    pages = spark.read.parquet(pages_parquet)
    plan = extract_stage(pages)._jdf.queryExecution().executedPlan().toString()
    # the union of (arrow-map, native-projected quarantine) branches must not
    # introduce a shuffle
    assert "Exchange" not in plan, plan


# --------------------------------------------------------------------------
# lineage + resume (SURVEY.md §5 item 5)
# --------------------------------------------------------------------------
def test_job_lineage_and_resume(spark, pages_parquet, tmp_path):
    out = str(tmp_path / "out")
    num_parts = 8

    pages = with_part_id(spark.read.parquet(pages_parquet), num_parts)
    all_parts = sorted(r.part_id for r in pages.select("part_id").distinct().collect())

    # run 1: simulate a kill after the first 3 partitions
    first = all_parts[:3]
    s1 = run_extraction_job(
        spark, pages_parquet, out, run_id="r1", num_parts=num_parts, only_parts=first
    )
    assert s1["docs_in"] > 0
    assert sorted(completed_parts(spark, f"{out}/lineage")) == sorted(first)

    # run 2: resume — must skip completed parts and finish the rest
    s2 = run_extraction_job(spark, pages_parquet, out, run_id="r2", num_parts=num_parts)
    assert s2["skipped_parts"] == sorted(first)
    assert sorted(completed_parts(spark, f"{out}/lineage")) == all_parts

    # resumed state is complete & identical to a fresh one-shot run
    resumed = spark.read.parquet(f"{out}/extractions")
    out2 = str(tmp_path / "fresh")
    run_extraction_job(spark, pages_parquet, out2, run_id="rf", num_parts=num_parts)
    fresh = spark.read.parquet(f"{out2}/extractions")
    cols = ["url", "seg_no", "extracted_text", "doc_type", "monto_total", "error"]
    assert resumed.select(cols).exceptAll(fresh.select(cols)).count() == 0
    assert fresh.select(cols).exceptAll(resumed.select(cols)).count() == 0

    # run 2 did not re-extract run 1's partitions (lineage rows prove it:
    # each part_id completed exactly once, under the run that owned it)
    lin = spark.read.parquet(f"{out}/lineage")
    per_part = lin.groupBy("part_id").count().filter(F.col("count") > 1).count()
    assert per_part == 0

    # a third run is a no-op
    s3 = run_extraction_job(spark, pages_parquet, out, run_id="r3", num_parts=num_parts)
    assert s3["docs_in"] == 0


def test_job_dedup_pre_extract_stage(spark, pages_parquet, tmp_path):
    """dedup="exact" drops duplicate pages BEFORE the Arrow extraction stage
    (the 100 TB ordering: never pay Python for a page you'll discard), keeps
    exactly one canonical url per duplicate text, and audits the per-part
    dropped counts in lineage as dups_dropped."""
    import pyarrow.parquet as pq

    # corpus = the standard 400 synthetic pages + 5 exact-duplicate urls of
    # existing NON-EMPTY texts (same text, new url -> exact dedup drops 5).
    # "zdup://" sorts after "https://", so the original url stays canonical.
    base = pq.read_table(pages_parquet)
    nonempty = [r for r in base.to_pylist() if (r["text"] or "").strip()]
    dup = [dict(r) for r in nonempty[:5]]
    for i, r in enumerate(dup):
        r["url"] = f"zdup://copy-{i}"
    import pyarrow as pa

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    pq.write_table(base, str(in_dir / "base.parquet"))
    pq.write_table(pa.Table.from_pylist(dup, schema=base.schema), str(in_dir / "dups.parquet"))

    out = str(tmp_path / "out")
    s = run_extraction_job(
        spark, str(in_dir), out, run_id="rd", num_parts=8, dedup="exact"
    )
    assert s["dups_dropped"] == 5
    assert s["docs_in"] == 400  # the 5 copies never reached extraction

    lin = spark.read.parquet(f"{out}/lineage")
    assert lin.agg(F.sum("dups_dropped")).first()[0] == 5
    # kept urls: one canonical per text — none of the droppable copies when
    # the original url sorts first (originals here sort before dup://)
    written = spark.read.parquet(f"{out}/extractions")
    assert written.filter(F.col("url").startswith("zdup://")).count() == 0
    assert written.select("url").distinct().count() == 400

    # resume semantics unchanged: a second dedup run is a no-op
    s2 = run_extraction_job(
        spark, str(in_dir), out, run_id="rd2", num_parts=8, dedup="exact"
    )
    assert s2["docs_in"] == 0


def test_job_cross_run_fp_store_dedup(spark, pages_parquet, tmp_path):
    """fp_store_path: run 1 processes a crawl and persists its fingerprints;
    run 2 (a later re-crawl into a FRESH out_dir) drops every page whose
    text was already processed by run 1 — even under different urls — and
    appends only its own new fingerprints."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_table(pages_parquet)
    rows = base.to_pylist()
    nonempty = [r for r in rows if (r["text"] or "").strip()]
    store = str(tmp_path / "fp_store")

    in1 = tmp_path / "crawl1"
    in1.mkdir()
    pq.write_table(base, str(in1 / "pages.parquet"))
    out1 = str(tmp_path / "out1")
    s1 = run_extraction_job(
        spark, str(in1), out1, run_id="c1", num_parts=8, fp_store_path=store
    )
    assert s1["store_dups_dropped"] == 0 and s1["docs_in"] == 400

    # crawl 2: 10 re-crawled copies (same text, new url) + 5 genuinely new
    recrawl = [dict(r) for r in nonempty[:10]]
    for i, r in enumerate(recrawl):
        r["url"] = f"zrecrawl://copy-{i}"
    fresh = [dict(nonempty[0]) for _ in range(5)]
    for i, r in enumerate(fresh):
        r["url"] = f"znew://page-{i}"
        r["text"] = f"pagina totalmente nueva numero {i} con contenido propio"
    in2 = tmp_path / "crawl2"
    in2.mkdir()
    pq.write_table(
        pa.Table.from_pylist(recrawl + fresh, schema=base.schema),
        str(in2 / "pages.parquet"),
    )
    out2 = str(tmp_path / "out2")
    s2 = run_extraction_job(
        spark, str(in2), out2, run_id="c2", num_parts=8, fp_store_path=store
    )
    assert s2["store_dups_dropped"] == 10
    assert s2["docs_in"] == 5
    written = spark.read.parquet(f"{out2}/extractions")
    assert written.filter(F.col("url").startswith("zrecrawl://")).count() == 0
    # lineage audits the store drops in dups_dropped
    lin = spark.read.parquet(f"{out2}/lineage")
    assert lin.agg(F.sum("dups_dropped")).first()[0] == 10

    # replaying crawl 2 against the grown store drops everything
    out3 = str(tmp_path / "out3")
    s3 = run_extraction_job(
        spark, str(in2), out3, run_id="c3", num_parts=8, fp_store_path=store
    )
    assert s3["docs_in"] == 0 and s3["store_dups_dropped"] == 15


def test_job_in_run_and_store_dedup_compose(spark, pages_parquet, tmp_path):
    """dedup="exact" + fp_store_path in one run: in-run copies fall to the
    loser stage, re-crawled copies of the PRIOR run fall to the store
    stage, both audited, and the store gains only the survivors' fps."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_table(pages_parquet)
    nonempty = [r for r in base.to_pylist() if (r["text"] or "").strip()]
    store = str(tmp_path / "fp_store")

    in1 = tmp_path / "c1"
    in1.mkdir()
    pq.write_table(base, str(in1 / "p.parquet"))
    run_extraction_job(
        spark, str(in1), str(tmp_path / "o1"), run_id="c1", num_parts=8,
        fp_store_path=store,
    )

    # crawl 2: 4 re-crawls of run-1 texts + 3 fresh pages, one of which has
    # an in-run duplicate (same text, two urls)
    recrawl = [dict(r) for r in nonempty[:4]]
    for i, r in enumerate(recrawl):
        r["url"] = f"zre://{i}"
    fresh = [dict(nonempty[0]) for _ in range(4)]
    for i, r in enumerate(fresh):
        r["url"] = f"znew://{i}"
        r["text"] = f"contenido fresco {i // 2} para la segunda corrida"  # 0,1 dup; 2,3 dup
    in2 = tmp_path / "c2"
    in2.mkdir()
    pq.write_table(pa.Table.from_pylist(recrawl + fresh, schema=base.schema), str(in2 / "p.parquet"))

    s = run_extraction_job(
        spark, str(in2), str(tmp_path / "o2"), run_id="c2", num_parts=8,
        dedup="exact", fp_store_path=store,
    )
    assert s["store_dups_dropped"] == 4  # the re-crawls
    assert s["dups_dropped"] == 2  # znew://1 and znew://3 lose in-run
    assert s["docs_in"] == 2  # znew://0 and znew://2 extracted
    lin = spark.read.parquet(f"{tmp_path}/o2/lineage")
    assert lin.agg(F.sum("dups_dropped")).first()[0] == 6


def test_job_all_curation_tiers_compose(spark, pages_parquet, tmp_path):
    """url_dedup (pre-text tier) + dedup="exact" + fp_store_path +
    pii_scrub all on in one run: each tier drops/redacts its own slice,
    every dropped page is audited exactly once across the three drop
    tallies, and lineage carries url_dups_dropped + pii_redactions."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_table(pages_parquet)
    nonempty = [r for r in base.to_pylist() if (r["text"] or "").strip()]
    store = str(tmp_path / "fp_store")

    # run 1 fills the store with the base corpus
    in1 = tmp_path / "c1"
    in1.mkdir()
    pq.write_table(base, str(in1 / "p.parquet"))
    run_extraction_job(
        spark, str(in1), str(tmp_path / "o1"), run_id="c1", num_parts=8,
        fp_store_path=store,
    )

    # crawl 2, engineered one page per tier:
    #  A: two URL variants of ONE page (utm params) -> url tier drops 1
    #  B: re-crawl of a run-1 text under a new url    -> store tier drops 1
    #  C: two copies of a FRESH text                  -> in-run tier drops 1
    #  D: fresh text containing PII                   -> scrubbed, counted
    # html=None on the engineered pages: extraction prefers the DOM parse
    # when html is present, and these tests pin the text-path content
    a1 = dict(nonempty[0]); a1["url"] = "https://a.example.com/x"
    a1["text"] = "texto fresco de la variante a para el caso"; a1["html"] = None
    a2 = dict(a1); a2["url"] = "https://a.example.com/x?utm_source=feed"
    b = dict(nonempty[1]); b["url"] = "https://b.example.com/recrawl"
    c1 = dict(nonempty[0]); c1["url"] = "https://c.example.com/1"
    c1["text"] = "contenido nuevo duplicado en dos urls distintas"; c1["html"] = None
    c2 = dict(c1); c2["url"] = "https://c.example.com/2"
    d = dict(nonempty[0]); d["url"] = "https://d.example.com/pii"
    d["text"] = ("Oficio No. JE-123-2025 del Juzgado Primero de lo Civil. "
                 "escriba a maria@correo.example.org con cedula 8-123-456")
    d["html"] = None
    #  E: page on a blocklisted domain's subdomain  -> admission tier drops 1
    e = dict(nonempty[0]); e["url"] = "https://ads.blocked.example/spam"
    e["text"] = "contenido de spam que jamas debe entrar al corpus"
    e["html"] = None
    #  F: robots-disallowed path / G: same host, allowed path -> robots
    #  tier drops F only
    f = dict(nonempty[0]); f["url"] = "https://r.example.com/private/secreto"
    f["text"] = "contenido privado que robots prohibe rastrear aqui"
    f["html"] = None
    g = dict(nonempty[0]); g["url"] = "https://r.example.com/public/nota"
    g["text"] = "contenido publico permitido por robots txt aqui"
    g["html"] = None
    in2 = tmp_path / "c2"
    in2.mkdir()
    pq.write_table(
        pa.Table.from_pylist([a1, a2, b, c1, c2, d, e, f, g], schema=base.schema),
        str(in2 / "p.parquet"),
    )

    blocked = spark.createDataFrame([("blocked.example",)], "domain string")
    from ocr_sam_project_spark.operators.webgraph import parse_robots

    robots = parse_robots(
        spark.createDataFrame(
            [("r.example.com", "User-agent: *\nDisallow: /private\n")],
            "host string, robots_txt string",
        )
    )
    s = run_extraction_job(
        spark, str(in2), str(tmp_path / "o2"), run_id="c2", num_parts=8,
        dedup="exact", fp_store_path=store, url_dedup=True, pii_scrub=True,
        blocklist=blocked, robots_rules=robots,
    )
    assert s["blocked_dropped"] == 1    # e (suffix match on parent domain)
    assert s["robots_dropped"] == 1     # f (Disallow /private); g admitted
    assert s["url_dups_dropped"] == 1   # a2 (utm variant)
    assert s["dups_dropped"] == 1       # c2 (in-run text dup)
    assert s["store_dups_dropped"] == 1  # b (re-crawl)
    assert s["docs_in"] == 4            # a1, c1, d, g extracted
    assert s["pii_redactions"] >= 2     # d's email + cedula (at least)

    written = spark.read.parquet(f"{tmp_path}/o2/extractions")
    assert written.filter(F.col("url") == a2["url"]).count() == 0
    assert written.filter(F.col("url") == e["url"]).count() == 0
    assert written.filter(F.col("url") == f["url"]).count() == 0
    assert written.filter(F.col("url") == g["url"]).count() > 0
    lineage = spark.read.parquet(f"{tmp_path}/o2/lineage").filter(
        F.col("run_id") == "c2"
    )
    # the lineage admission column audits blocklist + robots refusals
    assert lineage.agg(F.sum("blocked_dropped")).first()[0] == 2
    d_rows = written.filter(F.col("url") == d["url"]).collect()
    assert d_rows and all(
        "maria@" not in (r.extracted_text or "") for r in d_rows
    )
    assert any("<EMAIL>" in (r.extracted_text or "") for r in d_rows)

    lin = spark.read.parquet(f"{tmp_path}/o2/lineage")
    assert lin.agg(F.sum("url_dups_dropped")).first()[0] == 1
    assert lin.agg(F.sum("dups_dropped")).first()[0] == 2  # text + store tiers
    assert lin.agg(F.sum("pii_redactions")).first()[0] == s["pii_redactions"]


def test_job_store_and_inrun_loser_counted_once(spark, pages_parquet, tmp_path):
    """A page that is BOTH an in-run duplicate loser AND a store hit must be
    audited exactly once: the store probe runs over the post-in-run-dedup
    universe, so dups_dropped + store_dups_dropped == pages actually dropped
    (the r4 form counted such a page in both tallies)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_table(pages_parquet)
    nonempty = [r for r in base.to_pylist() if (r["text"] or "").strip()]
    store = str(tmp_path / "fp_store")

    in1 = tmp_path / "c1"
    in1.mkdir()
    pq.write_table(base, str(in1 / "p.parquet"))
    run_extraction_job(
        spark, str(in1), str(tmp_path / "o1"), run_id="c1", num_parts=8,
        fp_store_path=store,
    )

    # crawl 2 = TWO copies of one run-1 text under new urls: zcopy-a wins
    # in-run (min url), zcopy-b is the in-run loser; zcopy-a is then a store
    # hit.  2 pages in -> exactly 2 drops total, never 3.
    copies = [dict(nonempty[0]), dict(nonempty[0])]
    copies[0]["url"] = "zcopy-a://page"
    copies[1]["url"] = "zcopy-b://page"
    in2 = tmp_path / "c2"
    in2.mkdir()
    pq.write_table(pa.Table.from_pylist(copies, schema=base.schema), str(in2 / "p.parquet"))

    s = run_extraction_job(
        spark, str(in2), str(tmp_path / "o2"), run_id="c2", num_parts=8,
        dedup="exact", fp_store_path=store,
    )
    assert s["docs_in"] == 0
    assert s["dups_dropped"] == 1  # zcopy-b lost in-run
    assert s["store_dups_dropped"] == 1  # zcopy-a hit the store — once
    lin = spark.read.parquet(f"{tmp_path}/o2/lineage")
    assert lin.agg(F.sum("dups_dropped")).first()[0] == 2


def test_job_corrupt_fp_store_raises(spark, pages_parquet, tmp_path):
    """An fp store that EXISTS but cannot be read must raise, not silently
    degrade to first-crawl behavior (which would both skip cross-run dedup
    and append duplicate fingerprints)."""
    store = tmp_path / "fp_store"
    store.mkdir()
    (store / "part-00000.parquet").write_bytes(b"this is not a parquet file")
    with pytest.raises(Exception):
        run_extraction_job(
            spark, pages_parquet, str(tmp_path / "out"), run_id="bad",
            num_parts=8, fp_store_path=str(store),
        )


def test_job_dedup_across_resume_boundary(spark, pages_parquet, tmp_path):
    """A duplicate pair whose winner lands in a COMPLETED part must still be
    dropped when the loser's part runs in a later resume: losers are
    computed over the full corpus, not the resume's todo subset."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    num_parts = 8
    base = pq.read_table(pages_parquet)
    nonempty = [r for r in base.to_pylist() if (r["text"] or "").strip()]

    # ONE query assigns every candidate url (originals + copy names) a part
    cands = [f"zdup://resume-{i}" for i in range(20)]
    urls = [r["url"] for r in nonempty] + cands
    part = {
        r.url: r.p
        for r in spark.createDataFrame([(u,) for u in urls], "url string")
        .selectExpr("url", f"pmod(xxhash64(url), {num_parts}) AS p")
        .collect()
    }
    # pick an original whose part differs from its copy's part
    winner, loser_url = next(
        (r, c) for r in nonempty for c in cands if part[c] != part[r["url"]]
    )
    copy = dict(winner)
    copy["url"] = loser_url

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    pq.write_table(base, str(in_dir / "base.parquet"))
    pq.write_table(pa.Table.from_pylist([copy], schema=base.schema), str(in_dir / "dup.parquet"))

    out = str(tmp_path / "out")
    # run 1: ONLY the winner's part completes
    run_extraction_job(
        spark, str(in_dir), out, run_id="p1", num_parts=num_parts,
        only_parts=[part[winner["url"]]], dedup="exact",
    )
    # run 2: resume the rest — the loser's part now runs with the winner's
    # part already done; the loser must still be dropped
    s2 = run_extraction_job(
        spark, str(in_dir), out, run_id="p2", num_parts=num_parts, dedup="exact"
    )
    assert s2["dups_dropped"] == 1
    written = spark.read.parquet(f"{out}/extractions")
    assert written.filter(F.col("url") == loser_url).count() == 0
    assert written.filter(F.col("url") == winner["url"]).count() >= 1


def test_job_dedup_all_loser_part_completes(spark, tmp_path):
    """A partition whose EVERY page is a dedup loser writes no output rows
    but must still get a 'completed' lineage row (with its dups_dropped) —
    otherwise each resume re-runs it and re-counts its losers forever."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    from ocr_sam_project_spark.sources.io import PAGES_ARROW_SCHEMA

    num_parts = 4
    # one query assigns candidate urls to parts (pmod(xxhash64(url), 4))
    cands = [f"https://w{i}.example/a" for i in range(40)]
    part = {
        r.url: r.p
        for r in spark.createDataFrame([(u,) for u in cands], "url string")
        .selectExpr("url", f"pmod(xxhash64(url), {num_parts}) AS p")
        .collect()
    }
    # winner = the globally smallest url (so it always wins the keep-min
    # tie-break); loser (same text) is ALONE in a different part
    winner = min(cands)
    pa_ = part[winner]
    extra = next(u for u in cands if part[u] == pa_ and u != winner)
    loser = next(u for u in sorted(cands) if part[u] != pa_)
    pb_ = part[loser]
    T = datetime(2025, 1, 1, 10, 0)
    rows = [
        {"url": winner, "warc_ts": T, "html": None, "text": "texto compartido x", "lang": "es"},
        {"url": extra, "warc_ts": T, "html": None, "text": "otro texto unico", "lang": "es"},
        {"url": loser, "warc_ts": T, "html": None, "text": "Texto  COMPARTIDO x", "lang": "es"},
    ]

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    pq.write_table(pa.Table.from_pylist(rows, schema=PAGES_ARROW_SCHEMA), str(in_dir / "p.parquet"))

    out = str(tmp_path / "out")
    s1 = run_extraction_job(
        spark, str(in_dir), out, run_id="r1", num_parts=num_parts, dedup="exact"
    )
    assert s1["dups_dropped"] == 1
    lin = spark.read.parquet(f"{out}/lineage")
    loser_part_rows = lin.filter(F.col("part_id") == pb_).collect()
    assert len(loser_part_rows) == 1  # the dedup-emptied part IS completed
    assert loser_part_rows[0].dups_dropped == 1
    assert loser_part_rows[0].docs_in == 0

    # resume: nothing left to do, and the loser is NOT re-counted
    s2 = run_extraction_job(
        spark, str(in_dir), out, run_id="r2", num_parts=num_parts, dedup="exact"
    )
    assert s2["docs_in"] == 0
    assert s2["dups_dropped"] == 0


def test_metrics_written(spark, pages_parquet, tmp_path):
    out = str(tmp_path / "m")
    run_extraction_job(spark, pages_parquet, out, run_id="rm", num_parts=4)
    m = spark.read.parquet(f"{out}/metrics")
    names = {r.metric for r in m.select("metric").distinct().collect()}
    assert {"docs_in", "segments_out", "errors", "elapsed_sec", "docs_per_sec"} <= names


def test_job_fp_store_bloom_identical(spark, pages_parquet, tmp_path):
    """fp_store_bloom must not change ANY observable output: same
    store_dups_dropped, same docs_in, same surviving url set, same lineage
    totals as the plain semi-join path — the bloom tier only shrinks the
    join input (false negatives impossible, the join removes false
    positives).  Runs with a deliberately small filter so false positives
    are present and MUST be cleaned by the verify join."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_table(pages_parquet)
    rows = [r for r in base.to_pylist() if (r["text"] or "").strip()]

    outs = {}
    for tag, bloom in (("plain", False), ("bloom", True)):
        store = str(tmp_path / f"fp_store_{tag}")
        in1 = tmp_path / f"crawl1_{tag}"
        in1.mkdir()
        pq.write_table(base, str(in1 / "pages.parquet"))
        run_extraction_job(
            spark, str(in1), str(tmp_path / f"o1_{tag}"), run_id="c1",
            num_parts=8, fp_store_path=store,
            fp_store_bloom=bloom, fp_store_bloom_bits=256,
        )
        recrawl = [dict(r) for r in rows[:10]]
        for i, r in enumerate(recrawl):
            r["url"] = f"zrecrawl://copy-{i}"
        fresh = [dict(rows[0]) for _ in range(5)]
        for i, r in enumerate(fresh):
            r["url"] = f"znew://page-{i}"
            r["text"] = f"pagina nueva numero {i} con contenido propio"
        in2 = tmp_path / f"crawl2_{tag}"
        in2.mkdir()
        pq.write_table(
            pa.Table.from_pylist(recrawl + fresh, schema=base.schema),
            str(in2 / "pages.parquet"),
        )
        out2 = str(tmp_path / f"o2_{tag}")
        s2 = run_extraction_job(
            spark, str(in2), out2, run_id="c2", num_parts=8,
            fp_store_path=store,
            fp_store_bloom=bloom, fp_store_bloom_bits=256,
        )
        lin = spark.read.parquet(f"{out2}/lineage")
        outs[tag] = (
            s2["store_dups_dropped"],
            s2["docs_in"],
            sorted(
                r.url
                for r in spark.read.parquet(f"{out2}/extractions")
                .select("url").collect()
            ),
            lin.agg(F.sum("dups_dropped")).first()[0],
        )
    assert outs["plain"] == outs["bloom"]
    assert outs["bloom"][0] == 10 and outs["bloom"][1] == 5


def _write_pages(tmp_path, rows, name="in") -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_sam_project_spark.sources.io import PAGES_ARROW_SCHEMA

    in_dir = tmp_path / name
    in_dir.mkdir()
    pq.write_table(
        pa.Table.from_pylist(rows, schema=PAGES_ARROW_SCHEMA), str(in_dir / "p.parquet")
    )
    return str(in_dir)


def _page(url: str, text: str) -> dict:
    from datetime import datetime

    return {"url": url, "warc_ts": datetime(2025, 1, 1, 10, 0), "html": None,
            "text": text, "lang": "es"}


def test_job_tier_precedence_first_fire(spark, tmp_path):
    """One text shared by three pages: a blocklisted page with the SMALLEST
    url, a robots-refused page and an admitted page.  Each refused page is
    audited by its admission tier only, and the exact-dedup winner is picked
    among the admitted rows: the admitted page is NOT a duplicate of pages
    that never got in (a keep-min over every row would name the blocked url
    the winner and drop the admitted page as its copy)."""
    from ocr_sam_project_spark.operators.webgraph import parse_robots

    text = "texto compartido por tres paginas de hosts distintos en la prueba"
    blocked_url = "https://a.blocked.example/x"
    refused_url = "https://r.example.com/private/p"
    admitted_url = "https://s.example.com/ok"
    in_dir = _write_pages(
        tmp_path, [_page(u, text) for u in (blocked_url, refused_url, admitted_url)]
    )
    robots = parse_robots(
        spark.createDataFrame(
            [("r.example.com", "User-agent: *\nDisallow: /private\n")],
            "host string, robots_txt string",
        )
    )
    out = str(tmp_path / "out")
    s = run_extraction_job(
        spark, in_dir, out, run_id="prec", num_parts=4, dedup="exact",
        url_dedup=True,
        blocklist=spark.createDataFrame([("blocked.example",)], "domain string"),
        robots_rules=robots,
    )
    assert s["blocked_dropped"] == 1
    assert s["robots_dropped"] == 1
    assert s["url_dups_dropped"] == 0
    assert s["dups_dropped"] == 0
    assert s["docs_in"] == 1
    written = {r.url for r in spark.read.parquet(f"{out}/extractions").select("url").collect()}
    assert written == {admitted_url}
    lin = spark.read.parquet(f"{out}/lineage")
    assert lin.agg(F.sum("blocked_dropped")).first()[0] == 2
    assert lin.agg(F.sum("dups_dropped")).first()[0] == 0


def test_job_minhash_dedup(spark, tmp_path):
    """dedup="minhash" through the job: a planted three-page near-duplicate
    cluster keeps its min-url page, the two near copies are dropped before
    extraction and audited in the summary and in lineage; distinct and
    empty-text pages are untouched."""
    words = (
        "el juzgado primero de circuito civil ordena el embargo de las cuentas "
        "bancarias del demandado hasta cubrir la suma adeudada mas intereses "
        "y costas del proceso ejecutivo iniciado por el banco nacional contra "
        "la sociedad comercial del distrito capital en el ano dos mil veinte"
    ).split()
    base = " ".join(words)
    rows = [
        _page("https://m.example/1", base),
        _page("https://m.example/2", " ".join(words[:-1] + ["veintiuno"])),
        _page("https://m.example/3", " ".join(words[:-1] + ["veintidos"])),
        _page("https://u.example/1", "solicitud de informacion de clientes del banco "
              "sobre movimientos de la cuenta corriente durante el ultimo trimestre"),
        _page("https://u.example/2", "citacion formal para comparecer ante el despacho "
              "judicial el proximo lunes a primera hora con documentos de identidad"),
        _page("https://u.example/empty", "   "),
    ]
    in_dir = _write_pages(tmp_path, rows)
    out = str(tmp_path / "out")
    s = run_extraction_job(spark, in_dir, out, run_id="mh", num_parts=4, dedup="minhash")
    assert s["dups_dropped"] == 2
    assert s["docs_in"] == 4
    written = {r.url for r in spark.read.parquet(f"{out}/extractions").select("url").collect()}
    assert written == {"https://m.example/1", "https://u.example/1",
                       "https://u.example/2", "https://u.example/empty"}
    lin = spark.read.parquet(f"{out}/lineage")
    assert lin.agg(F.sum("dups_dropped")).first()[0] == 2
    m = {r.metric: r.value for r in spark.read.parquet(f"{out}/metrics").collect()}
    assert m["dups_dropped"] == 2.0 and m["docs_in"] == 4.0


def test_job_all_tiers_two_eager_checkpoints(spark, tmp_path):
    """The funnel is one pass: an all-tiers run checkpoints eagerly at most
    twice (the keyed frame and the loser table), not once per tier."""
    from ocr_sam_project_spark.operators.webgraph import parse_robots

    store = str(tmp_path / "fp_store")
    run_extraction_job(
        spark, _write_pages(tmp_path, [_page("https://s.example.com/old", "texto ya visto")], "c1"),
        str(tmp_path / "o1"), run_id="c1", num_parts=4, fp_store_path=store,
    )
    rows = [
        _page("https://a.blocked.example/x", "pagina bloqueada"),
        _page("https://r.example.com/private/p", "pagina rechazada por robots"),
        _page("https://u.example.com/p", "pagina con variante de url"),
        _page("https://u.example.com/p?utm_source=x", "pagina con variante de url"),
        _page("https://t.example.com/1", "texto repetido en dos urls"),
        _page("https://t.example.com/2", "texto repetido en dos urls"),
        _page("https://s.example.com/new", "texto ya visto"),
        _page("https://k.example.com/ok", "pagina admitida unica"),
    ]
    in_dir = _write_pages(tmp_path, rows, "c2")
    robots = parse_robots(
        spark.createDataFrame(
            [("r.example.com", "User-agent: *\nDisallow: /private\n")],
            "host string, robots_txt string",
        )
    )
    blocked = spark.createDataFrame([("blocked.example",)], "domain string")

    cls = type(blocked)  # the concrete (classic) DataFrame class
    orig = cls.localCheckpoint
    eager_calls = []

    def counting(self, eager=True, *args, **kwargs):
        if eager:
            eager_calls.append(self)
        return orig(self, eager, *args, **kwargs)

    try:
        cls.localCheckpoint = counting
        s = run_extraction_job(
            spark, in_dir, str(tmp_path / "o2"), run_id="c2", num_parts=4,
            dedup="exact", fp_store_path=store, url_dedup=True, pii_scrub=True,
            blocklist=blocked, robots_rules=robots,
        )
    finally:
        cls.localCheckpoint = orig
    assert (s["blocked_dropped"], s["robots_dropped"], s["url_dups_dropped"],
            s["dups_dropped"], s["store_dups_dropped"], s["docs_in"]) == (1, 1, 1, 1, 1, 3)
    assert len(eager_calls) <= 2, len(eager_calls)


def test_job_split_parallelism_must_be_int(spark, pages_parquet, tmp_path):
    """A malformed split_parallelism raises instead of silently keeping
    Spark's default split size."""
    with pytest.raises(TypeError):
        run_extraction_job(
            spark, pages_parquet, str(tmp_path / "out"), split_parallelism="4"
        )


def test_row_group_probe_warns_on_unreadable_footer(tmp_path):
    """A local input whose footer cannot be read keeps the scan as it is,
    and says so."""
    from ocr_sam_project_spark.pipeline.job import _row_groups_below

    (tmp_path / "bad.parquet").write_bytes(b"not a parquet file")
    with pytest.warns(RuntimeWarning, match="row-group probe"):
        assert _row_groups_below(str(tmp_path), 4) is False
