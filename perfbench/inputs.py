"""Inputs for the four benchmark workloads.

The pipeline inputs are a pure function of the seed: the same seed gives
byte-identical parquet files, golden rows and planted counts.  The operator
suite reads fixed TESTDATA tables, so the seed does not apply to it.  The
program under test only ever sees the files written here.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from ocr_sam_project_spark.sources.io import PAGES_ARROW_SCHEMA
from ocr_sam_project_spark.sources.synth import HOT_DOMAINS, Page, make_pages

# funnel_dup plants: a blocklisted registrable domain and a robots-disallowed
# path prefix on the hot hosts.  Base pages live under /oficios/, so neither
# rule can touch them.
BLOCKED_DOMAIN = "bloqueado.example"
ROBOTS_PREFIX = "/privado/"
FUNNEL_TIERS = ("blocklist", "robots", "url_dedup", "text_dedup", "fp_store")


@dataclass
class PagesInput:
    """One pipeline workload's input: the pages parquet plus what a correct
    run must produce from it."""

    path: str
    n_pages: int
    golden: dict[tuple[str, int], str] = field(default_factory=dict)
    planted: dict[str, int] = field(default_factory=dict)
    survivors: int = 0
    blocklist: list[str] = field(default_factory=list)
    robots_txt: dict[str, str] = field(default_factory=dict)
    store_path: str = ""
    profile_sample: list[Page] = field(default_factory=list)


def _write_pages(path: str, pages: list[Page]) -> None:
    rows = [
        {"url": p.url, "warc_ts": p.warc_ts, "html": p.html, "text": p.text, "lang": p.lang}
        for p in pages
    ]
    # small row groups, as sources.io does: parquet cannot split below one
    pq.write_table(
        pa.Table.from_pylist(rows, schema=PAGES_ARROW_SCHEMA), path, row_group_size=256
    )


def _golden(pages: list[Page]) -> dict[tuple[str, int], str]:
    return {(p.url, seg): txt for p in pages for seg, txt in p.golden}


def html_extract(work: str, seed: int, n: int) -> PagesInput:
    pages = make_pages(n, seed)
    path = os.path.join(work, "html_extract.parquet")
    _write_pages(path, pages)
    return PagesInput(path, len(pages), golden=_golden(pages), survivors=len(pages),
                      profile_sample=pages[:200])


def pdf_text(work: str, seed: int, n: int) -> PagesInput:
    """Only the PDF-path rows of a generation ten times the size: half real
    PDF bytes with zlib streams, half marker bytes plus a text layer."""
    pages = [p for p in make_pages(10 * n, seed) if p.html.startswith(b"%PDF")]
    path = os.path.join(work, "pdf_text.parquet")
    _write_pages(path, pages)
    return PagesInput(path, len(pages), golden=_golden(pages), survivors=len(pages),
                      profile_sample=pages[:100])


def funnel_dup(work: str, seed: int, n: int) -> PagesInput:
    """The html_extract corpus plus `n // 20` planted losers per funnel tier.

    * blocklist:  fresh pages on subdomains of BLOCKED_DOMAIN;
    * robots:     fresh pages under ROBOTS_PREFIX on the hot hosts;
    * url_dedup:  utm/fragment variants of base urls (the base url is the
                  canonical min, so the variant is the loser);
    * text_dedup: same html/text as a base page under a new path that sorts
                  after /oficios/ (so the copy is the loser);
    * fp_store:   fresh pages whose fingerprints are already in the store.

    Each planted page is dropped by exactly its own tier, and every base page
    survives, so each tier's drop count must equal its planted count."""
    k = max(1, n // 20)
    pool = make_pages(n + 4 * k + 2 * k, seed)
    base, tail = pool[:n], pool[n:]
    rng = random.Random(seed ^ 0x5EED)
    fresh = [p for p in tail if p.text.strip()]
    blocked_src, robots_src, store_src = fresh[:k], fresh[k:2 * k], fresh[2 * k:3 * k]
    store_filler = fresh[3 * k:]

    def clone(p: Page, url: str) -> Page:
        return Page(url, p.warc_ts, p.html, p.text, p.lang)

    with_text = [p for p in base if p.text.strip()]
    picks = rng.sample(with_text, 2 * k)
    url_variants = [
        clone(p, p.url + ("?utm_source=boletin&utm_medium=correo" if j % 2 else "#comentarios"))
        for j, p in enumerate(picks[:k])
    ]
    text_copies = [clone(p, p.url.replace("/oficios/", "/reimpresos/")) for p in picks[k:]]
    blocked = [
        clone(p, f"https://portal{j % 7}.{BLOCKED_DOMAIN}/oficios/{j:08d}")
        for j, p in enumerate(blocked_src)
    ]
    robots = [
        clone(p, f"https://{HOT_DOMAINS[j % len(HOT_DOMAINS)]}{ROBOTS_PREFIX}{j:08d}")
        for j, p in enumerate(robots_src)
    ]
    stored = [
        clone(p, f"https://{HOT_DOMAINS[j % len(HOT_DOMAINS)]}/archivo/{j:08d}")
        for j, p in enumerate(store_src)
    ]
    pages = base + url_variants + text_copies + blocked + robots + stored
    rng.shuffle(pages)
    path = os.path.join(work, "funnel_dup.parquet")
    _write_pages(path, pages)
    store_path = os.path.join(work, "fp_store_pages.parquet")
    _write_pages(store_path, stored + store_filler)
    return PagesInput(
        path,
        len(pages),
        planted={t: k for t in FUNNEL_TIERS},
        survivors=len(base),
        blocklist=[BLOCKED_DOMAIN, "otro-spam.example"],
        robots_txt={
            h: f"User-agent: *\nDisallow: {ROBOTS_PREFIX}\nAllow: /oficios/\n" for h in HOT_DOMAINS
        },
        store_path=store_path,
        profile_sample=base[:200],
    )


# --------------------------------------------------------------------------
# operator_suite tables: byte-identical copies of the repo's read-only
# TESTDATA (TESTDATA.md, seed 42), kept under testdata/ because a run reads
# only inside its checkout.  Every suite query reads only documents and
# embeddings, which come from the named scale; queries._load registers all
# ten tables, and the other eight come from sf0.001.

TESTDATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata")
SUITE_READS = ("documents", "embeddings")


def suite_tables(work: str, scale: str) -> str:
    out = os.path.join(work, "tables")
    shutil.copytree(os.path.join(TESTDATA, "sf0.001"), out)
    for t in SUITE_READS:
        shutil.copy(os.path.join(TESTDATA, scale, f"{t}.parquet"), out)
    return out
