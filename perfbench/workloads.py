"""The benchmark's workloads. Each is a closed loop: the next round or
pass is submitted only after the previous one has completed.

A workload function takes a :class:`Run` and returns a :class:`Result`
holding every end-to-end metric and, in a traced run, the per-layer
metrics it exercises.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from dataclasses import dataclass, field

from . import inputs, oracle, trace

N_DOCS = 5000           # pages corpus (the sf0.1 document count)
# Every host starts with as many seed URLs as its per-round budget and
# keeps a full frontier, so each round fetches exactly budget x hosts
# URLs whatever the seed: the work per round does not vary between runs.
ROUND_BUDGET_S = 25.0   # round_seconds: 25 fetches per host per round
SEEDS_PER_HOST = 25
HISTORY = 100_000       # preloaded history fingerprints
MAX_DEPTH = 64          # never binds on this link graph
# A run measures at least this many rounds. On 4 cores two rounds take
# 14-32 s, longer than a 10 s run, so every run measures the same rounds
# and the same state growth however loaded the machine is.
MIN_ROUNDS = 2
CORPUS_DOCS = 1000

REFERENCES = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "references.json")


@dataclass
class Run:
    spark: object
    workdir: str
    seed: int
    seconds: float
    traced: bool
    tracer: trace.Tracer
    cores: int
    session_s: float
    # epoch (start, end) windows the event log is attributed by
    windows: dict = field(default_factory=dict)


@dataclass
class Result:
    correct: bool
    attempted: int
    failed: int
    setup_s: float
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    details: dict = field(default_factory=dict)


def closed_loop(seconds: float, unit, tracer: trace.Tracer, name: str,
                min_units: int = 1):
    """Run ``unit(i)`` back to back until ``seconds`` have elapsed and
    at least ``min_units`` units have run, or until it returns None.
    Returns ``(walls, results, windows)``, windows being the epoch
    ``(start, end)`` of each unit."""
    walls, results, windows = [], [], []
    t_start = time.perf_counter()
    while True:
        with tracer.span(name, index=len(walls)) as sp:
            t0 = time.perf_counter()
            res = unit(len(walls))
            wall = time.perf_counter() - t0
        if res is None:
            tracer.spans.pop()
            break
        walls.append(wall)
        results.append(res)
        windows.append((sp["start"], sp["end"]))
        if (len(walls) >= min_units
                and time.perf_counter() - t_start >= seconds):
            break
    return walls, results, windows


def du(*paths: str) -> int:
    """Bytes of the regular files under ``paths``."""
    total = 0
    for p in paths:
        for root, _dirs, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def load_references() -> dict:
    with open(REFERENCES) as f:
        return json.load(f)


def pages_table(run: Run, n_docs: int):
    """The cached ``synth.generate_pages`` table and its doc languages."""
    from crawl4ai_spark.synth import generate_pages

    sf_dir = os.path.join(run.workdir, "docs")
    langs = inputs.write_documents(sf_dir, n_docs).column("lang").to_pylist()
    with run.tracer.span("synth"):
        pages = generate_pages(run.spark, sf_dir).cache()
        n = pages.count()
    if n != n_docs:
        raise RuntimeError(f"pages table has {n} rows, expected {n_docs}")
    return pages, langs


def markdown_digests(df) -> dict[str, str]:
    """``{url: xxhash64(url, raw_markdown, markdown_with_citations)}``
    as 16-digit hex, for the successful rows of ``df``."""
    from pyspark.sql import functions as F

    h = F.xxhash64("url", F.coalesce("raw_markdown", F.lit("\0")),
                   F.coalesce("markdown_with_citations", F.lit("\0")))
    rows = (df.filter(F.col("success"))
            .select("url", F.lower(F.lpad(F.hex(h), 16, "0")).alias("d"))
            .collect())
    return {r["url"]: r["d"] for r in rows}


# ---------------------------------------------------------------------------
# crawl_polite
# ---------------------------------------------------------------------------

STATE_DIRS = ("frontier", "url_seen", "url_seen_cuckoo", "politeness",
              "tables")
# the sections CrawlRun.run_round tags its jobs with (CrawlRun.job_group)
SECTIONS = ("robots", "politeness", "results", "cache", "metrics", "seen",
            "frontier")


def crawl_polite(run: Run) -> Result:
    from pyspark.sql import functions as F

    from crawl4ai_spark import synth
    from crawl4ai_spark.functions.urls import url_hash
    from crawl4ai_spark.operators.frontier import CrawlConfig, CrawlRun

    t_setup = time.perf_counter()
    pages, langs = pages_table(run, N_DOCS)
    urls = [synth.page_url(i, lang) for i, lang in enumerate(langs)]
    seed_ids = inputs.seed_docs(run.seed, N_DOCS, SEEDS_PER_HOST)
    cfg = CrawlConfig(max_depth=MAX_DEPTH, round_seconds=ROUND_BUDGET_S,
                      seen_filter_kind="cuckoo", snapshot_tables=True)
    crawl_dir = os.path.join(run.workdir, "crawl")
    crawl = CrawlRun(run.spark, pages, crawl_dir, cfg)
    ns = inputs.history_namespace(run.seed)
    with run.tracer.span("seen.add"):
        hist = run.spark.range(HISTORY).select(
            F.concat(F.lit(f"https://{ns}/u"), F.col("id").cast("string")
                     ).alias("url"))
        # round -1: below every round the crawl writes or cleans up
        crawl.seen.add(hist.withColumn("url_hash", url_hash("url")), -1,
                       assume_unique=True)
    with run.tracer.span("seed"):
        crawl.seed([urls[i] for i in seed_ids])
    setup_s = run.session_s + time.perf_counter() - t_setup

    def one_round(r):
        if manifests and not (manifests[-1]["next_frontier"]
                              or manifests[-1]["deferred"]):
            return None
        run.tracer.spans[-1]["round"] = r
        manifests.append(crawl.run_round(r))
        return manifests[-1]

    manifests: list[dict] = []
    walls, _, windows = closed_loop(run.seconds, one_round, run.tracer,
                                    "round", MIN_ROUNDS)
    timed = sum(walls)

    expect = oracle.simulate(urls, seed_ids, budget=int(ROUND_BUDGET_S),
                             max_depth=MAX_DEPTH, max_rounds=len(manifests))
    keys = ("selected", "deferred", "new_links")
    got = [[m[k] for k in keys] for m in manifests]
    want = [[e[k] for k in keys] for e in expect]
    digests = markdown_digests(crawl.results())
    ref = load_references()["pages_markdown_xxh64"]
    want_digests = {urls[i]: ref[16 * i:16 * i + 16]
                    for e in expect for i in e["docs"]}
    sel = sum(m["selected"] for m in manifests)
    ok = sum(m["fetched_ok"] for m in manifests)
    correct = got == want and digests == want_digests and ok == sel
    res = Result(correct, sel, sel - ok if correct else sel, setup_s)
    known = HISTORY + manifests[-1]["cum_admitted_next"]
    state = du(*(os.path.join(crawl_dir, d) for d in STATE_DIRS))
    res.details = {
        "rounds": len(walls), "round_walls_s": walls,
        "vectors": got, "expected": want, "fetched_urls": len(digests),
        "markdown_mismatches": sum(digests.get(u) != d
                                   for u, d in want_digests.items()),
        "state_bytes": state, "known_urls": known,
    }
    res.e2e = {
        "urls_per_s": sel / timed,
        "docs_per_s": ok / timed,
        "round_s_p50": statistics.median(walls),
        "state_bytes_per_url": state / known,
    }
    run.windows = {"units": windows, "groups": {
        crawl.job_group(m["round"], sec): sec
        for m in manifests for sec in SECTIONS}}
    if run.traced:
        res.layers = _crawl_layers(run, crawl, crawl_dir, pages, manifests,
                                   expect)
    return res


def _crawl_layers(run, crawl, crawl_dir, pages, manifests, expect) -> dict:
    from pyspark.sql import functions as F

    from crawl4ai_spark.functions.scrape import scrape_stage

    links = (crawl.results()
             .filter(F.col("round").isin([m["round"] for m in manifests]))
             .select(F.explode("links").alias("lk"))
             .filter(F.col("lk.is_internal")).count())
    new = sum(m["new_links"] for m in manifests)
    cand = sum(e["candidates"] for e in expect)
    sel = sum(m["selected"] for m in manifests)
    tables = os.path.join(crawl_dir, "tables")
    metas = [os.path.join(tables, t, "metadata") for t in os.listdir(tables)]

    # the scrape layer on its own: one pass over every page without and
    # one with markdown, timed apart from the crawl rounds
    scrape_s, windows = {}, []
    for md in (False, True):
        with run.tracer.span(f"scrape.markdown={md}") as sp:
            t0 = time.perf_counter()
            row = scrape_stage(pages, "html", "url", markdown=md,
                               drop_cols=("html", "cleaned_html")).agg(
                F.count("*").alias("n"),
                F.sum((~F.col("success")).cast("long")).alias("bad")).first()
            scrape_s[md] = time.perf_counter() - t0
        windows.append((sp["start"], sp["end"]))
    run.windows["scrape"] = windows[1:]
    return {
        "scrape.busy_s": scrape_s[False],
        "markdown.busy_s": scrape_s[True] - scrape_s[False],
        "scrape.urls": float(row["n"]),
        "scrape.failed": float(row["bad"] or 0),
        "frontier.links_discovered": float(links),
        "frontier.new_links": float(new),
        "frontier.admit_ratio": new / links if links else 0.0,
        "seen.rows": float(HISTORY + manifests[-1]["cum_admitted_next"]),
        "seen.candidates": float(cand),
        "seen.dup_ratio": 1 - new / cand if cand else 0.0,
        "seen.state_bytes": float(du(os.path.join(crawl_dir, "url_seen"),
                                     os.path.join(crawl_dir,
                                                  "url_seen_cuckoo"))),
        "politeness.deferred_rows": float(sum(m["deferred"]
                                              for m in manifests)),
        "politeness.selected_ratio": sel / sum(m["frontier"]
                                               for m in manifests),
        "fetch.selected": float(sel),
        "fetch.ok_ratio": sum(m["fetched_ok"] for m in manifests) / sel,
        "snaptable.commits": float(sum(len(os.listdir(m)) for m in metas)),
        "snaptable.meta_bytes": float(du(*metas)),
    }


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------

def corpus_config():
    """The catalog's ``corpus_pipeline`` recipe."""
    from crawl4ai_spark.pipeline import CorpusConfig

    return CorpusConfig(
        quality_min_e6=200_000,
        sample_rates_e6={"en": 900_000, "de": 800_000,
                         "fr": 700_000, "es": 600_000},
        seq_len=512,
        docs_per_bucket=256,
    )


def corpus_docs(run: Run, n_docs: int):
    """Cached ``(doc_id, text, lang)`` rows in a seed-picked order, and
    the decontamination eval set (every 97th document)."""
    from pyspark.sql import functions as F

    sf_dir = os.path.join(run.workdir, "docs")
    inputs.write_documents(sf_dir, n_docs)
    with run.tracer.span("synth"):
        docs = (run.spark.read.parquet(f"{sf_dir}/documents.parquet")
                .select("doc_id", "text", "lang")
                .orderBy(F.xxhash64("doc_id", F.lit(run.seed)))
                .repartition(run.cores * 2).cache())
        docs.count()
    return docs, docs.filter(F.col("doc_id") % 97 == 13).select("text")


def build_pass(docs, eval_docs, cfg, out_dir: str) -> dict:
    """One ``build_corpus`` pass: the corpus written, the funnel row and
    the packing stats collected."""
    from crawl4ai_spark.pipeline import build_corpus

    out = build_corpus(docs, eval_docs, cfg)
    out["corpus"].write.mode("overwrite").parquet(out_dir)
    return json.loads(json.dumps({
        "funnel": out["funnel"].first().asDict(),
        "pack": out["pack_stats"].first().asDict(),
    }, sort_keys=True, default=str))


def corpus(run: Run) -> Result:
    t_setup = time.perf_counter()
    docs, eval_docs = corpus_docs(run, CORPUS_DOCS)
    cfg = corpus_config()
    out_dir = os.path.join(run.workdir, "corpus_out")
    setup_s = run.session_s + time.perf_counter() - t_setup

    def one_pass(i):
        with run.tracer.span("build_corpus"):
            return build_pass(docs, eval_docs, cfg, out_dir)

    walls, outs, windows = closed_loop(run.seconds, one_pass, run.tracer,
                                       "pass")
    timed = sum(walls)
    ref = load_references()["corpus"]
    correct = all(o == ref for o in outs)
    attempted = CORPUS_DOCS * len(walls)
    res = Result(correct, attempted, 0 if correct else attempted, setup_s)
    res.details = {"passes": len(walls), "pass_walls_s": walls,
                   "result": outs[-1]}
    res.e2e = {
        "urls_per_s": attempted / timed,
        "docs_per_s": attempted / timed,
        "round_s_p50": statistics.median(walls),
        "state_bytes_per_url": du(out_dir) / CORPUS_DOCS,
    }
    run.windows = {"units": windows}
    if run.traced:
        res.layers = _corpus_layers(run, docs, eval_docs, cfg, outs[-1])
    return res


def _corpus_layers(run, docs, eval_docs, cfg, last) -> dict:
    """Times the public stages ``build_corpus`` composes, each called
    on its own over the same documents."""
    from crawl4ai_spark.operators.decontam import contamination_check
    from crawl4ai_spark.operators.dedup import (
        exact_dedup, minhash_lsh_pairs, resolve_duplicates)
    from crawl4ai_spark.pipeline import build_corpus

    def timed(name, fn):
        with run.tracer.span(name):
            t0 = time.perf_counter()
            fn()
            return time.perf_counter() - t0

    out = build_corpus(docs, eval_docs, cfg)
    flags_s = timed("pipeline.flags", lambda: out["flags"].count())
    pack_s = timed("pipeline.pack", lambda: out["assignment"].count())
    exact_s = timed("dedup.exact",
                    lambda: exact_dedup(docs, "text", "doc_id").count())
    pairs = minhash_lsh_pairs(docs, "text", "doc_id",
                              num_hashes=cfg.minhash_hashes,
                              bands=cfg.minhash_bands,
                              jaccard_threshold=cfg.minhash_threshold).cache()
    minhash_s = timed("dedup.minhash", lambda: pairs.count())
    comp_s = timed("dedup.components", lambda: resolve_duplicates(
        docs.select("doc_id"), pairs, "doc_id").count())
    pairs.unpersist()
    decontam_s = timed("decontam", lambda: contamination_check(
        docs, eval_docs, ngram=cfg.decontam_ngram).count())
    funnel = last["funnel"]
    return {
        "pipeline.flags_s": flags_s,
        "pipeline.pack_s": pack_s,
        "dedup.exact_s": exact_s,
        "dedup.minhash_s": minhash_s,
        "dedup.components_s": comp_s,
        "decontam.busy_s": decontam_s,
        "pipeline.kept_ratio": funnel["sampled"] / funnel["input_docs"],
    }


WORKLOADS = {"crawl_polite": crawl_polite, "corpus": corpus}
