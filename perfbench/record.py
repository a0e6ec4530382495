"""Record the reference outputs the workloads' correctness checks use.

    python3 perfbench/record.py

Writes ``perfbench/references.json``:

- ``pages_markdown_xxh64``: for every page of the crawl corpus, in doc
  id order, the 16-hex-digit ``xxhash64(url, raw_markdown,
  markdown_with_citations)`` of one ``scrape_stage(markdown=True)``
  pass. The crawl compares each page it fetched against this, so a
  change that alters extraction bytes fails the check whatever pages
  the seed makes it reach.
- ``corpus``: the funnel row and packing stats of one ``build_corpus``
  pass. The seed only reorders the documents, so one record holds for
  every seed.

Run it only to accept an intended change of outputs, and say so.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import run as bench  # noqa: E402
from perfbench import trace, workloads  # noqa: E402


def main() -> int:
    workdir = os.path.join(bench.STATE, "work", f"record-{os.getpid()}")
    bench.prepare_env(workdir)
    from crawl4ai_spark.functions.scrape import scrape_stage
    from crawl4ai_spark.session import get_spark

    spark = get_spark(parallelism=bench.cores(), app_name="perfbench-record",
                      extra_conf=bench.spark_conf(workdir, False))
    try:
        run = workloads.Run(spark=spark, workdir=workdir, seed=0, seconds=0,
                            traced=False, tracer=trace.Tracer(),
                            cores=bench.cores(), session_s=0.0)
        pages, langs = workloads.pages_table(run, workloads.N_DOCS)
        from crawl4ai_spark import synth

        digests = workloads.markdown_digests(scrape_stage(
            pages, "html", "url", markdown=True,
            drop_cols=("html", "cleaned_html")))
        urls = [synth.page_url(i, lang) for i, lang in enumerate(langs)]
        if len(digests) != len(urls):
            raise RuntimeError("a page failed to scrape")
        pages.unpersist()
        docs, eval_docs = workloads.corpus_docs(run, workloads.CORPUS_DOCS)
        result = workloads.build_pass(docs, eval_docs,
                                      workloads.corpus_config(),
                                      os.path.join(workdir, "corpus_out"))
    finally:
        bench.stop_spark(spark)
        bench.wait_children()
        shutil.rmtree(workdir, ignore_errors=True)
    with open(workloads.REFERENCES, "w") as f:
        json.dump({"pages_markdown_xxh64": "".join(digests[u] for u in urls),
                   "corpus": result}, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
