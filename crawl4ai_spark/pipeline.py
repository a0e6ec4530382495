"""End-to-end training-corpus construction: the composite pipeline a
user of this engine actually runs at 100 TB.

Chains the library's stages in the standard order —

    [line-level boilerplate scrub]           (optional; CCNet §3.1)
    -> [exact-substring scrub]               (optional; Lee et al. 2022)
    -> [host/domain prior]                   (optional; RefinedWeb)
    -> heuristic quality + model classifier  (row-local, no shuffle)
    -> [LM-perplexity band]                  (optional; CCNet §3.3)
    -> exact dedup                           (one content-hash shuffle)
    -> MinHash-LSH near-dedup + components   (banded, never all-pairs;
       optionally keep each cluster's BEST-quality member)
    -> benchmark decontamination             (broadcast eval shingles)
    -> training-mix selection                (stratified md5 coins, or
       DSIR importance resampling toward a target distribution)
    -> sequence packing                      (two-phase prefix sum)
    -> [PII scrub on the release text]       (optional; BigCode order)

— and reports the funnel as ONE aggregation instead of a count job per
stage: every gate becomes a boolean lineage column on the corpus, the
final corpus is the conjunction, and a single pass sums the cumulative
survivor counts. At scale this means the expensive upstream (scan +
quality expressions) runs once, not once per stage count.

Stage ordering notes (the same reasons the published pipelines —
C4, CCNet, Gopher, RefinedWeb — give):
- quality BEFORE dedup: drop garbage before paying the dedup shuffles;
- near-dedup only among quality survivors (LSH candidate volume is
  quadratic in cluster sizes — boilerplate junk makes hot buckets);
- decontamination after dedup (fewer docs to shingle), before
  sampling (a contaminated doc must never be sampled in);
- packing last, over exactly the sampled corpus.

The reference has no corpus tier (it stops at per-page extraction);
this is the training-data extension over the same operators the
catalog gate-checks individually (dedup.py, decontam.py, sampling.py,
packing.py, quality_model.py, text.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .functions.quality_model import classifier_score_milli
from .functions.text import quality_score, token_count
from .operators.dedup import minhash_lsh_pairs, resolve_duplicates
from .operators.packing import pack_concat_chunk, packing_stats
from .operators.sampling import uniform_e6
from .persist import PersistSlot

# multi-consumer stage caches: released at each pipeline ENTRY
# (corpus_flags / build_corpus), so a long session holds at most one
# pipeline's worth of cached blocks
_STAGES = PersistSlot()


@dataclass
class CorpusConfig:
    quality_min_e6: int = 350_000      # heuristic score floor, ppm of 1.0
    classifier_min_milli: int = -900   # model score floor, milli-units
    minhash_threshold: float = 0.7     # near-dup signature agreement
    minhash_hashes: int = 64
    minhash_bands: int = 16
    decontam_ngram: int = 13
    sample_rates_e6: dict[str, int] = field(
        default_factory=lambda: {"en": 1_000_000, "de": 1_000_000,
                                 "fr": 1_000_000, "es": 1_000_000}
    )
    sample_default_e6: int = 0
    # optional stages (None/False = off, keeping the minimal recipe):
    line_dedup_min_dup: int | None = None   # CCNet boilerplate-line scrub
    line_dedup_line_len: int = 10
    substring_dedup_k: int | None = None    # Lee et al. ExactSubstr scrub
    host_min_docs: int | None = None        # RefinedWeb domain prior
    host_min_mean_tokens: int = 0
    lm_max_milli: int | None = None         # CCNet LM band (mean milli-nats)
    lm_min_milli: int = 0
    lm_bucket_keep: int | None = None       # CCNet §3.3 tiering: keep docs
    # whose per-language perplexity bucket (1=head .. 3=tail) is at or
    # below this — e.g. 2 keeps head+middle. Uses the broadcast-cutoff
    # scale path (no per-language sort); composes with the band above.
    resolve_keep_best: bool = False         # near-dup: keep best-quality
    # member of each component (resolve_duplicates(scores=)) instead of
    # first-seen; score = the heuristic quality_score in ppm
    dsir_k: int | None = None               # DSIR mix selection: keep the
    # top-k clean docs by importance to the dsir_target_lang
    # distribution (arXiv:2302.03169) INSTEAD of per-language rates
    dsir_target_lang: str = "en"
    dsir_buckets: int = 1024
    pii_scrub: bool = False                 # typed-placeholder redaction
    sample_salt: str = "corpus1"
    seq_len: int = 2048
    eos_tokens: int = 1
    docs_per_bucket: int = 4096


def corpus_flags(
    docs: DataFrame,
    eval_docs: DataFrame | None,
    cfg: CorpusConfig,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    host_col: str = "host",
) -> DataFrame:
    """The corpus with one boolean lineage column per gate.

    Columns appended: host_keep, q_keep, lm_keep, exact_keep,
    near_keep, clean, sampled (plus `_lines_removed`) — each ALREADY
    conjoined with the gates before it (a row with near_keep=true
    passed every earlier gate too), so funnel counts are plain sums
    and the final corpus is `sampled`. Optional stages that are off
    pass everything through (their gate equals the previous one).

    Stage order follows the published recipes: boilerplate-line scrub
    rewrites text first (CCNet §3.1 — every later signal must see the
    cleaned text), the domain prior is the cheapest corpus-level gate
    (RefinedWeb), heuristic+classifier quality precedes the LM band
    (CCNet §3.3), and dedup runs on what survives.
    """
    # evict the PREVIOUS call's caches (bounded-registry discipline —
    # the comment on _STAGES promises at most one pipeline's
    # worth of cached blocks, which must hold for direct corpus_flags
    # callers too, not only via build_corpus)
    _STAGES.release()
    t = F.col(text_col)

    # optional stage 0: CCNet cross-document boilerplate-line removal
    # (rewrites text_col; downstream quality/LM/dedup see clean text)
    if cfg.line_dedup_min_dup:
        from .operators.dedup import line_dedup

        cleaned = line_dedup(
            docs.select(id_col, text_col),
            text_col,
            id_col,
            min_dup=cfg.line_dedup_min_dup,
            line_len=cfg.line_dedup_line_len,
        ).select(
            id_col,
            F.col(text_col).alias("_clean_text"),
            F.col("removed_lines").alias("_lines_removed"),
        )
        docs = (
            docs.join(cleaned, id_col)
            .withColumn(text_col, F.col("_clean_text"))
            .drop("_clean_text")
        )
    else:
        docs = docs.withColumn("_lines_removed", F.lit(0).cast("long"))

    # optional stage 0b: exact-substring scrub (Lee et al. 2022) —
    # removes corpus-duplicated k-token runs from the text every later
    # signal sees, the finer-grained sibling of the line scrub above
    if cfg.substring_dedup_k:
        from .operators.dedup import substring_dedup

        scrubbed = substring_dedup(
            docs.select(id_col, text_col),
            text_col,
            id_col,
            k=cfg.substring_dedup_k,
        ).select(
            id_col,
            F.col(text_col).alias("_ss_text"),
            F.col("removed_tokens").alias("_substr_removed"),
        )
        docs = (
            docs.join(scrubbed, id_col)
            .withColumn(text_col, F.col("_ss_text"))
            .drop("_ss_text")
        )
    else:
        docs = docs.withColumn("_substr_removed", F.lit(0).cast("long"))

    # optional stage 1: host/domain prior (corpus-level support gate)
    if cfg.host_min_docs:
        from .operators.hostprior import apply_host_prior, host_prior_stats

        stats = host_prior_stats(docs, host_col, token_count(t))
        docs = apply_host_prior(
            docs,
            stats,
            host_col,
            min_docs=cfg.host_min_docs,
            min_mean=cfg.host_min_mean_tokens,
        ).withColumn("host_keep", F.col("host_keep") == 1)
    else:
        docs = docs.withColumn("host_keep", F.lit(True))

    q = F.col("host_keep") & (
        (quality_score(t) * 1_000_000 >= cfg.quality_min_e6)
        & (classifier_score_milli(F.split(t, " ")) >= cfg.classifier_min_milli)
    )
    flagged = docs.withColumn("q_keep", q)

    # optional stage 2: LM-perplexity gate (corpus-self-trained bigram
    # model; CCNet keeps the low-to-middle-cost buckets) — an absolute
    # milli-nat band (lm_max_milli) and/or the §3.3 per-language
    # head/middle/tail tiering (lm_bucket_keep); both read one LM pass
    if cfg.lm_max_milli is not None or cfg.lm_bucket_keep is not None:
        from .functions.ngram_lm import (
            assign_buckets,
            bucket_thresholds,
            lm_self_perplexity,
        )

        # the LM branch fans out over everything above (unigram counts,
        # bigram counts, transitions, and the outer join side all read
        # the line-scrubbed/host-joined upstream) — cache it or the
        # line-dedup shuffles re-execute once per branch
        flagged = _STAGES.hold(flagged)
        lm = lm_self_perplexity(
            flagged.select(id_col, text_col), text_col, id_col
        ).select(id_col, "n_transitions", "avg_cost_milli")
        if cfg.lm_bucket_keep is not None:
            # the bucket path consumes lm THREE times in one plan
            # (threshold agg, bucket assignment, final join-back) — no
            # cross-branch CSE, so persist or the corpus-wide bigram
            # training re-runs per consumer
            lm = _STAGES.hold(lm)
        # <2-token docs carry the no-evidence sentinel 0, which is NOT
        # a measured cost — pass them through instead of letting
        # lm_min_milli > 0 (or a tail bucket) silently drop every
        # short doc
        gate = F.col("n_transitions") == 0
        if cfg.lm_max_milli is not None:
            gate = gate | F.col("avg_cost_milli").between(
                int(cfg.lm_min_milli), int(cfg.lm_max_milli)
            )
        if cfg.lm_bucket_keep is not None:
            # cutoffs from the measured (>=2-token) population only;
            # broadcast-joined back, row-local fold — the 100 TB shape
            scored = lm.filter(F.col("n_transitions") > 0).join(
                flagged.select(id_col, lang_col), id_col
            )
            lm = assign_buckets(
                lm.join(flagged.select(id_col, lang_col), id_col),
                bucket_thresholds(scored, lang_col=lang_col),
                lang_col=lang_col,
            ).drop(lang_col)
            bucket_ok = F.col("ppl_bucket") <= int(cfg.lm_bucket_keep)
            gate = (
                (gate | bucket_ok)
                if cfg.lm_max_milli is None
                else (gate & ((F.col("n_transitions") == 0) | bucket_ok))
            )
        flagged = (
            flagged.join(lm, id_col)
            .withColumn("lm_keep", F.col("q_keep") & gate)
            .drop("avg_cost_milli", "n_transitions", "ppl_bucket")
        )
    else:
        flagged = flagged.withColumn("lm_keep", F.col("q_keep"))

    # exact dedup among quality survivors: first id per content hash.
    # Dropped rows get a per-row singleton key instead of one shared
    # NULL — a shared key would funnel every rejected doc through a
    # single window task (the skew trap this library keeps out of its
    # plans); singletons hash-spread like any other key.
    sha = F.when(F.col("lm_keep"), F.sha2(t, 256)).otherwise(
        F.concat(F.lit("drop:"), F.col(id_col).cast("string"))
    )
    flagged = (
        flagged.withColumn("_sha", sha)
        .withColumn(
            "exact_keep",
            F.col("lm_keep")
            & (
                F.col(id_col)
                == F.min(F.when(F.col("lm_keep"), F.col(id_col))).over(
                    Window.partitionBy("_sha")
                )
            ),
        )
        .drop("_sha")
    )

    # Fan-out point: the near-dup branch (pairs -> components) and the
    # final join's left side both read everything above — without a
    # persist the quality expressions and the dedup window run once
    # per branch (3x upstream at the contamination fan-out too).
    flagged = _STAGES.hold(flagged)

    # near-dedup among exact survivors
    survivors = flagged.filter(F.col("exact_keep"))
    pairs = minhash_lsh_pairs(
        survivors,
        text_col,
        id_col,
        num_hashes=cfg.minhash_hashes,
        bands=cfg.minhash_bands,
        jaccard_threshold=cfg.minhash_threshold,
    )
    scores = (
        survivors.select(
            id_col,
            (quality_score(t) * 1_000_000).cast("long").alias("score"),
        )
        if cfg.resolve_keep_best
        else None
    )
    resolution = resolve_duplicates(
        survivors.select(id_col), pairs, id_col, scores=scores
    ).select(id_col, F.col("is_canonical").cast("boolean").alias("_canon"))
    flagged = flagged.join(resolution, id_col, "left").withColumn(
        "near_keep", F.col("exact_keep") & F.coalesce("_canon", F.lit(False))
    ).drop("_canon")

    flagged = _STAGES.hold(flagged)

    # decontamination (skipped -> clean == near_keep)
    if eval_docs is not None:
        from .operators.decontam import contamination_check

        contam = contamination_check(
            flagged.filter(F.col("near_keep")),
            eval_docs,
            text_col=text_col,
            id_col=id_col,
            ngram=cfg.decontam_ngram,
        ).select(id_col, F.col("contaminated").cast("boolean").alias("_dirty"))
        flagged = flagged.join(contam, id_col, "left").withColumn(
            "clean", F.col("near_keep") & ~F.coalesce("_dirty", F.lit(True))
        ).drop("_dirty")
    else:
        flagged = flagged.withColumn("clean", F.col("near_keep"))

    # mix selection: DSIR importance resampling toward the target
    # distribution when configured, else stratified per-language rates
    # (both row-local/deterministic; DSIR adds one model fit over the
    # clean survivors and a Gumbel top-k)
    if cfg.dsir_k:
        from .operators.dsir import (
            cache_featurized,
            featurize,
            importance_resample,
            importance_weights,
            train_importance_model,
        )

        clean = flagged.filter(F.col("clean"))
        feats = cache_featurized(
            featurize(
                clean.withColumn("_tgt", F.col(lang_col) == cfg.dsir_target_lang),
                id_col,
                F.split(F.col(text_col), " "),
                cfg.dsir_buckets,
                carry_cols=["_tgt"],
            )
        )
        model = train_importance_model(feats, F.col("_tgt"), cfg.dsir_buckets)
        lw = importance_weights(feats, id_col, model)
        picked = importance_resample(
            lw, id_col, cfg.dsir_k, salt=cfg.sample_salt
        ).select(id_col, F.lit(True).alias("_dsir"))
        return flagged.join(picked, id_col, "left").withColumn(
            "sampled", F.col("clean") & F.coalesce("_dsir", F.lit(False))
        ).drop("_dsir")

    # stratified sampling (row-local coin)
    rate = F.lit(int(cfg.sample_default_e6))
    for s, r in sorted(cfg.sample_rates_e6.items()):
        rate = F.when(F.col(lang_col) == s, F.lit(int(r))).otherwise(rate)
    return flagged.withColumn(
        "sampled",
        F.col("clean") & (uniform_e6(F.col(id_col), cfg.sample_salt) < rate),
    )


def corpus_funnel(flags: DataFrame) -> DataFrame:
    """Cumulative survivor counts, one aggregation job."""
    cnt = lambda c: F.sum(F.col(c).cast("long")).alias(c)  # noqa: E731
    return flags.agg(
        F.count("*").alias("input_docs"),
        cnt("host_keep"), cnt("q_keep"), cnt("lm_keep"),
        cnt("exact_keep"), cnt("near_keep"),
        cnt("clean"), cnt("sampled"),
        F.sum("_lines_removed").cast("long").alias("lines_removed"),
        F.sum("_substr_removed").cast("long").alias("substr_tokens_removed"),
    )


def build_corpus(
    docs: DataFrame,
    eval_docs: DataFrame | None = None,
    cfg: CorpusConfig | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    host_col: str = "host",
) -> dict[str, DataFrame]:
    """Run the whole pipeline. Returns {corpus, funnel, assignment,
    pack_stats} — all lazy; `flags` is computed once and reused by
    corpus/funnel (persist it upstream for multi-consumer runs).

    `flags` and `assignment` are persisted (funnel/corpus both read
    flags; pack_stats reads assignment twice) under a bounded registry
    evicted at the next build_corpus call — without this, every
    consumer re-runs the MinHash banding and the component iterations.

    With ``cfg.pii_scrub`` the released corpus text is redacted with
    typed placeholders (functions/entities.py) AFTER all content
    signals — dedup/LM must see the original bytes, the trainer must
    not (the BigCode/RefinedWeb ordering).
    """
    cfg = cfg or CorpusConfig()
    _STAGES.release()
    flags = _STAGES.hold(
        corpus_flags(docs, eval_docs, cfg, text_col, id_col, lang_col, host_col)
    )
    corpus = flags.filter(F.col("sampled")).drop(
        "host_keep", "q_keep", "lm_keep", "exact_keep", "near_keep",
        "clean", "sampled", "_lines_removed", "_substr_removed",
    )
    if cfg.pii_scrub:
        from .functions.entities import redact_pii

        corpus = corpus.withColumn(text_col, redact_pii(F.col(text_col)))
    assignment = _STAGES.hold(
        pack_concat_chunk(
            corpus,
            id_col,
            token_count(text_col),
            cfg.seq_len,
            eos_tokens=cfg.eos_tokens,
            docs_per_bucket=cfg.docs_per_bucket,
        )
    )
    return {
        "flags": flags,
        "corpus": corpus,
        "funnel": corpus_funnel(flags),
        "assignment": assignment,
        "pack_stats": packing_stats(assignment, cfg.seq_len),
    }
