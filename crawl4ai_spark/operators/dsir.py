"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023).

The standard pretraining-data selection stage: given a huge RAW web
corpus and a small TARGET corpus (the distribution you want more of —
e.g. high-quality curated text), fit cheap bag-of-hashed-ngram
generative models to both, weight every raw document by its estimated
importance ratio p_target(doc)/p_raw(doc), and resample the corpus
proportionally to those weights (Gumbel top-k = weighted sampling
WITHOUT replacement). Reference: arXiv:2302.03169; the same hashed
unigram+bigram featurization fastText popularized. The crawl4ai
reference has no data-mix tier at all (it crawls and extracts;
adaptive_crawler.py's BM25 is query relevance, not corpus selection) —
this supplies the canonical one next to stratified/weighted sampling
(operators/sampling.py).

Model: hash every unigram and adjacent bigram into B buckets
(md5-based so the CORRECTNESS oracle replays it byte-identically in
DuckDB); per bucket b, with add-one smoothing over raw counts c_r /
target counts c_t and totals t_r / t_t:

    log-ratio(b) = ln((c_t+1)/(t_t+B)) - ln((c_r+1)/(t_r+B))

A document's log importance weight is the sum of log-ratio(bucket)
over its ngram INSTANCES (multiplicity counts, as in the paper's
bag-of-ngrams product). Resampling draws the top-k documents by
log w + Gumbel noise, the classic exponential-race trick; the Gumbel
uniform comes from the repo's deterministic md5 coin
(operators/sampling.uniform_e6) so the draw replays across engines,
retries, and partitionings.

Determinism across engines: every libm result (the four ln calls, the
Gumbel double-log) is quantized to integer MICRO-NATS with the repo's
boundary guard round(x*1e6 + 1e-9) BEFORE any summing, so per-document
totals are order-independent integer sums and the top-k key is an
integer with an explicit id tie-break — the same contract that keeps
bm25_corpus / ngram_lm / IVF bit-exact vs the DuckDB oracle.

Scale design (100 TB):
- featurize() is row-local (split + md5 per ngram, JVM codegen) + one
  explode; no Python in the hot path;
- the model is ONE groupBy over hashed buckets (map-side partial agg;
  8-byte keys) producing a B-row table — B is a constant (1024-65536),
  so the log-ratio table always broadcasts;
- scoring is a broadcast hash join (no shuffle) + one per-document
  partial-aggregated groupBy — documents stay in their scan
  partitions until the final doc_id combine;
- resampling is TakeOrdered (top-k without a full sort), driver cost
  O(k); for k too large for the driver, cut by a key threshold from
  approxQuantile instead (documented seam, not needed at gate scale);
- the target corpus rides through the SAME single pass as a boolean
  flag column (conditional sum), so no second scan of the raw data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..persist import PersistSlot
from .sampling import E6, uniform_e6

#: micro-nat quantizer — shared boundary guard (see module docstring)
_UNAT = lambda c: F.round(c * F.lit(1e6) + F.lit(1e-9)).cast("long")  # noqa: E731

_FEATS = PersistSlot()


def cache_featurized(feats: DataFrame) -> DataFrame:
    """Persist a featurize() view that a LAZY caller consumes twice
    (model fit + scoring probe), releasing the previous call's
    (persist.PersistSlot)."""
    return _FEATS.replace(feats)


def hashed_ngram_buckets(words: Column, buckets: int) -> Column:
    """array<bigint> of hashed feature buckets: every unigram and
    every adjacent bigram ("w1 w2") of ``words``, md5-hashed into
    [0, buckets). One array element per ngram INSTANCE (multiplicity
    preserved). Pure Column expression — row-local, codegen'd."""
    n1 = F.greatest(F.size(words) - 1, F.lit(0))
    bigrams = F.transform(
        F.arrays_zip(F.slice(words, 1, n1), F.slice(words, 2, n1)),
        lambda p: F.concat(p["0"], F.lit(" "), p["1"]),
    )
    return F.transform(
        F.concat(words, bigrams),
        lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("bigint")
        % F.lit(buckets),
    )


def featurize(
    docs: DataFrame,
    id_col: str,
    words: Column,
    buckets: int,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Explode ``docs`` to one row per hashed-ngram instance:
    (id_col, *carry_cols, bucket). The single featurized view feeds
    BOTH model fitting and scoring — persist it when running the two
    back-to-back so split+md5 runs once."""
    cols = [F.col(id_col)] + [F.col(c) for c in (carry_cols or [])]
    return docs.select(
        *cols, F.explode(hashed_ngram_buckets(words, buckets)).alias("bucket")
    )


def train_importance_model(
    feats: DataFrame, is_target: Column, buckets: int
) -> DataFrame:
    """Fit the bucketed importance model in ONE aggregation pass.

    ``feats`` is featurize() output; ``is_target`` marks the rows that
    belong to the target distribution (it can be a flag carried from
    the corpus — the target need not be a separate table). Returns the
    B-row broadcastable table (bucket, lr_unat) where lr_unat is the
    add-one-smoothed log(p_target/p_raw) in integer micro-nats.
    """
    cnt = feats.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("c_raw"),
        F.sum(F.when(is_target, 1).otherwise(0)).cast("long").alias("c_tgt"),
    )
    tot = cnt.agg(
        F.sum("c_raw").cast("long").alias("t_raw"),
        F.sum("c_tgt").cast("long").alias("t_tgt"),
    )
    b = F.lit(float(buckets))
    seen = cnt.crossJoin(F.broadcast(tot)).select(
        "bucket",
        _UNAT(
            F.log(F.col("c_tgt").cast("double") + F.lit(1.0))
            - F.log(F.col("t_tgt").cast("double") + b)
            - F.log(F.col("c_raw").cast("double") + F.lit(1.0))
            + F.log(F.col("t_raw").cast("double") + b)
        ).alias("lr_unat"),
    )
    # sentinel row bucket=-1 (hashed buckets are pmod outputs >= 0):
    # the smoothed log-ratio of a bucket UNSEEN at fit time,
    # log((t_raw+B)/(t_tgt+B)) — scoring a different corpus than the
    # one fitted on hits such buckets, and they must contribute this
    # constant, not silently drop out (importance_weights applies it)
    unseen = tot.select(
        F.lit(-1).cast(seen.schema["bucket"].dataType.simpleString())
        .alias("bucket"),
        _UNAT(
            F.log(F.col("t_raw").cast("double") + b)
            - F.log(F.col("t_tgt").cast("double") + b)
        ).alias("lr_unat"),
    )
    return seen.unionByName(unseen)


def importance_weights(
    feats: DataFrame,
    id_col: str,
    model: DataFrame,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Per-document log importance weight: sum of the model's bucket
    log-ratios over the document's ngram instances. Broadcast join +
    one partial-aggregated groupBy. Documents whose feature list is
    empty don't appear (they have no evidence either way — filter
    upstream if every row must survive).

    Buckets absent from the model (scoring a corpus other than the one
    fitted on) contribute the model's unseen-bucket sentinel log-ratio
    (bucket=-1, written by train_importance_model) instead of silently
    dropping — an inner join would bias out-of-vocabulary documents
    toward the corpus mean. Models from before the sentinel existed
    fall back to 0 for unseen buckets (the old inner-join behavior).

    Output: (id_col, *carry_cols, lw_unat).
    """
    keys = [id_col] + list(carry_cols or [])
    sent = model.filter(F.col("bucket") == -1).select("lr_unat").first()
    default_lr = int(sent["lr_unat"]) if sent is not None else 0
    real = model.filter(F.col("bucket") != -1)
    return (
        feats.join(F.broadcast(real), "bucket", "left")
        .groupBy(*keys)
        .agg(
            F.sum(
                F.coalesce(F.col("lr_unat"), F.lit(default_lr).cast("long"))
            ).alias("lw_unat")
        )
    )


def gumbel_key_unat(id_col: Column, salt: str) -> Column:
    """Integer micro-nat Gumbel(0,1) noise from the deterministic md5
    coin: g = -ln(-ln(u)) with u = (uniform_e6 + 0.5)/1e6 in (0, 1)."""
    u = (uniform_e6(id_col, salt).cast("double") + F.lit(0.5)) / F.lit(
        float(E6)
    )
    return _UNAT(-F.log(-F.log(u)))


def importance_resample(
    weights: DataFrame,
    id_col: str,
    k: int,
    salt: str = "dsir",
) -> DataFrame:
    """Gumbel top-k over lw_unat: draws k documents without
    replacement with probability proportional to their importance
    weight. Ties (quantized keys are integers) break on id_col so the
    sample is total-ordered and engine-portable. TakeOrdered — no full
    sort, driver holds only k rows."""
    keyed = weights.withColumn(
        "_gk", F.col("lw_unat") + gumbel_key_unat(F.col(id_col), salt)
    )
    return (
        keyed.orderBy(F.col("_gk").desc(), F.col(id_col).asc())
        .limit(int(k))
        .drop("_gk")
    )


def dsir_select(
    docs: DataFrame,
    id_col: str,
    words: Column,
    is_target: Column,
    k: int,
    buckets: int = 1024,
    salt: str = "dsir",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """End-to-end DSIR: featurize -> fit -> weight -> resample.

    ``is_target`` is evaluated against ``docs`` (e.g. a quality flag
    or a curated-source marker). The featurized view is persisted for
    the model/scoring double consumption and unpersisted before
    return (the result is small — k rows — so materializing through
    limit() first is safe).
    """
    flag = "_is_tgt"
    feats = featurize(
        docs.withColumn(flag, is_target),
        id_col,
        words,
        buckets,
        carry_cols=[flag] + list(carry_cols or []),
    ).persist()
    try:
        model = train_importance_model(feats, F.col(flag), buckets)
        w = importance_weights(
            feats, id_col, model, carry_cols=carry_cols
        )
        out = importance_resample(w, id_col, k, salt=salt)
        out = out.localCheckpoint(eager=True)
    finally:
        feats.unpersist()
    return out
