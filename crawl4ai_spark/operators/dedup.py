"""Deduplication operators — exact, MinHash+LSH, SimHash, n-gram Jaccard.

These are the training-data-pipeline operators layered on the crawl
output (the reference itself dedups only by URL / content hash —
async_database.py:527-541 content-addressed blobs; utils.py:2681
generate_content_hash). Everything here is native Spark: shingling,
hashing, banding and bucketing are Column expressions; candidate
generation is a co-partitioned groupBy on band buckets (LSH), never an
all-pairs product.

Scale notes (100 TB):
- MinHash signature computation is narrow (no shuffle).
- LSH banding shuffles once on (band_id, band_hash) — uniformly
  distributed by construction, no skew.
- n-gram Jaccard self-join shuffles on shingle; hot shingles are capped
  by `max_shingle_df` (document-frequency cut) before the join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import shingle_hashes, shingle_hashes_md5, shingles, tokens
from ..persist import PersistSlot

# Mersenne prime 2^31-1: (a*(x%p))%p stays within int64 for a,p < 2^31.
MERSENNE_P = 2147483647


def _mh_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal hash family."""
    params = []
    state = seed
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (2**63)
        a = 1 + state % (MERSENNE_P - 1)
        state = (state * 6364136223846793005 + 1442695040888963407) % (2**63)
        b = state % MERSENNE_P
        params.append((a, b))
    return params


# the minhash/prefix pipelines persist a side table that is read twice
# within one returned (lazy) plan; the next dedup call releases it
_SIDE_TABLES = PersistSlot()


def _plan_row_count(df: DataFrame) -> int | None:
    """Row count from optimizer statistics (free — no job). Defined for
    parquet scans with footer counts / CBO stats; None otherwise."""
    try:
        rc = df._jdf.queryExecution().optimizedPlan().stats().rowCount()
        return int(rc.get().longValue()) if rc.isDefined() else None
    except Exception:
        return None


def _spread(df: DataFrame) -> DataFrame:
    """Repartition the input before the narrow hashing stages: parquet
    scans often arrive in a handful of partitions (file-sized), which
    would serialize the per-row shingle/signature work onto as many
    cores; one cheap shuffle of the raw rows unlocks the cluster."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n)


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the smallest id per exact content hash (hash-groupBy dedup)."""
    h = F.sha2(F.col(text_col), 256).alias("_content_sha")
    w = Window.partitionBy("_content_sha").orderBy(F.col(id_col))
    return (
        df.withColumn("_content_sha", h)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_content_sha", "_rn")
    )


_MINHASH_UDFS: dict = {}


def _minhash_udf(num_hashes: int, seed: int):
    """Arrow-batched numpy minhash over precomputed shingle hashes.

    The shingle hashing itself stays JVM-side (xxhash64 inside one
    ``transform``); the 64-permutation min-reduction is the part that
    explodes Catalyst codegen (64 nested array transforms blew the
    whole-stage-codegen method limit and fell back to interpreted eval,
    ~100x slower), so it runs as one vectorized numpy kernel per batch:
    (a[:,None] * flat + b[:,None]) %% P followed by minimum.reduceat.
    """
    key = (num_hashes, seed)
    if key in _MINHASH_UDFS:
        return _MINHASH_UDFS[key]
    params = _mh_params(num_hashes, seed)
    A = np.array([p[0] for p in params], dtype=np.int64)[:, None]
    B = np.array([p[1] for p in params], dtype=np.int64)[:, None]

    @F.pandas_udf("array<bigint>")
    def mh(base: pd.Series) -> pd.Series:
        out = [None] * len(base)
        arrs, idxs = [], []
        for i, v in enumerate(base):
            if v is not None and len(v):
                arrs.append(np.asarray(v, dtype=np.int64))
                idxs.append(i)
        if not arrs:
            return pd.Series(out, dtype="object")
        flat = np.concatenate(arrs)
        offsets = np.zeros(len(arrs), dtype=np.int64)
        np.cumsum([len(a) for a in arrs[:-1]], out=offsets[1:])
        vals = (A * flat[None, :] + B) % MERSENNE_P  # (H, total)
        mins = np.minimum.reduceat(vals, offsets, axis=1)  # (H, n)
        for j, i in enumerate(idxs):
            out[i] = mins[:, j].tolist()
        return pd.Series(out, dtype="object")

    _MINHASH_UDFS[key] = mh
    return mh


def minhash_signature(
    text: Column | str, num_hashes: int = 64, shingle_k: int = 3, seed: int = 42,
    hash_fn: str = "xxhash64",
) -> Column:
    """MinHash signature (array<bigint> of length num_hashes) — narrow.
    ``hash_fn='md5'`` swaps in the engine-portable shingle hash so the
    SQL oracle can replay the identical permutations."""
    hashes = (
        shingle_hashes(text, shingle_k)
        if hash_fn == "xxhash64"
        else shingle_hashes_md5(text, shingle_k)
    )
    base = F.transform(hashes, lambda x: F.pmod(x, F.lit(MERSENNE_P)))
    return _minhash_udf(num_hashes, seed)(base)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    jaccard_threshold: float | None = None,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash banding.

    Returns (id_a, id_b, est_jaccard) with id_a < id_b. est_jaccard is
    the signature-agreement fraction; when `jaccard_threshold` is set,
    pairs below it are dropped.

    Plan shape: narrow signature (persisted — reused by the banding AND
    the post-dedup agreement joins) -> explode B bands carrying only
    (id, band, band_hash) 24-byte rows -> ONE shuffle on (band,
    band_hash) -> within-bucket self-join (buckets are tiny by
    construction) -> pair dedup -> join the two signatures back for the
    agreement estimate. Keeping the 64x8-byte signatures OUT of the
    banding explode and the self-join cuts the candidate-stage shuffle
    bytes ~8x; at 100 TB the signatures would live in a materialized
    side table keyed by id — the persist here is that table.
    """
    rows = num_hashes // bands
    sig = minhash_signature(F.col(text_col), num_hashes, shingle_k, seed, hash_fn)
    with_sig = _SIDE_TABLES.replace(
        _spread(df).select(F.col(id_col).alias("_id"), sig.alias("_sig"))
    )

    band_arr = F.array(
        *[
            F.xxhash64(
                F.array_join(
                    F.transform(
                        F.slice(F.col("_sig"), b * rows + 1, rows),
                        lambda x: x.cast("string"),
                    ),
                    ",",
                ),
                F.lit(b),
            )
            for b in range(bands)
        ]
    )
    banded = with_sig.select("_id", F.posexplode(band_arr).alias("_band", "_bh"))

    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a._band") == F.col("b._band"))
            & (F.col("a._bh") == F.col("b._bh"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )

    sig_a = with_sig.select(F.col("_id").alias("id_a"), F.col("_sig").alias("_sa"))
    sig_b = with_sig.select(F.col("_id").alias("id_b"), F.col("_sig").alias("_sb"))
    agree = F.size(
        F.filter(
            F.zip_with(F.col("_sa"), F.col("_sb"), lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    out = (
        cand.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .withColumn("est_jaccard", agree.cast("double") / F.lit(float(num_hashes)))
        .drop("_sa", "_sb")
        .select("id_a", "id_b", "est_jaccard")
    )
    if jaccard_threshold is not None:
        out = out.filter(F.col("est_jaccard") >= jaccard_threshold)
    return out


_SIMHASH_UDF = None


def _simhash_udf():
    """Arrow-batched numpy simhash: per-bit +1/-1 votes over the shingle
    hashes, reduced per row. (The pure-Column formulation — bin() digit
    strings zipped per shingle — was correct but interpreted-eval slow.)
    """
    global _SIMHASH_UDF
    if _SIMHASH_UDF is not None:
        return _SIMHASH_UDF

    @F.pandas_udf("bigint")
    def sh64(hashes: pd.Series) -> pd.Series:
        out = np.zeros(len(hashes), dtype=np.int64)
        arrs, idxs = [], []
        for i, v in enumerate(hashes):
            if v is not None and len(v):
                arrs.append(np.asarray(v, dtype=np.int64).view(np.uint64))
                idxs.append(i)
        if arrs:
            flat = np.concatenate(arrs)
            offsets = np.zeros(len(arrs), dtype=np.int64)
            np.cumsum([len(a) for a in arrs[:-1]], out=offsets[1:])
            bits = (flat[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
            ones = np.add.reduceat(bits.astype(np.int64), offsets, axis=0)  # (n, 64)
            lens = np.diff(np.append(offsets, len(flat)))[:, None]
            votes = 2 * ones - lens
            sel = (votes > 0).astype(np.uint64)
            vals = (sel << np.arange(64, dtype=np.uint64)).sum(
                axis=1, dtype=np.uint64
            ).view(np.int64)
            for j, i in enumerate(idxs):
                out[i] = vals[j]
        return pd.Series(out)

    _SIMHASH_UDF = sh64
    return sh64


def simhash(text: Column | str, shingle_k: int = 2,
            hash_fn: str = "xxhash64") -> Column:
    """64-bit SimHash over shingle hashes (bit j of the result is the
    sign of the per-bit vote sum); ``hash_fn='md5'`` uses the portable
    60-bit shingle hash (top bits vote all-negative -> zero)."""
    hashes = (
        shingle_hashes(text, shingle_k)
        if hash_fn == "xxhash64"
        else shingle_hashes_md5(text, shingle_k)
    )
    return _simhash_udf()(hashes)


def simhash_hamming(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    max_hamming: int = 3,
    shingle_k: int = 2,
    n_tables: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming.

    Candidate generation: split the 64-bit simhash into `n_tables`
    16-bit blocks; by pigeonhole, any pair within Hamming distance
    n_tables-1 agrees on at least one block — bucket-join per block,
    then exact Hamming verify. One shuffle per table, no all-pairs.

    Raises when ``max_hamming > n_tables - 1``: pigeonhole recall only
    covers n_tables-1 differing bits, so a larger radius would be
    SILENTLY incomplete (pairs whose diffs span every block share no
    key) — raise n_tables instead.
    """
    if max_hamming > n_tables - 1:
        raise ValueError(
            f"simhash_pairs: max_hamming={max_hamming} needs at least "
            f"{max_hamming + 1} tables for full pigeonhole recall "
            f"(got n_tables={n_tables}); results would silently miss "
            "pairs whose differing bits span every block"
        )
    block_bits = 64 // n_tables
    sh = simhash(F.col(text_col), shingle_k, hash_fn)
    base = _spread(df).select(F.col(id_col).alias("_id"), sh.alias("_sim"))

    mask = (1 << block_bits) - 1
    blocks = F.array(
        *[
            F.shiftrightunsigned(F.col("_sim"), t * block_bits).bitwiseAND(F.lit(mask))
            for t in range(n_tables)
        ]
    )
    tabled = base.select("_id", "_sim", F.posexplode(blocks).alias("_t", "_key"))

    a, b = tabled.alias("a"), tabled.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a._t") == F.col("b._t"))
            & (F.col("a._key") == F.col("b._key"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._sim").alias("_ha"),
            F.col("b._sim").alias("_hb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn("hamming", simhash_hamming(F.col("_ha"), F.col("_hb")))
        .filter(F.col("hamming") <= max_hamming)
        .drop("_ha", "_hb")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 1000,
    algorithm: str = "auto",
    approx_count: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs >= threshold.

    Two physical strategies with identical output:

    - ``inverted``: explode(distinct shingles) -> hot-shingle DF cap ->
      self-join on shingle -> per-pair intersection counts -> Jaccard
      with per-doc set sizes. Fewest passes — fastest at small scale,
      but the self-join fans out as sum(df^2) over shingles.
    - ``prefix``: AllPairs/PPJoin prefix filtering. Under the global
      (df asc, hash asc) shingle order, two sets with Jaccard >= t must
      share an element among each one's first ``n - ceil(t*n) + 1``
      shingles — only those enter the index self-join (rarest shingles
      first, so frequent shingles sit in almost nobody's prefix),
      collapsing the candidate count quadratically; candidates are then
      verified EXACTLY with one array_intersect over the full sets.
      More passes, but the only shape that survives web-scale corpora.

    ``auto`` picks inverted below ~100k docs and prefix above — the
    crossover where the prefix pipeline's extra passes amortize. The
    row count comes from ``approx_count`` when the caller knows it,
    else from optimizer plan statistics, and only as a last resort from
    a ``count()`` action (which re-executes the upstream plan — pass
    ``approx_count`` or a concrete ``algorithm`` on hot paths).
    The hot-shingle DF cap applies in both (removing boilerplate
    shingles from the sets themselves).

    join key = xxhash64(shingle): an 8-byte shuffle key instead of the
    shingle string (collision odds ~2^-64 per pair — negligible even at
    web scale, and only ever merges two shingles, biasing Jaccard by at
    most 1/|union|).
    """
    if algorithm == "auto":
        n_rows = approx_count if approx_count is not None else _plan_row_count(df)
        if n_rows is None:
            n_rows = df.count()
        algorithm = "inverted" if n_rows <= 100_000 else "prefix"

    ex = _spread(df).select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.array_distinct(shingle_hashes(F.col(text_col), shingle_k))
        ).alias("_sh"),
    )

    if algorithm == "inverted":
        if max_shingle_df is not None:
            dfreq = ex.groupBy("_sh").agg(F.count("*").alias("_df"))
            ex = ex.join(
                F.broadcast(
                    dfreq.filter(F.col("_df") > max_shingle_df).select("_sh")
                ),
                "_sh",
                "left_anti",
            )
        sizes = ex.groupBy("_id").agg(F.count("*").alias("_n"))
        a, b = ex.alias("a"), ex.alias("b")
        inter = (
            a.join(
                b,
                (F.col("a._sh") == F.col("b._sh"))
                & (F.col("a._id") < F.col("b._id")),
            )
            .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
            .agg(F.count("*").alias("_inter"))
        )
        return (
            inter.join(
                sizes.withColumnRenamed("_id", "id_a").withColumnRenamed("_n", "_na"),
                "id_a",
            )
            .join(
                sizes.withColumnRenamed("_id", "id_b").withColumnRenamed("_n", "_nb"),
                "id_b",
            )
            .withColumn(
                "jaccard",
                F.col("_inter").cast("double")
                / (F.col("_na") + F.col("_nb") - F.col("_inter")).cast("double"),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )

    # -- prefix-filtered path ------------------------------------------------
    # one shingle-hash pass feeds DF counts AND sets
    ex = _SIDE_TABLES.replace(ex)
    dfreq = ex.groupBy("_sh").agg(F.count("*").alias("_df"))
    exd = ex.join(dfreq, "_sh")
    if max_shingle_df is not None:
        exd = exd.filter(F.col("_df") <= max_shingle_df)

    sets = (
        exd.groupBy("_id")
        .agg(F.array_sort(F.collect_list(F.struct("_df", "_sh"))).alias("_ord"))
        .select("_id", F.transform("_ord", lambda x: x["_sh"]).alias("_set"))
    )

    n = F.size("_set")
    # epsilon guards the ceil against float error (10*0.9 -> 9.0000…02
    # would over-tighten the prefix and silently DROP true pairs)
    prefix_len = n - F.ceil(n.cast("double") * threshold - 1e-9).cast("int") + 1
    pref = sets.select(
        "_id",
        F.explode(F.slice("_set", 1, F.greatest(prefix_len, F.lit(1)))).alias("_sh"),
    )

    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a._sh") == F.col("b._sh")) & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )

    set_a = sets.select(F.col("_id").alias("id_a"), F.col("_set").alias("_xa"))
    set_b = sets.select(F.col("_id").alias("id_b"), F.col("_set").alias("_xb"))
    inter = F.size(F.array_intersect(F.col("_xa"), F.col("_xb")))
    na, nb = F.size(F.col("_xa")), F.size(F.col("_xb"))
    return (
        cand.join(set_a, "id_a")
        .join(set_b, "id_b")
        .withColumn(
            "jaccard",
            inter.cast("double") / (na + nb - inter).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# Connected components + duplicate resolution
# ---------------------------------------------------------------------------


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    nodes: DataFrame | None = None,
    node_col: str | None = None,
    max_iter: int = 50,
) -> DataFrame:
    """Label every node with the minimum node id reachable from it —
    the canonical last stage of a near-dup pipeline (pair lists from
    MinHash/SimHash/Jaccard/embedding candidates are edges; a
    *component*, not a pair, is the unit you keep-one-of).

    The reference keeps only per-URL/content-hash exact dedup
    (async_database.py:527-541, utils.py:2681); transitive closure over
    near-dup pairs is the standard web-corpus extension (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better").

    Algorithm: distributed min-label propagation with pointer jumping
    (label(u) <- label(label(u)) each round), the halving trick from
    the MapReduce connected-components literature (Kiveris et al.,
    "Connected Components in MapReduce and Beyond"): rounds are
    O(log d) in the component diameter rather than O(d), and every
    round is two key-partitioned joins + one groupBy — no all-pairs
    product, no driver-side graph. At 100 TB the label table is
    (node, label) longs only; edges stay canonicalized + distinct so
    multi-edges from several candidate generators collapse before the
    first shuffle.

    `nodes` (optional) supplies the full node universe so isolated
    documents come out as singleton components; otherwise the universe
    is every edge endpoint. Output: (node, component) with component =
    min node id of the component. Deterministic for any input order.
    """
    e = (
        edges.select(
            F.col(src).cast("long").alias("s"), F.col(dst).cast("long").alias("d")
        )
        .filter(F.col("s") != F.col("d"))
        .select(
            F.least("s", "d").alias("s"), F.greatest("s", "d").alias("d")
        )
        .distinct()
    )
    sym = e.unionByName(
        e.select(F.col("d").alias("s"), F.col("s").alias("d"))
    ).persist()
    if nodes is not None:
        lab = nodes.select(
            F.col(node_col or nodes.columns[0]).cast("long").alias("node")
        ).distinct()
    else:
        lab = sym.select(F.col("s").alias("node")).distinct()
    # Iterative plans MUST truncate lineage each round: the pointer-jump
    # self-join doubles the logical plan per iteration, so chaining lazy
    # DataFrames explodes the plan exponentially (observed: a 2 GiB plan
    # string by round ~8). localCheckpoint materializes the label table
    # and cuts the lineage — plan size stays constant across rounds. On
    # a real cluster swap for reliable checkpoint() (executor-loss-safe).
    lab = lab.withColumn("lab", F.col("node")).localCheckpoint()

    for _ in range(max_iter):
        # neighbour-min: candidate label = min(own, min over neighbours)
        nbr = (
            sym.join(
                lab.select(F.col("node").alias("d"), F.col("lab").alias("nlab")),
                "d",
            )
            .groupBy("s")
            .agg(F.min("nlab").alias("nlab"))
            .withColumnRenamed("s", "node")
        )
        cand = lab.join(nbr, "node", "left").select(
            "node",
            F.col("lab").alias("old"),  # ride the pre-round label along
            F.least("lab", F.coalesce("nlab", F.col("lab"))).alias("lab"),
        ).persist()  # read twice by the pointer-jump self-join below
        # pointer jump: labels are node ids, so chase one hop of the
        # label table itself — halves chain depth every round
        jumped = (
            cand.alias("c")
            .join(
                cand.select(
                    F.col("node").alias("lab"), F.col("lab").alias("lab2")
                ).alias("p"),
                "lab",
                "left",
            )
            .select(
                "node", "old",
                F.coalesce("lab2", F.col("lab")).alias("lab"),
            )
            .localCheckpoint()  # eager: materialized + lineage cut
        )
        # convergence = no label moved this round; `old` rode through
        # the jump, so this is a filter over the checkpointed table —
        # no join back against the previous label table
        stable = jumped.filter(F.col("lab") != F.col("old")).isEmpty()
        cand.unpersist()
        lab = jumped.select("node", "lab")
        if stable:
            break
    sym.unpersist()
    # drop the dead per-iteration checkpoint tables' python refs so
    # ContextCleaner can release their storage blocks — in a
    # long-running session they otherwise linger until an incidental
    # driver GC and crowd executor storage (only the returned label
    # table stays referenced)
    import gc

    gc.collect()
    return lab.select("node", F.col("lab").alias("component"))


def resolve_duplicates(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
    scores: DataFrame | None = None,
    score_col: str = "score",
) -> DataFrame:
    """Pairs -> keep/drop decision: group near-dup pairs into
    components and mark one member of each component canonical.

    Default policy is keep-first: the minimum id wins (the same
    tie-break the reference's exact content dedup applies via
    first-seen insert, async_database.py:527-541). Pass ``scores``
    (a (id_col, score_col) table — e.g. quality_score, document
    length, or a recency stamp) to keep the HIGHEST-scoring member
    instead (ties -> lowest id); near-dup clusters then retain their
    best representative rather than an arbitrary first-seen one.
    Ids missing from ``scores`` compete with score NULL (sorted last).

    Scale: the score join is keyed on the id (co-partitioned with the
    component join-back); picking the winner is one max_by per
    component — no window over the corpus.

    Output: (<id_col>, component, csize, is_canonical) for EVERY input
    id — singletons are their own size-1 canonical component.
    """
    comp = connected_components(
        pairs, src=src, dst=dst, nodes=ids, node_col=id_col, max_iter=max_iter
    )
    if scores is None:
        sizes = comp.groupBy("component").agg(F.count("*").alias("csize"))
        return (
            comp.join(sizes, "component")
            .select(
                F.col("node").alias(id_col),
                "component",
                "csize",
                (F.col("node") == F.col("component")).cast("int").alias(
                    "is_canonical"
                ),
            )
        )
    sc = (
        scores.select(
            F.col(id_col).alias("node"), F.col(score_col).alias("_score")
        )
        # collapse duplicate ids to their max defensively (same
        # convention as frontier url_priors): a repeated id in the
        # scores table must not fan out component rows — that would
        # corrupt csize and double-count members in the winner pick
        .groupBy("node")
        .agg(F.max("_score").alias("_score"))
    )
    with_sc = comp.join(sc, "node", "left")
    # winner per component: max score, ties (incl. all-NULL) -> min id.
    # max_by on a struct orders NULLs first, so coalesce into a sortable
    # pair; ids are assumed non-negative (url_hash/doc_id longs).
    win = with_sc.groupBy("component").agg(
        F.count("*").alias("csize"),
        F.max(
            F.struct(
                F.coalesce(F.col("_score").cast("double"), F.lit(float("-inf"))).alias("s"),
                (-F.col("node")).alias("negid"),
            )
        ).alias("_w"),
    )
    return (
        comp.join(win, "component")
        .select(
            F.col("node").alias(id_col),
            "component",
            "csize",
            (F.col("node") == -F.col("_w.negid")).cast("int").alias(
                "is_canonical"
            ),
        )
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_dup: int = 2,
    line_len: int = 10,
    lines_col: str | None = None,
    hash_kind: str = "xxhash64",
) -> DataFrame:
    """CCNet-style cross-document line deduplication (boilerplate
    removal).

    Removes every line whose content occurs >= ``min_dup`` times across
    the WHOLE corpus (nav bars, cookie banners, footers), then
    reassembles each document from its surviving lines in order — the
    paragraph/line tier of a webtext pipeline (CCNet, Wenzek et al.
    LREC 2020 §3.1; RefinedWeb line-wise filtering) sitting below the
    document-level ops in this module. The reference deduplicates
    whole documents only (content-hash first-seen,
    crawl4ai/async_database.py:527-541); it has no line-level notion.

    Lines: pass ``lines_col`` (an ``array<string>`` column, e.g. a real
    newline split) or let the default derive fixed ``line_len``-word
    windows (functions/repetition.py ``word_lines`` — the synthetic
    corpus has no newlines).

    Scale design (100 TB):
    - the duplicate-line table is built from the hash column only
      (``xxhash64`` default): the count aggregation shuffles 8-byte
      keys with map-side partial aggregation, never text;
    - the corpus-side membership join is keyed by the line hash; the
      duplicate side holds one row per DISTINCT duplicated line, so a
      billion-fold boilerplate line is a single build row — probe-side
      skew is AQE skew-join territory, and Spark broadcasts the build
      side outright when the duplicated-line table is small;
    - reassembly is one groupBy(id) collecting (idx, line) structs —
      fine-grained keys, no skew. Two keyed shuffles of the corpus
      total (membership join, reassembly), both unavoidable for a
      global rewrite.

    ``hash_kind``: ``"xxhash64"`` (cheapest), ``"md5"`` (16-hex prefix,
    engine-portable for SQL-replay oracles), ``"raw"`` (key on the line
    string itself — collision-free, widest shuffle).

    Output: ``(id_col, text_col cleaned, kept_lines, removed_lines)``
    for EVERY input document — all-boilerplate docs come back with
    empty text and ``kept_lines = 0``.
    """
    from ..functions.repetition import word_lines

    if lines_col is None:
        arr = word_lines(F.split(F.col(text_col), " "), line_len)
    else:
        arr = F.col(lines_col)
    lines = df.select(F.col(id_col), F.posexplode(arr).alias("_idx", "_line"))
    if hash_kind == "xxhash64":
        key = F.xxhash64(F.col("_line"))
    elif hash_kind == "md5":
        key = F.substring(F.md5(F.col("_line")), 1, 16)
    elif hash_kind == "raw":
        key = F.col("_line")
    else:
        raise ValueError(f"unknown hash_kind: {hash_kind!r}")
    lines = lines.withColumn("_lk", key)
    dup = (
        lines.select("_lk")
        .groupBy("_lk")
        .count()
        .filter(F.col("count") >= int(min_dup))
        .select("_lk", F.lit(True).alias("_dup"))
    )
    flagged = lines.join(dup, "_lk", "left").withColumn(
        "_dup", F.coalesce(F.col("_dup"), F.lit(False))
    )
    agg = flagged.groupBy(id_col).agg(
        F.count(F.when(~F.col("_dup"), F.lit(1))).alias("kept_lines"),
        F.count(F.when(F.col("_dup"), F.lit(1))).alias("removed_lines"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(~F.col("_dup"), F.struct("_idx", "_line"))
                    )
                ),
                lambda s: s["_line"],
            ),
            " ",
        ).alias("_clean"),
    )
    return (
        df.select(id_col)
        .join(agg, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("_clean"), F.lit("")).alias(text_col),
            F.coalesce(F.col("kept_lines"), F.lit(0)).cast("long").alias("kept_lines"),
            F.coalesce(F.col("removed_lines"), F.lit(0)).cast("long").alias(
                "removed_lines"
            ),
        )
    )


def substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 50,
    min_dup: int = 2,
    hash_kind: str = "xxhash64",
) -> DataFrame:
    """Exact-substring deduplication (Lee et al. 2022, arXiv:2107.06499
    "Deduplicating Training Data Makes Language Models Better" — the
    ExactSubstr variant): remove every token span that participates in a
    ``k``-token substring occurring >= ``min_dup`` times across the WHOLE
    corpus. The paper builds a suffix array over the concatenated corpus;
    the distributed equivalent used here marks duplicated k-gram START
    positions and removes all tokens any duplicated k-gram covers —
    identical removal semantics for maximal duplicated runs (a run of
    length L >= k yields L-k+1 duplicated starts whose union covers the
    run). The reference dedups whole documents by content hash only
    (crawl4ai/async_database.py:527-541); it has no substring notion.

    Scale design (100 TB):
    - shingle keys are computed row-local (Column transform over token
      slices, one explode); the duplicate table is a groupBy over 8-byte
      xxhash64 keys with map-side partial aggregation — text never
      shuffles;
    - duplicated START positions (usually sparse) aggregate to one
      per-doc sorted int array, which joins back to the corpus
      co-partitioned on ``id_col`` — ONE corpus-grain shuffle total;
    - the rebuild is row-local: token i survives iff no duplicated start
      p satisfies p <= i < p+k (an exists() over the per-doc dup-start
      array — O(tokens x dup_starts) per row; boilerplate-heavy rows
      where dup_starts ~ tokens would prefer the token-stream window
      variant the SQL oracle uses, at the price of a second corpus
      shuffle).

    ``hash_kind``: ``"xxhash64"`` (8-byte keys, the scale path), ``"md5"``
    (16-hex prefix, engine-portable), ``"raw"`` (the k-gram string itself —
    collision-free, widest shuffle).

    Output: ``(id_col, text_col cleaned, n_tokens, kept_tokens,
    removed_tokens)`` for EVERY input document. A null ``text_col``
    is treated as the empty string (one empty token, nothing to
    remove) — without the coalesce, ``size(split(NULL))`` is -1 and
    the counts would go negative.
    """
    ws = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    base = df.select(F.col(id_col), ws.alias("_ws"))
    n_sh = F.greatest(F.size("_ws") - F.lit(int(k) - 1), F.lit(0))
    gram = lambda p: F.concat_ws(" ", F.slice(F.col("_ws"), p + 1, int(k)))  # noqa: E731
    if hash_kind == "xxhash64":
        keyf = lambda p: F.xxhash64(gram(p))  # noqa: E731
    elif hash_kind == "md5":
        keyf = lambda p: F.substring(F.md5(gram(p)), 1, 16)  # noqa: E731
    elif hash_kind == "raw":
        keyf = gram
    else:
        raise ValueError(f"unknown hash_kind: {hash_kind!r}")
    starts = F.when(
        n_sh > 0, F.sequence(F.lit(0), n_sh - 1)
    ).otherwise(F.array().cast("array<int>"))
    sh = base.select(
        F.col(id_col),
        F.posexplode(F.transform(starts, keyf)).alias("_p", "_sk"),
    )
    dup = (
        sh.groupBy("_sk")
        .count()
        .filter(F.col("count") >= int(min_dup))
        .select("_sk")
    )
    dpos = (
        sh.join(dup, "_sk")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list("_p")).alias("_ps"))
    )
    kk = F.lit(int(k))
    joined = base.join(dpos, id_col, "left").withColumn(
        "_ps", F.coalesce(F.col("_ps"), F.array().cast("array<int>"))
    )
    kept = F.filter(
        F.col("_ws"),
        lambda x, i: ~F.exists(
            F.col("_ps"), lambda p: (i >= p) & (i < p + kk)
        ),
    )
    return joined.select(
        F.col(id_col),
        F.concat_ws(" ", kept).alias(text_col),
        F.size("_ws").cast("long").alias("n_tokens"),
        F.size(kept).cast("long").alias("kept_tokens"),
        (F.size("_ws") - F.size(kept)).cast("long").alias("removed_tokens"),
    )


def plan_lsh_bands(
    num_hashes: int,
    threshold: float,
    fp_weight: float = 1.0,
    fn_weight: float = 1.0,
) -> tuple[int, int]:
    """Pick the (bands, rows_per_band) split for MinHash-LSH.

    For each factorization b*r = num_hashes the S-curve
    P(candidate | jaccard=s) = 1 - (1 - s^r)^b is integrated numerically
    on both sides of ``threshold``: the area below is false-positive
    mass (dissimilar pairs shuffled as candidates — wasted verify
    work), the area of 1-P above is false-negative mass (true near-dups
    missed). The split minimizing fp_weight*FP + fn_weight*FN wins —
    the classic MMDS §3.4 / datasketch ``_optimal_param`` optimization,
    here so callers of :func:`minhash_lsh_pairs` don't hand-tune
    ``bands``. Weight FP up when the verify join dominates cost (the
    usual 100 TB case); weight FN up when recall is the contract.

    Driver-side pure arithmetic — returns (bands, rows_per_band).
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0,1): {threshold}")
    best, best_err = None, None
    steps = 1000
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        r = num_hashes // b
        fp = fn = 0.0
        for i in range(steps):
            s = (i + 0.5) / steps
            p = 1.0 - (1.0 - s**r) ** b
            if s < threshold:
                fp += p / steps
            else:
                fn += (1.0 - p) / steps
        err = fp_weight * fp + fn_weight * fn
        if best_err is None or err < best_err:
            best, best_err = (b, r), err
    return best
