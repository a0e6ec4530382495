"""Per-host politeness: token budgets + exponential backoff state.

Reference semantics (async_dispatcher.py:26-83 RateLimiter):
- per-domain base delay, exponential backoff x2 with jitter in
  [0.75, 1.25] capped at 60s on 429/503, decay x0.75 on success,
  domain dropped after ``max_retries`` consecutive failures.

Batch-Spark reformulation (SURVEY.md §2.6, north rule): a crawl round
is one pass; "rate limiting" becomes a per-host TOKEN BUDGET — at most
``floor(round_seconds / current_delay)`` fetches per host per round,
enforced with ``row_number() over (partition by host order by
priority desc, url)``. The backoff state is a tiny keyed table carried
between rounds (part of the checkpoint, so resume preserves budgets).
Jitter is made deterministic by hashing (host, round) — identical
reruns produce identical budgets, which the resume guarantee requires.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..persist import PersistSlot

STATE_SCHEMA = "host string, current_delay double, fail_count int"

BASE_DELAY = 1.0
MAX_DELAY = 60.0
MAX_RETRIES = 3

# Broadcast the per-host state table only while it plausibly fits on
# the driver/executors; at web scale (10^8+ hosts) fall back to a
# shuffle join on `host` — the join key is already the shuffle key.
BROADCAST_MAX_HOSTS = 1_000_000


def _sized(state: DataFrame, n_rows: int) -> DataFrame:
    return F.broadcast(state) if n_rows <= BROADCAST_MAX_HOSTS else state


def _leaf_indices(pf, names: list[str]) -> list[int]:
    """Column-chunk indices of the given ROOT column names. Row-group
    chunk metadata is LEAF-ordered — a map/struct/list column owns
    several chunks — so indexing chunks with logical (arrow) schema
    positions silently reads the wrong column once any nested column
    precedes the target. Resolve through the parquet (leaf) schema's
    dotted paths instead. Shared by every driver-side footer-statistics
    reader (politeness bounds, frontier deferred counts, round metrics)."""
    ps = pf.metadata.schema
    wanted = set(names)
    return [
        i
        for i in range(pf.metadata.num_columns)
        if ps.column(i).path.split(".", 1)[0] in wanted
    ]


# the phase-1 ranked frontier of the latest select_within_budget call
_PRE_SPLIT = PersistSlot()


def select_within_budget(
    frontier: DataFrame,
    state: DataFrame | None,
    *,
    round_seconds: float = 16.0,
    host_col: str = "host",
    order_cols: tuple = ("priority", "url"),
    robots_delay_col: str | None = None,
    salt: int = 16,
    state_rows: int | None = None,
) -> DataFrame:
    """Split a frontier into (selected, deferred, abandoned) by budget.

    Returns the frontier with boolean ``_selected`` / ``_dropped``
    columns. Budget = floor(round_seconds / current_delay), min 1; hosts
    absent from the state table get the base delay. Hosts that exceeded
    MAX_RETRIES are dropped entirely (reference: domain dropped after 3
    retries). When ``robots_delay_col`` is given, a host's robots.txt
    Crawl-delay FLOORS the effective delay — the backoff state can slow
    a host further, never below what its robots.txt demands.

    Skew shape: budgets are tiny ks, so the top-k per host is computed
    in TWO phases — a partial ``row_number`` inside each of ``salt``
    hash slices of the host's rows, keeping at most ``budget`` rows per
    slice, then the exact rank over those ≤ salt x budget survivors.
    No single task ever materializes a hot host's full frontier (a
    web-scale host can hold most of the corpus; the one-phase
    ``partition by host`` window was the first shuffle to fall over at
    100x scale). The survivor set provably contains the global top-k:
    any row in the per-host top-``budget`` is also within the
    top-``budget`` of its own slice, so phase 2 returns exactly the
    rows the one-phase window would.

    ``state_rows`` lets the caller pass a known state-table size (e.g.
    from parquet footer metadata) so no count job runs here.
    """
    n_state = (
        state_rows
        if state_rows is not None
        else (state.count() if state is not None else 0)
    )
    if state is not None and n_state:
        st = _sized(state.withColumnRenamed("host", "__st_host"), n_state)
        frontier = frontier.join(
            st, frontier[host_col] == F.col("__st_host"), "left_outer"
        ).drop("__st_host")
    else:
        frontier = frontier.withColumn(
            "current_delay", F.lit(None).cast("double")
        ).withColumn("fail_count", F.lit(None).cast("int"))

    delay = F.coalesce(F.col("current_delay"), F.lit(BASE_DELAY))
    if robots_delay_col is not None:
        delay = F.greatest(
            delay, F.coalesce(F.col(robots_delay_col), F.lit(0.0))
        )
    budget = F.greatest(F.floor(F.lit(round_seconds) / delay), F.lit(1))
    dropped = F.coalesce(F.col("fail_count"), F.lit(0)) > MAX_RETRIES

    order = (F.desc(order_cols[0]), F.asc(order_cols[1]))
    salt_expr = F.pmod(F.xxhash64(F.col(order_cols[1])), F.lit(salt))
    w_partial = Window.partitionBy(F.col(host_col), salt_expr).orderBy(*order)
    pre = (
        frontier.withColumn("_budget", budget)
        .withColumn("_dropped", dropped)
        .withColumn("_prn", F.row_number().over(w_partial))
    )
    # both union branches below read `pre`; without a cache the whole
    # upstream frontier plan (joins, filters) executes twice per
    # downstream consumer. Bounded registry: evicted on the next call
    # (one crawl round per call), eviction is recompute-safe.
    pre = _PRE_SPLIT.replace(pre)
    cand = pre.filter(F.col("_prn") <= F.col("_budget"))
    rest = pre.filter(F.col("_prn") > F.col("_budget")).withColumn(
        "_selected", F.lit(False)
    )
    w_exact = Window.partitionBy(host_col).orderBy(*order)
    cand = cand.withColumn("_rn", F.row_number().over(w_exact)).withColumn(
        "_selected", (~F.col("_dropped")) & (F.col("_rn") <= F.col("_budget"))
    ).drop("_rn")
    return cand.unionByName(rest).drop(
        "_prn", "_budget", "current_delay", "fail_count"
    )


def update_state(
    state: DataFrame | None,
    results: DataFrame,
    round_no: int,
    *,
    host_col: str = "host",
    success_col: str = "success",
    jitter_value: float | None = None,
) -> DataFrame:
    """Fold one round's per-host outcomes into the backoff state.

    success on all fetches -> delay * 0.75 (floored at base);
    any failure -> delay * 2 * jitter(0.75..1.25), capped at 60s;
    fail_count increments on all-failed rounds, resets on success.
    Jitter is xxhash64(host, round)-derived — deterministic. The
    reference's jitter is random.uniform(0.75, 1.25)
    (async_dispatcher.py:73-75); ``jitter_value`` pins it to a constant
    so the live differential can compare delay trajectories against the
    reference RateLimiter with its random patched to the same constant.
    """
    # one-exchange fold: instead of (groupBy exchange) + (full_outer
    # sort-merge = two more exchanges), union the raw round rows with
    # the state rows and aggregate ONCE on host — the round side
    # contributes outcome counters (map-side partials), the state side
    # contributes its delay/fail columns through null-skipping max()
    # over its single row per host. Equivalent because state is unique
    # per host (it is the output of this very fold) and a host absent
    # from the round sums to n=0, matching the old full_outer nulls
    # after coalesce.
    round_side = results.select(
        F.col(host_col).alias("_host"),
        F.col(success_col).cast("long").alias("_ok_i"),
        F.lit(1).cast("long").alias("_n_i"),
        F.lit(None).cast("double").alias("_delay_i"),
        F.lit(None).cast("int").alias("_fc_i"),
    )
    if state is not None:
        state_side = state.select(
            F.col("host").alias("_host"),
            F.lit(0).cast("long").alias("_ok_i"),
            F.lit(0).cast("long").alias("_n_i"),
            F.col("current_delay").alias("_delay_i"),
            F.col("fail_count").alias("_fc_i"),
        )
        round_side = round_side.unionByName(state_side)
    merged = round_side.groupBy("_host").agg(
        F.sum("_ok_i").alias("_ok"),
        F.sum("_n_i").alias("_n"),
        F.max("_delay_i").alias("_delay"),
        F.max("_fc_i").alias("_fc"),
    )

    delay = F.coalesce(F.col("_delay"), F.lit(BASE_DELAY))
    ok = F.coalesce(F.col("_ok"), F.lit(0))
    n = F.coalesce(F.col("_n"), F.lit(0))
    had_failure = (n > 0) & (ok < n)
    if jitter_value is not None:
        jitter = F.lit(float(jitter_value))
    else:
        jitter = F.lit(0.75) + (
            F.pmod(
                F.xxhash64(F.col("_host"), F.lit(round_no)), F.lit(1000)
            ).cast("double")
            / F.lit(2000.0)
        )
    # decay applies only to hosts actually fetched this round (n > 0):
    # the reference RateLimiter adjusts delay per RESPONSE, so a
    # backed-off host that drops out of the frontier keeps its delay
    # until requested again — idle rounds must not evaporate a backoff
    new_delay = (
        F.when(had_failure, F.least(delay * 2.0 * jitter, F.lit(MAX_DELAY)))
        .when(n > 0, F.greatest(delay * 0.75, F.lit(BASE_DELAY)))
        .otherwise(delay)
    )
    new_fail = (
        F.when((n > 0) & (ok == 0), F.coalesce(F.col("_fc"), F.lit(0)) + 1)
        .when(ok > 0, F.lit(0))
        .otherwise(F.coalesce(F.col("_fc"), F.lit(0)))
    )
    return merged.select(
        F.col("_host").alias("host"),
        new_delay.alias("current_delay"),
        new_fail.cast("int").alias("fail_count"),
    )


class PolitenessState:
    """Parquet-backed per-host state table (one file per round)."""

    def __init__(self, spark: SparkSession, workdir: str):
        self.spark = spark
        self.dir = os.path.join(workdir, "politeness")

    def _path(self, round_no: int) -> str:
        return os.path.join(self.dir, f"round={round_no}")

    def load(self, round_no: int) -> DataFrame | None:
        p = self._path(round_no)
        if not os.path.exists(p):
            return None
        return self.spark.read.schema(STATE_SCHEMA).parquet(p)

    def count_rows(self, round_no: int) -> int:
        """Row count from parquet footer metadata — no Spark job (the
        per-round ``state.count()`` was one fixed job per crawl round)."""
        import glob

        import pyarrow.parquet as pq

        return sum(
            pq.ParquetFile(f).metadata.num_rows
            for f in glob.glob(os.path.join(self._path(round_no), "*.parquet"))
        )

    def footer_bounds(self, round_no: int) -> tuple[float, int] | None:
        """(max current_delay, max fail_count) from parquet row-group
        STATISTICS — no data read, no Spark job. Lets the caller prove a
        round's budget non-binding (every host's token count exceeds the
        frontier and nobody is past MAX_RETRIES) and skip the two-phase
        top-k windows entirely. Returns None when any row group lacks
        min/max stats (caller must then run the real split)."""
        import glob

        import pyarrow.parquet as pq

        files = glob.glob(os.path.join(self._path(round_no), "*.parquet"))
        if not files:
            return None
        max_delay, max_fail, saw = 0.0, 0, False
        for f in files:
            pf = pq.ParquetFile(f)
            di = _leaf_indices(pf, ["current_delay"])[0]
            fi = _leaf_indices(pf, ["fail_count"])[0]
            for g in range(pf.num_row_groups):
                rg = pf.metadata.row_group(g)
                ds, fs = rg.column(di).statistics, rg.column(fi).statistics
                if (
                    ds is None or fs is None
                    or not ds.has_min_max or not fs.has_min_max
                ):
                    return None
                max_delay = max(max_delay, float(ds.max))
                max_fail = max(max_fail, int(fs.max))
                saw = True
        return (max_delay, max_fail) if saw else None

    def save(self, df: DataFrame, round_no: int) -> None:
        df.coalesce(1).sortWithinPartitions("host").write.mode("overwrite").parquet(
            self._path(round_no)
        )
