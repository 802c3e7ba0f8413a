"""Deterministic corpus sampling: per-group caps, token budgets,
mixture rates, train/test splits, and sequence packing.

Standard training-data-pipeline operators over the documents table.
Every selection is a DETERMINISTIC function of the row key (md5-based),
never ``rand()``: a retried task, a re-run, or a different partitioning
must produce the identical sample — the same exactly-once discipline as
operators/skew.fact_salt. md5 (not xxhash64) so any engine re-derives
the identical ordering — the DuckDB oracles replay the exact selection,
not just its size.

Scale shapes: split_train_test and rate_sample are pure per-row
projections (zero shuffle); pack_documents windows per hash shard;
cap_per_group and budget_sample use two-phase boundary refinement
(bucketed windows — no single task ever sorts a whole group; see each
docstring).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from barks_ocr_spark.operators.cacheutil import materialize


def _rank_key(id_col: str) -> Column:
    """Deterministic pseudo-random ordering key: md5 hex of the id."""
    return F.md5(F.col(id_col).cast("string"))


def cap_per_group(
    df: DataFrame,
    group_col: str,
    cap: int,
    id_col: str = "doc_id",
    bucket_chars: int = 2,
) -> DataFrame:
    """Keep at most ``cap`` rows per group, chosen pseudo-randomly but
    deterministically (md5-ranked) — the classic per-domain/per-source
    document cap that stops one crawl domain from dominating a training
    mix. Ties are impossible (md5 of distinct ids collides ~never; the
    id itself is the final tie-break).

    Scale shape: the same two-phase boundary refinement as
    ``budget_sample`` (a plain ``row_number().over(partitionBy(group))``
    funnels an entire domain through ONE task's sort — the r4
    scale-killer shape). Buckets = first ``bucket_chars`` md5 hex chars,
    whose lexicographic order prefixes the full md5 order, so the
    global rank decomposes into (rows in earlier buckets) + (rank
    inside the bucket): per-(group, bucket) row counts (parallel,
    map-side combined) → exclusive prefix-sum over the tiny bucket
    table → prune buckets whose base offset is already ≥ cap → exact
    row_number only per (group, bucket), input ~cap-proportional.
    Selection is byte-identical to the single-window formulation —
    including rows with a NULL group (a valid window partition), which
    the bucket join matches null-safely.

    Broadcast caveat (same as ``budget_sample``): the live bucket table
    is bounded by groups × 16^bucket_chars rows. Per-domain capping can
    mean millions of groups — there, lower ``bucket_chars`` (1 → 16
    buckets/group) or remove the hint so AQE picks the join side; the
    selection math is unchanged either way."""
    bucketed = df.withColumn(
        "_rk", _rank_key(id_col)
    ).withColumn("_bk", F.substring("_rk", 1, bucket_chars))
    counts = bucketed.groupBy(group_col, "_bk").agg(
        F.count("*").alias("_bk_rows")
    )
    wb = (
        Window.partitionBy(group_col)
        .orderBy("_bk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bases = counts.select(
        F.col(group_col).alias("_g_live"),
        F.col("_bk").alias("_bk_live"),
        F.coalesce(F.sum("_bk_rows").over(wb), F.lit(0)).alias("_bk_base"),
    )
    live = bases.filter(F.col("_bk_base") < cap)
    # eqNullSafe on the group key: a NULL group is a real window
    # partition and must keep its rows (an equality key would silently
    # drop every null-group row — still a broadcast HASH join, Spark
    # hashes null-safe keys via coalesce).
    pruned = bucketed.join(
        F.broadcast(live),
        F.col(group_col).eqNullSafe(F.col("_g_live"))
        & (F.col("_bk") == F.col("_bk_live")),
        "inner",
    ).drop("_g_live", "_bk_live")
    w = (
        Window.partitionBy(group_col, "_bk")
        .orderBy("_rk", F.col(id_col))
    )
    # The in-bucket rank filter is written as its own conjunct so
    # InferWindowGroupLimit turns it into a Partial/Final
    # WindowGroupLimit: map tasks pre-trim to ``cap`` rows per (group,
    # bucket) BEFORE the shuffle, so even the boundary bucket's sort is
    # cap-bounded, not bucket-sized. (base ≥ 0, so rn ≤ cap is implied
    # by the exact keep condition and never changes the selection.)
    return (
        pruned.withColumn("_rn", F.row_number().over(w))
        .filter(
            (F.col("_rn") <= cap)
            & (F.col("_bk_base") + F.col("_rn") <= cap)
        )
        .drop("_rk", "_bk", "_bk_base", "_rn")
    )


def pack_documents(
    df: DataFrame,
    budget: int,
    n_shards: int = 16,
    id_col: str = "doc_id",
    size_col: Column | None = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing: assign each document to the
    training context window its START offset falls in when the corpus is
    laid out in a deterministic pseudo-random order (md5 rank) and
    chunked every ``budget`` tokens — the standard pretraining batch
    layout, as a pure window computation.

    Scale shape: packing is per-shard (``shard = id % n_shards``), so the
    only shuffle is the shard hash-partition and the prefix-sum window
    runs within each shard independently — at corpus scale shards are
    the unit of parallelism AND the unit of reproducibility (adding a
    shard never reorders another shard's packs).

    ``size_col`` defaults to the BPE-ish regex token count
    (textstats.token_counts semantics). Output: (doc_id, shard, pack_id,
    n_tokens)."""
    if size_col is None:
        from barks_ocr_spark.operators.textstats import BPE_TOKEN_RE

        size_col = F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_TOKEN_RE), 0))
    shard = F.pmod(F.col(id_col), F.lit(n_shards))
    sized = df.select(
        F.col(id_col),
        shard.alias("shard"),
        size_col.cast("long").alias("n_tokens"),
        _rank_key(id_col).alias("_rk"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("_rk", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    pack = F.floor((cum - F.col("n_tokens")) / F.lit(budget)).cast("bigint")
    return sized.select(
        id_col, "shard", pack.alias("pack_id"), "n_tokens"
    )


def split_train_test(
    df: DataFrame, test_frac: float = 0.1, id_col: str = "doc_id"
) -> DataFrame:
    """Add a deterministic ``split`` column ('train' | 'test'): a row is
    test iff the first 4 md5 hex chars of its id fall under
    floor(test_frac × 65536). Pure projection — no shuffle, no state,
    stable across runs/partitionings/engines (granularity 1/65536).

    ``test_frac >= 1.0`` is clamped to all-test: the hex threshold is a
    4-char string compare, and an unclamped 1.0 would format as the
    5-char '10000', which sorts BELOW most 4-char hex prefixes."""
    bucket = min(max(int(test_frac * 65536), 0), 65536)
    if bucket >= 65536:
        return df.withColumn("split", F.lit("test"))
    threshold = format(bucket, "04x")
    is_test = F.substring(_rank_key(id_col), 1, 4) < F.lit(threshold)
    return df.withColumn(
        "split", F.when(is_test, F.lit("test")).otherwise(F.lit("train"))
    )


def budget_sample(
    df: DataFrame,
    group_col: str,
    budget_tokens: int,
    id_col: str = "doc_id",
    size_col: Column | None = None,
    text_col: str = "text",
    bucket_chars: int = 2,
) -> DataFrame:
    """Token-budget mixture sampling: per group (source/domain/language),
    keep documents in deterministic md5 order until the group's
    cumulative token count reaches ``budget_tokens`` — the standard way
    a training mix caps each source by tokens rather than by docs. The
    document that crosses the budget line is KEPT (budgets are floors of
    coverage, not ceilings), matching the usual pack-until-full rule.

    ``size_col`` defaults to the BPE-ish regex token count over
    ``text_col`` (so by default the input must carry a text column);
    pass an explicit ``size_col`` to budget on any other measure.

    Scale shape — two-phase boundary refinement, never a whole-group
    sort. The md5 rank key's first ``bucket_chars`` hex chars split each
    group into 16^bucket_chars buckets whose lexicographic order is a
    prefix of the full md5 order, so the global running sum decomposes
    into (exclusive prefix of earlier buckets) + (running sum inside the
    bucket):

    1. per-(group, bucket) token totals — one parallel hash aggregate
       with map-side combine; output is tiny (groups × 256 rows);
    2. exclusive prefix-sum over that tiny table (a window over ≤256
       rows per group) gives each bucket's base offset;
    3. buckets whose base already meets the budget are pruned BEFORE any
       sort — the exact running-sum window then runs per (group,
       bucket), so its input is ~budget-proportional and a 20 TB group
       never funnels through one task (the old shape's failure mode:
       Window.partitionBy(group) sorts the entire group in one task;
       the budget bounds the OUTPUT, not the rows the window must sort).

    The bucket table joins back by broadcast (forced: it is bounded by
    groups × 16^bucket_chars rows — at millions of domains raise
    bucket_chars=1 or let the join fall back by removing the hint).
    Output: (id, group, n_tokens, cum_tokens) for the kept rows —
    cum_tokens makes the selection auditable and is byte-identical to
    the single-window formulation (bucketing changes the plan, not the
    math)."""
    if size_col is None:
        from barks_ocr_spark.operators.textstats import BPE_TOKEN_RE

        size_col = F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(BPE_TOKEN_RE), 0)
        )
    # ``sized`` feeds BOTH the bucket-totals pass and the join-back, and
    # unlike cap_per_group's count pass its first pass cannot be
    # column-pruned (size_col is a regex over the full text), so an
    # unpersisted plan tokenizes the whole corpus twice (r7, guide §2.4).
    # The cached table is the text-free manifest (id, group, n_tokens,
    # 32-hex rank): strictly smaller than the input, the same stage-checkpoint discipline as
    # pipeline.py's persisted scrub intermediate. Measured at sf1.0:
    # budget_sample 2.04 s → 1.45 s; clean_corpus (whose budget input
    # subtree carries the decontam flag pass) 19.6 s → 16.4 s.
    sized = materialize(
        df.select(
            F.col(id_col),
            F.col(group_col),
            size_col.cast("long").alias("n_tokens"),
            _rank_key(id_col).alias("_rk"),
        ).withColumn("_bk", F.substring("_rk", 1, bucket_chars))
    )
    bucket_totals = sized.groupBy(group_col, "_bk").agg(
        F.sum("n_tokens").alias("_bk_tokens")
    )
    wb = (
        Window.partitionBy(group_col)
        .orderBy("_bk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bases = bucket_totals.select(
        F.col(group_col).alias("_g_live"),
        F.col("_bk").alias("_bk_live"),
        F.coalesce(F.sum("_bk_tokens").over(wb), F.lit(0)).alias("_bk_base"),
    )
    # Only buckets whose base offset is still under budget can contain
    # kept rows; everything after the boundary bucket is dropped before
    # the exact window ever sees it. eqNullSafe on the group key: a NULL
    # group is a real window partition and must keep its budget (an
    # equality key would silently drop every null-group row).
    live = bases.filter(F.col("_bk_base") < budget_tokens)
    pruned = sized.join(
        F.broadcast(live),
        F.col(group_col).eqNullSafe(F.col("_g_live"))
        & (F.col("_bk") == F.col("_bk_live")),
        "inner",
    ).drop("_g_live", "_bk_live")
    w = (
        Window.partitionBy(group_col, "_bk")
        .orderBy("_rk", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.col("_bk_base") + F.sum("n_tokens").over(w)
    return (
        pruned.withColumn("cum_tokens", cum)
        .filter(F.col("cum_tokens") - F.col("n_tokens") < budget_tokens)
        .select(id_col, group_col, "n_tokens", "cum_tokens")
    )


def rate_sample(
    df: DataFrame,
    group_col: str,
    rates: dict[str, float],
    id_col: str = "doc_id",
    default_rate: float = 1.0,
) -> DataFrame:
    """Per-group deterministic rate sampling — the mixture-weights /
    temperature-sampling step of a training mix: keep each row of group
    g independently with probability ``rates[g]`` (``default_rate`` for
    unlisted groups), decided by the row's md5 rank key so the selection
    is a pure projection: zero shuffle, stable across runs, retries,
    partitionings, and engines (same 4-hex-digit threshold scheme as
    ``split_train_test``, granularity 1/65536; rates ≥ 1 keep
    everything, ≤ 0 keep nothing).

    Scale shape: the rate table is a literal CASE chain (mixtures have
    tens of sources, not millions — for a huge rate table broadcast-join
    a rates DataFrame instead), so the whole operator is a filter the
    scan can evaluate inline."""
    def threshold(rate: float) -> str:
        return format(min(max(int(rate * 65536), 0), 65536), "05x")

    rate_expr = F.lit(threshold(default_rate))
    for g, r in sorted(rates.items()):
        rate_expr = F.when(
            F.col(group_col) == g, F.lit(threshold(r))
        ).otherwise(rate_expr)
    key = F.lpad(F.substring(_rank_key(id_col), 1, 4), 5, "0")
    return df.filter(key < rate_expr)


def quantile_filter(
    df: DataFrame,
    score_col: str,
    keep_frac: float,
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    max_levels: int = 4,
) -> DataFrame:
    """Keep EXACTLY ``floor(keep_frac * n)`` rows with the highest score
    — the "top p% by quality" corpus cut, made exact and deterministic.
    The selection order is (score DESC, md5(id), id): ties at the
    threshold are broken by the same md5 rank key every other sampler in
    this module uses, so the kept set is a pure function of the data —
    stable across runs, retries, partitionings, and engines (a DuckDB
    ``row_number() OVER (ORDER BY score DESC, md5(id), id)`` replays it
    byte-for-byte). Rows with a NULL score are excluded from both n and
    the output (a doc that never got scored cannot be in the top p%);
    NaN scores are the caller's to filter first — NaN's rank order
    differs between engines, so no deterministic contract can include
    it.

    Scale shape — no global sort, ever. A naive
    ``row_number().over(orderBy(score))`` funnels the entire corpus
    through ONE task (the same shape as the r4 budget_sample
    scale-killer, but corpus-sized instead of group-sized). Instead the
    exact k-th-largest score t is found by iterative histogram
    refinement: each level buckets the current value range into
    ``n_buckets`` fixed-width cells with a per-cell (count, min, max)
    hash aggregate — map-side combined, ``n_buckets`` rows to the
    driver — then descends into the cell containing rank k. Two exits:

    - the boundary cell collapses to a single distinct value (min ==
      max; ALWAYS the exit for heavily tied scores): t is known with no
      sort at all, and the rows TIED at t go through
      :func:`cap_per_group`'s two-phase take-n (md5-ordered, input
      ~need-proportional);
    - after ``max_levels`` the surviving sliver spans <
      range/n_buckets^max_levels (10^12 resolution at the defaults) —
      that sliver is window-ranked in one task, and its expected size is
      n / n_buckets^max_levels (≈ 1 row even at 10^12 input).

    Driver actions: one count, one min/max aggregate, ≤ max_levels
    n_buckets-row collects — all on a monotonically shrinking,
    pushdown-friendly filter chain. Everything else is plain filters."""
    score = F.col(score_col)
    sdf = df.filter(score.isNotNull())
    n = sdf.count()
    # floor of the EXACT decimal product (the SQL oracle's floor):
    # Fraction(str(keep_frac)) reads the fraction's decimal spelling, so
    # n=10, frac=0.3 → exactly 3, and at 10¹²-row scale the double
    # rounding error of n*keep_frac (which the old 1e-9 nudge could not
    # always cover) cannot move k off by one
    from fractions import Fraction

    k = int(n * Fraction(str(keep_frac)))
    if k <= 0:
        return sdf.limit(0)
    if k >= n:
        return sdf
    bounds = sdf.agg(
        F.min(score).alias("lo"), F.max(score).alias("hi")
    ).collect()[0]
    lo, hi = bounds["lo"], bounds["hi"]
    t = None
    n_above = 0  # exact count of rows with score strictly > current range top
    cur = sdf
    for _ in range(max_levels):
        if lo == hi:
            t = lo
            break
        width = (hi - lo) / n_buckets
        cell = F.greatest(
            F.least(
                F.floor((score - F.lit(lo)) / F.lit(width)),
                F.lit(n_buckets - 1),
            ),
            F.lit(0),
        )
        cells = sorted(
            cur.groupBy(cell.alias("_qc"))
            .agg(
                F.count("*").alias("_n"),
                F.min(score).alias("_lo"),
                F.max(score).alias("_hi"),
            )
            .collect(),
            key=lambda r: r["_qc"],
            reverse=True,
        )
        cum = 0
        boundary = None
        for r in cells:
            if n_above + cum + r["_n"] >= k:
                boundary = r
                break
            cum += r["_n"]
        n_above += cum
        if boundary["_lo"] == boundary["_hi"]:
            t = boundary["_lo"]
            break
        lo, hi = boundary["_lo"], boundary["_hi"]
        cur = cur.filter((score >= F.lit(lo)) & (score <= F.lit(hi)))
    if t is not None:
        above = sdf.filter(score > F.lit(t))
        need_t = k - n_above
        if need_t <= 0:
            return above
        tied = sdf.filter(score == F.lit(t)).withColumn("_qg", F.lit(0))
        kept_tied = cap_per_group(tied, "_qg", need_t, id_col).drop("_qg")
        return above.unionByName(kept_tied)
    # max_levels exhausted: rank the residual sliver (expected ~1 row;
    # its one-task window is the documented bound, not the corpus)
    w = Window.orderBy(score.desc(), _rank_key(id_col), F.col(id_col))
    sliver_kept = (
        cur.withColumn("_qrn", F.row_number().over(w))
        .filter(F.col("_qrn") <= k - n_above)
        .drop("_qrn")
    )
    return sdf.filter(score > F.lit(hi)).unionByName(sliver_kept)
