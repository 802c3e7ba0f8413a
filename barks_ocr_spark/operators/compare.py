"""Cross-engine differential comparison (SURVEY.md J4/J5/J6/W7/T17/A3).

The reference's primary correctness tool: EasyOCR vs PaddleOCR outputs
compared page-by-page, panel-by-panel, group-by-group with
SequenceMatcher (`src/barks_ocr/tools/compare.py:55-206`), plus a
best-fuzzy-match join (`src/barks_ocr/tools/ocr_check.py:185-218`,
ratio ≥ 0.7 at `:39`). Here both engines' outputs are group tables
``(doc_id, panel_num, pos, text)`` and the comparison is:

  J4  inner join on doc_id — pages present in both engines
  J5  positional pairing: full outer join on (doc_id, panel_num, pos);
      a side missing → engine-only mismatch
  T17 similarity: difflib.SequenceMatcher.ratio in an Arrow-batched
      pandas UDF (the one legitimately-Python kernel: stdlib difflib,
      exactly the reference's scorer)
  W7  top-1 fuzzy match per group via row_number window
  A3  per-doc match counters
"""

from __future__ import annotations

import functools
from difflib import SequenceMatcher

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window

FUZZY_MATCH_THRESHOLD = 0.7  # tools/ocr_check.py:39


@functools.cache
def _ratio_udf(threshold: float):
    """difflib ratio with the standard upper-bound short-circuit: pairs
    whose real_quick_ratio/quick_ratio (cheap length/bag bounds, both ≥
    the true ratio) fall below ``threshold`` score -1.0 instead of
    running the O(len²) matcher. Both bounds are ≥ 0, so a 0.0
    threshold never prunes and skips computing them.

    The pandas_udf is built lazily: decorating at import time parses the
    DDL return type, which requires an active SparkContext.
    """

    def _batch(x: pd.Series, y: pd.Series) -> pd.Series:
        out = []
        for p, q in zip(x, y):
            # 0.0 only for missing sides: SequenceMatcher('','') is 1.0
            # in the reference, and the SQL oracle counts text_a = text_b
            # ('' = '') as a perfect match
            if not isinstance(p, str) or not isinstance(q, str):
                out.append(0.0)
                continue
            if p == q:  # exact: equality ⟺ ratio 1.0; skips the matcher
                out.append(1.0)
                continue
            sm = SequenceMatcher(None, p, q)
            if threshold > 0.0 and (
                sm.real_quick_ratio() < threshold or sm.quick_ratio() < threshold
            ):
                out.append(-1.0)
            else:
                out.append(sm.ratio())
        return pd.Series(out)

    return pandas_udf(_batch, "double")


def similarity_ratio(a: Column, b: Column) -> Column:
    """difflib.SequenceMatcher.ratio, vectorized over Arrow batches
    (`tools/compare.py:184-185`). None on either side → 0.0; empty
    strings score like the reference ('' vs '' → 1.0)."""
    return _ratio_udf(0.0)(a, b)


def positional_compare(engine_a: DataFrame, engine_b: DataFrame) -> DataFrame:
    """J5: full outer join on (doc_id, panel_num, pos) with similarity.

    Output: (doc_id, panel_num, pos, text_a, text_b, ratio, status)
    where status ∈ {match, mismatch, a_only, b_only}; match = ratio 1.0
    (the reference's 'perfect match', compare.py:186-191).
    """
    a = engine_a.select(
        "doc_id", "panel_num", "pos", F.col("text").alias("text_a")
    )
    b = engine_b.select(
        "doc_id", "panel_num", "pos", F.col("text").alias("text_b")
    )
    joined = a.join(b, ["doc_id", "panel_num", "pos"], "full_outer")
    ratio = similarity_ratio(F.col("text_a"), F.col("text_b"))
    status = (
        F.when(F.col("text_a").isNull(), F.lit("b_only"))
        .when(F.col("text_b").isNull(), F.lit("a_only"))
        .when(F.col("ratio") == 1.0, F.lit("match"))
        .otherwise(F.lit("mismatch"))
    )
    return joined.withColumn("ratio", ratio).withColumn("status", status)


def compare_counters(compared: DataFrame) -> DataFrame:
    """A3: per-doc counters (perfect matches, mismatches, engine-only)
    (`tools/compare.py:115-126, 279-299`)."""
    return compared.groupBy("doc_id").agg(
        F.count("*").alias("groups_compared"),
        F.sum((F.col("status") == "match").cast("int")).alias("perfect_matches"),
        F.sum((F.col("status") == "mismatch").cast("int")).alias("mismatches"),
        F.sum(F.col("status").isin("a_only", "b_only").cast("int")).alias("engine_only"),
    )


def best_fuzzy_match(
    engine_a: DataFrame,
    engine_b: DataFrame,
    threshold: float = FUZZY_MATCH_THRESHOLD,
) -> DataFrame:
    """J6+W7: for each group in A, the best-ratio B group in the same
    (doc, panel), kept when ratio ≥ threshold (`tools/ocr_check.py:
    185-218`). Equi-join on (doc, panel) then top-1 per A-group by
    (ratio desc, pos_b) window.

    Scale shape — the candidate set is |A|×|B| per panel, so scoring is
    pruned in two exact layers before the O(len²) matcher runs:

    1. JVM length-band prefilter: ratio ≤ 2·min(|a|,|b|)/(|a|+|b|), a
       pure column expression evaluated in whole-stage codegen — pairs
       that cannot reach the threshold never cross into Python.
    2. difflib quick-ratio short-circuit inside the batch (upper bounds
       again), full ratio only for surviving pairs.

    Both prune only pairs with true ratio < threshold. Emitted rows are
    unchanged: a row is emitted iff its max-ratio candidate scores ≥
    threshold, every such candidate survives both prunes (bounds ≥ true
    ratio), and sub-threshold candidates can never displace a winner —
    if one had been top-1, the row was filtered in the old plan too.
    """
    a = engine_a.select(
        "doc_id", "panel_num", F.col("pos").alias("pos_a"), F.col("text").alias("text_a")
    )
    b = engine_b.select(
        "doc_id", "panel_num", F.col("pos").alias("pos_b"), F.col("text").alias("text_b")
    )
    la, lb = F.length("text_a"), F.length("text_b")
    bound = F.when(la + lb == 0, F.lit(1.0)).otherwise(
        2.0 * F.least(la, lb) / (la + lb)
    )
    cand = (
        a.join(b, ["doc_id", "panel_num"])
        .filter(bound >= threshold)
        .withColumn(
            "ratio",
            _ratio_udf(threshold)(F.col("text_a"), F.col("text_b")),
        )
    )
    w = Window.partitionBy("doc_id", "panel_num", "pos_a").orderBy(
        F.desc("ratio"), "pos_b"
    )
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter((F.col("rk") == 1) & (F.col("ratio") >= threshold))
        .drop("rk")
    )


def missing_panel_rollup(compared: DataFrame) -> DataFrame:
    """A9: grouped engine-only warnings per doc
    (`src/barks_ocr/tools/compare.py:212-227`): rows one engine produced
    and the other didn't, rolled up as (doc_id, n_missing, warnings) —
    warnings flattened to a sorted CSV string (driver-safe, no arrays)."""
    only = compared.filter(F.col("status").isin("a_only", "b_only"))
    warning = F.concat_ws(
        ":", F.col("panel_num"), F.col("pos"), F.col("status")
    )
    return only.groupBy("doc_id").agg(
        F.count("*").alias("n_missing"),
        F.array_join(F.sort_array(F.collect_list(warning)), ",").alias("warnings"),
    )


def cache_misses(
    groups: DataFrame,
    cache: DataFrame,
    threshold: float = 85.0,
    ignore_cache: bool = False,
) -> DataFrame:
    """R4: result cache with invalidation
    (`src/barks_ocr/tools/florence_check.py:642-655, 698-728`): a group
    needs (re-)checking when it has no cache row, its text changed since
    caching, or the cached score is below the pass threshold;
    ``ignore_cache`` bypasses entirely (the --ignore-cache flag).

    ``cache``: (doc_id, group_id, text, score) — checkpoint-table sized,
    joined broadcast-or-shuffle on the composite key; the expensive
    checker then runs only on the returned misses.
    """
    if ignore_cache:
        return groups
    c = cache.select(
        "doc_id",
        "group_id",
        F.col("text").alias("_cached_text"),
        F.col("score").alias("_cached_score"),
    )
    joined = groups.join(c, ["doc_id", "group_id"], "left")
    miss = (
        F.col("_cached_text").isNull()
        | (F.col("_cached_text") != F.col("text"))
        | (F.col("_cached_score") < threshold)
    )
    return joined.filter(miss).drop("_cached_text", "_cached_score")


def mismatch_queue(compared: DataFrame) -> DataFrame:
    """The repair-queue sink: deduped, sorted mismatch lines
    (`tools/compare.py:230-242`)."""
    return (
        compared.filter(F.col("status") != "match")
        .select("doc_id", "panel_num", "pos", "status")
        .dropDuplicates(["doc_id", "panel_num", "pos"])
        .orderBy("doc_id", "panel_num", "pos")
    )
