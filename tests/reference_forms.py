"""Reference forms of production kernels — test-only differential oracles.

Each function here computes the same result as a production kernel by a
simpler or differently shaped route: the literal per-token / per-doc
loop a vectorized kernel replaced, or the relational plan a zero-shuffle
kernel replaced. Tests compare the production path against them; no
module under ``barks_ocr_spark/`` imports this file.
"""

from __future__ import annotations

import re
from collections import Counter

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from barks_ocr_spark.kernels.textnorm import REJECTED_WORDS
from barks_ocr_spark.operators.textstats import _round6, words_col


def has_rejected_token_py(s: pd.Series) -> pd.Series:
    """Per-token form of ``textnorm.has_rejected_token`` (the vectorized
    regex): a box is rejected when any space-split word, uppercased and
    stripped, is in REJECTED_WORDS."""

    def _any_rejected(t: str) -> bool:
        return any(w.upper().strip() in REJECTED_WORDS for w in t.split(" ") if w)

    return s.fillna("").map(_any_rejected)


def repetition_scores_batch_loop(texts: pd.Series) -> pd.DataFrame:
    """Counter-per-doc form of ``textstats._repetition_scores_batch``
    (the batch-vectorized kernel)."""
    ws_re = re.compile(r"\s+", re.ASCII)

    out = {"top_unigram_frac": [], "top_bigram_frac": [], "dup_trigram_frac": []}
    for t in texts:
        ws = ws_re.split(str(t).lower().strip(" "))
        uni = Counter(ws)
        bi = Counter(f"{a} {b}" for a, b in zip(ws, ws[1:]))
        tri = Counter(f"{a} {b} {c}" for a, b, c in zip(ws, ws[1:], ws[2:]))
        out["top_unigram_frac"].append(_round6(max(uni.values(), default=0), len(ws)))
        out["top_bigram_frac"].append(
            _round6(max(bi.values(), default=0), max(len(ws) - 1, 0))
        )
        out["dup_trigram_frac"].append(
            _round6(sum(c for c in tri.values() if c > 1), max(len(ws) - 2, 0))
        )
    return pd.DataFrame(out)


def repetition_scores_relational(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Relational form of ``textstats.repetition_scores`` — same output
    via explode + keyed aggregates, the shape a pure-SQL engine would
    run. The production kernel computes the same per-doc signals with
    zero shuffle (measured 1.90 s relational vs 0.28 s kernel at sf0.1 /
    local[32] — 6.8×; the gap is the shuffled gram text, so it widens
    with corpus size).

    Plan shape: one explode of (kind, gram) rows built JVM-side
    (zip_with over sliced word arrays — no Python), then hash aggregates
    keyed by doc-level keys with map-side partial aggregation at every
    step; no joins. Three successive keyed aggregates (doc+kind+gram →
    doc+kind → doc) — each strictly reduces cardinality, but the first
    shuffle ships per-token gram TEXT.
    """
    text = F.col(text_col)
    ws = words_col(text)
    n = F.size(ws)
    # equal-length slices so zip_with never null-pads
    bi = F.zip_with(
        F.slice(ws, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(ws, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    tri_len = F.greatest(n - 2, F.lit(0))
    tri = F.zip_with(
        F.zip_with(
            F.slice(ws, 1, tri_len),
            F.slice(ws, 2, tri_len),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
        F.slice(ws, 3, tri_len),
        lambda ab, c: F.concat_ws(" ", ab, c),
    )

    def tagged(kind: str, arr: Column) -> Column:
        return F.transform(
            arr,
            lambda g: F.struct(F.lit(kind).alias("kind"), g.alias("gram")),
        )

    exploded = docs.select(
        "doc_id",
        F.explode(
            F.concat(tagged("uni", ws), tagged("bi", bi), tagged("tri", tri))
        ).alias("g"),
    ).select("doc_id", F.col("g.kind").alias("kind"), F.col("g.gram").alias("gram"))
    per_kind = (
        exploded.groupBy("doc_id", "kind", "gram")
        .agg(F.count("*").alias("cnt"))
        .groupBy("doc_id", "kind")
        .agg(
            F.max("cnt").alias("top_cnt"),
            F.sum("cnt").alias("total"),
            F.coalesce(
                F.sum(F.when(F.col("cnt") > 1, F.col("cnt"))), F.lit(0)
            ).alias("dup_cnt"),
        )
    )
    pv = per_kind.groupBy("doc_id").pivot("kind", ["uni", "bi", "tri"]).agg(
        F.first("top_cnt").alias("top"),
        F.first("total").alias("total"),
        F.first("dup_cnt").alias("dup"),
    )

    def frac(a: Column, b: Column) -> Column:
        return F.coalesce(F.round(a.cast("double") / b, 6), F.lit(0.0))

    return pv.select(
        "doc_id",
        frac(F.col("uni_top"), F.col("uni_total")).alias("top_unigram_frac"),
        frac(F.col("bi_top"), F.col("bi_total")).alias("top_bigram_frac"),
        frac(F.col("tri_dup"), F.col("tri_total")).alias("dup_trigram_frac"),
    )
