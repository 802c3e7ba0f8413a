"""Composable corpus-hygiene pipeline: Gopher gate → PII scrub →
eval-set decontamination → per-group token-budget sampling as ONE
declarative plan, with optional per-stage drop lineage.

This is the end-to-end training-data prep a 100 TB run executes: the
gate and scrub are passthrough projections fused into the corpus scan
(no joins between them), the decontamination flag pass broadcast
semi-joins eval grams, the flagged-list anti-join is AQE-sized, and the
budget stage is the two-phase bucket boundary refinement. The scrubbed
intermediate feeds THREE scans (decontam flag, decontam anti-join,
budget sizing), so it is persisted and eagerly materialized — the
sf-scale analog of the stage checkpoint a production run would write
between scrub and decontam (measured: 9.3 s → ~5 s at sf0.1 without the
triple recompute of the gate kernel + scrub regexes).

Operating points: ``n`` (decontam n-gram) and ``budget_tokens`` are
REQUIRED thinking, not defaults to ship blindly — production runs use
n = 8 (decontam.DEFAULT_NGRAM, the published 8-to-13-gram window's low
end) and real per-source budgets; tiny-vocabulary test fixtures need a
smaller n to collide at all (the demo registry query uses n = 3,
documented at decontam.py:39-42; the production-point registry query
``clean_corpus_prod`` runs n = 8). Both points are oracle-green.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from barks_ocr_spark.operators import decontam, sampling, textstats
from barks_ocr_spark.operators.cacheutil import materialize


def clean_corpus(
    corpus: DataFrame,
    eval_docs: DataFrame,
    *,
    n: int,
    budget_tokens: int,
    group_col: str = "source",
    min_words: int = 50,
    min_mean_word_len: float = 3.0,
) -> DataFrame:
    """The manifest-only form: returns (doc_id, group, n_tokens,
    cum_tokens) for the final mix. See the module docstring for the plan
    shape and :func:`clean_corpus_with_lineage` for the audited form."""
    manifest, _stages = _build(
        corpus,
        eval_docs,
        n=n,
        budget_tokens=budget_tokens,
        group_col=group_col,
        min_words=min_words,
        min_mean_word_len=min_mean_word_len,
    )
    return manifest


def clean_corpus_with_lineage(
    corpus: DataFrame,
    eval_docs: DataFrame,
    *,
    n: int,
    budget_tokens: int,
    group_col: str = "source",
    min_words: int = 50,
    min_mean_word_len: float = 3.0,
    lineage_path: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The audited form: returns (manifest, lineage) where lineage is
    one row per stage — (stage, docs_in, docs_out) — the drop-lineage
    counters a production run logs next to its outputs (the same
    discipline as extraction_metrics: progress must be observable from
    tables, not logs). Counting requires running the stages, so this
    form EXECUTES the pipeline (the persisted scrub intermediate is
    counted anyway; the extra actions are the cleaned anti-join and the
    manifest itself — at 100 TB these ride the stage checkpoints a real
    run writes regardless). ``lineage_path`` additionally appends the
    counters to a parquet sink so successive runs accumulate an audit
    trail."""
    manifest, stages = _build(
        corpus,
        eval_docs,
        n=n,
        budget_tokens=budget_tokens,
        group_col=group_col,
        min_words=min_words,
        min_mean_word_len=min_mean_word_len,
    )
    n_in = corpus.count()
    # the scrub is a row-preserving projection over the gated rows and
    # the scrubbed table is already eagerly persisted — one count serves
    # both stage rows
    n_scrubbed = stages["scrubbed"].count()
    n_cleaned = stages["cleaned"].count()
    n_sampled = manifest.count()
    spark = corpus.sparkSession
    lineage = spark.createDataFrame(
        [
            ("gopher_gate", n_in, n_scrubbed),
            ("pii_scrub", n_scrubbed, n_scrubbed),
            ("decontaminate", n_scrubbed, n_cleaned),
            ("budget_sample", n_cleaned, n_sampled),
        ],
        "stage string, docs_in long, docs_out long",
    )
    if lineage_path is not None:
        lineage.write.mode("append").parquet(lineage_path)
    return manifest, lineage


def _build(
    corpus: DataFrame,
    eval_docs: DataFrame,
    *,
    n: int,
    budget_tokens: int,
    group_col: str,
    min_words: int,
    min_mean_word_len: float,
) -> tuple[DataFrame, dict[str, DataFrame]]:
    gated = (
        textstats.gopher_filter(
            corpus,
            min_words=min_words,
            min_mean_word_len=min_mean_word_len,
            passthrough=("text", group_col),
        )
        .filter("keep")
        .select("doc_id", "text", group_col)
    )
    scrubbed = materialize(
        textstats.pii_redact(gated, passthrough=(group_col,)).select(
            "doc_id", F.col("text_redacted").alias("text"), group_col
        )
    )
    cleaned = decontam.decontaminate(scrubbed, eval_docs, n=n)
    manifest = sampling.budget_sample(cleaned, group_col, budget_tokens)
    return manifest, {"scrubbed": scrubbed, "cleaned": cleaned}
