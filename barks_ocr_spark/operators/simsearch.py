"""Similarity search over the ``embedding`` column (array<float>) of an
embeddings table keyed by ``vec_id``.

Eight top-k operators share one exact-cosine re-rank tail
(:func:`_top_k`: score, TakeOrdered by (score desc, vec_id)); they
differ only in which rows reach it:

- ``brute_force_topk``: every row. The query is a literal folded into
  the plan (broadcast by value); the only shuffle is the final top-k (a
  TakeOrdered, not a full sort).
- ``lsh_topk`` / ``lsh_write`` + ``lsh_topk_indexed`` / ``lsh_band_write``
  + ``lsh_topk_banded``: rows whose sign-LSH signature is within a
  hamming budget of the query's (:func:`_within`). The ``_write`` halves
  materialize signatures once so queries never recompute them; the
  banded layout turns the probe into partition pruning.
- ``ivf_topk`` / ``ivf_write`` + ``ivf_topk_indexed``: rows in the
  ``nprobe`` IVF-flat cells nearest the query; the indexed table is
  partitioned by cell, so a probe is partition pruning.
- ``pq_topk`` / ``pq_write`` + ``pq_topk_indexed``: the ``k × refine``
  best rows by product-quantization ADC distance
  (:func:`_adc_candidates`: literal distance tables over the small
  ``pq_codes`` column), broadcast-joined back for the re-rank.

``cosine_pairs`` finds all pairs ≥ threshold, via sign-LSH bucketing so
the self-join never goes O(n²) across buckets.

Every numeric decision that prunes (signatures, cells, PQ codes, ADC
distances) is exact int64 arithmetic on ⌊v·1e6⌋-quantized components
(:func:`_quantized`) against LCG-derived integer literals, so the
DuckDB oracles re-derive each decision exactly.

Scoring strategy (measured at 2k and 512k rows × 64 dims, local[32]):

- query-vector cosine (:func:`cosine_to_query`), LSH signatures, IVF
  cells and PQ codes are numpy matmuls in Arrow-batched ``pandas_udf``s
  that share one batch boundary (:func:`_vectors`: length check and
  stack of the valid vectors).
  Signatures: 0.61s vs 2.49s for the 16-plane HOF chain (higher-order
  functions evaluate per-element interpreted lambda closures, not
  codegen), and a fully unrolled 16×64-term codegen expression exceeds
  janino's method limits and silently falls back to interpreted (2.4s).
  Cosine: the UDF (0.35s / 0.59s) beats both the HOF fold AND a
  128-term unrolled codegen expression (0.95s / 1.37s) — Catalyst's
  analysis of the deep tree costs ~0.9s of driver time per query.
  UDF-feeding columns ship raw float32 (no JVM cast to double — the
  kernels upcast value-exactly, halving Arrow transfer);
- only the pairwise cosine on *candidate pairs* (``cosine_pairs``'s
  verify stage, O(candidates) not O(corpus)) keeps the dynamic-length
  HOF form — its inputs may be any length and the stage is not a scan.
"""

from __future__ import annotations

import functools
import math
import operator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from barks_ocr_spark.operators.cacheutil import materialize

_ID = "vec_id"
_VEC = "embedding"


def dot(a: Column, b: Column) -> Column:
    """Dynamic-length dot product (HOF). Candidate-pair use only — on a
    full-corpus scan prefer :func:`cosine_to_query` (codegen)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    """Dynamic-length cosine (HOF) — candidate-pair verify stages only."""
    return dot(a, b) / (norm(a) * norm(b))


def _vectors(s: pd.Series, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """The Arrow-batch boundary of every vector kernel: ``ok`` masks the
    rows holding a length-``dim`` vector (null and wrong-length rows are
    False), and ``matrix`` stacks those vectors as float64 (value-exact
    upcast of float32). A batch with no valid vector yields a
    ``(0, dim)`` matrix, so kernels need no empty-batch branch."""
    arr = s.to_numpy()
    lens = np.fromiter(
        (0 if x is None else len(x) for x in arr), dtype=np.int64, count=len(arr)
    )
    ok = lens == dim
    return ok, np.vstack([np.empty((0, dim)), *arr[ok]])


def _quantized(m: np.ndarray) -> np.ndarray:
    """⌊v·1e6⌋ as int64 — the integer space every pruning decision uses."""
    return np.floor(m * 1_000_000.0).astype(np.int64)


@functools.cache
def _cos_udf(query: tuple[float, ...]):
    qa = np.array(query, dtype=np.float64)
    qn = float(np.sqrt((qa * qa).sum()))

    @F.pandas_udf("double")
    def cos(s: pd.Series) -> pd.Series:
        ok, m = _vectors(s, len(query))
        out = np.zeros(len(s), dtype=np.float64)
        with np.errstate(invalid="ignore", divide="ignore"):
            out[ok] = (m @ qa) / (np.sqrt((m * m).sum(axis=1)) * qn)
        # mask length-mismatch rows to NULL (not NaN: Spark sorts
        # NaN above every double, which would poison desc top-k)
        return pd.Series(pd.arrays.FloatingArray(out, ~ok))

    return cos


def cosine_to_query(vec: Column, query_vec: list[float]) -> Column:
    """Cosine(vec, literal query) as a numpy batch kernel: one
    (rows × dim) · dim matvec + row norms per Arrow batch.

    Why not JVM-side? Measured (2k and 512k rows × 64 dims, local[32],
    best-of-3): this UDF 0.35s / 0.59s; a fully unrolled 128-term
    codegen expression 0.95s / 1.37s — Catalyst's analysis of the deep
    expression tree costs ~0.9s of driver time per query, swamping its
    execution win; the HOF fold ties only on tiny inputs and evaluates
    interpreted per element on big ones. Deterministic UDF evaluation
    stays BELOW upstream filters (prune-then-rescore order is pinned by
    test_lsh_indexed_no_signature_recompute).

    Rows whose vector length ≠ len(query) score null (the zip_with
    null-pad behavior); genuine 0/0 (zero vectors) stays NaN, exactly as
    JVM double division."""
    return _cos_udf(tuple(float(x) for x in query_vec))(vec)


def _top_k(df: DataFrame, query_vec: list[float], k: int) -> DataFrame:
    """The exact-cosine re-rank every top-k operator ends in: (vec_id,
    score rounded to 6 places) of the ``k`` best rows of ``df``, ties to
    the lower id — a TakeOrdered, never a full sort."""
    score = cosine_to_query(F.col(_VEC), query_vec)
    return (
        df.select(F.col(_ID), F.round(score, 6).alias("score"))
        .orderBy(F.desc("score"), F.col(_ID))
        .limit(k)
    )


def brute_force_topk(
    embeddings: DataFrame, query_vec: list[float], k: int = 10
) -> DataFrame:
    """Exact cosine top-k of ``query_vec`` over the embeddings table."""
    return _top_k(embeddings, query_vec, k)


_LCG_M = 2147483647


def plane_weights_int(p: int, dim: int) -> list[int]:
    """Deterministic hyperplane weights in [-1000, 1000] from a pure-
    integer LCG over (plane, dim) — reproducible in ANY engine (the
    DuckDB oracle re-derives the identical literals), no hash functions.
    """
    out = []
    for d in range(dim):
        x = (1103515245 * (p * 8191 + d) + 12345) % _LCG_M
        out.append(int(x % 2001) - 1000)
    return out


def sign_bits_py(vec: list[float], n_planes: int = 16, dim: int | None = None) -> int:
    """Driver-side sign-LSH signature of a literal vector — exact integer
    arithmetic, identical to :func:`sign_lsh_bits` on the same input."""
    if dim is None:
        dim = len(vec)
    vint = [math.floor(float(v) * 1_000_000) for v in vec]
    if len(vint) != dim:
        return 0  # column form null-pads to bits 0 on length mismatch
    total = 0
    for p in range(n_planes):
        w = plane_weights_int(p, dim)
        if sum(q * wi for q, wi in zip(vint, w)) > 0:
            total |= 1 << p
    return total


@functools.cache
def _sig_udf(n_planes: int, dim: int):
    """Arrow-batched signature kernel: one (rows × dim) · (dim × planes)
    int64 matmul per batch — exact integer arithmetic, same sign
    decisions as the SQL oracle's literal-weight dot products."""
    W = np.array(
        [plane_weights_int(p, dim) for p in range(n_planes)], dtype=np.int64
    ).T  # dim × planes
    POW = (np.int64(1) << np.arange(n_planes, dtype=np.int64))

    @F.pandas_udf("long")
    def sig(s: pd.Series) -> pd.Series:
        ok, m = _vectors(s, dim)
        out = np.zeros(len(s), dtype=np.int64)
        out[ok] = ((_quantized(m) @ W > 0) * POW).sum(axis=1)
        return pd.Series(out)

    return sig


def sign_lsh_bits(vec: Column, n_planes: int = 16, dim: int = 64) -> Column:
    """Sign-LSH signature column: bit p = 1 iff Σ_d w[p][d]·⌊v[d]·1e6⌋ > 0.

    Two deliberate choices make this cross-engine exact (and thus fully
    oracle-able in ANSI SQL) and cheap:
    - the plane weights are deterministic integer literals
      (:func:`plane_weights_int`) that any engine re-derives;
    - the dot product is exact int64 arithmetic on ⌊v·1e6⌋-quantized
      components, so the sign decision can never diverge between engines
      on summation order (float folds could flip near-zero signs).

    Vectors whose length ≠ ``dim`` (or null) get signature 0 — the same
    result the null-padding zip_with form produced. Executed as a numpy
    matmul ``pandas_udf`` (measured 4× the HOF chain; see module
    docstring)."""
    return _sig_udf(n_planes, dim)(vec)


def _within(sig: Column, q_sig: int, h: int) -> Column:
    """Hamming prune: ``sig`` is at most ``h`` bits from ``q_sig`` — a
    codegen'd bit_count, no Python."""
    return F.bit_count(sig.bitwiseXOR(F.lit(q_sig))) <= h


def centroid_ints(c: int, dim: int) -> list[int]:
    """Deterministic IVF centroid ``c`` as integers in [-1000, 1000] —
    same integer-LCG family as :func:`plane_weights_int`, disjoint seed
    space, so ANY engine (the DuckDB oracle included) re-derives the
    identical literals."""
    return plane_weights_int(c + 100_003, dim)


@functools.cache
def _cell_udf(n_centroids: int, dim: int):
    C = np.array(
        [centroid_ints(c, dim) for c in range(n_centroids)], dtype=np.int64
    ).T  # dim × centroids

    @F.pandas_udf("int")
    def cell(s: pd.Series) -> pd.Series:
        ok, m = _vectors(s, dim)
        vals = np.zeros(len(s), dtype=np.int32)
        # np.argmax takes the FIRST maximum — ties to lowest cell
        vals[ok] = np.argmax(_quantized(m) @ C, axis=1)
        return pd.Series(pd.arrays.IntegerArray(vals, ~ok))

    return cell


def ivf_cell(vec: Column, n_centroids: int = 16, dim: int = 64) -> Column:
    """IVF-flat cell assignment: argmax_c ⟨⌊v·1e6⌋, centroid_c⟩, ties to
    the lowest cell id (0-based); null for vectors of the wrong length.

    Exact integer arithmetic end to end (quantized components × literal
    integer centroids), so the cell decision can never diverge between
    engines on float summation order. At write time (:func:`ivf_write`)
    a production table stores this cell and is partitioned by it, so
    probes become partition pruning. Executed as a numpy argmax-matmul
    ``pandas_udf`` (see module docstring for the measurement)."""
    return _cell_udf(n_centroids, dim)(vec)


def ivf_probe_cells(
    query_vec: list[float], n_centroids: int = 16, nprobe: int = 4
) -> list[int]:
    """The ``nprobe`` cells nearest the query (exact driver-side ints,
    same ordering the SQL oracle derives: score desc, cell id asc)."""
    dim = len(query_vec)
    qint = [math.floor(float(v) * 1_000_000) for v in query_vec]
    scored = [
        (sum(q * w for q, w in zip(qint, centroid_ints(c, dim))), c)
        for c in range(n_centroids)
    ]
    scored.sort(key=lambda t: (-t[0], t[1]))
    return [c for _, c in scored[:nprobe]]


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF-flat approximate top-k: scan only the ``nprobe`` inverted
    lists nearest the query, exact-rescore their members.

    Scale shape: with the cell column materialized at write time and the
    table partitioned by it, this plan reads nprobe/n_centroids of the
    corpus and touches no shuffle except the final TakeOrdered. With
    nprobe = n_centroids it degrades gracefully to exact brute force
    (pinned by test_ivf_full_probe_equals_brute_force).
    """
    probe = ivf_probe_cells(query_vec, n_centroids, nprobe)
    cell = ivf_cell(F.col(_VEC), n_centroids, len(query_vec))
    return _top_k(embeddings.filter(cell.isin(probe)), query_vec, k)


def ivf_write(
    embeddings: DataFrame, path: str, n_centroids: int = 16, dim: int = 64
) -> None:
    """Materialize the IVF index: embeddings written partitioned by cell.

    This is the write-time half of the contract :func:`ivf_topk`'s
    docstring promises: cell assignment happens ONCE here, and probes
    become parquet partition pruning — a query touches nprobe/n_centroids
    of the files and never evaluates the centroid argmax at read time.
    Repartitioning by cell before the write gives one file per cell per
    shuffle partition rather than every task writing every cell.
    """
    (
        embeddings.withColumn("cell", ivf_cell(F.col(_VEC), n_centroids, dim))
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )


def ivf_topk_indexed(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """Top-k over a materialized IVF index (:func:`ivf_write` output).

    The cell filter is a partition-column predicate, so Catalyst prunes
    to the nprobe probe directories at planning time (PartitionFilters
    in the scan — pinned by test_ivf_indexed_partition_pruning); the
    non-probe (n_centroids - nprobe)/n_centroids of the corpus is never
    read, decoded, or scored."""
    probe = ivf_probe_cells(query_vec, n_centroids, nprobe)
    pruned = spark.read.parquet(path).filter(F.col("cell").isin(probe))
    return _top_k(pruned, query_vec, k)


def lsh_write(
    embeddings: DataFrame, path: str, n_planes: int = 16, dim: int = 64
) -> None:
    """Materialize sign-LSH signatures at write time — the sign-LSH
    analogue of :func:`ivf_write`: the signature matmul runs ONCE here,
    and :func:`lsh_topk_indexed` reads a stored long column instead of
    re-evaluating 16 hyperplane dot products per row per query.

    Unlike IVF cells, a hamming ball is not a partition predicate (a
    ≤h-bit neighborhood of a 2^16-value key touches C(16,≤h) partitions
    with no prefix structure), so the table is NOT partitioned by sig —
    the read-time win is skipping the signature compute, and the prune
    filter is a codegen'd bit_count on the stored column. At 10^12 rows
    use the banded-multi-probe layout (:func:`lsh_band_write`, B band
    tables, pigeonhole-exact for h < B) so probes read band-bucket
    slivers; this single-table form keeps storage 1×.
    """
    (
        embeddings.withColumn("sig", sign_lsh_bits(F.col(_VEC), n_planes, dim))
        .write.mode("overwrite")
        .parquet(path)
    )


def lsh_topk_indexed(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 16,
    max_hamming: int = 6,
) -> DataFrame:
    """Approximate top-k over a materialized LSH index (:func:`lsh_write`
    output): hamming-prune on the STORED signature column (no signature
    recompute — the plan contains no ArrowEvalPython stage, pinned by
    test_lsh_indexed_no_signature_recompute), exact-rescore survivors."""
    q_sig = sign_bits_py(query_vec, n_planes)
    pruned = spark.read.parquet(path).filter(
        _within(F.col("sig"), q_sig, max_hamming)
    )
    return _top_k(pruned, query_vec, k)


def lsh_band_write(
    embeddings: DataFrame,
    path: str,
    n_planes: int = 16,
    n_bands: int = 8,
    dim: int = 64,
) -> None:
    """Banded multi-probe LSH index — the 10^12-row layout
    :func:`lsh_write`'s docstring names. Two tables:

    - ``<path>/bands``: (id, sig, band, val) — each row exploded into
      ``n_bands`` band rows, PARTITIONED BY (band, val), so a probe for
      band i / value v is parquet partition pruning down to one sliver
      (n_bands × 2^(n_planes/n_bands) directories; 8 bands × 2 bits →
      8×4 = 32 partitions at the defaults). The fat vector column does NOT ride
      the band rows — band storage is n_bands × (id + 8-byte sig).
    - ``<path>/base``: (id, vec) — the re-rank side, scanned only for
      candidate ids (broadcast join, same discipline as PQ's re-rank).

    Pigeonhole: any signature within hamming h < n_bands of the query
    agrees with it EXACTLY on ≥1 band, so reading the n_bands probe
    slivers covers every qualifying candidate — :func:`lsh_topk_banded`
    is then exact vs :func:`lsh_topk` for max_hamming < n_bands."""
    if n_planes % n_bands != 0:
        raise ValueError(f"n_planes={n_planes} not divisible by n_bands={n_bands}")
    band_bits = n_planes // n_bands
    mask = (1 << band_bits) - 1
    embeddings.select(_ID, _VEC).write.mode("overwrite").parquet(f"{path}/base")
    band_structs = [
        F.struct(
            F.lit(i).alias("band"),
            F.shiftrightunsigned(F.col("sig"), i * band_bits)
            .bitwiseAND(F.lit(mask).cast("long"))
            .alias("val"),
        )
        for i in range(n_bands)
    ]
    (
        embeddings.select(
            _ID, sign_lsh_bits(F.col(_VEC), n_planes, dim).alias("sig")
        )
        .select(_ID, "sig", F.explode(F.array(*band_structs)).alias("bv"))
        .select(_ID, "sig", "bv.band", "bv.val")
        .repartition("band", "val")
        .write.mode("overwrite")
        .partitionBy("band", "val")
        .parquet(f"{path}/bands")
    )


def lsh_topk_banded(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 16,
    n_bands: int = 8,
    max_hamming: int = 6,
) -> DataFrame:
    """Top-k over a banded multi-probe LSH index (:func:`lsh_band_write`
    output), exact vs :func:`lsh_topk` for max_hamming < n_bands.

    Plan: the n_bands probe predicates are (band, val) partition-column
    equalities, so Catalyst prunes the bands table to n_bands bucket
    slivers at planning time (pinned by
    test_lsh_banded_partition_pruning) — unlike the single-table layout,
    which scans the full signature column per query. Survivors of the
    exact hamming filter on the stored sig (pigeonhole guarantees the
    slivers cover everything in budget) broadcast-join back to the base
    table for the exact-cosine re-rank."""
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming={max_hamming} >= n_bands={n_bands}: the pigeonhole "
            "guarantee needs h < B (raise n_bands or use lsh_topk_indexed)"
        )
    q_sig = sign_bits_py(query_vec, n_planes)
    band_bits = n_planes // n_bands
    mask = (1 << band_bits) - 1
    probe = None
    for i in range(n_bands):
        p = (F.col("band") == i) & (
            F.col("val") == ((q_sig >> (i * band_bits)) & mask)
        )
        probe = p if probe is None else probe | p
    cand = (
        spark.read.parquet(f"{path}/bands")
        .filter(probe)
        .filter(_within(F.col("sig"), q_sig, max_hamming))
        .select(_ID)
        .distinct()
    )
    base = spark.read.parquet(f"{path}/base").join(F.broadcast(cand), _ID)
    return _top_k(base, query_vec, k)


def cosine_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Embedding near-dup pairs (id_a < id_b, cosine ≥ threshold).

    Self-join bucketed on the sign-LSH signature; near-identical vectors
    almost always share it. For exact completeness at lower thresholds,
    raise the hamming budget via lsh_topk-style multi-probe instead.

    The verify cosine runs only on bucket-join survivors (O(candidates),
    not O(corpus)), so it keeps the dynamic-length HOF form — see the
    module docstring for why the scan paths don't."""
    v = F.col(_VEC).cast("array<double>")
    with_sig = materialize(  # feeds both self-join sides — LSH bits once
        embeddings.select(
            F.col(_ID).alias("vid"), v.alias("v"),
            sign_lsh_bits(v, n_planes, dim).alias("sig"),
        )
    )
    a = with_sig.select(
        F.col("vid").alias("id_a"), F.col("v").alias("v_a"), "sig"
    )
    b = with_sig.select(
        F.col("vid").alias("id_b"), F.col("v").alias("v_b"), "sig"
    )
    pairs = a.join(b, "sig").filter(F.col("id_a") < F.col("id_b"))
    score = cosine(F.col("v_a"), F.col("v_b"))
    return pairs.select(
        "id_a", "id_b", F.round(score, 6).alias("score")
    ).filter(F.col("score") >= threshold)


def lsh_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 16,
    max_hamming: int = 6,
) -> DataFrame:
    """Approximate top-k: prune candidates whose sign-LSH signature is
    > max_hamming bits from the query's, exact-rescore the rest.

    The query's signature folds to a driver-side integer literal
    (:func:`sign_bits_py` — exact same arithmetic), so the per-row work
    is one matmul-UDF signature + a codegen'd bit_count. On a
    materialized index (:func:`lsh_write`) even the signature disappears
    — see :func:`lsh_topk_indexed`. At 10^12 rows the prune typically
    keeps <1% of the table; the rescore is the same exact cosine as
    brute force, so recall failures are visible by diffing against
    ``brute_force_topk`` on a sample.
    """
    q_sig = sign_bits_py(query_vec, n_planes)
    sig = sign_lsh_bits(F.col(_VEC), n_planes, len(query_vec))
    with_sig = embeddings.select(_ID, _VEC, sig.alias("sig"))
    pruned = with_sig.filter(_within(F.col("sig"), q_sig, max_hamming))
    return _top_k(pruned, query_vec, k)


# ── Product quantization (PQ / ADC) ────────────────────────────────────
# The 100 TB ANN memory path: vectors compress to m sub-codes (here
# 8×4-bit-ish = 8 small ints vs 64 float32 = 32× smaller), queries scan
# codes with per-subspace distance TABLES (pure arithmetic, no vector
# reads), and only the top k×refine candidates touch raw vectors for
# exact re-ranking. Same determinism discipline as IVF/LSH above:
# default codebooks come from the integer LCG so the DuckDB oracle
# re-derives every decision exactly; pq_train provides the real
# kmeans-trained codebooks for production (same integer encoding space,
# no oracle — quality pinned by a recall test instead).


def pq_codeword_ints(sub: int, code: int, dsub: int) -> list[int]:
    """Deterministic codeword ``code`` of subspace ``sub`` as integers
    in [-1000, 1000] — LCG family, seed space disjoint from planes and
    IVF centroids."""
    return plane_weights_int(200_003 + sub * 1021 + code, dsub)


def pq_codebook_int(m: int, n_codes: int, dim: int) -> np.ndarray:
    """(m, n_codes, dim/m) int64 codebook in the ⌊v·1e6⌋ quantized
    space (LCG ints scaled ×1000, i.e. codeword components span
    [-1, 1] at 1e-3 resolution)."""
    dsub = dim // m
    return (
        np.array(
            [
                [pq_codeword_ints(s, c, dsub) for c in range(n_codes)]
                for s in range(m)
            ],
            dtype=np.int64,
        )
        * 1000
    )


def pq_train(
    vectors: np.ndarray, m: int = 8, n_codes: int = 16, iters: int = 10, seed: int = 0
) -> np.ndarray:
    """Train real PQ codebooks: per-subspace Lloyd k-means with seeded
    k-means++-style init, returned in the SAME ⌊·1e6⌋ integer space the
    encoder uses (drop-in replacement for the LCG default). Driver-side
    numpy on a SAMPLE (PQ training classically uses ~100k vectors, not
    the corpus) — deterministic for a fixed (sample, m, n_codes, iters,
    seed)."""
    n, dim = vectors.shape
    dsub = dim // m
    rng = np.random.RandomState(seed)
    out = np.empty((m, n_codes, dsub), dtype=np.int64)
    for s in range(m):
        X = vectors[:, s * dsub : (s + 1) * dsub].astype(np.float64)
        # seeded farthest-point-ish init: first pick random, rest by
        # max distance to the chosen set (deterministic argmax ties)
        cents = [X[rng.randint(n)]]
        for _ in range(n_codes - 1):
            d2 = np.min(
                [((X - c) ** 2).sum(axis=1) for c in cents], axis=0
            )
            cents.append(X[int(np.argmax(d2))])
        C = np.vstack(cents)
        for _ in range(iters):
            assign = np.argmin(
                ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2), axis=1
            )
            for c in range(n_codes):
                mask = assign == c
                if mask.any():
                    C[c] = X[mask].mean(axis=0)
        out[s] = _quantized(C)
    return out


def _codebook(m: int, n_codes: int, dim: int, codebook: np.ndarray | None):
    """The int64 codebook in use: ``codebook`` (e.g. :func:`pq_train`
    output) or the LCG default."""
    if codebook is None:
        return pq_codebook_int(m, n_codes, dim)
    return np.asarray(codebook, dtype=np.int64)


@functools.cache
def _pq_encode_udf(m: int, n_codes: int, dim: int, codebook: bytes):
    """Arrow-batched PQ encoder, keyed on the int64 codebook's bytes
    (ndarrays are not hashable)."""
    CB = np.frombuffer(codebook, dtype=np.int64).reshape(m, n_codes, dim // m)

    @F.pandas_udf("array<int>")
    def enc(s: pd.Series) -> pd.Series:
        ok, V = _vectors(s, dim)
        vsub = _quantized(V).reshape(len(V), m, 1, dim // m)
        # (n, m, k): exact integer distances; argmin takes the FIRST
        # minimum — ties to the lowest code, same as the oracle's
        # ORDER BY d2, code
        codes = np.argmin(((vsub - CB[None]) ** 2).sum(axis=3), axis=2)
        rows = np.full(len(s), None, dtype=object)
        for i, c in zip(np.flatnonzero(ok), codes.tolist()):
            rows[i] = c
        return pd.Series(rows, dtype=object)

    return enc


def pq_encode(
    embeddings: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    codebook: np.ndarray | None = None,
) -> DataFrame:
    """Append ``pq_codes`` (array<int>, length m; null for wrong-length
    vectors): per subspace, the integer-exact nearest codeword. Zero
    shuffle — at write time a production table stores this column
    (32× smaller than the raw vectors) and ADC queries scan only it."""
    cb = _codebook(m, n_codes, dim, codebook).tobytes()
    return embeddings.withColumn(
        "pq_codes", _pq_encode_udf(m, n_codes, dim, cb)(F.col(_VEC))
    )


def _adc_candidates(
    coded: DataFrame,
    query_vec: list[float],
    m: int,
    n_codes: int,
    codebook: np.ndarray | None,
    n: int,
) -> DataFrame:
    """Ids of the ``n`` rows of ``coded`` nearest the query by ADC: the
    sum of m per-subspace query→codeword distance TABLE lookups on
    ``pq_codes``. The tables are literal arrays folded into the plan, so
    scoring is pure codegen arithmetic (no vector reads, no Python), and
    the candidate stage is a TakeOrdered over (id, _adc) only."""
    CB = _codebook(m, n_codes, len(query_vec), codebook)
    qint = _quantized(np.asarray(query_vec, dtype=np.float64)).reshape(m, 1, -1)
    T = ((qint - CB) ** 2).sum(axis=2)  # (m, n_codes) int64
    approx = functools.reduce(
        operator.add,
        (
            F.array(*[F.lit(int(t)) for t in T[s]])[F.col("pq_codes")[s]]
            for s in range(m)
        ),
    )
    return (
        coded.select(_ID, approx.alias("_adc"))
        .orderBy(F.asc("_adc"), F.col(_ID))
        .limit(n)
        .select(_ID)
    )


def pq_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    refine: int = 10,
    codebook: np.ndarray | None = None,
) -> DataFrame:
    """PQ-ADC top-k with exact re-rank: score every row by ADC
    (:func:`_adc_candidates`), TakeOrdered the k×refine best approximate
    candidates, then exact-cosine re-rank only those. Output: (id,
    score) like :func:`brute_force_topk`.

    Scale shape: the corpus-wide candidate stage is TakeOrdered over
    (id, _adc) ONLY — the raw vector column never rides the sort
    (columnar projection skips it); the ≤ k×refine candidate ids then
    broadcast-join back to the source to fetch vectors for the exact
    re-rank. Pinned by test_pq_candidate_scan_never_reads_vectors.
    The 32×-less-I/O scan applies to the INDEXED path (pq_topk_indexed,
    which reads stored codes); this inline form must read the raw
    vectors once to ENCODE them — its second ArrowEvalPython stage,
    asserted by test_pq_indexed_no_encode_recompute. Approximation
    quality rides the codebook: LCG default for engine-replayable
    tests, :func:`pq_train` output for production."""
    dim = len(query_vec)
    # Wrong-length vectors are pruned with a cheap JVM size() filter
    # BEFORE the encode — filtering on isnotnull(pq_codes) instead
    # makes ExtractPythonUDFs materialize the encode kernel TWICE (once
    # under the pushed-down filter, once for the ADC projection); the
    # duplicated-UDF plan was caught by the indexed-vs-inline plan pin.
    coded = pq_encode(
        embeddings.filter(F.size(F.col(_VEC)) == dim), m, n_codes, dim, codebook
    )
    cand = _adc_candidates(coded, query_vec, m, n_codes, codebook, k * refine)
    return _top_k(embeddings.join(F.broadcast(cand), _ID), query_vec, k)


def pq_write(
    embeddings: DataFrame,
    path: str,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    codebook: np.ndarray | None = None,
) -> None:
    """Materialize the PQ index: embeddings written WITH their
    ``pq_codes`` column — the PQ analogue of :func:`ivf_write` /
    :func:`lsh_write`. Encoding (the only Python stage) runs ONCE here;
    :func:`pq_topk_indexed` then scores the stored code column with
    pure codegen table lookups and reads raw vectors only for the
    re-rank candidates. At 10^12 rows the codes column is what a query
    scans — 32× less I/O than the vector column, which columnar
    projection skips entirely until the re-rank."""
    (
        pq_encode(embeddings, m, n_codes, dim, codebook)
        .write.mode("overwrite")
        .parquet(path)
    )


def pq_topk_indexed(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    refine: int = 10,
    codebook: np.ndarray | None = None,
) -> DataFrame:
    """PQ-ADC top-k over a materialized index (:func:`pq_write`
    output): no encode at read time — the exact-cosine rescore is
    the plan's ONLY Arrow stage (pinned by
    test_pq_indexed_no_encode_recompute) — ADC over the stored codes
    (:func:`_adc_candidates`; the corpus-wide scan reads the code
    column, never the vectors — pinned by
    test_pq_candidate_scan_never_reads_vectors), then a broadcast join
    back on id fetches the ≤ k×refine candidate vectors for the exact
    re-rank."""
    coded = spark.read.parquet(path).filter(F.col("pq_codes").isNotNull())
    cand = _adc_candidates(coded, query_vec, m, n_codes, codebook, k * refine)
    base = spark.read.parquet(path).select(_ID, _VEC).join(F.broadcast(cand), _ID)
    return _top_k(base, query_vec, k)
