"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of ``(seed, size)``: the same seed
gives the same bytes. Nothing is timed. Two input families:

- the interleaved span corpus of the extraction job, from
  ``barks_ocr_spark.datagen.docs.gen_documents`` replicated with distinct
  doc_ids (the way ``bench.py --scaling`` scales it), written as
  several parquet files so the scan has one task per core;
- the TPC-H-ish star schema plus ``events``, ``documents`` and
  ``embeddings`` that the query registry reads, drawn from the same
  value domains and per-scale-factor row counts as the ``sf*`` test
  tables described in TESTDATA.md (one parquet file per table).
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from barks_ocr_spark.datagen import docs as dg

# ── extraction corpus ────────────────────────────────────────────────


def span_corpus(base_docs: int, seed: int) -> pa.Table:
    """The seeded base corpus as an Arrow table (doc_id, spans)."""
    from barks_ocr_spark.schemas import DOCUMENTS_SPANS_SCHEMA
    from pyspark.sql.pandas.types import to_arrow_schema

    pdf = dg.gen_documents(base_docs, seed=seed)
    return pa.Table.from_pandas(
        pdf, schema=to_arrow_schema(DOCUMENTS_SPANS_SCHEMA), preserve_index=False
    )


def replicate(base: pa.Table, copies: int, first: int = 0) -> pa.Table:
    """Copies ``first .. first+copies-1`` of ``base`` with distinct
    doc_ids: copy 0 keeps its ids, copy r is prefixed ``r{r}_``."""
    parts = []
    for r in range(first, first + copies):
        ids = base["doc_id"]
        if r:
            ids = pc.binary_join_element_wise(f"r{r}", ids, "_")
        parts.append(base.set_column(0, "doc_id", ids))
    return pa.concat_tables(parts)


def write_files(table: pa.Table, out_dir: Path, n_files: int, prefix: str = "part") -> int:
    """Write ``table`` as ``n_files`` parquet files; returns total bytes."""
    out_dir.mkdir(parents=True, exist_ok=True)
    rows = table.num_rows
    step = -(-rows // n_files)
    total = 0
    for i in range(n_files):
        path = out_dir / f"{prefix}-{i:03d}.parquet"
        pq.write_table(table.slice(i * step, step), path)
        total += path.stat().st_size
    return total


# ── registry tables ──────────────────────────────────────────────────

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast the row "
    "agg key query a scan batch"
).split()
_DAY_US = 86_400_000_000


def _days(rng: np.random.RandomState, start: str, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us").astype(np.int64)
    return base + rng.randint(0, n_days, size=n).astype(np.int64) * _DAY_US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng: np.random.RandomState, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng: np.random.RandomState, n: int) -> pa.Table:
    """Texts over a 30-word vocabulary, 10-100 words each, with 8
    planted duplicate texts per 5000 docs (the sf test tables' rate)."""
    lens = rng.randint(10, 101, size=n)
    words = np.asarray(_WORDS)[rng.randint(0, len(_WORDS), size=int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    n_dup = max(1, 8 * n // 5000)
    src = rng.choice(n, size=n_dup, replace=False)
    dst = rng.choice(np.setdiff1d(np.arange(n), src), size=n_dup, replace=False)
    for s, d in zip(src, dst):
        texts[d] = texts[s]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": np.asarray(_LANGS)[rng.choice(len(_LANGS), size=n, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.RandomState, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors around 10 weak cluster centres."""
    labels = rng.randint(0, 10, size=n)
    centres = rng.normal(0.0, 0.008, size=(10, dim))
    x = rng.normal(0.0, 0.125, size=(n, dim)) + centres[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def registry_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten registry tables at scale factor ``sf``."""
    rng = np.random.RandomState(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs = int(15_000 * sf), int(50_000 * sf)
    n_emb = max(500, int(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.randint(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.asarray(_SEGMENTS)[rng.randint(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.randint(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.randint(0, 8, n_part), rng.randint(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.randint(1, 26, n_part)],
            "p_type": np.asarray(_PART_TYPES)[rng.randint(0, 6, n_part)],
            "p_size": pa.array(rng.randint(1, 51, n_part), pa.int32()),
            "p_retailprice": retail,
        }
    )
    orderdate = _days(rng, "1995-01-01", 2405, n_ord)
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.randint(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.asarray(["F", "O", "P"])[rng.randint(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts(orderdate),
            "o_orderpriority": np.asarray(_PRIORITIES)[rng.randint(0, 5, n_ord)],
        }
    )
    l_order = rng.randint(0, n_ord, n_li)
    l_part = rng.randint(0, n_part, n_li)
    qty = rng.randint(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(l_part, pa.int64()),
            "l_suppkey": pa.array(rng.randint(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.randint(1, 8, n_li), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * retail[l_part] * rng.uniform(0.02, 2.3, n_li), 2),
            "l_discount": rng.randint(0, 11, n_li) / 100.0,
            "l_tax": rng.randint(0, 9, n_li) / 100.0,
            "l_returnflag": np.asarray(["A", "N", "R"])[rng.randint(0, 3, n_li)],
            "l_linestatus": np.asarray(["F", "O"])[rng.randint(0, 2, n_li)],
            "l_shipdate": _ts(orderdate[l_order] + rng.randint(1, 122, n_li) * _DAY_US),
        }
    )
    ev_us = np.sort(
        np.datetime64("2024-01-01", "us").astype(np.int64)
        + rng.randint(0, 30 * _DAY_US, size=n_ev, dtype=np.int64)
    )
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(ev_us),
            "user_id": pa.array(rng.randint(0, n_users, n_ev), pa.int64()),
            "event_type": np.asarray(_EVENT_TYPES)[rng.randint(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, n_ev)],
        }
    )
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def write_registry_tables(out_dir: Path, sf: float, seed: int) -> dict[str, int]:
    """Write the registry tables under ``out_dir``; returns row counts."""
    out_dir.mkdir(parents=True, exist_ok=True)
    rows = {}
    for name, table in registry_tables(sf, seed).items():
        pq.write_table(table, out_dir / f"{name}.parquet")
        rows[name] = table.num_rows
    return rows
