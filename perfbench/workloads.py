"""The benchmark workloads.

Each workload function takes a :class:`Ctx` and an :class:`Outcome`,
fills the outcome (per-op latencies, per-pass walls, failures and the
per-layer numbers of its traced passes) and returns the live session.
Every op is checked against a reference computed outside the timed
region; an op whose check fails is counted as failed and its time is
still recorded.

Timed regions call only the public functions of the program's layers:
``session``, ``operators.extraction``, ``kernels.arrowspans``,
``sources.checkpoint`` / ``sources.snapshots``,
``streaming.incremental``, the query registry ``plans.queries`` and the
operator modules it calls, and ``operators.cacheutil``.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import inputs
from perfbench.measure import (
    JobCounters,
    RssSampler,
    Tracer,
    checksum,
    group_counters,
    median,
    proc_tree_cpu_s,
)

# ── sizes (fixed: the seed varies content, never size) ───────────────

# extract_ingest: the base corpus is replicated INCREMENTS ×
# COPIES_PER_INCREMENT times with distinct doc_ids. Each increment holds
# whole copies of the base, at least the repeated-heading threshold (3)
# of them, so a heading reaches the threshold in the first increment iff
# it does in the whole corpus: the union of the incremental commits must
# then equal one batch extraction.
BASE_DOCS = 500
INCREMENTS = 3
COPIES_PER_INCREMENT = 3
FILES_PER_INCREMENT = 4
GOLDEN_SAMPLE_DOCS = 200

CORPUS_SF = 0.005

SETUPS = 3

# query → the operator module (layer) that does its work: one query per
# operator layer, the dedup and hygiene ones among those that fire the
# most Spark jobs while their plans are built, plus a JVM-only control.
# The rest of the registry is left out to keep a run short.
QUERY_LAYERS = {
    "jaccard_pairs": "dedup",
    "clean_corpus": "pipeline",
    "gopher_filter": "textstats",
    "decontaminate": "decontam",
    "budget_sample": "sampling",
    "topk_cosine": "simsearch",
    "word_index": "index",
    "heavy_hitters": "sketches",
    "event_sessions": "queries",
}
CORPUS_LAYERS = sorted(set(QUERY_LAYERS.values()))
NAMED_QUERIES = ("jaccard_pairs", "clean_corpus")


@dataclass
class Ctx:
    work: Path
    seed: int
    seconds: float
    threads: int
    trace: bool
    tracer: Tracer


@dataclass
class Outcome:
    setup_s: list[float] = field(default_factory=list)
    get_spark_s: list[float] = field(default_factory=list)
    op_s: list[float] = field(default_factory=list)
    # pass walls, split by whether the pass was traced
    pass_s: list[float] = field(default_factory=list)
    # op name → wall seconds and op name → CPU seconds, one dict per
    # untraced pass
    pass_wall: list[dict[str, float]] = field(default_factory=list)
    pass_cpu: list[dict[str, float]] = field(default_factory=list)
    traced_pass_s: list[float] = field(default_factory=list)
    docs_per_pass: int = 0
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)
    inputs: dict = field(default_factory=dict)
    rss_sampler: RssSampler | None = None
    # wall seconds of each phase of the run (input generation, set-up,
    # reference checks, timed passes), reported apart from the metrics
    phases: dict[str, float] = field(default_factory=dict)
    _phase_t: float = field(default_factory=time.perf_counter)

    def phase(self, name: str) -> None:
        """Close the phase running since the previous call as ``name``."""
        now = time.perf_counter()
        self.phases[name] = self.phases.get(name, 0.0) + now - self._phase_t
        self._phase_t = now

    def cpu(self) -> float:
        """CPU seconds used so far by this process and by the Spark JVM
        with every process it forked (the Python workers)."""
        return time.process_time() + proc_tree_cpu_s(self.rss_sampler.root_pid)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            self.failures.append(what)


# ── session ──────────────────────────────────────────────────────────


def _arrow_identity(batches):
    yield from batches


def _warm_up(spark) -> None:
    """First job of a context: one Arrow batch through a Python worker,
    so the worker daemon's start-up is paid in set-up."""
    spark.range(1, numPartitions=1).mapInArrow(_arrow_identity, "id long").collect()


def _open_session(ctx: Ctx, out: Outcome) -> object:
    """Set up ``SETUPS`` times (stopping the previous context each time;
    the first also pays the JVM launch) and keep the last session. Each
    set-up is ``session.get_spark`` plus the warm-up job."""
    from barks_ocr_spark.session import get_spark

    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        with ctx.tracer.span("session", "get_spark"):
            spark = get_spark(
                "perfbench",
                master=f"local[{ctx.threads}]",
                shuffle_partitions=ctx.threads,
                extra_conf={"spark.ui.showConsoleProgress": "false"},
            )
        out.get_spark_s.append(time.perf_counter() - t0)
        spark.sparkContext.setLogLevel("ERROR")
        if out.rss_sampler is None:
            out.rss_sampler = RssSampler(spark.sparkContext._gateway.proc.pid)
            out.rss_sampler.start()
        _warm_up(spark)
        out.setup_s.append(time.perf_counter() - t0)
    out.phase("setup")
    ctx.tracer.enabled = False  # reference checks are not traced
    return spark


def _passes(ctx: Ctx, out: Outcome, one_pass) -> None:
    """Run whole passes until ``ctx.seconds`` have elapsed (at least one).
    A traced run alternates untraced and traced passes, starting and
    ending untraced (at least three), so the tracing overhead is not
    biased by which side ran first."""
    out.phase("reference")
    t_start = time.perf_counter()
    i = 0
    while True:
        traced = ctx.trace and i % 2 == 1
        ctx.tracer.enabled = traced
        wall = one_pass(traced)
        (out.traced_pass_s if traced else out.pass_s).append(wall)
        i += 1
        elapsed = time.perf_counter() - t_start
        if elapsed >= ctx.seconds and (not ctx.trace or (i >= 3 and i % 2 == 1)):
            break
    ctx.tracer.enabled = ctx.trace
    out.phase("timed")


def _job_group(spark, traced: bool, group: str) -> None:
    if traced:
        spark.sparkContext.setJobGroup(group, group, False)


# ── extraction helpers ───────────────────────────────────────────────


def _span_rows(rows) -> dict[str, list[tuple]]:
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in rows
    }


def _golden_check(spark, ctx: Ctx, base, corpus, repeating, out: Outcome) -> None:
    """Pass 1 and pass 2 against the pandas golden kernels
    (``kernels/spans.py``): the heading set, and span sequences on a
    seeded sample of documents.

    The golden heading set is computed over three copies of ``base``.
    Every corpus here holds at least three whole copies, so a heading
    reaches the threshold of 3 docs there iff it does in the corpus.
    Pass 2 is per document given the heading set, so the sample is
    extracted on its own."""
    from barks_ocr_spark.kernels import spans as golden
    from barks_ocr_spark.operators import extraction

    three = inputs.replicate(base, 3).to_pandas()
    golden_rep = golden.repeating_headings_from_flat(golden.flatten(three))
    out.check(golden_rep == repeating, "pass-1 heading set differs from golden")
    rng = np.random.RandomState(ctx.seed)
    pick = rng.choice(corpus.num_rows, size=min(GOLDEN_SAMPLE_DOCS, corpus.num_rows), replace=False)
    sample = corpus.take(pa.array(np.sort(pick)))
    path = ctx.work / "golden_sample"
    inputs.write_files(sample, path, 1)
    want = _span_rows(golden.extract_documents(sample.to_pandas(), golden_rep).to_dict("records"))
    got = _span_rows(
        extraction.extract(extraction.load_documents(spark, str(path)), repeating=repeating).collect()
    )
    out.check(got == want, "pass-2 span sequences differ from golden on the sample")


# ── workload: extract_ingest ─────────────────────────────────────────


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def _arrive(src: Path, dst_dir: Path) -> None:
    """A new input file appears in the input directory (a hard link:
    atomic, and no copy cost inside the pass)."""
    dst = dst_dir / src.name
    try:
        os.link(src, dst)
    except OSError:
        shutil.copyfile(src, dst)


def extract_ingest(ctx: Ctx, out: Outcome) -> object:
    """One pass: the two-pass batch extraction over the whole corpus,
    then the same corpus arriving as increments, each committed by
    ``ExtractionJob.run`` over the table so far, a rerun with no new
    input (must commit 0 docs) and a streaming drain of the directory."""
    from pyspark.sql import functions as F

    from barks_ocr_spark.kernels import arrowspans
    from barks_ocr_spark.operators import extraction
    from barks_ocr_spark.sources.checkpoint import ExtractionJob
    from barks_ocr_spark.streaming import incremental

    base = inputs.span_corpus(BASE_DOCS, ctx.seed)
    staging = ctx.work / "staging"
    inc_files: list[list[Path]] = []
    inc_rows, in_bytes = [], 0
    for i in range(INCREMENTS):
        inc = inputs.replicate(base, COPIES_PER_INCREMENT, first=i * COPIES_PER_INCREMENT)
        in_bytes += inputs.write_files(inc, staging, FILES_PER_INCREMENT, prefix=f"inc{i:02d}")
        inc_files.append(sorted(staging.glob(f"inc{i:02d}-*.parquet")))
        inc_rows.append(inc.num_rows)
    corpus = inputs.replicate(base, INCREMENTS * COPIES_PER_INCREMENT)
    n_docs = corpus.num_rows
    out.docs_per_pass = n_docs
    out.inputs = {
        "docs": n_docs,
        "base_docs": BASE_DOCS,
        "increments": INCREMENTS,
        "copies_per_increment": COPIES_PER_INCREMENT,
        "files": INCREMENTS * FILES_PER_INCREMENT,
        "input_bytes": in_bytes,
    }
    out.phase("generate")
    spark = _open_session(ctx, out)

    # reference, untimed: the batch plan the timed passes run (so it is
    # warm when they start), and the golden checks
    docs = extraction.load_documents(spark, str(staging))
    rep = extraction.repeating_heading_set(docs)
    ref = checksum(extraction.extract(docs, repeating=rep))
    out.check(ref[0] == n_docs, f"extract emitted {ref[0]} docs for {n_docs} inputs")
    _golden_check(spark, ctx, base, corpus, rep, out)

    lay: dict[str, list[float]] = {}
    pass_no = [0]

    def note(key: str, value: float) -> None:
        lay.setdefault(key, []).append(value)

    def batch(traced: bool) -> tuple[float, float]:
        out.attempted += 1
        c0 = out.cpu()
        t0 = time.perf_counter()
        d = extraction.load_documents(spark, str(staging))
        with ctx.tracer.span("extraction", "repeating_heading_set"):
            r = extraction.repeating_heading_set(d)
        t1 = time.perf_counter()
        with ctx.tracer.span("extraction", "extract"):
            got = checksum(extraction.extract(d, repeating=r))
        t2 = time.perf_counter()
        cpu = out.cpu() - c0
        out.check(r == rep and got == ref, "batch extraction checksum mismatch")
        if traced:
            note("extraction.pass1_s", t1 - t0)
            note("extraction.pass2_s", t2 - t1)
        return t2 - t0, cpu

    def ingest(traced: bool, pdir: Path, incs: list[list[Path]], want_ref,
               ops: dict, cpus: dict) -> float:
        """Commit ``incs`` one by one, rerun, drain; with ``want_ref``, check
        the committed union and the sink against that batch checksum. Each
        op's wall and CPU seconds go to ``ops`` and ``cpus``."""
        input_dir, results, ckpts = pdir / "input", pdir / "results", pdir / "checkpoints"
        sink, sink_ckpt = pdir / "sink", pdir / "sink_ckpt"
        input_dir.mkdir(parents=True)
        job = ExtractionJob(str(results), str(ckpts))
        wall = 0.0
        for i in range(len(incs) + 1):  # the last is the rerun: no new input
            if i < len(incs):
                for f in incs[i]:
                    _arrive(f, input_dir)
            if traced:
                tp = time.perf_counter()
                with ctx.tracer.span("checkpoint", "pending"):
                    checksum(job.pending(spark, extraction.load_documents(spark, str(input_dir))))
                note("checkpoint.pending_s", time.perf_counter() - tp)
            out.attempted += 1
            c0 = out.cpu()
            t0 = time.perf_counter()
            with ctx.tracer.span("checkpoint", "run"):
                summary = job.run(spark, extraction.load_documents(spark, str(input_dir)))
            dt = time.perf_counter() - t0
            wall += dt
            op = f"commit{i}" if i < len(incs) else "rerun"
            ops[op], cpus[op] = dt, out.cpu() - c0
            want = inc_rows[i] if i < len(incs) else 0
            out.check(summary["docs"] == want,
                      f"increment {i} committed {summary['docs']} docs, expected {want}")
            if traced and i < len(incs):
                note("checkpoint.run_s", dt)
            elif traced:
                note("checkpoint.rerun_docs", summary["docs"])
        out.attempted += 1
        c0 = out.cpu()
        t0 = time.perf_counter()
        with ctx.tracer.span("streaming", "drain"):
            r = extraction.repeating_heading_set(extraction.load_documents(spark, str(input_dir)))
            stream = incremental.stream_extraction(spark, str(input_dir), r)
            incremental.run_stream_to_parquet(stream, str(sink), str(sink_ckpt))
        dt = time.perf_counter() - t0
        wall += dt
        ops["drain"], cpus["drain"] = dt, out.cpu() - c0
        if want_ref is not None:
            # untimed: snapshots == batch with no doc_id twice, sink == batch
            committed = job.read_results(spark)
            got = checksum(committed)
            out.check(got == want_ref, "union of committed snapshots differs from batch extraction")
            out.check(committed.select("doc_id").distinct().count() == got[0],
                      "a doc_id was committed twice")
            out.check(checksum(spark.read.parquet(str(sink))) == want_ref,
                      "stream sink differs from batch extraction")
        if traced:
            note("streaming.drain_s", dt)
            ck_bytes = _dir_bytes(results) + _dir_bytes(ckpts)
            note("checkpoint.written_mb", ck_bytes / 2**20)
            note("checkpoint.write_amp",
                 (ck_bytes + _dir_bytes(sink) + _dir_bytes(sink_ckpt)) / in_bytes)
        return wall

    def one_pass(traced: bool) -> float:
        pdir = ctx.work / f"pass-{pass_no[0]:03d}"
        pass_no[0] += 1
        ops: dict[str, float] = {}
        cpus: dict[str, float] = {}
        with ctx.tracer.span("bench", "pass"):
            ops["batch"], cpus["batch"] = batch(traced)
            wall = ops["batch"] + ingest(traced, pdir, inc_files, ref, ops, cpus)
        shutil.rmtree(pdir)
        out.op_s.extend(ops.values())
        if not traced:
            out.pass_wall.append(ops)
            out.pass_cpu.append(cpus)
        return wall

    # warm the commit, resume and streaming plans on the first increment
    ingest(False, ctx.work / "warm", inc_files[:1], None, {}, {})

    _passes(ctx, out, one_pass)

    if ctx.trace:
        # the bare Arrow kernel on batches of the same files, in this
        # process, on one core
        files = inc_files[0]
        batches = [b for f in files for b in pq.read_table(f).to_batches(max_chunksize=2048)]
        k_docs = sum(b.num_rows for b in batches)
        t0 = time.perf_counter()
        with ctx.tracer.span("arrowspans", "extract_batch"):
            for b in batches:
                arrowspans.extract_batch(b, rep)
        kernel_dps = k_docs / (time.perf_counter() - t0)
        result = extraction.extract(extraction.load_documents(spark, str(staging)), repeating=rep)
        out.layer = {k: median(v) for k, v in lay.items()}
        out.layer["checkpoint.rerun_docs"] = float(sum(lay["checkpoint.rerun_docs"]))
        out.layer["extraction.spans_out"] = float(result.select(F.sum(F.size("spans"))).first()[0])
        out.layer["arrowspans.docs_per_s"] = kernel_dps
        out.layer["extraction.kernel_share"] = (
            n_docs / kernel_dps / ctx.threads
        ) / out.layer["extraction.pass2_s"]
    return spark


# ── workload: corpus_prep ────────────────────────────────────────────


def corpus_prep(ctx: Ctx, out: Outcome) -> object:
    import duckdb

    from barks_ocr_spark import oracle
    from barks_ocr_spark.operators.cacheutil import unpersist_intermediates
    from barks_ocr_spark.plans import queries as Q

    sf_dir = ctx.work / "tables"
    rows = inputs.write_registry_tables(sf_dir, CORPUS_SF, ctx.seed)
    out.docs_per_pass = rows["documents"]
    out.inputs = {"sf": CORPUS_SF, "rows": rows, "queries": len(QUERY_LAYERS)}
    registry, oracles = Q.queries(), Q.oracle_sql()

    out.phase("generate")
    spark = _open_session(ctx, out)

    # reference, untimed: each query once against its DuckDB oracle; the
    # checksum is taken from the same (persisted) result
    ref: dict[str, tuple[int, int]] = {}
    con = duckdb.connect()
    try:
        oracle.register_views(con, str(sf_dir))
        for name in QUERY_LAYERS:
            held = []

            def build(s, d, fn=registry[name]):
                df = fn(s, d).persist()
                held.append(df)
                return df

            status, detail = oracle.compare_one(spark, con, name, build, oracles.get(name), str(sf_dir))
            out.check(status == "match", f"{name}: oracle {status} — {detail}")
            ref[name] = checksum(held[0])
            held[0].unpersist()
            unpersist_intermediates()
    finally:
        con.close()

    order_rng = np.random.RandomState(ctx.seed)
    names = list(QUERY_LAYERS)
    per_query: dict[str, list[float]] = {q: [] for q in names}
    layer_rounds: list[dict[str, float]] = []

    def one_pass(traced: bool) -> float:
        sums: dict[str, float] = {}
        build = {layer: JobCounters() for layer in CORPUS_LAYERS}
        run = {layer: JobCounters() for layer in CORPUS_LAYERS}
        ops: dict[str, float] = {}
        cpus: dict[str, float] = {}
        with ctx.tracer.span("bench", "pass"):
            for name in order_rng.permutation(names):
                layer = QUERY_LAYERS[name]
                # a group name is never reused: jobs of later untraced
                # passes stay in the last group set, which is read once
                group = f"{len(layer_rounds)}.{name}"
                out.attempted += 1
                c0 = out.cpu()
                t0 = time.perf_counter()
                with ctx.tracer.span(layer, name):
                    _job_group(spark, traced, f"{group}.build")
                    with ctx.tracer.span(layer, f"{name}.build"):
                        df = registry[name](spark, str(sf_dir))
                    t1 = time.perf_counter()
                    _job_group(spark, traced, f"{group}.run")
                    with ctx.tracer.span(layer, f"{name}.run"):
                        got = checksum(df)
                dt = time.perf_counter() - t0
                t2 = time.perf_counter()
                with ctx.tracer.span("cacheutil", "unpersist_intermediates"):
                    unpersist_intermediates()
                ops[name] = dt + (time.perf_counter() - t2)
                cpus[name] = out.cpu() - c0
                out.op_s.append(dt)
                out.check(got == ref[name], f"{name}: checksum {got} != reference {ref[name]}")
                if traced:
                    per_query[name].append(dt)
                    sums[f"{layer}.build_s"] = sums.get(f"{layer}.build_s", 0.0) + (t1 - t0)
                    sums[f"{layer}.run_s"] = sums.get(f"{layer}.run_s", 0.0) + (dt - (t1 - t0))
                    with ctx.tracer.span("bench", "status_store"):
                        build[layer].add(group_counters(spark.sparkContext, f"{group}.build"))
                        run[layer].add(group_counters(spark.sparkContext, f"{group}.run"))
        if traced:
            for layer in CORPUS_LAYERS:
                b, r = build[layer], run[layer]
                sums[f"{layer}.build_jobs"] = float(b.jobs)
                sums[f"{layer}.jobs"] = float(r.jobs)
                sums[f"{layer}.task_cpu_s"] = b.task_cpu_s + r.task_cpu_s
                sums[f"{layer}.gc_s"] = b.gc_s + r.gc_s
                sums[f"{layer}.shuffle_write_mb"] = b.shuffle_write_mb + r.shuffle_write_mb
                sums[f"{layer}.spill_mb"] = b.spill_mb + r.spill_mb
            layer_rounds.append(sums)
        else:
            out.pass_wall.append(ops)
            out.pass_cpu.append(cpus)
        return sum(ops.values())

    _passes(ctx, out, one_pass)
    if ctx.trace:
        for key in layer_rounds[0]:
            out.layer[key] = median([r.get(key, 0.0) for r in layer_rounds])
        for q in NAMED_QUERIES:
            out.layer[f"{QUERY_LAYERS[q]}.{q}_s"] = median(per_query[q])
    return spark


WORKLOADS = {"extract_ingest": extract_ingest, "corpus_prep": corpus_prep}
