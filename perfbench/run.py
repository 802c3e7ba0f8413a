"""Benchmark entry point.

    python3 perfbench/run.py --workload {extract_ingest,corpus_prep}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The inputs are generated from
``--seed`` under ``perfbench/_run/``, the workload runs whole passes for
at least ``--seconds`` seconds on ``local[nproc]``, every op is checked,
and the last line of stdout is one JSON object::

    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": float, "unit": str}, ...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (names and units in ``BENCHMARK.json``). The line before
it carries the result stamp (host, versions, input sizes, seed, commit),
the phase times, per-op latency with its sample count and the peak RSS;
the full result, and in a traced run every span, is written to
``perfbench/_run/results/``. See ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
RUN_DIR = ROOT / "perfbench" / "_run"


def _contain(work: Path) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_BUCKETED_DIR"] = str(work / "bucketed")
    # no hsperfdata: the JVM writes it under /tmp whatever java.io.tmpdir is
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _stop(spark, out) -> None:
    """Stop the session, then end the JVM and wait for it; the Python
    workers it forked exit when it does."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if out.rss_sampler is not None:
        out.rss_sampler.stop()
    if spark is not None:
        spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        # the context is stopped and nothing is left to flush: end the
        # JVM now rather than wait ~1 s for its shutdown hooks
        proc.kill()
        proc.wait(timeout=60)


def _metrics(spec: dict, out, ctx, trace: bool) -> tuple[dict, dict]:
    from perfbench import measure

    details: dict = {}
    if not trace:
        cpu = measure.typical_pass(out.pass_cpu)
        wall = measure.typical_pass(out.pass_wall)
        # stated, not bounded: on a shared host wall time follows the
        # time other guests take from this one's CPUs (see NOTES.md)
        details["wall_s"] = wall
        details["docs_per_s"] = out.docs_per_pass / wall
        tail, pct, n = measure.tail(out.op_s)
        # stated, not bounded: too few ops of mixed kinds per run
        details["op_latency_s"] = {
            "p50": measure.median(out.op_s), "tail": tail, "tail_percentile": pct, "samples": n,
        }
        details["peak_rss_mb"] = out.rss_sampler.peak_mb
        values = {
            "setup_s": measure.median(out.setup_s),
            "cpu_s": cpu,
            "docs_per_cpu_s": out.docs_per_pass / cpu,
        }
        wanted = spec["end_to_end"]
    else:
        values = dict(out.layer)
        values["session.get_spark_s"] = measure.median(out.get_spark_s)
        values["session.peak_rss_mb"] = out.rss_sampler.peak_mb
        traced_spans = [s for s in ctx.tracer.spans if s.end]
        for layer, secs in measure.self_times(traced_spans).items():
            values[f"{layer}.self_s"] = secs
        # each traced pass against the untraced pass right after it; the
        # first (untraced) pass of a run is still warming and pairs with none
        values["trace.overhead_s"] = measure.median(
            [t - u for t, u in zip(out.traced_pass_s, out.pass_s[1:])]
        )
        details["traced_passes"] = len(out.traced_pass_s)
        details["untraced_passes"] = len(out.pass_s)
        details["layers_exercised"] = sorted({s.layer for s in traced_spans})
        wanted = spec["per_layer"]
    # a layer this workload never calls reports 0: it did no work there
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    return metrics, details


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "barks_ocr_spark" / "__init__.py").exists():
        print(f"perfbench: no barks_ocr_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import measure, workloads

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = RUN_DIR / f"{args.workload}-seed{args.seed}-pid{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    _contain(work)
    threads = len(os.sched_getaffinity(0))
    tracer = measure.Tracer(enabled=bool(args.trace), run_id=work.name)
    ctx = workloads.Ctx(
        work=work, seed=args.seed, seconds=args.seconds,
        threads=threads, trace=bool(args.trace), tracer=tracer,
    )
    out = workloads.Outcome()
    details: dict = {}
    spark = None
    t0 = time.perf_counter()
    try:
        spark = workloads.WORKLOADS[args.workload](ctx, out)
        if spark is not None:
            spark.stop()
            spark = None
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        _stop(spark, out)
        out.phase("teardown")
    elapsed = time.perf_counter() - t0
    details["phases_s"] = out.phases

    metrics, more = _metrics(spec, out, ctx, bool(args.trace))
    details.update(more)
    stamp = measure.stamp(ROOT, args.workload, args.seed, int(args.seconds), threads, out.inputs)
    full = {
        "stamp": stamp,
        "details": details,
        "failures": out.failures,
        "elapsed_s": elapsed,
        "setup_s": out.setup_s,
        "op_s": out.op_s,
        "pass_s": out.pass_s,
        "traced_pass_s": out.traced_pass_s,
        "metrics": metrics,
    }
    if args.trace:
        full["spans"] = tracer.as_records()
    results = RUN_DIR / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(full, indent=1)
    )
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"stamp": stamp, "details": details, "failures": out.failures}))
    print(
        json.dumps(
            {
                "correct": out.failed == 0,
                "attempted": out.attempted,
                "failed": out.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
