"""Extra benchmarks for optimization work (guide §1): ad-hoc timing and
plan dumps, on bench.py's session and timing loop.

Usage:
    python bench_extra.py time q1 q2 ...   [--sf /root/testdata/sf1.0] [--n 2]
    python bench_extra.py plan q1 q2 ...   [--sf ...] [--tag before]
    python bench_extra.py time-all         [--sf ...]

`time` runs bench.py's own loop (``bench.time_query``: df.count(),
best-of-N, operator caches released between runs), so numbers are
comparable to the BENCH_rNN windows. `plan` writes .explain("formatted") to
plans/r07/<query>_<tag>.txt for the plan-pin deliverable.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import bench  # noqa: E402 - needs the repo root on sys.path

REPO = Path(__file__).resolve().parent


def cmd_time(names: list[str], sf_dir: str, n_runs: int) -> None:
    from barks_ocr_spark.plans import queries as Q

    spark = bench.session("bench-extra")
    qs = Q.queries()
    # warm the JVM/Arrow path once (same as bench.py)
    qs["pricing_summary"](spark, sf_dir).count()
    out: dict[str, dict] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        samples = bench.time_query(spark, qs[name], sf_dir, n_runs)
        out[name] = {"best": min(samples), "samples": samples}
        print(json.dumps({name: out[name]}), flush=True)
    total = round(sum(v["best"] for v in out.values()), 3)
    print(json.dumps({"total_best": total, "sf": sf_dir, "queries": out}))
    spark.stop()


def cmd_plan(names: list[str], sf_dir: str, tag: str) -> None:
    from barks_ocr_spark.plans import queries as Q

    spark = bench.session("bench-extra")
    qs = Q.queries()
    dest = REPO / "plans" / "r07"
    dest.mkdir(parents=True, exist_ok=True)
    for name in names:
        df = qs[name](spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        (dest / f"{name}_{tag}.txt").write_text(txt)
        print(f"wrote plans/r07/{name}_{tag}.txt")
    spark.stop()


def main() -> None:
    args = sys.argv[1:]
    cmd = args.pop(0)
    sf_dir = "/root/testdata/sf1.0"
    n_runs = 2
    tag = "before"
    names: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--sf":
            sf_dir = args[i + 1]
            i += 2
        elif args[i] == "--n":
            n_runs = int(args[i + 1])
            i += 2
        elif args[i] == "--tag":
            tag = args[i + 1]
            i += 2
        else:
            names.append(args[i])
            i += 1
    if cmd == "time":
        cmd_time(names, sf_dir, n_runs)
    elif cmd == "time-all":
        cmd_time(bench.HEADLINE, sf_dir, n_runs)
    elif cmd == "plan":
        cmd_plan(names, sf_dir, tag)
    else:
        raise SystemExit(f"unknown command {cmd}")


if __name__ == "__main__":
    main()
