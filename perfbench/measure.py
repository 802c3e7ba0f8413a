"""Measurement primitives: checksum action, percentile rule, spans and
self time, Spark status-store counters, RSS sampling and result stamps.

Nothing here imports the engine; every function takes the objects it
measures as arguments so the unit tests can drive it without Spark.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import platform
import statistics
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

# ── checksum ─────────────────────────────────────────────────────────

FLOAT_DIGITS = 6


def checksum_frame(df):
    """The one-row ``(n, s)`` aggregate behind :func:`checksum`: the row
    count and the sum of one hash over every output column.

    Top-level float/double columns are rounded to ``FLOAT_DIGITS``
    places first, so a reassociated floating-point aggregate cannot flip
    the checksum between runs of the same plan."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType

    cols = [
        F.round(F.col(f"`{f.name}`"), FLOAT_DIGITS)
        if isinstance(f.dataType, (DoubleType, FloatType))
        else F.col(f"`{f.name}`")
        for f in df.schema.fields
    ]
    h = F.xxhash64(*cols).cast("decimal(20,0)").alias("_h")
    return df.select(h).agg(F.count("*").alias("n"), F.sum("_h").alias("s"))


def checksum(df) -> tuple[int, int]:
    """``(rows, hash_sum)``: one action that materializes every output
    column. The sum is order-insensitive and taken in decimal(30,0), so
    it cannot overflow (xxhash64 is a signed 64-bit value; 10^10 rows of
    them fit). Unlike ``count()``, Catalyst cannot prune a column or a
    Python-kernel node the hash reads."""
    row = checksum_frame(df).first()
    return int(row["n"]), int(row["s"] or 0)


# ── order statistics ─────────────────────────────────────────────────

TAIL_BEYOND = 10


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest nearest-rank percentile with at least ``TAIL_BEYOND``
    samples above it: ``(value, percentile, n)``. It is never taken
    below the median: with too few samples the median is returned as
    the tail, at percentile 50, so the number never claims more than
    the sample supports."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    rank = n - TAIL_BEYOND  # 1-based rank with exactly TAIL_BEYOND samples above it
    if rank < (n + 1) // 2 + 1:
        return statistics.median(xs), 50.0, n
    return xs[rank - 1], 100.0 * rank / n, n


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def typical_pass(passes: list[dict[str, float]]) -> float:
    """The cost of one typical pass, assembled op by op: the sum over the
    ops of a pass of each op's median cost across ``passes``. A slow
    stretch that hits one op in one pass and another op in the next is
    dropped, where the median of whole-pass totals would keep it."""
    ops = {op for p in passes for op in p}
    return sum(median([p[op] for p in passes if op in p]) for op in ops)


# ── spans ────────────────────────────────────────────────────────────


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    sid: int = 0


@dataclass
class Tracer:
    """In-memory spans around calls into the program's layers.

    A disabled tracer records nothing and its ``span`` context costs one
    generator frame, so untraced runs measure the program alone."""

    enabled: bool
    run_id: str = ""
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        s = Span(
            name=name,
            layer=layer,
            start=time.perf_counter(),
            parent=self._stack[-1] if self._stack else None,
            run_id=self.run_id,
            sid=len(self.spans),
        )
        self.spans.append(s)
        self._stack.append(s.sid)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def as_records(self) -> list[dict]:
        return [
            {
                "id": s.sid,
                "name": f"{s.layer}.{s.name}",
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "run_id": s.run_id,
            }
            for s in self.spans
        ]


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per layer not covered by a child span.

    A span's self time is its duration minus the union of its direct
    children's intervals (clipped to the parent), so overlapping or
    nested children are not subtracted twice."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children.get(s.sid, []), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - covered
    return out


# ── Spark status store ───────────────────────────────────────────────


@dataclass
class JobCounters:
    jobs: int = 0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0

    def add(self, other: "JobCounters") -> None:
        self.jobs += other.jobs
        self.task_cpu_s += other.task_cpu_s
        self.gc_s += other.gc_s
        self.shuffle_write_mb += other.shuffle_write_mb
        self.spill_mb += other.spill_mb


def group_counters(sc, group: str) -> JobCounters:
    """Jobs and stage totals Spark recorded for one job group.

    Waits for the listener bus first: stage-completion events reach the
    status store asynchronously after an action returns."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = JobCounters(jobs=len(job_ids))
    mb = 1024.0 * 1024.0
    for sid in stage_ids:
        attempts = store.stageData(sid, False, None, False, None)
        for i in range(attempts.size()):
            st = attempts.apply(i)
            out.task_cpu_s += st.executorCpuTime() / 1e9
            out.gc_s += st.jvmGcTime() / 1e3
            out.shuffle_write_mb += st.shuffleWriteBytes() / mb
            out.spill_mb += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / mb
    return out


# ── process tree: memory and CPU ─────────────────────────────────────


def _proc_tree_stats(root: int) -> list[list[str]]:
    """The /proc/<pid>/stat fields after the command name (field 3 on)
    of ``root`` and all its descendants."""
    stats: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stats[int(entry)] = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for c, fields in stats.items():
            if int(fields[1]) == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return [stats[p] for p in tree if p in stats]


def _proc_tree_rss_kb(root: int) -> int:
    """Summed RSS of ``root`` and all its descendants, from /proc."""
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    return sum(int(f[21]) * page_kb for f in _proc_tree_stats(root))


def proc_tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and all its
    descendants, including children they have already reaped.

    Time the hypervisor gives another guest while a thread is runnable
    (steal) is not counted, so on a shared host this moves far less from
    run to run than wall time does."""
    ticks = sum(sum(int(x) for x in f[11:15]) for f in _proc_tree_stats(root))
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Background sampler of the peak RSS of a process tree (the Spark
    JVM and the Python workers it forks)."""

    INTERVAL_S = 0.25

    def __init__(self, root_pid: int) -> None:
        self.root_pid = root_pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _proc_tree_rss_kb(self.root_pid))
            self._stop.wait(self.INTERVAL_S)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        """Stop sampling (idempotent); takes one last sample first."""
        if self._stop.is_set():
            return
        self.peak_kb = max(self.peak_kb, _proc_tree_rss_kb(self.root_pid))
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ── stamps ───────────────────────────────────────────────────────────

# Stamp fields that must agree before two results are compared. The
# commit and source digest are recorded but deliberately not compared:
# comparing two commits is the point of a comparison.
COMPARED_STAMP_KEYS = (
    "workload",
    "nproc",
    "spark_threads",
    "spark_graft_cpus",
    "cpu_model",
    "mem_total_kb",
    "python",
    "spark",
    "pyarrow",
    "inputs",
    "seed",
    "run_seconds",
)


def _cpu_model() -> str:
    with contextlib.suppress(OSError):
        for line in Path("/proc/cpuinfo").read_text().splitlines():
            if line.startswith("model name"):
                return line.split(":", 1)[1].strip()
    return platform.processor() or "unknown"


def _mem_total_kb() -> int:
    with contextlib.suppress(OSError, ValueError, IndexError):
        for line in Path("/proc/meminfo").read_text().splitlines():
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def _git_commit(root: Path) -> str | None:
    """HEAD of a git checkout, read from .git without running git."""
    head = root / ".git" / "HEAD"
    with contextlib.suppress(OSError):
        ref = head.read_text().strip()
        if not ref.startswith("ref: "):
            return ref
        ref_path = root / ".git" / ref[5:]
        if ref_path.exists():
            return ref_path.read_text().strip()
        packed = root / ".git" / "packed-refs"
        for line in packed.read_text().splitlines():
            if line.endswith(" " + ref[5:]):
                return line.split()[0]
    return None


def source_digest(pkg_dir: Path) -> str:
    """sha256 over the package's .py files (path + bytes), for checkouts
    that are not git repositories."""
    h = hashlib.sha256()
    for f in sorted(pkg_dir.rglob("*.py")):
        h.update(str(f.relative_to(pkg_dir)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def stamp(root: Path, workload: str, seed: int, run_seconds: int, threads: int,
          inputs: dict) -> dict:
    import pyarrow
    import pyspark

    return {
        "workload": workload,
        "nproc": len(os.sched_getaffinity(0)),
        "spark_threads": threads,
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "cpu_model": _cpu_model(),
        "mem_total_kb": _mem_total_kb(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "inputs": inputs,
        "seed": seed,
        "run_seconds": run_seconds,
        "git_commit": _git_commit(root),
        "source_digest": source_digest(root / "barks_ocr_spark"),
    }


def stamp_mismatch(a: dict, b: dict) -> list[str]:
    """Stamp keys on which two results differ; empty means comparable."""
    return [k for k in COMPARED_STAMP_KEYS if a.get(k) != b.get(k)]
