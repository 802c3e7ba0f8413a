"""Compare two saved benchmark results, refusing mismatched stamps.

    python3 perfbench/compare.py BASE.json NEW.json

The files are the full results ``perfbench/run.py`` writes under
``perfbench/_run/results/``. Two results are compared only when their
stamps agree on host, thread count, versions, input sizes, seed and run
length (``measure.COMPARED_STAMP_KEYS``); the commit may differ. Prints
one line per metric: base, new and new/base.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.measure import stamp_mismatch  # noqa: E402


def compare(base: dict, new: dict) -> list[str]:
    """Report lines; raises ``ValueError`` when the stamps differ."""
    bad = stamp_mismatch(base["stamp"], new["stamp"])
    if bad:
        raise ValueError(
            "refusing to compare results with different stamps: "
            + ", ".join(f"{k}={base['stamp'].get(k)!r} vs {new['stamp'].get(k)!r}" for k in bad)
        )
    lines = []
    for name, m in base["metrics"].items():
        if name not in new["metrics"]:
            continue
        a, b = m["value"], new["metrics"][name]["value"]
        ratio = f"{b / a:.3f}" if a else "n/a"
        lines.append(f"{name}\t{a:.6g}\t{b:.6g}\t{ratio}\t{m['unit']}")
    return lines


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = (json.loads(Path(p).read_text()) for p in argv)
    try:
        print("\n".join(compare(base, new)))
    except ValueError as e:
        print(e, file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
