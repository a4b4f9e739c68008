"""Compare two sets of benchmark runs, metric by metric.

    python3 perfbench/compare.py BASE.out NEW.out

Each file holds the stdout of one or more ``perfbench/run.py`` runs; the
record lines (``"perfbench_record"``) are read from it. Runs are grouped by
(workload, trace). The comparison is refused when any two records carry
different host fingerprints: numbers from different hosts or toolchains
cannot be compared.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.getcwd())
from perfbench import stats  # noqa: E402


def load(path: str) -> "list[dict]":
    out = []
    with open(path) as fh:
        for line in fh:
            if line.startswith("{") and "perfbench_record" in line:
                out.append(json.loads(line))
    return out


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = load(argv[0]), load(argv[1])
    hosts = {json.dumps(r["host"], sort_keys=True) for r in base + new}
    if len(hosts) != 1:
        print("perfbench: refusing to compare runs from different hosts:", file=sys.stderr)
        for h in sorted(hosts):
            print("  " + h, file=sys.stderr)
        return 3
    keys = sorted({(r["workload"], r["trace"]) for r in base + new})
    for workload, trace in keys:
        a = [r for r in base if (r["workload"], r["trace"]) == (workload, trace)]
        b = [r for r in new if (r["workload"], r["trace"]) == (workload, trace)]
        print(f"# {workload} trace={trace}: base n={len(a)} new n={len(b)}")
        for m in sorted({m for r in a + b for m in r["metrics"]}):
            qa = stats.quartiles([r["metrics"][m] for r in a if m in r["metrics"]])
            qb = stats.quartiles([r["metrics"][m] for r in b if m in r["metrics"]])
            ratio = qb[1] / qa[1] if qa[1] else float("nan")
            print(f"{m:36s} base {qa[1]:12.6g} [{qa[0]:.4g}, {qa[2]:.4g}]  "
                  f"new {qb[1]:12.6g} [{qb[0]:.4g}, {qb[2]:.4g}]  new/base {ratio:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
