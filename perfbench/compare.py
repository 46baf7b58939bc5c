"""Compare two sets of benchmark result files.

    python3 perfbench/compare.py BASE [BASE ...] -- NEW [NEW ...]

Each argument is a result file written by ``run.py`` (or a directory of
them). Per workload and metric it prints both sides' medians and the
relative change. It refuses to compare results whose stamps differ in
core count, scale factor, benchmark version or tracing, because those
numbers are not comparable.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

MUST_MATCH = ("bench_version", "cpus", "sf", "traced")


def load(paths: list[str]) -> list[dict]:
    files = []
    for p in paths:
        files += sorted(glob.glob(os.path.join(p, "*-trace[01].json"))) if os.path.isdir(p) else [p]
    out = []
    for f in files:
        with open(f) as fh:
            out.append(json.load(fh))
    return out


def check_comparable(results: list[dict]) -> None:
    """Raise ValueError if two results of one workload differ in a
    stamp field that changes what the numbers mean."""
    seen: dict[str, dict] = {}
    for r in results:
        stamp = r["stamp"]
        ref = seen.setdefault(stamp["workload"], stamp)
        for key in MUST_MATCH:
            if stamp[key] != ref[key]:
                raise ValueError(
                    f"{stamp['workload']}: {key} differs ({ref[key]} vs {stamp[key]}); "
                    "refusing to compare"
                )


def medians(results: list[dict]) -> dict[tuple[str, str], float]:
    values: dict[tuple[str, str], list[float]] = {}
    for r in results:
        for name, v in r["metrics"].items():
            values.setdefault((r["stamp"]["workload"], name), []).append(v)
    return {k: statistics.median(v) for k, v in values.items()}


def main(argv: list[str]) -> int:
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    cut = argv.index("--")
    base, new = load(argv[:cut]), load(argv[cut + 1 :])
    try:
        check_comparable(base + new)
    except ValueError as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 1
    mb, mn = medians(base), medians(new)
    for key in sorted(mb.keys() & mn.keys()):
        b, n = mb[key], mn[key]
        change = f"{(n - b) / b:+.1%}" if b else "n/a"
        print(f"{key[0]:16s} {key[1]:32s} {b:14.6g} {n:14.6g} {change:>8s}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
