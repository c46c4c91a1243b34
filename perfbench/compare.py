"""Compare two sets of untraced benchmark records, metric by metric.

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR

Each directory holds the JSON records ``run.py`` writes to
``.perfbench_cache/results/`` (one per run). For every workload and every
end-to-end metric of ``BENCHMARK.json`` it prints the base and change
medians with their quartiles and a verdict:

* ``worse`` -- the change's median is worse than the base's by more than
  the metric's bound;
* ``unresolved`` -- the base's own spread (quartile distance over median)
  is wider than the bound and not every change run beats every base run;
* ``ok`` otherwise.

It refuses (exit 2) to compare records whose host fingerprints differ in
anything but the code under test (``git_sha``, ``source_sha1``). It also
prints each side's median CPU steal: on a shared host, a side measured
while other guests took CPU time reads slower for the same code.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: fingerprint keys that name the code under test, which may differ
CODE_KEYS = ("git_sha", "source_sha1")


def load(directory: str) -> list[dict]:
    records = []
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path) as f:
            rec = json.load(f)
        if rec.get("trace") == 0 and rec.get("failed", 0) == 0:
            records.append(rec)
    return records


def host(rec: dict) -> dict:
    return {k: v for k, v in rec["host"].items() if k not in CODE_KEYS}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(base: list[float], change: list[float], better: str,
            bound: float) -> str:
    q1, med, q3 = quartiles(base)
    cmed = statistics.median(change)
    sign = 1.0 if better == "lower" else -1.0
    if sign * (cmed - med) > bound * abs(med):
        return "worse"
    beats = all(sign * (c - b) < 0 for c in change for b in base)
    if med and (q3 - q1) / abs(med) > bound and not beats:
        return "unresolved"
    return "ok"


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    base, change = load(argv[0]), load(argv[1])
    hosts = {json.dumps(host(r), sort_keys=True) for r in base + change}
    if len(hosts) > 1:
        print("refusing to compare: host fingerprints differ:\n  "
              + "\n  ".join(sorted(hosts)), file=sys.stderr)
        return 2
    worse = False
    for wl in bench["workloads"]:
        b = [r for r in base if r["workload"] == wl["name"]]
        c = [r for r in change if r["workload"] == wl["name"]]
        if not b or not c:
            print(f"{wl['name']}: no records on one side "
                  f"({len(b)} base, {len(c)} change)")
            continue
        steal = []
        for side in (b, c):
            pct = [r["steal_pct"] for r in side if "steal_pct" in r]
            steal.append(f"{statistics.median(pct):.1f} %" if pct else "n/a")
        print(f"{wl['name']:16s} CPU steal by other guests: "
              f"base {steal[0]}, change {steal[1]}")
        for m in bench["end_to_end"]:
            bv = [r["metrics"][m["name"]]["value"] for r in b]
            cv = [r["metrics"][m["name"]]["value"] for r in c]
            v = verdict(bv, cv, m["better"], m["bound"])
            worse |= v == "worse"
            bq, cq = quartiles(bv), quartiles(cv)
            print(f"{wl['name']:16s} {m['name']:17s} "
                  f"base {bq[1]:11.4f} [{bq[0]:.4f}, {bq[2]:.4f}] n={len(bv)}  "
                  f"change {cq[1]:11.4f} [{cq[0]:.4f}, {cq[2]:.4f}] "
                  f"n={len(cv)}  {m['unit']:6s} {v}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
