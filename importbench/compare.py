"""Compare two sets of benchmark results, per workload and per metric.

    python3 importbench/compare.py BASE.log NEW.log
    python3 importbench/compare.py --overhead UNTRACED.log TRACED.log

Each file holds the standard output of one or more runs of ``run.py``; a
result is the ``{"correct", ...}`` line after its ``{"stamp": ...}`` line.
Prints each side's median and quartiles and the change of the medians.
Results of different cores, heap or trace mode are refused. With
``--overhead`` the untraced side's ``import_env_per_s`` and
``commit_latency_p50_s`` are set against the traced side's ``trace.*``
twins over the seeds both sides ran: the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys

OVERHEAD_PAIRS = {
    "import_env_per_s": "trace.import_env_per_s",
    "commit_latency_p50_s": "trace.commit_latency_p50_s",
}


def load(path: str) -> list[tuple[dict, dict]]:
    """(stamp, result) pairs in file order."""
    out, stamp = [], None
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line.startswith("{"):
                continue
            try:
                obj = json.loads(line)
            except ValueError:
                continue
            if "stamp" in obj:
                stamp = obj["stamp"]
            elif "correct" in obj and stamp is not None:
                out.append((stamp, obj))
                stamp = None
    return out


def summary(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3


def settings(results, keys=("cores", "heap", "trace")) -> set:
    return {tuple(s[k] for k in keys) for s, _ in results}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args(argv)
    base, new = load(args.base), load(args.new)
    if not base or not new:
        print("no results in one of the files", file=sys.stderr)
        return 2
    keys = ("cores", "heap") if args.overhead else ("cores", "heap", "trace")
    sides = settings(base, keys) | settings(new, keys)
    if len(sides) != 1:
        print(f"refused: results differ in {keys}: {sorted(sides)}", file=sys.stderr)
        return 2
    if args.overhead and (settings(base, ("trace",)) != {(0,)} or settings(new, ("trace",)) != {(1,)}):
        print("refused: --overhead takes untraced results first, traced second", file=sys.stderr)
        return 2

    rows = []
    for workload in sorted({s["workload"] for s, _ in base + new}):
        b = {s["seed"]: r for s, r in base if s["workload"] == workload}
        n = {s["seed"]: r for s, r in new if s["workload"] == workload}
        if args.overhead:
            seeds = sorted(set(b) & set(n))
            pairs = [(m, OVERHEAD_PAIRS[m]) for m in OVERHEAD_PAIRS]
            b = {k: b[k] for k in seeds}
            n = {k: n[k] for k in seeds}
        else:
            names = {m for r in list(b.values()) + list(n.values()) for m in r["metrics"]}
            pairs = [(m, m) for m in sorted(names)]
        for bm, nm in pairs:
            bv = [r["metrics"][bm]["value"] for r in b.values() if bm in r["metrics"]]
            nv = [r["metrics"][nm]["value"] for r in n.values() if nm in r["metrics"]]
            if not bv or not nv:
                continue
            (bmed, bq1, bq3), (nmed, nq1, nq3) = summary(bv), summary(nv)
            rows.append((workload, nm if args.overhead else bm, bmed, bq1, bq3, len(bv),
                         nmed, nq1, nq3, len(nv), nmed / bmed - 1 if bmed else float("nan")))
    print(f"{'workload':<15} {'metric':<32} {'base median [q1, q3] (n)':>34} "
          f"{'new median [q1, q3] (n)':>34} {'change':>8}")
    for w, m, bmed, bq1, bq3, bn, nmed, nq1, nq3, nn, ch in rows:
        print(f"{w:<15} {m:<32} {bmed:>12.4g} [{bq1:.4g}, {bq3:.4g}] ({bn}) "
              f"{nmed:>12.4g} [{nq1:.4g}, {nq3:.4g}] ({nn}) {ch:>+8.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
