"""Paired, interleaved A/B of named queries: a base checkout vs this tree.

Usage: python tools/ab_compare.py <base_tree> [--pairs N] [--runs N] q1 q2 ...

Each pair runs tools/time_queries.py (this tree's copy, so both sides
use the same harness) once against the base checkout and once against
this tree, each in a fresh Spark session.  The side that runs first
alternates from pair to pair so host drift cancels to first order.
Per query it reports the median time of each side, the base side's
interquartile range, how many pairs this tree won, and the job counts
of both sides (counts do not drift between sessions).

Output: a summary on stdout and the full record in .tmp/ab_compare.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TIME_QUERIES = os.path.join(REPO, "tools", "time_queries.py")


def _run(tree: str, names: list[str], runs: int) -> dict[str, dict]:
    out = subprocess.run(
        [sys.executable, TIME_QUERIES, "--runs", str(runs), "--tree", tree,
         *names],
        cwd=tree,
        capture_output=True,
        text=True,
        check=True,
    )
    # time_queries prints one JSON line last
    for line in reversed(out.stdout.strip().splitlines()):
        line = line.strip()
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"no JSON from {tree}: {out.stdout[-500:]}")


def _iqr(xs: list[float]) -> float | None:
    if len(xs) < 2:
        return None
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return round(q3 - q1, 3)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base")
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    sides = {"base": os.path.abspath(args.base), "head": REPO}

    pairs: list[dict[str, dict]] = []
    for i in range(args.pairs):
        order = ("base", "head") if i % 2 == 0 else ("head", "base")
        pair = {side: _run(sides[side], args.names, args.runs)
                for side in order}
        pairs.append(pair)
        print(f"pair {i} ({order[0]} first): {json.dumps(pair)}", flush=True)

    result = {}
    for n in args.names:
        rec = {side: {"s": [p[side][n]["s"] for p in pairs],
                      "jobs": [p[side][n]["jobs"] for p in pairs]}
               for side in sides}
        bm = statistics.median(rec["base"]["s"])
        hm = statistics.median(rec["head"]["s"])
        rec.update(
            base_median=bm,
            head_median=hm,
            base_iqr=_iqr(rec["base"]["s"]),
            head_wins=sum(p["head"][n]["s"] < p["base"][n]["s"]
                          for p in pairs),
            speedup=round(bm / hm, 3) if hm else None,
        )
        result[n] = rec
        print(
            f"{n}: base {bm:.3f}s (IQR {rec['base_iqr']}) -> head {hm:.3f}s "
            f"({rec['speedup']}x, head won {rec['head_wins']}/{len(pairs)}); "
            f"jobs {statistics.median(rec['base']['jobs'])} -> "
            f"{statistics.median(rec['head']['jobs'])}",
            flush=True,
        )
    os.makedirs(os.path.join(REPO, ".tmp"), exist_ok=True)
    with open(os.path.join(REPO, ".tmp", "ab_compare.json"), "w") as f:
        json.dump(result, f, indent=1)


if __name__ == "__main__":
    main()
