"""Compare the warm per-query times of two ``bench.py`` payloads on the
queries both ran (e.g. two committed ``BENCH_LOCAL_r{N}.json``).

Usage: python tools/bench_compare.py A.json B.json

Prints the common-set size, each side's warm total on the common set, the
geometric mean of the per-query ratios B/A (< 1: B is faster), the names
only one side ran, and the largest per-query movers in seconds.
"""

from __future__ import annotations

import json
import math
import sys

TOP_MOVERS = 10


def compare(a: dict, b: dict) -> dict:
    """Both arguments are ``queries_warm`` dicts (query -> seconds)."""
    common = sorted(set(a) & set(b))
    movers = sorted(common, key=lambda q: -abs(b[q] - a[q]))[:TOP_MOVERS]
    return {
        "n_common": len(common),
        "total_a": round(sum(a[q] for q in common), 3),
        "total_b": round(sum(b[q] for q in common), 3),
        "geomean_b_over_a": round(
            math.exp(sum(math.log(b[q] / a[q]) for q in common) / max(len(common), 1)), 4
        ),
        "only_a": sorted(set(a) - set(b)),
        "only_b": sorted(set(b) - set(a)),
        "movers": [(q, a[q], b[q]) for q in movers],
    }


def main(path_a: str, path_b: str) -> None:
    with open(path_a) as fa, open(path_b) as fb:
        r = compare(json.load(fa)["queries_warm"], json.load(fb)["queries_warm"])
    print(f"common queries: {r['n_common']}")
    print(f"warm total on common set: A {r['total_a']} s, B {r['total_b']} s")
    print(f"geomean B/A: {r['geomean_b_over_a']}")
    print(f"only in A ({len(r['only_a'])}): {' '.join(r['only_a'])}")
    print(f"only in B ({len(r['only_b'])}): {' '.join(r['only_b'])}")
    print("largest movers (A s -> B s):")
    for q, ta, tb in r["movers"]:
        print(f"  {q}: {ta} -> {tb} ({tb - ta:+.3f})")


if __name__ == "__main__":
    main(*sys.argv[1:3])
