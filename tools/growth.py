#!/usr/bin/env python3
"""Per-query growth between two graft.Bench records, as log10(large / small).

Reads two bench_last.json records written with per-query counters (the
smaller scale first) and prints one JSON object: for every query in both,
the growth exponent of wall seconds, jobs, shuffle-write bytes and input
bytes. 1.0 means the quantity grew 10x, 2.0 means 100x. A quantity that is
0 at both scales grows 0.0; one that is 0 at exactly one scale has no
finite exponent and is written as null.

Usage: python3 tools/growth.py <small.json> <large.json> > growth.json
"""
import json
import math
import sys

METRICS = {"wall": None, "jobs": "jobs", "shuffle_bytes": "shuffle_write_bytes",
           "input_bytes": "input_bytes"}


def exponent(small, large):
    if small == 0 and large == 0:
        return 0.0
    if small == 0 or large == 0:
        return None
    return math.log10(large / small)


def main(small_path, large_path):
    small, large = (json.load(open(p)) for p in (small_path, large_path))
    queries = {}
    for q in sorted(small["queries"].keys() & large["queries"].keys()):
        def value(rec, key):
            return rec["queries"][q] if key is None else rec["counters"][q][key]
        queries[q] = {m: exponent(value(small, k), value(large, k))
                      for m, k in METRICS.items()}
    json.dump({"small": small["sf"], "large": large["sf"], "unit": "log10(large/small)",
               "queries": queries}, sys.stdout, indent=1, sort_keys=True)
    print()


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
