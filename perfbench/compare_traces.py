#!/usr/bin/env python3
"""Check that two traced runs of one workload and seed counted the same
Spark work in every span.

    python3 perfbench/compare_traces.py A.json B.json

A and B are traced run records (.perfbench/records/*-t1-*.json) of the
same workload and seed. Call spans are matched by name (every call
span's name is unique within a run); job and stage counts must be
equal in every matched span. Spans only one run has are the extra
rounds of a longer serve loop (loops are time-bounded) and are
skipped.
"""

from __future__ import annotations

import argparse
import json
import sys
from collections import Counter

COUNTS = ("jobs", "stages", "stages_skipped")


def compare(a: dict, b: dict) -> tuple[int, list[str]]:
    """(number of matched call spans, differences found)."""
    calls_b = {s["name"]: s for s in b["spans"] if s["kind"] == "call" and s.get("ok")}
    diffs, n = [], 0
    for x in a["spans"]:
        y = calls_b.get(x["name"])
        if x["kind"] != "call" or not x.get("ok") or y is None:
            continue
        n += 1
        for c in COUNTS:
            if x["counters"][c] != y["counters"][c]:
                diffs.append(f"{x['name']}: {c} {x['counters'][c]} != {y['counters'][c]}")
        # pool threads submit in racing order: compare the job multisets
        na = Counter(x["counters"].get("job_names", []))
        nb = Counter(y["counters"].get("job_names", []))
        if na != nb:
            diffs.append(f"{x['name']}: jobs only in A {dict(na - nb)}, only in B {dict(nb - na)}")
    return n, diffs


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("a")
    ap.add_argument("b")
    args = ap.parse_args()
    a, b = (json.load(open(p)) for p in (args.a, args.b))
    n, diffs = compare(a, b)
    for d in diffs:
        print(d)
    print(f"{n} call spans compared: {'identical job and stage counts' if not diffs else 'DIFFER'}")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main())
