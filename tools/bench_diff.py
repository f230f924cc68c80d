#!/usr/bin/env python3
"""Per-query verdicts between two graft.Bench detail records.

Usage: tools/bench_diff.py A.json B.json

A and B are `bench_detail.json` files. For each query the script prints
both runs' seconds, the ratio B/A and a verdict read off the query's work
signature:

  plan-changed  the plan hash or the row count differs: B ran another
                query, so its time is not comparable to A's;
  noise         plan and rows are the same (the job and stage counts
                follow from the plan): the time difference is the box,
                not the code;
  failed        the query failed in A or in B;
  only-in-A / only-in-B
                the query is in one record only.

A `noise` row with `sec` much larger than `cpu_sec` was waiting, not
computing; the record's `noisy` flag marks runs that started under load.
"""
import json
import sys


def load(path):
    with open(path) as f:
        queries = json.load(f)["queries"]
    unsigned = [q for q, m in queries.items() if "plan" not in m]
    if unsigned:
        sys.exit(f"{path}: {len(unsigned)} queries carry no work signature "
                 f"(e.g. {unsigned[0]}); the record predates signatures")
    return queries


def verdict(a, b):
    if a is None:
        return "only-in-B"
    if b is None:
        return "only-in-A"
    if a["sec"] < 0 or b["sec"] < 0:
        return "failed"
    if a["plan"] != b["plan"] or a["rows"] != b["rows"]:
        return "plan-changed"
    return "noise"


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    qa, qb = load(argv[1]), load(argv[2])
    counts = {}
    print(f"{'query':<36} {'A_sec':>8} {'B_sec':>8} {'B/A':>6}  verdict")
    for name in sorted(qa.keys() | qb.keys()):
        a, b = qa.get(name), qb.get(name)
        v = verdict(a, b)
        counts[v] = counts.get(v, 0) + 1
        sa = f"{a['sec']:8.3f}" if a else f"{'-':>8}"
        sb = f"{b['sec']:8.3f}" if b else f"{'-':>8}"
        ratio = (f"{b['sec'] / a['sec']:6.2f}"
                 if v in ("noise", "plan-changed") and a["sec"] > 0
                 else f"{'-':>6}")
        print(f"{name:<36} {sa} {sb} {ratio}  {v}")
    print("summary: " + ", ".join(f"{n} {v}" for v, n in sorted(counts.items())))


if __name__ == "__main__":
    main(sys.argv)
