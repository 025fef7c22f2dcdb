#!/usr/bin/env python3
"""Per-kind attribution of two traced benchmark runs.

    python3 tools/trace_kinds.py BASE.jsonl CHANGE.jsonl

Reads two span files written by `perfbench/run.py --trace 1`
(`perfbench/work/trace/<workload>-seed<N>.jsonl`: one JSON object per span
with `id`, `parent`, `op`, `name`, `start_ns`, `end_ns` and `self_ns`) and
prints, for every operation kind (the root span `op.<kind>` of each
operation) and for each side:

  n          operations of the kind
  wall       median wall time of one operation, ms
  jobs       Spark jobs per operation (`spark.job` spans), mean
  job_ms     median per-operation sum of `spark.job` span time, ms
  fetch_self median per-operation `engine.fetch` self time, ms
  query      `query.*` spans (Catalyst phases, one set per SQL execution
             a QueryExecutionListener saw) per operation, mean

and the change/base ratio of the wall medians. Standard library only.
"""

import json
import statistics
import sys
from collections import defaultdict


def load(path):
    """kind -> list of per-operation dicts (wall, jobs, job_ms, fetch_self, query)."""
    spans = [json.loads(line) for line in open(path) if line.strip()]
    ops = defaultdict(lambda: {"kind": None, "wall": 0.0, "jobs": 0, "job_ms": 0.0,
                               "fetch_self": 0.0, "query": 0})
    for s in spans:
        o = ops[s["op"]]
        name = s["name"]
        ms = (s["end_ns"] - s["start_ns"]) / 1e6
        if name.startswith("op.") and s["parent"] == -1:
            o["kind"] = name[3:]
            o["wall"] = ms
        elif name == "spark.job":
            o["jobs"] += 1
            o["job_ms"] += ms
        elif name == "engine.fetch":
            o["fetch_self"] += s["self_ns"] / 1e6
        elif name.startswith("query."):
            o["query"] += 1
    kinds = defaultdict(list)
    for o in ops.values():
        if o["kind"] is not None:
            kinds[o["kind"]].append(o)
    return kinds


def summary(ops):
    if not ops:
        return None
    return {
        "n": len(ops),
        "wall": statistics.median(o["wall"] for o in ops),
        "jobs": statistics.mean(o["jobs"] for o in ops),
        "job_ms": statistics.median(o["job_ms"] for o in ops),
        "fetch_self": statistics.median(o["fetch_self"] for o in ops),
        "query": statistics.mean(o["query"] for o in ops),
    }


def cells(s):
    if s is None:
        return ["-"] * 6
    return [str(s["n"]), f"{s['wall']:.1f}", f"{s['jobs']:.2f}", f"{s['job_ms']:.1f}",
            f"{s['fetch_self']:.1f}", f"{s['query']:.2f}"]


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    base, change = load(argv[1]), load(argv[2])
    cols = ["n", "wall", "jobs", "job_ms", "fetch_self", "query"]
    header = ["kind"] + [f"base.{c}" for c in cols] + [f"change.{c}" for c in cols] + ["wall x"]
    rows = [header]
    for kind in sorted(set(base) | set(change)):
        b, c = summary(base.get(kind, [])), summary(change.get(kind, []))
        ratio = f"{c['wall'] / b['wall']:.3f}" if b and c and b["wall"] > 0 else "-"
        rows.append([kind] + cells(b) + cells(c) + [ratio])
    widths = [max(len(r[i]) for r in rows) for i in range(len(header))]
    for r in rows:
        print("  ".join(v.ljust(w) if i == 0 else v.rjust(w) for i, (v, w) in enumerate(zip(r, widths))))


if __name__ == "__main__":
    main(sys.argv)
