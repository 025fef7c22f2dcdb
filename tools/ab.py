#!/usr/bin/env python3
"""A/B the benchmark: a base git revision against the working tree.

    python3 tools/ab.py --base HEAD --workloads oltp --seeds 101-110

Extracts the base revision into its own directory (`git archive`, so the
repository's own metadata is untouched), then runs `perfbench/run.py` of the
base checkout and of the working tree in alternating pairs, one pair per
seed, flipping which side runs first from pair to pair. Both sides run the
same benchmark settings (`run_seconds` from BENCHMARK.json). For every
workload it prints each side's failed share of operations and errored runs,
then for every metric each side's median and quartiles, the change/base
ratio of the medians, and the pairs the change won out of every pair run
(ties count for neither side; a run that errored or lacks the metric loses
its pair), then a verdict. Per operation kind it prints the median of the
runs' p50s on each side, their ratio and the pairs whose change run had the
lower p50 (out of the pairs where both runs report the kind). The verdicts:

  gain        the change won at least 9 of every 10 pairs (at least 10 run),
              its median beats the base median by more than the base runs'
              interquartile range, and it had no larger failed share of
              operations and no more errored runs than the base (otherwise
              the verdict reads "no gain: more failed")
  worse       the change median is worse than the base median by more than
              the metric's bound in BENCHMARK.json
  unresolved  the base runs spread (IQR / median) wider than the bound, and
              not every change run beats every base run
  flat        none of the above

Every run's JSON result is appended to --out (JSON lines) with its side,
workload, seed, order and the host's 1-minute load average when it started,
so all runs made stay on record. On a shared host whole runs move with the
load, so the report prints each side's median starting load and marks
(with "!") the pairs whose two runs started more than 1.0 apart.
"""

import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds_arg(text):
    out = []
    for part in text.split(","):
        if "-" in part:
            lo, hi = part.split("-")
            out += range(int(lo), int(hi) + 1)
        else:
            out.append(int(part))
    return out


def checkout(rev, workdir):
    """The base revision's files, extracted once per commit."""
    sha = subprocess.run(["git", "rev-parse", rev], cwd=ROOT, check=True,
                         capture_output=True, text=True).stdout.strip()
    d = os.path.join(workdir, sha[:12])
    if not os.path.isdir(d):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", tmp], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"ab: git archive {rev} failed")
        os.replace(tmp, d)
    return sha, d


LOAD_GAP = 1.0


def run(tree, workload, seed, seconds, trace):
    load = os.getloadavg()[0]
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return {"error": f"exit {p.returncode}: {p.stderr.strip()[-400:]}", "load": load}
    res = json.loads(lines[-1])
    res["load"] = load
    # "# op <kind> n= 6 p50 73.6 ms max 88.9 ms": each kind's median
    res["kind_p50_ms"] = {m.group(1): float(m.group(2)) for m in
                          (re.match(r"# op (\S+)\s+n=\s*\d+\s+p50\s+([\d.]+) ms", ln)
                           for ln in lines) if m}
    return res


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def verdict(pairs, better, bound, more_failed):
    """`pairs` holds one (base, change) value per pair run, None where that
    run errored or lacks the metric."""
    sign = 1 if better == "higher" else -1
    wins = sum(1 for b, c in pairs
               if c is not None and (b is None or sign * (c - b) > 0))
    base = [b for b, _ in pairs if b is not None]
    change = [c for _, c in pairs if c is not None]
    if not change:
        return wins, "worse"
    if not base:
        return wins, "unresolved"
    mb, mc = statistics.median(base), statistics.median(change)
    q1, q3 = quartiles(base)
    if len(pairs) >= 10 and wins >= 0.9 * len(pairs) and sign * (mc - mb) > q3 - q1:
        v = "no gain: more failed" if more_failed else "gain"
    elif bound is not None and sign * (mb - mc) > bound * abs(mb):
        v = "worse"
    elif bound is not None and mb and (q3 - q1) / abs(mb) > bound and not (
            min(change) > max(base) if sign > 0 else max(change) < min(base)):
        v = "unresolved"
    else:
        v = "flat"
    return wins, v


def report(results, spec, trace):
    metrics = spec["per_layer" if trace else "end_to_end"]
    for wl in sorted({r["workload"] for r in results}):
        runs = {}
        for r in results:
            if r["workload"] == wl:
                runs.setdefault(r["seed"], {})[r["side"]] = r["result"]
        seeds = sorted(s for s, p in runs.items() if len(p) == 2)
        print(f"\n== {wl}: {len(seeds)} pairs (seeds {seeds})")
        loads = {s: (runs[s]["base"].get("load"), runs[s]["change"].get("load")) for s in seeds}
        known = [s for s in seeds if None not in loads[s]]
        if known:
            print("   starting load (1-min average): base median %.2f, change median %.2f"
                  % (statistics.median(loads[s][0] for s in known),
                     statistics.median(loads[s][1] for s in known)))
            print("   per pair (base/change, ! = more than %.1f apart): " % LOAD_GAP + ", ".join(
                "%d %.1f/%.1f%s" % (s, loads[s][0], loads[s][1],
                                    "!" if abs(loads[s][0] - loads[s][1]) > LOAD_GAP else "")
                for s in known))
        share, errored = {}, {}
        for side in ("base", "change"):
            done = [runs[s][side] for s in seeds if "metrics" in runs[s][side]]
            att = sum(r["attempted"] for r in done)
            bad = sum(r["failed"] for r in done)
            share[side] = bad / att if att else 0.0
            errored[side] = len(seeds) - len(done)
            print(f"   {side}: {bad} failed of {att} operations, "
                  f"{errored[side]} of {len(seeds)} runs errored")
        more_failed = share["change"] > share["base"] or errored["change"] > errored["base"]
        print(f"   {'metric':34} {'base median [q1, q3]':>28} {'change median [q1, q3]':>28}"
              f" {'ratio':>6} {'wins':>6}  verdict")

        def value(res, name):
            return res.get("metrics", {}).get(name, {}).get("value")
        for m in metrics:
            name = m["name"]
            pairs = [(value(runs[s]["base"], name), value(runs[s]["change"], name))
                     for s in seeds]
            b = [x for x, _ in pairs if x is not None]
            c = [y for _, y in pairs if y is not None]
            if not b and not c:
                continue
            wins, v = verdict(pairs, m["better"], m.get("bound"), more_failed)
            fmt = lambda xs: "%.4g [%.4g, %.4g]" % ((statistics.median(xs),) + quartiles(xs)) \
                if xs else "-"
            ratio = "%.3f" % (statistics.median(c) / statistics.median(b)) \
                if b and c and statistics.median(b) else "-"
            print(f"   {name:34} {fmt(b):>28} {fmt(c):>28} {ratio:>6}"
                  f" {wins:>3}/{len(pairs):<2}  {v}")
        kinds_of = lambda res: set(res.get("kind_p50_ms", {}))
        kseeds = [s for s in seeds if kinds_of(runs[s]["base"]) and kinds_of(runs[s]["change"])]
        kinds = sorted(set.intersection(*[kinds_of(runs[s][side]) for s in kseeds
                                          for side in ("base", "change")])) if kseeds else []
        if kinds:
            print("   per-kind median of the runs' p50 (ms): kind, base, change, ratio,"
                  " pairs the change won (lower p50)")
        for k in kinds:
            pairs = [(runs[s]["base"]["kind_p50_ms"][k], runs[s]["change"]["kind_p50_ms"][k])
                     for s in kseeds]
            mb = statistics.median(b for b, _ in pairs)
            mc = statistics.median(c for _, c in pairs)
            wins = sum(1 for b, c in pairs if c < b)
            ratio = "%7.3f" % (mc / mb) if mb else "      -"
            print(f"     {k:16} {mb:9.1f} {mc:9.1f} {ratio} {wins:>3}/{len(pairs)}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", default="HEAD", help="git revision to compare against")
    ap.add_argument("--workloads", default="oltp,warehouse")
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("101-110"),
                    help="one pair per seed, e.g. 101-110 or 3,5,8")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workdir", default=os.path.join(tempfile.gettempdir(), "graft-ab"),
                    help="where the base checkout is extracted")
    ap.add_argument("--out", help="JSON lines file every run's result is appended to")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sha, base_tree = checkout(a.base, a.workdir)
    seconds = spec["run_seconds"]
    trees = {"base": base_tree, "change": ROOT}
    results = []
    n = 0
    for wl in a.workloads.split(","):
        for seed in a.seeds:
            order = ("base", "change") if n % 2 == 0 else ("change", "base")
            n += 1
            for i, side in enumerate(order):
                res = run(trees[side], wl, seed, seconds, a.trace)
                rec = {"side": side, "rev": sha if side == "base" else "working tree",
                       "workload": wl, "seed": seed, "first": i == 0, "trace": a.trace,
                       "result": res}
                results.append(rec)
                if a.out:
                    with open(a.out, "a") as f:
                        f.write(json.dumps(rec) + "\n")
                brief = res.get("error") or " ".join(
                    f"{k}={v['value']:.4g}" for k, v in sorted(res["metrics"].items())
                    if v["value"] is not None and not a.trace)
                print(f"# {wl} seed {seed} {side}: {brief}", flush=True)
    report(results, spec, a.trace)


if __name__ == "__main__":
    main()
