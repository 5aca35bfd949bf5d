#!/usr/bin/env python3
"""Compare the benchmark of a parent revision with the working tree, in pairs.

    python3 scripts/bench_ab.py --workload stream_ingest --seeds 901-910 \\
        --parent HEAD [--trace-seed N] [--workdir DIR] [--out FILE]

Run it from the root of a checkout. The parent is extracted with
`git archive <rev>` and the change is a copy of the working tree (tracked
and untracked files that git does not ignore), each into its own
directory under --workdir, so neither side reuses this checkout's build
output. For each seed both sides run `perfbench/run.py --trace 0` once,
for the `run_seconds` that BENCHMARK.json sets;
an odd seed runs the parent first, an even seed the change first. Each
side builds itself on its first run.

Prints, per end-to-end metric of BENCHMARK.json: each side's median and
quartiles, and the pairs the change won (strictly better in the metric's
direction). --trace-seed N then runs `--trace 1` once per side with seed N
and prints the per-layer metrics that locate a streaming saving (each a
median over the run's traced units) side by side. --out writes every
run's result line as JSON. Nothing is written in this checkout.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile


def log(msg):
    print(f"[bench_ab] {msg}", file=sys.stderr, flush=True)


def parse_seeds(text):
    """`901-910` or `901,903,905` (or a mix) -> list of ints."""
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def extract_parent(rev, dest):
    os.makedirs(dest)
    archive = subprocess.run(["git", "archive", "--format=tar", rev],
                             check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def copy_working_tree(dest):
    listed = subprocess.run(
        ["git", "ls-files", "-z", "--cached", "--others", "--exclude-standard"],
        check=True, capture_output=True).stdout.decode().split("\0")
    for rel in filter(None, listed):
        if not os.path.isfile(rel):  # deleted in the working tree
            continue
        os.makedirs(os.path.join(dest, os.path.dirname(rel)), exist_ok=True)
        shutil.copy2(rel, os.path.join(dest, rel))


# The per-layer metrics --trace-seed prints, in this order.
TRACE_METRICS = ("spark.jobs", "stream.rows_per_batch",
                 "spark.shuffle_write_bytes", "stream.upsert_batch_ms")


def run_side(root, workload, seed, seconds, trace=False):
    """One `run.py` in `root`; its result dict, or None on failure."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", "1" if trace else "0"],
        cwd=root, stdout=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 901-910 or 901,905")
    ap.add_argument("--parent", required=True, help="git revision of the parent")
    ap.add_argument("--trace-seed", type=int,
                    help="after the pairs, one traced run per side with this seed")
    ap.add_argument("--workdir", help="where the two copies go (default: a new temp dir)")
    ap.add_argument("--out", help="write every run's result here as JSON")
    args = ap.parse_args()

    if not os.path.isfile("BENCHMARK.json"):
        sys.exit("run from the root of a checkout (BENCHMARK.json)")
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]

    workdir = args.workdir or tempfile.mkdtemp(prefix="bench_ab-")
    os.makedirs(workdir, exist_ok=True)
    sides = {"parent": os.path.join(workdir, "parent"),
             "change": os.path.join(workdir, "change")}
    for path in sides.values():
        if os.path.exists(path):
            shutil.rmtree(path)
    extract_parent(args.parent, sides["parent"])
    copy_working_tree(sides["change"])
    log(f"parent {args.parent} -> {sides['parent']}, change -> {sides['change']}")

    runs = []
    for seed in parse_seeds(args.seeds):
        order = ("parent", "change") if seed % 2 else ("change", "parent")
        pair = {"seed": seed, "order": list(order)}
        for side in order:
            log(f"seed {seed}: {side}")
            pair[side] = run_side(sides[side], args.workload, seed, seconds)
        runs.append(pair)

    traced = {}
    if args.trace_seed is not None:
        for side in sides:
            log(f"trace seed {args.trace_seed}: {side}")
            traced[side] = run_side(sides[side], args.workload, args.trace_seed,
                                    seconds, trace=True)

    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"workload": args.workload, "parent": args.parent,
                       "seconds": seconds, "runs": runs, "trace": traced}, fh, indent=1)

    ok = [r for r in runs if r["parent"] and r["change"]]
    print(f"workload {args.workload}: {len(ok)} of {len(runs)} pairs completed")
    for side in ("parent", "change"):
        wrong = sum(1 for r in ok if not r[side]["correct"])
        failed = sum(r[side]["failed"] for r in ok)
        print(f"  {side}: {wrong} incorrect runs, {failed} failed ops")
    if ok:
        print_pairs(ok, better)
    print_trace(args.trace_seed, traced)


def print_pairs(ok, better):
    """Each end-to-end metric's quartiles per side and the pairs won."""
    sides = ("parent", "change")
    print(f"  {'metric':24} {'parent q1/median/q3':>30} {'change q1/median/q3':>30}  won")
    for name, direction in better.items():
        if name not in ok[0]["parent"]["metrics"]:
            continue
        val = {s: [r[s]["metrics"][name]["value"] for r in ok] for s in sides}
        sign = 1 if direction == "lower" else -1
        won = sum(1 for p, c in zip(val["parent"], val["change"])
                  if sign * (c - p) < 0)
        cols = ["/".join(f"{v:.4g}" for v in quartiles(val[s])) for s in sides]
        print(f"  {name:24} {cols[0]:>30} {cols[1]:>30}  {won}/{len(ok)}")


def print_trace(seed, traced):
    """The TRACE_METRICS of the two traced runs, side by side."""
    if seed is None:
        return
    if not all(traced.values()):
        failed = [s for s, r in traced.items() if not r]
        print(f"traced run (seed {seed}) failed: {', '.join(failed)}")
        return
    print(f"traced run (seed {seed}), per-layer medians:")
    print(f"  {'metric':28} {'parent':>14} {'change':>14}")
    for name in TRACE_METRICS:
        vals = [traced[s]["metrics"].get(name, {}).get("value") for s in traced]
        if None in vals:
            continue
        print(f"  {name:28} {vals[0]:>14.6g} {vals[1]:>14.6g}")


if __name__ == "__main__":
    main()
