#!/usr/bin/env python3
"""A/B-compare two checkouts on the fossilbench workloads.

    python3 fossilbench/compare.py --parent ../parent --change . [--out runs.jsonl]

Runs 10 parent/change pairs per workload, alternating which side runs
first, each pair on its own seed, with the same run length on both sides.
Both checkouts must hold the same benchmark files, so only the program
differs. Every run is appended to --out (JSON lines).

For each workload and end-to-end metric of BENCHMARK.json the verdict is:

  incorrect   a change run failed its correctness check: no verdict on
              speed holds;
  gain        the change wins at least 9 of 10 pairs (ties count for
              neither) and the medians differ by more than the parent's
              interquartile range, and the change's share of failed
              operations is no higher than the parent's (beyond the
              parent's own interquartile spread of that share);
  unresolved  the parent's own interquartile spread is wider than the bound
              and neither side beats every run of the other;
  better / worse
              the spread is wider than the bound but every change run beats
              (or loses to) every parent run;
  regression  the change's median is worse than the parent's by more than
              the metric's bound;
  same        otherwise: within the bound, no gain shown.

One row is printed per workload.
"""

import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
PAIRS = 10
BASE_SEED = 1000
WIN_SHARE = 0.9


def quartiles(xs):
    """First quartile, median and third quartile, as `statistics.quantiles(xs, n=4)` cuts them."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def spread(xs):
    """Interquartile range as a share of the median."""
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / abs(med) if med else float("inf")


def fail_share(runs):
    """Failed ÷ attempted operations, over all the runs of one side."""
    return sum(r["failed"] for r in runs) / sum(r["attempted"] for r in runs)


def more_failures(parent_runs, change_runs):
    """Whether the change fails a larger share of its operations than the
    parent, by more than the parent's interquartile range of that share.

    Shares, not counts: a faster change attempts more operations in the same
    time, and so fails more of them where a fixed share fails."""
    q1, _, q3 = quartiles([r["failed"] / r["attempted"] for r in parent_runs])
    return fail_share(change_runs) > fail_share(parent_runs) + (q3 - q1)


def decide(parent, change, better, bound, more_failed=False, change_incorrect=False):
    """Verdict for one metric from paired runs (parent[i], change[i])."""
    if len(parent) != len(change) or len(parent) < PAIRS:
        raise ValueError(f"need at least {PAIRS} complete pairs")
    sign = 1.0 if better == "higher" else -1.0
    # gain > 0 means the change is better
    gains = [sign * (c - p) for p, c in zip(parent, change)]
    wins = sum(1 for g in gains if g > 0)
    p_q1, p_med, p_q3 = quartiles(parent)
    c_med = statistics.median(change)
    improvement = sign * (c_med - p_med)
    row = {"parent_median": p_med, "parent_q1": p_q1, "parent_q3": p_q3,
           "change_median": c_med, "change_q1": quartiles(change)[0],
           "change_q3": quartiles(change)[2], "wins": wins, "pairs": len(parent),
           "parent_spread": spread(parent)}
    if change_incorrect:
        verdict = "incorrect"
    elif wins >= WIN_SHARE * len(parent) and improvement > p_q3 - p_q1 and not more_failed:
        verdict = "gain"
    elif row["parent_spread"] > bound:
        if all(sign * (c - p) > 0 for c in change for p in parent):
            verdict = "better"
        elif all(sign * (c - p) < 0 for c in change for p in parent):
            verdict = "worse"
        else:
            verdict = "unresolved"
    elif -improvement > bound * abs(p_med):
        verdict = "regression"
    else:
        verdict = "same"
    row["verdict"] = verdict
    return row


def bench_digest(root):
    """Digest of a checkout's benchmark files (BENCHMARK.json and its paths),
    leaving out what building and running leave behind."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    h = hashlib.sha256(json.dumps(spec, sort_keys=True).encode())
    for p in spec["paths"]:
        base = os.path.join(root, p)
        # top-down, so pruning `dirs` in place skips those trees
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs
                             if x not in ("target", "__pycache__") and not x.startswith("."))
            for name in sorted(files):
                path = os.path.join(d, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def run_once(root, spec, workload, seed):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    p = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} failed in {root}:\n{p.stderr[-2000:]}")
    return json.loads(lines[-1])


def collect(args, spec):
    if bench_digest(args.parent) != bench_digest(args.change):
        sys.exit("the two checkouts hold different benchmark files; copy one side's over")
    runs = []
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "a") as out:
        for w in [x["name"] for x in spec["workloads"]]:
            for i in range(PAIRS):
                seed = BASE_SEED + i
                order = [("parent", args.parent), ("change", args.change)]
                if i % 2:
                    order.reverse()
                for side, root in order:
                    r = run_once(root, spec, w, seed)
                    rec = {"workload": w, "pair": i, "seed": seed, "side": side, "result": r}
                    out.write(json.dumps(rec) + "\n")
                    out.flush()
                    runs.append(rec)
                    print(f"{w} pair {i} {side} done", file=sys.stderr)
    return runs


def table(runs, spec):
    """One row per workload: every end-to-end metric's verdict."""
    rows = []
    for w in [x["name"] for x in spec["workloads"]]:
        pairs = {}
        for r in runs:
            if r["workload"] == w:
                pairs.setdefault(r["pair"], {})[r["side"]] = r["result"]
        done = [p for _, p in sorted(pairs.items()) if "parent" in p and "change" in p]
        if len(done) < PAIRS:
            continue
        side = {s: [p[s] for p in done] for s in ("parent", "change")}
        more_failed = more_failures(side["parent"], side["change"])
        incorrect = {s: sum(1 for r in rs if not r["correct"]) for s, rs in side.items()}
        cells = {}
        for m in spec["end_to_end"]:
            cells[m["name"]] = decide(
                [r["metrics"][m["name"]]["value"] for r in side["parent"]],
                [r["metrics"][m["name"]]["value"] for r in side["change"]],
                m["better"], m["bound"], more_failed, incorrect["change"] > 0)
        rows.append({"workload": w, "pairs": len(done),
                     "fail_share": {s: fail_share(rs) for s, rs in side.items()},
                     "incorrect_runs": incorrect, "metrics": cells})
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--out", default=os.path.join(".fossilbench", "ab_runs.jsonl"))
    args = ap.parse_args()
    with open(os.path.join(BENCH, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    for row in table(collect(args, spec), spec):
        cells = "  ".join(
            f"{m}={c['verdict']} ({c['parent_median']:.4g}->{c['change_median']:.4g}, "
            f"wins {c['wins']}/{c['pairs']}, spread {c['parent_spread']:.3f})"
            for m, c in row["metrics"].items())
        shares = {s: round(v, 4) for s, v in row["fail_share"].items()}
        print(f"{row['workload']}: pairs={row['pairs']} fail_share={shares} "
              f"incorrect_runs={row['incorrect_runs']}  {cells}")


if __name__ == "__main__":
    main()
