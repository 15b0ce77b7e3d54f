#!/usr/bin/env python3
"""Paired perfbench runs of two commits: is a change faster, and is it no worse?

Run from the repository root:

    python3 tools/perf_pairs.py --parent HEAD~1 --change HEAD \\
        --workloads backfill_stream,snapshot_7k --seeds 101-110 --seconds 25 \\
        --scratch /tmp/pairs

Both commits are exported with `git archive` into the scratch directory, and
`perfbench/run.py` (as each commit has it) runs there: once per seed, workload
and side, alternating which side runs first from one seed to the next. Every
file a run makes (builds, work directories, logs, the JSON summary) stays
under the scratch directory.

For every end-to-end metric of BENCHMARK.json and every workload it prints
each side's median and quartiles and how many pairs the change won (ties
count for neither side). A gain is claimable when the change wins at least
nine tenths of the pairs and the medians differ by more than the parent's
interquartile range; a metric whose change median is worse than the parent's
by more than the metric's bound is flagged as a regression.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

SIDES = ("parent", "change")


def log(msg):
    print(f"[perf_pairs] {msg}", file=sys.stderr, flush=True)


def seeds_arg(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def export(rev, dest):
    """The committed files of `rev` under `dest` (made once, then reused)."""
    if os.path.isdir(dest):
        return
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "archive", rev], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        raise SystemExit(f"git archive {rev} failed")


def run_once(checkout, workload, seed, seconds, log_path):
    """One perfbench run; returns its result JSON, or None when it printed none."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds)]
    with open(log_path, "w") as err:
        proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=err, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def summarize(pairs, metrics):
    """Per metric: each side's median and quartiles, the change's wins over
    the pairs where both sides printed the metric, and the verdicts."""
    rows = []
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        both = [(p["parent"][name], p["change"][name]) for p in pairs
                if name in p["parent"] and name in p["change"]]
        if not both:
            continue
        par, chg = [a for a, _ in both], [b for _, b in both]
        wins = sum((b < a) if lower else (b > a) for a, b in both)
        losses = sum((b > a) if lower else (b < a) for a, b in both)
        pm, cm = statistics.median(par), statistics.median(chg)
        pq, cq = quartiles(par), quartiles(chg)
        iqr = pq[1] - pq[0]
        worse_by = ((cm - pm) if lower else (pm - cm)) / abs(pm) if pm else 0.0
        rows.append({
            "metric": name, "pairs": len(both), "wins": wins, "losses": losses,
            "parent_median": pm, "parent_q1": pq[0], "parent_q3": pq[1],
            "change_median": cm, "change_q1": cq[0], "change_q3": cq[1],
            "delta_pct": 100.0 * (cm - pm) / pm if pm else 0.0,
            "gain_claimable": wins >= 0.9 * len(both) and abs(cm - pm) > iqr
                              and ((cm < pm) if lower else (cm > pm)),
            "regression": worse_by > m["bound"],
        })
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--parent", required=True, help="the parent commit (any git revision)")
    ap.add_argument("--change", default="HEAD", help="the changed commit (default HEAD)")
    ap.add_argument("--workloads", default="backfill_stream,snapshot_7k")
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("101-110"),
                    help="e.g. 101-110 or 1,5,9 (default 101-110)")
    ap.add_argument("--seconds", type=int, default=25)
    ap.add_argument("--scratch", required=True, help="directory for the checkouts, logs and summary")
    args = ap.parse_args()

    scratch = os.path.abspath(args.scratch)
    logs = os.path.join(scratch, "logs")
    os.makedirs(logs, exist_ok=True)
    checkouts = {}
    for side in SIDES:
        rev = subprocess.run(["git", "rev-parse", "--verify", getattr(args, side) + "^{commit}"],
                             capture_output=True, text=True, check=True).stdout.strip()
        checkouts[side] = os.path.join(scratch, f"{side}-{rev[:12]}")
        export(rev, checkouts[side])
        log(f"{side} = {rev[:12]}")
    with open(os.path.join(checkouts["change"], "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]

    workloads = args.workloads.split(",")
    pairs = {w: [] for w in workloads}
    for i, seed in enumerate(args.seeds):
        order = SIDES if i % 2 == 0 else SIDES[::-1]
        for w in workloads:
            pair = {"seed": seed, "first": order[0]}
            for side in order:
                res = run_once(checkouts[side], w, seed, args.seconds,
                               os.path.join(logs, f"{w}-{seed}-{side}.log"))
                ok = res is not None and res.get("correct") is True
                pair[side] = {k: v["value"] for k, v in (res or {}).get("metrics", {}).items()}
                pair[side + "_correct"] = ok
                log(f"{w} seed {seed} {side}: " + ("correct" if ok else "FAILED or no result") +
                    "".join(f" {k}={v:.3f}" for k, v in sorted(pair[side].items())))
            pairs[w].append(pair)

    summary = {"parent": args.parent, "change": args.change, "seconds": args.seconds,
               "seeds": args.seeds, "workloads": {}}
    for w in workloads:
        rows = summarize(pairs[w], metrics)
        failed = [f"{p['seed']}/{s}" for p in pairs[w] for s in SIDES if not p[s + "_correct"]]
        summary["workloads"][w] = {"pairs": pairs[w], "metrics": rows, "failed_runs": failed}
        print(f"\n{w}: {len(pairs[w])} pairs" + (f", failed runs: {', '.join(failed)}" if failed else ""))
        print(f"  {'metric':<13} {'parent median [q1, q3]':<32} {'change median [q1, q3]':<32}"
              f" {'delta':>7} {'wins':>6}  verdict")
        for r in rows:
            verdict = ("gain" if r["gain_claimable"] else "") + (" REGRESSION" if r["regression"] else "")
            side = {s: f"{r[s + '_median']:.5g} [{r[s + '_q1']:.5g}, {r[s + '_q3']:.5g}]" for s in SIDES}
            print(f"  {r['metric']:<13} {side['parent']:<32} {side['change']:<32}"
                  f" {r['delta_pct']:>+6.1f}% {r['wins']:>3}/{r['pairs']:<2}  {verdict.strip() or '-'}")
    with open(os.path.join(scratch, "pairs.json"), "w") as f:
        json.dump(summary, f, indent=1)
    log(f"summary written to {os.path.join(scratch, 'pairs.json')}")
    return 0 if all(not s["failed_runs"] for s in summary["workloads"].values()) else 1


if __name__ == "__main__":
    sys.exit(main())
