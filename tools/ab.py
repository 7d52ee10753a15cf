"""Alternating-pairs comparison of the staged change against a parent
commit on one benchmark workload (the method of the choosing-metrics
guide, section 8).

Usage:
    python tools/ab.py --parent REV --workload W --seeds 701-710 \\
        [--seconds 20] [--claim METRIC]

The parent side is exported with ``git archive REV``, the change side
with ``git checkout-index`` (the index, so stage the change first). The
run refuses to start unless ``perfbench/`` and ``BENCHMARK.json`` are
byte-identical on both sides. Each seed is one pair, run untraced with
the command ``BENCHMARK.json`` names; the side that runs first
alternates from pair to pair. Each run's last JSON line is its result.

The report gives every pair's values, each side's median and quartiles,
and the change's wins per end-to-end metric (ties count for neither
side), and flags every run that is not ``correct``. ``--claim METRIC``
adds the verdict: a gain holds when the change wins at least 9/10 of the
pairs and the medians differ, in the better direction, by more than the
parent's quartile distance.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_FILES = ("perfbench", "BENCHMARK.json")


def parse_seeds(spec: str) -> list[int]:
    """``701-710`` (inclusive) or a single seed."""
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) by linear interpolation between order statistics
    (numpy's default rule)."""
    s = sorted(xs)

    def q(p: float) -> float:
        pos = p * (len(s) - 1)
        lo = int(pos)
        hi = min(lo + 1, len(s) - 1)
        return s[lo] + (s[hi] - s[lo]) * (pos - lo)

    return q(0.25), q(0.5), q(0.75)


def wins(parent: list[float], change: list[float], better: str) -> int:
    """Pairs the change wins; a tie counts for neither side."""
    sign = 1 if better == "higher" else -1
    return sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)


def verdict(parent: list[float], change: list[float], better: str) -> dict:
    """The gain rule: wins in at least nine tenths of the pairs, and a
    median gap in the better direction wider than the parent's quartile
    distance."""
    q1, p_med, q3 = quartiles(parent)
    c_med = quartiles(change)[1]
    n_wins = wins(parent, change, better)
    gap = (c_med - p_med) if better == "higher" else (p_med - c_med)
    return {
        "wins": n_wins,
        "pairs": len(parent),
        "median_gap": gap,
        "parent_iqr": q3 - q1,
        "holds": 10 * n_wins >= 9 * len(parent) and gap > q3 - q1,
    }


def export(rev: str | None, dest: str) -> None:
    """``rev``'s tree via git archive, or the index when ``rev`` is None."""
    os.makedirs(dest)
    if rev is None:
        subprocess.run(
            ["git", "checkout-index", "-a", f"--prefix={dest}/"],
            cwd=REPO, check=True,
        )
        return
    archive = subprocess.run(
        ["git", "archive", rev], cwd=REPO, check=True, capture_output=True
    ).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def bench_digest(root: str) -> dict[str, str]:
    """sha256 of every file under the benchmark's paths, by relative path."""
    out = {}
    for top in BENCH_FILES:
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else [
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
        ]
        for f in files:
            with open(f, "rb") as fh:
                out[os.path.relpath(f, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def run_once(root: str, command: list[str], workload: str, seed: int,
             seconds: float) -> dict:
    """One untraced run; its last JSON line, or a failed record."""
    proc = subprocess.run(
        [*command, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=root, capture_output=True, text=True,
    )
    for line in reversed(proc.stdout.splitlines()):
        try:
            return json.loads(line)
        except ValueError:
            continue
    tail = (proc.stderr or proc.stdout).strip().splitlines()[-1:]
    return {"correct": False, "metrics": {}, "error": f"exit {proc.returncode}: {tail}"}


def report(metrics: list[dict], runs: list[tuple[int, dict, dict]],
           claim: str | None) -> bool:
    """Print pairs, per-side medians/quartiles and wins; return whether
    every run was correct and, with ``claim``, the claim holds."""
    ok = True
    names = [m["name"] for m in metrics]
    print("seed  side    " + "  ".join(f"{n:>12s}" for n in names))
    for seed, par, chg in runs:
        for side, r in (("parent", par), ("change", chg)):
            vals = [r["metrics"].get(n, {}).get("value", float("nan")) for n in names]
            flag = "" if r.get("correct") else f"  NOT CORRECT {r.get('error', '')}"
            ok &= bool(r.get("correct"))
            print(f"{seed:<5d} {side:7s} " + "  ".join(f"{v:12.4g}" for v in vals) + flag)
    good = [(p, c) for _, p, c in runs if p.get("correct") and c.get("correct")]
    print(f"\n{len(good)} of {len(runs)} pairs have both runs correct")
    if not good:
        return False
    for m in metrics:
        n = m["name"]
        p = [r["metrics"][n]["value"] for r, _ in good]
        c = [r["metrics"][n]["value"] for _, r in good]
        pq, cq = quartiles(p), quartiles(c)
        print(f"{n:12s} parent {pq[1]:.4g} [{pq[0]:.4g}, {pq[2]:.4g}]  "
              f"change {cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}]  "
              f"change wins {wins(p, c, m['better'])}/{len(good)} "
              f"({m['better']} is better)")
    if claim is not None:
        (m,) = [m for m in metrics if m["name"] == claim]
        v = verdict([r["metrics"][claim]["value"] for r, _ in good],
                    [r["metrics"][claim]["value"] for _, r in good], m["better"])
        print(f"\nclaim {claim}: {v['wins']}/{v['pairs']} wins, median gap "
              f"{v['median_gap']:.4g} vs parent quartile distance "
              f"{v['parent_iqr']:.4g}: {'HOLDS' if v['holds'] else 'NOT MET'}")
        ok &= v["holds"] and len(good) == len(runs)
    return ok


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--parent", required=True)
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, type=parse_seeds)
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--claim")
    args = p.parse_args(argv)

    work = tempfile.mkdtemp(prefix="ab-")
    try:
        sides = {"parent": os.path.join(work, "parent"),
                 "change": os.path.join(work, "change")}
        export(args.parent, sides["parent"])
        export(None, sides["change"])
        if bench_digest(sides["parent"]) != bench_digest(sides["change"]):
            print("refusing: perfbench/ or BENCHMARK.json differ between "
                  "the parent and the change", file=sys.stderr)
            return 2
        with open(os.path.join(sides["change"], "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        metrics = bench["end_to_end"]
        if args.claim is not None and args.claim not in {m["name"] for m in metrics}:
            p.error(f"--claim: no end-to-end metric {args.claim!r}")
        runs = []
        for i, seed in enumerate(args.seeds):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            got = {}
            for side in order:
                got[side] = run_once(sides[side], bench["command"],
                                     args.workload, seed, args.seconds)
                print(f"seed {seed} {side}: {json.dumps(got[side])}", flush=True)
            runs.append((seed, got["parent"], got["change"]))
        print()
        return 0 if report(metrics, runs, args.claim) else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
