"""Run the benchmark over several seeds, and compare two sets of runs.

    # ten runs per workload, appended to a JSON-lines file
    python3 perfbench/compare.py collect runs_a.jsonl --seeds 1-10
    # medians, quartiles and spreads of one set; with a second set, whether
    # the two agree within the bounds in BENCHMARK.json
    python3 perfbench/compare.py report runs_a.jsonl [runs_b.jsonl]

``collect`` runs every workload in BENCHMARK.json with its command and run
length. A set "agrees" with the first when, for every end-to-end metric on
every workload, its median differs from the first set's, either way, by at
most the metric's bound (as a share of the first median), and each set's
inter-quartile spread (as a share of its median) is within the bound. Exit
code 1 when they disagree.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def collect(path: str, seeds: list[int]) -> int:
    spec = _spec()
    bad = 0
    for w in [w["name"] for w in spec["workloads"]]:
        for seed in seeds:
            cmd = spec["command"] + ["--workload", w, "--seed", str(seed),
                                     "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            t = time.time()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            lines = p.stdout.strip().splitlines()
            rec = {"workload": w, "seed": seed, "exit": p.returncode,
                   "wall_s": round(time.time() - t, 1), "info": [x for x in lines if x.startswith("#")]}
            try:
                rec["result"] = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                rec["result"] = None
                rec["stderr_tail"] = p.stderr[-2000:]
            bad += p.returncode != 0
            with open(path, "a") as f:
                f.write(json.dumps(rec) + "\n")
            print(f"{w} seed={seed} exit={p.returncode} wall={rec['wall_s']}s", flush=True)
    return 1 if bad else 0


def _load(path: str) -> dict[str, dict[str, list[float]]]:
    """workload -> metric -> values, from the successful runs."""
    out: dict[str, dict[str, list[float]]] = {}
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            if not rec.get("result") or rec.get("exit") != 0:
                continue
            per = out.setdefault(rec["workload"], {})
            for name, m in rec["result"]["metrics"].items():
                per.setdefault(name, []).append(m["value"])
    return out


def report(path_a: str, path_b: str | None) -> int:
    metrics = {m["name"]: m for m in _spec()["end_to_end"]}
    a = _load(path_a)
    b = _load(path_b) if path_b else None
    ok = True
    for w in sorted(a):
        print(f"== {w}")
        for name, m in metrics.items():
            for label, data in (("A", a), ("B", b)) if b else (("A", a),):
                xs = data.get(w, {}).get(name, [])
                if not xs:
                    print(f"  {name:14s} {label}: no runs")
                    ok = False
                    continue
                q1, med, q3 = stats.quartiles(xs)
                sp = stats.spread(xs)
                within = sp <= m["bound"]
                ok &= within
                print(f"  {name:14s} {label}: n={len(xs):2d} median={med:.6g} q1={q1:.6g} q3={q3:.6g} "
                      f"spread={sp:.3f} (bound {m['bound']}) {'ok' if within else 'TOO WIDE'}")
            if b and a.get(w, {}).get(name) and b.get(w, {}).get(name):
                ma = stats.quartiles(a[w][name])[1]
                mb = stats.quartiles(b[w][name])[1]
                agree = stats.agrees(ma, mb, m["bound"])
                ok &= agree
                print(f"  {name:14s} B vs A: {(mb - ma) / ma:+.3f} {'ok' if agree else 'DISAGREE'}")
    print("AGREE" if ok else "DISAGREE")
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("out")
    c.add_argument("--seeds", default="1-10")
    r = sub.add_parser("report")
    r.add_argument("a")
    r.add_argument("b", nargs="?")
    args = ap.parse_args()
    if args.cmd == "collect":
        return collect(args.out, _seeds(args.seeds))
    return report(args.a, args.b)


if __name__ == "__main__":
    sys.exit(main())
