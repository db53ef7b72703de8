#!/usr/bin/env python3
"""A/B pairs of the benchmark: runs `python3 perfbench/run.py` in a base and a
change checkout, alternately (the first of each pair alternates too, so a
linear drift of the host cancels), one pair per seed, then prints each
end-to-end metric's median, quartiles and the change's win count.

    python3 tools/ab_pairs.py BASE_DIR CHANGE_DIR --workload etl_ingest --seeds 21-30

Metric names and directions come from CHANGE_DIR/BENCHMARK.json; quartiles
are statistics.quantiles' (exclusive method). With --log FILE, every raw result
line is appended to FILE as {"side", "seed", "result"}.
"""
import argparse
import json
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True).stdout
    lines = [l for l in out.splitlines() if l.startswith('{"correct"')]
    return json.loads(lines[-1]) if lines else {"correct": False, "metrics": {}}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("base"), ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 21-30")
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--log")
    a = ap.parse_args()
    first, last = map(int, a.seeds.split("-"))
    with open(f"{a.change}/BENCHMARK.json") as f:
        metrics = [(m["name"], m["better"]) for m in json.load(f)["end_to_end"]]
    res = {"base": [], "change": []}
    for i, seed in enumerate(range(first, last + 1)):
        for side in (("base", "change") if i % 2 == 0 else ("change", "base")):
            r = run(getattr(a, side), a.workload, seed, a.seconds)
            res[side].append(r)
            if a.log:
                with open(a.log, "a") as f:
                    f.write(json.dumps({"side": side, "seed": seed, "result": r}) + "\n")
            print(f"seed {seed} {side}: correct={r['correct']} run_s="
                  f"{r['metrics'].get('run_s', {}).get('value')}", file=sys.stderr, flush=True)
    print(f"{a.workload}, {len(res['base'])} pairs; correct base "
          f"{sum(r['correct'] for r in res['base'])}, change {sum(r['correct'] for r in res['change'])}")
    for name, better in metrics:
        b, c = ([r["metrics"].get(name, {}).get("value") for r in res[s]] for s in ("base", "change"))
        if None in b + c or len(b) < 2:
            print(f"{name}: missing in some runs"); continue
        wins = sum((y < x) if better == "lower" else (y > x) for x, y in zip(b, c))
        qb, qc = statistics.quantiles(b, n=4), statistics.quantiles(c, n=4)
        delta = qc[1] - qb[1]
        print(f"{name}: base {qb[1]:.3f} [{qb[0]:.3f}, {qb[2]:.3f}]  change {qc[1]:.3f} "
              f"[{qc[0]:.3f}, {qc[2]:.3f}]  delta {delta:+.3f} ({delta / qb[1]:+.1%})  "
              f"base IQR {qb[2] - qb[0]:.3f}  change wins {wins}/{len(b)}")


if __name__ == "__main__":
    main()
