#!/usr/bin/env python3
"""Run the benchmark once per seed and report each end-to-end metric's
median and quartile spread (q3 - q1) / median, next to a third of its
bound from BENCHMARK.json. setup_s is marked "exempt": only its median
is held to its bound, not its spread.

    python3 perfbench/steady.py --workload etl_zones --seeds 1-10
    python3 perfbench/steady.py --summarize runs.jsonl

Each run's result line is appended to --log (JSON lines), so a long
series can be summarized again without re-running it.
"""
import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import metrics  # noqa: E402


def seeds_of(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def summarize(rows, bench):
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for w in sorted({r["workload"] for r in rows}):
        runs = [r for r in rows if r["workload"] == w]
        print(f"{w}: {len(runs)} runs, correct={all(r['correct'] for r in runs)}, "
              f"mean run {sum(r['elapsed_s'] for r in runs) / len(runs):.1f}s")
        for name, bound in bounds.items():
            xs = [r["metrics"][name]["value"] for r in runs]
            s = metrics.spread(xs)
            if name == "setup_s":
                # The acceptance rule bounds setup_s's median, not its spread.
                flag = "exempt"
            else:
                flag = "ok" if s <= bound / 3 else "WIDE"
                ok &= flag == "ok"
            print(f"  {name:30s} median {metrics.median(xs):14.4f}  "
                  f"spread {s:.4f}  bound/3 {bound / 3:.4f}  {flag}")
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append", default=[])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--log", default=str(ROOT / ".bench_work" / "steady.jsonl"))
    ap.add_argument("--summarize", help="only summarize this JSON-lines log")
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.summarize:
        rows = [json.loads(l) for l in Path(args.summarize).read_text().splitlines()]
        return 0 if summarize(rows, bench) else 1
    log = Path(args.log)
    log.parent.mkdir(parents=True, exist_ok=True)
    rows = []
    for w in args.workload or [x["name"] for x in bench["workloads"]]:
        for seed in seeds_of(args.seeds):
            t0 = time.time()
            r = subprocess.run(bench["command"] + [
                "--workload", w, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True)
            row = json.loads(r.stdout.splitlines()[-1])
            row.update(workload=w, seed=seed, rc=r.returncode,
                       elapsed_s=time.time() - t0,
                       passes=[l for l in r.stderr.splitlines()
                               if l.startswith("[perfbench]")])
            print(json.dumps(row), file=sys.stderr)
            with log.open("a") as f:
                f.write(json.dumps(row) + "\n")
            rows.append(row)
    return 0 if summarize(rows, bench) else 1


if __name__ == "__main__":
    sys.exit(main())
