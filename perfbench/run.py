#!/usr/bin/env python3
"""graft benchmark: one command that builds graft, makes seeded inputs
(untimed), runs one workload as a closed loop with one client on
local[nproc], checks every pass's output, and prints one JSON line.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 10 --trace 0

--trace 0 prints the end-to-end metrics of BENCHMARK.json; --trace 1
prints its per-layer metrics from a traced run (spans around every call
into a layer plus Spark listener counts), written in full to
.bench_work/<workload>-trace.json. The exit code is non-zero when any
correctness check fails.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import build  # noqa: E402
import metrics  # noqa: E402

# Input scale per workload, as a fraction of graft.tools.GenData's sf 1.0
# (6M lineitem rows, 50k documents). BENCHMARK.json's `why` lines quote
# the resulting input sizes.
SCALE = {"etl_zones": 0.01, "curation": 0.02}
JVM_TIMEOUT_S = 160
JAVA_OPTS = [
    # A 1 GB heap floor, not pre-touched: resident memory still grows with
    # the pages the program touches, but the collector no longer starts
    # from a 256 MB heap and grows it in a pattern that differed between
    # runs of one seed (1-7 s of collector CPU per pass).
    "-Xms1g", "-Xmx2g", "-Xss8m",
    # Compiler threads stay alive, so their CPU time can be read per pass
    # and taken out of cpu_s.
    "-XX:-UseDynamicNumberOfCompilerThreads",
    # C1 only. With C2 on a 4-vCPU machine, the compilers spent 26-45 s of
    # CPU in the reference pass and 4-18 s in each timed pass of a
    # one-minute run, never finishing: passes measured the compiler's
    # progress and its contention with Spark's task threads. With C1 they
    # spend about 1 s per pass and pass times level off after the first.
    "-XX:TieredStopAtLevel=1",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def cpu_jiffies():
    """(busy+steal, steal) jiffies of the whole machine, from /proc/stat.
    Steal is CPU time a hypervisor gave to other machines while this one
    wanted to run: load from elsewhere that inflates wall times."""
    f = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
    return sum(f) - f[3] - f[4], f[7]


def jvm(args, work, log):
    """Run one benchmark JVM; returns (record, spawn time)."""
    out = work / "record.json"
    env = dict(os.environ, JAVA_TOOL_OPTIONS="", SPARK_GRAFT_CONF="",
               TMPDIR=str(work))
    cmd = (["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={work}", "-cp",
           build.classpath(), "graft.perfbench.Main"] + args
           + ["--work", str(work), "--out", str(out)])
    spawn = time.time()
    with open(log, "ab") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             cwd=str(work), env=env)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError(f"benchmark JVM timed out after {JVM_TIMEOUT_S}s")
    if rc != 0 or not out.exists():
        tail = Path(log).read_text(errors="replace")[-3000:]
        raise RuntimeError(f"benchmark JVM exited {rc}:\n{tail}")
    rec = json.loads(out.read_text())
    out.unlink()
    return rec, spawn


def canon(v):
    """Render one value the same way for Spark's and DuckDB's rows."""
    if v is None:
        return "NULL"
    try:
        import pandas as pd
        if v is pd.NaT or (not isinstance(v, (str, bytes, list, tuple))
                           and pd.isna(v)):
            return "NULL"
    except (TypeError, ValueError):
        pass
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def rows_of(df):
    df = df[sorted(df.columns)]
    return list(df.columns), sorted(tuple(canon(x) for x in r)
                                    for r in df.itertuples(index=False, name=None))


def check_oracles(data, ref_dir, oracle_sql, perturb):
    """Compare each gate's reference-pass output with its DuckDB oracle.
    Returns a list of failure messages."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in sorted(p.name[:-len(".parquet")] for p in Path(data).glob("*.parquet")):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet/*.parquet'")
    bad = []
    for i, (gate, sql) in enumerate(sorted(oracle_sql.items())):
        got_cols, got = rows_of(con.sql(f"SELECT * FROM '{ref_dir}/{gate}/*.parquet'").df())
        want_cols, want = rows_of(con.sql(sql).df())
        if perturb == "oracle" and i == 0:
            want = want[1:] if want else [("perturbed",)]
        if got_cols != want_cols:
            bad.append(f"{gate}: columns {got_cols} != oracle {want_cols}")
        elif got != want:
            diff = next(((g, w) for g, w in zip(got, want) if g != w), None)
            bad.append(f"{gate}: {len(got)} rows vs oracle {len(want)}; first diff {diff}")
    con.close()
    return bad


def check_record(rec, args, work, data):
    """Return (failed pass indices, run-level failure messages)."""
    passes = rec["passes"]
    refs = rec["references"]
    ref_pass = passes[0]
    failed = set()
    problems = []
    if args.perturb == "fingerprint":
        k = sorted(ref_pass["fingerprints"])[0]
        for p in passes[1:]:
            if p["fingerprints"].get(k) is not None:
                p["mismatch"] = sorted(set(p["mismatch"]) | {k})
    for p in passes:
        if p.get("error") or p["mismatch"]:
            failed.add(p["idx"])
            problems.append(f"pass {p['idx']}: error={p.get('error')} "
                            f"mismatch={p['mismatch']}")
    w = rec["workload"]
    if w == "etl_zones":
        want = refs["top100"] if args.perturb != "oracle" else "perturbed"
        if ref_pass["fingerprints"].get("table_top100") != want:
            problems.append("etl_zones: loaded top-100 differs from the archive's")
            failed.add(0)
        for p in passes:
            c = p["checks"]
            if c.get("landed_rows") != rec["zip_rows"] or c.get("table_rows") != 100:
                problems.append(f"pass {p['idx']}: landed {c.get('landed_rows')} of "
                                f"{rec['zip_rows']} rows, table {c.get('table_rows')}")
                failed.add(p["idx"])
        bad = check_oracles(data, work / "pass-0" / "report", refs["oracle_sql"],
                            args.perturb)
        if bad:
            problems += bad
            failed.add(0)
    elif w == "curation":
        recall = ref_pass["checks"].get("lsh_recall", 0.0)
        if args.perturb == "oracle":
            recall = 0.0
        if recall < 0.9:
            problems.append(f"curation: LSH recall {recall} < 0.9")
            failed.add(0)
        for p in passes:
            if any(p["checks"].get(f"{g}_rows", 0) <= 0 for g in ("bfs", "sssp", "pagerank")):
                problems.append(f"pass {p['idx']}: empty graph output {p['checks']}")
                failed.add(p["idx"])
    return failed, problems


def layer_values(rec, spawn):
    passes = rec["passes"]
    traced = [p for p in passes if p["kind"] == "traced"]
    untraced = [p for p in passes if p["kind"] == "untraced"]
    per = [metrics.pass_layers(p, rec["spans"], rec["jobs"], rec["counters"],
                               {s["pass"]: s["bytes"] for s in rec["peak_storage"]},
                               rec["cores"], rec["graph_rounds"], rec["gates"])
           for p in traced]
    vals = {k: metrics.median([v[k] for v in per]) for k in per[0]}
    vals["jvm.jit_s"] = metrics.median([p["jit_s"] for p in untraced])
    vals["jvm.gc_cpu_s"] = metrics.median([p["gc_cpu_s"] for p in untraced])
    vals["jvm.start_to_main_s"] = rec["setup"]["main_at"] - spawn
    vals["sessions.build_s"] = rec["setup"]["ready_at"] - rec["setup"]["main_at"]
    vals["ingest.bytes_in"] = rec["zip_bytes"]
    vals["leak.persisted_rdds"] = metrics.median([p["persisted_rdds"] for p in untraced])
    base = metrics.median([p["wall_s"] for p in untraced])
    vals["trace.overhead_frac"] = metrics.median([p["wall_s"] for p in traced]) / base - 1
    vals["bench.traced_passes"] = len(traced)
    vals["host.steal_frac"] = rec["steal_frac"]
    return vals


def e2e_values(rec, spawn, failed):
    timed = [p for p in rec["passes"] if p["kind"] == "timed"]
    wall = metrics.median([p["wall_s"] for p in timed])
    return {
        "setup_s": rec["setup"]["ready_at"] - spawn,
        "wall_s": wall,
        "rows_per_s": rec["input_rows"] / wall,
        "cpu_s": metrics.median([p["cpu_s"] for p in timed]),
        "peak_rss_mb": rec["peak_rss_mb"],
        "stored_bytes_per_input_byte": metrics.median(
            [p["stored_bytes"] for p in timed]) / rec["input_bytes"],
        "ok_frac": 1 - len(failed) / len(rec["passes"]),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # Check polarity: corrupt one reference so the run must fail.
    ap.add_argument("--perturb", choices=("oracle", "fingerprint"),
                    help=argparse.SUPPRESS)
    args = ap.parse_args()

    t_start = time.time()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    errs = metrics.validate_benchmark(bench)
    if errs:
        sys.exit("BENCHMARK.json: " + "; ".join(errs))
    try:
        build.build()
    except (OSError, RuntimeError, subprocess.SubprocessError) as e:
        sys.exit(f"cannot build graft: {e}")

    sf = SCALE[args.workload]
    work = ROOT / ".bench_work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    data = work / "data"
    log = work / "jvm.log"
    try:
        j0 = cpu_jiffies()
        rec, spawn = jvm(["--workload", args.workload,
                      "--seed", str(args.seed), "--sf", str(sf),
                      "--seconds", str(args.seconds), "--trace", str(args.trace),
                      "--data", str(data)], work, log)
        failed, problems = check_record(rec, args, work, data)
        j1 = cpu_jiffies()
        rec["steal_frac"] = steal = (j1[1] - j0[1]) / max(1, j1[0] - j0[0])
        print(f"[perfbench] {args.workload} seed={args.seed} steal={steal:.1%} "
              f"gen={rec['gen_s']:.1f}s "
              f"prepare={rec['prepare_s']:.1f}s passes=" + " ".join(
                  f"{p['kind'][0]}{p['wall_s']:.2f}+{p['check_s']:.2f}"
                  f"/cpu{p['cpu_s']:.1f}/jit{p['jit_s']:.1f}/gc{p['gc_cpu_s']:.1f}"
                  for p in rec["passes"]) + f" total={time.time() - t_start:.1f}s",
              file=sys.stderr)
        if args.trace:
            names = bench["per_layer"]
            vals = layer_values(rec, spawn)
            (ROOT / ".bench_work" / f"{args.workload}-trace.json").write_text(
                json.dumps(rec))
        else:
            names = bench["end_to_end"]
            vals = e2e_values(rec, spawn, failed)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print("CHECK FAILED:", p, file=sys.stderr)
    missing = [m["name"] for m in names if m["name"] not in vals]
    if missing:
        sys.exit(f"metrics not computed: {missing}")
    result = {
        "correct": not problems,
        "attempted": len(rec["passes"]),
        "failed": len(failed),
        "metrics": {m["name"]: {"value": vals[m["name"]], "unit": m["unit"]}
                    for m in names},
    }
    print(json.dumps(result))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
