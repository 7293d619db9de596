#!/usr/bin/env python3
"""graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload {curate_batch,report_mix,stream_persist}
        [--seed N] [--seconds S] [--trace 0|1] [--cores K]
        [--ref-rate R] [--burst-lines N] [--lat-limit-ms MS] [--keep]

Builds graft plus the JVM harness from source (cached by content stamp
in `.bench_build/`), generates the workload's inputs from the seed into
a fresh run directory, runs the workload in a fresh JVM on Spark
`local[K]`, checks the outputs for correctness and prints one JSON
object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics (0 for a layer the workload does
not touch). See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
from config import CONFIG  # noqa: E402

# a run must end within 180 s; the JVM is killed before that
DEADLINE_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def stream_phases(ref_rate, burst_lines, seconds):
    """stream_persist's file schedule, in landing order. Set-up: warm-up
    files at the reference rate, landed at once. Then `segments`
    segments, each an open loop of lead-in files (untimed; `settle_s`
    for the first segment, `lead_s` for the others) and reference files
    for an equal share of the timed seconds, due one file every
    `file_interval_s`, then one capacity burst of `burst_lines` lines
    landed at once."""
    s = CONFIG["stream"]
    fi = s["file_interval_s"]
    per_file = max(1, round(ref_rate * fi))

    def paced(phase, secs):
        return {"phase": phase, "files": round(secs / fi),
                "lines_per_file": per_file, "interval_s": fi}

    def burst(phase):  # one file, so no batch reads half a burst
        return {"phase": phase, "files": 1, "lines_per_file": burst_lines,
                "interval_s": 0.0}
    n = s["segments"]
    return [paced("warmup", s["warmup_s"]),
            *(ph for i in range(n) for ph in (
                paced(f"lead{i}", s["settle_s"] if i == 0 else s["lead_s"]),
                paced(f"ref{i}", seconds / n),
                burst(f"burst{i}")))]


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["curate_batch", "report_mix", "stream_persist"])
    ap.add_argument("--seed", type=int, default=CONFIG["default_seed"])
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=2, help="Spark local[k]")
    ap.add_argument("--ref-rate", type=float, default=250,
                    help="stream_persist reference rate, lines/s")
    ap.add_argument("--burst-lines", type=int, default=8000,
                    help="stream_persist lines per capacity burst")
    ap.add_argument("--lat-limit-ms", type=float, default=3000,
                    help="stream_persist p90 limit behind stream.ref_rate_ok")
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    a = ap.parse_args()

    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.is_file():
        fail(f"{spec_path} missing")
    spec = json.loads(spec_path.read_text())
    try:
        classes = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        fail(f"build failed: {e}")

    run_dir = ROOT / ".bench_build" / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        result = run(a, classes, jars, run_dir, t_start)
    finally:
        if not a.keep:
            shutil.rmtree(run_dir, ignore_errors=True)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        got = result["metrics"].get(m["name"])
        if got is None and not a.trace:
            fail(f"end-to-end metric {m['name']} not measured")
        metrics[m["name"]] = {"value": got["value"] if got else 0.0, "unit": m["unit"]}
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))


def run(a, classes, jars, run_dir, t_start):
    cfg = dict(CONFIG)
    cfg["stream"] = dict(cfg["stream"], lat_limit_ms=a.lat_limit_ms,
                         phases=stream_phases(a.ref_rate, a.burst_lines, a.seconds))
    plan = gen.generate(str(run_dir), a.seed, a.workload, cfg)
    (run_dir / "plan.json").write_text(json.dumps(plan))
    cmd = [build.java(), "-Xmx3g", "-XX:+UseParallelGC", *build.ADD_OPENS,
           "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dderby.system.home={run_dir}",
           "-cp", f"{classes}:{jars}/*", "graft.perfbench.Harness",
           str(run_dir / "plan.json"), str(run_dir), str(a.seconds),
           str(a.trace), str(a.cores)]
    (run_dir / "tmp").mkdir(exist_ok=True)
    with open(run_dir / "jvm.log", "w") as log:
        try:
            p = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir,
                               timeout=max(10, DEADLINE_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            fail("JVM timed out")
    if p.returncode != 0 or not (run_dir / "result.json").is_file():
        tail = (run_dir / "jvm.log").read_text()[-3000:]
        fail(f"JVM exited {p.returncode}:\n{tail}")
    res = json.loads((run_dir / "result.json").read_text())
    if a.workload == "stream_persist":
        checks, check_fails = 2, oracle.check_stream(res["stream_out"])
    else:
        checks = len(res["verify"])
        check_fails = oracle.check_entries(plan["data"], res["verify"])
    for f in res["errors"] + check_fails:
        print(f"perfbench: FAIL {f}", file=sys.stderr)
    failed = int(res["failed"]) + len(check_fails)
    metrics = dict(res["metrics"])
    metrics["peak_rss_mb"] = {"value": res["peak_rss_mb"], "unit": "MB"}
    shown = ("passes", "rounds", "ref_samples", "capacity", "entry_s")
    print(f"perfbench: {a.workload} seed={a.seed} wall={time.time() - t_start:.1f}s "
          f"{ {k: v for k, v in res.items() if k in shown} }", file=sys.stderr)
    return {"correct": failed == 0, "attempted": int(res["attempted"]) + checks,
            "failed": failed, "metrics": metrics}


if __name__ == "__main__":
    main()
