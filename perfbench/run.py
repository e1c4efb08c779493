#!/usr/bin/env python3
"""The repository's benchmark: one command, one workload per process.

Usage (from the repository root):
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --selftest

Workloads: etl_inventory, queries, index_maintenance (see perfbench/README.md).
The first run in a checkout builds the harness (perfbench/build.py). The run
measures for S seconds after its set-up, checks every output, writes the full
result (and, traced, the spans) under .bench_out/, prints each metric with its
unit on stderr and, as the last line of stdout, one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value": v, "unit": u}}}
With --trace 0 the metrics are BENCHMARK.json's end_to_end list; with
--trace 1 its per_layer list (a layer the workload never calls reports 0).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
BENCH = build.BENCH
OUT = ROOT / ".bench_out"
WORK = ROOT / ".bench_work"
HEAP = "3g"
RUN_TIMEOUT_S = 170


def fail(msg, code=1):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def tree_bytes(p):
    return sum(f.stat().st_size for f in Path(p).rglob("*") if f.is_file()) if Path(p).exists() else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true", help="show that every correctness check bites")
    ap.add_argument("--record", help="record reference digests (and query results for scripts/check.py) here")
    ap.add_argument("--etl-shape", help="etl_inventory shape 'K,K,K:N,N,N' (kinds and nodes of aws,gcp,azure)")
    a = ap.parse_args()

    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.is_file():
        fail("BENCHMARK.json not found at the repository root", 2)
    spec = json.loads(spec_path.read_text())
    if not a.selftest:
        names = [w["name"] for w in spec["workloads"]]
        if a.workload not in names:
            fail(f"--workload must be one of {', '.join(names)}", 2)

    try:
        build_dir, jars = build.build_dir()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    if a.selftest:
        print((build_dir / "selftest.json").read_text())
        return

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = WORK / f"{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    OUT.mkdir(exist_ok=True)
    out = OUT / f"{tag}.json"
    spans = OUT / f"{tag}.spans.jsonl"
    for f in (out, spans):
        f.unlink(missing_ok=True)

    cmd = ["java"] + build.jvm_options(HEAP)
    archive = build_dir / "app.jsa"
    if archive.is_file():
        cmd.append(f"-XX:SharedArchiveFile={archive}")
    cmd += [f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", build.classpath(build_dir, jars),
            "graft.perfbench.Bench", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--bench-dir", str(BENCH),
            "--work", str(work), "--out", str(out), "--python", sys.executable]
    if a.record:
        cmd += ["--record", str(Path(a.record).resolve())]
    if a.etl_shape:
        cmd += ["--etl-shape", a.etl_shape]
    t0 = time.time()
    # Spark's scratch space stays inside the run's work root
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=str(ROOT), env=env)

    def stop(*_):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail("stopped")

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"the run did not finish within {RUN_TIMEOUT_S} s")
    left_in_work = tree_bytes(work)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not out.is_file():
        fail(f"the benchmark process exited with code {code}")

    rec = json.loads(out.read_text())
    rec["wall_s"] = time.time() - t0
    rec["disk"] = {"left_in_work_root_bytes": left_in_work, "results_bytes": tree_bytes(OUT),
                   "build_bytes": tree_bytes(build.BUILD_ROOT)}
    out.write_text(json.dumps(rec, indent=1))

    if a.trace == 0:
        metrics = {m["name"]: {"value": rec["end_to_end"][m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    else:
        metrics = {m["name"]: {"value": rec["per_layer"].get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    for n, m in metrics.items():
        print(f"[perfbench] {a.workload} {n} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    for f in rec["failures"][:10]:
        print(f"[perfbench] check failed: {f}", file=sys.stderr)
    print(f"[perfbench] full result: {out.relative_to(ROOT)}", file=sys.stderr)
    print(json.dumps({"correct": bool(rec["correct"]), "attempted": int(rec["attempted"]),
                      "failed": int(rec["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
