#!/usr/bin/env python3
"""Benchmark of the Spark ETL/BI/LLM-pipeline engine in this repository.

Run from the repository root:

    python3 perfbench/run.py --workload bi_star --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py compare A.json B.json

The first run builds the program and the benchmark client from source
with sbt (`perfbench/build.sbt`); later runs reuse that build until a
source file changes. Each run starts one JVM (`perfbench.Main`), a
closed-loop client of the program at `local[nproc]`, and reduces its raw
records to metrics here. Query outputs are checked against the DuckDB
oracle SQL the program ships (`SparkEntry.oracleSql`).

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: every end-to-end metric
of BENCHMARK.json with `--trace 0`, every per-layer metric with
`--trace 1`. The full result, with its provenance stamp, is written to
`.bench_build/perfbench/results/`.
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
WORK = ROOT / ".bench_build" / "perfbench"
FIXTURES = HERE / "fixtures" / "sf0.1"
PROGRAM_SRC = ROOT / "src" / "main"
BUDGET_S = 170  # a run must end within 180 s; the first one may build
BUILD_BUDGET_S = 840
# a fixed heap: peak RSS then shows the program's memory, not the run-to-run
# choices of the collector's heap sizing
HEAP = ["-Xms2g", "-Xmx2g"]

sys.path.insert(0, str(HERE))
import report  # noqa: E402


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    roots = [PROGRAM_SRC, HERE / "src" / "main"]
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for r in roots:
        files += [p for p in r.rglob("*") if p.is_file()]
    return sorted(files)


def build():
    """Compile program + client; cache the classpath and JVM options."""
    stamp = WORK / "classpath.json"
    newest = max(p.stat().st_mtime for p in sources())
    if stamp.exists() and stamp.stat().st_mtime >= newest:
        return json.loads(stamp.read_text())
    WORK.mkdir(parents=True, exist_ok=True)
    log("building program and benchmark client with sbt")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export perfbench/Runtime/fullClasspath", "show perfbench/javaOptions"],
        cwd=HERE, capture_output=True, text=True, timeout=BUILD_BUDGET_S,
        # resolve dependencies from the local cache only
        env={**os.environ, "COURSIER_MODE": os.environ.get("COURSIER_MODE", "offline")})
    (WORK / "build.log").write_text(out.stdout + out.stderr)
    lines = out.stdout.splitlines()
    cp = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    # `show` lists a Seq setting one "[info] * <item>" line per item
    jvm = [l[len("[info] * "):] for l in lines if l.startswith("[info] * ")]
    if out.returncode != 0 or not cp or not jvm:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    jvm = [o for o in jvm if not o.startswith("-Xmx")]
    res = {"classpath": cp[-1], "jvm": jvm}
    stamp.write_text(json.dumps(res))
    return res


def run_client(b, args, run_dir, raw_path, deadline):
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    cmd = [str(java), *b["jvm"], *HEAP, f"-Djava.io.tmpdir={tmp}", "-cp", b["classpath"],
           "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--fixtures", str(FIXTURES), "--work", str(run_dir), "--out", str(raw_path)]
    logf = WORK / "logs" / f"{args.workload}-s{args.seed}-t{args.trace}.log"
    logf.parent.mkdir(parents=True, exist_ok=True)
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"perfbench: client exceeded the time budget, see {logf}")
    if rc != 0 or not raw_path.exists():
        sys.stderr.write(logf.read_text()[-6000:])
        raise SystemExit(f"perfbench: client exited with {rc}, see {logf}")


def main(argv):
    if argv[:1] == ["compare"]:
        return report.compare_files(argv[1:])
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    start = time.monotonic()
    if not (PROGRAM_SRC / "scala" / "graft").is_dir() or not FIXTURES.is_dir():
        raise SystemExit("perfbench: program sources or fixtures not found; "
                         "run from the root of a full checkout")
    b = build()
    run_dir = WORK / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    raw_path = run_dir / "raw.json"
    # a build may use the first run's extra time; the client itself always
    # gets BUDGET_S less what the run spent before it (up to 10 s)
    run_client(b, args, run_dir, raw_path,
               time.monotonic() + BUDGET_S - min(10, time.monotonic() - start))
    raw = json.loads(raw_path.read_text())
    mismatches = report.oracle_check(FIXTURES, run_dir / "check", raw["checks"], WORK / "oracle")
    result = report.reduce(raw, mismatches)
    result["provenance"] = report.provenance(ROOT, FIXTURES, sources(), raw)
    res_dir = WORK / "results"
    res_dir.mkdir(parents=True, exist_ok=True)
    res_file = res_dir / f"{args.workload}-s{args.seed}-t{args.trace}.json"
    res_file.write_text(json.dumps(result, indent=1, sort_keys=True))
    for name, m in result["metrics"].items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    if result["failed_ops"]:
        print(f"{args.workload} failed ops: {', '.join(result['failed_ops'])}")
    print(f"{args.workload} full result: {res_file.relative_to(ROOT)}")
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
