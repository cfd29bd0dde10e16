#!/usr/bin/env python3
"""Runs one workload of the transcript-kg benchmark and prints its result.

    python3 kgbench/run.py --workload batch_large --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark from source first (kgbench/build.py),
then starts one JVM that runs the workload on a local Spark session with as
many cores as the host has. The last line of standard output is the result
object {"correct", "attempted", "failed", "metrics"}; --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones. Everything the run writes
stays under .bench_build/ in the checkout; the run's artifact (all samples,
checks, contention readings, session settings, spans) is kept in
.bench_build/results/. See kgbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("batch_large", "incremental_commits")
JVM_TIMEOUT_S = 170
HEAP = "3g"
YOUNG = "1g"
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def parse():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (1.0 is the benchmark; smaller for smoke runs)")
    return ap.parse_args()


def main():
    a = parse()
    if not (build.ROOT / "src" / "main" / "scala" / "graft").is_dir():
        print("kgbench: engine sources (src/main/scala/graft) not found; "
              "run from a full checkout", file=sys.stderr)
        return 2
    build.BUILD.mkdir(exist_ok=True)
    cp = build.build()
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = build.BUILD / "runs" / f"{name}-{os.getpid()}"
    scratch = build.BUILD / "spark-local" / str(os.getpid())
    results = build.BUILD / "results"
    for d in (work, scratch, results):
        d.mkdir(parents=True, exist_ok=True)
    result_file = work / "result.json"
    env = dict(os.environ)
    # Spark's scratch dir is pinned here, not left to the engine's default,
    # so a change of that default cannot move the numbers unnoticed
    env["SPARK_GRAFT_LOCAL_DIR"] = str(scratch)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
            # a fixed young generation: adaptive resizing would keep changing
            # collection cost for the whole run
            f"-Xmn{YOUNG}", "-XX:-UseAdaptiveSizePolicy", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={scratch}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in OPENS]
           + ["-cp", cp, "kgbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--scale", str(a.scale),
              "--work-dir", str(work), "--result", str(result_file)])
    proc = subprocess.Popen(cmd, env=env, cwd=str(build.ROOT))

    def stop(*_):
        # a run that is stopped stops its JVM, and waits for it, first
        proc.kill()
        proc.wait()
        sys.exit(1)

    signal.signal(signal.SIGTERM, stop)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"kgbench: {name} exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
        code = -1
    try:
        for f in ("artifact.json", "spans.jsonl"):
            if (work / f).is_file():
                shutil.copy(work / f, results / f"{name}.{f}")
        result = json.loads(result_file.read_text()) if result_file.is_file() else None
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(scratch, ignore_errors=True)
    if result is None:
        print(f"kgbench: {name} produced no result (exit {code})", file=sys.stderr)
        return 1
    sys.stdout.flush()
    print(json.dumps(result))
    return 0 if code == 0 and result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
