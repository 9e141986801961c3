"""The dftlyspark benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload meds_wide --seed 1 --seconds 10 --trace 0

Builds the program from source (build.py), runs the JVM harness
(perfbench.Main) on local[<cores of this process>], prints its report and then,
as the last line, one JSON object with `correct`, `attempted`, `failed` and the
metrics BENCHMARK.json declares: the end-to-end ones with --trace 0, the
per-layer ones with --trace 1. Exits non-zero when an output check fails or an
iteration fails. Everything it writes stays under .bench_build/.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

BENCHMARK = os.path.join(build.ROOT, "BENCHMARK.json")
# a run must end within 180 s; the build before it is not counted
JVM_TIMEOUT_S = 170
HEAP = "3g"
# runnable by hand; the run budget of a full comparison leaves it out of BENCHMARK.json
EXTRA_WORKLOADS = ["clinical_scan"]
# what spark-submit passes on JDK 17 (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    with open(BENCHMARK, encoding="utf-8") as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]] + EXTRA_WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    try:
        classpath = build.build()
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(build.OUT, "run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", args.workload, str(args.seed),
              str(args.seconds), str(args.trace), str(cores), work, result])
    sys.stdout.flush()
    proc = subprocess.Popen(cmd, cwd=build.ROOT)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"benchmark JVM did not finish within {JVM_TIMEOUT_S} s")
    if rc != 0 or not os.path.isfile(result):
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"benchmark JVM exited with code {rc}")

    with open(result, encoding="utf-8") as f:
        res = json.load(f)
    if args.trace:
        traces = os.path.join(build.OUT, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(os.path.join(work, "trace.json"),
                    os.path.join(traces, f"{args.workload}-{args.seed}-{int(time.time())}.json"))
    shutil.rmtree(work, ignore_errors=True)

    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    missing = [m["name"] for m in declared if res["metrics"].get(m["name"], {}).get("value") is None]
    if missing:
        sys.exit(f"metrics not measured: {', '.join(missing)}")
    units = [m["name"] for m in declared if res["metrics"][m["name"]]["unit"] != m["unit"]]
    if units:
        sys.exit(f"metrics measured in another unit than BENCHMARK.json declares: {', '.join(units)}")
    res["metrics"] = {m["name"]: res["metrics"][m["name"]] for m in declared}
    print(json.dumps(res))
    sys.exit(0 if res["correct"] and res["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
