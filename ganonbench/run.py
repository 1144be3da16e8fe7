"""ganonspark benchmark: one workload, one seed, one run.

Usage (from the repository root):
  python3 ganonbench/run.py --workload corpus_build_classify --seed 1 \
      --seconds 5 --trace 0

Builds the program from source if needed (ganonbench/build.py), runs the
workload in one JVM at local[nproc], checks every operation's result, and
prints as its last line one JSON object with `correct`, `attempted`,
`failed` and `metrics` (end-to-end metrics when --trace 0, per-layer
metrics when --trace 1). The line before it carries the box facts. The
full result, with spans and per-cycle samples, is written under
.bench_build/ganonbench/results/.
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
import stats  # noqa: E402

WORKLOADS = ("corpus_build_classify", "store_update_classify")
JVM_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return ap.parse_args()


def run_jvm(jar, root, a):
    base = os.path.join(root, build.BUILD_DIR)
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw_path = os.path.join(work, "raw.json")
    log_path = os.path.join(base, "last-jvm.log")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cp = os.pathsep.join([jar] + build.spark_jars())
    # class-data sharing: the first run dumps the loaded classes, later runs
    # map them instead of loading Spark's classes one by one
    jsa = build.archive_path(root)
    share = (f"-XX:SharedArchiveFile={jsa}" if os.path.exists(jsa)
             else f"-XX:ArchiveClassesAtExit={jsa}.new")
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}", share] +
           opens +
           ["-cp", cp, "graft.bench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", raw_path])
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=root, stdout=log, stderr=subprocess.STDOUT)
            try:
                code = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                raise SystemExit(f"harness exceeded {JVM_TIMEOUT_S} s; log: {log_path}")
        if code != 0 or not os.path.exists(raw_path):
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            raise SystemExit(f"harness failed with exit code {code}; log: {log_path}")
        if os.path.exists(jsa + ".new"):
            os.replace(jsa + ".new", jsa)
        with open(raw_path) as f:
            return json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    a = parse_args()
    root = os.getcwd()
    t0 = time.time()
    jar = build.ensure_built(root)
    build_s = time.time() - t0
    raw = run_jvm(jar, root, a)
    result = stats.summarize(raw, a.trace == 1)

    full = dict(result)
    full.update({
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "run_id": raw["run_id"], "box": raw["box"], "build_s": build_s,
        "cycles_ok": len(stats.ok_cycles(raw)), "cycles": raw["cycles"],
        "cycle_tail": stats.tail(stats.cycle_totals(raw)),
        "setup_samples_s": raw["setup_s"], "phases_s": raw["phases"], "bounds": raw["bounds"],
        "failures": raw["failures"], "spans": stats.layer_spans(raw),
    })
    out_dir = os.path.join(root, build.BUILD_DIR, "results")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(full, f, indent=1)
    print(json.dumps({"box": raw["box"]}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
