"""Runs one benchmark workload and prints its metrics.

  python3 perfbench/run.py --workload <server_mixed|pipeline_entries>
                           --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness if needed (build.py), runs the harness in
a fresh JVM, checks the outputs, prints one line per failed op, and ends with
one JSON line: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones of BENCHMARK.json; with --trace 1 the
per-layer ones, from a traced window that follows an untraced one in the same
JVM, whose samples give the tracing overhead.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # leave the benchmark's directory as committed
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import stats  # noqa: E402

ROOT = HERE.parent
WORKLOADS = ("server_mixed", "pipeline_entries")
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# a run must end within 180 s of the build
RUN_BUDGET_S = 170


def harness(classes, workload, seed, seconds, traced, deadline):
    """One harness run in its own work dir; returns its raw record."""
    work = ROOT / ".bench_build" / "runs" / f"{workload}-s{seed}-t{int(traced)}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cpus = min(4, os.cpu_count() or 1)
    # TieredStopAtLevel=1: C1 only. A run's JVM lives about a minute; C2 was
    # still compiling through the timed window, and timings were slower and
    # less even with it than without.
    cmd = (["java", *JAVA_OPENS, "-XX:TieredStopAtLevel=1", "-Xmx3g",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dperfbench.data={HERE / 'data' / 'sf0.01'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", build.jvm_classpath(*classes), "perfbench.Harness",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if traced else "0", "--work", str(work), "--cpus", str(cpus)])
    with open(work / "harness.log", "w") as log:
        proc = subprocess.run(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                              timeout=max(1.0, deadline - time.monotonic()))
    raw_file = work / "raw.json"
    if proc.returncode != 0 or not raw_file.exists():
        tail = (work / "harness.log").read_text(errors="replace")[-3000:]
        raise SystemExit(f"harness exited {proc.returncode}:\n{tail}")
    raw = json.loads(raw_file.read_text())
    # keep the record, the spans and the log; drop stores and scratch
    for p in work.iterdir():
        if p.is_dir():
            shutil.rmtree(p, ignore_errors=True)
    return raw


def check(raw):
    """Outputs the harness leaves to this side: pipeline fingerprints."""
    if raw["workload"] != "pipeline_entries":
        return []
    expected = json.loads((HERE / "fingerprints.json").read_text())
    return [f"FAILED workload={raw['workload']} seed={raw['seed']} client=c0 op=entry "
            f"{msg}" for msg in stats.fingerprint_mismatches(raw["fingerprints"], expected)]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    classes = build.build()

    raw = harness(classes, a.workload, a.seed, a.seconds, bool(a.trace),
                  time.monotonic() + RUN_BUDGET_S)
    if a.trace:
        values, wanted = stats.per_layer(raw), spec["per_layer"]
    else:
        values, wanted = stats.end_to_end(raw), spec["end_to_end"]

    mismatches = check(raw)
    for line in raw["failures"] + mismatches:
        print(line)
    attempted, failed = stats.tally([raw], mismatches)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
