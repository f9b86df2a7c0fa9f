#!/usr/bin/env python3
"""graft's benchmark: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the library and the harness on first
use (see build.py), generates the workload's inputs from --seed, runs it for
--seconds in one JVM and checks every operation's output. The last line of
stdout is one JSON object: correct, attempted, failed and metrics (the
end-to-end metrics with --trace 0, the per-layer ones with --trace 1). The
line before it carries the run's detail: seed, nproc, load average, JVM
flags, operation counts, p90 where at least 100 operations ran, and any
failed checks. See README.md for workloads and metrics.
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

sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ["backfill", "incremental", "audience_cdc", "dedup"]

# Spark 4 on JDK 17 outside spark-submit needs these opens
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

FIRST_RUN_LIMIT_S = 880  # a run that compiled first
RUN_LIMIT_S = 175


def jvm_command(classes: Path, work: Path, args, spans: Path) -> list:
    flags = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")]
    flags += [
        "-Xmx3g",
        # compile Spark's driver-side planning code after fewer calls, so op
        # times stop drifting down sooner (see Main's settle phase)
        "-XX:CompileThresholdScaling=0.1",
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
        "-Dspark.ui.enabled=false",
        "-Dspark.driver.host=127.0.0.1",
        "-Dspark.driver.bindAddress=127.0.0.1",
        f"-Dlog4j2.configurationFile={build.ROOT / 'perfbench' / 'log4j2.properties'}",
    ]
    cp = f"{classes}:{build.spark_jars()}/*"
    return [build.java(), *flags, "-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--scale", args.scale, "--work", str(work),
            "--out", str(work / "result.json"), "--spans", str(spans)]


def cpu_steal_s() -> float:
    """Seconds of CPU time the hypervisor gave to other guests, summed over
    this machine's CPUs (the steal column of /proc/stat); 0 where unknown."""
    try:
        fields = Path("/proc/stat").read_text().split("\n", 1)[0].split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "toy"], default="full",
                    help="input size; toy is for the self-test")
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    start = time.monotonic()
    stamp_before = (build.CLASSES / ".stamp").read_text() if (build.CLASSES / ".stamp").is_file() else None
    try:
        classes = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    compiled = stamp_before != (classes / ".stamp").read_text()
    limit = FIRST_RUN_LIMIT_S if compiled else RUN_LIMIT_S
    print(f"[perfbench] build {'compiled' if compiled else 'up to date'} in {time.monotonic() - start:.1f} s",
          file=sys.stderr, flush=True)

    work = build.BUILD / "runs" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    spans = build.BUILD / "spans" / f"{args.workload}-seed{args.seed}.jsonl"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    spans.parent.mkdir(parents=True, exist_ok=True)

    steal0 = cpu_steal_s()
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    proc = subprocess.Popen(jvm_command(classes, work, args, spans), cwd=build.ROOT, env=env,
                            stdout=sys.stderr, stderr=sys.stderr)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        code = proc.wait(timeout=max(1.0, limit - (time.monotonic() - start)))
    except subprocess.TimeoutExpired:
        print(f"[perfbench] run exceeded {limit} s; stopped", file=sys.stderr)
        code = None
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    print(f"[perfbench] JVM exited with {code} after {time.monotonic() - start:.1f} s", file=sys.stderr)
    try:
        if code != 0:
            print(f"[perfbench] benchmark JVM failed (exit {code})", file=sys.stderr)
            return 1
        result = json.loads((work / "result.json").read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    detail = result.pop("detail")
    # runs whose CPUs were partly taken by other guests read slow; this tells them apart
    detail["cpu_steal_s"] = cpu_steal_s() - steal0
    for e in detail["errors"]:
        print(f"[perfbench] failed check: {e}", file=sys.stderr)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
