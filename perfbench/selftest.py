#!/usr/bin/env python3
"""Self-test of the benchmark: every workload at toy scale, untraced and
traced, with all correctness checks on, plus the refusal to run without
graft's sources.

    python3 perfbench/selftest.py     # from the repository root, ~4 minutes

Checks that each run exits 0, reports correct with no failed operation, and
prints exactly the metrics BENCHMARK.json declares for its mode.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
RUN = ["python3", "perfbench/run.py"]
sys.dont_write_bytecode = True
sys.path.insert(0, str(ROOT / "perfbench"))
from run import WORKLOADS  # noqa: E402


def run(args, cwd=ROOT):
    return subprocess.run(RUN + args, cwd=cwd, capture_output=True, text=True, timeout=900)


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = {0: {m["name"] for m in spec["end_to_end"]}, 1: {m["name"] for m in spec["per_layer"]}}
    failures = []
    # every workload the harness has, including those BENCHMARK.json leaves out
    for w in WORKLOADS:
        for trace in (0, 1):
            p = run(["--workload", w, "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "toy"])
            tag = f"{w} trace={trace}"
            if p.returncode != 0:
                failures.append(f"{tag}: exit {p.returncode}\n{p.stderr[-3000:]}")
                continue
            result = json.loads(p.stdout.strip().splitlines()[-1])
            got = set(result["metrics"])
            problems = [
                *(["not correct"] if result["correct"] is not True else []),
                *([f"{result['failed']} failed operations"] if result["failed"] else []),
                *(["no operation attempted"] if result["attempted"] < 1 else []),
                *([f"missing metrics {sorted(want[trace] - got)}"] if want[trace] - got else []),
                *([f"undeclared metrics {sorted(got - want[trace])}"] if got - want[trace] else []),
            ]
            print(f"{tag}: {'ok' if not problems else '; '.join(problems)}", flush=True)
            failures += [f"{tag}: {x}" for x in problems]

    # Without graft's sources next to it the benchmark must fail, not report.
    bare = ROOT / ".bench_build" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(ROOT / "perfbench", bare / "perfbench")
    p = run(["--workload", "backfill", "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=bare)
    printed_result = any(line.startswith('{"correct"') for line in p.stdout.splitlines())
    ok = p.returncode != 0 and not printed_result
    print(f"without sources: {'ok' if ok else 'ran anyway'} (exit {p.returncode})")
    if not ok:
        failures.append("ran without graft's sources")
    shutil.rmtree(bare, ignore_errors=True)

    for f in failures:
        print(f"FAIL {f}", file=sys.stderr)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
