"""Self-test of the benchmark, and the counter-determinism audit.

    python3 perfbench/selftest.py            # self-test on tiny inputs
    python3 perfbench/selftest.py --audit    # traced pass twice per workload

The self-test runs every workload once untraced and once traced on tiny
inputs and checks that every metric named in BENCHMARK.json is printed with
its unit, that traced and untraced runs produce identical output digests,
that an injected failing operation raises the error count instead of
aborting the run, and that the benchmark exits non-zero without a result
in a directory holding only BENCHMARK.json and this directory.

The audit runs the traced benchmark twice on one seed per workload and
lists which per-layer counters repeat exactly.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join("perfbench", "run.py")


def bench(workload: str, seed: int, trace: int, *extra: str, cwd: str = ROOT):
    """Run the benchmark; returns (exit code, summary dict, result dict)."""
    proc = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    summary = next((json.loads(x[len("perfbench "):]) for x in lines if x.startswith("perfbench ")), None)
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return proc.returncode, summary, result


def selftest(spec: dict) -> list[str]:
    errors = []
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    wanted = {0: [m["name"] for m in spec["end_to_end"]], 1: [m["name"] for m in spec["per_layer"]]}
    for w in (x["name"] for x in spec["workloads"]):
        digests = {}
        for trace in (0, 1):
            code, summary, result = bench(w, 7, trace, "--scale", "tiny")
            tag = f"{w} trace={trace}"
            if code != 0 or result is None:
                errors.append(f"{tag}: exit {code}, no result")
                continue
            if not result["correct"] or result["failed"]:
                errors.append(f"{tag}: failed ops {summary['failed_ops']}")
            got = result["metrics"]
            for name in wanted[trace]:
                if name not in got or got[name]["unit"] != units[name]:
                    errors.append(f"{tag}: metric {name} missing or wrong unit")
            digests[trace] = summary["output_digest"]
            print(f"ok {tag}: {result['attempted']} ops, digest {summary['output_digest']}")
        if len(set(digests.values())) != 1:
            errors.append(f"{w}: traced and untraced output digests differ {digests}")

    code, summary, result = bench("relational_etl", 7, 0, "--scale", "tiny", "--inject-failure")
    if code != 0 or result is None:
        errors.append("injected failure aborted the run")
    elif result["failed"] != 1 or result["correct"] or summary["error_rate"] <= 0:
        errors.append(f"injected failure not counted: {result['failed']} failed")
    else:
        print(f"ok injected failure: {result['failed']}/{result['attempted']} failed, "
              f"error_rate {summary['error_rate']:.3f}")

    bare = os.path.join(HERE, "_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("_work", "_results", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        code, _, result = bench("relational_etl", 7, 0, cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if code == 0 or result is not None:
        errors.append("benchmark succeeded without the engine")
    else:
        print(f"ok without the engine: exit {code}, no result")
    return errors


def audit(spec: dict, seed: int) -> None:
    """Per-layer counters (non-time units) that repeat exactly across two
    traced runs of one seed."""
    counters = [m["name"] for m in spec["per_layer"] if m["unit"] in ("count", "bytes", "ratio")]
    for w in (x["name"] for x in spec["workloads"]):
        runs = [bench(w, seed, 1)[2]["metrics"] for _ in range(2)]
        same = [c for c in counters if runs[0][c]["value"] == runs[1][c]["value"]]
        differ = {c: (runs[0][c]["value"], runs[1][c]["value"]) for c in counters if c not in same}
        print(json.dumps({"workload": w, "seed": seed, "repeat_exactly": same, "differ": differ}))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--audit", action="store_true")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.audit:
        audit(spec, args.seed)
        return 0
    errors = selftest(spec)
    for e in errors:
        print("FAIL", e)
    print("selftest", "failed" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
