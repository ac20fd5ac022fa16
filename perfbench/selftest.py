"""Self-test of the benchmark: every workload, untraced once and traced
twice. Run from the repository root:

    python3 perfbench/selftest.py

It asserts that every metric named in BENCHMARK.json is printed with its
unit, that nothing failed, and that the Spark job, stage and task counts
are identical across the two traced runs. Takes about six minutes on
four cores.
"""

from __future__ import annotations

import json
import subprocess
import sys

REPEATED = ("spark.jobs", "spark.stages", "spark.tasks")


def run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace)]
    out = subprocess.run(cmd, check=True, capture_output=True, text=True, timeout=600)
    record, result = (json.loads(line) for line in out.stdout.splitlines()[-2:])
    return record, result


def main() -> int:
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    problems = []
    for w in bench["workloads"]:
        name = w["name"]
        counts = []
        for trace, key in ((0, "end_to_end"), (1, "per_layer"), (1, "per_layer")):
            record, result = run(name, trace)
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != want:
                problems.append(f"{name} trace={trace}: metrics {got} != {want}")
            if result["failed"] or not result["correct"] or result["attempted"] < 1:
                problems.append(f"{name} trace={trace}: {record['problems']}")
            if trace:
                if result["metrics"]["failed_ratio"]["value"] != 0:
                    problems.append(f"{name}: failed_ratio is not 0")
                counts.append({k: result["metrics"][k]["value"] for k in REPEATED})
            print(f"{name} trace={trace}: ok" if not problems else problems[-1], flush=True)
        if counts[0] != counts[1]:
            problems.append(f"{name}: traced runs differ {counts[0]} != {counts[1]}")
    if problems:
        print("\n".join(problems), file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
