"""Smoke check of the benchmark itself, on small inputs.

    python3 graftbench/smoke.py

Runs every workload of BENCHMARK.json once untraced and once traced and
checks that the result line names exactly the metrics BENCHMARK.json lists,
each with its unit, that nothing failed, and that the two runs of
`corpus_batch` (same seed) committed the same output. Exits 1 on the first
problem. Takes a few minutes; the first call also builds.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "1", "--seconds", "3", "--trace", str(trace),
                        "--size", "small"], cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"smoke: {workload} --trace {trace} exited {p.returncode}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for w in spec["workloads"]:
        hashes = []
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            report, result = run(w["name"], trace)
            where = f"{w['name']} --trace {trace}"
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{where}: result keys {sorted(result)}")
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {k: v.get("unit") for k, v in result["metrics"].items()}
            if got != want:
                problems.append(f"{where}: metrics differ from BENCHMARK.json: "
                                f"{sorted(set(got.items()) ^ set(want.items()))}")
            if not all(isinstance(v.get("value"), (int, float))
                       for v in result["metrics"].values()):
                problems.append(f"{where}: a metric value is not a number")
            if not result["correct"] or result["failed"] or report["error_rate"] != 0:
                problems.append(f"{where}: correct={result['correct']} "
                                f"failed={result['failed']} report={report['report']}")
            if result["attempted"] < 1:
                problems.append(f"{where}: attempted={result['attempted']}")
            if "result_hash" in report["report"]:
                hashes.append(report["report"]["result_hash"])
        if len(set(hashes)) > 1:
            problems.append(f"{w['name']}: same seed, different outputs {hashes}")
        print(f"smoke: {w['name']} checked", flush=True)
    for p in problems:
        print("smoke:", p, file=sys.stderr)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
