"""Smoke test of the benchmark itself, at smoke size (sf0.001, a few batches).

    python3 perfbench/smoke_test.py [workload ...]

For each workload (default: all of them, including the ones BENCHMARK.json
leaves out): one untraced run and two same-seed traced runs. Checks that every
metric of BENCHMARK.json is printed with its unit and a finite value, that no
operation failed and the outputs checked correct, and that the exact counters
repeat between the two traced runs. Takes a few minutes.
"""
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import diff  # noqa: E402

WORKLOADS = ["cdc_multi_parquet", "cdc_scd2_jdbc", "sql_contract", "llm_pipeline"]


def run(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
         "--seconds", "2", "--trace", str(trace), "--size", "smoke"],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    assert p.returncode == 0, f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}"
    r = json.loads(p.stdout.splitlines()[-1])
    assert r["correct"] and r["failed"] == 0, f"{workload} trace={trace}: {r}\n{p.stderr[-3000:]}"
    for name, m in r["metrics"].items():
        assert set(m) == {"value", "unit"} and m["unit"], (workload, name, m)
        assert isinstance(m["value"], (int, float)) and math.isfinite(m["value"]), (workload, name, m)
    return {k: v["value"] for k, v in r["metrics"].items()}


def main(workloads):
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in workloads:
        e2e = run(w, 0)
        assert set(e2e) == {m["name"] for m in spec["end_to_end"]}, w
        assert all(v > 0 for v in e2e.values()), (w, e2e)
        a, b = run(w, 1), run(w, 1)
        assert set(a) == {m["name"] for m in spec["per_layer"]}, w
        changed = diff.exact_deltas(a, b)
        assert not changed, f"{w}: exact counters differ between same-seed runs: " + \
            ", ".join(f"{k} {a[k]} vs {b[k]}" for k in changed)
        print(f"ok {w}")


if __name__ == "__main__":
    main(sys.argv[1:] or WORKLOADS)
