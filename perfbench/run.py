"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
        [--size smoke] [--pin 1]

Builds the program and the harness if their sources changed (perfbench/build.py),
runs the workload in one JVM with Spark as local[k], k = min(4, cores), and
prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json, with ``--trace 1`` the
per-layer ones, each labelled with its unit from there. The batch workloads'
result digests are checked here against perfbench/digests.json. A traced run
also writes its spans and counters to ``<build>/traces/``. Run metadata (k, sf, seed, source hash, heap, host
calibration) goes to stderr and into the trace file.

``--size smoke`` runs the workload at smoke scale (sf0.001, a few batches).
``--pin 1`` rewrites perfbench/digests.json with the digests this code
produces; use it only on a commit whose results are known good.
Exits non-zero, without a result line, when the build, the run or the
result's shape fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spec():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def check_digests(raw, pin):
    """Failed checks: query results whose digest differs from the pinned one.

    ``--pin 1`` instead records the digests this code produces."""
    got = raw["digests"]
    if not got:
        return 0
    path = os.path.join(HERE, "digests.json")
    with open(path) as f:
        pinned = json.load(f)
    if pin:
        pinned.setdefault(raw["sf"], {}).update(got)
        with open(path, "w") as f:
            json.dump(pinned, f, indent=2, sort_keys=True)
            f.write("\n")
        return 0
    want = pinned.get(raw["sf"], {})
    bad = [q for q in got if want.get(q) != got[q]]
    for q in bad:
        print(f"[perfbench] {q} digest {got[q]} != pinned {want.get(q)}", file=sys.stderr)
    return len(bad)


def result(raw, trace, failed_checks):
    """The result line: the run's values labelled with the metrics of BENCHMARK.json.

    A per-layer metric of a layer the workload does not exercise reads 0."""
    metrics = spec()["per_layer" if trace else "end_to_end"]
    values = raw["values"]
    unknown = set(values) - {m["name"] for m in metrics}
    assert not unknown, f"values not in BENCHMARK.json: {sorted(unknown)}"
    missing = [m["name"] for m in metrics if m["name"] not in values]
    assert trace or not missing, f"end-to-end metrics missing: {missing}"
    failed = raw["failed"] + failed_checks
    assert isinstance(raw["attempted"], int) and raw["attempted"] >= 1
    return {"correct": failed == 0, "attempted": raw["attempted"], "failed": failed,
            "metrics": {m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]}
                        for m in metrics}}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--size", choices=["full", "smoke"], default="full")
    ap.add_argument("--pin", choices=["0", "1"], default="0")
    a = ap.parse_args()

    classes, jars = build.build()
    t0_ms = int(time.time() * 1000)
    out = build.build_dir()
    work = os.path.join(out, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    trace_out = os.path.join(out, "traces", f"{a.workload}-seed{a.seed}-{t0_ms}.json")
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:+UseParallelGC"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += [f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.stream.error.file={work}/derby.log",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            "-cp", f"{classes}:{jars}/*", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--size", a.size, "--t0-ms", str(t0_ms),
            "--work", work, "--data", os.path.join(out, "data", build.generator_hash()),
            "--meta.source_hash", build.program_hash()]
    if a.trace == "1":
        cmd += ["--trace-out", trace_out]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"[perfbench] run exceeded {TIMEOUT_S}s; stopped", file=sys.stderr)
        stdout = None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if stdout is None or proc.returncode != 0:
        sys.exit(proc.returncode or 1)
    lines = [l for l in stdout.splitlines() if l.strip()]
    try:
        raw = json.loads(lines[-1])
        r = result(raw, a.trace == "1", check_digests(raw, a.pin == "1"))
    except (IndexError, ValueError, KeyError, AssertionError) as e:
        print(f"[perfbench] malformed result: {e!r}", file=sys.stderr)
        sys.exit(1)
    if a.trace == "1":
        with open(trace_out) as f:
            doc = json.load(f)
        doc["result"] = r
        with open(trace_out, "w") as f:
            json.dump(doc, f)
        print(f"[perfbench] trace written to {os.path.relpath(trace_out, build.ROOT)}", file=sys.stderr)
    print(json.dumps(r))


if __name__ == "__main__":
    main()
