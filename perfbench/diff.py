"""Compare the per-layer metrics of two traced runs.

    python3 perfbench/diff.py A B

A and B are trace files (``<build>/traces/*.json``, written by a run with
``--trace 1``) or files whose last line is a traced run's result. Prints every
per-layer metric of both runs with its relative change, and flags any change
in the exact counters: the counts that repeat exactly between two runs of the
same code and seed, however loaded the host. Exits 1 when an exact counter
differs, so a change to one is evidence of a change in the work done.
"""
import json
import sys

EXACT = [
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
    "cdc.events_in", "cdc.change_rows", "sources.jdbc_history_rows", "queries.build_jobs",
    "streaming.jobs_per_batch", "streaming.state_bytes_written",
    "shuffle.write_bytes", "shuffle.read_bytes",
]


def load(path):
    with open(path) as f:
        text = f.read()
    try:
        doc = json.loads(text)
    except ValueError:
        doc = json.loads([l for l in text.splitlines() if l.strip()][-1])
    result = doc.get("result", doc)
    return doc.get("meta", {}), {k: v["value"] for k, v in result["metrics"].items()}


def exact_deltas(a, b):
    """Exact counters whose values differ between metric maps a and b."""
    return [k for k in EXACT if a.get(k) != b.get(k)]


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    (ma, a), (mb, b) = load(argv[1]), load(argv[2])
    for k in ("workload", "seed", "k", "source_hash"):
        if ma.get(k) != mb.get(k):
            print(f"note: {k} differs: {ma.get(k)} vs {mb.get(k)}")
    flagged = exact_deltas(a, b)
    print(f"{'metric':34} {'A':>16} {'B':>16} {'change':>9}")
    for k in sorted(set(a) | set(b)):
        va, vb = a.get(k), b.get(k)
        rel = f"{(vb - va) / va:+.1%}" if va and vb is not None else ""
        mark = "  <- exact counter changed" if k in flagged else ""
        print(f"{k:34} {va!s:>16} {vb!s:>16} {rel:>9}{mark}")
    if flagged:
        print(f"{len(flagged)} exact counter(s) changed: {', '.join(flagged)}")
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
