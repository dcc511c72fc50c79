"""Flags every host-independent counter that moved between two result files.

    python3 xmlbench/counter_diff.py OLD.json NEW.json

Result files are the records run.py writes to .bench_build/xmlbench/results/.
Compare traced runs (--trace 1) of the same workload, size and seed made on
two commits: jobs, tasks, shuffle bytes, files, stored bytes and row counts
follow from the plan and the data, not from the host, so any difference is a
change in what the program does. Timings are not compared.

Exit status: 0 when nothing moved, 1 when a counter moved, 2 when the files
cannot be compared.
"""
import json
import sys

# Exact counters of the traced run: engine work, lake output, row counts.
COUNTERS = (
    "spark.jobs", "spark.tasks", "spark.shuffle_write_mb",
    "lake.files_written", "lake.bytes_written", "lake.stored_per_xml_byte",
    "scan.records",
    "curate.rows.in", "curate.rows.lang", "curate.rows.quality",
    "curate.rows.exact", "curate.rows.near", "curate.rows.sample",
)
SAME = ("workload", "size", "seed", "trace", "threads")


def counters(record):
    report = record.get("report", {})
    return {k: report[k]["value"] for k in COUNTERS if k in report}


def diff(old, new):
    """Returns (problems, moved): why the records are not comparable, and
    one (name, old, new) per counter that differs or is missing on a side."""
    problems = ["%s differs: %r vs %r" % (k, old.get(k), new.get(k))
                for k in SAME if old.get(k) != new.get(k)]
    if old.get("trace") != 1 or new.get("trace") != 1:
        problems.append("counters are recorded only by traced runs (--trace 1)")
    a, b = counters(old), counters(new)
    moved = [(k, a.get(k), b.get(k)) for k in COUNTERS
             if (k in a or k in b) and a.get(k) != b.get(k)]
    return problems, moved


def main(argv):
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(argv[0]) as f:
        old = json.load(f)
    with open(argv[1]) as f:
        new = json.load(f)
    problems, moved = diff(old, new)
    for p in problems:
        print("not comparable: " + p)
    if problems:
        return 2
    for name, a, b in moved:
        print("MOVED %s: %s -> %s" % (name, a, b))
    same = len(counters(old)) - sum(1 for n, a, _ in moved if a is not None)
    print("%d counters moved, %d unchanged (%s, seed %s)"
          % (len(moved), same, old["workload"], old["seed"]))
    return 1 if moved else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
