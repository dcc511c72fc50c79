"""Runs one workload of the XML benchmark and prints its result.

    python3 xmlbench/run.py --workload xml_scan --seed 1 --seconds 10 --trace 0

Workloads: xml_scan, curate, lake_ingest (see xmlbench/README.md).
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
--size smoke runs tiny fixtures; --corrupt plants one wrong value in the
XML (not in the generating frame), so its op must count as failed.

The last stdout line is one JSON object with the keys correct, attempted,
failed and metrics. Lines above it are the human-readable report. The full
record, with every measured value, is also written to
.bench_build/xmlbench/results/ for xmlbench/counter_diff.py.
"""
import argparse
import json
import os
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("xml_scan", "curate", "lake_ingest")
RUN_TIMEOUT_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def generator_fingerprint():
    """The fixture cache key's generator part: the generator source and XSDs."""
    paths = [os.path.join(build.BENCH_SRC, "xbench", "Fixtures.scala")]
    paths += build.files_under(os.path.join(build.BENCH, "xsd"))
    return build.fingerprint(paths)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "smoke"), default="full")
    p.add_argument("--corrupt", action="store_true")
    return p.parse_args(argv)


def main(argv):
    a = parse_args(argv)
    try:
        classes = build.ensure_built()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print("xmlbench: build failed: %s" % e, file=sys.stderr)
        return 2
    work = build.WORK
    for d in ("tmp", "logs", "results"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    threads = min(4, os.cpu_count() or 1)
    tag = "%s-s%d-t%d%s%s" % (a.workload, a.seed, a.trace,
                              "" if a.size == "full" else "-" + a.size,
                              "-corrupt" if a.corrupt else "")
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Xss8m"]
    for m in JDK17_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += [
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dlog4j2.configurationFile=" + os.path.join(build.BENCH, "log4j2.properties"),
        "-cp", build.java_cp(classes), "xbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--size", a.size, "--corrupt", "1" if a.corrupt else "0",
        "--threads", str(threads), "--work", work,
        "--xsd", os.path.join(build.BENCH, "xsd"),
        "--build-fp", os.path.basename(classes)[len("classes-"):],
        "--gen-fp", generator_fingerprint(),
    ]
    log_path = os.path.join(work, "logs", tag + ".log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE,
                                stderr=log, text=True)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            print("xmlbench: run exceeded %d s; log: %s" % (RUN_TIMEOUT_S, log_path),
                  file=sys.stderr)
            return 3
    marker = "XBENCH-RESULT "
    lines = out.splitlines()
    found = [l for l in lines if l.startswith(marker)]
    if proc.returncode != 0 or not found:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        print("xmlbench: driver exited %d without a result" % proc.returncode,
              file=sys.stderr)
        return 4
    for l in lines:
        if not l.startswith(marker):
            print(l)
    full = json.loads(found[-1][len(marker):])
    full.update(workload=a.workload, seed=a.seed, trace=a.trace, size=a.size,
                corrupt=a.corrupt, threads=threads)
    with open(os.path.join(work, "results", tag + ".json"), "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    result = {k: full[k] for k in ("correct", "attempted", "failed", "metrics")}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
