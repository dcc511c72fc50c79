"""Split a JFR recording's executor-thread CPU samples by layer of the XML scan.

    jfr print --json --events jdk.ExecutionSample run.jfr > run.json
    python3 scripts/jfr_layers.py run.json [TOP]

With TOP, each layer also lists its TOP most sampled methods (the frame
that decided the layer).

Record with `JAVA_TOOL_OPTIONS="-XX:+UnlockDiagnosticVMOptions
-XX:+DebugNonSafepoints -XX:StartFlightRecording=filename=run.jfr,settings=profile"`
set around one `xmlbench/run.py` run. Only samples of Spark's task threads
("Executor task launch worker-N") count. Each sample goes to the
layer of the first frame, from the leaf up, whose class belongs to a layer:

  tokenizer         graft.xml.XmlTokenizer, ByteBuilder, Utf8Transcoder
  row assembly      graft.xml.XmlRecordIterator, StructPlan, RowBuffer
  Spark projection  the generated safe-to-unsafe projection, its row
                    writers, and its per-task code generation
  bench hashing     the whole-stage-generated hash and aggregate of the
                    benchmark's query, and XXH64
  other             everything else (file reads, task set-up, JIT stubs)

So a JDK frame (boxing, array copies) counts for the layer that called it.
"""
import collections
import json
import sys

LAYERS = [
    ("tokenizer", ("graft/xml/XmlTokenizer", "graft/xml/ByteBuilder", "graft/xml/Utf8Transcoder")),
    ("row assembly", ("graft/xml/XmlRecordIterator", "graft/xml/StructPlan", "graft/xml/RowBuffer")),
    ("Spark projection", ("SpecificUnsafeProjection", "codegen/UnsafeRowWriter",
                          "codegen/UnsafeArrayWriter", "codegen/UnsafeWriter",
                          "codegen/BufferHolder", "FileFormat$$anon$1", "codegen/CodeGenerator")),
    ("bench hashing", ("GeneratedIteratorForCodegenStage", "expressions/XXH64",
                       "expressions/XxHash64Function")),
]
ORDER = [name for name, _ in LAYERS] + ["other"]


def layer_of(frames):
    """(layer, the frame that decided it) of one stack, leaf first."""
    for f in frames:
        cls = f["method"]["type"]["name"]
        for name, keys in LAYERS:
            if any(k in cls for k in keys):
                return name, f
    return "other", frames[0] if frames else None


def method(f):
    if f is None:
        return "?"
    return f["method"]["type"]["name"].split("/")[-1] + "." + f["method"]["name"]


def main(path, top=0):
    events = json.load(open(path))["recording"]["events"]
    counts = collections.Counter()
    methods = collections.defaultdict(collections.Counter)
    for e in events:
        thread = e["values"].get("sampledThread") or {}
        if not (thread.get("javaName") or "").startswith("Executor task launch worker"):
            continue
        name, f = layer_of(e["values"]["stackTrace"]["frames"])
        counts[name] += 1
        methods[name][method(f)] += 1
    total = sum(counts.values())
    print("executor-thread samples: %d" % total)
    for name in ORDER:
        n = counts[name]
        print("  %-17s %6d  %5.1f%%" % (name, n, 100.0 * n / total if total else 0.0))
        for m, k in methods[name].most_common(top):
            print("      %6d  %s" % (k, m))


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]) if len(sys.argv) > 2 else 0)
