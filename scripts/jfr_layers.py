"""Split a JFR recording's CPU samples by layer: the XML scan's executor
threads, or the driver's main thread.

    jfr print --json --events jdk.ExecutionSample run.jfr > run.json
    python3 scripts/jfr_layers.py run.json [TOP]                # task threads

    jfr print --json --stack-depth 2048 \
        --events jdk.ExecutionSample,jdk.NativeMethodSample run.jfr > run.json
    python3 scripts/jfr_layers.py --thread main run.json [TOP]  # driver thread

With TOP, each layer also lists its TOP most sampled methods (the frame
that decided the layer).

Record with `JAVA_TOOL_OPTIONS="-XX:+UnlockDiagnosticVMOptions
-XX:+DebugNonSafepoints -XX:StartFlightRecording=filename=run.jfr,settings=profile"`
set around one `xmlbench/run.py` run. By default only samples of Spark's
task threads ("Executor task launch worker-N") count; `--thread main`
counts the driver's main thread instead. The driver's stacks run deeper
than JFR's default 64 recorded frames and `jfr print`'s default 5 printed
ones, and the layer is decided by a caller far from the leaf: for the
driver view add `-XX:FlightRecorderOptions:stackdepth=1024` to the
recording options and print as above. Native samples (file I/O, forked
`chmod`) count too, since the driver blocks in them. Each sample goes to the layer of
the first frame, from the leaf up, whose class belongs to a layer.

Task-thread layers:

  tokenizer         graft.xml.XmlTokenizer, ByteBuilder, Utf8Transcoder
  row assembly      graft.xml.XmlRecordIterator, StructPlan, RowBuffer
  Spark projection  the generated safe-to-unsafe projection, its row
                    writers, and its per-task code generation
  bench hashing     the whole-stage-generated hash and aggregate of the
                    benchmark's query, and XXH64
  other             everything else (file reads, task set-up, JIT stubs)

Driver-thread layers:

  footer reads            parquet footer opens (ParquetFileReader, its read
                          options, HadoopInputFile) and Versioned's reader
  configuration shipping  the Hadoop configuration a scan broadcasts
                          (SerializableConfiguration, graft.xml.ConfEntries)
                          and the broadcast that serializes it (the only
                          broadcasts the main thread makes in xmlbench)
  Spark planning          Catalyst, query execution and physical planning,
                          file listing and code generation
  other                   everything else; job submission and the Hadoop
                          output committer (job set-up, commit, _SUCCESS)
                          are claimed for it before their caller, the
                          query execution, could count them as planning

So a JDK or Hadoop frame (boxing, array copies, configuration parsing)
counts for the layer that called it.
"""
import argparse
import collections
import json

EXECUTOR_LAYERS = [
    ("tokenizer", ("graft/xml/XmlTokenizer", "graft/xml/ByteBuilder", "graft/xml/Utf8Transcoder")),
    ("row assembly", ("graft/xml/XmlRecordIterator", "graft/xml/StructPlan", "graft/xml/RowBuffer")),
    ("Spark projection", ("SpecificUnsafeProjection", "codegen/UnsafeRowWriter",
                          "codegen/UnsafeArrayWriter", "codegen/UnsafeWriter",
                          "codegen/BufferHolder", "FileFormat$$anon$1", "codegen/CodeGenerator")),
    ("bench hashing", ("GeneratedIteratorForCodegenStage", "expressions/XXH64",
                       "expressions/XxHash64Function")),
]
DRIVER_LAYERS = [
    ("footer reads", ("org/apache/parquet/hadoop/ParquetFileReader",
                      "org/apache/parquet/ParquetReadOptions", "org/apache/parquet/HadoopReadOptions",
                      "org/apache/parquet/hadoop/util/HadoopInputFile",
                      "graft/operators/Versioned$FooterReader")),
    ("configuration shipping", ("org/apache/spark/util/SerializableConfiguration",
                                "graft/xml/ConfEntries", "org/apache/spark/broadcast/")),
    ("other", ("org/apache/spark/SparkContext", "org/apache/spark/scheduler/",
               "org/apache/hadoop/mapreduce/", "org/apache/spark/internal/io/",
               "datasources/FileFormatWriter", "datasources/InsertIntoHadoopFsRelationCommand")),
    ("Spark planning", ("org/apache/spark/sql/catalyst/", "org/apache/spark/sql/execution/",
                        "org/codehaus/janino/", "org/codehaus/commons/")),
]
VIEWS = {
    "executor": ("executor-thread", EXECUTOR_LAYERS,
                 lambda thread: thread.startswith("Executor task launch worker")),
    "main": ("driver main-thread", DRIVER_LAYERS, lambda thread: thread == "main"),
}


def order_of(layers):
    """Layer names in report order, "other" last."""
    names = [name for name, _ in layers if name != "other"]
    return names + ["other"]


def layer_of(layers, frames):
    """(layer, the frame that decided it) of one stack, leaf first."""
    for f in frames:
        cls = f["method"]["type"]["name"]
        for name, keys in layers:
            if any(k in cls for k in keys):
                return name, f
    return "other", frames[0] if frames else None


def method(f):
    if f is None:
        return "?"
    return f["method"]["type"]["name"].split("/")[-1] + "." + f["method"]["name"]


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("recording", help="jfr print --json output")
    p.add_argument("top", nargs="?", type=int, default=0)
    p.add_argument("--thread", choices=tuple(VIEWS), default="executor")
    a = p.parse_args(argv)
    label, layers, wanted = VIEWS[a.thread]
    events = json.load(open(a.recording))["recording"]["events"]
    counts = collections.Counter()
    methods = collections.defaultdict(collections.Counter)
    for e in events:
        thread = e["values"].get("sampledThread") or {}
        if not wanted(thread.get("javaName") or ""):
            continue
        name, f = layer_of(layers, e["values"]["stackTrace"]["frames"])
        counts[name] += 1
        methods[name][method(f)] += 1
    total = sum(counts.values())
    width = max([17] + [len(name) for name in order_of(layers)])
    print("%s samples: %d" % (label, total))
    for name in order_of(layers):
        n = counts[name]
        print("  %-*s %6d  %5.1f%%" % (width, name, n, 100.0 * n / total if total else 0.0))
        for m, k in methods[name].most_common(a.top):
            print("      %6d  %s" % (k, m))


if __name__ == "__main__":
    main()
