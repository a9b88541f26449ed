#!/usr/bin/env python3
"""Where a streaming query's threads spend their CPU, from a JFR recording.

Reads the `jdk.ExecutionSample` events of a Java Flight Recorder file
(through `jfr print --json --stack-depth 300 --events jdk.ExecutionSample`,
or a file that command already wrote) and buckets the samples of the
threads matching --thread by the innermost marker on the stack. A
"stream execution thread" (the default: the driver thread that plans and
runs each micro-batch) is bucketed by phase:

  analysis          Catalyst analysis (QueryExecution.analyzed, Analyzer)
  optimise/plan     optimizer rules, physical planning, prepareForExecution
  codegen source    whole-stage and projection code generation (including
                    Janino on a code-cache miss)
  closure clean     Spark's ClosureCleaner
  job               job submission through the DAG scheduler
  other             everything else (offset/commit logs, the sink's own work)

An "Executor task launch" thread (--thread '^Executor task launch') is
bucketed by the layer of the alert ETL's per-record work:

  timestamp format  the ISO-8601 metadata fields (IsoMicrosFormat, or
                    Spark's TimestampFormatter.format under date_format)
  timestamp parse   the Snort event time (SnortTimestampParse, or Spark's
                    TimestampFormatter.parse under to_timestamp)
  regex             java.util.regex and regexp_replace (with the generated
                    RegExpReplace_N methods that convert its strings)
  Avro              the Confluent-framed Avro value (AvroWire, AvroLayout)
  decode            framed protobuf decode (ProtobufWire, SensorEventDecoder)
  headers map       the headers map (ArrayBasedMapBuilder, CreateMap_N)
  record conversion the projected row as a PreparedRecord (AlertRecords.record)
  task deserialise  Java (de)serialisation of the task's function and
                    references, and of its result
  projection        the rest of the generated projection code
  other             everything else (the writer, the scan, scheduling)

Record a benchmark run with, for example:

  JDK_JAVA_OPTIONS=-XX:StartFlightRecording=filename=etl.jfr,settings=profile \\
    python3 alertbench/run.py --workload etl --seed 1 --seconds 6 --trace 0
  python3 scripts/jfr_breakdown.py etl.jfr
  python3 scripts/jfr_breakdown.py etl.jfr --thread '^Executor task launch'

Usage: python3 scripts/jfr_breakdown.py RECORDING.(jfr|json) [--thread REGEX]
"""
import argparse
import json
import re
import subprocess
import sys

BUCKETS = ["analysis", "optimise/plan", "codegen source", "closure clean", "job", "other"]

# (bucket, regex over "class.method"), tried on each frame from the top of
# the stack down; the first frame that matches any rule names the bucket.
RULES = [
    ("closure clean", re.compile(r"^org\.apache\.spark\.util\.(Spark)?ClosureCleaner")),
    ("codegen source", re.compile(
        r"^org\.apache\.spark\.sql\.catalyst\.expressions\.codegen\."
        r"|^org\.apache\.spark\.sql\.execution\.WholeStageCodegenExec\.doCodeGen"
        r"|^org\.codehaus\.(janino|commons)\.")),
    ("analysis", re.compile(
        r"^org\.apache\.spark\.sql\.catalyst\.analysis\."
        r"|^org\.apache\.spark\.sql\.execution\.QueryExecution\.(assertAnalyzed|analyzed|lazyAnalyzed)")),
    ("optimise/plan", re.compile(
        r"^org\.apache\.spark\.sql\.catalyst\.optimizer\."
        r"|^org\.apache\.spark\.sql\.catalyst\.planning\."
        r"|^org\.apache\.spark\.sql\.execution\.SparkStrategies"
        r"|^org\.apache\.spark\.sql\.execution\.QueryExecution\$?\.(optimizedPlan|lazyOptimizedPlan"
        r"|sparkPlan|lazySparkPlan|executedPlan|lazyExecutedPlan|createSparkPlan|prepareForExecution)")),
    ("job", re.compile(
        r"^org\.apache\.spark\.scheduler\.DAGScheduler"
        r"|^org\.apache\.spark\.SparkContext\.(runJob|submitJob)")),
]

EXECUTOR_THREAD = re.compile(r"^Executor task launch")
EXECUTOR_BUCKETS = ["timestamp format", "timestamp parse", "regex", "Avro", "decode", "headers map",
                    "record conversion", "task deserialise", "projection", "other"]
EXECUTOR_RULES = [
    ("timestamp format", re.compile(
        r"^graft\.functions\.IsoMicrosFormat"
        r"|^org\.apache\.spark\.sql\.catalyst\.util\.\w*TimestampFormatter\w*\.format")),
    ("timestamp parse", re.compile(
        r"^graft\.functions\.SnortTimestampParse"
        r"|^org\.apache\.spark\.sql\.catalyst\.util\.\w*TimestampFormatter\w*\.parse")),
    ("regex", re.compile(
        r"^java\.util\.regex\.|^org\.apache\.spark\.sql\.catalyst\.expressions\.RegExpReplace"
        r"|^org\.apache\.spark\.sql\.catalyst\.expressions\.GeneratedClass\$\w+\.RegExpReplace_")),
    ("Avro", re.compile(r"^graft\.streaming\.(AvroWire|AvroLayout|AvroCodec)")),
    ("decode", re.compile(r"^graft\.streaming\.(ProtobufWire|SensorEventDecoder|ConfluentFraming)")),
    ("headers map", re.compile(
        r"^org\.apache\.spark\.sql\.catalyst\.util\.ArrayBasedMapBuilder"
        r"|^org\.apache\.spark\.sql\.catalyst\.expressions\.GeneratedClass\$\w+\.CreateMap_")),
    ("record conversion", re.compile(r"^graft\.streaming\.KafkaSink\$AlertRecords\.record")),
    ("task deserialise", re.compile(r"^org\.apache\.spark\.serializer\.|^java\.io\.ObjectInputStream")),
    ("projection", re.compile(r"^org\.apache\.spark\.sql\.catalyst\.expressions\.GeneratedClass")),
]


def frame_name(frame):
    m = frame["method"]
    return m["type"]["name"].replace("/", ".") + "." + m["name"]


def bucket(frames, rules):
    for f in frames:
        name = frame_name(f)
        for b, rule in rules:
            if rule.search(name):
                return b
    return "other"


def events(text):
    """Yield the recording's events one at a time, so a large print does
    not have to be held as one parsed tree."""
    dec = json.JSONDecoder()
    i = text.index("[", text.index('"events"')) + 1
    while True:
        while text[i] in " \t\r\n,":
            i += 1
        if text[i] == "]":
            return
        ev, i = dec.raw_decode(text, i)
        yield ev


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording", help="a .jfr file, or the JSON `jfr print --json` wrote")
    ap.add_argument("--thread", default=r"^stream execution thread",
                    help="regex over the sampled thread's Java name")
    args = ap.parse_args()
    if args.recording.endswith(".json"):
        with open(args.recording) as f:
            text = f.read()
    else:
        text = subprocess.run(
            ["jfr", "print", "--json", "--stack-depth", "300", "--events", "jdk.ExecutionSample",
             args.recording], check=True, stdout=subprocess.PIPE, text=True).stdout
    thread = re.compile(args.thread)
    kinds = {"driver": (BUCKETS, RULES), "executor": (EXECUTOR_BUCKETS, EXECUTOR_RULES)}
    counts = {k: dict.fromkeys(buckets, 0) for k, (buckets, _) in kinds.items()}
    total = 0
    for ev in events(text):
        v = ev["values"]
        name = (v.get("sampledThread") or {}).get("javaName") or ""
        if ev.get("type") != "jdk.ExecutionSample" or not thread.search(name):
            continue
        total += 1
        kind = "executor" if EXECUTOR_THREAD.search(name) else "driver"
        counts[kind][bucket((v.get("stackTrace") or {}).get("frames") or [], kinds[kind][1])] += 1
    if total == 0:
        sys.exit(f"no samples on a thread matching {args.thread!r}")
    print(f"{total} samples on threads matching {args.thread!r}")
    for kind, (buckets, _) in kinds.items():
        n = sum(counts[kind].values())
        if n == 0:
            continue
        if n != total:
            print(f" {kind} threads: {n} samples")
        for b in buckets:
            print(f"  {b:<17} {counts[kind][b]:>6}  {100.0 * counts[kind][b] / n:5.1f}%")


if __name__ == "__main__":
    main()
