#!/usr/bin/env python3
"""Split one thread's JFR execution samples into query phases.

Input is what

    jfr print --json --stack-depth 400 --events jdk.ExecutionSample rec.jfr > rec.json

writes. Each sample of the chosen thread (default `main`, the thread that
runs every operation in graft's benchmark and tests) is charged to the
first phase below whose frames its stack holds:

    read: codegen / conf / footer / reader init / decode
        under graft.hep.HepLookupExec.read, the lookup's chunk read:
        Java source generation and compilation; the Hadoop conf copy;
        the parquet footer; reader set-up; everything else of the read
        (decoding, the row predicate, the projection)
    table open          HepReader opening a member table (its first lookup)
    row deserializer    Dataset.resolvedEnc and the deserializer it builds
    optimization        the logical optimizer
    planning/prepare    physical planning and preparation rules
    analysis in collect / analysis at DataFrame build
        the analyzer, under an action or while a DataFrame is built
    SQLExecution wrapper: explain string / other
        the rest of SQLExecution.withNewExecutionId, split by whether it
        renders the plan's explain string
    other               anything else

and the script prints each phase's samples and share of the thread's
samples. `--within` keeps only samples whose stack holds a frame whose
`package.Class.method` contains the given text (e.g. `HepStore.lookup`
for perfbench's point lookups); `--from-ms`/`--to-ms` keep only samples
inside that window, in ms since the file's first sample.

The file is read one event at a time (a 1 ms sampling of a short run
prints hundreds of MB), relying on the layout `jfr print --json` writes:
one event per object at a fixed indent inside the `events` array.

    python3 tools/jfr_phases.py rec.json --within HepStore.lookup
"""
import argparse
import collections
import datetime
import json
import sys

READ = "graft.hep.HepLookupExec.read"

# (phase, frame-name fragments), checked in order inside the read
READ_PHASES = [
    ("read: codegen", ("sql.catalyst.expressions.codegen.", "org.codehaus.janino.",
                       "org.codehaus.commons.compiler.")),
    ("read: conf", ("HepLookupExec.readConf", "org.apache.hadoop.conf.Configuration.<init>",
                    "org.apache.hadoop.mapred.JobConf.<init>")),
    ("read: footer", ("ParquetFooterReader.", "ParquetFileReader.readFooter")),
    ("read: reader init", ("VectorizedParquetRecordReader.initialize",
                           "VectorizedParquetRecordReader.initBatch",
                           "SpecificParquetRecordReaderBase.initialize",
                           "ParquetRecordReader.initialize", "ParquetFilters.")),
]

OPTIMIZATION = ("QueryExecution.optimizedPlan", "QueryExecution.lazyOptimizedPlan",
                "sql.catalyst.optimizer.", "execution.SparkOptimizer")
PLANNING = ("QueryExecution.sparkPlan", "QueryExecution.lazySparkPlan",
            "QueryExecution.executedPlan", "QueryExecution.lazyExecutedPlan",
            "QueryExecution$.createSparkPlan", "QueryExecution$.prepareForExecution",
            "QueryPlanner.plan")
ANALYSIS = ("sql.catalyst.analysis.", "QueryExecution.analyzed",
            "QueryExecution.lazyAnalyzed", "QueryExecution.assertAnalyzed")
TABLE_OPEN = ("HepReader.$anonfun$table", "HepChunkIndex$.relation")
DESERIALIZER = ("Dataset.resolvedEnc", "ExpressionEncoder.createDeserializer")
ACTION = ("Dataset.collect", "Dataset.withAction", "Dataset.head", "Dataset.take",
          "Dataset.count")
WRAPPER = "SQLExecution$.withNewExecutionId"
EXPLAIN = ("QueryExecution.explainString", "QueryExecution.simpleString",
           "QueryExecution.toString")

PHASES = [p for p, _ in READ_PHASES] + [
    "read: decode", "table open", "row deserializer", "optimization", "planning/prepare",
    "analysis in collect", "analysis at DataFrame build",
    "SQLExecution wrapper: explain string", "SQLExecution wrapper: other", "other"]


def frame_name(frame):
    m = frame["method"]
    return m["type"]["name"].replace("/", ".") + "." + m["name"]


def has(names, fragments):
    return any(f in n for n in names for f in fragments)


def phase(names):
    """The phase of one stack, given as frame names."""
    if has(names, (READ,)):
        for p, fragments in READ_PHASES:
            if has(names, fragments):
                return p
        return "read: decode"
    if has(names, TABLE_OPEN):
        return "table open"
    if has(names, DESERIALIZER):
        return "row deserializer"
    if has(names, OPTIMIZATION):
        return "optimization"
    if has(names, PLANNING):
        return "planning/prepare"
    if has(names, ANALYSIS):
        return "analysis in collect" if has(names, ACTION) else "analysis at DataFrame build"
    if has(names, (WRAPPER,)):
        return ("SQLExecution wrapper: explain string" if has(names, EXPLAIN)
                else "SQLExecution wrapper: other")
    return "other"


def events(lines):
    """Each event object of a `jfr print --json` listing, parsed alone."""
    body = None
    for line in lines:
        s = line.rstrip("\n")
        if s in ('    "events": [{', "    }, {"):
            if body is not None:
                yield json.loads("{" + "".join(body) + "}")
            body = []
        elif s == "    }]":
            if body is not None:
                yield json.loads("{" + "".join(body) + "}")
            body = None
        elif body is not None:
            body.append(s)
    if body:
        raise SystemExit("jfr_phases: the input ends inside an event; "
                         "is it the whole `jfr print --json` output?")


def instant(text):
    # e.g. 2026-10-20T23:14:37.930923142Z: keep microseconds
    head, _, frac = text.rstrip("Z").partition(".")
    t = datetime.datetime.fromisoformat(head).replace(tzinfo=datetime.timezone.utc)
    return t.timestamp() + float("0." + (frac or "0"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("json", help="`jfr print --json` output, or - for stdin")
    ap.add_argument("--thread", default="main", help="Java thread name (default main)")
    ap.add_argument("--within", help="keep samples with a frame containing this text")
    ap.add_argument("--from-ms", type=float, help="window start, ms after the first sample")
    ap.add_argument("--to-ms", type=float, help="window end, ms after the first sample")
    args = ap.parse_args()

    samples = []  # (time, phase) of the kept thread's samples
    first = None  # the file's first sample, of any thread
    src = sys.stdin if args.json == "-" else open(args.json)
    with src:
        for e in events(src):
            if e.get("type") != "jdk.ExecutionSample":
                continue
            v = e["values"]
            t = instant(v["startTime"])
            first = t if first is None else min(first, t)
            if (v.get("sampledThread") or {}).get("javaName") != args.thread:
                continue
            names = [frame_name(f) for f in ((v.get("stackTrace") or {}).get("frames") or [])]
            if args.within and not any(args.within in n for n in names):
                continue
            samples.append((t, phase(names)))

    counts = collections.Counter(
        p for t, p in samples
        if (args.from_ms is None or (t - first) * 1000 >= args.from_ms) and
        (args.to_ms is None or (t - first) * 1000 <= args.to_ms))
    total = sum(counts.values())
    scope = f"thread {args.thread}" + (f", within {args.within}" if args.within else "")
    print(f"{total} samples ({scope})")
    for p in PHASES:
        share = 100.0 * counts[p] / total if total else 0.0
        print(f"{p:<40} {counts[p]:>7} {share:6.1f}%")


if __name__ == "__main__":
    main()
