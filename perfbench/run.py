#!/usr/bin/env python3
"""graft benchmark: two single-client workloads over graft's public API.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload hep-store --seed 1 --seconds 20 --trace 0

Workloads (see perfbench/README.md):
  hep-store      rounds of HepWriter ingest, HepReader point lookups and an
                 analysis pass (Kinematics scan + Ancestry BFS) on seeded events
  catalog        registered queries: ten dominated by per-query fixed
                 costs, two by task CPU and shuffle

The script compiles the checkout's `src/main` together with the benchmark's
own JVM sources (scalac from $SPARK_HOME/jars, output cached under
`.bench_build/`), generates the workload's inputs from --seed into a fresh
per-run directory under `.bench_build/`, runs one JVM, checks every result
and prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones. The
full run record (samples, load labels, set-up breakdown, and with --trace 1
the span summary and per-query breakdown) is written to
`.bench_build/records/`. Every per-run directory is deleted at exit.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
JVM_HEAP = "3g"
RUN_LIMIT_S = 170

# The catalog workload's query list, frozen by name: the registered queries
# whose warm full-result wall at sf0.1 and local[4] was under 250 ms (per-query
# fixed costs dominate them), then two queries dominated by task CPU and
# shuffle.
LIGHT = """
m01_multimodal_meta m05_wav_decode m07_wav_frames m09_audio_fp_dedup
p01_sample_hash p02_sample_stratified q05_anti_join q14_scalar_functions
q19_sort_limit t14_chunk
""".split()
HEAVY = """
d05_dedup_ngram_jaccard q08_window_topk
""".split()
WORKLOADS = {
    "hep-store": {},
    "catalog": {"sf": 0.03, "queries": LIGHT + HEAVY},
}
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
        fail("SPARK_HOME must point at a Spark install whose jars/ holds scala-compiler")
    return os.path.join(home, "jars", "*")


def build():
    """Compiles src/main and the benchmark's sources once per source hash;
    returns the JVM classpath."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    resources = os.path.join(ROOT, "src", "main", "resources")
    if not os.path.isdir(main_src):
        fail(f"no graft sources at {main_src}: run from the root of a graft checkout")
    jars = spark_jars()
    sources = sorted(glob.glob(os.path.join(main_src, "**", "*.scala"), recursive=True) +
                     glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    h = hashlib.sha256()
    for f in sources + sorted(glob.glob(os.path.join(resources, "**", "*"), recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if not os.path.exists(os.path.join(out, ".ok")):
        for old in glob.glob(os.path.join(BUILD, "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
        os.makedirs(out)
        argfile = os.path.join(out, ".sources")
        with open(argfile, "w") as fh:
            fh.write("\n".join(sources))
        t0 = time.time()
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
             "-usejavacp", "-nowarn", "-d", out, "@" + argfile],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            shutil.rmtree(out, ignore_errors=True)
            fail("compile failed:\n" + r.stdout[-4000:])
        open(os.path.join(out, ".ok"), "w").close()
        print(f"perfbench: compiled {len(sources)} sources in {time.time() - t0:.0f} s",
              file=sys.stderr)
    return os.pathsep.join([out, resources, jars])


def digest(con, relation):
    """Order-insensitive digest of a relation: column names, row count and
    the sum of per-row hashes over each column's canonical text form."""
    cols = con.execute(f"SELECT * FROM {relation} LIMIT 0").arrow().column_names
    expr = ", ".join(f"COALESCE(CAST(\"{c}\" AS VARCHAR), chr(1))" for c in sorted(cols))
    n, s = con.execute(
        f"SELECT count(*), sum(hash(concat_ws(chr(31), {expr}))) FROM {relation}").fetchone()
    return [sorted(cols), n, str(s)]


def check_catalog(record, data_dir, check_dir):
    """Compares every query's engine digest with the DuckDB oracle's over the
    same generated tables; returns {query: problem} for every mismatch."""
    import duckdb
    import gen_catalog
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in gen_catalog.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    oracle = record["oracle_sql"]
    bad = {}
    for q in record["ops"]:
        if q not in oracle:
            bad[q] = "no oracle SQL"
            continue
        out = os.path.join(check_dir, q)
        if not glob.glob(os.path.join(out, "*.parquet")):
            bad[q] = "no engine result"
            continue
        try:
            got = digest(con, f"read_parquet('{out}/*.parquet')")
            want = digest(con, f"({oracle[q].rstrip().rstrip(';')})")
        except Exception as e:  # an oracle or read error is a failed check
            bad[q] = f"digest error: {e}"
            continue
        if got != want:
            bad[q] = f"digest {got} != oracle {want}"
    return bad


def run(args, classpath, start):
    conf = WORKLOADS[args.workload]
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(BUILD, "tmp"))
    try:
        return run_in(args, conf, classpath, start, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_in(args, conf, classpath, start, work):
    record_path = os.path.join(work, "record.json")
    jvm_args = [args.workload, str(args.seed), str(args.seconds), str(args.trace),
                record_path, work, str(int(start * 1000))]
    data_dir = os.path.join(work, "data")
    check_dir = os.path.join(work, "check")
    if "queries" in conf:
        sys.path.insert(0, HERE)
        import gen_catalog
        gen_catalog.write(data_dir, args.seed, conf["sf"])
        jvm_args += [data_dir, check_dir, ",".join(conf["queries"])]
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus,
               SPARK_GRAFT_ARTIFACT_DIR=os.path.join(work, "artifacts"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-cp", classpath, "perfbench.Main"] + jvm_args)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                cwd=work, start_new_session=True)
        try:
            proc.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - start)))
        except subprocess.TimeoutExpired:
            pass
        finally:  # also on SIGTERM: never leave the JVM behind
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if proc.returncode != 0 or not os.path.exists(record_path):
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        fail(f"JVM exited with {proc.returncode} after {time.time() - start:.0f} s:\n{tail}")
    with open(record_path) as fh:
        record = json.load(fh)

    attempted, failed = record["attempted"], record["failed"]
    if "queries" in conf:
        bad = check_catalog(record, data_dir, check_dir)
        record["check_failures"] = bad
        failed = failed_total(record, failed, bad)
    record["end_to_end"] = end_to_end(record, attempted, failed)
    if args.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)}
                   for k, v in sorted(record["per_layer"].items())}
    else:
        metrics = record["end_to_end"]
    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    with open(os.path.join(BUILD, "records",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as fh:
        json.dump(record, fh, indent=1)
    for f in record["failures"] + [f"{q}: {p}" for q, p in
                                   record.get("check_failures", {}).items()]:
        print(f"perfbench: failure: {f}", file=sys.stderr)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def failed_total(record, failed, bad):
    """Failed operations once every operation of a query whose result check
    failed counts as failed."""
    return failed + sum(record["ops"][q]["attempted"] - record["ops"][q]["failed"]
                        for q in bad)


def end_to_end(record, attempted, failed):
    """The end-to-end metrics of one run, from its record."""
    lat, passes = record["latency_ms"], record["pass_s"]
    m = {
        "setup_s": (record["setup"]["to_first_op_s"], "s"),
        "pass_s": (statistics.median(passes), "s"),
        "op_p50_ms": (statistics.median(lat), "ms"),
        "success_ratio": (1.0 - failed / attempted, "fraction"),
        "peak_rss_mb": (record["peak_rss_mb"], "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def unit_of(name):
    """Unit of a per-layer figure, from its name."""
    for suffix, unit in [("_ms", "ms"), ("bytes_per_event", "bytes/event"),
                         ("bytes", "bytes"), ("bytes_per_lookup", "bytes"),
                         ("bytes_written", "bytes"), ("events_per_s", "events/s"),
                         ("_ratio", "ratio"), ("per_row_returned", "ratio"),
                         ("slot_utilization", "fraction")]:
        if name.endswith(suffix):
            return unit
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    classpath = build()
    start = time.time()
    print(json.dumps(run(args, classpath, start)))


if __name__ == "__main__":
    main()
