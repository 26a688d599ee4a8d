#!/usr/bin/env python3
"""List the src/main Scala files that no entry point reaches.

Usage: python3 tools/unreached.py [repo_root]

The pass strips comments from every Scala file, collects the type names
(class / object / trait) each src/main file declares, and walks outward from
the roots below: a file is reached once a reached file names one of its
types as a whole identifier. String literals count as names, so a class
loaded by name (a spawned worker JVM, a `format("...")` source) is reached
through the file that spells it.

Roots:
  - the driver contract (SparkEntry, Bench, Verify) and the QueryCatalog;
  - the hep facade (HepReader, HepWriter, Ancestry, HepMaintenance);
  - the data sources registered in META-INF/services;
  - the claim-protocol worker JVMs (CycleWorker, PublishWorker);
  - every file under perfbench/src;
  - the kept mains and library modules in KEPT, each with the reason it
    stays although no root above names it.

Prints the unreached files, one a line, and exits 1 if there are any.
"""

import os
import re
import sys

ROOT_TYPES = [
    "SparkEntry", "Bench", "Verify", "QueryCatalog",
    "HepReader", "HepWriter", "Ancestry", "HepMaintenance",
    "CycleWorker", "PublishWorker",
]

# type name -> why it stays without a root naming it
KEPT = {
    "HepMcWriter": "docs/quickstart.md section 4 and the HepMcSource round-trip",
    "Demo": "hep facade example, declared in README and docs",
    "PipelineDemo": "incremental pipeline example, declared in README and docs",
    "BenchDelta": "artifact-vs-inline screen walls (BASELINE.md)",
    "BenchProfile": "per-layer profile of the catalog (ROADMAP aim 1)",
    "ChainProfile": "per-layer profile of one query's build chain",
    "PlanDump": "AQE-final plan artifacts under plans/",
    "HepMcIngest": "HepMC source frames into the store's tables (SURVEY S12)",
    "DocStream": "streaming operator: per-micro-batch corpus curation",
    "MediaStream": "streaming operator: perceptual image dedup",
    "VecStream": "streaming operator: incremental IVF index maintenance",
}

SERVICES = "src/main/resources/META-INF/services"

DECL = re.compile(
    r"\b(?:class|object|trait)\s+([A-Za-z_][A-Za-z0-9_]*)")
IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def strip_comments(src):
    """Drop // and /* */ comments, keeping string literals intact."""
    out = []
    i, n = 0, len(src)
    depth = 0
    while i < n:
        if depth:
            if src.startswith("/*", i):
                depth += 1
                i += 2
            elif src.startswith("*/", i):
                depth -= 1
                i += 2
            else:
                i += 1
            continue
        if src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
            out.append(src[i:j])
            i = j
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1])
            i = j + 1
        elif src[i] == "'" and i + 2 < n and (
                src[i + 2] == "'" or src[i + 1] == "\\"):
            j = src.find("'", i + 2)
            j = n if j < 0 else j + 1
            out.append(src[i:j])
            i = j
        elif src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            depth = 1
            i += 2
        else:
            out.append(src[i])
            i += 1
    return "".join(out)


def scala_files(top):
    for d, _, names in os.walk(top):
        for name in names:
            if name.endswith(".scala"):
                yield os.path.join(d, name)


def main():
    repo = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else
                           os.path.join(os.path.dirname(__file__), ".."))
    os.chdir(repo)
    main_files = sorted(scala_files("src/main"))
    text = {}
    for f in main_files + sorted(scala_files("perfbench/src")):
        with open(f, encoding="utf-8") as fh:
            text[f] = strip_comments(fh.read())
    idents = {f: set(IDENT.findall(t)) for f, t in text.items()}
    declares = {f: set(DECL.findall(text[f])) for f in main_files}

    roots = set(ROOT_TYPES) | set(KEPT)
    services = set()
    if os.path.isdir(SERVICES):
        for name in os.listdir(SERVICES):
            with open(os.path.join(SERVICES, name), encoding="utf-8") as fh:
                for line in fh:
                    line = line.split("#")[0].strip()
                    if line:
                        services.add(line.rsplit(".", 1)[-1])
    roots |= services

    reached = {f for f in text if f.startswith("perfbench/")}
    reached |= {f for f in main_files if declares[f] & roots}
    missing = sorted(roots - set().union(*declares.values()))
    if missing:
        print("unreached.py: no src/main file declares root(s): " +
              ", ".join(missing), file=sys.stderr)
        return 2

    frontier = list(reached)
    while frontier:
        names = idents[frontier.pop()]
        for f in main_files:
            if f not in reached and declares[f] & names:
                reached.add(f)
                frontier.append(f)

    unreached = [f for f in main_files if f not in reached]
    for f in unreached:
        print(f)
    return 1 if unreached else 0


if __name__ == "__main__":
    sys.exit(main())
