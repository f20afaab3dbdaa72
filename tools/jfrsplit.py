#!/usr/bin/env python3
"""Split the HTTP-worker CPU samples of a JFR recording by phase and by route.

Usage:
    python3 tools/jfrsplit.py <recording.jfr> [--route NAME=FRAME ...]

Runs the JDK's `jfr print --json --events jdk.ExecutionSample` on the
recording and keeps the samples whose stack runs inside an HTTP handler of
`graft.search.HttpServing`. Each sample gets one phase: the stack is read
from the sampled frame towards the thread's root, and the first frame that
names a phase decides (a sample in the optimizer under a Dataset action is
an optimizer sample). Each sample also gets the route whose method is on
its stack: by default the route methods of `HttpServing`'s `Routes`
(`query`, `hashtag`, `user`); `--route NAME=FRAME` adds or replaces one,
FRAME a substring of `class.method` as the recording names it.

Record with a deep stack, or catalyst stacks are cut before their root:
    java -XX:FlightRecorderOptions=stackdepth=1024 \\
         -XX:StartFlightRecording=filename=rec.jfr,settings=profile ...
"""
import argparse
import collections
import json
import subprocess
import sys

# (phase, frame substrings): a frame "names" a phase when it contains one
PHASES = [
    ("parquet read", ["org.apache.parquet.", "datasources.parquet.", "ParquetFileFormat",
                      "LocalScan$.footer", "LocalScan$.ranges", "org.apache.hadoop."]),
    ("manifest", ["ManifestLog", "org.json4s.", "DataType$.fromJson"]),
    ("optimizer", ["catalyst.optimizer.", "SparkOptimizer", "QueryExecution.optimizedPlan",
                   "QueryExecution.$anonfun$optimizedPlan"]),
    ("dataset + analysis", ["catalyst.analysis.", "QueryExecution.assertAnalyzed",
                            "QueryExecution.analyzed", "classic.Dataset", "catalyst.parser.",
                            "SparkSqlParser", "RelationalGroupedDataset",
                            "ColumnNodeToExpressionConverter", "GraftPlanBridge"]),
    ("encoders", ["createDataFrame", "ExpressionEncoder", "catalyst.encoders."]),
    ("sql execution", ["SQLExecution$."]),
    ("expression eval", ["InterpretedMutableProjection", "InterpretedOrdering",
                         "LocalScan$Projection", "JacksonGenerator", "StructsToJsonEvaluator"]),
    ("row operators", ["LocalScan$", "ServingStores$", "BM25Index$", "Serving$", "Tombstones$"]),
]
# the four phases of building and running a query per request
QUERY_PHASES = {"optimizer", "dataset + analysis", "encoders", "sql execution"}
HANDLER = "HttpServing$$anon$1.handle"
ROUTES = {"query": "HttpServing$Routes.query", "hashtag": "HttpServing$Routes.hashtag",
          "user": "HttpServing$Routes.user"}


def frame_name(f):
    m = f.get("method", {})
    cls = m.get("type", {}).get("name", "")
    return f"{cls.replace('/', '.')}.{m.get('name', '')}"


def classify(frames, routes):
    phase = "other"
    for f in frames:  # sampled frame first
        hit = next((p for p, pats in PHASES if any(x in f for x in pats)), None)
        if hit:
            phase = hit
            break
    route = next((r for r, marker in routes.items() if any(marker in f for f in frames)),
                 "unattributed")
    return phase, route


def samples(recording):
    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", "4096", "--events",
                          "jdk.ExecutionSample", recording],
                         check=True, capture_output=True, text=True).stdout
    for e in json.loads(out)["recording"]["events"]:
        st = e["values"].get("stackTrace") or {}
        frames = [frame_name(f) for f in st.get("frames", [])]
        if any(HANDLER in f for f in frames):
            yield frames, st.get("truncated", False)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--route", action="append", default=[], metavar="NAME=FRAME")
    a = ap.parse_args()
    routes = dict(ROUTES)
    for r in a.route:
        name, _, marker = r.partition("=")
        routes[name] = marker
    by_phase = collections.Counter()
    by_route = collections.defaultdict(collections.Counter)
    truncated = 0
    for frames, cut in samples(a.recording):
        truncated += cut
        phase, route = classify(frames, routes)
        by_phase[phase] += 1
        by_route[route][phase] += 1
    total = sum(by_phase.values())
    if not total:
        sys.exit("no HTTP-worker samples in the recording")
    print(f"{total} HTTP-worker samples ({truncated} with a truncated stack)")
    print(f"{'phase':<22}{'samples':>9}{'share':>9}")
    for phase, n in by_phase.most_common():
        print(f"{phase:<22}{n:>9}{100.0 * n / total:>8.1f}%")
    q = sum(by_phase[p] for p in QUERY_PHASES)
    print(f"{'query building':<22}{q:>9}{100.0 * q / total:>8.1f}%  "
          f"({', '.join(sorted(QUERY_PHASES))})")
    print()
    print(f"{'route':<14}{'samples':>9}{'query building':>16}  top phases")
    for route, c in sorted(by_route.items(), key=lambda kv: -sum(kv[1].values())):
        n = sum(c.values())
        rq = sum(c[p] for p in QUERY_PHASES)
        top = ", ".join(f"{p} {100.0 * k / n:.0f}%" for p, k in c.most_common(3))
        print(f"{route:<14}{n:>9}{100.0 * rq / n:>15.1f}%  {top}")


if __name__ == "__main__":
    main()
