#!/usr/bin/env python3
"""Split a JFR recording's CPU samples into the engine's layers.

Reads the `jdk.ExecutionSample` events of a `.jfr` file (through the
JDK's `jfr print --json`), optionally only those in a time window and
on threads whose name matches a pattern, and puts each sample in a
layer by its stack:

  http/json       the HTTP facade and its JSON codec
  snapshot/log    FileLog reads, sidecar files, the log-backed file index
  planning        Catalyst analysis, optimization and physical planning
  scheduling      job submission, DAG and task scheduling, RPC
  task serde      task and broadcast (de)serialization
  parquet open    opening a file: footer, reader set-up, JobConf copy
  parquet decode  reading pages and decoding rows or resident blocks
  fold            the top-k task's distance fold and heap
  block store     Spark's block manager: finding, storing or locating
                  resident blocks
  commit          writes, staging and log commits
  bench client    perfbench's own client threads and reply checks
  other           none of the above

A layer is entered at a matching frame. `self` counts a sample once, in
the innermost layer its stack entered; `incl` counts it in every layer
its stack entered, so nested layers (a log read inside a commit) show
in both. Percentages are of the selected samples.

Recipe, on the perfbench `serve` workload (run once without recording
first, so the build is cached and only the benchmark JVM records):

  python3 perfbench/run.py --workload serve --seed 2 --seconds 12 --trace 0
  JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/tmp/serve.jfr,settings=profile \
    -XX:FlightRecorderOptions=stackdepth=256" \
    python3 perfbench/run.py --workload serve --seed 2 --seconds 12 --trace 0
  python3 dev/jfr_layers.py /tmp/serve.jfr --from 22 --to 34

perfbench prints `+Ns window: ...` when its window ends; the window is
the `--seconds` before it. Times here are seconds since the first
sample, which is within a second of the `+Ns` clock once the build is
cached. `--threads 'Executor task launch'` keeps the Spark task
threads only. perfbench's own traced pass (`--trace 1`) times the
DataFrame search, not the facade's executed top-k, so it cannot show
these layers.
"""

import argparse
import datetime
import json
import re
import subprocess
import sys
from collections import Counter

# (layer, pattern over "package.Class.method"); a frame enters the
# first layer whose pattern it matches.
LAYERS = [
    ("fold", r"^graft\.store\.(TopKTask|TopKHeap)\."),
    ("block store", r"^org\.apache\.spark\.storage\.(BlockManager|memory\.)"),
    ("parquet decode",
     r"^graft\.store\.PreparedScan\$\.(decode|add\$)"
     r"|^org\.apache\.spark\.sql\.execution\.datasources\.RecordReaderIterator\."
     r"|^org\.apache\.spark\.sql\.execution\.datasources\.parquet\."
     r"VectorizedParquetRecordReader\.(nextKeyValue|nextBatch)"
     r"|^org\.apache\.parquet\.hadoop\.ParquetRecordReader\.nextKeyValue"),
    ("parquet open",
     r"^org\.apache\.spark\.sql\.execution\.datasources\.parquet\."
     r"(ParquetFileFormat|ParquetFooterReader)"),
    ("task serde",
     r"^java\.io\.Object(Input|Output)Stream\."
     r"|^org\.apache\.spark\.serializer\."
     r"|^org\.apache\.spark\.broadcast\."),
    ("commit",
     r"^org\.apache\.spark\.sql\.execution\.datasources\."
     r"(FileFormatWriter|InsertIntoHadoopFsRelationCommand)"
     r"|^graft\.store\.FileLog\$\.(append|rewrite|commit|commitRewrite|"
     r"transact|write|claim|stage|stagedWrite|footers|listed|vacuum)\b"),
    ("snapshot/log",
     r"^graft\.store\.FileLog\$\."
     r"|^graft\.util\.FsIo\$\."
     r"|^graft\.sources\.GraftLogFileIndex"),
    ("planning",
     r"^org\.apache\.spark\.sql\.catalyst\.(analysis|optimizer|planning)\."
     r"|^org\.apache\.spark\.sql\.execution\.QueryExecution\."),
    ("scheduling",
     r"^org\.apache\.spark\.scheduler\.(?!(Task|ResultTask|ShuffleMapTask)\.)"
     r"|^org\.apache\.spark\.SparkContext\.(runJob|submitJob)"
     r"|^org\.apache\.spark\.util\.ClosureCleaner"
     r"|^org\.apache\.spark\.rpc\."),
    ("bench client", r"^graft\.perfbench\."),
    ("http/json",
     r"^(com|sun)\.sun\.net\.httpserver\.|^sun\.net\.httpserver\."
     r"|^graft\.server\.(HttpFacade|Json)"),
]
ORDER = [name for name, _ in LAYERS] + ["other"]
COMPILED = [(name, re.compile(p)) for name, p in LAYERS]


def frame_name(frame):
    method = frame.get("method", {})
    cls = method.get("type", {}).get("name", "?").replace("/", ".")
    return f"{cls}.{method.get('name', '?')}"


def layer_of(name, memo):
    if name not in memo:
        memo[name] = next((n for n, p in COMPILED if p.search(name)), None)
    return memo[name]


def parse_time(s):
    # "2026-10-20T09:01:02.123456789Z" or with an offset; keep microseconds
    m = re.match(r"(.*T\d\d:\d\d:\d\d)(\.\d+)?(.*)$", s)
    frac = (m.group(2) or ".0")[:7]
    tz = m.group(3)
    tz = "+00:00" if tz in ("Z", "") else tz
    return datetime.datetime.fromisoformat(m.group(1) + frac + tz).timestamp()


def samples(path):
    out = subprocess.run(
        ["jfr", "print", "--json", "--stack-depth", "512",
         "--events", "jdk.ExecutionSample", path],
        check=True, stdout=subprocess.PIPE).stdout
    for ev in json.loads(out)["recording"]["events"]:
        v = ev["values"]
        thread = (v.get("sampledThread") or {}).get("javaName") or ""
        frames = (v.get("stackTrace") or {}).get("frames") or []
        yield parse_time(v["startTime"]), thread, [frame_name(f) for f in frames]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("jfr", help="a .jfr recording")
    ap.add_argument("--from", dest="t0", type=float, default=None,
                    help="window start, seconds since the first sample")
    ap.add_argument("--to", dest="t1", type=float, default=None,
                    help="window end, seconds since the first sample")
    ap.add_argument("--threads", default=None,
                    help="keep only threads whose name matches this regex")
    ap.add_argument("--ops", type=int, default=None,
                    help="operations in the window, to print samples per op")
    ap.add_argument("--top", type=int, default=0,
                    help="also print the N commonest innermost frames of "
                         "the samples whose self layer is --layer")
    ap.add_argument("--layer", default="other", choices=ORDER,
                    help="the layer --top looks into (default: other)")
    args = ap.parse_args()

    rows = list(samples(args.jfr))
    if not rows:
        sys.exit("no jdk.ExecutionSample events in the recording")
    start = min(t for t, _, _ in rows)
    thread_re = re.compile(args.threads) if args.threads else None
    memo = {}
    self_n, incl_n, picked = Counter(), Counter(), Counter()
    total = 0
    for t, thread, frames in rows:
        rel = t - start
        if args.t0 is not None and rel < args.t0:
            continue
        if args.t1 is not None and rel > args.t1:
            continue
        if thread_re and not thread_re.search(thread):
            continue
        total += 1
        entered = [layer_of(f, memo) for f in frames]  # innermost first
        hit = [x for x in entered if x]
        own = hit[0] if hit else "other"
        self_n[own] += 1
        if own == args.layer and frames:
            picked[frames[0]] += 1
        for x in set(hit) or {"other"}:
            incl_n[x] += 1

    span = "whole recording" if args.t0 is None and args.t1 is None else \
        f"{args.t0 or 0:g}s to {'end' if args.t1 is None else f'{args.t1:g}s'}"
    print(f"{total} samples ({span}"
          f"{', threads /' + args.threads + '/' if args.threads else ''})")
    per_op = f"  {'self/op':>8}" if args.ops else ""
    print(f"{'layer':<16}{'self':>7}{'self%':>7}{'incl':>7}{'incl%':>7}{per_op}")
    for name in ORDER:
        s, i = self_n[name], incl_n[name]
        if not s and not i:
            continue
        pct = (lambda n: 100.0 * n / total if total else 0.0)
        extra = f"  {s / args.ops:>8.3f}" if args.ops else ""
        print(f"{name:<16}{s:>7}{pct(s):>6.1f}%{i:>7}{pct(i):>6.1f}%{extra}")
    for frame, n in picked.most_common(args.top):
        print(f"  {args.layer}: {n:>6}  {frame}")


if __name__ == "__main__":
    main()
