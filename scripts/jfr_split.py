#!/usr/bin/env python3
"""Split a JFR recording's executor-thread CPU samples by layer of the
JDBC -> Arrow load path.

    JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=/tmp/bulk.jfr,settings=profile \\
        python3 layerbench/run.py --workload jdbc_bulk --seed 7001 --seconds 20
    python3 scripts/jfr_split.py /tmp/bulk.jfr

Reads the recording's jdk.ExecutionSample events with the JDK's `jfr`
tool, keeps the samples of Spark task threads ("Executor task launch
worker ..."), and puts each sample in the layer of the first frame, from
the leaf up, that belongs to one:

  ipc        Arrow IPC serialization (VectorUnloader, arrow.vector.ipc)
  derby      Derby's own work (org.apache.derby)
  arrow      Arrow vector writes (org.apache.arrow, Spark's ArrowWriter)
  jdbc_rows  JDBC row conversion: Spark's JDBC getters, row and projection
             code (JdbcUtils, catalyst, unsafe rows), or the direct path's
             typed writers (graft.sources.ColumnWriter, ResultSetBatches)
  other      anything else (scheduler, serialization of results, JDK only)

It prints one line per layer: its share of the kept samples and their
count. The first frame that matches decides, so a JDK leaf such as
String.getBytes counts toward the layer of its caller.
"""

import argparse
import json
import re
import subprocess
import sys

# (layer, class-name prefixes); the first layer with a matching prefix wins
LAYERS = (
    ("ipc", ("org.apache.arrow.vector.ipc.", "org.apache.arrow.vector.VectorUnloader",
             "org.apache.arrow.flatbuf.", "com.google.flatbuffers.")),
    ("derby", ("org.apache.derby.",)),
    ("arrow", ("org.apache.arrow.", "org.apache.spark.sql.execution.arrow.")),
    ("jdbc_rows", ("org.apache.spark.sql.execution.datasources.jdbc.",
                   "org.apache.spark.sql.catalyst.",
                   "org.apache.spark.unsafe.",
                   "graft.sources.ColumnWriter", "graft.sources.ResultSetBatches")),
)
ORDER = [name for name, _ in LAYERS] + ["other"]
TASK_THREAD = re.compile(r"^Executor task launch worker")


def layer_of(frames):
    for f in frames:
        cls = f.get("method", {}).get("type", {}).get("name", "").replace("/", ".")
        for name, prefixes in LAYERS:
            if cls.startswith(prefixes):
                return name
    return "other"


def samples(path):
    out = subprocess.run(
        ["jfr", "print", "--json", "--stack-depth", "64",
         "--events", "jdk.ExecutionSample", path],
        check=True, stdout=subprocess.PIPE).stdout
    for ev in json.loads(out)["recording"]["events"]:
        v = ev["values"]
        yield (v.get("sampledThread", {}).get("javaName") or "",
               (v.get("stackTrace") or {}).get("frames", []))


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("recording", help="a .jfr file")
    args = p.parse_args()
    counts = dict.fromkeys(ORDER, 0)
    for thread, frames in samples(args.recording):
        if TASK_THREAD.match(thread):
            counts[layer_of(frames)] += 1
    total = sum(counts.values())
    if not total:
        print("no executor-thread samples in the recording", file=sys.stderr)
        return 1
    print(f"executor-thread samples: {total}")
    for name in ORDER:
        print(f"{name:10s} {counts[name] / total:6.1%} {counts[name]:7d}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
