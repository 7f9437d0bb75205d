#!/usr/bin/env python3
"""Print order-independent digests of a satellite sink and its artifacts.

    python3 tools/sink_digest.py <sink>
    python3 tools/sink_digest.py <sinkA> <sinkB> <artifactsA> <artifactsB>

With one argument the script prints `sink <rows> <sha256>` for the
parquet sink table at <sink> (the directory `SatellitePipeline.run`
appends to).

With four it compares two runs instead: it prints the sink line of each
side and, for each artifact directory, `artifacts <files> <sha256>`, one
digest over every artifact's relative path and SHA-256. It then prints
`sink differs` and/or `artifacts differs` and exits 1 if either digest or
count differs, 0 when none does.

Sink rows are read file by file and hashed as tab-joined cells, sorted,
so neither file nor row order matters. `captured_ts` is hashed as int64
microseconds since the epoch: the seed file and the files Spark appends
store it with different timestamp types (unit, time zone), so comparing
the decoded values would report rows that differ in type only. Floats
are hashed by `repr` (exact), binary cells as hex, nulls as `\\N`.
"""
import hashlib
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

NULL = "\\N"


def parquet_files(sink):
    if not os.path.isdir(sink):
        sys.exit(f"sink_digest: {sink} is not a directory")
    return sorted(os.path.join(sink, n) for n in os.listdir(sink)
                  if n.endswith(".parquet") and not n.startswith((".", "_")))


def cell(v):
    if v is None:
        return NULL
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def sink_digest(sink):
    """(rows, sha256) over every row of every parquet file under `sink`."""
    tables = [pq.read_table(f) for f in parquet_files(sink)]
    names = sorted({n for t in tables for n in t.column_names})
    lines = []
    for t in tables:
        cols = []
        for n in names:
            if n not in t.column_names:
                cols.append([None] * t.num_rows)
                continue
            c = t.column(n)
            if pa.types.is_timestamp(c.type):
                c = c.cast(pa.timestamp("us", tz=c.type.tz)).cast(pa.int64())
            cols.append(c.to_pylist())
        lines += ["\t".join(cell(v) for v in row) for row in zip(*cols)]
    lines.sort()
    h = hashlib.sha256()
    h.update(("\t".join(names) + "\n").encode("utf-8"))
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return len(lines), h.hexdigest()


def artifact_digest(root):
    """(files, sha256) over each file's relative path and content SHA-256."""
    if not os.path.isdir(root):
        sys.exit(f"sink_digest: {root} is not a directory")
    lines = []
    for dirpath, _, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as f:
                content = hashlib.sha256(f.read()).hexdigest()
            lines.append(f"{os.path.relpath(path, root)}\t{content}")
    lines.sort()
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return len(lines), h.hexdigest()


def main():
    args = sys.argv[1:]
    if len(args) == 1:
        n, h = sink_digest(args[0])
        print(f"sink {n} {h}")
        return
    if len(args) != 4:
        sys.exit(__doc__.split("\n\n")[1])
    sink_a, sink_b, art_a, art_b = args
    diffs = 0
    for kind, a, b in (("sink", sink_digest(sink_a), sink_digest(sink_b)),
                       ("artifacts", artifact_digest(art_a), artifact_digest(art_b))):
        print(f"{kind} A {a[0]} {a[1]}")
        print(f"{kind} B {b[0]} {b[1]}")
        if a != b:
            print(f"{kind} differs")
            diffs += 1
    sys.exit(1 if diffs else 0)


if __name__ == "__main__":
    main()
