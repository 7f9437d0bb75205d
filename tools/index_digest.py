#!/usr/bin/env python3
"""Print one order-independent SHA-256 per stored table under an index root.

    python3 tools/index_digest.py <root>
    python3 tools/index_digest.py <rootA> <rootB>

With two roots the script compares them instead: it prints each table
whose row count or digest differs (`<table> <rowsA> <rowsB> differs`),
or that exists under one root only (`<table> only in A|B`), and exits 1
if any table differs, 0 when none does.

A table is any directory under <root> (nested ones included, e.g. the
ANN tables under `ann/`) that holds ManifestSink manifests. For each
table the script lists the visible manifests with the same checkpoint
hiding as `ManifestSink.sortedManifests` (the newest `-ckpt-<w>`
checkpoint hides every manifest at or below its sequence number), reads
the tab-separated data files those manifests list, and hashes the rows
as raw cell strings.

Tables that carry the rebuild bookkeeping columns `_gen`/`_build` keep
only the rows `FpIndex.loadFlat` serves (the winning build: max of
coalesce(_gen, 0), then coalesce(_build, '') by UTF-8 bytes) and drop
both columns, so a re-run over a live root digests the content it
serves, not its random build ids.

Rows are sorted before hashing, so the digest does not depend on file
or row order. Output: `<table> <rows> <sha256>`, one line per table,
sorted by table path.
"""
import argparse
import hashlib
import os
import sys

MANIFEST_PREFIX = "_manifest-"
SCHEMA_FILE = "_schema.ddl"
NULL = "\\N"
BOOKKEEPING = ("_gen", "_build")


def seq_and_tag(name):
    rest = name[len(MANIFEST_PREFIX):]
    digits = len(rest) - len(rest.lstrip("0123456789"))
    return int(rest[:digits]), rest[digits:].lstrip("-")


def weight(name):
    tag = seq_and_tag(name)[1]
    return int(tag[len("ckpt-"):]) if tag.startswith("ckpt-") else 1


def visible_manifests(table):
    """ManifestSink.sortedManifests: commit order with checkpoint hiding."""
    names = sorted((n for n in os.listdir(table) if n.startswith(MANIFEST_PREFIX)),
                   key=lambda n: (seq_and_tag(n)[0], n))
    ckpts = [n for n in names if seq_and_tag(n)[1].startswith("ckpt-")]
    if not ckpts:
        return names
    top = max(ckpts, key=lambda n: (seq_and_tag(n)[0], weight(n)))
    return [top] + [n for n in names if seq_and_tag(n)[0] > seq_and_tag(top)[0]]


def data_files(table):
    """ManifestSink.filesOf: entry file names, first occurrence wins."""
    seen = {}
    for m in visible_manifests(table):
        with open(os.path.join(table, m), encoding="utf-8") as f:
            for line in f.read().split("\n"):
                if line:
                    seen.setdefault(line.split("\t", 1)[0], None)
    return list(seen)


def column_names(table):
    """Top-level column names of the stored DDL (`name` TYPE, ...)."""
    with open(os.path.join(table, SCHEMA_FILE), encoding="utf-8") as f:
        ddl = f.read()
    names, depth, i, start = [], 0, 0, 0
    fields = []
    while i < len(ddl):
        c = ddl[i]
        if c == "`":  # quoted identifier; `` escapes a backtick
            i += 1
            while i < len(ddl) and not (ddl[i] == "`" and ddl[i + 1:i + 2] != "`"):
                i += 2 if ddl[i] == "`" else 1
        elif c in "<(":
            depth += 1
        elif c in ">)":
            depth -= 1
        elif c == "," and depth == 0:
            fields.append(ddl[start:i])
            start = i + 1
        i += 1
    fields.append(ddl[start:])
    for field in fields:
        field = field.strip()
        if field.startswith("`"):
            end = 1
            while not (field[end] == "`" and field[end + 1:end + 2] != "`"):
                end += 2 if field[end] == "`" else 1
            names.append(field[1:end].replace("``", "`"))
        else:
            names.append(field.split()[0])
    return names


def served_key(row, gen_i, build_i):
    gen = row[gen_i] if gen_i is not None else NULL
    build = row[build_i] if build_i is not None else NULL
    return (0 if gen == NULL else int(gen),
            b"" if build == NULL else build.encode("utf-8"))


def digest(table):
    names = column_names(table)
    rows = []
    for name in data_files(table):
        with open(os.path.join(table, name), encoding="utf-8", newline="") as f:
            for line in f.read().split("\n"):
                if line:
                    cells = line.split("\t")
                    # rows written before a schema widening read as null-padded
                    rows.append(cells + [NULL] * (len(names) - len(cells)))
    gen_i = names.index("_gen") if "_gen" in names else None
    build_i = names.index("_build") if "_build" in names else None
    if (gen_i is not None or build_i is not None) and rows:
        winner = max(served_key(r, gen_i, build_i) for r in rows)
        rows = [r for r in rows if served_key(r, gen_i, build_i) == winner]
    keep = [i for i, n in enumerate(names) if n not in BOOKKEEPING]
    lines = sorted("\t".join(r[i] for i in keep) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return len(lines), h.hexdigest()


def tables_under(root):
    for dirpath, _, files in os.walk(root):
        if any(f.startswith(MANIFEST_PREFIX) for f in files):
            yield dirpath


def digests(root):
    """{table path relative to root: (rows, sha256)}."""
    if not os.path.isdir(root):
        sys.exit(f"index_digest: {root} is not a directory")
    return {os.path.relpath(t, root): digest(t) for t in tables_under(root)}


def compare(a, b):
    """Print every table that differs between digest maps a and b; the
    number of such tables."""
    diffs = 0
    for name in sorted(set(a) | set(b)):
        if name not in b or name not in a:
            print(f"{name} only in {'A' if name in a else 'B'}")
        elif a[name] != b[name]:
            print(f"{name} {a[name][0]} {b[name][0]} differs")
        else:
            continue
        diffs += 1
    return diffs


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("root")
    ap.add_argument("other", nargs="?")
    a = ap.parse_args()
    if a.other is not None:
        sys.exit(1 if compare(digests(a.root), digests(a.other)) else 0)
    for name, (n, h) in sorted(digests(a.root).items()):
        print(f"{name} {n} {h}")


if __name__ == "__main__":
    main()
