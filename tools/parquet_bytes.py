#!/usr/bin/env python3
"""Compressed bytes per table and per column of a parquet sink directory.

Usage: python3 tools/parquet_bytes.py <sink dir>
       python3 tools/parquet_bytes.py <before dir> <after dir>

Each subdirectory of <sink dir> that holds parquet files is one table (as
`ParquetSink` writes them: <sink dir>/<table>/part-*.parquet); parquet files
directly in <sink dir> form a table named ".". For every table it prints the
bytes of its files on disk, then one line per column: the compressed bytes
of its column chunks summed over every file and row group, the column's
share of the table, whether any chunk has a dictionary page, and the
encodings the chunks use. Columns are sorted by bytes, largest first; the
last line is the total over all tables.

With two directories it compares them instead: for every table, its bytes
on disk before and after, the change and the ratio after/before, then one
such line per column (compressed chunk bytes). Tables and columns are sorted
by the size of their change, largest first, so a bytes claim shows which
columns moved; a table or column missing on one side counts as 0 B there.

Reads only parquet footers, with pyarrow.
"""
import os
import signal
import sys
from collections import defaultdict

import pyarrow.parquet as pq


def tables(root):
    """{table name: [parquet file paths]}, sorted."""
    found = defaultdict(list)
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                rel = os.path.relpath(dirpath, root)
                found[rel.split(os.sep)[0]].append(os.path.join(dirpath, f))
    return {t: sorted(fs) for t, fs in sorted(found.items())}


def columns(files):
    """{column path: [compressed bytes, has dictionary page, {encodings}]}."""
    cols = defaultdict(lambda: [0, False, set()])
    for f in files:
        meta = pq.ParquetFile(f).metadata
        for rg in range(meta.num_row_groups):
            group = meta.row_group(rg)
            for c in range(group.num_columns):
                chunk = group.column(c)
                entry = cols[chunk.path_in_schema]
                entry[0] += chunk.total_compressed_size
                entry[1] |= chunk.has_dictionary_page
                entry[2].update(chunk.encodings)
    return cols


def delta_line(name, before, after, indent=""):
    ratio = f"{after / before:7.4f}" if before else "      -"
    return f"{indent}{before:>12,} B -> {after:>12,} B  {after - before:>+12,} B  x{ratio}  {name}"


def by_change(pairs):
    """{name: (before, after)} as a list of items, largest change first."""
    return sorted(pairs.items(), key=lambda kv: (-abs(kv[1][1] - kv[1][0]), kv[0]))


def compare(before_dir, after_dir):
    before, after = tables(before_dir), tables(after_dir)
    sides = {}
    for table in set(before) | set(after):
        files = (before.get(table, []), after.get(table, []))
        on_disk = tuple(sum(os.path.getsize(f) for f in fs) for fs in files)
        cols = tuple(columns(fs) for fs in files)  # defaultdicts: a missing column reads 0 B
        per_column = {c: (cols[0][c][0], cols[1][c][0]) for c in set(cols[0]) | set(cols[1])}
        sides[table] = (on_disk, per_column)
    for table, on_disk in by_change({t: v[0] for t, v in sides.items()}):
        print(delta_line(table, *on_disk))
        for name, (b, a) in by_change(sides[table][1]):
            print(delta_line(name, b, a, indent="  "))
    total = tuple(sum(v[0][i] for v in sides.values()) for i in (0, 1))
    print(delta_line("total", *total))


def main(argv):
    if len(argv) not in (2, 3) or not all(os.path.isdir(d) for d in argv[1:]):
        sys.exit(__doc__.split("\n\n")[1])
    if len(argv) == 3:
        return compare(argv[1], argv[2])
    grand = 0
    for table, files in tables(argv[1]).items():
        on_disk = sum(os.path.getsize(f) for f in files)
        grand += on_disk
        cols = columns(files)
        chunk_bytes = sum(v[0] for v in cols.values()) or 1
        print(f"{table}: {on_disk:,} B in {len(files)} files")
        for name, (size, dictionary, encodings) in sorted(cols.items(), key=lambda kv: -kv[1][0]):
            print(f"  {size:>12,} B {100.0 * size / chunk_bytes:5.1f} %  "
                  f"{'dict' if dictionary else 'no-dict':7}  {name}  [{', '.join(sorted(encodings))}]")
    print(f"total: {grand:,} B")


if __name__ == "__main__":
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)  # quiet under `| head`
    main(sys.argv)
