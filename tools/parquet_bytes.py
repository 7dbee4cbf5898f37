#!/usr/bin/env python3
"""Compressed bytes per table and per column of a parquet sink directory.

Usage: python3 tools/parquet_bytes.py <sink dir>

Each subdirectory of <sink dir> that holds parquet files is one table (as
`ParquetSink` writes them: <sink dir>/<table>/part-*.parquet); parquet files
directly in <sink dir> form a table named ".". For every table it prints the
bytes of its files on disk, then one line per column: the compressed bytes
of its column chunks summed over every file and row group, the column's
share of the table, whether any chunk has a dictionary page, and the
encodings the chunks use. Columns are sorted by bytes, largest first; the
last line is the total over all tables.

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


def main(argv):
    if len(argv) != 2 or not os.path.isdir(argv[1]):
        sys.exit(__doc__.split("\n\n")[1])
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
