"""Seeded input generation.

The seed picks a row permutation and a split into FILES_PER_TABLE files for
every input table; row contents are unchanged, so the DuckDB oracle over the
generated files answers exactly as over the base tables. Each table is
written as a directory `<table>.parquet/part-0000N.parquet`, the layout
Spark writes and both Spark and DuckDB read.
"""
import os
import shutil

import numpy as np
import pyarrow.parquet as pq

# one file per core of the reference box, so every seed offers the scan the
# same parallelism; the seed moves the cut points, not the file count
FILES_PER_TABLE = 4
# cut points stay within this share of an even split, so no seed starves a
# scan task or hands one task most of a table
CUT_JITTER = 0.1


def split_points(n, rng, parts=FILES_PER_TABLE, jitter=CUT_JITTER):
    """Sorted cut indices 0 = c0 < c1 < ... < c_parts = n for `n` rows."""
    if n < parts:
        return [0] * (parts - n) + list(range(n + 1))
    even = np.arange(1, parts) * n / parts
    width = jitter * n / parts
    inner = np.clip(np.round(even + rng.uniform(-width, width, parts - 1)), 1, n - 1)
    return [0] + sorted(int(c) for c in inner) + [n]


def generate(src_dir, dst_dir, tables, seed):
    """Write the seeded copy of `tables` from `src_dir` into `dst_dir`.

    Returns the total bytes of the files written.
    """
    shutil.rmtree(dst_dir, ignore_errors=True)
    os.makedirs(dst_dir)
    total = 0
    for ti, t in enumerate(sorted(tables)):
        table = pq.read_table(os.path.join(src_dir, f"{t}.parquet"))
        rng = np.random.default_rng([seed, ti])
        table = table.take(rng.permutation(table.num_rows))
        out = os.path.join(dst_dir, f"{t}.parquet")
        os.makedirs(out)
        cuts = split_points(table.num_rows, rng)
        for i in range(FILES_PER_TABLE):
            path = os.path.join(out, f"part-{i:05d}.parquet")
            pq.write_table(table.slice(cuts[i], cuts[i + 1] - cuts[i]), path,
                           compression="snappy")
            total += os.path.getsize(path)
    return total
