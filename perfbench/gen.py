"""Seeded input generator for the benchmark workloads.

Everything is derived from a read-only base scale-factor directory and an
integer seed; the same (base, seed) always produces byte-identical files.

- gold_refresh: lineitem and orders replicated ``m`` times with their order
  keys remapped (``key * m + rep + offset``, the ``ScaleSoak.replicate``
  scheme plus a seeded global offset) and their rows in a seeded order; the
  dimension-shaped tables are copied verbatim.
- dashboard: a seeded query sequence made of shuffled blocks, each block
  holding every query exactly once, so every seed runs the same mix.
"""
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GOLD_TABLES = ("lineitem", "orders", "customer", "supplier", "nation", "region")
REPLICATED = {"lineitem": "l_orderkey", "orders": "o_orderkey"}


def rng(seed, *salt):
    """Independent numpy generator per (seed, purpose)."""
    return np.random.default_rng([seed & 0xFFFFFFFF, *salt])


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def replicate_table(table, key_col, m, offset, order_rng):
    """``m`` copies of ``table`` with ``key_col`` remapped per copy, rows in a
    seeded order."""
    n = table.num_rows
    keys = table.column(key_col).to_numpy()
    rep = np.repeat(np.arange(m, dtype=np.int64), n)
    base = np.tile(np.arange(n), m)
    out = table.take(pa.array(base))
    out = out.set_column(out.schema.get_field_index(key_col), key_col,
                         pa.array(np.tile(keys, m) * m + rep + offset))
    return out.take(pa.array(order_rng.permutation(out.num_rows)))


def gold_input(base_dir, out_dir, seed, m):
    """Write the replicated gold_refresh input; returns {table: (rows, bytes)}."""
    os.makedirs(out_dir, exist_ok=True)
    # one offset for both key columns keeps every lineitem→orders join intact
    offset = int(rng(seed, 1).integers(1, 1 << 20)) * m
    stats = {}
    for t in GOLD_TABLES:
        src, dst = f"{base_dir}/{t}.parquet", f"{out_dir}/{t}.parquet"
        if t in REPLICATED:
            table = pq.read_table(src)
            _write(replicate_table(table, REPLICATED[t], m, offset,
                                   rng(seed, 2, GOLD_TABLES.index(t))), dst)
        else:
            shutil.copyfile(src, dst)
        stats[t] = (pq.ParquetFile(dst).metadata.num_rows, os.path.getsize(dst))
    return stats


def query_sequence(names, seed, blocks):
    """``blocks`` shuffled blocks, each a permutation of ``names``."""
    r = rng(seed, 4)
    return [names[i] for _ in range(blocks) for i in r.permutation(len(names))]


def link_dir(src_dir, dst_dir):
    """A new directory whose files are hard links to ``src_dir``'s (a fresh
    path, hence fresh cache keys, without copying bytes)."""
    os.makedirs(dst_dir, exist_ok=True)
    for f in sorted(os.listdir(src_dir)):
        try:
            os.link(f"{src_dir}/{f}", f"{dst_dir}/{f}")
        except OSError:
            shutil.copyfile(f"{src_dir}/{f}", f"{dst_dir}/{f}")


def dir_digest(d):
    """sha256 over the names and bytes of every file in ``d``."""
    h = hashlib.sha256()
    for f in sorted(os.listdir(d)):
        h.update(f.encode())
        with open(f"{d}/{f}", "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()
