#!/usr/bin/env python3
"""Same-box pyarrow baseline at the reference's exact shapes (driver-side
tooling only, never a build dep — mirrors /root/reference/baseline/
{filter,sum,take,join}.py's `arrow` engine at one SF, min-of-3).

The reference's DataFusion/Polars legs stay env-blocked (wheels
unresolvable offline, re-checked each round); this measures the one leg
that installs offline, fresh, in the same sitting as a graftbench `ref_ops`
run; its Spark counterpart is the traced per-layer `ref.*_rows_per_s`.

Usage: python3 tools/pyarrow_ref.py [SF] [ITERS]   (default 16, 3;
r18 verdict #5 records the headline pairing min-of-5 both sides)
"""
import json
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as cp

SF = int(sys.argv[1]) if len(sys.argv) > 1 else 16
ITERS = int(sys.argv[2]) if len(sys.argv) > 2 else 3
BATCH = 64 << 10


def min3(fn):
    return min(fn() for _ in range(ITERS))


def bench_filter():
    n_batches = SF * 128
    batches = [pa.record_batch(
        [np.random.randint((1 << 32) + 1, size=BATCH)], names=["v"])
        for _ in range(n_batches)]

    def run():
        st = time.time()
        table = pa.Table.from_batches(batches)
        mask = cp.less(table.column("v"), 1 << 30)
        cp.filter(table.column("v"), mask)
        return time.time() - st
    return min3(run), n_batches * BATCH


def bench_sum():
    n_batches = SF * 32
    batches = [pa.record_batch(
        [np.random.randint((1 << 32) + 1, size=BATCH)], names=["v"])
        for _ in range(n_batches)]

    def run():
        st = time.time()
        cp.sum(pa.Table.from_batches(batches).column("v"))
        return time.time() - st
    return min3(run), n_batches * BATCH


def bench_take():
    batch_size = 4 << 20
    idx_size = batch_size >> 3
    batches = [pa.record_batch(
        [np.random.randint((1 << 32) + 1, size=batch_size)], names=["v"])
        for _ in range(SF)]
    indices = [np.random.randint(batch_size, size=idx_size)
               for _ in range(SF)]

    def run():
        st = time.time()
        for batch, idx in zip(batches, indices):
            cp.take(batch, idx)
        return time.time() - st
    return min3(run), SF * batch_size


def bench_join():
    n_batches = SF * 32
    left = [pa.record_batch(
        [np.random.randint(i * BATCH, (i + 1) * BATCH, size=BATCH),
         np.random.randint(64 << 10, size=BATCH)], names=["fk", "x"])
        for i in range(n_batches)]
    right = [pa.record_batch(
        [np.arange(i * BATCH, (i + 1) * BATCH),
         np.random.randint(64 << 10, size=BATCH)], names=["pk", "y"])
        for i in range(n_batches)]

    def run():
        st = time.time()
        lt = pa.Table.from_batches(left)
        rt = pa.Table.from_batches(right)
        lt.join(rt, keys="fk", right_keys="pk", join_type="inner")
        return time.time() - st
    return min3(run), n_batches * BATCH


def main():
    out = {"sf": SF, "engine": "pyarrow", "unit": "sec", "min_of": ITERS}
    for name, fn in (("filter", bench_filter), ("sum", bench_sum),
                     ("take", bench_take), ("join", bench_join)):
        sec, rows = fn()
        out[name] = round(sec, 4)
        out[name + "_rows"] = rows
    print(json.dumps(out))


if __name__ == "__main__":
    main()
