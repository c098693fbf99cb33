"""Workload ``many_small_files``: cold metadata planning.

A ``bucket[96]``-partitioned table built from many small appends
(``IcebergWriter.append``), so each append adds one data file per bucket
and one manifest.  Keys grow with the append (time-ordered ids), and
within an append ``ts`` follows the bucket, so each file covers a narrow
key range and a narrow ``ts`` slice.  Every read opens a fresh
``IcebergTable`` (cold manifest cache, as in a new session) and reads
the rows of the few files that survive pruning:

- a ``ts`` range, which only column bounds prune (every manifest is
  decoded);
- a ``key ==`` lookup, pruned by the bucket partition and the bounds.

The oracle is the generator's own rows, compared exactly.
"""

from __future__ import annotations

import os

import numpy as np

SIZES = {
    # appends x buckets data files, one manifest and snapshot per append
    "full": {"appends": 128, "rows_per_append": 384, "buckets": 96},
    "tiny": {"appends": 4, "rows_per_append": 32, "buckets": 8},
}
KEY_STRIDE = 1 << 30  # append i draws keys from [i * KEY_STRIDE, (i + 1) * KEY_STRIDE)
TS_STEP = 1 << 12  # append i writes ts in [i * TS_STEP, (i + 1) * TS_STEP)
TS_SPAN = 2  # a ts range covers two whole bucket slices of one append: 2 files
LOOKUP_EVERY = 3  # every third read is a key lookup, the rest ts ranges

SCHEMA = [
    {"id": 1, "name": "key", "type": "long", "required": False},
    {"id": 2, "name": "ts", "type": "long", "required": False},
    {"id": 3, "name": "val", "type": "long", "required": False},
]


class Workload:
    name = "many_small_files"
    cycle = LOOKUP_EVERY
    builds_with_spark = False
    warm_ops = 3  # the first reads after the JVM starts run slower
    min_cycles = 2

    def __init__(self, ctx) -> None:
        from daskberg_spark.iceberg.transforms import get_transform

        self.ctx = ctx
        self.size = SIZES[ctx.scale]
        n, r, nb = self.size["appends"], self.size["rows_per_append"], self.size["buckets"]
        rng = np.random.default_rng([ctx.seed, 1])
        self.keys = np.arange(n, dtype=np.int64)[:, None] * KEY_STRIDE + rng.integers(
            0, KEY_STRIDE, (n, r), dtype=np.int64
        )
        bucket_of, _ = get_transform(f"bucket[{nb}]")
        buckets = np.array([bucket_of(k) for k in self.keys.ravel().tolist()]).reshape(n, r)
        self.slice = TS_STEP // nb  # ts width of one bucket's slice
        self.ts = (
            np.arange(n, dtype=np.int64)[:, None] * TS_STEP
            + buckets * self.slice
            + rng.integers(0, self.slice, (n, r))
        )
        self.val = rng.integers(-(10**6), 10**6, (n, r), dtype=np.int64)
        self.rng = np.random.default_rng([ctx.seed, 2])
        self.path: str | None = None
        self.n_ops = 0

    def build(self) -> None:
        """The set-up: the whole table, appended batch by batch."""
        from daskberg_spark.iceberg.writer import IcebergWriter

        path = os.path.join(self.ctx.run_dir, "tables", "msf")
        w = IcebergWriter(
            path,
            SCHEMA,
            [{"name": "key_bucket", "transform": f"bucket[{self.size['buckets']}]", "source": "key"}],
        )
        for k, t, v in zip(self.keys.tolist(), self.ts.tolist(), self.val.tolist()):
            w.append([{"key": a, "ts": b, "val": c} for a, b, c in zip(k, t, v)])
        self.path = path

    def next_op(self):
        """(kind, engine call, result check, detail)."""
        import daskberg_spark.iceberg.scan  # noqa: F401  (attaches IcebergTable.to_df)
        from daskberg_spark.iceberg.metadata import IcebergTable

        self.n_ops += 1
        keys, ts, val = self.keys, self.ts, self.val
        if self.n_ops % LOOKUP_EVERY == 0:
            a, b = self.rng.integers(0, keys.shape[0]), self.rng.integers(0, keys.shape[1])
            k = int(keys[a, b])
            filters = [("key", "==", k)]
            mask = keys == k
        else:
            # a fixed width at a random slice keeps the files read per op
            # the same across seeds
            a, b = self.rng.integers(0, keys.shape[0]), self.rng.integers(0, self.size["buckets"] - TS_SPAN + 1)
            lo = int(a * TS_STEP + b * self.slice)
            hi = lo + TS_SPAN * self.slice
            filters = [("ts", ">=", lo), ("ts", "<", hi)]
            mask = (ts >= lo) & (ts < hi)
        expected = sorted(zip(keys[mask].tolist(), ts[mask].tolist(), val[mask].tolist()))
        path, spark, action = self.path, self.ctx.spark, self.ctx.action

        def read():
            df = IcebergTable(path).to_df(spark, filters=filters)
            return sorted(tuple(r) for r in action(df.select("key", "ts", "val")))

        return "read", read, self.ctx.expect(expected), filters

    def facts(self) -> dict:
        from perfbench.harness import table_facts

        return dict(table_facts(self.path), rows=int(self.keys.size))
