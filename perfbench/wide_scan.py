"""Workload ``wide_scan``: Spark execution over a warm plan.

A lineitem-shaped table (synthetic, generated from the seed at the row
count of TPC-H sf0.1) written through the engine's Spark write path
(``write_df``) and partitioned by ship month (84 partitions).  One
long-lived ``IcebergTable`` handle keeps the manifest cache warm.  Reads
are Q1- and Q6-shaped aggregates over ship-month ranges whose widths
cycle through a fixed ladder from one month to the whole table, with
random positions and discount / quantity thresholds.

The oracle is DuckDB over the same source parquet: counts exact, float
sums to a relative 1e-9.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np

SIZES = {
    "full": {"rows": 600_000},
    "tiny": {"rows": 20_000},
}
FIRST_MONTH = (1992, 1)
MONTHS = 84
WIDTHS = (1, 2, 4, 8, 16, 32, MONTHS)  # ship-month range widths, one cycle

SCHEMA = [
    {"id": 1, "name": "l_orderkey", "type": "long", "required": False},
    {"id": 2, "name": "l_quantity", "type": "double", "required": False},
    {"id": 3, "name": "l_extendedprice", "type": "double", "required": False},
    {"id": 4, "name": "l_discount", "type": "double", "required": False},
    {"id": 5, "name": "l_tax", "type": "double", "required": False},
    {"id": 6, "name": "l_returnflag", "type": "string", "required": False},
    {"id": 7, "name": "l_linestatus", "type": "string", "required": False},
    {"id": 8, "name": "l_shipdate", "type": "date", "required": False},
]

Q1_SQL = """
SELECT l_returnflag, l_linestatus, sum(l_quantity), sum(l_extendedprice),
       sum(l_extendedprice * (1 - l_discount)),
       sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), count(*)
FROM read_parquet(?) WHERE l_shipdate >= ? AND l_shipdate < ? AND l_quantity < ?
GROUP BY 1, 2 ORDER BY 1, 2
"""
Q6_SQL = """
SELECT coalesce(sum(l_extendedprice * l_discount), 0), count(*)
FROM read_parquet(?) WHERE l_shipdate >= ? AND l_shipdate < ?
  AND l_discount >= ? AND l_discount <= ? AND l_quantity < ?
"""


def month_start(i: int) -> dt.date:
    y, m = divmod(FIRST_MONTH[1] - 1 + i, 12)
    return dt.date(FIRST_MONTH[0] + y, m + 1, 1)


class Workload:
    name = "wide_scan"
    cycle = len(WIDTHS)
    builds_with_spark = True
    warm_ops = 1
    min_cycles = 2

    def __init__(self, ctx) -> None:
        import duckdb
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.ctx = ctx
        n = SIZES[ctx.scale]["rows"]
        rng = np.random.default_rng([ctx.seed, 1])
        days = (month_start(MONTHS) - month_start(0)).days
        ship = np.datetime64(month_start(0)) + rng.integers(0, days, n).astype("timedelta64[D]")
        tbl = pa.table(
            {
                "l_orderkey": np.arange(n, dtype=np.int64) // 4,
                "l_quantity": rng.integers(1, 51, n).astype(np.float64),
                "l_extendedprice": rng.integers(90_000, 10_500_000, n) / 100.0,
                "l_discount": rng.integers(0, 11, n) / 100.0,
                "l_tax": rng.integers(0, 9, n) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
                "l_shipdate": pa.array(ship.astype("datetime64[D]"), pa.date32()),
            }
        )
        self.src = os.path.join(ctx.run_dir, "src", "lineitem")
        os.makedirs(self.src)
        pq.write_table(tbl, os.path.join(self.src, "part-0.parquet"))
        self.duck = duckdb.connect()
        self.duck.execute("SET threads = 2")
        self.rng = np.random.default_rng([ctx.seed, 2])
        self.table = None
        self.n_ops = 0

    def build(self) -> None:
        """The set-up: the whole table in one distributed append."""
        from daskberg_spark.iceberg import writer

        path = os.path.join(self.ctx.run_dir, "tables", "wide")
        w = writer.IcebergWriter(
            path, SCHEMA, [{"name": "ship_month", "transform": "month", "source": "l_shipdate"}]
        )
        writer.write_df(w, self.ctx.spark.read.parquet(self.src))
        self.path = path

    def next_op(self):
        from pyspark.sql import functions as F

        import daskberg_spark.iceberg.scan  # noqa: F401  (attaches IcebergTable.to_df)
        from daskberg_spark.iceberg.metadata import IcebergTable

        if self.table is None:  # one handle for the whole run: a warm manifest cache
            self.table = IcebergTable(self.path)
        width = WIDTHS[self.n_ops % len(WIDTHS)]
        q6 = (self.n_ops // len(WIDTHS) + self.n_ops) % 2 == 1
        self.n_ops += 1
        first = int(self.rng.integers(0, MONTHS - width + 1))
        lo, hi = month_start(first), month_start(first + width)
        qty = float(self.rng.integers(10, 51)) + 0.5
        filters = [("l_shipdate", ">=", lo), ("l_shipdate", "<", hi), ("l_quantity", "<", qty)]
        glob = os.path.join(self.src, "*.parquet")
        if q6:
            disc = float(self.rng.integers(1, 10)) / 100.0
            d_lo, d_hi = disc - 0.015, disc + 0.015
            filters += [("l_discount", ">=", d_lo), ("l_discount", "<=", d_hi)]
            params = [glob, lo, hi, d_lo, d_hi, qty]
            sql = Q6_SQL
        else:
            params = [glob, lo, hi, qty]
            sql = Q1_SQL
        expected = lambda: [tuple(r) for r in self.duck.execute(sql, params).fetchall()]  # noqa: E731
        table, spark, action = self.table, self.ctx.spark, self.ctx.action

        def read():
            df = table.to_df(spark, filters=filters)
            if q6:
                agg = df.agg(
                    F.coalesce(F.sum(F.col("l_extendedprice") * F.col("l_discount")), F.lit(0.0)),
                    F.count(F.lit(1)),
                )
            else:
                net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
                agg = df.groupBy("l_returnflag", "l_linestatus").agg(
                    F.sum("l_quantity"),
                    F.sum("l_extendedprice"),
                    F.sum(net),
                    F.sum(net * (1 + F.col("l_tax"))),
                    F.count(F.lit(1)),
                )
            return sorted(tuple(r) for r in action(agg))

        return "read", read, self.ctx.expect(expected), [("q6" if q6 else "q1", width)] + filters

    def facts(self) -> dict:
        from perfbench.harness import table_facts

        return dict(table_facts(self.path), rows=SIZES[self.ctx.scale]["rows"])

    def close(self) -> None:
        self.duck.close()
