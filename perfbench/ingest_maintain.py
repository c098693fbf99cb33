"""Workload ``ingest_maintain``: commit IO, delete application and the
statistics lifecycle, with reads beside the writes.

A day-partitioned table whose opt-in statistics are bootstrapped at
set-up (file Blooms on ``u``, sums and quantiles on ``v``, theta NDV
partials).  A fixed, seeded op cycle then runs:

- **append**: ``commit_with_retries(path, lambda w: w.append(batch))``;
- **delete**: ``delete_where_spark`` on a random ``id`` residue;
- **read**: a fresh handle, then ``to_df`` with a full count and sum, or
  a Bloom-prunable ``u == x`` lookup, read through the deletes;
- **maintain**: ``maintain(...)`` with thresholds at which compaction,
  dangling-delete removal, manifest rewrite, expiry, orphan removal and
  the one-pass statistics refresh all fire.

The oracle is an in-memory model of the live rows.
"""

from __future__ import annotations

import os

import numpy as np

SIZES = {
    "full": {"base_days": 8, "base_rows": 16_000, "append_rows": 2_000},
    "tiny": {"base_days": 2, "base_rows": 400, "append_rows": 50},
}
# one cycle; the run ends on a cycle boundary so every run holds whole cycles
CYCLE = (
    "append", "read_full", "read_lookup", "delete", "read_full", "read_full",
    "append", "read_full", "read_lookup", "read_full", "maintain",
)
DELETE_MODULUS = 64  # a delete removes the live rows with id % 64 == r
U_SPACE = 1 << 40  # u is sparse, so a u == x lookup prunes by Bloom
MAINTAIN_ARGS = {
    "min_file_bytes": 1 << 30,  # every partition holding >= 2 files compacts
    "max_manifests": 2,
    "keep_last": 3,
    "orphan_older_than_ms": None,  # one client, quiesced between ops
    "compact_dead_fraction": 0.02,
}
MIN_CYCLES = 3  # maintain runs per run; at --seconds 10 the loop alone would stop after 2
EPOCH_DAY = 19_000  # first partition day (days since 1970-01-01)

SCHEMA = [
    {"id": 1, "name": "id", "type": "long", "required": False},
    {"id": 2, "name": "d", "type": "date", "required": False},
    {"id": 3, "name": "u", "type": "long", "required": False},
    {"id": 4, "name": "v", "type": "long", "required": False},
]


class Workload:
    name = "ingest_maintain"
    cycle = len(CYCLE)
    builds_with_spark = True
    warm_ops = 5  # through the first delete and the read after it, which runs cold
    min_cycles = MIN_CYCLES

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.size = SIZES[ctx.scale]
        self.rng = np.random.default_rng([ctx.seed, 1])
        self.path = os.path.join(ctx.run_dir, "tables", "ingest")
        self.next_id = 0
        self.day = EPOCH_DAY
        self.live = {k: np.zeros(0, dtype=np.int64) for k in ("id", "u", "v")}
        self.used_residues: set[int] = set()
        self.n_ops = 0
        self.maintain_reports: list[dict] = []
        self.commit_meta: list[dict] = []
        self.files_rewritten = 0
        self.stored_after_maintain: list[float] = []  # stored_bytes_per_live_row after each maintain

    # -- the live-row model ------------------------------------------------

    def _batch(self, n: int, day: int) -> dict[str, np.ndarray]:
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        return {
            "id": ids,
            "d": np.full(n, day, dtype=np.int64),
            "u": self.rng.integers(0, U_SPACE, n, dtype=np.int64),
            "v": self.rng.integers(-(10**6), 10**6, n, dtype=np.int64),
        }

    def _add(self, b: dict[str, np.ndarray]) -> None:
        for k in ("id", "u", "v"):
            self.live[k] = np.concatenate([self.live[k], b[k]])

    @staticmethod
    def _rows(b: dict[str, np.ndarray]) -> list[dict]:
        import datetime as dt

        epoch = dt.date(1970, 1, 1)
        days = {d: epoch + dt.timedelta(days=d) for d in set(b["d"].tolist())}
        return [
            {"id": i, "d": days[d], "u": u, "v": v}
            for i, d, u, v in zip(b["id"].tolist(), b["d"].tolist(), b["u"].tolist(), b["v"].tolist())
        ]

    # -- set-up --------------------------------------------------------------

    def build(self) -> None:
        """The set-up: base table plus the statistics bootstrap."""
        from daskberg_spark.iceberg import writer
        from daskberg_spark.iceberg.bloomindex import write_file_blooms
        from daskberg_spark.iceberg.quantiles import refresh_quantile_statistics
        from daskberg_spark.iceberg.sumstats import write_sum_statistics
        from daskberg_spark.iceberg.theta import write_file_theta_partials

        spark = self.ctx.spark
        w = writer.IcebergWriter(self.path, SCHEMA, [{"name": "d_day", "transform": "day", "source": "d"}])
        per_day = self.size["base_rows"] // self.size["base_days"]
        for _ in range(self.size["base_days"]):
            b = self._batch(per_day, self.day)
            w.append(self._rows(b))
            self._add(b)
            self.day += 1
        write_file_blooms(w, spark, ["u"])
        write_sum_statistics(w, spark, ["v"])
        write_file_theta_partials(w, spark)
        writer.refresh_table_statistics(w, spark)
        refresh_quantile_statistics(w, spark, columns=["v"])

    # -- ops -----------------------------------------------------------------

    def next_op(self):
        from daskberg_spark.iceberg import writer

        kind = CYCLE[self.n_ops % len(CYCLE)]
        self.n_ops += 1
        path, spark = self.path, self.ctx.spark
        meta_before = self._meta_files() if self.ctx.tracer is not None else None

        if kind == "append":
            # a new day every other cycle: the newest partition always holds
            # small files for the next compaction
            if self.n_ops % (2 * len(CYCLE)) == 1:
                self.day += 1
            b = self._batch(self.size["append_rows"], self.day)
            rows = self._rows(b)
            self._add(b)

            def op():
                return writer.commit_with_retries(path, lambda w: w.append(rows))

            return kind, op, self._committed(kind, meta_before, True), {"rows": len(rows), "day": self.day}

        if kind == "delete":
            if len(self.used_residues) == DELETE_MODULUS:
                self.used_residues.clear()  # appends since have refilled every residue
            free = [r for r in range(DELETE_MODULUS) if r not in self.used_residues]
            r = int(self.rng.choice(free))
            self.used_residues.add(r)
            hit = self.live["id"] % DELETE_MODULUS == r
            any_hit = bool(hit.any())
            for k in self.live:
                self.live[k] = self.live[k][~hit]
            pred = f"id % {DELETE_MODULUS} = {r}"

            def op():
                return writer.commit_with_retries(path, lambda w: writer.delete_where_spark(w, spark, pred))

            return kind, op, self._committed(kind, meta_before, any_hit), {"predicate": pred}

        if kind == "maintain":
            reports = self.maintain_reports

            def op():
                w = writer.IcebergWriter.load(path)
                rep = writer.maintain(w, spark, **MAINTAIN_ARGS)
                reports.append(rep)
                return rep

            return kind, op, self._committed(kind, meta_before, None), dict(MAINTAIN_ARGS)

        from pyspark.sql import functions as F

        import daskberg_spark.iceberg.scan  # noqa: F401  (attaches IcebergTable.to_df)
        from daskberg_spark.iceberg.metadata import IcebergTable

        u, v = self.live["u"], self.live["v"]
        if kind == "read_lookup":
            x = int(u[self.rng.integers(0, len(u))]) if self.n_ops % 2 else int(self.rng.integers(0, U_SPACE))
            filters = [("u", "==", x)]
            mask = u == x
            expected = [(int(mask.sum()), int(v[mask].sum()))]
        else:
            filters = None
            expected = [(len(v), int(v.sum()))]
        action = self.ctx.action

        def op():
            df = IcebergTable(path).to_df(spark, filters=filters)
            return [tuple(r) for r in action(df.agg(F.count(F.lit(1)), F.coalesce(F.sum("v"), F.lit(0))))]

        return "read", op, self.ctx.expect(expected), {"kind": kind, "filters": filters}

    def _meta_files(self) -> dict[str, int]:
        d = os.path.join(self.path, "metadata")
        return {n: os.path.getsize(os.path.join(d, n)) for n in os.listdir(d)}

    def _committed(self, kind: str, meta_before, expect_commit):
        """Check for a write op: a snapshot id came back iff rows were
        written or matched.  Traced runs also record the metadata bytes
        and data files the commit added."""

        def check(result):
            if expect_commit is not None and (result is not None) != expect_commit:
                return f"{kind} returned {result!r}, expected a commit: {expect_commit}"
            if kind == "maintain":
                self._count_rewritten(result)
                self.stored_after_maintain.append(self._stored_per_live_row())
            elif meta_before is not None:
                after = self._meta_files()
                added = sum(sz for n, sz in after.items() if n not in meta_before)
                from daskberg_spark.iceberg.metadata import IcebergTable

                summ = (IcebergTable(self.path).current_snapshot or {}).get("summary") or {}
                self.commit_meta.append(
                    {"kind": kind, "metadata_bytes": added, "data_files": int(summ.get("added-data-files", 0))}
                )
            return None

        return check

    def _count_rewritten(self, report: dict) -> None:
        """Data files the maintain's compaction removed (its snapshot
        summary), while the snapshot is still retained."""
        from daskberg_spark.iceberg.metadata import IcebergTable

        snap = IcebergTable(self.path).snapshots.get(report.get("compact"))
        summary = (snap or {}).get("summary") or {}
        self.files_rewritten += int(summary.get("deleted-data-files", 0))

    # -- end of run ---------------------------------------------------------

    def _stored_per_live_row(self) -> float:
        from perfbench.harness import du_bytes

        return du_bytes(self.path) / max(1, len(self.live["id"]))

    def _stored_by_kind(self) -> dict[str, float]:
        """Bytes per live row under the table directory, by file kind."""
        out: dict[str, float] = {}
        for dirpath, _dirs, files in os.walk(self.path):
            for name in files:
                if name.endswith(".metadata.json"):
                    kind = "metadata_json"
                elif name.endswith(".puffin"):
                    kind = "puffin"
                elif name.endswith(".avro"):
                    kind = "manifests"
                elif name.endswith(".parquet"):
                    kind = "delete_files" if "-delete-" in name else "data_files"
                else:
                    kind = "other"
                out[kind] = out.get(kind, 0.0) + os.path.getsize(os.path.join(dirpath, name))
        live = max(1, len(self.live["id"]))
        return {k: v / live for k, v in sorted(out.items())}

    def end_metrics(self) -> dict:
        return {"stored_bytes_per_live_row": {"value": self._stored_per_live_row(), "unit": "B/row"}}

    def facts(self) -> dict:
        from perfbench.harness import table_facts

        steps = ("compact", "dangling_deletes", "rewrite_manifests", "expire_snapshots", "remove_orphans", "stats_scan")
        fired = {k: sum(1 for r in self.maintain_reports if r.get(k)) for k in steps}
        return dict(
            table_facts(self.path),
            rows=int(len(self.live["id"])),
            maintain_runs=len(self.maintain_reports),
            maintain_steps_fired=fired,
            stored_bytes_per_live_row_by_maintain=self.stored_after_maintain,
            stored_bytes_per_live_row_by_kind=self._stored_by_kind(),
        )
