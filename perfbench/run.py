"""sparkberg benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload many_small_files --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Run it from the repository root.  It builds its tables under a fresh
directory in ``perfbench/.run/`` and removes it at exit.  The last
stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones;
the line before it is the full report (every metric with its unit and
sample count, failures by op, table sizes, host facts).  ``--workload
all`` runs every workload in turn, each in its own process, and prints
each one's two lines.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("many_small_files", "wide_scan", "ingest_maintain")
CPUS = min(4, os.cpu_count() or 1)
REL_TOL = 1e-9

# The metrics of the result line (name -> unit), as BENCHMARK.json lists
# them: the ones every gated workload yields.  The report line carries
# these and the workload-specific ones named in REPORTED and
# REPORTED_LAYER (the self-test checks both lists).
END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "read_p50_ms": "ms",
    "driver_peak_rss_mb": "MB",
}
PER_LAYER = {
    "avro.read_avro_file_ms": "ms",
    "avro.decode_us_per_entry": "us",
    "metadata.open_ms": "ms",
    "metadata.plan_files_ms": "ms",
    "metadata.plan_deletes_ms": "ms",
    "metadata.manifests_read": "count",
    "metadata.entries_decoded": "count",
    "metadata.files_planned": "count",
    "metadata.distributed_plans": "count",
    "planner.prune_ms": "ms",
    "planner.prune_ratio": "ratio",
    "planner.useful_file_ratio": "ratio",
    "scan.to_df_ms": "ms",
    "scan.delete_files_applied": "count",
    "spark.action_ms": "ms",
    "spark.jobs_per_read": "count",
    "spark.tasks_per_read": "count",
    "spark.failed_tasks": "count",
    "driver.cpu_ms_per_op": "ms",
    "driver.wait_ms_per_op": "ms",
    "writer.commit_ms": "ms",
    "layers.metadata_share_of_read": "ratio",
    "layers.named_share_of_read": "ratio",
}
_COMMON = ["setup_s", "ops_per_s", "read_p50_ms", "read_samples", "error_rate", "driver_peak_rss_mb"]
REPORTED = {
    "many_small_files": _COMMON,
    "wide_scan": _COMMON,
    "ingest_maintain": _COMMON + [
        "append_p50_ms", "append_samples", "delete_p50_ms", "delete_samples",
        "maintain_p50_ms", "maintain_samples", "stored_bytes_per_live_row",
    ],
}
REPORTED_LAYER = [
    "writer.load_ms", "writer.commit_retries", "writer.metadata_bytes_per_commit",
    "writer.data_files_per_commit", "writer.live_manifests", "writer.snapshots_retained",
    "spark.jobs_per_delete", "spark.tasks_per_delete", "spark.jobs_per_maintain", "spark.tasks_per_maintain",
    "maintain.compact_ms", "maintain.stats_refresh_ms", "maintain.rewrite_manifests_ms", "maintain.expire_ms",
    "maintain.orphans_ms", "maintain.files_rewritten", "stats.served_ratio", "stats.puffin_bytes",
]


class Ctx:
    """What a workload needs from the run: session, paths, seed, scale,
    the tracer (None when untraced), the Spark action and the oracle
    comparison."""

    def __init__(self, spark, run_dir: str, seed: int, scale: str, tracer, perturb: bool) -> None:
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.scale = scale
        self.tracer = tracer
        self._perturb = perturb

    def action(self, df):
        """The Spark action that ends a read (``collect``)."""
        if self.tracer is None:
            return df.collect()
        with self.tracer.span("spark.action"):
            return df.collect()

    def expect(self, expected):
        """A check of a read's rows against ``expected`` (rows, or a
        function computing them, run after the op)."""

        def check(result):
            rows = expected() if callable(expected) else expected
            if self._perturb:
                self._perturb = False
                rows = perturbed(rows)
            return same(result, rows)

        return check


def same(result, expected) -> str | None:
    """None when ``result`` equals ``expected`` (lists of row tuples;
    floats to a relative 1e-9, everything else exactly)."""
    if len(result) != len(expected):
        return f"{len(result)} rows, expected {len(expected)}: {result!r} vs {expected!r}"
    for r, e in zip(result, expected):
        if len(r) != len(e):
            return f"row {r!r} vs expected {e!r}"
        for a, b in zip(r, e):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or not math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-6):
                    return f"row {r!r} vs expected {e!r}"
            elif a != b:
                return f"row {r!r} vs expected {e!r}"
    return None


def perturbed(expected):
    """The expected rows with the first number off by one (self-test)."""
    rows = [list(r) for r in expected]
    for r in rows:
        for j, x in enumerate(r):
            if isinstance(x, (int, float)) and not isinstance(x, bool):
                r[j] = x + 1
                return [tuple(r) for r in rows]
    return [tuple(r) for r in rows] + [(0,)]


def load_workload(name: str):
    import importlib

    return importlib.import_module(f"perfbench.{name}").Workload


def run(args) -> tuple[dict, dict]:
    from perfbench import harness

    run_dir = harness.make_run_dir()
    tracer = harness.Tracer() if args.trace else None
    spark = None
    try:
        if tracer is not None:
            harness.install_tracer(tracer)
        ctx = Ctx(None, run_dir, args.seed, args.scale, tracer, args.perturb)
        wl = load_workload(args.workload)(ctx)

        def build() -> float:
            t = time.perf_counter()
            wl.build()
            return time.perf_counter() - t

        if not wl.builds_with_spark:
            setup_s = build()  # before the JVM starts, so its start-up threads do not compete
        t0 = time.perf_counter()
        spark = ctx.spark = harness.start_spark(run_dir, CPUS)
        spark.range(1000).selectExpr("sum(id)").collect()  # JVM warm-up
        session_s = time.perf_counter() - t0
        if wl.builds_with_spark:
            setup_s = build()
        census = harness.JobCensus(spark) if tracer is not None else None

        # warm each op type's path (JIT, Python workers) with untimed ops,
        # then time whole op cycles until the summed op time reaches
        # --seconds, and at least the workload's min_cycles of them: on a
        # slow host fewer cycles would change the op mix and the samples
        for _ in range(wl.warm_ops):
            _kind, fn, _check, _detail = wl.next_op()
            fn()
        if tracer is not None:
            tracer.phase = "loop"
        log = harness.OpLog()
        steal0 = harness.cpu_steal()
        wall0 = time.perf_counter()
        cycles = 0
        while log.engine_s < args.seconds or cycles < wl.min_cycles:
            cycles += 1
            for _ in range(wl.cycle):
                kind, fn, check, detail = wl.next_op()
                op_id = len(log.ops)
                if census is not None:
                    census.begin(op_id)
                log.run(kind, fn, check, tracer=tracer, detail=detail)
                if census is not None:
                    census.end(op_id)
                    harness.count_useful_files(tracer)
        loop_wall_s = time.perf_counter() - wall0
        steal1 = harness.cpu_steal()
        if tracer is not None:
            tracer.restore()
        e2e = _end_to_end(log, setup_s)
        if hasattr(wl, "end_metrics"):
            e2e.update(wl.end_metrics())
        read_filters = [json.dumps(o["detail"], default=str) for o in log.of("read")]
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "scale": args.scale,
            "trace": bool(args.trace),
            "spans_recorded": 0 if tracer is None else len(tracer.spans),
            "session_start_s": session_s,
            "cycles": cycles,
            "loop_wall_s": loop_wall_s,
            "loop_cpu_steal_pct": 100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
            "engine_s": log.engine_s,
            "repeated_filter_share": (
                (len(read_filters) - len(set(read_filters))) / len(read_filters) if read_filters else 0.0
            ),
            "attempted": len(log.ops),
            "op_ms": [[o["kind"], o["ms"], o["cpu_ms"]] for o in log.ops],
            "failures": log.failures,
            "tables": wl.facts(),
            "host": harness.host_facts(run_dir, CPUS),
            "end_to_end": e2e,
        }
        if tracer is not None:
            report["per_layer"] = _per_layer(tracer, census, log, wl)
            spans = os.path.join(harness.SPANS_DIR, f"{args.workload}.jsonl")
            tracer.dump(spans)
            report["spans_file"] = os.path.relpath(spans, ROOT)
        if hasattr(wl, "close"):
            wl.close()
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        harness.remove_run_dir(run_dir)
    return report, e2e


def _end_to_end(log, setup_s: float) -> dict:
    from perfbench import harness

    ops = log.ops
    out = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "ops_per_s": {"value": len(ops) / log.engine_s, "unit": "1/s"},
        "error_rate": {"value": len(log.failures) / len(ops), "unit": "ratio"},
        "driver_peak_rss_mb": {"value": harness.peak_rss_mb(), "unit": "MB"},
    }
    harness.latency_report(log, "read", out, "read")
    for kind in ("append", "delete"):
        if log.of(kind):
            harness.latency_report(log, kind, out, kind)
    if log.of("maintain"):
        harness.latency_report(log, "maintain", out, "maintain", tail=False)
    return out


def _per_layer(tracer, census, log, wl) -> dict:
    from perfbench import harness

    att = harness.attribute(tracer.spans)
    reads = [o["id"] for o in log.of("read")]
    n_reads = max(1, len(reads))
    loop_spans = [s for s in tracer.spans if s["phase"] == "loop" and s["end"] is not None]

    def read_layer_ms(layer: str) -> float:
        return sum(att.get(i, {}).get(layer, 0.0) for i in reads) * 1000.0 / n_reads

    def read_spans(name: str):
        rs = set(reads)
        return [s for s in loop_spans if s["name"] == name and s["op"] in rs]

    avro = read_spans("avro.read_avro_file")
    manifests = [s for s in avro if s.get("manifest")]
    entries = sum(s.get("entries", 0) for s in manifests)
    avro_ms = read_layer_ms("avro") * n_reads
    to_dfs = read_spans("scan.to_df")
    planned = sum(s.get("files", 0) for s in to_dfs)
    live = sum(s.get("live", 0) for s in to_dfs)
    read_wall = sum(att.get(i, {}).get("_wall", 0.0) for i in reads)
    meta_layers = sum(att.get(i, {}).get(k, 0.0) for i in reads for k in ("avro", "metadata", "planner"))
    named = sum(v for i in reads for k, v in att.get(i, {}).items() if k not in ("op", "_wall") and not k.startswith("span:"))

    def per_kind(kind: str, field: str) -> float:
        ids = [o["id"] for o in log.of(kind)]
        return sum(census.per_op.get(i, {}).get(field, 0) for i in ids) / len(ids) if ids else 0.0

    def mean_ms(name: str, all_phases: bool = False) -> float:
        """Mean duration of the named spans (timed loop, or whole run)."""
        ss = [s for s in tracer.spans if s["name"] == name and s["end"] is not None and (all_phases or s["phase"] == "loop")]
        return sum(s["end"] - s["start"] for s in ss) * 1000.0 / len(ss) if ss else 0.0

    ops = log.ops
    out = {
        "avro.read_avro_file_ms": (read_layer_ms("avro"), "ms"),
        "avro.decode_us_per_entry": (avro_ms * 1000.0 / entries if entries else 0.0, "us"),
        "metadata.open_ms": (_span_self_ms(att, reads, "metadata.open") / n_reads, "ms"),
        "metadata.plan_files_ms": (_span_self_ms(att, reads, "metadata.plan_files") / n_reads, "ms"),
        "metadata.plan_deletes_ms": (_span_self_ms(att, reads, "metadata.plan_deletes") / n_reads, "ms"),
        "metadata.manifests_read": (len(manifests) / n_reads, "count"),
        "metadata.entries_decoded": (entries / n_reads, "count"),
        "metadata.files_planned": (planned / n_reads, "count"),
        "metadata.distributed_plans": (len(read_spans("metadata.plan_distributed")) / n_reads, "count"),
        "planner.prune_ms": (read_layer_ms("planner"), "ms"),
        "planner.prune_ratio": (planned / live if live else 0.0, "ratio"),
        "scan.to_df_ms": (_span_self_ms(att, reads, "scan.to_df") / n_reads, "ms"),
        "scan.delete_files_applied": (sum(s.get("deletes", 0) for s in to_dfs) / n_reads, "count"),
        "spark.action_ms": (read_layer_ms("spark"), "ms"),
        "spark.jobs_per_read": (per_kind("read", "jobs"), "count"),
        "spark.tasks_per_read": (per_kind("read", "tasks"), "count"),
        "spark.failed_tasks": (sum(v["failed_tasks"] for v in census.per_op.values()), "count"),
        "driver.cpu_ms_per_op": (sum(o["cpu_ms"] for o in ops) / len(ops), "ms"),
        "driver.wait_ms_per_op": (sum(o["ms"] - o["cpu_ms"] for o in ops) / len(ops), "ms"),
        "layers.metadata_share_of_read": (meta_layers / read_wall if read_wall else 0.0, "ratio"),
        "layers.named_share_of_read": (named / read_wall if read_wall else 0.0, "ratio"),
        "writer.commit_ms": (mean_ms("writer.commit", True), "ms"),
        "writer.load_ms": (mean_ms("writer.load", True), "ms"),
    }
    hit, tried = (sum(x) for x in zip(*tracer.useful)) if tracer.useful else (0, 0)
    out["planner.useful_file_ratio"] = (hit / tried if tried else 0.0, "ratio")
    for kind in ("delete", "maintain"):
        if log.of(kind):
            out[f"spark.jobs_per_{kind}"] = (per_kind(kind, "jobs"), "count")
            out[f"spark.tasks_per_{kind}"] = (per_kind(kind, "tasks"), "count")
    if hasattr(wl, "maintain_reports"):
        out.update(_writer_layer(tracer, log, wl, mean_ms))
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def _span_self_ms(att, ops, name: str) -> float:
    return sum(att.get(i, {}).get("span:" + name, 0.0) for i in ops) * 1000.0


def _writer_layer(tracer, log, wl, mean_ms) -> dict:
    from daskberg_spark.iceberg.writer import IcebergWriter

    commits = wl.commit_meta
    # commit_with_retries loads the writer once per attempt
    writes = {o["id"] for o in log.ops if o["kind"] in ("append", "delete")}
    loads = sum(1 for s in tracer.spans if s["name"] == "writer.load" and s["op"] in writes)
    w = IcebergWriter.load(wl.path)
    stats = [r.get("stats_scan") or {} for r in wl.maintain_reports]
    served = sum(s.get("raw_served", 0) + s.get("dirty_served", 0) + s.get("current_served", 0) for s in stats)
    fallback = sum(s.get("raw_fallback", 0) + s.get("dirty_fallback", 0) + s.get("current_fallback", 0) for s in stats)
    puffin = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _d, fs in os.walk(wl.path)
        for f in fs
        if f.endswith(".puffin")
    )
    return {
        "writer.commit_retries": (loads - len(writes), "count"),
        "writer.metadata_bytes_per_commit": (
            sum(c["metadata_bytes"] for c in commits) / len(commits) if commits else 0.0,
            "B",
        ),
        "writer.data_files_per_commit": (
            sum(c["data_files"] for c in commits) / len(commits) if commits else 0.0,
            "count",
        ),
        "writer.live_manifests": (len(w.manifests), "count"),
        "writer.snapshots_retained": (len(w.snapshots), "count"),
        "maintain.compact_ms": (mean_ms("maintain.compact"), "ms"),
        "maintain.stats_refresh_ms": (mean_ms("maintain.stats_refresh"), "ms"),
        "maintain.rewrite_manifests_ms": (mean_ms("maintain.rewrite_manifests"), "ms"),
        "maintain.expire_ms": (mean_ms("maintain.expire"), "ms"),
        "maintain.orphans_ms": (mean_ms("maintain.orphans"), "ms"),
        "maintain.files_rewritten": (wl.files_rewritten, "count"),
        "stats.served_ratio": (served / (served + fallback) if served + fallback else 0.0, "ratio"),
        "stats.puffin_bytes": (puffin, "B"),
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full", help="table sizes (tiny: self-test)")
    p.add_argument("--perturb", action="store_true", help="self-test: corrupt the first expected value")
    args = p.parse_args(argv)

    if args.workload == "all":
        import subprocess

        common = ["--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
                  "--scale", args.scale] + (["--perturb"] if args.perturb else [])
        return max(
            subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", w, *common]).returncode
            for w in WORKLOADS
        )

    # the JVM and the libraries write to fd 1 too; point it at stderr so
    # that stdout holds only the report and result lines
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.path.insert(0, ROOT)
    try:
        import daskberg_spark.iceberg.scan  # noqa: F401
        import daskberg_spark.iceberg.writer  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(daskberg_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: daskberg_spark comes from {daskberg_spark.__file__}, not {ROOT}", file=sys.stderr)
        return 2

    report, e2e = run(args)
    failed = len(report["failures"])
    print(json.dumps({"report": report}, default=str), file=out)
    measured, names = (report["per_layer"], PER_LAYER) if args.trace else (e2e, END_TO_END)
    metrics = {k: {"value": float(measured[k]["value"]), "unit": u} for k, u in names.items()}
    result = {
        "correct": failed == 0,
        "attempted": report["attempted"],
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(result), file=out)
    out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
