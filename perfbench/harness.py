"""Shared machinery for the sparkberg benchmark: the hermetic run
directory, the Spark session, the closed-loop op log, the span tracer
and the Spark job-group census.

Nothing here changes the engine.  The tracer wraps the engine's public
entry points from the benchmark's side (attribute patching in this
process) and is only installed for ``--trace 1`` runs.
"""

from __future__ import annotations

import os
import resource
import shutil
import statistics
import sys
import threading
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager
from typing import Any, Callable

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_BASE = os.path.join(ROOT, "perfbench", ".run")
SPANS_DIR = os.path.join(ROOT, "perfbench", ".spans")  # traced runs write their spans here


# -- hermetic run directory and Spark session --------------------------------


def fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path`` (from /proc/mounts)."""
    path = os.path.realpath(path)
    best, kind = "", "unknown"
    try:
        with open("/proc/mounts") as f:
            for line in f:
                parts = line.split()
                mnt = parts[1]
                if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                    best, kind = mnt, parts[2]
    except OSError:
        pass
    return kind


def make_run_dir() -> str:
    """A fresh per-run directory inside the checkout; tables, Spark
    scratch, JVM and Python temp files and the warehouse dir all go
    below it."""
    import tempfile

    d = os.path.join(RUN_BASE, f"{os.getpid()}-{time.time_ns()}")
    for sub in ("tables", "spark", "tmp", "src"):
        os.makedirs(os.path.join(d, sub))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(d, "tmp")
    return d


def start_spark(run_dir: str, cpus: int):
    """Start the engine's session (``get_spark``) with every scratch
    path pointed into ``run_dir`` and a small driver heap."""
    tmp = os.path.join(run_dir, "tmp")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(run_dir, "spark")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--driver-java-options",
            f"'-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "pyspark-shell",
        ]
    )
    from daskberg_spark import get_spark

    spark = get_spark("perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def remove_run_dir(run_dir: str) -> None:
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        os.rmdir(RUN_BASE)
    except OSError:
        pass


def du_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(dirpath, name)).st_size
            except OSError:
                pass
    return total


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat, to report how
    much of a timed loop the hypervisor took away."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def peak_rss_mb() -> float:
    """Peak resident set size of this (driver) process, in MiB."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


# -- closed-loop op log -------------------------------------------------------


class OpLog:
    """One record per operation of the timed loop.  An exception or an
    oracle mismatch marks the op failed; failures are kept, by op."""

    def __init__(self) -> None:
        self.ops: list[dict[str, Any]] = []
        self.engine_s = 0.0  # summed op latencies: the timed loop's clock

    def run(self, kind: str, fn: Callable[[], Any], check: Callable[[Any], str | None], tracer=None, detail: Any = None):
        """Run one op: time ``fn`` (the engine call), then check its
        result outside the timed region.  ``check`` returns None when
        the result is right, else a description of the mismatch."""
        op_id = len(self.ops)
        rec: dict[str, Any] = {"id": op_id, "kind": kind, "detail": detail}
        if tracer is not None:
            tracer.begin_op(op_id, kind)
        cpu0 = time.process_time()
        t0 = time.perf_counter()
        try:
            result = fn()
            err = None
        except Exception:
            result = None
            err = "exception: " + traceback.format_exc(limit=4).strip().splitlines()[-1]
        t1 = time.perf_counter()
        cpu1 = time.process_time()
        if tracer is not None:
            tracer.end_op(op_id)
        rec["ms"] = (t1 - t0) * 1000.0
        rec["cpu_ms"] = (cpu1 - cpu0) * 1000.0
        self.engine_s += t1 - t0
        if err is None:
            try:
                err = check(result)
            except Exception:
                err = "check raised: " + traceback.format_exc(limit=4).strip().splitlines()[-1]
        rec["error"] = err
        self.ops.append(rec)
        return result

    def of(self, kind: str) -> list[dict[str, Any]]:
        return [o for o in self.ops if o["kind"] == kind]

    @property
    def failures(self) -> list[dict[str, Any]]:
        return [
            {"id": o["id"], "kind": o["kind"], "detail": o["detail"], "error": o["error"]}
            for o in self.ops
            if o["error"] is not None
        ]


def latency_report(log: OpLog, kind: str, out: dict[str, Any], name: str, tail: bool = True) -> None:
    """``{name}_p50_ms`` (and ``_p90_ms`` when the run holds at least
    100 samples of the op type) with the sample count."""
    ms = [o["ms"] for o in log.of(kind)]
    out[f"{name}_samples"] = {"value": len(ms), "unit": "count"}
    if ms:
        out[f"{name}_p50_ms"] = {"value": statistics.median(ms), "unit": "ms"}
    if tail and len(ms) >= 100:
        out[f"{name}_p90_ms"] = {"value": statistics.quantiles(ms, n=10)[8], "unit": "ms"}


# -- tracing ------------------------------------------------------------------


class Tracer:
    """Spans (name, start, end, parent, op id) kept in memory.

    Spans opened on a worker thread (the planner's manifest pool) take
    the main thread's innermost open span as their parent, so parallel
    decode nests under the ``plan_files`` call that caused it."""

    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self._main = threading.main_thread()
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._patches: list[tuple[Any, str, Any]] = []
        self.op_id: int | None = None
        self.phase = "setup"
        self.last_read: tuple | None = None  # (frame, files planned, delete files) of the op's to_df
        self.useful: list[tuple[int, int]] = []  # (files with a matching row, files planned) per read

    # spans
    def _open(self, name: str) -> int:
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            idx = len(self.spans)
            self.spans.append(
                {"name": name, "start": time.perf_counter(), "end": None, "parent": parent, "op": self.op_id, "phase": self.phase}
            )
        if threading.current_thread() is self._main:
            self._stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx]["end"] = time.perf_counter()
        if threading.current_thread() is self._main and self._stack and self._stack[-1] == idx:
            self._stack.pop()

    @contextmanager
    def span(self, name: str):
        idx = self._open(name)
        try:
            yield self.spans[idx]
        finally:
            self._close(idx)

    def begin_op(self, op_id: int, kind: str) -> None:
        self.op_id = op_id
        self._op_span = self._open(f"op.{kind}")

    def end_op(self, op_id: int) -> None:
        self._close(self._op_span)
        self.op_id = None

    # patching
    def wrap(self, owner: Any, attr: str, name: str, on_result: Callable | None = None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper."""
        if not hasattr(owner, attr):
            print(f"perfbench: cannot trace {name}: {owner!r} has no {attr}", file=sys.stderr)
            return
        orig = getattr(owner, attr)
        raw = vars(owner).get(attr, orig) if isinstance(owner, type) else orig
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name) as sp:
                result = orig(*args, **kwargs)
            if on_result is not None:
                on_result(sp, args, kwargs, result)
            return result

        traced.__wrapped__ = orig
        # a classmethod read through the class is already bound; the
        # plain wrapper keeps ``Cls.load(path)`` working unchanged
        setattr(owner, attr, traced)
        self._patches.append((owner, attr, raw))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def dump(self, path: str) -> None:
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp) + "\n")


def attribute(spans: list[dict[str, Any]]) -> dict[int, dict[str, float]]:
    """Exclusive time per layer for each op: every instant of an op span
    is charged to the deepest span covering it (the layer is the part of
    the span name before the first dot; uncovered op time is ``op``).
    Returns ``{op_id: {layer: seconds, "_wall": op seconds}}``."""
    by_op: dict[int, list[int]] = defaultdict(list)
    for i, sp in enumerate(spans):
        if sp["op"] is not None and sp["end"] is not None:
            by_op[sp["op"]].append(i)
    depth: dict[int, int] = {}

    def depth_of(i: int) -> int:
        if i not in depth:
            p = spans[i]["parent"]
            depth[i] = 0 if p is None else depth_of(p) + 1
        return depth[i]

    out: dict[int, dict[str, float]] = {}
    for op, idxs in by_op.items():
        root = next(i for i in idxs if spans[i]["name"].startswith("op."))
        lo, hi = spans[root]["start"], spans[root]["end"]
        cuts = sorted({lo, hi} | {min(max(spans[i][k], lo), hi) for i in idxs for k in ("start", "end")})
        layers: dict[str, float] = defaultdict(float)
        for a, b in zip(cuts, cuts[1:]):
            mid = (a + b) / 2
            best = max(
                (i for i in idxs if spans[i]["start"] <= mid < spans[i]["end"]),
                key=lambda i: (depth_of(i), spans[i]["start"]),
                default=root,
            )
            layers[spans[best]["name"].split(".", 1)[0]] += b - a
            layers["span:" + spans[best]["name"]] += b - a
        layers["_wall"] = hi - lo
        out[op] = dict(layers)
    return out


def install_tracer(tracer: Tracer) -> None:
    """Wrap the public entry points of each engine layer.  Spans carry
    the counts the per-layer metrics need (entries decoded, files
    planned, delete files applied)."""
    import daskberg_spark.iceberg.avro as avro
    import daskberg_spark.iceberg.bloomindex as bloomindex
    import daskberg_spark.iceberg.metadata as metadata
    import daskberg_spark.iceberg.onepass as onepass
    import daskberg_spark.iceberg.scan as scan
    import daskberg_spark.iceberg.writer as writer

    def avro_counts(sp, args, kwargs, result):
        path = str(args[0]) if args else ""
        sp["manifest"] = not os.path.basename(path).startswith("snap-")
        sp["entries"] = len(result[1])

    def planned(sp, args, kwargs, result):
        sp["files"] = len(result)

    def scanned(sp, args, kwargs, result):
        last = getattr(args[0], "last_scan", None) or {}
        sp["files"] = last.get("files_scanned", 0)
        sp["live"] = last.get("files_live", 0)
        sp["deletes"] = sum((last.get("delete_files") or {}).values())
        if sp["parent"] is not None and tracer.spans[sp["parent"]]["name"].startswith("op."):
            tracer.last_read = (result, sp["files"], sp["deletes"])

    w = tracer.wrap
    w(metadata.IcebergTable, "__init__", "metadata.open")
    w(metadata.IcebergTable, "plan_files", "metadata.plan_files", planned)
    w(metadata.IcebergTable, "plan_deletes", "metadata.plan_deletes")
    # called only when the gate sends planning to the executors
    w(metadata.IcebergTable, "_scan_manifests_distributed", "metadata.plan_distributed")
    # the name metadata imported, plus the module attribute that the
    # writer's function-local imports resolve at call time
    w(metadata, "read_avro_file", "avro.read_avro_file", avro_counts)
    w(avro, "read_avro_file", "avro.read_avro_file", avro_counts)
    w(metadata, "apply_filters", "planner.apply_filters")
    w(metadata, "check_summaries", "planner.check_summaries")
    w(bloomindex, "bloom_prune_files", "planner.bloom_prune_files")
    w(metadata.IcebergTable, "to_df", "scan.to_df", scanned)
    w(scan, "to_df", "scan.to_df", scanned)
    w(writer.IcebergWriter, "load", "writer.load")
    w(writer.IcebergWriter, "append", "writer.append")
    w(writer.IcebergWriter, "_commit", "writer.commit")
    w(writer, "write_df", "writer.write_df")
    w(writer, "delete_where_spark", "writer.delete_where_spark")
    w(writer, "maintain", "maintain.maintain")
    w(writer, "compact_files_spark", "maintain.compact")
    w(writer, "compact_files", "maintain.compact")
    w(writer, "remove_dangling_deletes", "maintain.dangling_deletes")
    w(writer, "rewrite_manifests", "maintain.rewrite_manifests")
    w(writer, "expire_snapshots", "maintain.expire")
    w(writer, "remove_orphan_files", "maintain.orphans")
    w(writer, "_maintain_statistics", "maintain.stats_refresh")
    w(onepass, "plan_shared_stats_scan", "maintain.stats_scan_plan")


def count_useful_files(tracer: Tracer) -> None:
    """After a traced read: how many of the files the read planned held
    at least one matching row (``input_file_name`` over the read's own
    frame; reads with delete files are skipped, since the anti-join
    hides the input file).  Runs outside the op and its job group."""
    if tracer.last_read is None:
        return
    df, planned, deletes = tracer.last_read
    tracer.last_read = None
    if deletes or not planned:
        return
    from pyspark.sql import functions as F

    names = df.select(F.input_file_name().alias("f")).where("f != ''").distinct().count()
    tracer.useful.append((names, planned))


# -- Spark job census ----------------------------------------------------------


class JobCensus:
    """Jobs and tasks per op, read from Spark's status tracker with one
    job group per op (traced runs only)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.per_op: dict[int, dict[str, int]] = {}

    def begin(self, op_id: int) -> None:
        self.sc.setJobGroup(f"perfbench-op-{op_id}", f"perfbench op {op_id}")

    def end(self, op_id: int) -> None:
        jobs = self.tracker.getJobIdsForGroup(f"perfbench-op-{op_id}")
        tasks = failed = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for s in (info.stageIds if info else []):
                st = self.tracker.getStageInfo(s)
                if st is not None:
                    tasks += st.numTasks
                    failed += st.numFailedTasks
        self.per_op[op_id] = {"jobs": len(jobs), "tasks": tasks, "failed_tasks": failed}
        self.sc.setLocalProperty("spark.jobGroup.id", None)


def table_facts(path: str) -> dict[str, Any]:
    """Sizes of a table's current snapshot and the side of the
    distributed-planning gate the engine puts it on (its own entry
    estimate against its own gate, environment override included)."""
    from daskberg_spark.iceberg.metadata import IcebergTable, _dist_plan_gate

    t = IcebergTable(path)
    entries, gate = t._entry_estimate(), _dist_plan_gate()
    return {
        "data_files": len(t.plan_files()),
        "delete_files": len(t.plan_deletes()),
        "manifests": len(t.manifest_list),
        "snapshots": len(t.metadata.get("snapshots", [])),
        "manifest_entries": entries,
        "dist_plan_gate": gate,
        "gate_side": "distributed" if entries >= gate else "driver",
    }


def host_facts(run_dir: str, cpus: int) -> dict[str, Any]:
    import duckdb
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "spark_master": f"local[{cpus}]",
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
        "table_fs": fs_type(run_dir),
        "flush_policy": "no fsync (engine never calls fsync; page cache only)",
    }
