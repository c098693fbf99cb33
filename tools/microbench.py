"""Microbenchmarks for the pure-Python metadata kernels.

Builds fixed synthetic manifest sets of 12k and 120k entries with the
engine's own writer (an ``IcebergWriter`` table whose single manifest is
re-written by ``write_avro_file`` as 128 manifests of forged entries with
per-file partition values and column bounds), then reports:

- ``avro_decode_us_per_entry``: ``read_avro_file`` over every manifest,
  decoded entries kept alive as a cold plan keeps them;
- ``prune_ts_us_per_file`` / ``prune_key_us_per_file``: ``apply_filters``
  over the reconciled live files, for a column-bounds range predicate
  and for a bucket-partition equality predicate;
- ``cold_plan_ms``: ``plan_files`` with the range predicate on a fresh
  ``IcebergTable``.

Each figure is the fastest of ``REPS`` runs, which is the least
disturbed by other load on the host.  Sizes and repetitions are fixed so
every run prints the same comparable JSON line.
Run: ``python tools/microbench.py``.
"""

from __future__ import annotations

import json
import os
import platform
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SIZES = (12000, 120000)
REPS = 5
N_MANIFESTS = 128
BUCKETS = 96
KEY_STRIDE = 1 << 30  # file i holds keys in [i * KEY_STRIDE, (i + 1) * KEY_STRIDE)
TS_STEP = 1 << 12  # file i holds ts in [i * TS_STEP, (i + 1) * TS_STEP)


def forge_table(root: str, n_entries: int) -> str:
    """A bucket-partitioned table whose snapshot lists ``N_MANIFESTS``
    manifests holding ``n_entries`` forged data-file entries in total
    (fake paths: planning never opens data files)."""
    from daskberg_spark.iceberg.avro import read_avro_file, write_avro_file
    from daskberg_spark.iceberg.conversions import encode_bound
    from daskberg_spark.iceberg.transforms import bucket
    from daskberg_spark.iceberg.writer import IcebergWriter

    path = os.path.join(root, f"t{n_entries}")
    writer = IcebergWriter(
        path,
        [
            {"id": 1, "name": "key", "type": "long", "required": False},
            {"id": 2, "name": "ts", "type": "long", "required": False},
            {"id": 3, "name": "val", "type": "long", "required": False},
        ],
        [{"name": "key_bucket", "transform": f"bucket[{BUCKETS}]", "source": "key"}],
    )
    writer.append([{"key": 0, "ts": 0, "val": 0}])
    with open(os.path.join(path, "metadata", "v1.metadata.json")) as f:
        ml_path = json.load(f)["snapshots"][-1]["manifest-list"]
    ml_meta, ml_records = read_avro_file(ml_path)
    m_meta, m_entries = read_avro_file(ml_records[0]["manifest_path"])
    m_schema = json.loads(m_meta["avro.schema"])
    ml_schema = json.loads(ml_meta["avro.schema"])
    proto = m_entries[0]

    def bounds(i: int, which: int) -> list[dict]:
        return [
            {"key": 1, "value": encode_bound(i * KEY_STRIDE + which * (KEY_STRIDE - 1), "long")},
            {"key": 2, "value": encode_bound(i * TS_STEP + which * (TS_STEP - 1), "long")},
            {"key": 3, "value": encode_bound(-(10**6) + which * 2 * 10**6, "long")},
        ]

    per = n_entries // N_MANIFESTS
    manifests = []
    for m in range(N_MANIFESTS):
        entries = []
        for j in range(per if m < N_MANIFESTS - 1 else n_entries - per * m):
            i = m * per + j
            df = dict(
                proto["data_file"],
                file_path=f"{path}/data/forged-{i:07d}.parquet",
                # the bucket of the one key the key lookup may probe here
                partition={"key_bucket": bucket(i * KEY_STRIDE + 7, BUCKETS)},
                record_count=96,
                file_size_in_bytes=2048 + i % 512,
                lower_bounds=bounds(i, 0),
                upper_bounds=bounds(i, 1),
            )
            entries.append(dict(proto, data_file=df))
        mpath = os.path.join(path, "metadata", f"forged-m{m:03d}.avro")
        write_avro_file(mpath, m_schema, entries, metadata=m_meta)
        manifests.append(
            dict(
                ml_records[0],
                manifest_path=mpath,
                manifest_length=os.path.getsize(mpath),
                added_data_files_count=len(entries),
                partitions=None,
            )
        )
    write_avro_file(ml_path, ml_schema, manifests, metadata=ml_meta)
    return path


def best_of(fn) -> float:
    best = float("inf")
    for _ in range(REPS):
        t0 = time.perf_counter()
        out = fn()
        best = min(best, time.perf_counter() - t0)
        del out  # freeing the result is not part of the timed work
    return best


def measure(path: str, n_entries: int) -> dict[str, float]:
    from daskberg_spark.iceberg.avro import read_avro_file
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.planner import apply_filters

    table = IcebergTable(path)
    paths = [table._relocate(mf["manifest_path"]) for mf in table.manifest_list]
    decoded = sum(len(read_avro_file(p)[1]) for p in paths)
    if decoded != n_entries:
        raise RuntimeError(f"forged {n_entries} entries, decoded {decoded}")
    decode_s = best_of(lambda: [read_avro_file(p) for p in paths])

    files = list(table.scan_manifests().values())
    fields, spec_fields = table.fields, table._spec_fields
    mid = n_entries // 2
    ts_filter = [("ts", ">=", mid * TS_STEP), ("ts", "<", (mid + 2) * TS_STEP)]
    key_filter = [("key", "==", mid * KEY_STRIDE + 7)]
    for filters, want in ((ts_filter, 2), (key_filter, 1)):
        got = len(apply_filters(files, filters, fields, spec_fields))
        if got != want:
            raise RuntimeError(f"{filters} kept {got} files, expected {want}")
    ts_s = best_of(lambda: apply_filters(files, ts_filter, fields, spec_fields))
    key_s = best_of(lambda: apply_filters(files, key_filter, fields, spec_fields))
    plan_s = best_of(lambda: IcebergTable(path).plan_files(ts_filter))
    return {
        "avro_decode_us_per_entry": round(decode_s * 1e6 / n_entries, 2),
        "prune_ts_us_per_file": round(ts_s * 1e6 / len(files), 3),
        "prune_key_us_per_file": round(key_s * 1e6 / len(files), 3),
        "cold_plan_ms": round(plan_s * 1e3, 1),
    }


def main() -> None:
    out: dict = {
        "tool": "microbench",
        "python": platform.python_version(),
        "nproc": os.cpu_count(),
        "manifests": N_MANIFESTS,
        "reps": REPS,
    }
    root = tempfile.mkdtemp(prefix="microbench-")
    try:
        for n in SIZES:
            out[str(n)] = measure(forge_table(root, n), n)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
