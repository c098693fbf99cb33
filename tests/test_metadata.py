"""Metadata layer tests replicating the reference's e2e assertions
(daskberg tests/test_basic.py) without Spark (SURVEY §7 M2)."""

from __future__ import annotations

import pytest


def test_version_resolution(golden_table):
    assert golden_table.version == 5
    assert len(golden_table.snapshots) == 3


def test_schema_head(golden_table):
    names = [f["name"] for f in golden_table.schema["fields"]]
    assert names == ["name", "age", "email"]


def test_schema_time_travel(golden_table):
    """Reference tests/test_basic.py:22-35: snapshot -1 pins old schema."""
    golden_table.open_snapshot(rel=-1)
    names = [f["name"] for f in golden_table.schema["fields"]]
    assert names == ["name", "age"]
    golden_table.open_snapshot()  # back to head
    assert len(golden_table.schema["fields"]) == 3


def test_snapshot_selection_validation(golden_table):
    with pytest.raises(ValueError):
        golden_table.open_snapshot(rel=-1, snapshot_id=1)
    with pytest.raises(ValueError):
        golden_table.open_snapshot(rel=1)
    with pytest.raises(ValueError):
        golden_table.open_snapshot(rel=-10)
    with pytest.raises(ValueError):
        golden_table.open_snapshot(snapshot_id=42)


def test_snapshot_by_id(golden_table):
    snap_ids = list(golden_table.snapshots)
    golden_table.open_snapshot(snapshot_id=snap_ids[0])
    assert golden_table.current_snapshot["snapshot-id"] == snap_ids[0]


def test_live_files_reconciliation(golden_table):
    """6 parquet files on disk; the overwrite snapshot replaced one → 5 live."""
    files = golden_table.plan_files()
    assert len(files) == 5
    assert all(f["file_path"].startswith(golden_table.url) for f in files)


def test_explicit_version_load():
    from daskberg_spark.iceberg.metadata import IcebergTable

    t = IcebergTable(
        "/root/reference/test-data/my_table",
        original_url="/Users/mdurant/temp/warehouse/db/my_table",
        version=2,
    )
    assert t.version == 2
    assert [f["name"] for f in t.schema["fields"]] == ["name", "age"]


def test_direct_metadata_json_url():
    from daskberg_spark.iceberg.metadata import IcebergTable

    t = IcebergTable(
        "/root/reference/test-data/my_table/metadata/v5.metadata.json",
        original_url="/Users/mdurant/temp/warehouse/db/my_table",
    )
    assert len(t.snapshots) == 3
    assert len(t.plan_files()) == 5


def test_summary_and_metadata_introspection(golden_table):
    assert golden_table.summary["operation"] == "append"
    assert golden_table.metadata["format-version"] == 1


def test_manifest_cache(golden_table):
    golden_table.plan_files()
    cached = set(golden_table.manifest_cache)
    golden_table.plan_files()
    assert set(golden_table.manifest_cache) == cached
    assert len(cached) >= 3


def test_unpartitioned_unique_partitions(golden_table):
    assert golden_table.unique_partitions() == [()]


def test_refs_tags_and_branches(spark, tmp_path):
    """Writer-recorded refs resolve through open_snapshot(ref=...): a tag
    pins its snapshot across later appends; main tracks the head."""
    import daskberg_spark.iceberg.scan  # noqa: F401
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.writer import IcebergWriter

    w = IcebergWriter(
        str(tmp_path / "t"),
        [{"id": 1, "name": "x", "type": "long", "required": False}],
    )
    w.append([{"x": 1}, {"x": 2}])
    w.set_ref("v1-release", "tag")
    w.append([{"x": 3}])
    w.set_ref("dev", "branch")
    t = IcebergTable(w.path)
    assert t.to_df(spark).count() == 3
    t.open_snapshot(ref="v1-release")
    assert sorted(r["x"] for r in t.to_df(spark).collect()) == [1, 2]
    t.open_snapshot(ref="main")
    assert t.to_df(spark).count() == 3
    t.open_snapshot(ref="dev")
    assert t.to_df(spark).count() == 3
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no such ref"):
        t.open_snapshot(ref="nope")
    w.drop_ref("dev")
    assert "dev" not in IcebergTable(w.path).metadata["refs"]
    assert "v1-release" in IcebergTable(w.path).metadata["refs"]


def test_metadata_tables(tmp_path):
    """snapshots/files/manifests/partitions metadata tables are
    metadata-only and mutually consistent."""
    from daskberg_spark.iceberg.fixtures import ensure_partitioned_fixture
    from daskberg_spark.iceberg.metadata import IcebergTable

    t = IcebergTable(ensure_partitioned_fixture())
    snaps = t.metadata_rows("snapshots")
    assert len(snaps) == len(t.snapshots)
    assert {s["operation"] for s in snaps} == {"append", "delete"}
    files = t.metadata_rows("files")
    assert len(files) == len(t.plan_files())
    parts = t.metadata_rows("partitions")
    assert sum(p["record_count"] for p in parts) == sum(
        f["record_count"] for f in files
    )
    assert sum(p["file_count"] for p in parts) == len(files)
    mfs = t.metadata_rows("manifests")
    assert all(m["path"].endswith(".avro") for m in mfs)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown metadata table"):
        t.metadata_rows("nope")


def test_written_metadata_spec_completeness(tmp_path):
    """Written metadata carries the spec fields real engines emit:
    sort-orders/default-sort-order-id, last-partition-id, snapshot-log
    (one entry per live snapshot), metadata-log (prior metadata files)."""
    import json

    from daskberg_spark.iceberg.writer import IcebergWriter

    w = IcebergWriter(
        str(tmp_path / "t"),
        [{"id": 1, "name": "x", "type": "long", "required": False}],
        [{"name": "x_p", "transform": "identity", "source": "x"}],
    )
    w.append([{"x": 1}])
    w.append([{"x": 2}])
    meta = json.load(open(f"{w.path}/metadata/v{w.version}.metadata.json"))
    assert meta["sort-orders"] == [{"order-id": 0, "fields": []}]
    assert meta["default-sort-order-id"] == 0
    assert meta["last-partition-id"] == 1000
    assert [e["snapshot-id"] for e in meta["snapshot-log"]] == [1, 2]
    # the current file is v2; the log lists its predecessor v1
    assert any("v1.metadata.json" in e["metadata-file"] for e in meta["metadata-log"])


def test_open_snapshot_as_of_timestamp(spark, tmp_path):
    """FOR TIMESTAMP AS OF semantics: as_of_ms resolves through the
    snapshot log to the newest snapshot committed at or before the
    timestamp; earlier-than-history raises."""
    import pytest as _pytest

    import daskberg_spark.iceberg.scan  # noqa: F401
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.writer import IcebergWriter

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "id", "type": "long", "required": False}]
    )
    w.append([{"id": 1}])
    w.append([{"id": 2}])
    w.append([{"id": 3}])
    t = IcebergTable(p)
    snaps = sorted(
        t.metadata["snapshots"], key=lambda s: s["timestamp-ms"]
    )
    mid_ts = snaps[1]["timestamp-ms"]
    t.open_snapshot(as_of_ms=mid_ts)
    assert sorted(r["id"] for r in t.to_df(spark).collect()) == [1, 2]
    t.open_snapshot(as_of_ms=mid_ts + 10_000)
    assert sorted(r["id"] for r in t.to_df(spark).collect()) == [1, 2, 3]
    with _pytest.raises(ValueError, match="no snapshot"):
        t.open_snapshot(as_of_ms=snaps[0]["timestamp-ms"] - 1)
    with _pytest.raises(ValueError, match="only one of"):
        t.open_snapshot(rel=-1, as_of_ms=mid_ts)


def test_inspect_tables_extended(spark):
    """entries/refs/all_manifests/all_data_files/metadata_log_entries
    invariants over the deterministic fixtures: tombstones surface in
    entries, refs carry retention knobs, the all_* tables see past the
    head, and the metadata log covers every version."""
    import re

    from daskberg_spark.iceberg.fixtures import (
        ensure_partitioned_fixture,
        ensure_refs_fixture,
        ensure_rollback_fixture,
    )
    from daskberg_spark.iceberg.metadata import IcebergTable

    # entries: DELETED tombstones surface; the live subset equals files
    t = IcebergTable(ensure_partitioned_fixture())
    entries = t.entries_df(spark).collect()
    assert 2 in {e["status"] for e in entries}
    live = {e["file_path"] for e in entries if e["status"] != 2}
    files = {f["file_path"] for f in t.files_df(spark).collect()}
    assert live == files
    dead = {e["file_path"] for e in entries if e["status"] == 2}
    assert dead and dead.isdisjoint(files)
    assert all(e["snapshot_id"] is not None for e in entries)

    # refs: implicit main + tag + branch, spec retention fields
    rt = IcebergTable(ensure_refs_fixture())
    refs = {r["name"]: r for r in rt.refs_df(spark).collect()}
    assert set(refs) == {"main", "release-v1", "audit"}
    assert refs["main"]["type"] == "BRANCH"
    assert refs["release-v1"]["type"] == "TAG"
    assert refs["release-v1"]["max_reference_age_in_ms"] == 86_400_000
    assert refs["audit"]["min_snapshots_to_keep"] == 2
    assert refs["audit"]["max_snapshot_age_in_ms"] == 604_800_000
    first = min(rt.snapshots, key=lambda s: rt.snapshots[s]["timestamp-ms"])
    assert refs["release-v1"]["snapshot_id"] == first
    assert refs["main"]["snapshot_id"] == rt.metadata["current-snapshot-id"]

    # all_manifests / all_data_files / metadata_log over the rollback
    # fixture: the rolled-past snapshot's artifacts stay visible
    rb = IcebergTable(ensure_rollback_fixture())
    am = rb.all_manifests_df(spark).collect()
    assert {r["reference_snapshot_id"] for r in am} == set(rb.snapshots)
    head_id = rb.metadata["current-snapshot-id"]
    head_paths = {m["path"] for m in rb.manifests_df(spark).collect()}
    assert {
        r["path"] for r in am if r["reference_snapshot_id"] == head_id
    } == head_paths
    adf = rb.all_data_files_df(spark).collect()
    assert len(adf) == 3  # head's two files + the rolled-past file
    head_files = {f["file_path"] for f in rb.files_df(spark).collect()}
    assert head_files < {r["file_path"] for r in adf}
    # the selected snapshot must be restored after the walk
    assert rb.current_snapshot["snapshot-id"] == head_id
    ml = rb.metadata_log_entries_df(spark).collect()
    vs = sorted(
        int(re.search(r"v(\d+)\.metadata", r["file"]).group(1)) for r in ml
    )
    assert vs == [1, 2, 3, 4]
    (cur,) = [r for r in ml if r["file"].endswith("v4.metadata.json")]
    assert cur["latest_snapshot_id"] == head_id

    # all_entries: head slice == entries; the rolled-past file appears
    # only under its own stranded snapshot; walk restores the head
    ae = rb.all_entries_df(spark).collect()
    assert rb.current_snapshot["snapshot-id"] == head_id
    head_slice = {
        (r["file_path"], r["record_count"])
        for r in ae
        if r["reference_snapshot_id"] == head_id
    }
    assert head_slice == {
        (e["file_path"], e["record_count"])
        for e in rb.entries_df(spark).collect()
    }
    stranded_file = next(
        r["file_path"] for r in adf if r["file_path"] not in head_files
    )
    refs_of_stranded = {
        r["reference_snapshot_id"]
        for r in ae
        if r["file_path"] == stranded_file
    }
    assert len(refs_of_stranded) == 1 and head_id not in refs_of_stranded

    # position_deletes on a deleteless table: empty, typed
    from daskberg_spark.iceberg.scan import position_deletes_df

    pd_df = position_deletes_df(rb, spark)
    assert pd_df.count() == 0
    assert [f.name for f in pd_df.schema.fields] == [
        "file_path", "pos", "delete_file_path",
    ]


def test_set_ref_validation(tmp_path):
    """Branch-only retention knobs are refused on tags (spec refs map)."""
    from daskberg_spark.iceberg.writer import IcebergWriter

    w = IcebergWriter(
        str(tmp_path / "t"),
        [{"id": 1, "name": "x", "type": "long", "required": False}],
    )
    w.append([{"x": 1}])
    with pytest.raises(ValueError, match="branches only"):
        w.set_ref("r", "tag", min_snapshots_to_keep=3)
    w.set_ref("r", "tag", max_ref_age_ms=1000)
    from daskberg_spark.iceberg.metadata import IcebergTable

    assert IcebergTable(w.path).metadata["refs"]["r"]["max-ref-age-ms"] == 1000


def test_fast_forward_branch_and_main(tmp_path):
    """fast_forward (upstream procedure): a branch moves only to
    DESCENDANTS of its current snapshot; a missing branch is created at
    the target; tags refuse; 'main' fast-forwards the head itself after
    a rollback stranded newer commits."""
    import pytest as _pytest

    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        fast_forward,
        rollback_to,
    )

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "k", "type": "long", "required": False}]
    )
    s1 = w.append([{"k": 1}])
    s2 = w.append([{"k": 2}])
    s3 = w.append([{"k": 3}])
    # branch created at s1, fast-forwarded to s3 (descendant)
    w.set_ref("dev", "branch", snapshot_id=s1)
    assert fast_forward(w, "dev", s3) == s3
    assert IcebergTable(p).metadata["refs"]["dev"]["snapshot-id"] == s3
    # idempotent
    assert fast_forward(w, "dev", s3) == s3
    # a missing branch is created at the target
    assert fast_forward(w, "audit", s2) == s2
    assert IcebergTable(p).metadata["refs"]["audit"]["type"] == "branch"
    # non-descendant refuses: move dev back is NOT a fast-forward
    with _pytest.raises(ValueError, match="not a fast-forward"):
        fast_forward(w, "dev", s1)
    # tags refuse
    w.set_ref("rel", "tag", snapshot_id=s1)
    with _pytest.raises(ValueError, match="tag"):
        fast_forward(w, "rel", s3)
    # main: rollback to s1 strands s2/s3; fast-forward republishes s3
    rollback_to(w, s1)
    t = IcebergTable(p)
    assert t.current_snapshot["snapshot-id"] == s1
    assert fast_forward(w, "main", s3) == s3
    t2 = IcebergTable(p)
    assert t2.current_snapshot["snapshot-id"] == s3
    assert sorted(f["file_path"] for f in t2.plan_files())  # readable
    # and a target by REF name resolves
    rollback_to(w, s1)
    assert fast_forward(w, "main", "dev") == s3


def test_compact_files_partition_filter(spark, tmp_path):
    """Filtered compaction (rewrite_data_files' where-on-partition):
    only the named partition's small files consolidate; other
    partitions keep their file counts, and table content is
    unchanged."""
    import daskberg_spark.iceberg.scan  # noqa: F401  (attaches .to_df)
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.writer import IcebergWriter, compact_files

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "k", "type": "long", "required": True},
            {"id": 2, "name": "grp", "type": "string", "required": False},
        ],
        [{"name": "grp", "transform": "identity", "source": "grp"}],
    )
    for batch in range(3):
        w.append(
            [{"k": batch * 10 + i, "grp": g} for g in ("a", "b") for i in range(5)]
        )
    t0 = IcebergTable(p)
    per_part0 = {}
    for f in t0.plan_files():
        per_part0.setdefault(f["partition"]["grp"], []).append(f["file_path"])
    assert len(per_part0["a"]) == 3 and len(per_part0["b"]) == 3
    before = {tuple(r) for r in t0.to_df(spark).collect()}
    assert compact_files(
        w, min_file_bytes=32 << 20, partition_filter={"grp": "a"}
    ) is not None
    t1 = IcebergTable(p)
    per_part1 = {}
    for f in t1.plan_files():
        per_part1.setdefault(f["partition"]["grp"], []).append(f["file_path"])
    assert len(per_part1["a"]) == 1  # consolidated
    assert per_part1["b"] == per_part0["b"]  # untouched, same files
    assert {tuple(r) for r in t1.to_df(spark).collect()} == before
    # the Spark-side twin honors the same gate
    from daskberg_spark.iceberg.writer import compact_files_spark

    assert compact_files_spark(
        w, spark, min_file_bytes=32 << 20, partition_filter={"grp": "b"}
    ) is not None
    t2 = IcebergTable(p)
    per_part2 = {}
    for f in t2.plan_files():
        per_part2.setdefault(f["partition"]["grp"], []).append(f["file_path"])
    assert len(per_part2["b"]) == 1  # now consolidated too
    assert per_part2["a"] == per_part1["a"]  # untouched by the b pass
    assert {tuple(r) for r in t2.to_df(spark).collect()} == before


def test_v3_unknown_type_column(spark, tmp_path):
    """v3 ``unknown`` type: values are always null; the column reads as
    Spark's void type and round-trips through append + read + schema
    evolution.  Nanosecond timestamps refuse LOUDLY (a silent µs
    downcast would corrupt data)."""
    import pytest as _pytest

    import daskberg_spark.iceberg.scan  # noqa: F401
    from daskberg_spark.iceberg.conversions import iceberg_to_spark_type
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.writer import IcebergWriter

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "k", "type": "long", "required": False},
            {"id": 2, "name": "u", "type": "unknown", "required": False},
        ],
    )
    w.append([{"k": 1, "u": None}, {"k": 2, "u": None}])
    got = sorted((r["k"], r["u"]) for r in IcebergTable(p).to_df(spark).collect())
    assert got == [(1, None), (2, None)]
    # evolution: add an unknown column to an existing table — older
    # files null-fill like any missing column
    w.add_column("u2", "unknown")
    w.append([{"k": 3, "u": None, "u2": None}])
    rows = {
        (r["k"], r["u2"]) for r in IcebergTable(p).to_df(spark).collect()
    }
    assert rows == {(1, None), (2, None), (3, None)}
    with _pytest.raises(NotImplementedError, match="nanosecond"):
        iceberg_to_spark_type("timestamp_ns")


def test_schema_of_snapshotless_table(tmp_path):
    """Review r9 (metadata): a freshly created table (current-snapshot-id
    -1, no snapshots) must expose its schema — current-schema-id needs
    no snapshot."""
    import json
    import os

    from daskberg_spark.iceberg.metadata import IcebergTable

    p = str(tmp_path / "t")
    os.makedirs(os.path.join(p, "metadata"))
    meta = {
        "format-version": 1,
        "table-uuid": "u",
        "location": p,
        "current-snapshot-id": -1,
        "schemas": [
            {
                "type": "struct",
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "k", "type": "long", "required": False}
                ],
            }
        ],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "snapshots": [],
    }
    with open(os.path.join(p, "metadata", "v1.metadata.json"), "w") as f:
        json.dump(meta, f)
    with open(os.path.join(p, "metadata", "version-hint.text"), "w") as f:
        f.write("1")
    t = IcebergTable(p)
    assert [f["name"] for f in t.schema["fields"]] == ["k"]


def test_relocate_path_boundary(tmp_path):
    """Review r9 (metadata): original_url='/old/tbl' must not rewrite
    '/old/tbl_backup/...' — the prefix match is boundary-checked."""
    from daskberg_spark.iceberg.writer import IcebergWriter
    from daskberg_spark.iceberg.metadata import IcebergTable

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "k", "type": "long", "required": False}]
    )
    w.append([{"k": 1}])
    t = IcebergTable(p, original_url="/old/tbl")
    assert t._relocate("/old/tbl/data/x.parquet") == p + "/data/x.parquet"
    assert t._relocate("/old/tbl_backup/data/x.parquet") == (
        "/old/tbl_backup/data/x.parquet"
    )
    assert t._relocate("/old/tbl") == p


def test_relocate_path_fast_path_matches_general():
    """With nothing to relocate (no original_url, or original_url equal
    to the table url) _relocate_path returns the scheme-stripped path
    without the prefix logic; pin it to the general rewrite."""
    from daskberg_spark.iceberg.metadata import _relocate_path

    def general(path, original_url, url):
        if path.startswith("file://"):
            path = path[len("file://"):]
        if original_url and (
            path == original_url
            or path.startswith(original_url.rstrip("/") + "/")
        ):
            path = url + path[len(original_url):]
        return path

    paths = [
        "file:///old/tbl/data/x.parquet",
        "/old/tbl",
        "file:///old/tbl",
        "/old/tbl/data/x.parquet",
        "/old/tbl_backup/data/x.parquet",
        "/elsewhere/y.parquet",
    ]
    for original_url, url in [
        ("/old/tbl", "/old/tbl"),
        ("", "/old/tbl"),
        ("/old/tbl", "/new/home"),
    ]:
        for path in paths:
            assert _relocate_path(path, original_url, url) == general(
                path, original_url, url
            ), (path, original_url, url)


def test_scan_cache_keyed_by_surviving_manifests(tmp_path):
    """The driver-path reconciliation depends only on the snapshot and
    the manifests that survive summary pruning: a filtered scan whose
    summaries prune nothing shares its cache entry with the unfiltered
    scan (one entry, the same dicts); one that prunes a manifest gets its
    own.  Every result equals a fresh handle's."""
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.writer import IcebergWriter

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "p", "type": "long", "required": False},
            {"id": 2, "name": "v", "type": "long", "required": False},
        ],
        [{"name": "p", "transform": "identity", "source": "p"}],
    )
    w.append([{"p": 1, "v": 10}, {"p": 1, "v": 11}])
    w.append([{"p": 2, "v": 20}])

    # summaries prune nothing: 'v' is not a partition column
    t = IcebergTable(p)
    filtered = t.scan_all([("v", ">", 0)])
    unfiltered = t.scan_all()
    assert len(t._scan_cache) == 1
    assert unfiltered[0] is filtered[0] and unfiltered[1] is filtered[1]
    assert t.plan_deletes() == IcebergTable(p).plan_deletes()
    assert len(t._scan_cache) == 1
    assert unfiltered == IcebergTable(p).scan_all()
    assert filtered == IcebergTable(p).scan_all([("v", ">", 0)])

    # the p == 1 summary prunes the second append's manifest
    t = IcebergTable(p)
    pruned = t.scan_all([("p", "==", 1)])
    full = t.scan_all()
    assert len(t._scan_cache) == 2
    assert len(pruned[0]) < len(full[0])
    assert pruned == IcebergTable(p).scan_all([("p", "==", 1)])
    assert full == IcebergTable(p).scan_all()


def test_tombstoned_unsupported_format_is_readable(spark, tmp_path):
    """Review r9 (metadata): a DELETED tombstone of an unsupported-format
    file must not fail the scan — the file is never read."""
    import daskberg_spark.iceberg.scan  # noqa: F401  (attaches .to_df)
    from daskberg_spark.iceberg.avro import read_avro_file, write_avro_file
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        _manifest_entry_schema,
    )
    from daskberg_spark.iceberg.metadata import IcebergTable

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "k", "type": "long", "required": False}]
    )
    w.append([{"k": 1}])
    # forge: append a DELETED entry for a (nonexistent) DELTA-format file
    mf = w.manifests[0]
    _, entries = read_avro_file(mf["manifest_path"])
    entries.append(
        {
            "status": 2,
            "snapshot_id": 999,
            "data_file": {
                "content": 0,
                "file_path": p + "/data/ghost.delta",
                "file_format": "DELTA",
                "partition": {},
                "record_count": 0,
                "file_size_in_bytes": 0,
            },
        }
    )
    write_avro_file(
        mf["manifest_path"],
        _manifest_entry_schema([], w.types),
        entries,
    )
    got = [r["k"] for r in IcebergTable(p).to_df(spark).collect()]
    assert got == [1]


def test_scan_cache_survives_snapshot_hops(tmp_path):
    """Review r9 (metadata): the reconciliation cache keys include the
    snapshot id, so hopping between snapshots (streaming planning,
    changelog scans) must REUSE entries instead of re-reconciling on
    every open_snapshot."""
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.writer import IcebergWriter

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "k", "type": "long", "required": False}]
    )
    s1 = w.append([{"k": 1}])
    s2 = w.append([{"k": 2}])
    t = IcebergTable(p)
    t.open_snapshot(snapshot_id=s1)
    t.scan_all()
    t.open_snapshot(snapshot_id=s2)
    t.scan_all()
    assert len(t._scan_cache) == 2  # both snapshots' plans retained
    t.open_snapshot(snapshot_id=s1)
    t.scan_all()
    assert len(t._scan_cache) == 2  # the hop back was a cache hit


def test_v3_geometry_wkb_passthrough(spark, tmp_path):
    """v3 geometry/geography types surface as WKB binary (Spark has no
    geo type; the spec stores WKB) — readable, filterable on sibling
    columns, and round-trip byte-exact."""
    import daskberg_spark.iceberg.scan  # noqa: F401
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.writer import IcebergWriter

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "k", "type": "long", "required": False},
            {"id": 2, "name": "geom", "type": "geometry", "required": False},
        ],
    )
    # a WKB point (little-endian, type 1): deterministic bytes
    wkb = bytes.fromhex(
        "0101000000000000000000f03f0000000000000040"
    )
    w.append([{"k": 1, "geom": wkb}, {"k": 2, "geom": None}])
    rows = {
        (r["k"], bytes(r["geom"]) if r["geom"] is not None else None)
        for r in IcebergTable(p).to_df(spark).collect()
    }
    assert rows == {(1, wkb), (2, None)}
    # plain `binary` columns write driver-side too (the arrow map was
    # missing binary entirely before this round)
    w2 = IcebergWriter(
        str(tmp_path / "b"),
        [
            {"id": 1, "name": "k", "type": "long", "required": False},
            {"id": 2, "name": "raw", "type": "binary", "required": False},
        ],
    )
    w2.append([{"k": 1, "raw": b"\x00\xffpayload"}])
    r = IcebergTable(str(tmp_path / "b")).to_df(spark).collect()[0]
    assert bytes(r["raw"]) == b"\x00\xffpayload"


def test_forged_fixture_manifest_lengths_consistent():
    """_rewrite_table_avro refreshes manifest-list manifest_length after
    re-encoding manifests — stale lengths would truncate ranged reads in
    spec-compliant readers (review finding)."""
    import glob
    import os

    from daskberg_spark.iceberg.avro import read_avro_file
    from daskberg_spark.iceberg.fixtures import ensure_foreign_fixture

    base = ensure_foreign_fixture()
    checked = 0
    for ml in glob.glob(os.path.join(base, "metadata", "*.avro")):
        _, recs = read_avro_file(ml)
        if recs and "manifest_path" in recs[0]:
            for r in recs:
                assert r["manifest_length"] == os.path.getsize(
                    r["manifest_path"]
                )
                checked += 1
    assert checked > 0
