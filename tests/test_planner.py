"""Planner pruning unit tests (Spark-free, SURVEY §7 M3)."""

from __future__ import annotations

import datetime
from decimal import Decimal

import pytest

from daskberg_spark.iceberg.conversions import encode_bound
from daskberg_spark.iceberg.planner import (
    FieldInfo,
    apply_filters,
    check_summaries,
    range_may_match,
)


def mkfile(path, bounds=None, partition=None):
    f = {"file_path": path, "partition": partition or {}}
    if bounds:
        f["lower_bounds"] = [
            {"key": k, "value": v[0]} for k, v in bounds.items() if v[0] is not None
        ]
        f["upper_bounds"] = [
            {"key": k, "value": v[1]} for k, v in bounds.items() if v[1] is not None
        ]
    return f


FIELDS = {
    "age": FieldInfo(field_id=2, type="int"),
    "name": FieldInfo(field_id=1, type="string"),
    "price": FieldInfo(field_id=5, type="decimal(10,2)"),
    "sym": FieldInfo(field_id=3, type="string", transform="bucket[4]", partition_name="sym_bucket"),
    "cat": FieldInfo(field_id=4, type="string", transform="identity", partition_name="cat"),
    "qty": FieldInfo(field_id=6, type="int", transform="truncate[10]", partition_name="qty_trunc"),
    "ts": FieldInfo(field_id=7, type="timestamp", transform="day", partition_name="ts_day"),
}


def enc_int(lo, hi):
    return (encode_bound(lo, "int"), encode_bound(hi, "int"))


def test_range_may_match_ops():
    assert range_may_match("==", 5, 1, 10)
    assert not range_may_match("==", 11, 1, 10)
    assert range_may_match("<", 2, 1, 10)
    assert not range_may_match("<", 1, 1, 10)
    assert range_may_match("<=", 1, 1, 10)
    assert not range_may_match(">", 10, 1, 10)
    assert range_may_match(">=", 10, 1, 10)
    assert range_may_match("in", [0, 5], 1, 10)
    assert not range_may_match("in", [0, 11], 1, 10)
    # != only prunes a pinned single-value range
    assert not range_may_match("!=", 7, 7, 7)
    assert range_may_match("!=", 7, 1, 10)
    # unknown bounds are conservative
    assert range_may_match("==", 5, None, None)


def test_stats_pruning_int():
    files = [
        mkfile("a", bounds={2: enc_int(0, 20)}),
        mkfile("b", bounds={2: enc_int(21, 40)}),
        mkfile("c", bounds={2: enc_int(41, 60)}),
    ]
    out = apply_filters(files, [("age", ">", 45)], FIELDS)
    assert [f["file_path"] for f in out] == ["c"]
    out = apply_filters(files, [("age", "<=", 20)], FIELDS)
    assert [f["file_path"] for f in out] == ["a"]
    out = apply_filters(files, [("age", "in", [20, 21])], FIELDS)
    assert [f["file_path"] for f in out] == ["a", "b"]


def test_stats_pruning_string_and_decimal():
    files = [
        mkfile("a", bounds={1: (b"Alice", b"John"), 5: (
            encode_bound(Decimal("1.00"), "decimal(10,2)"),
            encode_bound(Decimal("9.99"), "decimal(10,2)"))}),
        mkfile("b", bounds={1: (b"Karen", b"Zoe"), 5: (
            encode_bound(Decimal("10.00"), "decimal(10,2)"),
            encode_bound(Decimal("99.99"), "decimal(10,2)"))}),
    ]
    assert [f["file_path"] for f in apply_filters(files, [("name", "==", "Bob")], FIELDS)] == ["a"]
    assert [f["file_path"] for f in apply_filters(files, [("price", ">", 50)], FIELDS)] == ["b"]
    # decimal predicate given as float
    assert [f["file_path"] for f in apply_filters(files, [("price", "<", 5.5)], FIELDS)] == ["a"]


def test_conjunction_and_or_union():
    files = [
        mkfile("a", bounds={2: enc_int(0, 20), 1: (b"A", b"M")}),
        mkfile("b", bounds={2: enc_int(30, 50), 1: (b"N", b"Z")}),
    ]
    # conjunction: both must hold
    assert apply_filters(files, [("age", "<", 10), ("name", ">=", "P")], FIELDS) == []
    # OR of conjunctions: union (the reference's zip(*) bug returned garbage)
    out = apply_filters(files, [[("age", "<", 10)], [("name", ">=", "P")]], FIELDS)
    assert [f["file_path"] for f in out] == ["a", "b"]


def test_identity_partition_pruning():
    files = [
        mkfile("a", partition={"cat": "news"}),
        mkfile("b", partition={"cat": "blog"}),
    ]
    out = apply_filters(files, [("cat", "==", "news")], FIELDS)
    assert [f["file_path"] for f in out] == ["a"]
    # identity partitions allow != pruning (every row equals the value)
    out = apply_filters(files, [("cat", "!=", "news")], FIELDS)
    assert [f["file_path"] for f in out] == ["b"]
    out = apply_filters(files, [("cat", "in", ["blog", "wiki"])], FIELDS)
    assert [f["file_path"] for f in out] == ["b"]


def test_bucket_partition_pruning_eq_only():
    from daskberg_spark.iceberg.transforms import bucket

    b_aapl = bucket("AAPL", 4)
    files = [mkfile(f"f{i}", partition={"sym_bucket": i}) for i in range(4)]
    out = apply_filters(files, [("sym", "==", "AAPL")], FIELDS)
    assert [f["file_path"] for f in out] == [f"f{b_aapl}"]
    # range ops through a hash must NOT prune (reference would, wrongly)
    out = apply_filters(files, [("sym", ">", "AAPL")], FIELDS)
    assert len(out) == 4
    # != through a hash must not prune either (other strings share the bucket)
    out = apply_filters(files, [("sym", "!=", "AAPL")], FIELDS)
    assert len(out) == 4


def test_truncate_partition_pruning():
    files = [
        mkfile("a", partition={"qty_trunc": 0}),
        mkfile("b", partition={"qty_trunc": 10}),
        mkfile("c", partition={"qty_trunc": 20}),
    ]
    out = apply_filters(files, [("qty", ">=", 20)], FIELDS)
    assert [f["file_path"] for f in out] == ["c"]
    out = apply_filters(files, [("qty", "==", 15)], FIELDS)
    assert [f["file_path"] for f in out] == ["b"]
    # boundary: qty > 19 might live in partition 10 (e.g. qty=19? no — >19 means 20+,
    # but transform(19)=10 so partition 10 must be kept only if it could hold >19 rows;
    # conservative rule keeps partitions where t(v) <= p
    out = apply_filters(files, [("qty", ">", 19)], FIELDS)
    assert [f["file_path"] for f in out] == ["b", "c"]


def test_day_partition_pruning():
    d0 = (datetime.date(2024, 1, 1) - datetime.date(1970, 1, 1)).days
    files = [
        mkfile("a", partition={"ts_day": d0}),
        mkfile("b", partition={"ts_day": d0 + 1}),
    ]
    out = apply_filters(files, [("ts", "==", "2024-01-02 10:00:00")], FIELDS)
    assert [f["file_path"] for f in out] == ["b"]
    out = apply_filters(files, [("ts", "<", "2024-01-02 00:00:00")], FIELDS)
    # day(2024-01-02T00:00) == d0+1; partition b could contain rows < midnight? No,
    # but conservative point rule keeps p <= t(v): both kept is acceptable,
    # strict exclusion requires p < t(v) for "<" with exact=False... we keep b.
    assert "a" in [f["file_path"] for f in out]


def test_unknown_column_keeps_all():
    files = [mkfile("a", bounds={2: enc_int(0, 5)})]
    assert len(apply_filters(files, [("nope", "==", 1)], FIELDS)) == 1


def test_missing_bounds_keep_file():
    files = [mkfile("a"), mkfile("b", bounds={2: enc_int(0, 5)})]
    out = apply_filters(files, [("age", ">", 50)], FIELDS)
    assert [f["file_path"] for f in out] == ["a"]


def test_check_summaries_manifest_prune():
    spec_fields = [{"source-id": 6, "name": "qty_trunc", "transform": "truncate[10]"}]
    summaries = [{
        "lower_bound": encode_bound(0, "int"),
        "upper_bound": encode_bound(20, "int"),
        "contains_null": False,
    }]
    assert check_summaries(summaries, spec_fields, FIELDS, [("qty", "<=", 25)])
    assert not check_summaries(summaries, spec_fields, FIELDS, [("qty", ">", 40)])
    # OR: one branch alive keeps the manifest
    assert check_summaries(
        summaries, spec_fields, FIELDS, [[("qty", ">", 40)], [("qty", "==", 5)]]
    )


def test_invalid_filters_raise():
    files = [mkfile("a")]
    with pytest.raises(ValueError):
        apply_filters(files, [("age", "~", 5)], FIELDS)
    with pytest.raises(ValueError):
        apply_filters(files, [("age", "in", 5)], FIELDS)


def test_spec_evolution_per_file_transform():
    """Files are pruned through THEIR OWN spec's transform, not the table
    default: an older spec reusing a partition field name with a different
    bucket width must not mis-prune (round-1 ADVICE planner.py:201)."""
    from daskberg_spark.iceberg.transforms import bucket

    specs = {
        0: [{"source-id": 3, "name": "sym_bucket", "transform": "bucket[2]"}],
        1: [{"source-id": 3, "name": "sym_bucket", "transform": "bucket[4]"}],
    }
    # default (current) spec is bucket[4]; FIELDS declares that too
    old = mkfile("old.parquet", partition={"sym_bucket": bucket("abc", 2)})
    old["_spec_id"] = 0
    new = mkfile("new.parquet", partition={"sym_bucket": bucket("abc", 4)})
    new["_spec_id"] = 1
    files = [old, new]
    filt = [("sym", "==", "abc")]
    # with per-file resolution both files survive regardless of whether
    # bucket widths disagree for this value
    kept = apply_filters(files, filt, FIELDS, lambda sid: specs[sid])
    assert {f["file_path"] for f in kept} == {"old.parquet", "new.parquet"}
    # sanity: the widths genuinely disagree for some probe value, and a
    # default-spec-only check would then drop the old file
    probe = next(
        v for v in ("abc", "xyz", "q", "zz", "k2", "m3", "p7")
        if bucket(v, 2) != bucket(v, 4) % 2 or bucket(v, 4) != bucket(v, 2)
    )
    old2 = mkfile("old2.parquet", partition={"sym_bucket": bucket(probe, 2)})
    old2["_spec_id"] = 0
    kept2 = apply_filters([old2], [("sym", "==", probe)], FIELDS, lambda sid: specs[sid])
    assert kept2  # correct transform keeps it


def test_tz_aware_timestamp_filter_prunes_correctly():
    """Review r9 (planner): a tz-suffixed timestamptz predicate value
    must normalize to naive UTC before comparing against naive
    partition/bound values — aware == naive is False, silently pruning
    matching files."""
    import datetime as dt

    from daskberg_spark.iceberg.planner import normalize_value

    v = normalize_value("2024-06-01T02:00:00+02:00", "timestamptz")
    assert v.tzinfo is None
    assert v == dt.datetime(2024, 6, 1, 0, 0, 0)


def test_nan_never_prunes_floats():
    """Review r9 (planner): bounds EXCLUDE NaN per spec, so `!=` on a
    float range pinned to one value must keep the file (a NaN row
    outside the bounds satisfies it), and `== NaN` can never be
    disproven by bounds."""
    from daskberg_spark.iceberg.planner import range_may_match

    assert range_may_match("!=", 5.0, 5.0, 5.0) is True  # NaN may lurk
    assert range_may_match("==", float("nan"), 1.0, 2.0) is True
    # ints keep the exact-pin rule
    assert range_may_match("!=", 5, 5, 5) is False


def test_uuid_values_canonicalize_both_sides():
    """Review r9 (planner): uuid predicate values and 16-byte fixed
    partition/bound values canonicalize to the same lowercase string
    form, so uuid filters compare exactly."""
    import uuid

    from daskberg_spark.iceberg.conversions import (
        decode_bound,
        partition_value_to_python,
    )
    from daskberg_spark.iceberg.planner import normalize_value

    u = uuid.UUID("5F8E1010-9C40-4BDA-B6A5-EEF0552A3A20")
    pred = normalize_value(str(u).upper(), "uuid")
    assert pred == str(u)  # canonical lowercase
    assert partition_value_to_python(u.bytes, "uuid") == str(u)
    assert decode_bound(u.bytes, "uuid") == str(u)


def test_far_future_timestamp_transforms_exact():
    """Review r9 (transforms): float total_seconds() loses ≥1 µs beyond
    ~year 2112 — bucket and hour must use integer arithmetic (the
    9999-12-31 sentinel is the common victim)."""
    import datetime as dt

    from daskberg_spark.iceberg.conversions import datetime_to_micros
    from daskberg_spark.iceberg.transforms import hour

    sentinel = dt.datetime(9999, 12, 31, 23, 59, 59, 999999)
    micros = datetime_to_micros(sentinel)
    assert micros % 10 == 9  # ...799999999, not rounded to ...800000000
    boundary = dt.datetime(9999, 1, 1) - dt.timedelta(microseconds=1)
    assert hour(boundary) == (
        datetime_to_micros(dt.datetime(9999, 1, 1)) // 3_600_000_000 - 1
    )


def test_lz4_frame_decode_vectors():
    """Review r9 (puffin): the Puffin footer-compression codec is LZ4
    (not zlib) — pin the pure-Python frame/block decoder on hand-built
    vectors (literals, overlapping match copy, uncompressed block)."""
    import struct

    from daskberg_spark.iceberg.puffin import (
        _lz4_block_decompress,
        _lz4_frame_decompress,
    )

    blk = bytes([0x56]) + b"aaaaa" + struct.pack("<H", 1)
    assert _lz4_block_decompress(blk) == b"a" * 15
    assert _lz4_block_decompress(bytes([0x30]) + b"xyz") == b"xyz"
    magic = b"\x04\x22\x4d\x18"
    frame = (
        magic
        + bytes([0x40, 0x40, 0x00])
        + struct.pack("<I", len(blk))
        + blk
        + struct.pack("<I", 0)
    )
    assert _lz4_frame_decompress(frame) == b"a" * 15
    frame2 = (
        magic
        + bytes([0x40, 0x40, 0x00])
        + struct.pack("<I", 0x80000000 | 3)
        + b"abc"
        + struct.pack("<I", 0)
    )
    assert _lz4_frame_decompress(frame2) == b"abc"


def test_avro_union_branch_matches_value_type():
    """Review r9 (avro): unions with several non-null branches encode
    through the branch matching the VALUE's type — first-non-null would
    write 1.5 through an int branch (corrupt bytes)."""
    import io

    from daskberg_spark.iceberg.avro import read_avro, write_avro

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "v", "type": ["null", "long", "double"], "default": None},
            {"name": "s", "type": ["null", "boolean", "string"], "default": None},
        ],
    }
    recs = [
        {"v": 7, "s": True},
        {"v": 1.5, "s": "x"},
        {"v": None, "s": None},
    ]
    buf = io.BytesIO()
    write_avro(schema, recs, buf)
    _, back = read_avro(buf.getvalue())
    assert back == recs


def _ffiles(n, lo, hi, typ="float", nan=None, fid=1):
    from daskberg_spark.iceberg.conversions import encode_bound

    out = []
    for i in range(n):
        f = {
            "file_path": f"f{i}",
            "partition": {},
            "lower_bounds": [{"key": fid, "value": encode_bound(lo, typ)}],
            "upper_bounds": [{"key": fid, "value": encode_bound(hi, typ)}],
        }
        if nan is not None:
            f["nan_value_counts"] = [{"key": fid, "value": nan}]
        out.append(f)
    return out


def test_float32_bound_vs_double_value_never_prunes_matches():
    """Regression: the vector path rounded the predicate value to f4,
    flipping strict comparisons exactly at the bound (a double
    threshold one ulp above 1.0f pruned every file whose rows Spark's
    residual keeps).  70 files forces the vectorized path."""
    fields = {"f": FieldInfo(field_id=1, type="float")}
    files = _ffiles(70, 1.0, 2.0, "float", nan=0)
    kept = apply_filters(files, [("f", "<", 1.0000000001)], fields)
    assert len(kept) == 70  # rows at exactly 1.0f satisfy < 1.0000000001


def test_gt_on_float_keeps_possible_nan_rows():
    """Regression: bounds exclude NaN while Spark orders NaN greatest,
    so '>' can only prune when the NaN census is provably zero."""
    fields = {"f": FieldInfo(field_id=1, type="float")}
    # unknown NaN census → keep (both scalar n<64 and vector n>=64)
    for n in (3, 70):
        assert len(apply_filters(_ffiles(n, 1.0, 2.0), [("f", ">", 100.0)], fields)) == n
    # provably NaN-free → prune
    for n in (3, 70):
        assert (
            len(
                apply_filters(
                    _ffiles(n, 1.0, 2.0, nan=0), [("f", ">", 100.0)], fields
                )
            )
            == 0
        )
    # NaN rows present → keep even though bounds fail
    assert (
        len(apply_filters(_ffiles(3, 1.0, 2.0, nan=2), [("f", ">", 100.0)], fields))
        == 3
    )


def test_datetime_value_on_date_column_keeps_residual_semantics():
    """Regression: a datetime predicate against a DATE column was
    truncated to its date, making '!=' prune (and '==' whole-file-PROVE)
    files whose rows Spark's residual — which compares midnights to the
    full timestamp — evaluates the other way."""
    import datetime as dt

    from daskberg_spark.iceberg.planner import file_all_rows_match

    fields = {"d": FieldInfo(field_id=1, type="date")}
    day = dt.date(2024, 1, 5)
    files = _ffiles(1, day, day, "date")
    ten_am = dt.datetime(2024, 1, 5, 10, 0)
    # every row (midnight) != 10:00 → the file must survive !=
    assert len(apply_filters(files, [("d", "!=", ten_am)], fields)) == 1
    # and '== 10:00' must never whole-file-prove (delete_where_fast
    # would tombstone a file whose rows all FAIL the residual)
    assert not file_all_rows_match(files[0], [("d", "==", ten_am)], fields)
    # midnight datetimes keep pruning exactly like the plain date
    midnight = dt.datetime(2024, 1, 5)
    assert len(apply_filters(files, [("d", "==", midnight)], fields)) == 1
    assert len(apply_filters(files, [("d", "==", dt.datetime(2024, 1, 6))], fields)) == 0


def test_nan_point_semantics_on_identity_float_partition():
    """Spark: NaN = NaN is TRUE and NaN outranks every number — point
    pruning on a NaN partition value (or a NaN predicate) must keep."""
    from daskberg_spark.iceberg.planner import point_may_match

    nan = float("nan")
    assert point_may_match("==", nan, nan, exact=True)
    assert point_may_match("in", [1.0, nan], nan, exact=True)
    assert point_may_match(">", 10.0, nan, exact=True)
    assert point_may_match(">=", 10.0, nan, exact=True)
    # non-NaN value against a NaN point: NaN = 5 / NaN < 5 are false
    assert not point_may_match("==", 5.0, nan, exact=True)
    assert not point_may_match("<", 5.0, nan, exact=True)


def test_footer_lift_nan_semantics(tmp_path, spark):
    """Measured writer behavior (regression-pinned): parquet-mr (Spark)
    leaks NaN into max when a chunk holds NaN — so a NaN-valued stat is
    never lifted as a bound (an upper bound of NaN would prune every
    real match) and a REAL mr max proves a NaN-free chunk (nan == 0).
    pyarrow skips NaN silently, so its files get valid bounds but never
    a NaN census."""
    import math
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from daskberg_spark.iceberg.conversions import lift_footer_stats

    # pyarrow (parquet-cpp): bounds lift, census never claimed
    pya = str(tmp_path / "pya.parquet")
    pq.write_table(
        pa.table({"v": pa.array([1.0, math.nan, 5.0], pa.float64())}), pya
    )
    _n, _sz, lo, hi, _nulls, nans = lift_footer_stats(pya, {"v": "double"})
    assert (lo["v"], hi["v"]) == (1.0, 5.0) and "v" not in nans

    # Spark (parquet-mr), clean column: census lifts as zero
    spc = str(tmp_path / "spark_clean")
    spark.createDataFrame([(1.0,), (5.0,)], "v double").coalesce(
        1
    ).write.mode("overwrite").parquet(spc)
    f = next(x for x in os.listdir(spc) if x.endswith(".parquet"))
    _n, _sz, lo, hi, _nulls, nans = lift_footer_stats(
        os.path.join(spc, f), {"v": "double"}
    )
    assert (lo["v"], hi["v"], nans["v"]) == (1.0, 5.0, 0)

    # Spark (parquet-mr), NaN-bearing: max stat is literally NaN — the
    # column is tainted: NO bounds (a NaN upper bound would prune every
    # match of 'v == 3.0'), NO census
    spn = str(tmp_path / "spark_nan")
    spark.createDataFrame(
        [(1.0,), (float("nan"),), (5.0,)], "v double"
    ).coalesce(1).write.mode("overwrite").parquet(spn)
    f = next(x for x in os.listdir(spn) if x.endswith(".parquet"))
    _n, _sz, lo, hi, _nulls, nans = lift_footer_stats(
        os.path.join(spn, f), {"v": "double"}
    )
    assert "v" not in lo and "v" not in hi and "v" not in nans


@pytest.mark.parametrize("n_files", [1000, 40])  # vector path, scalar loop
def test_predicate_transform_computed_once_per_spec(monkeypatch, n_files):
    """The partition transform of a predicate value depends only on the
    predicate and the file's spec, so a plan computes it once per
    (predicate, transform) — O(#specs x #predicates), not O(#files) —
    and prunes exactly as a file-by-file plan does."""
    import daskberg_spark.iceberg.planner as planner
    from daskberg_spark.iceberg.transforms import bucket

    specs = {
        0: [
            {"source-id": 3, "name": "sym_bucket", "transform": "bucket[4]"},
            {"source-id": 4, "name": "cat", "transform": "identity"},
        ],
        1: [
            {"source-id": 3, "name": "sym_bucket", "transform": "bucket[8]"},
            {"source-id": 4, "name": "cat", "transform": "identity"},
        ],
    }
    files = []
    for i in range(n_files):
        sid = i % 2
        sym = f"s{i % 37}"
        f = mkfile(
            f"f{i:04d}",
            partition={"sym_bucket": bucket(sym, 8 if sid else 4), "cat": "a" if i % 3 else "b"},
        )
        f["_spec_id"] = sid
        files.append(f)
    filters = [
        [("sym", "==", "s5"), ("cat", "==", "a")],
        [("sym", "in", ["s1", "s2"])],
    ]
    # one file at a time: every plan starts with no memoized value
    expected = [
        f for f in files
        if apply_filters([f], filters, FIELDS, lambda sid: specs[sid])
    ]

    calls = []
    real = planner.get_transform

    def counting(name):
        fn, ordered = real(name)

        def counted(v):
            calls.append(name)
            return fn(v)

        return counted, ordered

    monkeypatch.setattr(planner, "get_transform", counting)
    got = apply_filters(files, filters, FIELDS, lambda sid: specs[sid])
    assert [f["file_path"] for f in got] == [f["file_path"] for f in expected]
    assert 0 < len(got) < n_files
    # 2 specs x (2 equality predicates + one 2-value 'in')
    assert len(calls) <= 2 * (2 + 2)
