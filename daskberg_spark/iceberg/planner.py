"""Scan planning: DNF filters → manifest / file pruning decisions.

Reference counterpart: ``/root/reference/daskberg/ice.py:286-364``
(``apply_filters`` and friends).  Same filter language — a list of
``(column, op, value)`` tuples meaning a conjunction, or a list of such
lists meaning an OR of conjunctions; ops ``== = != < <= > >= in`` — but
with two deliberate fixes:

- The reference's OR branch (``ice.py:356-363``) transposes dicts via
  ``zip(*...)`` and returns garbage; here OR is a true union of the
  conjunctions' survivor sets (SURVEY.md §4 ⚠).
- Non-order-preserving transforms (``bucket``) only prune equality-shaped
  predicates; the reference rewrites the value through the transform and
  applies *any* op, which is wrong for ``<``/``>`` through a hash.

Pruning is strictly IO-elision: a kept file may still contain no matching
rows (bounds are inclusive approximations); correctness comes from Spark
re-applying the full predicate (``scan.py``).  A pruned file is *provably*
free of matches.
"""

from __future__ import annotations

import datetime
from dataclasses import dataclass
from decimal import Decimal
from typing import Any, Iterable

import struct as _struct

from daskberg_spark.iceberg.conversions import (
    datetime_to_micros,
    decode_bound,
    partition_value_to_python,
)
from daskberg_spark.iceberg.transforms import (
    coerce_for_transform,
    get_transform,
)

OPS = {"==", "=", "!=", "<", "<=", ">", ">=", "in"}

_TEMPORAL = {"date", "timestamp", "timestamptz", "timestampz"}


@dataclass(frozen=True)
class FieldInfo:
    """Resolved info for one schema column (``ice.py:206-218`` analogue)."""

    field_id: int
    type: str
    transform: str | None = None  # set iff the column is a partition source
    partition_name: str | None = None
    # True iff the column (and, for nested leaves, every ancestor) is
    # declared required in the schema — a static no-NULLs proof used by
    # ``file_all_rows_match``.  Defaults False: may-match pruning never
    # consults it, so foreign/legacy FieldInfo construction stays sound.
    required: bool = False


import functools


@functools.lru_cache(maxsize=None)
def transform_result_type(transform: str, source_type: str) -> str:
    """Iceberg type of a transform's output (for decoding summary bounds)."""
    if transform == "identity":
        return source_type
    if transform.startswith("truncate"):
        return source_type
    if transform.startswith("bucket"):
        return "int"
    if transform == "day":
        # spec result type is date; manifests store epoch-day ints
        return "int"
    if transform in ("year", "month", "hour"):
        return "int"
    if transform == "void":
        return source_type
    raise NotImplementedError(transform)


def normalize_value(value: Any, type_str: str) -> Any:
    """Coerce a user-supplied predicate value to the column's domain."""
    if value is None:
        return None
    if type_str in _TEMPORAL and isinstance(value, str):
        if type_str == "date":
            return datetime.date.fromisoformat(value)
        value = datetime.datetime.fromisoformat(value)
    if isinstance(value, datetime.datetime) and value.tzinfo is not None:
        # partition values and decoded bounds are NAIVE UTC; an aware
        # predicate value compares unequal (or raises) against them —
        # normalize to naive UTC so tz-suffixed timestamptz filters
        # prune correctly instead of silently dropping matching files
        value = value.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    if type_str == "date" and isinstance(value, datetime.datetime):
        # Spark coerces a DATE column to TIMESTAMP against a datetime
        # literal, so the residual compares midnights to the FULL time.
        # Truncating 2024-01-05T10:00 to the date here would prune (and
        # whole-file-prove!) as if the predicate said midnight — e.g.
        # d != T10:00 is TRUE for every row while the truncated value
        # proves the whole file equal.  Midnight truncates (identical
        # semantics, enables the vector path); anything else keeps the
        # datetime and compares via _comparable's date→datetime
        # promotion.
        if (
            value.hour or value.minute or value.second or value.microsecond
        ):
            return value
        return value.date()
    if type_str.startswith("decimal") and isinstance(value, (int, float, str)):
        return Decimal(str(value))
    if type_str == "uuid":
        import uuid as _uuid

        if isinstance(value, _uuid.UUID):
            return str(value)
        if isinstance(value, str):
            # canonical lowercase STRING on both sides: partition values
            # and bounds canonicalize the same way (16-byte fixed or
            # text), so uuid filters compare exactly
            return str(_uuid.UUID(value))
    return value


def _comparable(a: Any, b: Any) -> tuple[Any, Any]:
    """Make two values comparable (date vs datetime, Decimal vs float)."""
    if isinstance(a, datetime.datetime) and type(b) is datetime.date:
        b = datetime.datetime(b.year, b.month, b.day)
    elif isinstance(b, datetime.datetime) and type(a) is datetime.date:
        a = datetime.datetime(a.year, a.month, a.day)
    if isinstance(a, Decimal) and isinstance(b, float):
        b = Decimal(str(b))
    elif isinstance(b, Decimal) and isinstance(a, float):
        a = Decimal(str(a))
    return a, b


def _le(a: Any, b: Any) -> bool:
    a, b = _comparable(a, b)
    return a <= b


def _lt(a: Any, b: Any) -> bool:
    a, b = _comparable(a, b)
    return a < b


def _eq(a: Any, b: Any) -> bool:
    a, b = _comparable(a, b)
    return a == b


def range_may_match(op: str, value: Any, lo: Any, hi: Any) -> bool:
    """Could any x with lo <= x <= hi satisfy ``x <op> value``?

    ``None`` bound → unknown → conservatively True on that side.  The
    ``!=`` rule keeps the range unless it is pinned to exactly ``value``
    (``ice.py:337-338`` semantics).
    """
    if isinstance(value, float) and value != value:
        # NaN predicate: bounds EXCLUDE NaN per spec, so no bound
        # comparison can disprove a match (Spark's NaN = NaN is true)
        return True
    if op == "in":
        # a NULL in the list matches no rows (SQL three-valued logic) —
        # it must neither crash the bound comparison nor keep files
        return any(
            range_may_match("==", v, lo, hi) for v in value if v is not None
        )
    if value is None:
        # comparison to NULL is never true: no row can satisfy it
        return False
    if op in ("==", "="):
        return (lo is None or _le(lo, value)) and (hi is None or _le(value, hi))
    if op == "!=":
        if isinstance(lo, float) or isinstance(hi, float):
            # a float column may hold NaN rows OUTSIDE its bounds (the
            # spec excludes NaN from min/max) and NaN != v is true —
            # never prune notEq on floats (Java's
            # InclusiveMetricsEvaluator does the same)
            return True
        return not (lo is not None and hi is not None and _eq(lo, hi) and _eq(lo, value))
    if op == "<":
        return lo is None or _lt(lo, value)
    if op == "<=":
        return lo is None or _le(lo, value)
    if op == ">":
        return hi is None or _lt(value, hi)
    if op == ">=":
        return hi is None or _le(value, hi)
    raise ValueError(f"unknown op {op!r}")


def point_may_match(op: str, value: Any, point: Any, exact: bool) -> bool:
    """Could a partition whose (transformed) value is ``point`` hold a match?

    ``exact=True`` means every row in the partition has exactly this source
    value (identity transform) → ``!=`` may prune and range checks are
    strict.  ``exact=False`` (order-preserving derived transforms like
    truncate/day): monotonicity of t gives  row < v ⟹ t(row) <= t(v)  and
    row > v ⟹ t(row) >= t(v), so a partition with point p provably has no
    match for ``< v`` iff p > t(v), and none for ``> v`` iff p < t(v); the
    boundary partition p == t(v) must be kept (it mixes rows on both sides
    of v).
    """
    if point is None:
        return True  # null partition value: unknown → keep
    if op == "in":
        vals = [v for v in value if v is not None]
        if any(isinstance(v, float) and v != v for v in vals):
            # Spark's NaN = NaN is TRUE — a NaN member can match the
            # NaN partition, which _eq (Python NaN != NaN) cannot see
            return True
        return any(_eq(point, v) for v in vals)
    if value is None:
        return False  # comparison to NULL is never true
    if isinstance(value, float) and value != value:
        # NaN predicate under Spark ordering (NaN = NaN true, NaN
        # greater than every number): point comparisons cannot disprove
        return True
    if isinstance(point, float) and point != point and op in (">", ">="):
        # a NaN partition's rows outrank every number → they match
        return True
    if op in ("==", "="):
        return _eq(point, value)
    if op == "!=":
        return not (exact and _eq(point, value))
    if op == "<":
        return _lt(point, value) if exact else _le(point, value)
    if op == "<=":
        return _le(point, value)
    if op == ">":
        return _lt(value, point) if exact else _le(value, point)
    if op == ">=":
        return _le(value, point)
    raise ValueError(f"unknown op {op!r}")


def _validate(pred: tuple[str, str, Any]) -> None:
    col, op, val = pred
    if op not in OPS:
        raise ValueError(f"unsupported op {op!r}")
    if op == "in" and not isinstance(val, (list, tuple, set, frozenset)):
        raise ValueError("'in' filter value must be list/tuple/set")


def is_dnf(filters: Any) -> bool:
    """True if ``filters`` is a list of conjunctions (OR form)."""
    return bool(filters) and isinstance(filters[0], (list, tuple)) and bool(
        filters[0]
    ) and isinstance(filters[0][0], (list, tuple))


_NO_TV = object()  # the predicate value has no sound transform image


def _predicate_tv(fn, op: str, value: Any, info: FieldInfo) -> Any:
    """The partition transform applied to a PREDICATE value, coerced to
    the COLUMN type first (a float literal on a long column, a string
    uuid, a short-scale Decimal all hash differently than the writer
    stored — silent row loss).  ``_NO_TV`` when no exact image exists
    or the transform cannot take the value — callers must then treat
    the predicate as un-prunable, never crash the plan."""
    try:
        if op == "in":
            return [
                fn(coerce_for_transform(v, info.type)) for v in value
            ]
        return fn(coerce_for_transform(value, info.type))
    except NotImplementedError:
        return _NO_TV


def _passes_partition(
    data_file: dict[str, Any],
    op: str,
    info: FieldInfo,
    value: Any,
    spec_by_source: dict[int, dict[str, Any]] | None,
    tvs: dict[str, tuple[bool, Any]],
) -> bool:
    """(a) partition-value check through the transform (ice.py:296-318).

    The transform is resolved from THIS file's partition spec when given
    (``spec_by_source``): on a spec-evolved table an older spec may
    reuse a field name with a different transform (e.g. changed bucket
    width), and checking through the default spec's transform would
    prune with the wrong function → silently missing rows.

    ``tvs`` memoizes, per transform, this predicate's transformed value
    and whether the point check is exact, across the files of one plan:
    both depend only on the predicate and the transform, not the file."""
    transform, partition_name = _file_spec_entry(info, spec_by_source)
    if transform and transform != "void":
        part = data_file.get("partition") or {}
        if partition_name in part:
            hit = tvs.get(transform)
            if hit is None:
                fn, ordered = get_transform(transform)
                # order-preserving transforms check every op (exact only
                # for identity); a hash only equality-shaped ones
                exact = ordered and transform == "identity"
                tv = (
                    _predicate_tv(fn, op, value, info)
                    if ordered or op in ("==", "=", "in")
                    else _NO_TV
                )
                hit = tvs[transform] = (exact, tv)
            exact, tv = hit
            pval = partition_value_to_python(
                part[partition_name],
                transform_result_type(transform, info.type),
            )
            if transform == "day" and pval is not None and not isinstance(pval, int):
                pval = (pval - datetime.date(1970, 1, 1)).days
            if tv is not _NO_TV and not point_may_match(op, tv, pval, exact):
                return False
    return True


def _passes_bounds(
    data_file: dict[str, Any], op: str, info: FieldInfo, value: Any
) -> bool:
    """(b) column min/max bounds, field-id keyed (ice.py:320-332)."""
    if info.type in ("float", "double") and op in (">", ">="):
        # bounds EXCLUDE NaN per spec while Spark orders NaN greater
        # than every number — a file whose upper bound fails the test
        # may still hold matching NaN rows; only a zero NaN census
        # makes the bound comparison sound
        nan = _count_lookup(data_file.get("nan_value_counts"), info.field_id)
        if nan is None or nan > 0:
            return True
    lo = _bound_lookup(data_file.get("lower_bounds"), info.field_id, info.type)
    hi = _bound_lookup(data_file.get("upper_bounds"), info.field_id, info.type)
    if lo is not None or hi is not None:
        if not range_may_match(op, value, lo, hi):
            return False
    return True


def _file_passes_resolved(
    data_file: dict[str, Any],
    resolved: list[tuple[str, FieldInfo, Any, dict]],
    spec_by_source: dict[int, dict[str, Any]] | None = None,
) -> bool:
    for op, info, value, tvs in resolved:
        if not _passes_partition(data_file, op, info, value, spec_by_source, tvs):
            return False
        if not _passes_bounds(data_file, op, info, value):
            return False
    return True


def _bound_lookup(bounds: Any, field_id: int, type_str: str) -> Any:
    if not bounds:
        return None
    if isinstance(bounds, dict):  # already keyed
        raw = bounds.get(field_id)
    else:  # avro list of {key, value}
        raw = next((b["value"] for b in bounds if b["key"] == field_id), None)
    if raw is None:
        return None
    return decode_bound(raw, type_str)


def _count_lookup(counts: Any, field_id: int) -> int | None:
    """Per-column long counter (null_value_counts / nan_value_counts),
    tolerant of both the avro list-of-{key,value} shape and a pre-keyed
    dict.  None = the file carries no counter for this column."""
    if not counts:
        return None
    if isinstance(counts, dict):
        v = counts.get(field_id)
    else:
        v = next((c["value"] for c in counts if c["key"] == field_id), None)
    return None if v is None else int(v)


def _file_spec_entry(
    info: FieldInfo, spec_by_source: dict[int, dict[str, Any]] | None
) -> tuple[str | None, str | None]:
    """(transform, partition_name) for this column under the FILE's own
    partition spec when given, else the table default spec."""
    if spec_by_source is not None:
        spec = spec_by_source.get(info.field_id)
        return (spec["transform"], spec["name"]) if spec else (None, None)
    return info.transform, info.partition_name


def _no_nulls_proof(
    data_file: dict[str, Any],
    info: FieldInfo,
    spec_by_source: dict[int, dict[str, Any]] | None,
) -> bool:
    """Can we PROVE the file has no NULL in this column?  Parquet/Iceberg
    min-max bounds exclude nulls, so an all-rows-satisfy proof from
    bounds alone would silently treat a NULL row (which fails every
    comparison op) as matching.  Three independent proofs: the schema
    declares the column required; the manifest carries
    ``null_value_counts`` == 0 for it (spec field 110); or the file's
    identity partition pins every row to one non-null value."""
    if info.required:
        return True
    if _count_lookup(data_file.get("null_value_counts"), info.field_id) == 0:
        return True
    transform, pname = _file_spec_entry(info, spec_by_source)
    # every spec transform except void maps NULL → NULL, so a file whose
    # partition value is non-null under ANY real transform holds no
    # NULL source rows for that column
    if transform and transform != "void":
        part = data_file.get("partition") or {}
        if pname in part:
            return part[pname] is not None
    return False


def _all_match_pred(
    data_file: dict[str, Any],
    op: str,
    info: FieldInfo,
    value: Any,
    spec_by_source: dict[int, dict[str, Any]] | None,
) -> bool:
    """Prove EVERY row of the file satisfies ``col <op> value`` — the
    inverse question of may-match, used by metadata-only DELETE to drop
    whole files with zero data IO.  Conservative: False means "cannot
    prove", never "provably false".

    Soundness under the spec's bound contract (lower <= true min,
    upper >= true max — writers may widen/truncate string bounds):
    every proof here compares against the OUTER approximation, so a
    widened bound can only weaken the proof, not break it.  Float/double
    columns additionally require ``nan_value_counts`` == 0: NaN rows sit
    outside min/max and fail every comparison."""
    if isinstance(value, float) and value != value:
        return False  # NaN predicate value: nothing provable
    transform, pname = _file_spec_entry(info, spec_by_source)
    part = data_file.get("partition") or {}
    if transform == "identity" and pname in part:
        pval = partition_value_to_python(part[pname], info.type)
        if pval is None:
            return False  # NULL satisfies no comparison op
        if op == "in":
            return any(_eq(pval, v) for v in value)
        if op in ("==", "="):
            return _eq(pval, value)
        if op == "!=":
            return not _eq(pval, value)
        if op == "<":
            return _lt(pval, value)
        if op == "<=":
            return _le(pval, value)
        if op == ">":
            return _lt(value, pval)
        if op == ">=":
            return _le(value, pval)
        return False
    if transform and transform not in ("void", "identity", "bucket"):
        # order-preserving derived transform (truncate/day/month/year/
        # hour): every row has t(col) == p, so p strictly BELOW t(v)
        # proves col < v (and <=); p strictly ABOVE proves col > v (and
        # >=).  The boundary partition p == t(v) mixes rows on both
        # sides and proves nothing.  This is the retention-delete fast
        # path: `ts < cutoff` on a day-partitioned table drops whole
        # day files with zero data IO.
        fn, ordered = get_transform(transform)
        if ordered and pname in part:
            pval = partition_value_to_python(
                part[pname], transform_result_type(transform, info.type)
            )
            if transform == "day" and pval is not None and not isinstance(pval, int):
                pval = (pval - datetime.date(1970, 1, 1)).days
            if pval is not None and op in ("<", "<=", ">", ">="):
                tv = _predicate_tv(fn, op, value, info)
                if tv is not _NO_TV:
                    if op in ("<", "<=") and _lt(pval, tv):
                        return True
                    if op in (">", ">=") and _lt(tv, pval):
                        return True
            # fall through: bounds may still prove it
    lo = _bound_lookup(data_file.get("lower_bounds"), info.field_id, info.type)
    hi = _bound_lookup(data_file.get("upper_bounds"), info.field_id, info.type)
    if lo is None or hi is None:
        return False
    if not _no_nulls_proof(data_file, info, spec_by_source):
        return False
    if info.type in ("float", "double") and _count_lookup(
        data_file.get("nan_value_counts"), info.field_id
    ) != 0:
        return False
    if op in ("==", "="):
        return _eq(lo, hi) and _eq(lo, value)
    if op == "in":
        return _eq(lo, hi) and any(_eq(lo, v) for v in value)
    if op == "!=":
        return _lt(hi, value) or _lt(value, lo)
    if op == "<":
        return _lt(hi, value)
    if op == "<=":
        return _le(hi, value)
    if op == ">":
        return _lt(value, lo)
    if op == ">=":
        return _le(value, lo)
    return False


def file_all_rows_match(
    data_file: dict[str, Any],
    filters: Any,
    fields: dict[str, FieldInfo],
    spec_by_source: dict[int, dict[str, Any]] | None = None,
) -> bool:
    """True iff every row of the file PROVABLY satisfies the DNF filter.

    Sufficient condition (conservative for OR): some single conjunction
    is satisfied by all rows — rows matching different disjuncts of an
    OR cannot be combined into a whole-file proof from per-file stats.
    A predicate naming an unknown column fails its conjunction (contrast
    may-match, where it is skipped)."""
    if not filters:
        return False
    conjunctions = filters if is_dnf(filters) else [filters]
    for conj in conjunctions:
        ok = True
        for pred in conj:
            _validate(pred)
            col, op, raw_value = pred
            info = fields.get(col)
            if info is None:
                ok = False
                break
            if op == "in":
                value: Any = [normalize_value(v, info.type) for v in raw_value]
            else:
                value = normalize_value(raw_value, info.type)
            if not _all_match_pred(data_file, op, info, value, spec_by_source):
                ok = False
                break
        if ok and conj:
            return True
    return False


# ---------------------------------------------------------------------------
# Vectorized bounds evaluation.  Planning cost is O(files) Python in the
# scalar path — at a million files (~100 TB of 100 MB files) that is
# seconds of driver time PER QUERY spent in per-file decode/compare.  For
# the fixed-width types below, bound bytes concatenate into one buffer and
# np.frombuffer + one array comparison replaces the per-file loop.  The
# comparisons are written in PERMIT form with the same operand order as
# ``range_may_match`` so NaN bounds behave bit-identically (NaN <= v is
# False in both worlds → the file is pruned exactly when the scalar path
# prunes it).  Anything the fast path cannot express exactly — 'in',
# variable-width types, odd-width legacy bounds, value/type combinations
# where numpy's float64 promotion could round where Python's exact
# int↔float comparison would not — falls back to the scalar helpers
# per file, so the two paths are answer-identical by construction
# (enforced by a differential hypothesis test).

_VECTOR_TYPES: dict[str, tuple[str, int]] = {
    "int": ("<i4", 4),
    "long": ("<i8", 8),
    "date": ("<i4", 4),
    "float": ("<f4", 4),
    "double": ("<f8", 8),
    "timestamp": ("<i8", 8),
    "timestamptz": ("<i8", 8),
    "timestampz": ("<i8", 8),
}
_VECTOR_MIN_FILES = 64  # below this the setup costs more than it saves
_SCALAR = object()  # sentinel: predicate needs the scalar path
_ALWAYS = object()  # sentinel: bounds can never disprove this predicate

_EPOCH_DATE = datetime.date(1970, 1, 1)
_EPOCH_DT = datetime.datetime(1970, 1, 1)


def _vector_elem(info: FieldInfo, value: Any) -> Any:
    """One predicate value as the number the decoded bound arrays compare
    against, or ``_SCALAR`` when numpy promotion could diverge from
    Python's exact mixed-type comparison."""
    t = info.type
    if t in ("float", "double"):
        if isinstance(value, bool):
            return _SCALAR
        if isinstance(value, int):
            # beyond 2^53 float64 rounds where Python compares exactly
            value = float(value) if abs(value) <= 2**53 else _SCALAR
        if not isinstance(value, float):
            return _SCALAR
        if t == "float" and _struct.unpack("<f", _struct.pack("<f", value))[0] != value:
            # the f4 bound array would silently round the predicate value
            # to float32, flipping strict comparisons at the bound (e.g.
            # lower==1.0f pruned by '< 1.0000000001'); Python compares
            # the decoded f4 bound against the full-precision value
            # exactly, so route to the scalar path
            return _SCALAR
        return value
    if t in ("int", "long"):
        if isinstance(value, bool) or not isinstance(value, int):
            return _SCALAR  # float-vs-int: Python compares exactly, f8 rounds
        return value if -(2**63) <= value < 2**63 else _SCALAR
    if t == "date":
        if isinstance(value, datetime.datetime) or not isinstance(
            value, datetime.date
        ):
            return _SCALAR
        return (value - _EPOCH_DATE).days
    # micro-precision timestamps; _comparable promotes a plain date
    if type(value) is datetime.date:
        value = datetime.datetime(value.year, value.month, value.day)
    if not isinstance(value, datetime.datetime) or value.tzinfo is not None:
        return _SCALAR
    return datetime_to_micros(value)


def _vector_value(op: str, info: FieldInfo, value: Any) -> Any:
    """Predicate value(s) for the vector path — a number, a list of
    numbers for 'in', or a sentinel routing this predicate elsewhere."""
    t = info.type
    if t not in _VECTOR_TYPES:
        return _SCALAR
    if op == "in":
        if not isinstance(value, (list, tuple)) or not value or len(value) > 64:
            return _SCALAR  # empty/in-huge: keep scalar semantics verbatim
        elems = []
        for v in value:
            if isinstance(v, float) and v != v:
                return _ALWAYS  # a NaN member can never be disproved
            ev = _vector_elem(info, v)
            if ev is _SCALAR:
                return _SCALAR
            elems.append(ev)
        return elems
    if isinstance(value, float) and value != value:
        # NaN predicate: bounds EXCLUDE NaN per spec → never disproves
        return _ALWAYS
    if op == "!=" and t in ("float", "double"):
        # a float column may hold NaN rows outside its bounds and
        # NaN != v is true — never prune notEq on floats
        return _ALWAYS
    if op in (">", ">=") and t in ("float", "double"):
        # same NaN hazard for gt/gtEq (NaN > v is true under Spark's
        # ordering): the scalar path consults nan_value_counts per file,
        # which the vector mask does not carry — route it there
        return _SCALAR
    return _vector_elem(info, value)


def _gather_bounds(files, lower_fids, upper_fids):
    """ONE pass per bounds side over all files' entries, collecting the
    raw bytes of every wanted field id: {side: {fid: (row_idx_list,
    raw_bytes_list)}}.  This replaces a per-predicate per-file list scan
    (the scalar path's cost center at 100k+ files) with a single tight
    loop shared by every vectorizable predicate.  Each side gathers only
    the fields whose op consults it ('<' family never reads uppers)."""
    out = {}
    for side, fids in (
        ("lower_bounds", lower_fids),
        ("upper_bounds", upper_fids),
    ):
        per: dict[int, tuple[list, list]] = {fid: ([], []) for fid in fids}
        if not per:
            out[side] = per
            continue
        for i, f in enumerate(files):
            bs = f.get(side)
            if not bs:
                continue
            if isinstance(bs, dict):
                for fid, (idx, raws) in per.items():
                    v = bs.get(fid)
                    if v is not None:
                        idx.append(i)
                        raws.append(v)
            else:
                for b in bs:
                    entry = per.get(b["key"])
                    if entry is not None:
                        v = b["value"]
                        if v is not None:
                            entry[0].append(i)
                            entry[1].append(v)
        out[side] = per
    return out


def _vector_bounds_mask(np, files, gathered, op, info, vnum, value):
    """Boolean may-match-by-bounds mask over ``files`` for one predicate.

    ``gathered`` comes from :func:`_gather_bounds`; ``vnum`` is the
    numeric value from :func:`_vector_value`; ``value`` the original
    resolved value for the odd-width scalar fallback.  Comparisons are
    permit-form with ``range_may_match``'s operand order, pruning via
    scatter on the compressed present-value arrays."""
    dtype, width = _VECTOR_TYPES[info.type]
    mask = np.ones(len(files), dtype=bool)

    def side_vals(side):
        idx, raws = gathered[side].get(info.field_id) or ((), ())
        if not idx:
            return None, None, ()
        ii = np.asarray(idx, dtype=np.int64)
        lens = np.fromiter(map(len, raws), dtype=np.int64, count=len(raws))
        ok = lens == width
        if ok.all():
            return ii, np.frombuffer(b"".join(raws), dtype=dtype), ()
        # e.g. 4-byte bounds surviving a float→double/int→long promotion
        good = [r for r, o in zip(raws, ok) if o]
        return (
            ii[ok],
            np.frombuffer(b"".join(good), dtype=dtype),
            ii[~ok],
        )

    lo_i, lo_v, lo_odd = side_vals("lower_bounds")
    hi_i, hi_v, hi_odd = side_vals("upper_bounds")
    if op == "in":  # OR of equality permits, one scatter pair per member
        permitted = np.zeros(len(files), dtype=bool)
        for v in vnum:
            tmp = np.ones(len(files), dtype=bool)
            if lo_i is not None:
                tmp[lo_i[~(lo_v <= v)]] = False
            if hi_i is not None:
                tmp[hi_i[~(v <= hi_v)]] = False
            permitted |= tmp
        mask &= permitted
    elif op in ("==", "="):
        if lo_i is not None:
            mask[lo_i[~(lo_v <= vnum)]] = False
        if hi_i is not None:
            mask[hi_i[~(vnum <= hi_v)]] = False
    elif op == "!=":  # int/long/date/timestamp only (floats → _ALWAYS)
        if lo_i is not None and hi_i is not None:
            both, ai, bi = np.intersect1d(lo_i, hi_i, return_indices=True)
            viol = (lo_v[ai] == hi_v[bi]) & (lo_v[ai] == vnum)
            mask[both[viol]] = False
    elif op == "<":
        if lo_i is not None:
            mask[lo_i[~(lo_v < vnum)]] = False
    elif op == "<=":
        if lo_i is not None:
            mask[lo_i[~(lo_v <= vnum)]] = False
    elif op == ">":
        if hi_i is not None:
            mask[hi_i[~(vnum < hi_v)]] = False
    elif op == ">=":
        if hi_i is not None:
            mask[hi_i[~(vnum <= hi_v)]] = False
    else:  # pragma: no cover - op set pre-validated
        raise ValueError(f"unknown op {op!r}")
    for i in {*map(int, lo_odd), *map(int, hi_odd)}:
        mask[i] = _passes_bounds(files[i], op, info, value)
    return mask


def _vector_survivors(np, files, resolved_conjunctions, spec_map, partitioned):
    """Survivor mask over ``files`` for an OR of conjunctions —
    answer-identical to the scalar loop (differentially tested)."""
    n = len(files)
    plans = [
        [
            (op, info, value, tvs, _vector_value(op, info, value))
            for op, info, value, tvs in resolved
        ]
        for resolved in resolved_conjunctions
    ]
    vec_preds = [
        (op, info)
        for plan in plans
        for op, info, value, tvs, vnum in plan
        if vnum is not _SCALAR and vnum is not _ALWAYS
    ]
    gathered = _gather_bounds(
        files,
        {i.field_id for op, i in vec_preds if op not in (">", ">=")},
        {i.field_id for op, i in vec_preds if op not in ("<", "<=")},
    )
    total = np.zeros(n, dtype=bool)
    for plan in plans:
        conj = np.ones(n, dtype=bool)
        for op, info, value, tvs, vnum in plan:
            if partitioned(info):
                for i, f in enumerate(files):
                    if conj[i] and not _passes_partition(
                        f, op, info, value, spec_map(f), tvs
                    ):
                        conj[i] = False
            if vnum is _ALWAYS:
                continue
            if vnum is _SCALAR:
                for i, f in enumerate(files):
                    if conj[i] and not _passes_bounds(f, op, info, value):
                        conj[i] = False
            else:
                conj &= _vector_bounds_mask(
                    np, files, gathered, op, info, vnum, value
                )
            if not conj.any():
                break
        total |= conj
        if total.all():
            break
    return total


def apply_filters(
    files: list[dict[str, Any]],
    filters: Any,
    fields: dict[str, FieldInfo],
    spec_fields_for: Any = None,
) -> list[dict[str, Any]]:
    """Return the subset of data files that may contain matching rows.

    OR-of-conjunctions → union of survivor sets (reference bug fixed).
    ``spec_fields_for(spec_id)`` (e.g. ``IcebergTable._spec_fields``)
    resolves each file's own partition spec so transform checks follow
    the spec the file was written under, not the table default.
    """
    if not filters:
        return files
    conjunctions = filters if is_dnf(filters) else [filters]
    # hoist the per-predicate invariants (validation, value parsing)
    # out of the file loop: on a 100k-file table a 3-predicate filter
    # would otherwise re-parse the same constants 300k times during
    # metadata planning
    resolved_conjunctions = []
    for conj in conjunctions:
        resolved = []
        for pred in conj:
            _validate(pred)
            col, op, raw_value = pred
            info = fields.get(col)
            if info is None:
                continue  # unknown column: cannot prune on it
            if op == "in":
                value: Any = [
                    normalize_value(v, info.type) for v in raw_value
                ]
            else:
                value = normalize_value(raw_value, info.type)
            # last: the predicate's transformed value per partition
            # transform, filled by _passes_partition on first use
            resolved.append((op, info, value, {}))
        resolved_conjunctions.append(resolved)
    spec_cache: dict[int, dict[int, dict[str, Any]]] = {}

    def spec_map(f: dict[str, Any]) -> dict[int, dict[str, Any]] | None:
        if spec_fields_for is None:
            return None
        sid = f.get("_spec_id", 0)
        if sid not in spec_cache:
            spec_cache[sid] = {
                sf["source-id"]: sf for sf in spec_fields_for(sid)
            }
        return spec_cache[sid]

    if len(files) >= _VECTOR_MIN_FILES:
        try:
            import numpy as np
        except ImportError:  # pragma: no cover - numpy is a hard dep here
            np = None
        if np is not None:
            if spec_fields_for is None:

                def partitioned(info: FieldInfo) -> bool:
                    return bool(info.transform and info.transform != "void")

            else:
                sid_maps = [
                    spec_map(f)
                    for f in {
                        f.get("_spec_id", 0): f for f in files
                    }.values()
                ]

                def partitioned(info: FieldInfo) -> bool:
                    # over-inclusive is safe (scalar check just returns
                    # True); under-inclusive would skip real pruning
                    return any(
                        (m or {}).get(info.field_id) is not None
                        for m in sid_maps
                    )

            keep = _vector_survivors(
                np, files, resolved_conjunctions, spec_map, partitioned
            )
            paths = {
                f["file_path"] for f, k in zip(files, keep) if bool(k)
            }
            return [f for f in files if f["file_path"] in paths]

    out: dict[str, dict[str, Any]] = {}
    for resolved in resolved_conjunctions:
        for data_file in files:
            path = data_file["file_path"]
            if path not in out and _file_passes_resolved(
                data_file, resolved, spec_map(data_file)
            ):
                out[path] = data_file
    return [f for f in files if f["file_path"] in out]


def check_summaries(
    summaries: list[dict[str, Any]],
    spec_fields: list[dict[str, Any]],
    fields: dict[str, FieldInfo],
    filters: Any,
) -> bool:
    """Manifest-list pruning: may this manifest contain matching rows?

    ``summaries[i]`` carries lower/upper bound bytes of partition field i
    *in transformed space* (``ice.py:165-182``).  Conservative: any doubt
    → True.
    """
    if not filters:
        return True
    conjunctions = filters if is_dnf(filters) else [filters]
    by_source: dict[int, tuple[dict[str, Any], dict[str, Any]]] = {}
    for summary, spec in zip(summaries, spec_fields):
        by_source[spec["source-id"]] = (summary, spec)
    name_to_info = fields

    def conj_may_match(conj: Iterable[tuple[str, str, Any]]) -> bool:
        for pred in conj:
            _validate(pred)
            col, op, raw_value = pred
            info = name_to_info.get(col)
            if info is None or info.field_id not in by_source:
                continue
            summary, spec = by_source[info.field_id]
            transform = spec["transform"]
            if transform == "void":
                continue
            fn, ordered = get_transform(transform)
            result_type = transform_result_type(transform, info.type)
            lo = decode_bound(summary.get("lower_bound"), result_type)
            hi = decode_bound(summary.get("upper_bound"), result_type)
            if lo is None and hi is None:
                continue
            value = normalize_value(raw_value, info.type)
            if op == "in":
                tv: Any = _predicate_tv(
                    fn,
                    "in",
                    [normalize_value(v, info.type) for v in raw_value],
                    info,
                )
            else:
                tv = _predicate_tv(fn, op, value, info)
            if tv is _NO_TV:
                continue  # no sound transform image: cannot prune here
            if ordered:
                eff_op = op
                if transform != "identity":
                    # Transformed space: the boundary partition t(v) mixes
                    # rows on both sides of v, so strict ops relax to
                    # inclusive and != cannot prune at all.
                    if op == "<":
                        eff_op = "<="
                    elif op == ">":
                        eff_op = ">="
                    elif op == "!=":
                        continue
                if not range_may_match(eff_op, tv, lo, hi):
                    return False
            elif op in ("==", "=", "in"):
                # hash space is unordered, but equality still implies the
                # bucket value must fall inside the summary range
                if not range_may_match("in" if op == "in" else "==", tv, lo, hi):
                    return False
        return True

    return any(conj_may_match(c) for c in conjunctions)
