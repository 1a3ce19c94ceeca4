"""Property-based soundness of manifest-stats file pruning
(sinks/versioned.py): for ANY file contents and ANY comparison
predicate, a file containing a matching value must never be pruned.

This is the invariant the Spark-level tests check by example
(test_versioned.py); here Hypothesis searches the value space —
including the Decimal-beyond-float-precision and date-vs-datetime
granularity corners that motivated _stat_bounds' widening and
midnight expansion. Pure Python: no SparkSession, runs in
milliseconds.
"""

from __future__ import annotations

import datetime as dt
import decimal

from hypothesis import given, settings
from hypothesis import strategies as st

from mc_ns_data_pipeline_spark.sinks.versioned import (
    _PRUNE_OPS,
    _file_survives,
    _stat_bounds,
)

OPS = sorted(_PRUNE_OPS)

# Value kinds whose Python ordering matches Spark column ordering
# (NaN is excluded here: _stat_bounds refuses to record NaN bounds and
# _file_survives never prunes on a NaN literal — both unit-tested in
# test_versioned.py::test_pruning_soundness_nan_decimal_date).
_ints = st.integers(min_value=-(2**70), max_value=2**70)
_floats = st.floats(allow_nan=False, allow_infinity=True, width=64)
_decimals = st.decimals(
    allow_nan=False, allow_infinity=False,
    min_value=-(10**24), max_value=10**24, places=4)
_dates = st.dates(min_value=dt.date(1900, 1, 1),
                  max_value=dt.date(2200, 1, 1))
_datetimes = st.datetimes(min_value=dt.datetime(1900, 1, 1),
                          max_value=dt.datetime(2200, 1, 1))
_strings = st.text(max_size=20)


def _spark_truth(value, op, literal):
    """What Spark's row filter would decide, computed EXACTLY: ints/
    floats/decimals compare numerically (Python cross-type numeric
    comparison is exact — no float rounding), dates coerce to midnight
    datetimes (Spark casts DATE to TIMESTAMP in mixed comparisons)."""
    if isinstance(value, dt.datetime) or isinstance(literal, dt.datetime):
        def up(x):
            return (dt.datetime(x.year, x.month, x.day)
                    if isinstance(x, dt.date)
                    and not isinstance(x, dt.datetime) else x)
        value, literal = up(value), up(literal)
    cmp = {"<": lambda a, b: a < b, "<=": lambda a, b: a <= b,
           ">": lambda a, b: a > b, ">=": lambda a, b: a >= b,
           "=": lambda a, b: a == b}
    return cmp[op](value, literal)


def _check(values, op, literal):
    """Record stats over `values` the way _scan_new_files would (exact
    min/max of the file), then assert: if ANY value matches the
    predicate, the file survives pruning."""
    bounds = _stat_bounds(min(values), max(values))
    if bounds is None:
        return  # unstatable: file always scanned, trivially sound
    stats = {"f.parquet": {"c": bounds}}
    survives = _file_survives(stats, "f.parquet", "c", op, literal)
    if any(_spark_truth(v, op, literal) for v in values):
        assert survives, (
            f"unsound prune: values={values} op={op} lit={literal!r} "
            f"bounds={bounds}")


@settings(max_examples=300)
@given(st.lists(_ints, min_size=1, max_size=5),
       st.sampled_from(OPS), _ints)
def test_never_prunes_matching_ints(values, op, literal):
    _check(values, op, literal)


@settings(max_examples=300)
@given(st.lists(_floats, min_size=1, max_size=5),
       st.sampled_from(OPS), _floats)
def test_never_prunes_matching_floats(values, op, literal):
    _check(values, op, literal)


@settings(max_examples=300)
@given(st.lists(_decimals, min_size=1, max_size=5),
       st.sampled_from(OPS), _decimals)
def test_never_prunes_matching_decimals(values, op, literal):
    # The corner that motivated ulp-widening: exact decimal truth vs
    # float-stored bounds.
    _check(values, op, literal)


@settings(max_examples=300)
@given(st.lists(_decimals, min_size=1, max_size=5),
       st.sampled_from(OPS), _ints)
def test_never_prunes_decimal_stats_int_literal(values, op, literal):
    _check(values, op, literal)


@settings(max_examples=300)
@given(st.lists(_datetimes, min_size=1, max_size=5),
       st.sampled_from(OPS),
       st.one_of(_dates, _datetimes))
def test_never_prunes_matching_timestamps_vs_date_literals(
        values, op, literal):
    # The granularity corner: timestamp stats, date (midnight) literal.
    _check(values, op, literal)


@settings(max_examples=300)
@given(st.lists(_strings, min_size=1, max_size=5),
       st.sampled_from(OPS), _strings)
def test_never_prunes_matching_strings(values, op, literal):
    _check(values, op, literal)


@settings(max_examples=200)
@given(st.lists(_ints, min_size=1, max_size=5), st.sampled_from(OPS))
def test_equality_on_present_value_always_survives(values, op):
    # Sharper special case: the literal IS in the file.
    _check(values, "=", values[0])


from mc_ns_data_pipeline_spark.sinks.versioned import (  # noqa: E402
    _bloom_b64,
    _bloom_may_contain,
)


@settings(max_examples=300, deadline=None)  # first call imports pandas
@given(st.lists(st.one_of(st.integers(min_value=-(2**62),
                                      max_value=2**62),
                          st.text(max_size=30)),
                min_size=1, max_size=40))
def test_bloom_never_false_negative(values):
    """Every value that went INTO a file's bloom must probe positive —
    false positives cost a scan, false negatives would lose rows."""
    import pandas as pd

    b64 = _bloom_b64(pd.Series(values, dtype="object"), False)
    for v in values:
        assert _bloom_may_contain(b64, v), (v, values)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**40),
                min_size=1, max_size=40))
def test_bloom_integral_recast_matches_int_probe(values):
    """The integral=True build path (Arrow may deliver long-with-NULL
    columns as float64) must still probe positive for the plain int
    literal."""
    import pandas as pd

    floaty = pd.Series([float(v) for v in values], dtype="float64")
    b64 = _bloom_b64(floaty, integral=True)
    for v in values:
        assert _bloom_may_contain(b64, v)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**40),
                min_size=0, max_size=10),
       st.integers(min_value=2**53, max_value=2**62))
def test_bloom_refuses_ambiguous_float_integrals(small, huge):
    """A float64-dtype integral series with any magnitude >= 2**53 is
    ambiguous (the true int was destroyed upstream): _bloom_b64 must
    return None (record nothing — absence means 'must scan') rather
    than hash a rounded id, which would be a build-time false negative
    (ADVICE r4-high). Production never hits this path (string-cast
    build), this pins the defense-in-depth contract."""
    import pandas as pd

    floaty = pd.Series([float(v) for v in small] + [float(huge)],
                       dtype="float64")
    assert _bloom_b64(floaty, integral=True) is None
    assert _bloom_b64(-floaty, integral=True) is None


# ---------------------------------------------------------------------------
# Batch bloom probe (_bloom_candidates): the driver-side locate cut
# must have ZERO false negatives — a file containing ANY batch key
# must always survive, for any mix of string/int values (including
# NUL bytes, separator lookalikes, and int/str near-collisions like
# 5 vs "5"). False positives are allowed; dropped true files are data
# loss in the COW rewrite.
# ---------------------------------------------------------------------------

_bloom_value = st.one_of(
    st.integers(min_value=-2**62, max_value=2**62),
    st.text(max_size=12),
)


@settings(max_examples=150, deadline=None)
@given(
    file_vals=st.lists(_bloom_value, min_size=0, max_size=40),
    batch=st.lists(_bloom_value, min_size=1, max_size=20),
)
def test_bloom_batch_probe_never_false_negative(file_vals, batch):
    import pandas as pd

    from mc_ns_data_pipeline_spark.sinks.versioned import (
        _bloom_b64,
        _bloom_candidates,
    )

    # Build one file's bloom the way the executor pass does. A file is
    # all-int or all-str in reality (one column); exercise both by
    # splitting the generated values per type.
    for integral in (True, False):
        vals = [v for v in file_vals
                if isinstance(v, int) == integral]
        ser = pd.Series(vals, dtype="object")
        man = {
            "bloom_cols": ["k"],
            "blooms": {"f1": {"k": _bloom_b64(ser, integral)}},
            "stats_cols": [],
        }
        keys = [v for v in batch if isinstance(v, int) == integral]
        if not keys:
            continue
        kept = _bloom_candidates(man, "k", keys, ["f1"])
        truly_contains = any(k in vals for k in keys)
        if truly_contains:
            assert kept == ["f1"], (
                f"false negative: file holding {vals!r} pruned "
                f"for batch {keys!r}")


# ---------------------------------------------------------------------------
# _InProbe (ADVICE r5-medium): the bisected IN-list stats probe must be
# (a) sound — never prune a file holding a batch value — and (b) agree
# with the per-value any() reference path it replaces on NULL-free
# batches (mixed-type and NaN batches must degrade to must-scan
# exactly like the reference).
# ---------------------------------------------------------------------------

from mc_ns_data_pipeline_spark.sinks.versioned import _InProbe  # noqa: E402

_probe_scalar = st.one_of(_ints, _floats, _decimals, _strings)


@settings(max_examples=400)
@given(
    values=st.lists(st.one_of(_ints, _floats, _decimals),
                    min_size=1, max_size=5),
    batch=st.lists(st.one_of(_ints, _floats, _decimals, st.none()),
                   min_size=0, max_size=30),
)
def test_in_probe_never_prunes_matching_numeric_batch(values, batch):
    bounds = _stat_bounds(min(values), max(values))
    if bounds is None:
        return
    stats = {"f.parquet": {"c": bounds}}
    survives = _file_survives(stats, "f.parquet", "c", "in",
                              _InProbe(batch))
    if any(v is not None and _spark_truth(val, "=", v)
           for val in values for v in batch):
        assert survives, (
            f"unsound IN probe: values={values} batch={batch!r} "
            f"bounds={bounds}")


@settings(max_examples=400)
@given(
    values=st.lists(_strings, min_size=1, max_size=5),
    batch=st.lists(st.one_of(_strings, st.none()),
                   min_size=0, max_size=30),
)
def test_in_probe_never_prunes_matching_string_batch(values, batch):
    bounds = _stat_bounds(min(values), max(values))
    if bounds is None:
        return
    stats = {"f.parquet": {"c": bounds}}
    survives = _file_survives(stats, "f.parquet", "c", "in",
                              _InProbe(batch))
    if any(v is not None and val == v for val in values for v in batch):
        assert survives


@settings(max_examples=400)
@given(
    values=st.lists(_probe_scalar, min_size=1, max_size=5),
    batch=st.lists(_probe_scalar, min_size=0, max_size=30),
)
def test_in_probe_matches_per_value_reference(values, batch):
    """On NULL-free batches the bisect path must reach exactly the
    per-value any() decision — including mixed-type batches (both
    degrade to must-scan) and disjoint-span batches (both prune)."""
    try:
        bounds = _stat_bounds(min(values), max(values))
    except TypeError:
        return  # mixed-type file values: not a real column
    if bounds is None:
        return
    stats = {"f.parquet": {"c": bounds}}
    ref = _file_survives(stats, "f.parquet", "c", "in", list(batch))
    probed = _file_survives(stats, "f.parquet", "c", "in",
                            _InProbe(batch))
    assert probed == ref, (
        f"probe/reference divergence: values={values} batch={batch!r} "
        f"bounds={bounds} ref={ref} probed={probed}")


# ---------------------------------------------------------------------------
# The COW rebase rule (`_rebase_cow`, r6 optimistic COW): the
# data-loss-critical half is completeness — whenever an interposed
# append's file TRULY contains a batch key, the rule must CONFLICT
# (rebasing would publish a merge that silently missed that row).
# False conflicts just cost a retry.
# ---------------------------------------------------------------------------


@settings(max_examples=60, deadline=None)
@given(
    appended=st.lists(st.integers(-2**40, 2**40),
                      min_size=0, max_size=20),
    batch=st.lists(st.integers(-2**40, 2**40),
                   min_size=1, max_size=20),
)
def test_cow_rebase_guard_conflicts_on_true_key_overlap(appended,
                                                        batch):
    import json
    import os
    import shutil
    import tempfile

    import pandas as pd

    from mc_ns_data_pipeline_spark.sinks.versioned import (
        CommitConflictError,
        _bloom_b64,
        _key_batch_predicates,  # noqa: F401  (shape documented here)
        _InProbe,
        _manifest_path,
        _rebase_chain,
        _rebase_cow,
        _snapshots_root,
        _Staged,
        _stat_bounds,
    )

    work = tempfile.mkdtemp()
    try:
        table = os.path.join(work, "t")
        os.makedirs(_snapshots_root(table), exist_ok=True)
        base_core = {"snapshot": "00000001-b", "parent": None,
                     "op": "overwrite", "rows": 0, "files": [],
                     "new_files": [], "stats_cols": ["k"],
                     "bloom_cols": ["k"], "delete_files": None,
                     "schema": None}
        stats = {}
        blooms = {}
        if appended:
            stats["f1.parquet"] = {
                "k": _stat_bounds(min(appended), max(appended))}
            blooms["f1.parquet"] = {"k": _bloom_b64(
                pd.Series(appended, dtype="object").astype(str),
                integral=False)}
        head_core = {"snapshot": "00000002-a", "parent": "00000001-b",
                     "op": "append", "rows": 0,
                     "files": ["f1.parquet"] if appended else [],
                     "new_files": ["f1.parquet"] if appended else [],
                     "stats": stats, "blooms": blooms,
                     "stats_cols": ["k"], "bloom_cols": ["k"],
                     "delete_files": None, "schema": None}
        for core in (base_core, head_core):
            with open(_manifest_path(table, core["snapshot"]),
                      "w") as fh:
                json.dump(core, fh)
        preds = [("k", "in", _InProbe(batch))]
        overlap = bool(set(appended) & set(batch))
        try:
            _rebase_cow(None, table,
                        _Staged("merge", "00000001-b", base_core,
                                key="k", preds=preds),
                        _rebase_chain(table, "00000002-a", "00000001-b"),
                        head_core)
            conflicted = False
        except CommitConflictError:
            conflicted = True
        if overlap:
            assert conflicted, (
                f"guard rebased over an append that truly contains a "
                f"batch key: appended={appended} batch={batch}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
