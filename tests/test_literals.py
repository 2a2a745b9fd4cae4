"""Constant arrays in similarity plans: the LSH hyperplanes reach Spark
as one SQL array literal each (``similarity._double_array``), trained
codebooks as one broadcast row of relation data
(``similarity._codebook_row``), and neither as ``F.lit(list)``, which
PySpark expands into one py4j ``lit`` call per element."""

from __future__ import annotations

import struct

import pyspark.sql.functions as F
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

import pandas_redshift_spark.operators.similarity as sim
from tests.conftest import drop_memo

_doubles = st.floats(allow_nan=False, allow_infinity=False)
_EDGES = [5e-324, -0.0, 0.0, 1.7976931348623157e308, -1.7976931348623157e308, -2.2e-308, 0.1]


def _bits(values) -> list:
    if isinstance(values, (list, tuple)):
        return [_bits(v) for v in values]
    return struct.pack(">d", values)


@given(
    values=st.one_of(
        st.lists(_doubles, min_size=1, max_size=16),
        st.lists(st.lists(_doubles, min_size=1, max_size=6), min_size=1, max_size=4),
    )
)
@example(values=_EDGES)
@example(values=[_EDGES, [x * 0.5 for x in _EDGES]])
@settings(max_examples=30, deadline=None)
def test_double_array_round_trips_bit_for_bit(spark, values):
    row = spark.range(1).select(sim._double_array(values).alias("a"))
    nested = isinstance(values[0], list)
    want = "array<array<double>>" if nested else "array<double>"
    assert row.schema["a"].dataType.simpleString() == want
    assert _bits(row.first()["a"]) == _bits(values)


_HYPERPLANE_OPS = ("sim_lsh_topk", "sim_pairs_threshold")


@pytest.mark.parametrize("name", [*_HYPERPLANE_OPS, "dedup_semantic_ivf", "sim_pq_adc_topk"])
def test_constant_arrays_never_pass_a_list_to_lit(spark, sf_dir, monkeypatch, name):
    """Building each operator that uses hyperplanes or codebooks makes
    no ``F.lit`` call on a list or tuple.  Only the hyperplane
    operators reach ``_double_array``; the codebook operators ship
    their codebooks as a row and build no constant array.  The
    memoized plan and checkpointed frames are dropped first so the
    constant sites really run."""
    drop_memo("frame", "persist")
    real_lit, real_array = F.lit, sim._double_array
    lists, arrays = [], []

    def lit(col, *args, **kwargs):
        if isinstance(col, (list, tuple)):
            lists.append(len(col))
        return real_lit(col, *args, **kwargs)

    def double_array(values):
        arrays.append(len(values))
        return real_array(values)

    monkeypatch.setattr(F, "lit", lit)
    monkeypatch.setattr(sim, "_double_array", double_array)
    getattr(sim, name)(spark, sf_dir)
    assert lists == [], f"{name}: F.lit called on {len(lists)} lists"
    assert bool(arrays) == (name in _HYPERPLANE_OPS), f"{name}: constant arrays {arrays}"
