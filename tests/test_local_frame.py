"""``panel.local_frame``: driver-built tables enter the plan as an Arrow
LocalRelation. Every case is compared with the row-list
``createDataFrame`` it replaced: same schema, same row count and
``bit_xor(xxhash64(*))``, and bit-identical doubles."""

import contextlib
import struct

import numpy as np
import pyarrow as pa
import pytest

from test_gates import digest
from views_transformation_library_spark import plans
from views_transformation_library_spark.operators import dedup
from views_transformation_library_spark.panel import local_frame

NAN, INF = float("nan"), float("inf")

CASES = {
    "empty": ([], "a long, b double, s string, v array<double>"),
    "nulls": (
        [
            (None, None, None, None, None, None),
            (1, 2, 0.5, "x", [1.0], True),
            (None, 3, None, "", None, False),
        ],
        "i int, l bigint, d double, s string, v array<double>, f boolean",
    ),
    "special_doubles": (
        [(i, v) for i, v in enumerate(
            [NAN, INF, -INF, -0.0, 0.0, 5e-324, 1.7976931348623157e308, 0.1]
        )],
        "i int, d double",
    ),
    "array_double": (
        [
            (0, 1, [0.5, -0.0, NAN, INF]),
            (0, 2, []),
            (1, 0, None),
            (1, 1, [None, 1.0]),
        ],
        "__sub int, __code int, __cent array<double>",
    ),
    "strings": (
        [(0, ""), (1, "ascii"), (2, "ünïcödé"), (3, "emoji \U0001f642"),
         (4, "with\nnewline"), (5, None)],
        "i int, s string",
    ),
    "int_vs_bigint": (
        [(2**31 - 1, 2**63 - 1), (-(2**31), -(2**63)), (0, 0), (7, 2**40)],
        "i int, l bigint",
    ),
}


def _bits(v):
    if isinstance(v, float):
        return struct.pack("<d", v)
    if isinstance(v, list):
        return [_bits(x) for x in v]
    return v


def canon(df):
    """Collected rows with every double as its 8 IEEE bytes, order-free."""
    return sorted((tuple(_bits(v) for v in r) for r in df.collect()), key=repr)


def assert_same_frame(new, old):
    assert new.schema == old.schema
    assert digest(new) == digest(old)
    assert canon(new) == canon(old)


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_matches_row_list_frame(spark, case):
    rows, schema = CASES[case]
    new = local_frame(spark, rows, schema)
    assert "LocalTableScan" in plans.physical_plan(new)
    assert plans.python_scans(new) == 0
    assert_same_frame(new, spark.createDataFrame(rows, schema))


def test_local_frame_takes_numpy_scalars(spark):
    rows = [(np.int64(3), np.int32(-4), np.float64(0.1)),
            (np.int64(2**62), np.int32(7), np.float64(-0.0))]
    native = [tuple(v.item() for v in r) for r in rows]
    schema = "l bigint, i int, d double"
    assert_same_frame(
        local_frame(spark, rows, schema), spark.createDataFrame(native, schema)
    )


def test_local_frame_widens_exact_integers_to_double(spark):
    out = local_frame(spark, [(1,), (np.int64(-(2**53)),)], "d double")
    assert canon(out) == canon(spark.createDataFrame([(1.0,), (-(2.0**53),)], "d double"))


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([("x",)], "a bigint"),
        ([(1.5,)], "a bigint"),
        ([(1.0,)], "a bigint"),  # a float is not an integer, even when whole
        ([(np.float64(3.0),)], "a bigint"),
        ([(True,)], "a bigint"),
        ([(1,)], "a string"),
        ([(0.5,)], "a string"),
        ([(1,)], "a boolean"),
        ([("1.0",)], "a double"),
        ([(2**31,)], "a int"),
        ([(2**53 + 1,)], "a double"),  # no exact double
        ([([1.0, "a"],)], "a array<double>"),
        ([(["a"],)], "a array<double>"),
        ([(1.0, 2.0)], "a double"),  # row wider than the schema
        ([(1.0,), (1.0, 2.0)], "a double, b double"),  # ragged rows
    ],
)
def test_local_frame_rejects_wrong_types(spark, rows, schema):
    with pytest.raises((TypeError, ValueError, pa.ArrowInvalid)):
        local_frame(spark, rows, schema)


@contextlib.contextmanager
def arrow_conf(spark, value):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("edges", [[(1, 2), (2, 3), (3, 1), (3, 4)], []])
def test_pagerank_driver_path_ignores_arrow_conf(spark, edges):
    """The driver path's output is a LocalRelation whether or not the
    session enables Arrow for pandas conversions (a vanilla session does
    not), and the ranks are the same either way."""
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    seen = {}
    for conf in ("false", "true"):
        with arrow_conf(spark, conf):
            out = dedup.pagerank(df, max_iters=20)
            assert "LocalTableScan" in plans.physical_plan(out)
            assert plans.python_scans(out) == 0
            seen[conf] = digest(out)
    assert seen["false"] == seen["true"]
    assert seen["false"][0] == len({v for e in edges for v in e})
