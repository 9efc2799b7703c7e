"""local_frame: LocalRelation-backed driver-side frames.

The contract under test: local_frame returns exactly the rows
createDataFrame would (same schema, same values, null-for-null), while
its plan is a LocalRelation — zero python-RDD scan tasks on every
collect/broadcast. Every input takes that one Arrow path, including
floats, NUL bytes, numpy scalars and an empty list; a value Arrow
cannot convert to its declared column type raises.
"""

from __future__ import annotations

from aistore_spark.util import local_frame

SCHEMA = "a int, b string, c bigint"


def _plan_class(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


def _rows(df):
    return sorted(
        [tuple(r) for r in df.collect()],
        key=lambda t: tuple((v is None, v) for v in t),
    )


def test_local_frame_matches_create_dataframe(spark):
    rows = [
        (1, "plain", 10),
        (2, "qu'ote and back\\slash", -5),
        (3, "uniécode 中", 1 << 40),
        (4, None, None),
        (None, "line\nbreak\ttab", 0),
    ]
    lf = local_frame(spark, rows, SCHEMA)
    cd = spark.createDataFrame(rows, schema=SCHEMA)
    assert lf.schema == cd.schema
    assert _rows(lf) == _rows(cd)
    assert _plan_class(lf) == "LocalRelation"
    assert _plan_class(cd) != "LocalRelation"


def test_local_frame_all_null_column_types_correctly(spark):
    lf = local_frame(spark, [(1, None, None), (2, None, None)], SCHEMA)
    assert [f.dataType.simpleString() for f in lf.schema.fields] == [
        "int",
        "string",
        "bigint",
    ]
    assert _plan_class(lf) == "LocalRelation"


def test_local_frame_bool_column(spark):
    lf = local_frame(spark, [(True,), (False,), (None,)], "flag boolean")
    assert _rows(lf) == [(False,), (True,), (None,)]
    assert _plan_class(lf) == "LocalRelation"


def test_local_frame_is_one_local_relation_for_every_input(spark):
    import numpy as np
    import pyarrow as pa
    import pytest

    for rows, schema in (
        ([(1.5, "x", 1)], "a double, b string, c bigint"),
        ([("a\x00b",)], "s string"),
        ([(np.int64(7), np.int32(3))], "a bigint, b int"),
        ([], "a int, b string"),
    ):
        lf = local_frame(spark, rows, schema)
        cd = spark.createDataFrame(
            [tuple(v.item() if isinstance(v, np.generic) else v for v in r)
             for r in rows],
            schema=schema,
        )
        assert _plan_class(lf) == "LocalRelation", schema
        assert lf.schema == cd.schema, schema
        assert _rows(lf) == _rows(cd), schema
    # a value Arrow cannot convert to its column type raises
    with pytest.raises(pa.ArrowInvalid):
        local_frame(spark, [("x",)], "a bigint")
