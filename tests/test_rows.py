"""The Column boundary ``rows.map_arrays``: one scalar Arrow UDF, numpy
arrays in and out, the output type declared once as DDL."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from pyproj_spark.rows import map_arrays


def test_map_arrays_types_nulls_and_empty(spark):
    df = spark.createDataFrame(
        [(1, 2.0, "ab"), (2, None, None), (3, -1.5, "c")],
        "i int, d double, s string")
    cols = [
        # a struct with an int field (the transform_xy op_id shape)
        map_arrays("struct<d:double,i:int>",
                   lambda i, d: (d * 2, i + 10),
                   F.col("i"), F.col("d")).alias("st"),
        map_arrays("boolean", lambda d: d > 0, F.col("d")).alias("b"),
        map_arrays("string",
                   lambda s: [None if v is None else v.upper() for v in s],
                   F.col("s")).alias("u"),
    ]
    out = df.select("i", *cols)
    assert "ArrowEvalPython" in out._jdf.queryExecution() \
        .executedPlan().toString()
    rows = {r.i: r for r in out.collect()}
    assert rows[1].st.d == 4.0 and rows[1].st.i == 11
    assert rows[3].st.d == -3.0 and rows[3].st.i == 13
    # a NULL double arrives as NaN and leaves as NaN, not NULL
    assert math.isnan(rows[2].st.d) and rows[2].st.i == 12
    assert [rows[k].b for k in (1, 2, 3)] == [True, False, False]
    # a NULL string arrives as None and leaves as NULL
    assert [rows[k].u for k in (1, 2, 3)] == ["AB", None, "C"]
    assert out.schema.simpleString() == (
        "struct<i:int,st:struct<d:double,i:int>,b:boolean,u:string>")
    assert df.filter(F.col("i") < 0).select(*cols).collect() == []
