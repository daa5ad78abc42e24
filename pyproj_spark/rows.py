"""The engine's one way to turn rows into rows through Python.

``map_rows`` runs a plain Python function over each row as one
``mapInArrow`` stage; ``map_groups`` is the per-group form: each group
collapses to one row (``array_sort(collect_list(struct(...)))``, a hash
aggregate with map-side partial aggregation) that ``map_rows`` then
maps. Either way the stage's output is declared once, as a DDL string.
Scalar vectorized Column UDFs (the transform kernels, the PIP exact
test, ``arrow_udf``s) are not row mappers and stay Column expressions.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@functools.cache
def _schemas(ddl: str):
    """(Spark StructType, Arrow schema) of a DDL string, parsed once per
    process."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string
    struct = _parse_datatype_string(ddl)
    return struct, to_arrow_schema(struct)


def map_rows(df: DataFrame, cols: Sequence[str | Column], schema: str,
             fn: Callable[..., Iterable[tuple]]) -> DataFrame:
    """Map each row of ``df[cols]`` through the plain Python function
    ``fn(*values)``, which returns zero or more output tuples in the
    column order of ``schema``, as one ``mapInArrow`` stage. ``schema``
    is the stage's only declaration of its output: each Arrow batch is
    built straight from it."""
    struct, arrow = _schemas(schema)

    def _map(batches):
        import pyarrow as pa
        for batch in batches:
            out = [row for vals in zip(*(c.to_pylist()
                                         for c in batch.columns))
                   for row in fn(*vals)]
            cols_out = zip(*out) if out else [()] * len(arrow)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, f.type) for c, f in zip(cols_out, arrow)],
                schema=arrow)

    return df.select(*cols).mapInArrow(_map, struct)


def map_groups(df: DataFrame, keys: Sequence[str], cols: Sequence[str],
               schema: str, fn: Callable[..., Iterable[tuple]]
               ) -> DataFrame:
    """``map_rows`` over the groups of ``df`` by ``keys``: each group
    calls ``fn(*key_values, *col_lists)`` once, with one list per column
    of ``cols``, its rows sorted by ``cols`` in order (so the first
    column is the sort key)."""
    grouped = df.groupBy(*keys).agg(
        F.array_sort(F.collect_list(F.struct(*cols))).alias("_g"))
    return map_rows(grouped, [*keys, *(f"_g.{c}" for c in cols)],
                    schema, fn)
