"""The engine's one Python boundary.

``map_arrays`` is the Column form: one scalar Arrow UDF whose function
sees each Arrow batch as numpy arrays (the transform kernels, the PIP
exact test, text normalization). ``map_rows`` runs a plain Python
function over each row as one ``mapInArrow`` stage; ``map_groups`` is
the per-group form: each group collapses to one row
(``array_sort(collect_list(struct(...)))``, a hash aggregate with
map-side partial aggregation) that ``map_rows`` then maps. Every form
declares its output once, as a DDL string parsed once per process.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


@functools.cache
def _types(ddl: str):
    """(Spark type, Arrow type) of a DDL string, parsed once per
    process."""
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import _parse_datatype_string
    dt = _parse_datatype_string(ddl)
    return dt, to_arrow_type(dt)


def map_arrays(schema: str, fn: Callable, *cols: Column) -> Column:
    """``fn`` over ``cols`` as one scalar Arrow UDF. ``fn`` gets each
    Arrow batch as one numpy array per column (a NULL number arrives as
    NaN, a NULL string as None) and returns one array per field of a
    ``struct<...>`` ``schema``, or one array for any other type (NaN
    stays NaN, None becomes NULL)."""
    dt, arrow = _types(schema)
    fields = list(arrow) if isinstance(dt, StructType) else None

    def _batch(*arrays):
        import pyarrow as pa
        out = fn(*(a.to_numpy(zero_copy_only=False) for a in arrays))
        if fields is None:
            return pa.array(out, arrow)
        return pa.StructArray.from_arrays(
            [pa.array(o, f.type) for o, f in zip(out, fields)],
            fields=fields)

    return F.arrow_udf(_batch, dt)(*cols)


def map_rows(df: DataFrame, cols: Sequence[str | Column], schema: str,
             fn: Callable[..., Iterable[tuple]]) -> DataFrame:
    """Map each row of ``df[cols]`` through the plain Python function
    ``fn(*values)``, which returns zero or more output tuples in the
    column order of ``schema``, as one ``mapInArrow`` stage. ``schema``
    is the stage's only declaration of its output: each Arrow batch is
    built straight from it."""
    struct, arrow = _types(schema)

    def _map(batches):
        import pyarrow as pa
        out_schema = pa.schema(arrow)
        for batch in batches:
            out = [row for vals in zip(*(c.to_pylist()
                                         for c in batch.columns))
                   for row in fn(*vals)]
            cols_out = zip(*out) if out else [()] * len(arrow)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, f.type) for c, f in zip(cols_out, arrow)],
                schema=out_schema)

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
