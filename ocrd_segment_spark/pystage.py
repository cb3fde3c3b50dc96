"""The Arrow boundary of every one-row-in/one-row-out Python stage.

The per-page processors (extraction kernel, langid, charset decode,
the WARC/PDF codecs, the media sniffers) are plain row functions.
:func:`map_rows` runs one of them as a single narrow ``mapInPandas``
pass, and :func:`parallelism_floor` is the task-count floor every
Python stage applies first. A stage that emits many rows per input
(``sources/warc.warc_pages_bytes``) keeps its own batch loop but uses
the same floor.
"""

from __future__ import annotations

from typing import Callable, Iterator, Sequence

from pyspark.sql import DataFrame, types as T

# pandas dtypes that carry a row function's None through as null (a
# plain list of ints with a None would infer a float or object column)
_PANDAS_DTYPES = {
    T.ByteType: "Int8",
    T.ShortType: "Int16",
    T.IntegerType: "Int32",
    T.LongType: "Int64",
    T.BooleanType: "boolean",
    T.FloatType: "float32",
    T.DoubleType: "float64",
}


def parallelism_floor(
    df: DataFrame, python_parallelism: int | None
) -> DataFrame:
    """At least ``python_parallelism`` partitions ahead of a Python
    stage: fewer are repartitioned up, a finer partitioning is left
    alone (task slots bound concurrency either way, and a repartition
    would shuffle the payload for nothing). ``None`` is a no-op. A
    streaming frame cannot report its partition count before the query
    starts, so it is always repartitioned."""
    if python_parallelism is None:
        return df
    if not df.isStreaming and df.rdd.getNumPartitions() >= python_parallelism:
        return df
    return df.repartition(python_parallelism)


def nullable(field: T.StructField) -> T.StructField:
    """``field`` nullable at every nested level (what a DDL string
    declares)."""

    def deep(dt: T.DataType) -> T.DataType:
        if isinstance(dt, T.StructType):
            return T.StructType([nullable(f) for f in dt.fields])
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(deep(dt.elementType))
        if isinstance(dt, T.MapType):
            return T.MapType(deep(dt.keyType), deep(dt.valueType))
        return dt

    return T.StructField(field.name, deep(field.dataType))


def map_rows(
    df: DataFrame,
    carry: Sequence[str],
    inputs: Sequence[str],
    fn: Callable[..., tuple],
    out_fields: Sequence[T.StructField],
    python_parallelism: int | None = None,
    *,
    nullable_carry: bool = False,
) -> DataFrame:
    """One ``mapInPandas`` pass of a row function.

    Only ``carry`` and ``inputs`` cross the Arrow boundary. Per row,
    ``fn(*input_values)`` returns one value per ``out_fields`` entry;
    the output is the ``carry`` columns unchanged, then ``out_fields``.
    Int, bool and double fields go through nullable pandas dtypes, so a
    ``None`` comes out as null of the declared type. Carried fields keep
    their input schema; ``nullable_carry`` declares them nullable at
    every level instead."""
    carry, inputs = list(carry), list(inputs)
    needed = list(dict.fromkeys(carry + inputs))
    src = df if set(needed) == set(df.columns) else df.select(*needed)
    carried = [src.schema[c] for c in carry]
    if nullable_carry:
        carried = [nullable(f) for f in carried]
    schema = T.StructType(carried + list(out_fields))
    names = [f.name for f in out_fields]
    dtypes = [_PANDAS_DTYPES.get(type(f.dataType)) for f in out_fields]

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            rows = [fn(*args) for args in zip(*(pdf[c].tolist() for c in inputs))]
            cols = list(zip(*rows)) if rows else [()] * len(names)
            out = {c: pdf[c] for c in carry}
            for name, dtype, col in zip(names, dtypes, cols):
                out[name] = pd.array(col, dtype=dtype) if dtype else list(col)
            yield pd.DataFrame(out, index=pdf.index)

    return parallelism_floor(src, python_parallelism).mapInPandas(batches, schema)
