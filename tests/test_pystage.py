"""The shared Arrow row loop (ocrd_segment_spark/pystage.py): one
``mapInPandas`` boundary and one parallelism floor for every
one-row-in/one-row-out Python stage."""

import ast
import pathlib

import pandas as pd
from pyspark.sql import functions as F, types as T

import ocrd_segment_spark
from ocrd_segment_spark.plans import audit
from ocrd_segment_spark.pystage import map_rows
from ocrd_segment_spark.sources.warc import decode_warc_gz

PKG = pathlib.Path(ocrd_segment_spark.__file__).parent


def test_map_in_pandas_only_in_the_shared_loop():
    """``.mapInPandas(`` is called only by pystage.map_rows and by the
    one many-rows-per-input stage (warc_pages_bytes), and no module
    reaches for the retired private floor helper."""
    sites = set()
    for path in sorted(PKG.rglob("*.py")):
        src = path.read_text()
        assert "_cap_python_tasks" not in src, path
        for fn in ast.walk(ast.parse(src)):
            if not isinstance(fn, ast.FunctionDef):
                continue
            for node in ast.walk(fn):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "mapInPandas"
                ):
                    sites.add((path.relative_to(PKG).as_posix(), fn.name))
    assert sites == {
        ("pystage.py", "map_rows"),
        ("sources/warc.py", "warc_pages_bytes"),
    }


def test_map_rows_none_is_typed_null(spark):
    """A row function's None in int, bool and double fields comes out
    as null of the declared type; carried columns pass unchanged."""
    df = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "b", "c"], "x": [1, 0, 2]})
    )

    def row(x):
        if x == 0:
            return None, None, None
        return x * 10, x > 1, x / 4

    out = map_rows(
        df, ("k",), ("x",), row,
        [
            T.StructField("i", T.IntegerType()),
            T.StructField("b", T.BooleanType()),
            T.StructField("d", T.DoubleType()),
        ],
    )
    assert [(f.name, f.dataType) for f in out.schema.fields] == [
        ("k", T.StringType()),
        ("i", T.IntegerType()),
        ("b", T.BooleanType()),
        ("d", T.DoubleType()),
    ]
    rows = {r["k"]: tuple(r)[1:] for r in out.collect()}
    assert rows == {
        "a": (10, False, 0.25),
        "b": (None, None, None),
        "c": (20, True, 0.5),
    }


def test_decode_warc_gz_keeps_a_finer_partitioning(spark):
    """``python_parallelism`` is a floor for the gzip member walk too:
    an input already split at least that finely is not shuffled, a
    coarser one is fanned out."""
    blobs = spark.range(8, numPartitions=4).select(
        F.col("id").alias("seg"), F.lit(b"").cast("binary").alias("data")
    )
    assert not audit.has_exchange(decode_warc_gz(blobs, python_parallelism=4))
    assert not audit.has_exchange(decode_warc_gz(blobs, python_parallelism=2))
    assert audit.has_exchange(decode_warc_gz(blobs, python_parallelism=8))
