"""The Arrow boundary of every one-row-in/one-row-out Python stage.

The per-page processors (extraction kernel, langid, charset decode,
the WARC/PDF codecs, the media sniffers) are plain row functions.
:func:`map_rows` runs one of them as a single narrow ``mapInArrow``
pass, and :func:`parallelism_floor` is the task-count floor every
Python stage applies first. A stage that emits many rows per input
(``sources/warc.warc_pages_bytes``) keeps its own batch loop but uses
the same floor. Every worker-side loop starts with
:func:`prepare_worker_task`.

No pandas runs on this boundary, and none is loaded for it: pyarrow
imports pandas at the first ``pa.array`` over a Python list (its lazy
probe for pandas inputs), which would add about 31 MB to every worker,
so :func:`prepare_worker_task` answers that probe once per process.
"""

from __future__ import annotations

import functools
import gc
import importlib.abc
import os
import sys
import zipimport
from typing import Callable, Iterator, Sequence

from pyspark.sql import DataFrame, types as T
from pyspark.sql.pandas.types import to_arrow_type

# set on the gated zipimporter.invalidate_caches; the stock method
# stays reachable as its __wrapped__
ZIP_GATE_MARKER = "_stat_gated"


def install_zip_cache_gate() -> None:
    """Re-read a zip archive's directory on cache invalidation only
    when the archive changed.

    pyspark calls ``importlib.invalidate_caches()`` at the start of
    every task. Before CPython 3.13 that makes every ``zipimporter``
    re-read its archive's whole central directory: a Spark 4.1 worker
    holds 16 importers over ``pyspark.zip`` (1,328 entries), the
    spark-core jar and py4j, and spends 139-199 ms of CPU per task on
    them (4-vCPU VM). Gated, an archive is re-read only when its
    ``(st_mtime_ns, st_size)`` differs from the last read; importers of
    an unchanged archive re-point ``_files`` at the shared
    ``zipimport._zip_directory_cache`` entry, so every importer of one
    archive sees the same directory. A missing or unreadable archive
    takes the stock path. Idempotent; a no-op on 3.13+, whose
    invalidation is already lazy."""
    if sys.version_info >= (3, 13):
        return
    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, ZIP_GATE_MARKER, False):
        return
    stock = cls.invalidate_caches
    read_at: dict[str, tuple[int, int]] = {}  # archive -> stamp of last read

    @functools.wraps(stock)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return stock(self)
        # stamped before the read: a write racing the read re-reads
        # next time instead of caching the old directory as current
        stamp = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_at.get(self.archive) == stamp:
            self._files = files
        else:
            read_at[self.archive] = stamp
            stock(self)

    setattr(invalidate_caches, ZIP_GATE_MARKER, True)
    cls.invalidate_caches = invalidate_caches


class _NoPandas(importlib.abc.MetaPathFinder):
    """Refuses ``import pandas`` while it is on ``sys.meta_path``."""

    def find_spec(self, name, path=None, target=None):
        if name == "pandas":
            raise ModuleNotFoundError(f"No module named {name!r}", name=name)
        return None


def answer_pandas_probe() -> None:
    """Let pyarrow's lazy pandas probe find pandas absent, unless
    pandas is already imported. ``sys.meta_path`` is left as found.

    The first ``pa.array`` over a Python list asks pyarrow's pandas
    shim whether pandas is installed, and asking imports it (pyarrow
    16.1.0 ``array.pxi:52`` → ``pandas-shim.pxi:122``): about 31 MB of
    RSS and 0.2-0.4 CPU-s in a worker that never calls pandas. With
    pandas refused for one ``pa.array``, the shim records "tried,
    absent" for that ``raise_=False`` probe only. Every call that needs
    pandas (``to_pandas``, ``pandas_api.series``/``data_frame``)
    retries the import, so a pandas stage later run by the same reused
    worker converts as usual from its first Arrow batch to pandas on.
    Before that batch, pyarrow takes a pandas object for a plain
    sequence: a ``mapInPandas`` generator that yields before it reads
    any input fails on its first frame in such a worker.

    ``sys.modules["pandas"] = None`` would not do as the refusal:
    pyarrow's import then hands back ``None`` and the shim raises
    ``AttributeError``. Only the shim's probe is answered: a
    ``pa.array`` that infers its type (``pa.array([1])``) still imports
    pandas, so worker loops always pass ``type=``."""
    if "pandas" in sys.modules:
        return
    import pyarrow as pa

    refuse = _NoPandas()
    sys.meta_path.insert(0, refuse)
    try:
        pa.array([], type=pa.null())
    finally:
        sys.meta_path.remove(refuse)


_frozen_at = 0  # len(sys.modules) at this process's last gc.freeze()
_pandas_probed = False  # answer_pandas_probe already ran in this process


def prepare_worker_task() -> None:
    """The first statement of every worker-side loop: installs the zip
    cache gate, answers pyarrow's pandas probe once per process
    (:func:`answer_pandas_probe`), and freezes the heap whenever
    ``sys.modules`` has grown since the last freeze.

    Unanswered, the probe would import pandas at the first ``pa.array``
    of :func:`record_batch`: VmRSS 85.7 → 117.5 MB in a local worker,
    a quarter of it spent on a library the Arrow stages never call. The
    probe is answered before the freeze, so what it imports is frozen
    with the rest.

    pyspark's daemon runs ``gc.collect()`` after every task of a reused
    worker. A worker with pyspark.worker, pyarrow, pandas and this
    engine loaded tracked about 73k objects, and that full collection
    cost 16-21 ms of CPU per task (4-vCPU VM). Frozen objects are
    skipped by every collection. Checking ``sys.modules`` re-freezes a
    module imported late (pandas, when a pandas stage runs in the same
    worker) at the next task's start; objects a task creates after the
    freeze are collected as before."""
    global _frozen_at, _pandas_probed
    install_zip_cache_gate()
    if not _pandas_probed:
        answer_pandas_probe()
        _pandas_probed = True
    if len(sys.modules) > _frozen_at:
        gc.collect()
        gc.freeze()
        _frozen_at = len(sys.modules)


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


def record_batch(carried: list, rows: list[tuple], types: list, names: list[str]):
    """An Arrow record batch of the ``carried`` arrays as they are, then
    one column per ``types`` entry taken from ``rows`` (a tuple per
    output row) and built by a single ``pa.array`` of that type."""
    import pyarrow as pa

    cols = zip(*rows) if rows else [()] * len(types)
    return pa.RecordBatch.from_arrays(
        carried + [pa.array(col, type=t) for col, t in zip(cols, types)],
        names=names,
    )


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
    """One ``mapInArrow`` pass of a row function.

    Only ``carry`` and ``inputs`` cross the Arrow boundary. Per row,
    ``fn(*input_values)`` returns one value per ``out_fields`` entry;
    the output is the ``carry`` columns unchanged (the batch's own
    Arrow arrays), then ``out_fields``, each built by one ``pa.array``
    of its Arrow type, so a ``None`` comes out as null of the declared
    type and a struct may be a tuple. Carried fields keep their input
    schema; ``nullable_carry`` declares them nullable at every level
    instead."""
    carry, inputs = list(carry), list(inputs)
    needed = list(dict.fromkeys(carry + inputs))
    src = df if set(needed) == set(df.columns) else df.select(*needed)
    carried = [src.schema[c] for c in carry]
    if nullable_carry:
        carried = [nullable(f) for f in carried]
    schema = T.StructType(carried + list(out_fields))
    names = schema.names
    types = [to_arrow_type(f.dataType) for f in out_fields]

    def batches(it: Iterator) -> Iterator:
        prepare_worker_task()
        for batch in it:
            args = zip(*(batch.column(c).to_pylist() for c in inputs))
            yield record_batch(
                [batch.column(c) for c in carry],
                [fn(*a) for a in args], types, names,
            )

    return parallelism_floor(src, python_parallelism).mapInArrow(batches, schema)
