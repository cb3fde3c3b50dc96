"""The shared Arrow row loop (ocrd_segment_spark/pystage.py): one
``mapInArrow`` boundary and one parallelism floor for every
one-row-in/one-row-out Python stage, and the per-task hook every
worker-side loop calls first (the stat-gated zip cache invalidation,
the answer to pyarrow's pandas probe and the import-heap freeze)."""

import ast
import datetime
import gc
import importlib
import json
import os
import pathlib
import subprocess
import sys
import types
import weakref
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F, types as T

import ocrd_segment_spark
from ocrd_segment_spark import pystage
from ocrd_segment_spark.plans import audit
from ocrd_segment_spark.pystage import (
    ZIP_GATE_MARKER, install_zip_cache_gate, map_rows, prepare_worker_task,
)
from ocrd_segment_spark.sources.warc import decode_warc_gz

PKG = pathlib.Path(ocrd_segment_spark.__file__).parent
JOBS = PKG.parent / "jobs"


def _calls(attr: str) -> set[tuple[str, str]]:
    """(module, innermost enclosing function or ``<module>``) of every
    ``.<attr>(`` call in the package and the jobs."""
    sites = set()

    def visit(node, rel, scope):
        for child in ast.iter_child_nodes(node):
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == attr
            ):
                sites.add((rel, scope))
            inner = child.name if isinstance(child, ast.FunctionDef) else scope
            visit(child, rel, inner)

    for path in sorted([*PKG.rglob("*.py"), *JOBS.glob("*.py")]):
        rel = path.relative_to(PKG.parent).as_posix()
        visit(ast.parse(path.read_text()), rel, "<module>")
    return sites


def test_map_in_arrow_only_in_the_shared_loops():
    """``.mapInArrow(`` is called only by pystage.map_rows and by the
    one many-rows-per-input stage (warc_pages_bytes), no
    ``.mapInPandas(`` call is left, and no module reaches for the
    retired private floor helper."""
    for path in PKG.rglob("*.py"):
        assert "_cap_python_tasks" not in path.read_text(), path
    assert _calls("mapInArrow") == {
        ("ocrd_segment_spark/pystage.py", "map_rows"),
        ("ocrd_segment_spark/sources/warc.py", "warc_pages_bytes"),
    }
    assert _calls("mapInPandas") == set()


def _first_call(fn: ast.FunctionDef) -> str | None:
    """Name of the function the first statement of ``fn`` calls, past
    any ``nonlocal`` declaration."""
    stmt = next(s for s in fn.body if not isinstance(s, ast.Nonlocal))
    call = stmt.value if isinstance(stmt, ast.Expr) else None
    if isinstance(call, ast.Call) and isinstance(call.func, ast.Name):
        return call.func.id
    return None


def test_worker_loops_install_the_zip_gate_first():
    """The worker-side loops on the extract and corpus paths each call
    prepare_worker_task as their first statement, so every task of a
    reused worker skips the per-task zip directory re-reads and the
    daemon's per-task full collection skips the frozen imports."""
    loops = {
        ("pystage.py", "map_rows", "batches"),
        ("sources/warc.py", "warc_pages_bytes", "gen"),
        ("operators/textstats.py", "with_lm_bits", "_bits"),
        ("operators/textstats.py", "with_compression_cols", "_ratio"),
    }
    found = set()
    for rel, outer, inner in loops:
        tree = ast.parse((PKG / rel).read_text())
        for fn in ast.walk(tree):
            if isinstance(fn, ast.FunctionDef) and fn.name == outer:
                for sub in ast.walk(fn):
                    if (
                        isinstance(sub, ast.FunctionDef)
                        and sub.name == inner
                        and _first_call(sub) == "prepare_worker_task"
                    ):
                        found.add((rel, outer, inner))
    assert found == loops


@pytest.fixture
def stock_invalidate(monkeypatch):
    """``zipimporter.invalidate_caches`` as CPython ships it, for the
    test; the process's own method is put back after it."""
    cls = zipimport.zipimporter
    current = cls.invalidate_caches
    stock = getattr(current, "__wrapped__", current)
    monkeypatch.setattr(cls, "invalidate_caches", stock)
    return stock


@pytest.fixture
def zipped_pkg(tmp_path, monkeypatch, stock_invalidate):
    """A package in a temp zip on sys.path, imported, with every
    directory read of the archive counted from the import on. Yields
    (name, archive path, write(*modules), reads)."""
    name = "zgate_pkg"
    archive = str(tmp_path / f"{name}.zip")

    def write(*modules):
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr(f"{name}/__init__.py", "")
            for m in modules:
                z.writestr(f"{name}/{m}.py", f"NAME = {m!r}\n")

    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    write("a")
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module(f"{name}.a").NAME == "a"
    del reads[:]
    yield name, archive, write, reads
    for mod in [m for m in sys.modules if m.split(".")[0] == name]:
        del sys.modules[mod]
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(archive, None)


def _importers(archive):
    return [
        f for k, f in sys.path_importer_cache.items()
        if k.startswith(archive) and isinstance(f, zipimport.zipimporter)
    ]


lazy_zip_invalidation = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimport invalidation is lazy from CPython 3.13; no gate",
)


@lazy_zip_invalidation
def test_zip_gate_skips_rereads_of_an_unchanged_archive(zipped_pkg):
    _name, archive, _write, reads = zipped_pkg
    # the archive root and the package directory: two importers
    assert len(_importers(archive)) == 2
    importlib.invalidate_caches()
    assert len(reads) == 2  # stock: every importer re-reads
    install_zip_cache_gate()
    del reads[:]
    for _ in range(5):
        importlib.invalidate_caches()
    # the first gated call stamps the archive with one read
    assert len(reads) == 1
    shared = zipimport._zip_directory_cache[archive]
    assert all(f._files is shared for f in _importers(archive))


@lazy_zip_invalidation
def test_zip_gate_rereads_a_rewritten_archive_once(zipped_pkg):
    name, archive, write, reads = zipped_pkg
    install_zip_cache_gate()
    importlib.invalidate_caches()
    del reads[:]
    write("a", "b")
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert importlib.import_module(f"{name}.b").NAME == "b"
    shared = zipimport._zip_directory_cache[archive]
    assert f"{name}/b.py" in shared
    assert all(f._files is shared for f in _importers(archive))


@lazy_zip_invalidation
def test_zip_gate_treats_a_deleted_archive_as_stock(zipped_pkg):
    """A missing archive takes the stock path: each importer tries a
    read, ends with an empty directory, the cache entry goes, and a
    module not yet imported cannot be found. Restoring the archive
    re-reads it."""
    name, archive, write, reads = zipped_pkg
    install_zip_cache_gate()
    importlib.invalidate_caches()
    del reads[:]
    pathlib.Path(archive).unlink()
    importlib.invalidate_caches()
    assert len(reads) == 2
    assert all(f._files == {} for f in _importers(archive))
    assert archive not in zipimport._zip_directory_cache
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module(f"{name}.b")
    write("a", "b")
    del reads[:]
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert importlib.import_module(f"{name}.b").NAME == "b"


@lazy_zip_invalidation
def test_zip_gate_installs_once(stock_invalidate):
    cls = zipimport.zipimporter
    install_zip_cache_gate()
    gated = cls.invalidate_caches
    install_zip_cache_gate()
    assert cls.invalidate_caches is gated
    assert getattr(gated, ZIP_GATE_MARKER)
    assert gated.__wrapped__ is stock_invalidate


def test_zip_gate_is_a_no_op_from_python_3_13(stock_invalidate, monkeypatch):
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    install_zip_cache_gate()
    assert zipimport.zipimporter.invalidate_caches is stock_invalidate


@lazy_zip_invalidation
def test_map_rows_installs_the_zip_gate_in_its_worker(spark):
    """Each map_rows task finds the gate installed in its worker. The
    probe uninstalls it after reporting, so in the second stage a
    worker reused from the first reports True only if map_rows
    installed the gate again."""

    def probe(_):
        import zipimport

        cls = zipimport.zipimporter
        gated = bool(getattr(cls.invalidate_caches, ZIP_GATE_MARKER, False))
        if gated:
            cls.invalidate_caches = cls.invalidate_caches.__wrapped__
        return (gated,)

    df = spark.range(16, numPartitions=16)
    for _stage in range(2):
        out = map_rows(
            df, ("id",), ("id",), probe,
            [T.StructField("gated", T.BooleanType())],
        )
        assert [r["gated"] for r in out.collect()] == [True] * 16


@pytest.fixture
def heap_freeze(monkeypatch, stock_invalidate):
    """prepare_worker_task as a fresh worker meets it: nothing frozen
    yet, every gc.freeze() counted. The test process's heap is
    unfrozen and its zip gate taken out after the test."""
    monkeypatch.setattr(pystage, "_frozen_at", 0)
    freezes = []
    stock = gc.freeze

    def counting_freeze():
        freezes.append(len(sys.modules))
        stock()

    monkeypatch.setattr(gc, "freeze", counting_freeze)
    yield freezes
    gc.unfreeze()


def test_worker_hook_refreezes_once_per_late_import(heap_freeze, monkeypatch):
    prepare_worker_task()
    assert len(heap_freeze) == 1
    late = types.ModuleType("late_import_probe")
    monkeypatch.setitem(sys.modules, late.__name__, late)
    for _ in range(3):
        prepare_worker_task()
    assert len(heap_freeze) == 2


def test_worker_hook_without_a_new_module_keeps_the_freeze(heap_freeze):
    prepare_worker_task()
    frozen = gc.get_freeze_count()
    assert frozen > 0
    garbage = [[i] for i in range(1000)]  # tracked objects made after it
    prepare_worker_task()
    assert gc.get_freeze_count() == frozen
    assert len(heap_freeze) == 1
    del garbage


def test_worker_hook_leaves_later_cycles_collectable(heap_freeze):
    prepare_worker_task()

    class Node:
        pass

    node = Node()
    node.self = node
    ref = weakref.ref(node)
    del node
    gc.collect()
    assert ref() is None


# Run in a fresh interpreter: argv[1] "hook" calls prepare_worker_task
# first, "stock" does not. Prints what the test compares as one JSON line.
_RECORD_BATCH_SCRIPT = """
import json, sys
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type
from ocrd_segment_spark import pystage

hook = sys.argv[1] == "hook"
finders = list(sys.meta_path)
if hook:
    pystage.prepare_worker_task()
    pystage._NoPandas = None  # a second probe would fail on it
    pystage.prepare_worker_task()
span = T.StructType([
    T.StructField("start", T.LongType(), False),
    T.StructField("label", T.StringType()),
])
spark_types = [
    T.StringType(), T.BinaryType(), T.LongType(), T.IntegerType(),
    T.DoubleType(), T.BooleanType(), T.ArrayType(span), span,
]
rows = [
    ("a", b"\\x00\\xff", 2**40, 7, 0.25, True, [(0, "s"), (1, None)], (3, "t")),
    (None,) * 8,
    ("", b"", -1, 0, -0.0, False, [], (0, None)),
]
names = [f"c{i}" for i in range(len(spark_types))]
batch = pystage.record_batch(
    [], rows, [to_arrow_type(t) for t in spark_types], names
)
out = {
    "pandas_loaded": "pandas" in sys.modules,
    "meta_path_kept": sys.meta_path == finders,
    "rows": repr(batch.to_pylist()),
}
import pandas as pd
import pyarrow as pa

frame = batch.to_pandas()
out["to_pandas"] = repr(frame) + repr(frame.dtypes)
arr = pa.Array.from_pandas(pd.Series([1.0, None]))
out["from_pandas"] = repr((str(arr.type), arr.to_pylist()))
print(json.dumps(out))
"""


def _record_batch_run(mode: str) -> dict:
    proc = subprocess.run(
        [sys.executable, "-c", _RECORD_BATCH_SCRIPT, mode],
        cwd=PKG.parent, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    return json.loads(proc.stdout.splitlines()[-1])


def test_worker_hook_keeps_pandas_out_of_record_batch():
    """In a fresh interpreter, record_batch after prepare_worker_task
    builds every Arrow type map_rows emits without importing pandas,
    and leaves sys.meta_path as it found it; the second call only tests
    the flag. pandas imported afterwards converts to and from Arrow as
    in an interpreter that never ran the hook, where the same
    record_batch does import pandas."""
    hooked, stock = _record_batch_run("hook"), _record_batch_run("stock")
    assert hooked["pandas_loaded"] is False
    assert hooked["meta_path_kept"] is True
    assert stock["pandas_loaded"] is True
    for key in ("rows", "to_pandas", "from_pandas"):
        assert hooked[key] == stock[key], key


def test_worker_hook_leaves_an_imported_pandas_alone(heap_freeze, monkeypatch):
    """Where pandas is already imported (a pandas UDF's worker, this
    process) the hook installs no finder."""
    assert "pandas" in sys.modules
    monkeypatch.setattr(pystage, "_pandas_probed", False)
    monkeypatch.setattr(pystage, "_NoPandas", None)  # installing would fail
    finders = list(sys.meta_path)
    prepare_worker_task()
    assert sys.meta_path == finders
    assert pystage._pandas_probed


def test_map_rows_workers_keep_one_freeze(spark):
    """A second map_rows stage's row function finds its worker's heap
    frozen, and a worker that ran the first stage keeps one freeze
    count over all its tasks: nothing is imported after the first
    stage, so no task re-freezes and the frozen heap stays bounded."""

    def probe(_):
        import gc
        import os

        return os.getpid(), gc.get_freeze_count()

    fields = [
        T.StructField("pid", T.LongType()),
        T.StructField("frozen", T.LongType()),
    ]
    df = spark.range(20, numPartitions=20)
    warm = {r["pid"] for r in map_rows(df, (), ("id",), probe, fields).collect()}
    rows = map_rows(df, (), ("id",), probe, fields).collect()
    assert len(rows) == 20 and all(r["frozen"] > 0 for r in rows)
    counts: dict[int, set[int]] = {}
    for r in rows:
        if r["pid"] in warm:
            counts.setdefault(r["pid"], set()).add(r["frozen"])
    assert counts and all(len(c) == 1 for c in counts.values()), counts


@pytest.fixture
def own_worker_pool(spark):
    """The session, with the Python stages planned inside the test run
    by a worker pool of their own. Spark keys its Python worker daemons
    by the functions' environment, so one extra entry starts workers
    that no earlier test's pandas stage has loaded pandas into."""
    env = spark.sparkContext.environment
    env["PYSTAGE_TEST_POOL"] = "own"
    yield spark
    del env["PYSTAGE_TEST_POOL"]


def test_map_rows_workers_load_no_pandas_yet_run_pandas_stages(own_worker_pool):
    """Two map_rows stages see no pandas in their workers. Afterwards,
    on workers that ran them, a pandas_udf over a double column with
    nulls and a grouped applyInPandas returning a timestamp give their
    values: pyarrow's pandas probe, answered "absent" by the hook,
    finds pandas once a pandas stage needs it."""
    spark = own_worker_pool

    def probe(_):
        import os
        import sys

        return os.getpid(), "pandas" in sys.modules

    fields = [
        T.StructField("pid", T.LongType()),
        T.StructField("pandas", T.BooleanType()),
    ]
    df = spark.range(16, numPartitions=16)
    hooked = set()
    for _stage in range(2):
        rows = map_rows(df, (), ("id",), probe, fields).collect()
        assert [r["pandas"] for r in rows] == [False] * 16
        hooked |= {r["pid"] for r in rows}

    @F.pandas_udf("double")
    def doubled(x: pd.Series) -> pd.Series:
        return x * 2

    @F.pandas_udf("long")
    def pid(x: pd.Series) -> pd.Series:
        return pd.Series([os.getpid()] * len(x))

    xs = spark.createDataFrame(
        [(i, None if i % 3 == 0 else i / 4) for i in range(16)],
        "k long, x double",
    ).repartition(8)
    rows = xs.select(
        "k", doubled("x").alias("y"), pid("x").alias("pid")
    ).collect()
    assert {r["k"]: r["y"] for r in rows} == {
        i: None if i % 3 == 0 else i / 2 for i in range(16)
    }
    pandas_pids = {r["pid"] for r in rows}

    def stamp(g: pd.DataFrame) -> pd.DataFrame:
        seconds = pd.Timedelta(seconds=int(g["k"].sum()))
        return pd.DataFrame({
            "g": [g["g"].iloc[0]],
            "ts": [pd.Timestamp("2026-01-01") + seconds],
            "pid": [os.getpid()],
        })

    grouped = xs.withColumn("g", F.col("k") % 4).groupBy("g").applyInPandas(
        stamp, "g long, ts timestamp, pid long"
    ).collect()
    assert {r["g"]: r["ts"] for r in grouped} == {
        g: datetime.datetime(2026, 1, 1) + datetime.timedelta(
            seconds=sum(range(g, 16, 4)))
        for g in range(4)
    }
    pandas_pids |= {r["pid"] for r in grouped}
    assert pandas_pids & hooked, (pandas_pids, hooked)


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


def test_map_rows_builds_nested_binary_and_numpy_values(spark):
    """Each out field is one pa.array of its Arrow type: an
    array<struct> and a struct built from tuples, a binary field, and
    numpy scalars into int, double and bool fields come out as the
    declared Spark values, None included."""
    import numpy as np

    span = T.StructType([
        T.StructField("start", T.LongType(), False),
        T.StructField("label", T.StringType()),
    ])
    df = spark.createDataFrame(pd.DataFrame({"x": [0, 1, 2]}))

    def row(x):
        if x == 0:
            return None, None, None, None, None, None
        spans = [(i, None if i else f"s{x}") for i in range(x)]
        return (
            spans, (x, "top"), bytes([x, 0, 255]),
            np.int64(x * 7), np.float64(x / 8), np.bool_(x > 1),
        )

    out = map_rows(
        df, ("x",), ("x",), row,
        [
            T.StructField("spans", T.ArrayType(span)),
            T.StructField("top", span),
            T.StructField("blob", T.BinaryType()),
            T.StructField("i", T.IntegerType()),
            T.StructField("d", T.DoubleType()),
            T.StructField("b", T.BooleanType()),
        ],
    )
    rows = {r["x"]: r.asDict(recursive=True) for r in out.collect()}
    assert rows[0] == dict(
        x=0, spans=None, top=None, blob=None, i=None, d=None, b=None
    )
    assert rows[2] == dict(
        x=2,
        spans=[dict(start=0, label="s2"), dict(start=1, label=None)],
        top=dict(start=2, label="top"),
        blob=bytearray(b"\x02\x00\xff"),
        i=14, d=0.25, b=True,
    )
    assert rows[1]["spans"] == [dict(start=0, label="s1")]
    assert (rows[1]["i"], rows[1]["b"]) == (7, False)


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
