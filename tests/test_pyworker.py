"""The per-task zip re-read skip installed by ``session`` (see its module
docstring), and the callables the package ships to Python workers.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
task; before Python 3.12 each zip importer on ``sys.path`` re-reads its
archive's directory on that call. The hook makes a re-read happen only
when the archive's mtime or size changed, and every callable the
package ships must import the package, so the worker gets the hook."""

from __future__ import annotations

import functools
import importlib
import json
import os
import subprocess
import sys
import uuid
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.accumulators import INT_ACCUMULATOR_PARAM, Accumulator
from pyspark.cloudpickle import dumps
from pyspark.sql import types as T

from tests.conftest import REPO_ROOT

from lake_satellite_image_etl_spark import session, sinks
from lake_satellite_image_etl_spark.multimodal import raster as rk

eager_reread = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="zipimporter re-reads lazily from Python 3.12"
)


def _write_zip(path: str, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, text in members.items():
            z.writestr(name, text)


@pytest.fixture
def zipped_package(tmp_path):
    """A zip on ``sys.path`` holding package ``pkg`` with module ``pkg.a``,
    imported from it, so two zip importers (the archive's root and
    ``pkg/``) sit in ``sys.path_importer_cache``."""
    pkg = f"zipped_{uuid.uuid4().hex[:10]}"
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {f"{pkg}/__init__.py": "", f"{pkg}/a.py": "X = 1\n"})
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module(f"{pkg}.a").X == 1
        yield pkg, archive
    finally:
        sys.path.remove(archive)
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        for mod in [m for m in sys.modules if m == pkg or m.startswith(pkg + ".")]:
            del sys.modules[mod]
        zipimport._zip_directory_cache.pop(archive, None)


def _importers(archive: str) -> int:
    return sum(
        isinstance(f, zipimport.zipimporter) and f.archive == archive
        for f in sys.path_importer_cache.values()
    )


def _count_reads(monkeypatch) -> list[str]:
    """Record the archive of every ``zipimport._read_directory`` call."""
    reads: list[str] = []
    read = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return reads


@eager_reread
def test_unchanged_archive_is_not_reread(zipped_package, monkeypatch):
    _, archive = zipped_package
    assert _importers(archive) == 2
    importlib.invalidate_caches()  # an importer's first call re-reads
    reads = _count_reads(monkeypatch)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(archive) == 0


@eager_reread
def test_changed_archive_is_reread_once_per_importer(zipped_package, monkeypatch):
    pkg, archive = zipped_package
    importlib.invalidate_caches()
    reads = _count_reads(monkeypatch)
    _write_zip(archive, {f"{pkg}/__init__.py": "", f"{pkg}/a.py": "X = 1\n", f"{pkg}/b.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == _importers(archive) == 2
    assert importlib.import_module(f"{pkg}.b").Y == 2
    importlib.invalidate_caches()
    assert reads.count(archive) == 2


@eager_reread
def test_unreadable_archive_is_reread(zipped_package, monkeypatch):
    """A stamp that cannot be read falls through to the original method,
    which drops the archive's cached directory."""
    pkg, archive = zipped_package
    importlib.invalidate_caches()
    reads = _count_reads(monkeypatch)
    os.remove(archive)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 2 * 2
    assert archive not in zipimport._zip_directory_cache


@eager_reread
def test_installing_twice_wraps_once(monkeypatch):
    hooked = zipimport.zipimporter.invalidate_caches
    assert hooked._rereads_changed_only
    original = hooked.__wrapped__
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    session._reread_changed_zips_only()
    once = zipimport.zipimporter.invalidate_caches
    session._reread_changed_zips_only()
    assert zipimport.zipimporter.invalidate_caches is once
    assert once.__wrapped__ is original


def test_hook_changes_nothing_from_python_3_12(monkeypatch):
    current = zipimport.zipimporter.invalidate_caches
    original = getattr(current, "__wrapped__", current)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    session._reread_changed_zips_only()
    assert zipimport.zipimporter.invalidate_caches is original


# ---- the callables the package hands Spark ---------------------------------


class _CapturingFrame:
    """Stands in for a DataFrame: records each callable handed to
    ``foreachPartition``, ``mapInPandas`` or ``applyInPandas``."""

    def __init__(self):
        self.shipped = []
        self.sparkSession = self.sparkContext = self
        self.columns = ["url"]
        self.schema = T.StructType([T.StructField("url", T.StringType())])

    def select(self, *cols):
        return self

    groupBy = select

    def accumulator(self, value):
        return Accumulator(2**40, value, INT_ACCUMULATOR_PARAM)  # no live accumulator's id

    def foreachPartition(self, fn):
        self.shipped.append(fn)

    def mapInPandas(self, fn, schema):
        self.shipped.append(fn)

    applyInPandas = mapInPandas


_LOAD = """
import json, pickle, sys, zipimport
sys.path.insert(0, {root!r})
before = "lake_satellite_image_etl_spark" in sys.modules
pickle.loads(sys.stdin.buffer.read())
print(json.dumps({{
    "before": before,
    "imported": "lake_satellite_image_etl_spark" in sys.modules,
    "wrapped": getattr(zipimport.zipimporter.invalidate_caches, "_rereads_changed_only", False),
}}))
"""


def _load_in_fresh_python(fn) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", _LOAD.format(root=REPO_ROOT)],
        input=dumps(fn), capture_output=True, check=True, timeout=120,
    )
    return json.loads(out.stdout)


def _shipped_by_image_etl_calls(out_dir: str) -> dict[str, object]:
    """What the sinks and the raster kernels of a day batch ship."""
    frame = _CapturingFrame()
    sinks.write_binary_artifacts(frame, out_dir, "key", "data")
    sinks.write_dbapi_upsert(frame, lambda: None, "INSERT", ["k"])
    rk.fetch_remote_bands(None, frame)
    rk.stack_bands(frame)
    rk.clip_to_polygon(frame, {}.__getitem__)
    rk.thumbnail(frame)
    names = ["artifacts", "dbapi_upsert", "fetch", "stack", "clip", "thumbnail"]
    shipped = dict(zip(names, frame.shipped, strict=True))
    shipped["channel_means"] = rk.channel_means.func
    shipped["white_fraction"] = rk.white_fraction.func
    return shipped


@eager_reread
def test_shipped_callables_import_the_package(tmp_path):
    shipped = _shipped_by_image_etl_calls(str(tmp_path))
    assert type(shipped["artifacts"]) is type(shipped["dbapi_upsert"]) is functools.partial
    for name, fn in shipped.items():
        loaded = _load_in_fresh_python(fn)
        assert loaded == {"before": False, "imported": True, "wrapped": True}, name


def test_a_nested_function_imports_nothing_of_the_package():
    """The control: a closure over stdlib names only, like the sinks'
    old partition writers, loads without importing the package."""
    out_dir = "/nonexistent"

    def write(it):
        for row in it:
            os.path.join(out_dir, row)

    assert _load_in_fresh_python(write)["imported"] is False


# ---- inside Spark's Python workers -----------------------------------------


@eager_reread
def test_python_workers_run_with_the_hook(spark):
    """After a package kernel has run, a mapInPandas pass reports from
    each worker that the hook is in place and that a repeated
    ``invalidate_caches`` re-reads none of Spark's zips."""

    def report(batches):
        # A nested function is shipped by value; its use of ``rk`` (a
        # package module) makes loading it import the package, as the
        # package's own kernels do.
        assert rk.STACKED_SCHEMA is not None
        for _ in batches:
            pass
        hooked = getattr(zipimport.zipimporter.invalidate_caches, "_rereads_changed_only", False)
        importlib.invalidate_caches()  # an importer's first hooked call re-reads
        reads: list[str] = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda archive: reads.append(archive) or read(archive)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        importers = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        yield pd.DataFrame({"pid": [os.getpid()], "hooked": [hooked],
                            "zip_importers": [importers], "rereads": [len(reads)]})

    rows = [(eid, 8, 8, 3, bytes(3 * 8 * 8)) for eid in range(8)]
    stacked = spark.createDataFrame(rows, rk.STACKED_SCHEMA).repartition(4)
    clipped = rk.clip_to_polygon(stacked, lambda eid: [(1.0, 1.0), (6.0, 1.0), (3.0, 6.0)])
    assert clipped.count() == 8
    schema = T.StructType([
        T.StructField("pid", T.LongType()),
        T.StructField("hooked", T.BooleanType()),
        T.StructField("zip_importers", T.LongType()),
        T.StructField("rereads", T.LongType()),
    ])
    report = spark.range(0, 8, 1, 4).mapInPandas(report, schema).collect()
    assert len(report) == 4
    for r in report:
        assert r["hooked"], r
        assert r["zip_importers"] > 0, r  # pyspark.zip, py4j's zip and the spark-core jar
        assert r["rereads"] == 0, r
