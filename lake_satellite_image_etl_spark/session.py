"""SparkSession factory.

Mirrors the runtime confs the reference enables (Arrow:
``/root/reference/template.yml:97``) and adds the ones a 100 TB
deployment needs from day one: AQE (runtime re-planning, skew-join
splitting, partition coalescing) and a UTC session timezone so results
are reproducible across clusters and comparable against the DuckDB
oracle (DuckDB timestamps are UTC-naive).

``shuffle_partitions`` defaults to the local core count; on a real
cluster set it (or let AQE coalesce) to ~2-3× total executor cores.

Per-task cost of a Python worker. PySpark 4.1.2 calls
``importlib.invalidate_caches()`` at the start of every task it hands a
reused Python worker (``pyspark/worker_util.py:144``, after it adds the
job's ``--py-files``). Before Python 3.12, ``zipimporter.invalidate_caches``
re-reads the whole zip directory of its archive on every call. A
worker's ``sys.path`` holds about 16 zip importers: 12 for
``pyspark.zip`` (its root and 11 package directories inside it), 2 for
the py4j zip and 2 for ``spark-core_2.13-4.1.2.jar`` (5,359 entries).
Together they cost about 83 ms of CPU per task; summed over a small
``image_etl`` batch's tasks that is more than its kernels' CPU. Importing this module therefore installs
``_reread_changed_zips_only`` (below), which skips the re-read of an
archive whose mtime and size have not changed. Every process that
imports the package gets it, Python workers included, as long as what
they unpickle imports the package. So a callable the package ships to
workers must be a module-level function, or a ``functools.partial`` of
one: cloudpickle sends those by reference, and loading them imports
their module. A nested function is sent by value and imports only the
names its body uses; over stdlib and numpy names alone it imports
nothing of the package (see ``sinks.write_binary_artifacts``).

Generated-code cache. Catalyst compiles each whole-stage and
expression plan to a Janino class and keeps the compiled classes in a
per-JVM cache keyed by their source. A cache smaller than the working
set costs twice: a warm query pays about 4-5 ms of Janino time for each
class it compiles again, and the JIT then compiles the fresh class's
hot methods again. Measured working sets: one ``corpus_dedup``
benchmark op compiles 96 classes cold, and with Spark's default of 100
entries every warm op recompiled 25-36 of them; a cold pass over all
225 registry entries at sf0.001 compiles about 2,750. The cache is
split into segments that each evict their least recently used class,
so a working set near its size still thrashes. ``CODEGEN_CACHE_ENTRIES``
is the smallest power of two that holds the registry's set (the
measurements are beside it).
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

from pyspark.sql import SparkSession

#: local core count (``$SPARK_GRAFT_CPUS``, 32 when unset): the default
#: ``local[N]`` master and shuffle-partition count
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

#: compiled classes Spark's generated-code cache keeps (static conf
#: ``spark.sql.codegen.cache.maxEntries``), measured with two passes over
#: every registry entry at sf0.001 on local[2]. Warm-pass recompiles:
#: 3,688-3,692 at 100, 2,483 at 2,048, 38-109 at 4,096, 93 at 8,192.
#: Warm pass 44-46 s at 100, 35-37 s at 4,096. Keeping the ~2,750
#: classes costs about 20 MB of metaspace (234 against 213 MB) and
#: 70-130 MB of heap after a full GC; the JVM's peak RSS read 2.1-3.0 GB
#: on both sides, set by the 2 GB heap. A corpus_dedup op's ~96 classes
#: leave metaspace where it was (163 MB after 8 ops on both sides).
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(
    app_name: str = "lake-satellite-image-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession."""
    master = master or f"local[{DEFAULT_CPUS}]"
    shuffle_partitions = shuffle_partitions or int(DEFAULT_CPUS)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Runtime re-planning: partition coalescing, skew-join splitting,
        # broadcast conversion based on observed sizes.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow batches for every pandas UDF / toPandas boundary
        # (the reference enables the same flag, template.yml:97).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Split-size target for file scans: Spark caps a split at
        # max(openCostInBytes, input bytes / this number), so an input
        # of more than 4 MB per core is cut into about this many
        # splits or more. It cannot split a smaller input: under
        # spark.sql.files.openCostInBytes (4 MB) per core a file stays
        # one split, and a parquet file with one row group feeds one
        # task whatever the split size. At real scale splits already
        # exceed cores and it is a no-op.
        .config("spark.sql.files.minPartitionNum", str(shuffle_partitions))
        # InferFiltersFromGenerate copies the generator's child
        # expression into a `size(...) > 0` Filter — for the HOF-heavy
        # arrays this engine explodes (shingle+md5 chains, band
        # transforms) that re-evaluates the WHOLE chain once more per
        # row, measured 2.4 s -> 0.65 s on the shingle index stage
        # (r8). The inferred filter only skips empty arrays, which
        # plain explode skips anyway — semantics identical, the rule
        # is pure overhead for expensive generators (cf. SPARK-36715).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer."
            "InferFiltersFromGenerate",
        )
        # Static conf: only a new session can change it.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # Deterministic, oracle-comparable timestamps.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def _reread_changed_zips_only() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when its ``(st_mtime_ns, st_size)`` differs from the one the same
    importer saw at its last re-read, or cannot be read. Imports resolve
    as before; only the re-read of an archive whose bytes cannot have
    changed is skipped. An importer's first call always re-reads.
    Idempotent, and a no-op from Python 3.12, which re-reads lazily."""
    if sys.version_info >= (3, 12):
        return
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "_rereads_changed_only", False):
        return

    @functools.wraps(reread)
    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_archive_stamp", None):
            reread(self)
            self._archive_stamp = stamp

    invalidate_caches._rereads_changed_only = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_reread_changed_zips_only()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
