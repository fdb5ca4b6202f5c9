"""Table IO: fixture readers and the source registry.

The engine's canonical storage is columnar parquet on a distributed
store — Catalyst gets predicate pushdown, column pruning, and partition
pruning for free (SURVEY.md §4). The reference instead pushed SQL
strings to Postgres (main.py:467-486) and a lazy builder to Earth
Engine (main.py:395-408); both collapse here into ``spark.read`` +
declarative ``filter``/``select``.

At 100 TB the layout matters more than the code: fact tables should be
written ``partitionBy(<date col>)`` (the reference's incremental unit is
capture date, main.py:45-46) so the daily 30-day-lookback scan prunes
~99% of files before reading a byte.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType

#: every fixture table the driver materializes (TESTDATA.md)
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table (columnar scan, pushdown-capable).

    ``events.parquet`` has shipped with two ``ts`` encodings over time:

    * nanosecond timestamps, which Spark's vectorized parquet reader
      rejects — read as raw int64 (``nanosAsLong``) and truncate to
      microseconds (the precision DuckDB keeps);
    * microsecond timestamps without a timezone, which Spark 4 reads
      as ``TIMESTAMP_NTZ`` — cast to ``TIMESTAMP``. The session TZ is
      pinned to UTC (session.py), so the cast is value-preserving and
      matches the DuckDB oracle's naive-UTC reading.

    Both normalizations happen HERE, once, so every downstream
    operator sees a plain ``TIMESTAMP`` column and ``unix_micros`` /
    ``unix_millis`` / window functions work unchanged.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")

    def _read(path: str) -> DataFrame:
        # memoize the RAW reader schema per (session, path stat):
        # parquet schema inference runs one Spark job per read, so
        # without the memo every query CONSTRUCTION paid a driver job
        # per table touched (r10; plan-only tooling and bench warm
        # passes re-read the same fixtures hundreds of times). An
        # explicit .schema() skips inference entirely — first read of
        # a path pays the one inference job, every later read is
        # jobless. This was the ORIGINAL instance of the per-path
        # memo pattern; it now delegates to the generalized
        # caching.memo_per_path (r13 review: two hand-rolled copies
        # of the same stat-key invalidation logic would drift), which
        # carries the ADVICE r10/r11 semantics — overwritten paths
        # re-infer, one live entry per path, session-scoped.
        from lake_satellite_image_etl_spark.caching import memo_per_path

        schema = memo_per_path(
            spark,
            "schema",
            path,
            lambda: spark.read.parquet(path).schema,
        )
        return spark.read.schema(schema).parquet(path)

    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    else:
        df = _read(path)
    # uniform policy: NO TIMESTAMP_NTZ leaves the reader. The µs
    # fixtures read as NTZ on Spark 4 for every timestamp column
    # (events.ts, o_orderdate, l_shipdate); epoch functions
    # (unix_millis/unix_micros, F.window internals) reject NTZ, so a
    # query written against one column class would break on another.
    # The UTC session TZ makes the cast value-exact vs the DuckDB
    # oracle's naive timestamps.
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def local_frame(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """Driver-side ``rows`` (tuples) as a frame with the DDL ``schema``.

    Built from a pyarrow table, so it plans as ``LocalTableScan`` and
    starts no Python worker task; ``createDataFrame(list)`` plans
    ``Scan ExistingRDD`` and runs one worker task per
    default-parallelism slice, whatever the row count.
    """
    struct = DataType.fromDDL(schema)
    return spark.createDataFrame(
        pa.Table.from_pylist(
            [dict(zip(struct.names, r)) for r in rows],
            schema=to_arrow_schema(struct),
        )
    )


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for the SQL API.

    Memoized per session (marker attribute on the session object, so
    it dies with the session): temp views are session-scoped and the
    readers are deterministic, so re-registering on every SQL-API call
    only re-runs 10 parquet-footer reads for nothing (VERDICT r5
    flagged the repeat cost). A different sf_dir re-registers — last
    writer wins, same as createOrReplaceTempView itself.

    CONTRACT (ADVICE r6): the fixture view names in ``TABLES`` are
    RESERVED in any session that runs this package's queries. The
    memo checks only that views with these names exist — a caller
    that re-points one of them at its own DataFrame via
    createOrReplaceTempView will have that foreign view served to
    SQL-API queries until the session ends or sf_dir changes. Bind
    your own data under different names, or call
    ``spark.catalog.dropTempView(name)`` first to force
    re-registration here.
    """
    if getattr(spark, "_lse_registered_sf_dir", None) == sf_dir and all(
        spark.catalog.tableExists(name) for name in TABLES
    ):
        # the marker alone isn't proof — a caller may have dropped or
        # replaced a view since; verify the catalog actually holds them
        return
    for name in TABLES:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)
    spark._lse_registered_sf_dir = sf_dir


def read_jdbc(
    spark: SparkSession,
    url: str,
    table_or_query: str,
    *,
    is_query: bool = False,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    **options: str,
) -> DataFrame:
    """JDBC scan (S1/S2 in SURVEY.md §2.1; reference: main.py:467-486).

    Unlike the reference's single ``pd.read_sql`` into driver memory,
    this is a distributed scan: with ``partition_column`` bounds Spark
    issues ``num_partitions`` parallel range queries. Catalyst pushes
    filters/projections into the remote SQL exactly as the reference
    hand-authored them.
    """
    reader = spark.read.format("jdbc").option("url", url)
    reader = reader.option("query" if is_query else "dbtable", table_or_query)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 32))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def read_binary_files(spark: SparkSession, path: str, glob: str = "*") -> DataFrame:
    """Binary-file source (S4 analog): path, mtime, length, content bytes.

    The multimodal scan primitive — each row is one blob; downstream
    kernels run as Arrow-batched pandas UDFs over ``content``.
    """
    return (
        spark.read.format("binaryFile").option("pathGlobFilter", glob).load(path)
    )
