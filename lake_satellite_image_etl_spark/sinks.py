"""Sinks (SURVEY.md §2.2 K1-K3): idempotent relational append and the
binary artifact store.

The reference commits one row per image inside the fan-out loop
(main.py:453-457, ON CONFLICT DO NOTHING) and uploads three artifacts
per image from a 5-thread pool (main.py:311-325). Distributed form:
ONE batched, restartable append of the PK-anti-joined delta (K1) —
a single write action, its row count read from an ``Observation`` on
that write, and no files left behind when it appends 0 rows — and
executor-side artifact writes via ``foreachPartition`` (K2) — the
thread pools disappear into partition parallelism.
"""

from __future__ import annotations

import functools
import os
import shutil
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from lake_satellite_image_etl_spark.operators.incremental import idempotent_append


def write_idempotent_append(
    spark: SparkSession, new_rows: DataFrame, target_path: str, pk: list[str]
) -> int:
    """K1: append only PK-new rows to a parquet target — the batch
    equivalent of INSERT … ON CONFLICT DO NOTHING (main.py:453-457).

    ONE action: the PK-anti-joined delta is written directly, and the
    number of rows it appends is read from an ``Observation`` attached
    right before the write, so it is counted in the write's own result
    stage (once, even if a task is retried). The target's PK columns
    are read with ``new_rows``' PK schema, which skips the
    schema-inference job; a target whose PK types differ fails the
    read, loudly. Column pruning keeps the key scan cheap at any
    target size (at 100 TB swap it for a partition-pruned read or a
    bloom index).

    Writing an empty frame still leaves an empty part file and its
    checksum. When the delta is empty, every file the write added is
    removed (the whole target, if it did not exist before), so a
    re-run leaves the target's listing as it found it. The cleanup
    diffs the listing, so it assumes no concurrent writer to the same
    target — as the anti-join already does.

    Returns the number of rows appended — 0 on a re-run with the same
    input, which is the idempotency contract (tests/test_incremental.py
    run-twice test).
    """
    existed = os.path.exists(target_path)
    if existed:
        before = _listing(target_path)
        existing = spark.read.schema(new_rows.select(*pk).schema).parquet(target_path)
    else:
        existing = new_rows.select(*pk).limit(0)
    delta = idempotent_append(new_rows, existing, pk)
    appended = Observation()
    delta.observe(appended, F.count(F.lit(1)).alias("n")).write.mode(
        "append"
    ).parquet(target_path)
    n = appended.get["n"]
    if n == 0:
        if not existed:
            shutil.rmtree(target_path)
        else:
            for rel in _listing(target_path) - before:
                os.remove(os.path.join(target_path, rel))
    return n


def _listing(path: str) -> set[str]:
    """Every file under ``path`` (hidden ones included), relative."""
    return {
        os.path.relpath(os.path.join(root, f), path)
        for root, _, files in os.walk(path)
        for f in files
    }


def write_binary_artifacts(df: DataFrame, out_dir: str, key_col: str, data_col: str) -> int:
    """K2: object-store artifact sink — one blob per row under its
    deterministic key (main.py:311-325 writes {key}.tif/{key}_thumbnail
    to S3 from a 5-thread pool).

    ``foreachPartition`` puts the writes on the executors: each
    partition is an independent uploader, so parallelism = partition
    count (repartition upstream to size it), and a task retry rewrites
    only its partition's keys — idempotent because keys are
    deterministic (K3). The local filesystem stands in for the object
    store; the boto3 ``put_object`` body is the only line that would
    change.

    Each blob lands ATOMICALLY (write to a task-unique tmp name, then
    ``os.replace`` onto the key): a killed task or concurrent reader
    can never observe a truncated blob, and a speculative duplicate
    task just re-replaces the same bytes. The tmp name carries a
    per-call uuid, not just the pid — concurrent task THREADS in one
    executor share a pid, and two speculative attempts on the same key
    must never interleave into one tmp file (ADVICE r3). The returned
    count comes
    from an accumulator incremented in the same pass — counting with a
    second action would re-execute the entire upstream lineage
    (ADVICE r2) and could disagree with what was written.

    The partition writer is a module-level function bound with
    ``functools.partial``, so the worker that runs it imports this
    package (see ``session``'s note on the per-task worker cost)."""
    os.makedirs(out_dir, exist_ok=True)
    rows = df.select(key_col, data_col)
    n_written = rows.sparkSession.sparkContext.accumulator(0)
    rows.foreachPartition(
        functools.partial(_write_partition, out_dir, key_col, data_col, n_written)
    )
    return n_written.value


def _write_partition(out_dir: str, key_col: str, data_col: str, n_written, it) -> None:
    """``write_binary_artifacts``' per-partition writer: each blob goes
    to a uuid tmp name, then ``os.replace`` onto its key."""
    for row in it:
        key = row[key_col]
        path = os.path.join(out_dir, key)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp.{uuid.uuid4().hex}"
        with open(tmp, "wb") as f:
            f.write(bytes(row[data_col]))
        os.replace(tmp, path)
        n_written.add(1)


def write_jdbc_upsert(
    df: DataFrame,
    url: str,
    table: str,
    pk: list[str],
    driver: str | None = None,
) -> int:
    """K1 deployable form against a live RDBMS (main.py:453-457
    ``INSERT … ON CONFLICT DO NOTHING``): distributed staging append +
    one server-side set-based ``MERGE``.

    Spark's JDBC sink streams the DataFrame into a session-unique
    staging table from the EXECUTORS (batched PreparedStatement
    inserts per partition — the distributed half); then a single
    ``MERGE INTO target USING staging … WHEN NOT MATCHED THEN
    INSERT`` runs inside the database (the transactional half —
    Derby's ANSI analog of ON CONFLICT DO NOTHING; on Postgres the
    same statement works verbatim from 15, or swap the one string for
    INSERT … ON CONFLICT). This staging+merge split is the canonical
    warehouse bulk-upsert: per-row upserts from tasks would hold row
    locks across the whole job, while the merge is one set-based
    statement the database can plan. Row-at-a-time engines with a
    Python DB-API driver can use ``write_dbapi_upsert`` below
    instead.

    Creates the target (empty) when absent. Returns the number of
    rows the MERGE inserted — 0 on a re-run with the same input
    (run-twice contract, tests/test_jdbc.py).
    """
    jvm = df.sparkSession._jvm
    if driver:
        jvm.java.lang.Class.forName(driver)

    def q(ident: str) -> str:
        return '"' + ident + '"'

    staging = f"stage_{uuid.uuid4().hex[:12]}"
    writer = df.write.format("jdbc").option("url", url).option("dbtable", staging)
    if driver:
        writer = writer.option("driver", driver)
    writer.mode("overwrite").save()

    # target create-if-absent: mode("ignore") no-ops when it exists
    tgt = df.limit(0).write.format("jdbc").option("url", url).option("dbtable", table)
    if driver:
        tgt = tgt.option("driver", driver)
    tgt.mode("ignore").save()

    cols = ", ".join(q(c) for c in df.columns)
    src_cols = ", ".join(f"s.{q(c)}" for c in df.columns)
    on = " AND ".join(f"t.{q(c)} = s.{q(c)}" for c in pk)
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        stmt = conn.createStatement()
        try:
            n = stmt.executeUpdate(
                f"MERGE INTO {table} t USING {staging} s ON {on} "
                f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({src_cols})"
            )
            stmt.executeUpdate(f"DROP TABLE {staging}")
        finally:
            stmt.close()
    finally:
        conn.close()
    return n


def write_dbapi_upsert(
    df: DataFrame,
    connect_fn,
    upsert_sql: str,
    cols: list[str],
    batch_size: int = 500,
) -> int:
    """K1 deployable form, row-batch flavor: ``foreachPartition``
    batched upserts through any Python DB-API connection factory —
    the exact executor-side loop a Postgres deployment runs with
    ``connect_fn=psycopg2.connect(...)`` and ``upsert_sql="INSERT …
    ON CONFLICT DO NOTHING"`` (main.py:453-457).

    Each partition opens ONE connection, executes ``executemany`` per
    ``batch_size`` rows, and commits once — parallelism = partition
    count, a task retry re-upserts only its partition (idempotent by
    the conflict clause). ``upsert_sql`` is dialect-owned by the
    caller (ON CONFLICT / INSERT OR IGNORE / MERGE) with one ``?`` or
    ``%s`` placeholder per column in ``cols`` order. Returns rows
    actually inserted, summed from cursor rowcounts via an
    accumulator in the same pass (a second counting action would
    re-run the lineage). The partition loop is a module-level function
    bound with ``functools.partial``, as in ``write_binary_artifacts``."""
    rows = df.select(*cols)
    n_inserted = rows.sparkSession.sparkContext.accumulator(0)
    rows.foreachPartition(
        functools.partial(_upsert_partition, connect_fn, upsert_sql, batch_size, n_inserted)
    )
    return n_inserted.value


def _upsert_partition(connect_fn, upsert_sql: str, batch_size: int, n_inserted, it) -> None:
    """``write_dbapi_upsert``' per-partition loop: one connection,
    ``executemany`` per ``batch_size`` rows, one commit."""
    conn = connect_fn()
    try:
        cur = conn.cursor()
        batch: list[tuple] = []

        def flush() -> None:
            if batch:
                cur.executemany(upsert_sql, batch)
                if cur.rowcount and cur.rowcount > 0:
                    n_inserted.add(cur.rowcount)
                batch.clear()

        for row in it:
            batch.append(tuple(row))
            if len(batch) >= batch_size:
                flush()
        flush()
        conn.commit()
    finally:
        conn.close()


def write_partitioned_parquet(
    df: DataFrame, out_path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """The 100 TB layout primitive: date/key-partitioned parquet so
    downstream incremental scans prune partitions (SURVEY.md §4 —
    the engine's analog of the reference's per-day incremental unit).
    """
    df.write.mode(mode).partitionBy(*partition_cols).parquet(out_path)
