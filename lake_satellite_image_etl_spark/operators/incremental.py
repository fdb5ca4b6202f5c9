"""Incremental / idempotent ingest operators (SURVEY.md §2.9 T1-T3, K1).

The reference's incremental contract: a daily run fetches only a
30-day lookback window (main.py:34,45-46), skips already-ingested
images via an anti-join-shaped membership test (main.py:468-473,415),
and upserts with ON CONFLICT DO NOTHING on PK (waterbody_id,
captured_ts) (main.py:106-107,453-457). Distributed form: partition-
pruned scan + left-anti join + dropDuplicates-on-PK append.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lake_satellite_image_etl_spark.io import read_table
from lake_satellite_image_etl_spark.registry import query


@query(
    "incremental_lookback",
    oracle="""
    WITH hi AS (SELECT max(ts) AS mx FROM events)
    SELECT e.event_id, e.user_id, e.ts, e.event_type
    FROM events e, hi
    WHERE e.ts >= hi.mx - INTERVAL 7 DAY
    """,
)
def incremental_lookback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: lookback-window scan, anchored at max(ts) so results are
    deterministic (the reference anchors at date.today(), main.py:45-46).

    On a date-partitioned 100 TB layout this predicate is *partition
    pruning*: the daily run opens ~7/N of the files and reads nothing
    else. The max(ts) anchor is a scalar subquery → broadcast scalar.
    """
    ev = read_table(spark, sf_dir, "events")
    hi = ev.agg(F.max("ts").alias("mx"))
    return (
        ev.crossJoin(F.broadcast(hi))
        .filter(F.col("ts") >= F.col("mx") - F.expr("INTERVAL 7 DAYS"))
        .select("event_id", "user_id", "ts", "event_type")
    )


@query(
    "incremental_new_keys",
    oracle="""
    WITH cutoff AS (SELECT min(ts) + INTERVAL 1 DAY AS c FROM events),
    seen AS (
        SELECT DISTINCT user_id, event_type FROM events, cutoff WHERE ts < c
    ),
    fresh AS (
        SELECT e.* FROM events e, cutoff WHERE e.ts >= cutoff.c
    )
    SELECT f.event_id, f.user_id, f.event_type, f.ts
    FROM fresh f
    ANTI JOIN seen s ON f.user_id = s.user_id AND f.event_type = s.event_type
    """,
)
def incremental_new_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3/J4: the incremental seen-set as a left-anti join — new-window
    rows whose key never appeared before the cutoff. This replaces the
    reference's ARRAY_AGG-membership scheme (main.py:469-472,415) with
    the form that scales: the seen-set stays relational, one shuffle
    (or broadcast when the key set is small)."""
    ev = read_table(spark, sf_dir, "events")
    cutoff = ev.agg((F.min("ts") + F.expr("INTERVAL 1 DAY")).alias("c"))
    ev_c = ev.crossJoin(F.broadcast(cutoff))
    seen = (
        ev_c.filter(F.col("ts") < F.col("c"))
        .select("user_id", "event_type")
        .distinct()
    )
    return (
        ev_c.filter(F.col("ts") >= F.col("c"))
        .join(seen, ["user_id", "event_type"], "left_anti")
        .select("event_id", "user_id", "event_type", "ts")
    )


@query(
    "dedup_primary_key",
    oracle="""
    SELECT user_id, event_type, event_id, ts, value
    FROM events
    QUALIFY row_number() OVER (
        PARTITION BY user_id, event_type ORDER BY ts ASC, event_id ASC
    ) = 1
    """,
)
def dedup_primary_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1/T3: idempotent-upsert semantics — exactly one surviving row
    per PK. ON CONFLICT DO NOTHING keeps the *first* arrival
    (main.py:455); here "first" is made explicit (earliest ts, then
    event_id) so the result is deterministic, unlike raw
    ``dropDuplicates`` which keeps an arbitrary partition winner."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts", "value")
    )


#: changelog op mapping for cdc_apply_changelog: the event stream is
#: read as a CDC feed keyed on user_id; this event_type is the delete
#: marker, every other type is an upsert carrying the new row image.
CDC_DELETE_OP = "error"


def compact_changelog(changelog: DataFrame) -> DataFrame:
    """Latest row-image per key, in the RAW changelog schema —
    tombstones (delete-marker rows) are KEPT so a later merge with an
    older out-of-order upsert cannot resurrect a deleted key; readers
    filter ``event_type != CDC_DELETE_OP`` at query time. Idempotent
    and associative: compact(compact(A) ∪ B) == compact(A ∪ B), the
    property the streaming foreachBatch merge relies on."""
    return (
        changelog.groupBy("user_id")
        .agg(
            F.max(
                F.struct("ts", "event_id", "event_type", "value")
            ).alias("last")
        )
        .select(
            "user_id",
            F.col("last.event_id").alias("event_id"),
            F.col("last.ts").alias("ts"),
            F.col("last.event_type").alias("event_type"),
            F.col("last.value").alias("value"),
        )
    )



@query(
    "cdc_apply_changelog",
    oracle=f"""
    -- CDC changelog → snapshot compaction (latest-wins): the newest
    -- op per key decides survival; a key whose final op is the
    -- delete marker vanishes from the snapshot.
    WITH ranked AS (
        SELECT user_id, event_id, ts, event_type, value,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
    )
    SELECT user_id,
           event_id AS last_event_id,
           ts AS last_ts,
           event_type AS last_op,
           value AS last_value
    FROM ranked
    WHERE rn = 1 AND event_type <> '{CDC_DELETE_OP}'
    """,
)
def cdc_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply — compact an insert/update/delete changelog into the
    current snapshot (the Debezium→Hudi/Delta "merge latest image"
    step; the reference's upsert sink main.py:453-457 is the
    insert-only special case). Latest op per key wins, ordered by
    (ts, event_id); keys whose final op is the delete marker are
    dropped.

    Plan: ONE aggregate, not a window — ``max(struct(ts, event_id,
    payload...))`` is an ordinary partial-aggregatable max, so the
    map side combines each input partition down to one candidate row
    per key before the shuffle. A row_number window (the oracle's
    form) would shuffle and sort EVERY changelog row; at 100 TB of
    changelog with a bounded key space the struct-max shuffle carries
    |keys|×|partitions| rows instead. The delete filter runs after
    compaction, exactly once per key."""
    ev = read_table(spark, sf_dir, "events")
    return (
        compact_changelog(ev)
        .filter(F.col("event_type") != CDC_DELETE_OP)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_op"),
            F.col("value").alias("last_value"),
        )
    )


def idempotent_append(
    new_rows: DataFrame, existing: DataFrame, pk: list[str]
) -> DataFrame:
    """K1 as a reusable sink-side plan: rows to actually append =
    PK-deduped new rows anti-joined against existing PKs.

    ``existing`` only needs its PK columns — at 100 TB read just the PK
    columns of the target (column pruning) or a bloom-filter index.
    It is not de-duplicated: an anti-join's result does not depend on
    duplicates in its right side, so a ``distinct`` there would only
    add an aggregation over the target's keys.

    Run-twice property: appending the result, then calling this again
    with the same ``new_rows``, yields an empty frame (tested in
    tests/test_incremental.py).
    """
    deduped = new_rows.dropDuplicates(pk)
    return deduped.join(existing.select(*pk), pk, "left_anti")


@query(
    "scd2_event_state",
    oracle="""
    -- type-2 slowly-changing dimension built from an event changelog:
    -- per user, each run of consecutive equal event_type values
    -- collapses to one versioned row [valid_from, valid_to) with
    -- exactly one open (is_current) row per user. Deterministic
    -- ordering on (ts, event_id); IS DISTINCT FROM makes the first
    -- row a change without a NULL-comparison special case.
    WITH o AS (
        SELECT user_id, event_id, ts, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    changes AS (
        SELECT user_id, event_id, ts, event_type FROM o
        WHERE event_type IS DISTINCT FROM prev_type
    )
    SELECT user_id, event_type AS state,
           row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS version,
           ts AS valid_from,
           lead(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           lead(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) IS NULL
               AS is_current
    FROM changes
    """,
)
def scd2_event_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension build — the warehouse-standard history shape the
    reference's upsert sink feeds (main.py:453-457 keeps only the
    latest row; SCD2 keeps every state interval): collapse each
    user's event_type changelog into versioned [valid_from, valid_to)
    intervals with one open row per user.

    Plan: two window passes over the SAME (user_id → ts, event_id)
    partitioning — Catalyst plans ONE shuffle + sort and reuses it for
    the lag, the post-filter lead, and the version row_number. At
    100 TB this is the canonical CDC-compaction plan: shuffle keyed on
    the dimension's natural key (users → high cardinality, no skew),
    per-key state bounded by one user's history. Rebuilding daily is
    one such pass over (yesterday's dim ∪ today's changes)."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    changes = o.filter(
        ~F.col("event_type").eqNullSafe(F.col("prev_type"))
    ).select("user_id", "event_id", "ts", "event_type")
    wc = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return changes.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.row_number().over(wc).cast("long").alias("version"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(wc).alias("valid_to"),
        F.lead("ts").over(wc).isNull().alias("is_current"),
    )


@query(
    "join_point_in_time",
    oracle="""
    -- point-in-time join: each purchase event picks the SCD2
    -- dimension version (from scd2_event_state's interval build)
    -- valid AT its event time — the feature-store correctness join
    -- that prevents label leakage.
    WITH o AS (
        SELECT user_id, event_id, ts, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    changes AS (
        SELECT user_id, event_id, ts, event_type FROM o
        WHERE event_type IS DISTINCT FROM prev_type
    ),
    dim AS (
        SELECT user_id, event_type AS state,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS version,
               ts AS valid_from,
               lead(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
        FROM changes
    )
    SELECT e.event_id, e.user_id, e.ts,
           d.state AS state_at_event, d.version AS dim_version
    FROM events e JOIN dim d
      ON d.user_id = e.user_id
     AND e.ts >= d.valid_from
     AND (d.valid_to IS NULL OR e.ts < d.valid_to)
    WHERE e.event_type = 'purchase'
    """,
)
def join_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) join — enrich each purchase event with the
    dimension version that was valid AT the event's timestamp, against
    the SCD2 dimension scd2_event_state builds. This is the
    feature-store primitive: joining "current" state instead would
    leak future information into training labels.

    Plan: NOT the naive interval join the oracle states (a range join
    that degenerates quadratically per user) — the scalable form is
    the as-of composition: union dimension-version starts (side 0)
    with events (side 1), ONE shuffle+sort on (user_id → ts, side),
    and ``last(version) ignorenulls`` hands every event the version
    open at its timestamp in a single pass. [valid_from, valid_to)
    intervals tile each user's timeline, so as-of-on-starts is exactly
    interval membership. Same single-shuffle argument as join_asof;
    at 100 TB this is a sort-merge pass, never a per-row range
    probe."""
    ev = read_table(spark, sf_dir, "events")
    dim = scd2_event_state(spark, sf_dir)

    starts = dim.select(
        "user_id",
        F.col("valid_from").alias("ts"),
        F.lit(0).alias("side"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("state"),
        F.col("version"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("side"),
        "event_id",
        F.lit(None).cast("string").alias("state"),
        F.lit(None).cast("long").alias("version"),
    )
    # Tie-break on version: if two SCD2 versions share one valid_from
    # (two changes at the same timestamp), the oracle's range join
    # excludes the older, empty [from, to) interval — so among tied
    # side-0 rows the HIGHEST version must be the one last() sees.
    # Side-1 rows carry NULL version; asc_nulls_first keeps them
    # stable after the side ordering already placed them last.
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", F.asc_nulls_first("version"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        starts.unionByName(purchases)
        .select(
            "event_id",
            "user_id",
            "ts",
            "side",
            F.last("state", ignorenulls=True).over(w).alias("state_at_event"),
            F.last("version", ignorenulls=True)
            .over(w)
            .alias("dim_version"),
        )
        .filter(F.col("side") == 1)
        .select("event_id", "user_id", "ts", "state_at_event", "dim_version")
    )


@query(
    "snapshot_diff",
    oracle="""
    -- snapshot diff (the table-format time-travel DIFF): compare the
    -- per-(user, event_type) aggregate state of version 1 (events
    -- before the cutoff) against version 2 (all events) and emit
    -- added / changed keys with both versions' values. (No key is
    -- ever 'removed' here since v1 ⊆ v2 — the full outer join still
    -- states the general contract.)
    WITH cutoff AS (SELECT min(ts) + INTERVAL 15 DAY AS c FROM events),
    v1 AS (
        SELECT user_id, event_type, count(*) AS n,
               round(sum(value), 4) AS total
        FROM events, cutoff WHERE ts < c GROUP BY 1, 2
    ),
    v2 AS (
        SELECT user_id, event_type, count(*) AS n,
               round(sum(value), 4) AS total
        FROM events GROUP BY 1, 2
    )
    SELECT coalesce(v1.user_id, v2.user_id) AS user_id,
           coalesce(v1.event_type, v2.event_type) AS event_type,
           CASE WHEN v1.user_id IS NULL THEN 'added'
                WHEN v2.user_id IS NULL THEN 'removed'
                ELSE 'changed' END AS status,
           v1.n AS n_v1, v2.n AS n_v2,
           v1.total AS total_v1, v2.total AS total_v2
    FROM v1 FULL OUTER JOIN v2
      ON v1.user_id = v2.user_id AND v1.event_type = v2.event_type
    WHERE v1.user_id IS NULL OR v2.user_id IS NULL
       OR v1.n != v2.n OR v1.total != v2.total
    """,
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — the audit query every versioned-table stack
    (Delta/Iceberg time travel, dbt snapshots) runs to answer "what
    changed between v1 and v2": full outer join of the two versions'
    aggregate states on the key, classifying added / removed /
    changed and suppressing unchanged keys.

    Plan: both sides aggregate FIRST (map-side combine to |keys|
    rows), then one co-partitioned full outer join — at 100 TB the
    diff never joins raw rows, and with both versions written
    bucket-by-key the join is shuffle-free (tests/test_bucketing.py
    shows the layout). Unchanged keys — the overwhelming majority in
    a real diff — are dropped before any downstream work."""
    ev = read_table(spark, sf_dir, "events")
    cutoff = ev.agg((F.min("ts") + F.expr("INTERVAL 15 DAYS")).alias("c"))
    ev_c = ev.crossJoin(F.broadcast(cutoff))

    def state(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id", "event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total"),
        )

    v1 = state(ev_c.filter(F.col("ts") < F.col("c"))).select(
        F.col("user_id").alias("u1"),
        F.col("event_type").alias("t1"),
        F.col("n").alias("n_v1"),
        F.col("total").alias("total_v1"),
    )
    v2 = state(ev).select(
        F.col("user_id").alias("u2"),
        F.col("event_type").alias("t2"),
        F.col("n").alias("n_v2"),
        F.col("total").alias("total_v2"),
    )
    j = v1.join(
        v2,
        (F.col("u1") == F.col("u2")) & (F.col("t1") == F.col("t2")),
        "full_outer",
    )
    status = (
        F.when(F.col("u1").isNull(), "added")
        .when(F.col("u2").isNull(), "removed")
        .otherwise("changed")
    )
    return j.select(
        F.coalesce("u1", "u2").alias("user_id"),
        F.coalesce("t1", "t2").alias("event_type"),
        status.alias("status"),
        "n_v1",
        "n_v2",
        "total_v1",
        "total_v2",
    ).filter(
        F.col("u1").isNull()
        | F.col("u2").isNull()
        | (F.col("n_v1") != F.col("n_v2"))
        | (F.col("total_v1") != F.col("total_v2"))
    )


#: late-arrival simulation for the backfill planner: rows whose hash
#: lands in 1/LATE_MOD arrived AFTER the snapshot was taken.
LATE_MOD = 501
#: content fingerprints sum per-row hashes reduced mod this, keeping
#: the per-day sum exactly inside int64 at any partition size.
FP_MOD = 1_000_000_000


@query(
    "incremental_backfill_partitions",
    oracle=f"""
    -- backfill planner (the late-data scheduler): which CLOSED daily
    -- partitions changed since the snapshot, and by how much. The
    -- snapshot materialized everything before the 7-day watermark
    -- cutoff; since then, late rows (hash mod {LATE_MOD} = 0 here)
    -- arrived INTO those closed days. Compare per-day row counts and
    -- an order-independent content fingerprint (sum of per-row
    -- hashes mod {FP_MOD} — exact integers); emit only days needing
    -- a rewrite. A day whose count matches but whose fingerprint
    -- differs still surfaces (update-in-place corruption).
    WITH cutoff AS (SELECT max(ts) - INTERVAL 7 DAY AS c FROM events),
    closed AS (
        SELECT CAST(ts AS DATE) AS day, event_id,
               ('0x' || substring(md5(event_id::VARCHAR), 1, 15))::BIGINT
                   AS h
        FROM events, cutoff WHERE ts < c
    ),
    snap AS (
        SELECT day, count(*)::BIGINT AS n,
               sum(h % {FP_MOD})::BIGINT AS fp
        FROM closed WHERE h % {LATE_MOD} <> 0 GROUP BY day
    ),
    cur AS (
        SELECT day, count(*)::BIGINT AS n,
               sum(h % {FP_MOD})::BIGINT AS fp
        FROM closed GROUP BY day
    )
    SELECT strftime(coalesce(snap.day, cur.day), '%Y-%m-%d') AS day,
           coalesce(snap.n, 0) AS rows_snapshot,
           coalesce(cur.n, 0) AS rows_current,
           coalesce(cur.n, 0) - coalesce(snap.n, 0) AS rows_late,
           CASE WHEN snap.day IS NULL THEN 'new_partition'
                ELSE 'rewrite' END AS action
    FROM snap FULL OUTER JOIN cur ON snap.day = cur.day
    WHERE snap.day IS NULL OR cur.day IS NULL
       OR snap.n <> cur.n OR snap.fp <> cur.fp
    """,
)
def incremental_backfill_partitions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Backfill planner — the scheduling table a late-data pipeline
    derives its rewrite jobs from: diff every CLOSED daily partition
    between the materialized snapshot and the current table, using
    per-day row counts plus an order-independent integer content
    fingerprint (sum of per-row hashes mod {FP_MOD}), and emit only
    the days that need rewriting. Count-equal-but-content-different
    days still surface — the failure mode a row-count-only audit
    silently ships.

    Scale shape: both sides collapse to |days| rows with map-side
    partial aggregation before the full outer join — the raw table is
    scanned once (the snapshot filter and the current pass share the
    scan), nothing row-level ever shuffles, and on a date-partitioned
    layout the `ts < cutoff` predicate is partition pruning. The
    planner's output is exactly the partition list the rewrite job
    feeds back into, making the backfill loop incremental and
    idempotent."""
    ev = read_table(spark, sf_dir, "events")
    cutoff = ev.agg((F.max("ts") - F.expr("INTERVAL 7 DAYS")).alias("c"))
    closed = (
        ev.crossJoin(F.broadcast(cutoff))
        .filter(F.col("ts") < F.col("c"))
        .select(
            F.to_date("ts").alias("day"),
            F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 15), 16, 10)
            .cast("long")
            .alias("h"),
        )
    )
    snap = (
        closed.filter(F.col("h") % LATE_MOD != 0)
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("h") % FP_MOD).cast("long").alias("fp"),
        )
    )
    cur = closed.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("h") % FP_MOD).cast("long").alias("fp"),
    )
    s = snap.select(
        F.col("day").alias("day_s"), F.col("n").alias("n_s"), F.col("fp").alias("fp_s")
    )
    c = cur.select(
        F.col("day").alias("day_c"), F.col("n").alias("n_c"), F.col("fp").alias("fp_c")
    )
    j = s.join(c, s.day_s == c.day_c, "full_outer")
    return (
        j.filter(
            F.col("day_s").isNull()
            | F.col("day_c").isNull()
            | (F.col("n_s") != F.col("n_c"))
            | (F.col("fp_s") != F.col("fp_c"))
        )
        .select(
            F.date_format(F.coalesce("day_s", "day_c"), "yyyy-MM-dd").alias(
                "day"
            ),
            F.coalesce("n_s", F.lit(0)).cast("long").alias("rows_snapshot"),
            F.coalesce("n_c", F.lit(0)).cast("long").alias("rows_current"),
            (
                F.coalesce("n_c", F.lit(0)) - F.coalesce("n_s", F.lit(0))
            ).cast("long").alias("rows_late"),
            F.when(F.col("day_s").isNull(), "new_partition")
            .otherwise("rewrite")
            .alias("action"),
        )
    )


#: view-maintenance cutoff: rows at least this far after the corpus
#: min timestamp are "the delta batch"; everything earlier is "the
#: materialized state".
MERGE_CUTOFF_DAYS = 150


def merge_agg_states(*states: DataFrame) -> DataFrame:
    """Merge any number of partial aggregate states of the shape
    (event_type, month, n, cents, min_cents, max_cents) into one —
    count/sum re-sum, min/max re-extremize. Mergeability is the whole
    point: a 100 TB materialized aggregate is maintained by
    aggregating ONLY the arriving partition and merging, never by
    rescanning history."""
    acc = states[0]
    for s in states[1:]:
        acc = acc.unionByName(s)
    return acc.groupBy("event_type", "month").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("cents"),
        F.min("min_cents").cast("long").alias("min_cents"),
        F.max("max_cents").cast("long").alias("max_cents"),
    )


def _agg_state(ev: DataFrame) -> DataFrame:
    return (
        ev.select(
            "event_type",
            F.date_format("ts", "yyyy-MM").alias("month"),
            F.round(F.col("value") * 100).cast("long").alias("c"),
        )
        .groupBy("event_type", "month")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("c").cast("long").alias("cents"),
            F.min("c").cast("long").alias("min_cents"),
            F.max("c").cast("long").alias("max_cents"),
        )
    )


@query(
    "incremental_agg_merge",
    oracle=f"""
    -- incremental materialized-view maintenance: the engine computes
    -- the (event_type, month) aggregate as OLD-STATE (ts < cutoff)
    -- merged with the DELTA batch (ts >= cutoff); the oracle is the
    -- full single-pass recompute. Equality IS the correctness
    -- property: merging partials must be indistinguishable from
    -- rescanning history. Exact integer cents.
    SELECT event_type,
           strftime(date_trunc('month', ts), '%Y-%m') AS month,
           count(*)::BIGINT AS n,
           sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents,
           min(CAST(round(value * 100) AS BIGINT))::BIGINT AS min_cents,
           max(CAST(round(value * 100) AS BIGINT))::BIGINT AS max_cents
    FROM events
    GROUP BY 1, 2
    """,
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate-view maintenance: the monthly per-type
    revenue rollup is produced by MERGING two independently-computed
    partial states — the "materialized" aggregate of history
    (ts < min+{MERGE_CUTOFF_DAYS}d) and the aggregate of the arriving
    delta batch — via ``merge_agg_states``. The oracle recomputes the
    view from scratch; hash equality proves the merge is lossless,
    the invariant that lets a production pipeline maintain a 100 TB
    rollup by touching only the new partition (count/sum/min/max are
    the mergeable-state subset; avg = cents/n is derived downstream,
    never stored).

    Scale shape: two partition-pruned scans (at 100 TB the cutoff
    predicate prunes the history scan to ZERO files for the delta
    side and vice versa — here both prune on the parquet min/max row
    groups), each collapsing map-side to its partial state; the merge
    is a groupBy over two already-tiny states."""
    ev = read_table(spark, sf_dir, "events")
    cutoff = ev.agg(
        (F.min("ts") + F.expr(f"INTERVAL {MERGE_CUTOFF_DAYS} DAY")).alias("c")
    )
    ev_c = ev.crossJoin(F.broadcast(cutoff))
    old_state = _agg_state(ev_c.where(F.col("ts") < F.col("c")))
    delta_state = _agg_state(ev_c.where(F.col("ts") >= F.col("c")))
    return merge_agg_states(old_state, delta_state)
