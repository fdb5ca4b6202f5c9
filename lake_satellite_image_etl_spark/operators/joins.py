"""Joins (SURVEY.md §2.4, J1-J5 + EXT as-of/range).

The reference never chooses a join algorithm — it ships SQL to
Postgres (main.py:467-486). Here every join is declared by *type* and
Catalyst/AQE choose the strategy; we only add `broadcast()` hints where
one side is a dimension that stays small at any fact-table scale, which
removes the shuffle entirely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lake_satellite_image_etl_spark.io import local_frame, read_table
from lake_satellite_image_etl_spark.registry import query


@query(
    "join_dim_enrich",
    oracle="""
    SELECT s.s_suppkey, s.s_name, n.n_name AS nation, r.r_name AS region
    FROM supplier s
    LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
    LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def join_dim_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: left equi-join dim enrichment (water_bodies ⟕ geometries,
    main.py:477-478). Both dims broadcast — zero shuffles at any scale."""
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey, "left")
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "left")
        .select("s_suppkey", "s_name", F.col("n_name").alias("nation"),
                F.col("r_name").alias("region"))
    )


@query(
    "join_cross_configs",
    oracle="""
    WITH configs AS (
        SELECT * FROM (VALUES
            ('COPERNICUS/S2_SR_HARMONIZED', 'CLOUDY_PIXEL_PERCENTAGE', 20.0),
            ('LANDSAT/LC09/C02/T1_L2', 'CLOUD_COVER', 20.0)
        ) c(dataset, cloud_field, cloud_limit)
    )
    SELECT n.n_nationkey AS body_id, n.n_name AS body_name,
           c.dataset, c.cloud_field, c.cloud_limit
    FROM nation n CROSS JOIN configs c
    """,
)
def join_cross_configs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: work rows × dataset configs.

    The reference loops every water body over every dataset config
    (main.py:433-440; configs main.py:74-92). Distributed form: a
    crossJoin against a broadcast literal config DataFrame — the
    BroadcastNestedLoopJoin costs |configs| × scan, no shuffle.
    """
    n = read_table(spark, sf_dir, "nation")
    configs = local_frame(
        spark,
        [
            ("COPERNICUS/S2_SR_HARMONIZED", "CLOUDY_PIXEL_PERCENTAGE", 20.0),
            ("LANDSAT/LC09/C02/T1_L2", "CLOUD_COVER", 20.0),
        ],
        "dataset string, cloud_field string, cloud_limit double",
    )
    return n.crossJoin(F.broadcast(configs)).select(
        F.col("n_nationkey").alias("body_id"),
        F.col("n_name").alias("body_name"),
        "dataset",
        "cloud_field",
        "cloud_limit",
    )


@query(
    "join_left_anti",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts
    FROM events e
    ANTI JOIN (
        SELECT DISTINCT user_id FROM events
        WHERE event_type = 'purchase' AND value > 90
    ) seen USING (user_id)
    WHERE e.event_type = 'click'
    """,
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: left-anti join — the idiomatic replacement for the
    reference's ARRAY_AGG + membership skip (main.py:469-472,415).

    At 100 TB this is the *only* sane form: the seen-set never
    materializes as per-row arrays; it stays a keyed relation that
    shuffles (or broadcasts) once. The seen-set is the big-ticket
    purchasers (value > 90) so the anti-join keeps a real remainder at
    every scale factor (non-vacuous; asserted in tests).
    """
    ev = read_table(spark, sf_dir, "events")
    seen = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("value") > 90))
        .select("user_id")
        .distinct()
    )
    return (
        ev.filter(F.col("event_type") == "click")
        .join(seen, "user_id", "left_anti")
        .select("event_id", "user_id", "ts")
    )


@query(
    "join_left_semi",
    oracle="""
    SELECT c.c_custkey, c.c_name, c.c_acctbal
    FROM customer c
    SEMI JOIN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000) o
      ON c.c_custkey = o.o_custkey
    """,
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4's positive twin: left-semi join — existence filter without
    fan-out or duplicate rows. The scale form of `WHERE key IN
    (subquery)`: the probe side streams, the build side reduces to
    distinct keys (broadcast when small)."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 300000
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_acctbal")
    )


@query(
    "join_semi_anti",
    oracle="""
    -- the two existence-join forms over ONE seen-set, tagged: anti =
    -- clicks from users NOT in the seen-set (J4), semi = clicks from
    -- users IN it (the positive twin) — together a partition of clicks.
    SELECT 'anti' AS side, e.event_id, e.user_id, e.ts
    FROM events e
    ANTI JOIN (
        SELECT DISTINCT user_id FROM events
        WHERE event_type = 'purchase' AND value > 90
    ) seen USING (user_id)
    WHERE e.event_type = 'click'
    UNION ALL
    SELECT 'semi' AS side, e.event_id, e.user_id, e.ts
    FROM events e
    SEMI JOIN (
        SELECT DISTINCT user_id FROM events
        WHERE event_type = 'purchase' AND value > 90
    ) seen USING (user_id)
    WHERE e.event_type = 'click'
    """,
)
def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 + its positive twin in one driver-gate entry: left-anti and
    left-semi against the same seen-set (big-ticket purchasers), tagged
    by side — the two results partition the click stream, so the query
    is self-checking (|anti| + |semi| = |clicks|). The granular
    join_left_anti / join_left_semi entries keep the single-form API.

    Scale shape is identical to J4: the seen-set stays a keyed relation
    (broadcast when small); neither side materializes per-row arrays."""
    ev = read_table(spark, sf_dir, "events")
    seen = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("value") > 90))
        .select("user_id")
        .distinct()
    )
    clicks = ev.filter(F.col("event_type") == "click")
    anti = (
        clicks.join(seen, "user_id", "left_anti")
        .select(F.lit("anti").alias("side"), "event_id", "user_id", "ts")
    )
    semi = (
        clicks.join(seen, "user_id", "left_semi")
        .select(F.lit("semi").alias("side"), "event_id", "user_id", "ts")
    )
    return anti.unionByName(semi)


@query(
    "join_fanout_1n",
    oracle="""
    SELECT o.o_orderkey, o.o_orderpriority, l.l_linenumber,
           round(l.l_extendedprice::DECIMAL(18,6)
                 * (1 - l.l_discount::DECIMAL(18,6)), 2)::DOUBLE AS net_price
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderstatus = 'F'
    """,
)
def join_fanout_1n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: key-preserving 1:N expansion — one parent row fans out to N
    children carrying parent fields (query → images, main.py:412-427).

    Money arithmetic is done in DECIMAL before rounding: ``round`` on a
    raw double is not engine-independent (Spark rounds the exact binary
    value HALF_UP, other engines differ on fp halfway cases). The input
    doubles carry ≤2 fractional digits, so the DECIMAL(18,6) cast is
    exact and both engines round identical decimal values.
    """
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = read_table(spark, sf_dir, "lineitem")
    net = F.col("l_extendedprice").cast("decimal(18,6)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,6)")
    )
    return o.join(li, o.o_orderkey == li.l_orderkey).select(
        "o_orderkey",
        "o_orderpriority",
        "l_linenumber",
        F.round(net, 2).cast("double").alias("net_price"),
    )


@query(
    "join_asof",
    oracle="""
    SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
           p.event_id AS purchase_id, p.ts AS purchase_ts
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT as-of join: for each click, the latest purchase at-or-before
    it, per user. Spark lacks a native ASOF; the scalable composition is
    union → window ``last(ignorenulls)`` partitioned by key ordered by
    (ts, side) — one shuffle on the key, no per-row range scan.

    Ties (click.ts == purchase.ts): the purchase sorts first (side 0 <
    side 1), so it is visible to the click — matching ASOF ``>=``.
    """
    ev = read_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    purch = ev.filter(F.col("event_type") == "purchase")

    unioned = clicks.select(
        "user_id",
        "ts",
        F.lit(1).alias("side"),
        F.col("event_id").alias("click_id"),
        F.lit(None).cast("long").alias("p_id"),
    ).unionByName(
        purch.select(
            "user_id",
            "ts",
            F.lit(0).alias("side"),
            F.lit(None).cast("long").alias("click_id"),
            F.col("event_id").alias("p_id"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "p_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        unioned.withColumn("purchase_id", F.last("p_id", ignorenulls=True).over(w))
        .withColumn("purchase_ts", F.last(F.when(F.col("side") == 0, F.col("ts")), ignorenulls=True).over(w))
        .filter(F.col("side") == 1)
        .select(
            "click_id",
            "user_id",
            F.col("ts").alias("click_ts"),
            "purchase_id",
            "purchase_ts",
        )
    )


@query(
    "join_range_bucket",
    oracle="""
    WITH buckets AS (
        SELECT i AS bucket_id, i * 10.0 AS lo, (i + 1) * 10.0 AS hi
        FROM range(6) t(i)
    )
    SELECT b.bucket_id, count(*) AS n,
           round(sum(l.l_extendedprice), 2) AS revenue
    FROM lineitem l JOIN buckets b
      ON l.l_quantity >= b.lo AND l.l_quantity < b.hi
    GROUP BY b.bucket_id
    """,
)
def join_range_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT range join, scale form: when ranges are a uniform grid the
    non-equi join collapses to an *equi*-join on a computed bucket key —
    O(n) instead of the O(n·m) nested-loop a naive BETWEEN join plans.
    """
    li = read_table(spark, sf_dir, "lineitem")
    buckets = spark.range(6).select(
        F.col("id").alias("bucket_id"),
        (F.col("id") * 10.0).alias("lo"),
        ((F.col("id") + 1) * 10.0).alias("hi"),
    )
    li_b = li.withColumn(
        "bucket_id", F.floor(F.col("l_quantity") / 10.0).cast("long")
    )
    return (
        li_b.join(F.broadcast(buckets), "bucket_id")
        .filter((F.col("l_quantity") >= F.col("lo")) & (F.col("l_quantity") < F.col("hi")))
        .groupBy("bucket_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
    )


#: interval-overlap join geometry: decompose time into fixed buckets
#: so overlap becomes an equi-join on bucket id. Bucket width must be
#: >= the typical interval span for O(1) buckets per interval; 1 hour
#: covers the fixture's 2-hour campaign windows with <=3 buckets each.
OVERLAP_BUCKET_US = 3_600_000_000
#: campaign window length: 2 hours from the first event of a type-day.
CAMPAIGN_SPAN_US = 7_200_000_000


@query(
    "join_interval_overlap",
    oracle=f"""
    -- interval overlap join: per-user daily activity spans x per-type
    -- daily "campaign windows" (2h from the day's first event of that
    -- type); emit every (session, window) pair whose closed intervals
    -- overlap, with the exact intersection in epoch microseconds.
    WITH sess AS (
        SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
               min(epoch_us(ts)) AS s_lo, max(epoch_us(ts)) AS s_hi
        FROM events GROUP BY 1, 2
    ),
    win AS (
        SELECT event_type, strftime(ts, '%Y-%m-%d') AS wday,
               min(epoch_us(ts)) AS w_lo,
               min(epoch_us(ts)) + {CAMPAIGN_SPAN_US} AS w_hi
        FROM events GROUP BY 1, 2
    )
    SELECT s.user_id, s.day, w.event_type,
           greatest(s.s_lo, w.w_lo) AS ov_lo,
           least(s.s_hi, w.w_hi) AS ov_hi,
           least(s.s_hi, w.w_hi) - greatest(s.s_lo, w.w_lo) AS ov_us
    FROM sess s JOIN win w
      ON s.s_lo <= w.w_hi AND w.w_lo <= s.s_hi
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT interval-overlap join — the general two-sided range join
    (sessions x campaigns, readings x maintenance windows) that a naive
    ``ON a.lo <= b.hi AND b.lo <= a.hi`` plans as a nested-loop
    cartesian product.

    Scale shape: decompose the time axis into fixed-width buckets;
    each interval explodes to the O(span/width) buckets it touches
    ({OVERLAP_BUCKET_US} us = 1 h here), overlap candidates become an
    EQUI-join on bucket id (shuffle-partitionable, AQE-skew-splittable,
    no cartesian), and the exact predicate filters within buckets. A
    pair sharing k buckets appears k times, so the final distinct
    collapses candidates — total work is O(candidates), not O(n*m).
    Same decomposition as join_range_bucket, generalized to BOTH sides
    being intervals."""
    ev = read_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    sess = ev.groupBy(
        "user_id", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.min(us).alias("s_lo"), F.max(us).alias("s_hi"))
    win = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("wday")
    ).agg(F.min(us).alias("w_lo"))
    win = win.withColumn("w_hi", F.col("w_lo") + CAMPAIGN_SPAN_US)
    W = OVERLAP_BUCKET_US
    sess_b = sess.withColumn(
        "bkt",
        F.explode(
            F.sequence(F.expr(f"s_lo div {W}"), F.expr(f"s_hi div {W}"))
        ),
    )
    win_b = win.withColumn(
        "bkt",
        F.explode(
            F.sequence(F.expr(f"w_lo div {W}"), F.expr(f"w_hi div {W}"))
        ),
    )
    return (
        sess_b.join(win_b, "bkt")
        .filter(
            (F.col("s_lo") <= F.col("w_hi")) & (F.col("w_lo") <= F.col("s_hi"))
        )
        # Dedupe bucket fan-out on the FULL pair key (including the
        # window's day): the oracle emits one row per (session,
        # window) pair, and a distinct() on the wday-less projection
        # would collapse two same-type windows on different days that
        # happen to produce identical overlap values.
        .dropDuplicates(["user_id", "day", "event_type", "wday"])
        .select(
            "user_id",
            "day",
            "event_type",
            F.greatest("s_lo", "w_lo").alias("ov_lo"),
            F.least("s_hi", "w_hi").alias("ov_hi"),
            (F.least("s_hi", "w_hi") - F.greatest("s_lo", "w_lo")).alias(
                "ov_us"
            ),
        )
    )


@query(
    "join_asof_nearest",
    oracle="""
    -- NEAREST as-of: for each click, the purchase (same user)
    -- minimizing |Δt|, either direction; ties prefer the backward
    -- (at-or-before) match, then the smaller purchase id. The oracle
    -- states it as the per-click argmin; the engine computes it
    -- without the quadratic candidate join.
    WITH c AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click'),
    p AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase'),
    cand AS (
        SELECT c.event_id AS click_id, c.user_id,
               p.event_id AS p_id,
               abs(epoch_us(c.ts) - epoch_us(p.ts)) AS delta_us,
               CASE WHEN epoch_us(p.ts) <= epoch_us(c.ts)
                    THEN 0 ELSE 1 END AS fwd
        FROM c JOIN p USING (user_id)
    ),
    r AS (
        SELECT *, row_number() OVER (
                   PARTITION BY click_id
                   ORDER BY delta_us, fwd, p_id) AS rn
        FROM cand
    )
    SELECT click_id, user_id, p_id AS nearest_p_id,
           delta_us, fwd = 1 AS is_forward
    FROM r WHERE rn = 1
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT nearest-direction as-of join — `join_asof` finds the latest
    purchase at-or-BEFORE each click; sensor alignment and feature
    attribution often want the NEAREST event either way. Composition:
    the same union-window trick run twice over ONE user-keyed shuffle
    — a backward pass (last purchase at-or-before, window ordered so
    the tie-preferred smallest purchase id lands last in frame order)
    and a forward pass (first purchase at-or-after) — then an O(1)
    per-row chooser. No per-click candidate join: a naive
    argmin-over-|Δt| plans |clicks|×|purchases| per user (the oracle
    states exactly that, quadratically)."""
    ev = read_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    clicks = ev.filter(F.col("event_type") == "click")
    purch = ev.filter(F.col("event_type") == "purchase")
    unioned = clicks.select(
        "user_id",
        us.alias("tus"),
        F.lit(None).cast("long").alias("p_id"),
        F.col("event_id").alias("click_id"),
    ).unionByName(
        purch.select(
            "user_id",
            us.alias("tus"),
            F.col("event_id").alias("p_id"),
            F.lit(None).cast("long").alias("click_id"),
        )
    )
    is_p = F.col("p_id").isNotNull()
    # backward: purchases sort BEFORE clicks at equal ts (side 0<1) so
    # a same-instant purchase is visible; within equal (ts, side) the
    # DESC p_id order makes the tie-preferred SMALLEST id the last row
    # in frame order (what last() returns).
    w_b = (
        Window.partitionBy("user_id")
        .orderBy(
            "tus",
            F.when(is_p, 0).otherwise(1),
            F.desc_nulls_last("p_id"),
        )
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # forward: clicks sort before purchases at equal ts; ASC p_id makes
    # the smallest id the first() in the following frame.
    w_f = (
        Window.partitionBy("user_id")
        .orderBy(
            "tus",
            F.when(is_p, 1).otherwise(0),
            F.asc_nulls_last("p_id"),
        )
        .rowsBetween(0, Window.unboundedFollowing)
    )
    p_ts = F.when(is_p, F.col("tus"))
    marked = (
        unioned.withColumn("b_id", F.last("p_id", ignorenulls=True).over(w_b))
        .withColumn("b_ts", F.last(p_ts, ignorenulls=True).over(w_b))
        .withColumn("f_id", F.first("p_id", ignorenulls=True).over(w_f))
        .withColumn("f_ts", F.first(p_ts, ignorenulls=True).over(w_f))
        .filter(F.col("click_id").isNotNull())
    )
    b_d = F.col("tus") - F.col("b_ts")
    f_d = F.col("f_ts") - F.col("tus")
    pick_fwd = F.col("b_id").isNull() | (
        F.col("f_id").isNotNull() & (f_d < b_d)
    )
    return (
        marked.filter(F.col("b_id").isNotNull() | F.col("f_id").isNotNull())
        .select(
            "click_id",
            "user_id",
            F.when(pick_fwd, F.col("f_id")).otherwise(F.col("b_id")).alias(
                "nearest_p_id"
            ),
            F.when(pick_fwd, f_d).otherwise(b_d).alias("delta_us"),
            pick_fwd.alias("is_forward"),
        )
    )
