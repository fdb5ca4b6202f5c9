"""The reference's COMPLETE per-image pipeline (E1 → E3) as one
declarative plan: catalog rows × dataset configs (J3) → raster
kernels (U2/U4/U5) → deterministic artifact keys (K3/F1/F2) →
the output record of ``waterbody_satellite_images``
(main.py:103-116, built at main.py:328-342).

The reference runs this as a driver-side thread pool with one network
round-trip and one DB commit per image (main.py:432-457). Here it is
a single lazy DataFrame: the relational stages stay in codegen, the
raster stage is one Arrow kernel pass, and the result lands in one
batched idempotent append (sinks.write_idempotent_append) instead of
per-row transactions.

FULL oracle: every stage — including the pandas-UDF raster stats —
is regenerated relationally (see multimodal/raster.py's oracle
pattern), so the end-to-end record is value-hash-verified.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lake_satellite_image_etl_spark.functions.scalars import artifact_key
from lake_satellite_image_etl_spark.io import local_frame
from lake_satellite_image_etl_spark.multimodal.raster import (
    _SQL_RASTER_PX,
    WHITE_MIN,
    WHITE_SPREAD,
    channel_means,
    stack_bands,
    synth_band_rows,
    white_fraction,
)
from lake_satellite_image_etl_spark.registry import query

@query(
    "sql_api_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           round(sum(l.l_extendedprice::DECIMAL(18,6)
                     * (1 - l.l_discount)::DECIMAL(18,6)), 2)::DOUBLE AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15'
      AND l.l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
    LIMIT 10
    """,
)
def sql_api_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL front door (TPC-H Q3 shape): fixture tables
    registered as temp views, the query authored as ANSI SQL through
    ``spark.sql`` — same Catalyst plan as the DataFrame API, proving
    the two surfaces are interchangeable. Decimal-cast money rounding
    as everywhere (engine-independent)."""
    from lake_satellite_image_etl_spark.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l.l_orderkey,
               CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))
                              * CAST(1 - l.l_discount AS DECIMAL(18,6))), 2)
                    AS DOUBLE) AS revenue,
               o.o_orderdate, o.o_orderpriority
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1995-03-15'
          AND l.l_shipdate > TIMESTAMP '1995-03-15'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
        LIMIT 10
        """
    )


#: satellite_dataset_configs analog (main.py:74-92)
CONFIGS = [
    ("COPERNICUS/S2_SR_HARMONIZED", "CLOUDY_PIXEL_PERCENTAGE", 20.0),
    ("LANDSAT/LC09/C02/T1_L2", "CLOUD_COVER", 20.0),
]

_SQL_CONFIGS = (
    "(VALUES "
    + ", ".join(f"('{d}', '{f}', {l})" for d, f, l in CONFIGS)
    + ") c(dataset, cloud_field, cloud_limit)"
)


@query(
    "pipeline_image_records",
    oracle=f"""
    WITH {_SQL_RASTER_PX},
    stats AS (
        SELECT entity_id,
               round(avg(CASE WHEN red   != 0 THEN red   END), 6) AS red_average,
               round(avg(CASE WHEN green != 0 THEN green END), 6) AS green_average,
               round(avg(CASE WHEN blue  != 0 THEN blue  END), 6) AS blue_average,
               round(sum(CASE WHEN least(red, green, blue) >= {WHITE_MIN}
                               AND greatest(red, green, blue)
                                   - least(red, green, blue) <= {WHITE_SPREAD}
                              THEN 1 ELSE 0 END)::DOUBLE
                     / sum(CASE WHEN greatest(red, green, blue) != 0
                                THEN 1 ELSE 0 END), 6) AS white_fraction
        FROM px GROUP BY entity_id
    ),
    configs AS (SELECT * FROM {_SQL_CONFIGS}),
    fanout AS (
        SELECT s.*, c.dataset, c.cloud_field, c.cloud_limit,
               (TIMESTAMP '2024-01-01' + s.entity_id * INTERVAL 1 DAY)
                   AS captured_ts,
               c.dataset || '/' || s.entity_id::VARCHAR AS ee_id
        FROM stats s CROSS JOIN configs c
    )
    SELECT entity_id AS waterbody_id, captured_ts, ee_id,
           dataset AS satellite_dataset,
           to_json(struct_pack(cloud_field := cloud_field,
                               cloud_limit := cloud_limit)) AS properties,
           ee_id || '/' || waterbody_id::VARCHAR || '_'
               || strftime(captured_ts, '%Y%m%d%H%M%S') || '.tif' AS filename,
           ee_id || '/' || waterbody_id::VARCHAR || '_'
               || strftime(captured_ts, '%Y%m%d%H%M%S') || '_thumbnail.png'
               AS thumbnail_filename,
           red_average, green_average, blue_average, white_fraction
    FROM fanout
    """,
)
def pipeline_image_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1→E3 composed: per (entity × dataset config), the full output
    record — capture metadata, JSON properties (F9), deterministic
    artifact keys (K3, intended-semantics timestamp format), and the
    raster statistics from the pandas-UDF kernel chain.

    Plan: the raster stage runs ONCE per entity (before the config
    fan-out — kernels are the expensive stage, so the cross join
    multiplies cheap rows, not raster work); configs broadcast; one
    shuffle total (the kernel's groupBy). The reference computed the
    same stats once per (entity, config) pair AND channel means twice
    per image (main.py:247-251 vs 261-265)."""
    stacked = stack_bands(synth_band_rows(spark, sf_dir))
    stats = stacked.select(
        "entity_id",
        channel_means("data", "width", "height", "bands").alias("means"),
        white_fraction("data", "width", "height", "bands").alias("wf"),
    ).select(
        "entity_id",
        F.round(F.col("means")[0], 6).alias("red_average"),
        F.round(F.col("means")[1], 6).alias("green_average"),
        F.round(F.col("means")[2], 6).alias("blue_average"),
        F.round("wf", 6).alias("white_fraction"),
    )
    configs = local_frame(
        spark, CONFIGS, "dataset string, cloud_field string, cloud_limit double"
    )
    fanout = stats.crossJoin(F.broadcast(configs)).select(
        F.col("entity_id").alias("waterbody_id"),
        (
            F.lit("2024-01-01").cast("timestamp")
            + F.make_interval(days=F.col("entity_id").cast("int"))
        ).alias("captured_ts"),
        F.concat_ws("/", "dataset", F.col("entity_id").cast("string")).alias(
            "ee_id"
        ),
        F.col("dataset").alias("satellite_dataset"),
        F.to_json(F.struct("cloud_field", "cloud_limit")).alias("properties"),
        "red_average",
        "green_average",
        "blue_average",
        "white_fraction",
    )
    return fanout.select(
        "waterbody_id",
        "captured_ts",
        "ee_id",
        "satellite_dataset",
        "properties",
        artifact_key(
            F.col("ee_id"), F.col("waterbody_id"), F.col("captured_ts"), ".tif"
        ).alias("filename"),
        artifact_key(
            F.col("ee_id"),
            F.col("waterbody_id"),
            F.col("captured_ts"),
            "_thumbnail.png",
        ).alias("thumbnail_filename"),
        "red_average",
        "green_average",
        "blue_average",
        "white_fraction",
    )
