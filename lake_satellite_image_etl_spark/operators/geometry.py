"""Geometry operators (SURVEY.md §2.4 P6 exact form, §2.5 A6, §2.10 U7):
point-in-polygon, polygon bbox/area union.

The reference delegates these to shapely (union main.py:386-388,
filterBounds main.py:397, mapping main.py:241). Here the *predicates
and scalar derivations* are pure Catalyst expressions — ray-casting
and shoelace are just arithmetic over coordinate arrays, so they run
JVM-side, get full DuckDB oracles, and stay inside whole-stage
codegen. The exact union *geometry* (a new polygon) needs a real
planar clipping kernel — native since r10 in ``operators/
clipping.py`` (exact-rational slab decomposition, no shapely).

Scale pattern (SURVEY.md §4): the cheap bbox predicate is pushed to
the scan and prunes first; the exact ray-cast expression runs on the
tiny surviving set. That ordering is explicit in the plan below —
Catalyst cannot reorder through a UDF, but these are *not* UDFs, so
even if the bbox filter were omitted the optimizer could still push
both.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from lake_satellite_image_etl_spark.io import read_table
from lake_satellite_image_etl_spark.registry import query

#: fixed demo polygon (pixel/data space): a diamond. Rings are closed
#: (first point repeated) as in GeoJSON — main.py geometry rows carry
#: closed rings too.
DIAMOND = [(10.0, 20.0), (20.0, 10.0), (30.0, 20.0), (20.0, 30.0), (10.0, 20.0)]


def ring_col(points: list[tuple[float, float]]) -> Column:
    """A closed ring as a literal array<array<double>> column."""
    return F.array(*[F.array(F.lit(x), F.lit(y)) for x, y in points])


def _sql_ring(points: list[tuple[float, float]]) -> str:
    return "[" + ", ".join(f"[{x}::DOUBLE, {y}::DOUBLE]" for x, y in points) + "]"


def point_in_ring(px: Column, py: Column, ring: Column) -> Column:
    """Ray-casting point-in-polygon as a pure expression: count edge
    crossings of the +x ray, odd = inside. Edges come from zipping the
    ring with itself shifted by one (the ring is closed, so the last
    zip pair is the closing edge)."""
    n = F.size(ring)
    p1s = F.slice(ring, 1, n - 1)
    p2s = F.slice(ring, 2, n - 1)
    crossings = F.zip_with(
        p1s,
        p2s,
        lambda p1, p2: F.when(
            ((p1[1] > py) != (p2[1] > py))
            & (px < (p2[0] - p1[0]) * (py - p1[1]) / (p2[1] - p1[1]) + p1[0]),
            1,
        ).otherwise(0),
    )
    return (
        F.aggregate(crossings, F.lit(0), lambda acc, x: acc + x) % 2 == 1
    )


def _sql_point_in_ring(px: str, py: str, ring: str) -> str:
    """DuckDB mirror of point_in_ring (identical arithmetic)."""
    return f"""(list_sum(list_transform(
        generate_series(1, len({ring}) - 1),
        i -> CASE WHEN (({ring}[i][2] > {py}) != ({ring}[i+1][2] > {py}))
                   AND {px} < ({ring}[i+1][1] - {ring}[i][1])
                             * ({py} - {ring}[i][2])
                             / ({ring}[i+1][2] - {ring}[i][2]) + {ring}[i][1]
                  THEN 1 ELSE 0 END)) % 2 = 1)"""


def bbox_of(points: list[tuple[float, float]]) -> tuple[float, float, float, float]:
    """Plan-time bounding box of a polygon literal."""
    xs = [x for x, _ in points]
    ys = [y for _, y in points]
    return min(xs), min(ys), max(xs), max(ys)


def point_in_polygon_pruned(
    px: Column, py: Column, points: list[tuple[float, float]]
) -> Column:
    """The SURVEY §4 stretch rewrite — auto bbox-prefilter injection
    before the exact geometry predicate, as a predicate builder.

    Given the polygon LITERAL, derive its bbox at plan-construction
    time and conjoin the cheap range predicate with the exact ray-cast:
    ``px BETWEEN minx AND maxx AND py BETWEEN miny AND maxy AND
    ray_cast(...)``. Catalyst then does the rest of the rule's work on
    its own: it splits the conjunction, pushes the simple range
    conjuncts into the scan (PushedFilters — plan-diff asserted in
    tests/test_plans.py) and leaves the higher-order-function ray-cast,
    which no data source can evaluate, as the residual filter over the
    pruned rows.

    This is the PySpark-native injection point for the rewrite: a JVM
    deployment would register the same derivation as a
    ``SparkSessionExtensions`` optimizer rule matching
    Filter(ray_cast) nodes; Python cannot author Catalyst rules, so
    the package routes every geometry predicate through this builder
    instead — same plan, same guarantee, enforced at the API layer."""
    minx, miny, maxx, maxy = bbox_of(points)
    ring = ring_col(points)
    return (
        px.between(minx, maxx)
        & py.between(miny, maxy)
        & point_in_ring(px, py, ring)
    )


def shoelace_area(ring: Column) -> Column:
    """Shoelace polygon area of a closed ring: |Σ (x₁y₂ − x₂y₁)| / 2."""
    n = F.size(ring)
    cross = F.zip_with(
        F.slice(ring, 1, n - 1),
        F.slice(ring, 2, n - 1),
        lambda p1, p2: p1[0] * p2[1] - p2[0] * p1[1],
    )
    return F.abs(F.aggregate(cross, F.lit(0.0), lambda acc, x: acc + x)) / 2.0


_SQL_SHOELACE = """(abs(list_sum(list_transform(
    generate_series(1, len(ring) - 1),
    i -> ring[i][1] * ring[i+1][2] - ring[i+1][1] * ring[i][2]))) / 2.0)"""


@query(
    "geo_point_in_polygon",
    oracle=f"""
    WITH pts AS (
        SELECT p_partkey, (p_retailprice % 40)::DOUBLE AS x,
               (p_size % 40)::DOUBLE AS y
        FROM part
    ),
    ring AS (SELECT {_sql_ring(DIAMOND)} AS r)
    SELECT p_partkey, round(x, 2) AS x, round(y, 2) AS y
    FROM pts, ring
    WHERE x BETWEEN 10 AND 30 AND y BETWEEN 10 AND 30
      AND {_sql_point_in_ring("x", "y", "r")}
    """,
)
def geo_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 exact form (filterBounds, main.py:397): the auto-injected
    bbox prefilter (point_in_polygon_pruned derives DIAMOND's bbox
    10..30 at plan time) followed by the exact ray-cast predicate on
    the survivors. Both stages are native expressions; no UDF, full
    oracle."""
    part = read_table(spark, sf_dir, "part")
    pts = part.select(
        "p_partkey",
        (F.col("p_retailprice") % 40).cast("double").alias("x"),
        (F.col("p_size") % 40).cast("double").alias("y"),
    )
    return (
        pts.filter(point_in_polygon_pruned(F.col("x"), F.col("y"), DIAMOND))
        .select("p_partkey", F.round("x", 2).alias("x"), F.round("y", 2).alias("y"))
    )


@query(
    "geo_polygon_union_bbox",
    oracle=f"""
    WITH geom AS (
        SELECT (l_orderkey // 500) % 5 AS body_id, l_orderkey,
               array_agg([
                   (l_quantity % 30)::DOUBLE, ((l_extendedprice % 3000) / 100)::DOUBLE
               ] ORDER BY l_linenumber, l_quantity, l_extendedprice) AS pts
        FROM lineitem
        WHERE l_orderkey % 500 = 0
        GROUP BY l_orderkey
    ),
    rings AS (SELECT body_id, pts || [pts[1]] AS ring FROM geom)
    SELECT body_id,
           round(min(list_min(list_transform(ring, p -> p[1]))), 4) AS bbox_min_x,
           round(min(list_min(list_transform(ring, p -> p[2]))), 4) AS bbox_min_y,
           round(max(list_max(list_transform(ring, p -> p[1]))), 4) AS bbox_max_x,
           round(max(list_max(list_transform(ring, p -> p[2]))), 4) AS bbox_max_y,
           count(*) AS n_polygons,
           round(sum({_SQL_SHOELACE}), 4) AS total_area
    FROM rings
    GROUP BY body_id
    """,
)
def geo_polygon_union_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/U7: associative polygon-union reduce (main.py:386-388),
    reduced to what the reference actually consumes downstream — the
    union's bounding box (main.py:382) and a size measure. The bbox of
    a union is the elementwise min/max over member bboxes: an ordinary
    distributive aggregate (map-side partial, one shuffle of 4 doubles
    per key). Area is the shoelace sum per member (overlap-naive —
    the exact union area/boundary run the native clipping kernel; see
    geo_polygon_union_boundary)."""
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 500 == 0)
    geom = li.groupBy(
        (F.floor(F.col("l_orderkey") / 500) % 5).alias("body_id"),
        F.col("l_orderkey"),
    ).agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "l_linenumber",
                        "l_quantity",
                        "l_extendedprice",
                        F.array(
                            (F.col("l_quantity") % 30).cast("double"),
                            ((F.col("l_extendedprice") % 3000) / 100).cast("double"),
                        ).alias("p"),
                    )
                )
            ),
            lambda s: s["p"],
        ).alias("pts")
    )
    rings = geom.select(
        "body_id",
        F.concat(F.col("pts"), F.array(F.element_at("pts", 1))).alias("ring"),
    )
    xs = F.transform("ring", lambda p: p[0])
    ys = F.transform("ring", lambda p: p[1])
    return rings.groupBy("body_id").agg(
        F.round(F.min(F.array_min(xs)), 4).alias("bbox_min_x"),
        F.round(F.min(F.array_min(ys)), 4).alias("bbox_min_y"),
        F.round(F.max(F.array_max(xs)), 4).alias("bbox_max_x"),
        F.round(F.max(F.array_max(ys)), 4).alias("bbox_max_y"),
        F.count(F.lit(1)).alias("n_polygons"),
        F.round(F.sum(shoelace_area(F.col("ring"))), 4).alias("total_area"),
    )


#: rasterized-union grid: the demo coordinate space is [0, 30)²
#: (x = l_quantity % 30, y = (l_extendedprice % 3000) / 100), so a
#: 30×30 unit-cell lattice covers it exactly.
GRID_N = 30


def rasterized_union_cells(body: DataFrame, grid_n: int = GRID_N) -> DataFrame:
    """Exact (cell-accurate) polygon UNION over a ring set, no
    geometry library: rasterize each body's rings onto a unit lattice
    — a cell belongs to the union iff its center is inside ANY ring
    (per-ring even-odd ray-cast, OR across rings). Overlapping rings
    therefore count interior cells ONCE; the emitted
    ``overlap_cells = member_cells − union_cells`` is exactly the
    double-count that the shoelace-sum in geo_polygon_union_bbox
    cannot see (ref main.py:386-388 gets the same answer via
    shapely's planar union).

    Input: (body_id, rs array<ring>, n_polygons). All per-cell math
    is Catalyst HOF expressions (no UDF, whole-stage codegen).

    Scale: the cell relation is |bodies| × grid_n² narrow rows —
    embarrassingly parallel, no join; rings ride along as one array
    column per body (unioning thousands of rings per body at fine
    resolution would instead explode rings and cells separately and
    equi-join on the cell's ring-bbox bucket, the standard raster
    spatial-join layout). One shuffle: the final per-body count
    aggregate, map-side combined."""
    cells = body.select(
        "body_id",
        "n_polygons",
        "rs",
        F.explode(F.sequence(F.lit(0), F.lit(grid_n - 1))).alias("gx"),
    ).select(
        "body_id",
        "n_polygons",
        "rs",
        "gx",
        F.explode(F.sequence(F.lit(0), F.lit(grid_n - 1))).alias("gy"),
    )
    cx = F.col("gx") + F.lit(0.5)
    cy = F.col("gy") + F.lit(0.5)
    hits = F.size(F.filter("rs", lambda r: point_in_ring(cx, cy, r)))
    per_cell = cells.select("body_id", "n_polygons", hits.alias("hits"))
    return (
        per_cell.groupBy("body_id", "n_polygons")
        .agg(
            F.sum(F.when(F.col("hits") > 0, 1).otherwise(0))
            .cast("long")
            .alias("union_cells"),
            F.sum("hits").cast("long").alias("member_cells"),
        )
        .withColumn(
            "overlap_cells",
            (F.col("member_cells") - F.col("union_cells")).cast("long"),
        )
    )


@query(
    "geo_polygon_union_exact",
    oracle=f"""
    WITH geom AS (
        SELECT (l_orderkey // 500) % 5 AS body_id, l_orderkey,
               array_agg([
                   (l_quantity % 30)::DOUBLE, ((l_extendedprice % 3000) / 100)::DOUBLE
               ] ORDER BY l_linenumber, l_quantity, l_extendedprice) AS pts
        FROM lineitem
        WHERE l_orderkey % 500 = 0
        GROUP BY l_orderkey
    ),
    rings AS (SELECT body_id, pts || [pts[1]] AS ring FROM geom),
    body AS (SELECT body_id, array_agg(ring) AS rs,
                    count(*) AS n_polygons
             FROM rings GROUP BY body_id),
    grid AS (
        SELECT gx + 0.5 AS cx, gy + 0.5 AS cy
        FROM generate_series(0, {GRID_N - 1}) AS a(gx),
             generate_series(0, {GRID_N - 1}) AS b(gy)
    ),
    cells AS (
        SELECT body_id, n_polygons,
               len(list_filter(rs,
                   r -> {_sql_point_in_ring("cx", "cy", "r")})) AS hits
        FROM body, grid
    )
    SELECT body_id, n_polygons,
           sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END)::BIGINT AS union_cells,
           sum(hits)::BIGINT AS member_cells,
           (sum(hits) - sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END))::BIGINT
               AS overlap_cells
    FROM cells
    GROUP BY body_id, n_polygons
    """,
)
def geo_polygon_union_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/U7 exact form (main.py:386-388 ``reduce(union)``): the true
    union MEASURE of each body's overlapping ring set via even-odd
    rasterization — closes the one semantic gap of
    geo_polygon_union_bbox, whose shoelace sum double-counts interior
    overlap (reported here as overlap_cells)."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 500 == 0
    )
    geom = li.groupBy(
        (F.floor(F.col("l_orderkey") / 500) % 5).alias("body_id"),
        F.col("l_orderkey"),
    ).agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "l_linenumber",
                        "l_quantity",
                        "l_extendedprice",
                        F.array(
                            (F.col("l_quantity") % 30).cast("double"),
                            ((F.col("l_extendedprice") % 3000) / 100).cast("double"),
                        ).alias("p"),
                    )
                )
            ),
            lambda s: s["p"],
        ).alias("pts")
    )
    rings = geom.select(
        "body_id",
        F.concat(F.col("pts"), F.array(F.element_at("pts", 1))).alias("ring"),
    )
    body = rings.groupBy("body_id").agg(
        F.collect_list("ring").alias("rs"),
        F.count(F.lit(1)).alias("n_polygons"),
    )
    return rasterized_union_cells(body)
