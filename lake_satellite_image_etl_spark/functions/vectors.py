"""Vector math over ``embeddings.embedding`` (array<float>) —
SURVEY.md §2.8 EXT, the LLM-pipeline vector block.

Design rule for exactness: embeddings are **quantized to integers**
(``round(x * 10000)`` per component — float32 inputs carry ~7
significant digits, so 4 decimal places preserve the signal) and every
dot product / norm is integer arithmetic, which is exact and
engine-independent. Doubles appear only in the final sqrt/divide,
where IEEE-correct rounding makes both engines bit-identical.
Without quantization, float summation-order differences between
engines would leak into low-order bits and break the value hash.

All expressions are JVM-side array HOFs (``zip_with``/``aggregate``
equivalents) — no Python in the hot path; a 100 TB scan of embeddings
stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lake_satellite_image_etl_spark.io import read_table
from lake_satellite_image_etl_spark.registry import query

QUANT = 10000

#: DuckDB fragment — MUST mirror qvec_of() exactly.
SQL_QVEC = f"list_transform(embedding, x -> round(x::DOUBLE * {QUANT})::BIGINT)"


def qvec_of(c: Column) -> Column:
    """Quantized integer vector: round(x*10000) per component."""
    return F.transform(
        c, lambda x: F.round(x.cast("double") * QUANT, 0).cast("long")
    )


def dot_long(a: Column, b: Column) -> Column:
    """Exact integer dot product of two quantized vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of quantized vectors — exact integer dots,
    one IEEE sqrt/divide at the end (identical across engines).

    NOTE: recomputes both norms per call. In pairwise joins use
    ``norm`` to precompute each side's norm ONCE per vector and divide
    by the product — same doubles (identical op order), 3× less work.
    """
    return dot_long(a, b).cast("double") / (norm(a) * norm(b))


def norm(a: Column) -> Column:
    """L2 norm of a quantized vector (double)."""
    return F.sqrt(dot_long(a, a).cast("double"))


def sql_norm(a: str) -> str:
    return f"sqrt({sql_dot(a, a)}::DOUBLE)"


# DuckDB mirrors of dot_long/cosine over list columns.
def sql_dot(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> {a}[i] * {b}[i]))::BIGINT"
    )


def sql_cosine(a: str, b: str) -> str:
    return (
        f"({sql_dot(a, b)}::DOUBLE / "
        f"(sqrt({sql_dot(a, a)}::DOUBLE) * sqrt({sql_dot(b, b)}::DOUBLE)))"
    )


@query(
    "vector_norms",
    oracle=f"""
    WITH q AS (SELECT vec_id, label, {SQL_QVEC} AS qv FROM embeddings)
    SELECT vec_id, label,
           len(qv)::BIGINT AS dim,
           {sql_dot("qv", "qv")} AS l2sq_q,
           round(sqrt({sql_dot("qv", "qv")}::DOUBLE) / {QUANT}, 6) AS l2_norm,
           round(list_sum(qv)::DOUBLE / len(qv) / {QUANT}, 6) AS mean_component,
           (list_max(qv))::BIGINT AS max_q,
           (list_min(qv))::BIGINT AS min_q
    FROM q
    """,
)
def vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector statistics: dimension, exact quantized L2², L2 norm,
    component mean, min/max. One narrow map stage — scan speed."""
    emb = read_table(spark, sf_dir, "embeddings")
    qv = qvec_of(F.col("embedding"))
    df = emb.select("vec_id", "label", qv.alias("qv"))
    l2sq = dot_long(F.col("qv"), F.col("qv"))
    return df.select(
        "vec_id",
        "label",
        F.size("qv").cast("long").alias("dim"),
        l2sq.alias("l2sq_q"),
        F.round(F.sqrt(l2sq.cast("double")) / QUANT, 6).alias("l2_norm"),
        F.round(
            F.aggregate(
                F.col("qv"), F.lit(0).cast("long"), lambda a, x: a + x
            ).cast("double")
            / F.size("qv")
            / QUANT,
            6,
        ).alias("mean_component"),
        F.array_max("qv").cast("long").alias("max_q"),
        F.array_min("qv").cast("long").alias("min_q"),
    )


@query(
    "vector_centroid_cosine",
    oracle=f"""
    WITH q AS (SELECT vec_id, label, {SQL_QVEC} AS qv FROM embeddings),
    e AS (
        SELECT vec_id, label,
               unnest(qv) AS qc,
               unnest(generate_series(1, len(qv))) AS pos
        FROM q
    ),
    comp AS (
        SELECT label, pos, sum(qc)::BIGINT AS sq FROM e GROUP BY label, pos
    ),
    cent AS (
        SELECT label, array_agg(sq ORDER BY pos) AS cq FROM comp GROUP BY label
    )
    SELECT q.vec_id, q.label,
           round({sql_cosine("q.qv", "cent.cq")}, 6) AS cos_to_centroid
    FROM q JOIN cent ON q.label = cent.label
    """,
)
def vector_centroid_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine of each vector to its label centroid.

    The centroid is built distributively: posexplode → (label, pos)
    partial sums → re-assembled sorted array. Cosine is taken against
    the *sum* vector (the 1/n scale cancels in cosine), keeping all
    arithmetic exact integers. At 100 TB: the explode shuffles
    (label, pos) pairs — 64·|labels| groups — then the tiny centroid
    table broadcasts back onto the scan; no large shuffle of vectors.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.select("vec_id", "label", qvec_of(F.col("embedding")).alias("qv"))
    e = q.select("vec_id", "label", F.posexplode("qv").alias("pos", "qc"))
    comp = e.groupBy("label", "pos").agg(F.sum("qc").alias("sq"))
    cent = comp.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "sq"))), lambda s: s["sq"]
        ).alias("cq")
    )
    return (
        q.join(F.broadcast(cent), "label")
        .select(
            "vec_id",
            "label",
            F.round(cosine(F.col("qv"), F.col("cq")), 6).alias("cos_to_centroid"),
        )
    )


@query(
    "vector_quantize_int8",
    oracle=f"""
    -- int8 symmetric quantization of each embedding (the ANN-index /
    -- model-weight compression step): code_i =
    -- floor(q_i*127/amax + 0.5) with amax = max|q_i|; error is
    -- measured EXACTLY in scaled integers (|code_i*amax - 127*q_i|)
    -- so no float summation-order leaks into the gate.
    WITH q AS (
        SELECT vec_id, {SQL_QVEC} AS qv FROM embeddings
    ),
    s AS (
        SELECT vec_id, qv,
               list_max(list_transform(qv, x -> abs(x))) AS amax
        FROM q
    ),
    c AS (
        SELECT vec_id, amax,
               list_transform(
                   generate_series(1, len(qv)),
                   i -> floor(qv[i] * 127.0 / amax + 0.5)::BIGINT
               ) AS code,
               qv
        FROM s WHERE amax > 0
    ),
    e AS (
        SELECT vec_id, amax,
               len(code) AS n_dims,
               len(list_filter(code, x -> abs(x) = 127)) AS n_saturated,
               list_max(list_transform(
                   generate_series(1, len(code)),
                   i -> abs(code[i] * amax - 127 * qv[i])
               )) AS max_err_scaled,
               list_sum(list_transform(
                   generate_series(1, len(code)),
                   i -> abs(code[i] * amax - 127 * qv[i])
               ))::BIGINT AS sum_err_scaled
        FROM c
    )
    SELECT vec_id, amax, n_dims, n_saturated,
           -- exact integer round-half-up of err*1e8 in original float
           -- units: (2a*E + b) // (2b); all terms fit int64, so no
           -- float rounding-tie can diverge between engines
           (2 * max_err_scaled * 100000000 + 127 * {QUANT})
               // (2 * 127 * {QUANT}) AS max_abs_err_e8,
           (2 * sum_err_scaled * 100000000 + 127 * {QUANT} * n_dims)
               // (2 * 127 * {QUANT} * n_dims) AS mean_abs_err_e8
    FROM e
    """,
)
def vector_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column with exact
    per-vector reconstruction-error accounting — the compression step
    in front of any large ANN index (4× memory cut for float32), here
    with the error math kept in scaled INTEGERS so it is exact and
    engine-independent.

    Plan: pure narrow array-HOF arithmetic per row — no shuffle, no
    Python; at 100 TB this runs at scan speed and writes a column 4×
    smaller. Rounding is floor(x+0.5) (not ``round``) because
    half-even vs half-up tie behavior differs across engines; floor
    is IEEE-exact everywhere."""
    emb = read_table(spark, sf_dir, "embeddings")
    qv = qvec_of(F.col("embedding"))
    s = emb.select("vec_id", qv.alias("qv")).withColumn(
        "amax",
        F.array_max(F.transform(F.col("qv"), lambda x: F.abs(x))),
    ).filter(F.col("amax") > 0)
    code = F.transform(
        F.col("qv"),
        lambda x: F.floor(
            x * 127.0 / F.col("amax") + 0.5
        ).cast("long"),
    )
    c = s.withColumn("code", code)
    err = F.zip_with(
        F.col("code"),
        F.col("qv"),
        lambda cd, q: F.abs(cd * F.col("amax") - 127 * q),
    )
    e = c.select(
        "vec_id",
        "amax",
        F.size("code").alias("n_dims"),
        F.size(
            F.filter(F.col("code"), lambda x: F.abs(x) == 127)
        ).alias("n_saturated"),
        F.array_max(err).alias("max_err_scaled"),
        F.aggregate(
            err, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("sum_err_scaled"),
    )
    return e.select(
        "vec_id",
        "amax",
        "n_dims",
        "n_saturated",
        F.expr(
            f"(2 * max_err_scaled * 100000000 + 127 * {QUANT}) "
            f"div (2 * 127 * {QUANT})"
        ).alias("max_abs_err_e8"),
        F.expr(
            f"(2 * sum_err_scaled * 100000000 + 127 * {QUANT} * n_dims) "
            f"div (2 * 127 * {QUANT} * n_dims)"
        ).alias("mean_abs_err_e8"),
    )


@query(
    "vector_standardize",
    oracle=f"""
    -- per-dimension feature standardization (z-scoring) of the
    -- embedding matrix — the preprocessing step before PCA/clustering
    -- /linear probes. Exactness: component sums and sum-of-squares
    -- are INTEGER (quantized vectors), so mean and variance are
    -- rationals realized in a fixed op order; z and the output
    -- round(…, 6) follow identically on any engine.
    WITH q AS (SELECT vec_id, {SQL_QVEC} AS qv FROM embeddings),
    e AS (
        SELECT vec_id, unnest(qv) AS c,
               unnest(generate_series(1, len(qv))) AS pos
        FROM q
    ),
    stats AS (
        SELECT pos, count(*)::BIGINT AS n, sum(c)::BIGINT AS s,
               sum(c * c)::BIGINT AS s2
        FROM e GROUP BY pos
    ),
    z AS (
        SELECT e.vec_id, e.pos,
               (e.c - stats.s::DOUBLE / stats.n)
               / sqrt((stats.s2::DOUBLE - stats.s::DOUBLE * stats.s
                                          / stats.n) / stats.n) AS zc
        FROM e JOIN stats USING (pos)
    )
    SELECT vec_id,
           round(sum(zc * zc), 6) AS z_norm2,
           round(min(zc), 6) AS z_min,
           round(max(zc), 6) AS z_max
    FROM z GROUP BY vec_id
    """,
)
def vector_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-scoring of the embedding matrix (population
    mean/std per component), returning per-vector summaries of the
    standardized matrix (squared norm, extremes) — the scaling step every downstream PCA / k-means /
    linear-probe run assumes.

    Scale shape: ONE posexplode + aggregation produces a
    DIM-row stats table (integer sums — partial aggregation collapses
    map-side), broadcast back onto the same exploded stream; the
    per-vector regroup is one shuffle keyed by vec_id. At 100 TB the
    stats table is still {DIM} rows."""
    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.select("vec_id", qvec_of(F.col("embedding")).alias("qv"))
    e = q.select("vec_id", F.posexplode("qv").alias("pos0", "c")).select(
        "vec_id", (F.col("pos0") + 1).alias("pos"), "c"
    )
    stats = e.groupBy("pos").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = (
        F.col("s2").cast("double")
        - F.col("s").cast("double") * F.col("s") / F.col("n")
    ) / F.col("n")
    z = e.join(F.broadcast(stats), "pos").select(
        "vec_id",
        "pos",
        ((F.col("c") - mean) / F.sqrt(var)).alias("zc"),
    )
    # scalar per-vector outputs (double ARRAYS are unhashable in the
    # driver's value gate); the z-matrix itself is the `z` projection.
    return z.groupBy("vec_id").agg(
        F.round(F.sum(F.col("zc") * F.col("zc")), 6).alias("z_norm2"),
        F.round(F.min("zc"), 6).alias("z_min"),
        F.round(F.max("zc"), 6).alias("z_max"),
    )


#: number of top-|correlation| dimension pairs reported.
COV_TOP_K = 20


@query(
    "stats_covariance_topk",
    oracle=f"""
    -- top-{COV_TOP_K} most-correlated embedding dimension pairs — the
    -- covariance-matrix summary that feeds PCA / redundancy pruning.
    -- All sufficient statistics are INTEGER sums over quantized
    -- components; covariance and correlation are fixed-op-order
    -- rationals, so ranking and rounding agree across engines.
    WITH q AS (SELECT vec_id, {SQL_QVEC} AS qv FROM embeddings),
    e AS (
        SELECT vec_id, unnest(qv) AS c,
               unnest(generate_series(1, len(qv))) AS pos
        FROM q
    ),
    s1 AS (
        SELECT pos, count(*)::BIGINT AS n, sum(c)::BIGINT AS s,
               sum(c * c)::BIGINT AS s2
        FROM e GROUP BY pos
    ),
    s12 AS (
        SELECT a.pos AS i, b.pos AS j, sum(a.c * b.c)::BIGINT AS sij,
               count(*)::BIGINT AS n
        FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.pos < b.pos
        GROUP BY 1, 2
    ),
    cv AS (
        SELECT s12.i, s12.j,
               (s12.sij::DOUBLE - sa.s::DOUBLE * sb.s / s12.n) / s12.n
                   AS cov,
               ((s12.sij::DOUBLE - sa.s::DOUBLE * sb.s / s12.n) / s12.n)
               / (sqrt((sa.s2::DOUBLE - sa.s::DOUBLE * sa.s / sa.n) / sa.n)
                  * sqrt((sb.s2::DOUBLE - sb.s::DOUBLE * sb.s / sb.n)
                         / sb.n)) AS corr
        FROM s12
        JOIN s1 sa ON sa.pos = s12.i
        JOIN s1 sb ON sb.pos = s12.j
    )
    SELECT i, j, round(cov, 6) AS cov, round(corr, 6) AS corr,
           row_number() OVER (ORDER BY abs(corr) DESC, i, j) AS rank
    FROM cv
    ORDER BY abs(corr) DESC, i, j
    LIMIT {COV_TOP_K}
    """,
)
def stats_covariance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{COV_TOP_K} most-correlated embedding dimension pairs —
    the covariance summary PCA / feature-redundancy pruning starts
    from, next to `vector_standardize`.

    Scale shape: the d²/2 pair products come from ONE self-join of the
    exploded components on vec_id (map-side work n·d²/2, collapsed by
    partial aggregation to a d²/2-row integer table before the
    shuffle); per-dim stats are the same DIM-row table
    vector_standardize builds. The final ranking is TakeOrdered over
    d²/2 rows — never a global sort of data. n·d² is the inherent
    cost of an exact covariance matrix; for wide d you sample rows
    (statistics, not plumbing, bounds the error)."""
    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.select("vec_id", qvec_of(F.col("embedding")).alias("qv"))
    e = q.select("vec_id", F.posexplode("qv").alias("pos0", "c")).select(
        "vec_id", (F.col("pos0") + 1).alias("pos"), "c"
    )
    s1 = e.groupBy("pos").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
    )
    a = e.select("vec_id", F.col("pos").alias("i"), F.col("c").alias("ca"))
    b = e.select("vec_id", F.col("pos").alias("j"), F.col("c").alias("cb"))
    s12 = (
        a.join(b, "vec_id")
        .filter(F.col("i") < F.col("j"))
        .groupBy("i", "j")
        .agg(
            F.sum(F.col("ca") * F.col("cb")).cast("long").alias("sij"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    sa = s1.select(
        F.col("pos").alias("i"),
        F.col("s").alias("s_a"),
        F.col("s2").alias("s2_a"),
        F.col("n").alias("n_a"),
    )
    sb = s1.select(
        F.col("pos").alias("j"),
        F.col("s").alias("s_b"),
        F.col("s2").alias("s2_b"),
        F.col("n").alias("n_b"),
    )
    cov = (
        F.col("sij").cast("double")
        - F.col("s_a").cast("double") * F.col("s_b") / F.col("n")
    ) / F.col("n")
    std_a = F.sqrt(
        (
            F.col("s2_a").cast("double")
            - F.col("s_a").cast("double") * F.col("s_a") / F.col("n_a")
        )
        / F.col("n_a")
    )
    std_b = F.sqrt(
        (
            F.col("s2_b").cast("double")
            - F.col("s_b").cast("double") * F.col("s_b") / F.col("n_b")
        )
        / F.col("n_b")
    )
    cv = (
        s12.join(F.broadcast(sa), "i")
        .join(F.broadcast(sb), "j")
        .select("i", "j", cov.alias("cov"), (cov / (std_a * std_b)).alias("corr"))
    )
    w = Window.orderBy(F.abs(F.col("corr")).desc(), "i", "j")
    return (
        cv.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= COV_TOP_K)
        .select(
            "i",
            "j",
            F.round("cov", 6).alias("cov"),
            F.round("corr", 6).alias("corr"),
            "rank",
        )
    )
