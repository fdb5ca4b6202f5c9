"""Property-based tests (hypothesis) for the pure-python kernel math —
fast, no JVM: the ray-casting point test against an independent
half-plane reference on convex polygons, and container round-trips.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from lake_satellite_image_etl_spark.multimodal.audio import (
    decode_fwav,
    encode_fwav,
)
from lake_satellite_image_etl_spark.multimodal.images import (
    decode_fimg,
    encode_fimg,
)
from lake_satellite_image_etl_spark.multimodal.raster import _point_in_polygon


@st.composite
def convex_polygon(draw):
    """A convex polygon: random radii around a circle, sorted by angle."""
    n = draw(st.integers(min_value=3, max_value=8))
    angles = np.sort(
        np.array(
            draw(
                st.lists(
                    st.floats(0.01, 2 * np.pi - 0.01),
                    min_size=n, max_size=n, unique=True,
                )
            )
        )
    )
    r = draw(st.floats(min_value=1.0, max_value=10.0))
    pts = [(r * np.cos(a) + 12.0, r * np.sin(a) + 12.0) for a in angles]
    return pts


def _halfplane_inside(px: float, py: float, poly) -> bool:
    """Reference: a point is inside a CCW convex polygon iff it is on
    the left of every edge (strictly, for robustness away from edges)."""
    n = len(poly)
    for i in range(n):
        x1, y1 = poly[i]
        x2, y2 = poly[(i + 1) % n]
        cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
        if cross <= 0:
            return False
    return True


@settings(max_examples=50, deadline=None)
@given(
    poly=convex_polygon(),
    px=st.floats(min_value=0.0, max_value=24.0),
    py=st.floats(min_value=0.0, max_value=24.0),
)
def test_ray_cast_matches_halfplane_on_convex(poly, px, py):
    # skip points near any edge (both methods are boundary-ambiguous)
    n = len(poly)
    for i in range(n):
        x1, y1 = poly[i]
        x2, y2 = poly[(i + 1) % n]
        ex, ey = x2 - x1, y2 - y1
        elen = np.hypot(ex, ey)
        dist = abs(ex * (py - y1) - ey * (px - x1)) / max(elen, 1e-9)
        if dist < 1e-3:
            return
    got = bool(_point_in_polygon(np.array([px]), np.array([py]), poly)[0])
    exp = _halfplane_inside(px, py, poly)
    assert got == exp


@settings(max_examples=30, deadline=None)
@given(
    c=st.integers(1, 4),
    h=st.integers(1, 16),
    w=st.integers(1, 16),
    seed=st.integers(0, 2**31 - 1),
)
def test_fimg_roundtrip_property(c, h, w, seed):
    rng = np.random.RandomState(seed)
    arr = rng.randint(0, 256, size=(c, h, w), dtype=np.uint8)
    assert np.array_equal(decode_fimg(encode_fimg(arr)), arr)


@settings(max_examples=30, deadline=None)
@given(
    n=st.integers(1, 4096),
    sr=st.integers(8000, 48000),
    seed=st.integers(0, 2**31 - 1),
)
def test_fwav_roundtrip_property(n, sr, seed):
    rng = np.random.RandomState(seed)
    wave = rng.randint(-32768, 32768, size=n).astype(np.int16)
    back, got_sr = decode_fwav(encode_fwav(wave, sr))
    assert got_sr == sr and np.array_equal(back, wave)


@settings(max_examples=40, deadline=None)
@given(
    n=st.integers(1, 20),
    dim=st.integers(1, 16),
    n_planes=st.integers(1, 4),
    band_bits=st.integers(1, 4),
    seed=st.integers(0, 2**31 - 1),
)
def test_band_keys_numpy_matches_naive(n, dim, n_planes, band_bits, seed):
    """The vectorized LSH band-key matmul equals a naive per-row,
    per-plane Python-int reference — including the proj == 0 boundary
    (sign rule is >= 0) and arbitrary geometry."""
    from lake_satellite_image_etl_spark.operators.dedup import band_keys_numpy

    n_planes = n_planes * band_bits  # must divide evenly
    rng = np.random.RandomState(seed)
    qv = rng.randint(-10_000, 10_001, size=(n, dim)).astype(np.int64)
    planes = rng.randint(-1000, 1001, size=(n_planes, dim)).astype(np.int64)
    # force some exact-zero projections to pin the >= 0 boundary
    if n >= 2:
        qv[1] = 0
    got = band_keys_numpy(qv, planes, band_bits)
    for i in range(n):
        for b in range(n_planes // band_bits):
            key = 0
            for k in range(band_bits):
                proj = sum(
                    int(qv[i][d]) * int(planes[b * band_bits + k][d])
                    for d in range(dim)
                )
                if proj >= 0:
                    key += 1 << k
            assert int(got[i][b]) == key, (i, b)


@settings(max_examples=40, deadline=None)
@given(
    lists=st.lists(
        st.lists(st.integers(0, 2**60 - 1), min_size=0, max_size=12),
        min_size=1,
        max_size=10,
    ),
)
def test_simhash_numpy_matches_naive(lists):
    """The reduceat-based simhash fold equals a naive per-doc loop —
    including empty hash lists (all 60 bits set) and mixed-length
    batches, the cases the segment bookkeeping can get wrong."""
    from lake_satellite_image_etl_spark.operators.dedup import (
        SIMHASH_BITS,
        simhash_numpy,
    )

    got = simhash_numpy([np.array(h, dtype=np.int64) for h in lists])
    for i, hashes in enumerate(lists):
        expected = 0
        for b in range(SIMHASH_BITS):
            s = sum(1 if (h >> b) & 1 else -1 for h in hashes)
            if s >= 0:
                expected += 1 << b
        assert int(got[i]) == expected, i


def test_percentile_approx_bounds(spark):
    """The sharper PER-VALUE accuracy check behind
    agg_percentile_approx (whose gate row now carries the embedded
    rank-error VERDICT boolean, r10): every raw GK approx value must
    land between the exact percentiles at p ± 0.01 (accuracy
    parameter 1000 → rank error ≤ 1/1000, tested at 10× slack).
    Computes the sketch directly — the registry entry no longer
    exposes the engine-specific approx values."""
    import numpy as np
    from pyspark.sql import functions as F

    from tests.conftest import SF_ORACLE
    from lake_satellite_image_etl_spark.io import read_table
    from lake_satellite_image_etl_spark.operators.aggregates import (
        PCTL_ACCURACY,
        PCTL_PS,
    )

    li = read_table(spark, SF_ORACLE, "lineitem")
    got = (
        li.groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            F.percentile_approx(
                "l_extendedprice", list(PCTL_PS), PCTL_ACCURACY
            ).alias("qs")
        )
        .select("flag", F.posexplode("qs").alias("p_idx", "approx_price"))
        .collect()
    )
    pli = li.select("l_returnflag", "l_extendedprice").toPandas()
    for r in got:
        xs = np.sort(
            pli[pli["l_returnflag"] == r["flag"]]["l_extendedprice"].values
        )
        p = PCTL_PS[r["p_idx"]]
        lo = xs[max(0, int(np.floor((p - 0.01) * (len(xs) - 1))))]
        hi = xs[min(len(xs) - 1, int(np.ceil((p + 0.01) * (len(xs) - 1))))]
        assert lo <= r["approx_price"] <= hi, (r, lo, hi)


def test_percentile_approx_gate_verdicts_all_true(spark):
    """The embedded-verdict entry itself: every within_bounds flag
    must be TRUE on the fixture (the oracle emits literal TRUE, so a
    FALSE here is exactly what would turn the driver row red)."""
    from tests.conftest import SF_ORACLE
    from lake_satellite_image_etl_spark.operators.aggregates import (
        agg_percentile_approx,
    )

    rows = agg_percentile_approx(spark, SF_ORACLE).collect()
    assert rows and all(r["within_bounds"] for r in rows), rows


def test_wordpiece_greedy_longest_match_and_fallback(spark):
    """Pin the segmentation rule itself: 'scan' must take the 4-char
    piece even though 'sc' is also in the vocab (longest match wins),
    and 'dup' must fall back to a single char + 'up' (no piece covers
    its head). Fertility/piece counts derive from these."""
    from pyspark.sql import functions as F

    from lake_satellite_image_etl_spark.functions.text import _WP_FOLD

    df = spark.createDataFrame(
        [("scan",), ("dup",), ("customer",), ("a",)], "word string"
    ).select("word", F.expr(_WP_FOLD).alias("pc"))
    got = {r["word"]: r["pc"] for r in df.collect()}
    assert got["scan"] == ["scan"]
    assert got["dup"] == ["d", "up"]
    assert got["customer"] == ["cust", "omer"]
    assert got["a"] == ["a"]


def test_wordpiece_overlong_word_fails_loudly(spark):
    """A word longer than WP_MAX_WORD fold steps must raise, not emit
    a silently-truncated piece stream that diverges from the oracle's
    unbounded recursion (ADVICE r7)."""
    import pytest
    from pyspark.sql import functions as F

    from lake_satellite_image_etl_spark.functions.text import (
        _WP_FOLD,
        WP_MAX_WORD,
    )

    # every char is a 1-step fallback piece, so this needs
    # WP_MAX_WORD+1 steps — one past the fold cap.
    long_word = "z" * (WP_MAX_WORD + 1)
    df = spark.createDataFrame([(long_word,)], "word string").select(
        F.expr(_WP_FOLD).alias("pc")
    )
    with pytest.raises(Exception, match="wordpiece: word longer than"):
        df.collect()

    # exactly at the cap still segments fully
    at_cap = "z" * WP_MAX_WORD
    ok = (
        spark.createDataFrame([(at_cap,)], "word string")
        .select(F.expr(_WP_FOLD).alias("pc"))
        .collect()
    )
    assert ok[0]["pc"] == list(at_cap)


def test_standardized_dimensions_have_zero_mean_unit_variance(spark):
    """Column-wise invariant of vector_standardize: each dimension of
    the standardized matrix must have mean ~0 and variance ~1 (checked
    by recomputing from the z projection independently)."""
    from pyspark.sql import functions as F

    from lake_satellite_image_etl_spark.functions.vectors import qvec_of
    from lake_satellite_image_etl_spark.io import read_table
    from tests.conftest import SF_ORACLE

    emb = read_table(spark, SF_ORACLE, "embeddings")
    q = emb.select("vec_id", qvec_of(F.col("embedding")).alias("qv"))
    e = q.select(F.posexplode("qv").alias("pos", "c"))
    stats = e.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("c").alias("m"),
        F.var_pop("c").alias("v"),
    )
    z = (
        e.join(stats, "pos")
        .select("pos", ((F.col("c") - F.col("m")) / F.sqrt("v")).alias("zc"))
        .groupBy("pos")
        .agg(F.avg("zc").alias("zm"), F.var_pop("zc").alias("zv"))
        .collect()
    )
    assert all(abs(r["zm"]) < 1e-9 and abs(r["zv"] - 1) < 1e-9 for r in z)


def test_dot_long_matches_numpy_einsum(spark):
    """dot_long (Catalyst zip_with+aggregate fold) must be bit-identical
    to an int64 numpy einsum of the same rows — ivf_assign ranks with
    one int64 numpy matmul in place of dot_long without moving a single
    oracle hash. Includes negatives and centroid-scale magnitudes (sums
    of ~10^4-quantized components)."""
    import random

    from pyspark.sql import functions as F

    from lake_satellite_image_etl_spark.functions.vectors import dot_long

    rng = random.Random(11)
    rows = [
        (
            i,
            [rng.randint(-4 * 10**6, 4 * 10**6) for _ in range(64)],
            [rng.randint(-15000, 15000) for _ in range(64)],
        )
        for i in range(500)
    ]
    df = spark.createDataFrame(
        rows, "id long, a array<long>, b array<long>"
    )
    got = {
        r["id"]: r["hof"]
        for r in df.select(
            "id", dot_long(F.col("a"), F.col("b")).alias("hof")
        ).collect()
    }
    a = np.array([r[1] for r in rows], dtype=np.int64)
    b = np.array([r[2] for r in rows], dtype=np.int64)
    want = np.einsum("ij,ij->i", a, b)
    assert [got[i] for i in range(len(rows))] == want.tolist()
