"""Golden-raster unit tests for the multimodal kernel surface
(SURVEY.md §5 item 2): hand-computed 4×4 rasters reproducing the
reference's numpy semantics (main.py:247-281) — nodata exclusion,
int-truncated white thresholds 153/25, max==0 out-of-bounds — plus
the clip/thumbnail/stack kernels and the FIMG image kernels.

The scalar kernels are exercised twice: directly through the pandas
functions (no JVM — the golden check) and end-to-end through Spark
(the plumbing check)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tests.conftest import SF_SMOKE

from lake_satellite_image_etl_spark.multimodal import images as im
from lake_satellite_image_etl_spark.multimodal import raster as rk


def golden_image() -> np.ndarray:
    """3×4×4 uint8 image with one nodata pixel, two white pixels, and
    hand-checkable channel values."""
    red = np.array(
        [[0, 230, 160, 100], [50, 60, 70, 80], [90, 100, 110, 120], [1, 2, 3, 4]],
        dtype=np.uint8,
    )
    green = np.array(
        [[0, 225, 160, 150], [55, 65, 75, 85], [95, 105, 115, 125], [5, 6, 7, 8]],
        dtype=np.uint8,
    )
    blue = np.array(
        [[0, 220, 190, 140], [53, 63, 73, 83], [93, 103, 113, 123], [200, 201, 202, 203]],
        dtype=np.uint8,
    )
    # pixel (0,0) = (0,0,0)       → out-of-bounds (max == 0)
    # pixel (0,1) = (230,225,220) → white (min 220 ≥ 153, spread 10 ≤ 25)
    # pixel (3,3) = (4,8,203)     → in-bounds, not white
    img = np.stack([red, green, blue])
    # plant a second white pixel at (2,3): close channels ≥ 153
    img[:, 2, 3] = (180, 170, 165)
    return img


def expected_channel_means(img: np.ndarray) -> list[float]:
    return [float(np.mean(c[c != 0])) for c in img]


def expected_white_fraction(img: np.ndarray) -> float:
    t = img.transpose((2, 1, 0))
    oob = t.max(2) == 0
    white = (t.min(2) >= 153) & ((t.max(2) - t.min(2)) <= 25)
    return float(white.sum() / (oob.size - oob.sum()))


def _call_means(img: np.ndarray):
    h, w = img.shape[1], img.shape[2]
    return rk.channel_means.func(
        pd.Series([img.tobytes()]), pd.Series([w]), pd.Series([h]),
        pd.Series([img.shape[0]]),
    ).iloc[0]


def _call_white(img: np.ndarray):
    h, w = img.shape[1], img.shape[2]
    return rk.white_fraction.func(
        pd.Series([img.tobytes()]), pd.Series([w]), pd.Series([h]),
        pd.Series([img.shape[0]]),
    ).iloc[0]


def test_channel_means_golden():
    img = golden_image()
    got = _call_means(img)
    exp = expected_channel_means(img)
    assert got == pytest.approx(exp)
    # hand value: red channel nonzero mean
    red = img[0]
    assert got[0] == pytest.approx(red[red != 0].mean())


def test_channel_means_all_nodata_is_null():
    img = np.zeros((3, 2, 2), dtype=np.uint8)
    assert all(v is None for v in _call_means(img))


def test_white_fraction_golden():
    img = golden_image()
    # 16 pixels, 1 out-of-bounds, 2 white → 2/15
    assert _call_white(img) == pytest.approx(2 / 15)
    assert _call_white(img) == pytest.approx(expected_white_fraction(img))


def test_white_thresholds_are_int_truncated():
    """main.py:277 uses int(0.6*255)=153 and int(0.1*255)=25 — a pixel
    at exactly (153,153,178) is white; (152,...) is not."""
    img = np.full((3, 1, 1), 153, dtype=np.uint8)
    img[2, 0, 0] = 178  # spread exactly 25
    assert _call_white(img) == pytest.approx(1.0)
    img[0, 0, 0] = 152  # min below threshold
    assert _call_white(img) == pytest.approx(0.0)
    img2 = np.full((3, 1, 1), 160, dtype=np.uint8)
    img2[2, 0, 0] = 186  # spread 26 > 25
    assert _call_white(img2) == pytest.approx(0.0)


def test_kernel_matches_relational_twin():
    """The UDF kernels and the relational A2/A3 forms (long pixel
    table) must agree on the same synthetic raster."""
    img = rk.synth_band_array(3, 0, 16, 16)
    full = np.stack(
        [rk.synth_band_array(3, b, 16, 16) for b in range(3)]
    )
    means = _call_means(full)
    # relational twin: avg(when(px != 0, px)) per channel
    for b in range(3):
        px = full[b].ravel().astype(float)
        rel = px[px != 0].mean()
        assert means[b] == pytest.approx(rel)
    wf = _call_white(full)
    t = full.transpose((2, 1, 0))
    lo, hi = t.min(2), t.max(2)
    rel_wf = ((lo >= 153) & (hi - lo <= 25)).sum() / (hi != 0).sum()
    assert wf == pytest.approx(rel_wf)
    assert img.dtype == np.uint8


def test_clip_crops_and_masks():
    sq = [(4.0, 4.0), (12.0, 4.0), (12.0, 12.0), (4.0, 12.0)]
    inside = rk._point_in_polygon(
        np.array([8.0, 1.0]), np.array([8.0, 1.0]), sq
    )
    assert inside.tolist() == [True, False]


def test_thumbnail_dims_truncate():
    """main.py:290-292: int(width/7) — 16→2, 6→0."""
    img = rk.synth_band_array(1, 0, 16, 16)
    full = np.stack([img] * 3)
    tw, th = int(16 / 7), int(16 / 7)
    assert (tw, th) == (2, 2)
    t = rk.bicubic_resize(full, tw, th)
    assert t.shape == (3, 2, 2)


def _keys_ref(x: float) -> float:
    """Scalar Keys a=-0.5 cubic, written out long-hand as the golden
    reference (independent of the vectorized kernel under test)."""
    a = -0.5
    x = abs(x)
    if x < 1.0:
        return (a + 2.0) * x**3 - (a + 3.0) * x**2 + 1.0
    if x < 2.0:
        return a * x**3 - 5.0 * a * x**2 + 8.0 * a * x - 4.0 * a
    return 0.0


def _bicubic_ref_1d(vals: np.ndarray, out_size: int) -> np.ndarray:
    """Per-output-pixel scalar convolution resample of one row —
    PIL's convolution geometry (stretched kernel, pixel centers,
    normalized taps) written as an explicit loop."""
    in_size = len(vals)
    scale = in_size / out_size
    fs = max(scale, 1.0)
    support = 2.0 * fs
    out = np.zeros(out_size)
    for i in range(out_size):
        center = (i + 0.5) * scale
        xmin = max(int(center - support + 0.5), 0)
        xmax = min(int(center + support + 0.5), in_size)
        ws = [_keys_ref(((x + 0.5) - center) / fs) for x in range(xmin, xmax)]
        tot = sum(ws)
        out[i] = sum(
            w * float(vals[x]) for w, x in zip(ws, range(xmin, xmax))
        ) / tot
    return out


def test_bicubic_golden_against_scalar_convolution():
    """bicubic_resize must agree with an independent per-pixel scalar
    convolution (same Keys a=-0.5 kernel, same PIL geometry) on a
    hand-sized 16→2 downsample, per channel and both axes."""
    rng_img = np.stack(
        [rk.synth_band_array(7, b, 16, 16) for b in range(3)]
    )
    got = rk.bicubic_resize(rng_img, 2, 2)
    for b in range(3):
        # horizontal pass per row, then vertical per column
        hor = np.stack(
            [_bicubic_ref_1d(rng_img[b, y, :], 2) for y in range(16)]
        )  # (16, 2)
        exp = np.stack(
            [_bicubic_ref_1d(hor[:, x], 2) for x in range(2)], axis=1
        )  # (2, 2)
        exp_u8 = np.clip(np.floor(exp + 0.5), 0, 255).astype(np.uint8)
        assert np.array_equal(got[b], exp_u8), (b, got[b], exp_u8)


def test_bicubic_identity_and_constant():
    """scale=1 must be the identity (Keys kernel is interpolating:
    weight 1 at offset 0, 0 at integer offsets); a constant image
    stays constant under any scale (weights are normalized)."""
    img = np.stack([rk.synth_band_array(3, b, 16, 16) for b in range(3)])
    assert np.array_equal(rk.bicubic_resize(img, 16, 16), img)
    const = np.full((2, 11, 13), 137, dtype=np.uint8)
    out = rk.bicubic_resize(const, 3, 5)
    assert out.shape == (2, 5, 3)
    assert np.all(out == 137)


def test_bicubic_gradient_monotone_and_mirror_symmetric():
    """A linear ramp resampled bicubically stays monotone, and the
    resample commutes with mirroring (the stretched-kernel geometry is
    symmetric): out[i] + out[n-1-i] must equal the ramp's endpoint sum
    (boundary clamping affects both ends identically)."""
    ramp = np.tile(
        np.arange(0, 160, 10, dtype=np.uint8), (1, 16, 1)
    )  # (1, 16, 16) rows all equal
    out = rk.bicubic_resize(ramp, 4, 4)
    row = out[0, 0].astype(int)
    assert all(row[i] < row[i + 1] for i in range(3))
    assert row[0] + row[3] == row[1] + row[2] == 150
    # mirroring the input mirrors the output exactly
    flipped = rk.bicubic_resize(ramp[:, :, ::-1].copy(), 4, 4)
    assert np.array_equal(flipped[0, 0], out[0, 0][::-1])


def test_bicubic_fixedpoint_twin_matches_float():
    """The ORACLE-compared thumbnail moments come from the exact
    fixed-point twin (ADVICE r10); this pins the twin's PIXELS equal
    to the float kernel's on every fixture entity (the 25 synthetic
    16x16 rasters the driver hashes) plus seeded random images — so
    the environment-robust integer moment remains an honest proxy
    for the real PNG pixels. A divergence (a pre-rounding value
    within weight-quantization distance of a .5 boundary) would fail
    here loudly instead of flaking the driver hash; the fix is
    raising BICUBIC_FP_SHIFT."""
    for eid in range(25):
        img = np.stack(
            [rk.synth_band_array(eid, b, 16, 16) for b in range(3)]
        )
        ff = rk.bicubic_resize(img, 2, 2).astype(np.int64)
        fp = rk.bicubic_fp_pixels(img, 2, 2)
        assert np.array_equal(ff, fp), f"entity {eid}"
    rng = np.random.default_rng(7)
    for _ in range(20):
        img = rng.integers(0, 256, size=(3, 16, 16), dtype=np.uint8)
        assert np.array_equal(
            rk.bicubic_resize(img, 2, 2).astype(np.int64),
            rk.bicubic_fp_pixels(img, 2, 2),
        )


def test_raster_pipeline_end_to_end(spark):
    from lake_satellite_image_etl_spark.multimodal.raster import (
        raster_clip_pipeline,
        raster_stats_pipeline,
    )

    stats = raster_stats_pipeline(spark, SF_SMOKE).collect()
    assert len(stats) == 25
    r0 = {r["entity_id"]: r for r in stats}[0]
    # golden recomputation for entity 0
    full = np.stack([rk.synth_band_array(0, b, 16, 16) for b in range(3)])
    assert r0["red_average"] == pytest.approx(
        round(float(np.mean(full[0][full[0] != 0])), 6)
    )
    assert r0["white_fraction"] == pytest.approx(
        round(expected_white_fraction(full), 6)
    )
    assert (r0["thumb_width"], r0["thumb_height"]) == (2, 2)

    clipped = raster_clip_pipeline(spark, SF_SMOKE).collect()
    assert len(clipped) == 25
    for r in clipped:
        # diamond radius 4..7 inside 16×16 → crop is smaller than source
        assert r["clip_width"] < 16 and r["clip_height"] < 16


def test_fimg_roundtrip_and_features(spark):
    arr = (np.arange(3 * 4 * 4, dtype=np.uint8)).reshape(3, 4, 4)
    blob = im.encode_fimg(arr)
    back = im.decode_fimg(blob)
    assert np.array_equal(arr, back)

    feats = im.multimodal_image_features(spark, SF_SMOKE).collect()
    assert len(feats) == 51
    f1 = {r["entity_id"]: r for r in feats}[1]
    exp = im.decode_fimg(im.synth_fimg(1)).astype(np.float64)
    assert f1["mean_0"] == pytest.approx(round(float(exp[0].mean()), 6))
    assert f1["std_2"] == pytest.approx(round(float(exp[2].std()), 6))


def test_video_frame_sampling(spark):
    """sample_frames keeps every Nth 'frame' (channel plane) of the
    opaque payload — the decode/sample stage of a video pipeline."""
    sampled = im.sample_frames(im.with_images(spark, SF_SMOKE), every=2).collect()
    assert len(sampled) == 51
    r2 = {r["entity_id"]: r for r in sampled}[2]
    full = im.decode_fimg(im.synth_fimg(2))
    kept = im.decode_fimg(bytes(r2["frames"]))
    assert r2["n_frames"] == kept.shape[0] == (full.shape[0] + 1) // 2
    assert np.array_equal(kept, full[::2])


def test_audio_features_golden(spark):
    from lake_satellite_image_etl_spark.multimodal import audio as au

    wave, sr = au.decode_fwav(au.synth_fwav(5))
    assert sr == 16000 and len(wave) == 2048
    feats = au.multimodal_audio_features(spark, SF_SMOKE).collect()
    assert len(feats) >= 5  # supplier count grows with sf; ≥5 at sf0.001
    f5 = {r["entity_id"]: r for r in feats}[5]
    framed = wave[: (len(wave) // au.FRAME) * au.FRAME].astype(np.int64).reshape(
        -1, au.FRAME
    )
    frame_sq = (framed * framed).sum(axis=1)
    assert f5["n_frames"] == len(wave) // au.FRAME
    assert f5["rms_global"] == pytest.approx(
        round(float(np.sqrt(frame_sq.sum() / framed.size)), 6)
    )
    assert f5["rms_frame_max"] == pytest.approx(
        round(float(np.sqrt(frame_sq.max() / au.FRAME)), 6)
    )
    assert f5["duration_ms"] == pytest.approx(round(1000.0 * 2048 / 16000, 3))


def test_video_frame_features_golden(spark):
    from lake_satellite_image_etl_spark.multimodal import video as vi

    frames, fps = vi.decode_fvid(vi.synth_fvid(3))
    assert fps == vi.FPS and frames.shape == (vi.N_FRAMES, vi.HEIGHT, vi.WIDTH)
    assert np.array_equal(frames, vi.decode_fvid(vi.encode_fvid(frames))[0])

    rows = vi.multimodal_video_frames(spark, SF_SMOKE).collect()
    per_clip = vi.N_FRAMES // vi.SAMPLE_EVERY
    assert len(rows) % per_clip == 0
    got = {(r["entity_id"], r["frame_idx"]): r for r in rows}
    sampled = frames[:: vi.SAMPLE_EVERY].astype(np.int64)
    # first sampled frame: motion pinned to 0
    assert got[(3, 0)]["motion"] == 0
    assert got[(3, 0)]["mean_lum"] == pytest.approx(
        round(float(sampled[0].mean()), 6)
    )
    # a later frame: motion = sum |cur - prev sampled|
    k = 2
    fi = k * vi.SAMPLE_EVERY
    assert got[(3, fi)]["motion"] == int(
        np.abs(sampled[k] - sampled[k - 1]).sum()
    )
    assert got[(3, fi)]["n_frames"] == vi.N_FRAMES


def test_binaryfile_scan(spark):
    from lake_satellite_image_etl_spark.multimodal.images import (
        multimodal_binaryfile_scan,
    )

    rows = multimodal_binaryfile_scan(spark, SF_SMOKE).collect()
    assert len(rows) == 8
    assert [r["entity_id"] for r in rows] == list(range(8))


def test_fetch_remote_bands_file_urls_end_to_end(spark, tmp_path):
    """U1 integration: the real fetch+unzip stage against file:// URLs
    — zip payloads are extracted, raw payloads pass through, and the
    fetched bands feed stack_bands to the same stacked raster as the
    synth path. The only line not exercised vs production is the
    HTTP socket itself (urllib handles both schemes identically)."""
    import zipfile

    w = h = 8
    entities = [3, 5]
    rows = []
    for eid in entities:
        for b, name in enumerate(rk.BAND_NAMES):
            payload = rk.synth_band_array(eid, b, w, h).tobytes()
            p = tmp_path / f"e{eid}_{name}.zip"
            with zipfile.ZipFile(p, "w") as zf:
                zf.writestr(f"{name}.bin", payload)
            rows.append((eid, b, name, w, h, p.as_uri()))
    urls = spark.createDataFrame(
        rows,
        "entity_id long, band_idx int, band string, width int, height int, url string",
    )
    fetched = rk.fetch_remote_bands(spark, urls, fetch_partitions=4)
    band_rows = fetched.selectExpr(
        "entity_id", "band_idx", "band", "width", "height", "content AS data"
    )
    stacked = {
        r["entity_id"]: r for r in rk.stack_bands(band_rows).collect()
    }
    for eid in entities:
        exp = np.stack(
            [rk.synth_band_array(eid, b, w, h) for b in range(3)]
        )
        got = np.frombuffer(
            stacked[eid]["data"], dtype=np.uint8
        ).reshape(3, h, w)
        assert (got == exp).all()
        assert stacked[eid]["bands"] == 3

    # non-zip payloads pass through byte-identical
    raw = tmp_path / "raw.bin"
    raw.write_bytes(b"\x01\x02\x03notazip")
    one = rk.fetch_remote_bands(
        spark,
        spark.createDataFrame([(raw.as_uri(),)], "url string"),
    ).collect()[0]
    assert bytes(one["content"]) == b"\x01\x02\x03notazip"
    assert one["n_bytes"] == 10


def test_row_local_clip_and_thumbnail_match_single_row_runs(spark):
    """clip_to_polygon and thumbnail run per Arrow batch with no
    shuffle: on a multi-entity frame, round-robin repartitioned and cut
    into 2-row Arrow batches, every entity's output equals what the
    kernel returns for that entity's row alone."""
    dims = {0: (30, 24), 1: (16, 16), 2: (22, 29), 3: (30, 24), 4: (9, 12), 5: (40, 21)}
    rows = [
        (eid, w, h, 3, np.stack([rk.synth_band_array(eid, b, w, h) for b in range(3)]).tobytes())
        for eid, (w, h) in dims.items()
    ]
    polys = {
        eid: [(1.0, 1.0), (w - 2.0, 2.5), (w / 2.0, h - 1.5)] for eid, (w, h) in dims.items()
    }
    polys[3] = [polys[3], [(0.0, 0.0), (6.0, 0.0), (6.0, 6.0), (0.0, 6.0)]]  # ring set

    def frame(rs):
        cols = ["entity_id", "width", "height", "bands", "data"]
        return spark.createDataFrame(pd.DataFrame(rs, columns=cols), rk.STACKED_SCHEMA)

    def run(df):
        clip = {r["entity_id"]: tuple(r) for r in rk.clip_to_polygon(df, polys.__getitem__).collect()}
        thumb = {r["entity_id"]: tuple(r) for r in rk.thumbnail(df).collect()}
        return clip, thumb

    full = frame(rows)
    for out in (rk.clip_to_polygon(full, polys.__getitem__), rk.thumbnail(full)):
        assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        clip, thumb = run(full.repartition(3))
    finally:
        spark.conf.set(key, old)
    assert set(clip) == set(thumb) == set(dims)
    for row in rows:
        one_clip, one_thumb = run(frame([row]))
        assert one_clip == {row[0]: clip[row[0]]}
        assert one_thumb == {row[0]: thumb[row[0]]}
