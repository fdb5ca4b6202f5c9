"""Opaque video columns (SURVEY.md §2.10 EXT multimodal): binary
frame stacks + typed metadata, with the two stages every video
training-data pipeline starts with — uniform frame SAMPLING and
per-frame TEMPORAL features — as Arrow ``mapInPandas`` kernels.

Real codecs (h264/vp9/ffmpeg) are absent by design, mirroring
images.py/audio.py: the deterministic ``FVID`` container (grayscale
uint8 frames) stands in, keeping the Spark plumbing real — schema,
Arrow batch shape, the 1→N fan-out from one video row to one row per
sampled frame, and integer-exact feature math the DuckDB oracle
replays pixel-for-pixel.

FVID layout (little-endian): magic ``FVID`` | uint32 n_frames |
uint16 width | uint16 height | uint8 fps |
payload uint8[n_frames*height*width].
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lake_satellite_image_etl_spark.io import read_table
from lake_satellite_image_etl_spark.registry import query

MAGIC = b"FVID"
HEADER = struct.Struct("<4sIHHB")

N_FRAMES = 16
WIDTH = 16
HEIGHT = 12
FPS = 8
#: uniform sampling stride: keep frames 0, 4, 8, 12 of 16 — the
#: "1 fps from 8 fps" decimation of a real pipeline
SAMPLE_EVERY = 4
#: pixel formula modulus — prime, so the planes differ per frame
PIX_MOD = 251


def encode_fvid(frames: np.ndarray, fps: int = FPS) -> bytes:
    """frames: uint8 array (n_frames, height, width)."""
    n, h, w = frames.shape
    return HEADER.pack(MAGIC, n, w, h, fps) + frames.astype(np.uint8).tobytes()


def decode_fvid(blob: bytes) -> tuple[np.ndarray, int]:
    magic, n, w, h, fps = HEADER.unpack_from(blob)
    if magic != MAGIC:
        raise ValueError("not a FVID blob")
    frames = np.frombuffer(
        blob, dtype=np.uint8, offset=HEADER.size, count=n * h * w
    ).reshape(n, h, w)
    return frames, fps


def synth_fvid(entity_id: int) -> bytes:
    """Deterministic grayscale clip: pixel(f, y, x) =
    (entity_id*31 + f*17 + y*5 + x*3) mod 251 — pure integer math the
    oracle regenerates relationally."""
    f = np.arange(N_FRAMES, dtype=np.int64)[:, None, None]
    y = np.arange(HEIGHT, dtype=np.int64)[None, :, None]
    x = np.arange(WIDTH, dtype=np.int64)[None, None, :]
    pix = (entity_id * 31 + f * 17 + y * 5 + x * 3) % PIX_MOD
    return encode_fvid(pix.astype(np.uint8))


VIDEO_FRAME_SCHEMA = (
    "entity_id long, n_frames int, frame_idx int, mean_lum double, "
    "motion bigint"
)


def video_frame_features(videos: DataFrame, every: int = SAMPLE_EVERY) -> DataFrame:
    """(entity_id, video binary) → one row per SAMPLED frame:
    mean luminance and motion (sum of absolute pixel deltas vs the
    previous sampled frame; 0 for the first).

    The 1→N fan-out happens inside the Arrow batch (numpy over the
    whole frame stack, no per-pixel Python), so a 100 TB video table
    scales by splitting the videos across partitions — per-row state
    never leaves the kernel. Integer-exact: uint8 pixels sum in
    int64; the single divide for the mean is IEEE-identical in both
    engines."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for eid, blob in zip(
                pdf["entity_id"].values, pdf["video"].values
            ):
                frames, _fps = decode_fvid(blob)
                n = frames.shape[0]
                sampled = frames[::every].astype(np.int64)
                idxs = np.arange(0, n, every)
                means = sampled.mean(axis=(1, 2))
                deltas = np.abs(np.diff(sampled, axis=0)).sum(axis=(1, 2))
                for k, fi in enumerate(idxs):
                    rows.append(
                        (
                            int(eid),
                            n,
                            int(fi),
                            round(float(means[k]), 6),
                            int(deltas[k - 1]) if k > 0 else 0,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "entity_id", "n_frames", "frame_idx", "mean_lum", "motion",
                ],
            )

    return videos.mapInPandas(feats, schema=VIDEO_FRAME_SCHEMA)


def with_videos(spark: SparkSession, sf_dir: str, max_id: int = 30) -> DataFrame:
    """One synthetic clip per supplier row (bounded) — the opaque
    binary column a real pipeline would read from object storage."""
    ids = (
        read_table(spark, sf_dir, "supplier")
        .select(F.col("s_suppkey").cast("long").alias("entity_id"))
        .filter(F.col("entity_id") <= max_id)
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "entity_id": pdf["entity_id"].astype("int64"),
                    "video": [synth_fvid(int(e)) for e in pdf["entity_id"]],
                }
            )

    return ids.mapInPandas(gen, schema="entity_id long, video binary")


def _sql_pix(fvar: str) -> str:
    return f"((entity_id * 31 + {fvar} * 17 + y * 5 + x * 3) % {PIX_MOD})"


@query(
    "multimodal_video_frames",
    oracle=f"""
    WITH ids AS (
        SELECT s_suppkey::BIGINT AS entity_id FROM supplier
        WHERE s_suppkey <= 30
    ),
    px AS (
        SELECT entity_id, f,
               {_sql_pix("f")} AS cur,
               {_sql_pix(f"(f - {SAMPLE_EVERY})")} AS prev
        FROM ids,
             unnest(generate_series(0, {N_FRAMES - 1}, {SAMPLE_EVERY})) AS uf(f),
             unnest(generate_series(0, {HEIGHT - 1})) AS uy(y),
             unnest(generate_series(0, {WIDTH - 1})) AS ux(x)
    )
    SELECT entity_id,
           {N_FRAMES} AS n_frames,
           f::INT AS frame_idx,
           round(sum(cur)::DOUBLE / {HEIGHT * WIDTH}, 6) AS mean_lum,
           CASE WHEN f = 0 THEN 0
                ELSE sum(abs(cur - prev)) END::BIGINT AS motion
    FROM px GROUP BY entity_id, f ORDER BY entity_id, f
    """,
)
def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize one clip per supplier row (bounded to 30), sample
    every {SAMPLE_EVERY}th frame, and feature-extract per sampled
    frame (1→N fan-out).

    FULL oracle: the FVID payload is deterministic integer math; the
    oracle regenerates every sampled pixel relationally — including
    the PREVIOUS sampled frame via the same formula shifted by the
    stride — and verifies the sampling + luminance + motion kernel
    exactly."""
    return video_frame_features(with_videos(spark, sf_dir)).orderBy(
        "entity_id", "frame_idx"
    )


SHOT_SCHEMA = (
    "entity_id long, shot_id int, start_frame int, end_frame int, "
    "n_frames int, mean_lum_e6 long"
)


def video_shot_segments(videos: DataFrame) -> DataFrame:
    """Shot-boundary detection: a CUT is declared at every frame whose
    motion (sum of absolute pixel deltas vs the PREVIOUS frame, all
    frames — no sampling) exceeds the clip's mean frame motion,
    compared in exact integers (motion · n_deltas > total_motion).
    Frames between cuts form shots; each shot reports its span and
    integer-exact mean luminance — the scene-segmentation step in
    front of any video-training curation pipeline."""

    def shots(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for eid, blob in zip(pdf["entity_id"], pdf["video"]):
                frames, _fps = decode_fvid(blob)
                fr = frames.astype(np.int64)
                n = fr.shape[0]
                motion = np.abs(np.diff(fr, axis=0)).sum(axis=(1, 2))
                total = int(motion.sum())
                # boundary[f] for f in 0..n-1; frame 0 always starts
                boundary = np.zeros(n, dtype=bool)
                boundary[0] = True
                boundary[1:] = motion * (n - 1) > total
                shot_of = np.cumsum(boundary) - 1
                lum = fr.sum(axis=(1, 2))
                hw = fr.shape[1] * fr.shape[2]
                for sid in range(int(shot_of[-1]) + 1):
                    idx = np.flatnonzero(shot_of == sid)
                    # mean luminance ×1e6, exact integer round-half-up
                    # ((2a·E + b) // 2b) — float round() ties differ
                    # between engines
                    a = int(lum[idx].sum())
                    b = len(idx) * hw
                    rows.append(
                        (
                            int(eid),
                            sid,
                            int(idx[0]),
                            int(idx[-1]),
                            int(len(idx)),
                            (2 * a * 10**6 + b) // (2 * b),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "entity_id", "shot_id", "start_frame", "end_frame",
                    "n_frames", "mean_lum_e6",
                ],
            )

    return videos.mapInPandas(shots, schema=SHOT_SCHEMA)


@query(
    "multimodal_video_shots",
    oracle=f"""
    -- shot detection verified end-to-end: regenerate every pixel of
    -- every frame relationally, rebuild per-frame motion, declare
    -- cuts with the INTEGER mean-motion threshold, and group frames
    -- into shots by cumulative cut count.
    WITH ids AS (
        SELECT p_partkey::BIGINT AS entity_id FROM part
        WHERE p_partkey <= 30
    ),
    px AS (
        SELECT entity_id, f,
               sum(abs({_sql_pix("f")} - {_sql_pix("(f - 1)")}))::BIGINT
                   AS motion
        FROM ids,
             unnest(generate_series(1, {N_FRAMES - 1})) AS uf(f),
             unnest(generate_series(0, {HEIGHT - 1})) AS uy(y),
             unnest(generate_series(0, {WIDTH - 1})) AS ux(x)
        GROUP BY entity_id, f
    ),
    tot AS (
        SELECT entity_id, sum(motion) AS total FROM px GROUP BY 1
    ),
    frames AS (
        SELECT i.entity_id, uf.f,
               CASE WHEN uf.f = 0 THEN true
                    ELSE p.motion * {N_FRAMES - 1} > t.total END
                   AS boundary
        FROM ids i
        CROSS JOIN unnest(generate_series(0, {N_FRAMES - 1})) AS uf(f)
        LEFT JOIN px p ON p.entity_id = i.entity_id AND p.f = uf.f
        JOIN tot t ON t.entity_id = i.entity_id
    ),
    shotted AS (
        SELECT entity_id, f,
               (sum(CASE WHEN boundary THEN 1 ELSE 0 END) OVER (
                   PARTITION BY entity_id ORDER BY f) - 1) AS shot_id
        FROM frames
    ),
    lum AS (
        SELECT entity_id, f, sum({_sql_pix("f")})::BIGINT AS lum
        FROM ids,
             unnest(generate_series(0, {N_FRAMES - 1})) AS uf(f),
             unnest(generate_series(0, {HEIGHT - 1})) AS uy(y),
             unnest(generate_series(0, {WIDTH - 1})) AS ux(x)
        GROUP BY entity_id, f
    )
    SELECT s.entity_id,
           s.shot_id::INT AS shot_id,
           min(s.f)::INT AS start_frame,
           max(s.f)::INT AS end_frame,
           count(*)::INT AS n_frames,
           ((2 * sum(l.lum) * 1000000 + count(*) * {HEIGHT * WIDTH})
            // (2 * count(*) * {HEIGHT * WIDTH}))::BIGINT AS mean_lum_e6
    FROM shotted s JOIN lum l
      ON l.entity_id = s.entity_id AND l.f = s.f
    GROUP BY s.entity_id, s.shot_id
    """,
)
def multimodal_video_shots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot segmentation over synthesized FVID clips (one per part
    row, bounded to 30): BinaryType → Arrow ``mapInPandas`` → one row
    per detected shot, with the integer cut threshold and the
    cumulative-cut shot grouping replayed exactly in the relational
    oracle (mod-{PIX_MOD} wraparound makes per-frame motion genuinely
    non-constant, so the threshold separates real cut frames).

    Completes the modality trio with multimodal_audio_vad (energy
    islands) and multimodal_image_tiles (patchify): same plumbing —
    opaque binary column, vectorized Arrow kernel, no shuffle, full
    oracle."""
    return video_shot_segments(with_videos(spark, sf_dir))


@query(
    "multimodal_video_augment",
    oracle=f"""
    -- deterministic video augmentation: identity / temporal reverse /
    -- frame-stride-2 subsample / per-frame horizontal flip, verified
    -- by exact integer moments over (frame, x) — the time moment
    -- flips under reversal, the x moment under the mirror, the
    -- support halves under striding.
    WITH ids AS (
        SELECT s_suppkey::BIGINT AS entity_id FROM supplier
        WHERE s_suppkey <= 30
    ),
    px AS (
        SELECT entity_id, f, y, x,
               (entity_id * 31 + f * 17 + y * 5 + x * 3) % {PIX_MOD} AS p
        FROM ids,
             unnest(generate_series(0, {N_FRAMES - 1})) AS uf(f),
             unnest(generate_series(0, {HEIGHT - 1})) AS uy(y),
             unnest(generate_series(0, {WIDTH - 1})) AS ux(x)
    ),
    v AS (
        SELECT entity_id, 'identity' AS variant, f, x, p FROM px
        UNION ALL
        SELECT entity_id, 'time_reverse', {N_FRAMES - 1} - f AS f, x, p
        FROM px
        UNION ALL
        SELECT entity_id, 'stride2', f // 2 AS f, x, p FROM px
        WHERE f % 2 = 0
        UNION ALL
        SELECT entity_id, 'hflip', f, {WIDTH - 1} - x AS x, p FROM px
    )
    SELECT entity_id, variant,
           count(*)::BIGINT AS n_px,
           sum(p)::BIGINT AS s,
           sum(p * f)::BIGINT AS sf,
           sum(p * x)::BIGINT AS sx
    FROM v GROUP BY 1, 2
    """,
)
def multimodal_video_augment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video augmentation over opaque FVID blobs — the temporal
    member of the augmentation trio (images: spatial transforms,
    audio: signal transforms, video: BOTH axes): identity, temporal
    reverse, frame-stride-2 subsample, per-frame horizontal mirror,
    all in one Arrow ``mapInPandas`` pass with exact integer
    time/space moments pinning each transform's axis.

    Scale shape: 1→4 fan-out inside the partition, no shuffle before
    the per-(clip, variant) summary rows."""
    vids = with_videos(spark, sf_dir)

    def augment(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "entity_id": [], "variant": [], "n_px": [],
                "s": [], "sf": [], "sx": [],
            }
            for eid, blob in zip(
                pdf["entity_id"].values, pdf["video"].values
            ):
                frames, _fps = decode_fvid(blob)
                a = frames.astype(np.int64)
                variants = (
                    ("identity", a),
                    ("time_reverse", a[::-1]),
                    ("stride2", a[::2]),
                    ("hflip", a[:, :, ::-1]),
                )
                for name, v in variants:
                    nf = v.shape[0]
                    fs = np.arange(nf, dtype=np.int64)
                    xs = np.arange(v.shape[2], dtype=np.int64)
                    out["entity_id"].append(int(eid))
                    out["variant"].append(name)
                    out["n_px"].append(int(v.size))
                    out["s"].append(int(v.sum()))
                    out["sf"].append(int((v.sum(axis=(1, 2)) * fs).sum()))
                    out["sx"].append(int((v.sum(axis=(0, 1)) * xs).sum()))
            yield pd.DataFrame(out)

    return vids.mapInPandas(
        augment,
        "entity_id long, variant string, n_px long, s long, sf long, sx long",
    )
