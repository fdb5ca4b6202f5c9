"""Opaque image/audio/video columns (SURVEY.md §2.10 EXT multimodal):
``BinaryType`` payloads + typed metadata, with decode / feature-extract
/ frame-sample kernels as Arrow pandas UDFs over ``mapInPandas``.

Real codecs (PIL/libjpeg/ffmpeg) are not dependencies of this package,
so the deterministic ``FIMG`` container below stands in, keeping every
piece of Spark-side plumbing (schema, batching, UDF signatures,
partition behavior) real and tested.

FIMG layout (little-endian): magic ``FIMG`` | uint16 width |
uint16 height | uint8 channels | payload uint8[c*h*w] (C-order).
"""

from __future__ import annotations

import os
import struct
import uuid
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lake_satellite_image_etl_spark.caching import persist_bounded
from lake_satellite_image_etl_spark.io import read_binary_files, read_table
from lake_satellite_image_etl_spark.registry import query

MAGIC = b"FIMG"
HEADER = struct.Struct("<4sHHB")


def encode_fimg(arr: np.ndarray) -> bytes:
    """uint8 array (c, h, w) → FIMG blob."""
    c, h, w = arr.shape
    return HEADER.pack(MAGIC, w, h, c) + arr.astype(np.uint8).tobytes()


def decode_fimg(blob: bytes) -> np.ndarray:
    magic, w, h, c = HEADER.unpack_from(blob)
    if magic != MAGIC:
        raise ValueError("not a FIMG blob")
    return np.frombuffer(blob, dtype=np.uint8, offset=HEADER.size).reshape(c, h, w)


def synth_fimg(entity_id: int, width: int = 12, height: int = 12, channels: int = 3) -> bytes:
    """Deterministic synthetic image blob per entity (no RNG)."""
    c, y, x = np.mgrid[0:channels, 0:height, 0:width]
    arr = ((entity_id * 11 + c * 29 + y * 5 + x * 3) % 256).astype(np.uint8)
    return encode_fimg(arr)


META_SCHEMA = (
    "entity_id long, width int, height int, channels int, n_bytes long, image binary"
)

FEATURE_SCHEMA = (
    "entity_id long, width int, height int, channels int, "
    "mean_0 double, mean_1 double, mean_2 double, "
    "std_0 double, std_1 double, std_2 double"
)


def with_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One FIMG blob per part-table row (bounded to 50 for the demo
    query; the generation itself is executor-side and unbounded)."""
    ids = (
        read_table(spark, sf_dir, "part")
        .select(F.col("p_partkey").cast("long").alias("entity_id"))
        .filter(F.col("entity_id") <= 50)
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = [synth_fimg(int(e)) for e in pdf["entity_id"]]
            metas = [decode_fimg(b).shape for b in blobs]
            yield pd.DataFrame(
                {
                    "entity_id": pdf["entity_id"].astype("int64"),
                    "width": [m[2] for m in metas],
                    "height": [m[1] for m in metas],
                    "channels": [m[0] for m in metas],
                    "n_bytes": [len(b) for b in blobs],
                    "image": blobs,
                }
            )

    return ids.mapInPandas(gen, schema=META_SCHEMA)


def image_features(images: DataFrame) -> DataFrame:
    """Feature extraction kernel: per-channel mean/std from the decoded
    payload. mapInPandas so one Arrow batch amortizes decode overhead
    across rows — the pattern for any embedding/feature model stage."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            # zip over .values — each step hands numpy a whole blob;
            # iterrows()'s per-row Series build is pure overhead.
            for eid, w, h, c, blob in zip(
                pdf["entity_id"].values,
                pdf["width"].values,
                pdf["height"].values,
                pdf["channels"].values,
                pdf["image"].values,
            ):
                # integer-sum statistics: sums of uint8 pixels are exact
                # int64, so mean and std are single IEEE divisions/sqrt —
                # bit-identical to any engine computing the same formula
                # (an incremental/pairwise float std would not be).
                arr = decode_fimg(blob).astype(np.int64)
                n = arr.shape[1] * arr.shape[2]
                s = arr.sum(axis=(1, 2))
                sq = (arr * arr).sum(axis=(1, 2))
                mean = [float(si) / n for si in s]
                std = [
                    float(np.sqrt((sqi - (float(si) * si) / n) / n))
                    for si, sqi in zip(s, sq)
                ]
                rows.append(
                    (
                        int(eid),
                        int(w),
                        int(h),
                        int(c),
                        *(round(m, 6) for m in mean[:3]),
                        *(round(v, 6) for v in std[:3]),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "entity_id", "width", "height", "channels",
                    "mean_0", "mean_1", "mean_2", "std_0", "std_1", "std_2",
                ],
            )

    return images.mapInPandas(feats, schema=FEATURE_SCHEMA)


def sample_frames(images: DataFrame, every: int = 3) -> DataFrame:
    """Frame-sampling kernel for video-like payloads: treat channels as
    frames, keep every Nth — the decode/sample stage of a video
    pipeline with the codec swapped for FIMG."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for eid, blob in zip(
                pdf["entity_id"].values, pdf["image"].values
            ):
                arr = decode_fimg(blob)
                kept = arr[::every]
                rows.append((int(eid), kept.shape[0], encode_fimg(kept)))
            yield pd.DataFrame(rows, columns=["entity_id", "n_frames", "frames"])

    return images.mapInPandas(sample, schema="entity_id long, n_frames int, frames binary")


def _sql_img_chan_stats(c: int, n: int = 144) -> str:
    """Per-channel mean/std over the regenerated synthetic pixels —
    the same integer-sum formula the kernel uses (n = pixels/channel)."""
    v = f"((entity_id * 11 + {c} * 29 + y * 5 + x * 3) % 256)"
    return f"""round(sum({v})::DOUBLE / {n}, 6) AS mean_{c},
           round(sqrt((sum({v} * {v}) - (sum({v})::DOUBLE * sum({v})) / {n})
                      / {n}), 6) AS std_{c}"""


@query(
    "multimodal_image_features",
    oracle=f"""
    WITH ids AS (
        SELECT p_partkey::BIGINT AS entity_id FROM part WHERE p_partkey <= 50
    ),
    px AS (
        SELECT entity_id, x, y FROM ids,
             unnest(generate_series(0, 11)) AS ux(x),
             unnest(generate_series(0, 11)) AS uy(y)
    )
    SELECT entity_id, 12 AS width, 12 AS height, 3 AS channels,
           {_sql_img_chan_stats(0)},
           {_sql_img_chan_stats(1)},
           {_sql_img_chan_stats(2)}
    FROM px GROUP BY entity_id ORDER BY entity_id
    """,
)
def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode → feature-extract over opaque image blobs.

    FULL oracle: the FIMG payload is deterministic integer math, so
    the oracle regenerates the pixels relationally and verifies the
    decode+feature kernel bit-for-bit (integer-sum mean/std formula on
    both sides)."""
    return image_features(with_images(spark, sf_dir)).orderBy("entity_id")


_BLOB_DIR = "/root/repo/.scratch/blobs"


def _ensure_blob_files() -> str:
    """Write a deterministic set of FIMG files once (idempotent) so the
    binaryFile source has something local to scan — the stand-in for
    the reference's remote zip-of-GeoTIFFs (S4, main.py:161-204)."""
    os.makedirs(_BLOB_DIR, exist_ok=True)
    for i in range(8):
        p = os.path.join(_BLOB_DIR, f"blob_{i}.fimg")
        if not os.path.exists(p):
            # write-then-rename: atomic even if a concurrent harness
            # thread races this idempotent setup (uuid, not pid — two
            # threads in one process share a pid)
            tmp = f"{p}.tmp.{uuid.uuid4().hex}"
            with open(tmp, "wb") as f:
                f.write(synth_fimg(i, width=8, height=8))
            os.replace(tmp, p)
    return _BLOB_DIR


@query(
    "multimodal_binaryfile_scan",
    oracle=f"""
    WITH ids AS (
        SELECT i::BIGINT AS entity_id FROM range(8) r(i)
    ),
    px AS (
        SELECT entity_id, x, y FROM ids,
             unnest(generate_series(0, 7)) AS ux(x),
             unnest(generate_series(0, 7)) AS uy(y)
    )
    SELECT entity_id, 8 AS width, 8 AS height, 3 AS channels,
           {_sql_img_chan_stats(0, 64)},
           {_sql_img_chan_stats(1, 64)},
           {_sql_img_chan_stats(2, 64)}
    FROM px GROUP BY entity_id ORDER BY entity_id
    """,
)
def multimodal_binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: binaryFile source scan → decode → features. The source
    yields (path, modificationTime, length, content); the projection
    keeps deterministic columns only (no paths/mtimes), so even this
    filesystem-source path gets a FULL oracle — the blobs' contents
    are deterministic integer math the oracle regenerates."""
    d = _ensure_blob_files()
    files = read_binary_files(spark, d, "*.fimg")
    decoded = image_features(
        files.select(
            F.regexp_extract(
                F.element_at(F.split("path", "/"), -1), r"blob_(\d+)", 1
            )
            .cast("long")
            .alias("entity_id"),
            F.col("content").alias("image"),
        ).withColumn("width", F.lit(8))
        .withColumn("height", F.lit(8))
        .withColumn("channels", F.lit(3))
    )
    return decoded.orderBy("entity_id")


#: perceptual-hash geometry: 6×6 block grid → 36-bit aHash, split
#: into 3 bands of 12 bits. 3 bands with threshold 2 keeps exact
#: recall by pigeonhole (two hashes within Hamming 2 agree on ≥1 of 3
#: bands); at corpus scale band_bits is the occupancy dial exactly as
#: in the simhash/embedding-LSH paths.
PHASH_GRID = 6
PHASH_BITS = PHASH_GRID * PHASH_GRID
PHASH_BANDS = 3
PHASH_HAMMING_MAX = 2


def image_phash(images: DataFrame) -> DataFrame:
    """Average-hash kernel (aHash — the classic perceptual fingerprint:
    grayscale, downsample to a coarse grid, threshold each cell at the
    image mean): bit (by·6+bx) = 1 iff the 2×2 block's channel-summed
    pixel total × 36 exceeds the image total. Pure integer
    comparisons — engine-exact, no float thresholds.

    Vectorized over the Arrow batch: one reshape-sum per batch, no
    per-row Python loop."""

    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        powers = (np.int64(1) << np.arange(PHASH_BITS, dtype=np.int64)).reshape(
            PHASH_GRID, PHASH_GRID
        )
        for pdf in batches:
            arrs = np.stack([decode_fimg(b) for b in pdf["image"]])  # n,c,h,w
            gray = arrs.astype(np.int64).sum(axis=1)  # n,h,w
            n, h, w = gray.shape
            blocks = gray.reshape(n, h // 2, 2, w // 2, 2).sum(axis=(2, 4))
            tot = blocks.sum(axis=(1, 2), keepdims=True)
            bits = blocks * (PHASH_GRID * PHASH_GRID) > tot
            phash = (bits * powers).sum(axis=(1, 2))
            yield pd.DataFrame(
                {
                    "entity_id": pdf["entity_id"].astype("int64"),
                    "phash": phash.astype("int64"),
                }
            )

    return images.mapInPandas(kern, schema="entity_id long, phash long")


_SQL_PHASH_CTES = """px AS (
        SELECT entity_id, x, y,
               ((entity_id * 11 + 0 * 29 + y * 5 + x * 3) % 256)
             + ((entity_id * 11 + 1 * 29 + y * 5 + x * 3) % 256)
             + ((entity_id * 11 + 2 * 29 + y * 5 + x * 3) % 256) AS gray
        FROM ids, unnest(generate_series(0, 11)) AS ux(x),
                  unnest(generate_series(0, 11)) AS uy(y)
    ),
    blocks AS (
        SELECT entity_id, x // 2 AS bx, y // 2 AS by,
               sum(gray)::BIGINT AS bsum
        FROM px GROUP BY 1, 2, 3
    ),
    tot AS (SELECT entity_id, sum(bsum)::BIGINT AS t FROM blocks GROUP BY 1),
    h AS (
        SELECT b.entity_id,
               sum(CASE WHEN b.bsum * 36 > t.t
                        THEN 1::BIGINT << (b.by * 6 + b.bx)
                        ELSE 0 END)::BIGINT AS phash
        FROM blocks b JOIN tot t USING (entity_id) GROUP BY b.entity_id
    )"""


@query(
    "multimodal_image_dedup",
    oracle=f"""
    -- near-duplicate images by perceptual hash: the oracle
    -- regenerates the synthetic pixels, recomputes the 36-bit aHash
    -- relationally, and brute-forces Hamming ≤ {PHASH_HAMMING_MAX}
    -- pairs (the SPEC; the engine uses banded buckets with exact
    -- recall by pigeonhole).
    WITH ids AS (
        SELECT p_partkey::BIGINT AS entity_id FROM part WHERE p_partkey <= 50
    ),
    {_SQL_PHASH_CTES}
    SELECT a.entity_id AS ent_a, b.entity_id AS ent_b,
           bit_count(xor(a.phash, b.phash))::BIGINT AS hamming
    FROM h a JOIN h b ON a.entity_id < b.entity_id
    WHERE bit_count(xor(a.phash, b.phash)) <= {PHASH_HAMMING_MAX}
    """,
)
def multimodal_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dedup — the multimodal twin of dedup_simhash:
    perceptual aHash in an Arrow kernel (decode is CPU work), then the
    SAME banded-bucket self-join shape as every near-dup path here
    ({PHASH_BANDS} bands × 12 bits, Hamming ≤ {PHASH_HAMMING_MAX}
    verify — exact recall by pigeonhole, never all-pairs).

    Scale: hashing is embarrassingly parallel scan work (one 8-byte
    hash per image leaves the kernel — payloads never shuffle); the
    band join carries (entity_id, phash) pairs only, with AQE
    splitting any hot bucket. 100 TB of images reduce to |images| × 8
    bytes of join input."""
    # bounded lazy persist: the hash frame feeds both self-join
    # sides; construction stays jobless (r13, was an eager
    # localCheckpoint on the allowlist)
    hashes = persist_bounded(image_phash(with_images(spark, sf_dir)))
    band_bits = PHASH_BITS // PHASH_BANDS
    mask = (1 << band_bits) - 1
    bands = hashes.select(
        "entity_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.shiftright("phash", band * band_bits)
                    .bitwiseAND(F.lit(mask))
                    .cast("long")
                    + F.lit(band << band_bits).cast("long")
                    for band in range(PHASH_BANDS)
                ]
            )
        ).alias("band_key"),
    )
    a = bands.select(
        F.col("entity_id").alias("ent_a"),
        F.col("phash").alias("ph_a"),
        "band_key",
    )
    b = bands.select(
        F.col("entity_id").alias("ent_b"),
        F.col("phash").alias("ph_b"),
        "band_key",
    )
    hamming = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
    return (
        a.join(b, "band_key")
        .filter(F.col("ent_a") < F.col("ent_b"))
        .filter(hamming <= PHASH_HAMMING_MAX)
        .select("ent_a", "ent_b", hamming.cast("long").alias("hamming"))
        .dropDuplicates(["ent_a", "ent_b"])
    )


TILE = 4  # patch edge: a 12×12 FIMG → 3×3 grid of 4×4 patches

TILE_SCHEMA = (
    "entity_id long, tile_row int, tile_col int, "
    "mean_0 double, mean_1 double, mean_2 double"
)


def image_tiles(images: DataFrame) -> DataFrame:
    """ViT-style patch extraction: split each image into a grid of
    {TILE}×{TILE} patches and emit one row per patch with per-channel
    means — the 1→N patchify step in front of any vision-transformer
    featurizer, with the codec swapped for FIMG. Per-channel sums are
    exact integers; the single divide makes the means
    engine-independent."""

    def tiles(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for eid, blob in zip(pdf["entity_id"], pdf["image"]):
                arr = decode_fimg(blob).astype(np.int64)
                c, h, w = arr.shape
                gh, gw = h // TILE, w // TILE
                # (c, gh, TILE, gw, TILE) → integer sums per (c, gh, gw)
                sums = (
                    arr[:, : gh * TILE, : gw * TILE]
                    .reshape(c, gh, TILE, gw, TILE)
                    .sum(axis=(2, 4))
                )
                denom = TILE * TILE
                for tr in range(gh):
                    for tc in range(gw):
                        rows.append(
                            (
                                int(eid),
                                tr,
                                tc,
                                round(float(sums[0, tr, tc]) / denom, 6),
                                round(float(sums[1, tr, tc]) / denom, 6),
                                round(float(sums[2, tr, tc]) / denom, 6),
                            )
                        )
            yield pd.DataFrame(
                rows,
                columns=[
                    "entity_id", "tile_row", "tile_col",
                    "mean_0", "mean_1", "mean_2",
                ],
            )

    return images.mapInPandas(tiles, schema=TILE_SCHEMA)


@query(
    "multimodal_image_tiles",
    oracle=f"""
    -- patchify verified end-to-end: regenerate every pixel
    -- relationally, bucket into {TILE}×{TILE} tiles, compare the
    -- integer-exact per-channel means.
    WITH ids AS (
        SELECT p_partkey::BIGINT AS entity_id FROM part
        WHERE p_partkey <= 50
    ),
    px AS (
        SELECT entity_id, c, y // {TILE} AS tile_row, x // {TILE} AS tile_col,
               (entity_id * 11 + c * 29 + y * 5 + x * 3) % 256 AS v
        FROM ids,
             unnest(generate_series(0, 2)) AS uc(c),
             unnest(generate_series(0, 11)) AS uy(y),
             unnest(generate_series(0, 11)) AS ux(x)
    ),
    t AS (
        SELECT entity_id, c, tile_row, tile_col, sum(v)::BIGINT AS s
        FROM px GROUP BY 1, 2, 3, 4
    )
    SELECT entity_id, tile_row::INT AS tile_row, tile_col::INT AS tile_col,
           round(max(CASE WHEN c = 0 THEN s END) / {TILE * TILE}.0, 6)
               AS mean_0,
           round(max(CASE WHEN c = 1 THEN s END) / {TILE * TILE}.0, 6)
               AS mean_1,
           round(max(CASE WHEN c = 2 THEN s END) / {TILE * TILE}.0, 6)
               AS mean_2
    FROM t GROUP BY entity_id, tile_row, tile_col
    """,
)
def multimodal_image_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Patch extraction over synthesized FIMG images (one per part
    row, bounded to 50): BinaryType → Arrow ``mapInPandas`` → one row
    per {TILE}×{TILE} patch with exact per-channel means; the oracle
    regenerates the pixels relationally and replays the tiling.

    Scale: pure 1→N narrow fan-out, vectorized reshape-sum per image
    inside the Arrow batch; output is |images|·(h/{TILE})·(w/{TILE})
    rows that stream straight into whatever embedding/statistics
    stage follows — no shuffle introduced here."""
    return image_tiles(with_images(spark, sf_dir))


#: the synthetic pixel formula, parameterized by (c, y, x) SQL exprs —
#: shared by the augmentation oracle's three index remaps.
def _sql_px(c: str, y: str, x: str) -> str:
    return f"(entity_id * 11 + ({c}) * 29 + ({y}) * 5 + ({x}) * 3) % 256"


@query(
    "multimodal_image_augment",
    oracle=f"""
    -- deterministic augmentation: identity / horizontal flip / 90°
    -- rotation of each FIMG blob, verified by EXACT integer pixel
    -- moments (sum, x-moment, y-moment) that distinguish the three
    -- transforms. The oracle regenerates each variant relationally by
    -- index remap of the synthetic pixel formula:
    --   hflip(y, x)  = p(c, y, W-1-x)
    --   rot90(y', x') = p(c, x', W-1-y')   (numpy rot90, result W×H)
    WITH ids AS (
        SELECT p_partkey::BIGINT AS entity_id FROM part WHERE p_partkey <= 50
    ),
    px AS (
        SELECT entity_id, c, x, y FROM ids,
             unnest(generate_series(0, 2)) AS uc(c),
             unnest(generate_series(0, 11)) AS ux(x),
             unnest(generate_series(0, 11)) AS uy(y)
    ),
    v AS (
        SELECT entity_id, 'identity' AS variant, 12 AS out_w, 12 AS out_h,
               {_sql_px("c", "y", "x")} AS p, x, y FROM px
        UNION ALL
        SELECT entity_id, 'hflip', 12, 12,
               {_sql_px("c", "y", "11 - x")} AS p, x, y FROM px
        UNION ALL
        SELECT entity_id, 'rot90', 12, 12,
               {_sql_px("c", "x", "11 - y")} AS p, x, y FROM px
    )
    SELECT entity_id, variant, out_w, out_h,
           sum(p)::BIGINT AS s,
           sum(p * x)::BIGINT AS sx,
           sum(p * y)::BIGINT AS sy
    FROM v GROUP BY 1, 2, 3, 4
    """,
)
def multimodal_image_augment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set image augmentation over opaque binary blobs:
    decode → {{identity, hflip, rot90}} → re-encode-able arrays, each
    variant summarized by exact integer moments (total mass, x/y
    first moments — quantities the transforms permute distinctively,
    so a wrong axis or off-by-one flip cannot pass).

    Scale shape: 1→3 fan-out inside ONE Arrow ``mapInPandas`` pass —
    batch-amortized numpy per partition, no shuffle at all (the
    output is per-(image, variant) rows); augmentation at 100 TB is
    embarrassingly parallel and this plan keeps it that way."""
    imgs = with_images(spark, sf_dir)

    def augment(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "entity_id": [], "variant": [], "out_w": [], "out_h": [],
                "s": [], "sx": [], "sy": [],
            }
            for eid, blob in zip(
                pdf["entity_id"].values, pdf["image"].values
            ):
                arr = decode_fimg(blob)
                variants = (
                    ("identity", arr),
                    ("hflip", arr[:, :, ::-1]),
                    ("rot90", np.rot90(arr, axes=(1, 2))),
                )
                for name, a in variants:
                    h, w = a.shape[1], a.shape[2]
                    al = a.astype(np.int64)
                    xs = np.arange(w, dtype=np.int64)
                    ys = np.arange(h, dtype=np.int64)
                    out["entity_id"].append(int(eid))
                    out["variant"].append(name)
                    out["out_w"].append(w)
                    out["out_h"].append(h)
                    out["s"].append(int(al.sum()))
                    out["sx"].append(int((al.sum(axis=(0, 1)) * xs).sum()))
                    out["sy"].append(int((al.sum(axis=(0, 2)) * ys).sum()))
            yield pd.DataFrame(out)

    return imgs.mapInPandas(
        augment,
        "entity_id long, variant string, out_w int, out_h int, "
        "s long, sx long, sy long",
    )
