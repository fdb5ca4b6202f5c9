"""Seeded input generators. The program only ever sees the files written
here; every planted property the checks rely on is returned alongside.

Both generators are pure functions of ``(seed, size knobs)``: the
same seed writes byte-identical inputs.
"""

from __future__ import annotations

import datetime as dt
import io
import os
import zipfile
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ------------------------------------------------------------------ images


@dataclass
class Capture:
    capture_id: int
    waterbody_id: int
    captured_ts: dt.datetime
    pool_idx: int
    day: int


@dataclass
class ImageInputs:
    width: int
    height: int
    band_dir: str
    #: pool image index -> (bands, h, w) uint8 pixels
    pool: dict[int, np.ndarray]
    #: waterbody id -> pixel-space polygon ring [(x, y), ...]
    polygons: dict[int, list[tuple[float, float]]]
    n_bodies: int
    #: days the catalog query looks back, today included (the reference's 30)
    lookback_days: int
    seed: int

    def band_url(self, pool_idx: int, band: int) -> str:
        return "file://" + os.path.join(self.band_dir, f"img{pool_idx:03d}_b{band}.zip")

    def offered(self, d: int) -> list[Capture]:
        """The captures the catalog query returns on day ``d``: one per
        water body for each day of the window ``[d - lookback_days + 1, d]``.
        When days are ingested in order, only day ``d``'s are new."""
        return [c for k in range(d - self.lookback_days + 1, d + 1) for c in self.captures(k)]

    def history(self) -> list[Capture]:
        """The captures ingested before day 0: the rest of day 0's window."""
        return [c for k in range(1 - self.lookback_days, 0) for c in self.captures(k)]

    def captures(self, d: int) -> list[Capture]:
        """Day ``d``'s captures, one per water body."""
        base = dt.datetime(2024, 1, 1) + dt.timedelta(days=d)
        rng = np.random.default_rng([self.seed, 7, d + 1000])
        hours = rng.integers(6, 18, self.n_bodies)
        minutes = rng.integers(0, 60, self.n_bodies)
        pools = rng.integers(0, len(self.pool), self.n_bodies)
        return [
            Capture(
                (d + 1000) * 1000 + b, b,
                base + dt.timedelta(hours=int(hours[b]), minutes=int(minutes[b])), int(pools[b]), d,
            )
            for b in range(self.n_bodies)
        ]


def _raster(rng: np.random.Generator, w: int, h: int) -> np.ndarray:
    """One RGB scene: blocky land/water colour field plus noise, white
    cloud discs with channels within the white spread, and a swath edge
    of nodata (all bands 0) on some scenes."""
    cells = rng.integers(20, 140, size=(3, 8, 8)).astype(np.float64)
    field_ = np.kron(cells, np.ones((h // 8 + 1, w // 8 + 1)))[:, :h, :w]
    img = field_ + rng.normal(0, 12, size=(3, h, w))
    yy, xx = np.mgrid[0:h, 0:w]
    for _ in range(int(rng.integers(1, 5))):
        cx, cy = rng.uniform(0, w), rng.uniform(0, h)
        r = rng.uniform(0.05, 0.2) * w
        disc = (xx - cx) ** 2 + (yy - cy) ** 2 < r * r
        grey = rng.integers(170, 240)
        for b in range(3):
            img[b][disc] = grey + rng.integers(-8, 9, size=int(disc.sum()))
    img = np.clip(np.rint(img), 1, 255).astype(np.uint8)
    if rng.random() < 0.5:
        cut = rng.uniform(0.3, 0.8) * (w + h)
        img[:, xx + yy > cut] = 0
    return img


def _polygon(rng: np.random.Generator, w: int, h: int) -> list[tuple[float, float]]:
    """A star-shaped 10-vertex ring around the frame centre. Angles and
    radii are jittered, but only a little, so every seed clips about the
    same area; vertex coordinates are arbitrary floats, so no pixel
    centre falls exactly on an edge."""
    n = 10
    cx = w * rng.uniform(0.45, 0.55)
    cy = h * rng.uniform(0.45, 0.55)
    angles = (np.arange(n) + rng.uniform(-0.3, 0.3, n)) * (2 * np.pi / n)
    radii = rng.uniform(0.24, 0.36, n) * min(w, h)
    return [
        (float(cx + r * np.cos(a)) + 1e-3, float(cy + r * np.sin(a)) + 1e-3)
        for a, r in zip(angles, radii)
    ]


def gen_images(
    out_dir: str, seed: int, *, size: int, n_pool: int, n_bodies: int, lookback_days: int
) -> ImageInputs:
    """Write ``n_pool`` scenes as per-band single-member zips (the shape
    the reference downloads) and return the day schedule."""
    band_dir = os.path.join(out_dir, "bands")
    os.makedirs(band_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    pool = {}
    inputs = ImageInputs(size, size, band_dir, pool, {}, n_bodies, lookback_days, seed)
    for p in range(n_pool):
        img = _raster(rng, size, size)
        pool[p] = img
        for b in range(3):
            buf = io.BytesIO()
            with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
                zf.writestr(f"B{b}.raw", img[b].tobytes())
            with open(inputs.band_url(p, b)[len("file://"):], "wb") as f:
                f.write(buf.getvalue())
    prng = np.random.default_rng([seed, 2])
    inputs.polygons.update({b: _polygon(prng, size, size) for b in range(n_bodies)})
    return inputs


# ------------------------------------------------------------------ corpus

#: pseudo-word vocabulary: large enough that unrelated documents share
#: (almost) no 3-shingles, so every near-duplicate pair is a planted one
VOCAB = np.array([f"w{i:04d}" for i in range(2000)])


@dataclass
class Shard:
    path: str
    n_docs: int
    exact_families: list[list[int]]
    near_families: list[list[int]]
    vec_pairs: list[tuple[int, int]]
    embeddings: np.ndarray  # (n_vecs, dim) float32, row i = vec_id i


def gen_shard(
    path: str,
    seed: int,
    *,
    n_docs: int,
    n_exact: int,
    n_near: int,
    n_vec_pairs: int,
    dim: int = 64,
) -> Shard:
    """One training-corpus shard with every planted relative inside it:
    ``n_exact`` exact-copy families (copies differ only in case and
    whitespace, which the pipeline normalizes away), ``n_near``
    near-duplicate families (root plus variants with one or two word
    substitutions on documents of at least 80 words, so every
    root-variant 3-shingle Jaccard is >= 0.85), and ``n_vec_pairs``
    near-identical embedding pairs (cosine ~0.999)."""
    os.makedirs(path, exist_ok=True)
    rng = np.random.default_rng(seed)
    lens = rng.integers(40, 160, n_docs)
    texts = [" ".join(rng.choice(VOCAB, n)) for n in lens]
    ids = rng.permutation(n_docs)  # doc_id of slot i
    slot = 0
    exact_families, near_families = [], []
    for _ in range(n_exact):
        size = int(rng.integers(2, 5))
        root = texts[slot]
        fam = [int(ids[slot])]
        for k in range(1, size):
            words = root.split(" ")
            if k % 2:
                words = [w.upper() for w in words]
            texts[slot + k] = ("  " if k % 2 == 0 else "") + "  ".join(words) + " "
            fam.append(int(ids[slot + k]))
        exact_families.append(fam)
        slot += size
    for _ in range(n_near):
        size = int(rng.integers(2, 5))
        words = list(rng.choice(VOCAB, int(rng.integers(80, 160))))
        texts[slot] = " ".join(words)
        fam = [int(ids[slot])]
        for k in range(1, size):
            var = list(words)
            for j in rng.choice(len(var), int(rng.integers(1, 3)), replace=False):
                var[j] = "z" + var[j][1:]  # never equal to the original word
            texts[slot + k] = " ".join(var)
            fam.append(int(ids[slot + k]))
        near_families.append(fam)
        slot += size
    if slot > n_docs:
        raise ValueError("shard too small for its planted families")
    order = np.argsort(ids)
    doc_ids = np.arange(n_docs)
    texts_by_id = [texts[i] for i in order]
    docs = pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": pa.array(texts_by_id, pa.string()),
            "lang": pa.array(rng.choice(["en", "de", "fr", "es"], n_docs), pa.string()),
            "source": pa.array([f"src{i % 10}" for i in doc_ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts_by_id], pa.int64()),
        }
    )
    pq.write_table(docs, os.path.join(path, "documents.parquet"), row_group_size=max(1, n_docs // 4))

    vecs = rng.normal(size=(n_docs, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    perm = rng.permutation(n_docs)
    pairs = []
    for i in range(n_vec_pairs):
        a, b = int(perm[2 * i]), int(perm[2 * i + 1])
        jitter = rng.normal(size=dim)
        vecs[b] = vecs[a] + 0.04 * jitter / np.linalg.norm(jitter)
        pairs.append((min(a, b), max(a, b)))
    vecs = vecs.astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(doc_ids, pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(np.zeros(n_docs, np.int32), pa.int32()),
        }
    )
    pq.write_table(emb, os.path.join(path, "embeddings.parquet"), row_group_size=max(1, n_docs // 4))
    return Shard(path, n_docs, exact_families, near_families, pairs, vecs)
