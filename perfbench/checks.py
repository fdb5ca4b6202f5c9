"""Output checks, computed apart from the program: each function takes
what a run wrote plus the generator's planted truth and returns a list
of error strings (empty = pass). Nothing here imports the package."""

from __future__ import annotations

import math
import struct
import zlib

import numpy as np
import pandas as pd

WHITE_MIN, WHITE_SPREAD = int(0.6 * 255), int(0.1 * 255)
THUMB_FACTOR = 7

# ------------------------------------------------------------------ images


def polygon_mask(ring, x0: int, y0: int, w: int, h: int) -> np.ndarray:
    """Even-odd ray cast of pixel centres (x + 0.5, y + 0.5) of the
    window [x0, x0 + w) x [y0, y0 + h)."""
    py, px = np.mgrid[y0 : y0 + h, x0 : x0 + w] + 0.5
    inside = np.zeros((h, w), dtype=bool)
    for (ax, ay), (bx, by) in zip(ring, ring[1:] + ring[:1]):
        if ay == by:
            continue
        spans = (ay > py) != (by > py)
        x_cross = ax + (py - ay) * (bx - ax) / (by - ay)
        inside ^= spans & (px < x_cross)
    return inside


def reference_clip(img: np.ndarray, ring) -> np.ndarray:
    """rasterio.mask(crop=True, nodata=0) semantics: crop to the ring's
    pixel bounding box, zero the pixels whose centre is outside."""
    _, h, w = img.shape
    xs, ys = [p[0] for p in ring], [p[1] for p in ring]
    x0, x1 = max(0, math.floor(min(xs))), min(w - 1, math.ceil(max(xs)))
    y0, y1 = max(0, math.floor(min(ys))), min(h - 1, math.ceil(max(ys)))
    crop = img[:, y0 : y1 + 1, x0 : x1 + 1]
    mask = polygon_mask(ring, x0, y0, x1 - x0 + 1, y1 - y0 + 1)
    return np.where(mask, crop, 0).astype(np.uint8)


def reference_stats(clipped: np.ndarray) -> tuple[list[float | None], float | None]:
    """Channel means over non-zero pixels and the white fraction of the
    in-bounds pixels (a pixel is out of bounds when every band is 0)."""
    means = []
    for ch in clipped.astype(np.int64):
        nz = ch[ch != 0]
        means.append(nz.sum() / nz.size if nz.size else None)
    lo, hi = clipped.min(axis=0).astype(np.int64), clipped.max(axis=0).astype(np.int64)
    in_bounds = int((hi != 0).sum())
    white = int(((lo >= WHITE_MIN) & (hi - lo <= WHITE_SPREAD)).sum())
    return means, (white / in_bounds if in_bounds else None)


def png_size(blob: bytes) -> tuple[int, int, int]:
    """(width, height, inflated scanline bytes) of an 8-bit RGB PNG."""
    if blob[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, idat = 8, b""
    w = h = None
    while pos < len(blob):
        (n,) = struct.unpack(">I", blob[pos : pos + 4])
        tag, data = blob[pos + 4 : pos + 8], blob[pos + 8 : pos + 8 + n]
        if zlib.crc32(tag + data) != struct.unpack(">I", blob[pos + 8 + n : pos + 12 + n])[0]:
            raise ValueError(f"bad CRC in {tag!r}")
        if tag == b"IHDR":
            w, h = struct.unpack(">II", data[:8])
        elif tag == b"IDAT":
            idat += data
        pos += 12 + n
    return w, h, len(zlib.decompress(idat))


def _close(a, b) -> bool:
    a_missing = a is None or (isinstance(a, float) and math.isnan(a))
    if a_missing or b is None:
        return a_missing and b is None
    return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-12)


def check_image_day(records: pd.DataFrame, expect: dict, read_blob) -> list[str]:
    """``records``: the target rows for this day's new captures.
    ``expect``: capture key -> (clipped pixels, means, white fraction,
    raster key, thumbnail key). ``read_blob(key)`` reads an artifact."""
    errs = []
    got = {(int(r.waterbody_id), pd.Timestamp(r.captured_ts)): r for r in records.itertuples()}
    if len(got) != len(records):
        errs.append("duplicate primary keys in the target")
    if set(got) != set(expect):
        errs.append(f"target keys differ: {len(set(got) ^ set(expect))} mismatched")
    for key, (clipped, means, wf, tif_key, png_key) in expect.items():
        r = got.get(key)
        if r is None:
            continue
        for name, want in zip(("red_average", "green_average", "blue_average"), means):
            if not _close(getattr(r, name), want):
                errs.append(f"{key} {name} {getattr(r, name)!r} != {want!r}")
        if not _close(r.white_fraction, wf):
            errs.append(f"{key} white_fraction {r.white_fraction!r} != {wf!r}")
        raster = read_blob(tif_key)
        if raster != clipped.tobytes():
            nb, h, w = clipped.shape
            if len(raster) != nb * h * w:
                errs.append(f"{tif_key}: {len(raster)} bytes, want {nb * h * w}")
            else:
                outside = clipped.max(axis=0) == 0
                arr = np.frombuffer(raster, np.uint8).reshape(clipped.shape)
                if arr[:, outside].any():
                    errs.append(f"{tif_key}: non-zero pixels outside the polygon")
                else:
                    errs.append(f"{tif_key}: pixels differ inside the polygon")
        try:
            tw, th, n = png_size(read_blob(png_key))
        except (ValueError, zlib.error, struct.error) as e:
            errs.append(f"{png_key}: {e}")
            continue
        _, h, w = clipped.shape
        want_w, want_h = int(w / THUMB_FACTOR), int(h / THUMB_FACTOR)
        if (tw, th, n) != (want_w, want_h, want_h * (1 + 3 * want_w)):
            errs.append(f"{png_key}: {tw}x{th} ({n} bytes), want {want_w}x{want_h}")
    return errs


# ------------------------------------------------------------------ corpus

#: share of planted near-duplicate documents that must land in their
#: family's cluster (MinHash banding is probabilistic; see README)
NEAR_RECALL_FLOOR = 0.98


def check_corpus(decisions: pd.DataFrame, pairs: pd.DataFrame, shard, threshold: float) -> list[str]:
    """``decisions``: (doc_id, exact_rep, canonical_id, n_copies, keep)
    from the dedup pipeline; ``pairs``: (vec_a, vec_b, cos_sim) from the
    embedding LSH; ``shard``: the generator's planted truth."""
    errs = []
    d = decisions.set_index("doc_id")
    if sorted(d.index) != list(range(shard.n_docs)):
        return [f"decisions cover {len(d)} documents, want {shard.n_docs}"]
    for fam in shard.exact_families:
        if set(d.loc[fam, "exact_rep"]) != {min(fam)}:
            errs.append(f"exact family {fam}: exact_rep {sorted(set(d.loc[fam, 'exact_rep']))}")
    family_of = {}
    for k, fam in enumerate(shard.exact_families + shard.near_families):
        family_of.update({i: k for i in fam})
    for cid, members in d.groupby("canonical_id").groups.items():
        fams = {family_of.get(i, ("solo", i)) for i in members}
        if len(fams) > 1:
            errs.append(f"cluster {cid} spans {len(fams)} planted families")
    near_total = near_hit = 0
    for fam in shard.near_families:
        near_total += len(fam)
        near_hit += int((d.loc[fam, "canonical_id"] == min(fam)).sum())
    if near_total and near_hit / near_total < NEAR_RECALL_FLOOR:
        errs.append(f"near-duplicate recall {near_hit}/{near_total} below {NEAR_RECALL_FLOOR}")
    keeps = d[d["keep"]]
    if len(keeps) != d["canonical_id"].nunique() or (keeps.index != keeps["canonical_id"]).any():
        errs.append("not exactly one keep per canonical_id")
    errs.extend(check_vector_pairs(pairs, shard, threshold))
    return errs


def check_vector_pairs(pairs: pd.DataFrame, shard, threshold: float, quant: int = 10_000) -> list[str]:
    errs = []
    v = shard.embeddings.astype(np.float64)
    a, b = pairs["vec_a"].to_numpy(), pairs["vec_b"].to_numpy()
    if len(pairs):
        va, vb = v[a], v[b]
        na, nb = np.linalg.norm(va, axis=1), np.linalg.norm(vb, axis=1)
        cos = (va * vb).sum(axis=1) / (na * nb)
        # rounding each component to 1/quant moves a vector by at most
        # 0.5 * sqrt(dim) / quant, and the cosine by about that over the norm
        slack = 0.5 * math.sqrt(v.shape[1]) / quant * (1 / na + 1 / nb) + 1e-9
        bad = cos < threshold - slack
        if bad.any():
            errs.append(f"{int(bad.sum())} vector pairs below cosine {threshold}")
    got = set(zip(a.tolist(), b.tolist()))
    missing = [p for p in shard.vec_pairs if p not in got]
    if missing:
        errs.append(f"{len(missing)} planted vector pairs missing, e.g. {missing[0]}")
    return errs
