"""Smoke test of the benchmark at tiny sizes.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The end-to-end tests start one Spark JVM per run (about half a minute
each); the check tests need no JVM and show that a corrupted output
fails its check.
"""

from __future__ import annotations

import json
import os
import struct
import subprocess
import sys
import zlib

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["image_etl", "corpus_dedup"])
def test_end_to_end_output(workload):
    res = _run(workload, 0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True
    assert res["attempted"] >= 1 and res["failed"] == 0
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_traced_output():
    res = _run("image_etl", 1)
    assert res["correct"] is True and res["failed"] == 0
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert res["metrics"]["multimodal.clip_s"]["value"] > 0
    assert res["metrics"]["sinks.blobs_written"]["value"] > 0


def test_no_package_fails_fast(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(BENCH):
        if name.endswith(".py"):
            (bench / name).write_bytes(open(os.path.join(BENCH, name), "rb").read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "image_etl", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0 and proc.stdout.strip() == ""


# ------------------------------------------------------------------ checks


def _png(w: int, h: int) -> bytes:
    def chunk(tag, data):
        return struct.pack(">I", len(data)) + tag + data + struct.pack(">I", zlib.crc32(tag + data))

    raw = b"".join(b"\0" + bytes(3 * w) for _ in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")


def _image_day(tmp_path):
    inputs = gen.gen_images(str(tmp_path), 4, size=64, n_pool=3, n_bodies=4, lookback_days=2)
    blobs, expect, rows = {}, {}, []
    for c in inputs.captures(0):
        clipped = checks.reference_clip(inputs.pool[c.pool_idx], inputs.polygons[c.waterbody_id])
        means, wf = checks.reference_stats(clipped)
        stem = f"S2/{c.waterbody_id}/{c.waterbody_id}_{c.captured_ts:%Y%m%d%H%M%S}"
        _, h, w = clipped.shape
        blobs[stem + ".tif"] = clipped.tobytes()
        blobs[stem + "_thumbnail.png"] = _png(w // 7, h // 7)
        key = (c.waterbody_id, pd.Timestamp(c.captured_ts))
        expect[key] = (clipped, means, wf, stem + ".tif", stem + "_thumbnail.png")
        rows.append(dict(waterbody_id=c.waterbody_id, captured_ts=c.captured_ts, red_average=means[0],
                         green_average=means[1], blue_average=means[2], white_fraction=wf))
    return pd.DataFrame(rows), expect, blobs


def test_image_check_catches_corruption(tmp_path):
    records, expect, blobs = _image_day(tmp_path)
    assert checks.check_image_day(records, expect, blobs.__getitem__) == []
    bad = records.copy()
    bad.loc[0, "white_fraction"] += 1e-3
    assert any("white_fraction" in e for e in checks.check_image_day(bad, expect, blobs.__getitem__))
    key = next(k for k in blobs if k.endswith(".tif"))
    clipped = next(e[0] for e in expect.values() if e[3] == key)
    outside = np.argwhere(clipped.max(axis=0) == 0)
    assert len(outside), "the polygon leaves no pixel outside its bounding box"
    leaked = bytearray(blobs[key])
    y, x = outside[0]
    leaked[y * clipped.shape[2] + x] = 9
    blobs[key] = bytes(leaked)
    assert any("outside the polygon" in e for e in checks.check_image_day(records, expect, blobs.__getitem__))


def _truth_decisions(shard) -> tuple[pd.DataFrame, pd.DataFrame]:
    rep = {i: i for i in range(shard.n_docs)}
    for fam in shard.exact_families + shard.near_families:
        rep.update({i: min(fam) for i in fam})
    exact = {i: i for i in range(shard.n_docs)}
    for fam in shard.exact_families:
        exact.update({i: min(fam) for i in fam})
    decisions = pd.DataFrame(
        {
            "doc_id": list(rep),
            "exact_rep": [exact[i] for i in rep],
            "canonical_id": list(rep.values()),
            "keep": [i == r for i, r in rep.items()],
        }
    )
    pairs = pd.DataFrame(shard.vec_pairs, columns=["vec_a", "vec_b"])
    return decisions, pairs


def test_corpus_check_catches_corruption(tmp_path):
    shard = gen.gen_shard(str(tmp_path), 5, n_docs=300, n_exact=10, n_near=10, n_vec_pairs=8)
    decisions, pairs = _truth_decisions(shard)
    assert checks.check_corpus(decisions, pairs, shard, 0.4) == []
    assert any("missing" in e for e in checks.check_corpus(decisions, pairs.iloc[1:], shard, 0.4))
    merged = decisions.copy()
    other = shard.near_families[1][0]
    merged.loc[merged["doc_id"] == other, ["canonical_id", "keep"]] = [min(shard.near_families[0]), False]
    assert any("spans" in e for e in checks.check_corpus(merged, pairs, shard, 0.4))
