"""The workloads. Each op is built only from the package's public
functions; inputs come from ``gen`` and outputs are checked by
``checks``.

Every package function is looked up through its module at call time
(``raster.stack_bands``, not a name imported here), so the traced run's
wrappers see every call.
"""

from __future__ import annotations

import contextlib
import os
import time

import pandas as pd
from pyspark.sql import functions as F

import checks
import gen
from lake_satellite_image_etl_spark import caching, io, sinks
from lake_satellite_image_etl_spark.functions import scalars, text
from lake_satellite_image_etl_spark.multimodal import raster
from lake_satellite_image_etl_spark.operators import dedup, incremental

#: shuffle and fetch partitions; equal to the task slots the harness
#: starts Spark with, so every stage runs as one wave
PARTITIONS = 2

#: primary key of the image_etl target, as in the reference's table
PK = ["waterbody_id", "captured_ts"]
RECORD_COLUMNS = [
    "waterbody_id", "captured_ts", "filename", "thumbnail_filename",
    "red_average", "green_average", "blue_average", "white_fraction",
]
RECORD_SCHEMA = (
    "waterbody_id long, captured_ts timestamp, filename string, thumbnail_filename string, "
    "red_average double, green_average double, blue_average double, white_fraction double"
)


def _timed_noop(df) -> float:
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


class Workload:
    """One op = one call of ``op(i)``; ``check(i)`` runs after the timed
    region and returns error strings for op ``i``."""

    name = ""
    items_per_op = 1
    #: the first op absorbs the cold start (JVM class loading, codegen,
    #: Python workers) at 3-5x a later op's cost; see README on the JIT tail
    warmup_ops = 1
    #: seconds per warm op on a 4-core box; timed ops = seconds / this
    nominal_op_s = 1.0

    def __init__(self, spark, scratch: str, seed: int, tiny: bool):
        self.spark, self.scratch, self.seed, self.tiny = spark, scratch, seed, tiny
        self.tracer = None

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def setup(self, n_ops: int) -> None:
        raise NotImplementedError

    def op(self, i: int) -> None:
        raise NotImplementedError

    def check(self, i: int) -> list[str]:
        raise NotImplementedError

    def probe(self, i: int) -> dict[str, float]:
        """Traced run only: per-layer figures measured by materializing
        single calls alone, after op ``i``."""
        return {}


# ------------------------------------------------------------------ image_etl


class ImageEtl(Workload):
    """One op = one day's batch of the reference job."""

    name = "image_etl"
    nominal_op_s = 3.0

    def setup(self, n_ops: int) -> None:
        size, pool, bodies, lookback = (48, 4, 6, 3) if self.tiny else (256, 24, 20, 30)
        self.items_per_op = bodies
        self.inputs = gen.gen_images(
            os.path.join(self.scratch, "in"), self.seed,
            size=size, n_pool=pool, n_bodies=bodies, lookback_days=lookback,
        )
        self.target = os.path.join(self.scratch, "out", "records")
        self.art_dir = os.path.join(self.scratch, "out", "artifacts")
        #: op -> (captures offered, captures that passed the skip)
        self.days: dict[int, tuple[list[gen.Capture], list[gen.Capture]]] = {}
        self.written: dict[int, tuple[int, int, int]] = {}
        self._expect_cache: dict[tuple[int, int], tuple] = {}
        self._target_pdf = None
        # the earlier days of day 0's lookback window were ingested before
        rows = []
        for c in self.inputs.history():
            _, means, wf, tif_key, png_key = self._expect(c)
            rows.append((c.waterbody_id, c.captured_ts, tif_key, png_key, *means, wf))
        self.n_history = len(rows)
        records = self.spark.createDataFrame(
            pd.DataFrame(rows, columns=RECORD_COLUMNS), RECORD_SCHEMA
        )
        sinks.write_idempotent_append(self.spark, records, self.target, PK)

    def _frames(self, caps):
        spark, size = self.spark, self.inputs.width
        urls = pd.DataFrame(
            [(c.capture_id, b, self.inputs.band_url(c.pool_idx, b)) for c in caps for b in range(3)],
            columns=["capture_id", "band_idx", "url"],
        )
        urls_df = spark.createDataFrame(urls, "capture_id long, band_idx int, url string")
        polys = {c.capture_id: self.inputs.polygons[c.waterbody_id] for c in caps}
        return urls_df, self._meta(caps), polys, size

    def _meta(self, caps):
        meta = pd.DataFrame(
            {
                "capture_id": [c.capture_id for c in caps],
                "waterbody_id": [c.waterbody_id for c in caps],
                "captured_ts": [c.captured_ts for c in caps],
                "ee_id": [f"S2/{c.waterbody_id}" for c in caps],
            }
        )
        return self.spark.createDataFrame(
            meta, "capture_id long, waterbody_id long, captured_ts timestamp, ee_id string"
        )

    def _skip_ingested(self, offered):
        """The reference's pre-download step: drop the offered captures
        whose key the target already holds (a left-anti join)."""
        existing = self.spark.read.parquet(self.target).select(*PK)
        todo = incremental.idempotent_append(self._meta(offered), existing, PK).select("capture_id")
        ids = {r.capture_id for r in todo.collect()}
        return [c for c in offered if c.capture_id in ids]

    @staticmethod
    def _bands(fetched, size):
        return fetched.select(
            F.col("capture_id").alias("entity_id"),
            "band_idx",
            F.lit(size).alias("width"),
            F.lit(size).alias("height"),
            F.col("content").alias("data"),
        )

    def op(self, i: int) -> None:
        offered = self.inputs.offered(i)
        with self.span("operators.skip"):
            caps = self._skip_ingested(offered)
        self.days[i] = (offered, caps)
        spark = self.spark
        urls_df, meta_df, polys, size = self._frames(caps)
        fetched = raster.fetch_remote_bands(spark, urls_df, fetch_partitions=PARTITIONS)
        stacked = raster.stack_bands(self._bands(fetched, size))
        clipped = caching.persist_bounded(raster.clip_to_polygon(stacked, polys.__getitem__))
        stats = clipped.select(
            "entity_id",
            raster.channel_means("data", "width", "height", "bands").alias("m"),
            raster.white_fraction("data", "width", "height", "bands").alias("wf"),
        )
        thumbs = raster.thumbnail(clipped)
        keyed = meta_df.select(
            "capture_id",
            "waterbody_id",
            "captured_ts",
            scalars.artifact_key(F.col("ee_id"), F.col("waterbody_id"), F.col("captured_ts"), ".tif").alias(
                "filename"
            ),
            scalars.artifact_key(
                F.col("ee_id"), F.col("waterbody_id"), F.col("captured_ts"), "_thumbnail.png"
            ).alias("thumbnail_filename"),
        )
        on = F.col("capture_id") == F.col("entity_id")
        n_tif = sinks.write_binary_artifacts(
            keyed.join(clipped, on).select("filename", "data"), self.art_dir, "filename", "data"
        )
        n_png = sinks.write_binary_artifacts(
            keyed.join(thumbs, on).select("thumbnail_filename", "thumb"),
            self.art_dir, "thumbnail_filename", "thumb",
        )
        records = keyed.join(stats, on).select(
            "waterbody_id",
            "captured_ts",
            "filename",
            "thumbnail_filename",
            F.col("m")[0].alias("red_average"),
            F.col("m")[1].alias("green_average"),
            F.col("m")[2].alias("blue_average"),
            F.col("wf").alias("white_fraction"),
        )
        n_app = sinks.write_idempotent_append(spark, records, self.target, PK)
        caching.release_all()
        self.written[i] = (n_tif, n_png, n_app)

    def _expect(self, c: gen.Capture):
        k = (c.pool_idx, c.waterbody_id)
        if k not in self._expect_cache:
            clipped = checks.reference_clip(self.inputs.pool[c.pool_idx], self.inputs.polygons[c.waterbody_id])
            self._expect_cache[k] = (clipped, *checks.reference_stats(clipped))
        stem = f"S2/{c.waterbody_id}/{c.waterbody_id}_{c.captured_ts:%Y%m%d%H%M%S}"
        return (*self._expect_cache[k], stem + ".tif", stem + "_thumbnail.png")

    def check(self, i: int) -> list[str]:
        offered, caps = self.days[i]
        new = [c for c in offered if c.day == i]
        errs = []
        if [c.capture_id for c in caps] != [c.capture_id for c in new]:
            errs.append(f"day {i}: the skip kept {len(caps)} of {len(offered)} offered captures, want the {len(new)} new")
        n = len(new)
        if self.written[i] != (n, n, n):
            errs.append(f"day {i}: wrote (tif, png, rows) {self.written[i]}, want {(n, n, n)}")
        if self._target_pdf is None:
            pdf = pd.read_parquet(self.target)
            ts = pdf["captured_ts"]
            if getattr(ts.dt, "tz", None) is not None:
                pdf["captured_ts"] = ts.dt.tz_convert("UTC").dt.tz_localize(None)
            self._target_pdf = pdf
            want = self.n_history + len(self.days) * self.inputs.n_bodies
            if len(pdf) != want:
                errs.append(f"target holds {len(pdf)} rows, want {want} (one per capture ingested)")
        pdf = self._target_pdf
        keys = {(c.waterbody_id, pd.Timestamp(c.captured_ts)): self._expect(c) for c in new}
        mine = pdf[[(int(w), pd.Timestamp(t)) in keys for w, t in zip(pdf["waterbody_id"], pdf["captured_ts"])]]

        def read_blob(key):
            with open(os.path.join(self.art_dir, key), "rb") as f:
                return f.read()

        return errs + [f"day {i}: {e}" for e in checks.check_image_day(mine, keys, read_blob)]

    def probe(self, i: int) -> dict[str, float]:
        _, caps = self.days[i]
        urls_df, _, polys, size = self._frames(caps)
        held = []

        def hold(df):
            df = df.persist()
            df.write.format("noop").mode("overwrite").save()
            held.append(df)
            return df

        urls_df = hold(urls_df)
        out = {"multimodal.fetch_s": _timed_noop(raster.fetch_remote_bands(self.spark, urls_df, fetch_partitions=PARTITIONS))}
        bands = hold(self._bands(raster.fetch_remote_bands(self.spark, urls_df, fetch_partitions=PARTITIONS), size))
        out["multimodal.stack_s"] = _timed_noop(raster.stack_bands(bands))
        stacked = hold(raster.stack_bands(bands))
        out["multimodal.clip_s"] = _timed_noop(raster.clip_to_polygon(stacked, polys.__getitem__))
        clipped = hold(raster.clip_to_polygon(stacked, polys.__getitem__))
        out["multimodal.stats_s"] = _timed_noop(
            clipped.select(
                raster.channel_means("data", "width", "height", "bands"),
                raster.white_fraction("data", "width", "height", "bands"),
            )
        )
        out["multimodal.thumbnail_s"] = _timed_noop(raster.thumbnail(clipped))
        for df in held:
            df.unpersist()
        out["sinks.rows_offered"] = float(len(caps))
        out["sinks.bytes_written"] = float(
            sum(
                os.path.getsize(os.path.join(self.art_dir, k))
                for c in caps
                for k in self._expect(c)[3:]
            )
        )
        return out


# ------------------------------------------------------------------ corpus_dedup


class CorpusDedup(Workload):
    """One op = dedup of one training-corpus shard."""

    name = "corpus_dedup"
    nominal_op_s = 3.0
    #: the second op still ran 10-30% slower than the ones after it
    warmup_ops = 2

    def setup(self, n_ops: int) -> None:
        knobs = (
            dict(n_docs=300, n_exact=10, n_near=10, n_vec_pairs=8)
            if self.tiny
            else dict(n_docs=1000, n_exact=30, n_near=30, n_vec_pairs=20)
        )
        self.items_per_op = knobs["n_docs"]
        self.shards = [
            gen.gen_shard(os.path.join(self.scratch, "in", f"shard{i:03d}"), self.seed * 1000 + i, **knobs)
            for i in range(n_ops)
        ]
        self.out = os.path.join(self.scratch, "out")

    def op(self, i: int) -> None:
        path = self.shards[i].path
        with self.span("plans.build"):
            decisions = dedup.pipeline_corpus_dedup(self.spark, path)
        with self.span("plans.action"):
            decisions.write.mode("overwrite").parquet(os.path.join(self.out, f"{i}", "decisions"))
        with self.span("plans.build"):
            pairs = dedup.dedup_embedding_cosine_lsh(self.spark, path)
        with self.span("plans.action"):
            pairs.write.mode("overwrite").parquet(os.path.join(self.out, f"{i}", "pairs"))
        caching.release_all()

    def check(self, i: int) -> list[str]:
        decisions = pd.read_parquet(os.path.join(self.out, f"{i}", "decisions"))
        pairs = pd.read_parquet(os.path.join(self.out, f"{i}", "pairs"))
        return [
            f"shard {i}: {e}"
            for e in checks.check_corpus(decisions, pairs, self.shards[i], dedup.COSINE_DUP_THRESHOLD)
        ]

    def probe(self, i: int) -> dict[str, float]:
        path = self.shards[i].path
        docs = io.read_table(self.spark, path, "documents")
        emb = io.read_table(self.spark, path, "embeddings")
        out = {
            "functions.shingle_s": _timed_noop(
                docs.withColumn("_toks", text.tokens_of(F.col("text"))).select(
                    "doc_id", dedup.hashed_shingles(F.col("_toks"))
                )
            )
        }
        t = time.perf_counter()
        pairs = dedup.minhash_pairs(docs).select("doc_a", "doc_b").persist()
        verified = pairs.count()
        out["dedup.minhash_pairs_s"] = time.perf_counter() - t
        edges = pairs.union(pairs.select("doc_b", "doc_a")).toDF("src", "dst")
        t = time.perf_counter()
        dedup.label_propagate_components(edges).count()
        out["dedup.components_s"] = time.perf_counter() - t
        pairs.unpersist()
        t = time.perf_counter()
        vec_verified = dedup.embedding_cosine_lsh_pairs(emb).count()
        out["dedup.embedding_lsh_s"] = time.perf_counter() - t
        candidates = dedup.minhash_pairs(docs, min_jaccard=None).count()
        vec_candidates = dedup.embedding_cosine_lsh_pairs(emb, threshold=-2.0).count()
        caching.release_all()
        out["dedup.candidate_pairs"] = float(candidates + vec_candidates)
        out["dedup.verified_pairs"] = float(verified + vec_verified)
        out["dedup.pair_yield"] = out["dedup.verified_pairs"] / max(1.0, out["dedup.candidate_pairs"])
        return out


WORKLOADS = {w.name: w for w in (ImageEtl, CorpusDedup)}
