"""The traced run's instrumentation, applied from outside the package.

``Tracer.install`` replaces each traced package function, in every
loaded package module that holds it, with a wrapper that records a
span (name, start, end, parent, op id) and sets a Spark job group per
call, so each job is attributed to the innermost span that launched
it. After each op ``end_op`` reads Spark's in-process status store
(jobs, stages, tasks) and folds spans and stages into that op's
per-layer figures. Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import functools
import importlib
import json
import statistics
import sys
import time
from contextlib import contextmanager

PKG = "lake_satellite_image_etl_spark"

#: (module, attribute, span name): the layer boundaries that are traced
TARGETS = (
    ("io", "read_table", "io.read_table"),
    ("io", "register_views", "io.register_views"),
    ("caching", "persist_bounded", "caching.persist_bounded"),
    ("caching", "release_all", "caching.release_all"),
    ("functions.text", "tokens_of", "functions.tokens_of"),
    ("operators.dedup", "hashed_shingles", "functions.hashed_shingles"),
    ("operators.dedup", "minhash_pairs", "dedup.minhash_pairs"),
    ("operators.dedup", "label_propagate_components", "dedup.components"),
    ("operators.dedup", "embedding_cosine_lsh_pairs", "dedup.embedding_lsh"),
    ("operators.incremental", "idempotent_append", "operators.idempotent_append"),
    ("multimodal.raster", "fetch_remote_bands", "multimodal.fetch"),
    ("multimodal.raster", "stack_bands", "multimodal.stack"),
    ("multimodal.raster", "clip_to_polygon", "multimodal.clip"),
    ("multimodal.raster", "channel_means", "multimodal.channel_means"),
    ("multimodal.raster", "white_fraction", "multimodal.white_fraction"),
    ("multimodal.raster", "thumbnail", "multimodal.thumbnail"),
    ("sinks", "write_idempotent_append", "sinks.append"),
    ("sinks", "write_binary_artifacts", "sinks.artifacts"),
)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.op = None
        self._t0 = time.perf_counter()
        jvm = spark._jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self._jvm = jvm

    # ---------------------------------------------------------- spans

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter() - self._t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.sc.setJobGroup(f"span-{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            self.sc.setJobGroup(f"span-{self._stack[-1]}" if self._stack else "untraced", "")

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                if name == "caching.release_all":
                    rec["persisted"] = self._cache_state()
                out = fn(*args, **kwargs)
                if isinstance(out, int):
                    rec["ret"] = out
                return out

        return traced

    def install(self) -> None:
        mods = [m for n, m in list(sys.modules.items()) if n == PKG or n.startswith(PKG + ".")]
        for mod_name, attr, name in TARGETS:
            orig = getattr(importlib.import_module(f"{PKG}.{mod_name}"), attr)
            wrapped = self._wrap(orig, name)
            for m in mods:
                for key, val in list(vars(m).items()):
                    if val is orig:
                        setattr(m, key, wrapped)
                        self._patched.append((m, key, orig))

    def uninstall(self) -> None:
        for m, key, orig in reversed(self._patched):
            setattr(m, key, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)

    # ---------------------------------------------------------- status store

    def _seq(self, seq):
        return list(self._conv.asJava(seq))

    def _cache_state(self) -> tuple[int, int]:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return len(infos), sum(i.memSize() + i.diskSize() for i in infos)

    def _max_job_id(self) -> int:
        return max((j.jobId() for j in self._seq(self._store.jobsList(None))), default=-1)

    def begin_op(self, op) -> None:
        self.op = op
        self._job_floor = self._max_job_id()
        self._span_floor = len(self.spans)
        self.sc.setJobGroup("untraced", "")

    def end_op(self, wall: float) -> dict[str, float]:
        """Per-layer figures of the op that just ran for ``wall`` seconds."""
        spans = self.spans[self._span_floor :]
        self.op = None

        def dur(names, top_only=False):
            total = 0.0
            for s in spans:
                if s["name"].startswith(names) and not (top_only and self._has_ancestor(s, names)):
                    total += s["end"] - s["start"]
            return total

        jobs = [j for j in self._seq(self._store.jobsList(None)) if j.jobId() > self._job_floor]
        job_span = {}
        stage_ids = set()
        for j in jobs:
            g = j.jobGroup()
            gid = g.get() if g.isDefined() else ""
            job_span[j.jobId()] = int(gid[5:]) if gid.startswith("span-") else None
            stage_ids.update(self._seq(j.stageIds()))
        stages = [
            s
            for s in self._seq(
                self._store.stageList(None, False, False, self._no_quantiles, self._jvm.java.util.ArrayList())
            )
            if s.stageId() in stage_ids and s.submissionTime().isDefined() and s.completionTime().isDefined()
        ]

        def jobs_under(prefix):
            return sum(
                1 for sid in job_span.values()
                if sid is not None and self._chain_has(sid, prefix)
            )

        intervals = sorted(
            (s.submissionTime().get().getTime(), s.completionTime().get().getTime()) for s in stages
        )
        busy_ms, cur_lo, cur_hi = 0, None, None
        for lo, hi in intervals:
            if cur_hi is None or lo > cur_hi:
                busy_ms += (cur_hi - cur_lo) if cur_hi is not None else 0
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        busy_ms += (cur_hi - cur_lo) if cur_hi is not None else 0

        skew = 1.0
        if stages:
            longest = max(stages, key=lambda s: s.completionTime().get().getTime() - s.submissionTime().get().getTime())
            durs = [
                t.duration().get()
                for t in self._seq(self._store.taskList(longest.stageId(), longest.attemptId(), 100_000))
                if t.duration().isDefined()
            ]
            if durs and statistics.median(durs) > 0:
                skew = max(durs) / statistics.median(durs)

        rets = lambda name: sum(s.get("ret", 0) for s in spans if s["name"] == name)  # noqa: E731
        release = [s for s in spans if s["name"] == "caching.release_all" and "persisted" in s]
        persisted = release[-1]["persisted"] if release else (0, 0)
        return {
            "io.read_s": dur("io.", top_only=True),
            "io.input_bytes": float(sum(s.inputBytes() for s in stages)),
            "plans.build_s": dur("plans.build"),
            "plans.build_jobs": float(jobs_under("plans.build")),
            "plans.jobs": float(len(jobs)),
            "plans.stages": float(len(stages)),
            "plans.tasks": float(sum(s.numCompleteTasks() for s in stages)),
            "plans.driver_gap_s": wall - busy_ms / 1000.0,
            "operators.executor_run_s": sum(s.executorRunTime() for s in stages) / 1000.0,
            "operators.executor_cpu_s": sum(s.executorCpuTime() for s in stages) / 1e9,
            "operators.shuffle_write_bytes": float(sum(s.shuffleWriteBytes() for s in stages)),
            "operators.shuffle_read_bytes": float(sum(s.shuffleReadBytes() for s in stages)),
            "operators.spill_bytes": float(sum(s.memoryBytesSpilled() + s.diskBytesSpilled() for s in stages)),
            "operators.task_skew": float(skew),
            "caching.persisted_rdds": float(persisted[0]),
            "caching.persisted_bytes": float(persisted[1]),
            "caching.release_s": dur("caching.release_all"),
            "operators.skip_s": dur("operators.skip"),
            "sinks.append_s": dur("sinks.append"),
            "sinks.append_jobs": float(jobs_under("sinks.append")),
            "sinks.rows_appended": float(rets("sinks.append")),
            "sinks.artifacts_s": dur("sinks.artifacts"),
            "sinks.blobs_written": float(rets("sinks.artifacts")),
        }

    def _has_ancestor(self, span: dict, prefix: str) -> bool:
        p = span["parent"]
        while p is not None:
            if self.spans[p]["name"].startswith(prefix):
                return True
            p = self.spans[p]["parent"]
        return False

    def _chain_has(self, sid: int, prefix: str) -> bool:
        return self.spans[sid]["name"].startswith(prefix) or self._has_ancestor(self.spans[sid], prefix)
