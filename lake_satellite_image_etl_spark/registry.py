"""Query registry: the single source for the driver contract.

Every operator module registers its demonstration queries (and, when
SQL-expressible, the DuckDB oracle) with the ``@query`` decorator;
``__spark_entry__`` just re-exports the collected dicts. Keys are the
operator IDs from SURVEY.md §2.

The driver's correctness gate checks queries in dict order and caps at
the first ~50, so ``load_all`` returns them in an order derived from
the committed ``CORRECTNESS_r*.json`` rounds (``rotation_order``);
``tools/rotation_audit.py`` reports on that window.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable
from importlib import import_module

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

#: modules that register queries on import
_MODULES = (
    "lake_satellite_image_etl_spark.plans.entry_queries",
    "lake_satellite_image_etl_spark.plans.ingest_entries",
    "lake_satellite_image_etl_spark.plans.pipeline",
    "lake_satellite_image_etl_spark.operators.filters",
    "lake_satellite_image_etl_spark.operators.joins",
    "lake_satellite_image_etl_spark.operators.aggregates",
    "lake_satellite_image_etl_spark.operators.topk",
    "lake_satellite_image_etl_spark.operators.setops",
    "lake_satellite_image_etl_spark.operators.incremental",
    "lake_satellite_image_etl_spark.operators.windows",
    "lake_satellite_image_etl_spark.operators.dedup",
    "lake_satellite_image_etl_spark.operators.corpus",
    "lake_satellite_image_etl_spark.operators.skew",
    "lake_satellite_image_etl_spark.operators.similarity",
    "lake_satellite_image_etl_spark.operators.geometry",
    "lake_satellite_image_etl_spark.operators.clipping",
    "lake_satellite_image_etl_spark.operators.sampling",
    "lake_satellite_image_etl_spark.operators.analytics",
    "lake_satellite_image_etl_spark.operators.profiling",
    "lake_satellite_image_etl_spark.operators.layout",
    "lake_satellite_image_etl_spark.operators.sketches",
    "lake_satellite_image_etl_spark.operators.graph",
    "lake_satellite_image_etl_spark.functions.scalars",
    "lake_satellite_image_etl_spark.functions.text",
    "lake_satellite_image_etl_spark.functions.vectors",
    "lake_satellite_image_etl_spark.multimodal.raster",
    "lake_satellite_image_etl_spark.multimodal.images",
    "lake_satellite_image_etl_spark.multimodal.audio",
    "lake_satellite_image_etl_spark.multimodal.video",
)


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


#: no green entry goes more than this many driver rounds without a
#: correctness row (``CORRECTNESS_r{N}.json``)
SLA_ROUNDS = 6

#: entries whose kernels changed after their last driver row, each
#: mapped to the round after which it changed. They are re-checked
#: ahead of the stalest tier until a round file past that round lists
#: them, so a name expires without an edit.
RECHECK: dict[str, int] = dict.fromkeys(
    (
        "raster_clip_pipeline",
        "raster_stats_pipeline",
        "raster_clip_vector_boundary",
        "pipeline_image_records",
        "stream_dedup_batch",
        "multimodal_image_dedup",
        "dedup_cluster_assign",
        "dedup_canonical_keep",
        "sample_cluster_safe_split",
        "pipeline_corpus_dedup",
        "graph_components_star",
        "sink_artifact_manifest",
    ),
    17,
)

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_latest_rounds(root: str = _REPO_ROOT) -> dict[str, int]:
    """Map each entry to the newest round N whose
    ``root/CORRECTNESS_r{N}.json`` lists it. Unreadable files are
    skipped; no files gives ``{}``."""
    latest: dict[str, int] = {}
    for f in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
        try:
            with open(f) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        for k in rows:
            latest[k] = max(latest.get(k, 0), rnd)
    return latest


def rotation_order(
    names: list[str], latest: dict[str, int], recheck: dict[str, int]
) -> list[str]:
    """Order ``names`` (registration order) for the correctness gate.

    Groups, in order: never-checked entries; entries at the SLA edge
    (``latest <= next_round - SLA_ROUNDS``, ``next_round`` one past the
    newest round seen), which breach the SLA if the next round skips
    them; ``recheck`` names not yet checked past their round; the rest.
    Within a group the stalest come first, ties in registration order.
    An empty ``latest`` makes every entry never-checked, so the result
    is registration order.
    """
    edge = max(latest.values(), default=0) + 1 - SLA_ROUNDS

    def key(item: tuple[int, str]) -> tuple[int, int, int]:
        i, name = item
        group = (
            0 if name not in latest
            else 1 if latest[name] <= edge
            else 2 if latest[name] <= recheck.get(name, 0)
            else 3
        )
        return group, latest.get(name, 0), i

    return [name for _, name in sorted(enumerate(names), key=key)]


def load_all() -> tuple[dict[str, QueryFn], dict[str, str]]:
    for mod in _MODULES:
        try:
            import_module(mod)
        except ModuleNotFoundError as e:
            # Tolerate only the listed module itself being absent (not
            # built yet) — a broken *transitive* import inside an
            # existing module must raise, or typos would silently drop
            # queries from the driver contract.
            if not (e.name == mod or mod.startswith(e.name + ".")):
                raise
    order = rotation_order(list(QUERIES), load_latest_rounds(), RECHECK)
    return (
        {n: QUERIES[n] for n in order},
        {n: ORACLES[n] for n in order if n in ORACLES},
    )
