"""The MinHash band-key kernel and the single quantization of the
cosine-LSH dedup path, with Spark.

The kernel's math is property-tested without a JVM in
tests/test_properties.py; here it runs through ``mapInArrow`` on real
shingle sets. The entries that use it meet their DuckDB oracles at
both fixture scales in tests/test_oracle_gate.py."""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def test_minhash_bands_match_naive_reference(spark):
    """``minhash_bands`` over the fixture's shingle sets, plus a NULL and
    an empty set, equals the per-row reference: LSH_BANDS rows per
    document, numbered 0.., with NULL keys for the NULL and empty sets."""
    from pyspark.sql import functions as F

    from lake_satellite_image_etl_spark.io import read_table
    from lake_satellite_image_etl_spark.operators.dedup import (
        LSH_BANDS,
        hashed_shingles,
        minhash_bands,
    )
    from lake_satellite_image_etl_spark.functions.text import tokens_of
    from tests.test_properties import _naive_band_keys

    docs = read_table(spark, SF_SMOKE, "documents").limit(200)
    sh = docs.select(
        "doc_id", hashed_shingles(tokens_of(F.col("text"))).alias("hsh")
    ).unionByName(
        spark.createDataFrame(
            [(-1, None), (-2, [])], "doc_id long, hsh array<long>"
        )
    )
    got = {}
    for r in minhash_bands(sh).collect():
        got.setdefault(r.doc_id, {})[r.band] = r.band_key
    rows = {r.doc_id: r.hsh for r in sh.collect()}
    assert set(got) == set(rows)
    for doc_id, hsh in rows.items():
        want = _naive_band_keys(hsh) or [None] * LSH_BANDS
        assert [got[doc_id][b] for b in range(LSH_BANDS)] == want, doc_id
    assert got[-1] == got[-2] == {b: None for b in range(LSH_BANDS)}


def test_cosine_lsh_bands_read_cached_quantization(spark):
    """``embedding_cosine_lsh_pairs`` quantizes each embedding once per
    action: the persisted band-key frame is built from the persisted
    ``bkt`` frame's ``qv``, so the plan cached for the bands reads
    ``bkt``'s ``InMemoryRelation`` instead of re-running ``qvec_of``."""
    from lake_satellite_image_etl_spark import caching
    from lake_satellite_image_etl_spark.io import read_table
    from lake_satellite_image_etl_spark.operators.dedup import (
        embedding_cosine_lsh_pairs,
    )

    caching.release_all()
    embedding_cosine_lsh_pairs(read_table(spark, SF_SMOKE, "embeddings"))
    frames = {tuple(df.columns): df for df in caching._PERSISTED.values()}
    bkt = frames[("vec_id", "qv", "nrm")]
    bands = frames[("vec_id", "band", "band_key")]
    bkt_rel = bkt._jdf.queryExecution().withCachedData()
    bands_rel = bands._jdf.queryExecution().withCachedData()
    assert bkt_rel.getClass().getSimpleName() == "InMemoryRelation"
    assert bands_rel.getClass().getSimpleName() == "InMemoryRelation"
    cached = bands_rel.cacheBuilder().cachedPlan()
    scans = [
        cached.collectLeaves().apply(i)
        for i in range(cached.collectLeaves().size())
    ]
    relations = [
        s.relation() for s in scans
        if s.getClass().getSimpleName() == "InMemoryTableScanExec"
    ]
    assert any(r.cacheBuilder().equals(bkt_rel.cacheBuilder()) for r in relations)
    # and ``bkt`` itself rounds each embedding once: its NULL filter
    # reads ``embedding``, not a second ``qvec_of``
    assert bkt_rel.cacheBuilder().cachedPlan().treeString().count("round(") == 1
    caching.release_all()

