"""Deduplication operators over ``documents``/``embeddings`` —
SURVEY.md §2.10 EXT, the LLM-pipeline dedup block: exact hash dedup,
MinHash+LSH near-dup, SimHash near-dup, n-gram Jaccard with length
blocking, and embedding-cosine near-dup.

The non-negotiable scale rule: **never all-pairs**. Every near-dup
operator here is a *bucketed join* — candidate pairs come from
equality on a cheap key (LSH band hash, SimHash band, length bucket),
and only candidates pay the exact verification cost, a vanishing
fraction of the pair space. Bucket-key skew differs by scheme:
MinHash band keys are uniform (hash values — member-carrying groupBy
is safe), while SimHash bands CLUSTER on similar corpora (measured:
one band bucket held 27% of docs), so SimHash keeps the self-join
form and leans on AQE skew-splitting. The reference's own dedup (PK
anti-join, main.py:468-473,415) is the degenerate exact-key case of
the same shape.

All hashing is md5-derived (engine-independent), so every operator
has a full DuckDB oracle.
"""

from __future__ import annotations

import functools

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import StructField, StructType

from lake_satellite_image_etl_spark.functions.text import (
    _SQL_TOKS,
    shingles_of,
    tok_hash60,
    tokens_of,
)
from lake_satellite_image_etl_spark.functions.vectors import (
    SQL_QVEC,
    qvec_of,
    sql_dot,
    sql_norm,
)
from lake_satellite_image_etl_spark.caching import persist_bounded
from lake_satellite_image_etl_spark.io import read_table
from lake_satellite_image_etl_spark.registry import query

# MinHash/LSH geometry: 12 hashes = 6 bands × 2 rows.
# P(candidate | J=0.8) = 1-(1-0.8²)⁶ ≈ 0.998 at verify threshold 0.8.
MINHASH_K = 12
LSH_ROWS = 2
LSH_BANDS = MINHASH_K // LSH_ROWS
JACCARD_THRESHOLD = 0.8

_SQL_SHINGLES = (
    "list_distinct(list_transform("
    "generate_series(1, greatest(len(toks) - 2, 1)), "
    "j -> array_to_string(list_slice(toks, j, j + 2), ' ')))"
)


@query(
    "dedup_exact_hash",
    oracle="""
    SELECT md5(text) AS content_hash,
           count(*) AS n_copies,
           min(doc_id) AS canonical_doc_id
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content hash, keep the smallest doc_id as
    canonical. The 100 TB form of `SELECT DISTINCT text` — the shuffle
    carries (128-bit hash, partial count), never the documents."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("content_hash")).agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min("doc_id").alias("canonical_doc_id"),
    )


#: universal-hash modulus and per-seed (a, b) coefficients, md5-derived
#: at import (public recipe) and inlined identically into the oracle.
#: a*x + b with x, a, b < P keeps products < 1e18 < 2^63 — exact
#: integer arithmetic in both engines.
MINHASH_P = 1_000_000_007


def _minhash_coeff(i: int, which: str) -> int:
    import hashlib

    h = int(hashlib.md5(f"minhash-{which}-{i}".encode()).hexdigest()[:15], 16)
    return (h % (MINHASH_P - 1)) + 1


MINHASH_A = [_minhash_coeff(i, "a") for i in range(MINHASH_K)]
MINHASH_B = [_minhash_coeff(i, "b") for i in range(MINHASH_K)]


def minhash_sig_from_hashes(hsh):
    """MinHash signature via k universal linear permutations over ONE
    base hash per shingle: base = 60-bit shingle hash mod P,
    h_i = (a_i·base + b_i) mod P, sig_i = min over shingles.

    One md5 per shingle instead of k — the signature stage is the hot
    loop of corpus dedup, and this is the textbook way to make k
    permutations cost k multiply-adds, not k cryptographic hashes."""
    a_arr = F.array(*[F.lit(a).cast("long") for a in MINHASH_A])
    b_arr = F.array(*[F.lit(b).cast("long") for b in MINHASH_B])
    bases = F.transform(hsh, lambda h: h % MINHASH_P)
    return F.transform(
        F.sequence(F.lit(1), F.lit(MINHASH_K)),
        lambda i: F.array_min(
            F.transform(
                bases,
                lambda x: (F.element_at(a_arr, i) * x + F.element_at(b_arr, i))
                % MINHASH_P,
            )
        ),
    )


_SQL_A = "[" + ", ".join(str(a) for a in MINHASH_A) + "]"
_SQL_B = "[" + ", ".join(str(b) for b in MINHASH_B) + "]"

#: signature over pre-hashed shingles (column ``hsh``: 60-bit ints)
_SQL_MINHASH = f"""list_transform(generate_series(1, {MINHASH_K}),
    i -> list_min(list_transform(
        list_transform(hsh, h -> h % {MINHASH_P}),
        x -> (({_SQL_A})[i] * x + ({_SQL_B})[i]) % {MINHASH_P})))"""

#: hashed shingle set — ONE md5 per shingle feeds both the signature
#: and the Jaccard verify (long-array intersect ≫ faster than string).
_SQL_HSHINGLES = (
    f"list_transform({_SQL_SHINGLES}, "
    "s -> ('0x' || substring(md5(s), 1, 15))::BIGINT)"
)


def hashed_shingles(toks) -> "F.Column":
    """Distinct shingles hashed to 60-bit ints — the only md5 pass."""
    return F.transform(shingles_of(toks), lambda s: tok_hash60(s))


def pair_combos(members):
    """All ordered pairs (i < j) within a sorted bucket-member array —
    array<struct<a, b>> built with HOFs, no self-join."""
    n = F.size(members)
    return F.flatten(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.transform(
                F.slice(members, i + 1, n - i),
                lambda x: F.struct(
                    F.element_at(members, i).alias("a"), x.alias("b")
                ),
            ),
        )
    )


def sql_minhash_pair_ctes(source: str) -> str:
    """The full minhash-LSH candidate+verify pipeline as reusable CTEs
    over any relation exposing (doc_id, text) — shared by the pair
    query, the cluster-assignment oracle, and the composed corpus-dedup
    pipeline (which feeds it the exact-dedup survivor set)."""
    return _SQL_MINHASH_PAIR_CTES_TMPL.replace("__SOURCE__", source)


_SQL_MINHASH_PAIR_CTES_TMPL = f"""t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM __SOURCE__),
    sh AS (SELECT doc_id, {_SQL_HSHINGLES} AS hsh FROM t),
    sig AS (SELECT doc_id, hsh, {_SQL_MINHASH} AS sig FROM sh),
    bands AS (
        SELECT doc_id, band,
               sig[band * {LSH_ROWS} + 1] * {MINHASH_P}::BIGINT
                   + sig[band * {LSH_ROWS} + 2] AS band_key
        FROM sig, unnest(generate_series(0, {LSH_BANDS - 1})) AS u(band)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ),
    dup_pairs AS (
        SELECT c.doc_a, c.doc_b,
               len(list_intersect(sa.hsh, sb.hsh))::DOUBLE
                   / len(list_distinct(sa.hsh || sb.hsh)) AS jac
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.doc_a
        JOIN sh sb ON sb.doc_id = c.doc_b
        WHERE len(list_intersect(sa.hsh, sb.hsh))::DOUBLE
              / len(list_distinct(sa.hsh || sb.hsh)) >= {JACCARD_THRESHOLD}
    )"""


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {sql_minhash_pair_ctes('documents')}
    SELECT doc_a, doc_b, round(jac, 6) AS jaccard FROM dup_pairs
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-duplicate pairs (the scale path for text
    dedup): 3-gram shingles hashed to 60-bit ints (ONE md5 pass) → 12
    universal-hash MinHash values → 6 bands of 2 packed into bigint
    band keys → per-bucket pair expansion → exact Jaccard ≥ 0.8 on
    long arrays.

    Plan shape: signatures are computed ONCE — candidates come from a
    groupBy(band_key) + in-bucket pair expansion carrying the hashed
    shingle sets as struct members, so nothing in the lineage is
    re-evaluated by a self-join. The shuffle is keyed by (band,
    band_key) — uniform hash values, no skew. Trade-off vs the
    self-join form: members duplicate their shingle-hash array per
    band (6× shuffle volume of one int array per doc) — at 100 TB
    you persist the signature table once and verify-join against it
    instead; the candidate logic is identical.

    Candidate recall at J=0.8 is 1-(1-0.8²)⁶ ≈ 99.8%; both engines
    compute identical signatures, so the gate matches exactly even on
    the probabilistic miss set (the oracle keeps the equivalent
    self-join formulation — same result set)."""
    return minhash_pairs(read_table(spark, sf_dir, "documents"))


def minhash_pairs(
    docs: DataFrame,
    min_jaccard: float | None = JACCARD_THRESHOLD,
    sh: DataFrame | None = None,
) -> DataFrame:
    """The MinHash+LSH pair pipeline over any (doc_id, text) relation
    (see dedup_minhash_lsh for the algorithm and scale notes) —
    returns (doc_a, doc_b, jaccard) with jaccard ≥ ``min_jaccard``.
    Reused by dedup_cluster_assign (raw documents) and
    pipeline_corpus_dedup (exact-dedup survivor set).
    ``min_jaccard=None`` returns EVERY banded candidate with its
    unrounded exact jaccard — the dq_dedup_recall_eval harness needs
    the pre-verification candidate set to measure banding recall.
    ``sh`` (r16) optionally supplies a prebuilt (doc_id, hsh)
    hashed-shingle frame — callers that already materialize the
    identical shingle table (the recall eval persists it for its
    truth side) pass it in so the tokenize→shingle→md5 chain runs
    once per action instead of once per consumer; None keeps the
    self-contained build."""
    if sh is None:
        sh = docs.withColumn("_toks", tokens_of(F.col("text"))).select(
            "doc_id", hashed_shingles(F.col("_toks")).alias("hsh")
        )
    sig = sh.select(
        "doc_id",
        "hsh",
        minhash_sig_from_hashes(F.col("hsh")).alias("sig"),
    )
    # band key = the band's 2 minhash values packed into one bigint
    # (both < P, so v₁·P + v₂ < P² ≈ 1e18 is collision-free and exact).
    bands = sig.select(
        F.struct("doc_id", "hsh").alias("m"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(LSH_BANDS - 1)),
                lambda band: F.element_at("sig", band * LSH_ROWS + 1)
                * F.lit(MINHASH_P).cast("long")
                + F.element_at("sig", band * LSH_ROWS + 2),
            )
        ).alias("band", "band_key"),
    )
    pairs = (
        bands.groupBy("band", "band_key")
        .agg(F.array_sort(F.collect_list("m")).alias("members"))
        .filter(F.size("members") > 1)
        .select(F.explode(pair_combos(F.col("members"))).alias("p"))
        .select(
            F.col("p.a.doc_id").alias("doc_a"),
            F.col("p.b.doc_id").alias("doc_b"),
            F.col("p.a.hsh").alias("sh_a"),
            F.col("p.b.hsh").alias("sh_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    if min_jaccard is None:
        return pairs.select("doc_a", "doc_b", jac.alias("jaccard"))
    return (
        pairs.withColumn("jac", jac)
        .filter(F.col("jac") >= min_jaccard)
        .select("doc_a", "doc_b", F.round("jac", 6).alias("jaccard"))
    )


# SimHash: 60-bit fingerprint, banded for candidate generation.
# Band geometry is a KNOB (see simhash_pairs): the registered query
# pins 4 bands × 15 bits because its DuckDB oracle mirrors that
# split, but any band_bits dividing 60 with n_bands ≥ threshold + 1
# yields the SAME pair set by pigeonhole (a pair within Hamming h
# differs in ≤ h bands, so with h < n_bands at least one band
# matches) — wider bands are purely a selectivity/skew dial for
# bigger corpora (2^band_bits keys per band).
SIMHASH_BITS = 60
SIMHASH_BAND_BITS = 15
SIMHASH_BANDS = SIMHASH_BITS // SIMHASH_BAND_BITS
# ≤2 of 60 bits. SimHash is a frequency-profile sketch: on the fixture
# corpus (all docs drawn from one ~40-word vocabulary) fingerprints
# collide far more than on natural text — threshold 2 keeps the output
# a near-dup candidate set (~0.7% of the pair space) rather than half
# of it; on real corpora 3-10 bits is the usual window.
HAMMING_THRESHOLD = 2


def simhash_fold_expr(hashes):
    """The 60-bit SimHash fold over a precomputed hash array, as a
    Catalyst HOF expression: per bit b, sum ±1 by hash bit b;
    fingerprint bit = (sum >= 0). This is the SEMANTIC SPEC that the
    vectorized ``_simhash_frame`` / ``simhash_numpy`` hot path is
    equivalence-tested against (tests/test_lsh_geometry.py) — one
    definition, referenced by both sides. Uses a precomputed
    power-of-two array because Spark's shiftleft needs a literal
    shift."""
    powers = F.array(*[F.lit(1 << i).cast("long") for i in range(SIMHASH_BITS)])
    bits = F.transform(
        F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1)),
        lambda bpos: F.when(
            F.aggregate(
                hashes,
                F.lit(0),
                lambda acc, h: acc
                + F.when(
                    h.bitwiseAND(F.element_at(powers, bpos + 1)) != 0, 1
                ).otherwise(-1),
            )
            >= 0,
            1,
        ).otherwise(0),
    )
    return F.aggregate(
        F.zip_with(bits, powers, lambda x, p: x.cast("long") * p),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _simhash_frame(hs: DataFrame) -> DataFrame:
    """(doc_id, hashes array<long>) → (doc_id, simhash long): the
    60-bit fingerprint fold as numpy per Arrow batch.

    Same split as the LSH band keys (``_band_keys_frame``): the md5
    token hashing stays JVM-side (codegen'd builtins), and only the
    SIMHASH_BITS × |tokens| ±1 bit-sum — which as a Catalyst HOF costs
    ~60·|tokens| interpreted evals per doc — moves to vectorized
    integer numpy. Bit-exact twin of ``simhash_fold_expr`` (the
    semantic spec above, equivalence-tested on the fixture): hashes
    are already int64, sums are small ints, sign rule identical — so
    the fingerprints, bands, and oracle hash are unchanged.
    """
    import numpy as np
    import pandas as pd

    def fold(pdfs):
        for pdf in pdfs:
            if not len(pdf):
                continue
            simhash = simhash_numpy(list(pdf["hashes"]))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].to_numpy(), "simhash": simhash}
            )

    return hs.mapInPandas(fold, schema="doc_id long, simhash long")


def simhash_numpy(hash_lists):
    """List of int64 hash arrays (one per doc, possibly empty) →
    int64 simhash per doc. The pure vectorized math behind
    ``_simhash_frame``, exposed for JVM-free property-testing against
    a naive per-row reference."""
    import numpy as np

    lists = [np.asarray(h, dtype=np.int64) for h in hash_lists]
    lens = np.array([len(h) for h in lists], dtype=np.int64)
    flat = np.concatenate(lists) if lists else np.empty(0, dtype=np.int64)
    offsets = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=offsets[1:])
    # reduceat can't express zero-length segments, so run it over
    # nonempty rows only (their offsets partition `flat` exactly);
    # empty rows keep sum 0 ⇒ (0 >= 0) sets every bit — matching the
    # HOF aggregate's empty-array fold.
    sums = np.zeros((len(lens), SIMHASH_BITS), dtype=np.int64)
    ne_idx = np.flatnonzero(lens > 0)
    if flat.size:
        offs_ne = offsets[ne_idx]
        # 60 cheap passes over the flat hash array instead of one
        # (n_flat × 60) matrix — transient memory O(n_flat)
        for b in range(SIMHASH_BITS):
            contrib = ((flat >> b) & 1) * 2 - 1
            sums[ne_idx, b] = np.add.reduceat(contrib, offs_ne)
    bits = (sums >= 0).astype(np.int64)
    return (bits << np.arange(SIMHASH_BITS, dtype=np.int64)).sum(axis=1)


#: COALESCE on the inner fold: DuckDB's list_sum([]) is NULL, which
#: would zero every bit of an empty-hashes doc, while the HOF spec /
#: numpy fold gives sum 0 ⇒ (0 >= 0) ⇒ all 60 bits set — coalescing
#: to 0 makes the oracle match the spec on that edge exactly
#: (ADVICE r6; fixture-unreachable — '' tokenizes to [''] — but the
#: documented equivalence should not depend on that).
_SQL_SIMHASH = f"""list_sum(list_transform(generate_series(0, {SIMHASH_BITS - 1}),
    b -> CASE WHEN COALESCE(list_sum(list_transform(hashes,
            h -> CASE WHEN (h & (1::BIGINT << b)) != 0
                      THEN 1 ELSE -1 END)), 0) >= 0
              THEN (1::BIGINT << b) ELSE 0::BIGINT END))::BIGINT"""


@query(
    "dedup_simhash",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    hs AS (
        SELECT doc_id,
               list_transform(list_distinct(toks),
                   t -> ('0x' || substring(md5(t), 1, 15))::BIGINT) AS hashes
        FROM t
    ),
    s AS (SELECT doc_id, {_SQL_SIMHASH} AS simhash FROM hs
          WHERE hashes IS NOT NULL),
    bands AS (
        SELECT doc_id, simhash, band,
               (simhash >> (band * {SIMHASH_BAND_BITS}))
                   & {(1 << SIMHASH_BAND_BITS) - 1} AS band_key
        FROM s, unnest(generate_series(0, {SIMHASH_BANDS - 1})) AS u(band)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS sim_a, b.simhash AS sim_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           bit_count(xor(sim_a, sim_b))::BIGINT AS hamming
    FROM cand
    WHERE bit_count(xor(sim_a, sim_b)) <= {HAMMING_THRESHOLD}
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs — the registered (4 bands × 15 bits)
    instantiation of ``simhash_pairs`` (the oracle mirrors this split
    exactly)."""
    docs = read_table(spark, sf_dir, "documents")
    return simhash_pairs(docs)


def simhash_pairs(
    docs: DataFrame,
    band_bits: int = SIMHASH_BAND_BITS,
    hamming_threshold: int = HAMMING_THRESHOLD,
) -> DataFrame:
    """SimHash near-dup pairs over a (doc_id, text) DataFrame: 60-bit
    fingerprints, SIMHASH_BITS/band_bits bands for candidates,
    Hamming ≤ hamming_threshold verify — the parameterized kernel
    behind dedup_simhash.

    Band geometry (the scale dial, mirroring
    ``embedding_cosine_lsh_pairs``): as long as hamming_threshold <
    n_bands the pigeonhole guarantee holds and the RESULT SET is
    identical for every band_bits — wider bands only make the buckets
    more selective (2^band_bits keys per band), which is the fix for
    the measured band skew (hottest 15-bit bucket holds 27% of docs
    at sf0.1; at 20-bit bands occupancy drops ~2^5×). Size band_bits
    ≈ log₂(n / target_occupancy), keeping n_bands = 60/band_bits >
    hamming_threshold; past that bound recall turns probabilistic
    (equivalence pinned in tests/test_lsh_geometry.py).

    Scale: identical shape to MinHash-LSH — band-keyed equi-join, no
    all-pairs; the fingerprint itself is one narrow map stage."""
    if SIMHASH_BITS % band_bits:
        raise ValueError(
            f"band_bits must divide {SIMHASH_BITS}, got {band_bits}"
        )
    n_bands = SIMHASH_BITS // band_bits
    if hamming_threshold >= n_bands:
        raise ValueError(
            f"hamming_threshold {hamming_threshold} needs at least "
            f"{hamming_threshold + 1} bands for exact recall; got "
            f"{n_bands} (band_bits={band_bits}) — shrink band_bits"
        )
    # The fingerprint table is two longs per doc — persist it
    # (bounded lazy registry, r13) so the band self-join doesn't
    # re-evaluate the 60-bit fingerprint lineage on both sides while
    # construction stays JOBLESS (an eager localCheckpoint billed a
    # job to every plan-only construction — the allowlist row this
    # removes); the registry's recency bound + release_all() covers
    # the shared-session storage-leak concern that ruled out bare
    # cache() (ADVICE r2). The self-join (NOT a per-bucket
    # pair expansion) is deliberate: SimHash bands of near-identical
    # docs are heavily SKEWED (measured: hottest band bucket holds 27%
    # of docs at sf0.1), and a collect_list-based expansion would build
    # O(bucket²) structs in single rows — the join form keeps rows
    # tiny and lets AQE skew-splitting spread the hot buckets.
    # NULL text ⇒ NULL hashes ⇒ the doc is dropped, and the oracle
    # filters `hashes IS NOT NULL` symmetrically (ADVICE r6: it used
    # to rely on a NULL band_key falling out of the equi-join, which
    # gave a NULL-text doc simhash 0 instead of dropping it); the
    # empty-hashes edge is aligned via COALESCE in _SQL_SIMHASH.
    hs = docs.select(
        "doc_id",
        F.transform(
            F.array_distinct(tokens_of(F.col("text"))), tok_hash60
        ).alias("hashes"),
    ).filter(F.col("hashes").isNotNull())
    s = persist_bounded(_simhash_frame(hs))
    mask = (1 << band_bits) - 1
    bands = s.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", band * band_bits)
                    .bitwiseAND(F.lit(mask))
                    for band in range(n_bands)
                ]
            )
        ).alias("band", "band_key"),
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"),
        "band", "band_key",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"),
        "band", "band_key",
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        # hamming BEFORE the distinct: cheap bit math shrinks the set
        # the dedup shuffle has to carry
        .filter(hamming <= hamming_threshold)
        .select("doc_a", "doc_b", hamming.cast("long").alias("hamming"))
        .dropDuplicates(["doc_a", "doc_b"])
    )


NGRAM_BLOCK_CHARS = 50
NGRAM_JACCARD_THRESHOLD = 0.5


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, n_chars // {NGRAM_BLOCK_CHARS} AS len_bucket,
               {_SQL_TOKS} AS toks
        FROM documents
    ),
    sh AS (SELECT doc_id, len_bucket, {_SQL_HSHINGLES} AS hsh FROM t)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_intersect(a.hsh, b.hsh))::DOUBLE
                 / len(list_distinct(a.hsh || b.hsh)), 6) AS jaccard
    FROM sh a JOIN sh b
      ON a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.hsh, b.hsh))::DOUBLE
          / len(list_distinct(a.hsh || b.hsh))
          >= {NGRAM_JACCARD_THRESHOLD}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram Jaccard near-dup: length-bucket blocking + prefix-filter
    candidate generation + exact 3-gram Jaccard ≥ 0.5 verify.

    Scale: blocking bounds the pair space to within-bucket (a pair
    straddling a bucket boundary is missed — 23/25 planted pairs at
    sf0.01; MinHash-LSH above is the recall-tight alternative), and
    inside a bucket the prefix filter makes candidate generation an
    equi-join on rare shingles instead of all-pairs — the exact
    PPJoin-style algorithm, same result set as the naive form (the
    oracle keeps the naive formulation as independent proof)."""
    docs = read_table(spark, sf_dir, "documents")
    # feeds df-stats, prefix build, and the verify join — bounded
    # lazy persist (r13: jobless construction; registry recency bound
    # + release_all() covers the shared-session storage concern that
    # ruled out bare cache(), ADVICE r2).
    sh = persist_bounded(
        docs.withColumn("_toks", tokens_of(F.col("text"))).select(
            "doc_id",
            F.floor(F.col("n_chars") / NGRAM_BLOCK_CHARS).alias(
                "len_bucket"
            ),
            hashed_shingles(F.col("_toks")).alias("shingles"),
        )
    )

    # ---- prefix filtering (PPJoin-style, EXACT) -------------------
    # Under one global shingle order, a pair with J ≥ t must share an
    # element inside both docs' prefixes of length |x| - ⌈t|x|⌉ + 1.
    # Ordering by ascending document frequency puts the RAREST
    # shingles in the prefix, so hot shingles never generate
    # candidates — the canonical exact similarity join. The naive
    # within-bucket all-pairs form wasted 99.99% of its intersects on
    # pairs the verify rejected.
    exploded = sh.select("doc_id", "len_bucket", F.explode("shingles").alias("s"))
    df_tbl = exploded.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    ordered = (
        exploded.join(df_tbl, "s")
        .groupBy("doc_id", "len_bucket")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("df", "s"))),
                lambda x: x["s"],
            ).alias("ordered"),
        )
    )
    n = F.size("ordered")
    prefix_len = (n - F.ceil(n * NGRAM_JACCARD_THRESHOLD) + 1).cast("int")
    # prefixes is BOTH sides of the candidate self-join below, and the
    # renamed projections defeat exchange reuse (the executed plan
    # showed zero ReusedExchange and the whole explode → df join →
    # collect_list aggregation chain running twice) — bounded lazy
    # persist computes the prefix table once per action (r17, §2.4)
    prefixes = persist_bounded(
        ordered.select(
            "doc_id",
            "len_bucket",
            F.explode(F.slice("ordered", 1, prefix_len)).alias("s"),
        )
    )
    a = prefixes.select(
        F.col("doc_id").alias("doc_a"), "len_bucket", "s"
    )
    b = prefixes.select(
        F.col("doc_id").alias("doc_b"), "len_bucket", "s"
    )
    cand = (
        a.join(b, ["len_bucket", "s"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )

    # ---- exact verify on candidates only --------------------------
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jac", jac)
        .filter(F.col("jac") >= NGRAM_JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round("jac", 6).alias("jaccard"))
    )


#: containment detection: C(A→B) = |S_A ∩ S_B| / |S_A| over the
#: df-capped shingle universe; shingles in more than CONTAIN_DF_CAP
#: docs are stopword-shingles and excluded on BOTH engines.
CONTAIN_DF_CAP = 50
CONTAIN_THRESHOLD = 0.8


@query(
    "dedup_containment",
    oracle=f"""
    -- asymmetric containment (quote / excerpt / subset detection):
    -- C(A→B) = |S_A ∩ S_B| / |S_A| over distinct hashed 3-gram
    -- shingles — catches a short doc living inside a long one, which
    -- symmetric Jaccard structurally misses (J ≈ |A|/|B| → 0 as B
    -- grows). Intersections come EXACTLY from the inverted index;
    -- shingles with df > {CONTAIN_DF_CAP} are dropped as
    -- stopword-shingles (the universe is defined identically here
    -- and in the engine).
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, {_SQL_HSHINGLES} AS hsh FROM t),
    ex AS (SELECT doc_id, unnest(hsh) AS s FROM sh),
    dfq AS (SELECT s, count(*) AS df FROM ex GROUP BY s),
    keep AS (SELECT ex.doc_id, ex.s FROM ex JOIN dfq USING (s)
             WHERE df <= {CONTAIN_DF_CAP}),
    sizes AS (SELECT doc_id, count(*)::BIGINT AS n_sh
              FROM keep GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               count(*)::BIGINT AS n_shared
        FROM keep a JOIN keep b
          ON a.s = b.s AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, sa.n_sh AS n_a, n_shared,
           round(n_shared::DOUBLE / sa.n_sh, 6) AS containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_shared::DOUBLE / sa.n_sh >= {CONTAIN_THRESHOLD}
      AND sa.n_sh <= sb.n_sh
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup — the quote/excerpt catcher:
    emit directed pairs A→B where ≥ {CONTAIN_THRESHOLD:.0%} of A's
    distinct 3-gram shingles also appear in B (and A is the
    smaller side). Jaccard-family near-dup misses exactly this case
    (a tweet quoted inside an article has J ≈ 0 but containment 1.0),
    and training pipelines care because the contained copy is the one
    to drop.

    Scale shape: ONE exchange (groupBy shingle hash) builds the
    inverted index as posting-list buckets; candidate pairs and exact
    intersection counts then fall out of an in-memory pair expansion
    per bucket (pair_combos HOF) + one (doc_a, doc_b) count — no
    index self-join, and the shuffles carry ids and counts, never
    text. The df-cap (> {CONTAIN_DF_CAP} docs ⇒ stopword-shingle,
    bucket dropped) bounds every bucket's expansion at
    C({CONTAIN_DF_CAP},2) pairs, so no hot shingle can quadratically
    explode a partition — the same guard CCNet-style pipelines ship;
    the containment universe is defined identically in the oracle, so
    the results stay engine-exact."""
    docs = read_table(spark, sf_dir, "documents")
    sh = docs.withColumn("_toks", tokens_of(F.col("text"))).select(
        "doc_id", hashed_shingles(F.col("_toks")).alias("hsh")
    )
    ex = sh.select("doc_id", F.explode("hsh").alias("s"))
    # ONE exchange builds the inverted index as posting-list buckets;
    # the df-cap is the bucket-size filter, after which every bucket
    # expands to at most C({CONTAIN_DF_CAP},2) pairs as an in-memory
    # HOF (pair_combos) — no index self-join, no second pass over the
    # explode. Bounded lazy persist (r13: jobless construction): the
    # buckets feed both the pair expansion and the per-doc size table.
    buckets = persist_bounded(
        ex.groupBy("s")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("m"))
        .filter(F.size("m") <= CONTAIN_DF_CAP)
    )
    # sizes is referenced twice (the lo and hi sides of the directed
    # join), and Catalyst recomputes non-exchange subtrees per
    # reference — without the persist the Σ df posting-mass explode +
    # per-doc count ran twice per action (r17, guide §2.4)
    sizes = persist_bounded(
        buckets.select(F.explode("m").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sh"))
    )
    inter = (
        buckets.filter(F.size("m") >= 2)
        .select(F.explode(pair_combos(F.col("m"))).alias("p"))
        .groupBy(
            F.col("p.a").alias("doc_lo"), F.col("p.b").alias("doc_hi")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    lo = sizes.select(
        F.col("doc_id").alias("doc_lo"), F.col("n_sh").alias("n_lo")
    )
    hi = sizes.select(
        F.col("doc_id").alias("doc_hi"), F.col("n_sh").alias("n_hi")
    )
    # each undirected pair yields the directed rows whose A side is
    # the smaller set and clears the threshold (both directions when
    # the sizes tie — containment is then equal both ways)
    directed = F.filter(
        F.array(
            F.struct(
                F.col("doc_lo").alias("doc_a"),
                F.col("doc_hi").alias("doc_b"),
                F.col("n_lo").alias("n_a"),
                (F.col("n_lo") <= F.col("n_hi")).alias("ok"),
            ),
            F.struct(
                F.col("doc_hi").alias("doc_a"),
                F.col("doc_lo").alias("doc_b"),
                F.col("n_hi").alias("n_a"),
                (F.col("n_hi") <= F.col("n_lo")).alias("ok"),
            ),
        ),
        lambda d: d["ok"]
        & (F.col("n_shared") / d["n_a"] >= CONTAIN_THRESHOLD),
    )
    return (
        inter.join(lo, "doc_lo")
        .join(hi, "doc_hi")
        .select("n_shared", F.explode(directed).alias("d"))
        .select(
            F.col("d.doc_a").alias("doc_a"),
            F.col("d.doc_b").alias("doc_b"),
            F.col("d.n_a").alias("n_a"),
            "n_shared",
            F.round(F.col("n_shared") / F.col("d.n_a"), 6).alias(
                "containment"
            ),
        )
    )


#: span-level exact dedup: consecutive SPAN_TOKENS-token windows, the
#: C4/Lee-et-al.-2022 substring-dedup unit when the corpus carries no
#: paragraph boundaries (k = 50 tokens in the paper; 10 here so the
#: short fixture docs produce multiple spans). Docs whose duplicated-
#: span fraction exceeds SPAN_DUP_FRAC_MAX are marked keep = false.
SPAN_TOKENS = 10
SPAN_DUP_FRAC_MAX = 0.5


@query(
    "dedup_span_exact",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    base AS (SELECT doc_id, (len(toks) // {SPAN_TOKENS})::BIGINT AS n_spans,
                    toks
             FROM t),
    spans AS (
        SELECT doc_id,
               md5(array_to_string(
                   list_slice(toks, i * {SPAN_TOKENS} + 1,
                              i * {SPAN_TOKENS} + {SPAN_TOKENS}), ' '))
                   AS span_hash
        FROM base, unnest(generate_series(0, n_spans - 1)) AS u(i)
        WHERE n_spans > 0
    ),
    counts AS (SELECT span_hash, count(*) AS cnt FROM spans GROUP BY 1),
    per_doc AS (
        SELECT s.doc_id,
               sum(CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END) AS n_dup
        FROM spans s JOIN counts c USING (span_hash) GROUP BY 1
    )
    SELECT b.doc_id, b.n_spans,
           COALESCE(p.n_dup, 0)::BIGINT AS n_dup_spans,
           CASE WHEN b.n_spans > 0
                THEN round(COALESCE(p.n_dup, 0)::DOUBLE / b.n_spans, 6)
                ELSE 0.0 END AS dup_frac,
           (CASE WHEN b.n_spans > 0
                 THEN COALESCE(p.n_dup, 0)::DOUBLE / b.n_spans
                 ELSE 0.0 END) <= {SPAN_DUP_FRAC_MAX} AS keep
    FROM base b LEFT JOIN per_doc p USING (doc_id)
    """,
)
def dedup_span_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact dedup (the C4 / Lee et al. 2022 unit, scaled
    down to the fixture): split each doc into consecutive
    {SPAN_TOKENS}-token spans, hash each span, count corpus-wide
    occurrences, and score each doc by its duplicated-span fraction
    (keep = fraction ≤ {SPAN_DUP_FRAC_MAX}) — the operator that
    catches boilerplate shared across otherwise-distinct documents,
    which whole-doc dedup (dedup_exact_hash) cannot.

    Scale: the only corpus-sized shuffle carries (span_hash) —
    32-char hashes, never text — for the count; the count table joins
    back on the same key (no re-shuffle of the span side under AQE),
    and the per-doc rollup shuffles (doc_id, two ints). Short docs
    (< {SPAN_TOKENS} tokens, zero full spans) are preserved with
    dup_frac 0 via the left join, not silently dropped. The trailing
    partial span is excluded on both engines (floor split)."""
    k = SPAN_TOKENS
    docs = read_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        tokens_of(F.col("text")).alias("toks"),
    ).select(
        "doc_id",
        "toks",
        F.floor(F.size("toks") / k).cast("long").alias("n_spans"),
    )
    # guard the sequence: Spark's sequence(0, -1) is a DESCENDING
    # 2-element array (not empty like DuckDB's generate_series), so
    # zero-span docs must skip the transform entirely
    spans = base.filter(F.col("n_spans") > 0).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), (F.col("n_spans") - 1).cast("int")),
                lambda i: F.md5(
                    F.array_join(F.slice("toks", i * k + 1, k), " ")
                ),
            )
        ).alias("span_hash"),
    )
    counts = spans.groupBy("span_hash").agg(F.count(F.lit(1)).alias("cnt"))
    per_doc = (
        spans.join(counts, "span_hash")
        .groupBy("doc_id")
        .agg(F.sum((F.col("cnt") > 1).cast("long")).alias("n_dup"))
    )
    dup_frac = F.when(
        F.col("n_spans") > 0,
        F.coalesce(F.col("n_dup"), F.lit(0)).cast("double") / F.col("n_spans"),
    ).otherwise(F.lit(0.0))
    return (
        base.select("doc_id", "n_spans")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_spans",
            F.coalesce(F.col("n_dup"), F.lit(0)).cast("long").alias("n_dup_spans"),
            F.round(dup_frac, 6).alias("dup_frac"),
            (dup_frac <= SPAN_DUP_FRAC_MAX).alias("keep"),
        )
    )


#: safety bound on propagation rounds — a backstop against a buggy
#: non-converging loop, far above any real near-dup component diameter
#: (components are quasi-cliques; diameter grows ~log of chain length).
CLUSTER_MAX_ROUNDS = 50

#: edge rows up to which a connected-components call finishes on the
#: driver (``driver_components``) instead of running distributed
#: rounds: about where the driver path costs one distributed round.
#: Measured on random graphs (2^k symmetrized edge rows), Spark
#: local[2] on a 4-core Xeon host, the driver path (bounded Arrow
#: collect, union-find, result written to a noop sink) against one
#: label-propagation round: 2^16 rows 0.32 s vs 0.25 s, 2^17 0.51 vs
#: 0.49, 2^18 0.82 vs 0.92, 2^19 3.2 vs 0.82, 2^20 4.6 vs 1.7. The
#: loop also pays an edge checkpoint and at least two rounds. 2^17
#: keeps a factor of two below the 2^18-2^19 crossover.
DRIVER_COMPONENTS_MAX_EDGES = 1 << 17


def driver_components(pairs: DataFrame, schema: StructType) -> DataFrame | None:
    """Connected components of a small graph, finished on the driver.

    Reads at most ``DRIVER_COMPONENTS_MAX_EDGES + 1`` rows of the
    two-column ``pairs`` frame in one Spark job (an Arrow collect under
    a limit). Returns None when there are more rows than that, or a
    null id: the caller then runs its distributed loop. Otherwise
    union-find with union-by-smaller-id makes every root its
    component's minimum id, and the result, one (node, label) row per
    endpoint, is returned with ``schema`` as a local relation. It is
    built from an Arrow table, not from Python rows, so it plans as a
    ``LocalTableScan`` and no Python worker reads it."""
    table = pairs.limit(DRIVER_COMPONENTS_MAX_EDGES + 1).toArrow()
    if table.num_rows > DRIVER_COMPONENTS_MAX_EDGES or any(
        c.null_count for c in table.columns
    ):
        return None
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(table.column(0).to_pylist(), table.column(1).to_pylist()):
        ra = find(parent.setdefault(a, a))
        rb = find(parent.setdefault(b, b))
        if ra < rb:
            parent[rb] = ra
        elif rb < ra:
            parent[ra] = rb
    nodes = list(parent)
    arrow_type = to_arrow_type(schema["node"].dataType)
    return pairs.sparkSession.createDataFrame(
        pa.table(
            {
                "node": pa.array(nodes, arrow_type),
                "label": pa.array([find(n) for n in nodes], arrow_type),
            }
        ),
        schema,
    )


def label_propagate_components(edges: DataFrame) -> DataFrame:
    """Connected components by min-label propagation, iterated TO
    CONVERGENCE: each round every node takes the min label among
    itself and its neighbors; stop when no label changed.

    ``edges`` is a directed (src, dst) DataFrame that must already
    contain both directions of every undirected edge. Returns
    (node, label) with label = the component's minimum node id.

    Two paths:
    - a graph of at most ``DRIVER_COMPONENTS_MAX_EDGES`` edge rows
      (2^17; sized by measurement beside the constant) is read in one
      bounded Arrow collect and finished on the driver by union-find
      (``driver_components``) — one Spark job, and the result is a
      local relation;
    - a larger graph runs the distributed loop below, the only path
      that handles a graph too large for the driver.

    Scale shape of the loop (the standard large-graph CC pattern):
    - each round is ONE shuffle: (node, label) joined against the edge
      list, then a min-aggregate per node;
    - the loop-invariant edge list and each round's labels are
      ``localCheckpoint``-ed (eager) — the checkpoint both avoids
      re-evaluating upstream lineage (the full MinHash pipeline here)
      every round AND truncates the otherwise exponentially-growing
      iterative plan, which is what kills fixed-unroll loops at scale;
    - convergence is detected with a cheap count on the changed set,
      so the round count adapts to the real component diameter instead
      of hard-coding a hop bound (a diameter-6 chain is regression-
      tested in tests/test_cluster.py)."""
    src = edges.schema["src"]
    small = driver_components(
        edges.select("src", "dst"),
        StructType(
            [
                StructField("node", src.dataType, src.nullable),
                StructField("label", src.dataType, src.nullable),
            ]
        ),
    )
    if small is not None:
        return small
    edges = edges.localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=True)
    )
    for _ in range(CLUSTER_MAX_ROUNDS):
        nbr_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(nbr_min, labels.node == nbr_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("new_label"),
                F.col("label").alias("old_label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(
            F.col("new_label") != F.col("old_label")
        ).count()
        labels = new_labels.select(
            "node", F.col("new_label").alias("label")
        )
        if changed == 0:
            break
    else:
        # the cap is a runaway backstop, not an expected exit: a real
        # component graph converges in O(diameter) rounds. Exiting
        # here means labels are PARTIAL (split cluster ids) — make
        # that observable instead of silently returning (ADVICE r3).
        import warnings

        warnings.warn(
            f"label_propagate_components: round cap "
            f"({CLUSTER_MAX_ROUNDS}) exhausted with {changed} labels "
            "still changing — component ids are not converged",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


@query(
    "dedup_cluster_assign",
    oracle=f"""
    WITH RECURSIVE {sql_minhash_pair_ctes('documents')},
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM dup_pairs
    ),
    -- full transitive closure: the recursive UNION dedups rows, so the
    -- fixpoint terminates on any finite graph (cycles included) — the
    -- exact semantics of the convergence loop on the Spark side.
    reach(v, u) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM edges)
        UNION
        SELECT r.v, e.dst FROM reach r JOIN edges e ON e.src = r.u
    )
    SELECT v AS doc_id, min(u) AS cluster_id FROM reach GROUP BY v
    """,
)
def dedup_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster assignment — the step a dedup pipeline actually
    ships: every document in the near-dup graph gets cluster_id = the
    smallest doc_id in its connected component (canonical doc = the one
    where doc_id == cluster_id).

    Components come from min-label propagation iterated to convergence
    (label_propagate_components above) — no fixed hop bound, so long
    chains are assigned one cluster id; the DuckDB oracle is the full
    recursive-CTE transitive closure, the same fixpoint.

    Scale: the edge list comes from the already-bucketed MinHash join,
    never all-pairs. A graph of at most DRIVER_COMPONENTS_MAX_EDGES
    (2^17) edge rows costs one bounded Arrow collect and a driver
    union-find; above that each round is one shuffle of (node, label)
    joined against the checkpointed edge list."""
    # bounded lazy persist (r16, guide §2.4): the symmetrizing union
    # references ``pairs`` twice, so the edge checkpoint inside
    # label_propagate_components was executing the ENTIRE MinHash
    # pipeline (shingle → signature → banding → verify) twice.
    pairs = persist_bounded(
        dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    )
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    labels = label_propagate_components(edges)
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


@query(
    "dedup_canonical_keep",
    oracle=f"""
    -- the KEEP-LIST a dedup pipeline actually ships: one row per
    -- document, its near-dup cluster, and whether it is the cluster's
    -- canonical representative under the keep-LONGEST policy
    -- (Gopher/RefinedWeb-style: among near-duplicates retain the
    -- longest text, tie-break lowest doc_id). Same recursive-closure
    -- components as dedup_cluster_assign; singletons are their own
    -- cluster and trivially kept.
    WITH RECURSIVE {{PAIR_CTES}},
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM dup_pairs
    ),
    reach(v, u) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM edges)
        UNION
        SELECT r.v, e.dst FROM reach r JOIN edges e ON e.src = r.u
    ),
    comp AS (SELECT v AS doc_id, min(u) AS cluster_id FROM reach GROUP BY v),
    alldocs AS (SELECT doc_id, length(text)::BIGINT AS doc_len
                FROM documents),
    lab AS (
        SELECT a.doc_id, COALESCE(c.cluster_id, a.doc_id) AS cluster_id,
               a.doc_len
        FROM alldocs a LEFT JOIN comp c USING (doc_id)
    ),
    rk AS (
        SELECT *, row_number() OVER (PARTITION BY cluster_id
                                     ORDER BY doc_len DESC, doc_id) AS rn
        FROM lab
    )
    SELECT doc_id, cluster_id, doc_len, rn = 1 AS keep FROM rk
    """.replace("{PAIR_CTES}", sql_minhash_pair_ctes("documents")),
)
def dedup_canonical_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative SELECTION — the deliverable after
    clustering: a full keep-list (every document, not just clustered
    ones) under the keep-LONGEST policy production pipelines use
    (among near-duplicates retain the longest text — the
    Gopher/RefinedWeb heuristic — tie-break lowest doc_id;
    ``dedup_cluster_assign``'s min-id convention answers "which
    cluster", this answers "which copy survives"). Downstream is one
    ``filter(keep)``.

    Scale: components from the bucketed MinHash graph (never
    all-pairs), one left join to carry cluster ids onto the full
    corpus (near-dup clusters are sparse, so the join's right side is
    small), one per-cluster window whose groups are near-dup cluster
    sizes — bounded by construction."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").cast("long").alias("doc_len")
    )
    comp = dedup_cluster_assign(spark, sf_dir)
    lab = docs.join(comp, "doc_id", "left").withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("doc_len"), F.asc("doc_id")
    )
    return lab.select(
        "doc_id",
        "cluster_id",
        "doc_len",
        (F.row_number().over(w) == 1).alias("keep"),
    )


def _sql_dedup_recall_oracle(sample_den: int | None = None) -> str:
    """The dedup-recall-eval oracle, parameterized on the sampled-eval
    denominator so the full entry and its ``_sampled`` sibling share
    one SQL body and can never drift (same pattern as
    similarity.py::_sql_knn_recall_oracle). ``sample_den=None``
    produces the full-corpus string BYTE-IDENTICAL to the r14
    registered form (md5-checked at refactor time). The predicate
    lands on ``doc_a`` — the lower id, the canonical pair
    orientation both the truth and candidate sides share — inside
    each pair join, exactly the population the Spark path keeps by
    filtering the probe docs before the explode (truth) and the
    banded kernel's output (candidates)."""
    from lake_satellite_image_etl_spark.operators.similarity import (
        sql_eval_sample_pred,
    )

    samp = (
        ""
        if sample_den is None
        else f"\n         AND {sql_eval_sample_pred('a.doc_id', sample_den)}"
    )
    return f"""
    -- dedup-pipeline EVALUATION harness: candidate-generation recall
    -- and precision of the banded MinHash stage vs the exact-Jaccard
    -- ground truth (inverted shingle index — every pair with any
    -- shared shingle scored exactly, no banding). "Measure, don't
    -- guess": this is the number the LSH_BANDS×LSH_ROWS dial is
    -- tuned against.
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, {{HSH}} AS hsh FROM t),
    d AS (SELECT doc_id, list_distinct(hsh) AS ds FROM sh),
    ex AS (SELECT doc_id, unnest(ds) AS s FROM d),
    ip AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               count(*) AS inter
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id{samp}
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT p.doc_a, p.doc_b
        FROM ip p
        JOIN d da ON da.doc_id = p.doc_a
        JOIN d db ON db.doc_id = p.doc_b
        WHERE p.inter::DOUBLE / (len(da.ds) + len(db.ds) - p.inter)
              >= {JACCARD_THRESHOLD}
    ),
    sig AS (SELECT doc_id, hsh, {{MINH}} AS sig FROM sh),
    bands AS (
        SELECT doc_id, band,
               sig[band * {LSH_ROWS} + 1] * {MINHASH_P}::BIGINT
                   + sig[band * {LSH_ROWS} + 2] AS band_key
        FROM sig, unnest(generate_series(0, {LSH_BANDS - 1})) AS u(band)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id{samp}
    ),
    cj AS (
        SELECT c.doc_a, c.doc_b,
               len(list_intersect(sa.hsh, sb.hsh))::DOUBLE
                   / len(list_distinct(sa.hsh || sb.hsh)) AS jac
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.doc_a
        JOIN sh sb ON sb.doc_id = c.doc_b
    ),
    m AS (
        SELECT (SELECT count(*) FROM truth)::BIGINT AS truth_pairs,
               (SELECT count(*) FROM cj)::BIGINT AS candidate_pairs,
               (SELECT count(*) FROM cj
                WHERE jac >= {JACCARD_THRESHOLD})::BIGINT
                   AS true_positives
    )
    SELECT truth_pairs, candidate_pairs, true_positives,
           truth_pairs - true_positives AS missed_pairs,
           round(true_positives::DOUBLE / NULLIF(candidate_pairs, 0), 6)
               AS candidate_precision,
           round(true_positives::DOUBLE / NULLIF(truth_pairs, 0), 6)
               AS banding_recall
    FROM m
    """.replace("{HSH}", _SQL_HSHINGLES).replace("{MINH}", _SQL_MINHASH)


@query("dq_dedup_recall_eval", oracle=_sql_dedup_recall_oracle())
def dq_dedup_recall_eval(
    spark: SparkSession, sf_dir: str, eval_sample_den: int | None = None
) -> DataFrame:
    """Dedup-pipeline EVALUATION ("measure, don't guess"): how much
    of the TRUE near-dup pair set does the banded MinHash stage
    surface, and how much of what it surfaces is real? Ground truth =
    exact Jaccard ≥ {JACCARD_THRESHOLD} over the inverted shingle
    index (every pair sharing ≥ 1 shingle scored exactly — no
    banding, no sketch); candidates = the LSH band buckets before
    verification. Emits one row: truth/candidate/TP/missed counts +
    candidate_precision + banding_recall — the measurement the
    LSH_BANDS×LSH_ROWS dial is tuned against (the r = (1/b)^(1/r)
    S-curve theory made empirical on the actual corpus).

    Scale: the exact ground truth costs Σ df² over shingles — this
    harness runs on a SAMPLE at 100 TB (the standard eval practice);
    the candidate side is the production banded path unchanged. Both
    sides stay relational: inverted-index equi-join + per-pair
    aggregate, never an all-pairs product.

    ``eval_sample_den`` (VERDICT r13 item 5 — the "runs on a SAMPLE"
    promise above as a code path, same contract as the ANN/kNN
    harnesses): when set, the eval measures recall/precision over
    the pairs whose LOWER doc_id (``doc_a`` — the canonical pair
    orientation both sides share) falls in the ~1/den deterministic
    md5 sample (``eval_sample_pred``). The predicate lands on the
    probe side of the inverted-index join BEFORE the explode, so the
    Σ df·(df−1)/2 ground-truth pair work — the term the 10×-docs
    smoke measured growing 39.9× — shrinks ∝ the sample; the
    candidate side is the production banded kernel unchanged,
    post-filtered on the same predicate. Pairs are hash-uniform in
    doc_a, so sampled recall/precision are unbiased estimates of the
    full numbers (ε-pinned by the fixture test). Default None = full
    corpus: the registered oracle row is unchanged."""
    from lake_satellite_image_etl_spark.operators.similarity import (
        eval_sample_pred,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    # bounded lazy persists (r16, guide §2.3/§2.4): the hashed-shingle
    # table feeds FIVE consumers per action — the truth side's two
    # explodes and two size lookups (via ``d``) plus the candidate
    # side's signature build (passed into minhash_pairs below) — and
    # Catalyst re-evaluates the tokenize→shingle→md5 chain once per
    # reference without the persist (~5 full text passes per run).
    sh = persist_bounded(
        docs.withColumn("_toks", tokens_of(F.col("text"))).select(
            "doc_id", hashed_shingles(F.col("_toks")).alias("hsh")
        )
    )
    d = persist_bounded(
        sh.select("doc_id", F.array_distinct("hsh").alias("ds"))
    )
    da = (
        d
        if eval_sample_den is None
        else d.filter(eval_sample_pred(F.col("doc_id"), eval_sample_den))
    )
    ex_a = da.select(
        F.col("doc_id").alias("doc_a"), F.explode("ds").alias("s")
    )
    ex_b = d.select(
        F.col("doc_id").alias("doc_b"), F.explode("ds").alias("s")
    )
    ip = (
        ex_a.join(ex_b, "s")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sizes_a = d.select(
        F.col("doc_id").alias("doc_a"), F.size("ds").alias("na")
    )
    sizes_b = d.select(
        F.col("doc_id").alias("doc_b"), F.size("ds").alias("nb")
    )
    truth = (
        ip.join(sizes_a, "doc_a")
        .join(sizes_b, "doc_b")
        .where(
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter"))
            >= JACCARD_THRESHOLD
        )
    )
    cand = minhash_pairs(docs, min_jaccard=None, sh=sh)
    if eval_sample_den is not None:
        # same predicate, same pair orientation: the candidate side
        # is the production banded kernel unchanged, post-filtered —
        # a narrow filter on its output, not a new plan shape
        cand = cand.filter(
            eval_sample_pred(F.col("doc_a"), eval_sample_den)
        )
    # one union + one aggregate instead of crossJoining two 1-row
    # aggregates: same values, and the plan carries no
    # BroadcastNestedLoopJoin for the audit to flag
    tagged = truth.select(
        F.lit(1).alias("is_truth"),
        F.lit(None).cast("double").alias("jaccard"),
    ).unionByName(cand.select(F.lit(0).alias("is_truth"), "jaccard"))
    # coalesce the summed counts to 0 and NULL-out the ratios when a
    # denominator is 0 (ADVICE r11): sum() over an EMPTY union is NULL
    # while the oracle's count(*) scalar subqueries are 0, and bare
    # division on a degenerate corpus (no candidates / no truth
    # pairs) would let the two engines' divide-by-zero semantics
    # diverge — the oracle uses NULLIF so both sides emit identical
    # (0-count, NULL-ratio) rows on any corpus, not just the asserted
    # non-degenerate fixture.
    counts = tagged.agg(
        F.coalesce(F.sum("is_truth"), F.lit(0)).alias("truth_pairs"),
        F.coalesce(F.sum(1 - F.col("is_truth")), F.lit(0)).alias(
            "candidate_pairs"
        ),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("is_truth") == 0)
                    & (F.col("jaccard") >= JACCARD_THRESHOLD),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        ).alias("true_positives"),
    )
    return counts.select(
        "truth_pairs",
        "candidate_pairs",
        "true_positives",
        (F.col("truth_pairs") - F.col("true_positives")).alias(
            "missed_pairs"
        ),
        F.round(
            F.col("true_positives").cast("double")
            / F.when(F.col("candidate_pairs") > 0, F.col("candidate_pairs")),
            6,
        ).alias("candidate_precision"),
        F.round(
            F.col("true_positives").cast("double")
            / F.when(F.col("truth_pairs") > 0, F.col("truth_pairs")),
            6,
        ).alias("banding_recall"),
    )


def _dedup_eval_sample_den() -> int:
    """Pinned denominator for the registered sampled dedup eval —
    the SAME constant the kNN/ANN siblings pin
    (similarity.py::EVAL_SAMPLE_DEN_REGISTERED) so all three eval
    harnesses verify their 100 TB sampled shape at one dial. Late
    import: dedup registers before similarity in registry._MODULES
    and the constant lives there."""
    from lake_satellite_image_etl_spark.operators.similarity import (
        EVAL_SAMPLE_DEN_REGISTERED,
    )

    return EVAL_SAMPLE_DEN_REGISTERED


@query(
    "dq_dedup_recall_eval_sampled",
    oracle=_sql_dedup_recall_oracle(_dedup_eval_sample_den()),
)
def dq_dedup_recall_eval_sampled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The SAMPLED dedup-recall eval as a driver-checked entry
    (VERDICT r14 item 3, completing the r13-item-2 pattern for all
    three eval harnesses): at 100 TB the shape that ships is the
    ``eval_sample_den`` one — the md5 probe predicate lands on the
    inverted-shingle join's probe side BEFORE the explode, so the
    Σ df·(df−1)/2 ground-truth term (measured growing 39.9× on 10×
    docs) shrinks ∝ the sample — so the rotation should hash-verify
    that plan every cycle, not only a pytest/smoke path. Denominator
    pinned at the shared EVAL_SAMPLE_DEN_REGISTERED (~1/4 of docs);
    the predicate is deterministic and SQL-expressible
    (sql_eval_sample_pred), so this sibling carries the same FULL
    DuckDB oracle as the fixture-scale entry, just
    predicate-injected on doc_a in both pair joins. The full-corpus
    form stays registered as the cross-check.

    The PINNED den verifies the sampled PLAN SHAPE at fixture scale;
    it is not the production dial — a real deployment calls the base
    harness with a corpus-sized ``eval_sample_den`` (the 50 K-doc
    smoke runs den=8)."""
    return dq_dedup_recall_eval(
        spark, sf_dir, eval_sample_den=_dedup_eval_sample_den()
    )


COSINE_DUP_THRESHOLD = 0.4

#: hard cap on rows the exact block-matrix baseline may collect to the
#: driver for broadcast (64-dim int64 ⇒ ~512 B/vector ⇒ ~50 MB at cap).
EMBEDDING_BROADCAST_CAP = 100_000


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH q AS (SELECT vec_id, {SQL_QVEC} AS qv FROM embeddings),
    n AS (SELECT vec_id, qv, {sql_norm("qv")} AS nrm FROM q),
    pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               {sql_dot("a.qv", "b.qv")}::DOUBLE / (a.nrm * b.nrm) AS cos_sim
        FROM n a JOIN n b ON a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, round(cos_sim, 6) AS cos_sim
    FROM pairs WHERE cos_sim >= {COSINE_DUP_THRESHOLD}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos ≥ 0.4 — calibrated to the
    fixture, whose max pairwise cosine is ~0.51).

    This is the *verification-exact baseline* (all pairs). Executed as
    a **block-matrix Pandas kernel**, the one shape where a UDF beats
    built-ins: a per-pair expression join moves O(n²) vector copies
    through the shuffle and evaluates 64 multiply-adds per pair in
    codegen closures, while here each partition of A does ONE BLAS
    matmul against the broadcast candidate matrix — Arrow transfer is
    O(n), compute is vectorized (measured ~10× over the HOF join at
    sf0.1). int64 matmul keeps the quantized dots exact, so the
    doubles — and the oracle hash — are identical to the expression
    form. The broadcast bounds this to candidate sets that fit an
    executor (~GBs); beyond that the scale paths are the LSH/IVF
    operators in operators/similarity.py."""
    import numpy as np

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.select("vec_id", qvec_of(F.col("embedding")).alias("qv"))
    import os

    from lake_satellite_image_etl_spark.caching import memo_per_path

    def _candidate_matrix():
        # SIZE-GUARDED driver materialization: the block-matrix kernel
        # is only valid while the candidate matrix fits a broadcast
        # (~50 MB at the cap for 64-dim int64 vectors). Refusing
        # loudly beats OOMing the driver at scale — past the cap,
        # generate candidates with the bucketed paths
        # (similarity_lsh_bucketed / similarity_ivf_probe) and reserve
        # the exact kernel for buckets. Memoized per (session,
        # embeddings-path stat) including the broadcast handle, so
        # construction is jobless after first touch (r13; a raise is
        # NOT memoized — an over-cap fixture re-raises on every
        # construction, which the 120 K smoke's guard check relies
        # on).
        n_vec = q.count()
        if n_vec > EMBEDDING_BROADCAST_CAP:
            raise ValueError(
                f"dedup_embedding_cosine: {n_vec} vectors exceed the "
                f"broadcast cap ({EMBEDDING_BROADCAST_CAP}); use the "
                "banded-LSH scale path (dedup_embedding_cosine_lsh, "
                "8 bands × 8 sign bits — no collect, no all-pairs) "
                "instead of the exact baseline"
            )
        rows = q.collect()  # candidate matrix: guarded above
        ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
        mat = np.array([r["qv"] for r in rows], dtype=np.int64)
        norms = np.sqrt((mat * mat).sum(axis=1).astype(np.float64))
        return spark.sparkContext.broadcast((ids, mat, norms))

    bc = memo_per_path(
        spark,
        "emb_cosine_matrix",
        os.path.join(sf_dir, "embeddings.parquet"),
        _candidate_matrix,
        # free the superseded broadcast's executor blocks when a
        # rewritten fixture replaces the entry (unpersist, not
        # destroy: a pre-rewrite plan re-executing later can still
        # re-ship from the driver value)
        on_evict=lambda old_bc: old_bc.unpersist(blocking=False),
    )

    # rounding stays JVM-side: np.round is half-to-even while the
    # oracle (and every other query here) rounds HALF_UP.
    return q.mapInPandas(
        functools.partial(_cosine_block, bc), schema="vec_a long, vec_b long, cos_exact double"
    ).select("vec_a", "vec_b", F.round("cos_exact", 6).alias("cos_sim"))


def _cosine_block(bc, batches):
    """``dedup_embedding_cosine``' kernel: each batch's rows against the
    broadcast candidate matrix in one int64 matmul."""
    import numpy as np
    import pandas as pd

    b_ids, b_mat, b_norms = bc.value
    for pdf in batches:
        a_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        a_mat = np.array(list(pdf["qv"]), dtype=np.int64)
        a_norms = np.sqrt((a_mat * a_mat).sum(axis=1).astype(np.float64))
        dots = (a_mat @ b_mat.T).astype(np.float64)
        cos = dots / np.outer(a_norms, b_norms)
        ai, bi = np.where(
            (cos >= COSINE_DUP_THRESHOLD) & (a_ids[:, None] < b_ids[None, :])
        )
        yield pd.DataFrame(
            {
                "vec_a": a_ids[ai],
                "vec_b": b_ids[bi],
                "cos_exact": cos[ai, bi],
            }
        )


#: Hyperplane-sign banding for the LSH dedup path: 64 sign bits split
#: into 8 bands of 8; candidates agree on ANY band. Production-shaped
#: geometry (ADVICE r3): wide bands make band agreement SELECTIVE —
#: two random vectors share an 8-bit band with p≈(1/2)⁸, any-of-8
#: ≈3%, vs ~68% under the old 4-bands-of-2 geometry whose 16 buckets
#: re-created the quadratic pair space at exactly the >100 K scale
#: this path exists for. Recall follows the S-curve
#: 1-(1-p_sign^8)^8: ≈0.93 at production near-dup thresholds
#: (cos ≥ 0.9 ⇒ p_sign ≈ 0.86), low (~0.2) at the fixture's loose
#: cos 0.4 — banding trades recall at low similarity for candidate
#: selectivity, which is the right trade for near-DUP detection. The
#: gate still compares exactly: both engines share the identical
#: 64-plane matrix, so the candidate set (and its misses) is
#: deterministic and mirrored in the oracle.
#:
#: BAND_BITS is a log₂(n) knob, not a universal constant: a band has
#: 2^band_bits keys, so uniform bucket occupancy is n / 2^band_bits
#: and the candidate count is ~n · occupancy · n_bands / 2. 8 bits
#: (256 keys) is sized for the ≤~100 K gate regime; at 120 K vectors
#: occupancy is already ~470 (→ ~2·10⁸ candidates), and at 10⁸
#: vectors you want ~27-bit bands. embedding_cosine_lsh_pairs takes
#: (n_planes, band_bits) so callers size the geometry to their n —
#: tools/scale_smoke.py drives the 120 K run with 8 bands × 16 bits.
LSH_DEDUP_N_PLANES = 64
LSH_DEDUP_BAND_BITS = 8
LSH_DEDUP_N_BANDS = LSH_DEDUP_N_PLANES // LSH_DEDUP_BAND_BITS

_DEDUP_PLANES: dict[int, list[list[int]]] = {}


def _dedup_planes(n_planes: int = LSH_DEDUP_N_PLANES) -> list[list[int]]:
    """n_planes×DIM integer hyperplane matrix from similarity.py's
    public md5 recipe, extended past its 8 planes (rows 0-7 are
    identical to similarity.PLANES — one shared derivation, any
    geometry). Built lazily so dedup.py's import doesn't bind
    similarity.py's module constants at import time."""
    if n_planes not in _DEDUP_PLANES:
        from lake_satellite_image_etl_spark.operators.similarity import (
            DIM,
            _plane_weight,
        )

        _DEDUP_PLANES[n_planes] = [
            [_plane_weight(p, d) for d in range(DIM)]
            for p in range(n_planes)
        ]
    return _DEDUP_PLANES[n_planes]


def _dedup_band_keys_expr(
    qv,
    n_planes: int = LSH_DEDUP_N_PLANES,
    band_bits: int = LSH_DEDUP_BAND_BITS,
) -> F.Column:
    """array<long> of n_planes/band_bits band keys; key b packs the
    sign bits of planes [b·band_bits, (b+1)·band_bits). Plane rows are
    constant literal arrays — data-independent, folded at plan time.

    Kept as the semantic spec / cross-check for the vectorized
    ``_band_keys_frame`` below; NOT used in the hot path — expanding
    n_planes×DIM multiply-adds as interpreted HOF expressions costs
    ~4096 Catalyst-expression evals per row (VERDICT r4/r5)."""
    planes = _dedup_planes(n_planes)
    keys = []
    for b in range(n_planes // band_bits):
        rows = planes[b * band_bits : (b + 1) * band_bits]
        key = F.lit(0).cast("long")
        for i, row in enumerate(rows):
            proj = F.aggregate(
                F.zip_with(
                    qv,
                    F.array(*[F.lit(w).cast("long") for w in row]),
                    lambda x, w: x * w,
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            key = key + F.when(proj >= 0, F.lit(1 << i).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        keys.append(key)
    return F.array(*keys)


def _band_keys_frame(
    q: DataFrame,
    n_planes: int = LSH_DEDUP_N_PLANES,
    band_bits: int = LSH_DEDUP_BAND_BITS,
) -> DataFrame:
    """(vec_id, qv) → (vec_id, band, band_key): the hyperplane-sign
    band keys as ONE int64 numpy matmul per Arrow batch.

    Integer-exact twin of ``_dedup_band_keys_expr``: qv is already
    quantized int64 (JVM-side round), the plane matrix is int64, and
    |proj| ≤ DIM·QUANT·1000 ≈ 6.4e8 — far inside int64 — so the sign
    bits (and therefore every band key) are bit-identical to the HOF
    expression and the DuckDB oracle. The win is constant-factor CPU:
    a BLAS-free int64 (batch × DIM) @ (DIM × n_planes) matmul replaces
    ~n_planes·DIM interpreted Catalyst expression evals per row —
    the difference between 29 s and <5 s at sf0.1, and between
    feasible and not at 100 TB (VERDICT r5 perf headline).
    """
    import numpy as np
    import pandas as pd

    planes_list = _dedup_planes(n_planes)
    n_bands = n_planes // band_bits

    def project(pdfs):
        planes = np.array(planes_list, dtype=np.int64)  # (n_planes, DIM)
        band_idx = np.arange(n_bands, dtype=np.int64)
        for pdf in pdfs:
            if not len(pdf):
                continue
            qv = np.array(list(pdf["qv"]), dtype=np.int64)  # (n, DIM)
            keys = band_keys_numpy(qv, planes, band_bits)  # (n, n_bands)
            vec_ids = pdf["vec_id"].to_numpy()
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(vec_ids, n_bands),
                    "band": np.tile(band_idx, len(qv)),
                    "band_key": keys.reshape(-1),
                }
            )

    return q.mapInPandas(
        project, schema="vec_id long, band int, band_key long"
    )


def band_keys_numpy(qv, planes, band_bits: int):
    """(n, DIM) int64 quantized vectors × (n_planes, DIM) int64 planes
    → (n, n_planes//band_bits) int64 band keys. The pure vectorized
    math behind ``_band_keys_frame``, exposed for JVM-free
    property-testing against a naive per-row reference."""
    import numpy as np

    n_planes = planes.shape[0]
    n_bands = n_planes // band_bits
    bit_w = np.int64(1) << np.arange(band_bits, dtype=np.int64)
    bits = (qv @ planes.T >= 0).astype(np.int64)  # (n, n_planes)
    return (bits.reshape(len(qv), n_bands, band_bits) * bit_w).sum(axis=2)


def embedding_cosine_lsh_pairs(
    emb: DataFrame,
    n_planes: int = LSH_DEDUP_N_PLANES,
    band_bits: int = LSH_DEDUP_BAND_BITS,
    threshold: float = COSINE_DUP_THRESHOLD,
) -> DataFrame:
    """Banded sign-LSH near-dup pairs over an (vec_id, embedding)
    DataFrame — the parameterized kernel behind
    dedup_embedding_cosine_lsh. Size band_bits ≈ log₂(n /
    target_occupancy) for your n (see the geometry note above); the
    registered entry pins (64, 8) because its DuckDB oracle mirrors
    that matrix exactly."""
    from lake_satellite_image_etl_spark.functions.vectors import (
        dot_long,
        norm,
    )

    # NULL embeddings: posexplode(NULL) used to drop the row; the
    # numpy kernel would crash on None — drop declaratively instead.
    q = emb.select(
        "vec_id", qvec_of(F.col("embedding")).alias("qv")
    ).filter(F.col("qv").isNotNull())
    # bounded lazy persists (r16, guide §2.4): the band self-join
    # references ``bands`` twice and the verify stage references
    # ``bkt`` twice (va/vc) — without the persists the numpy band-key
    # kernel and the norm scan each physically ran TWICE per action
    # (Catalyst does not reuse non-exchange subtrees). This is the
    # in-plan form of the "persist the signature table once" advice
    # the MinHash docstring gives for 100 TB.
    bkt = persist_bounded(
        q.select(
            "vec_id",
            "qv",
            norm(F.col("qv")).alias("nrm"),
        )
    )
    bands = persist_bounded(
        _band_keys_frame(q.select("vec_id", "qv"), n_planes, band_bits)
    )
    cand = (
        bands.select(F.col("vec_id").alias("vec_a"), "band", "band_key")
        .join(
            bands.select(F.col("vec_id").alias("vec_b"), "band", "band_key"),
            ["band", "band_key"],
        )
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    va = bkt.select(
        F.col("vec_id").alias("vec_a"),
        F.col("qv").alias("qv_a"),
        F.col("nrm").alias("nrm_a"),
    )
    vc = bkt.select(
        F.col("vec_id").alias("vec_b"),
        F.col("qv").alias("qv_b"),
        F.col("nrm").alias("nrm_b"),
    )
    cos = dot_long(F.col("qv_a"), F.col("qv_b")).cast("double") / (
        F.col("nrm_a") * F.col("nrm_b")
    )
    return (
        cand.join(va, "vec_a")
        .join(vc, "vec_b")
        .withColumn("cos_exact", cos)
        .filter(F.col("cos_exact") >= threshold)
        .select("vec_a", "vec_b", F.round("cos_exact", 6).alias("cos_sim"))
    )


def _lsh_dedup_oracle() -> str:
    planes = _dedup_planes()
    sql_planes = (
        "["
        + ", ".join(
            "[" + ", ".join(str(w) for w in row) + "]" for row in planes
        )
        + "]"
    )
    dim = len(planes[0])
    # The 64×64 plane literal is unnested ONCE into (p, d, w) rows and
    # the 64 projections per vector come from a join + groupBy — the
    # nested list_transform form re-built the 4096-element literal per
    # element and timed out. Plane/dim indices are 1-based here.
    return f"""
    WITH q AS (SELECT vec_id, {SQL_QVEC} AS qv FROM embeddings),
    bkt AS (SELECT vec_id, qv, {sql_norm("qv")} AS nrm FROM q),
    pl AS (SELECT {sql_planes} AS m),
    prow AS (SELECT p, m[p] AS row
             FROM pl, unnest(generate_series(1, {LSH_DEDUP_N_PLANES})) AS u(p)),
    pw AS (SELECT p, d, row[d] AS w
           FROM prow, unnest(generate_series(1, {dim})) AS v(d)),
    proj AS (
        SELECT b.vec_id, pw.p, sum(b.qv[pw.d] * pw.w) AS pr
        FROM bkt b CROSS JOIN pw
        GROUP BY b.vec_id, pw.p
    ),
    bands AS (
        SELECT vec_id,
               (p - 1) // {LSH_DEDUP_BAND_BITS} AS band,
               sum(CASE WHEN pr >= 0
                        THEN (1::BIGINT << ((p - 1) % {LSH_DEDUP_BAND_BITS}))
                        ELSE 0::BIGINT END)::BIGINT AS band_key
        FROM proj GROUP BY vec_id, band
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
        FROM bands a JOIN bands c
          ON a.band = c.band AND a.band_key = c.band_key
         AND a.vec_id < c.vec_id
    )
    SELECT vec_a, vec_b,
           round({sql_dot("a.qv", "c.qv")}::DOUBLE / (a.nrm * c.nrm), 6)
               AS cos_sim
    FROM cand
    JOIN bkt a ON a.vec_id = vec_a
    JOIN bkt c ON c.vec_id = vec_b
    WHERE {sql_dot("a.qv", "c.qv")}::DOUBLE / (a.nrm * c.nrm)
          >= {COSINE_DUP_THRESHOLD}
    """


def dedup_embedding_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup, SCALE path: candidates come from a
    banded sign-random-projection LSH equi-join (64 deterministic
    hyperplanes — similarity.py's md5 recipe extended — split into 8
    bands of 8 sign bits; a pair is a candidate if it agrees on ANY
    band, the MinHash-LSH banding trick applied to hyperplane signs)
    — NO driver collect, NO all-pairs. This is the route past
    EMBEDDING_BROADCAST_CAP that the exact baseline
    (dedup_embedding_cosine above) refuses.

    Plan shape: the band self-join carries ONLY (vec_id, band,
    band_key) — ids, never vectors — then the deduped candidate pairs
    fetch their two vectors via equi-joins against the vector table
    for the exact int64 cosine verify (candidate→verify, the same
    shape as dedup_ngram_jaccard's PPJoin stage). Shuffle volume is
    |bands|·ids + |candidates|·2 vectors, not |pairs|·2 vectors — and
    with 8-bit bands the candidate set stays ~3% of the pair space
    for unrelated vectors (the 4×2-bit geometry this replaces had 16
    buckets and emitted ~68% of all pairs; ADVICE r3).

    Recall is probabilistic and threshold-dependent (≈0.93 at
    production cos ≥ 0.9; low at the fixture's deliberately loose
    0.4 — see LSH_DEDUP_N_PLANES); both engines share the identical
    plane matrix, so the oracle gate compares the result exactly,
    including the miss set."""
    return embedding_cosine_lsh_pairs(read_table(spark, sf_dir, "embeddings"))


query("dedup_embedding_cosine_lsh", oracle=_lsh_dedup_oracle())(
    dedup_embedding_cosine_lsh
)


@query(
    "pipeline_corpus_dedup",
    oracle=f"""
    -- the composed corpus-dedup pipeline: normalize -> exact dedup ->
    -- MinHash near-dup over exact survivors -> connected components ->
    -- canonical selection. One decision row per document.
    WITH RECURSIVE
    normed AS (
        SELECT doc_id,
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS text
        FROM documents
    ),
    hashed AS (SELECT doc_id, text, md5(text) AS norm_hash FROM normed),
    reps AS (
        SELECT norm_hash, min(doc_id) AS exact_rep, count(*) AS n_copies
        FROM hashed GROUP BY norm_hash
    ),
    surv AS (
        SELECT r.exact_rep AS doc_id, h.text
        FROM reps r JOIN hashed h ON h.doc_id = r.exact_rep
    ),
    {sql_minhash_pair_ctes('surv')},
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM dup_pairs
    ),
    reach(v, u) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM edges)
        UNION
        SELECT r.v, e.dst FROM reach r JOIN edges e ON e.src = r.u
    ),
    comp AS (SELECT v AS doc_id, min(u) AS cluster_id FROM reach GROUP BY v)
    SELECT h.doc_id, r.exact_rep,
           coalesce(c.cluster_id, r.exact_rep) AS canonical_id,
           r.n_copies::BIGINT AS n_copies,
           (h.doc_id = coalesce(c.cluster_id, r.exact_rep)) AS keep
    FROM hashed h
    JOIN reps r USING (norm_hash)
    LEFT JOIN comp c ON c.doc_id = r.exact_rep
    """,
)
def pipeline_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED corpus-dedup pipeline — what an LLM-data team
    actually ships, end to end in one plan:

    1. normalize (lowercase, collapse whitespace — text_normalize's
       expression);
    2. exact dedup on the normalized hash (keep min doc_id per hash —
       the shuffle carries hashes and counts, never documents);
    3. MinHash+LSH near-dup pairs over the exact SURVIVORS only
       (minhash_pairs — the expensive stage runs on the already-shrunk
       set, the standard pipeline ordering);
    4. connected components over the near-dup graph
       (label_propagate_components): a graph of at most
       DRIVER_COMPONENTS_MAX_EDGES (2^17, measured as about one
       distributed round of driver work) edge rows is read in one
       bounded Arrow collect and finished by union-find on the driver;
       a larger one runs min-label propagation to convergence;
    5. canonical selection: every document maps through its exact rep
       to its cluster's minimum id; ``keep`` marks the one surviving
       copy per duplicate group.

    Output: (doc_id, exact_rep, canonical_id, n_copies, keep) — one
    decision row per input document. Full DuckDB oracle (recursive-CTE
    closure over the identically-derived pair set)."""
    docs = read_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    # bounded lazy persists (r16, guide §2.4): ``hashed`` is consumed
    # three times (reps, the survivor join, the final decision join)
    # and ``reps`` twice — without the persists the normalize+md5
    # pass over the corpus re-ran once per reference.
    hashed = persist_bounded(
        docs.select(
            "doc_id", norm.alias("text"), F.md5(norm).alias("norm_hash")
        )
    )
    reps = persist_bounded(
        hashed.groupBy("norm_hash").agg(
            F.min("doc_id").alias("exact_rep"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )
    surv = (
        reps.select("exact_rep")
        .join(hashed, reps.exact_rep == hashed.doc_id)
        .select("doc_id", "text")
    )
    # persist before the symmetrizing union (r16): same two-reference
    # trap as dedup_cluster_assign — without it the survivor MinHash
    # pipeline ran twice inside the edge checkpoint.
    pairs = persist_bounded(minhash_pairs(surv).select("doc_a", "doc_b"))
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    comp = label_propagate_components(edges).select(
        F.col("node").alias("comp_doc"), F.col("label").alias("cluster_id")
    )
    return (
        hashed.join(reps, "norm_hash")
        .join(comp, F.col("exact_rep") == F.col("comp_doc"), "left")
        .select(
            "doc_id",
            "exact_rep",
            F.coalesce("cluster_id", "exact_rep").alias("canonical_id"),
            F.col("n_copies").cast("long").alias("n_copies"),
            (
                F.col("doc_id") == F.coalesce("cluster_id", "exact_rep")
            ).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Sorted-neighborhood method (SNM) — the third classic blocking family
# next to LSH banding and length-bucket blocking: sort the corpus by a
# similarity-preserving key and compare each record only with its W
# following neighbors (Hernández & Stolfo 1995). Key here = the
# minimum hashed shingle (a 1-permutation MinHash), so near-dups —
# which share their rarest-hash shingle with high probability —
# land adjacent.
# ---------------------------------------------------------------------------

SNM_WINDOW = 5
#: rank buckets = top bits of the 60-bit uniform sort key: 2^10
#: key-prefix ranges, balanced by hash uniformity — no sampling pass,
#: no materialization barrier, deterministic across runs.
SNM_BUCKET_SHIFT = 50


@query(
    "dedup_sorted_neighborhood",
    oracle=f"""
    -- sorted-neighborhood near-dup: rank docs by (min shingle hash,
    -- doc_id), pair each doc with its next {SNM_WINDOW} neighbors,
    -- keep pairs with exact Jaccard >= {NGRAM_JACCARD_THRESHOLD}.
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, {_SQL_HSHINGLES} AS hsh FROM t),
    r AS (
        SELECT doc_id, hsh,
               row_number() OVER (
                   ORDER BY list_min(hsh), doc_id) AS rnk
        FROM sh
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_intersect(a.hsh, b.hsh))::DOUBLE
                 / len(list_distinct(a.hsh || b.hsh)), 6) AS jaccard
    FROM r a JOIN r b
      ON b.rnk BETWEEN a.rnk + 1 AND a.rnk + {SNM_WINDOW}
    WHERE len(list_intersect(a.hsh, b.hsh))::DOUBLE
          / len(list_distinct(a.hsh || b.hsh))
          >= {NGRAM_JACCARD_THRESHOLD}
    """,
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup detection: candidates = pairs
    within a rank window of {SNM_WINDOW} under a global sort on
    (min-shingle-hash, doc_id), verified with exact Jaccard.

    The global rank is computed WITHOUT a single-partition sort and
    WITHOUT a sampling pass: the sort key is a uniform 60-bit hash, so
    its top {60 - SNM_BUCKET_SHIFT} bits are 2^{60 - SNM_BUCKET_SHIFT}
    balanced, ORDER-PRESERVING range buckets — rank = (cumulative
    count of earlier buckets, a broadcast table built from one tiny
    aggregate) + (row_number within the bucket, parallel across
    buckets). Same decomposition corpus_quality_filter uses; the only
    single-partition window runs over ≤2^{60 - SNM_BUCKET_SHIFT}
    bucket-count rows. The neighbor join is an equi-join on rank —
    candidate volume is exactly W·n, immune to key skew (contrast: a
    hot LSH bucket is quadratic in its occupancy). The price is
    recall: only rank-adjacent dups are found — the classic SNM
    trade; multi-pass SNM with a second key is the standard recall
    patch."""
    docs = read_table(spark, sf_dir, "documents")
    from pyspark.sql import Window as _W

    sh = docs.withColumn("_toks", tokens_of(F.col("text"))).select(
        "doc_id",
        hashed_shingles(F.col("_toks")).alias("hsh"),
    ).withColumn("key", F.array_min("hsh"))
    # compute the shingled table ONCE — three consumers below
    # (bucket counts + both sides of the neighbor join) would each
    # recompute the md5 shingling otherwise; bounded lazy persist
    # keeps construction jobless (r13)
    b = persist_bounded(
        sh.withColumn("bkt", F.shiftright("key", SNM_BUCKET_SHIFT))
    )
    counts = b.groupBy("bkt").agg(F.count(F.lit(1)).alias("cnt"))
    offs = counts.select(
        "bkt",
        F.coalesce(
            F.sum("cnt").over(
                _W.orderBy("bkt").rowsBetween(_W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("off"),
    )
    ranked = b.join(F.broadcast(offs), "bkt").select(
        "doc_id",
        "hsh",
        (
            F.row_number().over(
                _W.partitionBy("bkt").orderBy("key", "doc_id")
            )
            + F.col("off")
        ).alias("rnk"),
    )
    a = ranked.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hsh").alias("hsh_a"),
        F.col("rnk").alias("rnk_a"),
    )
    bb = ranked.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hsh").alias("hsh_b"),
        F.col("rnk").alias("rnk_b"),
    )
    cand = a.select(
        "doc_a",
        "hsh_a",
        "rnk_a",
        F.explode(
            F.array(*[F.lit(d) for d in range(1, SNM_WINDOW + 1)])
        ).alias("delta"),
    ).withColumn("rnk_b", F.col("rnk_a") + F.col("delta"))
    jac = F.size(F.array_intersect("hsh_a", "hsh_b")).cast(
        "double"
    ) / F.size(F.array_union("hsh_a", "hsh_b"))
    return (
        cand.join(bb, "rnk_b")
        .withColumn("jac", jac)
        .filter(F.col("jac") >= NGRAM_JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round("jac", 6).alias("jaccard"))
    )


#: incremental dedup: this stride selects the "newly arrived batch";
#: the rest of the corpus plays the already-ingested side.
INCR_NEW_STRIDE = 10
INCR_NEW_RESIDUE = 3


@query(
    "dedup_incremental_minhash",
    oracle=f"""
    -- INCREMENTAL near-dup: probe the new batch's LSH bands against
    -- the existing corpus's bands — a bipartite band join, never a
    -- self-join of the full corpus.
    WITH {{ctes}}
    , newb AS (SELECT * FROM bands
               WHERE doc_id % {INCR_NEW_STRIDE} = {INCR_NEW_RESIDUE}),
    corpb AS (SELECT * FROM bands
              WHERE doc_id % {INCR_NEW_STRIDE} != {INCR_NEW_RESIDUE}),
    icand AS (
        SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
        FROM newb n JOIN corpb c
          ON n.band = c.band AND n.band_key = c.band_key
    )
    SELECT i.new_id, i.corpus_id,
           round(len(list_intersect(sa.hsh, sb.hsh))::DOUBLE
                 / len(list_distinct(sa.hsh || sb.hsh)), 6) AS jaccard
    FROM icand i
    JOIN sh sa ON sa.doc_id = i.new_id
    JOIN sh sb ON sb.doc_id = i.corpus_id
    WHERE len(list_intersect(sa.hsh, sb.hsh))::DOUBLE
          / len(list_distinct(sa.hsh || sb.hsh)) >= {JACCARD_THRESHOLD}
    """.format(ctes=sql_minhash_pair_ctes("documents")),
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup — the DAILY form of near-dup removal:
    match the newly-arrived batch against the already-ingested corpus
    (bipartite), instead of re-deduping everything against everything.
    A new document near-duplicating an existing one is reported with
    its match and exact Jaccard; the caller drops or links it.

    Scale shape: the corpus side's band keys are a PERSISTED signature
    index in production (built once, appended per batch) — here both
    sides derive from the fixture split ({INCR_NEW_STRIDE}ths stride).
    The probe is an equi-join of |new|·bands keys against the index,
    so daily cost scales with the BATCH, not the corpus; the full
    self-join (dedup_minhash_lsh) is the backfill form. Verify stays
    candidate-only. No quadratic stage anywhere."""
    docs = read_table(spark, sf_dir, "documents")
    sh = docs.withColumn("_toks", tokens_of(F.col("text"))).select(
        "doc_id", hashed_shingles(F.col("_toks")).alias("hsh")
    )
    sig = sh.select(
        "doc_id", "hsh", minhash_sig_from_hashes(F.col("hsh")).alias("sig")
    )
    bands = sig.select(
        "doc_id",
        "hsh",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(LSH_BANDS - 1)),
                lambda band: F.element_at("sig", band * LSH_ROWS + 1)
                * F.lit(MINHASH_P).cast("long")
                + F.element_at("sig", band * LSH_ROWS + 2),
            )
        ).alias("band", "band_key"),
    )
    is_new = F.col("doc_id") % INCR_NEW_STRIDE == INCR_NEW_RESIDUE
    newb = bands.filter(is_new).select(
        F.col("doc_id").alias("new_id"),
        F.col("hsh").alias("sh_a"),
        "band",
        "band_key",
    )
    corpb = bands.filter(~is_new).select(
        F.col("doc_id").alias("corpus_id"),
        F.col("hsh").alias("sh_b"),
        "band",
        "band_key",
    )
    cand = (
        newb.join(corpb, ["band", "band_key"])
        .dropDuplicates(["new_id", "corpus_id"])
    )
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        cand.withColumn("jac", jac)
        .filter(F.col("jac") >= JACCARD_THRESHOLD)
        .select("new_id", "corpus_id", F.round("jac", 6).alias("jaccard"))
    )


#: URL-level dedup: pages per canonical URL (fixture synthesizes raw
#: URLs whose page id is doc_id % URL_PAGE_MOD wrapped in per-doc
#: case/port/tracking-param noise the canonicalizer must strip).
URL_PAGE_MOD = 150


@query(
    "dedup_url_canonical",
    oracle=f"""
    -- URL-level exact dedup — the FIRST dedup pass of any web corpus
    -- (cheaper than any content hash: no text read at all). Raw URLs
    -- differ in scheme case, default port, utm_* noise, and param
    -- ORDER; only canonicalization makes re-crawls of the same page
    -- collide. One keeper (min doc_id) per canonical URL.
    WITH u AS (
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0
                    THEN 'HTTP://Site.COM:80/p/' || (doc_id % {URL_PAGE_MOD})
                         || '?y=2&utm_campaign=' || doc_id || '&x=1'
                    ELSE 'http://site.com/p/' || (doc_id % {URL_PAGE_MOD})
                         || '?x=1&utm_source=' || doc_id || '&y=2'
               END AS url
        FROM documents
    ),
    parts AS (
        SELECT doc_id,
               lower(regexp_extract(url, '^([a-zA-Z]+)://', 1)) AS scheme,
               regexp_replace(
                   lower(regexp_extract(url, '^[a-zA-Z]+://([^/?]+)', 1)),
                   ':80$', '') AS host,
               regexp_extract(url, '^[a-zA-Z]+://[^/?]+([^?]*)', 1) AS path,
               regexp_extract(url, '\\?(.*)$', 1) AS query
        FROM u
    ),
    canon AS (
        SELECT doc_id,
               scheme || '://' || host || path || '?' ||
               array_to_string(
                   list_sort(list_filter(
                       string_split(query, '&'),
                       p -> p NOT LIKE 'utm_%')), '&') AS canonical_url
        FROM parts
    )
    SELECT canonical_url,
           count(*)::BIGINT AS n_dups,
           min(doc_id) AS canonical_doc,
           array_to_string(list_sort(list(doc_id)), ',') AS members
    FROM canon
    GROUP BY canonical_url
    HAVING count(*) >= 2
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level exact dedup — the cheapest dedup pass in the web
    pipeline, run BEFORE any content hashing: canonicalize the crawl
    URL (`canonical_url_expr` — case-fold, strip :80, drop utm_*,
    sort params) and collapse re-crawls of the same page to one
    keeper. The fixture wraps page ids in exactly the noise
    canonicalization exists to remove, so the groups are non-vacuous
    only if every rule fires.

    Scale shape: a narrow regex/HOF projection then ONE groupBy on
    the canonical key — identical shuffle shape to dedup_exact_hash
    but with zero bytes of document text read (column pruning keeps
    the scan to doc_id)."""
    from lake_satellite_image_etl_spark.functions.text import (
        canonical_url_expr,
    )

    docs = read_table(spark, sf_dir, "documents")
    page = (F.col("doc_id") % URL_PAGE_MOD).cast("string")
    did = F.col("doc_id").cast("string")
    url = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(
            F.lit("HTTP://Site.COM:80/p/"), page,
            F.lit("?y=2&utm_campaign="), did, F.lit("&x=1"),
        ),
    ).otherwise(
        F.concat(
            F.lit("http://site.com/p/"), page,
            F.lit("?x=1&utm_source="), did, F.lit("&y=2"),
        )
    )
    canon = docs.select(
        "doc_id", canonical_url_expr(url).alias("canonical_url")
    )
    return (
        canon.groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dups"),
            F.min("doc_id").alias("canonical_doc"),
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
            ).alias("members"),
        )
        .filter(F.col("n_dups") >= 2)
    )


#: boilerplate-prefix dedup: documents sharing their first
#: PREFIX_TOKENS tokens (the shared navigation/header C4-style
#: boilerplate signal).
PREFIX_TOKENS = 8


@query(
    "dedup_prefix_boilerplate",
    oracle=f"""
    -- prefix-boilerplate detection: documents whose FIRST
    -- {PREFIX_TOKENS} tokens coincide — the cheap catcher for shared
    -- headers/templates that full-content hashing misses (bodies
    -- differ) and near-dup misses when the shared part is small.
    -- Groups of >= 2 with one keeper.
    WITH t AS (
        SELECT doc_id, source,
               md5(array_to_string(
                   list_slice(string_split(lower(text), ' '),
                              1, {PREFIX_TOKENS}), ' ')) AS prefix_hash
        FROM documents
    )
    SELECT prefix_hash,
           count(*)::BIGINT AS n_docs,
           count(DISTINCT source)::BIGINT AS n_sources,
           min(doc_id) AS keeper
    FROM t
    GROUP BY prefix_hash
    HAVING count(*) >= 2
    """,
)
def dedup_prefix_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-boilerplate dedup — group documents by the hash of
    their first {PREFIX_TOKENS} tokens: the C4-style catcher for
    shared page templates/navigation headers that exact-content
    hashing misses (bodies differ) and MinHash underweights (the
    shared span is a small fraction of each doc). ``n_sources`` > 1
    flags template reuse ACROSS sources — usually scraper boilerplate
    rather than real duplication.

    Scale shape: slice + hash is narrow scan work; one groupBy on the
    prefix hash carrying (hash, count) — the dedup_exact_hash shuffle
    shape, output only the ≥2 groups."""
    docs = read_table(spark, sf_dir, "documents")
    prefix = F.md5(
        F.concat_ws(
            " ", F.slice(tokens_of(F.col("text")), 1, PREFIX_TOKENS)
        )
    )
    return (
        docs.select("doc_id", "source", prefix.alias("prefix_hash"))
        .groupBy("prefix_hash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count_distinct("source").alias("n_sources"),
            F.min("doc_id").alias("keeper"),
        )
        .filter(F.col("n_docs") >= 2)
    )


#: fuzzy entity resolution: candidate pairs must share the blocking
#: key (the name minus its last FUZZY_SUFFIX_LEN chars) and sit
#: within edit distance FUZZY_MAX_DIST.
FUZZY_SUFFIX_LEN = 2
FUZZY_MAX_DIST = 1


@query(
    "dedup_fuzzy_blocked",
    oracle=f"""
    -- blocked fuzzy entity resolution over customer names: candidate
    -- pairs share the name-prefix blocking key (name minus its last
    -- {FUZZY_SUFFIX_LEN} chars) and match at levenshtein <=
    -- {FUZZY_MAX_DIST}; per entity, the match count and the smallest
    -- matching key. Levenshtein is classic unit-cost edit distance in
    -- both engines; counts/keys are exact integers.
    WITH c AS (
        SELECT c_custkey AS k, c_name AS nm,
               substr(c_name, 1, length(c_name) - {FUZZY_SUFFIX_LEN})
                   AS blk
        FROM customer
    ),
    hits AS (
        SELECT a.k AS ka, b.k AS kb
        FROM c a JOIN c b ON a.blk = b.blk AND a.k < b.k
        WHERE levenshtein(a.nm, b.nm) <= {FUZZY_MAX_DIST}
    ),
    sym AS (SELECT ka AS k, kb AS other FROM hits
            UNION ALL SELECT kb, ka FROM hits)
    SELECT k AS c_custkey,
           count(*)::BIGINT AS n_fuzzy,
           min(other)::BIGINT AS nearest_key
    FROM sym GROUP BY 1
    """,
)
def dedup_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity resolution — the record-linkage primitive
    for typo-level duplicate entities: block on a deterministic key
    (name minus its last {FUZZY_SUFFIX_LEN} chars), compare ONLY
    within blocks, keep pairs at levenshtein ≤ {FUZZY_MAX_DIST}, and
    report per entity its match count and smallest matching key (the
    canonical-keeper convention the other dedup operators use).

    Scale shape: the all-pairs O(n²) edit-distance matrix never
    exists — the self-join keys on the blocking prefix, so pair
    fan-out per block is bounded by the suffix alphabet
    (≤ 10^{FUZZY_SUFFIX_LEN} names per block → ≤ C(10^{FUZZY_SUFFIX_LEN}, 2)
    comparisons), a bound set by the KEY DESIGN, not by data luck —
    the same blocking discipline as dedup_sorted_neighborhood, with
    levenshtein (JVM builtin, whole-stage codegen) as the in-block
    matcher. Production variants stack multiple blocking passes
    (prefix, phonetic, q-gram) and union candidates; each pass has
    this exact plan."""
    cust = read_table(spark, sf_dir, "customer")
    c = cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_name").alias("nm"),
        F.expr(
            f"substring(c_name, 1, length(c_name) - {FUZZY_SUFFIX_LEN})"
        ).alias("blk"),
    )
    a, b = c.alias("a"), c.alias("b")
    # bounded lazy persist (r16, guide §2.4): the symmetrization below
    # references ``hits`` twice — without the persist the blocked
    # self-join AND its levenshtein matcher ran twice per action.
    hits = persist_bounded(
        a.join(b, "blk")
        .where(F.col("a.k") < F.col("b.k"))
        .where(
            F.levenshtein(F.col("a.nm"), F.col("b.nm")) <= FUZZY_MAX_DIST
        )
        .select(F.col("a.k").alias("ka"), F.col("b.k").alias("kb"))
    )
    sym = hits.select(F.col("ka").alias("k"), F.col("kb").alias("other")).union(
        hits.select(F.col("kb").alias("k"), F.col("ka").alias("other"))
    )
    return sym.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n_fuzzy"),
        F.min("other").cast("long").alias("nearest_key"),
    ).select(F.col("k").alias("c_custkey"), "n_fuzzy", "nearest_key")
