"""Headline benchmark: runs the engine's flagship queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line (a compact
summary — the slowest 20 entries inline under ``"slowest"``, the full
per-query map under ``"queries"`` in ``BENCH_DETAIL.json``; harness
stdout capture keeps only a ~2000-char tail, which a 200+-entry line
overflows).

Queries are assigned to fresh-JVM batches by ``md5(name) mod
n_batches`` — a HASH BUCKET, not a position in a sorted list:
positional chunking of the md5-sorted list meant ONE added registry
entry shifted every later name into a different batch, so in-batch
timings were not comparable across rounds whenever the registry grew.
Bucketing is both family-interleaved (prefixes don't survive hashing;
alphabetical order had packed ``dedup_*``/``similarity_*`` into
all-heavy JVMs whose GC/codegen accumulation inflated late entries
~2x) and insertion-stable: an added entry perturbs only the one bucket
it hashes into, and every other query keeps its exact JVM cohort until
the registry crosses the next multiple of ``BATCH`` (n_batches bumps —
rare and visible in the artifact's ``n_batches``). Bucket sizes are
Poisson around ``BATCH`` rather than exact; within-bucket order stays
md5. After the batched run, the slowest 10 entries re-run ISOLATED
(one query per fresh JVM) and the results land under ``"isolated"`` in
BENCH_DETAIL.json, so a verdict can separate plan cost from batch
placement without re-running.

The protocol around that:
- box-speed calibration runs before and after the batches; the
  artifact carries a calibration-normalized total beside the raw one,
  and the spread and normalization basis use WARM samples only;
- isolated timing is min-of-2 when the yardstick spread exceeds 3x;
- the artifact is timeout-proof: the payload line is printed after
  every batch, the payload line + BENCH_DETAIL.json are written right
  after the batched phase AND again after isolation, and the isolated
  phase runs under $SPARK_GRAFT_BENCH_BUDGET_SEC with
  coverage-before-precision degradation;
- the isolated phase gets a phase-anchored budget floored at the
  slowest-10 rep-1 estimate, with a partial emit after every sample;
- the warm pass's caches are RELEASED before the timed run, so the
  timed region pays for its own persists — persist-heavy rows read
  higher than under a protocol that kept them, by exactly the donated
  warm work, which is honesty, not regression;
- the detail file is written per core count (BENCH_DETAIL_c{N}.json,
  plus the plain 32-core mover baseline).

Each query is warmed once (plan compile + scan setup) and then timed on
a ``noop``-format write — the full plan executes on the executors and
every result row is materialized and discarded there, so the timing
measures the engine, not the driver transfer (a plain ``collect()``
would bill multi-100k-row results' ser/de to the query, as it did on
join_fanout_1n).

The run is split into FORKED BATCHES — a fresh JVM per
``$SPARK_GRAFT_BENCH_BATCH`` (default 8) queries; 16-query batches
inflated heavy queries landing late in the batch up to ~2-3x (e.g.
pipeline_corpus_dedup 8.9 s in-batch vs 3.4 s isolated):
~90 queries in one shared JVM accumulate codegen caches / broadcast
refs / GC pressure until late queries read 3-10× their isolated time
(agg_exact_corr once printed 18.2 s shared vs 1.66 s isolated), and
per-query System.gc() was not enough. Batch JVM startup costs ~10 s
each but makes the artifact trustworthy without footnotes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from lake_satellite_image_etl_spark.session import DEFAULT_CPUS  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
BATCH = int(os.environ.get("SPARK_GRAFT_BENCH_BATCH", "8"))

#: core count label for the per-cpus detail file: the ``local[N]`` the
#: session factory resolved, so an 8-core run never clobbers the
#: 32-core run's full per-query map
_CPUS = DEFAULT_CPUS


def _sf_label(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _query_names() -> list[str]:
    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    bench_names = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if bench_names:
        return [n for n in bench_names.split(",") if n in queries]
    # md5(name) order, not registry order and not alphabetical: batch
    # composition (which 8 queries share a fresh JVM) is part of each
    # query's measured time, so it must be stable across rounds even
    # when the registry reorders entries — and it must INTERLEAVE
    # heavy families, which alphabetical order packed into all-heavy
    # batches (dedup_*/similarity_* filled whole JVMs and late entries
    # read up to ~2x their isolated time). md5 is both: deterministic
    # in the name alone, and family-scattering because prefixes don't
    # survive hashing.
    import hashlib

    return sorted(queries, key=lambda n: hashlib.md5(n.encode()).hexdigest())


def run_batch(names: list[str]) -> None:
    """Child mode: time the given queries in THIS process's JVM and
    print one JSON line {"queries": {name: sec}}."""
    import __spark_entry__ as entrymod
    from lake_satellite_image_etl_spark.session import get_spark

    from lake_satellite_image_etl_spark.plans.ingest_entries import (
        STREAM_DATA_TWINS,
    )

    from lake_satellite_image_etl_spark.caching import release_all

    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()

    def _cold(fn) -> float:
        """Warm (plan compile + scan setup) then time a COLD noop run.

        The caches the warm pass materialized are released between the
        two passes: any ``persist_bounded``
        subtree the warm ``limit(1)`` computed would otherwise be read
        from cache inside the timed region, so a change from "compute
        a shared subtree twice" to "persist it" showed up as 2×→0×
        instead of the true 2×→1×. The timed run reconstructs the
        DataFrame (fresh persist registrations over the same
        CacheManager-deduped plans) and pays for every persist it
        uses. memo_per_path construction artifacts (broadcast sample
        matrices, codebooks) survive on purpose — they are the
        accepted bounded construction-artifact class, materialized at
        first construction like schema inference, not result caches.
        """
        fn(spark, SF_DIR).limit(1).collect()
        release_all()
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    timings: dict[str, float] = {}
    split: dict[str, dict[str, float]] = {}
    for i, name in enumerate(names):
        # liveness breadcrumb on stderr (stdout stays ONE JSON line)
        print(f"bench [{i + 1}/{len(names)}] {name}", file=sys.stderr, flush=True)
        fn = queries[name]
        try:
            dt = _cold(fn)
        except Exception as e:  # noqa: BLE001
            print(f"bench error in {name}: {e}", file=sys.stderr)
            dt = float("nan")
        timings[name] = round(dt, 4)
        if name in STREAM_DATA_TWINS and dt == dt:
            # mechanics-vs-data split for streaming entries: time the
            # batch data-plane twin (same result over static reads —
            # no source listing / checkpoint / trigger loop / sink
            # commit) and attribute the remainder to streaming
            # mechanics, so these rows compare to batch rows.
            try:
                data_sec = _cold(STREAM_DATA_TWINS[name])
                split[name] = {
                    "total": round(dt, 4),
                    "data_plane": round(data_sec, 4),
                    "mechanics": round(max(dt - data_sec, 0.0), 4),
                }
            except Exception as e:  # noqa: BLE001
                print(f"bench twin error in {name}: {e}", file=sys.stderr)
        # release every registry-managed persist() between queries:
        # a batch of heavy graph/ANN queries can
        # otherwise hold all _MAX persist slots concurrently, making
        # memory headroom depend on batch composition at sf1+.
        release_all()
        spark.catalog.clearCache()
        spark._jvm.System.gc()

    print(json.dumps({"queries": timings, "streaming_split": split}), flush=True)


def run_calibration() -> None:
    """Child mode: fixed reference workloads in THIS fresh process — a
    box-speed yardstick embedded in every bench map. One grading
    window saw unchanged golden rows inflate 1.6-4× purely
    from machine state (a 20 M-row groupBy control read 5-7.5 s where
    <1 s is normal; consecutive same-size matmuls swung 0.014 → 1.7 s)
    and the adjudication had to be reconstructed after the fact.
    With the yardstick inline, any future map divides out box speed:
    compare `calibration` across rounds BEFORE reading per-query
    deltas. min AND max are both reported — a wide spread IS the
    signal that the box was bimodal during the run."""
    import numpy as np

    t_start = time.perf_counter()
    from lake_satellite_image_etl_spark.session import get_spark

    spark = get_spark(app_name="bench-calibration")
    spark.sparkContext.setLogLevel("ERROR")
    jvm_up = time.perf_counter() - t_start
    shuffle: list[float] = []
    for _ in range(3):
        t0 = time.perf_counter()
        (
            spark.range(0, 20_000_000)
            .selectExpr("id % 1000 AS k")
            .groupBy("k")
            .count()
            .write.mode("overwrite")
            .format("noop")
            .save()
        )
        shuffle.append(time.perf_counter() - t0)
    x = np.random.default_rng(0).random((1500, 1500))
    mm: list[float] = []
    for _ in range(3):
        t0 = time.perf_counter()
        x @ x
        mm.append(time.perf_counter() - t0)
    print(
        json.dumps(
            {
                "calibration": {
                    "jvm_startup_sec": round(jvm_up, 2),
                    "spark_groupby_20m_sec": {
                        "min": round(min(shuffle), 3),
                        "max": round(max(shuffle), 3),
                    },
                    "numpy_matmul_1500_sec": {
                        "min": round(min(mm), 4),
                        "max": round(max(mm), 4),
                    },
                    # full sample lists so the parent can take a
                    # median across pre+post runs for normalization
                    # (min/max alone can't give a robust basis)
                    "spark_groupby_samples": [round(s, 3) for s in shuffle],
                    "numpy_matmul_samples": [round(s, 4) for s in mm],
                }
            }
        ),
        flush=True,
    )


#: healthy-box nominal for the 20 M-row groupBy control: the quiet-box
#: reading (gate `spark_groupby_20m_sec.max < ~1.5`, min observed 0.647
#: during one driver run, ~0.6-0.7 on every quiet calibration this repo
#: has logged). The normalized total
#: answers "what would this map read on THAT box" — a first-order
#: correction (shuffle-bound queries track the control closely,
#: numpy-heavy eval rows track the matmul control instead), so the RAW
#: total stays the primary metric and the normalized one exists for
#: round-over-round comparison on bimodal boxes.
NOMINAL_GROUPBY_SEC = 0.65

#: yardstick spread (max/min of the groupBy control across the pre-
#: and post-run calibrations) past which the isolated phase times each
#: query TWICE in two fresh JVMs and records the min — on a bimodal
#: box a single isolated sample can land in either mode and the min is
#: the defensible plan-cost reading.
ISOLATED_MIN_OF_2_SPREAD = 3.0


def _calibrate(tag: str) -> dict:
    """Run the --calibrate child in a fresh JVM; {} on any failure."""
    print(f"bench calibration [{tag}] (fresh JVM)", file=sys.stderr, flush=True)
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--calibrate"],
        capture_output=True,
        text=True,
    )
    sys.stderr.write(proc.stderr)
    try:
        return json.loads(proc.stdout.strip().splitlines()[-1])["calibration"]
    except (IndexError, ValueError, KeyError):
        return {}


def _merge_calibration(pre: dict, post: dict) -> dict:
    """One calibration object for the artifact: the top-level keys
    (min/max per control) span BOTH runs — comparable with maps that
    had a single calibration run — plus the raw pre/post children, the
    spread, and the normalization basis (median of all groupBy
    samples across both runs)."""
    out: dict[str, object] = {}
    if pre:
        out["pre"] = pre
    if post:
        out["post"] = post
    for key, skey in (
        ("spark_groupby_20m_sec", "spark_groupby_samples"),
        ("numpy_matmul_1500_sec", "numpy_matmul_samples"),
    ):
        samples = [
            s for c in (pre, post) if c for s in c.get(skey, [])
        ] or [
            v
            for c in (pre, post)
            if c and c.get(key)
            for v in (c[key]["min"], c[key]["max"])
        ]
        if samples:
            out[key] = {"min": min(samples), "max": max(samples)}
    sg = out.get("spark_groupby_20m_sec")
    if sg and sg["min"] > 0:
        # spread + normalization basis over WARM samples only: the
        # FIRST groupBy sample of every fresh calibration
        # child is the structural JVM-warmup reading (~5-10x steady
        # state on every run this repo has logged), so a spread over
        # all samples fires the min-of-2 trigger on a perfectly
        # healthy box and a median basis over them inflates
        # value_normalized (measured: factor 0.48 vs ~1.0 warm). The
        # top-level min/max above still span ALL samples on purpose —
        # they stay comparable with older maps, and the warmup
        # magnitude remains visible there.
        warm = sorted(
            s
            for c in (pre, post)
            if c
            for s in c.get("spark_groupby_samples", [])[1:]
        )
        if warm and warm[0] > 0:
            out["spread"] = round(warm[-1] / warm[0], 2)
            out["spread_basis"] = "warm"
            basis = warm[len(warm) // 2]
            out["normalization"] = {
                "nominal_groupby_sec": NOMINAL_GROUPBY_SEC,
                "basis_groupby_sec": round(basis, 3),
                "factor": round(NOMINAL_GROUPBY_SEC / basis, 4),
                "note": "value_normalized = raw total x factor; raw is primary",
            }
        else:
            # calibration child predating the sample lists (or a
            # truncated payload): min/max-based spread, no basis
            out["spread"] = round(sg["max"] / sg["min"], 2)
            out["spread_basis"] = "all"
    return out


#: injectable clock for the budget tests (monkeypatched there; the
#: real run uses the monotonic clock)
_now = time.monotonic

#: fresh-JVM startup estimate used by the isolated-phase budgeter:
#: the ~15 s per child that floored isolated runs measured
#: (``_iso_est_sec``: ~27 s per child for ~5 s queries ≈ 15 + 2·q)
JVM_STARTUP_EST_SEC = 15.0

#: rows under an explicit verdict watch (dq_knn_recall_eval's 8.12 s
#: driver reading could not be adjudicated because the isolated
#: column was empty): always joins
#: the isolated re-run — even when its batched reading no longer
#: ranks in the slowest-10 — so the watch can close on
#: driver-protocol numbers instead of another warm-rep adjudication.
WATCH_ISOLATED = ("dq_knn_recall_eval",)


def _budget_sec() -> float:
    """Wall-clock budget for the WHOLE bench invocation. A driver
    artifact once came back rc 124 / parsed null: the isolated phase
    grew to 36 fresh JVMs under min-of-2 and blew the driver's window
    (observed: a ~700 s run survived, a ~950 s one did not — so the
    ceiling is between them, likely 900). The default leaves margin
    under that floor; the batched phase always runs in full (it IS
    the artifact), the budget governs how much isolated
    re-measurement fits after it. The isolated phase is additionally
    floored at the slowest-10 rep-1 estimate (``_iso_rep1_floor``): a
    batched phase that outlasts the whole budget can shrink the
    isolated column to the floor, never to empty."""
    return float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_SEC", "780"))


def _time_one_isolated(name: str) -> float:
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--run-batch", name],
        capture_output=True,
        text=True,
    )
    sys.stderr.write(proc.stderr)
    try:
        payload = json.loads(proc.stdout.strip().splitlines()[-1])
        return float(payload["queries"][name])
    except (IndexError, ValueError, KeyError, TypeError):
        return float("nan")


def _iso_est_sec(query_sec: float) -> float:
    """Wall estimate for ONE isolated child: JVM startup plus TWO
    executions of the query — the warm pass and the timed cold run
    (the protocol releases caches between them, so the warm pass
    costs a full execution too). The first floored run this session
    measured ~27 s/child for ~5 s queries — ≈ 15 + 2·q — against the
    old ``10 + q`` estimate, which is why its floor ran out at 8 of
    the slowest 10."""
    return JVM_STARTUP_EST_SEC + 2.0 * max(query_sec, 2.0)


def _iso_rep1_floor(
    slow_names: list[str], timings: dict[str, float], n_floor: int = 10
) -> float:
    """Minimum isolated-phase budget: enough (with a 1.5× overrun
    margin) for ONE sample of each of the slowest-10 plus any watch
    rows — the smallest isolated column a verdict can adjudicate
    plan-vs-placement with (a fixed start-anchored budget was once
    consumed entirely by a slow batched phase and BOTH driver runs
    recorded ``isolated: {}``)."""
    est = 0.0
    for n in slow_names[:n_floor]:
        t = timings.get(n, float("nan"))
        est += _iso_est_sec(t if t == t else 2.0)
    return 1.5 * est


def _run_isolated_budgeted(
    slow_names: list[str],
    timings: dict[str, float],
    iso_reps: int,
    t_start: float,
    budget: float,
    on_sample=None,
) -> tuple[dict[str, float], dict[str, list[float]], dict[str, list[str]]]:
    """Isolated re-runs under a wall-clock budget, COVERAGE before
    PRECISION: the schedule is rep-major —
    one sample of every name first, the min-of-2 second samples only
    after every name has one — so a depleting budget degrades
    min-of-2 → min-of-1 → drops movers (they follow the slowest-10
    within the pass) → drops the slowest-10's tail, never silently:
    every skip is logged and recorded in the artifact. If ANY
    first-rep item had to be skipped, the second-rep pass is not
    attempted at all (two samples of half the names is worth less
    than the skipped names' one sample).

    ``t_start``/``budget`` are PHASE-anchored: the caller passes the
    isolated phase's own start time and a budget floored at the
    slowest-10 rep-1 estimate, so a slow batched phase can no longer
    deplete the isolated column to empty. ``on_sample`` is called
    with the mins-so-far after every
    isolated child, so the caller can emit partial artifacts — a
    driver timeout mid-phase keeps the samples already taken."""
    isolated: dict[str, float] = {}
    isolated_runs: dict[str, list[float]] = {}
    skipped: dict[str, list[str]] = {"rep1": [], "rep2": []}
    for rep in range(iso_reps):
        if rep > 0 and skipped["rep1"]:
            skipped["rep2"] = [n for n in slow_names if n not in skipped["rep1"]]
            print(
                "bench isolated: rep-2 pass dropped entirely "
                f"(budget already cut {len(skipped['rep1'])} rep-1 runs)",
                file=sys.stderr,
                flush=True,
            )
            break
        for si, name in enumerate(slow_names):
            prior = isolated_runs.get(name) or []
            t_batched = timings.get(name, float("nan"))
            est_query = (
                prior[0]
                if prior and prior[0] == prior[0]
                else (t_batched if t_batched == t_batched else 5.0)
            )
            est = _iso_est_sec(est_query)
            if _now() - t_start + est > budget:
                skipped["rep1" if rep == 0 else "rep2"].append(name)
                print(
                    f"bench isolated SKIP [rep {rep + 1}] {name}: "
                    f"budget {budget:.0f}s depleted "
                    f"({_now() - t_start:.0f}s elapsed, est {est:.0f}s)",
                    file=sys.stderr,
                    flush=True,
                )
                continue
            print(
                f"bench isolated [{si + 1}/{len(slow_names)}]"
                f"[rep {rep + 1}/{iso_reps}] {name}",
                file=sys.stderr,
                flush=True,
            )
            isolated_runs.setdefault(name, []).append(
                round(_time_one_isolated(name), 4)
            )
            if on_sample is not None:
                mins = {
                    n: min(g)
                    for n, s in isolated_runs.items()
                    if (g := [x for x in s if x == x])
                }
                on_sample(mins)
    for name, samples in isolated_runs.items():
        good = [s for s in samples if s == s]
        isolated[name] = min(good) if good else float("nan")
    return isolated, isolated_runs, skipped


def _print_summary(
    payload: dict,
    timings: dict[str, float],
    isolated: dict[str, float],
    pending: bool,
) -> None:
    """The driver-facing JSON line (the driver parses the LAST stdout
    line). Printed after EVERY batch (cumulative partial — see main's
    batch loop) and then twice more: once right after the batched
    phase + calibration merge with isolated_pending=true, and again
    after the isolated phase — so a driver timeout at ANY point
    degrades to the most recent partial artifact instead of 'no
    artifact'. (An artifact once came back rc 124 / parsed null
    because the only print sat at the very end of main; the box's
    slow mode was then measured stretching the batched phase alone to
    ~1,560 s — past the driver window that artifact died at — so the
    batched phase itself needs incremental emits, not just a
    post-phase one.) Partial lines carry
    ``"batched_pending": true`` + ``n_batches_done`` so a consumer
    can tell a truncated run from a complete one; the final line is
    always last, superseding them."""
    slowest = dict(
        sorted(
            ((k, round(v, 2)) for k, v in timings.items() if v == v),
            key=lambda kv: -kv[1],
        )[:20]
    )
    errors = sorted(k for k, v in timings.items() if v != v)
    line = {
        "metric": payload["metric"],
        "value": payload["value"],
        # raw-total x (nominal / warm-median groupBy control): the
        # round-over-round comparison column on bimodal boxes — RAW
        # stays primary
        "value_normalized": payload["value_normalized"],
        "unit": payload["unit"],
        # the FULL per-query map lives in BENCH_DETAIL.json under
        # "queries"; this line carries only the top-20 tail, so the
        # key says so (a consumer parsing "queries" as the full map
        # would silently see a subset)
        "slowest": slowest,
        "isolated": {k: round(v, 2) for k, v in isolated.items()},
        "isolated_pending": pending,
        "isolated_skipped": payload.get("isolated_skipped", {}),
        "n_queries": len(timings),
        "n_errors": len(errors),
        "errors": errors[:10],
        "calibration": payload["calibration"],
        "detail_file": f"BENCH_DETAIL_c{_CPUS}.json",
        "sf": payload["sf"],
        "batch_size": payload["batch_size"],
        "n_batches": payload["n_batches"],
    }
    if "n_batches_done" in payload:
        line["batched_pending"] = bool(payload.get("batched_pending"))
        line["n_batches_done"] = payload["n_batches_done"]
    print(json.dumps(line), flush=True)


def _write_detail(payload: dict) -> None:
    # full per-query detail to a file: the harness capturing stdout
    # keeps only a tail of it, and 200+ query entries push a single
    # JSON line past that window (an artifact once recorded parsed:
    # null for exactly this reason). Written twice, like the summary
    # line: after the batched phase and again after isolation. FILTERED
    # (smoke) runs must not clobber the committed full map — it is
    # both the round artifact and the previous-round baseline the
    # mover adjudication reads. Written KEYED ON the core count so
    # runs at different core counts never clobber each other; the
    # plain BENCH_DETAIL.json is additionally
    # written for the main 32-core run only — it stays the
    # round-over-round mover-adjudication baseline.
    if os.environ.get("SPARK_GRAFT_BENCH_QUERIES"):
        return
    with open(
        os.path.join(REPO_ROOT, f"BENCH_DETAIL_c{_CPUS}.json"), "w"
    ) as f:
        json.dump(payload, f)
    if _CPUS == "32":
        with open(os.path.join(REPO_ROOT, "BENCH_DETAIL.json"), "w") as f:
            json.dump(payload, f)


def _emit_batch_partial(
    timings: dict[str, float], cal_pre: dict, done: int, n_chunks: int
) -> None:
    """One cumulative mid-batched-phase payload line. The final-batch
    emit (batched_pending=false, isolated_pending=true) is kept on purpose:
    the post-phase full emit only lands after the post calibration's
    fresh JVM, and a driver window can close inside that gap."""
    _print_summary(
        {
            "metric": "total_query_wall_seconds",
            "value": round(sum(t for t in timings.values() if t == t), 4),
            "value_normalized": None,
            "unit": "sec",
            "calibration": _merge_calibration(cal_pre, {}),
            "isolated_skipped": {},
            "sf": _sf_label(SF_DIR),
            "batch_size": BATCH,
            "n_batches": n_chunks,
            "batched_pending": done < n_chunks,
            "n_batches_done": done,
        },
        timings,
        {},
        pending=True,
    )


def main() -> None:
    import hashlib
    import math

    t_start = _now()
    names = _query_names()
    # box-speed yardstick (one fresh JVM BEFORE the batches and one
    # AFTER, so drift during the run is visible and the normalization
    # basis isn't a single point) — skipped on filtered (smoke) runs,
    # like the isolated phase
    cal_pre: dict = {}
    if not os.environ.get("SPARK_GRAFT_BENCH_QUERIES"):
        cal_pre = _calibrate("pre")
    # hash-bucket batch assignment (insertion-stable; see module
    # docstring) — names are already md5-sorted, so each bucket keeps
    # md5 order internally
    n_buckets = max(1, math.ceil(len(names) / BATCH))
    buckets: list[list[str]] = [[] for _ in range(n_buckets)]
    for n in names:
        h = int(hashlib.md5(n.encode()).hexdigest(), 16)
        buckets[h % n_buckets].append(n)
    # hashing makes bucket sizes Poisson around BATCH (observed 1-15
    # at 217 entries) — split any bucket past BATCH so the in-JVM
    # accumulation bound the batch size exists for still holds; the
    # split is positional WITHIN the one bucket, so an added entry
    # still perturbs only the bucket it hashes into.
    chunks = [
        b[i : i + BATCH]
        for b in buckets
        for i in range(0, len(b), BATCH)
        if b
    ]
    timings: dict[str, float] = {}
    streaming_split: dict[str, dict[str, float]] = {}
    for ci, chunk in enumerate(chunks):
        print(
            f"bench batch {ci + 1}/{len(chunks)} ({len(chunk)} queries, fresh JVM)",
            file=sys.stderr,
            flush=True,
        )
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--run-batch", ",".join(chunk)],
            capture_output=True,
            text=True,
        )
        sys.stderr.write(proc.stderr)
        try:
            payload = json.loads(proc.stdout.strip().splitlines()[-1])
            batch_timings = payload["queries"]
            streaming_split.update(payload.get("streaming_split", {}))
        except (IndexError, ValueError, KeyError):
            print(
                f"bench batch {ci + 1} produced no JSON (exit {proc.returncode})",
                file=sys.stderr,
                flush=True,
            )
            batch_timings = {n: float("nan") for n in chunk}
        timings.update(batch_timings)
        # incremental partial artifact after EVERY batch: on a slow
        # box the batched phase alone can outlast the driver's window
        # (measured ~1,560 s vs the ~900 s window an earlier artifact
        # died inside), and the first full emit below only
        # happens after the LAST batch — so a timeout mid-phase must
        # degrade to "partial map through batch k", never "parsed:
        # null". The driver parses the LAST stdout line; every later
        # emit supersedes these. Skipped on filtered (smoke) runs,
        # which have a single chunk anyway.
        if not os.environ.get("SPARK_GRAFT_BENCH_QUERIES"):
            _emit_batch_partial(timings, cal_pre, ci + 1, len(chunks))

    total = sum(t for t in timings.values() if t == t)

    # post-run calibration: placed after the batched phase (the bulk
    # of the wall clock) and before the isolated phase, so the merged
    # spread both brackets the batch timings and decides the isolated
    # min-of-2 below
    cal_post: dict = {}
    if not os.environ.get("SPARK_GRAFT_BENCH_QUERIES"):
        cal_post = _calibrate("post")
    calibration = _merge_calibration(cal_pre, cal_post)
    norm = calibration.get("normalization") or {}
    value_normalized = (
        round(total * norm["factor"], 4) if norm.get("factor") else None
    )

    # previous committed map, read BEFORE the early detail write
    # below overwrites it — it is the mover-adjudication baseline.
    # Prefer the same-core-count map (an 8-core run compared against
    # a 32-core baseline would flag half the registry as movers);
    # fall back to the plain 32-core baseline.
    prev = {}
    for fname in (f"BENCH_DETAIL_c{_CPUS}.json", "BENCH_DETAIL.json"):
        try:
            with open(os.path.join(REPO_ROOT, fname)) as f:
                prev = json.load(f).get("queries", {})
            break
        except (OSError, ValueError):
            continue

    payload = {
        "metric": "total_query_wall_seconds",
        "value": round(total, 4),
        "value_normalized": value_normalized,
        "unit": "sec",
        "queries": timings,
        "isolated": {},
        "isolated_runs": {},
        "isolated_skipped": {},
        "streaming_split": streaming_split,
        "calibration": calibration,
        "sf": _sf_label(SF_DIR),
        "batch_size": BATCH,
        "n_batches": len(chunks),
    }
    # EARLY artifact emit: the batched total, calibration, and full
    # per-query map are on stdout and disk
    # BEFORE any isolated JVM starts — a driver timeout during the
    # isolated phase loses only the isolated column, never the run.
    _write_detail(payload)
    _print_summary(payload, timings, {}, pending=True)

    # isolated re-run of the slowest 10 PLUS round-over-round movers:
    # one query per FRESH JVM, so every future verdict can split "the
    # plan is expensive" from "the batch placement inflated it"
    # without re-running. Skipped when the run is already filtered
    # (smoke invocations) or via SPARK_GRAFT_BENCH_ISOLATED=0;
    # wall-clock-budgeted so it can never again blow the driver's
    # window.
    isolated: dict[str, float] = {}
    isolated_runs: dict[str, list[float]] = {}
    isolated_skipped: dict[str, list[str]] = {}
    run_isolated = (
        os.environ.get("SPARK_GRAFT_BENCH_ISOLATED", "1") != "0"
        and not os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    )
    if run_isolated:
        slow_names = [
            k
            for k, v in sorted(
                timings.items(), key=lambda kv: -(kv[1] if kv[1] == kv[1] else -1)
            )
            if v == v
        ][:10]
        # adjudicate MOVERS automatically: any query whose
        # in-batch time moved >50% vs the previous committed map (and
        # is non-trivial, >1 s on either side) joins the isolated
        # re-run — so a verdict reading a delta always has the
        # placement-vs-plan separation in hand, not just for the
        # slowest 10. Capped at 8 extra JVMs per run.
        movers = sorted(
            (
                k
                for k, v in timings.items()
                if v == v
                and k in prev
                and prev[k] == prev[k]
                and max(v, prev[k]) > 1.0
                and (v > 1.5 * prev[k] or prev[k] > 1.5 * v)
                and k not in slow_names
            ),
            key=lambda k: -abs(timings[k] - prev[k]),
        )[:8]
        # watch rows go BEFORE the movers (and inside the rep-1
        # budget floor below): appended last, a depleting budget once
        # skipped exactly the watch row the column exists to
        # adjudicate
        watch = [
            n
            for n in WATCH_ISOLATED
            if n in timings and timings[n] == timings[n] and n not in slow_names
        ]
        slow_names += watch
        slow_names += [m for m in movers if m not in slow_names]
        # min-of-2 on a bimodal box: when the
        # merged WARM yardstick spread exceeds the threshold, one
        # isolated sample can land in either machine mode — two fresh
        # JVMs per query, record the min as the plan-cost reading,
        # keep both samples in the detail map for the audit trail.
        spread = calibration.get("spread") or 1.0
        iso_reps = 2 if spread > ISOLATED_MIN_OF_2_SPREAD else 1
        if iso_reps == 2:
            print(
                f"bench isolated: yardstick spread {spread}x > "
                f"{ISOLATED_MIN_OF_2_SPREAD}x -> min-of-2",
                file=sys.stderr,
                flush=True,
            )
        # PHASE-anchored budget: what is left of the whole-invocation
        # budget, but never less than the slowest-10 rep-1 floor — a
        # start-anchored budget was once consumed entirely by a slow
        # batched phase and both driver runs recorded isolated: {}.
        # The floor is the smallest
        # isolated column a verdict can adjudicate with; partial
        # emits below mean even a mid-phase timeout keeps samples.
        t_iso = _now()
        iso_budget = max(
            _budget_sec() - (t_iso - t_start),
            _iso_rep1_floor(slow_names, timings, n_floor=10 + len(watch)),
        )
        print(
            f"bench isolated: phase budget {iso_budget:.0f}s "
            f"({_now() - t_start:.0f}s elapsed since bench start)",
            file=sys.stderr,
            flush=True,
        )

        def _emit_iso_partial(mins: dict[str, float]) -> None:
            _print_summary(payload, timings, mins, pending=True)

        isolated, isolated_runs, isolated_skipped = _run_isolated_budgeted(
            slow_names, timings, iso_reps, t_iso, iso_budget,
            on_sample=_emit_iso_partial,
        )
        isolated_skipped = {
            k: v for k, v in isolated_skipped.items() if v
        }

    payload["isolated"] = isolated
    payload["isolated_runs"] = {
        k: v for k, v in isolated_runs.items() if len(v) > 1
    }
    payload["isolated_skipped"] = isolated_skipped
    _write_detail(payload)
    _print_summary(payload, timings, isolated, pending=False)


if __name__ == "__main__":
    if len(sys.argv) >= 3 and sys.argv[1] == "--run-batch":
        run_batch([n for n in sys.argv[2].split(",") if n])
    elif len(sys.argv) >= 2 and sys.argv[1] == "--calibrate":
        run_calibration()
    else:
        main()
