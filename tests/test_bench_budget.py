"""Contract of bench.py's r16 timeout-proofing (VERDICT r15 items
1/4): the driver-facing payload line is emitted BEFORE the isolated
phase starts (a timeout degrades to 'no isolated column', never
'parsed: null' — BENCH_r15 was exactly that), and the isolated phase
runs under a wall-clock budget that prefers COVERAGE (one sample of
every name) over PRECISION (min-of-2 of half of them), logging and
recording every skip. No Spark, no real subprocesses: the child
invocations and the clock are faked."""

from __future__ import annotations

import json

import pytest

import bench


class FakeChildren:
    """Stands in for subprocess.run: answers --calibrate and
    --run-batch children from canned data, advances the fake clock
    per call, and logs call kinds in order."""

    def __init__(self, clock, timings, groupby_samples):
        self.clock = clock
        self.timings = timings
        self.groupby_samples = groupby_samples
        self.calls: list[tuple[str, str]] = []
        self.costs = {"cal": 10.0, "batch": 30.0, "iso": 20.0}

    def __call__(self, argv, capture_output=True, text=True):
        class R:
            returncode = 0
            stderr = ""

        r = R()
        if "--calibrate" in argv:
            self.calls.append(("cal", ""))
            self.clock[0] += self.costs["cal"]
            r.stdout = json.dumps(
                {
                    "calibration": {
                        "jvm_startup_sec": 10.0,
                        "spark_groupby_20m_sec": {
                            "min": min(self.groupby_samples),
                            "max": max(self.groupby_samples),
                        },
                        "numpy_matmul_1500_sec": {"min": 0.02, "max": 0.02},
                        "spark_groupby_samples": self.groupby_samples,
                        "numpy_matmul_samples": [0.02, 0.02, 0.02],
                    }
                }
            )
            return r
        names = argv[argv.index("--run-batch") + 1].split(",")
        kind = "iso" if len(names) == 1 and ("batch", "") in [
            (k, "") for k, _ in self.calls if k == "batch"
        ] else "batch"
        # a one-name hash bucket in the batched phase is still
        # "batch": isolated calls only happen after ALL batch calls,
        # which the tests arrange by using < BATCH names (one chunk)
        self.calls.append((kind, names[0]))
        self.clock[0] += self.costs[kind]
        r.stdout = json.dumps(
            {"queries": {n: self.timings[n] for n in names}}
        )
        return r


@pytest.fixture()
def bench_env(monkeypatch, tmp_path):
    names = ["q_slow", "q_mid", "q_low", "q_tiny"]
    timings = {"q_slow": 4.0, "q_mid": 3.0, "q_low": 2.5, "q_tiny": 2.0}
    clock = [0.0]
    monkeypatch.setattr(bench, "REPO_ROOT", str(tmp_path))
    monkeypatch.setattr(bench, "_query_names", lambda: list(names))
    monkeypatch.setattr(bench, "_now", lambda: clock[0])
    # pin the detail-file core-count label (r17: per-cpus detail
    # files) so the asserts below can read the plain 32-core name
    # regardless of the test runner's $SPARK_GRAFT_CPUS
    monkeypatch.setattr(bench, "_CPUS", "32")
    monkeypatch.delenv("SPARK_GRAFT_BENCH_QUERIES", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_BENCH_ISOLATED", raising=False)
    return names, timings, clock, monkeypatch, tmp_path


def _summaries(out: str) -> list[dict]:
    lines = []
    for ln in out.splitlines():
        try:
            d = json.loads(ln)
        except ValueError:
            continue
        if isinstance(d, dict) and d.get("metric"):
            lines.append(d)
    return lines


def test_payload_emitted_before_isolation_starts(bench_env, capsys):
    names, timings, clock, monkeypatch, tmp_path = bench_env
    fake = FakeChildren(clock, timings, [5.0, 0.6, 0.65])  # warm quiet
    monkeypatch.setattr(bench.subprocess, "run", fake)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_BUDGET_SEC", "100000")

    seen_before_iso = []
    orig_call = fake.__call__

    def spying(argv, **kw):
        if "--run-batch" in argv and len(
            argv[argv.index("--run-batch") + 1].split(",")
        ) == 1 and any(k == "batch" for k, _ in fake.calls):
            if not seen_before_iso:
                seen_before_iso.append(capsys.readouterr().out)
        return orig_call(argv, **kw)

    monkeypatch.setattr(bench.subprocess, "run", spying)
    bench.main()
    assert seen_before_iso, "no isolated child ran"
    early = _summaries(seen_before_iso[0])
    assert early, "no payload line on stdout before the first isolated JVM"
    assert early[-1]["isolated_pending"] is True
    assert early[-1]["value"] == pytest.approx(sum(timings.values()))
    # the full map too: BENCH_DETAIL.json existed before isolation
    final = _summaries(capsys.readouterr().out)[-1]
    assert final["isolated_pending"] is False
    assert set(final["isolated"]) == set(names)
    detail = json.loads((tmp_path / "BENCH_DETAIL.json").read_text())
    assert set(detail["queries"]) == set(names)
    assert detail["isolated_skipped"] == {}


def test_partial_payload_emitted_after_every_batch(bench_env, capsys):
    """r16: the batched phase emits a cumulative payload line after
    EVERY fresh-JVM batch — on a slow box the batched phase alone can
    outlast the driver's window (measured ~1,560 s this session), and
    the r15 fix's first emit only landed after the LAST batch. A
    timeout mid-phase must degrade to 'partial map through batch k',
    never 'parsed: null'. Partial lines carry batched_pending +
    n_batches_done; every later line supersedes them."""
    names, timings, clock, monkeypatch, tmp_path = bench_env
    fake = FakeChildren(clock, timings, [5.0, 0.6, 0.65])
    monkeypatch.setattr(bench.subprocess, "run", fake)
    monkeypatch.setattr(bench, "BATCH", 2)  # force >= 2 chunks
    monkeypatch.setenv("SPARK_GRAFT_BENCH_ISOLATED", "0")
    bench.main()
    lines = _summaries(capsys.readouterr().out)
    partials = [d for d in lines if "n_batches_done" in d]
    assert len(partials) >= 2, "expected one partial line per batch"
    # cumulative: n_batches_done strictly increases, value never drops
    done = [d["n_batches_done"] for d in partials]
    assert done == sorted(set(done))
    values = [d["value"] for d in partials]
    assert values == sorted(values)
    # all but the last batch are marked mid-phase
    assert all(d["batched_pending"] for d in partials[:-1])
    assert partials[-1]["batched_pending"] is False
    assert partials[-1]["value"] == pytest.approx(sum(timings.values()))
    # the definitive line still comes last and is complete
    final = lines[-1]
    assert "batched_pending" not in final
    assert final["isolated_pending"] is False
    assert final["value"] == pytest.approx(sum(timings.values()))


def test_budget_degrades_min_of_2_before_dropping_names(bench_env, capsys):
    """Loud warm yardstick → min-of-2; budget fits one rep of all 4
    names but only two second reps — the rep-2 TAIL is skipped, never
    a name's first sample, and the skips land in the artifact."""
    names, timings, clock, monkeypatch, tmp_path = bench_env
    fake = FakeChildren(clock, timings, [9.0, 5.0, 0.5])  # warm spread 10x
    monkeypatch.setattr(bench.subprocess, "run", fake)
    # elapsed at iso start = 2 cal + 1 batch = 50, so the r17
    # phase-anchored budget is max(175-50, floor≈124.5) = 125; each iso
    # child costs 20 on the clock, est = 15 + 2·batched-time ≈ 19-23
    monkeypatch.setenv("SPARK_GRAFT_BENCH_BUDGET_SEC", "175")
    bench.main()
    final = _summaries(capsys.readouterr().out)[-1]
    iso_calls = [n for k, n in fake.calls if k == "iso"]
    assert iso_calls[:4] == ["q_slow", "q_mid", "q_low", "q_tiny"]
    assert set(final["isolated"]) == set(names)  # coverage held
    skipped = final["isolated_skipped"]
    assert "rep1" not in skipped
    assert skipped["rep2"] == ["q_low", "q_tiny"]
    detail = json.loads((tmp_path / "BENCH_DETAIL.json").read_text())
    # min-of-2 audit trail only for names that really got 2 samples
    assert set(detail["isolated_runs"]) == {"q_slow", "q_mid"}


def test_budget_skipping_rep1_cancels_rep2_entirely(bench_env, capsys):
    """If the budget cuts any FIRST sample, the second-rep pass is
    dropped wholesale (two samples of half the names is worth less
    than one sample of all) — and the dropped tail is the LEAST-slow
    names, because the slowest run first. The r17 floor guarantees
    the slowest-10 rep-1 fits AT ESTIMATE (1.5× margin); here each
    isolated child overruns its ~19-23s estimate ~3×, so the floor
    (~124.5s) still cuts rep 1 after two names — the degradation path
    survives real overruns."""
    names, timings, clock, monkeypatch, tmp_path = bench_env
    fake = FakeChildren(clock, timings, [9.0, 5.0, 0.5])
    fake.costs["iso"] = 60.0
    monkeypatch.setattr(bench.subprocess, "run", fake)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_BUDGET_SEC", "100")
    bench.main()
    final = _summaries(capsys.readouterr().out)[-1]
    assert set(final["isolated"]) == {"q_slow", "q_mid"}
    assert final["isolated_skipped"]["rep1"] == ["q_low", "q_tiny"]
    assert final["isolated_skipped"]["rep2"] == ["q_slow", "q_mid"]
    # the artifact parsed end-to-end despite the constrained budget
    assert final["value"] == pytest.approx(sum(timings.values()))
    assert final["n_errors"] == 0


def test_floor_restores_coverage_when_batched_phase_ate_the_budget(
    bench_env, capsys
):
    """The r16 failure mode (VERDICT r16 item 2): the batched phase
    alone outlasted the whole start-anchored budget and BOTH driver
    runs recorded isolated: {}. The r17 phase-anchored budget is
    floored at the slowest-10 rep-1 estimate, so even a budget
    already depleted at iso start yields one sample of every name —
    and every sample lands on stdout incrementally, so a timeout
    mid-phase keeps the samples taken so far."""
    names, timings, clock, monkeypatch, tmp_path = bench_env
    fake = FakeChildren(clock, timings, [9.0, 5.0, 0.5])
    monkeypatch.setattr(bench.subprocess, "run", fake)
    # elapsed at iso start = 50 > budget: pre-r17 this skipped all
    monkeypatch.setenv("SPARK_GRAFT_BENCH_BUDGET_SEC", "40")
    bench.main()
    lines = _summaries(capsys.readouterr().out)
    final = lines[-1]
    assert set(final["isolated"]) == set(names)  # rep-1 coverage held
    assert "rep1" not in final["isolated_skipped"]
    # per-sample partial emits: isolated map grows monotonically
    iso_partials = [
        len(d["isolated"]) for d in lines if d.get("isolated_pending")
    ]
    assert max(iso_partials) == len(names)
    assert iso_partials == sorted(iso_partials)


def test_detail_file_keyed_on_cpus(bench_env, capsys):
    """VERDICT r16 item 3: an 8-core run must not clobber the 32-core
    mover baseline — it writes BENCH_DETAIL_c8.json only."""
    names, timings, clock, monkeypatch, tmp_path = bench_env
    fake = FakeChildren(clock, timings, [5.0, 0.6, 0.65])
    monkeypatch.setattr(bench.subprocess, "run", fake)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_BUDGET_SEC", "100000")
    monkeypatch.setattr(bench, "_CPUS", "8")
    (tmp_path / "BENCH_DETAIL.json").write_text(
        json.dumps({"queries": {"q_slow": 1.0}})
    )
    bench.main()
    final = _summaries(capsys.readouterr().out)[-1]
    assert final["detail_file"] == "BENCH_DETAIL_c8.json"
    c8 = json.loads((tmp_path / "BENCH_DETAIL_c8.json").read_text())
    assert set(c8["queries"]) == set(names)
    # the 32-core baseline is untouched
    plain = json.loads((tmp_path / "BENCH_DETAIL.json").read_text())
    assert plain == {"queries": {"q_slow": 1.0}}
