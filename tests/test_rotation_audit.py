"""The rotation audit (tools/rotation_audit.py) must agree with the
repo's own artifacts: every registered entry oracled, the registry
front-window covering every would-breach / never-checked entry, and
the staleness arithmetic consistent. Driver-side only (no Spark
session; load_all only imports modules)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_rotation_audit_green_on_this_repo():
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO_ROOT, "tools", "rotation_audit.py")],
        capture_output=True,
        text=True,
        cwd=REPO_ROOT,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["ok"] is True
    assert report["registered"] == report["oracled"]
    assert report["sla_breach_entries_missing_from_window"] == []
    assert report["never_checked_missing_from_window"] == []
    # histogram totals must cover the whole registry
    assert sum(report["staleness_histogram"].values()) == report["registered"]
    # the audited round is the next one after the newest artifact
    assert report["audited_next_round"] == report["max_seen_round"] + 1


def test_load_latest_rounds_matches_artifacts():
    sys.path.insert(0, os.path.join(REPO_ROOT, "tools"))
    from rotation_audit import load_latest_rounds

    latest = load_latest_rounds()
    assert latest, "no CORRECTNESS artifacts found"
    # spot-check: an entry present in CORRECTNESS_r14 maps to >= 14
    with open(os.path.join(REPO_ROOT, "CORRECTNESS_r14.json")) as f:
        r14 = json.load(f)
    for k in list(r14)[:5]:
        assert latest[k] >= 14


# -- the derived check order (registry.rotation_order) -------------------

R12_HEADS = (
    "scalar_event_composite",
    "scalar_part_composite",
    "scalar_epoch_roundtrip",
    "filter_spatial_bbox",
)


def test_rotation_order_groups_and_tie_break():
    from lake_satellite_image_etl_spark.registry import rotation_order

    # newest round 17, so the next is 18 and the SLA edge is round 12
    names = ["fresh", "edge_b", "recheck_new", "never", "old", "edge_a",
             "recheck_old", "old_twin", "newest", "recheck_done"]
    latest = {"fresh": 16, "edge_b": 12, "recheck_new": 17, "old": 13,
              "edge_a": 11, "recheck_old": 15, "old_twin": 13,
              "newest": 17, "recheck_done": 17}
    recheck = {"recheck_old": 17, "recheck_new": 17, "recheck_done": 16}
    order = rotation_order(names, latest, recheck)
    assert order == [
        "never",                         # never checked
        "edge_a", "edge_b",              # at the SLA edge, stalest first
        "recheck_old", "recheck_new",    # recheck, stalest first
        "old", "old_twin",               # rest: tie kept in registration order
        "fresh", "newest",
        "recheck_done",                  # checked past its round: expired
    ]


def test_rotation_order_ties_keep_registration_order():
    from lake_satellite_image_etl_spark.registry import rotation_order

    names = ["c", "a", "d", "b"]
    latest = dict.fromkeys(names, 9)
    assert rotation_order(names, latest, {}) == names
    assert rotation_order(names[::-1], latest, {}) == names[::-1]


def test_rotation_order_without_rounds_is_registration_order():
    from lake_satellite_image_etl_spark.registry import (
        RECHECK,
        rotation_order,
    )

    names = ["z", "y", *RECHECK, "x"]
    assert rotation_order(names, {}, RECHECK) == names


def test_recheck_names_are_registered():
    from lake_satellite_image_etl_spark.registry import RECHECK, load_all

    queries, _ = load_all()
    assert set(RECHECK) <= set(queries)


def test_window_front_on_this_repo():
    """The front of the window is the SLA-edge tier, then the unexpired
    RECHECK names, then the stalest rows in registration order; with
    round 17 the newest file, that is the four r12 rows, the 12 rechecks
    and 34 r13 rows."""
    from lake_satellite_image_etl_spark import registry

    queries, oracles = registry.load_all()
    names = list(queries)
    assert list(oracles) == [n for n in names if n in oracles]
    latest = registry.load_latest_rounds()
    registered = list(registry.QUERIES)
    edge = max(latest.values()) + 1 - registry.SLA_ROUNDS
    heads = [n for n in registered if latest[n] <= edge]
    window = names[:50]
    assert window[: len(heads)] == heads
    recheck = {n for n, r in registry.RECHECK.items() if latest[n] <= r}
    k = len(heads) + len(recheck)
    assert set(window[len(heads):k]) == recheck
    rest = window[k:]
    assert rest == sorted(rest, key=lambda n: (latest[n], registered.index(n)))
    if max(latest.values()) == 17:
        assert heads == list(R12_HEADS)
        tiers = [latest[n] for n in window]
        assert {t: tiers.count(t) for t in set(tiers)} == {
            12: 4, 13: 35, 16: 9, 17: 2
        }


def test_fake_next_round_still_audits_ok(tmp_path):
    """Once the next round file lands, the window rotates on its own:
    the rows it checked fall behind, the RECHECK names it listed expire
    and the audit stays green."""
    sys.path.insert(0, os.path.join(REPO_ROOT, "tools"))
    from rotation_audit import audit

    from lake_satellite_image_etl_spark import registry

    queries, oracles = registry.load_all()
    for f in os.listdir(REPO_ROOT):
        if f.startswith("CORRECTNESS_r") and f.endswith(".json"):
            shutil.copy(os.path.join(REPO_ROOT, f), tmp_path)
    latest = registry.load_latest_rounds(str(tmp_path))
    nxt = max(latest.values()) + 1
    checked = list(queries)[:50]
    recheck = {n for n, r in registry.RECHECK.items() if latest[n] <= r}
    assert recheck <= set(checked)
    row = {"rows_match": True, "schema_match": True, "hash_match": True}
    with open(tmp_path / f"CORRECTNESS_r{nxt}.json", "w") as fh:
        json.dump(dict.fromkeys(checked, row), fh)

    latest = registry.load_latest_rounds(str(tmp_path))
    assert all(latest[n] == nxt for n in checked)
    names = registry.rotation_order(list(registry.QUERIES), latest,
                                    registry.RECHECK)
    report = audit(names, len(oracles), latest)
    assert report["audited_next_round"] == nxt + 1
    assert report["ok"] is True, report
    assert report["oldest_tier_missing_from_window"] == []
    # the oldest rows left unchecked now lead the window
    oldest = [n for n in names if latest[n] == min(latest.values())]
    assert names[: len(oldest)] == oldest
    assert recheck.isdisjoint(names[:50])
