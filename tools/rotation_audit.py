"""Rotation-window audit: the staleness/SLA arithmetic behind the
registry's derived check order (``registry.rotation_order``, fed by
``registry.load_latest_rounds`` and ``registry.SLA_ROUNDS``), as a
committed check.

Reads CORRECTNESS_r*.json + the registry and reports:

1. the staleness histogram (latest driver round per entry);
2. entries never driver-checked (must lead the next window);
3. SLA state: with ``--next-round N``, which entries would BREACH the
   SLA if NOT in round N's window (i.e. latest < N - SLA_ROUNDS);
4. window audit: whether the registry's front-50 (the driver's
   observed check cap) covers every would-breach entry and every
   entry of the oldest due tier, plus the window's tier composition.

Usage:
    python tools/rotation_audit.py [--next-round N] [--window 50]

With no --next-round, N defaults to (max seen round) + 1 — auditing
the window the CURRENT registry order would present to the next
driver run. Exit 1 if a would-breach or never-checked entry is
missing from the window; 0 otherwise. Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from lake_satellite_image_etl_spark.registry import (  # noqa: E402
    SLA_ROUNDS,
    load_all,
    load_latest_rounds,
)


def audit(
    names: list[str],
    n_oracled: int,
    latest: dict[str, int],
    next_round: int | None = None,
    window_size: int = 50,
) -> dict:
    """The report for ``names`` in check order, given each entry's
    latest driver round."""
    max_round = max(latest.values(), default=0)
    # `is not None`, not `or`: an explicit next round 0 must audit
    # round 0, not silently fall back to max_round + 1
    if next_round is None:
        next_round = max_round + 1

    hist: dict[int, int] = {}
    for n in names:
        hist[latest.get(n, 0)] = hist.get(latest.get(n, 0), 0) + 1

    never = sorted(n for n in names if n not in latest)
    # an entry last green at round r is (next_round - r) rounds stale
    # when round next_round runs; it breaches if that exceeds SLA
    would_breach = sorted(
        n
        for n in names
        if n in latest and next_round - latest[n] > SLA_ROUNDS
    )
    oldest_round = min((latest[n] for n in names if n in latest), default=0)
    oldest_tier = sorted(
        n for n in names if latest.get(n) == oldest_round
    )

    window = names[:window_size]
    wset = set(window)
    breach_missing = [n for n in would_breach if n not in wset]
    never_missing = [n for n in never if n not in wset]
    oldest_missing = [n for n in oldest_tier if n not in wset]
    comp: dict[str, int] = {}
    for n in window:
        tier = f"r{latest[n]}" if n in latest else "never"
        comp[tier] = comp.get(tier, 0) + 1

    return {
        "registered": len(names),
        "oracled": n_oracled,
        "max_seen_round": max_round,
        "audited_next_round": next_round,
        "staleness_histogram": {
            f"r{k}" if k else "never": v for k, v in sorted(hist.items())
        },
        "never_checked": never,
        "would_breach_if_skipped": would_breach,
        "window_size": len(window),
        "window_tier_composition": dict(
            sorted(comp.items(), key=lambda kv: kv[0])
        ),
        "sla_breach_entries_missing_from_window": breach_missing,
        "never_checked_missing_from_window": never_missing,
        # informational, not gating: the oldest tier is usually DUE
        # next-next round, so partial coverage is a planning choice
        "oldest_tier": f"r{oldest_round}",
        "oldest_tier_missing_from_window": oldest_missing,
        "ok": not breach_missing and not never_missing,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--next-round", type=int, default=None)
    ap.add_argument("--window", type=int, default=50)
    args = ap.parse_args()

    queries, oracles = load_all()
    report = audit(
        list(queries),
        len(oracles),
        load_latest_rounds(),
        args.next_round,
        args.window,
    )
    print(json.dumps(report))
    return 0 if report["ok"] else 1


if __name__ == "__main__":
    sys.exit(main())
