"""Driver-evidence ledger: the judge's evidence replay, mechanized.

For every registered query, computes the freshest VALID driver
evidence round with the registry's own rule (`registry._current_rows`,
the rule `registry._sweep_order` ranks by): a CORRECTNESS_r*.json row
counts only if it is a hash_match=true row (oracled) or a clean
rows-only row (oracle-less), recorded at or after the query's
staleness bar. The bar is derived, not kept by hand: the later of the
`stale_since` that tools/snapshot_oracles.py writes into
oracle_snapshot.json and the environment epoch of every table the
query reads. Prints:

  - the freshest-evidence histogram (the "evidence latency" the r9
    verdict graded — 62 queries sat at round 3/4 going into r10),
  - queries with NO valid evidence (these must sit inside the next
    50-query sweep window or they starve),
  - the projected next sweep window (first 50 of `_sweep_order`),
  - the window-math pre-check and the steady-state staleness bound.

Usage:  python tools/evidence_report.py [--window-only]
"""

from __future__ import annotations

import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_knlp_spark import registry  # noqa: E402


def freshest_valid(name: str, evidence, bars) -> int | None:
    return max(
        (r for r, ok in registry._current_rows(name, evidence, bars) if ok),
        default=None,
    )


def project_window(order, fresh, budget=50):
    """Window-math pre-check (r13 verdict #5): compute this round's
    MANDATORY demand — queries with no valid evidence (they front the
    window by construction) and the stalest evidence tier (every query
    as old as the oldest evidenced one, which the rotation owes a
    re-sweep this round) — against the
    driver's 50-slot budget, BEFORE the round commits to conversions.
    r13 learned this by hand arithmetic after the fact: 7 audit-
    invalidated codec pins + the 44-query r6/r7 tier = 51 > 50, and
    `stream_session_window`'s evidence age silently crossed the
    6-round rotation bound. Returns the named list of demand queries
    that would wait, so the tradeoff is explicit up front.

    `order` must be the registry's `_sweep_order()` (unevidenced
    queries already ranked ahead); `fresh` maps every
    query to its freshest valid evidence round or None.

    The owed tier is computed against the POST-SWEEP ledger bound:
    after the next round R lands its window, an unswept query with
    evidence e has age R - e, and the rotation bound says that age
    must stay ≤ cycle (= ceil(N/budget), 6 here). So everything with
    e ≤ R - cycle - 1 MUST be in this window — exactly the arithmetic
    that made r13's 7 pins + 44-query r6-tier = 51 demand overrun the
    50 budget and leave stream_session_window at age 7."""
    pos = {n: i for i, n in enumerate(order)}
    cycle = -(-len(order) // budget)
    next_round = max((r for r in fresh.values() if r is not None), default=0) + 1
    cutoff = next_round - cycle - 1
    unevidenced = [n for n in order if fresh[n] is None]
    overdue = [n for n in order if fresh[n] is not None and fresh[n] <= cutoff]
    demand = sorted(set(unevidenced) | set(overdue), key=lambda n: pos[n])
    # r14 ADVICE: derive waiters FROM demand so the two readings can
    # never disagree — `demand[budget:]` is the queries that miss the
    # window by the same arithmetic that computes `overrun`. (The old
    # `pos[n] >= budget` sweep-order test agreed only while mandatory
    # demand was a strict prefix of _sweep_order; a tier-scheme change
    # could have let the overrun==0 assert pass while named waiters
    # existed, or vice versa.)
    waiters = demand[budget:]
    return {
        "budget": budget,
        "cycle": cycle,
        "next_round": next_round,
        "cutoff": cutoff,
        "unevidenced": unevidenced,
        "overdue": overdue,
        "demand": demand,
        "overrun": max(0, len(demand) - budget),
        "waiters": waiters,
    }


def main() -> int:
    registry._load_all()
    evidence = registry._evidence_rounds()
    bars = registry._staleness_bars()
    order = registry._sweep_order()
    fresh = {n: freshest_valid(n, evidence, bars) for n in order}

    if "--window-only" not in sys.argv:
        hist = Counter("none" if r is None else f"r{r}" for r in fresh.values())
        print(f"{len(order)} registered queries; freshest-evidence histogram:")
        for k in sorted(hist, key=lambda x: (x == "none", x)):
            print(f"  {k}: {hist[k]}")
        unevidenced = [n for n in order if fresh[n] is None]
        if unevidenced:
            print(f"\n{len(unevidenced)} queries with NO valid evidence:")
            for n in unevidenced:
                pos = order.index(n)
                tag = "inside" if pos < 50 else "OUTSIDE — WILL STARVE"
                print(f"  {n} (sweep position {pos}: {tag})")

    print("\nprojected next sweep window (first 50 of _sweep_order):")
    for i, n in enumerate(order[:50]):
        print(f"  {i:2d} {n} "
              f"[{'none' if fresh[n] is None else 'r%d' % fresh[n]}]")

    # Window-math pre-check (r13 verdict #5): mandatory demand vs the
    # 50-slot budget, with the queries that would wait named BEFORE
    # the round commits to evidence-invalidating conversions.
    pw = project_window(order, fresh)
    print(
        f"\nwindow-math pre-check (next round r{pw['next_round']}): "
        f"{len(pw['unevidenced'])} unevidenced + {len(pw['overdue'])} "
        f"overdue (evidence <= r{pw['cutoff']}) = {len(pw['demand'])} "
        f"mandatory vs budget {pw['budget']} -> overrun {pw['overrun']}"
    )
    if pw["waiters"]:
        print("  WOULD WAIT (evidence ages one more round):")
        for n in pw["waiters"]:
            print(f"    {n} [{'none' if fresh[n] is None else 'r%d' % fresh[n]}]")

    # Steady-state staleness bound (r10 verdict #3): simulate the pure
    # stalest-first rotation forward (each round lands all 50 window
    # rows) and report the worst evidence age once one full cycle is
    # in. With 300 queries and 50 slots the cycle is ceil(300/50) = 6,
    # so max staleness <= 6 rounds by construction — the registration
    # freeze is what keeps this bound tight.
    budget = 50
    cycle = -(-len(order) // budget)
    reg_pos = {n: i for i, n in enumerate(registry._REGISTRY)}
    sim = {n: (r if r is not None else -1) for n, r in fresh.items()}
    rnd = max((r for r in fresh.values() if r is not None), default=0)
    worst = 0
    for step in range(2 * cycle):
        rnd += 1
        for n in sorted(sim, key=lambda n: (sim[n], reg_pos[n]))[:budget]:
            sim[n] = rnd
        if step >= cycle - 1:
            worst = max(worst, rnd - min(sim.values()))
    print(
        f"\nsteady-state rotation: {len(order)} queries / {budget} slots "
        f"= {cycle}-round full-refresh cycle; simulated max staleness "
        f"over {2 * cycle} future rounds: {worst} rounds "
        f"({'within' if worst <= cycle else 'EXCEEDS'} the {cycle}-round "
        "bound)"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
