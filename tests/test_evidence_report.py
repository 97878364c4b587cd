"""Window-math pre-check (r13 verdict #5): the overrun that left
`stream_session_window` one round past the staleness bound in r13 was
discovered by hand arithmetic after the fact — these tests pin the
mechanized version so a round sees the named waiters BEFORE it commits
to evidence-invalidating conversions."""

from __future__ import annotations

import importlib.util
import os


def _tool():
    spec = importlib.util.spec_from_file_location(
        "evidence_report",
        os.path.join(os.path.dirname(__file__), "..", "tools", "evidence_report.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _scenario(n_queries, unevidenced, tier_rounds, fresh_round):
    """Build (order, fresh): `unevidenced` queries first (fresh=None),
    then the stale tiers, then everything else at `fresh_round` — the
    same shape _sweep_order produces (unevidenced queries front the
    list)."""
    order, fresh = [], {}
    i = 0
    for _ in range(unevidenced):
        name = f"none_{i}"
        order.append(name); fresh[name] = None; i += 1
    for rnd, count in tier_rounds:
        for _ in range(count):
            name = f"q{i}_r{rnd}"
            order.append(name); fresh[name] = rnd; i += 1
    while i < n_queries:
        name = f"q{i}_fresh"
        order.append(name); fresh[name] = fresh_round; i += 1
    return order, fresh


def test_r13_scenario_reports_the_one_query_overrun():
    """The exact r13 arithmetic: 7 audit-invalidated codec queries
    (no valid evidence left) + the 44-query owed tier (the r6 query +
    43 r7 queries, all of which breach the 6-round post-sweep bound if
    unswept at r13) = 51 mandatory vs 50 — the tool must report
    overrun 1 and NAME the query that waits (the last owed query in
    sweep order: r13's stream_session_window analogue)."""
    tool = _tool()
    # 300 queries, cycle 6, next round 13: owed cutoff = 13 - 6 - 1 = 6
    # → tiers at r5/r6 are owed; a 44-query owed tier needs evidence
    # ≤ r6. Model it as 1 query at r5 + 43 at r6, rest fresh at r12.
    order, fresh = _scenario(
        300, unevidenced=7,
        tier_rounds=[(5, 1), (6, 43), (7, 40)], fresh_round=12,
    )
    pw = tool.project_window(order, fresh)
    assert pw["next_round"] == 13 and pw["cycle"] == 6 and pw["cutoff"] == 6
    assert len(pw["unevidenced"]) == 7
    assert len(pw["overdue"]) == 44          # r5 + r6 tiers, not the r7s
    assert len(pw["demand"]) == 51
    assert pw["overrun"] == 1
    # the waiter is the overdue query that fell past slot 50 — named
    assert pw["waiters"] == [order[7 + 43]]  # last of the owed tier
    assert fresh[pw["waiters"][0]] == 6


def test_no_overrun_when_demand_fits():
    """Steady state: a 42-query owed tier + a handful of unevidenced
    queries fits in 50 with room to spare — no waiters, overrun 0."""
    tool = _tool()
    order, fresh = _scenario(
        300, unevidenced=5,
        tier_rounds=[(6, 1), (7, 41), (8, 37)], fresh_round=13,
    )
    pw = tool.project_window(order, fresh)
    assert pw["next_round"] == 14 and pw["cutoff"] == 7
    assert len(pw["overdue"]) == 42
    assert len(pw["demand"]) == 47
    assert pw["overrun"] == 0 and pw["waiters"] == []


def test_waiters_cohere_with_overrun_under_non_prefix_demand():
    """r14 ADVICE: waiters must be derived from demand, not from raw
    sweep-order position, so the two readings agree even when
    mandatory demand is NOT a strict prefix of the sweep order. Model
    a tier-scheme change: a single unevidenced query that sits at sweep
    position 80 (past the budget) while total demand is far under it.
    The old `pos >= budget` rule would have named that query a waiter
    alongside overrun == 0; the derived form keeps the invariant
    len(waiters) == overrun in every scheme."""
    tool = _tool()
    order, fresh = _scenario(
        100, unevidenced=0, tier_rounds=[(6, 10)], fresh_round=12,
    )
    # unevidence a FRESH query deep in the order — demand = 10 overdue + 1
    fresh[order[80]] = None
    pw = tool.project_window(order, fresh, budget=50)
    assert len(pw["demand"]) == 11
    assert pw["overrun"] == 0
    assert pw["waiters"] == []          # old rule: would name order[80]
    assert len(pw["waiters"]) == pw["overrun"]
    # and when demand genuinely overruns, the named waiters are the
    # LAST demand entries in sweep order — exactly the overrun count
    order2, fresh2 = _scenario(
        100, unevidenced=0, tier_rounds=[(6, 60)], fresh_round=12,
    )
    pw2 = tool.project_window(order2, fresh2, budget=50)
    assert pw2["overrun"] == 10
    assert pw2["waiters"] == pw2["demand"][50:]
    assert len(pw2["waiters"]) == pw2["overrun"]


# Overruns accepted in review, keyed by the window they apply to, so
# each one lapses once that round's CORRECTNESS rows land.
#
# r17: moving the whitespace tokenizer behind functions/words.py
# changed the source of 35 query bodies, and tools/snapshot_oracles.py
# moved their staleness bars to r17: 44 unevidenced + 29 overdue = 73
# mandatory queries against 50 slots. The optimized plans of all 300
# queries did not change, so those 35 queries have valid rows in
# substance; the snapshot cannot say so until it has a plan-neutral
# gate (ROADMAP item 7), and splitting the refactor across rounds
# would leave the tokenizer with two owners in between. The 23 waiters
# below all hold r10 evidence and none runs the tokenizer; each ages
# one round past the six-round bound (age 7 at r17).
_ACCEPTED_WAITERS = {
    17: frozenset({
        "spearman_corr", "kendall_tau", "html_strip", "text_normalize",
        "url_domain_counts", "shuffle_shard", "map_ops", "agg_skew_salted",
        "layout_bucketed_join", "layout_zorder", "time_travel_read",
        "compact_small_files", "q18_large_orders", "q4_priority_check",
        "q12_late_priority", "q13_order_distribution",
        "q21_waiting_suppliers", "cdc_merge", "stream_static_enrich",
        "stream_stateful_totals", "stream_dedup_watermark",
        "stream_topk_trending", "rollup_hierarchical_time",
    }),
}


def test_live_registry_precheck_runs_clean():
    """The pre-check runs against the real registry and its current
    evidence without raising; the current demand must never silently
    exceed the budget (if this fails, the round's first job is to
    re-plan the window, not to ship more conversions). The only
    waiters allowed are those `_ACCEPTED_WAITERS` names for the next
    round."""
    from etl_knlp_spark import registry

    tool = _tool()
    registry._load_all()
    evidence = registry._evidence_rounds()
    bars = registry._staleness_bars()
    order = registry._sweep_order()
    fresh = {n: tool.freshest_valid(n, evidence, bars) for n in order}
    pw = tool.project_window(order, fresh)
    accepted = _ACCEPTED_WAITERS.get(pw["next_round"], frozenset())
    unaccepted = [n for n in pw["waiters"] if n not in accepted]
    assert not unaccepted, (
        f"the next driver window cannot cover the mandatory demand: "
        f"{unaccepted} would age past the rotation bound — re-plan "
        "before adding conversions. If the overrun is a DELIBERATE "
        "tradeoff (r13 accepted one to convert two live hazards), "
        "relax this assert in the same commit with the named waiter "
        "and the reason — the point is that an overrun is decided in "
        "review, never discovered by hand arithmetic afterwards"
    )
