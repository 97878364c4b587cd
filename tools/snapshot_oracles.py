"""Regenerate etl_knlp_spark/oracle_snapshot.json — run after adding or
editing any registered query or oracle.

The snapshot records, per registered query, the oracle hash, the
query function's executable-source hash (`registry.fn_semantic_md5`)
and `stale_since`: the first driver round whose CORRECTNESS rows still
count as evidence for it. This tool is the only writer of
`stale_since`. Against the committed file:

  - an entry whose fn_md5 or oracle_md5 changed gets the next round
    (highest recorded CORRECTNESS round + 1), so every older driver row
    stops counting;
  - an unchanged entry keeps its bar;
  - a new query gets 0 (it has no rows to invalidate).

The registry's sweep order reads the bars back from the same file, so
"edit a query, regenerate the snapshot" is the whole procedure.

Usage:  python tools/snapshot_oracles.py
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_knlp_spark import registry  # noqa: E402


def regenerate(path: str = registry._SNAPSHOT_PATH) -> dict[str, dict]:
    """Rewrite the snapshot at `path` from the current registry, each
    `stale_since` derived from the entry of the same name it replaces;
    return it."""
    registry._load_all()
    committed = registry._read_json(path)
    next_round = registry._next_round()
    snap = {}
    for name, rq in sorted(registry._REGISTRY.items()):
        oracle_md5 = hashlib.md5(rq.oracle.encode()).hexdigest() if rq.oracle else None
        fn_md5 = registry.fn_semantic_md5(rq.fn)
        old = committed.get(name)
        if old is None:
            stale = 0
        elif (old["oracle_md5"], old["fn_md5"]) == (oracle_md5, fn_md5):
            stale = old["stale_since"]
        else:
            stale = next_round
        snap[name] = {"oracle_md5": oracle_md5, "fn_md5": fn_md5, "stale_since": stale}
    with open(path, "w") as f:
        json.dump(snap, f, indent=1, sort_keys=True)
        f.write("\n")
    return snap


if __name__ == "__main__":
    snap = regenerate()
    print(f"wrote {registry._SNAPSHOT_PATH} ({len(snap)} queries)")

    # A moved bar changes the next driver window — print the window-math
    # pre-check inline (r14, after r13 shipped a bump whose one-query
    # window overrun was found by hand arithmetic a round late) so the
    # budget consequence is visible in the same terminal.
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "evidence_report",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "evidence_report.py"),
    )
    er = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(er)
    evidence = registry._evidence_rounds()
    bars = registry._staleness_bars()
    order = registry._sweep_order()
    pw = er.project_window(
        order, {n: er.freshest_valid(n, evidence, bars) for n in order}
    )
    print(
        f"window-math pre-check (next round r{pw['next_round']}): "
        f"{len(pw['unevidenced'])} unevidenced + "
        f"{len(pw['overdue'])} overdue = {len(pw['demand'])} mandatory vs "
        f"budget {pw['budget']} -> overrun {pw['overrun']}"
        + (f"; WOULD WAIT: {pw['waiters']}" if pw["waiters"] else "")
    )
