"""Output check: row count plus the order-insensitive value hash of
``tools/verify_oracles`` (the canonicalization of the repo's oracle
sweep), compared against digests recorded per workload
and input variant in ``digests.json``.

The digests hold for one Spark core count only: it sets the shuffle
partitions and parquet splits, so float aggregates combine in another
order on another count and may hash differently. ``digests.json``
records that count as ``ncpu``.
"""

from __future__ import annotations

import json
import os

DIGESTS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


def digest(pdf) -> dict:
    from verify_oracles import value_hash

    return {"rows": int(len(pdf)), "hash": value_hash(pdf)}


def problems(expected: dict | None, got: dict) -> list[str]:
    """Empty when ``got`` matches the recorded digest."""
    if expected is None:
        return ["no recorded digest"]
    out = []
    if expected["rows"] != got["rows"]:
        out.append(f"rows {got['rows']} != recorded {expected['rows']}")
    if expected["hash"] != got["hash"]:
        out.append("value hash differs from recorded")
    return out


def load_digests() -> dict:
    try:
        with open(DIGESTS_PATH) as f:
            return json.load(f)
    except FileNotFoundError:
        return {"ncpu": None, "workloads": {}}


def expected_for(digests: dict, workload: str, variant: int) -> dict:
    return digests["workloads"].get(workload, {}).get(str(variant), {})


def store_digests(digests: dict) -> None:
    with open(DIGESTS_PATH, "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
        f.write("\n")
