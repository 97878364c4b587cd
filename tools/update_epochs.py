#!/usr/bin/env python3
"""Reconcile etl_knlp_spark/table_fingerprints.json with live testdata.

Run after the driver regenerates testdata (the sweep-order audit or a
CORRECTNESS anomaly says so): for each table whose live pyarrow schema
fingerprint differs from the recorded one, record the new fingerprint
with epoch = `registry._next_round()` (max recorded CORRECTNESS
round + 1), so all pre-drift driver rows stop counting as evidence and
the affected queries head the next sweep. Tables without drift keep
their recorded epoch.

Usage: python tools/update_epochs.py [--sf-dir /root/testdata/sf0.01]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_knlp_spark import registry  # noqa: E402
from etl_knlp_spark.catalog import TABLES  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=registry._SWEEP_SF_DIR)
    args = ap.parse_args()

    path = registry._FINGERPRINTS_PATH
    try:
        with open(path) as f:
            recorded = json.load(f)
    except (OSError, ValueError):
        recorded = {}

    next_round = registry._next_round()

    changed = []
    for table in TABLES:
        live = registry._live_fingerprint(args.sf_dir, table)
        if live is None:
            print(f"  {table}: unreadable, keeping recorded state")
            continue
        old = recorded.get(table)
        if old is None:
            recorded[table] = {"fingerprint": live, "epoch": 0}
            changed.append(table)
            print(f"  {table}: first record (epoch 0)")
        elif old["fingerprint"] != live:
            recorded[table] = {"fingerprint": live, "epoch": next_round}
            changed.append(table)
            print(f"  {table}: DRIFT — epoch -> {next_round}")
        else:
            print(f"  {table}: unchanged (epoch {old['epoch']})")

    with open(path, "w") as f:
        json.dump(recorded, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {path} ({len(changed)} changes)")


if __name__ == "__main__":
    main()
