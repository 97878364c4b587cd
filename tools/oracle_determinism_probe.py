"""Oracle-side determinism probe (r14 verdict #3: after three rounds
of Spark-side fold fixes, scan the OTHER engine).

DuckDB executes multi-threaded by default (32 here), and its parallel
aggregation folds float SUM/AVG in morsel-arrival order — measured on
this host (BASELINE.md r15): a 10M-row double SUM under threads=32
produced 26 distinct bit patterns in 40 runs, grouped sums 40/40
distinct, and threads=1 outside the whole set. Every registered
oracle is therefore a potential run-to-run flake wherever a float
fold feeds an explicit ROUND, a rank/top-k cut, or the comparator's
9dp canonicalization at a half boundary — the exact mirror of the
Spark layout-order class retired in r12–r14.

This tool measures the class end-to-end through the driver's own
canonicalization: run each oracle `--runs` times at threads=32 and
once at threads=1 against the given SF's parquet views, value-hash
every result with the verify_oracles canon (columns sorted, rows
sorted, floats rounded to 9dp), and report any oracle whose hash set
has >1 member (run-to-run instability) or whose threads=1 hash
differs from the threads=32 consensus (parallelism sensitivity).

Usage:
    python tools/oracle_determinism_probe.py [sf_dir] [--runs N] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_knlp_spark import registry  # noqa: E402
from verify_oracles import oracle_connection, value_hash  # noqa: E402  (same canon as the gate)


def probe(
    sf_dir: str,
    runs: int,
    only: set[str],
    oracles: dict[str, str] | None = None,
) -> dict[str, dict]:
    """`oracles` defaults to the live registry; tests inject a tiny
    dict to prove the probe BITES on a genuinely nondeterministic
    oracle (see tests/test_oracle_probe.py)."""
    if oracles is None:
        oracles = registry.all_oracles()
    results: dict[str, dict] = {}
    for name in sorted(oracles):
        if only and name not in only:
            continue
        sql = oracles[name]
        hashes: dict[str, int] = {}
        err = None
        t0 = time.time()
        try:
            for _ in range(runs):
                # fresh connection: fresh morsel state
                con = oracle_connection(sf_dir, threads=32)
                h = value_hash(con.sql(sql).df())
                hashes[h] = hashes.get(h, 0) + 1
                con.close()
            con = oracle_connection(sf_dir, threads=1)
            h1 = value_hash(con.sql(sql).df())
            con.close()
        except Exception:
            err = traceback.format_exc(limit=3)
            results[name] = {"err": err}
            print(f"ERR   {name}")
            continue
        stable = len(hashes) == 1
        serial_agrees = h1 in hashes
        results[name] = {
            "distinct_hashes": len(hashes),
            "counts": sorted(hashes.values(), reverse=True),
            "serial_agrees": serial_agrees,
            "sec": round(time.time() - t0, 2),
        }
        flag = "OK   " if stable and serial_agrees else "FLAKY"
        print(
            f"{flag} {name}: {len(hashes)} hash(es) over {runs} runs, "
            f"threads=1 {'in' if serial_agrees else 'OUTSIDE'} the set "
            f"({results[name]['sec']}s)"
        )
    return results


def main() -> int:
    args = [a for a in sys.argv[1:]]
    runs = 7
    if "--runs" in args:
        i = args.index("--runs")
        runs = int(args[i + 1])
        del args[i : i + 2]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.1"
    only = set(a for a in args if "/" not in a)
    registry._load_all()
    results = probe(sf_dir, runs, only)
    flaky = [
        n
        for n, r in results.items()
        if r.get("err")
        or r.get("distinct_hashes", 1) != 1
        or not r.get("serial_agrees", True)
    ]
    print(f"\n{len(flaky)} unstable oracle(s)" + (f": {flaky}" if flaky else ""))
    return 1 if flaky else 0


if __name__ == "__main__":
    sys.exit(main())
