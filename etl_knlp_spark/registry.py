"""Query/oracle registry backing ``__spark_entry__.py``.

Every engine operator demo registers here via the ``@query`` decorator:
a name, a (spark, sf_dir) -> DataFrame callable, and (when expressible)
the equivalent ANSI SQL that DuckDB runs on the same parquet tables.
The driver hash-compares the two at sf0.01 (CORRECTNESS contract in
__spark_entry__.py). Conventions:

- Alias every computed column identically in both the DataFrame code
  and the oracle SQL (the comparator matches columns by name).
- Round floating aggregates to a fixed scale on BOTH sides — double
  summation order differs across engines/partitions.
- Cast event timestamps explicitly (parquet ns vs ms, SURVEY.md §7).
- Queries whose semantics DuckDB cannot express register with
  ``oracle=None`` → the driver records a weaker rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class RegisteredQuery:
    name: str
    fn: QueryFn
    oracle: str | None
    doc: str


_REGISTRY: dict[str, RegisteredQuery] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` under ``name`` with an optional DuckDB oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = RegisteredQuery(name, fn, oracle, fn.__doc__ or "")
        return fn

    return deco


def fn_semantic_md5(fn) -> str | None:
    """md5 of a query function's EXECUTABLE source — the AST with
    docstrings stripped (comments never survive parsing) — shared by
    tools/snapshot_oracles.py and tests/test_registry_audit.py.

    Why not raw source (the r6-r11 formulation): a changed fn_md5 moves
    the query's staleness bar, so it must mean "what runs changed".
    Raw-source hashing conflated docstring/comment edits with semantic
    edits (r11 ADVICE demonstrated the hole live with
    embedding_centroid / lexical_diversity). Hashing the stripped AST
    makes the invariant exact: fn_md5 moves IFF executable code moved,
    and a docstring-only edit invalidates no evidence. Decorator
    expressions, defaults, and nested functions stay in the hash (they
    are executable; the r6 decorator-capture bug lived in one). None
    when source is unavailable (shouldn't happen for module-level
    functions)."""
    import ast
    import hashlib
    import inspect
    import textwrap

    try:
        src = textwrap.dedent(inspect.getsource(fn))
        tree = ast.parse(src)
    except (OSError, TypeError, SyntaxError):
        return None
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                node.body = body[1:] or [ast.Pass()]
    return hashlib.md5(ast.dump(tree).encode()).hexdigest()


# The driver's per-round correctness sweep has a finite budget (each round
# records rows for exactly the flagship + the first 49 registry entries).
# Order the registry so the queries most in need of driver-side evidence
# come first. "Evidence" is deliberately strict (round-2 advisor finding):
# only a hash_match==true row counts for an oracled query, and only a
# non-ERR rows-only row counts for an oracle-less one — an ERR row or a
# rows-only row for a query that HAS an oracle is not evidence.
#
# Rows older than a query's staleness bar don't count. The bar is
# derived, never kept by hand; it is the later of two rounds:
#
# - `stale_since` in `oracle_snapshot.json`: the round the query's
#   function or oracle last changed. tools/snapshot_oracles.py is its
#   only writer — regenerating after an edit moves the bar of every
#   query whose fn_md5 or oracle_md5 changed to `_next_round()`.
# - the environment epoch of every table the query reads. A testdata
#   regeneration flipping a physical type (e.g. the r4 events
#   TIMESTAMP(NANOS)→TIMESTAMP(MICROS) flip) also de-values old green
#   rows, and nobody edits the repo when the driver regenerates
#   parquet. `table_fingerprints.json` records, per table, the pyarrow
#   schema fingerprint last reconciled and the round it became current
#   (its epoch). At sweep time the live testdata is re-fingerprinted; a
#   mismatch puts the table's epoch at `_next_round()` (all existing
#   rows invalid) until `tools/update_epochs.py` reconciles the file.

_SNAPSHOT_PATH = __file__.replace("registry.py", "oracle_snapshot.json")
_FINGERPRINTS_PATH = __file__.replace("registry.py", "table_fingerprints.json")
_SWEEP_SF_DIR = "/root/testdata/sf0.01"  # the driver's correctness SF


def _read_json(path: str) -> dict:
    """A committed ledger file; {} if missing or unreadable (never crash)."""
    import json

    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def _live_fingerprint(sf_dir: str, table: str) -> str | None:
    """md5 of the table's physical arrow schema (types incl. timestamp
    unit — exactly what a regeneration flip changes). None if unreadable
    (missing testdata: fall back to recorded state, never crash)."""
    import hashlib

    try:
        import pyarrow.parquet as pa_pq

        schema = pa_pq.read_schema(f"{sf_dir}/{table}.parquet")
        # schema metadata (pandas index blob) churns without a real
        # type change; fingerprint only name:type pairs.
        sig = ";".join(f"{f.name}:{f.type}" for f in schema)
        return hashlib.md5(sig.encode()).hexdigest()
    except Exception:
        return None


def _environment_epochs(
    sf_dir: str | None = None, fingerprints_path: str | None = None
) -> dict[str, int]:
    """table -> first round whose driver rows are still valid: the
    recorded epoch when the live schema matches the reconciled
    fingerprint, `_next_round()` when it doesn't."""
    sf_dir = sf_dir or _SWEEP_SF_DIR
    # Resolved at call time (not def time) so tests can monkeypatch the
    # module attribute to simulate a drift.
    recorded = _read_json(fingerprints_path or _FINGERPRINTS_PATH)
    out: dict[str, int] = {}
    for table, entry in recorded.items():
        live = _live_fingerprint(sf_dir, table)
        if live is None or live == entry["fingerprint"]:
            out[table] = entry["epoch"]
        else:
            out[table] = _next_round()
    return out


def _tables_of(rq: "RegisteredQuery") -> frozenset[str]:
    """Which testdata tables a query's evidence depends on, derived
    from the oracle SQL text (every oracle names its tables as DuckDB
    views). Oracle-less queries fall back to doc-text scan, else are
    conservatively pinned to ALL tables (any drift invalidates)."""
    import re

    from .catalog import TABLES

    text = rq.oracle if rq.oracle is not None else rq.doc
    found = frozenset(
        t for t in TABLES if re.search(rf"\b{t}\b", text or "")
    )
    if not found and rq.oracle is None:
        return frozenset(TABLES)
    return found


def _evidence_rounds() -> dict[str, list[tuple[int, dict]]]:
    """name -> [(round, entry), ...] across all CORRECTNESS_r*.json files."""
    import glob
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out: dict[str, list[tuple[int, dict]]] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        for name, entry in _read_json(path).items():
            if isinstance(entry, dict):
                out.setdefault(name, []).append((rnd, entry))
    return out


def _next_round() -> int:
    """The round after the newest recorded CORRECTNESS row — where a
    staleness bar moves when evidence is invalidated now."""
    rounds = [r for rows in _evidence_rounds().values() for r, _ in rows]
    return max(rounds, default=0) + 1


def _staleness_bars() -> dict[str, int]:
    """name -> first round whose CORRECTNESS rows still count: the later
    of the snapshot's `stale_since` (0 for a name it lacks) and the
    environment epoch of every table the query reads."""
    snapshot = _read_json(_SNAPSHOT_PATH)
    env_epochs = _environment_epochs()
    return {
        n: max(
            [snapshot.get(n, {}).get("stale_since", 0)]
            + [env_epochs.get(t, 0) for t in _tables_of(rq)]
        )
        for n, rq in _REGISTRY.items()
    }


def _current_rows(
    name: str, evidence: dict[str, list[tuple[int, dict]]], bars: dict[str, int]
) -> list[tuple[int, bool]]:
    """(round, counts-as-evidence) for each of `name`'s CORRECTNESS rows
    at or after its staleness bar — the one evidence-validity rule,
    shared by the sweep order and tools/evidence_report.py."""
    has_oracle = _REGISTRY[name].oracle is not None
    return [
        (
            r,
            e.get("hash_match") is True
            if has_oracle
            else e.get("err") == "no_oracle" and e.get("spark_rows") is not None,
        )
        for r, e in evidence.get(name, [])
        if r >= bars[name]
    ]


def _sweep_order() -> list[str]:
    evidence = _evidence_rounds()
    bars = _staleness_bars()

    def key(n: str) -> tuple[int, int]:
        rows = _current_rows(n, evidence, bars)
        valid = [r for r, ok in rows if ok]
        if valid:
            # Evidenced: re-verify stalest first so cumulative coverage
            # stays fresh across rounds.
            return (2, max(valid))
        # Ran but never validly evidenced (ERR row, or rows-only row for
        # a query that has since gained an oracle) before never-ran: a
        # recorded failure is the more urgent signal.
        return (0, 0) if rows else (1, 0)

    # sorted() is stable: ties keep registration order.
    return sorted(_REGISTRY, key=key)


def all_queries() -> dict[str, QueryFn]:
    _load_all()
    return {n: _REGISTRY[n].fn for n in _sweep_order()}


def all_oracles() -> dict[str, str]:
    _load_all()
    return {
        n: _REGISTRY[n].oracle
        for n in _sweep_order()
        if _REGISTRY[n].oracle is not None
    }


_LOADED = False


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    # Imports are for their registration side effects.
    from .operators import (  # noqa: F401
        analysis,
        cogroup,
        dedup,
        evaluation,
        events,
        graph,
        ivf,
        multimodal,
        mutate,
        packing,
        parse,
        pq,
        quality,
        relational,
        sampling,
        similarity,
        sketches,
        stats,
        suffixarray,
        text,
        textprep,
        unigram,
        wordpiece,
    )
    from .functions import scalar, skew, sql_surface  # noqa: F401
    from .sources import avro, layout, warc  # noqa: F401
    from .plans import corpus, dimension, tpch  # noqa: F401
    from .streaming import cdc, dedup_stream, joins, stateful, windows  # noqa: F401

    _LOADED = True
