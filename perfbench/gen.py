"""Seeded input generators for the benchmark.

Everything the program under test reads is made here from a seed, so a
run needs nothing outside its checkout:

- ``write_tables``: the ten catalog tables (TPC-H-ish star schema plus
  ``events``, ``documents`` and ``embeddings``) in the shape the engine's
  catalog expects -- one single-file parquet per table, ``ts`` columns
  as TIMESTAMP(MICROS) without a zone, near-duplicate documents that end
  in `` dup`` and clustered unit-norm embeddings.
- ``write_reference_raw``: ``wiki_index.txt`` / ``hanja.txt`` /
  ``langlink.txt`` in the format of ``tools/bench_reference_e2e.py``.

The same seed gives byte-identical files (numpy PCG64 streams, pyarrow's
deterministic writer, no wall-clock metadata).
"""

from __future__ import annotations

import os
from collections.abc import Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EMBED_DIM = 64
N_EMBEDDINGS = 500
N_LABELS = 10
DUP_SHARE = 0.05

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent stream per (seed, table), so adding a table never
    shifts the values of another."""
    salt = int.from_bytes(stream.encode(), "little") % (2**63)
    return np.random.Generator(np.random.PCG64([seed, salt]))


def _write(path: str, columns: dict[str, pa.Array]) -> int:
    table = pa.table(columns)
    pq.write_table(table, path, compression="snappy")
    return table.num_rows


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _documents(rng: np.random.Generator, n: int) -> dict[str, pa.Array]:
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    vocab = np.array(VOCAB, dtype=object)
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(vocab[words[bounds[i] : bounds[i + 1]]]) for i in range(n)]
    # ~5% near-duplicates: an earlier document's text plus " dup"
    for i in np.flatnonzero(rng.random(n) < DUP_SHARE):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), type=pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], type=pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _unit(v: np.ndarray) -> np.ndarray:
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def _embeddings(rng: np.random.Generator, n: int) -> dict[str, pa.Array]:
    centroids = rng.standard_normal((N_LABELS, EMBED_DIM))
    labels = rng.integers(0, N_LABELS, n).astype(np.int32)
    vecs = _unit(centroids[labels] + 1.2 * rng.standard_normal((n, EMBED_DIM)))
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    }


def _table_builders(seed: int, sf: float) -> dict[str, Callable[[], dict[str, pa.Array]]]:
    """table -> zero-argument builder of its columns at scale ``sf``
    (row counts follow the sf testdata of TESTDATA.md: lineitem 6M·sf,
    orders 1.5M·sf, ...). Each table draws from its own seeded stream."""
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs = max(15, int(15_000 * sf)), max(500, int(50_000 * sf))
    span_days = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int))

    def region():
        return {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }

    def nation():
        return {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }

    def customer():
        r = _rng(seed, "customer")
        return {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(r.uniform(-999.99, 9999.99, n_cust))),
            "c_mktsegment": pa.array(r.choice(SEGMENTS, n_cust)),
        }

    def supplier():
        r = _rng(seed, "supplier")
        return {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(r.uniform(-999.99, 9999.99, n_supp))),
        }

    def part():
        r = _rng(seed, "part")
        keys = np.arange(n_part, dtype=np.int64)
        names = [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in r.integers(0, 8, (n_part, 2))]
        return {
            "p_partkey": pa.array(keys),
            "p_name": pa.array(names),
            "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)]),
            "p_type": pa.array(r.choice(PART_TYPES, n_part)),
            "p_size": pa.array(r.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1)),
        }

    def orders():
        r = _rng(seed, "orders")
        return {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": pa.array(r.choice(["F", "O", "P"], n_ord)),
            "o_totalprice": pa.array(_money(r.uniform(1000.0, 500_000.0, n_ord))),
            "o_orderdate": _ts(_EPOCH_1995 + r.integers(0, span_days + 1, n_ord) * _DAY_US),
            "o_orderpriority": pa.array(r.choice(PRIORITIES, n_ord)),
        }

    def lineitem():
        r = _rng(seed, "lineitem")
        qty = r.integers(1, 51, n_li).astype(np.float64)
        return {
            "l_orderkey": pa.array(r.integers(0, n_ord, n_li).astype(np.int64)),
            "l_partkey": pa.array(r.integers(0, n_part, n_li).astype(np.int64)),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_li).astype(np.int64)),
            "l_linenumber": pa.array(r.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(_money(qty * r.uniform(900.0, 2100.0, n_li))),
            "l_discount": pa.array(r.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(r.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(r.choice(["A", "N", "R"], n_li)),
            "l_linestatus": pa.array(r.choice(["F", "O"], n_li)),
            "l_shipdate": _ts(_EPOCH_1995 + r.integers(1, span_days + 96, n_li) * _DAY_US),
        }

    def events():
        r = _rng(seed, "events")
        ts = np.sort(r.integers(0, 30 * _DAY_US, n_ev))
        return {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": _ts(_EPOCH_2024 + ts),
            "user_id": pa.array(r.integers(0, n_users, n_ev).astype(np.int64)),
            "event_type": pa.array(r.choice(EVENT_TYPES, n_ev)),
            "value": pa.array(np.maximum(0.01, _money(r.exponential(50.0, n_ev)))),
            "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]),
        }

    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": lambda: _documents(_rng(seed, "documents"), n_docs),
        "embeddings": lambda: _embeddings(_rng(seed, "embeddings"), N_EMBEDDINGS),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the catalog tables as ``<out_dir>/<table>.parquet``; returns
    rows per table written."""
    os.makedirs(out_dir, exist_ok=True)
    return {t: _write(os.path.join(out_dir, f"{t}.parquet"), build()) for t, build in _table_builders(seed, sf).items()}


def write_reference_raw(raw_dir: str, seed: int, lines: int, tuples_per_line: int = 10) -> dict[str, int]:
    """Raw reference inputs in ``tools/bench_reference_e2e.py``'s format,
    with seeded titles and langlink targets instead of a fixed stride:
    every 1000th wiki title carries the delimiter (ragged overflow path),
    titles share a bounded Korean vocabulary so the hanja join hits, and
    langlinks fan out over several languages per word_id. Returns the
    record count per file."""
    os.makedirs(raw_dir, exist_ok=True)
    r = _rng(seed, "reference")
    syllables = "가나다라마바사아자차"
    vocab = min(100_000, max(10, lines // 15))

    def korean(i: int) -> str:
        return "".join(syllables[int(d)] for d in str(i))

    word = r.integers(0, vocab, lines)
    with open(os.path.join(raw_dir, "wiki_index.txt"), "w", encoding="utf-8") as f:
        for i in range(lines):
            title = korean(int(word[i]))
            if i % 1000 == 999:
                title += ": 부제"
            f.write(f"{600 + i}:{i}:{title}\n")
    hanja = r.integers(0, vocab, lines)
    with open(os.path.join(raw_dir, "hanja.txt"), "w", encoding="utf-8") as f:
        for i in range(lines):
            f.write(f"{korean(int(hanja[i]))}:漢{hanja[i]}:예문{i}, 용례{i}\n")
    n_link_lines = lines // tuples_per_line
    targets = r.integers(0, 3 * lines, n_link_lines * tuples_per_line)
    langs = r.integers(0, len(LANGS), n_link_lines * tuples_per_line)
    with open(os.path.join(raw_dir, "langlink.txt"), "w", encoding="utf-8") as f:
        for line_no in range(n_link_lines):
            parts = []
            for k in range(line_no * tuples_per_line, (line_no + 1) * tuples_per_line):
                lang = LANGS[int(langs[k])]
                parts.append(f"{targets[k]},{lang},title_{lang}_{targets[k]}")
            f.write("),(".join(parts) + "\n")
    return {
        "wiki_lines": lines,
        "hanja_lines": lines,
        "langlink_records": n_link_lines * tuples_per_line,
    }
