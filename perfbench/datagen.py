"""Seeded input generators for the benchmark workloads.

Every function here is a pure function of its seed and size arguments: the
same seed writes byte-identical parquet files. The engine receives only
these files; nothing is read from outside the benchmark's run directory.

- ``write_star_schema``: the ten tables the registry operators read
  (``region`` … ``embeddings``), with the column names, types and value
  domains of the TPC-H-like fixtures the operators were written against.
- ``write_backfill_source``: the table the backfill packet's ``run_once``
  loads (``id``/``fld_1``/``fld_2``, ids sparse and seeded).
- ``dba_target_tables``: per-target table specs with varied column counts.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
WORDS = (
    "join hash row batch scan column customer filter small slow merge order"
    " vector line table data agg value key stream window a spark part group"
    " big sort query fast the"
).split()
EMBED_DIM = 64


def _write(table: pa.Table, path: Path) -> None:
    pq.write_table(table, path, row_group_size=1 << 20)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, n)).astype("datetime64[us]")


def write_star_schema(out_dir: Path, seed: int, sf: float) -> dict[str, int]:
    """Write the operator tables at scale ``sf`` (sf=0.01 → 60k lineitems)
    into ``out_dir``; returns rows per table."""
    rng = np.random.default_rng(seed)
    out_dir.mkdir(parents=True, exist_ok=True)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(500, int(1_500_000 * sf))
    n_line = max(2_000, int(6_000_000 * sf))
    n_evt = max(1_000, int(1_000_000 * sf))
    n_doc = max(100, int(50_000 * sf))
    n_users = max(20, int(15_000 * sf))

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    tables["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2400, n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    l_orderkey = np.sort(rng.integers(0, n_ord, n_line)).astype(np.int64)
    # linenumber restarts at 1 within each order
    first = np.r_[True, l_orderkey[1:] != l_orderkey[:-1]]
    run_start = np.maximum.accumulate(np.where(first, np.arange(n_line), 0))
    tables["lineitem"] = pa.table({
        "l_orderkey": l_orderkey,
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": (np.arange(n_line) - run_start + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", 2500, n_line),
    })
    ev_us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_evt))
    tables["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(
            np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
            pa.timestamp("us"),
        ),
        "user_id": rng.integers(0, n_users, n_evt).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_evt),
        "value": _money(rng, 0.01, 490.0, n_evt),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            # planted near-duplicate: an earlier document plus a marker word
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(WORDS, int(rng.integers(8, 90)))
            texts.append(" ".join(words))
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    centers = rng.normal(size=(10, EMBED_DIM))
    labels = rng.integers(0, 10, n_doc)
    vecs = centers[labels] + 0.6 * rng.normal(size=(n_doc, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_doc, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    for name, t in tables.items():
        _write(t, out_dir / f"{name}.parquet")
    return {name: t.num_rows for name, t in tables.items()}


def write_backfill_source(path: Path, seed: int, rows: int) -> np.ndarray:
    """The backfill packet's source table: ``rows`` distinct sparse ids
    (so chunk sizes vary with the seed); returns the sorted ids."""
    rng = np.random.default_rng(seed)
    ids = np.sort(rng.choice(np.arange(1, 3 * rows + 1), rows, replace=False))
    fld_1 = rng.integers(0, 1 << 40, rows)
    _write(pa.table({
        "id": ids.astype(np.int32),
        "fld_1": fld_1.astype(np.int64),
        "fld_2": [f"text_{v}" for v in fld_1],
    }), path)
    return ids


def dba_target_tables(seed: int, n_targets: int, tables_per_target: int) -> list[list[tuple[str, int, int]]]:
    """Per target: ``(table, n_columns, n_rows)`` specs with varied widths."""
    rng = np.random.default_rng(seed)
    return [
        [
            (f"t{j:02d}", int(rng.integers(2, 9)), int(rng.integers(200, 2_000)))
            for j in range(tables_per_target)
        ]
        for _ in range(n_targets)
    ]


def write_dba_table(path: Path, seed: int, n_cols: int, n_rows: int) -> None:
    """One PG-sweep target table: an ``id`` key plus alternating int/text columns."""
    rng = np.random.default_rng(seed)
    cols: dict[str, object] = {"id": np.arange(n_rows, dtype=np.int64)}
    for c in range(1, n_cols):
        if c % 2:
            cols[f"c{c}"] = rng.integers(0, 1 << 31, n_rows).astype(np.int64)
        else:
            cols[f"c{c}"] = [f"v{v}" for v in rng.integers(0, 1000, n_rows)]
    _write(pa.table(cols), path)
