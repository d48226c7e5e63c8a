"""Seeded benchmark inputs: testdata-shaped tables, key-shifted per seed.

The package's queries read the TPC-H-ish star schema of TESTDATA.md plus the
``events``, ``documents`` and ``embeddings`` tables (one parquet file,
one row group each). The benchmark may read nothing outside its
checkout, so it synthesizes a base dataset of the same schema, sizes
and value distributions with a FIXED generator seed, then derives every
workload input from it with the key-shift scheme of
``tools/gen_scaled_testdata.py`` (``copy_select``): the benchmark seed
picks the shift. Shifted copies keep the base's join fan-outs, group
cardinalities, graph shape and text/vector distributions exactly, so
different seeds give different inputs with the same amount of work.
"""

from __future__ import annotations

import os
import sys
from datetime import datetime, timezone

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
from gen_scaled_testdata import COPY_AS_IS, copy_select  # noqa: E402

BASE_SEED = 42
MAX_SHIFT = 215
TABLES = COPY_AS_IS + [
    "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
]
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_DAY_US = 86_400_000_000


def _ts(start: str, end: str, n: int, rng, whole_days: bool = True) -> pa.Array:
    lo, hi = (
        int(datetime.fromisoformat(d).replace(tzinfo=timezone.utc).timestamp() * 1e6)
        for d in (start, end)
    )
    if whole_days:
        v = lo + rng.integers(0, (hi - lo) // _DAY_US + 1, n) * _DAY_US
    else:
        v = np.sort(rng.integers(lo, hi, n))
    return pa.array(v, pa.timestamp("us"))


def _cents(lo: float, hi: float, n: int, rng) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def base_tables(sf: float, only: list[str] | None = None) -> dict[str, pa.Table]:
    """TESTDATA.md-shaped tables at scale factor ``sf`` (fixed generator seed)."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc, n_emb = (5000, 2000) if sf >= 0.1 else (500, 500)
    i64 = pa.int64()
    want = set(only or TABLES)
    out: dict[str, pa.Table] = {}

    def pick(choices, n):
        return pa.array(np.asarray(choices)[rng.integers(0, len(choices), n)])

    if "region" in want:
        out["region"] = pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        })
    if "nation" in want:
        out["nation"] = pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        })
    if "customer" in want:
        out["customer"] = pa.table({
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _cents(-999.99, 9999.99, n_cust, rng),
            "c_mktsegment": pick(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                n_cust),
        })
    if "supplier" in want:
        out["supplier"] = pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _cents(-999.99, 9999.99, n_supp, rng),
        })
    if "part" in want:
        adj = "blue old large hot cold small new red".split()
        noun = "bolt plate rod anvil widget gizmo ring gear".split()
        keys = np.arange(n_part)
        out["part"] = pa.table({
            "p_partkey": pa.array(keys, i64),
            "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                       zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": pick(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": 900.0 + (keys % 1000) / 10.0,
        })
    if "orders" in want:
        out["orders"] = pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": _cents(1000.0, 500000.0, n_ord, rng),
            "o_orderdate": _ts("1995-01-01", "2001-08-01", n_ord, rng),
            "o_orderpriority": pick(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        })
    if "lineitem" in want:
        out["lineitem"] = pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _cents(900.0, 105000.0, n_li, rng),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": pick(["A", "N", "R"], n_li),
            "l_linestatus": pick(["F", "O"], n_li),
            "l_shipdate": _ts("1995-01-02", "2001-11-04", n_li, rng),
        })
    if "events" in want:
        out["events"] = pa.table({
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": _ts("2024-01-01", "2024-01-31", n_ev, rng, whole_days=False),
            "user_id": pa.array(rng.integers(0, int(15_000 * sf), n_ev), i64),
            "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        })
    if "documents" in want:
        texts: list[str] = []
        for i in range(n_doc):
            if i > 0 and rng.random() < 0.05:  # planted near-duplicate
                texts.append(texts[int(rng.integers(0, i))] + " dup")
            else:
                idx = rng.integers(0, len(_WORDS), int(rng.integers(10, 101)))
                texts.append(" ".join(_WORDS[j] for j in idx))
        out["documents"] = pa.table({
            "doc_id": pa.array(np.arange(n_doc), i64),
            "text": texts,
            "lang": pa.array(np.array(_LANGS)[rng.choice(5, n_doc, p=_LANG_P)]),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        })
    if "embeddings" in want:
        v = rng.standard_normal((n_emb, 64)).astype(np.float32)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        out["embeddings"] = pa.table({
            "vec_id": pa.array(np.arange(n_emb), i64),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        })
    return out


def write_shifted(base: dict[str, pa.Table], out_dir: str, shift: int) -> None:
    """Write ``base`` to ``out_dir`` as key-shifted copy number ``shift``.

    Each table is one parquet file with one row group, the layout of the
    repository's testdata (so the first scan stage is a single task, as there).
    ``copy_select`` multiplies ``shift`` by its key offset in 32-bit
    arithmetic, so the shift must stay below 215.
    """
    if not 0 <= shift < MAX_SHIFT:
        raise ValueError(f"shift must be in [0, {MAX_SHIFT}), got {shift}")
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    try:
        for name, tbl in base.items():
            if name in COPY_AS_IS:
                shifted = tbl
            else:
                con.register("src", tbl)
                cols = [(f.name, str(f.type)) for f in tbl.schema]
                shifted = con.execute(copy_select(name, cols, shift)).arrow()
                con.unregister("src")
                shifted = shifted.cast(tbl.schema)
            pq.write_table(shifted, f"{out_dir}/{name}.parquet",
                           row_group_size=max(shifted.num_rows, 1))
    finally:
        con.close()
