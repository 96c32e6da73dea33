"""Seeded generator for the star-schema tables the driver queries read.

The `query_suite` workload runs the `bench.HEADLINE` queries over an
`sf_dir` holding `region nation customer supplier part orders lineitem
events documents embeddings` (one parquet file each, one row group).
This module writes such a directory from a seed, with the shapes the
queries depend on:

- TPC-H-style keys: every foreign key resolves (order, customer, part
  and supplier keys are uniform over their tables), line numbers 1-7.
- `events` sorted by `ts` over 30 days, 5 event types, a JSON `props`.
- `documents`: 10-100 words over a 30-word vocabulary, exactly 41% `en`
  and the rest split over `zh es fr de`, 20 round-robin sources, and 5%
  near duplicates (an earlier text plus the word `dup`).
- `embeddings`: 64-d unit float32 vectors with 10 labels.

Row counts scale with `sf` as in the TPC-H ratios (sf 0.1 gives 600k
lineitem rows). The same (seed, sf) always gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DOC_LANGS = ["en", "zh", "es", "fr", "de"]
DOC_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.randint(0, span + 1, size=n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _shares(n: int, p: list[float]) -> list[int]:
    """Exact per-value counts for proportions `p` summing to n, so the
    language mix does not vary with the seed."""
    counts = [int(n * x) for x in p]
    counts[0] += n - sum(counts)
    return counts


def make_tables(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    rng = np.random.RandomState(seed)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 10)
    n_line = max(int(6_000_000 * sf), 10)
    n_evt = max(int(1_000_000 * sf), 10)
    n_doc = max(int(50_000 * sf), 20)
    n_vec = max(int(20_000 * sf), 10)
    out: dict[str, pd.DataFrame] = {}

    out["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    )
    out["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pd.DataFrame(
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{i:09d}" for i in ck],
            "c_nationkey": rng.randint(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pd.DataFrame(
        {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{i:09d}" for i in sk],
            "s_nationkey": rng.randint(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pd.DataFrame(
        {
            "p_partkey": pk,
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.randint(0, 8, n_part), rng.randint(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.randint(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.randint(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    out["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.randint(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.randint(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.randint(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.randint(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.randint(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.randint(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
            "l_discount": rng.randint(0, 11, n_line) / 100.0,
            "l_tax": rng.randint(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
        }
    )
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.randint(0, 30 * 86_400_000_000, n_evt)).astype("timedelta64[us]")
    out["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_evt, dtype=np.int64),
            "ts": t0 + offs,
            "user_id": rng.randint(0, max(int(15_000 * sf), 10), n_evt).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_evt),
            "value": np.round(rng.exponential(50.0, n_evt), 2),
            "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, n_evt)],
        }
    )
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 20 and rng.rand() < 0.05:
            texts.append(texts[rng.randint(0, i)] + " dup")
        else:
            n_words = rng.randint(10, 101)
            texts.append(" ".join(DOC_WORDS[k] for k in rng.randint(0, len(DOC_WORDS), n_words)))
    did = np.arange(n_doc, dtype=np.int64)
    out["documents"] = pd.DataFrame(
        {
            "doc_id": did,
            "text": texts,
            "lang": rng.permutation(np.repeat(DOC_LANGS, _shares(n_doc, DOC_LANG_P))),
            "source": [f"src{i % 20}" for i in did],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": list(vecs),
            "label": rng.randint(0, 10, n_vec).astype(np.int32),
        }
    )
    return out


def write_tables(sf_dir: str, sf: float, seed: int) -> str:
    """Write every table under `sf_dir` as `<name>.parquet`; returns sf_dir."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, df in make_tables(sf, seed).items():
        df.to_parquet(os.path.join(sf_dir, f"{name}.parquet"), index=False)
    return sf_dir
