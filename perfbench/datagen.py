"""Seeded input generators for the benchmark.

Two kinds of input, both written as files before timing starts:

- ``write_sf_tables``: the ten catalog tables (TPC-H-shaped star schema,
  ``events``, ``documents``, ``embeddings``) as one parquet file each,
  with the column names, types and value domains of the repo's
  ``TESTDATA.md`` tables.  Row counts scale with ``sf`` exactly as those
  tables do (sf0.1: 600,000 lineitem rows, 5,000 documents).
- ``write_day_csvs``: the medallion day drops as header CSV files with
  the raw payment schema and the dirty-data classes of the package's
  ``pipeline.fixtures`` generator, plus CDC updates of the previous
  day's transactions and exact duplicate rows.

Everything is a pure function of the seed: the same seed writes the same
bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMBED_DIM = 64
N_LABELS = 10


def _dates(rng: np.random.Generator, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return days.astype("datetime64[D]").astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents over a 30-word vocabulary, 10-100 tokens
    each; ~5% are near duplicates of an earlier document (one extra
    token) and ~0.2% exact duplicates, so every dedup family key has
    pairs to find."""
    words = np.asarray(WORDS, dtype=object)
    lens = rng.integers(10, 101, n)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    kind = rng.random(n)
    for i in range(1, n):
        if kind[i] < 0.05:
            texts[i] = texts[rng.integers(0, i)] + " dup"
        elif kind[i] < 0.052:
            texts[i] = texts[rng.integers(0, i)]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(_pick(rng, LANGS, n, LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors with a weak per-label centroid, like the repo's
    near-random test embeddings."""
    labels = rng.integers(0, N_LABELS, n)
    centroids = rng.normal(0.0, 0.5, (N_LABELS, EMBED_DIM))
    x = rng.normal(0.0, 1.0, (n, EMBED_DIM)) + centroids[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def sf_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten catalog tables at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_users, n_events = int(15_000 * sf), int(1_000_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": pa.array(_pick(rng, SEGMENTS, n_cust), pa.string()),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array(
            _pick(rng, PART_ADJ, n_part) + " " + _pick(rng, PART_NOUN, n_part),
            pa.string(),
        ),
        "p_brand": pa.array(
            [f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()
        ),
        "p_type": pa.array(_pick(rng, PART_TYPES, n_part), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(_pick(rng, ["F", "O", "P"], n_ord), pa.string()),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pa.array(_pick(rng, PRIORITIES, n_ord), pa.string()),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], n_line), pa.string()),
        "l_linestatus": pa.array(_pick(rng, ["F", "O"], n_line), pa.string()),
        "l_shipdate": _dates(rng, n_line, "1995-01-02", "2001-11-04"),
    })
    # a Poisson arrival stream over the 30 days of January 2024
    gaps = rng.exponential(30 * 86400 / n_events, n_events)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (
        np.cumsum(gaps) * 1e6
    ).astype(np.int64).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": pa.array(_pick(rng, EVENT_TYPES, n_events), pa.string()),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)], pa.string()
        ),
    })
    t["documents"] = _documents(rng, int(50_000 * sf))
    t["embeddings"] = _embeddings(rng, int(20_000 * sf))
    return t


def write_sf_tables(out_dir: str, seed: int, sf: float) -> int:
    """Write the catalog tables under ``out_dir``; returns bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in sf_tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total


RAW_COLS = [
    "transaction_id", "customer_id", "transaction_timestamp", "merchant_id",
    "merchant_name", "product_category", "product_name", "amount",
    "fee_amount", "cashback_amount", "loyalty_points", "payment_method",
    "transaction_status", "device_type", "location_type", "currency",
    "updated_at",
]
CATEGORIES = ["Food", "Electronics", "Travel", "Fashion", "Grocery"]
METHODS = ["UPI", "Credit Card", "Debit Card", "Wallet Balance", "Bank Transfer"]
DEVICES = ["Android", "iOS", "Web"]
LOCATIONS = ["Urban", "Suburban", "Rural"]


def day_frame(seed: int, day: int, rows: int) -> tuple[pd.DataFrame, int]:
    """One day drop of raw payment rows (all strings, like the
    reference's CSV files) for ``day`` of March 2024, at the pipeline
    fixture's dirty-data rates: Tier-1 rows that quarantine (NULL or
    malformed id, NULL amount, NULL or future timestamp) ~0.7%, Tier-2
    flagged rows (negative amount, unknown merchant) ~0.6%, Tier-3 NULL
    attributes ~1.3%.  On top of the base rows, 1% re-emit a previous
    day's transaction with a fresh ``updated_at`` (CDC status updates)
    and 0.5% are exact copies of a clean row of the same drop.

    Returns the frame and the number of exact copies, which the
    pipeline's intra-batch dedup must remove."""
    rng = np.random.default_rng([seed, day])
    n = rows
    r4 = rng.integers(0, 10_000, n)
    base = np.datetime64(f"2024-03-{day:02d}T08:00:00", "s")
    ts = base + rng.integers(0, 36_000, n).astype("timedelta64[s]")
    ts_s = np.datetime_as_string(ts).astype(object)
    ts_s = np.char.replace(ts_s.astype(str), "T", " ").astype(object)
    status = np.where(
        (p := rng.integers(0, 100, n)) < 95, "Successful",
        np.where(p < 99, "Failed", "Pending"),
    ).astype(object)
    amount = np.round(rng.integers(10_000, 5_000_000, n) / 100.0, 2)
    ok = status == "Successful"
    df = pd.DataFrame({
        "transaction_id": [f"TXN_202403{day:02d}_{i:06d}" for i in range(n)],
        "customer_id": [f"USER_{c:04d}" for c in rng.integers(1, 1001, n)],
        "transaction_timestamp": ts_s,
        "merchant_id": [f"MERCH_{m:04d}" for m in rng.integers(1, 501, n)],
        "merchant_name": [f"Brand{b}" for b in rng.integers(1, 35, n)],
        "product_category": _pick(rng, CATEGORIES, n),
        "product_name": [f"product_{k}" for k in rng.integers(0, 5, n)],
        "amount": amount,
        "fee_amount": np.round(amount * 0.02, 2),
        "cashback_amount": np.where(ok, np.round(amount * 0.03, 2), 0.0),
        "loyalty_points": np.where(ok, rng.integers(0, 500, n), 0),
        "payment_method": _pick(rng, METHODS, n),
        "transaction_status": status,
        "device_type": _pick(rng, DEVICES, n),
        "location_type": _pick(rng, LOCATIONS, n),
        "currency": "INR",
        "updated_at": ts_s.copy(),
    }).astype(object)
    far = np.char.replace(
        np.datetime_as_string(ts + np.timedelta64(36_500, "D")).astype(str), "T", " "
    )

    def band(lo, hi):
        return (r4 >= lo) & (r4 < hi)

    # Tier-1: quarantined
    df.loc[band(0, 17), "transaction_id"] = None
    m = band(17, 22)
    df.loc[m, "transaction_id"] = [f"TXN BAD {i}" for i in np.flatnonzero(m)]
    df.loc[band(22, 39), "transaction_timestamp"] = None
    df.loc[band(39, 56), "transaction_timestamp"] = far[band(39, 56)]
    df.loc[band(56, 73), "amount"] = None
    # Tier-2: loaded and flagged
    m = band(73, 103)
    df.loc[m, "merchant_id"] = [f"MERCH_9{k}" for k in rng.integers(100, 1000, m.sum())]
    m = band(103, 133)
    df.loc[m, "amount"] = -df.loc[m, "amount"]
    # Tier-3: COALESCE-fixed
    df.loc[band(133, 177), "product_name"] = None
    df.loc[band(177, 222), "device_type"] = None
    df.loc[band(222, 266), "location_type"] = None
    clean = np.flatnonzero(r4 >= 266)

    # CDC updates: the previous day's transactions, now Successful
    n_upd = rows // 100
    prev = rng.choice(rows, n_upd, replace=False)
    upd = df.iloc[clean[:n_upd]].copy()
    upd["transaction_id"] = [f"TXN_202403{day - 1:02d}_{i:06d}" for i in prev]
    upd["transaction_status"] = "Successful"
    upd["updated_at"] = f"2024-03-{day:02d} 19:00:00"
    # exact copies of clean rows
    n_dup = rows // 200
    dups = df.iloc[rng.choice(clean, n_dup, replace=False)]
    return pd.concat([df, upd, dups], ignore_index=True), n_dup


def write_day_csvs(out_dir: str, seed: int, days: list[int], rows: int) -> list[dict]:
    """One header-CSV file per day drop; returns, per day, its path,
    row count, byte size and the number of exact duplicate rows."""
    os.makedirs(out_dir, exist_ok=True)
    out = []
    for day in days:
        frame, n_dup = day_frame(seed, day, rows)
        path = os.path.join(out_dir, f"day_{day:02d}.csv")
        frame.to_csv(path, index=False)
        out.append({"day": day, "path": path, "rows": len(frame),
                    "bytes": os.path.getsize(path), "dups": n_dup})
    return out
