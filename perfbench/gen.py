"""Seeded input generators for the benchmark.

Everything the program reads during a benchmark run is made here from
``--seed``: the same seed writes byte-identical files. Three inputs:

- ``write_tables``: the TPC-H-like star schema plus ``events``,
  ``documents`` and ``embeddings`` at a scale factor, with the column
  names, types and value distributions of the engine's test tables
  (uniform keys and categories, exponential event values, 5% of the
  documents near-duplicates of another document, unit-norm 64-d
  embeddings);
- ``write_ratings_csv``: a headerless MovieLens-profile ratings CSV
  (ml-latest-small shape: ~670 users, ~9 k items, power-law item
  popularity, ratings in 0.5 steps);
- ``split_arrivals``: the seeded split of ``events`` into arrival files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

DAY_US = 86_400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _days(rng: np.random.Generator, n: int, start_us: int, span_days: int) -> pa.Array:
    d = rng.integers(0, span_days, n)
    return pa.array(start_us + d * DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), lengths.sum())]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    text = [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(n)]
    # 5% near-duplicates: another document's text plus one extra word
    for i in rng.choice(n, n // 20, replace=False):
        text[i] = text[int(rng.integers(0, n))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(text, pa.string()),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    e = rng.standard_normal((n, dim)).astype(np.float32)
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    flat = pa.array(e.ravel(), pa.float32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n * dim + 1, dim), pa.int32()), flat
            ),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def events_table(seed: int, sf: float) -> pa.Table:
    rng = np.random.default_rng([seed, 8])
    n, users = int(1_000_000 * sf), max(1, int(15_000 * sf))
    ts = np.sort(rng.integers(0, 30 * DAY_US, n)) + EPOCH_2024
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten engine tables at scale factor ``sf`` into ``out_dir``."""
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    # one stream per table, so a table's contents do not depend on the others
    rng = {t: np.random.default_rng([seed, i]) for i, t in enumerate(
        ["customer", "supplier", "part", "orders", "lineitem", "documents", "embeddings"]
    )}

    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    }
    r = rng["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(r, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(r, SEGMENTS, n_cust),
        }
    )
    r = rng["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(r, n_supp, -999.99, 9999.99),
        }
    )
    r = rng["part"]
    pk = np.arange(n_part)
    adj, noun = r.integers(0, 8, n_part), r.integers(0, 8, n_part)
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)]),
            "p_type": _pick(r, PART_TYPES, n_part),
            "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (pk % 1000) / 10, 1),
        }
    )
    r = rng["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(r, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(r, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(r, n_ord, EPOCH_1995, 2404),
            "o_orderpriority": _pick(r, PRIORITIES, n_ord),
        }
    )
    r = rng["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
            "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(r, n_li, 900.0, 105000.0),
            "l_discount": r.integers(0, 11, n_li) / 100.0,
            "l_tax": r.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(r, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(r, ["F", "O"], n_li),
            "l_shipdate": _days(r, n_li, EPOCH_1995 + DAY_US, 2499),
        }
    )
    tables["events"] = events_table(seed, sf)
    tables["documents"] = _documents(rng["documents"], n_doc)
    tables["embeddings"] = _embeddings(rng["embeddings"], n_emb)

    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def write_ratings_csv(
    path: str, seed: int, users: int = 670, items: int = 9000, ratings: int = 100_000
) -> None:
    """Headerless ``user_id,movie_id,rating,ts_epoch`` CSV, ml-latest-small
    shaped: item popularity follows a Zipf-like law, each user rates each
    item at most once, ratings are 0.5..5.0 in 0.5 steps and lean on a
    per-user bias plus a per-item quality, so a factor model has signal."""
    rng = np.random.default_rng([seed, 100])
    pop = 1.0 / np.arange(1, items + 1) ** 0.9
    pop /= pop.sum()
    activity = rng.pareto(1.2, users) + 1.0
    per_user = np.maximum(20, (activity / activity.sum() * ratings)).astype(int)
    per_user = np.minimum(per_user, items // 3)
    user_bias = rng.normal(0.0, 0.4, users)
    item_q = rng.normal(0.0, 0.6, items)
    u_f, i_f = rng.normal(0, 0.5, (users, 3)), rng.normal(0, 0.5, (items, 3))
    item_ids = rng.permutation(items) + 1
    rows = []
    for u in range(users):
        picked = rng.choice(items, per_user[u], replace=False, p=pop)
        raw = 3.5 + user_bias[u] + item_q[picked] + i_f[picked] @ u_f[u]
        raw += rng.normal(0, 0.6, len(picked))
        stars = np.clip(np.round(raw * 2) / 2, 0.5, 5.0)
        ts = 1_100_000_000 + rng.integers(0, 400_000_000, len(picked))
        rows.append(np.column_stack([np.full(len(picked), u + 1), item_ids[picked], stars, ts]))
    data = np.concatenate(rows)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for uid, mid, star, ts in data:
            f.write(f"{int(uid)},{int(mid)},{star:.1f},{int(ts)}\n")


def split_arrivals(events: pa.Table, out_dir: str, seed: int, n_files: int) -> list[str]:
    """Assign each ``(user_id, value)`` event to one of ``n_files`` arrival
    files by a seeded key and write them, unpublished, under
    ``out_dir/staged``; the caller publishes each by atomic rename.
    Returns the staged file paths in arrival order."""
    rng = np.random.default_rng([seed, 200])
    slot = rng.integers(0, n_files, events.num_rows)
    staged = os.path.join(out_dir, "staged")
    os.makedirs(staged, exist_ok=True)
    body = events.select(["user_id", "value"])
    paths = []
    for i in range(n_files):
        p = os.path.join(staged, f"part-{i:04d}.parquet")
        pq.write_table(body.filter(pa.array(slot == i)), p)
        paths.append(p)
    return paths
