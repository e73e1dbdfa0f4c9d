"""Seeded input generation for the benchmark (numpy + pyarrow only).

The engine sees only the parquet files written here. Shapes follow the
sf0.1 fixture tables the engine's registry was built against (TPC-H-ish
star schema plus ``events``, ``documents`` and ``embeddings``), so every
registry query and its DuckDB oracle run unchanged on them.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_MS = 86_400_000
HOUR_MS = 3_600_000
MONTH_START_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
MONTH_DAYS = 30
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
WORDS = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split()
)
_PROPS = np.array([f'{{"k": {k}}}' for k in range(100)])


def events_table(
    rng: np.random.Generator,
    n: int,
    start_ms: int,
    span_ms: int,
    users: int = 1500,
    first_id: int = 0,
) -> pa.Table:
    """``n`` events uniform over [start, start+span), sorted by time."""
    start_us = start_ms * 1000
    ts = np.sort(rng.integers(start_us, start_us + span_ms * 1000, n))
    return pa.table(
        {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, users, n),
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": _PROPS[rng.integers(0, len(_PROPS), n)],
        }
    )


def write_events(path: str, *parts: pa.Table) -> pa.Table:
    """Concatenate event parts into one ``events.parquet`` under ``path``."""
    table = pa.concat_tables(parts)
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "events.parquet"))
    return table


def expected_cells(events: pa.Table, start_ms: int, end_ms: int) -> int:
    """Number of distinct (metric, hour, user, offset) cells a bulkload of
    [start_ms, end_ms) adopts, counted in numpy.

    The service keeps whole hours in [floor_hour(start), floor_hour(end))
    and dedups every cell to its latest version, so a cell is one
    (event_type, user, second) triple inside the hour window.
    """
    ts_sec = events.column("ts").cast(pa.int64()).to_numpy() // 1_000_000
    hour_ms = (ts_sec - ts_sec % 3600) * 1000
    lo = start_ms - start_ms % HOUR_MS
    hi = end_ms - end_ms % HOUR_MS
    keep = (hour_ms >= lo) & (hour_ms < hi)
    metric = np.searchsorted(
        EVENT_TYPES, events.column("event_type").to_numpy(zero_copy_only=False)
    )
    user = events.column("user_id").to_numpy()
    key = np.stack([metric[keep], user[keep], ts_sec[keep]], axis=1)
    return int(len(np.unique(key, axis=0)))


def cell_versions(events: pa.Table, start_ms: int, end_ms: int) -> int:
    """Cell versions the service reads for [start_ms, end_ms): one per
    event in the hour window plus the synthetic newer version that
    ``tsdb.derive_tsdb_cells`` adds for every 20th event id."""
    ts_ms = events.column("ts").cast(pa.int64()).to_numpy() // 1000
    hour_ms = ts_ms - ts_ms % HOUR_MS
    keep = (hour_ms >= start_ms - start_ms % HOUR_MS) & (hour_ms < end_ms - end_ms % HOUR_MS)
    ids = events.column("event_id").to_numpy()[keep]
    return int(keep.sum() + (ids % 20 == 0).sum())


def lookup_join_rows(sf_dir: str, customers: int) -> int:
    """Rows of the lookup join of every third order with the
    customer-nation htable rows of customer keys below ``customers``,
    joined in pyarrow."""
    def read(name, cols):
        return pq.read_table(os.path.join(sf_dir, f"{name}.parquet"), columns=cols)

    orders = read("orders", ["o_orderkey", "o_custkey"])
    orders = orders.filter(orders["o_orderkey"].to_numpy() % 3 == 0)
    cust = read("customer", ["c_custkey", "c_nationkey"])
    htable = cust.filter(cust["c_custkey"].to_numpy() < customers).join(
        read("nation", ["n_nationkey"]), "c_nationkey", "n_nationkey", join_type="inner"
    )
    return orders.join(htable, "o_custkey", "c_custkey", join_type="inner").num_rows


def write_sf_tables(path: str, rng: np.random.Generator) -> None:
    """The ten sf0.1-shaped tables the registry reads, one parquet each."""
    os.makedirs(path, exist_ok=True)
    n_cust, n_supp, n_part, n_ord, n_li, n_ev = 15_000, 1_000, 20_000, 150_000, 600_000, 100_000

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(path, f"{name}.parquet"))

    def cents(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start: str, n_days: int, n: int) -> pa.Array:
        d = np.datetime64(start, "us") + rng.integers(0, n_days, n) * np.timedelta64(1, "D")
        return pa.array(d, pa.timestamp("us"))

    put("region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": cents(-999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": cents(-999.99, 9999.99, n_supp),
    })
    adjectives = np.array(["blue", "cold", "hot", "large", "old", "red", "small", "tiny"])
    nouns = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    put("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(
            np.char.add(adjectives[rng.integers(0, 8, n_part)], " "),
            nouns[rng.integers(0, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(n_part) % 1000 * 0.1, 2),
    })
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": cents(1000.0, 500000.0, n_ord),
        "o_orderdate": days("1995-01-01", 2404, n_ord),
        "o_orderpriority": priorities[rng.integers(0, 5, n_ord)],
    })
    put("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": cents(900.0, 105000.0, n_li),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": days("1995-01-02", 2498, n_li),
    })
    write_events(path, events_table(rng, n_ev, MONTH_START_MS, MONTH_DAYS * DAY_MS))
    n_docs = 5_000
    texts = [
        " ".join(WORDS[rng.integers(0, len(WORDS), k)])
        for k in rng.integers(10, 101, n_docs)
    ]
    for i in rng.choice(n_docs, 8, replace=False):  # exact duplicates for dedup
        texts[i] = texts[(i + 1) % n_docs]
    put("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(["de", "en", "en", "en", "es", "fr", "zh"])[rng.integers(0, 7, n_docs)],
        "source": np.char.add("src", (np.arange(n_docs) % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    n_vec, dim = 2_000, 64
    vec = rng.normal(size=(n_vec, dim)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(vec.ravel(), dim).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })
