"""Seeded input generator for the benchmark.

Two families, both byte-identical for the same seed:

- ``write_star``: the engine's synthetic star (region … lineitem, events,
  documents, embeddings) as one parquet file per table, with the value
  domains of the engine's test fixtures (same columns, types, categorical
  values and key ranges).
- ``write_olist_csvs``: Olist-shaped source CSVs for the medallion pipeline,
  derived from the star, with seeded dirty rows (exact duplicates, duplicate
  keys, NULL status/score, non-positive price, negative freight, padded
  mixed-case cities and states).

The engine only ever receives the written files.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at the benchmark's scale (the fixtures' sf0.01 sizes).
SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "event_users": 150,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EPOCH_ORDERS = np.datetime64("1995-01-01T00:00:00", "us")
EPOCH_EVENTS = np.datetime64("2024-01-01T00:00:00", "us")


def _rng(seed: int, stream: int) -> np.random.Generator:
    """One independent stream per table, so adding a column to one table
    never shifts the values of another."""
    return np.random.default_rng([seed, stream])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _days(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    return EPOCH_ORDERS + rng.integers(lo, hi, n) * np.timedelta64(1, "D")


def star_tables(seed: int) -> dict[str, pd.DataFrame]:
    n = SIZES
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    r = _rng(seed, 1)
    k = np.arange(n["customer"], dtype=np.int64)
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": k,
            "c_name": [f"Customer#{i:09d}" for i in k],
            "c_nationkey": r.integers(0, 25, k.size).astype(np.int32),
            "c_acctbal": _money(r, -999.99, 9999.99, k.size),
            "c_mktsegment": r.choice(SEGMENTS, k.size),
        }
    )
    r = _rng(seed, 2)
    k = np.arange(n["supplier"], dtype=np.int64)
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": k,
            "s_name": [f"Supplier#{i:09d}" for i in k],
            "s_nationkey": r.integers(0, 25, k.size).astype(np.int32),
            "s_acctbal": _money(r, -999.99, 9999.99, k.size),
        }
    )
    r = _rng(seed, 3)
    k = np.arange(n["part"], dtype=np.int64)
    t["part"] = pd.DataFrame(
        {
            "p_partkey": k,
            "p_name": [
                f"{a} {b}"
                for a, b in zip(r.choice(PART_ADJ, k.size), r.choice(PART_NOUN, k.size))
            ],
            "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, k.size)],
            "p_type": r.choice(PART_TYPES, k.size),
            "p_size": r.integers(1, 51, k.size).astype(np.int32),
            "p_retailprice": np.round(900.0 + (k % 1000) * 0.1, 2),
        }
    )
    r = _rng(seed, 4)
    k = np.arange(n["orders"], dtype=np.int64)
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": k,
            "o_custkey": r.integers(0, n["customer"], k.size),
            "o_orderstatus": r.choice(["F", "O", "P"], k.size),
            "o_totalprice": _money(r, 1000.0, 500000.0, k.size),
            "o_orderdate": _days(r, 0, 2404, k.size),
            "o_orderpriority": r.choice(PRIORITIES, k.size),
        }
    )
    r = _rng(seed, 5)
    m = n["lineitem"]
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": r.integers(0, n["orders"], m),
            "l_partkey": r.integers(0, n["part"], m),
            "l_suppkey": r.integers(0, n["supplier"], m),
            "l_linenumber": r.integers(1, 8, m).astype(np.int32),
            "l_quantity": r.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _money(r, 900.0, 105000.0, m),
            "l_discount": r.integers(0, 11, m) / 100.0,
            "l_tax": r.integers(0, 9, m) / 100.0,
            "l_returnflag": r.choice(["A", "N", "R"], m),
            "l_linestatus": r.choice(["F", "O"], m),
            "l_shipdate": _days(r, 1, 2499, m),
        }
    )
    r = _rng(seed, 6)
    m = n["events"]
    gaps = np.maximum(r.exponential(259e6, m).astype(np.int64), 1)
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(m, dtype=np.int64),
            "ts": EPOCH_EVENTS + np.cumsum(gaps) * np.timedelta64(1, "us"),
            "user_id": r.integers(0, n["event_users"], m),
            "event_type": r.choice(EVENT_TYPES, m),
            "value": np.maximum(np.round(r.exponential(49.6, m), 2), 0.01),
            "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, m)],
        }
    )
    t["documents"] = _documents(_rng(seed, 7), n["documents"])
    r = _rng(seed, 8)
    m = n["embeddings"]
    e = r.standard_normal((m, 64))
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(m, dtype=np.int64),
            "embedding": list(e.astype(np.float32)),
            "label": r.integers(0, 10, m).astype(np.int32),
        }
    )
    return t


def _documents(r: np.random.Generator, m: int) -> pd.DataFrame:
    """Random-word documents; about 5% are an earlier document with ' dup'
    appended (the near-duplicates the dedup operators look for)."""
    texts: list[str] = []
    for i in range(m):
        if i > 10 and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(r.choice(VOCAB, int(r.integers(8, 100)))))
    return pd.DataFrame(
        {
            "doc_id": np.arange(m, dtype=np.int64),
            "text": texts,
            "lang": r.choice(LANGS, m, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(m)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )


def write_star(out_dir: str, seed: int) -> int:
    """Write every star table as ``<out_dir>/<name>.parquet``; returns bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, df in star_tables(seed).items():
        schema = None
        if name == "embeddings":
            schema = pa.schema(
                [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                 ("label", pa.int32())]
            )
        table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table.replace_schema_metadata(None), path)
        total += os.path.getsize(path)
    return total


# --- Olist-shaped CSVs for the medallion pipeline ---------------------------

OLIST_STATUSES = [
    "approved", "canceled", "created", "delivered",
    "invoiced", "processing", "shipped", "unavailable",
]
CITIES = ["sao paulo", "rio de janeiro", "belo horizonte", "curitiba", "recife", "salvador"]
STATES = ["sp", "rj", "mg", "pr", "pe", "ba"]
N_CATEGORIES = 72
TS_FMT = "%Y-%m-%d %H:%M:%S"


def _fmt_ts(a: np.ndarray) -> pd.Series:
    return pd.Series(pd.to_datetime(a)).dt.strftime(TS_FMT)


def _dirty_case(r: np.random.Generator, values: np.ndarray) -> list[str]:
    """Randomly pad and re-case a third of the values."""
    out = []
    for v, roll in zip(values, r.random(len(values))):
        if roll < 0.15:
            v = f"  {v.upper()} "
        elif roll < 0.3:
            v = f" {v.title()}"
        out.append(v)
    return out


def _dup_rows(r: np.random.Generator, df: pd.DataFrame, share: float) -> pd.DataFrame:
    """Append exact copies of a random ``share`` of the rows."""
    idx = np.sort(r.choice(len(df), int(len(df) * share), replace=False))
    return pd.concat([df, df.iloc[idx]], ignore_index=True)


def olist_tables(seed: int) -> dict[str, pd.DataFrame]:
    star = star_tables(seed)
    o, li, c = star["orders"], star["lineitem"], star["customer"]
    r = _rng(seed, 20)
    out: dict[str, pd.DataFrame] = {}

    # orders: ~2% NULL status, 2% exact duplicate rows, undelivered = NULL dates
    purchase = o.o_orderdate.values + r.integers(0, 86400, len(o)) * np.timedelta64(1, "s")
    status = r.choice(OLIST_STATUSES, len(o), p=[0.05, 0.05, 0.05, 0.6, 0.05, 0.05, 0.1, 0.05])
    delivered = status == "delivered"
    status = np.where(r.random(len(o)) < 0.02, None, status)
    carrier = purchase + r.integers(1, 5 * 86400, len(o)) * np.timedelta64(1, "s")
    arrive = carrier + r.integers(1, 25 * 86400, len(o)) * np.timedelta64(1, "s")
    est = purchase + r.integers(7, 30, len(o)) * np.timedelta64(1, "D")
    orders = pd.DataFrame(
        {
            "order_id": [f"ord{k:08d}" for k in o.o_orderkey],
            "customer_id": [f"cus{k:08d}" for k in o.o_custkey],
            "order_status": status,
            "order_purchase_timestamp": _fmt_ts(purchase),
            "order_approved_at": _fmt_ts(purchase + np.timedelta64(3600, "s")),
            "order_delivered_carrier_date": _fmt_ts(carrier).where(delivered, None),
            "order_delivered_customer_date": _fmt_ts(arrive).where(delivered, None),
            "order_estimated_delivery_date": _fmt_ts(est),
        }
    )
    out["orders"] = _dup_rows(r, orders, 0.02)

    # customers: 2% duplicate ids (different unique id), 1% missing zip
    n = len(c)
    cust = pd.DataFrame(
        {
            "customer_id": [f"cus{k:08d}" for k in c.c_custkey],
            "customer_unique_id": [f"u{k:08d}" for k in r.permutation(n)],
            "customer_zip_code_prefix": pd.array(r.integers(1000, 99999, n), dtype="Int64"),
            "customer_city": _dirty_case(r, r.choice(CITIES, n)),
            "customer_state": _dirty_case(r, r.choice(STATES, n)),
        }
    )
    cust.loc[r.random(n) < 0.01, "customer_zip_code_prefix"] = pd.NA
    dup = cust.sample(frac=0.02, random_state=seed % 2**32).copy()
    dup["customer_unique_id"] = [f"v{k:08d}" for k in range(len(dup))]
    out["customers"] = pd.concat([cust, dup], ignore_index=True)

    # order items: one per lineitem; 1% non-positive price, 1% negative freight
    m = len(li)
    price = np.round(li.l_extendedprice.values / 100.0, 2)
    freight = np.round(li.l_quantity.values * 0.37, 2)
    roll = r.random(m)
    price = np.where(roll < 0.005, 0.0, np.where(roll < 0.01, -price, price))
    freight = np.where((roll >= 0.01) & (roll < 0.02), -freight, freight)
    ship = li.l_shipdate.values + r.integers(0, 86400, m) * np.timedelta64(1, "s")
    out["order_items"] = pd.DataFrame(
        {
            "order_id": [f"ord{k:08d}" for k in li.l_orderkey],
            "order_item_id": li.l_linenumber.values,
            "product_id": [f"prd{k:08d}" for k in li.l_partkey],
            "seller_id": [f"sel{k:08d}" for k in li.l_suppkey],
            "shipping_limit_date": _fmt_ts(ship),
            "price": price,
            "freight_value": freight,
        }
    )

    # products: 3% NULL category; 2% duplicate ids with another category
    p = star["part"]
    n = len(p)
    cat = np.array([f"categoria_{i:02d}" for i in r.integers(0, N_CATEGORIES, n)], dtype=object)
    cat[r.random(n) < 0.03] = None
    prods = pd.DataFrame(
        {
            "product_id": [f"prd{k:08d}" for k in p.p_partkey],
            "product_category_name": cat,
            "product_name_lenght": r.integers(5, 70, n),
            "product_description_lenght": r.integers(20, 3000, n),
            "product_photos_qty": r.integers(1, 10, n),
            "product_weight_g": r.integers(50, 30000, n),
            "product_length_cm": r.integers(10, 100, n),
            "product_height_cm": r.integers(2, 100, n),
            "product_width_cm": r.integers(6, 100, n),
        }
    )
    dup = prods[prods.product_category_name.notna()].sample(frac=0.02, random_state=seed % 2**32).copy()
    dup["product_category_name"] = [f"categoria_{i:02d}" for i in r.integers(0, N_CATEGORIES, len(dup))]
    out["products"] = pd.concat([prods, dup], ignore_index=True)

    # sellers: 3% duplicate ids with another zip
    s = star["supplier"]
    n = len(s)
    sell = pd.DataFrame(
        {
            "seller_id": [f"sel{k:08d}" for k in s.s_suppkey],
            "seller_zip_code_prefix": r.integers(1000, 99999, n),
            "seller_city": _dirty_case(r, r.choice(CITIES, n)),
            "seller_state": _dirty_case(r, r.choice(STATES, n)),
        }
    )
    dup = sell.sample(frac=0.03, random_state=seed % 2**32).copy()
    dup["seller_zip_code_prefix"] = r.integers(1000, 99999, len(dup))
    out["sellers"] = pd.concat([sell, dup], ignore_index=True)

    # reviews: ~90% of orders; 3% NULL score; 2% duplicate review ids
    keep = r.random(len(o)) < 0.9
    ok = o.o_orderkey.values[keep]
    n = len(ok)
    created = purchase[keep] + r.integers(2, 40, n) * np.timedelta64(1, "D")
    score = pd.array(r.integers(1, 6, n), dtype="Int64")
    score[r.random(n) < 0.03] = pd.NA
    rev = pd.DataFrame(
        {
            "review_id": [f"rev{k:08d}" for k in ok],
            "order_id": [f"ord{k:08d}" for k in ok],
            "review_score": score,
            "review_comment_title": None,
            "review_comment_message": np.where(r.random(n) < 0.4, "recomendo", None),
            "review_creation_date": _fmt_ts(created),
            "review_answer_timestamp": _fmt_ts(created + np.timedelta64(7200, "s")),
        }
    )
    dup = rev.sample(frac=0.02, random_state=seed % 2**32).copy()
    dup["order_id"] = [f"ord{k:08d}" for k in r.integers(0, len(o), len(dup))]
    out["order_reviews"] = pd.concat([rev, dup], ignore_index=True)

    # translation: every category but five (those fall back to their own name)
    cats = [f"categoria_{i:02d}" for i in range(N_CATEGORIES)]
    dropped = set(r.choice(cats, 5, replace=False))
    kept = [x for x in cats if x not in dropped]
    out["product_category_name_translation"] = pd.DataFrame(
        {"product_category_name": kept, "product_category_name_english": [f"category_{x[-2:]}" for x in kept]}
    )

    out["order_payments"] = pd.DataFrame(
        {
            "order_id": orders.order_id,
            "payment_sequential": 1,
            "payment_type": r.choice(["boleto", "credit_card", "debit_card", "voucher"], len(orders)),
            "payment_installments": r.integers(1, 10, len(orders)),
            "payment_value": _money(r, 10.0, 2000.0, len(orders)),
        }
    )
    return out


OLIST_FILE_NAMES = {
    "customers": "olist_customers_dataset.csv",
    "order_items": "olist_order_items_dataset.csv",
    "order_payments": "olist_order_payments_dataset.csv",
    "order_reviews": "olist_order_reviews_dataset.csv",
    "orders": "olist_orders_dataset.csv",
    "products": "olist_products_dataset.csv",
    "sellers": "olist_sellers_dataset.csv",
    "product_category_name_translation": "product_category_name_translation.csv",
}


def write_olist_csvs(out_dir: str, seed: int) -> int:
    """Write the Olist CSVs (header row, NULL = empty field); returns bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for table, df in olist_tables(seed).items():
        path = os.path.join(out_dir, OLIST_FILE_NAMES[table])
        df.to_csv(path, index=False, na_rep="", lineterminator="\n", float_format="%.2f")
        total += os.path.getsize(path)
    return total
