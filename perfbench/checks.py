"""Output checks, run outside the timed region.

- Queries with a DuckDB oracle: both results are hash-compared after
  ``testing.normalize`` over the same generated inputs.
- The six approximate queries without an oracle: exact recomputation of
  every emitted pair or neighbour (cheap at the benchmark's scale) plus
  schema and non-empty output; SimHash pairs against the brute-force pairs
  of the documents' fingerprints.
- medallion_etl: each gold mart against DuckDB SQL of the reference
  semantics (bronze CSV → silver cleaning → gold), over the same CSVs.

Every check returns ``None`` when the output is correct and a one-line
reason otherwise.
"""

from __future__ import annotations

import datetime
import decimal
import os

import duckdb
import numpy as np
import pandas as pd

from datagen import OLIST_FILE_NAMES
from etl_ecommerce_data_spark.testing import diff_rows, normalize


def oracle_check(spark_pdf: pd.DataFrame, con: duckdb.DuckDBPyConnection, sql: str) -> str | None:
    s, o = normalize(spark_pdf), normalize(con.execute(sql).df())
    if len(s) != len(o):
        return f"rowcount spark={len(s)} oracle={len(o)}"
    if s != o:
        only_s, only_o = diff_rows(s, o)
        return f"value mismatch: spark-only {only_s} oracle-only {only_o}"
    return None


# --- approximate queries ----------------------------------------------------

def _schema(pdf: pd.DataFrame, cols: list[str]) -> str | None:
    if list(pdf.columns) != cols:
        return f"schema {list(pdf.columns)} != {cols}"
    if pdf.empty:
        return "empty output"
    return None


def _token_sets(docs: pd.DataFrame) -> dict[int, set[str]]:
    return {int(i): set(t.split()) for i, t in zip(docs.doc_id, docs.text)}


def _jaccard_pairs(pdf, docs, a: str, b: str, threshold: float) -> str | None:
    toks = _token_sets(docs)
    for x, y, n_inter, jac in zip(pdf[a], pdf[b], pdf.n_inter, pdf.jaccard):
        ta, tb = toks[int(x)], toks[int(y)]
        inter = len(ta & tb)
        exact = inter / len(ta | tb)
        if inter != n_inter or abs(exact - jac) > 1e-9 or exact < threshold:
            return f"pair ({x},{y}): reported n_inter={n_inter} jaccard={jac}, exact {inter} {exact}"
    return None


def _vectors(emb: pd.DataFrame) -> dict[int, np.ndarray]:
    return {int(i): np.asarray(v, dtype=np.float64) for i, v in zip(emb.vec_id, emb.embedding)}


def _cos(u: np.ndarray, v: np.ndarray) -> float:
    return float(u @ v / (np.linalg.norm(u) * np.linalg.norm(v)))


def _topk(pdf, emb, k: int, n_queries: int) -> str | None:
    vec = _vectors(emb)
    for q, g in pdf.groupby("query_id"):
        if not 0 <= q < n_queries or len(g) > k:
            return f"query {q}: {len(g)} rows"
        g = g.sort_values("rank")
        if list(g["rank"]) != list(range(1, len(g) + 1)):
            return f"query {q}: ranks {list(g['rank'])}"
        if np.any(np.diff(g.cosine_sim.values) > 1e-9):
            return f"query {q}: scores not descending"
        for nb, sim in zip(g.neighbor_id, g.cosine_sim):
            if abs(_cos(vec[int(q)], vec[int(nb)]) - sim) > 1e-5:
                return f"query {q} neighbour {nb}: reported {sim}"
    return None


def _simhashes(spark, data_dir: str) -> pd.DataFrame:
    """Every document's 64-bit SimHash, from the engine's ``simhash64``."""
    from pyspark.sql import functions as F

    from etl_ecommerce_data_spark.operators import dedup as DD
    from etl_ecommerce_data_spark.sources.registry import load_table

    docs = load_table(spark, data_dir, "documents")
    return docs.select("doc_id", DD.simhash64(F.col("text")).alias("h")).toPandas()


def _simhash_pairs(pdf: pd.DataFrame, fp: pd.DataFrame, max_hamming: int) -> str | None:
    """The emitted pairs are exactly the brute-force pairs within
    ``max_hamming``, each with its exact Hamming distance."""
    fp = fp.dropna().sort_values("doc_id")
    ids = fp.doc_id.to_numpy()
    h = fp.h.astype("int64").to_numpy().view(np.uint64)
    x = (h[:, None] ^ h[None, :]).view(np.uint8).reshape(len(h), len(h), 8)
    dist = np.unpackbits(x, axis=2).sum(axis=2)
    ia, ib = np.nonzero(np.triu(dist <= max_hamming, k=1))
    want = {(int(ids[i]), int(ids[j])): int(dist[i, j]) for i, j in zip(ia, ib)}
    got = {(int(a), int(b)): int(d) for a, b, d in zip(pdf.doc_a, pdf.doc_b, pdf.hamming)}
    if len(got) != len(pdf):
        return "duplicate pairs"
    if got != want:
        wrong = sorted(set(got.items()) ^ set(want.items()))[:3]
        return f"{len(got)} pairs, brute force {len(want)}; first differences {wrong}"
    return None


def approx_check(
    name: str, pdf: pd.DataFrame, con: duckdb.DuckDBPyConnection, spark, data_dir: str
) -> str | None:
    """Check an oracle-less query's output; ``spark`` and ``data_dir`` serve
    the checks that recompute with Spark outside the timer."""
    def docs() -> pd.DataFrame:
        return con.execute("SELECT doc_id, text FROM documents").df()

    def emb() -> pd.DataFrame:
        return con.execute("SELECT vec_id, embedding FROM embeddings").df()

    if name == "dedup_minhash_docs":
        return _schema(pdf, ["doc_a", "doc_b", "n_inter", "jaccard"]) or _jaccard_pairs(
            pdf, docs(), "doc_a", "doc_b", 0.6
        )
    if name == "dedup_simhash_docs":
        return _schema(pdf, ["doc_a", "doc_b", "hamming"]) or _simhash_pairs(
            pdf, _simhashes(spark, data_dir), max_hamming=3
        )
    if name in ("similarity_topk_lsh", "similarity_topk_ivf"):
        return _schema(pdf, ["query_id", "neighbor_id", "cosine_sim", "rank"]) or _topk(
            pdf, emb(), k=5, n_queries=10
        )
    if name == "embedding_near_dup":
        err = _schema(pdf, ["vec_a", "vec_b", "cosine_sim"])
        if err:
            return err
        vec = _vectors(emb())
        for a, b, sim in zip(pdf.vec_a, pdf.vec_b, pdf.cosine_sim):
            exact = _cos(vec[int(a)], vec[int(b)])
            if a >= b or abs(exact - sim) > 1e-5 or exact < 0.4 - 1e-9:
                return f"pair ({a},{b}): reported {sim}, exact {exact}"
        return None
    if name == "embedding_pca_variance":
        err = _schema(pdf, ["component", "eigenvalue", "explained_variance_ratio"])
        if err:
            return err
        x = np.stack(list(_vectors(emb()).values()))
        vals = np.linalg.eigvalsh(x.T @ x / len(x))[::-1]
        got = pdf.sort_values("component")
        if len(got) != len(vals) or not np.allclose(got.eigenvalue, vals, rtol=1e-6, atol=1e-9):
            return "eigenvalues differ from the exact second-moment spectrum"
        if not np.allclose(got.explained_variance_ratio, vals / vals.sum(), atol=1e-9):
            return "explained variance ratios differ"
        return None
    return f"no check defined for {name}"


# --- medallion_etl ----------------------------------------------------------

_TS = "try_strptime({c}, '%Y-%m-%d %H:%M:%S')"

# Reference semantics (to_silver.py / to_gold.py) with the engine's
# deterministic key-dedup survivor: the minimum of the order-by column.
_SILVER = f"""
CREATE TABLE s_orders AS
SELECT order_id, customer_id, coalesce(order_status, 'pending') AS order_status,
       {_TS.format(c="order_purchase_timestamp")} AS order_purchase_timestamp,
       {_TS.format(c="order_delivered_customer_date")} AS order_delivered_customer_date,
       {_TS.format(c="order_estimated_delivery_date")} AS order_estimated_delivery_date
FROM (SELECT DISTINCT * FROM b_orders);

CREATE TABLE s_customers AS
SELECT customer_id, lower(trim(customer_city, ' ')) AS customer_city,
       upper(trim(customer_state, ' ')) AS customer_state
FROM (SELECT *, row_number() OVER (PARTITION BY customer_id
                                   ORDER BY customer_unique_id NULLS FIRST) AS rn
      FROM b_customers)
WHERE rn = 1 AND customer_id IS NOT NULL AND customer_unique_id IS NOT NULL
  AND customer_zip_code_prefix IS NOT NULL AND customer_city IS NOT NULL
  AND customer_state IS NOT NULL;

CREATE TABLE s_items AS
SELECT order_id, product_id, seller_id,
       CAST(CAST(price AS DOUBLE) AS DECIMAL(10,2)) AS price,
       CAST(CAST(freight_value AS DOUBLE) AS DECIMAL(10,2)) AS freight_value
FROM b_order_items
WHERE CAST(CAST(price AS DOUBLE) AS DECIMAL(10,2)) > 0
  AND CAST(CAST(freight_value AS DOUBLE) AS DECIMAL(10,2)) >= 0;

CREATE TABLE s_products AS
SELECT p.product_id,
       coalesce(t.product_category_name_english, p.product_category_name, 'unknown')
         AS product_category_name_english
FROM (SELECT *, row_number() OVER (PARTITION BY product_id
                                   ORDER BY product_category_name NULLS FIRST) AS rn
      FROM b_products) p
LEFT JOIN b_product_category_name_translation t USING (product_category_name)
WHERE p.rn = 1;

CREATE TABLE s_sellers AS
SELECT seller_id, upper(trim(seller_state, ' ')) AS seller_state
FROM (SELECT *, row_number() OVER (PARTITION BY seller_id
                                   ORDER BY CAST(seller_zip_code_prefix AS INT) NULLS FIRST) AS rn
      FROM b_sellers)
WHERE rn = 1;

CREATE TABLE s_reviews AS
SELECT review_id, order_id, coalesce(CAST(review_score AS INT), 0) AS review_score,
       {_TS.format(c="review_creation_date")} AS review_creation_date
FROM (SELECT *, row_number() OVER (PARTITION BY review_id ORDER BY order_id NULLS FIRST) AS rn
      FROM b_order_reviews)
WHERE rn = 1;
"""

_DAYS = "date_diff('day', CAST({a} AS DATE), CAST({b} AS DATE))"

GOLD_SQL = {
    "daily_sales": """
SELECT CAST(o.order_purchase_timestamp AS DATE) AS date, count(o.order_id) AS total_orders,
       sum(i.price) AS total_revenue, avg(i.price) AS avg_order_value,
       sum(i.freight_value) AS total_freight
FROM s_items i JOIN s_orders o USING (order_id) GROUP BY 1""",
    "customer_metrics": f"""
SELECT c.customer_id, c.customer_state,
       strftime(min(o.order_purchase_timestamp), '%Y-%m-%d') AS first_purchase_date,
       strftime(max(o.order_purchase_timestamp), '%Y-%m-%d') AS last_purchase_date,
       count(o.order_id) AS total_orders, sum(i.price) AS total_spent,
       avg(i.price) AS avg_order_value,
       {_DAYS.format(a="min(o.order_purchase_timestamp)", b="max(o.order_purchase_timestamp)")}
         AS customer_lifetime_days
FROM s_items i JOIN s_orders o USING (order_id) JOIN s_customers c USING (customer_id)
GROUP BY 1, 2""",
    "product_performance": """
SELECT p.product_id, p.product_category_name_english, count(i.order_id) AS total_orders,
       sum(i.price) AS total_revenue, avg(i.price) AS avg_price,
       sum(i.freight_value) AS total_freight
FROM s_items i JOIN s_products p USING (product_id) GROUP BY 1, 2""",
    "seller_performance": f"""
SELECT s.seller_id, s.seller_state, count(o.order_id) AS total_orders,
       sum(i.price) AS total_revenue, avg(i.price) AS avg_order_value,
       avg({_DAYS.format(a="o.order_purchase_timestamp", b="o.order_delivered_customer_date")})
         AS avg_delivery_time
FROM s_items i JOIN s_sellers s USING (seller_id) JOIN s_orders o USING (order_id)
GROUP BY 1, 2""",
    "satisfaction_metrics": """
SELECT r.order_id, strftime(r.review_creation_date, '%Y-%m-%d') AS review_date,
       avg(r.review_score) AS avg_review_score, count(r.review_id) AS total_reviews
FROM s_reviews r JOIN s_orders o USING (order_id) GROUP BY 1, 2""",
    "delivery_performance": f"""
SELECT order_status, count(order_id) AS total_orders, avg(delay) AS avg_delivery_delay,
       avg(days) AS avg_delivery_days,
       sum(CASE WHEN delay > 0 THEN 1 ELSE 0 END) AS late_deliveries
FROM (SELECT *,
        {_DAYS.format(a="order_estimated_delivery_date", b="order_delivered_customer_date")} AS delay,
        {_DAYS.format(a="order_purchase_timestamp", b="order_delivered_customer_date")} AS days
      FROM s_orders)
GROUP BY 1""",
}


def reference_gold(csv_dir: str) -> dict[str, pd.DataFrame]:
    """The six gold marts computed by DuckDB from the CSVs alone."""
    con = duckdb.connect()
    try:
        for table, name in OLIST_FILE_NAMES.items():
            path = os.path.join(csv_dir, name)
            con.execute(
                f"CREATE VIEW b_{table} AS SELECT * FROM "
                f"read_csv('{path}', header=true, all_varchar=true)"
            )
        con.execute(_SILVER)
        return {name: con.execute(sql).df() for name, sql in GOLD_SQL.items()}
    finally:
        con.close()


def _plain(col: pd.Series) -> pd.Series:
    """Decimal/date/timestamp cells as floats/ISO strings, for comparison."""
    if col.dtype == object:
        present = col.dropna()
        first = present.iloc[0] if len(present) else None
        if isinstance(first, decimal.Decimal):
            return col.astype(float)
        if isinstance(first, datetime.date):
            return col.map(lambda v: None if v is None else v.isoformat()[:10])
        return col
    if np.issubdtype(col.dtype, np.datetime64):
        return col.dt.strftime("%Y-%m-%d")
    return col.astype(float)


def frames_match(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Same rows, keyed by the non-numeric columns; numbers within 1e-6."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rowcount {len(got)} != {len(want)}"
    cols = sorted(got.columns)
    g = pd.DataFrame({c: _plain(got[c]) for c in cols})
    w = pd.DataFrame({c: _plain(want[c].reset_index(drop=True)) for c in cols})
    keys = [c for c in cols if g[c].dtype == object]
    g = g.sort_values(keys, na_position="first").reset_index(drop=True)
    w = w.sort_values(keys, na_position="first").reset_index(drop=True)
    for c in cols:
        if c in keys:
            if not g[c].fillna("<null>").equals(w[c].fillna("<null>")):
                return f"column {c} differs"
        elif not np.allclose(g[c].values, w[c].values, rtol=1e-9, atol=1e-6, equal_nan=True):
            return f"column {c} differs"
    return None
