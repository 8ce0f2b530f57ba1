"""Output checks computed apart from the program under test.

Exact queries are compared with DuckDB results over the same parquet
files, through this module's own comparator.  Approximate queries are
checked for properties against a numpy brute force.  Nothing here
imports ``kstreamjs_spark``.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math

import numpy as np

# DuckDB text of each exact query's answer, over views named like the
# tables.  Each states the query's documented semantics (including its
# fixed-point rounding), so the answer does not depend on the program.
DUCKDB_SQL = {
    "q07_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               SUM(CAST(FLOOR(l_quantity * 10000 + 0.5) AS BIGINT)) / 10000.0
                   AS sum_qty,
               SUM(CAST(FLOOR(l_extendedprice * 10000 + 0.5) AS BIGINT))
                   / 10000.0 AS sum_base_price,
               SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                        AS BIGINT)) / 10000.0 AS sum_disc_price,
               SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                              * 10000 + 0.5) AS BIGINT)) / 10000.0
                   AS sum_charge,
               ROUND(AVG(l_quantity), 6)       AS avg_qty,
               ROUND(AVG(l_extendedprice), 4)  AS avg_price,
               ROUND(AVG(l_discount), 6)       AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus""",
    "q09_revenue_by_nation": """
        SELECT n_name,
               SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                        AS BIGINT)) / 10000.0 AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY n_name""",
    "q12_top3_orders_per_customer": """
        SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
            FROM orders
        ) WHERE rn <= 3""",
    "q27_cosine_topk": """
        WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
                   WHERE vec_id = 0)
        SELECT vec_id,
               ROUND(list_cosine_similarity(embedding::DOUBLE[], qv), 6)
                   AS score
        FROM embeddings, q
        ORDER BY score DESC, vec_id LIMIT 10""",
}


def duckdb_answers(table_dir: str, names) -> dict[str, tuple[list, list]]:
    """Run each named query's DuckDB text over the parquet tables in
    ``table_dir``; returns name -> (column names, rows)."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        for t in ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_dir}/{t}.parquet')"
            )
        out = {}
        for name in names:
            cur = con.execute(DUCKDB_SQL[name])
            out[name] = ([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


# ------------------------------------------------------------ comparator

def _canon(v):
    """A value in a form both engines agree on: datetimes as naive UTC,
    dates as midnight datetimes, decimals as floats."""
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v
    if isinstance(v, dt.date):
        return dt.datetime(v.year, v.month, v.day)
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def _sort_key(row):
    return tuple(
        (0, round(float(v), 3)) if isinstance(v, (int, float)) and not isinstance(v, bool)
        else (1, "") if v is None
        else (2, str(v))
        for v in row
    )


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def compare_rows(got_cols, got_rows, want_cols, want_rows) -> str | None:
    """Order-insensitive multiset compare of two result sets matched by
    column name.  Returns None when equal, else a one-line reason."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} != {sorted(want_cols)}"
    if len(got_rows) != len(want_rows):
        return f"{len(got_rows)} rows, expected {len(want_rows)}"
    order = sorted(want_cols)
    gi = [got_cols.index(c) for c in order]
    wi = [want_cols.index(c) for c in order]
    got = sorted((tuple(_canon(r[i]) for i in gi) for r in got_rows), key=_sort_key)
    want = sorted((tuple(_canon(r[i]) for i in wi) for r in want_rows), key=_sort_key)
    for g, w in zip(got, want):
        if len(g) != len(w) or not all(_same(x, y) for x, y in zip(g, w)):
            return f"row {g} != expected {w}"
    return None


# ------------------------------------------------ approximate queries

def embedding_matrix(table_dir: str) -> np.ndarray:
    import pyarrow.parquet as pq

    t = pq.read_table(f"{table_dir}/embeddings.parquet").sort_by("vec_id")
    return np.stack(t.column("embedding").to_pylist()).astype("float64")


def check_knn_graph(rows, vecs: np.ndarray, k: int = 20,
                    min_recall: float = 0.9) -> str | None:
    """q218's graph: exactly k out-edges per node ranked 1..k, no self
    edges, every score the true cosine (to its 6 printed decimals), and
    recall against the exact top-k at or above ``min_recall``."""
    n = len(vecs)
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cos = unit @ unit.T
    edges: dict[int, list] = {}
    for src, dst, score, rn in rows:
        edges.setdefault(int(src), []).append((int(rn), int(dst), float(score)))
    if sorted(edges) != list(range(n)):
        return f"graph covers {len(edges)} of {n} nodes"
    exact = np.argsort(-np.where(np.eye(n, dtype=bool), -np.inf, cos), axis=1)[:, :k]
    hits = 0
    for src, lst in edges.items():
        if sorted(rn for rn, _, _ in lst) != list(range(1, k + 1)):
            return f"node {src}: ranks {sorted(rn for rn, _, _ in lst)}"
        dsts = [d for _, d, _ in lst]
        if src in dsts or len(set(dsts)) != k:
            return f"node {src}: self or repeated edge"
        for _, d, s in lst:
            if abs(s - cos[src, d]) > 1.5e-6:
                return f"edge {src}->{d}: score {s} != cosine {cos[src, d]:.7f}"
        hits += len(set(dsts) & set(exact[src].tolist()))
    recall = hits / (n * k)
    if recall < min_recall:
        return f"recall {recall:.3f} < {min_recall}"
    return None
