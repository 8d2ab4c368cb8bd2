"""Expected answers, computed by DuckDB over the same parquet files.

Route oracles are templated from the facade rows in
``etl_backend_spark/registry/facade.py`` and the ``ads_search`` rows in
``registry/reads.py``, with the request's parameters substituted. Batch
queries use the registry's own ``ORACLES``, honouring ``ORACLE_GATES``.
"""

from __future__ import annotations

import base64
import glob
import hashlib
import hmac
import json
import os

import numpy as np
import pandas as pd

LOGIN_SECRET = "engine-secret"

_SORT_SQL = {
    "newest": "o_orderdate DESC",
    "price_low": "o_totalprice ASC",
    "price_high": "o_totalprice DESC",
}


def connect(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for path in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(path)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _lit(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _search_where(p: dict) -> str:
    preds = [f"o_orderstatus = {_lit(p['status'])}"]
    if p.get("search"):
        needle = _lit("%" + p["search"].lower() + "%")
        preds.append(f"(lower(o_orderpriority) LIKE {needle} "
                     f"OR lower(o_orderstatus) LIKE {needle})")
    if p.get("priority"):
        preds.append(f"o_orderpriority = {_lit(p['priority'])}")
    lo, hi = p.get("min_price"), p.get("max_price")
    if lo is not None:
        preds.append(f"o_totalprice >= {lo!r}")
    if hi is not None:
        preds.append(f"o_totalprice <= {hi!r}")
    return " AND ".join(preds)


def route_sql(route: str, a: dict) -> dict[str, str]:
    """{part: SQL} for one request; search_ads has a page and a total."""
    if route == "search_ads":
        where, lim = _search_where(a), a["limit"]
        rows = f"""
        WITH filtered AS (SELECT * FROM orders WHERE {where}),
        counts AS (SELECT l_orderkey, count(*) AS n_items FROM lineitem
                   GROUP BY l_orderkey)
        SELECT f.o_orderkey, f.o_custkey, f.o_orderstatus, f.o_totalprice,
               f.o_orderdate, f.o_orderpriority, c.c_name, c.c_mktsegment,
               coalesce(n.n_items, 0) AS n_items
        FROM filtered f JOIN customer c ON f.o_custkey = c.c_custkey
        LEFT JOIN counts n ON f.o_orderkey = n.l_orderkey
        ORDER BY {_SORT_SQL[a['sort_by']]}, f.o_orderkey DESC
        LIMIT {lim} OFFSET {(a['page'] - 1) * lim}"""
        total = f"""
        SELECT count(*) AS total, CAST(ceil(count(*) / {float(lim)!r}) AS BIGINT)
               AS total_pages FROM orders WHERE {where}"""
        return {"rows": rows, "total": total}
    if route == "get_ad":
        return {"rows": f"""
        SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_totalprice,
               o.o_orderdate, o.o_orderpriority, c.c_name, c.c_mktsegment,
               coalesce(n.n_items, 0) AS n_items
        FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
        LEFT JOIN (SELECT l_orderkey, count(*) AS n_items FROM lineitem
                   GROUP BY l_orderkey) n ON n.l_orderkey = o.o_orderkey
        WHERE o.o_orderkey = {a['order_key']}"""}
    if route == "my_ads":
        return {"rows": f"""
        SELECT * FROM orders WHERE o_custkey = {a['cust_key']}
          AND o_orderstatus <> 'F' ORDER BY o_orderdate DESC, o_orderkey DESC"""}
    if route == "favorites_of":
        return {"rows": f"""
        SELECT l.l_orderkey, l.l_linenumber, o.o_totalprice, o.o_orderdate
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_custkey = {a['cust_key']} AND o.o_orderstatus <> 'F'"""}
    if route == "is_favorite":
        return {"rows": f"""
        SELECT (count(*) > 0) AS is_favorite FROM (SELECT 1 FROM lineitem
          WHERE l_orderkey = {a['order_key']} AND l_linenumber = {a['line_number']}
          LIMIT 1)"""}
    if route == "messages_of":
        return {"rows": f"""
        SELECT * FROM events WHERE user_id = {a['user_id']}
        ORDER BY ts ASC, event_id ASC"""}
    if route == "conversations_list":
        return {"rows": f"""
        SELECT event_id, ts, user_id, event_type, value, props FROM (
          SELECT events.*, row_number() OVER (PARTITION BY event_type
                 ORDER BY ts DESC, event_id DESC) AS rn
          FROM events WHERE user_id = {a['user_id']}) WHERE rn = 1
        ORDER BY ts DESC"""}
    if route == "admin_stats":
        return {"rows": """
        SELECT (SELECT count(*) FROM customer) AS n_users,
               (SELECT count(*) FROM orders) AS n_ads,
               (SELECT count(*) FILTER (WHERE o_orderstatus = 'O')
                FROM orders) AS n_active_ads,
               (SELECT count(*) FROM region) AS n_categories"""}
    if route == "admin_users":
        lim = a["limit"]
        return {"rows": f"""
        SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal,
               c.c_mktsegment, coalesce(n.n_ads, 0) AS n_ads
        FROM customer c LEFT JOIN (SELECT o_custkey, count(*) AS n_ads
          FROM orders GROUP BY o_custkey) n ON n.o_custkey = c.c_custkey
        ORDER BY c.c_custkey ASC LIMIT {lim} OFFSET {(a['page'] - 1) * lim}"""}
    if route == "login":
        ok = a["password"] == f"pw-{a['cust_key']}"
        return {"rows": f"""
        SELECT c_custkey, c_name FROM customer
        WHERE c_custkey = {a['cust_key']} AND {str(ok).upper()}"""}
    raise KeyError(route)


def cached_answer(con, sql: str, answer_dir: str, run_dir: str) -> pd.DataFrame:
    """``sql``'s answer, cached in ``answer_dir``: it depends on nothing but
    the fixed tables unless it names a path inside this run (replay oracles
    that read artifacts the run wrote), and those are never cached."""
    if run_dir in sql:
        return con.sql(sql).df()
    path = os.path.join(answer_dir,
                        hashlib.sha256(sql.encode()).hexdigest()[:24] + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    df = con.sql(sql).df()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df.to_pickle(path + f".{os.getpid()}")
    os.replace(path + f".{os.getpid()}", path)
    return df


# routes whose response order is a total order the API promises
ORDERED_ROUTES = {"search_ads", "my_ads", "messages_of", "admin_users"}


def _canon(df: pd.DataFrame, ordered: bool) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype("int64")
        elif df[c].dtype == bool or pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    if not ordered and len(df):
        key = df.astype(str).agg("|".join, axis=1)
        df = df.iloc[np.argsort(key.values, kind="stable")]
    return df.reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame, ordered: bool = False,
            rows_only: bool = False) -> str | None:
    """None if ``got`` matches ``want``, else a one-line reason."""
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if rows_only:
        return None
    g, w = _canon(got, ordered), _canon(want, ordered)
    for c in g.columns:
        a, b = g[c], w[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            x = pd.to_numeric(a, errors="coerce").to_numpy(float)
            y = pd.to_numeric(b, errors="coerce").to_numpy(float)
            ok = np.isclose(x, y, rtol=1e-9, atol=1e-9) | (np.isnan(x) & np.isnan(y))
        else:
            ok = ((a.astype(str) == b.astype(str)) | (a.isna() & b.isna())).to_numpy()
        if not ok.all():
            i = int(np.argmax(~ok))
            return f"column {c} row {i}: {a.iloc[i]!r} != {b.iloc[i]!r}"
    return None


def token_ok(token: str, user: str, secret: str = LOGIN_SECRET) -> bool:
    """HS256 JWT check: the signature verifies and the payload names
    ``user``."""
    try:
        header, payload, sig = token.split(".")
    except (AttributeError, ValueError):
        return False
    mac = hmac.new(secret.encode(), f"{header}.{payload}".encode(),
                   hashlib.sha256).digest()
    if not hmac.compare_digest(sig, base64.urlsafe_b64encode(mac).rstrip(b"=").decode()):
        return False
    body = json.loads(base64.urlsafe_b64decode(payload + "=" * (-len(payload) % 4)))
    return body.get("userId") == user
