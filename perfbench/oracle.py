"""Check query results against their DuckDB oracle SQL.

The comparison rules are graft's own `tools/check.py` rules: columns
compared by sorted name, row counts equal, and each row equal value by
value after ``norm`` (floats by ``repr``, NaN as a string).
"""
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return str(v)


def compare(got_cols, got, exp_cols, exp):
    """Return a list of mismatch messages (empty when equal)."""
    if got_cols != exp_cols:
        return [f"cols spark={got_cols} duck={exp_cols}"]
    if len(got) != len(exp):
        return [f"rows spark={len(got)} duck={len(exp)}"]
    msgs = []
    for i, (g, e) in enumerate(zip(got, exp)):
        gn, en = [norm(x) for x in g], [norm(x) for x in e]
        if gn != en:
            msgs.append(f"row {i}: spark={gn} duck={en}")
            if len(msgs) > 3:
                break
    return msgs


def check(data_dir, results_dir, oracle_json, names):
    """{query: list of mismatch messages} for every query in ``names``;
    a query without a result or without an oracle is a mismatch."""
    con = duckdb.connect()
    for t in TABLES:
        p = f"{data_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = json.load(open(oracle_json)) if os.path.exists(oracle_json) else {}
    out = {}
    for name in names:
        qdir = os.path.join(results_dir, name)
        if not os.path.isdir(qdir):
            out[name] = ["no result written"]
            continue
        if name not in oracles:
            out[name] = ["no oracle sql"]
            continue
        got_cols = sorted(con.sql(f"SELECT * FROM '{qdir}/*.parquet'").columns)
        got = con.sql(f"SELECT {', '.join(got_cols)} "
                      f"FROM '{qdir}/*.parquet'").fetchall()
        exp_cols = sorted(con.sql(oracles[name]).columns)
        exp = con.sql(f"SELECT {', '.join(exp_cols)} "
                      f"FROM ({oracles[name]}) oq").fetchall()
        out[name] = compare(got_cols, got, exp_cols, exp)
    return out
