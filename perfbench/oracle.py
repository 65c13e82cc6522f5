"""Compares query outputs with the DuckDB oracle.

The rule: the same column names; the same type class per column (int
widths may differ, decimal vs double may not); then the values, with
columns sorted by name and rows sorted, hashed.  Rows are compared as a
sorted multiset, so ties inside an ORDER BY cannot fail a query.  Oracle
digests are cached per (data, SQL), so a checkout runs each oracle once.
"""
import hashlib
import json
import math
import os

import duckdb
import pyarrow as pa

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def type_class(t):
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return f"decimal(scale={t.scale})"
    if pa.types.is_timestamp(t):
        return f"timestamp(tz={t.tz is not None})"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{type_class(t.value_type)}>"
    if pa.types.is_struct(t):
        return "struct<" + ",".join(f"{f.name}:{type_class(f.type)}" for f in t) + ">"
    return str(t)


def canon(v):
    """A repr that tells -0.0 from 0.0 and lets NaN equal NaN."""
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in v.items()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return repr(v)


def digest(tbl):
    cols = sorted(tbl.column_names)
    types = {c: type_class(tbl.schema.field(c).type) for c in cols}
    data = [tbl.column(c).to_pylist() for c in cols]
    rows = sorted("\x1f".join(canon(col[i]) for col in data)
                  for i in range(tbl.num_rows))
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return {"cols": cols, "types": types, "rows": tbl.num_rows,
            "hash": h.hexdigest()}


def compare(data_dir, data_digest, dumps, sqls, cache_path):
    """Returns {query: reason} for every dump that differs from its oracle."""
    cache = json.load(open(cache_path)) if os.path.exists(cache_path) else {}
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    bad = {}
    for name, path in dumps.items():
        sql = sqls.get(name)
        if sql is None:
            bad[name] = "no oracle SQL"
            continue
        key = hashlib.sha256((data_digest + sql).encode()).hexdigest()
        try:
            if key not in cache:
                cache[key] = digest(con.execute(sql).fetch_arrow_table())
            want = cache[key]
            got = digest(con.execute(
                f"SELECT * FROM read_parquet('{path}/*.parquet')").fetch_arrow_table())
        except Exception as e:  # an oracle or dump that cannot be read
            bad[name] = f"exec: {e}"[:200]
            continue
        for k in ("cols", "types", "rows", "hash"):
            if got[k] != want[k]:
                bad[name] = f"{k} differ"
                break
    with open(cache_path, "w") as f:
        json.dump(cache, f)
    return bad
