"""DuckDB side of the result digests (see Digest.scala).

For each declared query with oracle SQL, runs the SQL over the fixture's
parquet tables and folds the result into the same order-independent
fingerprint the benchmark JVM computed from Spark's result.
"""
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
INTS = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
        "USMALLINT", "UINTEGER", "UBIGINT"}


def connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _is_float(t):
    return t in ("DOUBLE", "FLOAT", "REAL") or t.startswith("DECIMAL")


def _render(c, t):
    if t == "VARCHAR":
        return c
    if t in INTS or t == "DATE":
        return f"CAST({c} AS VARCHAR)"
    if t == "BOOLEAN":
        return f"CAST(CAST({c} AS BIGINT) AS VARCHAR)"
    if t.startswith("TIMESTAMP"):
        return f"CAST(epoch_us({c}) AS VARCHAR)"
    if t == "BLOB":
        return f"hex({c})"
    return f"CASE WHEN {c} IS NOT NULL THEN '?' END"


def digest(con, sql):
    rel = con.sql(sql)
    cols = sorted(zip(rel.columns, [str(t) for t in rel.types]), key=lambda x: x[0])
    q = lambda n: '"' + n.replace('"', '""') + '"'
    exact = [(n, t) for n, t in cols if not _is_float(t)]
    floats = [(n, t) for n, t in cols if _is_float(t)]
    row = ("concat_ws(chr(1), " + ", ".join(
        f"coalesce({_render(q(n), t)}, chr(2))" for n, t in exact) + ")") if exact else "''"
    aggs = ["count(*)",
            "sum(('0x' || substr(h, 1, 7))::BIGINT)",
            "sum(('0x' || substr(h, 8, 7))::BIGINT)"]
    for n, _ in floats:
        d = f"CAST({q(n)} AS DOUBLE)"
        fin = f"({d} IS NOT NULL AND NOT isnan({d}) AND NOT isinf({d}))"
        aggs += [f"sum(CASE WHEN {fin} THEN {d} END)",
                 f"sum(CASE WHEN {fin} THEN abs({d}) END)",
                 f"count(*) FILTER (WHERE {d} IS NULL OR isnan({d}))",
                 f"count(*) FILTER (WHERE isinf({d}))"]
    fcols = ", ".join(q(n) for n, _ in floats)
    r = con.execute(
        f"WITH q AS ({sql}), r AS (SELECT md5({row}) AS h{', ' if floats else ''}{fcols} FROM q) "
        f"SELECT {', '.join(aggs)} FROM r").fetchone()
    z = lambda v: 0 if v is None else v
    return {"columns": [n for n, _ in cols], "rows": r[0], "h1": int(z(r[1])), "h2": int(z(r[2])),
            "floats": [{"sum": float(z(r[3 + 4 * k])), "abs": float(z(r[4 + 4 * k])),
                        "nulls": r[5 + 4 * k], "infs": r[6 + 4 * k]} for k in range(len(floats))]}


def matches(a, b):
    """The Scala Digest.matches rule."""
    if (a["columns"], a["rows"], a["h1"], a["h2"]) != (b["columns"], b["rows"], b["h1"], b["h2"]):
        return False
    if len(a["floats"]) != len(b["floats"]):
        return False
    for x, y in zip(a["floats"], b["floats"]):
        if (x["nulls"], x["infs"]) != (y["nulls"], y["infs"]):
            return False
        sx, sy = x["sum"] or 0.0, y["sum"] or 0.0
        if abs(sx - sy) > 1e-7 * max(1.0, x["abs"] or 0.0, y["abs"] or 0.0):
            return False
    return True
