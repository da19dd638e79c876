"""Output checks of the query_core workload.

Each entry's set-up output (``out/pre/<name>``) is compared with its DuckDB
oracle SQL run over the generated tables, and with the output of the
untimed pass after the timed run (``out/post/<name>``, for the entries
the run re-checks). A result is
reduced to its row count, its column names and an order-independent hash
of its rows, each value canonicalized to the domain tools/check_oracle.py
compares (see ``_canon_expr``).
"""
import json
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _canon_expr(q: str, t: str) -> str:
    """DuckDB expression canonicalizing column `q` of type `t`: the value
    domain tools/check_oracle.py compares after its pandas round trip
    (integers as 64-bit, dates as timestamps, floats and decimals rounded
    to 4 places, lists element-wise)."""
    if t.endswith("[]"):
        return f"list_transform({q}, x -> {_canon_expr('x', t[:-2])})"
    if t in ("DOUBLE", "FLOAT") or t.startswith("DECIMAL"):
        return f"round({q}::DOUBLE, 4)"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return f"{q}::HUGEINT"
    if t == "DATE" or (t.startswith("TIMESTAMP") and "TIME ZONE" not in t):
        return f"{q}::TIMESTAMP"
    return q


def fingerprint(con, sql: str):
    """(row count, sorted column names, order-independent hash of the
    canonicalized rows) of a query's result."""
    rel = con.sql(sql)
    cols = sorted(zip(rel.columns, [str(t) for t in rel.types]))
    fields = ", ".join(
        f"c{i} := {_canon_expr(chr(34) + c.replace(chr(34), chr(34) * 2) + chr(34), t)}"
        for i, (c, t) in enumerate(cols))
    n, h = con.sql(f"SELECT count(*), sum(hash(struct_pack({fields}))::HUGEINT) "
                   f"FROM ({sql})").fetchone()
    return n, [c for c, _ in cols], h


def query_core(res, data_dir: Path, out_dir: Path):
    """Returns (failure messages, facts, names of entries that failed)."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    oracle = json.loads((out_dir / "oracle_sql.json").read_text())
    failures, bad, rows = [], set(), {}

    def fail(name, msg):
        failures.append(f"{name}: {msg}")
        bad.add(name)

    for name in res["entries"]:
        errs = [res[k][name] for k in ("pre_errors", "post_errors") if name in res[k]]
        if errs:
            fail(name, f"threw: {errs[0]}")
            continue
        pre = fingerprint(con, f"SELECT * FROM '{out_dir}/pre/{name}/*.parquet'")
        rows[name] = pre[0]
        if name in res["rechecked"]:
            post = fingerprint(con, f"SELECT * FROM '{out_dir}/post/{name}/*.parquet'")
            if post != pre:
                fail(name, f"after-run output differs: {post[0]} rows vs {pre[0]}")
        if name not in oracle:
            fail(name, "no oracle SQL")
            continue
        want = fingerprint(con, oracle[name])
        if want[1] != pre[1]:
            fail(name, f"columns {pre[1]} vs oracle {want[1]}")
        elif want != pre:
            fail(name, f"rows {pre[0]} vs oracle {want[0]}, hash differs")
    con.close()
    facts = {"entries": len(res["entries"]), "oracle_checked": len(rows),
             "rechecked_after_run": len(res["rechecked"]),
             "result_rows": sum(rows.values()), "scale": "0.01 (generated)"}
    return failures, facts, bad
