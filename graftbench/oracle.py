"""Correctness gates, computed in DuckDB independently of graft.

Each gate returns the ids of operations whose result was wrong, plus a
list of failures of the final state; the benchmark counts both in
`ok_share` and reports `correct: false` for any of them.
"""
import json
import math
import os

import duckdb


def canon(cols, rows):
    """Rows as a sorted list of strings, columns ordered by name; numbers
    compare by value (an integral double equals the integer)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def val(v):
        if isinstance(v, bool) or v is None:
            return str(v)
        if isinstance(v, int):
            return str(v)
        if isinstance(v, float):
            if math.isfinite(v) and v == int(v) and abs(v) < 2 ** 53:
                return str(int(v))
            return f"{v:.6f}"
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(val(x) for x in v) + "]"
        if hasattr(v, "isoformat"):
            return v.isoformat()
        return str(v)

    return sorted("|".join(val(r[i]) for i in order) for r in rows)


def query(con, sql):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def same(con, result, sql):
    cols, rows = query(con, sql)
    return canon(result["cols"], result["rows"]) == canon(cols, rows)


# ------------------------------------------------------------------ commit_mix

PRIORITY_SQL = ("(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])"
                "[k % 5 + 1]")


def order_rows_sql(keys_sql, salt):
    """CommitMix.orderCols in SQL over a relation `keys_sql` with column k."""
    return (
        "SELECT k AS o_orderkey, (k * 7919) % 15000 AS o_custkey, "
        "CASE k % 3 WHEN 0 THEN 'F' WHEN 1 THEN 'O' ELSE 'P' END AS o_orderstatus, "
        f"CAST((k * 104729 + {salt} * 31) % 49900000 + 100000 AS DOUBLE) / 100.0::DOUBLE "
        "AS o_totalprice, "
        "CAST(DATE '1994-01-01' + CAST(k % 2400 AS INTEGER) AS DATE) AS o_orderdate, "
        f"{PRIORITY_SQL} AS o_orderpriority "
        f"FROM ({keys_sql})")


def replay_commit(con, ops, seed_parquet, read):
    """Replays commit_mix's successful operations `ops` in DuckDB into
    tables `t` (orders) and `log`; `read(op, sql)` receives each read
    operation with the SQL that answers it from the replayed state."""
    con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{seed_parquet}')")
    con.execute("CREATE TABLE log (k BIGINT, op_id BIGINT)")
    for o in ops:
        p = o["params"]
        kind = o["kind"]
        window = f"o_orderkey >= {p.get('lo')} AND o_orderkey < {p.get('lo', 0) + p.get('n', 0)}"
        if kind in ("append", "commitTxn"):
            con.execute("INSERT INTO t " + order_rows_sql(
                f"SELECT range AS k FROM range({p['lo']}, {p['lo'] + p['n']})", 0))
            if kind == "commitTxn":
                con.execute(f"INSERT INTO log SELECT range, {o['id']} "
                            f"FROM range({p['lo']}, {p['lo'] + p['n']})")
        elif kind in ("mergeMoR", "branch"):
            con.execute("CREATE OR REPLACE TEMP TABLE src AS SELECT s.*, d.op FROM (" +
                        order_rows_sql(_upsert_keys(p), p["salt"]) + ") s JOIN (" +
                        _upsert_keys(p) + ") d ON s.o_orderkey = d.k")
            con.execute("DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM src)")
            con.execute("INSERT INTO t SELECT * EXCLUDE (op) FROM src WHERE op = 'U'")
        elif kind == "deleteWhere":
            con.execute(f"DELETE FROM t WHERE {window}")
        elif kind == "read":
            read(o, f"SELECT * FROM t WHERE {window}")


def check_commit(res, run_dir):
    con = duckdb.connect()
    wrong = []

    def read(o, sql):
        if not same(con, o["result"], sql):
            wrong.append(o["id"])

    replay_commit(con, [o for o in res["ops"] if o["ok"] and o["phase"] == "m"],
                  f"{run_dir}/in/orders.parquet", read)
    final = []
    for table, mine in (("orders", "t"), ("order_log", "log")):
        if digest(con, f"read_parquet('{run_dir}/out/final/{table}/*.parquet')") != \
                digest(con, mine):
            final.append(f"final {table} differs from the DuckDB replay")
    sink_wrong, sink_final = check_sink(res, run_dir)
    return wrong + sink_wrong, final + sink_final


def _upsert_keys(p):
    """Keys and U/D markers of a merge delta (CommitMix.upserts in SQL)."""
    return (f"SELECT {p['lo']} + range * {p['stride']} AS k, CASE WHEN range % {p['del_mod']} "
            f"= {p['del_mod'] - 1} THEN 'D' ELSE 'U' END AS op FROM range({p['n']})")


def digest(con, rel):
    """Order-independent digest of a relation: row count and hash sum."""
    return con.execute(f"SELECT count(*), sum(hash(x)::HUGEINT) FROM {rel} x").fetchone()


# ------------------------------------------------------------------ lake_reads

def check_lake(res, run_dir):
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "orders", "lineitem"):
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM "
                    f"read_parquet('{run_dir}/in/data/{t}.parquet')")
    con.execute("CREATE VIEW ofact AS SELECT o_orderkey AS k, o_custkey AS ck, "
                "o_totalprice AS price FROM orders")
    con.execute("CREATE VIEW cdim AS SELECT c_custkey AS ck, c_mktsegment AS seg FROM customer")
    wrong = []
    for o in res["ops"]:
        if o["ok"] and o["kind"] != "curation" and \
                not same(con, o["result"], bind_duckdb(o["params"])):
            wrong.append(o["id"])
    return wrong + check_curation(res, run_dir), []


def bind_duckdb(p):
    sql = p["sql"]
    if "{orders_v}" in sql:
        sql = sql.replace("{orders_v}",
                          f"(SELECT * FROM orders WHERE o_orderkey % 3 < {p['version']})")
    return sql.replace("{", "").replace("}", "")


def check_sink(res, run_dir):
    """The stream sink's final table is the latest-state collapse of the
    seed and the slices fed to it."""
    con = duckdb.connect()
    fed = int(open(f"{run_dir}/out/final/slices_fed").read())
    files = [f"'{run_dir}/in/slices/s{b:05d}.parquet'" for b in range(fed)]
    con.execute("CREATE TABLE ev AS SELECT *, -1 AS b FROM read_parquet("
                f"'{run_dir}/in/orders.parquet'), (SELECT 'U' AS op)")
    for b in range(fed):
        con.execute(f"INSERT INTO ev SELECT * , {b} FROM read_parquet({files[b]})")
    latest = ("SELECT * EXCLUDE (op, b, rn) FROM (SELECT *, row_number() OVER "
              "(PARTITION BY o_orderkey ORDER BY b DESC) AS rn FROM ev) WHERE rn = 1 "
              "AND op = 'U'")
    final = []
    if digest(con, f"({latest})") != \
            digest(con, f"read_parquet('{run_dir}/out/final/sink/*.parquet')"):
        final.append("final sink differs from the latest-state collapse of the slices")
    return [], final


def check_curation(res, run_dir):
    """Every run of a curation query returns the same rows (digest), and
    the first run's rows equal the query's SparkEntry oracle SQL."""
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{run_dir}/in/data_corpus/{t}.parquet')")
    with open(f"{run_dir}/out/oracle_sql.json") as f:
        oracles = json.load(f)
    first, wrong, verdict = {}, [], {}
    for o in res["ops"]:
        if not o["ok"] or o["kind"] != "curation":
            continue
        q = o["extra"]["query"]
        if o["result"] is not None:
            first[q] = o["extra"]["digest"]
            verdict[q] = q in oracles and same(con, o["result"], oracles[q])
        if o["extra"]["digest"] != first.get(q) or not verdict.get(q, False):
            wrong.append(o["id"])
    return wrong


CHECKS = {"commit_mix": check_commit, "lake_reads": check_lake}


def check(res, plan, run_dir):
    """Attaches each operation's plan parameters and runs the gate."""
    if "ops" in plan:
        by_id = {o["id"]: o for o in plan["ops"]}
        for o in res["ops"]:
            o["params"] = by_id.get(o["id"], {})
    return CHECKS[res["workload"]](res, run_dir)

