"""Seeded generator of JOB-light-style COUNT(*) queries for the `adhoc`
workload.

Each query joins 1-4 tables along the foreign-key graph of the TPC-H-like
schema and filters with 1-3 predicates drawn from the reference's operator
set (=, !=, <, <=, >, >=, BETWEEN, IN, LIKE, NOT LIKE, IS [NOT] NULL).
Constants come from the data. The SQL is written so that the library's
`PseudoSql.parse` accepts it and DuckDB runs it verbatim; DuckDB's count is
recorded as the expected answer. The same seed always yields the same
queries.
"""
import random

import duckdb

# (primary-key table, pk column, foreign-key table, fk column)
FK_EDGES = [
    ("region", "r_regionkey", "nation", "n_regionkey"),
    ("nation", "n_nationkey", "customer", "c_nationkey"),
    ("nation", "n_nationkey", "supplier", "s_nationkey"),
    ("customer", "c_custkey", "orders", "o_custkey"),
    ("orders", "o_orderkey", "lineitem", "l_orderkey"),
    ("part", "p_partkey", "lineitem", "l_partkey"),
    ("supplier", "s_suppkey", "lineitem", "l_suppkey"),
]

# Filterable columns per table: (column, kind); kind is int, float or str.
COLUMNS = {
    "region": [("r_name", "str")],
    "nation": [("n_name", "str"), ("n_nationkey", "int")],
    "customer": [("c_acctbal", "float"), ("c_mktsegment", "str"), ("c_nationkey", "int")],
    "supplier": [("s_acctbal", "float"), ("s_nationkey", "int")],
    "part": [("p_brand", "str"), ("p_type", "str"), ("p_size", "int"),
             ("p_retailprice", "float")],
    "orders": [("o_orderstatus", "str"), ("o_totalprice", "float"),
               ("o_orderpriority", "str")],
    "lineitem": [("l_quantity", "float"), ("l_extendedprice", "float"),
                 ("l_discount", "float"), ("l_tax", "float"), ("l_returnflag", "str"),
                 ("l_linestatus", "str"), ("l_linenumber", "int")],
}

# Unique row identity per table, used to pick rows in a fixed order.
PKS = {
    "region": ["r_regionkey"], "nation": ["n_nationkey"], "customer": ["c_custkey"],
    "supplier": ["s_suppkey"], "part": ["p_partkey"], "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"],
}

OPS = {
    "int": ["=", "!=", "<", "<=", ">", ">=", "BETWEEN", "IN"],
    # no equality on doubles: a literal must name the stored value exactly
    "float": ["<", "<=", ">", ">=", "BETWEEN"],
    "str": ["=", "!=", "IN", "LIKE", "NOT LIKE"],
}
NULL_OPS = ["IS NULL", "IS NOT NULL"]


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in COLUMNS:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def literal(kind, v):
    if kind == "str":
        return "'" + str(v).replace("'", "''") + "'"
    if kind == "float":
        return f"{float(v):.2f}"
    return str(int(v))


# Join shapes, as in JOB-light: a fixed set of FK join trees, three or four
# of each size 1-4, so the work per query set varies little from seed to
# seed; the seed draws every predicate. Thirteen trees put the median and
# the 75th percentile of a pass's latencies inside one query's samples,
# not on the edge between two.
JOIN_TREES = [
    ["lineitem"],
    ["orders"],
    ["customer"],
    ["part"],
    ["lineitem", "orders"],
    ["lineitem", "part"],
    ["customer", "nation"],
    ["orders", "customer", "nation"],
    ["lineitem", "supplier", "nation"],
    ["lineitem", "orders", "customer"],
    ["lineitem", "orders", "customer", "nation"],
    ["customer", "nation", "region", "supplier"],
    ["lineitem", "part", "supplier", "nation"],
]


def join_edges(tables):
    """The FK edges of the join tree over `tables`, one per table added."""
    edges = []
    for i, t in enumerate(tables[1:], 1):
        edges.append(next(e for e in FK_EDGES
                          if {e[0], e[2]} <= set(tables[:i + 1]) and t in (e[0], e[2])
                          and e not in edges))
    return edges


def predicate(con, rnd, frm, where, order, table, column, kind):
    """One predicate on table.column whose constants come from a row of the
    joined relation (so equality and range predicates can match)."""
    q = f"{table}.{column}"
    n = con.execute(f"SELECT COUNT(*) FROM {frm}{where}").fetchone()[0]
    if n == 0:
        return None
    v = con.execute(f"SELECT {q} FROM {frm}{where} ORDER BY {order}"
                    f" LIMIT 1 OFFSET {rnd.randrange(n)}").fetchone()[0]
    op = rnd.choice(NULL_OPS if rnd.random() < 0.05 else OPS[kind])
    if op in NULL_OPS:
        return f"{q} {op}"
    if op in ("BETWEEN", "IN"):
        domain = [r[0] for r in con.execute(
            f"SELECT DISTINCT {column} FROM {table} ORDER BY {column}").fetchall()]
        if op == "BETWEEN":
            lo, hi = sorted([v, rnd.choice(domain)])
            return f"{q} BETWEEN {literal(kind, lo)} AND {literal(kind, hi)}"
        picks = sorted({v, *rnd.sample(domain, min(2, len(domain)))}, key=str)
        return f"{q} IN ({', '.join(literal(kind, x) for x in picks)})"
    if op in ("LIKE", "NOT LIKE"):
        prefix = str(v).split(" ")[0][: rnd.randint(1, 6)].replace("%", "").replace("_", "")
        return f"{q} {op} '{prefix}%'"
    return f"{q} {op} {literal(kind, v)}"


def generate(seed, data_dir):
    """Returns one (id, sql, expected count) triple per join tree; the
    seed draws the predicates: columns, operators and constants."""
    rnd = random.Random(seed)
    con = connect(data_dir)
    out = []
    while len(out) < len(JOIN_TREES):
        tables = JOIN_TREES[len(out)]
        edges = join_edges(tables)
        frm = ", ".join(tables)
        joins = [f"{fk}.{fc} = {pk}.{pc}" for pk, pc, fk, fc in edges]
        order = ", ".join(f"{t}.{c}" for t in tables for c in PKS[t])
        conds = list(joins)
        for _ in range(rnd.randint(1, 3)):
            t = rnd.choice(tables)
            c, kind = rnd.choice(COLUMNS[t])
            where = " WHERE " + " AND ".join(conds) if conds else ""
            p = predicate(con, rnd, frm, where, order, t, c, kind)
            if p is not None:
                conds.append(p)
        if len(conds) == len(joins):
            continue
        sql = f"SELECT COUNT(*) FROM {frm} WHERE " + " AND ".join(conds)
        out.append((f"q{len(out) + 1:03d}", sql, con.execute(sql).fetchone()[0]))
    con.close()
    return out
