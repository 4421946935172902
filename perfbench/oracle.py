"""Answer checks against DuckDB, canonicalised by the repository's own
oracle comparison (scripts/compare.py): columns sorted by name, rows
sorted, values equal exactly, and no int/float kind drift between the two
sides."""
import glob
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "scripts"))
from compare import canon  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def diff(got, want):
    """None when the two frames hold the same answer, else why not."""
    g, w = canon(got), canon(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} vs {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} vs {len(w)}"
    for c in g.columns:
        ka, kb = g[c].dtype.kind, w[c].dtype.kind
        if "f" in (ka, kb) and (ka in "iu" or kb in "iu"):
            return f"column {c} kind {g[c].dtype} vs {w[c].dtype}"
    for c in g.columns:
        a, b = g[c], w[c]
        try:
            eq = (a == b) | (a.isna() & b.isna())
        except Exception:
            eq = a.astype(str) == b.astype(str)
        if not eq.all():
            i = (~eq).idxmax()
            return f"column {c} row {i}: got {a[i]!r} want {b[i]!r}"
    return None


def read_answer(answers_dir, qid):
    files = glob.glob(os.path.join(answers_dir, qid, "*.parquet"))
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def check_queries(con, answers_dir, ids, oracle_sql):
    """{id: reason} for every registered-query answer the oracle rejects."""
    bad = {}
    for qid in ids:
        if qid not in oracle_sql:
            bad[qid] = "no oracle SQL"
            continue
        try:
            bad_reason = diff(read_answer(answers_dir, qid), con.execute(oracle_sql[qid]).df())
        except Exception as e:  # an oracle or read error is a failed check
            bad_reason = f"check error: {e}"
        if bad_reason:
            bad[qid] = bad_reason
    return bad


def check_counts(counts, expected):
    """{id: reason} for every COUNT(*) answer that differs from DuckDB's."""
    return {qid: f"count {counts.get(qid)} want {want}"
            for qid, want in expected.items() if counts.get(qid) != want}
