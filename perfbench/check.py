"""Output check for one run, outside the timed region.

Calls with a twin in `SparkEntry.oracleSql` are compared against the
DuckDB twin evaluated over the same generated files (the logic of
scripts/oracle_check.py: same columns, same row count, equal values in
emitted order, dtype widening allowed). PU calls without a twin must keep
every input row, give every row a finite score in [0, 1], and rank the
masked known positives above the negatives with an AUC of at least
AUC_FLOOR.
"""
import json
import os

import duckdb
import numpy as np

AUC_FLOOR = 0.9
TABLES = ["embeddings", "documents"]


def _con(data_dir, tmp_dir):
    con = duckdb.connect()
    con.sql("SET threads TO 4")
    con.sql("SET memory_limit = '2GB'")
    con.sql(f"SET temp_directory = '{tmp_dir}'")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _twin(con, got_dir, sql):
    got = con.sql(f"SELECT * FROM '{got_dir}/*.parquet'").df()
    want = con.sql(sql).df()
    if sorted(got.columns) != sorted(want.columns):
        return f"columns differ: {sorted(got.columns)} vs {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows differ: {len(got)} vs twin {len(want)}"
    g = got[sorted(got.columns)].reset_index(drop=True)
    w = want[sorted(want.columns)].reset_index(drop=True)
    if g.equals(w):
        return None
    bad = [c for c in g.columns if not (g[c].astype("object") == w[c].astype("object")).all()]
    return f"values differ in {bad}" if bad else None


def _auc(pos, neg):
    """P(score of a positive > score of a negative), ties counted half."""
    scores = np.concatenate([pos, neg])
    order = scores.argsort(kind="mergesort")
    ranks = np.empty(len(scores))
    ranks[order] = np.arange(1, len(scores) + 1)
    # average ranks over ties
    _, inv, counts = np.unique(scores, return_inverse=True, return_counts=True)
    sums = np.bincount(inv, weights=ranks)
    ranks = (sums / counts)[inv]
    return (ranks[:len(pos)].sum() - len(pos) * (len(pos) + 1) / 2) / (len(pos) * len(neg))


def _pu_scores(con, got_dir, name, props):
    if name == "pu_text_lr":
        truth = con.sql(f"""SELECT doc_id AS id,
            list_contains(string_split(text, ' '), '{props["pos_token"]}') AS pos
            FROM documents""").df()
        key = "doc_id"
    else:
        truth = con.sql(f"SELECT vec_id AS id, label = {props['pos_class']} AS pos "
                        "FROM embeddings").df()
        key = "vec_id"
    got = con.sql(f"SELECT {key} AS id, score FROM '{got_dir}/*.parquet'").df()
    if len(got) != len(truth) or got["id"].nunique() != len(truth):
        return f"rows not preserved: {len(got)} vs {len(truth)} input rows"
    s = got["score"].to_numpy(dtype=float)
    if not np.all(np.isfinite(s)) or s.min() < 0 or s.max() > 1:
        return f"scores outside [0,1] or not finite (min {s.min()}, max {s.max()})"
    m = got.merge(truth, on="id")
    holdout = m[m["pos"] & (m["id"] % 2 == 1)]["score"].to_numpy()
    neg = m[~m["pos"]]["score"].to_numpy()
    auc = _auc(holdout, neg)
    return None if auc >= AUC_FLOOR else f"holdout AUC {auc:.3f} below {AUC_FLOOR}"


def check(data_dir, check_dir, tmp_dir, calls, props):
    """Returns {call name: None if correct, else the reason}."""
    con = _con(data_dir, tmp_dir)
    sqls = json.load(open(os.path.join(check_dir, "oracle_sql.json")))
    out = {}
    for c in calls:
        got_dir = os.path.join(check_dir, c["name"])
        try:
            if not os.path.isdir(got_dir):
                out[c["name"]] = "no output written"
            elif c["twin"]:
                out[c["name"]] = _twin(con, got_dir, sqls[c["name"]])
            else:
                out[c["name"]] = _pu_scores(con, got_dir, c["name"], props)
        except Exception as e:  # a twin that fails to run is a failed check
            out[c["name"]] = f"check raised {type(e).__name__}: {e}"
    return out
