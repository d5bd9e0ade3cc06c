"""Correctness checks: each op's result against expectations the timed
code path never computes. Every check returns None when the result is
right, or a short reason when it is not."""
import math

import duckdb

import gen

REL_TOL = 1e-9
ABS_TOL = 1e-6


def _same_value(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=ABS_TOL)
    return a == b


def _sort_key(row):
    return tuple((0, round(v, 4)) if isinstance(v, float) else (1, str(v)) for v in row)


def same_rows(got, want):
    """Row multisets equal, doubles within a relative tolerance."""
    if len(got) != len(want):
        return f"rows got={len(got)} want={len(want)}"
    g, w = sorted(got, key=_sort_key), sorted(want, key=_sort_key)
    for i, (a, b) in enumerate(zip(g, w)):
        if len(a) != len(b) or not all(_same_value(x, y) for x, y in zip(a, b)):
            return f"row {i} got={a} want={b}"
    return None


# ---------------------------------------------------------------------------
# sql_interactive: DuckDB over the same parquet files.

def _norm(v):
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "as_integer_ratio") and not isinstance(v, (int, float)):
        return float(v)  # Decimal
    return v


def sql_expected(info, data_dir):
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return [[[_norm(v) for v in row] for row in con.execute(text).fetchall()]
            for text in info["statements"]]


def check_sql(op, expected):
    res = op["result"]
    return same_rows(res["rows"], expected[res["statement"]])


# ---------------------------------------------------------------------------
# lake_upsert: reads against the harness's model of the table, at the op's position.

def check_lake_read(op, info, index):
    want = [list(r) for r in info["expected"][index]]
    return same_rows(op["result"], want)


def check_lake_final(path, model):
    got = []
    with open(path) as f:
        for line in f:
            if line.strip():
                k, c, st, p, d, pr = line.rstrip("\n").split("\t")
                got.append((int(k), int(c), st, float(p), int(d), pr))
    want = [model.rows[k] for k in model.keys]
    return same_rows(got, want)


# ---------------------------------------------------------------------------
# dedup_corpus: planted-pair recall, and Jaccard recomputed from the
# generator's own words for every reported pair.

def check_pairs(op, info):
    words, t = info["words"], info["threshold"]
    pairs = set()
    for a, b, j in op["result"]:
        if a not in words or b not in words or a >= b:
            return f"bad pair ({a},{b})"
        real = gen.jaccard(words[a], words[b])
        # graft rounds to 4 places after a 1e-9 nudge before filtering
        if real < t - 1e-4 or abs(real - j) > 1e-3:
            return f"pair ({a},{b}) reported {j} recomputed {real:.5f}"
        pairs.add((a, b))
    missing = [p for p in info["planted_pairs"] if p not in pairs]
    if missing:
        return f"{len(missing)} planted pairs missing, e.g. {missing[0]}"
    return None


def pair_recall(op, info):
    found = {(a, b) for a, b, *_ in op["result"]}
    return sum(1 for p in info["planted_pairs"] if p in found) / len(info["planted_pairs"])


def check_candidates(op, info):
    seen = set()
    for a, b in op["result"]:
        if a not in info["words"] or b not in info["words"] or a >= b or (a, b) in seen:
            return f"bad candidate ({a},{b})"
        seen.add((a, b))
    return None


def check_clusters(op, info):
    label = {}
    for rep, size, members in op["result"]:
        ids = [int(x) for x in members.split(",")]
        if size < 2 or len(ids) != min(size, 16) or rep != min(ids):
            return f"bad cluster {rep} size={size} members={members}"
        for i in ids:
            label[i] = rep
    for a, b in info["planted_pairs"]:
        if a not in label or label.get(a) != label.get(b):
            return f"planted pair ({a},{b}) not in one cluster"
    return None


# ---------------------------------------------------------------------------
# stream_backlog: totals the generator knows.

def check_stream(op, info):
    rows = op["result"]
    kind = op["kind"]
    if kind == "tumbling":
        got = {(w, t): (c, s) for w, t, c, s in rows}
        want = info["tumbling"]
        if set(got) != set(want):
            return f"windows got={len(got)} want={len(want)}"
        for k, (c, s) in want.items():
            gc, gs = got[k]
            if gc != c or abs(gs - s) > 0.006:
                return f"window {k} got=({gc},{gs}) want=({c},{s:.2f})"
        return None
    if kind == "dedup":
        got = {(u, t) for u, t in rows}
        if len(got) != len(rows) or got != info["dedup_keys"]:
            return f"distinct keys got={len(got)} want={len(info['dedup_keys'])}"
        return None
    if kind == "join":
        got = {u: (n, p) for u, n, p in rows}
        return None if got == info["join"] else \
            f"join users got={len(got)} want={len(info['join'])} pairs got=" \
            f"{sum(v[0] for v in got.values())} want={sum(v[0] for v in info['join'].values())}"
    if kind == "upsert":
        got = {u: v for u, v in rows}
        return None if got == info["latest"] else f"latest values got={len(got)} want={len(info['latest'])}"
    return f"unknown graph {kind}"
