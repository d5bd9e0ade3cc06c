"""Seeded input generators for the four benchmark workloads.

Every generator takes a numpy Generator built from the run's seed and an
output directory, writes only under that directory, and returns what the
checker needs to judge graft's answers (expected results the timed code
path never computes). The same seed always gives the same inputs.
"""
import datetime as dt
import os
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.date(1970, 1, 1)
D0 = (dt.date(1992, 1, 1) - EPOCH).days
D1 = (dt.date(1998, 8, 2) - EPOCH).days
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
           "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
           "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA", "VIETNAM",
           "RUSSIA", "UNITED KINGDOM", "UNITED STATES"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
BRANDS = [f"Brand#{a}{b}" for a in range(1, 6) for b in range(1, 6)]
TYPES = [f"{a} {b}" for a in ("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")
         for b in ("TIN", "NICKEL", "BRASS", "STEEL", "COPPER")]


def _write(table, path):
    pq.write_table(table, path)
    return os.path.getsize(path)


def _dates(days):
    return pa.array(days.astype("int32"), type=pa.date32())


def _cents(rng, lo, hi, n):
    """Money as whole cents over 100: exact decimal values in a double."""
    return rng.integers(lo * 100, hi * 100, n) / 100.0


# ---------------------------------------------------------------------------
# TPC-H-shaped tables (sql_interactive reads all of them; lake_upsert
# starts from `orders`).

def orders_table(rng, n, n_cust):
    keys = np.arange(1, n + 1, dtype=np.int64) * 4 - rng.integers(0, 3, n)
    status = rng.choice(np.array(["F", "O", "P"]), n, p=[0.49, 0.49, 0.02])
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, n), pa.int64()),
        "o_orderstatus": pa.array(status.tolist(), pa.string()),
        "o_totalprice": pa.array(_cents(rng, 900, 450000, n), pa.float64()),
        "o_orderdate": _dates(np.sort(rng.integers(D0, D1 - 151, n))),
        "o_orderpriority": pa.array(rng.choice(np.array(PRIORITIES), n).tolist(), pa.string()),
    })


def gen_tpch(rng, out, sf):
    """TPC-H-shaped star schema at scale `sf` (sf 1 = 6M lineitems)."""
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), max(10, int(10000 * sf)), int(200000 * sf)
    n_ord = int(1500000 * sf)
    sizes = {}
    sizes["region"] = _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)}), f"{out}/region.parquet")
    sizes["nation"] = _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array(NATIONS),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}), f"{out}/nation.parquet")
    sizes["customer"] = _write(pa.table({
        "c_custkey": pa.array(np.arange(1, n_cust + 1), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, n_cust + 1)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_cents(rng, -999, 9999, n_cust), pa.float64()),
        "c_mktsegment": pa.array(rng.choice(np.array(SEGMENTS), n_cust).tolist())}),
        f"{out}/customer.parquet")
    sizes["supplier"] = _write(pa.table({
        "s_suppkey": pa.array(np.arange(1, n_supp + 1), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(1, n_supp + 1)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_cents(rng, -999, 9999, n_supp), pa.float64())}),
        f"{out}/supplier.parquet")
    sizes["part"] = _write(pa.table({
        "p_partkey": pa.array(np.arange(1, n_part + 1), pa.int64()),
        "p_name": pa.array([f"part {i}" for i in range(1, n_part + 1)]),
        "p_brand": pa.array(rng.choice(np.array(BRANDS), n_part).tolist()),
        "p_type": pa.array(rng.choice(np.array(TYPES), n_part).tolist()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(_cents(rng, 900, 2100, n_part), pa.float64())}),
        f"{out}/part.parquet")
    orders = orders_table(rng, n_ord, n_cust)
    sizes["orders"] = _write(orders, f"{out}/orders.parquet")
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okeys = np.repeat(orders["o_orderkey"].to_numpy(), lines)
    odays = np.repeat(orders["o_orderdate"].cast(pa.int32()).to_numpy(), lines)
    lineno = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    sizes["lineitem"] = _write(pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, n_part + 1, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n_li), pa.int64()),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64), pa.float64()),
        "l_extendedprice": pa.array(_cents(rng, 900, 100000, n_li), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n_li).tolist()),
        "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), n_li).tolist()),
        "l_shipdate": _dates(odays + rng.integers(1, 122, n_li))}), f"{out}/lineitem.parquet")
    return {"sf": sf, "rows": {"orders": n_ord, "lineitem": n_li, "customer": n_cust},
            "bytes": sizes}


# ---------------------------------------------------------------------------
# sql_interactive: ~20 analytical templates, each with a seeded parameter.
# Written in the SQL both Spark and DuckDB accept, so DuckDB over the same
# parquet gives the expected answers. No template rounds: the checker
# compares doubles with a relative tolerance instead.

def _day(d):
    return (EPOCH + dt.timedelta(days=int(d))).isoformat()


def _window_rank(lo):
    return ("SELECT o_custkey, o_orderkey, o_totalprice FROM ("
            "SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER "
            "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk FROM orders "
            f"WHERE o_custkey BETWEEN {lo} AND {lo + 40}) t WHERE rk <= 2")


def _q4_exists(d):
    return ("SELECT o_orderpriority, count(*) AS n FROM orders o "
            f"WHERE o_orderdate >= DATE '{_day(d)}' AND o_orderdate < DATE '{_day(d + 92)}' "
            "AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey "
            "AND l.l_shipdate > o.o_orderdate + 60) GROUP BY o_orderpriority")


TEMPLATES = [
    ("scan_agg", lambda r: (
        "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS q, "
        "sum(l_extendedprice * (1 - l_discount)) AS rev, avg(l_discount) AS disc "
        f"FROM lineitem WHERE l_shipdate <= DATE '{_day(r.integers(D1 - 400, D1))}' "
        "GROUP BY l_returnflag, l_linestatus")),
    ("point_filter", lambda r: (
        "SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders "
        f"WHERE o_custkey = {r.integers(1, 1500)} ORDER BY o_orderkey")),
    ("topn", lambda r: (
        "SELECT o_orderkey, o_totalprice FROM orders "
        f"WHERE o_orderdate >= DATE '{_day(r.integers(D0, D1 - 200))}' "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10")),
    ("q3_join", lambda r: (
        "SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) AS rev, o_orderdate "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        f"WHERE c_mktsegment = '{SEGMENTS[r.integers(0, 5)]}' "
        f"AND o_orderdate < DATE '{_day(r.integers(D0 + 900, D1 - 300))}' "
        "GROUP BY l_orderkey, o_orderdate ORDER BY rev DESC, l_orderkey LIMIT 10")),
    ("q5_join", lambda r: (
        "SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS rev "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
        "JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey "
        f"WHERE r_name = '{REGIONS[r.integers(0, 5)]}' GROUP BY n_name")),
    ("q6_filter", lambda r: (
        "SELECT sum(l_extendedprice * l_discount) AS rev, count(*) AS n FROM lineitem "
        f"WHERE l_discount BETWEEN {r.integers(2, 6) / 100} AND {r.integers(6, 9) / 100} "
        f"AND l_quantity < {r.integers(20, 30)}")),
    ("q10_join", lambda r: (
        "SELECT c_custkey, c_name, sum(l_extendedprice * (1 - l_discount)) AS rev, n_name "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey JOIN nation ON c_nationkey = n_nationkey "
        f"WHERE l_returnflag = 'R' AND o_orderdate >= DATE '{_day(r.integers(D0, D1 - 500))}' "
        "GROUP BY c_custkey, c_name, n_name ORDER BY rev DESC, c_custkey LIMIT 20")),
    ("window_rank", lambda r: _window_rank(r.integers(1, 1400))),
    ("window_running", lambda r: (
        "SELECT c_nationkey, yr, rev, sum(rev) OVER (PARTITION BY c_nationkey ORDER BY yr "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM ("
        "SELECT c_nationkey, year(o_orderdate) AS yr, sum(o_totalprice) AS rev "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        f"WHERE c_nationkey < {r.integers(3, 10)} GROUP BY c_nationkey, year(o_orderdate)) t")),
    ("set_intersect", lambda r: (
        "SELECT count(*) AS n FROM (SELECT c_custkey AS k FROM customer "
        f"WHERE c_nationkey = {r.integers(0, 25)} INTERSECT SELECT o_custkey AS k FROM orders "
        f"WHERE o_orderpriority = '{PRIORITIES[r.integers(0, 5)]}') t")),
    ("set_except", lambda r: (
        "SELECT count(*) AS n FROM (SELECT o_custkey AS k FROM orders "
        f"WHERE o_orderstatus = 'F' EXCEPT SELECT c_custkey AS k FROM customer "
        f"WHERE c_mktsegment = '{SEGMENTS[r.integers(0, 5)]}') t")),
    ("set_union", lambda r: (
        "SELECT src, count(*) AS n FROM ("
        f"SELECT 'ord' AS src, o_custkey AS k FROM orders WHERE o_totalprice > {r.integers(300000, 440000)} "
        f"UNION ALL SELECT 'cus' AS src, c_custkey AS k FROM customer WHERE c_acctbal > {r.integers(5000, 9900)}"
        ") t GROUP BY src")),
    ("subq_in", lambda r: (
        "SELECT o_orderpriority, count(*) AS n FROM orders WHERE o_custkey IN "
        f"(SELECT c_custkey FROM customer WHERE c_mktsegment = '{SEGMENTS[r.integers(0, 5)]}' "
        f"AND c_nationkey = {r.integers(0, 25)}) GROUP BY o_orderpriority")),
    ("q4_exists", lambda r: _q4_exists(r.integers(D0, D1 - 400))),
    ("subq_scalar", lambda r: (
        "SELECT c_nationkey, count(*) AS n FROM customer WHERE c_acctbal > "
        f"(SELECT avg(c_acctbal) FROM customer WHERE c_mktsegment = '{SEGMENTS[r.integers(0, 5)]}') "
        "GROUP BY c_nationkey")),
    ("q9_join", lambda r: (
        "SELECT p_brand, count(*) AS n, sum(l_quantity) AS q FROM part "
        "JOIN lineitem ON p_partkey = l_partkey JOIN supplier ON l_suppkey = s_suppkey "
        f"WHERE p_type = '{TYPES[r.integers(0, len(TYPES))]}' AND s_nationkey < {r.integers(5, 20)} "
        "GROUP BY p_brand")),
    ("having", lambda r: (
        "SELECT l_orderkey, sum(l_quantity) AS q FROM lineitem GROUP BY l_orderkey "
        f"HAVING sum(l_quantity) > {r.integers(250, 300)} ORDER BY l_orderkey")),
    ("distinct_count", lambda r: (
        "SELECT l_returnflag, count(DISTINCT l_partkey) AS parts, count(DISTINCT l_suppkey) AS supps "
        f"FROM lineitem WHERE l_quantity >= {r.integers(10, 45)} GROUP BY l_returnflag")),
    ("left_anti", lambda r: (
        "SELECT c_mktsegment, count(*) AS n FROM customer LEFT JOIN orders "
        f"ON c_custkey = o_custkey AND o_orderdate >= DATE '{_day(r.integers(D1 - 900, D1 - 200))}' "
        "WHERE o_orderkey IS NULL GROUP BY c_mktsegment")),
    ("cte_join", lambda r: (
        "WITH big AS (SELECT o_custkey, count(*) AS n, sum(o_totalprice) AS tot FROM orders "
        f"WHERE o_orderpriority = '{PRIORITIES[r.integers(0, 5)]}' GROUP BY o_custkey) "
        "SELECT n_name, count(*) AS custs, sum(tot) AS tot FROM big JOIN customer ON o_custkey = c_custkey "
        f"JOIN nation ON c_nationkey = n_nationkey WHERE n >= {r.integers(1, 3)} GROUP BY n_name")),
]

SQL_PARAM_VARIANTS = 3
SQL_CLIENTS = 2


def gen_sql(rng, out, sf=0.01, rounds=200):
    """Tables plus one statement list per client. Each round is a seeded
    permutation of all templates split evenly over the clients, so every
    round runs the same template mix in a different order; each template
    has SQL_PARAM_VARIANTS seeded parameter sets."""
    info = gen_tpch(rng, out, sf)
    texts = {name: [fn(rng) for _ in range(SQL_PARAM_VARIANTS)] for name, fn in TEMPLATES}
    distinct = sorted({t for v in texts.values() for t in v})
    ids = {t: i for i, t in enumerate(distinct)}
    share = len(TEMPLATES) // SQL_CLIENTS
    clients = [[] for _ in range(SQL_CLIENTS)]
    for _ in range(rounds):
        perm = rng.permutation(len(TEMPLATES))
        for c in range(SQL_CLIENTS):
            for k in perm[c * share:(c + 1) * share]:
                name = TEMPLATES[k][0]
                clients[c].append((name, ids[texts[name][rng.integers(0, SQL_PARAM_VARIANTS)]]))
    with open(f"{out}/statements.txt", "w") as f:
        for i, t in enumerate(distinct):
            f.write(f"{i}\t{t}\n")
    for c, seq in enumerate(clients):
        with open(f"{out}/client{c}.txt", "w") as f:
            for name, sid in seq:
                f.write(f"{name}\t{sid}\n")
    info["statements"] = distinct
    info["clients"] = clients
    info["templates"] = len(TEMPLATES)
    return info


# ---------------------------------------------------------------------------
# lake_upsert: a DV-enabled catalog table seeded from 150k orders, then a
# fixed-shape op cycle. Per 10 ops: 3 writes, 7 reads (70% reads). Writes
# rotate merge/append/delete_mor/update_mor, with a compact as every 10th
# write. Write keys are skewed to recent orders: 80% from the newest 10%
# of keys. Reads follow each write and mostly target the keys it touched.

LAKE_ORDERS = 150000
# A warm-up prefix, then identical rounds of 20 ops: 6 writes (two merges,
# an append, a MOR delete, a MOR update, and a compact as every 6th
# commit) and 14 reads alternating point and range (70% reads).
LAKE_WARM = ["merge", "point", "range", "append", "point"]
LAKE_ROUND = ["merge", "point", "range", "append", "point", "range", "point",
              "delete_mor", "range", "point", "merge", "range", "point", "update_mor",
              "range", "point", "range", "compact", "point", "range"]
LAKE_COMPACT_FILES = 2


def _fmt_row(r):
    return ",".join([str(r[0]), str(r[1]), r[2], repr(r[3]), str(r[4]), r[5]])


class LakeModel:
    """Harness-side model of the table: key -> row, plus sorted keys."""

    def __init__(self, rows):
        self.rows = {r[0]: r for r in rows}
        self.keys = sorted(self.rows)

    def upsert(self, rows):
        import bisect
        for r in rows:
            if r[0] not in self.rows:
                bisect.insort(self.keys, r[0])
            self.rows[r[0]] = r

    def delete(self, keys):
        import bisect
        for k in keys:
            if self.rows.pop(k, None) is not None:
                del self.keys[bisect.bisect_left(self.keys, k)]

    def range(self, lo, hi):
        import bisect
        a, b = bisect.bisect_left(self.keys, lo), bisect.bisect_right(self.keys, hi)
        return [self.rows[k] for k in self.keys[a:b]]


def _lake_ops(seed, base_rows, n_ops):
    """Yield (op_line, expected, kind); expected is the model's rows for
    reads and None for writes. The last item is (None, model, None), so
    replaying with the same seed gives the model after any prefix."""
    import random
    r = random.Random(seed)
    model = LakeModel(base_rows)
    next_key = model.keys[-1] + 1
    touched = [model.keys[-1]]

    def recent_keys(n):
        ks = model.keys
        top = max(1, len(ks) // 10)
        return sorted({ks[r.randrange(len(ks) - top, len(ks))] if r.random() < 0.8
                       else ks[r.randrange(len(ks))] for _ in range(n)})

    def new_row(k):
        return (k, r.randint(1, 15000), r.choice("FOP"), r.randint(90000, 45000000) / 100.0,
                r.randrange(D1 - 150, D1), r.choice(PRIORITIES))

    for i in range(n_ops):
        kind = LAKE_WARM[i] if i < len(LAKE_WARM) else \
            LAKE_ROUND[(i - len(LAKE_WARM)) % len(LAKE_ROUND)]
        if kind not in ("point", "range"):
            if kind == "append":
                rows = [new_row(next_key + j) for j in range(200)]
                next_key += 200
                model.upsert(rows)
                touched = [row[0] for row in rows]
                yield "append\t" + ";".join(map(_fmt_row, rows)), None, kind
            elif kind == "merge":
                keys = recent_keys(300)[:270] + list(range(next_key, next_key + 30))
                next_key += 30
                rows = [new_row(k) for k in keys]
                model.upsert(rows)
                touched = keys
                yield "merge\t" + ";".join(map(_fmt_row, rows)), None, kind
            elif kind == "delete_mor":
                keys = recent_keys(100)
                model.delete(keys)
                touched = keys
                yield "delete_mor\t" + ",".join(map(str, keys)), None, kind
            elif kind == "update_mor":
                keys = [k for k in recent_keys(100) if k in model.rows]
                status = r.choice("FOP")
                delta = r.randint(1, 10000) / 100.0
                model.upsert([(row[0], row[1], status, row[3] + delta, row[4], row[5])
                              for row in (model.rows[k] for k in keys)])
                touched = keys
                yield f"update_mor\t{','.join(map(str, keys))}\t{status}\t{delta!r}", None, kind
            else:
                touched = [model.keys[r.randrange(len(model.keys))]]
                yield f"compact\t{LAKE_COMPACT_FILES}", None, kind
        elif kind == "point":
            k = touched[r.randrange(len(touched))] if r.random() < 0.8 \
                else model.keys[r.randrange(len(model.keys))]
            yield f"point\t{k}", [model.rows[k]] if k in model.rows else [], "point"
        else:
            lo = touched[r.randrange(len(touched))] - r.randrange(400)
            yield f"range\t{lo}\t{lo + 400}", model.range(lo, lo + 400), "range"
    yield None, model, None


def gen_lake(rng, out, n_ops=600):
    os.makedirs(out, exist_ok=True)
    orders = orders_table(rng, LAKE_ORDERS, 15000)
    nbytes = _write(orders, f"{out}/orders.parquet")
    cols = [orders[c].to_pylist() for c in orders.column_names]
    cols[4] = orders["o_orderdate"].cast(pa.int32()).to_pylist()
    base = list(zip(*cols))
    op_seed = int(rng.integers(0, 2**31))
    ops, expected, kinds = [], [], []
    for line, exp, kind in _lake_ops(op_seed, base, n_ops):
        if line is None:
            break
        ops.append(line)
        expected.append(exp)
        kinds.append(kind)
    with open(f"{out}/ops.txt", "w") as f:
        f.write("\n".join(ops) + "\n")
    writes = sum(1 for k in kinds if k not in ("point", "range"))
    return {"orders_rows": LAKE_ORDERS, "orders_bytes": nbytes, "ops": len(ops),
            "read_share": 1 - writes / len(ops), "hot_key_share": 0.8,
            "expected": expected, "kinds": kinds, "base": base, "op_seed": op_seed}


def lake_model_after(info, n_ops):
    """Model state after the first n_ops ops of the generated sequence."""
    gen = _lake_ops(info["op_seed"], info["base"], n_ops)
    for line, exp, _ in gen:
        if line is None:
            return exp


# ---------------------------------------------------------------------------
# dedup_corpus: documents with planted near-duplicates. A planted copy
# substitutes one or two words of its source, which keeps the 3-word
# shingle Jaccard at or above 0.8 for documents of 80+ words; unrelated
# documents share almost no shingles.

DEDUP_DOCS = 3000
DEDUP_DUP_SHARE = 0.1
DEDUP_THRESHOLD = 0.8


def shingles(words):
    if len(words) < 3:
        return {" ".join(words)}
    return {(words[i], words[i + 1], words[i + 2]) for i in range(len(words) - 2)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def _vocab(rng, n):
    letters = np.array(list(string.ascii_lowercase))
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters, int(rng.integers(3, 10)))))
    return sorted(words)


def gen_dedup(rng, out):
    os.makedirs(out, exist_ok=True)
    vocab = np.array(_vocab(rng, 20000))
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** 0.5
    weights /= weights.sum()
    n_dup = int(DEDUP_DOCS * DEDUP_DUP_SHARE)
    n_base = DEDUP_DOCS - n_dup
    docs = [list(vocab[rng.choice(len(vocab), int(rng.integers(80, 160)), p=weights)])
            for _ in range(n_base)]
    planted = []
    for _ in range(n_dup):
        src = int(rng.integers(0, n_base))
        while True:
            copy = list(docs[src])
            for _ in range(int(rng.integers(1, 3))):
                copy[int(rng.integers(0, len(copy)))] = str(vocab[int(rng.integers(0, len(vocab)))])
            if jaccard(copy, docs[src]) >= DEDUP_THRESHOLD + 0.01:
                break
        planted.append((src, len(docs)))
        docs.append(copy)
    order = rng.permutation(len(docs))
    doc_ids = np.empty(len(docs), dtype=np.int64)
    doc_ids[order] = np.arange(1, len(docs) + 1)
    texts = [" ".join(d) for d in docs]
    table = pa.table({
        "doc_id": pa.array(doc_ids, pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(["en"] * len(docs)),
        "source": pa.array(rng.choice(np.array(["web", "books", "code"]), len(docs)).tolist()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }).take(pa.array(np.argsort(doc_ids)))
    nbytes = _write(table, f"{out}/documents.parquet")
    words_by_id = {int(doc_ids[i]): docs[i] for i in range(len(docs))}
    pairs = sorted({tuple(sorted((int(doc_ids[a]), int(doc_ids[b])))) for a, b in planted})
    return {"docs": len(docs), "planted_pairs": pairs, "corpus_bytes": nbytes,
            "text_bytes": sum(len(t) for t in texts), "words": words_by_id,
            "threshold": DEDUP_THRESHOLD}


# ---------------------------------------------------------------------------
# stream_backlog: an `events`-shaped backlog over 48 hours, split into
# time-sliced files (file i holds the i-th slice, so no row is late with
# respect to the 1-hour watermarks). Event times are distinct seconds.

STREAM_EVENTS = 40000
STREAM_WARM_EVENTS = 4000
STREAM_FILES = 8
STREAM_USERS = 2000
STREAM_HOURS = 48
EVENT_TYPES = ["click", "view", "purchase", "cart"]


def gen_stream(rng, out, n=STREAM_EVENTS, warm=True):
    """The backlog, plus (under warm/) a small one of the same shape on
    which the graphs are warmed up before measuring."""
    import pandas as pd
    src = f"{out}/events.parquet"
    os.makedirs(src, exist_ok=True)
    t0 = 1709251200  # 2024-03-01 00:00:00 UTC
    secs = np.sort(rng.choice(STREAM_HOURS * 3600, n, replace=False)).astype(np.int64)
    ev = pd.DataFrame({
        "event_id": np.arange(1, n + 1, dtype=np.int64),
        "ts_s": secs + t0,
        "user_id": rng.integers(1, STREAM_USERS + 1, n).astype(np.int64),
        "event_type": rng.choice(np.array(EVENT_TYPES), n, p=[0.55, 0.25, 0.1, 0.1]),
        "value": rng.integers(0, 50000, n) / 100.0,
    })
    ev["props"] = "{}"
    bounds = np.linspace(0, n, STREAM_FILES + 1).astype(int)
    for i in range(STREAM_FILES):
        part = ev.iloc[bounds[i]:bounds[i + 1]]
        pq.write_table(pa.table({
            "event_id": pa.array(part.event_id.to_numpy(), pa.int64()),
            "ts": pa.array(part.ts_s.to_numpy() * 1_000_000, pa.timestamp("us")),
            "user_id": pa.array(part.user_id.to_numpy(), pa.int64()),
            "event_type": pa.array(part.event_type.tolist()),
            "value": pa.array(part.value.to_numpy(), pa.float64()),
            "props": pa.array(part.props.tolist()),
        }), f"{src}/part-{i:03d}.parquet")
    nbytes = sum(os.path.getsize(f"{src}/{f}") for f in os.listdir(src))
    # Totals the generator knows, in the shapes the graphs return.
    ev["hour"] = (ev.ts_s // 3600) * 3600
    tumbling = ev.groupby(["hour", "event_type"]).agg(cnt=("value", "size"), s=("value", "sum"))
    tumbling = {(dt.datetime.fromtimestamp(int(h), dt.timezone.utc).replace(tzinfo=None).isoformat(), t):
                (int(r.cnt), float(r.s))
                for (h, t), r in tumbling.iterrows()}
    keys = set(zip(ev.user_id.tolist(), ev.event_type.tolist()))
    p = ev[ev.event_type == "purchase"][["user_id", "ts_s", "event_id"]]
    c = ev[ev.event_type == "click"][["user_id", "ts_s"]]
    m = p.merge(c, on="user_id", suffixes=("_p", "_c"))
    m = m[(m.ts_s_c >= m.ts_s_p - 3600) & (m.ts_s_c <= m.ts_s_p)]
    join = m.groupby("user_id").agg(n_pairs=("event_id", "size"), n_purchases=("event_id", "nunique"))
    join = {int(u): (int(r.n_pairs), int(r.n_purchases)) for u, r in join.iterrows()}
    latest = ev.sort_values("ts_s").groupby("user_id").value.last()
    latest = {int(u): float(v) for u, v in latest.items()}
    info = {"events": n, "files": STREAM_FILES, "bytes": nbytes, "tumbling": tumbling,
            "dedup_keys": keys, "join": join, "latest": latest}
    if warm:
        info["warm"] = gen_stream(rng, f"{out}/warm", STREAM_WARM_EVENTS, warm=False)
    return info
