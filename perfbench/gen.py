"""Seeded input generator (DuckDB), run by run.py while the JVM starts.

The base tables have the schemas and row counts of the sf0.1 test tables
(TESTDATA.md, FIXTURES.md) with value ranges modelled on them. Their
content is fixed, so every seed does the same work; the seed only chooses
 - the row order: row position p holds base row (a*p + b) mod (K*N), an
   affine permutation, so no sort is needed, and
 - for a K-fold replica, the key offsets: copy c of a table has its keys
   shifted by key_base(seed) + c * STRIDE.
Region and nation are code tables (their keys are referenced as fixed
codes), so a replica keeps one copy of them.

generate() writes <dir>/<table>.parquet and checks what it wrote: every
table has exactly K x N rows and, in a replica, every copy has N rows
inside its own key stride, so the key ranges of different copies do not
overlap.
"""
import math
import os
import threading

import duckdb

STRIDE = 10_000_000  # key distance between copies; every base key is below it

# name -> (rows, key column or None, replicated in a K-fold replica)
TABLES = {
    "region": (5, None, False),
    "nation": (25, None, False),
    "customer": (15_000, "c_custkey", True),
    "supplier": (1_000, "s_suppkey", True),
    "part": (20_000, "p_partkey", True),
    "orders": (150_000, "o_orderkey", True),
    "lineitem": (600_000, "l_orderkey", True),
    "events": (100_000, "event_id", True),
    "documents": (5_000, "doc_id", True),
    "embeddings": (2_000, "vec_id", True),
}

VOCAB = ["a", "agg", "batch", "big", "cache", "column", "data", "fast", "filter",
         "group", "hash", "index", "join", "key", "line", "merge", "order", "part",
         "query", "row", "scan", "shuffle", "slow", "small", "sort", "spark",
         "stream", "table", "value", "vector", "window"]


def key_base(seed):
    return (1 + seed % 1000) * 1_000_000_000


def rows(name, copies):
    n, _, rep = TABLES[name]
    return n * (copies if rep else 1)


def _lst(xs):
    return "[" + ", ".join(f"'{x}'" for x in xs) + "]"


def _u(salt, n, r="r"):
    """Uniform integer in [0, n) from base row r and a per-column salt."""
    return f"(hash({r}, {salt}, 42) % {n})::BIGINT"


def _pick(salt, xs):
    return f"{_lst(xs)}[{_u(salt, len(xs))} + 1]"


def _day(start, salt, days):
    return f"(DATE '{start}' + {_u(salt, days)}::INTEGER)::TIMESTAMP"


def _columns(t):
    if t == "region":
        return [("r_regionkey", "r::INTEGER"),
                ("r_name", "['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'][r + 1]")]
    if t == "nation":
        return [("n_nationkey", "r::INTEGER"), ("n_name", "'NATION_' || r"),
                ("n_regionkey", "(r % 5)::INTEGER")]
    if t == "customer":
        return [("c_custkey", "r + off"), ("c_name", "printf('Customer#%09d', r)"),
                ("c_nationkey", f"{_u(1, 25)}::INTEGER"),
                ("c_acctbal", f"({_u(2, 1099980)} - 99999) / 100.0"),
                ("c_mktsegment", _pick(3, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]))]
    if t == "supplier":
        return [("s_suppkey", "r + off"), ("s_name", "printf('Supplier#%09d', r)"),
                ("s_nationkey", f"{_u(1, 25)}::INTEGER"),
                ("s_acctbal", f"({_u(2, 1099980)} - 99999) / 100.0")]
    if t == "part":
        return [("p_partkey", "r + off"),
                ("p_name", _pick(1, ["large", "hot", "small", "cold", "red", "blue", "green", "matte"])
                 + " || ' ' || " + _pick(2, ["ring", "bolt", "nut", "pipe", "gear", "valve", "plate", "screw"])),
                ("p_brand", f"'Brand#' || ({_u(3, 25)} + 1)"),
                ("p_type", _pick(4, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])),
                ("p_size", f"({_u(5, 50)} + 1)::INTEGER"),
                ("p_retailprice", "(9000 + r % 1000) / 10.0")]
    if t == "orders":
        return [("o_orderkey", "r + off"), ("o_custkey", f"{_u(1, 15000)} + off"),
                ("o_orderstatus", _pick(2, ["F", "O", "P"])),
                ("o_totalprice", f"(100000 + {_u(3, 49900000)}) / 100.0"),
                ("o_orderdate", _day("1995-01-01", 4, 2404)),
                ("o_orderpriority", _pick(5, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]))]
    if t == "lineitem":
        return [("l_orderkey", f"{_u(1, 150000)} + off"), ("l_partkey", f"{_u(2, 20000)} + off"),
                ("l_suppkey", f"{_u(3, 1000)} + off"),
                ("l_linenumber", f"({_u(4, 7)} + 1)::INTEGER"),
                ("l_quantity", f"({_u(5, 50)} + 1)::DOUBLE"),
                ("l_extendedprice", f"({_u(5, 50)} + 1) * (90000 + {_u(2, 1000)} * 10) / 100.0"),
                ("l_discount", f"{_u(6, 11)} / 100.0"), ("l_tax", f"{_u(7, 9)} / 100.0"),
                ("l_returnflag", _pick(8, ["A", "N", "R"])), ("l_linestatus", _pick(9, ["F", "O"])),
                ("l_shipdate", _day("1995-01-02", 10, 2498))]
    if t == "events":
        return [("event_id", "r + off"),
                ("ts", f"TIMESTAMP '2024-01-01' + to_microseconds({_u(1, 2592000000000)})"),
                ("user_id", f"{_u(2, 1500)} + off"),
                ("event_type", _pick(3, ["click", "error", "purchase", "signup", "view"])),
                ("value", f"{_u(4, 56022)} / 100.0"),
                ("props", f"'{{\"k\": ' || {_u(5, 100)} || '}}'")]
    if t == "documents":
        # 5.2% are near-copies of an earlier document (a tenth of their words
        # replaced) and 0.2% verbatim copies, so the dedup stages find work
        v, nv = _lst(VOCAB), len(VOCAB)
        word = (f"CASE WHEN NOT exact AND src != r AND hash(r, j, 7) % 10 = 0 "
                f"THEN {v}[(hash(r, j, 43) % {nv})::BIGINT + 1] "
                f"ELSE {v}[(hash(src, j, 42) % {nv})::BIGINT + 1] END")
        text = (f"array_to_string(list_transform(range(1, (9 + hash(src, 1, 42) % 90)::BIGINT), "
                f"j -> {word}), ' ')")
        return [("doc_id", "r + off"), ("text", text),
                ("lang", f"CASE WHEN {_u(3, 100)} < 41 THEN 'en' ELSE "
                         f"['de', 'es', 'fr', 'zh'][{_u(4, 4)} + 1] END"),
                ("source", "'src' || (r % 20)")]
    if t == "embeddings":
        return [("vec_id", "r + off"),
                ("embedding", "list_transform(range(64), j -> (((hash(label, j, 11) % 2001)::BIGINT - 1000) / 5000.0 "
                              "+ ((hash(r, j, 13) % 2001)::BIGINT - 1000) / 10000.0)::FLOAT)"),
                ("label", "label::INTEGER")]
    raise ValueError(t)


def _multiplier(seed, m):
    """A seeded multiplier coprime with m, so p -> a*p + b permutes 0..m-1."""
    a = 1 + (seed * 2654435761 + 97) % max(1, m - 1)
    while math.gcd(a, m) != 1:
        a += 1
    return a


def _select(name, copies, seed):
    n, _, rep = TABLES[name]
    k = copies if rep else 1
    m = n * k
    a, b = _multiplier(seed, m), (seed * 40503 + 11) % m
    off = f"{key_base(seed)} + copy * {STRIDE}" if k > 1 else "0"
    base = (f"SELECT i % {n} AS r, i // {n} AS copy FROM "
            f"(SELECT (range * {a} + {b}) % {m} AS i FROM range({m}))")
    aux = f"SELECT *, {off} AS off"
    if name == "documents":
        aux += (f", CASE WHEN r > 0 AND {_u(5, 1000)} < 52 THEN r - 1 - {_u(6, 50)} % r ELSE r END AS src"
                f", {_u(5, 1000)} < 2 AS exact")
    if name == "embeddings":
        aux += f", {_u(1, 10)} AS label"
    cols = _columns(name)
    body = ", ".join(f"{e} AS {c}" for c, e in cols)
    sel = f"SELECT {body} FROM ({aux} FROM ({base}))"
    if name == "documents":
        sel = f"SELECT *, length(text)::BIGINT AS n_chars FROM ({sel})"
    return sel


def _check(con, name, path, copies, seed):
    n, key, rep = TABLES[name]
    k = copies if rep else 1
    total = con.execute(f"SELECT count(*) FROM '{path}'").fetchone()[0]
    if total != n * k:
        raise RuntimeError(f"{name}: {total} rows, expected {n} x {k}")
    if k > 1:
        base = key_base(seed)
        got = con.execute(
            f"SELECT ({key} - {base}) // {STRIDE} AS c, count(*), min({key}), max({key}) "
            f"FROM '{path}' GROUP BY ALL ORDER BY c").fetchall()
        if [g[0] for g in got] != list(range(k)):
            raise RuntimeError(f"{name}: copies {[g[0] for g in got]} != 0..{k - 1}")
        for c, cn, lo, hi in got:
            if cn != n or lo < base + c * STRIDE or hi >= base + (c + 1) * STRIDE:
                raise RuntimeError(f"{name}: copy {c} has {cn} rows in [{lo}, {hi}]")
        for x, y in zip(got, got[1:]):
            if x[3] >= y[2]:
                raise RuntimeError(f"{name}: copies {x[0]} and {y[0]} overlap")


def _write_part(sql, path):
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT parquet)")
    con.close()


def generate(out_dir, names, copies, seed):
    """Writes each table as <out_dir>/<name>.parquet/part-<i>.parquet; a
    table of a million rows or more is written as four parts in parallel,
    each part a contiguous range of row positions."""
    for name in names:
        path = f"{out_dir}/{name}.parquet"
        os.makedirs(path)
        m = rows(name, copies)
        k = 4 if m >= 1_000_000 else 1
        sql = _select(name, copies, seed)
        threads = [threading.Thread(target=_write_part, args=(
            sql.replace(f"FROM range({m})", f"FROM range({m * i // k}, {m * (i + 1) // k})"),
            f"{path}/part-{i}.parquet")) for i in range(k)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    con = duckdb.connect()
    for name in names:
        _check(con, name, f"{out_dir}/{name}.parquet/*.parquet", copies, seed)
    con.close()
