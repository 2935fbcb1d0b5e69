"""Output checks run by run.py on the first timed pass's committed tables.

Every later timed pass and the traced pass are compared in the JVM with
the first one (row count + order-independent content hash per table), so
checking the first pass's outputs here checks them all.

- warehouse_x10: each table is compared, as a multiset of rows, with a
  DuckDB oracle over the generated inputs. The audit-append, SCD merge,
  bi-store merge and denormalize oracles are the library's own
  (graft.queries.Parity.*Sql, passed through the result file); the other
  Pattern-A tables use the same audit-append query over their own columns.
- curation_batch / curation_stream: their inputs have the same content
  for every seed (the seed only orders the rows), so each table's row
  count and content hash must equal the values pinned in expected.json.
  The ANN and PQ tables hold floats from training loops whose summation
  order follows the partitioning, so only their row counts are pinned.
  DuckDB then checks what the screens must do with the generated feed:
  every novel row is admitted, no verbatim copy of a corpus text is, and
  near-copies are admitted at most at NEAR_COPY_LEAK of them, as well as
  structural invariants (ids from the right inputs, one row per id,
  expected shapes).

check() returns a list of problems; empty means correct.
"""
import json
import os

import duckdb

FMT = "%Y-%m-%d %H:%M:%S"
T0 = "2024-01-01 00:00:00"
# the share of a feed's near-copies (a corpus text without its first ten
# characters) the near-dup screen may admit; short texts fall under its
# Jaccard threshold, 1% of them at the pinned outputs
NEAR_COPY_LEAK = 0.05


def _table(path):
    """A committed table: its data files, skipping the _-prefixed side
    directories (indexes, markers) that Spark's reader skips too."""
    files = []
    for d, dirs, fs in os.walk(path):
        dirs[:] = sorted(x for x in dirs if not x.startswith(("_", ".")))
        files += [os.path.join(d, f) for f in sorted(fs) if f.endswith(".parquet")]
    if not files:
        raise duckdb.Error(f"no data files under {path}")
    return f"read_parquet({files!r}, hive_partitioning=true, hive_types_autocast=false)"


def _connect(res, names):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    try:
        con.execute("SET TimeZone = 'UTC'")
    except duckdb.Error:
        pass
    for n in names:
        con.execute(f"CREATE VIEW {n} AS SELECT * FROM read_parquet('{res['in_dir']}/{n}.parquet/*.parquet')")
    return con


def _columns(con, sql):
    return [d[0] for d in con.execute(f"SELECT * FROM ({sql}) LIMIT 0").description]


def _multiset_diff(con, got, exp):
    """Rows in one query and not the other, counted with multiplicity."""
    cols = ", ".join(f'"{c}"' for c in _columns(con, exp))
    g = f"SELECT {cols} FROM ({got})"
    e = f"SELECT {cols} FROM ({exp})"
    n_got, n_exp = (con.execute(f"SELECT count(*) FROM ({q})").fetchone()[0] for q in (g, e))
    diff = con.execute(f"SELECT (SELECT count(*) FROM ({g} EXCEPT ALL {e})) + "
                       f"(SELECT count(*) FROM ({e} EXCEPT ALL {g}))").fetchone()[0]
    return n_got, n_exp, diff


def _warehouse(res):
    problems = []
    con = _connect(res, ["region", "nation", "customer", "supplier", "part",
                         "orders", "lineitem", "events"])
    first = res["check_dir"]
    oracle = res["oracle_sql"]
    ts = lambda c: f"strftime({c}, '{FMT}') AS {c}"
    audit = ["etl_date", "dwd_insert_user", ts("dwd_insert_time"),
             "dwd_modify_user", ts("dwd_modify_time")]
    checks = {}
    for t, etl in [("region", None), ("nation", None), ("customer", None),
                   ("supplier", None), ("part", None), ("orders", "o_orderdate")]:
        src = _columns(con, f"SELECT * FROM {t}")
        e = f"strftime({etl}, '%Y%m%d')" if etl else "'20240101'"
        exp = (f"SELECT {', '.join(src)}, {e} AS etl_date, 'user1' AS dwd_insert_user, "
               f"'{T0}' AS dwd_insert_time, 'user1' AS dwd_modify_user, '{T0}' AS dwd_modify_time "
               f"FROM {t} WHERE {e} = (SELECT max({e}) FROM {t})")
        checks[f"dwd_{t}"] = (", ".join(src + audit), exp)
    checks["dwd_lineitem"] = (
        "l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_quantity, l_extendedprice, "
        "l_returnflag, l_linestatus, " + ", ".join(audit), oracle["dwd_lineitem"])
    checks["dwd_user_latest"] = (
        f"user_id, event_id, ts // 1000 AS ts_us, event_type, value, data_source, "
        f"{ts('dwd_insert_time')}, {ts('dwd_modify_time')}", oracle["dwd_user_latest"])
    checks["fact_order_master"] = ("*", oracle["fact_order_master"])
    checks["dws_customer_region"] = ("*", oracle["dws_customer_region"])
    for name, (proj, exp) in checks.items():
        try:
            n_got, n_exp, diff = _multiset_diff(con, f"SELECT {proj} FROM {_table(first + '/' + name)}", exp)
            if diff or n_got != n_exp:
                problems.append(f"{name}: {n_got} rows vs oracle {n_exp}, {diff} rows differ")
        except duckdb.Error as ex:
            problems.append(f"{name}: oracle check failed: {ex}")
    return problems


def _invariants(con, rules):
    problems = []
    for what, sql in rules:
        try:
            bad = con.execute(sql).fetchone()[0]
            if bad:
                problems.append(f"{what}: {bad}")
        except duckdb.Error as ex:
            problems.append(f"{what}: check failed: {ex}")
    return problems


def _pinned(workload, res):
    """The reference pass's (rows:hash) per table against expected.json;
    an entry without a hash pins the row count only."""
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")) as fh:
        expected = json.load(fh)[workload]
    problems = []
    for table, want in expected.items():
        got = res["reference"].get(table, "missing")
        if (got if ":" in want else got.split(":")[0]) != want:
            problems.append(f"{table}: rows:hash {got}, expected {want}")
    return problems


def _screened(adm, novel, near):
    """Checks that a screen admitted every novel feed row and few near-copies."""
    return [
        ("novel feed rows not admitted", f"SELECT count(*) FROM ({novel}) WHERE id NOT IN (SELECT doc_id FROM {adm})"),
        (f"near-copies admitted above {NEAR_COPY_LEAK:.0%} of them",
         f"SELECT greatest(0, count(*) FILTER (WHERE id IN (SELECT doc_id FROM {adm})) "
         f"- floor({NEAR_COPY_LEAK} * count(*)))::BIGINT FROM ({near})"),
    ]


def _curation_batch(res):
    con = _connect(res, ["documents", "embeddings"])
    w = res["check_dir"]
    cc, sigs, adm, rej = (_table(f"{w}/{n}") for n in
                          ("clean_corpus", "corpus_sigs", "batch_admitted", "batch_rejects"))
    nb, cbs, codes = (_table(f"{w}/{n}") for n in ("ann_neighbors", "pq_codebooks", "pq_codes"))
    return _pinned("curation_batch", res) + _invariants(con, _screened(
        adm, "SELECT doc_id + 9900000 AS id FROM documents WHERE doc_id % 3 = 2",
        "SELECT doc_id + 9000000 AS id FROM documents WHERE doc_id % 3 = 0") + [
        ("clean_corpus ids not in documents",
         f"SELECT count(*) FROM {cc} WHERE doc_id NOT IN (SELECT doc_id FROM documents)"),
        ("clean_corpus repeated ids", f"SELECT count(*) - count(DISTINCT doc_id) FROM {cc}"),
        ("clean_corpus repeated texts", f"SELECT count(*) - count(DISTINCT text) FROM {cc}"),
        ("clean_corpus rows failing the quality filter",
         f"SELECT count(*) FROM {cc} WHERE n_chars < 50 OR token_cnt < 10 "
         f"OR split NOT IN ('train', 'valid', 'test')"),
        ("clean_corpus empty", f"SELECT (count(*) = 0)::INT FROM {cc}"),
        ("corpus_sigs ids not in documents",
         f"SELECT count(*) FROM {sigs} WHERE doc_id NOT IN (SELECT doc_id FROM documents)"),
        ("corpus_sigs repeated ids", f"SELECT count(*) - count(DISTINCT doc_id) FROM {sigs}"),
        ("batch_admitted ids outside the batch",
         f"SELECT count(*) FROM {adm} WHERE doc_id < 9000000"),
        ("batch_admitted exact copies of corpus text",
         f"SELECT count(*) FROM {adm} a JOIN documents d ON a.text = d.text"),
        ("batch_admitted also rejected",
         f"SELECT count(*) FROM {adm} WHERE doc_id IN (SELECT batch_id FROM {rej})"),
        ("batch_admitted repeated ids", f"SELECT count(*) - count(DISTINCT doc_id) FROM {adm}"),
        ("batch_admitted empty", f"SELECT (count(*) = 0)::INT FROM {adm}"),
        ("batch_rejects empty", f"SELECT (count(*) = 0)::INT FROM {rej}"),
        ("ann_neighbors: not 5 known neighbours for each of the 20 queries",
         f"SELECT abs(count(DISTINCT q_id) - 20) + abs(count(*) - 100) + count(*) FILTER "
         f"(WHERE q_id >= 20 OR n_id NOT IN (SELECT vec_id FROM embeddings)) FROM {nb}"),
        ("pq_codebooks shape (4 subspaces x 16 centroids)", f"SELECT abs(count(*) - 64) FROM {cbs}"),
        ("pq_codes: not one code per embedding and subspace",
         f"SELECT abs(count(*) - 4 * (SELECT count(*) FROM embeddings)) + abs(count(DISTINCT (n_id, s)) - count(*)) "
         f"+ count(*) FILTER (WHERE n_id NOT IN (SELECT vec_id FROM embeddings) OR code NOT BETWEEN 0 AND 15) FROM {codes}"),
    ])


def _curation_stream(res):
    con = _connect(res, ["documents"])
    w = res["check_dir"]
    adm, sigs = _table(f"{w}/admitted"), _table(f"{w}/corpus_sigs")
    feed_ids = ("SELECT doc_id + 9000000 FROM documents WHERE doc_id % 4 = 0 "
                "UNION ALL SELECT doc_id + 9500000 FROM documents WHERE doc_id % 4 = 1")
    return _pinned("curation_stream", res) + _invariants(con, _screened(
        adm, "SELECT doc_id + 9500000 AS id FROM documents WHERE doc_id % 4 = 1",
        "SELECT doc_id + 9000000 AS id FROM documents WHERE doc_id % 4 = 0") + [
        ("admitted ids not from the feed", f"SELECT count(*) FROM {adm} WHERE doc_id NOT IN ({feed_ids})"),
        ("admitted repeated ids", f"SELECT count(*) - count(DISTINCT doc_id) FROM {adm}"),
        ("admitted empty", f"SELECT (count(*) = 0)::INT FROM {adm}"),
        ("signature table lost bootstrap rows",
         f"SELECT count(*) FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM {sigs})"),
        ("signature table missing admitted rows",
         f"SELECT count(*) FROM {adm} WHERE doc_id NOT IN (SELECT doc_id FROM {sigs})"),
    ])


def check(workload, res):
    return {"warehouse_x10": _warehouse, "curation_batch": _curation_batch,
            "curation_stream": _curation_stream}[workload](res)
