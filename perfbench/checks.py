"""Output checks for one benchmark run, made apart from Spark.

- Oracle queries: the query's `SparkEntry.oracleSql` runs in DuckDB over
  the same input files and is compared cell by cell the way
  tools/diff.py compares (columns sorted by name, exact stringified
  cells in row order).
- `q_sim_ann_neighbors` (no oracle): every reported score equal to the
  exact cosine computed in numpy, and per query vector dense ranks, at
  most 5, in score order (the LibrarySpec checks; its scalatest has no
  recall floor). The exact top-k `q_sim_cosine_topk` and its banded twin
  must equal numpy's ordered top-k pairs and scores: their DuckDB oracle
  is an all-pairs list join that costs about 12 s a run at 2,000 vectors.
- Every timed sample: the rows the sink received (noop, count() or
  parquet) equal the checked row count.
- Ingest: DuckDB over the raw CSV / JSON lines agrees with DuckDB over
  the written parquet on row count and an order-independent checksum of
  every column.

An operation is one timed sample (query x sink, or one table's ingest);
any mismatch or error counts it as failed.
"""
import glob
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# queries that fail their check every run because of a known fault in
# the engine (named in perfbench/README.md); they stay counted as failed
# and do not make a run incorrect
KNOWN_FAULTS = set()

RAW_TYPES = {
    "lineitem": {
        "l_orderkey": "BIGINT", "l_partkey": "BIGINT",
        "l_suppkey": "BIGINT", "l_linenumber": "INTEGER",
        "l_quantity": "DOUBLE", "l_extendedprice": "DOUBLE",
        "l_discount": "DOUBLE", "l_tax": "DOUBLE",
        "l_returnflag": "VARCHAR", "l_linestatus": "VARCHAR",
        "l_shipdate": "TIMESTAMP"},
    "orders": {
        "o_orderkey": "BIGINT", "o_custkey": "BIGINT",
        "o_orderstatus": "VARCHAR", "o_totalprice": "DOUBLE",
        "o_orderdate": "TIMESTAMP", "o_orderpriority": "VARCHAR"},
    "documents": {
        "doc_id": "BIGINT", "text": "VARCHAR", "lang": "VARCHAR",
        "source": "VARCHAR", "n_chars": "BIGINT"},
}


def canon(v):
    """Stringify a cell the strict way (tools/diff.py): exact repr."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def rows_of(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ([cols[i] for i in order],
            [[canon(r[i]) for i in order] for r in rows])


def parquet_source(path):
    """A table written by Spark is a directory of part files."""
    if os.path.isdir(path):
        return f"read_parquet('{path}/*.parquet')"
    return f"read_parquet('{path}')"


def connect(tables_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        p = f"{tables_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM {parquet_source(p)}")
    return con


def oracle_check(con, sql, files):
    """(ok, oracle row count, message)."""
    scols, srows = rows_of(con, f"SELECT * FROM read_parquet({files!r})")
    ocols, orows = rows_of(con, sql)
    if scols != ocols:
        return False, len(orows), f"columns {scols} vs {ocols}"
    if len(srows) != len(orows):
        return False, len(orows), f"rows {len(srows)} vs {len(orows)}"
    for i, (a, b) in enumerate(zip(srows, orows)):
        if a != b:
            return False, len(orows), f"first diff at row {i}"
    return True, len(orows), ""


# ------------------------------------------------------ exact neighbours

def exact_cosines(tables_dir):
    t = pq.read_table(f"{tables_dir}/embeddings.parquet",
                      columns=["vec_id", "embedding"])
    ids = t.column("vec_id").to_numpy()
    x = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    n = np.sqrt((x * x).sum(axis=1))
    c = (x @ x.T) / np.outer(n, n)
    # round(., 4) half away from zero, as Spark's round
    c = np.sign(c) * np.floor(np.abs(c) * 1e4 + 0.5) / 1e4
    return ids, c


def exact_top_pairs(ids, c, k):
    """The k best pairs (id1 < id2) by (cos desc, id1, id2), in order."""
    iu, ju = np.triu_indices(len(ids), 1)
    a, b = ids[iu], ids[ju]
    lo, hi = np.minimum(a, b), np.maximum(a, b)
    order = np.lexsort((hi, lo, -c[iu, ju]))[:k]
    return [(int(lo[i]), int(hi[i])) for i in order]


def score_of(ids, c):
    pos = {int(v): i for i, v in enumerate(ids)}
    return lambda a, b: c[pos[int(a)], pos[int(b)]]


def ann_check(name, tables_dir, files):
    """(ok, rows, message) for the queries checked against numpy."""
    got = pq.read_table(files).to_pylist()
    ids, c = exact_cosines(tables_dir)
    score = score_of(ids, c)
    bad = [r for r in got if abs(r["cos"] - score(
        r.get("id1", r.get("qid")), r.get("id2", r.get("nid")))) > 1e-9]
    if bad:
        return False, len(got), f"{len(bad)} scores differ from exact"
    if name in EXACT_TOPK:
        have = [(r["id1"], r["id2"]) for r in got]
        if have != exact_top_pairs(ids, c, EXACT_TOPK[name]):
            return False, len(got), "top-k pairs differ from exact"
        return True, len(got), ""
    if name == "q_sim_ann_neighbors":
        by_q = {}
        for r in got:
            by_q.setdefault(r["qid"], []).append(r)
        for q, rs in by_q.items():
            rs.sort(key=lambda r: r["rnk"])
            if [r["rnk"] for r in rs] != list(range(1, len(rs) + 1)) or \
                    len(rs) > 5 or \
                    any(x["cos"] < y["cos"] for x, y in zip(rs, rs[1:])):
                return False, len(got), f"qid {q}: ranks or order wrong"
        return True, len(got), ""
    return False, len(got), "no check defined"


# checked in numpy rather than DuckDB (see the module docstring)
EXACT_TOPK = {"q_sim_cosine_topk": 10, "q_sim_cosine_topk_banded": 10}
NUMPY_CHECKED = {"q_sim_ann_neighbors"} | set(EXACT_TOPK)


# ---------------------------------------------------------------- ingest

def column_digest(con, source, cols):
    exprs = ["count(*)"] + [f"count({c}), sum(hash({c}))" for c in cols]
    return con.execute(f"SELECT {', '.join(exprs)} FROM {source}").fetchone()


def ingest_check(con, raw_dir, tables_dir, table):
    """(ok, raw row count, message)."""
    types = RAW_TYPES[table]
    spec = "{" + ", ".join(f"'{k}': '{v}'" for k, v in types.items()) + "}"
    if table == "documents":
        raw = f"read_json('{raw_dir}/documents.jsonl', columns={spec}, " \
              "format='newline_delimited')"
    else:
        raw = f"read_csv('{raw_dir}/{table}.csv', header=true, " \
              f"columns={spec})"
    a = column_digest(con, raw, list(types))
    b = column_digest(con, parquet_source(f"{tables_dir}/{table}.parquet"),
                      list(types))
    if a != b:
        return False, a[0], "raw and parquet digests differ"
    return True, a[0], ""


# ------------------------------------------------------------------ run

def check_run(rec, spec, data, out):
    ingest = spec["data"] == "scaled"
    tables_dir = f"{out}/check/tables" if ingest else data
    con = connect(tables_dir)
    expected, bad, notes = {}, set(), {}

    check = {s["query"]: s for s in rec["check"]["samples"]}
    for name, s in check.items():
        if "error" in s:
            bad.add(name)
            notes[name] = s["error"]
        elif s.get("readback_rows") != s.get("rows"):
            bad.add(name)
            notes[name] = "rows read back differ from rows written"

    if ingest:
        for table in RAW_TYPES:
            name = f"ingest:{table}"
            if name in bad:
                continue
            ok, n, msg = ingest_check(con, f"{data}/raw", tables_dir, table)
            expected[name] = n
            if not ok:
                bad.add(name)
                notes[name] = msg

    for q in spec["queries"]:
        if q in bad:
            continue
        files = sorted(glob.glob(f"{out}/check/results/{q}/*.parquet"))
        if not files:
            bad.add(q)
            notes[q] = "no output"
            continue
        try:
            if q in NUMPY_CHECKED:
                ok, n, msg = ann_check(q, tables_dir, files)
            elif q in rec["oracle_sql"]:
                ok, n, msg = oracle_check(con, rec["oracle_sql"][q], files)
            else:
                ok, n, msg = False, -1, "no oracle and no exact check"
        except Exception as e:  # a failing oracle is a failed check
            ok, n, msg = False, -1, f"{type(e).__name__}: {e}"
        expected[q] = n
        if not ok:
            bad.add(q)
        if msg:
            notes[q] = msg

    attempted = failed = 0
    unexpected = set()
    for r in rec["rounds"]:
        for s in r["samples"]:
            attempted += 1
            q = s["query"]
            if "error" in s or q in bad or s.get("rows") != expected.get(q):
                failed += 1
                if q not in KNOWN_FAULTS:
                    unexpected.add(q)
    for q in sorted(unexpected):
        print(f"perfbench: check failed for {q}: {notes.get(q, 'rows')}",
              flush=True)
    return {"correct": not unexpected, "attempted": attempted,
            "failed": failed, "notes": notes}
