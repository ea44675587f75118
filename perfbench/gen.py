#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

fixture(out, seed, sf)
    The ten engine tables (region ... embeddings) as single parquet files
    with exactly the schemas and value domains of the engine's test
    fixture (FIXTURES.md): uniform TPC-H-ish columns, an `events` stream
    with sorted arrival times, a 30-word token corpus whose every 20th
    document is a near-duplicate (an earlier text plus " dup"), and
    unit-norm isotropic 64-d embeddings with ten labels.

scaled(out, seed, base_sf, factor)
    The `ingest_scaled` inputs: the base_sf fixture for `seed`, grown by
    `factor` key-shifted copies made by tools/scaleup.py, then
      - each document copy i >= 1 gets seeded token edits drawn from the
        corpus's own vocabulary, so distinct text grows with the factor;
      - lineitem and orders are exported as CSV and documents as JSON
        lines, in a seeded row order (raw/);
      - every other table stays parquet (tables/), where the ingest
        writes the three raw tables beside them;
      - the base fixture is kept (base/) for the session warm-up.

Both are byte-identical for a given seed and size. Usage:
    gen.py fixture OUT SEED [SF]
    gen.py scaled OUT SEED BASE_SF FACTOR
"""
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pa_csv
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.145, 0.15, 0.145, 0.15]
DIM = 64

US_PER_DAY = 86_400_000_000


def ts_us(days_from_epoch):
    """int64 µs timestamps (no zone), the fixture's timestamp[us]."""
    return pa.array(days_from_epoch.astype(np.int64) * US_PER_DAY,
                    type=pa.timestamp("us"))


def day(y, m, d):
    return int((np.datetime64(f"{y:04d}-{m:02d}-{d:02d}") -
                np.datetime64("1970-01-01")).astype(np.int64))


def money(rng, lo, hi, n):
    """Uniform cents in [lo, hi], as doubles with two decimals."""
    cents = rng.integers(int(lo * 100), int(hi * 100) + 1, n)
    return np.round(cents / 100.0, 2)


def write(tbl, path):
    pq.write_table(tbl, path, compression="snappy")


def fixture(out, seed, sf=0.1):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_user = int(15_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))

    write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS}), f"{out}/region.parquet")
    write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")

    ck = np.arange(n_cust, dtype=np.int64)
    write(pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}),
        f"{out}/customer.parquet")

    sk = np.arange(n_supp, dtype=np.int64)
    write(pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)}),
        f"{out}/supplier.parquet")

    pk = np.arange(n_part, dtype=np.int64)
    adj = np.array(ADJ)[rng.integers(0, 8, n_part)]
    noun = np.array(NOUN)[rng.integers(0, 8, n_part)]
    write(pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)}),
        f"{out}/part.parquet")

    d0, d1 = day(1995, 1, 1), day(2001, 8, 1)
    write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(STATUS)[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": ts_us(rng.integers(d0, d1 + 1, n_ord)),
        "o_orderpriority": np.array(PRIORITY)[rng.integers(0, 5, n_ord)]}),
        f"{out}/orders.parquet")

    s0, s1 = day(1995, 1, 2), day(2001, 11, 4)
    write(pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105_000.0, n_line),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": ts_us(rng.integers(s0, s1 + 1, n_line))}),
        f"{out}/lineitem.parquet")

    # Poisson arrivals over 30 days, sorted by event_id like the fixture
    t0 = day(2024, 1, 1) * US_PER_DAY
    gaps = rng.exponential(30 * US_PER_DAY / n_ev, n_ev)
    ts = t0 + np.minimum(np.cumsum(gaps), 30 * US_PER_DAY - 1).astype(np.int64)
    write(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_user, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        f"{out}/events.parquet")

    texts = []
    for i in range(n_doc):
        if i % 20 == 11 and i > 20:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_tok = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(VOCAB)[rng.integers(0, 30, n_tok)]))
    write(documents_table(
        np.arange(n_doc, dtype=np.int64), texts,
        np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)]),
        f"{out}/documents.parquet")

    x = rng.standard_normal((n_vec, DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    write(pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, (n_vec + 1) * DIM, DIM), pa.int32()),
            pa.array(x.ravel(), pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32())}),
        f"{out}/embeddings.parquet")


def documents_table(doc_id, texts, langs):
    return pa.table({
        "doc_id": pa.array(doc_id, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in doc_id], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


RAW = ("lineitem", "orders", "documents")


def scaled(out, seed, base_sf, factor):
    base, grown = f"{out}/base", f"{out}/grown"
    fixture(base, seed, base_sf)
    subprocess.run([sys.executable, f"{REPO}/tools/scaleup.py", base, grown,
                    str(factor)], check=True, stdout=subprocess.DEVNULL)
    rng = np.random.default_rng([seed, factor])
    os.makedirs(f"{out}/raw", exist_ok=True)
    os.makedirs(f"{out}/tables", exist_ok=True)
    for name in os.listdir(grown):
        if name[:-len(".parquet")] not in RAW:
            shutil.move(f"{grown}/{name}", f"{out}/tables/{name}")

    docs = pq.read_table(f"{grown}/documents.parquet")
    n_base = pq.read_metadata(f"{base}/documents.parquet").num_rows
    texts = docs.column("text").to_pylist()
    for i in range(n_base, len(texts)):
        toks = texts[i].split(" ")
        for j in rng.choice(len(toks), min(len(toks), 3), replace=False):
            toks[j] = VOCAB[int(rng.integers(0, 30))]
        texts[i] = " ".join(toks)
    docs = documents_table(docs.column("doc_id").to_numpy(), texts,
                           docs.column("lang").to_pylist())
    docs = docs.take(rng.permutation(docs.num_rows))
    with open(f"{out}/raw/documents.jsonl", "w") as f:
        for row in docs.to_pylist():
            f.write(json.dumps(row, separators=(",", ":")) + "\n")

    for name in ("orders", "lineitem"):
        t = pq.read_table(f"{grown}/{name}.parquet")
        t = t.take(rng.permutation(t.num_rows))
        write_csv(t, f"{out}/raw/{name}.csv")
    shutil.rmtree(grown)


def write_csv(t, path):
    """Header + rows; doubles in shortest round-trip form, timestamps as
    ISO local date-times (Spark's default TIMESTAMP_NTZ CSV format)."""
    for i, name in enumerate(t.column_names):
        if pa.types.is_timestamp(t.schema.field(i).type):
            t = t.set_column(i, name, pc.strftime(
                t.column(i), format="%Y-%m-%dT%H:%M:%S"))
    pa_csv.write_csv(t, path)


if __name__ == "__main__":
    kind, out, seed = sys.argv[1], sys.argv[2], int(sys.argv[3])
    if kind == "fixture":
        fixture(out, seed, float(sys.argv[4]) if len(sys.argv) > 4 else 0.1)
    elif kind == "scaled":
        scaled(out, seed, float(sys.argv[4]), int(sys.argv[5]))
    else:
        sys.exit(f"unknown kind {kind}")
