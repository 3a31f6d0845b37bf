"""Seeded input generator for the benchmark.

Two input sets, both a pure function of the seed:

* ``query_tables``: the ten parquet tables the registered queries read
  (region … embeddings), one file per table, with the schemas, physical
  types and value domains of FIXTURES.md part B at scale factor 0.001.
* ``files_table``: the reference's ``files`` source table (FIXTURES.md A.1)
  for the migration workloads: a unique 32-hex ``id`` and NULL shares on
  every column of the ``filesPolicy`` NULL policy, written as a fixed number
  of files so that scan parallelism is the engine's choice.

Usage: python3 gen.py <query|files> <seed> <out_dir> [rows]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

QUERY_ROWS = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
              "lineitem": 6000, "events": 1000, "documents": 500,
              "embeddings": 500}
EVENT_USERS = 15
FILES_PARTS = 8
# Share of NULLs on each NULL-policy column of the files table.
FILES_NULL_SHARE = 0.08

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "bright"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "widget", "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
EPOCH_1995 = np.datetime64("1995-01-01", "ms")
EPOCH_2024 = np.datetime64("2024-01-01", "us")


def cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def query_tables(seed, out_dir):
    rng = np.random.default_rng(seed)
    n = QUERY_ROWS
    os.makedirs(out_dir, exist_ok=True)
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": cents(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"])})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": cents(rng, -999.99, 9999.99, n["supplier"])})
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(n["part"]), pa.int64()),
        "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}"
                   for _ in range(n["part"])],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(PART_TYPES, n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": [round(900 + (i % 1000) / 10, 1) for i in range(n["part"])]})
    no = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": cents(rng, 1000, 500000, no),
        "o_orderdate": pa.array(
            EPOCH_1995 + rng.integers(0, 2400, no).astype("timedelta64[D]"),
            pa.timestamp("ms")),
        "o_orderpriority": rng.choice(PRIORITIES, no)})
    nl = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": cents(rng, 900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": pa.array(
            EPOCH_1995 + (1 + rng.integers(0, 2500, nl)).astype("timedelta64[D]"),
            pa.timestamp("ms"))})
    ne = n["events"]
    # Increasing event time over 30 days, microsecond resolution.
    gaps = rng.exponential(30 * 86400e6 / ne, ne).astype(np.int64)
    tables["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(EPOCH_2024 + np.cumsum(gaps).astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, EVENT_USERS, ne), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50, ne), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    tables["documents"] = documents(rng, n["documents"])
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def documents(rng, nd):
    """Bag-of-words texts over a 30-word vocabulary. Exactly one doc in ten
    is a near-duplicate of an earlier one (same words, 0-2 trailing "dup"
    markers), so the dedup and LSH queries find real pairs; the multiset of
    document lengths is the same for every seed, so the seed changes the
    content and not the amount of work."""
    lengths = rng.permutation(np.linspace(10, 99, nd).astype(int))
    dups = set(rng.choice(np.arange(11, nd), nd // 10, replace=False).tolist())
    texts = []
    for i in range(nd):
        if i in dups:
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(0, 3)))
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(lengths[i]))))
    return pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, nd),
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def files_table(seed, out_dir, rows):
    """The reference `files` table (FIXTURES.md A.1), source column names."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    # Unique 32-hex ids: a random high half, a permuted row index as the low.
    hi = rng.integers(0, 2**63, rows, dtype=np.int64).astype(np.uint64)
    ids = [f"{h:016x}{i:016x}" for h, i in zip(hi, rng.permutation(rows))]

    def nulls(values):
        mask = rng.random(rows) < FILES_NULL_SHARE
        return [None if m else v for v, m in zip(values, mask)]

    def ints(lo, hi_):
        return pa.array(nulls(rng.integers(lo, hi_, rows).tolist()), pa.int32())

    exts = ["jpg", "png", "mp4", "pdf", "txt", "zip"]
    ext = rng.choice(exts, rows)
    modified = EPOCH_2024.astype("datetime64[us]") + rng.integers(
        0, 365 * 86400 * 10**6, rows).astype("timedelta64[us]")
    table = pa.table({
        "id": ids,
        "client_name": nulls([f"client_{c}" for c in rng.integers(0, 500, rows)]),
        "client_zone": nulls(rng.choice(["hn", "hcm", "dn", "sg"], rows).tolist()),
        "cluster": nulls([f"c{c:02d}" for c in rng.integers(0, 16, rows)]),
        "duration": ints(0, 7200),
        "ext": nulls(ext.tolist()),
        "fid": nulls([f"{f:032x}" for f in rng.integers(0, 2**62, rows)]),
        "name": nulls([f"file_{i}.{e}" for i, e in zip(rng.integers(0, 10**9, rows), ext)]),
        "mime": nulls([f"application/{e}" for e in ext]),
        "size": ints(0, 2**31 - 1),
        "type": nulls(rng.choice(["image", "video", "doc", "archive"], rows).tolist()),
        "height": ints(1, 4096),
        "width": ints(1, 4096),
        "modified": pa.array(nulls(modified.tolist()), pa.timestamp("us", tz="UTC")),
    })
    per = -(-rows // FILES_PARTS)
    for p in range(FILES_PARTS):
        pq.write_table(table.slice(p * per, per),
                       os.path.join(out_dir, f"part-{p:05d}.parquet"))


def main():
    kind, seed, out_dir = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    if kind == "query":
        query_tables(seed, out_dir)
    elif kind == "files":
        files_table(seed, out_dir, int(sys.argv[4]))
    else:
        sys.exit(f"unknown input set {kind!r}")


if __name__ == "__main__":
    main()
