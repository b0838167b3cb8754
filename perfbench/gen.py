"""Seeded input generator for the benchmark.

Writes the ten tables the query library reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) with the
schemas and value distributions of the synthetic TPC-H-like test data
described in TESTDATA.md, at any scale factor, from one seed.

`copies > 1` derives a larger dataset the way graft.ScaleUp does: the
base tables are repeated with every key column shifted by a per-copy
stride, so each copy keeps its own foreign-key universe. The seed also
drives the row order and the split of each table into files; the file
count follows the host's core count, so scans use every core.

Each table is a directory `<name>.parquet/` of `part-NNNNN.parquet`
files; Spark reads the directory, DuckDB reads `<name>.parquet/*.parquet`.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# key columns shifted per copy (the same map graft.ScaleUp uses)
SHIFT = {
    "customer": ["c_custkey"], "supplier": ["s_suppkey"],
    "part": ["p_partkey"], "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"], "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
STRIDE = 100_000_000

WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]


def _days(start, end, n, rng):
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), n, p=p)].tolist(), pa.string())


def base_tables(sf, rng):
    """One copy of the ten tables at scale factor `sf`."""
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{i}" for i in
                             rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                              "SMALL", "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, rng),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days("1995-01-02", "2001-11-04", n_line, rng)})
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts0 + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup",
                                  "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n_ev)])})
    texts = [" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)])
             for k in rng.integers(10, 101, n_doc)]
    # planted near-duplicates (another document plus " dup") and a few
    # exact duplicates: the dedup and clustering kernels need both
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    for i in np.flatnonzero(rng.random(n_doc) < 0.002):
        texts[i] = texts[int(rng.integers(0, n_doc))]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, ["en", "de", "es", "fr", "zh"], n_doc,
                      p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})
    v = rng.standard_normal((n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(v.ravel(), pa.float32()), 64).cast(
                pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})
    return t


def scale_up(tbl, name, copies):
    """`copies` key-shifted repetitions of one table (graft.ScaleUp)."""
    keys = SHIFT.get(name, [])
    if copies == 1 or not keys:
        return tbl
    parts = []
    for c in range(copies):
        cols = {f: tbl[f] for f in tbl.column_names}
        for k in keys:
            cols[k] = pa.array(tbl[k].to_numpy() + c * STRIDE, pa.int64())
        parts.append(pa.table(cols))
    return pa.concat_tables(parts)


def write_table(tbl, path, files, rng):
    """Seeded row order and file split; one row group per file."""
    os.makedirs(path, exist_ok=True)
    n = tbl.num_rows
    tbl = tbl.take(pa.array(rng.permutation(n)))
    files = max(1, min(files, n))
    cuts = np.linspace(0, n, files + 1).astype(int)
    for i in range(files):
        pq.write_table(tbl.slice(cuts[i], cuts[i + 1] - cuts[i]),
                       os.path.join(path, f"part-{i:05d}.parquet"),
                       row_group_size=max(1, n))


def generate(out_dir, sf, copies, seed, files):
    """Write all tables into `out_dir`; returns per-table row counts."""
    rng = np.random.default_rng(seed)
    base = base_tables(sf, rng)
    rows = {}
    for name in TABLES:
        tbl = scale_up(base[name], name, copies)
        # small dimension tables stay one file, as in TESTDATA.md's data
        n_files = files if tbl.num_rows >= 10_000 else 1
        write_table(tbl, os.path.join(out_dir, f"{name}.parquet"), n_files,
                    rng)
        rows[name] = tbl.num_rows
    return rows


def checksum(root):
    """sha256 over every file under `root` (relative path + content)."""
    h = hashlib.sha256()
    total = 0
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for f in sorted(filenames):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                data = fh.read()
            h.update(data)
            total += len(data)
    return h.hexdigest(), total


def ensure(data_dir, sf, copies, seed, files):
    """Generate once per (spec, seed) and reuse; inputs whose spec or
    checksum no longer matches their manifest are generated again.

    Returns the manifest: spec, row counts, bytes and checksum."""
    manifest_path = os.path.join(data_dir, "manifest.json")
    tables = os.path.join(data_dir, "tables")
    spec = {"sf": sf, "copies": copies, "seed": seed, "files": files}
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)
        if (manifest.get("spec") == spec
                and manifest.get("sha256") == checksum(tables)[0]):
            return manifest
    shutil.rmtree(data_dir, ignore_errors=True)
    rows = generate(tables, sf, copies, seed, files)
    digest, nbytes = checksum(tables)
    manifest = {"spec": spec, "rows": rows, "bytes": nbytes,
                "sha256": digest}
    with open(manifest_path, "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest
