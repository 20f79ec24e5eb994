"""Seeded input generators for the benchmark.

`tables(dir, scale, seed)` writes the ten parquet tables the queries read
(region … embeddings), with the column types and value shapes of the
TPC-H-ish star schema in FIXTURES.md §1. `catalog(dir, n_tables, seed)`
writes an `information_schema`-shaped column listing (FIXTURES.md §2) as
CSV and returns the graph counts the metadata job must publish for it.

Both are pure functions of their arguments: the same seed gives
byte-identical files.
"""
import csv
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _write(dirpath, name, cols):
    pq.write_table(pa.table(cols), os.path.join(dirpath, f"{name}.parquet"))


def tables(dirpath, scale, seed):
    """Write the query tables; `scale` plays the role of TESTDATA's sf."""
    rng = np.random.default_rng(seed)
    os.makedirs(dirpath, exist_ok=True)
    n_cust = int(150_000 * scale)
    n_supp = max(10, int(10_000 * scale))
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_evt = int(1_000_000 * scale)
    n_users = max(15, int(15_000 * scale))
    n_docs = max(500, int(50_000 * scale))
    n_vecs = max(500, int(20_000 * scale))

    _write(dirpath, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(dirpath, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(dirpath, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    _write(dirpath, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    _write(dirpath, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                              rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})

    order_days = rng.integers(0, 2404, n_ord)
    _write(dirpath, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(EPOCH_1995 + order_days * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})

    lines = np.clip(rng.poisson(4.0, n_ord), 0, 13)
    l_order = np.repeat(np.arange(n_ord), lines)
    n_line = len(l_order)
    _write(dirpath, "lineitem", {
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2500, n_line) * DAY_US)})

    gaps = rng.exponential(30 * DAY_US / n_evt, n_evt).astype(np.int64)
    _write(dirpath, "events", {
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": _ts(EPOCH_2024 + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})

    # one document in twenty repeats an earlier one with " dup" appended,
    # the near-duplicate shape the dedup and set-similarity operators hunt
    texts = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    _write(dirpath, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    vecs = rng.normal(size=(n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(dirpath, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())})


# Multi-byte names and comments: CJK (3 UTF-8 bytes a char), emoji (4),
# accented Latin (2). They make UTF-8 envelope sizing differ from the
# UTF-16 string length the JVM reports.
NAME_WORDS = ["orders", "users", "events", "revenue", "daily", "stage", "raw",
              "dim", "fact", "audit", "注文", "顧客", "売上", "café", "größe"]
COMMENT_WORDS = ["primary key", "foreign key", "nullable", "amount in cents",
                 "updated nightly", "PII, masked", "deprecated", "顧客の識別子",
                 "売上合計（税込）", "🚀 launch metric", "📦 shipment id",
                 "données brutes", "Größe in Bytes"]
COL_TYPES = ["bigint", "int", "varchar(255)", "decimal(18,2)", "timestamp",
             "date", "boolean", "text", "double", "json"]
CATALOG_HEADER = ["database", "cluster", "schema_name", "table_name",
                  "table_description", "is_view", "col_name", "col_type",
                  "col_sort_order", "col_description"]


def catalog(dirpath, n_tables, seed):
    """Write one CSV of column rows for `n_tables` tables into `dirpath`.

    Returns {"rows", "nodes", "relations"}: the input row count and the
    distinct graph nodes and relations the reference semantics derive
    from it (FIXTURES.md §2 Q20: an empty description yields no
    Description node or relation).
    """
    rng = np.random.default_rng(seed)
    os.makedirs(dirpath, exist_ok=True)
    schemas = set()
    rows = 0
    nodes = relations = 0
    with open(os.path.join(dirpath, "columns.csv"), "w", newline="",
              encoding="utf-8") as f:
        w = csv.writer(f)
        w.writerow(CATALOG_HEADER)
        for t in range(n_tables):
            db = "mysql" if rng.random() < 0.7 else "postgres"
            cluster = f"c{int(rng.integers(0, 3))}"
            schema = f"s{int(rng.integers(0, 40))}_{rng.choice(NAME_WORDS)}"
            table = f"t{t}_{rng.choice(NAME_WORDS)}"
            is_view = "true" if rng.random() < 0.15 else "false"
            tdesc = "" if rng.random() < 0.3 else " ".join(rng.choice(COMMENT_WORDS, 3))
            schemas.add((db, cluster, schema))
            nodes += 1 + (tdesc != "")
            relations += 1 + (tdesc != "")
            for c in range(int(rng.integers(5, 35))):
                cdesc = "" if rng.random() < 0.4 else " ".join(rng.choice(COMMENT_WORDS, 2))
                w.writerow([db, cluster, schema, table, tdesc, is_view,
                            f"c{c}_{rng.choice(NAME_WORDS)}", rng.choice(COL_TYPES),
                            c + 1, cdesc])
                rows += 1
                nodes += 1 + (cdesc != "")
                relations += 1 + (cdesc != "")
    dbs = {s[0] for s in schemas}
    clusters = {s[:2] for s in schemas}
    nodes += len(dbs) + len(clusters) + len(schemas)
    relations += len(clusters) + len(schemas)
    return {"rows": rows, "nodes": nodes, "relations": relations}
