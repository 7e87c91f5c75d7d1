"""Seeded synthetic tables for the batch workloads.

Writes the same ten parquet tables, with the same physical schema and
value domains, that the program's queries read (see FIXTURES.md part B):
one file and one row group per table, TIMESTAMP(MICROS) without the UTC
flag, money columns with exactly two decimals. The same (seed, sf) always
gives byte-identical inputs. All ten tables are written although the
workloads read fewer: the DuckDB comparison (tools/parity_check.py)
registers every one of them.

    python3 perfbench/gen.py <out_dir> <seed> <sf>
"""
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
PART_WORDS_A = ["small", "red", "blue", "green", "large", "shiny", "steel", "brass"]
PART_WORDS_B = ["ring", "widget", "bolt", "gear", "pipe", "nut", "plate", "spring"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY_US = 86_400_000_000


def cents(rng, lo, hi, n):
    """Money values with exactly two decimals, uniform in [lo, hi]."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def days(rng, start, n_days, n):
    base = np.datetime64(start, "us").astype(np.int64)
    return (base + rng.integers(0, n_days, n) * DAY_US).astype("datetime64[us]")


def write(out, name, df):
    table = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   row_group_size=max(1, len(df)), compression="snappy")


def generate(out, seed, sf):
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    os.makedirs(out, exist_ok=True)

    write(out, "region", pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}))
    write(out, "nation", pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)}))
    write(out, "customer", pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}))
    write(out, "supplier", pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": cents(rng, -999.99, 9999.99, n_supp)}))
    pa_words = np.array([f"{a} {b}" for a in PART_WORDS_A for b in PART_WORDS_B])
    write(out, "part", pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": pa_words[rng.integers(0, len(pa_words), n_part)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])[
            rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0}))
    write(out, "orders", pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]}))
    write(out, "lineitem", pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": cents(rng, 900.0, 105000.0, n_line),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": days(rng, "1995-01-02", 2498, n_line)}))
    ts0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ev_ts = np.sort(ts0 + rng.integers(0, 30 * DAY_US, n_ev))
    write(out, "events", pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ev_ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, max(1, n_cust // 10), n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}))
    # documents: random word sequences, with one in twenty a near-duplicate
    # of an earlier document (a few words changed, "dup" appended)
    vocab = np.array(VOCAB)
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            words = texts[rng.integers(0, i)].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(words + ["dup"]))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    write(out, "documents", pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}))
    emb = rng.normal(0.0, 0.1, (n_emb, 64)).astype(np.float32)
    write(out, "embeddings", pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(emb),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)}))


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
