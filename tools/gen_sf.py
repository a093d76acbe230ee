#!/usr/bin/env python3
"""Generate an sf-scaled synthetic testdata tier (default sf1 = 10x
sf0.1) matching the driver-generated tables' schemas and measured
distributions (see TESTDATA.md). Used ONLY for the cross-SF scaling
bench: the correctness gates at any SF compare Spark vs DuckDB over
the SAME parquet, so they are oracle-valid on this data too, except
the pinned-VALUES oracles which tools/check.py SF-scopes to sf0.01.

Distributions were measured from /root/testdata/sf0.1 (round 13):
  region    5 fixed rows
  nation    25 rows, NATION_i, regionkey = i % 5
  customer  150k*sf  name Customer#%09d, nationkey U[0,25),
            acctbal U[-1000,10000) 2dp, mktsegment 5 uniform
  supplier  10k*sf   same shape
  part      200k*sf  name = adj noun (8x8), Brand#U[0,25),
            type 6 uniform, size U[1,50], retail 900+(key%1000)*0.1
  orders    1.5M*sf  custkey U, status {O,F,P}, totalprice
            U[1000,500000) 2dp, orderdate day-granular
            U[1995-01-01, 2001-08-01], priority 5 uniform
  lineitem  6M*sf    independent rows: orderkey U[0,orders),
            partkey/suppkey U, linenumber U[1,7], quantity U[1,50],
            extendedprice U[900,105000) 2dp, discount U{0..0.10},
            tax U{0..0.08}, returnflag {A,N,R}, linestatus {F,O},
            shipdate = day-granular U[orders range] + U[1,95] days
  events    1M*sf    ts = sorted U over [2024-01-01, 2024-01-31),
            user U[0, 15000*sf), type 5 uniform, value Exp(50) 2dp,
            props {"k": U[0,100)}
  documents 50k*sf   30-word vocab, length U[10,100]; ~4.6% of docs
            are near-copies of an earlier doc with 'dup' appended
            (prefix-cluster sizes 2-4 at sf0.1), a few exact copies;
            lang weights en .4 / de es fr zh .15; source = src(id%20)
  embeddings 8000 at sf1 (500/500/2000 ladder x4): 64-dim uniform
            unit vectors, label U[0,10)
"""
import os, sys, zlib
from pathlib import Path
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --open-vocab (r14): replace the closed 30-word documents vocabulary
# with a Zipf(1.3) draw over token ids "w<k>" — distinct-token count
# then grows with corpus size (Heaps' law), which is the PRODUCTION
# text shape. The closed-vocab default keeps every shingle's document
# frequency growing linearly with SF, so the dedup family's Σdf² pair
# constant is a fixture artifact there (SURVEY §5.1); this tier lets
# the scaling ladder measure the real thing. Dup planting, lengths,
# langs, schema are identical. Default output dir gains an "ov"
# suffix ("sf1ov" does not end in "sf1", so no pin tier ever matches).
OPEN_VOCAB = "--open-vocab" in sys.argv
# --docs-only (r15): emit just documents.parquet — the third
# open-vocab decade (5M docs) only feeds the dedup ladder, and
# sf100's lineitem (600M rows) would dwarf it for no consumer.
DOCS_ONLY = "--docs-only" in sys.argv
# --emb-only (r16): emit just embeddings.parquet — the ANN scaling
# ladder's decade tiers (100k -> 1M vectors at sf 12.5 / 125) feed
# only the vector family; the rest of an sf125 tier would be ~75 GB
# of lineitem for no consumer.
EMB_ONLY = "--emb-only" in sys.argv
argv = [a for a in sys.argv
        if a not in ("--open-vocab", "--docs-only", "--emb-only")]
SF = float(argv[1]) if len(argv) > 1 else 1.0
OUT = (argv[2] if len(argv) > 2
       else str(Path(__file__).resolve().parents[1] / "testdata"
                / (f"sf{SF:g}" + ("ov" if OPEN_VOCAB else ""))))
os.makedirs(OUT, exist_ok=True)

def rng(name):
    # crc32, not hash(): python's str hash is salted per process
    return np.random.default_rng([42, zlib.crc32(name.encode())])

# Bounded row groups (r16, widened r17 — verdict #2): pyarrow's
# default writes up to 1Mi rows per row group, and a Spark scan
# CANNOT split inside a row group — byte-range splits assign each
# whole group to the split holding its midpoint. vec1m's single-group
# embeddings file serialized every scan to ONE task of 32 (measured:
# the 257×1M brute ANN sweep was single-core; sf100ov's 5M docs got
# 5-way parallelism for the whole §5.2 ladder). Production corpora
# have many files; a generated one-file tier must carry the
# parallelism in its row groups.
#
# r17 sizing: the BENCH tiers are the binding constraint, not the
# ladder — sf1ov's 50k documents under the r16 262144-row bound were
# still ONE row group (every ov dedup scan ran on one task of 32),
# and vec100k's 100k embeddings were 4 groups. Bound every
# non-lineitem table so the SMALLEST tier that benches it gets ≥ ~24
# groups (lineitem splits fine under pyarrow's 1Mi default at both
# bench SFs; groups stay ≥ ~1 MB so parquet footer overhead is
# noise). Row-group size changes LAYOUT only — the data is a pure
# function of the seeds — so pinned oracles are unaffected.
ROW_GROUP_ROWS = {
    "embeddings": 4096,    # vec100k: 25 groups (was 4)
    "documents": 2048,     # sf1ov 50k docs: 25 groups (was 1)
    "events": 65536,       # sf1: 16 groups (was 1)
    "customer": 32768,     # sf1: 5; sf10 (er_fuzzy at-scale): 46
    "orders": 131072,      # sf1: 12 (was 2)
    "part": 65536,
    "supplier": 16384,
}

def write(name, table):
    path = os.path.join(OUT, f"{name}.parquet")
    pq.write_table(table, path, compression="snappy",
                   row_group_size=ROW_GROUP_ROWS.get(name))
    print(f"{name}: {table.num_rows} rows -> {path}")

DAY_US = 86_400_000_000

def ts_us(arr_us, base="2024-01-01"):
    base_us = np.datetime64(base, "us").astype("int64")
    return (base_us + arr_us).astype("datetime64[us]")

if not DOCS_ONLY and not EMB_ONLY:
    # ---- region / nation (fixed) ----
    write("region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    write("nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))

    # ---- customer ----
    n_cust = int(150_000 * SF)
    g = rng("customer")
    write("customer", pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(g.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": pa.array(np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
             "MACHINERY"])[g.integers(0, 5, n_cust)])}))

    # ---- supplier ----
    n_supp = int(10_000 * SF)
    g = rng("supplier")
    write("supplier", pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(g.uniform(-1000, 10000, n_supp), 2)}))

    # ---- part ----
    n_part = int(200_000 * SF)
    g = rng("part")
    adjs = np.array(["large", "hot", "blue", "old", "cold", "small",
                     "new", "red"])
    nouns = np.array(["ring", "bolt", "plate", "gear", "screw", "wheel",
                      "pin", "cap"])
    keys = np.arange(n_part)
    write("part", pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{a} {n}" for a, n in
                   zip(adjs[g.integers(0, 8, n_part)],
                       nouns[g.integers(0, 8, n_part)])],
        "p_brand": [f"Brand#{b}" for b in g.integers(0, 25, n_part)],
        "p_type": pa.array(np.array(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
             "STANDARD"])[g.integers(0, 6, n_part)]),
        "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1)}))

    # ---- orders ----
    n_ord = int(1_500_000 * SF)
    g = rng("orders")
    odate_days = g.integers(0, 2405, n_ord)  # 1995-01-01 .. 2001-08-01
    ODATE_BASE = np.datetime64("1995-01-01", "us").astype("int64")
    write("orders", pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(g.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(
            np.array(["O", "F", "P"])[g.integers(0, 3, n_ord)]),
        "o_totalprice": np.round(g.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": (ODATE_BASE + odate_days * DAY_US)
            .astype("datetime64[us]"),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
             "5-LOW"])[g.integers(0, 5, n_ord)])}))

    # ---- lineitem (rows independent of orders, like the source data) ----
    n_li = int(6_000_000 * SF)
    g = rng("lineitem")
    sdate_days = g.integers(0, 2405, n_li) + g.integers(1, 96, n_li)
    write("lineitem", pa.table({
        "l_orderkey": pa.array(g.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(g.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(g.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(g.integers(1, 8, n_li), pa.int32()),
        "l_quantity": g.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(g.uniform(900, 105000, n_li), 2),
        "l_discount": np.round(g.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(g.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": pa.array(
            np.array(["A", "N", "R"])[g.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(
            np.array(["F", "O"])[g.integers(0, 2, n_li)]),
        "l_shipdate": (ODATE_BASE + sdate_days * DAY_US)
            .astype("datetime64[us]")}))

    # ---- events ----
    n_ev = int(1_000_000 * SF)
    g = rng("events")
    span_us = 30 * DAY_US  # [2024-01-01, 2024-01-31)
    ts = np.sort(g.integers(0, span_us, n_ev))
    write("events", pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": ts_us(ts),
        "user_id": pa.array(
            g.integers(0, max(int(15_000 * SF), 1), n_ev), pa.int64()),
        "event_type": pa.array(np.array(
            ["click", "error", "purchase", "signup",
             "view"])[g.integers(0, 5, n_ev)]),
        "value": np.round(g.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)]}))

# ---- documents ----
n_doc = 0 if EMB_ONLY else int(50_000 * SF)
g = rng("documents")
vocab = np.array([
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch"])
lengths = g.integers(10, 101, n_doc)
if OPEN_VOCAB:
    # Zipf token ids, capped so the tail stays printable; measured on
    # this draw: 18.1k distinct tokens at sf0.1 (278k tokens), 96.3k
    # at sf1 (2.76M) — Heaps-law growth, vs the constant 30 default.
    #
    # Language realism (r15, verdict #3): every 10th token is a
    # marker word of the doc's assigned language, so the heuristic
    # langid CLASSIFIES on ov text (pre-r15 it correctly answered
    # "und" for every pure-token-id doc, which made the model-gated
    # curation composition vacuously empty on ov tiers — the
    # adjudicated exception this removes from check.py). Markers are
    # drawn BEFORE dup planting so near-copies inherit their source's
    # markers (jaccard unaffected); they are also exactly the
    # high-df stopword class sigMaxDf exists to ban, which makes the
    # ov dedup ladder MORE production-shaped, not less.
    MARKERS = {"en": ["the", "a", "and"], "fr": ["le", "la", "et"],
               "es": ["el", "los", "y"], "de": ["der", "die", "und"],
               "zh": ["的", "了", "是"]}
    langs_list = np.array(["en", "de", "es", "fr", "zh"])
    langs_choice = langs_list[g.choice(5, n_doc,
        p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    toks = np.minimum(g.zipf(1.3, int(lengths.sum())), 1 << 22)
    off = np.concatenate(([0], np.cumsum(lengths)))
    texts = []
    for i in range(n_doc):
        ws = [f"w{t}" for t in toks[off[i]:off[i + 1]]]
        ms = MARKERS[langs_choice[i]]
        for j in range(0, len(ws), 10):
            ws[j] = ms[(j // 10) % len(ms)]
        texts.append(" ".join(ws))
else:
    texts = [" ".join(vocab[g.integers(0, 30, L)]) for L in lengths]
# plant near/exact dup clusters: ~4.6% of docs copy an earlier doc,
# usually with 1-3 'dup' tokens appended (prefix-cluster sizes 2-4 at
# sf0.1), occasionally verbatim (8 exact dups per 5000 docs)
n_dup = int(n_doc * 0.046)
dup_targets = g.choice(np.arange(n_doc // 10, n_doc), n_dup,
                       replace=False)
for t in dup_targets:
    src_id = int(g.integers(0, t))
    extra = int(g.integers(0, 4))
    texts[t] = texts[src_id] + (" dup" * extra if extra else
                                " dup" if g.random() < 0.5 else "")
langs = np.array(["en", "de", "es", "fr", "zh"])
# ov: the lang column matches the injected markers (drawn above);
# closed vocab: independent draw, as always
lang_col = (langs_choice if OPEN_VOCAB
            else langs[g.choice(5, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15])])
if not EMB_ONLY:
    write("documents", pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": pa.array(lang_col),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}))

if not DOCS_ONLY or EMB_ONLY:
    # ---- embeddings ----
    n_emb = {0.001: 500, 0.01: 500, 0.1: 2000}.get(SF, int(8000 * SF))
    g = rng("embeddings")
    v = g.standard_normal((n_emb, 64)).astype("float32")
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    write("embeddings", pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(g.integers(0, 10, n_emb), pa.int32())}))

print("done:", OUT)
