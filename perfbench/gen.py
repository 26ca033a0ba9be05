"""Seeded input generators for the graft benchmark.

Every input the program sees is made here from the run's seed; the same
seed gives byte-identical inputs. Sizes, and why they were chosen, are
in perfbench/README.md.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# analytics tables: the sf testdata's star schema (FIXTURES.md B) at this scale
# factor (row counts are sf x the sf1 counts below)
SCALE = 0.01
SF1_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
            "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000}
# documents: a Zipf corpus, much larger in vocabulary than the sf
# testdata's 31 uniform words, so hot-term skew can show in the text operators
DOCS = 2000
VOCAB = 2000
ZIPF_S = 1.1
DOC_TOKENS = (10, 80)
# RetrievalOps.QueryTerms, pinned at a hot, a warm and a cold rank
QUERY_TERM_RANKS = {"vector": 2, "join": 40, "slow": 700}

# speed_layer: FIXTURES A1 record shape
CITIES = ["New York", "London", "Tokyo", "Paris", "Sydney", "Berlin",
          "Moscow", "Beijing", "Rio de Janeiro", "Cairo"]
# the reference producer's traffic (BASELINE.md): a batch of 10 records,
# one HTTP GET each, every 5 s (BATCH_SIZE=10, PRODUCE_INTERVAL=5)
SPEED_BATCH = 10
SPEED_INTERVAL_S = 5
SPEED_BATCHES = 60         # schedule length; a run sends a prefix
# one record in 20, at a seeded offset, is faulty, taking these kinds in
# turn: 2% non-numeric temperature (accepted, then dropped), 2% stamped
# 60 s in the past (dropped by the watermark), 1% no city parameter
# (refused with 400). Spaced evenly, so every 50 records hold 2 or 3 and
# the delivered count barely varies with the seed.
FAULT_EVERY = 20
FAULT_KINDS = ["malformed", "late", "missing", "malformed", "late"]
LATE_OFFSET_S = 60

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = ["large", "hot", "blue", "small", "cold", "red", "green", "old"]
NOUN = ["ring", "bolt", "nut", "gear", "pipe", "lamp", "rod", "valve"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]

EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _ts(us):
    return pa.array(np.asarray(us, dtype="int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _day_us(start, days, rng, n):
    base = (np.datetime64(start, "us") - EPOCH).astype("int64")
    return base + rng.integers(0, days, n) * 86_400_000_000


def vocabulary():
    """VOCAB distinct lowercase words; the query terms sit at fixed ranks."""
    rng = np.random.default_rng(7)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words, seen = [], set(QUERY_TERM_RANKS)
    while len(words) < VOCAB - len(QUERY_TERM_RANKS):
        w = "".join(rng.choice(letters, rng.integers(3, 9)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    for term, rank in sorted(QUERY_TERM_RANKS.items(), key=lambda kv: kv[1]):
        words.insert(rank - 1, term)
    return words


def analytics_tables(out, seed):
    """The sf testdata table set (FIXTURES.md B), seeded, at SCALE."""
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(v * SCALE)) for k, v in SF1_ROWS.items()}
    os.makedirs(out, exist_ok=True)
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS}), f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out}/nation.parquet")
    c = n["customer"]
    _write(pa.table({
        "c_custkey": np.arange(c, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": rng.choice(SEGMENTS, c)}), f"{out}/customer.parquet")
    s = n["supplier"]
    _write(pa.table({
        "s_suppkey": np.arange(s, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)}), f"{out}/supplier.parquet")
    p = n["part"]
    _write(pa.table({
        "p_partkey": np.arange(p, dtype="int64"),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, p), rng.choice(NOUN, p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": rng.choice(PTYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 20001) / 10.0, 2)}),
        f"{out}/part.parquet")
    o = n["orders"]
    _write(pa.table({
        "o_orderkey": np.arange(o, dtype="int64"),
        "o_custkey": rng.integers(0, c, o).astype("int64"),
        "o_orderstatus": rng.choice(["O", "F", "P"], o),
        "o_totalprice": _money(rng, 900.0, 450000.0, o),
        "o_orderdate": _ts(_day_us("1995-01-01", 2404, rng, o)),
        "o_orderpriority": rng.choice(PRIORITIES, o)}), f"{out}/orders.parquet")
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype("float64")
    _write(pa.table({
        "l_orderkey": rng.integers(0, o, li).astype("int64"),
        "l_partkey": rng.integers(0, p, li).astype("int64"),
        "l_suppkey": rng.integers(0, s, li).astype("int64"),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, li), 2),
        "l_discount": np.round(rng.integers(0, 11, li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, li) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["O", "F"], li),
        "l_shipdate": _ts(_day_us("1995-01-02", 2498, rng, li))}), f"{out}/lineitem.parquet")
    e = n["events"]
    base = (np.datetime64("2024-01-01", "us") - EPOCH).astype("int64")
    _write(pa.table({
        "event_id": np.arange(e, dtype="int64"),
        # stratified over the 720 hours: every hour holds the same number
        # of events, so the lake's row count does not vary with the seed
        "ts": _ts(np.sort(base + (np.arange(e) * 720 // e) * 3_600_000_000
                          + rng.integers(0, 3_600_000_000, e))),
        "user_id": rng.integers(0, max(1, int(15_000 * SCALE)), e).astype("int64"),
        "event_type": rng.choice(EVENT_TYPES, e),
        "value": np.round(rng.exponential(60.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]}),
        f"{out}/events.parquet")
    documents(out, rng)


def documents(out, rng):
    words = np.array(vocabulary())
    ranks = np.arange(1, VOCAB + 1, dtype="float64")
    prob = ranks ** -ZIPF_S
    prob /= prob.sum()
    lens = rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1, DOCS)
    toks = rng.choice(VOCAB, int(lens.sum()), p=prob)
    texts, at = [], 0
    for ln in lens:
        texts.append(" ".join(words[toks[at:at + ln]]))
        at += ln
    _write(pa.table({
        "doc_id": np.arange(DOCS, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, DOCS),
        "source": [f"src{i}" for i in rng.integers(0, 20, DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")}),
        f"{out}/documents.parquet")


def speed_records(out, seed):
    """speed_layer: the open-loop send schedule, one record per line:
    kind (ok | malformed | missing | late), city, temperature string.
    Records are sent SPEED_BATCH at a time, back to back, every
    SPEED_INTERVAL_S seconds."""
    rng = np.random.default_rng(seed + 2)
    os.makedirs(out, exist_ok=True)
    n = SPEED_BATCH * SPEED_BATCHES
    offset = int(rng.integers(0, FAULT_EVERY))
    with open(f"{out}/records.tsv", "w") as f:
        f.write(f"# batch={SPEED_BATCH} interval_s={SPEED_INTERVAL_S} "
                f"late_offset_s={LATE_OFFSET_S}\n")
        for i in range(n):
            city = CITIES[rng.integers(0, len(CITIES))]
            temp = f"{rng.uniform(0, 120):.2f}"
            k, r = divmod(i - offset, FAULT_EVERY)
            kind = FAULT_KINDS[k % len(FAULT_KINDS)] if r == 0 and i >= offset else "ok"
            if kind == "malformed":
                temp = "n/a"
            f.write(f"{kind}\t{city}\t{temp}\n")


def generate(workload, out, seed):
    if workload == "analytics":
        analytics_tables(out, seed)
    elif workload == "speed_layer":
        speed_records(out, seed)
    else:
        raise ValueError(f"unknown workload {workload}")
