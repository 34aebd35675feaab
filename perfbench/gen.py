"""Seeded input generator for the FIXTURES.md schema.

`generate(out_dir, seed, **shape)` writes one parquet file per table
(`region nation supplier customer part orders lineitem events documents
embeddings`) and returns a stats dict (row counts, key skew, max shingle
document frequency) that the benchmark records next to its results.

Row counts follow the TPC-H-style scale factor `sf` (sf0.1 = the bench
scale of FIXTURES.md: 600,000 lineitem rows). `events_x` multiplies the sf
row count of `events`, so that a workload can size its stream on its own,
and
`user_zipf` is the Zipf exponent of `events.user_id` (0 = uniform, as in
the FIXTURES.md tables).

The same seed and shape always give the same logical content.
"""
import json
import os
import sys
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "supplier", "customer", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["A", "N", "R"]
LINE_STATUS = ["F", "O"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
# The DB-jargon vocabulary of the FIXTURES.md documents.
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000      # 1995-01-01T00:00:00 in µs
ORDER_DAYS = 2404                      # 1995-01-01 .. 2001-08-01
EVENTS_T0 = 1_704_067_200_000_000      # 2024-01-01T00:00:00 in µs
EVENTS_SPAN_US = 30 * DAY_US - 1       # .. 2024-01-30T23:59:59.999999


def row_counts(sf, events_x=1.0):
    n = lambda base: max(1, int(round(base * sf)))
    return {
        "region": 5, "nation": 25,
        "supplier": n(10_000), "customer": n(150_000), "part": n(200_000),
        "orders": n(1_500_000), "lineitem": n(6_000_000),
        "events": max(1, int(round(1_000_000 * sf * events_x))),
        "documents": max(500, n(50_000)),
        "embeddings": max(500, n(20_000)),
    }


def zipf_probs(n, s):
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def _money(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size), 2)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _names(fmt, keys):
    return pa.array([fmt % k for k in keys.tolist()], type=pa.string())


def _pick(rng, domain, size, p=None):
    return pa.array(np.asarray(domain, dtype=object)[
        rng.choice(len(domain), size=size, p=p)], type=pa.string())


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy")


def _documents(rng, n):
    """Documents of 10..100 words; about 2 % are exact copies of an
    earlier document and 3 % near copies (one word in ten replaced)."""
    vocab = np.asarray(VOCAB, dtype=object)
    lens = rng.integers(10, 101, size=n)
    words = vocab[rng.integers(0, len(VOCAB), size=int(lens.sum()))]
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    docs = [words[a:a + k] for a, k in zip(starts.tolist(), lens.tolist())]
    kind = rng.random(n)
    src = rng.integers(0, np.maximum(np.arange(n), 1))
    for i in range(1, n):
        if kind[i] < 0.02:
            docs[i] = docs[src[i]]
        elif kind[i] < 0.05:
            d = docs[src[i]].copy()
            hit = rng.random(len(d)) < 0.1
            d[hit] = vocab[rng.integers(0, len(VOCAB), size=int(hit.sum()))]
            docs[i] = d
    return [" ".join(d) for d in docs]


def max_shingle_df(texts):
    """Largest number of documents sharing one distinct 3-word shingle."""
    df = {}
    for t in texts:
        w = t.split(" ")
        for sh in {(w[i], w[i + 1], w[i + 2]) for i in range(len(w) - 2)}:
            df[sh] = df.get(sh, 0) + 1
    return max(df.values()) if df else 0


def key_skew(keys):
    """Largest key frequency divided by the mean key frequency."""
    _, counts = np.unique(keys, return_counts=True)
    return float(counts.max() / counts.mean())


def generate(out_dir, seed, sf=0.1, events_x=1.0, user_zipf=0.0):
    """Write the tables for `seed` into `out_dir`; returns the stats."""
    os.makedirs(out_dir, exist_ok=True)
    n = row_counts(sf, events_x)
    stats = {"seed": seed, "sf": sf, "rows": {}, "key_skew": {}}

    def rng_for(table):
        # one stream per table, so that no table's content depends on
        # another's size
        return np.random.default_rng([seed, zlib.crc32(table.encode())])

    def emit(name, cols):
        stats["rows"][name] = len(next(iter(cols.values())))
        _write(out_dir, name, cols)

    emit("region", {
        "r_regionkey": pa.array(np.arange(5), type=pa.int32()),
        "r_name": pa.array(REGIONS, type=pa.string())})
    k = np.arange(25)
    emit("nation", {
        "n_nationkey": pa.array(k, type=pa.int32()),
        "n_name": _names("NATION_%d", k),
        "n_regionkey": pa.array(k % 5, type=pa.int32())})
    r, k = rng_for("supplier"), np.arange(n["supplier"])
    emit("supplier", {
        "s_suppkey": pa.array(k, type=pa.int64()),
        "s_name": _names("Supplier#%09d", k),
        "s_nationkey": pa.array(k % 25 if len(k) < 25 else
                                r.permutation(k % 25), type=pa.int32()),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, len(k)))})
    r, k = rng_for("customer"), np.arange(n["customer"])
    emit("customer", {
        "c_custkey": pa.array(k, type=pa.int64()),
        "c_name": _names("Customer#%09d", k),
        "c_nationkey": pa.array(r.permutation(k % 25), type=pa.int32()),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, len(k))),
        "c_mktsegment": _pick(r, SEGMENTS, len(k))})
    r, k = rng_for("part"), np.arange(n["part"])
    adj = np.asarray(PART_ADJ, dtype=object)[r.integers(0, 8, len(k))]
    noun = np.asarray(PART_NOUN, dtype=object)[r.integers(0, 8, len(k))]
    emit("part", {
        "p_partkey": pa.array(k, type=pa.int64()),
        "p_name": pa.array(adj + " " + noun, type=pa.string()),
        "p_brand": _names("Brand#%d", r.integers(1, 26, len(k))),
        "p_type": _pick(r, PART_TYPES, len(k)),
        "p_size": pa.array(r.integers(1, 51, len(k)), type=pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (k % 1000) * 0.1, 2))})
    r, k = rng_for("orders"), np.arange(n["orders"])
    emit("orders", {
        "o_orderkey": pa.array(k, type=pa.int64()),
        "o_custkey": pa.array(r.integers(0, n["customer"], len(k)),
                              type=pa.int64()),
        "o_orderstatus": _pick(r, ORDER_STATUS, len(k)),
        "o_totalprice": pa.array(_money(r, 1000, 500_000, len(k))),
        "o_orderdate": _ts(EPOCH_1995 + r.integers(0, ORDER_DAYS + 1,
                                                   len(k)) * DAY_US),
        "o_orderpriority": _pick(r, PRIORITIES, len(k))})
    r, m = rng_for("lineitem"), n["lineitem"]
    orderkey = np.sort(r.integers(0, n["orders"], m))
    first = np.r_[True, orderkey[1:] != orderkey[:-1]]
    run_start = np.maximum.accumulate(np.where(first, np.arange(m), 0))
    qty = r.integers(1, 51, m).astype(np.float64)
    emit("lineitem", {
        "l_orderkey": pa.array(orderkey, type=pa.int64()),
        "l_partkey": pa.array(r.integers(0, n["part"], m),
                              type=pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], m),
                              type=pa.int64()),
        "l_linenumber": pa.array((np.arange(m) - run_start) % 7 + 1,
                                 type=pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(
            np.round(qty * r.uniform(900, 2100, m), 2)),
        "l_discount": pa.array(r.integers(0, 11, m) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, m) / 100.0),
        "l_returnflag": _pick(r, RETURN_FLAGS, m),
        "l_linestatus": _pick(r, LINE_STATUS, m),
        "l_shipdate": _ts(EPOCH_1995 + DAY_US * r.integers(
            1, ORDER_DAYS + 96, m))})
    r, m = rng_for("events"), n["events"]
    users = max(1, n["customer"] // 10)
    if user_zipf > 0:
        rank = r.choice(users, size=m, p=zipf_probs(users, user_zipf))
        user = r.permutation(users)[rank]
    else:
        user = r.integers(0, users, m)
    ts = np.sort(r.integers(0, EVENTS_SPAN_US + 1, m)) + EVENTS_T0
    emit("events", {
        "event_id": pa.array(np.arange(m), type=pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(user, type=pa.int64()),
        "event_type": _pick(r, EVENT_TYPES, m),
        "value": pa.array(np.round(r.exponential(50.0, m), 2)),
        "props": _names('{"k": %d}', r.integers(0, 100, m))})
    stats["key_skew"]["events.user_id"] = key_skew(user)
    r, m = rng_for("documents"), n["documents"]
    texts = _documents(r, m)
    emit("documents", {
        "doc_id": pa.array(np.arange(m), type=pa.int64()),
        "text": pa.array(texts, type=pa.string()),
        "lang": _pick(r, LANGS, m),
        "source": _names("src%d", np.arange(m) % 20),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64())})
    stats["max_shingle_df"] = max_shingle_df(texts)
    r, m = rng_for("embeddings"), n["embeddings"]
    v = r.standard_normal((m, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emit("embeddings", {
        "vec_id": pa.array(np.arange(m), type=pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(v.ravel(), type=pa.float32()), 64)
        .cast(pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, m), type=pa.int32())})
    return stats


if __name__ == "__main__":
    # python3 perfbench/gen.py <out_dir> <seed> [json shape]
    shape = json.loads(sys.argv[3]) if len(sys.argv) > 3 else {}
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), **shape)))
