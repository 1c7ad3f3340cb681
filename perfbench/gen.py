"""Synthetic inputs in the shapes `graft.Tables` loads, written as parquet.

    python3 perfbench/gen.py --workload offline_eval --seed 1 --out <dir>

Tables: TPC-H-like `orders`/`lineitem` (the interaction log), a bursty
`events` stream and a `documents` corpus with planted exact and near
duplicates, each one parquet file with one row group.

The base tables are a pure function of the workload's size; the seed only
picks the sample the program sees: users with
`pmod(xxhash64(query_id, seed), m) = 0` (and their orders, lines and
events), documents by the same rule on `doc_id div 4` with m = 2, so
planted duplicate neighbours mostly stay together. `xxhash64` is Spark's
(seed 42, one 64-bit word per column).

Shape choices: user activity and item popularity are skewed (powers of
uniforms); half of each order's lines come from one of 40 item categories,
so co-purchase neighbourhoods exist; every user has an arrival day, so a
time split leaves some users only in the test window.

Besides the tables, `<out>/sizes.json` holds the rows of every table and
the users sampled.
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# workload -> (scale factor, m, tables); sf 1 = 150k customers
WORKLOADS = {
    "offline_eval": (0.005, 4, ("orders",)),
    "training_data": (0.01, 4, ("orders", "events", "documents")),
}
DAY0 = 694224000  # 1992-01-01T00:00:00Z
DAYS = 2400
CATEGORIES = 40
VOCAB = ["a", "agg", "batch", "big", "column", "data", "fast", "filter", "hash", "join",
         "key", "merge", "order", "part", "query", "row", "scan", "slow", "small", "spark",
         "stream", "table", "value", "window", "index", "sort", "plan", "cache", "shuffle",
         "node", "task"]

U64 = np.uint64
P1, P2, P3 = U64(0x9E3779B185EBCA87), U64(0xC2B2AE3D27D4EB4F), U64(0x165667B19E3779F9)
P4, P5 = U64(0x85EBCA77C2B2AE63), U64(0x27D4EB2F165667C5)


def _rotl(x, r):
    return (x << U64(r)) | (x >> U64(64 - r))


def _hash_long(v, seed):
    """Spark's XXH64.hashLong over uint64 arrays (wrapping arithmetic)."""
    with np.errstate(over="ignore"):
        h = seed + P5 + U64(8)
        h = h ^ (_rotl(v * P2, 31) * P1)
        h = _rotl(h, 27) * P1 + P4
        h = h ^ (h >> U64(33))
        h = h * P2
        h = h ^ (h >> U64(29))
        h = h * P3
        return h ^ (h >> U64(32))


def xxhash64(*cols):
    """Spark's `xxhash64(c1, c2, ...)` of int64 columns, as int64."""
    h = np.full(len(cols[0]), 42, dtype=np.uint64)
    for c in cols:
        h = _hash_long(np.asarray(c, dtype=np.int64).view(np.uint64), h)
    return h.view(np.int64)


def in_sample(key, seed, m):
    key = np.asarray(key, dtype=np.int64)
    return xxhash64(key, np.full(len(key), seed, dtype=np.int64)) % m == 0


def sizes(sf):
    return {"customers": max(20, int(150000 * sf)), "parts": max(40, int(200000 * sf)),
            "orders": max(200, int(1500000 * sf)), "events": max(200, int(1000000 * sf)),
            "documents": max(100, int(50000 * sf))}


def orders_lineitem(sz, rng):
    n = sz["orders"]
    cust = np.floor(sz["customers"] * rng.random(n) ** 1.2).astype(np.int64)
    # arrivals run almost to the end of the window, so about a sixth of the
    # users place all their orders after a 0.8 time split
    arrival = (rng.random(sz["customers"]) * 0.97)[cust]
    day = np.floor(DAYS * (arrival + (1 - arrival) * rng.random(n))).astype(np.int64)
    orders = {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": cust,
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_orderdate": (DAY0 + day * 86400) * 1_000_000,
    }
    lines = rng.integers(1, 8, n)
    okey = np.repeat(orders["o_orderkey"], lines)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    per_cat = max(1, sz["parts"] // CATEGORIES)
    cat = np.repeat(rng.integers(0, CATEGORIES, n), lines)
    k = len(okey)
    popular = np.floor(sz["parts"] * rng.random(k) ** 3.0)
    in_cat = cat * per_cat + np.floor(per_cat * rng.random(k) ** 2.0)
    lineitem = {
        "l_orderkey": okey,
        "l_partkey": np.where(rng.random(k) < 0.5, popular, in_cat).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
    }
    return orders, lineitem


def events(sz, rng):
    """Bursts of 8 events per user, minutes apart, spread over 60 days, so a
    30-minute gap splits most of them into sessions."""
    n = sz["events"]
    e = np.arange(n, dtype=np.int64)
    bursts = (n + 7) // 8
    user = np.floor(sz["customers"] * rng.random(bursts) ** 1.5).astype(np.int64)
    start = 1704067200 + np.floor(rng.random(bursts) * 60 * 86400).astype(np.int64)
    ts = start[e // 8] + (e % 8) * 300 + rng.integers(0, 300, n)
    return {
        "event_id": e,
        "ts": ts * 1_000_000,
        "user_id": user[e // 8],
        "event_type": np.array(["view", "click", "cart", "purchase", "error"])[
            rng.integers(0, 5, n)],
        "value": rng.integers(0, 5000, n) / 100.0,
    }


def documents(sz, rng):
    """One doc in 20 repeats its predecessor's text exactly, one in 20 is its
    predecessor's text plus one word."""
    n = sz["documents"]
    kind = rng.integers(0, 20, n)
    lengths = rng.integers(20, 80, n)
    vocab = np.array(VOCAB)
    own = [" ".join(vocab[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    extra = vocab[rng.integers(0, len(VOCAB), n)]
    text = []
    for d in range(n):
        if d > 0 and kind[d] <= 1:
            text.append(own[d - 1] + (" " + extra[d] if kind[d] == 1 else ""))
        else:
            text.append(own[d])
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": np.array(text, dtype=object),
        "lang": np.array(["en", "de", "fr"])[rng.integers(0, 3, n)],
        "source": np.array([f"src{i}" for i in range(8)])[rng.integers(0, 8, n)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    }


TIMESTAMPS = {"o_orderdate", "ts"}


def write(cols, path, keep):
    arrays = {}
    for name, v in cols.items():
        v = v[keep]
        if name in TIMESTAMPS:
            arrays[name] = pa.array(v, type=pa.timestamp("us", tz="UTC"))
        else:
            arrays[name] = pa.array(v)
    table = pa.table(arrays)
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))
    return table.num_rows


def generate(workload, seed, out, sf=None):
    """Writes the seed's sample of the workload's tables under `out`;
    returns the sizes it also writes to `out/sizes.json`."""
    wsf, m, tables = WORKLOADS[workload]
    sz = sizes(wsf if sf is None else sf)
    os.makedirs(out, exist_ok=True)
    info = {"sf": wsf if sf is None else sf, "sample_m": m}
    if "orders" in tables:
        o, li = orders_lineitem(sz, np.random.default_rng(1))
        keep = in_sample(o["o_custkey"], seed, m)
        info["orders"] = write(o, os.path.join(out, "orders.parquet"), keep)
        info["users_sampled"] = int(len(np.unique(o["o_custkey"][keep])))
        info["lineitem"] = write(li, os.path.join(out, "lineitem.parquet"),
                                 np.isin(li["l_orderkey"], o["o_orderkey"][keep]))
    if "events" in tables:
        ev = events(sz, np.random.default_rng(2))
        info["events"] = write(ev, os.path.join(out, "events.parquet"),
                               in_sample(ev["user_id"], seed, m))
    if "documents" in tables:
        docs = documents(sz, np.random.default_rng(3))
        info["documents"] = write(docs, os.path.join(out, "documents.parquet"),
                                  in_sample(docs["doc_id"] // 4, seed, 2))
    with open(os.path.join(out, "sizes.json"), "w") as f:
        json.dump(info, f, indent=1)
    return info


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--sf", type=float, default=None, help="override the workload's size")
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.out, a.sf)))


if __name__ == "__main__":
    main()
