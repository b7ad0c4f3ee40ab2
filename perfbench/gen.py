"""Seeded input generators for the benchmark workloads.

Every table is written as one parquet file in the fixture schema the engine
reads (`<dir>/<table>.parquet`, see FIXTURES.md section A). `events.ts` is
TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark scans as
TIMESTAMP_NTZ, so `Tables.normalizeTs` takes the branch the judged fixtures
take. The same seed always gives byte-identical tables.

Two families:

* `flow(...)` -- a CDR slice for the paper pipeline: `events` + the
  `customer` dictionary that g40's cascade assigns regions from, with a
  dense and a sparse user population (see POPULATIONS).
* `catalog(...)` -- all ten fixture tables at the shape of the sf0.01 judged
  fixtures (row counts, key ranges, value domains).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
HOUR_US = 3_600_000_000

# The flow workload mixes two user populations over one horizon. Each user
# is active in `bursts` stretches of `burst_len` consecutive hours (uniform
# in the range); the gap before a burst is uniform in `gap_hours`. The
# population's `events` fixes are spread over its active hours, at least one
# per hour.
# * dense: bursty commuters -- many fixes per user-hour and short gaps, so
#   per-event work (scan, geohash encode, region cascade, last fix per hour)
#   dominates and gap-fill adds few rows;
# * sparse: few fixes and gaps up to 36 h, some above 24 h (gap-fill's
#   sentinel branch), so gap-fill multiplies user-hours into many trajectory
#   rows and the trajectory/presence/OD aggregations dominate.
FLOW_DAYS = 14
POPULATIONS = {
    "dense": dict(users=300, bursts=(6, 12), burst_len=(3, 8), gap_hours=(1, 10),
                  events=60000),
    "sparse": dict(users=400, bursts=(8, 16), burst_len=(1, 3), gap_hours=(4, 36),
                   events=11000),
}

EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
P_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()


def _write(out_dir, name, table):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _ts(us):
    return pa.array(EPOCH_2024 + us.astype("timedelta64[us]"), pa.timestamp("us"))


def _events_table(user_id, ts_us, rng):
    order = np.lexsort((user_id, ts_us))
    user_id, ts_us = user_id[order], ts_us[order]
    n = len(user_id)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(ts_us),
        "user_id": pa.array(user_id.astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _customer_table(n, rng):
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": pa.array(keys),
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n)]),
    })


def _population(p, first_user, horizon, rng):
    users, hours = [], []
    for u in range(first_user, first_user + p["users"]):
        h = int(rng.integers(0, p["gap_hours"][1]))
        for _ in range(int(rng.integers(p["bursts"][0], p["bursts"][1] + 1))):
            if h >= horizon:
                break
            length = int(rng.integers(p["burst_len"][0], p["burst_len"][1] + 1))
            span = np.arange(h, min(h + length, horizon))
            users.append(np.full(len(span), u))
            hours.append(span)
            h = int(span[-1]) + int(rng.integers(p["gap_hours"][0], p["gap_hours"][1] + 1))
    user_hour_u, user_hour_h = np.concatenate(users), np.concatenate(hours)
    # a fixed event count per population (every active hour keeps at least
    # one fix), so seeds differ in shape, not in size
    n = len(user_hour_u)
    per_hour = 1 + rng.multinomial(p["events"] - n, np.full(n, 1.0 / n))
    user_id = np.repeat(user_hour_u, per_hour)
    ts_us = (np.repeat(user_hour_h, per_hour).astype(np.int64) * HOUR_US
             + rng.integers(0, HOUR_US, len(user_id)))
    return user_id, ts_us, len(user_hour_u)


def flow(out_dir, seed):
    """Writes events + customer for the flow workload; returns its properties."""
    rng = np.random.default_rng([seed, 1])
    props, parts, first = {}, [], 0
    for name, p in POPULATIONS.items():
        user_id, ts_us, user_hours = _population(p, first, FLOW_DAYS * 24, rng)
        parts.append((user_id, ts_us))
        props[f"{name}_events"], props[f"{name}_user_hours"] = len(user_id), user_hours
        first += p["users"]
    user_id = np.concatenate([u for u, _ in parts])
    ts_us = np.concatenate([t for _, t in parts])
    os.makedirs(out_dir, exist_ok=True)
    _write(out_dir, "events", _events_table(user_id, ts_us, rng))
    _write(out_dir, "customer", _customer_table(1500, rng))
    return {"events": int(len(user_id)), "users": first, "days": FLOW_DAYS, **props}


def catalog(out_dir, seed):
    """Writes the ten fixture tables at the sf0.01 judged shape."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)}))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))}))
    _write(out_dir, "customer", _customer_table(1500, rng))
    n_supp = 100
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))}))
    n_part = 2000
    keys = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array([f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(P_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) * 0.1, 1))}))
    day0 = np.datetime64("1995-01-01", "D")
    n_ord = 15000
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, 1500, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": pa.array((day0 + rng.integers(0, 2404, n_ord).astype("timedelta64[D]"))
                                .astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)])}))
    n_li = 60000
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array((day0 + rng.integers(1, 2499, n_li).astype("timedelta64[D]"))
                               .astype("datetime64[us]"), pa.timestamp("us"))}))
    n_ev = 10000
    user_id = rng.integers(0, 150, n_ev)
    ts_us = rng.integers(0, 30 * 24 * HOUR_US, n_ev)
    _write(out_dir, "events", _events_table(user_id, ts_us, rng))
    n_doc = 500
    texts = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS),
                                                               int(rng.integers(10, 100)))]))
    _write(out_dir, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))}))
    n_vec = 500
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec).astype(np.int32))}))
    return {"events": n_ev, "users": 150, "days": 30}
