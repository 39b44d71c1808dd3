"""Seeded input generators for the benchmark.

Two families of inputs:

* ``gate_tables`` writes the ten tables the gate queries read (TPC-H-like
  star schema plus ``events``, ``documents`` and ``embeddings``), with the
  schemas, row counts and value distributions of the engine's sf-scaled test
  tables. Gate workloads compare each query's output against a committed
  hash, so these tables come from a fixed data seed; the workload seed only
  permutes the query order.
* ``flagship_inputs`` writes the paper's four reference-schema inputs
  (``impressions``, ``clicks``, ``add_to_carts``, ``orders``) from the
  workload seed. Customer activity is Zipf-skewed so the hottest customers
  hold more than ``max_history = 1000`` actions.

Every table is one snappy parquet file, written with pyarrow from numpy
draws, so the same seed gives byte-identical inputs.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when a generator changes, so cached gate tables are rebuilt.
GATE_VERSION = 1
GATE_DATA_SEED = 42

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
SEGMENTS = ["HOUSEHOLD", "FURNITURE", "BUILDING", "MACHINERY", "AUTOMOBILE"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "green"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "pipe", "nut", "screw", "wheel"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _write(out_dir, name, columns):
    pq.write_table(pa.table(columns), os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy")


def _us(ts):
    """numpy datetime64 -> int64 microseconds since the epoch."""
    return (np.asarray(ts, dtype="datetime64[us]") - _EPOCH).astype(np.int64)


def _ts_array(us, tz=None):
    return pa.array(us, type=pa.timestamp("us", tz=tz))


def _cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _docs(rng, n):
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(VOCAB, k)) for k in lengths]
    # 5% near-duplicates (an earlier document plus a trailing token) and a
    # handful of exact duplicates, so the dedup operators find pairs.
    for i in range(1, n):
        u = rng.random()
        if u < 0.05:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
        elif u < 0.0517:
            texts[i] = texts[int(rng.integers(0, i))]
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def gate_tables(out_dir, sf):
    """The gate queries' ten input tables at scale factor ``sf``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(GATE_DATA_SEED)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_docs, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist()})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                              rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part).tolist(),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)})
    day0 = np.datetime64("1995-01-01", "D")
    odate = day0 + rng.integers(0, 2404, n_ord)
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord).tolist(),
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts_array(_us(odate)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist()})
    lok = rng.integers(0, n_ord, n_line).astype(np.int64)
    _write(out_dir, "lineitem", {
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
        "l_linestatus": rng.choice(["O", "F"], n_line).tolist(),
        "l_shipdate": _ts_array(_us(day0 + 1 + rng.integers(0, 2498, n_line)))})
    # events: increasing timestamps over 30 days of January 2024.
    span_us = 30 * 86400 * 1000000
    ev_us = _us(np.datetime64("2024-01-01", "us")) + np.sort(
        rng.integers(0, span_us, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts_array(ev_us),
        "user_id": rng.integers(0, max(1, int(15000 * sf)), n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    _write(out_dir, "documents", _docs(rng, n_docs))
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})


def flagship_inputs(out_dir, seed, customers, days, history_days,
                    actions_per_customer, max_actions, carousels_per_day,
                    max_carousel):
    """The paper's four input tables, generated from ``seed``.

    Impressions cover ``days`` consecutive days ending 2025-08-14; actions
    cover the ``history_days`` before the first impression day plus the
    impression days themselves (so later days see earlier days' actions).
    Per-customer action counts follow a Zipf law scaled to a mean of
    ``actions_per_customer`` and capped at ``max_actions``.

    The seed decides which customer gets which activity level, and every
    action, item and label; the sizes do not depend on it. Each day shows
    carousels to customers drawn evenly across the activity ranking
    (always including one of the hottest), each rank with a fixed carousel
    length, so two seeds give the same amount of work and the same output
    row count. Returns the exploded impression count of each day.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    last = np.datetime64("2025-08-14", "D")
    imp_days = [last - (days - 1 - i) for i in range(days)]
    start_us = _us((imp_days[0] - history_days).astype("datetime64[us]"))
    end_us = _us((last + 1).astype("datetime64[us]"))

    weights = 1.0 / np.arange(1, customers + 1)
    counts = np.clip(np.round(weights / weights.mean() * actions_per_customer),
                     1, max_actions).astype(np.int64)
    rng.shuffle(counts)
    cust = np.repeat(np.arange(customers, dtype=np.int64), counts)
    n = len(cust)
    t_us = rng.integers(start_us, end_us, n)
    item = rng.integers(1, 50000, n).astype(np.int64)
    kind = rng.choice(3, n, p=[0.6, 0.25, 0.15])
    day = (t_us // 86400000000).astype("datetime64[D]").astype(str)

    def stream(k):
        m = kind == k
        return cust[m], item[m], t_us[m], day[m]

    c, i, t, d = stream(0)
    _write(out_dir, "clicks", {
        "dt": d.tolist(), "customer_id": c, "item_id": i,
        "click_time": _ts_array(t, "UTC")})
    for k, name, day_col in ((1, "add_to_carts", "dt"), (2, "orders", "order_date")):
        c, i, t, d = stream(k)
        _write(out_dir, name, {
            day_col: d.tolist(), "customer_id": c, "config_id": i,
            "simple_id": (i % 10).astype(np.int32),
            "occurred_at": _ts_array(t, "UTC")})

    by_activity = np.argsort(-counts, kind="stable")
    stride = customers / carousels_per_day
    lengths = np.resize(np.arange(1, max_carousel + 1), carousels_per_day)
    rows = {"dt": [], "ranking_id": [], "customer_id": [], "impressions": []}
    for di, dday in enumerate(imp_days):
        ranks = (di + np.arange(carousels_per_day) * stride).astype(np.int64) % customers
        who = by_activity[ranks]
        for j, (cid, k) in enumerate(zip(who, lengths)):
            rows["dt"].append(str(dday))
            rows["ranking_id"].append(f"r{di}-{j}")
            rows["customer_id"].append(int(cid))
            rows["impressions"].append([
                {"item_id": int(x), "is_order": bool(o)}
                for x, o in zip(rng.integers(1, 50000, k), rng.random(k) < 0.1)])
    imp_type = pa.list_(pa.struct([("item_id", pa.int64()), ("is_order", pa.bool_())]))
    _write(out_dir, "impressions", {
        "dt": rows["dt"],
        "ranking_id": rows["ranking_id"],
        "customer_id": pa.array(rows["customer_id"], pa.int64()),
        "impressions": pa.array(rows["impressions"], imp_type)})
    per_day = {}
    for d, imps in zip(rows["dt"], rows["impressions"]):
        per_day[d] = per_day.get(d, 0) + len(imps)
    return per_day


def gate_tables_cached(root, sf):
    """Generate the gate tables once per checkout and generator version."""
    out = os.path.join(root, f"gate-v{GATE_VERSION}-sf{sf}")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        tmp = out + ".tmp"
        if os.path.isdir(tmp):
            for f in os.listdir(tmp):
                os.remove(os.path.join(tmp, f))
        gate_tables(tmp, sf)
        if os.path.isdir(out):
            for f in os.listdir(out):
                os.remove(os.path.join(out, f))
            os.rmdir(out)
        os.rename(tmp, out)
        open(done, "w").close()
    return out


if __name__ == "__main__":
    import sys
    import time
    t0 = time.time()
    gate_tables(sys.argv[1], float(sys.argv[2]))
    print(f"gate tables in {time.time() - t0:.1f}s", file=sys.stderr)
