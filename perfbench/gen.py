"""Seeded input generators for the benchmark workloads.

Every input a run feeds the engine is made here from `--seed` and written
under the run's input directory before the JVM starts; the engine only
ever sees these files. The same seed always gives byte-identical inputs.
The properties the code paths depend on are drawn from the seed: key
skew, duplicate-SKU share, replay share, near-duplicate rate, the
direction of drifted index batches and the order of registry entries.
"""
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- ledger_ticks ----------------------------------------------------------

N_INVENTORY = 400
ORDERS_PER_TICK = 200
PROCESS_PER_TICK = 200
LEDGER_WARMUP = 5           # untimed ticks (Main.Ledger.warmup)
MIN_TICK_S = 0.2            # ticks are made for a run whose ticks take this long;
                            # a faster run ends its timed region when they run out
STATUSES = ["Office", "Warehouse", "Art", "Cutting", "Need Sewer Assigned",
            "Sewer Assigned", "Sewer Pickup", "With Sewer", "Embroidery",
            "Complete", "Shipped"]
COUNTERS = ["qty_office", "qty_warehouse", "qty_art", "qty_embroidery",
            "qty_sewer", "qty_completed"]


def _w(x):
    """Kintone envelope: every field arrives as {"value": ...}."""
    return {"value": x}


def _inv_id(i):
    return f"INV-{i:05d}"


def gen_ledger(rng, out, seconds):
    skew = rng.uniform(1.05, 1.3)           # Zipf exponent of inventory keys
    dup_share = rng.uniform(0.05, 0.15)     # duplicate inventory_id in a subtable
    replay_share = rng.uniform(0.08, 0.16)  # ticks that re-deliver an old batch
    ranks = np.arange(1, N_INVENTORY + 1, dtype=np.float64)
    zipf = ranks ** -skew
    zipf /= zipf.sum()
    perm = rng.permutation(N_INVENTORY)

    n_ticks = LEDGER_WARMUP + math.ceil(seconds / MIN_TICK_S)
    # one Zipf draw per subtable row or process webhook, at most
    keys = iter(perm[rng.choice(N_INVENTORY, size=n_ticks * (ORDERS_PER_TICK * 4 + PROCESS_PER_TICK),
                                p=zipf)])

    def key():
        return _inv_id(int(next(keys)))

    inv = {
        "inventory_id": [_inv_id(i) for i in range(N_INVENTORY)],
        "general_stock_qty": rng.integers(0, 400, N_INVENTORY).astype(np.int64),
    }
    for c in COUNTERS:
        inv[c] = rng.integers(0, 50, N_INVENTORY).astype(np.int64)
    pq.write_table(pa.table(inv), f"{out}/inventory.parquet")

    def order_body():
        status = "Approved" if rng.random() < 0.8 else "Pending"
        items = []
        for j in range(int(rng.integers(1, 5))):
            if items and rng.random() < dup_share:
                inv_id = items[int(rng.integers(len(items)))]["value"]["inventory_id"]["value"]
            elif rng.random() < 0.02:
                inv_id = f"GONE-{int(rng.integers(100))}"   # missing record: dead letter
            else:
                inv_id = key()
            q = int(rng.integers(0, 6))                       # 0 is dropped
            qty = f"{q}x" if rng.random() < 0.05 else str(q)  # parseInt prefix quirk
            item = {"inventory_id": _w(inv_id), "bag_model_website": _w("Tote"),
                    "qty_website": _w(qty), "bag_color_website": _w("red"),
                    "rate_website": _w("10"), "total_website": _w("10")}
            r = rng.random()
            if r < 0.03:
                del item["bag_model_website"]                 # missing field: skipped
            elif r < 0.05:
                item["inventory_id"] = _w("")
            items.append({"id": str(j), "value": item})
        return {"record": {"Status": _w(status),
                           "order_details_table_website": _w(items)}}

    def process_body():
        prev = STATUSES[int(rng.integers(len(STATUSES)))]
        if rng.random() < 0.1:
            cur = prev                                        # no-op transition
        elif rng.random() < 0.1:
            cur = "Complete"
        else:
            cur = STATUSES[int(rng.integers(len(STATUSES)))]
        rec = {"Status": _w(cur), "Previous_Status": _w(prev),
               "bag_model": _w("Tote"), "inventory_id": _w(key())}
        if rng.random() < 0.02:
            rec["inventory_id"] = _w("")                      # dead letter
        return {"record": rec}

    plan = []
    fresh = []
    # one webhook per line: "<batch>\t<json body>"
    with open(f"{out}/orders.tsv", "w") as fo, open(f"{out}/process.tsv", "w") as fp:
        for t in range(n_ticks):
            if len(fresh) >= 2 and rng.random() < replay_share:
                plan.append({"tick": t, "batch": int(fresh[int(rng.integers(len(fresh)))]),
                             "replay": True})
                continue
            b = len(fresh)
            fresh.append(b)
            plan.append({"tick": t, "batch": b, "replay": False})
            for _ in range(ORDERS_PER_TICK):
                fo.write(f"{b}\t{json.dumps(order_body())}\n")
            for _ in range(PROCESS_PER_TICK):
                fp.write(f"{b}\t{json.dumps(process_body())}\n")
    with open(f"{out}/ticks.tsv", "w") as f:
        f.writelines(f"{p['batch']}\t{int(p['replay'])}\n" for p in plan)
    with open(f"{out}/plan.json", "w") as f:
        json.dump({"ticks": plan, "skew": skew, "dup_share": dup_share,
                   "replay_share": replay_share}, f)


# ---- index_batch: index serve and append -----------------------------------

DIM = 64
N_BASE = 1500
APPEND_ROWS = 100
APPEND_BATCHES = 200
QUERIES_PER_SERVE = 32
SERVE_BATCHES = 64
CHECK_QUERIES = 64
DRIFT_BLOCK = 8             # one drifted batch in every block of this many
DRIFT_SLOT = 0              # its position: the warm-up append


def _noise(rng, n):
    return rng.normal(0.0, 0.125, (n, DIM)).astype(np.float32)


def _emb_table(ids, vecs, **extra):
    arr = pa.FixedSizeListArray.from_arrays(pa.array(vecs.reshape(-1)), DIM)
    cols = {"vec_id": pa.array(ids, pa.int64()),
            "embedding": arr.cast(pa.list_(pa.float32()))}
    cols.update(extra)
    return pa.table(cols)


def gen_ann(rng, out, seconds):
    ids = np.arange(N_BASE, dtype=np.int64)
    pq.write_table(_emb_table(ids, _noise(rng, N_BASE),
                              label=pa.array(ids % 10, pa.int32())),
                   f"{out}/embeddings.parquet")
    # Batch DRIFT_SLOT of every block of DRIFT_BLOCK is drifted: the same
    # positions on every seed, so every run walks the same live-delta
    # sawtooth. A retrain absorbs the drifted batch into the generation's
    # drift reference; with one drift in four, two or three absorbed drifts
    # made in-distribution batches read as drifted against that reference
    # (bias-corrected PSI near 0.2), so drift is kept to one in eight.
    # The seed draws the drift direction.
    drifted = [b % DRIFT_BLOCK == DRIFT_SLOT for b in range(APPEND_BATCHES)]
    n = APPEND_ROWS * APPEND_BATCHES
    vid = N_BASE + np.arange(n, dtype=np.int64)
    batch = np.repeat(np.arange(APPEND_BATCHES, dtype=np.int64), APPEND_ROWS)
    pq.write_table(_emb_table(vid, _noise(rng, n), batch=pa.array(batch)),
                   f"{out}/appends.parquet")
    # a drifted batch moves every coordinate by 0.75 in a fresh random
    # direction, so each one is out of distribution for the generation
    # that absorbed the previous ones
    shifts = (rng.choice([-0.75, 0.75], (APPEND_BATCHES, DIM))
              * np.array(drifted)[:, None]).astype(np.float32)
    pq.write_table(_emb_table(np.arange(APPEND_BATCHES), shifts,
                              drifted=pa.array(drifted)), f"{out}/shifts.parquet")
    nq = QUERIES_PER_SERVE * SERVE_BATCHES + CHECK_QUERIES
    qid = 10_000_000 + np.arange(nq, dtype=np.int64)
    serve = np.concatenate([np.repeat(np.arange(SERVE_BATCHES), QUERIES_PER_SERVE),
                            np.full(CHECK_QUERIES, -1)]).astype(np.int64)
    pq.write_table(_emb_table(qid, _noise(rng, nq), serve=pa.array(serve)),
                   f"{out}/queries.parquet")
    with open(f"{out}/plan.json", "w") as f:
        json.dump({"drifted": drifted}, f)


# ---- index_batch: corpus clean ---------------------------------------------

WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "a", "query", "scan", "batch", "agg", "key"]
RARE = ["dup", "zq", "##", "42", "x9"]
LANGS = ["en", "en", "es", "zh", "de", "fr"]
CORPUS_DOCS = 600


def _doc(rng):
    n = int(rng.integers(10, 120))
    w = [WORDS[i] for i in rng.integers(0, len(WORDS), n)]
    for i in np.nonzero(rng.random(n) < 0.01)[0]:
        w[i] = RARE[int(rng.integers(len(RARE)))]
    return " ".join(w)


def gen_corpus(rng, out, seconds):
    exact_rate = rng.uniform(0.03, 0.07)
    near_rate = rng.uniform(0.03, 0.07)
    texts = [_doc(rng) for _ in range(CORPUS_DOCS)]
    ids = list(range(CORPUS_DOCS))
    exact = []
    for i in range(CORPUS_DOCS):
        if rng.random() < exact_rate:
            ids.append(len(texts)); texts.append(texts[i]); exact.append(ids[-1])
        if rng.random() < near_rate:
            w = texts[i].split()
            for j in np.nonzero(rng.random(len(w)) < 0.05)[0]:
                w[j] = WORDS[int(rng.integers(len(WORDS)))]
            ids.append(len(texts)); texts.append(" ".join(w))
    order = rng.permutation(len(ids))
    ids = [ids[i] for i in order]
    texts = [texts[i] for i in order]
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i % len(LANGS)] for i in ids]),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{out}/documents.parquet")
    with open(f"{out}/plan.json", "w") as f:
        json.dump({"exact_copies": exact, "exact_rate": exact_rate,
                   "near_rate": near_rate}, f)


# ---- index_batch: registry pass --------------------------------------------

# Registry entries of the sweep: the Relational and Functions entries that
# read only the TPC-H tables generated below, covering scans, joins (inner,
# semi, anti, full outer, lateral), aggregations (rollup, cube, distinct,
# approximate), windows and scalar functions. The set is fixed so that a
# pass does the same work on every seed; the seed draws the data and the
# order the entries run in.
OLAP_ENTRIES = [
    "q01_pricing_summary", "q03_revenue_by_order", "q04_revenue_by_nation",
    "q06_semi_join", "q07_anti_join", "q10_rank_per_customer", "q17_cube",
    "q19_distinct_agg", "q22_string_funcs", "q29_full_outer",
    "q58_correlated_subquery", "q59_lateral_topn", "q39_approx_distinct",
]
OLAP_ORDERS = 3000
OLAP_CUSTOMERS = 300
OLAP_SUPPLIERS = 20
OLAP_PARTS = 400
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_TYPES = ["ECONOMY", "PROMO", "STANDARD", "SMALL", "LARGE", "MEDIUM"]
PART_WORDS = ["cold", "small", "large", "red", "steel", "bolt", "widget", "frame"]
DAY_US = 86_400_000_000
EPOCH_1995 = 9131 * DAY_US              # 1995-01-01 in microseconds


def _money(rng, lo, hi, n):
    """Prices with two decimals, as the money columns of TPC-H carry."""
    return rng.integers(lo * 100, hi * 100, n) / 100.0


def _days(rng, n):
    """Midnight timestamps from 1995-01-01 to mid-2001."""
    return pa.array(EPOCH_1995 + rng.integers(0, 2400, n) * DAY_US, pa.timestamp("us"))


def gen_olap(rng, out, seconds):
    cust_skew = rng.uniform(1.0, 1.4)       # Zipf exponent of customers over orders
    lines_max = int(rng.integers(5, 9))     # lineitems per order: 1 .. lines_max - 1

    def write(name, cols):
        pq.write_table(pa.table(cols), f"{out}/{name}.parquet")

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write("customer", {
        "c_custkey": pa.array(range(OLAP_CUSTOMERS), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(OLAP_CUSTOMERS)],
        "c_nationkey": pa.array(rng.integers(0, 25, OLAP_CUSTOMERS), pa.int32()),
        "c_acctbal": _money(rng, -999, 9999, OLAP_CUSTOMERS),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, OLAP_CUSTOMERS)]})
    write("supplier", {
        "s_suppkey": pa.array(range(OLAP_SUPPLIERS), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(OLAP_SUPPLIERS)],
        "s_nationkey": pa.array(rng.integers(0, 25, OLAP_SUPPLIERS), pa.int32()),
        "s_acctbal": _money(rng, -999, 9999, OLAP_SUPPLIERS)})
    w = rng.integers(0, len(PART_WORDS), (OLAP_PARTS, 2))
    write("part", {
        "p_partkey": pa.array(range(OLAP_PARTS), pa.int64()),
        "p_name": [f"{PART_WORDS[a]} {PART_WORDS[b]}" for a, b in w],
        "p_brand": [f"Brand#{i}" for i in rng.integers(10, 55, OLAP_PARTS)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, len(PART_TYPES), OLAP_PARTS)],
        "p_size": pa.array(rng.integers(1, 51, OLAP_PARTS), pa.int32()),
        "p_retailprice": [900 + (i % 200) / 10 for i in range(OLAP_PARTS)]})
    ranks = np.arange(1, OLAP_CUSTOMERS + 1, dtype=np.float64) ** -cust_skew
    cust = rng.permutation(OLAP_CUSTOMERS)[rng.choice(OLAP_CUSTOMERS, OLAP_ORDERS,
                                                        p=ranks / ranks.sum())]
    write("orders", {
        "o_orderkey": pa.array(range(OLAP_ORDERS), pa.int64()),
        "o_custkey": pa.array(cust, pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, OLAP_ORDERS)],
        "o_totalprice": _money(rng, 1000, 500000, OLAP_ORDERS),
        "o_orderdate": _days(rng, OLAP_ORDERS),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, OLAP_ORDERS)]})
    per = rng.integers(1, lines_max, OLAP_ORDERS)
    n = int(per.sum())
    qty = rng.integers(1, 51, n).astype(np.float64)
    write("lineitem", {
        "l_orderkey": pa.array(np.repeat(np.arange(OLAP_ORDERS), per), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, OLAP_PARTS, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, OLAP_SUPPLIERS, n), pa.int64()),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in per]), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900, 2100, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": [("R", "A", "N")[i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n)],
        "l_shipdate": _days(rng, n)})
    order = [OLAP_ENTRIES[i] for i in rng.permutation(len(OLAP_ENTRIES))]
    with open(f"{out}/entries.txt", "w") as f:
        f.writelines(e + "\n" for e in order)
    with open(f"{out}/plan.json", "w") as f:
        json.dump({"entries": order, "cust_skew": cust_skew, "lines_max": lines_max,
                   "lineitems": n}, f)


# Each part draws from its own stream of the seed, so the inputs of one
# part do not change when another part's generator does.
PARTS = {
    "ann": gen_ann,
    "corpus": gen_corpus,
    "ledger": gen_ledger,
    "olap": gen_olap,
}
WORKLOADS = {
    "ledger_ticks": ["ledger"],
    "index_batch": ["corpus", "olap", "ann"],
}


def generate(workload, seed, out, seconds):
    """Write the inputs of `workload` for `seed` into the directory `out`
    (one subdirectory per part where a workload has several), enough for
    a timed region of `seconds`."""
    parts = WORKLOADS[workload]
    for part in parts:
        d = out if len(parts) == 1 else os.path.join(out, part)
        os.makedirs(d, exist_ok=True)
        rng = np.random.default_rng([seed, sorted(PARTS).index(part)])
        PARTS[part](rng, d, seconds)
