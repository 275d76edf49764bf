"""Output checks, run after the timed region. Each returns a list of
problems; any problem turns the run into a failure that reports no numbers.

- ledger_ticks: the final ledger equals a plain-Python replay of the same
  generated webhooks under the EP1/EP2 semantics (reference quirks
  included), and exactly the replayed ticks were no-ops.
- index_batch, each part:
  - corpus clean: no injected exact duplicate survives, the kept set is
    the same as in earlier runs of the seed in this checkout, and the
    pre-token counts of the survivors match a recomputation;
  - registry pass: each entry's result equals its registry oracle SQL run
    by DuckDB over the same generated tables; an entry without an oracle
    must return rows;
  - index: recall@10 against exact search on the live corpus meets the
    floor, every serve returned k rows per query, and the index cut over
    on exactly the drifted batches.
"""
import hashlib
import json
import os
import re

import pyarrow.parquet as pq

RECALL_FLOOR = 0.8

# ---- ledger ----------------------------------------------------------------

STATUS_COL = {"Office": "qty_office", "Warehouse": "qty_warehouse", "Art": "qty_art",
              "Cutting": "qty_embroidery", "Need Sewer Assigned": "qty_sewer",
              "Sewer Assigned": "qty_sewer", "Sewer Pickup": "qty_sewer",
              "With Sewer": "qty_sewer", "Embroidery": "qty_embroidery"}


def _v(d, *path):
    """Walk Kintone envelopes: each step is a key followed by its "value"."""
    for k in path:
        if not isinstance(d, dict) or d.get(k) is None:
            return None
        d = d[k].get("value") if isinstance(d[k], dict) else None
    return d


def _parse_int(s):
    """The reference's parseInt(x || 0): leading integer prefix, else 0."""
    m = re.match(r"^\s*(-?[0-9]+)", s or "")
    return int(m.group(1)) if m else 0


def _apply_orders(inv, bodies):
    """EP1: status gate, subtable explode, required-field skip, first-wins
    dedup per webhook, then an all-or-nothing stock check per key."""
    delta = {}
    for body in bodies:
        rec = json.loads(body)["record"]
        if _v(rec, "Status") != "Approved":
            continue
        seen = set()
        for item in _v(rec, "order_details_table_website") or []:
            val = item.get("value") or {}
            key = (val.get("inventory_id") or {}).get("value")
            model = (val.get("bag_model_website") or {}).get("value")
            qty = _parse_int((val.get("qty_website") or {}).get("value"))
            if not key or not model or qty == 0 or key in seen:
                continue
            seen.add(key)
            delta[key] = delta.get(key, 0) + qty
    for key, d in delta.items():
        row = inv.get(key)
        if row is not None and row["general_stock_qty"] >= d:
            row["general_stock_qty"] -= d
            row["qty_office"] += d


def _apply_process(inv, bodies):
    """EP2: per-event station deltas with the same-column overwrite quirk."""
    for body in bodies:
        rec = json.loads(body)["record"]
        cur, prev, key = _v(rec, "Status"), _v(rec, "Previous_Status"), _v(rec, "inventory_id")
        if prev is None or prev == cur or not key or key not in inv:
            continue
        row = inv[key]
        pc, cc = STATUS_COL.get(prev), STATUS_COL.get(cur)
        if pc is not None and (cc is None or pc != cc):
            row[pc] -= 1
        if cc is not None:
            row[cc] += 1
        if cur == "Complete":
            row["qty_completed"] += 1


def _batches(path):
    out = {}
    with open(path) as f:
        for line in f:
            b, body = line.rstrip("\n").split("\t", 1)
            out.setdefault(int(b), []).append(body)
    return out


def check_ledger(inputs, out, res):
    facts = res["facts"]
    n = facts["ticks_done"]
    inv = {r["inventory_id"]: r for r in pq.read_table(f"{inputs}/inventory.parquet").to_pylist()}
    orders, process = _batches(f"{inputs}/orders.tsv"), _batches(f"{inputs}/process.tsv")
    with open(f"{inputs}/ticks.tsv") as f:
        ticks = [tuple(int(x) for x in line.split("\t")) for line in f][:n]
    mark = -1
    for b, _ in ticks:
        if 2 * b > mark:
            _apply_orders(inv, orders[b]); mark = 2 * b
        if 2 * b + 1 > mark:
            _apply_process(inv, process[b]); mark = 2 * b + 1
    got = {r["inventory_id"]: r for r in pq.read_table(f"{out}/ledger_final").to_pylist()}
    problems = []
    if got != inv:
        bad = [k for k in inv if got.get(k) != inv[k]][:3]
        problems.append(f"final ledger differs from the replay on {len(bad)}+ keys, "
                        f"e.g. {[(got.get(k), inv[k]) for k in bad]}")
    replays = sum(r for _, r in ticks)
    if facts["replay_noops"] != replays or facts["noop_on_fresh"]:
        problems.append(f"{facts['replay_noops']} no-op ticks for {replays} replays, "
                        f"{facts['noop_on_fresh']} fresh batches skipped")
    return problems


# ---- ann -------------------------------------------------------------------

def check_ann(inputs, out, res):
    f = res["facts"]
    problems = []
    if f["recall_at_10"] < RECALL_FLOOR:
        problems.append(f"recall@10 {f['recall_at_10']:.3f} < {RECALL_FLOOR}")
    if f["cutovers"] != f["drifted_applied"] or f["wrong_cutovers"]:
        problems.append(f"{f['cutovers']} cutovers for {f['drifted_applied']} drifted "
                        f"batches ({f['wrong_cutovers']} on the wrong batch)")
    if f["bad_serves"]:
        problems.append(f"{f['bad_serves']} serves returned the wrong row count")
    return problems


# ---- corpus ----------------------------------------------------------------

PRETOKEN = re.compile(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]")


def check_corpus(inputs, out, res, build_dir, seed):
    f = res["facts"]
    with open(f"{inputs}/plan.json") as fh:
        plan = json.load(fh)
    problems = []
    rows = pq.read_table(f"{out}/tokens").to_pylist()
    kept = {r["doc_id"] for r in rows}
    copies = set(plan["exact_copies"])
    if kept & copies:
        problems.append(f"{len(kept & copies)} injected exact duplicates kept")
    if not kept:
        problems.append("no document kept")
    docs = {r["doc_id"]: r["text"] for r in
            pq.read_table(f"{inputs}/documents.parquet").to_pylist()}
    wrong = [r["doc_id"] for r in rows if r["pretok"] != len(PRETOKEN.findall(docs[r["doc_id"]]))]
    if wrong:
        problems.append(f"pre-token count differs on {len(wrong)} docs")
    digest = hashlib.sha256(",".join(map(str, sorted(kept))).encode()).hexdigest()
    # the kept set is a function of the seed: compare with earlier runs here
    os.makedirs(f"{build_dir}/digests", exist_ok=True)
    path = f"{build_dir}/digests/corpus-{seed}"
    if os.path.exists(path):
        with open(path) as fh:
            if fh.read() != digest:
                problems.append("kept-set digest differs from an earlier run of this seed")
    elif not problems:
        with open(path, "w") as fh:
            fh.write(digest)
    return problems


# ---- olap ------------------------------------------------------------------

OLAP_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]


def _canon(rows, cols):
    """Columns in name order, floats to 6 places, rows sorted: the form the
    registry's oracle comparison uses."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 6)
                if v == -0.0:
                    v = 0.0
            vals.append(str(v))
        out.append("\x01".join(vals))
    return sorted(out)


def check_olap(inputs, out, res):
    import duckdb
    f = res["facts"]
    con = duckdb.connect()
    for t in OLAP_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}.parquet')")
    problems = []
    for name in f["entries"]:
        got = con.execute(f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')")
        gcols = [c[0] for c in got.description]
        grows = got.fetchall()
        sql = f["oracle"].get(name)
        if sql is None:
            if not grows:
                problems.append(f"{name}: no rows")
            continue
        exp = con.execute(sql)
        ecols = [c[0] for c in exp.description]
        if sorted(gcols) != sorted(ecols):
            problems.append(f"{name}: columns {sorted(gcols)} != {sorted(ecols)}")
        elif _canon(grows, gcols) != _canon(exp.fetchall(), ecols):
            problems.append(f"{name}: result differs from the oracle")
    con.close()
    return problems


def check(workload, inputs, out, res, build_dir, seed):
    if workload == "ledger_ticks":
        return check_ledger(inputs, out, res)
    return (check_corpus(f"{inputs}/corpus", f"{out}/corpus", res, build_dir, seed)
            + check_olap(f"{inputs}/olap", f"{out}/olap", res)
            + check_ann(f"{inputs}/ann", f"{out}/ann", res))
