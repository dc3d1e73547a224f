"""Seeded input generator for the benchmark's workloads.

Everything a run feeds the engine comes from here: the same seed gives
the same files. Tables are single parquet files with the column types
of the engine's star-schema fixtures (TESTDATA.md) and of the ODM
DataValues fact (FIXTURES.md A.1), so the engine reads them through its
own loaders and DuckDB reads them for the oracle check.
"""
import json
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("the fast key order sort table scan merge part window small hash "
         "join batch stream spark dup group query row data slow filter "
         "customer line value a agg column big vector").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PART_ADJ = ["small", "large", "red", "cold", "hot", "blue", "green", "tiny"]
PART_NOUN = ["widget", "bolt", "ring", "gear", "spring", "valve", "screw",
             "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DIM = 64


def _write(out, name, cols, schema):
    pq.write_table(pa.table(cols, schema=schema),
                   os.path.join(out, f"{name}.parquet"))


def _days(rng, start, n_days, n):
    base = datetime(*start)
    return [base + timedelta(days=int(d)) for d in rng.integers(0, n_days, n)]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng, n):
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < 0.06:
            # a near-duplicate of an earlier doc: a few words swapped
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = \
                    WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[j] for j in
                     rng.integers(0, len(WORDS), int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[j] for j in rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])


def embeddings(rng, n, drift_from=None):
    """Ten labelled clusters on the unit sphere. Ids at or past
    `drift_from` come from ten other centres: the arriving distribution
    leaves the training sample, which is what trips the index's drift
    signal."""
    centres = rng.normal(size=(20, DIM))
    label = rng.integers(0, 10, n)
    shift = np.zeros(n, dtype=int)
    if drift_from is not None:
        shift[drift_from:] = 10
    v = centres[label + shift] + 0.9 * rng.normal(size=(n, DIM))
    # a few arrivals re-send an earlier vector with a little noise
    dup = rng.random(n) < 0.05
    dup[:20] = False
    src = (rng.random(n) * np.arange(n)).astype(int)
    v[dup] = v[src[dup]] + 0.01 * rng.normal(size=(int(dup.sum()), DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": [row.astype(np.float32) for row in v],
        "label": label.astype(np.int32),
    }


EMB_SCHEMA = pa.schema([("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32())])


def star(rng, out, n_orders):
    """The star schema the engine's queries read, at a small scale."""
    n_line, n_cust = 4 * n_orders, max(n_orders // 10, 50)
    n_supp, n_part = max(n_orders // 150, 10), max(n_orders // 8, 50)
    n_events = max(n_orders // 2, 500)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    _write(out, "region", {"r_regionkey": np.arange(5, dtype=np.int32),
                           "r_name": REGIONS},
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(out, "nation", {"n_nationkey": np.arange(25, dtype=np.int32),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": np.arange(25, dtype=np.int32) % 5},
           pa.schema([("n_nationkey", i32), ("n_name", s),
                      ("n_regionkey", i32)]))
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)]},
        pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                   ("c_acctbal", f64), ("c_mktsegment", s)]))
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)},
        pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                   ("s_acctbal", f64)]))
    price = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[j] for j in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": price},
        pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s),
                   ("p_type", s), ("p_size", i32), ("p_retailprice", f64)]))
    _write(out, "orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": [["F", "O", "P"][j]
                          for j in rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": _days(rng, (1995, 1, 1), 2404, n_orders),
        "o_orderpriority": [PRIORITIES[j]
                            for j in rng.integers(0, 5, n_orders)]},
        pa.schema([("o_orderkey", i64), ("o_custkey", i64),
                   ("o_orderstatus", s), ("o_totalprice", f64),
                   ("o_orderdate", ts), ("o_orderpriority", s)]))
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    pk = rng.integers(0, n_part, n_line)
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_orders, n_line).astype(np.int64),
        "l_partkey": pk.astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (price[pk] + rng.uniform(
            0.0, 1200.0, n_line)), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [["A", "N", "R"][j]
                         for j in rng.integers(0, 3, n_line)],
        "l_linestatus": [["F", "O"][j] for j in rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, (1995, 1, 2), 2498, n_line)},
        pa.schema([("l_orderkey", i64), ("l_partkey", i64),
                   ("l_suppkey", i64), ("l_linenumber", i32),
                   ("l_quantity", f64), ("l_extendedprice", f64),
                   ("l_discount", f64), ("l_tax", f64),
                   ("l_returnflag", s), ("l_linestatus", s),
                   ("l_shipdate", ts)]))
    start = datetime(2024, 1, 1)
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events))
    _write(out, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": [start + timedelta(microseconds=int(u)) for u in offs],
        "user_id": rng.integers(0, 150, n_events).astype(np.int64),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n_events)],
        "value": np.maximum(_money(rng, 0.0, 490.02, n_events), 0.01),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_events)]},
        pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64),
                   ("event_type", s), ("value", f64), ("props", s)]))
    _write(out, "documents", documents(rng, 500), DOC_SCHEMA)
    _write(out, "embeddings", embeddings(rng, 500), EMB_SCHEMA)


ODM_SCHEMA = pa.schema([
    ("ValueID", pa.int32(), False), ("DataValue", pa.float64(), False),
    ("ValueAccuracy", pa.float64()),
    ("LocalDateTime", pa.timestamp("us"), False),
    ("UTCOffset", pa.float64(), False),
    ("DateTimeUTC", pa.timestamp("us"), False),
    ("SiteID", pa.int32(), False), ("VariableID", pa.int32(), False),
    ("OffsetValue", pa.float64()), ("OffsetTypeID", pa.int32()),
    ("CensorCode", pa.string(), False), ("QualifierID", pa.int32()),
    ("MethodID", pa.int32(), False), ("SourceID", pa.int32(), False),
    ("SampleID", pa.int32()), ("DerivedFromID", pa.int32()),
    ("QualityControlLevelID", pa.int32(), False)])

# (VariableID, MethodID): variable 1 is measured by two methods
ODM_SERIES = [(1, 1), (1, 2), (2, 1), (3, 1)]
SENTINEL = -9999.0


def odm(rng, out, sites, sources, start, days, tails, tail_steps):
    """A DataValues fact of sites x series x sources x QC levels at a
    15-minute cadence over `days` days from `start`, with injected time
    gaps of 2-6 hours, value jumps, sentinel runs and duplicate cells
    with differing values (FIXTURES.md A.1); then `tails` arrivals of
    `tail_steps` steps each, which continue every series in time."""
    steps = days * 96
    total = steps + tails * tail_steps
    t0 = np.datetime64(datetime(*start), "us")
    step = np.timedelta64(15 * 60 * 10**6, "us")
    per_year = max(days // 365, 1)
    cols = {f.name: [] for f in ODM_SCHEMA}
    part = []  # 0 = main fact, k = tail k
    for site in range(1, sites + 1):
        for src in range(1, sources + 1):
            for qc in (0, 1):
                for var, meth in ODM_SERIES:
                    delta = rng.normal(0, 0.05, total)
                    jumps = rng.integers(0, total, 4 * per_year)
                    delta[jumps] += rng.choice([-3.0, 3.0], len(jumps))
                    walk = np.round(10.0 * var + rng.normal() +
                                    np.cumsum(delta), 2)
                    keep = np.ones(total, dtype=bool)
                    for _ in range(12 * per_year):
                        g = int(rng.integers(0, steps - 30))
                        keep[g:g + int(rng.integers(9, 25))] = False
                    for _ in range(12 * per_year):
                        g = int(rng.integers(0, steps - 10))
                        walk[g:g + int(rng.integers(2, 6))] = SENTINEL
                    i = np.nonzero(keep)[0]
                    dups = np.unique(rng.integers(0, steps, 20 * per_year))
                    dups = dups[keep[dups]]
                    i = np.concatenate([i, dups])
                    v = np.concatenate([walk[i[:len(i) - len(dups)]],
                                        np.round(walk[dups] + 0.37, 2)])
                    v[np.concatenate([np.zeros(len(i) - len(dups), bool),
                                      walk[dups] == SENTINEL])] = SENTINEL
                    local = t0 + i * step
                    n = len(i)
                    cols["DataValue"].append(v)
                    cols["LocalDateTime"].append(local)
                    cols["DateTimeUTC"].append(
                        local + np.timedelta64(7 * 3600 * 10**6, "us"))
                    cols["QualifierID"].append(
                        np.where(i % 97 == 0, 7, -1).astype(np.int32))
                    for k, x in (("SiteID", site), ("VariableID", var),
                                 ("MethodID", meth), ("SourceID", src),
                                 ("QualityControlLevelID", qc)):
                        cols[k].append(np.full(n, x, dtype=np.int32))
                    part.append(np.where(i < steps, 0,
                                         1 + (i - steps) // tail_steps))
    n = sum(len(x) for x in cols["DataValue"])
    q = np.concatenate(cols["QualifierID"])
    data = {"ValueID": np.arange(1, n + 1, dtype=np.int32),
            "ValueAccuracy": pa.nulls(n, pa.float64()),
            "UTCOffset": np.full(n, -7.0),
            "OffsetValue": pa.nulls(n, pa.float64()),
            "OffsetTypeID": pa.nulls(n, pa.int32()),
            "CensorCode": pa.array(["nc"] * n, pa.string()),
            "QualifierID": pa.array(q, pa.int32(), mask=q < 0),
            "SampleID": pa.nulls(n, pa.int32()),
            "DerivedFromID": pa.nulls(n, pa.int32())}
    for k, x in cols.items():
        if x:
            data.setdefault(k, np.concatenate(x))
    table = pa.table({f.name: data[f.name] for f in ODM_SCHEMA},
                     schema=ODM_SCHEMA)
    part = np.concatenate(part)
    pq.write_table(table.filter(pa.array(part == 0)),
                   os.path.join(out, "odm_fact.parquet"))
    for k in range(1, tails + 1):
        pq.write_table(table.filter(pa.array(part == k)),
                       os.path.join(out, f"odm_tail_{k}.parquet"))


def cdc(rng, out, n_keys, seqs, churn):
    """A keyed base table and a changelog of `seqs` generations; each
    generation updates or deletes a `churn` share of the keys, and may
    re-insert deleted ones."""
    keys = np.arange(n_keys, dtype=np.int64)
    cust = rng.integers(0, 500, n_keys).astype(np.int64)
    price = _money(rng, 1000.0, 500000.0, n_keys)
    pq.write_table(pa.table({"o_orderkey": keys, "o_custkey": cust,
                             "price": price}),
                   os.path.join(out, "cdc_base.parquet"))
    k, seq, op, c, p = [], [], [], [], []
    for g in range(1, seqs + 1):
        touched = np.sort(rng.choice(n_keys, int(n_keys * churn),
                                     replace=False))
        k.append(keys[touched])
        seq.append(np.full(len(touched), g, dtype=np.int64))
        op.append(np.where(rng.random(len(touched)) < 0.2, "D", "U"))
        c.append(cust[touched])
        p.append(_money(rng, 1000.0, 500000.0, len(touched)))
    pq.write_table(pa.table({"o_orderkey": np.concatenate(k),
                             "seq": np.concatenate(seq),
                             "op": np.concatenate(op),
                             "o_custkey": np.concatenate(c),
                             "price": np.concatenate(p)}),
                   os.path.join(out, "cdc_log.parquet"))


def artifact_plan(base, rounds):
    """Arrival rounds for the lifecycle workload: 60 and 600 docs in
    turn, so the touched-bucket set of the gate's probe (two bands per
    doc) lands on both sides of the engine's 1024-value pushdown
    ceiling. Sizes are fixed so only the content depends on the seed."""
    plan, lo = [], base
    for r in range(rounds):
        n = 60 if r % 2 == 0 else 600
        plan.append({"lo": lo, "hi": lo + n})
        lo += n
    return plan, lo


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    meta = {"workload": workload, "seed": seed}
    if workload == "odm_publish":
        # the FIXTURES.md A.1 shape over 30 days across a turn of year,
        # so the chunks split by year (README.md: why not two years)
        odm(rng, out, sites=2, sources=1, start=(2023, 12, 17), days=30,
            tails=7, tail_steps=8)
        # the warm-up cycle publishes the last week only
        meta["odm_warm_from"] = "2024-01-09 00:00:00"
        star(rng, out, n_orders=1000)
    elif workload == "artifact_ingest":
        rounds = 2
        plan, n = artifact_plan(800, rounds)
        _write(out, "documents", documents(rng, n), DOC_SCHEMA)
        _write(out, "embeddings", embeddings(rng, n, drift_from=plan[1]["lo"]),
               EMB_SCHEMA)
        cdc(rng, out, n_keys=4000, seqs=rounds, churn=0.03)
        # tombstones: ids indexed by the time they are taken down
        meta["rounds"] = plan
        meta["base"] = 800
        meta["tombs"] = sorted(rng.choice(n, 40, replace=False).tolist())
    else:
        raise ValueError(f"unknown workload {workload}")
    with open(os.path.join(out, "plan.json"), "w") as f:
        json.dump(meta, f)
