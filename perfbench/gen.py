"""Seeded input generator for the perfbench workloads.

Every size is fixed; the seed changes only values. The same seed gives
byte-identical inputs. `generate(workload, out_dir, seed)` writes the
workload's parquet files and returns a dict of input properties (row
counts, bytes, duplicate shares) that the run records.

Tables follow the TPC-H-style schema of the engine's test data, with
dates stored as DATE so Spark, DuckDB and Trino SQL read them alike.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "customer": 3000,
    "supplier": 200,
    "part": 4000,
    "orders": 30000,
    "lines_per_order": 4,
    # lake_merge: one lineitem batch and one orders change set per cycle;
    # a run longer than this many cycles starts over from the first set
    "lake_cycles": 12,
    "batch_rows": 60000,
    "change_rows": 300,
    # curate_dedup: corpus documents, last 10% held out for streaming
    "corpus_docs": 3000,
    "heldout_files": 3,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2),
    ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0), ("MOZAMBIQUE", 0),
    ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3), ("SAUDI ARABIA", 4),
    ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1)]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STOP_WORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
# 1992-01-01 and 1998-08-02 as days since 1970-01-01
FIRST_DAY, LAST_DAY = 8035, 10440
# document kinds by doc_id % 20: the shares are fixed, only values vary
NEAR_SLOTS, EXACT_SLOTS, JUNK_SLOTS = {1, 5, 9, 13, 17}, {3}, {7, 15}
HELDOUT_MTIME = 1_600_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(days):
    return pa.array(days.astype("int32"), pa.int32()).cast(pa.date32())


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def orders_table(rng, keys):
    n = len(keys)
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(1, SIZES["customer"] + 1, n), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
        "o_totalprice": pa.array(_money(rng, 900.0, 450000.0, n)),
        "o_orderdate": _dates(rng.integers(FIRST_DAY, LAST_DAY, n)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n)),
    })


def lineitem_table(rng, orderkeys, orderdays):
    n = len(orderkeys)
    qty = rng.integers(1, 51, n).astype("float64")
    return pa.table({
        "l_orderkey": pa.array(orderkeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, SIZES["part"] + 1, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, SIZES["supplier"] + 1, n), pa.int64()),
        "l_linenumber": pa.array((np.arange(n) % SIZES["lines_per_order"] + 1).astype("int32")),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2000.0, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": _dates(orderdays + rng.integers(1, 122, n)),
    })


def star(rng):
    """The star schema: dimensions, orders, and four lines per order."""
    nc, ns, np_, no = (SIZES[k] for k in ("customer", "supplier", "part", "orders"))
    t = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([n for n, _ in NATIONS]),
            "n_regionkey": pa.array([r for _, r in NATIONS], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(1, nc + 1), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, nc + 1)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype("int32")),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc))}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(1, ns + 1), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(1, ns + 1)]),
            "s_nationkey": pa.array(rng.integers(0, 25, ns).astype("int32")),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns))}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(1, np_ + 1), pa.int64()),
            "p_name": pa.array([f"part {a} {b}" for a, b in zip(
                rng.integers(0, 1000, np_), rng.integers(0, 1000, np_))]),
            "p_brand": pa.array([f"Brand#{a}{b}" for a, b in zip(
                rng.integers(1, 6, np_), rng.integers(1, 6, np_))]),
            "p_type": pa.array(rng.choice(["STANDARD", "SMALL", "MEDIUM", "LARGE"], np_)),
            "p_size": pa.array(rng.integers(1, 51, np_).astype("int32")),
            "p_retailprice": pa.array(_money(rng, 900.0, 2000.0, np_))}),
    }
    orders = orders_table(rng, np.arange(1, no + 1))
    t["orders"] = orders
    per = SIZES["lines_per_order"]
    days = np.repeat(orders.column("o_orderdate").cast(pa.int32()).to_numpy(), per)
    t["lineitem"] = lineitem_table(rng, np.repeat(np.arange(1, no + 1), per), days)
    return t


def lake(rng, out):
    """Per-cycle lineitem batches and orders change sets. A change set
    updates existing keys (60%), inserts new keys (30%) and deletes
    existing keys (10%); keys within one set are distinct."""
    no, nb, nch = SIZES["orders"], SIZES["batch_rows"], SIZES["change_rows"]
    n_upd, n_new = nch * 6 // 10, nch * 3 // 10
    n_del = nch - n_upd - n_new
    for c in range(1, SIZES["lake_cycles"] + 1):
        base = 10_000_000 + c * 100_000
        keys = base + np.arange(nb) // SIZES["lines_per_order"]
        _write(lineitem_table(rng, keys, rng.integers(FIRST_DAY, LAST_DAY, nb)),
               f"{out}/batches/b{c:03d}.parquet")
        old = rng.choice(np.arange(1, no + 1), n_upd + n_del, replace=False)
        keys = np.concatenate([old[:n_upd], no + c * 1000 + np.arange(n_new), old[n_upd:]])
        ch = orders_table(rng, keys)
        ch = ch.append_column("op", pa.array(["U"] * (n_upd + n_new) + ["D"] * n_del))
        _write(ch, f"{out}/changes/c{c:03d}.parquet")


def corpus(rng):
    """Documents over a seeded vocabulary: 60% base documents, 25% near
    duplicates (8% of an earlier base document's tokens replaced), 5%
    exact duplicates, 10% junk too short for the quality gate. Token
    counts depend only on the doc_id."""
    n = SIZES["corpus_docs"]
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = np.array(["".join(rng.choice(letters, k)) for k in rng.integers(3, 10, 4000)])
    weights = 1.0 / (np.arange(len(vocab)) + 10.0)
    ids = np.arange(1, n + 1)
    slot = ids % 20
    junk = np.isin(slot, list(JUNK_SLOTS))
    lengths = np.where(junk, 20 + ids % 21, 60 + (ids * 37) % 61)
    # every document's fresh tokens at once: Zipf-like draws, with about
    # one token in six replaced by a stop word
    toks = vocab[rng.choice(len(vocab), lengths.sum(), p=weights / weights.sum())]
    stops = rng.random(len(toks)) < 1 / 6
    toks[stops] = np.array(STOP_WORDS)[rng.integers(0, len(STOP_WORDS), stops.sum())]
    fresh = np.split(toks, np.cumsum(lengths)[:-1])
    docs, base = [], []
    for i, doc in zip(ids, fresh):
        s = i % 20
        if s in NEAR_SLOTS and base:
            src = docs[base[rng.integers(len(base))] - 1].split(" ")
            doc = np.array(src)
            k = max(1, len(doc) * 8 // 100)
            doc[rng.choice(len(doc), k, replace=False)] = vocab[rng.integers(0, len(vocab), k)]
        elif s in EXACT_SLOTS and base:
            docs.append(docs[base[rng.integers(len(base))] - 1])
            continue
        elif s not in JUNK_SLOTS:
            base.append(int(i))
        docs.append(" ".join(doc))
    return pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(docs)})


def _placeholders(out, have):
    """One-row stand-ins for the tables a workload does not use, so the
    shared oracle runner can declare its views over every table name."""
    for name in ["region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"]:
        if name not in have:
            _write(pa.table({"unused": pa.array([0], pa.int32())}), f"{out}/{name}.parquet")


def _file_bytes(out):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(out) for f in fs)


def generate(workload, out, seed):
    rng = np.random.default_rng(seed)
    props = {}
    if workload in ("athena_query", "lake_merge"):
        tables = star(rng)
        if workload == "lake_merge":
            tables = {k: tables[k] for k in ("orders", "lineitem")}
            lake(rng, out)
            props.update(cycles_available=SIZES["lake_cycles"],
                         batch_rows=SIZES["batch_rows"],
                         change_rows=SIZES["change_rows"],
                         change_mix="60% update, 30% insert, 10% delete")
        for name, t in tables.items():
            _write(t, f"{out}/{name}.parquet")
            props[f"rows.{name}"] = t.num_rows
        if workload == "athena_query":
            props.update(repeat_share=0.25, recent_window=8, query_cache_entries=100)
    elif workload == "curate_dedup":
        docs = corpus(rng)
        n = docs.num_rows
        cut = n * 9 // 10
        _write(docs, f"{out}/documents.parquet")
        _write(docs.slice(0, cut), f"{out}/corpus90.parquet")
        held = docs.slice(cut)
        per = held.num_rows // SIZES["heldout_files"]
        for k in range(SIZES["heldout_files"]):
            path = f"{out}/heldout/part-{k:05d}.parquet"
            _write(held.slice(k * per, per), path)
            # the stream reads one file per micro-batch, oldest first; whole
            # seconds apart, the files' order is their name order, which is
            # the order the batch reference replays them in
            os.utime(path, (HELDOUT_MTIME + k, HELDOUT_MTIME + k))
        tables = {"documents": docs}
        props.update({"rows.documents": n, "rows.heldout": held.num_rows,
                      "near_dup_share": len(NEAR_SLOTS) / 20,
                      "exact_dup_share": len(EXACT_SLOTS) / 20,
                      "junk_share": len(JUNK_SLOTS) / 20,
                      "text_bytes": sum(len(t.as_py()) for t in docs.column("text"))})
    else:
        raise ValueError(f"unknown workload {workload}")
    _placeholders(out, tables)
    props["input_bytes"] = _file_bytes(out)
    return props
