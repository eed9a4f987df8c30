"""Seeded input generator for the benchmark.

Everything graft reads in a run is made here from the seed: the tables the
analytics queries scan (parquet, with the names and column types of the
repository's test data), the CSV landing zone of the ETL workload in a
clean and a rule-violating variant, and the TableLog churn script. The same
seed gives the same inputs.
"""
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the data spark table query scan filter join group agg sort hash "
         "key value row column batch stream window merge order line part "
         "customer vector fast slow big small").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["de", "en", "es", "fr", "zh"]

DAY_US = 86_400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01

ETL_COLUMNS = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
               "l_quantity", "l_extendedprice", "l_discount", "l_tax",
               "l_returnflag", "l_linestatus", "l_shipdate"]


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def star_schema(rng, out, sf):
    """The tables the workloads read, at scale factor `sf`."""
    os.makedirs(out, exist_ok=True)
    n_orders, n_cust = int(150_000 * sf), int(15_000 * sf)
    n_part, n_supp = int(200_000 * sf), int(10_000 * sf)

    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    }), f"{out}/customer.parquet")

    order_day = rng.integers(0, ORDER_DAYS, n_orders)
    _write(pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_orders), 2),
        "o_orderdate": _ts(EPOCH_1995 + order_day * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
    }), f"{out}/orders.parquet")

    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n = len(okey)
    _write(pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts(EPOCH_1995 + (np.repeat(order_day, lines)
                                        + rng.integers(1, 122, n)) * DAY_US),
    }), f"{out}/lineitem.parquet")

    n_ev = int(100_000 * sf)
    _write(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, n_ev))),
        "user_id": rng.integers(0, min(1500, n_cust), n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), f"{out}/events.parquet")

    n_doc = int(50_000 * sf)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)])
             for k in rng.integers(8, 100, n_doc)]
    _write(pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, n_doc)],
        "source": [f"src{k}" for k in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), f"{out}/documents.parquet")


def etl_landing(rng, data_dir, out):
    """The ETL landing zone: lineitem as header'd CSV parts, with the dirt
    the reference's cleaning steps exist for (duplicate keys, missing and
    badly-cased categoricals, unparseable lines), plus a copy whose rows
    break a critical rule."""
    t = pq.read_table(f"{data_dir}/lineitem.parquet").to_pandas()
    t = t[ETL_COLUMNS]
    n = len(t)
    # duplicate keys: a re-sent line with a different price; dedup keeps
    # the lowest l_extendedprice, so the copy wins only when it is lower
    dup = t.sample(n=n // 50, random_state=int(rng.integers(1 << 31))).copy()
    dup["l_extendedprice"] = np.round(dup["l_extendedprice"].to_numpy()
                                      + rng.choice([-0.5, 0.5], len(dup)), 2)
    t = pd.concat([t, dup], ignore_index=True)
    t = t.sample(frac=1.0, random_state=int(rng.integers(1 << 31))).reset_index(drop=True)
    flags = t["l_returnflag"].astype(object).to_numpy()
    m = rng.random(len(t))
    flags = np.where(m < 0.02, None,
                     np.where(m < 0.10, np.char.add(" ", np.char.lower(flags.astype(str))),
                              flags))
    t["l_returnflag"] = flags
    status = t["l_linestatus"].astype(object).to_numpy()
    t["l_linestatus"] = np.where(rng.random(len(t)) < 0.02, None, status)
    t["l_shipdate"] = t["l_shipdate"].dt.strftime("%Y-%m-%d %H:%M:%S")

    def write_variant(frame, d):
        os.makedirs(d, exist_ok=True)
        chunks = np.array_split(np.arange(len(frame)), 4)
        for i, idx in enumerate(chunks):
            lines = frame.iloc[idx].to_csv(index=False, header=True,
                                           float_format="%.2f").splitlines()
            body = lines[1:]
            # one line in ~1000 has an unparseable number: quarantined
            bad = [f"{k},1,1,1,x{k},1.00,0.00,0.00,N,O,1996-01-01 00:00:00"
                   for k in range(i, len(body), 997)]
            with open(f"{d}/part-{i:03d}.csv", "w") as f:
                f.write("\n".join([lines[0]] + body + bad) + "\n")

    write_variant(t, f"{out}/clean")
    bad = t.copy()
    hit = rng.choice(len(bad), size=max(1, len(bad) // 500), replace=False)
    bad.loc[hit, "l_quantity"] = 51.0 + rng.integers(0, 50, len(hit))
    write_variant(bad, f"{out}/violating")


def churn_script(rng, data_dir, out, steps, batch_rows):
    """A TableLog history as data: a seed table (orders plus a `ver`
    column) and a sequence of commits, each followed by one latest read
    and one time-travel read. Commit kinds rotate through a seeded order
    within every block of five, so every run sees the same mix."""
    os.makedirs(out, exist_ok=True)
    o = pq.read_table(f"{data_dir}/orders.parquet")
    seed_tbl = o.append_column("ver", pa.array(np.zeros(o.num_rows, np.int64)))
    _write(seed_tbl, f"{out}/seed.parquet")
    n0 = o.num_rows
    next_key = n0
    kinds = ["append", "upsert", "merge", "delete", "update"]
    ops = []
    for s in range(1, steps + 1):
        if (s - 1) % 5 == 0:
            block = list(rng.permutation(kinds))
        kind = block[(s - 1) % 5]
        op = {"step": s, "kind": kind}
        if kind in ("append", "upsert", "merge"):
            if kind == "append":
                keys = np.arange(next_key, next_key + batch_rows)
                next_key += batch_rows
            else:
                old = rng.choice(next_key, size=batch_rows // 2, replace=False)
                new = np.arange(next_key, next_key + batch_rows - len(old))
                next_key += len(new)
                keys = np.concatenate([old, new])
            k = len(keys)
            batch = pa.table({
                "o_orderkey": keys.astype(np.int64),
                "o_custkey": rng.integers(0, 15_000, k).astype(np.int64),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, k)],
                "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, k), 2),
                "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, ORDER_DAYS, k) * DAY_US),
                "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, k)],
                "ver": np.full(k, s, np.int64),
            })
            op["batch"] = f"batch-{s:04d}.parquet"
            _write(batch, f"{out}/{op['batch']}")
        else:
            # a narrow key range, thinned by customer residue: touches a
            # few files, like a GDPR erase or a price correction would
            lo = int(rng.integers(0, max(1, next_key - 2000)))
            op.update(lo=lo, hi=lo + 2000, mod=7, rem=int(rng.integers(0, 7)))
        op["tt_version"] = int(rng.integers(1, s + 1))  # read after commit s (table at v1+s)
        ops.append(op)
    with open(f"{out}/script.json", "w") as f:
        json.dump({"seed_rows": n0, "ops": ops}, f)
