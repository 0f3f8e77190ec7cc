"""Seeded input generator for the benchmark.

Every table and every request plan is a pure function of the seed, so the
same seed gives byte-identical inputs. Table shapes follow the engine's
declared schemas (`graft.Tables.schemas`) at a scale near sf0.01: the
same row counts for every seed, only the values change, so runs with
different seeds do the same amount of work.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER = 1000
N_PART = 2000
N_SUPPLIER = 100
N_ORDERS = 3000
N_EVENTS = 12000
N_EVENT_USERS = 180
N_DOCS = 500
N_VECS = 500
VEC_DIM = 64

# refresh: bronze holds the first BRONZE_SHARE of listens by ship date; the
# rest arrives as week-sized slices of SLICE_SHARE of bronze each (the
# reference's weekly batch against its history is ~2.5 %).
BRONZE_SHARE = 0.8
SLICE_SHARE = 0.025
N_SLICES = 8

ZIPF_S = 1.1
N_PROBES = 2

_WORDS = ("a agg batch big column customer data dup fast filter group hash join "
          "key line merge order part query row scan slow small sort spark stream "
          "table the value vector window").split()
_ADJ = "blue cold hot large new old red small".split()
_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
_SEGMENTS = "AUTOMOBILE BUILDING FURNITURE HOUSEHOLD MACHINERY".split()
_PTYPES = "ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split()
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = "click error purchase signup view".split()
_LANGS = ["en"] * 9 + ["de", "es", "fr", "zh"] * 2 + ["en"]


def rng_for(seed, stream):
    """An independent generator per named stream, so adding a stream never
    shifts the values of another."""
    return np.random.Generator(np.random.PCG64([seed, sum(map(ord, stream))]))


def _ts(values):
    return pa.array(values.astype("datetime64[us]"), type=pa.timestamp("us"))


def _write(table_dir, name, cols):
    os.makedirs(table_dir, exist_ok=True)
    pq.write_table(pa.table(cols), os.path.join(table_dir, f"{name}.parquet"),
                   compression="snappy")


def _round2(x):
    return np.round(x, 2)


def star_schema(seed):
    """The TPC-H-like star used by the product path: customer = user,
    part = track, orders = playlist, lineitem = listen."""
    r = rng_for(seed, "star")
    cust = {
        "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": r.integers(0, 25, N_CUSTOMER).astype(np.int32),
        "c_acctbal": _round2(r.uniform(-999.99, 9999.99, N_CUSTOMER)),
        "c_mktsegment": r.choice(_SEGMENTS, N_CUSTOMER),
    }
    part = {
        "p_partkey": np.arange(N_PART, dtype=np.int64),
        "p_name": [f"{a} {n}" for a, n in zip(r.choice(_ADJ, N_PART), r.choice(_NOUN, N_PART))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, N_PART)],
        "p_type": r.choice(_PTYPES, N_PART),
        "p_size": r.integers(1, 51, N_PART).astype(np.int32),
        "p_retailprice": _round2(900.0 + (np.arange(N_PART) % 1000) / 10.0),
    }
    odate = np.datetime64("1995-01-01", "D") + r.integers(0, 2404, N_ORDERS)
    orders = {
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": r.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
        "o_orderstatus": r.choice(["F", "O", "P"], N_ORDERS),
        "o_totalprice": _round2(r.uniform(1000.0, 500000.0, N_ORDERS)),
        "o_orderdate": odate,
        "o_orderpriority": r.choice(_PRIORITIES, N_ORDERS),
    }
    nlines = r.integers(1, 8, N_ORDERS)
    okey = np.repeat(orders["o_orderkey"], nlines)
    lnum = np.concatenate([np.arange(1, n + 1) for n in nlines]).astype(np.int32)
    n = len(okey)
    qty = r.integers(1, 51, n).astype(np.float64)
    pkey = r.integers(0, N_PART, n).astype(np.int64)
    ship = np.repeat(odate, nlines) + r.integers(1, 122, n)
    lineitem = {
        "l_orderkey": okey,
        "l_partkey": pkey,
        "l_suppkey": r.integers(0, N_SUPPLIER, n).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": _round2(qty * (900.0 + (pkey % 1000) / 10.0) * r.uniform(0.95, 1.05, n)),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": r.choice(["A", "N", "R"], n),
        "l_linestatus": r.choice(["F", "O"], n),
        "l_shipdate": ship,
    }
    return cust, part, orders, lineitem


def dims(seed):
    r = rng_for(seed, "dims")
    region = {"r_regionkey": np.arange(5, dtype=np.int32),
              "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    nation = {"n_nationkey": np.arange(25, dtype=np.int32),
              "n_name": [f"NATION_{i}" for i in range(25)],
              "n_regionkey": (np.arange(25) % 5).astype(np.int32)}
    supplier = {"s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
                "s_nationkey": r.integers(0, 25, N_SUPPLIER).astype(np.int32),
                "s_acctbal": _round2(r.uniform(-999.99, 9999.99, N_SUPPLIER))}
    return region, nation, supplier


def events(seed, n=N_EVENTS, users=N_EVENT_USERS):
    r = rng_for(seed, "events")
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 10**6
    ts = start + np.sort(r.integers(0, span_us, n)).astype("timedelta64[us]")
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": r.integers(0, users, n).astype(np.int64),
        "event_type": r.choice(_EVENT_TYPES, n),
        "value": _round2(np.minimum(r.exponential(60.0, n) + 0.01, 490.0)),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
    }


def documents(seed):
    r = rng_for(seed, "documents")
    lens = r.integers(8, 100, N_DOCS)
    texts = [" ".join(r.choice(_WORDS, k)) for k in lens]
    return {
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": r.choice(_LANGS, N_DOCS),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def embeddings(seed):
    r = rng_for(seed, "embeddings")
    centers = r.normal(0.0, 1.0, (10, VEC_DIM))
    label = r.integers(0, 10, N_VECS)
    v = centers[label] + r.normal(0.0, 0.8, (N_VECS, VEC_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.array([row.astype(np.float32) for row in v], type=pa.list_(pa.float32()))
    return {"vec_id": np.arange(N_VECS, dtype=np.int64), "embedding": emb,
            "label": label.astype(np.int32)}


def zipf_users(rng, users, size, s=ZIPF_S):
    """`size` draws from a Zipf(s) over `users`, ranked by a seeded
    permutation so the hot users differ between seeds."""
    users = np.asarray(sorted(users), dtype=np.int64)
    ranked = rng.permutation(users)
    w = 1.0 / np.arange(1, len(ranked) + 1) ** s
    return rng.choice(ranked, size=size, p=w / w.sum())


def listens(orders, lineitem):
    """lineitem ⋈ orders as listen events in ship-date order: (event_id,
    l_orderkey, l_partkey, o_custkey, l_shipdate), where event_id is
    l_orderkey * 8 + l_linenumber (line numbers stay below 8)."""
    cust = orders["o_custkey"][lineitem["l_orderkey"]]
    order = np.lexsort((lineitem["l_linenumber"], lineitem["l_orderkey"], lineitem["l_shipdate"]))
    return {
        "event_id": lineitem["l_orderkey"][order] * 8 + lineitem["l_linenumber"][order],
        "l_orderkey": lineitem["l_orderkey"][order],
        "l_partkey": lineitem["l_partkey"][order],
        "o_custkey": cust[order],
        "l_shipdate": lineitem["l_shipdate"][order],
    }


def split_slices(n_rows, bronze_share=BRONZE_SHARE, slice_share=SLICE_SHARE, n_slices=N_SLICES):
    """Row ranges [lo, hi) of the bronze prefix and of each weekly slice."""
    prefix = int(round(n_rows * bronze_share))
    size = max(1, int(round(prefix * slice_share)))
    bounds = [(0, prefix)]
    lo = prefix
    for _ in range(n_slices):
        hi = min(n_rows, lo + size)
        if hi <= lo:
            break
        bounds.append((lo, hi))
        lo = hi
    return bounds


def _take(cols, lo, hi):
    return {k: v[lo:hi] for k, v in cols.items()}


def _write_star(tdir, star):
    cust, part, orders, lineitem = star
    _write(tdir, "customer", cust)
    _write(tdir, "part", part)
    _write(tdir, "orders", {**orders, "o_orderdate": _ts(orders["o_orderdate"])})
    _write(tdir, "lineitem", {**lineitem, "l_shipdate": _ts(lineitem["l_shipdate"])})


def _slice_json(path, cols):
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        for i in range(len(cols["event_id"])):
            f.write(json.dumps({
                "event_id": int(cols["event_id"][i]),
                "l_orderkey": int(cols["l_orderkey"][i]),
                "l_partkey": int(cols["l_partkey"][i]),
                "o_custkey": int(cols["o_custkey"][i]),
                "l_shipdate": str(cols["l_shipdate"][i].astype("datetime64[s]")),
            }) + "\n")
    os.replace(tmp, path)


def generate(workload, seed, out_dir):
    """Write the workload's tables under `out_dir/tables` and its plan to
    `out_dir/plan.json`; returns the plan."""
    tdir = os.path.join(out_dir, "tables")
    plan = {"workload": workload, "seed": seed}
    if workload in ("serve", "refresh", "query_mix"):
        star = star_schema(seed)
        cust, part, orders, lineitem = star
        if workload == "refresh":
            lis = listens(orders, lineitem)
            bounds = split_slices(len(lis["event_id"]))
            lo, hi = bounds[0]
            _write(tdir, "bronze_prefix", {**_take(lis, lo, hi),
                                           "l_shipdate": _ts(lis["l_shipdate"][lo:hi])})
            sdir = os.path.join(out_dir, "slices")
            os.makedirs(sdir, exist_ok=True)
            for k, (lo, hi) in enumerate(bounds[1:]):
                _slice_json(os.path.join(sdir, f"week-{k:02d}.json"), _take(lis, lo, hi))
            plan["slices"] = len(bounds) - 1
            plan["bronze_rows"] = bounds[0][1]
            _write(tdir, "customer", cust)
            _write(tdir, "part", part)
            liked = np.unique(lis["o_custkey"][:bounds[0][1]])
        else:
            _write_star(tdir, star)
            liked = np.unique(orders["o_custkey"][np.unique(lineitem["l_orderkey"])])
        r = rng_for(seed, "requests")
        plan["clients"] = [zipf_users(r, liked, 20000).tolist() for _ in range(2)]
        plan["probes"] = sorted(int(u) for u in r.choice(liked, N_PROBES, replace=False))
    if workload == "query_mix":
        region, nation, supplier = dims(seed)
        _write(tdir, "region", region)
        _write(tdir, "nation", nation)
        _write(tdir, "supplier", supplier)
        ev = events(seed, 10000, 150)
        _write(tdir, "events", {**ev, "ts": _ts(ev["ts"])})
        _write(tdir, "documents", documents(seed))
        _write(tdir, "embeddings", embeddings(seed))
    if workload == "maintain":
        ev = events(seed)
        _write(tdir, "events", {**ev, "ts": _ts(ev["ts"])})
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "plan.json"), "w") as f:
        json.dump(plan, f)
    return plan
