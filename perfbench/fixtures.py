"""Deterministic TPC-H-shaped fixture tables for the benchmark.

The tables follow the schema of the library's parquet fixtures
(FIXTURES.md section 2): region, nation, customer, supplier, part,
orders and lineitem, one single-row-group snappy parquet file each.
Every value is a function of (table seed, row index) through a
splitmix64 hash, so the files are identical on every machine and with
every numpy version; nothing depends on a random-number generator's
stream.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJECTIVES = ["red", "blue", "hot", "cold", "new", "old", "large", "small"]
NOUNS = ["bolt", "ring", "rod", "plate", "anvil", "gear", "spring", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
FIRST_DAY = np.datetime64("1995-01-01", "us")
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01

_M = np.uint64(0xFFFFFFFFFFFFFFFF)


def _mix(x):
    """splitmix64 finalizer over a uint64 array."""
    with np.errstate(over="ignore"):
        x = (x + np.uint64(0x9E3779B97F4A7C15)) & _M
        x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & _M
        x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & _M
        return x ^ (x >> np.uint64(31))


def draws(seed, salt, n):
    """n uint64 hashes for rows 0..n-1 of column `salt`."""
    base = np.uint64((seed * 1_000_003 + salt) & 0xFFFFFFFFFFFFFFFF)
    with np.errstate(over="ignore"):
        return _mix(np.arange(n, dtype=np.uint64) * np.uint64(0x100000001B3) + base)


def uniform_int(seed, salt, n, lo, hi):
    """Integers in [lo, hi] inclusive."""
    span = np.uint64(hi - lo + 1)
    return (draws(seed, salt, n) % span).astype(np.int64) + lo


def pick(seed, salt, n, words):
    return np.array(words, dtype=object)[uniform_int(seed, salt, n, 0, len(words) - 1)]


def _money(seed, salt, n, lo_cents, hi_cents):
    return uniform_int(seed, salt, n, lo_cents, hi_cents) / 100.0


def tables(sf, seed=FIXTURE_SEED):
    """name -> pyarrow.Table for one scale factor."""
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    ts = pa.timestamp("us")

    region = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS})
    nation = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    ck = np.arange(n_cust, dtype=np.int64)
    customer = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(uniform_int(seed, 1, n_cust, 0, 24), i32),
        "c_acctbal": _money(seed, 2, n_cust, -99_999, 999_999),
        "c_mktsegment": pick(seed, 3, n_cust, SEGMENTS)})
    sk = np.arange(n_supp, dtype=np.int64)
    supplier = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(uniform_int(seed, 11, n_supp, 0, 24), i32),
        "s_acctbal": _money(seed, 12, n_supp, -99_999, 999_999)})
    pk = np.arange(n_part, dtype=np.int64)
    part = pa.table({
        "p_partkey": pk,
        "p_name": pick(seed, 21, n_part, ADJECTIVES).astype(str).astype(object)
        + " " + pick(seed, 22, n_part, NOUNS),
        "p_brand": ["Brand#%d" % b for b in uniform_int(seed, 23, n_part, 1, 25)],
        "p_type": pick(seed, 24, n_part, PART_TYPES),
        "p_size": pa.array(uniform_int(seed, 25, n_part, 1, 50), i32),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0})
    ok = np.arange(n_ord, dtype=np.int64)
    odate = FIRST_DAY + uniform_int(seed, 31, n_ord, 0, ORDER_DAYS) * np.int64(86_400_000_000)
    orders = pa.table({
        "o_orderkey": ok,
        "o_custkey": uniform_int(seed, 32, n_ord, 0, n_cust - 1),
        "o_orderstatus": pick(seed, 33, n_ord, ["F", "O", "P"]),
        "o_totalprice": _money(seed, 34, n_ord, 100_000, 50_000_000),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"), ts),
        "o_orderpriority": pick(seed, 35, n_ord, PRIORITIES)})
    lok = uniform_int(seed, 41, n_line, 0, n_ord - 1)
    ship = odate[lok] + uniform_int(seed, 42, n_line, 1, 120) * np.int64(86_400_000_000)
    lineitem = pa.table({
        "l_orderkey": lok,
        "l_partkey": uniform_int(seed, 43, n_line, 0, n_part - 1),
        "l_suppkey": uniform_int(seed, 44, n_line, 0, n_supp - 1),
        "l_linenumber": pa.array(uniform_int(seed, 45, n_line, 1, 7), i32),
        "l_quantity": uniform_int(seed, 46, n_line, 1, 50).astype(np.float64),
        "l_extendedprice": _money(seed, 47, n_line, 90_000, 10_000_000),
        "l_discount": uniform_int(seed, 48, n_line, 0, 10) / 100.0,
        "l_tax": uniform_int(seed, 49, n_line, 0, 8) / 100.0,
        "l_returnflag": pick(seed, 50, n_line, ["A", "N", "R"]),
        "l_linestatus": pick(seed, 51, n_line, ["F", "O"]),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), ts)})
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem}


def write(out_dir, sf, seed=FIXTURE_SEED):
    """Writes <out_dir>/<table>.parquet for every table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(sf, seed).items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(t, tmp, compression="snappy", row_group_size=max(1, t.num_rows))
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))
