"""Generate a sf1.0-LIKE local PERF dataset: 10x the sf0.1 row counts
with matching schemas and distribution shapes, written as ONE file with
ONE row group per table to mimic the driver-generated layout (the
single-split property is what round 9's parallelism fixes target).

Strictly for optimization measurement (the "10x replica"): this is NOT
the gate's data and is never read by any gated query; the sf0.01 testdata
stays the only correctness input. Usage:

    python tools/gen_scaled_testdata.py          # writes /tmp/sfs_sf1
    python tools/check_correctness.py /tmp/sfs_sf1 <queries>
"""
import os, sys
import numpy as np, pyarrow as pa, pyarrow.parquet as pq

OUT = "/tmp/sfs_sf1"
os.makedirs(OUT, exist_ok=True)
rng = np.random.default_rng(42)
VOCAB = np.array(['a','agg','batch','big','column','customer','data','dup','fast',
 'filter','group','hash','join','key','line','merge','order','part','query','row',
 'scan','slow','small','sort','spark','stream','table','the','value','vector','window'])

def write(name, table):
    pq.write_table(table, f"{OUT}/{name}.parquet", row_group_size=1 << 31,
                   compression="snappy")
    print(name, table.num_rows)

# documents: 50k word-salad texts averaging ~50 words
n = 50_000
lens = rng.integers(8, 100, n)
# flat word pool then per-row slices (fast)
pool = VOCAB[rng.integers(0, len(VOCAB), int(lens.sum()))]
texts = []
off = 0
for L in lens:
    texts.append(" ".join(pool[off:off+L])); off += L
langs = rng.choice(np.array(["en","zh","es","fr","de"]), n, p=[0.41,0.15,0.15,0.15,0.14])
write("documents", pa.table({
    "doc_id": pa.array(np.arange(n), pa.int64()),
    "text": pa.array(texts, pa.string()),
    "lang": pa.array(langs, pa.string()),
    "source": pa.array(np.char.add("src", rng.integers(0, 20, n).astype(str)), pa.string()),
    "n_chars": pa.array(rng.integers(44, 578, n).astype(np.int32), pa.int32()),
}))

# events: 1M
n = 1_000_000
ts0 = np.datetime64("2024-01-01T00:00:00")
ts = ts0 + (np.sort(rng.integers(0, 30*86400*10**6, n))).astype("timedelta64[us]")
write("events", pa.table({
    "event_id": pa.array(np.arange(n), pa.int64()),
    "ts": pa.array(ts, pa.timestamp("us")),
    "user_id": pa.array(rng.integers(0, 15000, n), pa.int64()),
    "event_type": pa.array(rng.choice(np.array(["signup","click","purchase","error","view"]), n), pa.string()),
    "value": pa.array(np.round(rng.uniform(0, 560, n), 2), pa.float64()),
    "props": pa.array(np.char.add(np.char.add('{"k": ', rng.integers(0,100,n).astype(str)), '}'), pa.string()),
}))

# lineitem: 6M
n = 6_000_000
write("lineitem", pa.table({
    "l_orderkey": pa.array(rng.integers(0, 1_500_000, n), pa.int64()),
    "l_partkey": pa.array(rng.integers(0, 200_000, n), pa.int64()),
    "l_suppkey": pa.array(rng.integers(0, 10_000, n), pa.int64()),
    "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32), pa.int32()),
    "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64), pa.float64()),
    "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n), 2), pa.float64()),
    "l_discount": pa.array(np.round(rng.integers(0, 11, n) * 0.01, 2), pa.float64()),
    "l_tax": pa.array(np.round(rng.integers(0, 9, n) * 0.01, 2), pa.float64()),
    "l_returnflag": pa.array(rng.choice(np.array(["A","N","R"]), n), pa.string()),
    "l_linestatus": pa.array(rng.choice(np.array(["O","F"]), n), pa.string()),
    "l_shipdate": pa.array((np.datetime64("1995-01-02") + rng.integers(0, 2500, n).astype("timedelta64[D]")), pa.date32()),
}))

# orders: 1.5M
n = 1_500_000
write("orders", pa.table({
    "o_orderkey": pa.array(np.arange(n), pa.int64()),
    "o_custkey": pa.array(rng.integers(0, 150_000, n), pa.int64()),
    "o_orderstatus": pa.array(rng.choice(np.array(["O","P","F"]), n), pa.string()),
    "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n), 2), pa.float64()),
    "o_orderdate": pa.array((np.datetime64("1995-01-01") + rng.integers(0, 2400, n).astype("timedelta64[D]")), pa.date32()),
    "o_orderpriority": pa.array(rng.choice(np.array(["1-URGENT","2-HIGH","3-MEDIUM","4-NOT SPECIFIED","5-LOW"]), n), pa.string()),
}))

# customer 150k
n = 150_000
write("customer", pa.table({
    "c_custkey": pa.array(np.arange(n), pa.int64()),
    "c_name": pa.array(np.char.add("Customer#", np.char.zfill(np.arange(n).astype(str), 9)), pa.string()),
    "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32), pa.int32()),
    "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n), 2), pa.float64()),
    "c_mktsegment": pa.array(rng.choice(np.array(["FURNITURE","MACHINERY","AUTOMOBILE","BUILDING","HOUSEHOLD"]), n), pa.string()),
}))

# embeddings 20k x 64
n = 20_000
emb = np.round(rng.standard_normal((n, 64)), 6)
write("embeddings", pa.table({
    "vec_id": pa.array(np.arange(n), pa.int64()),
    "embedding": pa.array(list(emb), pa.list_(pa.float64())),
}))

# part 200k, supplier 10k, nation, region: copy patterns
n = 200_000
write("part", pa.table({
    "p_partkey": pa.array(np.arange(n), pa.int64()),
    "p_name": pa.array(np.char.add("part ", np.arange(n).astype(str)), pa.string()),
    "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n).astype(str)), pa.string()),
    "p_type": pa.array(rng.choice(np.array(["LARGE","ECONOMY","STANDARD","SMALL","MEDIUM"]), n), pa.string()),
    "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32), pa.int32()),
    "p_retailprice": pa.array(np.round(900 + np.arange(n) * 0.1 % 1000, 2), pa.float64()),
}))
n = 10_000
write("supplier", pa.table({
    "s_suppkey": pa.array(np.arange(n), pa.int64()),
    "s_name": pa.array(np.char.add("Supplier#", np.char.zfill(np.arange(n).astype(str), 9)), pa.string()),
    "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32), pa.int32()),
    "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n), 2), pa.float64()),
}))
write("nation", pa.table({
    "n_nationkey": pa.array(np.arange(25).astype(np.int32), pa.int32()),
    "n_name": pa.array(np.char.add("NATION_", np.arange(25).astype(str)), pa.string()),
    "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32), pa.int32()),
}))
write("region", pa.table({
    "r_regionkey": pa.array(np.arange(5).astype(np.int32), pa.int32()),
    "r_name": pa.array(["AFRICA","AMERICA","ASIA","EUROPE","MIDDLE EAST"], pa.string()),
}))
