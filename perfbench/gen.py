"""Seeded input generator for the warehouse benchmark.

Writes the ten source tables the engine reads (`region nation customer
supplier part orders lineitem events documents embeddings`), one parquet
file each, with the column names, types and value domains of the
engine's TPC-H-ish star schema. The same (seed, sf) always yields
byte-identical files: every value comes from one numpy PCG64 stream and
the parquet writer options are fixed.

The `etl` workload also needs incremental batches on top of a base load;
`write_etl` derives them from one generated set (see its docstring).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute  # noqa: F401  (pa.compute)
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)
ORDER_DAYS = 2404          # 1995-01-01 .. 2001-08-01


def sizes(sf):
    """Row counts at scale factor `sf` (the corpus tables have floors so
    the curation operators always see a real corpus)."""
    return dict(
        customer=int(150_000 * sf), supplier=max(10, int(10_000 * sf)),
        part=int(200_000 * sf), orders=int(1_500_000 * sf),
        events=int(1_000_000 * sf),
        documents=max(500, int(50_000 * sf)),
        embeddings=max(500, int(20_000 * sf)))


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy", row_group_size=1 << 30)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(seed, sf):
    """All ten tables as {name: {column: array}}, drawn from one stream."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n = sizes(sf)
    t = {}
    t["region"] = dict(r_regionkey=pa.array(np.arange(5, dtype=np.int32)),
                       r_name=REGIONS)
    t["nation"] = dict(
        n_nationkey=pa.array(np.arange(25, dtype=np.int32)),
        n_name=[f"NATION_{i}" for i in range(25)],
        n_regionkey=pa.array(np.arange(25, dtype=np.int32) % 5))

    nc = n["customer"]
    t["customer"] = dict(
        c_custkey=np.arange(nc, dtype=np.int64),
        c_name=[f"Customer#{i:09d}" for i in range(nc)],
        c_nationkey=pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        c_acctbal=_money(rng, -999.99, 9999.99, nc),
        c_mktsegment=[SEGMENTS[i] for i in rng.integers(0, 5, nc)])

    ns = n["supplier"]
    t["supplier"] = dict(
        s_suppkey=np.arange(ns, dtype=np.int64),
        s_name=[f"Supplier#{i:09d}" for i in range(ns)],
        s_nationkey=pa.array(rng.integers(0, 25, ns, dtype=np.int32)),
        s_acctbal=_money(rng, -999.99, 9999.99, ns))

    npart = n["part"]
    price = np.round(900.0 + rng.integers(0, 1000, npart) / 10.0, 1)
    t["part"] = dict(
        p_partkey=np.arange(npart, dtype=np.int64),
        p_name=[f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        p_brand=[f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        p_type=[P_TYPES[i] for i in rng.integers(0, 6, npart)],
        p_size=pa.array(rng.integers(1, 51, npart, dtype=np.int32)),
        p_retailprice=price)

    no = n["orders"]
    odate = EPOCH_1995 + rng.integers(0, ORDER_DAYS, no) * US_PER_DAY
    t["orders"] = dict(
        o_orderkey=np.arange(no, dtype=np.int64),
        o_custkey=rng.integers(0, nc, no, dtype=np.int64),
        o_orderstatus=[("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        o_totalprice=_money(rng, 1000.0, 500000.0, no),
        o_orderdate=_ts(odate),
        o_orderpriority=[PRIORITIES[i] for i in rng.integers(0, 5, no)])

    # 1..7 lines per order, ~2% of orders without any
    per = rng.integers(1, 8, no)
    per[rng.random(no) < 0.02] = 0
    nl = int(per.sum())
    okey = np.repeat(np.arange(no, dtype=np.int64), per)
    line = (np.arange(nl) - np.repeat(np.cumsum(per) - per, per) + 1).astype(np.int32)
    pkey = rng.integers(0, npart, nl, dtype=np.int64)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ship = np.repeat(odate, per) + rng.integers(1, 122, nl) * US_PER_DAY
    t["lineitem"] = dict(
        l_orderkey=okey, l_partkey=pkey,
        l_suppkey=rng.integers(0, ns, nl, dtype=np.int64),
        l_linenumber=pa.array(line),
        l_quantity=qty,
        l_extendedprice=np.round(qty * price[pkey], 2),
        l_discount=rng.integers(0, 11, nl) / 100.0,
        l_tax=rng.integers(0, 9, nl) / 100.0,
        l_returnflag=[("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        l_linestatus=[("F", "O")[i] for i in rng.integers(0, 2, nl)],
        l_shipdate=_ts(ship))

    ne = n["events"]
    t["events"] = dict(
        event_id=np.arange(ne, dtype=np.int64),
        ts=_ts(np.sort(EPOCH_2024 + rng.integers(0, 30 * US_PER_DAY, ne))),
        user_id=rng.integers(0, max(1, int(15_000 * sf)), ne, dtype=np.int64),
        event_type=[EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        value=np.round(rng.exponential(50.0, ne), 2),
        props=[f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)])

    nd = n["documents"]
    lens = rng.integers(10, 100, nd)
    words = rng.integers(0, len(WORDS), int(lens.sum()))
    ends = np.cumsum(lens)
    texts = [" ".join(WORDS[w] for w in words[e - k:e]) for e, k in zip(ends, lens)]
    t["documents"] = dict(
        doc_id=np.arange(nd, dtype=np.int64), text=texts,
        lang=[LANGS[i] for i in rng.integers(0, len(LANGS), nd)],
        source=[f"src{i}" for i in rng.integers(0, 20, nd)],
        n_chars=np.array([len(x) for x in texts], dtype=np.int64))

    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv).astype(np.int32)
    centres = rng.normal(0.0, 1.0, (10, 64))
    vecs = centres[labels] * 0.5 + rng.normal(0.0, 1.0, (nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = dict(
        vec_id=np.arange(nv, dtype=np.int64),
        embedding=pa.ListArray.from_arrays(
            pa.array(np.arange(0, nv * 64 + 1, 64, dtype=np.int32)),
            pa.array(vecs.reshape(-1))),
        label=pa.array(labels))
    return t


def write_all(out_dir, seed, sf):
    """Generate and write every table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in generate(seed, sf).items():
        _write(out_dir, name, cols)


def _take(cols, idx):
    return {k: pa.array(v).take(pa.array(idx)) for k, v in cols.items()}


def write_etl(out_dir, seed, sf, n_batches, order_frac=0.01, change_frac=0.02,
              n_suppliers=5):
    """The `etl` feeds: `base/` and `batch_1/` .. `batch_<n>/`.

    Every batch is a disjoint slice of the generated orders (with their
    lineitems), plus a disjoint set of customers and parts whose tracked
    attributes change: customer segment and name, part name and price.
    The engine's SCD2 closes a changed row's active version and, by the
    reference's quirk Q5, inserts no replacement, so a changed customer
    has no active version afterwards; changed customers are therefore
    drawn from those no batch order references. The views never read the
    changed attributes, so the base load plus any prefix of the batches
    must give the same `yearly_sales_profit` as one load of the same
    orders. A batch also carries a few unchanged suppliers and the full
    nation and region tables. `base/` holds the remaining orders and
    every dimension row.
    """
    t = generate(seed, sf)
    rng = np.random.Generator(np.random.PCG64([seed, 1]))
    no = len(t["orders"]["o_orderkey"])
    nc = len(t["customer"]["c_custkey"])
    npart = len(t["part"]["p_partkey"])
    per_batch = max(1, int(no * order_frac))
    orders_perm = rng.permutation(no)
    batch_of_order = np.zeros(no, dtype=np.int64)
    for k in range(n_batches):
        batch_of_order[orders_perm[k * per_batch:(k + 1) * per_batch]] = k + 1
    batch_of_line = batch_of_order[t["lineitem"]["l_orderkey"]]
    n_cust = max(1, int(nc * change_frac))
    n_part = max(1, int(npart * change_frac))
    in_batches = np.zeros(nc, dtype=bool)
    in_batches[t["orders"]["o_custkey"][batch_of_order > 0]] = True
    cust_perm = rng.permutation(np.flatnonzero(~in_batches))
    part_perm = rng.permutation(npart)

    def emit(name, tables):
        d = os.path.join(out_dir, name)
        os.makedirs(d, exist_ok=True)
        for tn, cols in tables.items():
            _write(d, tn, cols)

    base = dict(t)
    base["orders"] = _take(t["orders"], np.flatnonzero(batch_of_order == 0))
    base["lineitem"] = _take(t["lineitem"], np.flatnonzero(batch_of_line == 0))
    for big in ("events", "documents", "embeddings"):
        base.pop(big)
    emit("base", base)
    for k in range(1, n_batches + 1):
        ci = np.sort(cust_perm[(k - 1) * n_cust:k * n_cust])
        cust = _take(t["customer"], ci)
        seg = np.array([SEGMENTS.index(x) for x in cust["c_mktsegment"].to_pylist()])
        cust["c_mktsegment"] = pa.array(
            [SEGMENTS[i] for i in (seg + rng.integers(1, 5, len(ci))) % 5])
        cust["c_name"] = pa.array([f"{x}-v{k}" for x in cust["c_name"].to_pylist()])
        pi = np.sort(part_perm[(k - 1) * n_part:k * n_part])
        part = _take(t["part"], pi)
        part["p_name"] = pa.array([f"{x} v{k}" for x in part["p_name"].to_pylist()])
        part["p_retailprice"] = pa.compute.add(part["p_retailprice"], 1.0)
        emit(f"batch_{k}", dict(
            region=t["region"], nation=t["nation"], customer=cust, part=part,
            supplier=_take(t["supplier"], np.arange(n_suppliers)),
            orders=_take(t["orders"], np.flatnonzero(batch_of_order == k)),
            lineitem=_take(t["lineitem"], np.flatnonzero(batch_of_line == k))))


def write_loaded(etl_dir, out_dir, n_loaded):
    """The feed the `etl` store holds after the base load and the first
    `n_loaded` batches, as one source dir: orders and lineitems of all of
    them, the base dimensions. The oracle of the warehouse view runs on
    it."""
    os.makedirs(out_dir, exist_ok=True)
    dirs = ["base"] + [f"batch_{k}" for k in range(1, n_loaded + 1)]
    for name in ("orders", "lineitem"):
        pq.write_table(pa.concat_tables(
            [pq.read_table(os.path.join(etl_dir, d, f"{name}.parquet")) for d in dirs]),
            os.path.join(out_dir, f"{name}.parquet"))
    for name in ("customer", "nation", "region", "supplier", "part"):
        pq.write_table(pq.read_table(os.path.join(etl_dir, "base", f"{name}.parquet")),
                       os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    import sys
    # python3 gen.py etl|all OUT_DIR SEED SF [BATCHES]
    kind, out, seed, sf = sys.argv[1], sys.argv[2], int(sys.argv[3]), float(sys.argv[4])
    if kind == "etl":
        write_etl(out, seed, sf, int(sys.argv[5]))
    else:
        write_all(out, seed, sf)
