"""Seeded input generator for the graft benchmark.

Every table and operation stream the benchmark feeds to graft is made
here from one integer seed, so the same seed always gives byte-identical
inputs. The shapes follow the sf0.1 star schema (150k orders, 600k
lineitems) plus a small document/embedding corpus for the curation
operators. Nothing here touches graft: the program only ever sees the
parquet files and the JSON operation streams written below.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_ORDERS = 150_000
N_LINES = 300_000
N_CUST = 15_000
N_PART = 20_000
N_SUPP = 1_000
N_DOCS = 600
N_EMB = 400
EMB_DIM = 32

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
WORDS = ("agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table value vector window the a").split()
LANGS = ["en", "de", "es", "fr", "zh"]
DAY0 = 8766  # 1994-01-01 as days since the epoch


def _write(table, path):
    pq.write_table(table, path, row_group_size=1 << 20)


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _mix(r, kinds, n, lead=(), last=None, follow=None):
    """`n` operation kinds in blocks of 100, each block holding every kind
    exactly its weight's number of times in a seeded order, except that
    the kinds in `lead` open the block in that order and `last` closes it
    (weights sum to 100 with it): every seed runs the same mix, only the
    order and the parameters differ. `follow=(kind, after)` places each
    `kind` directly behind a distinct operation of a kind in `after`."""
    block = [k for k, w in kinds for _ in range(w)]
    assert len(block) + (last is not None) == 100, "weights must sum to 100"
    rest = [k for k in block if k not in lead]
    out = []
    while len(out) < n:
        b = [rest[j] for j in r.permutation(len(rest))]
        if follow is not None:
            kind, after = follow
            b = [k for k in b if k != kind]
            slots = [i for i, k in enumerate(b) if k in after]
            chosen = set(r.choice(slots, block.count(kind), replace=False).tolist())
            b = [x for i, k in enumerate(b) for x in ([k, kind] if i in chosen else [k])]
        out += list(lead) + b + ([last] if last is not None else [])
    return out[:n]


def orders_table(seed, scale=1.0):
    n = int(N_ORDERS * scale)
    r = _rng(seed, 1)
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "o_orderkey": keys,
        "o_custkey": r.integers(0, N_CUST, n, dtype=np.int64),
        "o_orderstatus": pa.array(np.array(STATUSES)[r.integers(0, 3, n)]),
        "o_totalprice": r.integers(100_000, 50_000_000, n) / 100.0,
        "o_orderdate": pa.array((DAY0 + r.integers(0, 2400, n)).astype(np.int32),
                                pa.date32()),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[r.integers(0, 5, n)]),
    })


def star_tables(seed, scale=1.0):
    """The sf0.1 star schema tables the lake_reads templates use: region,
    nation, customer, orders and lineitem (`scale` shrinks orders and
    lineitem, for the throwaway warm-up tables)."""
    r = _rng(seed, 2)
    region = pa.table({"r_regionkey": pa.array(np.arange(5), pa.int32()),
                       "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nation = pa.table({"n_nationkey": pa.array(np.arange(25), pa.int32()),
                       "n_name": [f"NATION{i:02d}" for i in range(25)],
                       "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    ck = np.arange(N_CUST, dtype=np.int64)
    customer = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUST)],
        "c_nationkey": pa.array(r.integers(0, 25, N_CUST), pa.int32()),
        "c_acctbal": r.integers(-99_999, 999_999, N_CUST) / 100.0,
        "c_mktsegment": pa.array(np.array(SEGMENTS)[r.integers(0, 5, N_CUST)]),
    })
    orders = orders_table(seed, scale)
    n_orders, n_lines = orders.num_rows, int(N_LINES * scale)
    # two lines per order on average, in order-key order like dbgen
    okeys = np.sort(r.integers(0, n_orders, n_lines)).astype(np.int64)
    odate = orders.column("o_orderdate").to_numpy().astype(np.int32)
    lineitem = pa.table({
        "l_orderkey": okeys,
        "l_partkey": r.integers(0, N_PART, n_lines, dtype=np.int64),
        "l_suppkey": r.integers(0, N_SUPP, n_lines, dtype=np.int64),
        "l_quantity": r.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": r.integers(90_000, 10_000_000, n_lines) / 100.0,
        "l_discount": r.integers(0, 11, n_lines) / 100.0,
        "l_tax": r.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n_lines)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, n_lines)]),
        "l_shipdate": pa.array(odate[okeys] + r.integers(1, 122, n_lines).astype(np.int32),
                               pa.date32()),
    })
    return {"region": region, "nation": nation, "customer": customer,
            "orders": orders, "lineitem": lineitem}


def corpus_tables(seed):
    """Documents with planted near-duplicates and clustered embeddings."""
    r = _rng(seed, 3)
    words = np.array(WORDS)
    texts = []
    for i in range(N_DOCS):
        if i >= 40 and i % 9 == 0:
            # near-duplicate of an earlier document: one word swapped
            src = texts[int(r.integers(0, i))].split(" ")
            src[int(r.integers(0, len(src)))] = str(words[r.integers(0, len(words))])
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(words[r.integers(0, len(words), int(r.integers(25, 70)))]))
    documents = pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[r.integers(0, 5, N_DOCS)]),
        "source": [f"src{int(x)}" for x in r.integers(0, 20, N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    centers = r.normal(0.0, 1.0, (10, EMB_DIM))
    labels = r.integers(0, 10, N_EMB)
    vecs = centers[labels] + r.normal(0.0, 0.6, (N_EMB, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": np.arange(N_EMB, dtype=np.int64),
        "embedding": pa.array([[float(np.float32(x)) for x in v] for v in vecs],
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return {"documents": documents, "embeddings": embeddings}


# ---------------------------------------------------------------- commit_mix

# Operation kinds of the commit_mix stream with their weights. Every
# operation's rows are a pure function of its parameters (the formulas of
# CommitMix.orderCols, mirrored in oracle.py), so the JVM and the DuckDB
# replay build identical deltas. The latency groups are far apart: light
# writes (append, commitTxn), read-after-write reads, and six heavy
# operations (MoR merge, delete, branch DML, two stream batches, the
# compaction that ends each block). The p50 falls inside the appends and
# the p90 in the middle of the reads, never on the edge of a group. The
# two MoR writes open the block, so every read of a block finds the same
# delete files (a read before them costs a third of one after).
COMMIT_KINDS = [("append", 74), ("commitTxn", 10), ("read", 10), ("mergeMoR", 1),
                ("deleteWhere", 1), ("branch", 1), ("stream", 2)]
DELTA_ROWS = 40
# the warm-up runs on a tenth of the orders
WARM_SCALE = 0.1


SEED_FILES = 16  # CommitMix loads the orders as 16 key-ranged files


def commit_ops(seed, n, n_orders=N_ORDERS):
    """The seeded commit_mix stream over a table of `n_orders` orders:
    `n` operations, each read right behind the append or commitTxn whose
    keys it reads. The keyed rewrites of a block (merge, branch, delete)
    each aim at the middle of a different seed file, so every block
    rewrites the same number of files."""
    r = _rng(seed, 4)
    ops, next_new, last_lo = [], n_orders, 0
    kinds = _mix(r, COMMIT_KINDS, n, lead=("mergeMoR", "branch"), last="compact",
                 follow=("read", {"append", "commitTxn"}))
    width = n_orders // SEED_FILES
    slots = []
    for i, kind in enumerate(kinds):
        if i % 100 == 0:
            slots = [int(x) for x in r.permutation(SEED_FILES)]
        op = {"id": i, "op": kind}
        if kind in ("mergeMoR", "branch", "deleteWhere"):
            lo = slots.pop() * width + width // 4 + int(r.integers(0, width // 4))
        if kind in ("append", "commitTxn"):
            op.update(lo=next_new, n=DELTA_ROWS)
            last_lo, next_new = next_new, next_new + DELTA_ROWS
        elif kind in ("mergeMoR", "branch"):
            # updates of existing keys at stride 3, every seventh a tombstone
            op.update(lo=lo, n=DELTA_ROWS, stride=3, del_mod=7, salt=i)
        elif kind == "deleteWhere":
            op.update(lo=lo, n=DELTA_ROWS // 2)
        elif kind == "read":
            op.update(lo=last_lo, n=3 * DELTA_ROWS)
        ops.append(op)  # stream, compact: no parameters
    return ops


def warm_ops(ops):
    """The warm-up: the first operation of every kind in `ops`, so each
    code path is compiled before the measured phase."""
    firsts = {}
    for o in ops:
        firsts.setdefault(o["op"], o)
    return sorted(firsts.values(), key=lambda o: o["id"])


# ---------------------------------------------------------------- stream_upsert

SLICE_ROWS = 60


def stream_slices(seed, n, n_orders=N_ORDERS):
    """`n` keyed event slices over the keys of `n_orders` orders: each
    slice upserts a few existing orders, deletes a few and inserts new
    ones. Keys are unique within a slice, as the merge contract requires."""
    r = _rng(seed, 5)
    out, next_new = [], n_orders
    for b in range(n):
        upd = r.choice(n_orders, size=SLICE_ROWS - 10, replace=False).astype(np.int64)
        new = np.arange(next_new, next_new + 10, dtype=np.int64)
        next_new += 10
        keys = np.concatenate([upd, new])
        m = len(keys)
        op = np.where(np.arange(m) % 8 == 7, "D", "U")
        op[-10:] = "U"
        out.append(pa.table({
            "o_orderkey": keys,
            "o_custkey": r.integers(0, N_CUST, m, dtype=np.int64),
            "o_orderstatus": pa.array(np.array(STATUSES)[r.integers(0, 3, m)]),
            "o_totalprice": r.integers(100_000, 50_000_000, m) / 100.0,
            "o_orderdate": pa.array((DAY0 + r.integers(0, 2400, m)).astype(np.int32),
                                    pa.date32()),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[r.integers(0, 5, m)]),
            "op": pa.array(op),
        }))
    return out


# ---------------------------------------------------------------- lake_reads

# The heavy kinds (star join, full scan) are two per block, so the p90
# falls in the tail of the light reads.
LAKE_KINDS = [("point", 28), ("bloom", 18), ("range", 18), ("star", 1), ("mv", 16),
              ("asof", 18), ("fullscan", 1)]


def _day(d):
    return f"DATE '{np.datetime64(int(d), 'D')}'"


DEC = "CAST(sum(CAST({} AS DECIMAL(18,4))) AS DOUBLE)"

MV_SHAPES = [
    "SELECT seg, CAST(count(*) AS BIGINT) AS n, " + DEC.format("price") + " AS revenue "
    "FROM {ofact} JOIN {cdim} USING (ck) GROUP BY seg",
    "SELECT seg, CAST(count(*) AS BIGINT) AS n, CAST(max(price) AS DOUBLE) AS top "
    "FROM {ofact} JOIN {cdim} USING (ck) GROUP BY seg",
]


def lake_ops(seed, n):
    """Read-only operations. Each carries its SQL with `{table}`
    placeholders that the JVM binds to catalog tables and the DuckDB
    oracle binds to the source parquet; `bloom` runs through the
    ManifestTable API and its SQL serves only the oracle."""
    r = _rng(seed, 6)
    ops = []
    for i, kind in enumerate(_mix(r, LAKE_KINDS, n)):
        op = {"id": i, "op": kind}
        if kind == "point":
            k = int(r.integers(0, N_ORDERS))
            op["sql"] = ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
                         f"o_orderdate FROM {{orders}} WHERE o_orderkey = {k}")
        elif kind == "bloom":
            keys = [int(x) for x in r.choice(N_CUST, 3, replace=False)]
            op["keys"] = keys
            op["sql"] = ("SELECT c_custkey, c_name, c_acctbal FROM {customer} "
                         f"WHERE c_custkey IN ({', '.join(map(str, keys))})")
        elif kind == "range":
            lo = int(r.integers(0, N_ORDERS - 600))
            op["sql"] = ("SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n, "
                         + DEC.format("l_extendedprice") + " AS revenue FROM {lineitem} "
                         f"WHERE l_orderkey BETWEEN {lo} AND {lo + 600} GROUP BY l_returnflag")
        elif kind == "star":
            d = DAY0 + int(r.integers(0, 2200))
            op["sql"] = ("SELECT n_name, CAST(count(*) AS BIGINT) AS n, "
                         + DEC.format("l_extendedprice") + " AS revenue "
                         "FROM {lineitem} JOIN {orders} ON l_orderkey = o_orderkey "
                         "JOIN {customer} ON o_custkey = c_custkey "
                         "JOIN {nation} ON c_nationkey = n_nationkey "
                         "JOIN {region} ON n_regionkey = r_regionkey "
                         f"WHERE r_regionkey = {int(r.integers(0, 5))} "
                         f"AND o_orderdate >= {_day(d)} AND o_orderdate < {_day(d + 120)} "
                         "GROUP BY n_name")
        elif kind == "mv":
            op["sql"] = MV_SHAPES[int(r.integers(0, len(MV_SHAPES)))]
        elif kind == "asof":
            lo = int(r.integers(0, N_ORDERS - 5000))
            op["version"] = int(r.integers(1, 4))
            op["sql"] = ("SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n, "
                         + DEC.format("o_totalprice") + " AS revenue FROM {orders_v} "
                         f"WHERE o_orderkey BETWEEN {lo} AND {lo + 5000} GROUP BY o_orderstatus")
        elif kind == "fullscan":
            op["sql"] = ("SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n, "
                         + DEC.format("l_quantity") + " AS qty, "
                         + DEC.format("l_extendedprice") + " AS revenue "
                         "FROM {lineitem} GROUP BY l_returnflag, l_linestatus")
        ops.append(op)
    return ops


# ---------------------------------------------------------------- curation_mix

# dd4 and dd8 share SparkEntry's cached near-duplicate pairs, so a cycle
# run after the caches were cleared (cold) costs more than a warm one
CURATION = {
    "dd": ["dd4_minhash_lsh", "dd8_dedup_apply"],
    "tx": ["tx2_quality"],
    "ss": ["ss3_centroid"],
    "graph": ["q98_pagerank"],
}


def names(families):
    return [q for fam in families.values() for q in fam]


def curation_cycles(seed, n_cycles):
    """`n_cycles` passes over every declared curation query, each pass in
    its own seeded order."""
    r = _rng(seed, 7)
    qs = names(CURATION)
    return [[qs[j] for j in r.permutation(len(qs))] for _ in range(n_cycles)]


# ---------------------------------------------------------------- entry point

def generate(workload, seed, out_dir, n_ops):
    """Write `workload`'s inputs under `out_dir` and return the plan the
    JVM harness reads (also written to `out_dir/plan.json`). The warm-up
    runs the operation stream of another seed."""
    os.makedirs(out_dir, exist_ok=True)
    plan = {"workload": workload, "seed": seed}
    warm = seed + 1_000_003
    if workload == "commit_mix":
        _write(orders_table(seed), f"{out_dir}/orders.parquet")
        _write(orders_table(warm, WARM_SCALE), f"{out_dir}/warm_orders.parquet")
        n_warm = int(N_ORDERS * WARM_SCALE)
        plan["ops"] = commit_ops(seed, n_ops)
        plan["warm_ops"] = warm_ops(commit_ops(warm, 100, n_warm))
        for sub, s, key, n_orders in (("slices", seed, "ops", N_ORDERS),
                                      ("warm_slices", warm, "warm_ops", n_warm)):
            os.makedirs(f"{out_dir}/{sub}", exist_ok=True)
            n_stream = sum(1 for o in plan[key] if o["op"] == "stream")
            for b, t in enumerate(stream_slices(s, n_stream, n_orders)):
                _write(t, f"{out_dir}/{sub}/s{b:05d}.parquet")
    elif workload == "lake_reads":
        os.makedirs(f"{out_dir}/data", exist_ok=True)
        for name, t in star_tables(seed).items():
            _write(t, f"{out_dir}/data/{name}.parquet")
        os.makedirs(f"{out_dir}/data_corpus", exist_ok=True)
        for name, t in corpus_tables(seed).items():
            _write(t, f"{out_dir}/data_corpus/{name}.parquet")
        plan["ops"] = lake_ops(seed, n_ops)
        plan["warm_ops"] = warm_ops(lake_ops(warm, 100))
        plan["cycles"] = curation_cycles(seed, 2)
        plan["families"] = CURATION
    else:
        raise ValueError(f"unknown workload {workload}")
    with open(f"{out_dir}/plan.json", "w") as f:
        json.dump(plan, f)
    return plan
