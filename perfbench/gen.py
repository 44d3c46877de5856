"""Seeded input generation for every workload.

Everything the program sees is made here from the workload seed: the
serving segments (`.sqlite` files written with Python's sqlite3), the
per-client operation streams, and the analytics corpus (parquet files with
the column names and types the `SparkEntry` queries expect). The same seed
always gives byte-identical inputs.
"""
import datetime as dt
import json
import os
import random
import sqlite3

DEDUP_DDL = (
    "CREATE TABLE dedup (digest_key TEXT PRIMARY KEY, url TEXT NOT NULL, "
    "date TEXT NOT NULL, id TEXT, status_code INTEGER)")
STATUS_CODES = [200, 200, 200, 200, 301, 302, 404, 500, 0, -9998, -5003, None]
HOSTS = 12

# serve_mixed: more segments (4 clients x 17) than the engine's 64 read
# contexts, three hot per client. Hot tables are large enough that a full scan answers more
# than 64 KiB (streamed chunked); every table stays far under the 65,536-row
# cap for driver-local snapshots.
# Sizes are fixed so that seeds change contents, not costs.
SEGMENTS_PER_CLIENT = 17
HOT_PER_CLIENT = 3
HOT_ROWS = 800
COLD_ROWS = 250
OPS_PER_CLIENT = 8000


def _digest(rng):
    alphabet = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"
    return "sha1:" + "".join(rng.choice(alphabet) for _ in range(32))


def _row(rng, key=None):
    host = rng.randrange(HOSTS)
    day = dt.datetime(2024, 1, 1) + dt.timedelta(seconds=rng.randrange(366 * 86400))
    return (key or _digest(rng),
            "https://host%d.example.org/%s/%d" % (host, rng.choice(["a", "b", "img", "news"]),
                                                  rng.randrange(10 ** 6)),
            day.strftime("%Y-%m-%dT%H:%M:%SZ"),
            "urn:uuid:%032x" % rng.getrandbits(128) if rng.random() < 0.9 else None,
            rng.choice(STATUS_CODES))


def write_segment(path, rows):
    if os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    con.execute(DEDUP_DDL)
    con.executemany("INSERT INTO dedup VALUES (?, ?, ?, ?, ?)", rows)
    con.commit()
    con.close()


def sql_str(v):
    if v is None:
        return "NULL"
    if isinstance(v, int):
        return str(v)
    return "'" + v.replace("'", "''") + "'"


def write_ops(path, ops):
    """One op per line: kind, segment, sql — tab separated, no newlines."""
    with open(path, "w") as f:
        for kind, seg, sql in ops:
            assert "\t" not in sql and "\n" not in sql
            f.write("%s\t%s\t%s\n" % (kind, seg, sql))


# ----------------------------------------------------------- serve_mixed

AGG_TEXTS = [
    "SELECT count(*) AS n, max(date) AS last FROM dedup",
    "SELECT substr(date, 1, 7) AS month, count(*) AS n FROM dedup GROUP BY month ORDER BY month",
    "SELECT status_code, count(*) AS n FROM dedup GROUP BY status_code ORDER BY status_code",
]
TOPK_TEXTS = [
    "SELECT digest_key, url, date FROM dedup ORDER BY date DESC, digest_key LIMIT 10",
    "SELECT digest_key, date FROM dedup WHERE status_code >= 400 ORDER BY date, digest_key LIMIT 25",
]
FUNC_TEXTS = [
    "SELECT SEEDCRAWLEDSTATUS(status_code) AS status, count(*) AS n FROM dedup "
    "GROUP BY status ORDER BY status",
] + ["SELECT count(*) AS n FROM dedup WHERE REGEXP('^https://host%d[.]', url)" % h
     for h in range(3)]
SCAN_TEXT = "SELECT * FROM dedup"

# One round of a client's op stream, 32 ops: a write script, a read of the
# row it wrote, then 22 hot and 8 cold reads in a seeded order. The
# classes of those thirty reads are fixed per round: point lookups of
# recently written keys (read-your-writes) and of other existing keys
# (plan-cache misses), repeated aggregates (plan-cache hits), a top-k, a
# trough SQL function and a full scan. Cold segments are taken round-robin,
# so with 68 segments cycling through 64 read contexts a cold read finds
# its context evicted. The shares are assumptions, not measurements: no
# traffic figures for trough exist to take them from (README.md gives the
# reason for each).
ROUND = 32  # the harness reads it from inputs.json
ROUND_SLOTS = ["hot"] * 22 + ["cold"] * 8
ROUND_READS = (["recent"] * 12 + ["lookup"] * 8 + ["agg"] * 4 + ["topk"] * 2 + ["func"] * 2
               + ["scan"] * 2)
# Write scripts cycle: two INSERT OR IGNORE batches, then one UPDATE.
WRITES = ["insert", "insert", "update"]


def point_lookup(key):
    return "SELECT url, date, id, status_code FROM dedup WHERE digest_key = %s" % sql_str(key)


def gen_serve_mixed(seed, clients, out):
    """Segments mx<client>_<k>; client c alone reads and writes its own.

    Writes are `INSERT OR IGNORE` batches of ten rows of which three keys
    already exist, and single-row `UPDATE ... WHERE digest_key = ...`.
    24 of a round's 32 ops go to the client's three hot segments.
    """
    rng = random.Random("serve_mixed:%d" % seed)
    seg_dir = os.path.join(out, "segments")
    os.makedirs(seg_dir, exist_ok=True)
    segs = []
    for c in range(clients):
        mine, keys, recent = [], {}, {}
        for k in range(SEGMENTS_PER_CLIENT):
            seg = "mx%d_%02d" % (c, k)
            rows = [_row(rng) for _ in range(HOT_ROWS if k < HOT_PER_CLIENT else COLD_ROWS)]
            write_segment(os.path.join(seg_dir, seg + ".sqlite"), rows)
            mine.append(seg)
            keys[seg] = [r[0] for r in rows]
            recent[seg] = keys[seg][-5:]
        segs += mine
        hot, cold = mine[:HOT_PER_CLIENT], mine[HOT_PER_CLIENT:]
        ops, n_round, n_cold = [], 0, 0

        def read(seg, cls):
            if cls == "recent":
                return ("read", seg, point_lookup(rng.choice(recent[seg])))
            if cls == "lookup":
                return ("read", seg, point_lookup(rng.choice(keys[seg])))
            if cls == "agg":
                return ("read", seg, rng.choice(AGG_TEXTS))
            if cls == "topk":
                return ("read", seg, rng.choice(TOPK_TEXTS))
            if cls == "func":
                return ("read", seg, rng.choice(FUNC_TEXTS))
            return ("read", seg, SCAN_TEXT)

        while len(ops) < OPS_PER_CLIENT:
            wseg = rng.choice(hot)
            if WRITES[n_round % len(WRITES)] == "insert":
                old = rng.sample(keys[wseg], 3)
                new = [_row(rng) for _ in range(7)]
                batch = [_row(rng, key=k) for k in old] + new
                rng.shuffle(batch)
                keys[wseg] += [r[0] for r in new]
                recent[wseg] = (recent[wseg] + [r[0] for r in new])[-5:]
                sql = "INSERT OR IGNORE INTO dedup VALUES " + ", ".join(
                    "(" + ", ".join(sql_str(v) for v in r) + ")" for r in batch)
            else:
                key = rng.choice(recent[wseg]) if rng.random() < 0.5 else rng.choice(keys[wseg])
                sql = "UPDATE dedup SET status_code = %d, date = %s WHERE digest_key = %s" % (
                    rng.choice([200, 404, 503]), sql_str(_row(rng)[2]), sql_str(key))
                recent[wseg] = (recent[wseg] + [key])[-5:]
            n_round += 1
            ops.append(("write", wseg, sql))
            ops.append(("read", wseg, point_lookup(recent[wseg][-1])))
            slots, classes = ROUND_SLOTS[:], ROUND_READS[:]
            rng.shuffle(slots)
            rng.shuffle(classes)
            for slot, cls in zip(slots, classes):
                if slot == "hot":
                    ops.append(read(rng.choice(hot), cls))
                else:
                    ops.append(read(cold[n_cold % len(cold)], cls))
                    n_cold += 1
        write_ops(os.path.join(out, "ops_%d.tsv" % c), ops)
    return {"segments": segs, "round": ROUND}


# ------------------------------------------------------- analytics_suite

ANALYTICS_SF = 0.005
VOCAB = ("join hash row batch scan column customer filter small slow merge order vector "
         "line table data agg value key stream window a spark part group big sort query "
         "fast the").split()


def gen_analytics(seed, out, sf=ANALYTICS_SF):
    """The corpus tables at scale factor `sf` (lineitem = 6e6 x sf rows)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    g = np.random.Generator(np.random.PCG64(seed))
    os.makedirs(out, exist_ok=True)

    def save(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, name + ".parquet"),
                       compression="snappy")

    def money(lo, hi, n):
        return np.round(g.uniform(lo, hi, n), 2)

    def days(start, end, n):
        base = np.datetime64(start, "us")
        span = (np.datetime64(end, "D") - np.datetime64(start, "D")).astype(int)
        return base + (g.integers(0, span + 1, n) * 86400 * 10 ** 6).astype("timedelta64[us]")

    def pick(values, n, p=None):
        return pa.array(np.asarray(values, dtype=object)[g.choice(len(values), n, p=p)],
                        pa.string())

    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    i64 = lambda n: pa.array(np.arange(n, dtype=np.int64))
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))

    save("region", {"r_regionkey": i32(range(5)), "r_name": pa.array(
        ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    save("nation", {"n_nationkey": i32(range(25)),
                    "n_name": pa.array(["NATION_%d" % i for i in range(25)]),
                    "n_regionkey": i32([i % 5 for i in range(25)])})
    save("customer", {
        "c_custkey": i64(n_cust),
        "c_name": pa.array(["Customer#%09d" % i for i in range(n_cust)]),
        "c_nationkey": i32(g.integers(0, 25, n_cust)),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                              "MACHINERY"], n_cust)})
    save("supplier", {
        "s_suppkey": i64(n_supp),
        "s_name": pa.array(["Supplier#%09d" % i for i in range(n_supp)]),
        "s_nationkey": i32(g.integers(0, 25, n_supp)),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    colors = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    save("part", {
        "p_partkey": i64(n_part),
        "p_name": pa.array(["%s %s" % (colors[a], nouns[b]) for a, b in
                            zip(g.integers(0, 8, n_part), g.integers(0, 8, n_part))]),
        "p_brand": pa.array(["Brand#%d" % b for b in g.integers(1, 26, n_part)]),
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": i32(g.integers(1, 51, n_part)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 1)})
    save("orders", {
        "o_orderkey": i64(n_ord),
        "o_custkey": pa.array(g.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": pa.array(days("1995-01-01", "2001-08-01", n_ord)),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                 "5-LOW"], n_ord)})
    save("lineitem", {
        "l_orderkey": pa.array(g.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(g.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(g.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": i32(g.integers(1, 8, n_line)),
        "l_quantity": g.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900, 105000, n_line),
        "l_discount": g.integers(0, 11, n_line) / 100.0,
        "l_tax": g.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": pa.array(days("1995-01-02", "2001-11-04", n_line))})
    ts = np.sort(g.integers(0, 30 * 86400 * 10 ** 6, n_ev))
    save("events", {
        "event_id": i64(n_ev),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": pa.array(g.integers(0, max(15, n_cust // 10), n_ev, dtype=np.int64)),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.maximum(0.01, np.round(g.exponential(50.0, n_ev), 2)),
        "props": pa.array(['{"k": %d}' % k for k in g.integers(0, 100, n_ev)])})
    texts = []
    for i in range(n_doc):
        if i > 10 and g.random() < 0.05:
            src = texts[int(g.integers(0, i))].split()
            texts.append(" ".join(src[1:] + ["dup"]))
        else:
            texts.append(" ".join(VOCAB[j] for j in g.integers(0, len(VOCAB),
                                                               int(g.integers(10, 100)))))
    save("documents", {
        "doc_id": i64(n_doc),
        "text": pa.array(texts),
        "lang": pick(["en", "de", "es", "fr", "zh"], n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": pa.array(["src%d" % (i % 20) for i in range(n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    centers = g.normal(0, 1, (10, 64))
    labels = g.integers(0, 10, n_emb)
    vecs = centers[labels] + g.normal(0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    save("embeddings", {
        "vec_id": i64(n_emb),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": i32(labels)})


def generate(workload, seed, clients, out):
    os.makedirs(out, exist_ok=True)
    if workload == "serve_mixed":
        meta = gen_serve_mixed(seed, clients, out)
    elif workload == "analytics_suite":
        gen_analytics(seed, os.path.join(out, "corpus"))
        meta = {"sf": ANALYTICS_SF}
    else:
        raise ValueError("unknown workload " + workload)
    meta.update(workload=workload, seed=seed, clients=clients)
    with open(os.path.join(out, "inputs.json"), "w") as f:
        json.dump(meta, f)
    return meta
