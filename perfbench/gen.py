"""Seeded input generator for the benchmark workloads.

Every workload reads a directory laid out like the engine's test tables:
`<dir>/<table>.parquet/part-NNNNN.parquet` (multi-file tables, bound with a
glob on the DuckDB side). The same (workload, seed) always yields the same
bytes; `generate` caches the result under `<cache>/<workload>-<seed>/`.

What the seed varies, per workload:
  dashboard  every column value of the sf0.1-sized star schema + events +
             documents; the run's SQL parameters are drawn from it too.
  lake       the commit script (op order, batch contents, delete/merge keys,
             read versions and ranges); batches are written as plain Parquet.
  curation   document texts (vocabulary draws, planted exact and near
             duplicates) and embedding geometry (label centroids + noise),
             replicated K times with a distinct text/vector scheme per copy.
  graph      the base part->supplier edge set, the copies' remapping and the
             seeded fraction of edges rewired across copies.
Sizes never depend on the seed, so runs with different seeds do the same
amount of work.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

VOCAB = ("a the data table row column key value part line order customer "
         "batch group agg sort hash join merge filter scan query window "
         "stream spark vector fast slow big small").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PNAME_A = ["hot", "cold", "large", "small", "red", "blue", "green", "steel"]
PNAME_B = ["ring", "bolt", "nut", "gear", "pipe", "plate", "screw", "wire"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]

# Row counts of the engine's sf0.1 test tables (TESTDATA.md).
SF01 = dict(customer=15000, supplier=1000, part=20000, orders=150000,
            lineitem=600000, events=100000, documents=5000, embeddings=2000)

# curation: K copies of a sf0.1-sized corpus; graph: K copies of a
# sf0.01-sized part->supplier graph (see README.md for the sizing).
CURATION_K = 2
GRAPH_K = 4
GRAPH_BASE = dict(part=2000, supplier=100, lineitem=60000)
GRAPH_REWIRE = 0.05
EMBED_DIM = 64

EPOCH_DAY_1995 = 9131  # 1995-01-01 as days since 1970-01-01
US_PER_DAY = 86_400_000_000


def _write(dirpath, name, table, files):
    """Write `table` as `files` Parquet parts under `<dir>/<name>.parquet/`."""
    d = os.path.join(dirpath, f"{name}.parquet")
    os.makedirs(d, exist_ok=True)
    n = table.num_rows
    step = -(-n // files) if n else 1
    for i in range(files):
        part = table.slice(i * step, step)
        pq.write_table(part, os.path.join(d, f"part-{i:05d}.parquet"))


def _days_to_ts(days):
    return pa.array(days.astype("int64") * US_PER_DAY, pa.int64()).cast(pa.timestamp("us"))


def _texts(rng, n, dup_frac=0.02, near_frac=0.03):
    """`n` documents of vocabulary words; a seeded share are exact copies
    or one-word edits of an earlier document (dedup targets)."""
    lens = rng.integers(8, 90, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, pos = [], 0
    for ln in lens:
        out.append([VOCAB[w] for w in words[pos:pos + ln]])
        pos += ln
    kind = rng.random(n)
    src = rng.integers(0, n, n)
    for i in range(1, n):
        j = int(src[i]) % i
        if kind[i] < dup_frac:
            out[i] = list(out[j])
        elif kind[i] < dup_frac + near_frac:
            w = list(out[j])
            w[int(rng.integers(0, len(w)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            out[i] = w
    return out


def _documents(rng, n, copies=1):
    """Documents replicated `copies` times; copy c > 0 replaces every 5th
    word with a (copy, position) token so copies do not near-duplicate
    each other while each copy keeps the planted duplicate structure."""
    base = _texts(rng, n)
    lang = np.array(LANGS)[rng.choice(len(LANGS), n, p=[.15, .45, .15, .15, .10])]
    source = np.array([f"src{i}" for i in range(20)])[rng.integers(0, 20, n)]
    ids, texts, langs, sources = [], [], [], []
    for c in range(copies):
        for i, w in enumerate(base):
            if c:
                w = [f"zq{c}x{k // 5}" if k % 5 == 4 else t for k, t in enumerate(w)]
            ids.append(c * n + i)
            texts.append(" ".join(w))
            langs.append(lang[i])
            sources.append(source[i])
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _embeddings(rng, n, copies=1):
    """Label-clustered float vectors; copy c rotates the components by 7c
    (isometric within a copy, decorrelated across copies)."""
    labels = rng.integers(0, 10, n)
    cent = rng.normal(0, 1, (10, EMBED_DIM))
    vec = cent[labels] * 0.3 + rng.normal(0, 0.25, (n, EMBED_DIM))
    vec = vec.astype(np.float32)
    blocks = [np.roll(vec, 7 * c, axis=1) for c in range(copies)]
    allv = np.concatenate(blocks)
    return pa.table({
        "vec_id": pa.array(np.arange(n * copies), pa.int64()),
        "embedding": pa.array(list(allv), pa.list_(pa.float32())),
        "label": pa.array(np.tile(labels, copies), pa.int32())})


def _star(rng, rows):
    """TPC-H-like star schema + events sized by `rows` (table -> count)."""
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc, ns, np_ = rows["customer"], rows["supplier"], rows["part"]
    no, nl, ne = rows["orders"], rows["lineitem"], rows["events"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)})
    a, b = rng.integers(0, 8, np_), rng.integers(0, 8, np_)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": [f"{PNAME_A[x]} {PNAME_B[y]}" for x, y in zip(a, b)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(np_) % 1000 * 0.1 + rng.uniform(0, 100, np_), 2)})
    odays = EPOCH_DAY_1995 + rng.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": _days_to_ts(odays),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)]})
    lo = rng.integers(0, no, nl)
    qty = rng.integers(1, 51, nl).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lo, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _days_to_ts(odays[lo] + rng.integers(1, 122, nl))})
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, ne)) + 19723 * US_PER_DAY  # 2024-01
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts, pa.int64()).cast(pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, ne), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.gamma(2.0, 30.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    return t


FILES = dict(region=1, nation=1, customer=2, supplier=1, part=2, orders=4,
             lineitem=8, events=4, documents=4, embeddings=2)


def _write_all(d, tables):
    for name, tbl in tables.items():
        _write(d, name, tbl, FILES[name])


def gen_dashboard(d, rng):
    t = _star(rng, SF01)
    t["documents"] = _documents(rng, SF01["documents"])
    t["embeddings"] = _embeddings(rng, SF01["embeddings"])
    _write_all(d, t)


def gen_curation(d, rng):
    small = dict(customer=150, supplier=10, part=200, orders=1500,
                 lineitem=6000, events=1000)
    t = _star(rng, small)
    t["documents"] = _documents(rng, SF01["documents"], CURATION_K)
    t["embeddings"] = _embeddings(rng, SF01["embeddings"], CURATION_K)
    _write_all(d, t)


def gen_graph(d, rng):
    """GRAPH_K copies of a base part->supplier edge set; copy c remaps
    l_partkey/l_suppkey into its own key range and a seeded GRAPH_REWIRE
    share of edges points at a supplier of another copy, so the distinct
    edge count grows K-fold (rather than staying fixed, as it does when
    only l_orderkey is offset)."""
    base = dict(GRAPH_BASE, customer=150, orders=1500, events=1000)
    t = _star(rng, base)
    li = t["lineitem"]
    nl, k = li.num_rows, GRAPH_K
    npart, nsupp = GRAPH_BASE["part"], GRAPH_BASE["supplier"]
    copy = np.repeat(np.arange(k), nl)
    pk = np.tile(li["l_partkey"].to_numpy(), k) + copy * npart
    sk = np.tile(li["l_suppkey"].to_numpy(), k)
    other = (copy + rng.integers(1, k, nl * k)) % k
    rewire = rng.random(nl * k) < GRAPH_REWIRE
    sk = sk + np.where(rewire, other, copy) * nsupp
    cols = {c: pa.chunked_array([li[c]] * k) for c in li.column_names}
    cols["l_orderkey"] = pa.array(np.tile(li["l_orderkey"].to_numpy(), k), pa.int64())
    cols["l_partkey"] = pa.array(pk, pa.int64())
    cols["l_suppkey"] = pa.array(sk, pa.int64())
    t["lineitem"] = pa.table(cols)
    t["part"] = pa.concat_tables([t["part"]] * k).set_column(
        0, "p_partkey", pa.array(np.arange(npart * k), pa.int64()))
    t["supplier"] = pa.concat_tables([t["supplier"]] * k).set_column(
        0, "s_suppkey", pa.array(np.arange(nsupp * k), pa.int64()))
    t["documents"] = _documents(rng, 200)
    t["embeddings"] = _embeddings(rng, 200)
    _write_all(d, t)


LAKE_BATCH = 4000        # rows per append batch
LAKE_MERGE = 1500        # rows per merge batch (half updates, half inserts)
LAKE_DELETE = 400        # keys per delete batch


def _lake_rows(rng, ids):
    n = len(ids)
    return pa.table({
        "id": pa.array(ids, pa.int64()),
        "grp": np.array([f"g{i}" for i in range(16)])[rng.integers(0, 16, n)],
        "day": pa.array(rng.integers(0, 365, n), pa.int32()),
        "value": np.round(rng.uniform(0, 1000, n), 2)})


# One block of the timed lake script. The order is fixed, so every run
# sees the same interleaving of commits and reads (latencies differ by 10x
# between kinds, and reads get cheaper right after a compaction); the seed
# varies the batches, keys, versions and ranges. A stream_tail is preceded
# by the feed_append it tails.
LAKE_BLOCK = ["append", "read_current", "read_pruned", "delete", "read_version",
              "merge", "read_current", "meta_agg", "append", "read_pruned", "diff",
              "stream_tail", "compact", "vacuum"]
LAKE_BLOCK_OPS = len(LAKE_BLOCK) + 1
LAKE_FIRST = ["append", "append", "merge", "delete", "read_current", "read_version",
              "read_pruned", "meta_agg", "diff", "stream_tail", "compact", "vacuum"]
LAKE_BLOCKS = 12


def gen_lake(d, rng):
    """Plain-Parquet batches plus the seeded commit/read script.

    Appends take fresh ids, merges update existing ids and insert fresh
    ones, deletes name existing ids (plus a few that never existed). A
    `feed_append` to a second, append-only table precedes every
    `stream_tail`, which tails that table. Each block holds one clustering
    compaction and one vacuum keeping 6 versions.
    """
    os.makedirs(os.path.join(d, "batches"), exist_ok=True)
    state = dict(next_id=0, live=np.zeros(0, np.int64), batch=0, feed=0)

    def batch_path(prefix, n):
        return os.path.join("batches", f"{prefix}{n:03d}.parquet")

    def emit(kind, out):
        op = {"op": kind}
        if kind in ("append", "merge", "delete"):
            path = batch_path("b", state["batch"])
            state["batch"] += 1
            nid, live = state["next_id"], state["live"]
            if kind == "append":
                ids = np.arange(nid, nid + LAKE_BATCH)
                state["next_id"] += LAKE_BATCH
                state["live"] = np.concatenate([live, ids])
                pq.write_table(_lake_rows(rng, ids), os.path.join(d, path))
            elif kind == "merge":
                upd = rng.choice(live, LAKE_MERGE // 2, replace=False)
                new = np.arange(nid, nid + LAKE_MERGE // 2)
                state["next_id"] += LAKE_MERGE // 2
                state["live"] = np.concatenate([live, new])
                pq.write_table(_lake_rows(rng, np.concatenate([upd, new])), os.path.join(d, path))
            else:
                gone = rng.choice(live, LAKE_DELETE - 8, replace=False)
                never = np.arange(nid + 10_000_000, nid + 10_000_008)
                state["live"] = np.setdiff1d(live, gone)
                pq.write_table(pa.table({"id": pa.array(np.concatenate([gone, never]), pa.int64())}),
                               os.path.join(d, path))
            op["batch"] = path
        elif kind == "read_version":
            op["back"] = int(rng.integers(1, 6))
        elif kind == "read_pruned":
            lo = int(rng.integers(0, max(1, state["next_id"] - 2000)))
            op["lo"], op["hi"] = lo, lo + 1000
        elif kind == "diff":
            op["back"] = int(rng.integers(1, 4))
        elif kind == "vacuum":
            op["keep"] = 6
        elif kind == "stream_tail":
            f = state["feed"]
            path = batch_path("f", f)
            pq.write_table(_lake_rows(rng, np.arange(f * 1000, f * 1000 + 1000)), os.path.join(d, path))
            state["feed"] += 1
            out.append({"op": "feed_append", "batch": path})
        out.append(op)

    first, timed = [], []
    for kind in LAKE_FIRST:
        emit(kind, first)
    for _ in range(LAKE_BLOCKS):
        for kind in LAKE_BLOCK:
            emit(kind, timed)
    with open(os.path.join(d, "script.json"), "w") as f:
        json.dump({"first": first, "timed": timed}, f)


GENERATORS = dict(dashboard=gen_dashboard, lake=gen_lake,
                  curation=gen_curation, graph=gen_graph)
KEEP_CACHED = 6


def generate(cache, workload, seed):
    """Return the input directory for (workload, seed), generating it once
    per version of this generator."""
    with open(__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:10]
    d = os.path.join(cache, f"{workload}-{seed}-{version}")
    done = os.path.join(d, "_DONE")
    if os.path.exists(done):
        os.utime(done)
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    GENERATORS[workload](d, np.random.default_rng([seed, len(workload)]))
    open(done, "w").close()
    _prune(cache)
    return d


def _prune(cache):
    """Keep the most recently used KEEP_CACHED input sets."""
    ds = [os.path.join(cache, x) for x in os.listdir(cache)]
    ds = [x for x in ds if os.path.exists(os.path.join(x, "_DONE"))]
    ds.sort(key=lambda x: os.path.getmtime(os.path.join(x, "_DONE")), reverse=True)
    for x in ds[KEEP_CACHED:]:
        shutil.rmtree(x, ignore_errors=True)
