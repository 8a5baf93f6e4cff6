"""Seeded operation plans: which operations a run executes, in what order.

A plan is `{"workload", "bind", "first", "timed", "block", "block_seconds"}`.
`first` holds every distinct operation once (the first pass); `timed` is
the sequence the closed loop runs, made of blocks of `block` operations
with the same mix of operation kinds. A run executes `--seconds` /
`block_seconds` whole blocks (`block_seconds` is a block's nominal length
on a 4-core host), so every run does the same work. Every
operation has an `id` (distinct instance: same id, same result), a `kind`
the JVM side dispatches on, and the kind's parameters.
"""
import json
import os

import numpy as np

# Dashboard SQL texts: the wiki-dashboard graph shapes, parameterised.
# Each text runs unchanged through SqlFrontEnd.run and DuckDB; DOUBLE
# aggregates are floor-rounded at the data's own precision so the two
# engines' summation orders cannot change the result.
DASHBOARD_SQL = {
    "segment_nation_topk": """SELECT n_name, count(*) AS n_orders,
  floor(sum(o_totalprice) * 100 + 0.5) / 100 AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
WHERE c_mktsegment = '{seg}' AND o_orderdate >= TIMESTAMP '{d0}'
  AND o_orderdate < TIMESTAMP '{d1}'
GROUP BY n_name ORDER BY revenue DESC, n_name LIMIT {k}""",
    "part_type_topk": """SELECT p_partkey, p_name, CAST(sum(l_quantity) AS BIGINT) AS qty,
  floor(sum(l_extendedprice * (1 - l_discount)) * 10000 + 0.5) / 10000 AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_type = '{ptype}' AND l_shipdate >= TIMESTAMP '{d0}'
  AND l_shipdate < TIMESTAMP '{d1}'
GROUP BY p_partkey, p_name ORDER BY revenue DESC, p_partkey LIMIT {k}""",
    "events_by_type": """SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS users,
  floor(sum(value) * 100 + 0.5) / 100 AS total
FROM events WHERE user_id BETWEEN {u0} AND {u1} AND value >= {vmin}
GROUP BY event_type ORDER BY event_type""",
    "docs_rollup": """SELECT source, lang, count(*) AS n_docs,
  floor(avg(n_chars) * 10000 + 0.5) / 10000 AS avg_chars
FROM documents WHERE source IN ({srcs}) AND n_chars >= {minc}
GROUP BY ROLLUP (source, lang)
ORDER BY source NULLS FIRST, lang NULLS FIRST""",
    "pricing_summary": """SELECT l_returnflag, l_linestatus, CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
  floor(sum(l_extendedprice) * 100 + 0.5) / 100 AS sum_base,
  floor(avg(l_discount) * 10000 + 0.5) / 10000 AS avg_disc, count(*) AS n
FROM lineitem WHERE l_shipdate <= TIMESTAMP '{d}' AND l_quantity >= {q}
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
}

SEGS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]


def _date(rng, lo_year=1995, hi_year=2001):
    y = int(rng.integers(lo_year, hi_year))
    m = int(rng.integers(1, 13))
    return y, m


def _range(rng, months):
    y, m = _date(rng)
    m2 = m - 1 + months
    return f"{y}-{m:02d}-01", f"{y + m2 // 12}-{m2 % 12 + 1:02d}-01"


def _params(name, rng):
    if name == "segment_nation_topk":
        d0, d1 = _range(rng, int(rng.integers(3, 19)))
        return dict(seg=rng.choice(SEGS), d0=d0, d1=d1, k=int(rng.choice([5, 10, 15])))
    if name == "part_type_topk":
        d0, d1 = _range(rng, int(rng.integers(3, 13)))
        return dict(ptype=rng.choice(PTYPES), d0=d0, d1=d1, k=int(rng.choice([10, 20, 50])))
    if name == "events_by_type":
        u0 = int(rng.integers(0, 1000))
        return dict(u0=u0, u1=u0 + int(rng.integers(50, 500)), vmin=int(rng.integers(0, 60)))
    if name == "docs_rollup":
        srcs = rng.choice(20, int(rng.integers(2, 6)), replace=False)
        return dict(srcs=", ".join(f"'src{s}'" for s in sorted(srcs)), minc=int(rng.integers(40, 200)))
    if name == "pricing_summary":
        y, m = _date(rng, 1996, 2001)
        return dict(d=f"{y}-{m:02d}-15", q=int(rng.integers(1, 30)))
    raise KeyError(name)


DASHBOARD_QUERIES = [  # (SparkEntry query, layer that constructs its DataFrame)
    ("q1_pricing", "Tables.load"),
    ("dashboard_uploads_monthly", "SqlFrontEnd.run"),
    ("dashboard_fileview", "sources.scan"),
    ("win_rank", "operators.construct"),
]
PARAM_SETS = 10     # parameter sets per dashboard text
BLOCK_SECONDS = 10.0  # nominal length of a dashboard or lake block
ZIPF_S = 1.1        # popularity skew of parameter sets within a text


def dashboard(data, rng):
    texts = {}
    for name in DASHBOARD_SQL:
        texts[name] = [DASHBOARD_SQL[name].format(**_params(name, rng)) for _ in range(PARAM_SETS)]
    w = 1.0 / np.arange(1, PARAM_SETS + 1) ** ZIPF_S
    w /= w.sum()

    def sql_op(name, i):
        return {"id": f"sql_{name}_{i}", "kind": "sql", "text": texts[name][i]}
    kinds = ([("sql", n) for n in DASHBOARD_SQL] + [("query", q) for q in DASHBOARD_QUERIES]
             + [("fileview", "orders")])

    def op(kind, what, i=0):
        if kind == "sql":
            return sql_op(what, i)
        if kind == "query":
            return {"id": what[0], "kind": "query", "name": what[0], "layer": what[1]}
        return {"id": f"fileview_{what}", "kind": "fileview", "glob": f"{what}.parquet/*.parquet"}
    first = [op(k, x) for k, x in kinds]
    timed = []
    for _ in range(40):  # blocks: every kind once per block, seeded order
        for j in rng.permutation(len(kinds)):
            k, x = kinds[j]
            timed.append(op(k, x, int(rng.choice(PARAM_SETS, p=w))))
    return dict(bind=["region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"],
                first=first, timed=timed, block=len(kinds), block_seconds=BLOCK_SECONDS)


CURATION_QUERIES = ["text_langid_exact", "dedup_exact", "dedup_minhash_exact",
                    "dedup_jaccard", "search_bm25_batch", "cluster_kmeans",
                    "vec_pq_codes", "vec_ivf_pq_search", "sim_knn_exact"]
GRAPH_QUERIES = ["graph_pagerank", "graph_katz", "graph_label_prop",
                 "graph_hits", "graph_kcore"]


def _rounds(rng, ops, rounds=30):
    first = [ops[i] for i in rng.permutation(len(ops))]
    timed = [ops[i] for _ in range(rounds) for i in rng.permutation(len(ops))]
    return first, timed


def curation(data, rng):
    ops = [{"id": q, "kind": "query", "name": q, "layer": "operators.construct"}
           for q in CURATION_QUERIES]
    first, timed = _rounds(rng, ops)
    return dict(bind=["documents", "embeddings"], first=first, timed=timed,
                block=len(ops), block_seconds=40.0)


def graph(data, rng):
    from gen import GRAPH_BASE, GRAPH_K
    parts = rng.choice(GRAPH_BASE["part"] * GRAPH_K, 3, replace=False)
    ops = [{"id": q, "kind": "query", "name": q, "layer": "operators.construct"}
           for q in GRAPH_QUERIES]
    ops.append({"id": "graph_ppr_seeded", "kind": "ppr",
                "sources": sorted(int(p) * 2 for p in parts)})
    first, timed = _rounds(rng, ops)
    return dict(bind=["lineitem"], first=first, timed=timed, block=len(ops), block_seconds=30.0)


def lake(data, rng):
    from gen import LAKE_BLOCK_OPS
    with open(os.path.join(data, "script.json")) as f:
        script = json.load(f)

    def ops(part, base):
        return [dict(op, id=f"lake_{base + i:03d}_{op['op']}", kind=op["op"])
                for i, op in enumerate(part)]
    first = ops(script["first"], 0)
    return dict(bind=["batches/b000.parquet"], first=first,
                timed=ops(script["timed"], len(first)), block=LAKE_BLOCK_OPS,
                block_seconds=BLOCK_SECONDS)


PLANNERS = dict(dashboard=dashboard, lake=lake, curation=curation, graph=graph)


def make(workload, data, seed):
    rng = np.random.default_rng([seed, 7919])
    plan = PLANNERS[workload](data, rng)
    plan["workload"] = workload
    return plan
