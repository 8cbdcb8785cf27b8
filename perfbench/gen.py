"""Seeded input generator for the graft benchmark.

Every input a workload reads is made here from one integer seed: the
parquet tables, the SQL texts of the door workload and the corpus shard
plan. The same seed gives byte-identical files; another seed gives other
data of the same size and shape (see ``python3 perfbench/selftest.py``).

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("door_mix", "corpus_ingest")

# door_mix: a small rated graph plus a vertex and a trade table. Each edge
# carries a text label the queries never read; it puts the edge table's
# plan statistics above the door's direct-enumeration threshold
# (spark.graft.direct.threshold, 256 KB), so the comparison templates take
# the semijoin-reduced annotation paths while the per-query constants keep
# every result small.
DOOR_VERTICES = 3000
DOOR_EDGES = 30000
DOOR_TRADES = 12000
DOOR_LABEL_CHARS = 24

# corpus_ingest: a base corpus, then shards that arrive one by one. The
# embeddings form many small tight clusters, so a vector's true nearest
# neighbours are its cluster mates.
CORPUS_BASE = 1200
CORPUS_SHARDS = 1
CORPUS_SHARD_DOCS = 200
DUP_RATE = 0.12
EMB_DIM = 64            # graft.datapipe.Ann.dim
EMB_CLUSTERS = 300
EMB_NOISE = 0.15
VOCAB = 3000

# The routes of the SQL door door_mix measures, as perfbench/run.py names
# the first routing line of CqcSql.explain; door_mix has a template for
# each. Set operations (route "set_op") are left out to fit the run
# budget: a rollup stands for the grouping-set family.
DOOR_ROUTES = ("enumeration", "enumeration_agg", "factorized_agg", "eager_outer_agg",
               "ranked_topk", "rollup", "ghd_cyclic", "stock")


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def _edges(rng, n_vertices, n_edges):
    """Distinct directed edges without self-loops, endpoints uniform."""
    out = set()
    while len(out) < n_edges:
        k = int((n_edges - len(out)) * 1.3) + 16
        s = rng.integers(0, n_vertices, size=k)
        d = rng.integers(0, n_vertices, size=k)
        for a, b in zip(s.tolist(), d.tolist()):
            if a != b:
                out.add((a, b))
                if len(out) == n_edges:
                    break
    e = np.array(sorted(out), dtype=np.int64)
    return e[:, 0], e[:, 1]


def door_texts(rng):
    """The door templates of door_mix: (name, expected route, SQL text), one
    text per template, constants from ``rng``. Every route in DOOR_ROUTES
    has a template; enumeration runs with 0, 1 (enum_having), 2 and 3
    comparisons on the g1-g2 tree edge."""
    lo = int(rng.integers(25, 40))        # ~1% of vertex ids as sources
    gap = int(rng.integers(20, 40))
    day = int(rng.integers(120, 240))
    k = int(rng.integers(8, 16))
    path = "FROM edges g1, edges g2 WHERE g1.dst = g2.src"
    return [
        ("enum_cmp0", "enumeration",
         f"SELECT g1.src AS a, g1.dst AS b, g2.dst AS c {path} AND g1.src < {lo}"),
        ("enum_cmp2", "enumeration",
         f"SELECT g1.src AS a, g1.dst AS b, g2.dst AS c {path} AND g1.src < {lo} "
         f"AND g1.rating < g2.rating AND g1.src < g2.dst"),
        ("enum_cmp3", "enumeration",
         f"SELECT g1.src AS a, g1.dst AS b, g2.dst AS c {path} AND g1.src < {lo} "
         f"AND g1.rating < g2.rating AND g1.src < g2.dst "
         f"AND g2.rating < g1.rating + {gap}"),
        ("enum_having", "enumeration_agg",
         "SELECT g1.src AS src, CAST(COUNT(*) AS BIGINT) AS n, "
         "CAST(SUM(g2.rating) AS BIGINT) AS r "
         f"{path} AND g1.rating < g2.rating AND g1.src < {lo * 4} "
         "GROUP BY g1.src HAVING COUNT(*) > 2"),
        ("agg_factorized", "factorized_agg",
         "SELECT g1.src AS src, CAST(COUNT(*) AS BIGINT) AS cnt, "
         "CAST(SUM(g3.rating) AS BIGINT) AS s, MIN(g3.dst) AS lo, MAX(g3.dst) AS hi "
         "FROM edges g1, edges g2, edges g3 "
         f"WHERE g1.dst = g2.src AND g2.dst = g3.src AND g1.src < {lo * 4} "
         "GROUP BY g1.src"),
        ("outer_eager_agg", "eager_outer_agg",
         "SELECT v.region AS region, CAST(COUNT(t.t_id) AS BIGINT) AS n, "
         "MIN(v.weight) AS wmin, MAX(v.weight) AS wmax, MIN(t.qty) AS qmin "
         "FROM vertices v LEFT OUTER JOIN trades t "
         f"ON v.v = t.buyer AND t.day < {day} GROUP BY v.region"),
        ("topk_chain", "ranked_topk",
         "SELECT r.src AS n1, r.dst AS n2, s.dst AS n3, r.rating + s.rating AS total "
         "FROM edges r, edges s WHERE r.dst = s.src "
         f"ORDER BY total DESC, n1 ASC, n2 ASC, n3 ASC LIMIT {k}"),
        ("rollup", "rollup",
         "SELECT g1.src AS a, g1.dst AS b, CAST(COUNT(*) AS BIGINT) AS n, "
         "CAST(SUM(g2.rating) AS BIGINT) AS s, "
         "CAST(GROUPING(g1.src) AS INT) + CAST(GROUPING(g1.dst) AS INT) AS glvl "
         f"{path} AND g1.src < {lo} GROUP BY ROLLUP(g1.src, g1.dst)"),
        ("cyclic_ghd", "ghd_cyclic",
         "SELECT g1.src AS a, g2.src AS b, g3.src AS c "
         "FROM edges g1, edges g2, edges g3 "
         "WHERE g1.dst = g2.src AND g2.dst = g3.src AND g3.dst = g1.src "
         f"AND g1.src < {lo * 8}"),
        # a correlated subquery in the select list: the door hands the
        # whole text to stock Spark
        ("stock_subquery", "stock",
         "SELECT v.v AS v, v.region AS region, "
         "(SELECT CAST(COUNT(*) AS BIGINT) FROM trades t WHERE t.buyer = v.v) AS n "
         f"FROM vertices v WHERE v.v < {lo * 4}"),
    ]


def _door(rng, out):
    src, dst = _edges(rng, DOOR_VERTICES, DOOR_EDGES)
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype="S1")
    label = rng.choice(letters, (DOOR_EDGES, DOOR_LABEL_CHARS)).view(f"S{DOOR_LABEL_CHARS}")
    _write(pa.table({
        "src": pa.array(src, pa.int64()),
        "dst": pa.array(dst, pa.int64()),
        "rating": pa.array(rng.integers(1, 101, size=DOOR_EDGES), pa.int64()),
        "label": pa.array(label[:, 0].astype(str), pa.string()),
    }), f"{out}/edges.parquet")
    _write(pa.table({
        "v": pa.array(np.arange(DOOR_VERTICES), pa.int64()),
        "region": pa.array(rng.integers(0, 12, DOOR_VERTICES), pa.int64()),
        "weight": pa.array(rng.integers(1, 1001, DOOR_VERTICES), pa.int64()),
    }), f"{out}/vertices.parquet")
    # buyers cover ~2/3 of the vertices, so the outer join keeps rows
    # without a match
    buyers = rng.permutation(DOOR_VERTICES)[: DOOR_VERTICES * 2 // 3]
    _write(pa.table({
        "t_id": pa.array(np.arange(DOOR_TRADES), pa.int64()),
        "buyer": pa.array(rng.choice(buyers, DOOR_TRADES), pa.int64()),
        "seller": pa.array(rng.integers(0, DOOR_VERTICES, DOOR_TRADES), pa.int64()),
        "qty": pa.array(rng.integers(1, 500, DOOR_TRADES), pa.int64()),
        "day": pa.array(rng.integers(0, 365, DOOR_TRADES), pa.int64()),
    }), f"{out}/trades.parquet")
    with open(f"{out}/door_texts.json", "w") as f:
        json.dump([{"name": n, "route": r, "sql": s} for n, r, s in door_texts(rng)], f, indent=1)
    deg = np.bincount(np.concatenate([src, dst]))
    return {"tables": ["edges", "vertices", "trades"], "max_degree": int(deg.max())}


def _words(rng):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < VOCAB:
        words.add("".join(rng.choice(letters, int(rng.integers(3, 9)))))
    return sorted(words)


def _corpus(rng, out):
    vocab = _words(rng)
    zipf = 1.0 / np.arange(1, VOCAB + 1) ** 0.8
    zipf /= zipf.sum()
    total = CORPUS_BASE + CORPUS_SHARDS * CORPUS_SHARD_DOCS
    docs, originals, planted = [], [], 0
    for i in range(total):
        if len(originals) > 20 and rng.random() < DUP_RATE:
            # near-duplicate of an earlier original: ~10% of the words change
            w = list(docs[originals[int(rng.integers(0, len(originals)))]])
            for _ in range(max(1, len(w) // 10)):
                w[int(rng.integers(0, len(w)))] = vocab[int(rng.choice(VOCAB, p=zipf))]
            planted += 1
        else:
            w = [vocab[j] for j in rng.choice(VOCAB, int(rng.integers(30, 90)), p=zipf)]
            originals.append(i)
        docs.append(w)
    ids = np.arange(total, dtype=np.int64)
    text = [" ".join(w) for w in docs]
    centers = rng.normal(size=(EMB_CLUSTERS, EMB_DIM))
    member = rng.integers(0, EMB_CLUSTERS, total)
    emb = (centers[member] + EMB_NOISE * rng.normal(size=(total, EMB_DIM))).astype(np.float32)
    cuts = [CORPUS_BASE + s * CORPUS_SHARD_DOCS for s in range(CORPUS_SHARDS + 1)]
    parts = [("base", 0, cuts[0])] + [
        (f"shard{s}", cuts[s], cuts[s + 1]) for s in range(CORPUS_SHARDS)]
    for name, a, b in parts:
        _write(pa.table({"doc_id": pa.array(ids[a:b], pa.int64()),
                         "text": pa.array(text[a:b], pa.string())}),
               f"{out}/docs_{name}.parquet")
        _write(pa.table({
            "vec_id": pa.array(ids[a:b], pa.int64()),
            "embedding": pa.array(list(emb[a:b]), pa.list_(pa.float32())),
        }), f"{out}/emb_{name}.parquet")
    np.save(f"{out}/emb_all.npy", emb)
    with open(f"{out}/corpus_plan.json", "w") as f:
        json.dump({"parts": [{"name": n, "lo": a, "hi": b} for n, a, b in parts]}, f)
    return {"tables": [f"{k}_{n}" for k in ("docs", "emb") for n, _, _ in parts],
            "planted_dup_rate": planted / total}


def generate(workload: str, seed: int, out: str) -> dict:
    """Write the workload's inputs under ``out``; return their description
    (rows, bytes, max vertex degree, planted duplicate rate)."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    os.makedirs(out, exist_ok=True)
    # one stream per workload, so changing one workload never shifts another
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    info = (_door if workload == "door_mix" else _corpus)(rng, out)
    desc = {"workload": workload, "seed": seed, "rows": 0, "bytes": 0,
            "max_degree": info.get("max_degree", 0),
            "planted_dup_rate": info.get("planted_dup_rate", 0.0)}
    for t in info["tables"]:
        p = f"{out}/{t}.parquet"
        desc["rows"] += pq.ParquetFile(p).metadata.num_rows
        desc["bytes"] += os.path.getsize(p)
    with open(f"{out}/inputs.json", "w") as f:
        json.dump(desc, f)
    return desc


def digest(out: str) -> str:
    """SHA-256 over every generated file's name and bytes."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(out)):
        h.update(name.encode())
        with open(os.path.join(out, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
