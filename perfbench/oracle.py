"""Result checks for the graft benchmark, all outside the timed phase.

- Every distinct op's verified execution dumped its rows; they must equal
  a DuckDB answer for the same seed row for row (as ``scripts/check.py``
  compares). Door texts are their own oracle; the graph library calls use
  the SQL below; corpus flags and clusters use the DuckDB mirrors graft ships
  (``Dedup.minhashFlagSql``, ``Dedup.clustersSql``), passed through
  ``result.json``.
- ANN serving is checked for shape (k ids per query, every id in the
  index at the time) and scored against an exact brute-force top-k.
- Persisted indexes are checked for shape, and every later cycle's index
  content must equal the verified cycle's.
"""
import json
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

SERVE_K = 5  # graft.datapipe.Ann.topK: ids served per query
SERVE_BATCHES = 2  # Workloads.CorpusBatches: serve ops per shard
PQ_M, PQ_K, IVF_K = 4, 16, 16  # Ann.pqM, Ann.pqK, Ann.ivfCentroids


def kernel_oracles():
    """DuckDB answers for door_mix's graph library calls over ``edges``."""
    e = "edges"
    triangles = (f"SELECT CAST(count(*) AS BIGINT) AS triangles FROM {e} g1, {e} g2, {e} g3 "
                 "WHERE g1.dst = g2.src AND g2.dst = g3.src AND g3.dst = g1.src")
    return {
        "tri_wcoj": triangles, "tri_lftj": triangles,
        "path3_yannakakis": f"""
            SELECT g1.src AS src, g1.dst AS via1, g2.dst AS via2, g3.dst AS dst,
                   g1.rating AS r1, g3.rating AS r3
            FROM {e} g1 JOIN {e} g2 ON g1.dst = g2.src JOIN {e} g3 ON g2.dst = g3.src
            WHERE g1.src % 32 = 0 AND g1.rating < g3.rating""",
        "topk_rankjoin": f"""
            SELECT r.src AS node1, r.dst AS node2, s.dst AS node3,
                   r.rating + s.rating AS total_rank
            FROM {e} r, {e} s WHERE r.dst = s.src
            ORDER BY total_rank DESC, node1, node2, node3 LIMIT 10""",
    }


def connect(tmp):
    con = duckdb.connect()
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET temp_directory='{tmp}'")
    con.execute("SET max_temp_directory_size='2GB'")
    con.execute("SET memory_limit='2GB'")
    con.execute("SET threads=4")
    return con


def load_dump(con, dump_dir):
    """A verified op's rows (perfbench/scala Dump) as table ``__spark``;
    False when the op left no dump."""
    schema_file = os.path.join(dump_dir, "schema.json")
    if not os.path.exists(schema_file):
        return False
    cols = json.load(open(schema_file))
    con.execute("CREATE OR REPLACE TEMP TABLE __spark ("
                + ", ".join(f'"{c}" {t}' for c, t in cols.items()) + ")")
    rows = os.path.join(dump_dir, "rows.jsonl")
    if os.path.getsize(rows):
        con.execute(f"INSERT INTO __spark SELECT * FROM read_json('{rows}', "
                    f"format='newline_delimited', columns={cols!r})")
    return True


def same_rows(con, dump_dir, oracle_sql, plant=False):
    """Row-for-row multiset equality of a Spark dump and a DuckDB answer.
    ``plant`` adds one extra row to the expected answer (self-test)."""
    if not load_dump(con, dump_dir):
        return False, "no dump"
    expected = f"({oracle_sql})"
    if plant:
        expected = f"(SELECT * FROM {expected} UNION ALL (SELECT * FROM {expected} LIMIT 1))"
    con.execute(f"CREATE OR REPLACE TEMP TABLE __oracle AS SELECT * FROM {expected} __o")
    sc = [r[0] for r in con.execute("DESCRIBE __spark").fetchall()]
    oc = [r[0] for r in con.execute("DESCRIBE __oracle").fetchall()]
    if sorted(sc) != sorted(oc):
        return False, f"columns {sorted(sc)} vs {sorted(oc)}"
    cols = ", ".join(f'"{c}"' for c in sorted(sc))
    n_s = con.execute("SELECT count(*) FROM __spark").fetchone()[0]
    n_o = con.execute("SELECT count(*) FROM __oracle").fetchone()[0]
    extra = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM __spark "
                        f"EXCEPT ALL SELECT {cols} FROM __oracle)").fetchone()[0]
    missing = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM __oracle "
                          f"EXCEPT ALL SELECT {cols} FROM __spark)").fetchone()[0]
    ok = n_s == n_o and extra == 0 and missing == 0
    return ok, f"rows {n_s} vs {n_o}, extra {extra}, missing {missing}"


def check_door(result, data, out, plant=None):
    """door_mix: each op's dump against its DuckDB answer."""
    con = connect(os.path.join(out, "duckdb-tmp"))
    for t in ("edges", "vertices", "trades"):
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    texts = {t["name"]: t["sql"] for t in json.load(open(f"{data}/door_texts.json"))}
    oracles = {**texts, **kernel_oracles()}
    verdicts = {}
    for op in result["verified"]:
        if op not in oracles:
            verdicts[op] = (False, "no oracle")
            continue
        verdicts[op] = same_rows(con, os.path.join(out, "verify", op), oracles[op], plant == op)
    return verdicts, {}


def _cos_topk(index, queries, k):
    a = index / np.linalg.norm(index, axis=1, keepdims=True)
    q = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    sims = q @ a.T
    return np.argsort(-sims, axis=1, kind="stable")[:, :k]


def check_corpus(result, data, out, plant=None):
    """corpus_ingest: flags and clusters against graft's DuckDB mirrors,
    serving against exact kNN, indexes for shape and repeatability."""
    con = connect(os.path.join(out, "duckdb-tmp"))
    plan = json.load(open(f"{data}/corpus_plan.json"))["parts"]
    files = [f"{data}/docs_{p['name']}.parquet" for p in plan]
    con.execute(f"CREATE OR REPLACE TABLE all_docs AS SELECT doc_id, text FROM read_parquet({files!r})")
    emb = np.load(f"{data}/emb_all.npy").astype(np.float64)
    total = len(emb)
    verdicts, extra = {}, {}
    sql = result["oracle_sql"]
    for p in plan[1:]:
        op = f"flag_{p['name']}"
        con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM all_docs WHERE doc_id < {p['hi']}")
        verdicts[op] = same_rows(con, os.path.join(out, "verify", op), sql[op], plant == op)
    con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM all_docs")
    con.execute(f"CREATE OR REPLACE TABLE flagged_pairs AS {sql['flagged_pairs']}")
    verdicts["clusters"] = same_rows(con, os.path.join(out, "verify", "clusters"), sql["clusters"],
                                     plant == "clusters")
    hits, served = 0, 0
    for p, b in [(p, b) for p in plan[1:] for b in range(SERVE_BATCHES)]:
        op = f"serve_{p['name']}_b{b}"
        if plant == op:
            verdicts[op] = (False, "planted wrong answer")
            continue
        if not load_dump(con, os.path.join(out, "verify", op)):
            verdicts[op] = (False, "no dump")
            continue
        rows = con.execute("SELECT * FROM __spark").df()
        problems = []
        by_q = rows.groupby("q_id")
        if sorted(by_q.groups) != [q for q in range(p["lo"], p["hi"]) if q % SERVE_BATCHES == b]:
            problems.append("query set")
        if not rows["nbr_id"].between(0, p["lo"] - 1).all():
            problems.append("id outside the index")
        # exact top-k over the index as it stood: every doc before the shard
        top = _cos_topk(emb[: p["lo"]], emb[p["lo"]: p["hi"]], SERVE_K)
        for q, g in by_q:
            if len(g) != SERVE_K or sorted(g["rnk"]) != list(range(1, SERVE_K + 1)) \
                    or g["nbr_id"].nunique() != SERVE_K:
                problems.append(f"q {q}: {len(g)} ids")
                break
            hits += len(set(g["nbr_id"].tolist()) & set(top[q - p["lo"]].tolist()))
            served += 1
        verdicts[op] = (not problems, "; ".join(problems) or f"{len(by_q)} queries")
    extra["recall_at_5"] = hits / (served * SERVE_K) if served else 0.0
    # the verified cycle's persisted indexes, by shape
    c0 = os.path.join(out, "idx", "c0")

    def rows_of(member):
        return pq.read_table(os.path.join(c0, member)).to_pandas()
    n_docs = con.execute("SELECT count(*) FROM all_docs").fetchone()[0]
    shape = []
    if len(rows_of("mh/sets")) != n_docs:
        shape.append("mh/sets rows")
    if len(rows_of("mh/keys")) != 3 * n_docs:  # Dedup.mhBands keys per doc
        shape.append("mh/keys rows")
    packed = rows_of("ivf/packed")
    if sorted(packed["vec_id"].tolist()) != list(range(total)):
        shape.append("ivf/packed ids")
    codes = np.stack(packed["codes"].to_numpy())
    if codes.shape[1] != PQ_M or codes.min() < 0 or codes.max() >= PQ_K:
        shape.append("ivf/packed codes")
    if packed["cid"].min() < 0 or packed["cid"].max() >= IVF_K:
        shape.append("ivf/packed lists")
    verdicts["index_shape"] = (not shape, "; ".join(shape) or "ok")
    first = result["cycle_fps"][0]["fps"]
    drift = [c["cycle"] for c in result["cycle_fps"] if c["fps"] != first]
    verdicts["index_repeat"] = (not drift, f"cycles differing from the verified one: {drift}")
    return verdicts, extra
