#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload door_mix --seed 1 --seconds 10 --trace 0

Builds graft and the harness if needed (perfbench/build.py), generates the
seeded inputs (perfbench/gen.py), runs the JVM harness (perfbench/scala),
checks every result (perfbench/oracle.py) and prints a readable report
followed, as the last line, by one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
The span file and the per-layer table stay under
``perfbench/.work/<workload>-seed<seed>/``. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

JVM_TIMEOUT_S = 170  # a run must end within 180 s
HEAP = "3g"

# layer -> the spans (named in perfbench/scala) that make it up
LAYER_SPANS = {
    "sql": ["sql"], "cqc": ["cqc"], "wcoj": ["wcoj"], "topk": ["topk"],
    "datapipe": ["datapipe.build", "datapipe.write", "datapipe.flag", "datapipe.serve",
                 "datapipe.cluster"],
    "sources": ["sources.index_read"], "catalyst": ["catalyst"], "exec": ["exec"],
    "cache": ["cache"], "bench": ["op"],
}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def dur_median(rows, span):
    return median([r[f"dur.{span}"] for r in rows if f"dur.{span}" in r])


def end_to_end(result, extra):
    timed = [s for s in result["samples"] if s["phase"] == "timed" and not s["traced"]]
    reads = [s["lat_s"] for s in timed if s["kind"] == "read"]
    writes = [s["lat_s"] for s in timed if s["kind"] == "write"]
    st = result["setup"]
    m = {
        "setup_s": (st["session_s"] + st["register_s"] + st["warmup_s"], "s"),
        "reads_per_s": (len(reads) / sum(reads) if reads else 0.0, "1/s"),
    }
    # reported, not gated: they exist on one workload only, need more
    # samples than a run takes, or spread too widely from run to run
    # (see README.md)
    info = {"reads": len(reads), "read_p50_s": median(reads),
            "peak_rss_mb": result["peak_rss_mb"]}
    if len(reads) >= 100:
        info["read_p90_s"] = statistics.quantiles(reads, n=10)[-1]
    if writes:
        info["write_p50_s"] = median(writes)
        info["writes"] = len(writes)
    if result["workload"] == "corpus_ingest":
        # the index builds and clusters run once, in the verified cycle
        info["rebuild_cold_s"] = sum(s["lat_s"] for s in result["samples"]
                                     if s["phase"] == "warmup" and s["kind"] == "build")
        info["recall_at_5"] = extra.get("recall_at_5", 0.0)
        idx = result["final_index"]
        info["stored_bytes_per_input_byte"] = idx["index_bytes"] / extra["input_bytes"]
    return m, info


def per_layer(result):
    rows = result["layers"]
    samples = [s for s in result["samples"] if s["phase"] == "timed"]
    traced = [s for s in samples if s["traced"]]
    untraced_reads = [s["lat_s"] for s in samples if not s["traced"] and s["kind"] == "read"]
    traced_reads = [s["lat_s"] for s in traced if s["kind"] == "read"]
    routes = {c["name"]: c["route"] for c in result["census"]}
    door_ops = [s for s in samples if s["op"] in routes]
    st = result["setup"]
    nrows = max(len(rows), 1)

    def med(key, where=lambda r: True):
        return median([r[key] for r in rows if key in r and where(r)])

    def action_ms(prefix, span):
        return median([r[f"dur.{span}"] + r.get("dur.catalyst", 0.0) + r.get("dur.exec", 0.0)
                       for r in rows if r["op"].startswith(prefix) and f"dur.{span}" in r])
    total_op = sum(r["op_ms"] for r in rows) or 1.0
    m = {
        "sql.solve_ms": (dur_median(rows, "sql"), "ms"),
        "sql.stock_route_frac": (
            sum(routes[s["op"]] == "stock" for s in door_ops) / len(door_ops) if door_ops else 0.0,
            "ratio"),
        "cqc.build_ms": (dur_median(rows, "cqc"), "ms"),
        "wcoj.build_ms": (dur_median(rows, "wcoj"), "ms"),
        "topk.build_ms": (dur_median(rows, "topk"), "ms"),
        "datapipe.build_ms": (dur_median(rows, "datapipe.build"), "ms"),
        "datapipe.write_ms": (dur_median(rows, "datapipe.write"), "ms"),
        "sources.index_read_ms": (dur_median(rows, "sources.index_read"), "ms"),
        "datapipe.flag_ms": (action_ms("flag_", "datapipe.flag"), "ms"),
        "datapipe.serve_ms": (action_ms("serve_", "datapipe.serve"), "ms"),
        "datapipe.index_bytes": (result.get("final_index", {}).get("index_bytes", 0), "bytes"),
        "datapipe.index_files": (result.get("final_index", {}).get("index_files", 0), "count"),
        "datapipe.cluster_jobs": (med("cluster_jobs", lambda r: r["op"] == "clusters"), "count"),
        "catalyst.plan_ms": (dur_median(rows, "catalyst"), "ms"),
        "exec.action_ms": (dur_median(rows, "exec"), "ms"),
        "scheduler.jobs": (med("jobs"), "count"),
        "scheduler.stages": (med("stages"), "count"),
        "scheduler.tasks": (med("tasks"), "count"),
        "scheduler.construct_jobs": (med("construct_jobs"), "count"),
        "scheduler.gap_ms": (med("gap_ms"), "ms"),
        "executor.run_ms": (med("run_ms"), "ms"),
        "executor.cpu_ms": (med("cpu_ms"), "ms"),
        "executor.shuffle_write_bytes": (med("shuffle_write_bytes"), "bytes"),
        "executor.shuffle_read_bytes": (med("shuffle_read_bytes"), "bytes"),
        "executor.spill_bytes": (med("spill_bytes"), "bytes"),
        "executor.skew": (med("skew"), "ratio"),
        "executor.records_in_per_row_out": (med("records_in_per_row_out"), "ratio"),
        # op wall time during which at least one task runs, and the share of
        # the cores' time the tasks use
        "executor.op_time_share": (sum(r["exec_busy_ms"] for r in rows) / total_op, "ratio"),
        "executor.core_utilization": (
            sum(r["run_ms"] for r in rows) / (total_op * result["cores"]), "ratio"),
        "cache.tracked_per_op": (median([s["tracked"] for s in traced]), "count"),
        "cache.release_ms": (dur_median(rows, "cache"), "ms"),
        "jvm.gc_ms": (median([s["gc_ms"] for s in traced]), "ms"),
        "setup.session_s": (st["session_s"], "s"),
        "setup.register_s": (st["register_s"], "s"),
        "setup.warmup_s": (st["warmup_s"], "s"),
        "trace.overhead_frac": (
            median(traced_reads) / median(untraced_reads) - 1.0
            if traced_reads and untraced_reads else 0.0, "ratio"),
    }
    # self time per layer, mean per traced op: the split of op time
    for layer, spans in LAYER_SPANS.items():
        total = sum(r.get(f"self.{s}", 0.0) for r in rows for s in spans)
        m[f"self.{layer}_ms"] = (total / nrows, "ms")
    return m


def layer_table(result, metrics):
    """The per-layer table written beside the span file."""
    rows = result["layers"]
    lines = [f"# per-layer self time, {result['workload']}, {len(rows)} traced ops",
             f"{'layer':<10} {'self_ms_total':>14} {'share':>7}"]
    total = sum(r["op_ms"] for r in rows) or 1.0
    for layer, spans in LAYER_SPANS.items():
        t = sum(r.get(f"self.{s}", 0.0) for r in rows for s in spans)
        lines.append(f"{layer:<10} {t:14.1f} {t / total:7.3f}")
    lines.append(f"{'op total':<10} {total:14.1f} {1.0:7.3f}")
    lines.append(f"share of op time with an executor task running: "
                 f"{metrics['executor.op_time_share'][0]:.3f}; "
                 f"core utilization by tasks: {metrics['executor.core_utilization'][0]:.3f}")
    lines.append("")
    lines.append(f"{'op':<24} {'op_ms':>9} {'jobs':>5} {'tasks':>6} {'busy_ms':>9} {'gap_ms':>9}")
    for r in rows:
        lines.append(f"{r['op']:<24} {r['op_ms']:9.1f} {int(r['jobs']):5d} {int(r['tasks']):6d} "
                     f"{r['exec_busy_ms']:9.1f} {r['gap_ms']:9.1f}")
    return "\n".join(lines) + "\n"


def route_class(c):
    """A door text's route, from the first routing line of CqcSql.explain."""
    line = c["route_line"]
    if "stock fallback" in line:
        return "stock"
    if any(k in line for k in ("UNION", "INTERSECT", "EXCEPT")):
        return "set_op"
    for key, name in (("grouping-sets rollup", "rollup"), ("ranked chain", "ranked_topk"),
                      ("factorized aggregate", "factorized_agg"),
                      ("eager aggregation under peeled outer", "eager_outer_agg")):
        if key in line:
            return name
    if "enumeration" in line:
        if c["cyclic"]:
            return "ghd_cyclic"
        return "enumeration_agg" if "hash aggregate" in line else "enumeration"
    return "unknown"


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-wrong", metavar="OP",
                    help="self-test: replace OP's expected answer with a wrong one")
    a = ap.parse_args(argv)

    try:
        build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    run_dir = os.path.join(HERE, ".work", f"{a.workload}-seed{a.seed}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, out = os.path.join(run_dir, "in"), os.path.join(run_dir, "out")
    os.makedirs(out)
    g0 = time.time()
    desc = gen.generate(a.workload, a.seed, data)
    gen_s = time.time() - g0
    print(f"inputs: {a.workload} seed {a.seed}: {desc['rows']} rows, {desc['bytes']} bytes, "
          f"max vertex degree {desc['max_degree']}, planted duplicate rate "
          f"{desc['planted_dup_rate']:.3f}")

    cores = len(os.sched_getaffinity(0))
    cmd = build.java_cmd("graftbench.Harness", HEAP, out) + [
        "--workload", a.workload, "--data", data, "--out", out, "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--seed", str(a.seed), "--cores", str(cores)]
    t0 = time.time()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    try:
        stdout, stderr = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        print(f"harness exceeded {JVM_TIMEOUT_S}s", file=sys.stderr)
        return 3
    if proc.returncode != 0:
        print(stderr[-4000:], file=sys.stderr)
        print(f"harness exited with {proc.returncode}", file=sys.stderr)
        return 3
    harness_s = time.time() - t0
    k0 = time.time()
    result = json.load(open(os.path.join(out, "result.json")))

    # checks
    for c in result["census"]:
        c["route"] = route_class(c)
    if a.workload == "corpus_ingest":
        verdicts, extra = oracle.check_corpus(result, data, out, a.plant_wrong)
        extra["input_bytes"] = sum(os.path.getsize(os.path.join(data, f))
                                   for f in os.listdir(data) if f.endswith(".parquet"))
    else:
        verdicts, extra = oracle.check_door(result, data, out, a.plant_wrong)
    print(f"timing: inputs {gen_s:.1f}s, harness {harness_s:.1f}s, checks {time.time() - k0:.1f}s")
    bad_ops = {op for op, (ok, _) in verdicts.items() if not ok}
    timed = [s for s in result["samples"] if s["phase"] == "timed"]
    failed = [s for s in timed if s["err"] or
              (s["kind"] != "write" and s["fp"] != result["verified"].get(s["op"])) or
              s["op"] in bad_ops]
    # an index check that fails makes every write of the run suspect
    if bad_ops & {"index_shape", "index_repeat"}:
        failed = [s for s in timed if s in failed or s["kind"] != "read"]
    warm_errors = [s for s in result["samples"] if s["phase"] == "warmup" and s["err"]]
    correct = not failed and not bad_ops and not warm_errors

    # report
    for c in result["census"]:
        print(f"route: {c['name']:<18} {c['route']:<16} {c['route_line'][:100]}")
    for op, (ok, msg) in sorted(verdicts.items()):
        print(f"check: {op:<22} {'ok' if ok else 'FAIL'}  {msg}")
    for s in warm_errors + [s for s in failed if s["err"]][:5]:
        print(f"error: {s['op']}: {s['err']}")
    e2e, info = end_to_end(result, extra)
    info["failed_frac"] = len(failed) / max(len(timed), 1)
    for k, (v, unit) in e2e.items():
        n = info["reads"] if k.startswith("read") else 1
        print(f"metric: {k:<28} {v:12.4f} {unit:<6} n={n}")
    for k, v in info.items():
        print(f"info:   {k:<28} {v:12.4f}" if isinstance(v, float) else f"info:   {k:<28} {v:>12}")
    metrics = e2e
    if a.trace:
        metrics = per_layer(result)
        for k, (v, unit) in metrics.items():
            print(f"layer:  {k:<32} {v:14.3f} {unit}")
        table = layer_table(result, metrics)
        with open(os.path.join(run_dir, "layers.txt"), "w") as f:
            f.write(table)
        print(table, end="")
        if os.path.exists(os.path.join(out, "spans.jsonl")):
            shutil.copy(os.path.join(out, "spans.jsonl"), os.path.join(run_dir, "spans.jsonl"))
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump(result, f)
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(data, ignore_errors=True)
    print(json.dumps({
        "correct": correct, "attempted": len(timed), "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
