#!/usr/bin/env python3
"""meerkatspark benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine plus the benchmark client
(perfbench/build.py) when their sources changed, generates the workload's
inputs from the seed, drives the engine from one client thread in a closed
loop for the given seconds, checks every output, and prints each metric by
name with its unit. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 1 the metrics are
the per-layer ones, taken from a traced run; an untraced run with the same
seed goes first so the tracing overhead can be shown.

Workloads: kql_interactive, segment_ingest, curation_batch (see README.md).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import templates  # noqa: E402

WORKLOADS = ("kql_interactive", "segment_ingest", "curation_batch")
SETUP_REPEATS = 5
# warm-up before the measured loop, in whole operations on inputs of their
# own: query-template rounds, ingest cycles, curation passes. A count, not a
# time, so a slow stretch of the host does not leave the JIT less warm.
WARMUP_OPS = dict(kql_interactive=2, segment_ingest=3, curation_batch=4)
HEAP = "3g"
# the whole command must end within 180 s (900 s when it builds)
JVM_TIMEOUT_S = 165
QUERY_POOL = 1200
INGEST_CYCLES = 8
SEMDEDUP = dict(tau=0.95, small_k=32, large_k=2080, iters=1)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

E2E = [  # name, unit
    ("setup_s", "s"), ("op_p50_ms", "ms"), ("op_p90_ms", "ms"),
    ("items_per_s", "1/s"), ("peak_heap_mb", "MB")]
LAYERS = [  # name, unit
    ("kql.parse_ms", "ms"), ("kql.construction_jobs", "count"),
    ("spark.analysis_ms", "ms"), ("spark.optimization_ms", "ms"), ("spark.planning_ms", "ms"),
    ("spark.codegen_ms", "ms"), ("spark.codegen_compiles", "count"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.task_wait_ms", "ms"), ("spark.task_run_ms", "ms"), ("spark.task_cpu_ms", "ms"),
    ("spark.busy_cores", "cores"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("spark.failed_tasks", "count"),
    ("sources.append_ms", "ms"), ("sources.files_written", "count"),
    ("sources.bytes_written", "bytes"), ("sources.records_written", "count"),
    ("sources.compact_ms", "ms"), ("sources.compact_bytes_rewritten", "bytes"),
    ("sources.files_per_bucket", "count"), ("sources.bytes_read_per_row_returned", "bytes"),
    ("sources.stored_bytes_per_input_byte", "ratio"),
    ("functions.exact_dedup_ms", "ms"), ("functions.minhash_ms", "ms"),
    ("functions.simhash_ms", "ms"), ("functions.semdedup_small_k_ms", "ms"),
    ("functions.semdedup_large_k_ms", "ms"), ("functions.lsh_useful_ratio", "ratio"),
    ("functions.cached_rdds", "count"), ("functions.cached_bytes", "bytes"),
    ("jvm.gc_ms", "ms"), ("jvm.heap_peak_mb", "MB")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

def make_inputs(workload, seed, data_dir):
    """Write the workload's inputs; return (spec entries, checker context)."""
    if workload == "kql_interactive":
        rows = gen.write_kql_inputs(seed, data_dir)
        stream = templates.query_stream(gen.rng_for(seed, "queries"), QUERY_POOL)
        with open(os.path.join(data_dir, "queries.txt"), "w") as f:
            f.writelines(kql + "\n" for _, kql, _, _ in stream)
        warm = templates.query_stream(gen.rng_for(seed, "warmup-queries"), 120)
        with open(os.path.join(data_dir, "warmup.txt"), "w") as f:
            f.writelines(kql + "\n" for _, kql, _, _ in warm)
        return {"kql.templates": len(templates.TEMPLATES)}, dict(stream=stream, tables=list(rows))
    if workload == "segment_ingest":
        p = gen.INGEST
        ledgers, reads, stats = [], [], []
        r = gen.rng_for(seed, "reads")
        for c in range(INGEST_CYCLES):
            batches, ledger, st = gen.ingest_cycle(seed, c)
            for b, t in enumerate(batches):
                gen._write(t, os.path.join(data_dir, f"c{c}", f"b{b}.parquet"))
            ledgers.append(ledger)
            stats.append(st)
            reads.append(templates.ingest_reads(r, st["window_start_us"], p["window_days"],
                                                p["recent_days"]))
        with open(os.path.join(data_dir, "reads.tsv"), "w") as f:
            for c, rs in enumerate(reads):
                f.writelines(f"{c}\t{kql}\n" for kql, _ in rs)
        spec = {"ingest.cycles": INGEST_CYCLES, "ingest.batches": p["batches_per_cycle"],
                "ingest.batch_rows": p["batch_rows"]}
        return spec, dict(ledgers=ledgers, reads=reads, stats=stats)
    docs, vecs, truth = gen.write_curation_inputs(seed, data_dir)
    spec = {"curation.dim": gen.CURATION["dim"], "curation.tau": SEMDEDUP["tau"],
            "curation.small_k": SEMDEDUP["small_k"], "curation.large_k": SEMDEDUP["large_k"],
            "curation.iters": SEMDEDUP["iters"],
            "curation.items": docs + vecs}
    return spec, dict(truth=truth, n_docs=docs, n_vecs=vecs)


# ---------------------------------------------------------------------------
# one JVM run
# ---------------------------------------------------------------------------

def run_jvm(cp, workload, seconds, traced, data_dir, run_dir, extra_spec, deadline):
    out_dir = os.path.join(run_dir, "out")
    work_dir = os.path.join(run_dir, "work")
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    spec = dict(workload=workload, trace=int(traced), cpus=os.cpu_count() or 1, seconds=seconds,
                data_dir=data_dir, work_dir=work_dir, out_dir=out_dir, setup_repeats=SETUP_REPEATS,
                warmup_ops=WARMUP_OPS[workload])
    spec.update(extra_spec)
    spec_path = os.path.join(run_dir, "spec.properties")
    with open(spec_path, "w") as f:
        f.writelines(f"{k}={v}\n" for k, v in spec.items())
    cmd = ["java", *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
           "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.driver.host=127.0.0.1", "-Dspark.driver.bindAddress=127.0.0.1", "-cp", cp,
           "graftbench.Main", spec_path]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    res_path = os.path.join(out_dir, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        with open(log_path, errors="replace") as f:
            log(f.read()[-6000:])
        raise SystemExit(f"benchmark JVM failed ({rc})")
    with open(res_path) as f:
        res = json.load(f)
    res["out_dir"] = out_dir
    return res


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def pct(xs, q):
    return float(np.percentile(np.asarray(xs, dtype=float), q)) if xs else float("nan")


def stored_ratio(res, ctx):
    """On-disk bytes of each compacted table over the uncompressed size of
    its distinct input rows; median over cycles."""
    ratios = []
    for cyc in res["cycles"]:
        if not cyc["compacted"]:
            continue
        d = cyc["compact_dir"]
        size = sum(os.path.getsize(os.path.join(b, f)) for b, _, fs in os.walk(d)
                   for f in fs if f.startswith("part-"))
        ratios.append(size / gen.input_bytes(ctx["ledgers"][cyc["input_cycle"]]))
    return statistics.median(ratios) if ratios else float("nan")


def measure(workload, res, ctx):
    """End-to-end metrics plus the workload's named metrics for the report."""
    s = res["samples_ms"]
    setup = statistics.median(res["setup_s"])
    named = {"setup_s": (setup, "s", len(res["setup_s"]))}
    if workload == "kql_interactive":
        op = s.get("query", [])
        items = len(op) / res["loop_s"]
        named["query_p50_ms"] = (pct(op, 50), "ms", len(op))
        named["query_p90_ms"] = (pct(op, 90), "ms", len(op))
        named["queries_per_s"] = (items, "1/s", len(op))
    elif workload == "segment_ingest":
        op = s.get("append", [])
        comp = s.get("compact", [])
        reads = s.get("read", [])
        # the reads over each compacted table count against the write rate, so
        # an append or compaction that leaves a worse layout for them shows
        items = res["ack_rows"] / ((sum(op) + sum(comp) + sum(reads)) / 1000.0)
        named["append_p50_ms"] = (pct(op, 50), "ms", len(op))
        named["append_p90_ms"] = (pct(op, 90), "ms", len(op))
        named["ingest_rows_per_s"] = (res["ack_rows"] / ((sum(op) + sum(comp)) / 1000.0), "rows/s",
                                      len(op) + len(comp))
        named["compact_p50_s"] = (pct(comp, 50) / 1000.0, "s", len(comp))
        named["stored_bytes_per_input_byte"] = (stored_ratio(res, ctx), "ratio", len(comp))
        named["query_p50_ms"] = (pct(reads, 50), "ms", len(reads))
        named["query_p90_ms"] = (pct(reads, 90), "ms", len(reads))
    else:
        # the unit a curation user submits is the batch: one pass of all five
        # operators over the corpus (per-operator times are per-layer metrics)
        op = [x * 1000.0 for x in res["pass_s"]]
        items = len(res["passes"]) * res["items_per_pass"] / sum(res["pass_s"])
        named["docs_per_s"] = (items, "items/s", len(res["passes"]))
    heap = res["peak_live_mb"]
    named["peak_heap_mb"] = (heap, "MB", 1)
    e2e = {"setup_s": setup, "op_p50_ms": pct(op, 50), "op_p90_ms": pct(op, 90),
           "items_per_s": items, "peak_heap_mb": heap}
    return e2e, named


# ---------------------------------------------------------------------------
# correctness
# ---------------------------------------------------------------------------

def check(workload, res, ctx, data_dir):
    fails = [f"operation failed: {e}" for e in res["errors"]]
    if workload == "kql_interactive":
        sql_of = {kql: sql for _, kql, sql, _ in ctx["stream"]}
        with open(os.path.join(res["out_dir"], "query_results.jsonl")) as f:
            results = [json.loads(ln) for ln in f]
        con = checks.kql_oracle(data_dir, ctx["tables"])
        fails += checks.check_queries(con, results, sql_of)
        fails += [f"repeated query returned a different result"] * res["repeat_mismatches"]
    elif workload == "segment_ingest":
        for cyc in res["cycles"]:
            c = cyc["input_cycle"]
            if not cyc["compacted"]:
                continue
            reads = [(kql, sql, rd["rows"]) for (kql, sql), rd in zip(ctx["reads"][c], cyc["reads"])]
            fails += checks.check_ingest_cycle(cyc["compact_dir"], ctx["ledgers"][c], reads)
    else:
        for out in res["passes"]:
            fails += checks.check_curation_pass(out, ctx["truth"], ctx["n_docs"])
    return fails


def traffic(workload, res, ctx):
    """Measured properties of the traffic the engine actually received."""
    if workload == "kql_interactive":
        n = res["queries_issued"]
        used = ctx["stream"][:n] if n <= len(ctx["stream"]) else ctx["stream"]
        rep = sum(1 for x in used if x[3]) / max(1, len(used))
        return {"queries_issued": n, "repeated_text_share": round(rep, 4),
                "distinct_texts": len({x[1] for x in used})}
    if workload == "segment_ingest":
        used = [ctx["stats"][c["input_cycle"]] for c in res["cycles"]]
        rows = sum(s["rows"] for s in used)
        distinct = sum(s["distinct"] for s in used)
        return {"cycles": len(used), "rows_sent": rows,
                "resubmitted_row_share": round(sum(s["resubmitted"] for s in used) / rows, 4),
                "recent_day_row_share": round(sum(s["recent"] for s in used) / distinct, 4)}
    t = ctx["truth"]
    return {"passes": len(res["passes"]), "documents": ctx["n_docs"], "vectors": ctx["n_vecs"],
            "injected_exact_copies": len(t["exact_copy_ids"]),
            "injected_near_duplicates": len(t["near_pairs"]),
            "injected_vector_copies": len(t["vector_dup_ids"])}


# ---------------------------------------------------------------------------
# trace
# ---------------------------------------------------------------------------

def self_times(spans):
    """Per span name: (count, total ms, self ms). Self time is a span's
    duration minus the part of it its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        start, end = s["start_us"], s["end_us"]
        covered, cur = 0, start
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_us"]):
            a, b = max(c["start_us"], cur), min(c["end_us"], end)
            if b > a:
                covered += b - a
                cur = b
        n, tot, slf = out.get(s["name"], (0, 0.0, 0.0))
        out[s["name"]] = (n + 1, tot + (end - start) / 1000.0, slf + (end - start - covered) / 1000.0)
    return out


# ---------------------------------------------------------------------------

def result_line(fails, attempted, metrics):
    """The last stdout line: correctness, operation counts and the metrics."""
    return json.dumps({"correct": not fails, "attempted": attempted,
                       "failed": min(attempted, len(fails)),
                       "metrics": {n: {"value": float(v), "unit": u} for n, (v, u) in metrics.items()}})


def print_trace(workload, plain, traced, ctx):
    """Per-layer self times of the traced run and the tracing overhead;
    returns the per-layer metrics."""
    with open(os.path.join(traced["out_dir"], "spans.jsonl")) as f:
        spans = [json.loads(ln) for ln in f]
    n_ops = max(1, traced["ops"])
    print("# layer self time (ms per operation; total ms, calls):")
    for name, (n, tot, slf) in sorted(self_times(spans).items(), key=lambda x: -x[1][2]):
        print(f"#   {name:28s} self {slf / n_ops:10.2f}  total {tot:10.1f}  calls {n}")
    base, _ = measure(workload, plain, ctx)
    e2e, _ = measure(workload, traced, ctx)
    print("# tracing overhead (traced - untraced, same seed):")
    for name, unit in E2E:
        print(f"#   {name} {e2e[name] - base[name]:+.6g} {unit} ({base[name]:.6g} -> {e2e[name]:.6g})")
    layers = dict(traced["layers"])
    if workload == "segment_ingest":
        layers["sources.stored_bytes_per_input_byte"] = stored_ratio(traced, ctx)
    return {n: (layers.get(n, 0.0), u) for n, u in LAYERS}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    cp = build.build(log)
    deadline = time.time() + JVM_TIMEOUT_S
    run_root = os.path.join(HERE, ".work", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    data_dir = os.path.join(run_root, "data")
    os.makedirs(data_dir)
    try:
        t0 = time.time()
        spec, ctx = make_inputs(a.workload, a.seed, data_dir)
        log(f"inputs generated in {time.time() - t0:.1f} s")
        # a traced run is preceded by an untraced one with the same seed; each
        # measures half of --seconds, so that both fit the command's time limit
        results = []
        seconds = a.seconds / 2 if a.trace else a.seconds
        for traced in ([False, True] if a.trace else [False]):
            budget = time.time() + (deadline - time.time()) / (1 + (a.trace and not traced))
            results.append(run_jvm(cp, a.workload, seconds, traced, data_dir,
                                   os.path.join(run_root, "traced" if traced else "plain"), spec, budget))
        fails = [f for res in results for f in check(a.workload, res, ctx, data_dir)]
        attempted = sum(res["ops"] for res in results)
        final = results[-1]
        e2e, named = measure(a.workload, final, ctx)
        print(f"# workload {a.workload} seed {a.seed} seconds {a.seconds} "
              f"cores {final['cpus']} trace {a.trace}")
        print(f"# traffic {json.dumps(traffic(a.workload, final, ctx))}")
        for name, (v, unit, n) in named.items():
            print(f"{name} {v:.6g} {unit} (n={n})")
        print(f"failed_frac {min(attempted, len(fails)) / max(1, attempted):.6g} ratio (n={attempted})")
        for f in fails[:20]:
            print(f"# FAIL {f}")
        if a.trace:
            metrics = print_trace(a.workload, results[0], final, ctx)
        else:
            metrics = {n: (e2e[n], u) for n, u in E2E}
        print(result_line(fails, attempted, metrics))
        return 0 if not fails else 1
    finally:
        shutil.rmtree(run_root, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
