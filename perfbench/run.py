#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

  python3 perfbench/run.py --workload olap_headline --seed 1 --seconds 10 --trace 0

Builds graft and the workload runner from source (perfbench/build.py;
reused while unchanged), generates the seed's inputs (perfbench/gen.py),
runs the workload in one JVM on local[<cores>] with one closed-loop
client, checks the outputs (perfbench/checks.py) and prints:

  - a report line: every metric of the workload by name and unit, sample
    counts, error classes, the seed and the input digest;
  - as the last line, the result object: {correct, attempted, failed,
    metrics}, where metrics are the end-to-end metrics of BENCHMARK.json
    (--trace 0) or its per-layer metrics (--trace 1).

Exits 1 after printing the result when an output check fails, and
non-zero without printing one when the run could not be made.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
from metrics import fmt, innermost, layer_of, percentile, ratio, self_times, union_length  # noqa: E402

JVM_HEAP = "3g"
LAYERS = ("client", "catalog", "sql", "tables", "queries", "ext", "spark")
# the read class whose median is read_p50_ms
READ_PREFIX = "read."
# headline queries whose work is mostly in the ext layer (graft.ext,
# graft.functions, graft.plans): MinHash/SimHash pairs, the TopK operator,
# salted skew join, Bloom decontamination, duplicated spans
EXT_QUERIES = ("q47_minhash_dup_pairs", "q59_topk_custom_operator", "q77_salted_skew_join",
               "q86_bloom_decontaminate", "q91_duplicated_spans")
# every per-layer ratio and the count it is taken over, both reported
RATIO_BASES = {
    "spark.tasks_per_job": "spark.jobs",
    "spark.core_util": "spark.exec_ms",
    "sql.meta_served_ratio": "sql.agg_ops",
    "tables.snapshot.hit_ratio": "tables.snapshot.probes",
    "tables.files_read_ratio": "tables.files_scannable",
    "tables.write.versions_per_call": "tables.write.calls",
    "tables.write.log_bytes_per_commit": "tables.write.versions",
    "tables.storage_amp": "tables.live_bytes",
    "ext.dedup_recall": "ext.planted",
    "ext.dedup_precision": "ext.dropped",
    "trace.overhead_ratio": "trace.untraced_ops_per_s",
}


def run_jvm(cp, workload, args, workdir, timeout):
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-cp", cp] +
           build.ADD_OPENS + ["perfbench.Main", workload] + args)
    # Spark lets SPARK_LOCAL_DIRS override spark.local.dir: keep scratch in the run dir
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(workdir, "spark-local"))
    with open(os.path.join(workdir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=workdir, env=env)
        try:
            rc = proc.wait(timeout=timeout)
        except BaseException:
            proc.kill()
            proc.wait()
            raise
    if rc != 0:
        with open(os.path.join(workdir, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"workload JVM exited with {rc}")
    with open(os.path.join(workdir, "record.json")) as f:
        return json.load(f)


def latencies_ms(ops, pred):
    return [(o["t1"] - o["t0"]) / 1e6 if o["ok"] else float("inf") for o in ops if pred(o["cls"])]


def end_to_end(record, setup):
    """Every end-to-end metric of the workload; omits a class it does not run."""
    ops = record["ops"]
    timed_s = (record["timed"]["t1"] - record["timed"]["t0"]) / 1e9
    ok = sum(o["ok"] for o in ops)
    m = {"setup_s": fmt(sum(setup.values()), "s"),
         "ops_per_s": fmt(ok / timed_s, "ops/s"),
         "error_rate": fmt(ratio(len(ops) - ok, len(ops))["value"], "ratio"),
         "retained_heap_mb": fmt(record["retained_heap_mb"], "MB")}
    classes = {
        "read": lambda c: c.startswith(READ_PREFIX),
        "fresh_read": lambda c: c == "read.fresh",
        "cold_read": lambda c: c == "read.cold",
        "agg": lambda c: c == "read.meta_agg",
        "write": lambda c: c.startswith("write."),
    }
    counts = {}
    for name, pred in classes.items():
        lat = latencies_ms(ops, pred)
        counts[name] = len(lat)
        for q, tag in ((0.5, "p50"), (0.9, "p90")):
            if name in ("read", "write") or tag == "p50":
                v = percentile(lat, q)
                if v is not None:
                    m[f"{name}_{tag}_ms"] = fmt(v, "ms")
    if "timed_docs" in record["checks"]:
        m["docs_per_s"] = fmt(record["checks"]["timed_docs"] / timed_s, "docs/s")
    storage = record["checks"].get("storage")
    if storage:
        stored = sum(s["stored_bytes"] for s in storage.values())
        live = sum(s["live_bytes"] for s in storage.values())
        m["storage_amp"] = fmt(ratio(stored, live)["value"], "ratio")
        m["live_bytes"] = fmt(live, "bytes")
    return m, counts


def per_layer(record, facts):
    """Per-layer metrics from the traced units of a traced run."""
    off = record["epoch_offset_ns"]
    ops = [o for o in record["ops"] if o["traced"]]
    n_ops = max(1, len(ops))
    spans = [dict(s, t0=(s["t0"] + off) / 1e6, t1=(s["t1"] + off) / 1e6) for s in record["spans"]]
    op_ms = {o["id"]: ((o["t0"] + off) / 1e6, (o["t1"] + off) / 1e6) for o in ops}
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)

    def owner(t):
        """The op running at epoch-ms t. Spark stamps whole milliseconds,
        so t may read up to 1 ms before the op's start; latest op first."""
        for oid, (a, b) in reversed(op_ms.items()):
            if a - 1.0 <= t <= b:
                return oid
        return None

    jobs = [j for j in record["jobs"] if j["t1_ms"] >= j["t0_ms"]]
    for j in jobs:
        j["op"] = owner(j["t0_ms"])
        span = innermost(by_op.get(j["op"], []), j["t0_ms"]) if j["op"] is not None else None
        j["span"] = span["id"] if span else None
    jobs = [j for j in jobs if j["op"] is not None]
    queries = [dict(q, op=owner(q["t0_ms"])) for q in record["queries"]]
    queries = [q for q in queries if q["op"] is not None]

    # self time per layer: spans plus Spark jobs as children of the span
    # that was innermost when they started
    with_jobs = spans + [{"id": f"job{j['id']}", "name": "spark.job", "parent": j["span"],
                          "op": j["op"], "t0": j["t0_ms"], "t1": j["t1_ms"]} for j in jobs]
    self_ms = self_times(with_jobs)
    layer_self = {layer: 0.0 for layer in LAYERS}
    for s in with_jobs:
        layer_self[layer_of(s["name"])] += self_ms[s["id"]]

    def span_stats(name):
        ss = [s for s in spans if s["name"] == name]
        return ss, (sum(s["t1"] - s["t0"] for s in ss) / len(ss) if ss else 0.0)

    exec_ms = {oid: union_length([(j["t0_ms"], j["t1_ms"]) for j in jobs if j["op"] == oid])
               for oid in op_ms}
    cores = record["cores"]
    tot = lambda k: sum(j[k] for j in jobs)  # noqa: E731
    counters = lambda k: sum(o["counters"].get(k, 0.0) for o in ops)  # noqa: E731
    m = {}
    build_spans, m["queries.build_ms"] = span_stats("queries.build")
    build_ids = {s["id"] for s in build_spans}
    m["queries.build_jobs"] = (sum(j["span"] in build_ids for j in jobs) / len(build_spans)
                               if build_spans else 0.0)
    m["spark.plan_ms"] = sum(q["optimization_ms"] + q["planning_ms"] for q in queries) / n_ops
    m["spark.exec_ms"] = sum(exec_ms.values()) / n_ops
    m["spark.jobs_per_op"] = len(jobs) / n_ops
    tpj = ratio(tot("tasks"), len(jobs))
    m["spark.tasks_per_job"], m["spark.jobs"] = tpj["value"], tpj["base"]
    m["spark.core_util"] = ratio(tot("run_ms"), sum(exec_ms.values()) * cores)["value"]
    m["spark.task_cpu_ms"] = tot("cpu_ns") / 1e6 / n_ops
    m["spark.task_gc_ms"] = tot("gc_ms") / n_ops
    m["spark.driver_gc_ms"] = counters("driver_gc_ms") / n_ops
    m["spark.shuffle_read_bytes"] = tot("shuffle_read") / n_ops
    m["spark.shuffle_write_bytes"] = tot("shuffle_write") / n_ops
    m["spark.spill_bytes"] = tot("spill") / n_ops
    _, m["catalog.resolve_ms"] = span_stats("catalog.resolve")
    sql_ops = {s["op"] for s in spans if s["name"] == "sql.query"}
    m["sql.analyze_ms"] = (sum(q["parsing_ms"] + q["analysis_ms"] for q in queries
                               if q["op"] in sql_ops) / len(sql_ops) if sql_ops else 0.0)
    agg_ops = [o for o in ops if o["cls"] == "read.meta_agg" and o["ok"]]
    scanned = {q["op"] for q in queries if q["file_scans"] > 0}
    served = ratio(sum(o["id"] not in scanned for o in agg_ops), len(agg_ops))
    m["sql.meta_served_ratio"], m["sql.agg_ops"] = served["value"], served["base"]
    probes, replays = counters("snapshot_probes"), counters("snapshot_replays")
    m["tables.snapshot.probes_per_op"] = probes / n_ops
    m["tables.snapshot.replays_per_op"] = replays / n_ops
    m["tables.snapshot.hit_ratio"] = ratio(probes - replays, probes)["value"]
    m["tables.snapshot.probes"] = probes
    storage = record["checks"].get("storage") or {}
    m["tables.files_live"] = sum(s["live_files"] for s in storage.values())
    live_ops = {o["id"]: o["counters"]["live_files"] for o in ops if "live_files" in o["counters"]}
    read_files = sum(q["scan_files"] for q in queries if q["op"] in live_ops)
    fr = ratio(read_files, sum(live_ops.values()))
    m["tables.files_read_ratio"], m["tables.files_scannable"] = fr["value"], fr["base"]
    writes = [o for o in ops if o["cls"].startswith("write.") and o["ok"]]
    w_jobs = sum(exec_ms[o["id"]] for o in writes)
    w_wall = sum((o["t1"] - o["t0"]) / 1e6 for o in writes)
    n_w = len(writes)
    m["tables.write.jobs_ms"] = w_jobs / n_w if n_w else 0.0
    m["tables.write.driver_ms"] = (w_wall - w_jobs) / n_w if n_w else 0.0
    m["tables.write.calls"] = n_w
    versions = counters("versions")
    m["tables.write.versions_per_call"] = ratio(versions, counters("write"))["value"]
    m["tables.write.log_bytes_per_commit"] = ratio(counters("log_bytes"), versions)["value"]
    m["tables.write.versions"] = versions
    m["tables.write.checkpoints"] = counters("checkpoints")
    amp = ratio(sum(s["stored_bytes"] for s in storage.values()),
                sum(s["live_bytes"] for s in storage.values()))
    m["tables.storage_amp"], m["tables.live_bytes"] = amp["value"], amp["base"]
    ext_q = [(o["t1"] - o["t0"]) / 1e6 for o in ops if o["label"] in EXT_QUERIES and o["ok"]]
    m["ext.queries_ms"] = sum(ext_q) / len(ext_q) if ext_q else 0.0
    for name in ("filter_new", "refresh", "classify", "sweep"):
        _, m[f"ext.{name}_ms"] = span_stats(f"ext.{name}")
    rec = ratio(facts.get("caught", 0), facts.get("planted", 0))
    m["ext.dedup_recall"], m["ext.planted"] = rec["value"], rec["base"]
    prec = ratio(facts.get("verified", 0), facts.get("dropped", 0))
    m["ext.dedup_precision"], m["ext.dropped"] = prec["value"], prec["base"]
    for layer in LAYERS:
        m[f"{layer}.self_ms"] = layer_self[layer] / n_ops
    # tracing overhead: throughput of traced vs untraced units of this run
    rate = {}
    for traced in (False, True):
        us = [u for u in record["units"] if u["traced"] == traced]
        secs = sum(u["t1"] - u["t0"] for u in us) / 1e9
        rate[traced] = sum(u["ok"] for u in us) / secs if secs else 0.0
    m["trace.ops_per_s"], m["trace.untraced_ops_per_s"] = rate[True], rate[False]
    m["trace.overhead_ratio"] = (1.0 - rate[True] / rate[False]) if rate[False] else 0.0
    m["trace.ops"] = len(ops)
    return {k: fmt(v, unit_of(k)) for k, v in m.items()}


def unit_of(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith(("_bytes", "bytes_per_commit")) or name == "tables.live_bytes":
        return "bytes"
    if name.endswith("ops_per_s"):
        return "ops/s"
    if name.endswith(("_ratio", "_util", "_recall", "_precision", "_amp")):
        return "ratio"
    return "count"


def main():
    # a terminated run raises SystemExit, so run_jvm kills the JVM before exiting
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    a = ap.parse_args()

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = build.ensure_built()
    workdir = os.path.join(build.build_dir(), "runs",
                           f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    try:
        inputs = os.path.join(workdir, "inputs")
        t0 = time.perf_counter()
        digest, in_bytes = gen.generate(a.workload, a.seed, inputs)
        gen_s = time.perf_counter() - t0
        record = run_jvm(cp, a.workload, [inputs, workdir, str(a.seconds), str(a.trace),
                                          str(a.seed)], workdir, timeout=165)
        correct, facts = checks.CHECKS[a.workload](record, inputs)
    finally:
        if not a.keep:
            shutil.rmtree(workdir, ignore_errors=True)

    ops = record["ops"]
    setup = dict(inputs_s=gen_s, **record["setup"])
    e2e, counts = end_to_end(record, setup)
    errors = {}
    for o in ops:
        if not o["ok"]:
            errors[o["err"]] = errors.get(o["err"], 0) + 1
    report = {"workload": a.workload, "seed": a.seed, "input_digest": digest,
              "input_bytes": in_bytes, "cores": record["cores"], "trace": a.trace,
              "setup": setup, "samples": counts, "errors": errors, "checks": facts, "metrics": e2e}
    if a.trace:
        layer = per_layer(record, facts)
        report["per_layer"] = layer
        metrics = {m["name"]: layer[m["name"]] for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
    print(json.dumps(report))
    print(json.dumps({"correct": bool(correct), "attempted": len(ops),
                      "failed": sum(not o["ok"] for o in ops), "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
