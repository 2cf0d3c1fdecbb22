#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py                    # every workload, each in its own process

Workloads: ``bulk_replay``, ``tail_serve`` (the replay workloads
BENCHMARK.json lists) and ``query_suite``. Each run builds its inputs from
``--seed`` inside ``.perfbench_work/`` of the checkout, sets up and warms
up, measures a closed loop for ``--seconds``, checks every output against
an independent oracle outside the timed region, and prints one JSON object
as its last line: ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of one extra, traced cycle (span dump in ``.perfbench_out/``).
``--size smoke`` runs the same code on tiny inputs.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

T_START = time.perf_counter()  # set-up time counts from process start
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import ROOT, Bench, log, median, nproc  # noqa: E402

REPLAY = ("bulk_replay", "tail_serve")
WORKLOADS = REPLAY + ("query_suite",)
SPAN_METRICS = {  # per-layer metric -> span name whose total time it is
    "cdc.runner.max_seq_s": "cdc.runner.max_seq",
    "lake.table.merge_s": "lake.table.merge",
    "lake.table.snapshot_s": "lake.table.snapshot",
    "lake.table.lookup_s": "consumer.lookup",
    "lake.table.changes_since_s": "consumer.changes_since",
    "lake.iceberg_read.read_s": "lake.iceberg_read.read_iceberg",
    "lake.iceberg_read.max_seq_bound_s": "lake.iceberg_read.max_seq_bound",
    "pipeline.parse_s": "pipeline.parse_pipeline",
    "cdc.apply.lww_s": "cdc.apply.lww_isolated",
    "cdc.apply.fingerprint_s": "cdc.apply.fingerprint_isolated",
    "operators.dedup_s": "operators.dedup",
    "operators.similarity_s": "operators.similarity",
    "operators.text_s": "operators.text",
    "cdc.apply.query_s": "cdc.apply.query",
    "session.sql_s": "session.sql",
}
SELF_METRICS = {  # per-layer metric -> span name whose self time it is
    "cdc.runner.epoch_self_s": "cdc.runner.run_epoch",
    "lake.table.merge_self_s": "lake.table.merge",
    "pipeline.self_s": "pipeline.run_config",
}
COUNT_METRICS = {  # per-layer metric -> span name whose call count it is
    "cdc.runner.epochs": "cdc.runner.run_epoch",
    "lake.table.snapshot_calls": "lake.table.snapshot",
    "lake.iceberg_read.calls": "lake.iceberg_read.read_iceberg",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", default="all", choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--trace", type=int, default=0, choices=(0, 1))
    p.add_argument("--size", default="full", choices=("full", "smoke"))
    p.add_argument("--cores", type=int, default=nproc(),
                   help="local[N] parallelism (default: nproc)")
    p.add_argument("--probe", metavar="EVENTS_DIR",
                   help="only time the probe-size bulk replay of this staged stream")
    return p.parse_args(argv)


# ---------------------------------------------------------------------------


def kernels_isolated(w, tracer) -> None:
    """The public apply kernels on one epoch's input, each through a noop sink."""
    from pyspark.sql import functions as F

    from arc_spark.cdc.apply import last_writer_wins, normalize_and_fingerprint

    ev = w.kernel_input()
    tracer.enabled = True
    try:
        with tracer.span("cdc.apply.lww_isolated", jobs=True):
            last_writer_wins(ev, ["repo", "path"], "seq") \
                .write.format("noop").mode("overwrite").save()
        with tracer.span("cdc.apply.fingerprint_isolated", jobs=True):
            normalize_and_fingerprint(ev.filter(F.col("op").isin("insert", "update"))) \
                .write.format("noop").mode("overwrite").save()
    finally:
        tracer.enabled = False


def traced_queries(bench, tracer) -> None:
    import queries

    tracer.enabled = True
    try:
        queries.run_pass(bench.spark, tracer)
    finally:
        tracer.enabled = False
    queries.check(bench.spark, bench)


def span_group_jobs(tracer, log_, span_name: str) -> list[int]:
    ids = {f"span-{s['id']}" for s in tracer.spans if s["name"] == span_name}
    return [j["id"] for j in log_["jobs"].values() if j["group"] in ids]


def per_layer(bench, w, tracer, log_, extra: dict) -> dict[str, float]:
    from spans import job_task_totals, session_metrics

    tracer.add_jobs(list(log_["jobs"].values()))
    summ = tracer.summary()
    get = lambda n, k: summ.get(n, {}).get(k, 0.0)  # noqa: E731
    m = {k: get(n, "total_s") for k, n in SPAN_METRICS.items()}
    m.update({k: get(n, "self_s") for k, n in SELF_METRICS.items()})
    m.update({k: get(n, "count") for k, n in COUNT_METRICS.items()})
    c = tracer.counts
    merges = get("lake.table.merge", "count")
    m.update({
        "lake.table.commit_retries": max(0.0, c["lake.table.merge_attempts"] - merges),
        "lake.table.lookup_input_bytes": c["lake.table.lookup_input_bytes"],
        "lake.table.changes_since_input_bytes": c["lake.table.changes_since_input_bytes"],
        "lake.iceberg_read.files_scanned": c["lake.iceberg_read.files_scanned"],
        "fs.read_ops": c["fs.read_ops"], "fs.write_ops": c["fs.write_ops"],
        "fs.list_ops": c["fs.list_ops"], "fs.bytes_read": c["fs.bytes_read"],
        "fs.bytes_written": c["fs.bytes_written"],
        "fs.s": sum(v["total_s"] for n, v in summ.items() if n.startswith("fs.")),
        "cdc.apply.python_bytes_sent": job_task_totals(
            log_, span_group_jobs(tracer, log_, "cdc.apply.fingerprint_isolated"))["py_sent"],
        "cdc.apply.shuffle_bytes": job_task_totals(
            log_, span_group_jobs(tracer, log_, "cdc.apply.lww_isolated"))["shuffle_write"],
        "trace.overhead": w.trace_overhead,
    })
    m.update(session_metrics(log_, w.window[0], w.window[1], bench.cores))
    m.update(extra)
    return m


def unit_of(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("_amp", "_ratio", "_util", "_skew", "_eff", "overhead")):
        return "ratio"
    return "count"


def probe_parallel_eff(args, events: str, rate_n: float, cores: int) -> float:
    """Run the probe replay of the same staged stream at local[1] in a fresh
    process."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "bulk_replay",
           "--seed", str(args.seed), "--size", args.size, "--cores", "1",
           "--probe", events]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=170, check=True)
    rate_1 = json.loads(out.stdout.strip().splitlines()[-1])["probe_events_per_s"]
    return rate_n / (cores * rate_1)


def run_replay(bench: Bench, args) -> dict:
    import replay
    from spans import Tracer, read_event_log

    spark = bench.start_spark(bench.workload, event_log=bool(args.trace))
    log(f"[{bench.workload}] session up")
    tracer = Tracer(spark)
    w = (replay.BulkReplay if bench.workload == "bulk_replay" else replay.TailServe)(
        bench, tracer)
    if args.probe:
        w.events = args.probe
        return {"probe_events_per_s": w.probe_rate()}
    w.setup()
    bench.sample_rss()
    setup_s = time.perf_counter() - T_START
    log(f"[{bench.workload}] set-up {setup_s:.2f} s")
    w.measure(traced_cycle=bool(args.trace))
    log(f"[{bench.workload}] measured {sum(w.cycle_s):.2f} s in {len(w.cycle_s)} cycle(s); "
        f"samples {w.sample_counts()}; epoch modes "
        f"{[m.get('mode') for m in w.outputs[-1]['epochs']]}")
    extra = {}
    if args.trace:
        kernels_isolated(w, tracer)
        if bench.workload == "bulk_replay":
            rate_n = w.probe_rate()
        else:
            traced_queries(bench, tracer)
        extra.update(w.layer_metrics())
    w.check()
    log(f"[{bench.workload}] outputs checked; samples "
        + json.dumps({k: [round(x, 3) for x in v] for k, v in w.samples.items()}))
    bench.sample_rss()
    e2e = {"setup_s": (setup_s, "s"), "peak_rss_mb": (bench.peak_rss_mb, "MB"),
           **w.metrics()}
    if not args.trace:
        return e2e
    bench.stop_spark()
    if bench.workload == "bulk_replay":
        extra["session.parallel_eff"] = probe_parallel_eff(args, w.events, rate_n,
                                                           bench.cores)
    else:
        extra["session.parallel_eff"] = 0.0
    layer = per_layer(bench, w, tracer, read_event_log(bench.path("spark-events")), extra)
    out_path = os.path.join(ROOT, ".perfbench_out", f"{bench.workload}-seed{bench.seed}-trace.json")
    tracer.dump(out_path)
    log(f"[{bench.workload}] spans -> {out_path}")
    traced = w.metrics(traced=True)
    log(f"[{bench.workload}] traced / untraced per metric "
        + json.dumps({k: round(traced[k][0] / e2e[k][0], 4) for k in traced}))
    return {k: (v, unit_of(k)) for k, v in layer.items()}


def run_queries(bench: Bench, args) -> dict:
    import queries
    from spans import Tracer, read_event_log, session_metrics

    spark = bench.start_spark(bench.workload, event_log=bool(args.trace))
    queries.run_pass(spark)  # warm-up
    bench.sample_rss()
    setup_s = time.perf_counter() - T_START
    totals, walls, start = [], {}, time.perf_counter()
    while not totals or time.perf_counter() - start + median(totals) <= bench.seconds:
        totals.append(queries.run_pass(spark, walls=walls))
        bench.sample_rss()
    log(f"[query_suite] {len(totals)} pass(es); per-query medians "
        + json.dumps({k: round(median(v), 3) for k, v in walls.items()}))
    metrics = {"setup_s": (setup_s, "s"), "peak_rss_mb": (bench.peak_rss_mb, "MB"),
               "query_total_s": (median(totals), "s")}
    if args.trace:
        tracer = Tracer(spark, enabled=True)
        lo = time.time()
        queries.run_pass(spark, tracer)
        hi = time.time()
    queries.check(spark, bench)
    if not args.trace:
        return metrics
    bench.stop_spark()
    log_ = read_event_log(bench.path("spark-events"))
    tracer.add_jobs(list(log_["jobs"].values()))
    summ = tracer.summary()
    layer = {k: summ.get(n, {}).get("total_s", 0.0) for k, n in SPAN_METRICS.items()
             if n in set(queries.HEADLINE.values())}
    layer.update(session_metrics(log_, lo, hi, bench.cores))
    tracer.dump(os.path.join(ROOT, ".perfbench_out", f"query_suite-seed{bench.seed}-trace.json"))
    return {k: (v, unit_of(k)) for k, v in layer.items()}


def run_one(args) -> int:
    if not os.path.isfile(os.path.join(ROOT, "arc_spark", "session.py")):
        log(f"no arc_spark package under {ROOT}: nothing to benchmark")
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]
    bench = Bench(args.workload, args.seed, args.seconds, size=args.size,
                  cores=args.cores)
    os.makedirs(bench.work, exist_ok=True)
    try:
        if args.workload in REPLAY:
            metrics = run_replay(bench, args)
        else:
            metrics = run_queries(bench, args)
    except Exception as exc:  # a raised operation is a failed, reported run
        import traceback

        traceback.print_exc()
        bench.fail(args.workload, exc)
        metrics = {}
    finally:
        bench.close()
        log("closed")
    if args.probe:
        print(json.dumps(metrics))
        return 0
    correct = bench.failed == 0 and bool(metrics)
    for f in bench.failures:
        log(f"FAILED {f}")
    error_rate = bench.failed / max(1, bench.attempted)
    print(f"{args.workload}: error_rate {error_rate:.4f} "
          f"({bench.failed} failed / {bench.attempted} attempted)")
    for k, (v, unit) in metrics.items():
        print(f"{args.workload}: {k} {v:.6g} {unit}")
    print(json.dumps({
        "correct": correct, "attempted": max(1, bench.attempted), "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }))
    return 0 if correct else 1


def run_all(args) -> int:
    """Every workload in its own fresh process (get_spark is getOrCreate)."""
    rc, summary = 0, {}
    for wl in WORKLOADS:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--size", args.size, "--cores", str(args.cores)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        rc = rc or proc.returncode
        try:
            summary[wl] = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            summary[wl] = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
            rc = rc or 1
    print(json.dumps({
        "correct": all(s["correct"] for s in summary.values()),
        "attempted": sum(s["attempted"] for s in summary.values()),
        "failed": sum(s["failed"] for s in summary.values()),
        "metrics": {f"{wl}.{k}": v for wl, s in summary.items()
                    for k, v in s["metrics"].items()},
    }))
    return rc


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
