"""Seeded benchmark of the audit engine.

    python3 auditbench/run.py --workload temporal_query --seed 1 --seconds 6 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed, starts a Spark session sized for the machine, sets the workload up
(warm-up included), runs a closed loop of operations for ``--seconds``,
checks every result against the generator's record and prints a summary
followed, as the last line, by one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
engine's layers in spans and reports the per-layer metrics instead. The
exit code is non-zero when any operation failed or returned a wrong
result. See README.md in this directory for the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Per-layer share metric -> (the phase whose wall time it is a share of,
# the span name whose self time it sums).
LAYER_SHARES = {
    "ingest.batch_pct": ("setup", "ingest.batch"),
    "ingest.guard_verify_pct": ("setup", "ingest.guard_verify"),
    "ingest.guard_update_pct": ("setup", "ingest.guard_update"),
    "ingest.state_apply_pct": ("setup", "ingest.state_apply"),
    "ingest.sequence_commit_pct": ("setup", "ingest.sequence_commit"),
    "ingest.stream_pct": ("setup", "ingest.stream"),
    "event_builder.build_pct": ("setup", "event_builder.build"),
    "logstore.compact_pct": ("setup", "logstore.compact"),
    "provision.provision_pct": ("setup", "provision.provision"),
    "reconstruct.view_build_pct": ("setup", "reconstruct.view_build"),
    "provision.read_view_pct": ("loop", "provision.read_view"),
    "reconstruct.lookup_pct": ("loop", "reconstruct.lookup"),
    "reconstruct.hot_lookup_pct": ("loop", "reconstruct.hot_lookup"),
    "reconstruct.scan_pct": ("loop", "reconstruct.scan"),
    "reconstruct.asof_pct": ("loop", "reconstruct.asof"),
    "quality.gate_pct": ("loop", "quality.gate"),
    "dedup.exact_pct": ("loop", "dedup.exact"),
    "dedup.near_pct": ("loop", "dedup.near"),
    "text.layout_pct": ("loop", "text.layout"),
    "corpus_io.export_pct": ("loop", "corpus_io.export"),
}
LAYER_UNITS = {
    "ingest.batches": "count",
    "logstore.files": "count",
    "logstore.bytes_per_event": "bytes",
    "state.bytes": "bytes",
    "reconstruct.rows_read_per_lookup": "count",
    "quality.keep_ratio": "ratio",
    "dedup.exact_keep_ratio": "ratio",
    "dedup.near_keep_ratio": "ratio",
    "dedup.near_recall": "ratio",
    "spark.shuffle_write_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.task_s": "s",
    "spark.gc_s": "s",
    "spark.failed_tasks": "count",
    "trace.throughput_per_s": "1/s",
}
E2E_UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "heavy_op_p50_s": "s",
}
# per workload: the operation kind behind op_* and the one behind heavy_op_*
OP_KINDS = {
    "temporal_query": ("cold", "hot"),
    "corpus_clean": ("plain", "large"),
}


def isolate(run_root: str) -> None:
    """Point every place Spark and the engine write to inside this run's
    own directory, and size the session for this machine."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) / 2**20
    local = os.path.join(run_root, "spark-local")
    tmp = os.path.join(run_root, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        # local[N] runs every executor in the driver JVM; a quarter of the
        # machine, at most 4g, is ample for these inputs
        AUDIT_STAR_DRIVER_MEM=f"{max(1, min(4, int(mem_gb / 4)))}g",
        AUDIT_STAR_CACHE_DIR=os.path.join(run_root, "cache"),
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        # no hsperfdata file: HotSpot writes it under /tmp, not java.io.tmpdir
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
        TZ="UTC",
    )
    time.tzset()


def cpu_times() -> list[int]:
    """The machine's aggregate CPU time counters (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def executor_totals(spark) -> dict[str, float]:
    """Cumulative task metrics over all executors, from the status store
    (populated with the UI disabled)."""
    lst = spark.sparkContext._jsc.sc().statusStore().executorList(True)
    tot = dict.fromkeys(
        ("spark.task_s", "spark.gc_s", "spark.input_bytes",
         "spark.shuffle_write_bytes", "spark.failed_tasks"), 0.0
    )
    for i in range(lst.size()):
        e = lst.apply(i)
        tot["spark.task_s"] += e.totalDuration() / 1000
        tot["spark.gc_s"] += e.totalGCTime() / 1000
        tot["spark.input_bytes"] += e.totalInputBytes()
        tot["spark.shuffle_write_bytes"] += e.totalShuffleWrite()
        tot["spark.failed_tasks"] += e.failedTasks()
    return tot


def instrument(tracer) -> None:
    """Wrap the public entry points of each engine layer in spans."""
    from audit_star_spark import provision
    from audit_star_spark.operators import event_builder
    from audit_star_spark.plans import append_guard, logstore
    from audit_star_spark.streaming import ingest

    for owner, attr, name in [
        # the foreachBatch body: one micro-batch of capture
        (ingest.AuditIngest, "_append_batch", "ingest.batch"),
        (append_guard.AppendOnlyGuard, "verify", "ingest.guard_verify"),
        (append_guard.AppendOnlyGuard, "update", "ingest.guard_update"),
        (ingest.LatestStateStore, "apply_batch", "ingest.state_apply"),
        (ingest.SequenceState, "commit_batch", "ingest.sequence_commit"),
        (event_builder, "build_audit_events", "event_builder.build"),
        (logstore, "compact_log", "logstore.compact"),
        (provision.AuditStar, "provision", "provision.provision"),
        (provision.AuditStar, "read_view", "provision.read_view"),
        (provision, "delta_view", "reconstruct.view_build"),
        (provision, "snapshot_view", "reconstruct.view_build"),
        (provision, "compare_view", "reconstruct.view_build"),
    ]:
        tracer.wrap(owner, attr, name)


def layer_metrics(tracer, phases: dict[str, tuple[float, float]]) -> tuple[dict, dict]:
    """Per-layer shares of their phase's wall time, plus a per-phase table
    of every span name (calls, self seconds, share) for the trace file."""
    from spans import self_times

    own = self_times(tracer.spans)
    table: dict[str, dict[str, dict]] = {p: {} for p in phases}
    for s in tracer.spans:
        phase = "setup" if s.start < phases["loop"][0] else "loop"
        d = table[phase].setdefault(s.name, {"calls": 0, "self_s": 0.0})
        d["calls"] += 1
        d["self_s"] += own[s.id]
    for p, (a, b) in phases.items():
        for d in table[p].values():
            d["pct"] = 100 * d["self_s"] / (b - a)
    shares = {
        metric: table[p].get(name, {}).get("pct", 0.0)
        for metric, (p, name) in LAYER_SHARES.items()
    }
    shares["ingest.batches"] = sum(
        d["calls"] for p in table.values() for n, d in p.items() if n == "ingest.batch"
    )
    return shares, table


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(OP_KINDS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine is imported from the checkout; without it, fail here
    sys.path.insert(0, ROOT)
    from audit_star_spark.session import get_spark

    from spans import Tracer
    from stats import summary
    from workloads import WORKLOADS

    run_root = os.path.join(
        ROOT, ".auditbench_tmp", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    )
    tracer = Tracer() if args.trace else None
    work = WORKLOADS[args.workload](run_root, args.seed, tracer)
    spark = None
    try:
        os.makedirs(run_root)
        isolate(run_root)
        if tracer is not None:
            instrument(tracer)
        work.generate()
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"auditbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        work.setup(spark)
        setup_s = time.perf_counter() - t0

        before = executor_totals(spark)
        cpu_before = cpu_times()
        latencies: dict[str, list[float]] = {}
        attempted = failed = 0
        start = time.perf_counter()
        deadline = start + args.seconds
        # whole rounds until the deadline, so every run makes the same mix
        while failed < 5:
            attempted += 1
            try:
                kind, dt = work.step()
            except Exception:  # noqa: BLE001 — count it, keep the loop going
                failed += 1
                traceback.print_exc()
                continue
            latencies.setdefault(kind, []).append(dt)
            if work.round_complete and time.perf_counter() >= deadline:
                break
        end = time.perf_counter()
        cpu = [b - a for a, b in zip(cpu_before, cpu_times())]
        after = executor_totals(spark)
        wrong = work.check()
        counts = work.layer_counts() if tracer is not None else {}
    finally:
        if tracer is not None:
            tracer.restore()
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(run_root, ignore_errors=True)

    op, heavy = OP_KINDS[args.workload]
    for kind in (op, heavy):
        if kind not in latencies:
            raise RuntimeError(f"no {kind} operation succeeded")
    throughput = work.items / (end - start)
    detail = {k: summary(v) for k, v in sorted(latencies.items())}
    detail["session_s"] = session_s
    # time the hypervisor ran other guests on this machine's CPUs while
    # the loop ran: a high share marks a run slowed by its neighbours
    detail["cpu_steal_pct"] = 100 * cpu[7] / max(1, sum(cpu))
    values: dict[str, float]
    if tracer is None:
        values = {
            "setup_s": setup_s,
            "throughput_per_s": throughput,
            "op_p50_s": detail[op]["p50"],
            "op_tail_s": detail[op]["tail"],
            "heavy_op_p50_s": detail[heavy]["p50"],
        }
        units = E2E_UNITS
    else:
        shares, table = layer_metrics(
            tracer, {"setup": (t0 + session_s, start), "loop": (start, end)}
        )
        units = {**{k: "%" for k in LAYER_SHARES}, **LAYER_UNITS}
        # layers a workload does not exercise read 0
        values = dict.fromkeys(units, 0.0)
        values.update(shares)
        values.update(counts)
        values.update({k: after[k] - before[k] for k in before})
        values["trace.throughput_per_s"] = throughput
        detail["layers"] = table
    result = {
        "correct": failed == 0 and wrong == 0,
        "attempted": attempted,
        "failed": failed + wrong,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    out_dir = os.path.join(ROOT, ".auditbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump({"result": result, "detail": detail}, f, indent=1)
    if tracer is not None:
        tracer.dump(stem + "-spans.json")
    for kind, d in detail.items():
        if isinstance(d, dict) and "samples" in d:
            print(
                f"{kind}: p50 {d['p50']:.4f} s, tail {d['tail']:.4f} s at "
                f"p{d['tail_pct']:.0f}, {d['samples']} samples"
            )
    print(f"session start {session_s:.2f} s, cpu steal {detail['cpu_steal_pct']:.1f} %")
    for phase, rows in detail.get("layers", {}).items():
        print(f"{phase} phase, self time by span:")
        for name, d in sorted(rows.items(), key=lambda kv: -kv[1]["self_s"]):
            print(f"  {name:28s} {d['calls']:5d} calls {d['self_s']:9.3f} s {d['pct']:6.1f} %")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
