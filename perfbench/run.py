"""The repository benchmark: one seeded workload per run, results checked.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (closed loop, one caller, one process, ``local[N]`` with
N = min(4, usable cores)):

* ``replay_etl``     new replays through load -> message -> drain, idle ticks between
* ``lake_cdc``       a change stream of commits on a versioned table, reads between
* ``star_analytics`` registry queries: star-schema pricing, MinHash dedup, IVF-SQ8 ANN

``BENCHMARK.json`` drives the first two. ``star_analytics`` runs the same
way but is left out of it: a third workload's runs would not fit the time
all benchmark runs must end in.

A run sets up (session, seeded inputs, pre-load, one untimed warm-up of
every op kind), then measures for at least ``--seconds`` seconds and at
least the workload's minimum op count, stopping on a boundary of the
workload's op mix. Every op's result is checked; an op that raises or
returns a wrong answer counts in ``failed``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` measures the
same way untraced first, then again with spans, py4j counting, job groups
and the Spark UI REST API on, then untraced again, and reports the
per-layer metrics of the traced part plus the tracing overhead against
the untraced parts on either side of it.

Human-readable lines go first; the last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness, stats  # noqa: E402
from perfbench.tracer import Tracer, self_times  # noqa: E402

DEADLINE_S = 150  # stop starting ops past this many seconds after launch


def workloads():
    """Workload classes by name. Each is built from (work dir, seed, tracer)
    and provides ``prepare()`` (inputs, no Spark), ``setup(spark)`` (pre-load
    and warm-up), ``step(samples)`` (one unit op and its reads),
    ``boundary()``, ``finish(samples)`` (end checks, storage figures),
    ``wraps()`` and ``layer_metrics(...)`` for the traced run, and the class
    fields ``name``, ``unit_kinds``, ``read_kinds``, ``min_ops`` and
    ``throughput_reads`` (whether read time counts in ``ops_per_s``)."""
    from perfbench.wl_lake import LakeCdc
    from perfbench.wl_replay import ReplayEtl
    from perfbench.wl_star import StarAnalytics

    return {w.name: w for w in (ReplayEtl, LakeCdc, StarAnalytics)}


def timed(fn, *args) -> float:
    t0 = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t0


def measure(wl, seconds: float, t_launch: float) -> harness.Samples:
    """Closed loop: at least ``seconds`` and ``wl.min_ops`` unit ops,
    ending on a boundary of the op mix (or at the run deadline)."""
    s = harness.Samples()
    t0 = time.perf_counter()
    while True:
        wl.step(s)
        now = time.perf_counter()
        if now - t_launch > DEADLINE_S:
            break
        if now - t0 >= seconds and len(s.ops) >= wl.min_ops and wl.boundary():
            break
    return s


def end_to_end(wl, setup_s: float, s: harness.Samples, mem: float) -> dict:
    """``ops_per_s`` divides by the timed latencies only (unit ops, plus
    reads where the workload counts them), so the harness's own work
    between ops (storage walks, the model, the checks) stays out of it.
    ``live_mem_mb`` is the JVM heap live after a full collection (the
    larger of the two taken after set-up and after the timed phase), plus
    the JVM's non-heap memory, plus the Python process's peak RSS; Spark's
    Python workers are not in it."""
    busy = sum(s.ops) + (sum(s.reads) if wl.throughput_reads else 0.0)
    op_tail, op_pct, n_ops = stats.tail(s.ops)
    rd_tail, rd_pct, n_rd = stats.tail(s.reads)
    return {
        "setup_s": (setup_s, "s", 1, None),
        "op_p50_s": (stats.median(s.ops), "s", n_ops, None),
        "op_tail_s": (op_tail, "s", n_ops, op_pct),
        "ops_per_s": (len(s.ops) / busy, "1/s", n_ops, None),
        "read_p50_s": (stats.median(s.reads), "s", n_rd, None),
        "read_tail_s": (rd_tail, "s", n_rd, rd_pct),
        "live_mem_mb": (mem, "MB", 1, None),
    }


def self_time_by_span(tr: Tracer, ops: list[int]) -> dict[str, float]:
    """Per span name: self time per unit op, averaged over ``ops``; the
    values add up to the mean op wall time."""
    wanted = set(ops)
    total: dict[str, float] = {}
    for span, own in zip(tr.spans, self_times(tr.spans)):
        if span.op in wanted:
            total[span.name] = total.get(span.name, 0.0) + own
    return {name: t / len(ops) for name, t in total.items()}


def per_layer(wl, tr: Tracer, ops: list[int], reads: list[int],
              traced: harness.Samples, untraced: list[harness.Samples],
              extra: dict) -> dict:
    """Per-layer metrics over the traced unit ops ``ops`` and reads ``reads``."""
    jobs = tr.job_stats()
    n_jobs = tr.job_counts(ops)
    med = stats.median
    wall = {o: tr.op_wall(o) for o in ops}
    job = {o: jobs.get(o, {"job_s": 0.0, "tasks": 0, "shuffle_bytes": 0}) for o in ops}
    m = {
        "spark.jobs_per_op": med([n_jobs[o] for o in ops]),
        "spark.job_s_per_op": med([job[o]["job_s"] for o in ops]),
        "spark.job_share": med([job[o]["job_s"] / wall[o] for o in ops]),
        "spark.tasks_per_op": med([job[o]["tasks"] for o in ops]),
        "spark.shuffle_bytes_per_op": med([job[o]["shuffle_bytes"] for o in ops]),
        "py4j.calls_per_op": med([tr.py4j_calls[o] for o in ops]),
        "py4j.s_per_op": med([max(0.0, tr.py4j_s[o] - job[o]["job_s"]) for o in ops]),
        "driver.py_s_per_op": med([wall[o] - tr.py4j_s[o] for o in ops]),
        "collect.s_per_op": tr.per_op(ops, "collect"),
        "collect.rows_per_op": med([tr.counts[o]["collect.rows"] for o in ops]),
        "storage.bytes_written_per_op": med([tr.counts[o]["storage.bytes"] for o in ops]),
        "storage.files_written_per_op": med([tr.counts[o]["storage.files"] for o in ops]),
        "storage.files_live": float(extra.get("files_live", 0)),
        "storage.write_amp": float(extra.get("write_amp", 0.0)),
        "storage.space_amp": float(extra.get("space_amp", 0.0)),
        "trace.overhead_ratio":
            med(traced.ops) / statistics.mean(med(u.ops) for u in untraced) - 1.0,
    }
    m.update(wl.layer_metrics(tr, ops, reads))
    out = {name: float(m.get(name, 0.0)) for name in PER_LAYER}
    out.update((name, float(v)) for name, v in m.items() if name in STAR_LAYER)
    return out


#: every per-layer metric with its unit; a workload that never calls a
#: layer reports 0 for that layer's metrics
PER_LAYER = {
    "spark.jobs_per_op": "count", "spark.job_s_per_op": "s", "spark.job_share": "ratio",
    "spark.tasks_per_op": "count", "spark.shuffle_bytes_per_op": "bytes",
    "py4j.calls_per_op": "count", "py4j.s_per_op": "s", "driver.py_s_per_op": "s",
    "collect.s_per_op": "s", "collect.rows_per_op": "count",
    "storage.bytes_written_per_op": "bytes", "storage.files_written_per_op": "count",
    "storage.files_live": "count", "storage.write_amp": "ratio",
    "storage.space_amp": "ratio", "trace.overhead_ratio": "ratio",
    "pipeline.load_replay_s": "s", "pipeline.data_message_s": "s",
    "pipeline.drain_messages_s": "s", "sinks.append_s": "s",
    "operators.upsert_parquet_s": "s",
    "versioned.merge_cow_s": "s", "versioned.merge_dv_s": "s",
    "versioned.delete_dv_s": "s", "versioned.update_s": "s",
    "versioned.append_s": "s", "versioned.compact_s": "s", "versioned.read_s": "s",
    "versioned.files_read_per_read": "count", "versioned.pruned_ratio": "ratio",
}

#: star_analytics' own layer metrics. That workload is runnable but not in
#: BENCHMARK.json, so these are printed and left out of the JSON result.
STAR_LAYER = {
    "plans.build_s": "s", "dedup.batch_s": "s", "similarity.ivfsq8_build_s": "s",
    "similarity.ivfsq8_query_s": "s", "similarity.recall_at_k": "ratio",
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import wrtd_etl_spark  # noqa: F401  (fail fast when the engine is absent)

    table = workloads()
    if args.workload not in table:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(table)}")
    cpus = min(4, harness.host_cpus())
    ctx = harness.context(cpus)
    work = harness.Work(args.workload)
    tr = Tracer()
    spark = None
    try:
        t_launch = time.perf_counter()
        wl = table[args.workload](work, args.seed, tr)
        # inputs are generated while the JVM starts
        with ThreadPoolExecutor(1) as pool:
            inputs = pool.submit(timed, wl.prepare)
            spark = harness.launch(work, cpus, ui=bool(args.trace))
            ctx["launch_s"] = time.perf_counter() - t_launch
            ctx["prepare_s"] = inputs.result()
        ctx["warm_s"] = timed(wl.setup, spark)
        # full collections on both sides of the timed phase give the live heap
        live_heap = harness.live_heap_mb(spark)
        setup_s = time.perf_counter() - t_launch
        s = measure(wl, args.seconds, t_launch)
        live_heap = max(live_heap, harness.live_heap_mb(spark))
        traced = after = None
        if args.trace:
            tr.attach(spark)
            for owner, attr, name in wl.wraps():
                tr.wrap(owner, attr, name)
            from pyspark.sql.classic.dataframe import DataFrame

            tr.wrap(DataFrame, "collect", "collect", rows=True)
            try:
                traced = measure(wl, args.seconds, t_launch)
            finally:
                tr.restore()
            # the JVM keeps warming through a run; untraced phases on both
            # sides of the traced one cancel that drift in the overhead
            after = measure(wl, args.seconds, t_launch)
        extra = wl.finish(s)
        mem_parts = harness.driver_mem_mb(spark, live_heap)
        ctx.update(mem_parts)
        mem = sum(mem_parts.values())
        if traced is not None:
            ops, reads = tr.traced_ops(wl.unit_kinds), tr.traced_ops(wl.read_kinds)
            metrics = per_layer(wl, tr, ops, reads, traced, [s, after], extra)
            self_s = self_time_by_span(tr, ops)
            spans_out = os.path.join(os.path.dirname(work.root),
                                     f"spans-{args.workload}-seed{args.seed}.jsonl")
            tr.dump(spans_out)
        ctx["loadavg_end"] = os.getloadavg()[0]
    finally:
        if spark is not None:
            harness.stop(spark)
        work.close()

    runs = [r for r in (s, traced, after) if r is not None]
    attempted = sum(r.attempted for r in runs)
    failed = sum(r.failed for r in runs)
    print(f"[perfbench] {args.workload} seed={args.seed} context {json.dumps(ctx)}")
    e2e = end_to_end(wl, setup_s, s, mem)
    for name, (value, u, n, pct) in e2e.items():
        at = f" at p{pct:.1f}" if pct is not None else ""
        print(f"[perfbench] {name} = {value:.6g} {u}{at} (n={n})")
    for kind, values in s.by_kind.items():
        print(f"[perfbench] {kind}: p50 {stats.median(values):.4f} s (n={len(values)})")
    for name in ("write_amp", "space_amp"):
        if name in extra:
            print(f"[perfbench] {name} = {extra[name]:.6g} ratio (n=1)")
    print(f"[perfbench] failed_ratio = {failed / attempted:.6g} ratio (n={attempted})")
    for err in [e for r in runs for e in r.errors]:
        print(f"[perfbench] failure: {err}")
    if traced is not None:
        print("[perfbench] traced: lazy builders (flatten_*, parse_*, q_*) count "
              "plan-build time only; execution is billed to the action that runs it")
        for name, value in metrics.items():
            print(f"[perfbench] {name} = {value:.6g} {(PER_LAYER | STAR_LAYER)[name]}")
        print(f"[perfbench] self time per unit op by span (mean s), spans in {spans_out}:")
        for name, value in sorted(self_s.items(), key=lambda kv: -kv[1]):
            print(f"[perfbench]   {name:32s} {value:.4f}")
        result = {k: {"value": metrics[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        result = {k: {"value": v[0], "unit": v[1]} for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
