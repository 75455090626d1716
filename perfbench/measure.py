"""One benchmark run: set-up, warm-up and check, timed passes, metrics."""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict
from pathlib import Path

from data_pipeline_with_spark_spark.session import get_spark

from spans import Span, Tracer, cpu_seconds, peak_rss_mb
from stats import attribute_stages, check_metric_names, median, quantile, tail_percentile
from workloads import (
    LAKE_READS, LAKE_WRITES, LLM_OPS, RELATIONAL_OPS, STREAM_OPS, WORKLOADS, Context,
)

ROOT = Path(__file__).resolve().parents[1]
END_TO_END = {"setup_s": "s", "pass_cpu_s": "s"}
COUNTERS = (
    "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "busy_cores",
    "cpu_share", "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
)
MODULES = ("operators", "llm", "lake", "streaming")
STREAM_PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch")


def _counter_unit(c: str) -> str:
    if c.endswith("_s"):
        return "s"
    if c.endswith("bytes"):
        return "bytes"
    return {"busy_cores": "cores", "cpu_share": "ratio"}.get(c, "count")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric and its unit, in output order."""
    u = {
        "session.start_s": "s", "session.warmup_s": "s", "session.jit_cpu_s": "s",
        "sources.fixture_build_s": "s", "sources.noop_s": "s", "plans.build_s": "s",
        "plans.build_jobs": "count",
    }
    u.update({f"{m}.{c}": _counter_unit(c) for m in MODULES for c in COUNTERS})
    u.update({f"lake.{k}_s": "s" for k in LAKE_WRITES + LAKE_READS})
    u.update({
        "lake.bytes_written": "bytes", "lake.files_written": "count", "lake.log_bytes": "bytes",
        "lake.skip_ratio": "ratio", "write_s.p50": "s", "write_s.p90": "s", "read_s.p50": "s",
        "stored_bytes_per_input_byte": "ratio",
    })
    u.update({f"streaming.{entry.removeprefix('run_')}_s": "s" for entry, _ in STREAM_OPS.values()})
    u.update({"streaming.batches": "count", "streaming.input_rows": "count"})
    u.update({f"streaming.{p}_ms": "ms" for p in STREAM_PHASES})
    u.update({"streaming.outside_batch_s": "s", "batch_s.p50": "s", "batch_s.p90": "s"})
    u.update({f"op.{op}.s": "s" for op in (*RELATIONAL_OPS, *LLM_OPS, *STREAM_OPS)})
    u.update({
        "pass_s": "s", "rows_per_s": "rows/s", "op_s.p50": "s", "op_s.p90": "s",
        "op_s.samples": "count", "op_s.tail_pct": "percentile", "peak_rss_mb": "MiB",
        "failed_op_share": "ratio", "trace.overhead_share": "ratio", "trace.span_coverage": "ratio",
    })
    return u


def _traced_entry(tracer: Tracer, name: str, fn):
    def entry(*a, **kw):
        if not tracer.traced:
            return fn(*a, **kw)
        with tracer.span(f"streaming.{name.removeprefix('run_')}"):
            return fn(*a, **kw)
    return entry


def _stop(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run_workload(args, work: Path, extra_conf: dict[str, str]) -> dict:
    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]()
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])

    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cpus}]", extra_conf=extra_conf)
    spark.range(1).collect()
    start_s = time.perf_counter() - t0
    try:
        return _measure(args, work, wl, spark, start_s)
    finally:
        _stop(spark)


def _measure(args, work: Path, wl, spark, start_s: float) -> dict:
    tracer = Tracer(spark, traced=False)
    ctx = Context(spark, tracer, work, args.seed)
    stream = getattr(wl, "stream", None)

    t0 = time.perf_counter()
    wl.prepare(ctx)
    fixture_s = time.perf_counter() - t0
    if stream and args.trace:
        from data_pipeline_with_spark_spark.streaming import demo

        for entry, _ in STREAM_OPS.values():
            setattr(demo, entry, _traced_entry(tracer, entry, getattr(demo, entry)))
    warm_s = wl.warm_and_check(ctx)
    setup_s = start_s + fixture_s + warm_s

    # timed passes; a traced run alternates untraced (even) and traced (odd)
    passes: list[dict] = []
    t_meas = time.perf_counter()
    while True:
        tracer.traced = bool(args.trace) and len(passes) % 2 == 1
        first_span = len(tracer.spans)
        first_batch = len(stream.listener.batches) if stream else 0
        p0, (c0, j0) = time.perf_counter(), cpu_seconds()
        results = wl.run_pass(ctx, len(passes))
        c1, j1 = cpu_seconds()
        passes.append({
            "traced": tracer.traced, "seconds": time.perf_counter() - p0,
            "cpu_s": (c1 - c0) - (j1 - j0), "jit_s": j1 - j0,
            "results": results,
            "spans": tracer.spans[first_span:],
            "batches": stream.listener.batches[first_batch:] if stream else [],
        })
        if time.perf_counter() - t_meas >= args.seconds and len(passes) >= max(wl.min_passes, 1 + args.trace):
            break
    tracer.traced = False
    wl.finish(ctx)
    failed = len(ctx.failures)
    for f in ctx.failures:
        print(f"FAILED {f}")

    ok = [r for p in passes for r in p["results"] if r.ok]
    op_times = [r.seconds for r in ok]
    if args.trace:
        metrics = _per_layer(args, wl, ctx, passes, start_s, fixture_s, warm_s)
        units = per_layer_units()
    else:
        # the same passes in every run: later ones are cheaper, and how
        # many fit in --seconds depends on the machine's load
        metrics = {"setup_s": setup_s, "pass_cpu_s": median([p["cpu_s"] for p in passes[:wl.min_passes]])}
        units = END_TO_END
    check_metric_names(units)
    missing = set(units) - set(metrics)
    if missing:
        raise RuntimeError(f"metrics not computed: {sorted(missing)}")
    print(f"{args.workload}: setup {setup_s:.2f}s (start {start_s:.2f}, fixture {fixture_s:.2f}, "
          f"warm-up {warm_s:.2f}); passes " + " ".join(f"{p['seconds']:.2f}" for p in passes)
          + " (cpu + jit " + " ".join(f"{p['cpu_s']:.2f}+{p['jit_s']:.2f}" for p in passes)
          + f"); {len(op_times)} op samples")
    for op in sorted({r.op for r in ok}):
        print(f"  {op}: median {median([r.seconds for r in ok if r.op == op]):.3f}s")
    return {
        "correct": failed == 0,
        "attempted": ctx.attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }


def _per_layer(args, wl, ctx, passes, start_s, fixture_s, warm_s) -> dict:
    """Per-layer metrics: span and Spark-counter figures from the traced
    passes, latency and streaming figures from every pass."""
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    m = {k: 0.0 for k in per_layer_units()}
    m.update({"session.start_s": start_s, "sources.fixture_build_s": fixture_s, "session.warmup_s": warm_s})

    def per_pass(fn) -> float:
        return median([fn(p) for p in traced])

    def spans(p, prefix: str) -> list[Span]:
        return [s for s in p["spans"] if s.name.startswith(prefix)]

    m["sources.noop_s"] = per_pass(lambda p: sum(s.seconds for s in spans(p, "sources.noop")))
    m["plans.build_s"] = per_pass(lambda p: sum(s.seconds for s in spans(p, "plans.build")))
    m["plans.build_jobs"] = per_pass(lambda p: sum(s.jobs[1] - s.jobs[0] for s in spans(p, "plans.build")))

    # Spark counters: stages minted inside each op's spans, summed by the
    # module that owns the op
    op_spans = ("plans.build", "sources.noop", "lake.")
    per_module: dict[str, list[dict[str, float]]] = {}
    for p in traced:
        mine = [s for s in p["spans"] if s.name.startswith(op_spans)]
        windows = [(s.op, s.stages[0], s.stages[1]) for s in mine]
        stages = ctx.tracer.stage_counters(min(w[1] for w in windows), max(w[2] for w in windows))
        by_op = attribute_stages(windows, stages)
        for module in {wl.module_of(s.op) for s in mine}:
            ops = {s.op for s in mine if wl.module_of(s.op) == module}
            c = {k: sum(by_op[op].get(k, 0.0) for op in ops) for k in COUNTERS}
            c["jobs"] = sum(s.jobs[1] - s.jobs[0] for s in mine if s.op in ops)
            c["stages"] = sum(1 for op, a, b in windows if op in ops for sid in range(a, b) if sid in stages)
            wall = sum(s.seconds for s in mine if s.op in ops)
            c["busy_cores"] = c["task_run_s"] / wall if wall else 0.0
            c["cpu_share"] = c["task_cpu_s"] / c["task_run_s"] if c["task_run_s"] else 0.0
            per_module.setdefault(module, []).append(c)
    for module, rows in per_module.items():
        for k in COUNTERS:
            m[f"{module}.{k}"] = median([c[k] for c in rows])

    results = [r for p in passes for r in p["results"] if r.ok]
    for r in results:
        if f"op.{r.op}.s" in m:
            m[f"op.{r.op}.s"] = median([x.seconds for x in results if x.op == r.op])
    lake = getattr(wl, "lake", None)
    if lake:
        lake_ops = [r for r in results if r.op[:2].isdigit()]
        for kind in LAKE_WRITES + LAKE_READS:
            m[f"lake.{kind}_s"] = median([r.seconds for r in lake_ops if r.op[3:] == kind])
        writes = [r.seconds for r in lake_ops if r.op[3:] in LAKE_WRITES]
        reads = [r.seconds for r in lake_ops if r.op[3:] in LAKE_READS]
        m.update({"write_s.p50": median(writes), "write_s.p90": quantile(writes, 0.9), "read_s.p50": median(reads)})
        for k in ("bytes_written", "files_written", "log_bytes", "skip_ratio"):
            m[f"lake.{k}"] = median([s[k] for s in lake.pass_stats if k in s])
        m["stored_bytes_per_input_byte"] = lake.stored_ratio
    if getattr(wl, "stream", None):
        batches = [b for p in passes for b in p["batches"]]
        trig = [b[2].get("triggerExecution", 0) / 1e3 for b in batches]
        m["batch_s.p50"], m["batch_s.p90"] = median(trig), quantile(trig, 0.9)
        for ph in STREAM_PHASES:
            m[f"streaming.{ph}_ms"] = median([b[2].get(ph, 0) for b in batches])
        m["streaming.batches"] = median([len(p["batches"]) for p in passes])
        m["streaming.input_rows"] = median([sum(b[1] for b in p["batches"]) for p in passes])
        for entry, _ in STREAM_OPS.values():
            name = f"streaming.{entry.removeprefix('run_')}"
            m[f"{name}_s"] = per_pass(lambda p: sum(s.seconds for s in spans(p, name)))
        m["streaming.outside_batch_s"] = per_pass(
            lambda p: sum(s.seconds for s in spans(p, "streaming."))
            - sum(b[2].get("triggerExecution", 0) for b in p["batches"]) / 1e3)

    m["session.jit_cpu_s"] = median([p["jit_s"] for p in passes[:wl.min_passes]])
    op_times = [r.seconds for p in untraced for r in p["results"] if r.ok]
    m["pass_s"] = median([p["seconds"] for p in untraced])
    m["rows_per_s"] = wl.input_rows() / m["pass_s"]
    m["op_s.p50"] = median(op_times)
    m["op_s.p90"] = quantile(op_times, 0.9)
    m["op_s.samples"] = len(op_times)
    m["op_s.tail_pct"] = tail_percentile(len(op_times))
    m["peak_rss_mb"] = peak_rss_mb()
    m["failed_op_share"] = len(ctx.failures) / max(1, ctx.attempted)
    # each traced pass against the untraced passes beside it, so the
    # passes' downward drift is not read as negative overhead
    overhead = []
    for i, p in enumerate(passes):
        if p["traced"]:  # odd i: pass i - 1 is untraced
            beside = [passes[j]["seconds"] for j in (i - 1, i + 1) if j < len(passes)]
            overhead.append(p["seconds"] / median(beside) - 1)
    m["trace.overhead_share"] = median(overhead)
    m["trace.span_coverage"] = per_pass(lambda p: sum(r.seconds for r in p["results"]) / p["seconds"])

    out = ROOT / ".perfbench_work" / "traces"
    out.mkdir(parents=True, exist_ok=True)
    (out / f"{args.workload}-seed{args.seed}-{os.getpid()}.json").write_text(json.dumps({
        "workload": args.workload, "seed": args.seed, "metrics": m,
        "passes": [{"traced": p["traced"], "seconds": p["seconds"],
                    "results": [asdict(r) for r in p["results"]],
                    "spans": [asdict(s) for s in p["spans"]]} for p in passes],
    }, indent=1))
    return m
