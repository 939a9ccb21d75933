"""The traced run: per-layer metrics of each workload.

A traced job makes two passes per route:

1. ``cli``: ``cli.run_route`` without the sink, so the route is
   validated and planned but nothing is written.  The calls it makes
   into ``sources.io.load`` and ``plans.pipeline.anonymize_pipeline`` get
   child spans; the latter's duration is ``plans.pipeline.plan_s`` (the
   driver time of the lazy call, which includes the jobs an operator
   runs eagerly while planning), and the Exchange nodes of the returned
   frame's physical plan are ``plans.pipeline.exchanges``.
2. Step by step: the inputs are loaded, checkpointed and counted under
   a ``sources.io`` span, then each step runs through ``anonymize_pipeline``
   on the previous step's checkpointed, counted output, under a span of
   the module that does the step's work (``workloads.OP_LAYER``), and
   the result is written by ``sources.io.write_parquet``.  The written
   sink is checked like an untraced job's.

After its routes, a traced job runs each of the workload's registry
queries under a span of the module that defines it, with the module's
``load`` calls as ``sources.io`` children.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
from contextlib import contextmanager

import workloads
from spans import LAYERS, StageCounters, Tracer, layer_metrics

_PKG = "ma_anonymization_etl_spark."
# (layer, route, op) of every curation step whose rows-out / rows-in is
# reported; these fractions must never move under a perf change.
KEEP_FRAC_STEPS = (
    ("plans.pipeline", "dedup_near", "dedup_exact"),
    ("operators.llm", "dedup_near", "near_dedup_drop"),
    ("operators.llm", "dedup_near", "quality_filter"),
    ("operators.llm", "dedup_near", "split_assign"),
    ("operators.llm", "embed", "quality_filter"),
    ("operators.similarity", "embed", "semantic_dedup_drop"),
    ("operators.similarity", "embed", "knn_label"),
)

_LAYER_FIELDS = (
    ("self_s", "s", "lower"), ("calls", "count", "lower"), ("stages", "count", "lower"),
    ("tasks_per_stage", "tasks/stage", "higher"), ("busy_frac", "frac", "higher"),
    ("shuffle_write_bytes", "B", "lower"), ("spill_bytes", "B", "lower"),
    ("failed_tasks", "count", "lower"),
)

# Every per-layer metric: (name, unit, better).  BENCHMARK.json lists the same.
PER_LAYER = (
    [(f"{layer}.{f}", unit, better) for layer in LAYERS for f, unit, better in _LAYER_FIELDS]
    + [("sources.io.scan_bytes", "B", "lower"), ("sources.io.write_bytes", "B", "lower"),
       ("sources.io.write_files", "count", "lower"),
       ("plans.pipeline.plan_s", "s", "lower"), ("plans.pipeline.exchanges", "count", "lower"),
       ("session.start_s", "s", "lower"), ("session.noise_floor_s", "s", "lower"),
       ("session.loadavg_1m", "load", "lower"), ("session.peak_rss_mb", "MB", "lower")]
    + [(f"{layer}.{route}.{op}.keep_frac", "frac", "higher")
       for layer, route, op in KEEP_FRAC_STEPS]
    + [("trace.overhead_s", "s", "lower")]
)
_UNITS = {name: unit for name, unit, _ in PER_LAYER}


@contextmanager
def _patched(module, name: str, wrapper):
    """Route ``module.name`` through ``wrapper(original)`` for the block."""
    original = getattr(module, name)
    setattr(module, name, wrapper(original))
    try:
        yield
    finally:
        setattr(module, name, original)


def _spanned(tracer: Tracer, layer: str, name: str, **attrs):
    def wrap(fn):
        def call(*a, **kw):
            with tracer.span(layer, name, **attrs):
                return fn(*a, **kw)
        return call
    return wrap


def _loads_spanned(tracer: Tracer, name: str):
    """Spans for ``sources.io.load(spark, sf_dir, table)`` calls, each
    recording the size of the parquet file it was asked to scan."""
    from ma_anonymization_etl_spark.sources.io import table_path

    def wrap(load):
        def call(spark, sf_dir, table):
            size = os.path.getsize(table_path(sf_dir, table))
            with tracer.span("sources.io", name, scan_bytes=size):
                return load(spark, sf_dir, table)
        return call
    return wrap


def count_exchanges(df) -> int:
    """Exchange nodes (shuffle and broadcast) in the frame's physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"^[\s:+\-|]*\w*Exchange\b", plan, flags=re.M))


def _materialized(df):
    """The frame checkpointed in executor storage, and its row count.  The
    checkpoint also cuts the lineage, so the next step is planned from
    this table rather than from every step before it."""
    df = df.localCheckpoint(eager=True)
    return df, df.count()


def _route_job(spark, tracer: Tracer, workload: str, data_dir: str, out_root: str,
               facts: dict) -> dict:
    from ma_anonymization_etl_spark import cli
    from ma_anonymization_etl_spark.plans import pipeline
    from ma_anonymization_etl_spark.sources import io

    results = {}
    for route in workloads.bound_routes(workload, data_dir, out_root):
        name = route["name"]
        planned = {k: v for k, v in route.items() if k != "output"}
        with _patched(cli, "load", _loads_spanned(tracer, f"{name}.load")), \
                _patched(cli, "anonymize_pipeline",
                         _spanned(tracer, "plans.pipeline", f"{name}.plan", plan=True)), \
                tracer.span("cli", name):
            final = cli.run_route(spark, planned)
        facts["exchanges"] += count_exchanges(final)

        with tracer.span("sources.io", f"{name}.scan"):
            df, n_in = _materialized(io.load(spark, data_dir, route["input"]["table"]))
            tables = {}
            for aux, src in route.get("aux_inputs", {}).items():
                tables[aux], _ = _materialized(io.load(spark, data_dir, src["table"]))
        for step in route["steps"]:
            layer = workloads.OP_LAYER[step["op"]]
            with tracer.span(layer, f"{name}.{step['op']}"):
                df, n_out = _materialized(pipeline.anonymize_pipeline(df, [step], tables=tables))
            facts["keep"][(name, step["op"])] = n_out / n_in if n_in else 0.0
            n_in = n_out
        sink = route["output"]
        with tracer.span("sources.io", f"{name}.write"):
            io.write_parquet(df, sink["path"], sink.get("partition_by"),
                             dynamic=bool(sink.get("dynamic_partition_overwrite", False)))
        results[name] = sink["path"]
    return results


def _query_job(spark, tracer: Tracer, workload: str, data_dir: str) -> dict:
    import importlib

    from ma_anonymization_etl_spark import registry

    queries = registry.load_all()
    results = {}
    for name in workloads.QUERIES[workload]:
        fn = queries[name].fn
        module = importlib.import_module(fn.__module__)
        layer = fn.__module__.removeprefix(_PKG)
        with _patched(module, "load", _loads_spanned(tracer, f"{name}.load")), \
                tracer.span(layer, name):
            results[name] = fn(spark, data_dir).toArrow()
    return results


def traced_run(spark, runner, job, args, cores: int, data_dir: str, out_root: str,
               trace_dir: str) -> dict:
    """One untraced job, then traced jobs for ``args.seconds``; returns the
    per-layer metrics as {name: (value, unit)} (medians over traced jobs)
    and writes every span to ``trace_dir``."""
    untraced, _, _ = runner.attempt(job)
    tracer = Tracer(StageCounters(spark))
    per_job: list[dict] = []
    walls: list[float] = []
    t_run, last = time.perf_counter(), 0.0
    while not walls or time.perf_counter() - t_run + last < args.seconds:
        t_job = time.perf_counter()
        facts = {"exchanges": 0, "keep": {}}
        first_span = len(tracer.spans)

        def traced_job():
            return {**_route_job(spark, tracer, args.workload, data_dir, out_root, facts),
                    **_query_job(spark, tracer, args.workload, data_dir)}

        wall, _, results = runner.attempt(traced_job)
        last = time.perf_counter() - t_job
        if wall is None:
            if runner.failed >= 3:
                break
            continue
        spans = tracer.spans[first_span:]
        m = layer_metrics(spans, cores)
        write_bytes, write_files = workloads.delivered(results)
        m["sources.io.scan_bytes"] = sum(s.attrs.get("scan_bytes", 0) for s in spans)
        m["sources.io.write_bytes"] = write_bytes
        m["sources.io.write_files"] = write_files
        m["plans.pipeline.plan_s"] = sum(s.end - s.start for s in spans if s.attrs.get("plan"))
        m["plans.pipeline.exchanges"] = facts["exchanges"]
        for layer, route, op in KEEP_FRAC_STEPS:
            m[f"{layer}.{route}.{op}.keep_frac"] = facts["keep"].get((route, op), 0.0)
        per_job.append(m)
        walls.append(wall)
        tracer.job += 1
    if not per_job or untraced is None:
        raise RuntimeError(f"traced run failed: {runner.errors}")

    os.makedirs(trace_dir, exist_ok=True)
    path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl")
    with open(path, "w") as f:
        for rec in tracer.records(args.workload):
            f.write(json.dumps(rec) + "\n")
    print(json.dumps({"info": {"trace_file": os.path.relpath(path),
                               "traced_jobs": len(walls), "untraced_job_s": untraced,
                               "traced_job_s": statistics.median(walls)}}), flush=True)

    out = {name: (statistics.median(m[name] for m in per_job), _UNITS[name])
           for name in per_job[0]}
    out["trace.overhead_s"] = (statistics.median(walls) - untraced, "s")
    return out
