"""The traced layer sweep: per-layer numbers for every layer, read from
outside the program.

Parse, enrich, route and the partial aggregate fuse into one codegen
pipeline, so a layer's self time cannot be read off one job. The sweep
forces narrow-projection prefixes of the flagship plan one at a time:
scan, then +parse, +enrich, +tag/rewrite, +route mask, +explode,
+aggregate. Each prefix ends in a one-row aggregate over exactly the
columns the later layers consume, so Catalyst prunes it as it prunes
the full plan; a layer's self time is its prefix's time minus the time
of the prefix before it. The chain runs several rounds in rotated
order, and each self time is a median over rounds, reported with its
spread. Counts come from the same aggregates, and SQL metrics from the
executed plans. The wire layer is timed against the scan of all six
columns it reads. Sinks, checkpoint and metrics come from one traced
kill/resume cycle over resumable_fanout's input.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import Counter
from contextlib import contextmanager

from pyspark.sql import functions as F

from fluent_bit_spark.operators import route as R
from fluent_bit_spark.operators.route import explode_routes
from fluent_bit_spark.operators.wireformat import msgpack_roundtrip
from fluent_bit_spark.plans.flagship import (
    enrich_stage,
    parse_stage,
    route_stage,
    run_pipeline,
    sink_aggregates,
)
from fluent_bit_spark.checkpoint import Manifest
from fluent_bit_spark.transcripts import read_transcripts

from .trace import collect_with_plan, self_time, sum_metric
from .workloads import (
    FANOUT_TURNS,
    Context,
    Input,
    check_resumed,
    fanout_input,
    kill_resume_cycle,
    written_rows,
)


@contextmanager
def _without_route_mask():
    """route_stage with its final route_mask step left out: the tag and
    rewrite_tag rules stay the flagship's own."""
    mask = R.route_mask
    R.route_mask = lambda df, sinks: df
    try:
        yield
    finally:
        R.route_mask = mask


def _passthrough():
    # columns the later layers consume, kept live in every prefix
    return [F.max("ts").alias("_ts"), F.sum(F.length("text")).alias("_text")]


def _prefix(ctx: Context, name: str, build):
    """Force one prefix under a span; returns (seconds, rows, nodes)."""
    with ctx.tracer.span(f"sweep.{name}"):
        t = time.perf_counter()
        rows, nodes = collect_with_plan(build())
        seconds = time.perf_counter() - t
    return seconds, rows, nodes


# the prefix chain, in order, and each layer's self time as the
# difference between a prefix and the one before it
PREFIXES = ["scan", "parse", "enrich", "tag", "mask", "explode", "aggregate"]
SELF_TIMES = {
    "parse.self_s": ("parse", "scan"),
    "enrich.self_s": ("enrich", "parse"),
    "route.tag_self_s": ("tag", "enrich"),
    "route.mask_self_s": ("mask", "tag"),
    "route.explode_self_s": ("explode", "mask"),
    "aggregate.self_s": ("aggregate", "explode"),
}
# rounds of the chain. Each prefix compiles its own code, and its first
# runs are up to twice as slow as later ones; the median over three
# rounds leaves out one slow round. More rounds do not fit in the
# 180 s a traced run may take, and on a slow host a round after the
# first starts only while the run is younger than SWEEP_DEADLINE_S.
SWEEP_ROUNDS = 3
SWEEP_DEADLINE_S = 100.0


def iqr(xs: list[float]) -> float:
    """Distance between the first and third quartile."""
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4)
    return q[2] - q[0]


def prefix_jobs(ctx: Context, inp: Input) -> dict:
    """The seven prefix jobs, as functions that build their DataFrame."""
    spark = ctx.spark

    def src():
        return read_transcripts(spark, inp.transcripts)

    def parsed():
        return parse_stage(src())

    def enriched():
        return enrich_stage(parsed(), spark)

    def tagged():
        with _without_route_mask():
            return route_stage(enriched())

    def routed():
        return route_stage(enriched())

    return {
        "scan": lambda: src().agg(
            F.count(F.lit(1)).alias("rows"), F.sum(F.length("text")).alias("text_bytes"),
            F.count("conv_id"), F.max("turn_idx"), F.count("role"), F.count("tool"), F.max("ts"),
        ),
        "parse": lambda: parsed().agg(
            F.count(F.lit(1)).alias("rows"),
            F.count_if(F.col("parse_ok")).alias("ok"),
            F.count_if(F.col("fmt") == "unknown").alias("unknown"),
            F.count("evt_name"), F.count("amount_cents"), F.count("role"), F.count("tool"),
            *_passthrough(),
        ),
        "enrich": lambda: enriched().agg(
            F.count(F.lit(1)).alias("rows"),
            F.count_if(F.col("category") == "Unknown").alias("tool_miss"),
            F.count("norm_role"), F.count("risk_level"), F.count_if(F.col("parse_ok")),
            F.count("evt_name"), F.count("fmt"), *_passthrough(),
        ),
        "tag": lambda: tagged().agg(
            F.count(F.lit(1)).alias("rows"),
            # the flagship's one rewrite_tag rule is the only source of alerts.*
            F.count_if(F.col("tag").startswith("alerts.")).alias("rewritten"),
            F.size(F.collect_set("tag")).alias("tags"), *_passthrough(),
        ),
        "mask": lambda: routed().agg(
            F.count(F.lit(1)).alias("rows"), F.sum(F.size("routes")).alias("routes"),
            F.count("tag"), *_passthrough(),
        ),
        "explode": lambda: explode_routes(routed()).agg(
            F.count(F.lit(1)).alias("rows"), F.count("sink"), F.count("tag"), *_passthrough(),
        ),
        "aggregate": lambda: sink_aggregates(routed())["flowcounter"],
        # the counter output is a second job over the same pipeline, untimed
        "counter": lambda: sink_aggregates(routed())["counter"],
    }


def route_chain(ctx: Context, inp: Input, rounds: int = SWEEP_ROUNDS) -> dict:
    """`rounds` rounds of the prefix chain, each starting one prefix
    later than the one before, so that no prefix always runs first or
    last. Self times are medians over rounds of the difference between
    a prefix and the one before it in the same round, reported with the
    quartile distance of those differences; counts and plan metrics
    come from the first round."""
    jobs = prefix_jobs(ctx, inp)
    first: dict[str, tuple] = {}
    times: dict[str, list[float]] = {k: [] for k in PREFIXES}
    for r in range(rounds):
        if r and time.perf_counter() - ctx.started > SWEEP_DEADLINE_S:
            break
        k = r % len(PREFIXES)
        for name in PREFIXES[k:] + PREFIXES[:k]:
            seconds, rows, nodes = _prefix(ctx, name, jobs[name])
            times[name].append(seconds)
            first.setdefault(name, (rows, nodes))

    m, spread = {}, {}
    rows = first["scan"][0]
    m["transcripts.rows"] = rows[0]["rows"]
    m["transcripts.text_bytes"] = rows[0]["text_bytes"]
    rows = first["parse"][0]
    m["parse.ok_ratio"] = rows[0]["ok"] / rows[0]["rows"]
    m["parse.unknown_rows"] = rows[0]["unknown"]
    rows, nodes = first["enrich"]
    m["enrich.tool_miss_ratio"] = rows[0]["tool_miss"] / rows[0]["rows"]
    m["enrich.broadcast_bytes"] = sum_metric(nodes, "BroadcastExchange", "dataSize")
    rows = first["tag"][0]
    tagged_rows = rows[0]["rows"]
    m["route.rewritten_rows"] = rows[0]["rewritten"]
    m["route.distinct_tags"] = rows[0]["tags"]
    routed_rows = first["mask"][0][0]["rows"]
    m["route.dropped_rows"] = tagged_rows - routed_rows
    m["route.fanout_ratio"] = first["explode"][0][0]["rows"] / routed_rows
    flow, flow_nodes = first["aggregate"]
    counter, counter_nodes = collect_with_plan(jobs["counter"]())
    nodes = flow_nodes + counter_nodes
    m["aggregate.groups_out"] = len(flow) + len(counter)
    m["aggregate.shuffle_bytes"] = sum_metric(nodes, "Exchange", "shuffleBytesWritten")
    m["aggregate.shuffle_records"] = sum_metric(nodes, "Exchange", "shuffleRecordsWritten")
    m["aggregate.peak_mem_bytes"] = sum_metric(nodes, "HashAggregate", "peakMemory")
    m["aggregate.spill_bytes"] = sum_metric(nodes, "HashAggregate", "spillSize")

    m["transcripts.scan_s"] = statistics.median(times["scan"])
    spread["transcripts.scan_s"] = iqr(times["scan"])
    for metric, (cur, prev) in SELF_TIMES.items():
        diffs = [a - b for a, b in zip(times[cur], times[prev])]
        m[metric] = statistics.median(diffs)
        spread[metric] = iqr(diffs)
    return {"metrics": m, "spread": spread, "rounds": len(times["scan"]),
            "prefix_s": {k: statistics.median(v) for k, v in times.items()}}


def wire_layer(ctx: Context, inp: Input, scan_s: float) -> dict:
    seconds, rows, nodes = _prefix(ctx, "wire", lambda: msgpack_roundtrip(
        read_transcripts(ctx.spark, inp.transcripts)
    ).agg(F.sum("n_bytes").alias("bytes"), F.count(F.lit(1)).alias("rows")))
    return {
        "wire.self_s": seconds - scan_s,
        "wire.bytes_out": rows[0]["bytes"],
        "wire.python_bytes_sent": sum_metric(nodes, "MapInPandas", "pythonDataSent"),
        "wire.python_bytes_returned": sum_metric(nodes, "MapInPandas", "pythonDataReceived"),
        "wire.python_exec_s": sum_metric(nodes, "MapInPandas", "pythonTotalTime") / 1e3,
    }


def plan_time(ctx: Context, workload: str, inp: Input) -> float:
    """DataFrame build plus executedPlan of the workload's outputs,
    without running them."""
    with ctx.tracer.span("sweep.plan"):
        t = time.perf_counter()
        src = read_transcripts(ctx.spark, inp.transcripts)
        if workload == "chunk_pack":
            outs = [msgpack_roundtrip(src)]
        elif workload == "route_aggregate":
            outs = list(sink_aggregates(run_pipeline(ctx.spark, inp.transcripts, source=src)).values())
        else:
            outs = [run_pipeline(ctx.spark, inp.transcripts, source=src)]
        for df in outs:
            df._jdf.queryExecution().executedPlan()
        return time.perf_counter() - t


def sink_layers(ctx: Context, inp: Input) -> dict:
    """One traced kill/resume cycle of the resumable fan-out, checked
    like resumable_fanout's."""
    out_dir = os.path.join(ctx.work, "sweep-fanout")
    cycle = {}

    def run():
        _, resumed, _ = kill_resume_cycle(ctx, inp, out_dir)
        cycle["resumed"] = resumed
        return 0.0, resumed

    with ctx.tracer.span("sweep.kill_resume"):
        start = time.perf_counter()
        ctx.tally.run("sweep kill/resume", run, ctx.checked(lambda r: check_resumed(inp, r)))
    tr = ctx.tracer
    writes = [s for s in tr.find("sinks.fanout_write") if s.start >= start]
    runs = [s for s in tr.find("checkpoint.run") if s.start >= start]
    t = time.perf_counter()
    entries = Manifest(os.path.join(out_dir, "ckpt")).entries()
    manifest_s = time.perf_counter() - t
    done = Counter(e["key"] for e in entries if e["status"] == "done")
    files = bytes_ = 0
    for dirpath, _, names in os.walk(os.path.join(out_dir, "data")):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                bytes_ += os.path.getsize(os.path.join(dirpath, n))
    resumed = cycle.get("resumed")
    m = {
        "sinks.write_s": sum(s.duration for s in writes),
        "sinks.bytes_written": bytes_,
        "sinks.files_written": files,
        "sinks.jobs_per_group": statistics.median([s.attrs.get("jobs", 0) for s in writes] or [0]),
        "checkpoint.discover_s": sum(self_time(s, tr.spans) for s in runs),
        "checkpoint.manifest_s": manifest_s,
        "checkpoint.groups": len(inp.days),
        "checkpoint.groups_skipped": sum(
            1 for v in ((resumed.statuses if resumed else None) or {}).values() if v == "skipped"
        ),
        "checkpoint.groups_redone": sum(c - 1 for c in done.values() if c > 1),
        "metrics.records_in": resumed.records_in if resumed else None,
        "metrics.bytes_in": resumed.bytes_in if resumed else None,
    }
    for sink, n in written_rows(out_dir).items():
        m[f"sinks.records.{sink}"] = n
    return m


def spark_layer(ctx: Context, primary: str) -> dict:
    """Engine numbers for the median traced warm pass of the primary
    size: stage metrics summed over the pass's spans."""
    tr = ctx.tracer
    passes = sorted(tr.find(f"pass.{primary}"), key=lambda s: s.duration)
    p = passes[len(passes) // 2]
    spans = [p, *tr.subtree(p)]
    total = lambda k: sum(s.attrs.get(k, 0) for s in spans)
    return {
        "spark.jobs": total("jobs"),
        "spark.stages": total("stages"),
        "spark.tasks": total("tasks"),
        "spark.executor_run_s": total("executor_run_s"),
        "spark.executor_cpu_s": total("executor_cpu_s"),
        "spark.gc_s": total("gc_s"),
        "spark.task_p50_s": statistics.median(
            [s.attrs["task_p50_s"] for s in spans if s.attrs.get("stages")] or [0.0]
        ),
        "spark.task_max_s": max(s.attrs.get("task_max_s", 0.0) for s in spans),
    }


def run_sweep(ctx: Context, workload: str, primary: str, times: dict) -> dict:
    inp = ctx.large if ctx.large is not None else ctx.small
    chain = route_chain(ctx, inp)
    m = dict(chain["metrics"])
    m.update(wire_layer(ctx, inp, chain["prefix_s"]["scan"]))
    m["spark.plan_s"] = plan_time(ctx, workload, inp)
    if workload == "resumable_fanout":
        fanout = ctx.small
    else:
        # the fan-out cycle's own input, no larger than the small one
        fanout = fanout_input(ctx.work, ctx.seed, min(ctx.small.turns, FANOUT_TURNS))
    m.update(sink_layers(ctx, fanout))
    m.update(spark_layer(ctx, primary))
    traced = statistics.median(times[primary])
    untraced = statistics.median(times[f"{primary}.untraced"])
    m["trace.pass_s"] = traced
    m["trace.overhead_s"] = traced - untraced
    return {"metrics": m, "spread": chain["spread"], "rounds": chain["rounds"],
            "prefix_s": chain["prefix_s"]}
