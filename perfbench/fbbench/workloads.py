"""The three benchmark workloads.

Each workload is a closed loop of batch passes from one driver
process: the next pass starts only when the previous one has finished.
A run is

1. generate the seeded inputs (not part of set-up);
2. start the Spark session and run one cold pass on the small input:
   `setup_s` covers both, not the output check that follows;
3. one untimed warm-up round, then warm passes round-robin over the
   workload's input sizes until `seconds` have passed (a round that has
   started is finished);
4. for resumable_fanout, one kill/resume cycle; in a traced
   route_aggregate run, the one-task pass behind `scaling_eff`.

Every pass's output is checked, outside its timed interval. Every pass
counts as attempted; a pass that raises or whose output fails its
check counts as failed.

Each pass composes the public calls of the program, the same ones
`cli.main` makes; spans around those calls are recorded only when the
tracer is enabled.
"""

from __future__ import annotations

import functools
import os
import shutil
import statistics
import time
from collections import Counter
from dataclasses import dataclass, field
from typing import Callable

import duckdb
from pyspark.sql import functions as F

from fluent_bit_spark.checkpoint import ResumableBatchJob
from fluent_bit_spark.functions.wire_expr import turn_event_bytes
from fluent_bit_spark.metrics import PipelineMetrics
from fluent_bit_spark.operators.wireformat import msgpack_roundtrip
from fluent_bit_spark.plans.flagship import SINKS, run_pipeline, sink_aggregates
from fluent_bit_spark.plans.flagship_oracle import oracle_queries
from fluent_bit_spark.sinks import fanout_write
from fluent_bit_spark.transcripts import read_transcripts

from .inputs import Input, make_input, profile
from .trace import Tracer

# Input sizes (turns). route_aggregate and chunk_pack run the small
# input cold for `setup_s`, then both sizes warm; the pair gives the
# fixed + marginal cost fit. Their timestamps span the profile's 30 days.
SMALL_TURNS = 40_000
LARGE_TURNS = 320_000
# A traced run's large input is smaller: its layer sweep forces every
# narrow prefix three times over it, and the run must end within 180 s.
TRACE_LARGE_TURNS = 200_000
# resumable_fanout processes one group per UTC day, at 2-3 s of fixed
# cost per group on a 4-core host. Its input has the profile's turns per
# day over this many days, so that a kill/resume cycle fits in a run.
FANOUT_DAYS = 4
FANOUT_TURNS = round(FANOUT_DAYS * profile()["turns_per_day"])

TRANSCRIPT_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


class CheckFailed(Exception):
    pass


@dataclass
class Tally:
    """Passes attempted and failed, with the reason for each failure."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def run(self, label: str, fn: Callable[[], tuple[float, object]], check=None):
        """Run one pass: `fn()` returns (seconds, output); `check(output)`
        runs after the pass and returns a list of problems. Returns the
        pass time, or None when the pass failed."""
        self.attempted += 1
        try:
            seconds, output = fn()
            problems = check(output) if check is not None else []
        except Exception as e:  # a failed pass is counted, not fatal
            self.failed += 1
            self.errors.append(f"{label}: {type(e).__name__}: {e}")
            return None
        if problems:
            self.failed += 1
            self.errors.extend(f"{label}: {p}" for p in problems)
            return None
        return seconds

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


@dataclass
class Context:
    spark: object
    tracer: Tracer
    tally: Tally
    work: str
    nproc: int
    seconds: float
    small: Input
    large: Input | None
    trace: bool = False
    seed: int = 0
    # perf_counter() at the start of the run
    started: float = field(default_factory=time.perf_counter)
    # test seam: applied to every pass's output before its check
    tamper: Callable | None = None
    cache: dict = field(default_factory=dict)

    def checked(self, check):
        if self.tamper is None:
            return check
        return lambda out: check(self.tamper(out))


def timed(fn):
    t = time.perf_counter()
    out = fn()
    return time.perf_counter() - t, out


def warm_window(ctx: Context, passes: dict[str, tuple[Callable, Callable]], primary: str) -> dict:
    """One untimed warm-up round, then round-robin warm passes until
    ctx.seconds have passed. `passes` maps a label to (run, check):
    `run()` returns the pass output and `check(output)` its problems.
    Returns the pass times per label, failed passes omitted.

    The warm-up passes are checked and counted like the others; their
    times are dropped because right after the cold pass the JIT is
    still compiling, and the first pass of each size runs 20-40% slower
    than later ones.

    With tracing on, there is one round, in which the `primary` pass
    runs twice, traced and untraced (label + ".untraced"), so that the
    tracing overhead is measured in the same window."""
    tr = ctx.tracer
    for label, (run, check) in passes.items():
        with tr.span(f"warmup.{label}"):
            ctx.tally.run(f"warm-up {label}", lambda: timed(run), ctx.checked(check))
    times: dict[str, list[float]] = {}
    # a traced run times one round: its figures are per layer, and the
    # layer sweep after it is long
    t_end = time.perf_counter() + (0.0 if ctx.trace else ctx.seconds)
    variants = [(k, True) for k in passes]
    if ctx.trace:
        # the main size runs traced, then untraced
        variants = [(k, o) for k in passes for o in ((True, False) if k == primary else (True,))]
    while True:
        for label, traced in variants:
            key = label if traced else f"{label}.untraced"
            run, check = passes[label]

            def one():
                with tr.span(f"pass.{label}"):
                    return timed(run)

            tr.enabled = traced and ctx.trace
            try:
                t = ctx.tally.run(f"warm {key}", one, ctx.checked(check))
            finally:
                tr.enabled = ctx.trace
            if t is not None:
                times.setdefault(key, []).append(t)
        if time.perf_counter() >= t_end:
            return times


def median(xs: list[float]) -> float:
    if not xs:
        raise CheckFailed("no successful pass to take a median of")
    return statistics.median(xs)


def fit(small_n: int, small_s: float, large_n: int, large_s: float) -> dict:
    """Fixed + marginal cost line through the two sizes' medians."""
    marginal = (large_s - small_s) / (large_n - small_n)
    return {"fixed_s": small_s - marginal * small_n, "marginal_us_per_row": marginal * 1e6}


def two_size_passes(ctx: Context, workload) -> dict:
    """The warm passes of route_aggregate and chunk_pack: both sizes,
    or, in a traced run, which reports no small-input figures, the
    large one only."""
    passes = {"large": workload._pass(ctx, ctx.large)}
    if not ctx.trace:
        passes["small"] = workload._pass(ctx, ctx.small)
    return passes


def two_size_result(ctx: Context, times: dict) -> dict:
    large_s = median(times.get("large", []))
    out = {
        "turns_per_s": ctx.large.turns / large_s,
        "passes": {k: len(v) for k, v in times.items()},
        "times": times,
    }
    if not ctx.trace:
        small_s = median(times.get("small", []))
        out["small_batch_s"] = small_s
        out.update(fit(ctx.small.turns, small_s, ctx.large.turns, large_s))
    return out


@functools.cache
def oracle(events: str, query: str) -> tuple:
    """Rows of one DuckDB oracle query over an events file."""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events}')")
        return tuple(con.execute(oracle_queries()[query]).fetchall())
    finally:
        con.close()


def _norm(rows) -> list[tuple]:
    return sorted(tuple(str(v) for v in r) for r in rows)


# ---------------------------------------------------------------------------
# route_aggregate


def route_aggregate_pass(ctx: Context, inp: Input, one_task: bool = False) -> dict:
    """run_pipeline -> sink_aggregates, both outputs fetched as Arrow
    tables (up to about 16k rows), so that every pass is checked. Arrow
    keeps the fetch cheap: collecting the rows as Python objects took
    about 0.5 s more per 40k-turn pass, most of the benchmark's own
    share of a pass."""
    tr = ctx.tracer
    with tr.span("transcripts.read_transcripts"):
        src = read_transcripts(ctx.spark, inp.transcripts)
        if one_task:
            src = src.coalesce(1)
    with tr.span("flagship.run_pipeline"):
        routed = run_pipeline(ctx.spark, inp.transcripts, source=src)
    with tr.span("flagship.sink_aggregates"):
        aggs = sink_aggregates(routed)
    out = {}
    for name, df in aggs.items():
        with tr.span(f"aggregate.{name}"):
            out[name] = df.toArrow()
    return out


def check_route_aggregate(inp: Input, out: dict) -> list[str]:
    """Per-sink counter and flowcounter rows equal the DuckDB oracle
    (flagship_oracle.pipeline_ctes) over the same events."""
    problems = []
    want_counter = _norm(oracle(inp.events, "counter_totals"))
    got_counter = _norm((r["sink"], r["records"]) for r in out["counter"].to_pylist())
    if got_counter != want_counter:
        problems.append(f"counter rows differ from the oracle: {got_counter} != {want_counter}")
    want_flow = _norm(oracle(inp.events, "sink_flowcounter"))
    # Arrow timestamps carry the session's UTC zone, the oracle's none
    naive = lambda t: t.replace(tzinfo=None)  # noqa: E731
    got_flow = _norm(
        (r["sink"], r["tag"], naive(r["window_start"]), naive(r["window_end"]), r["counts"],
         r["bytes"])
        for r in out["flowcounter"].to_pylist()
    )
    if got_flow != want_flow:
        diff = len(set(got_flow) ^ set(want_flow))
        problems.append(f"flowcounter rows differ from the oracle ({diff} rows differ)")
    return problems


class RouteAggregate:
    primary = "large"

    def _pass(self, ctx: Context, inp: Input, one_task: bool = False):
        return (
            lambda: route_aggregate_pass(ctx, inp, one_task),
            lambda out: check_route_aggregate(inp, out),
        )

    def cold(self, ctx: Context):
        return self._pass(ctx, ctx.small)

    def measure(self, ctx: Context) -> dict:
        times = warm_window(ctx, two_size_passes(ctx, self), self.primary)
        out = two_size_result(ctx, times)
        if ctx.trace:
            out["scaling_eff"] = self._scaling(ctx, out["turns_per_s"])
        return out

    def _scaling(self, ctx: Context, turns_per_s: float) -> float | None:
        """turns_per_s at local[nproc] / (nproc x turns_per_s of a
        one-task pass over the same input). The one-task pass runs in
        the same JVM with the input coalesced to one partition and one
        shuffle partition; its output is checked too."""
        conf = ctx.spark.conf
        parts = conf.get("spark.sql.shuffle.partitions")
        conf.set("spark.sql.shuffle.partitions", "1")
        try:
            run, check = self._pass(ctx, ctx.large, one_task=True)
            with ctx.tracer.span("pass.one_task"):
                one = ctx.tally.run("one-task large", lambda: timed(run), ctx.checked(check))
        finally:
            conf.set("spark.sql.shuffle.partitions", parts)
        if one is None:
            return None
        return turns_per_s / (ctx.nproc * ctx.large.turns / one)


# ---------------------------------------------------------------------------
# chunk_pack


def _row_checksum(df):
    """Order-independent (count, checksum) of a transcript frame."""
    h = F.xxhash64(*[F.col(c) for c in TRANSCRIPT_COLS]).cast("decimal(38,0)")
    return F.count(F.lit(1)).alias("rows"), F.sum(h).alias("checksum")


def chunk_pack_pass(ctx: Context, inp: Input) -> dict:
    """msgpack_roundtrip over the raw transcript table, forced through
    a one-row checksum of the decoded rows and their wire sizes."""
    tr = ctx.tracer
    with tr.span("transcripts.read_transcripts"):
        src = read_transcripts(ctx.spark, inp.transcripts)
    with tr.span("wireformat.msgpack_roundtrip"):
        decoded = msgpack_roundtrip(src)
    with tr.span("wire.force"):
        row = decoded.agg(*_row_checksum(decoded), F.sum("n_bytes").alias("n_bytes")).collect()
    return row[0].asDict()


def chunk_pack_reference(ctx: Context, inp: Input) -> dict:
    """Input checksum and the JVM encoder's byte total, once per input."""
    if inp.transcripts not in ctx.cache:
        src = read_transcripts(ctx.spark, inp.transcripts)
        ref = src.agg(*_row_checksum(src)).collect()[0].asDict()
        ref["n_bytes"] = turn_event_bytes(src).agg(F.sum("n_bytes")).collect()[0][0]
        ctx.cache[inp.transcripts] = ref
    return ctx.cache[inp.transcripts]


def check_chunk_pack(ref: dict, out: dict) -> list[str]:
    """Decoded rows equal the input, and sum(n_bytes) equals the
    functions/wire_expr.turn_event_bytes total."""
    problems = []
    if (out["rows"], out["checksum"]) != (ref["rows"], ref["checksum"]):
        problems.append(
            f"decoded rows differ from the input: rows {out['rows']} vs {ref['rows']}, "
            f"checksum {out['checksum']} vs {ref['checksum']}"
        )
    if out["n_bytes"] != ref["n_bytes"]:
        problems.append(f"sum(n_bytes) {out['n_bytes']} != JVM encoder {ref['n_bytes']}")
    return problems


class ChunkPack:
    primary = "large"

    def _pass(self, ctx: Context, inp: Input):
        # the reference is built by the first check, after the cold
        # pass, so that set-up time covers only the program's work
        return (
            lambda: chunk_pack_pass(ctx, inp),
            lambda out: check_chunk_pack(chunk_pack_reference(ctx, inp), out),
        )

    def cold(self, ctx: Context):
        return self._pass(ctx, ctx.small)

    def measure(self, ctx: Context) -> dict:
        times = warm_window(ctx, two_size_passes(ctx, self), self.primary)
        return two_size_result(ctx, times)


# ---------------------------------------------------------------------------
# resumable_fanout


@dataclass
class FanoutRun:
    out_dir: str
    statuses: dict | None
    records_in: int
    bytes_in: int
    group_s: list[float]


def resumable_pass(ctx: Context, inp: Input, out_dir: str, fail_after: int | None = None) -> FanoutRun:
    """The cli.main composition: instrumented source -> run_pipeline ->
    ResumableBatchJob over day groups, each group a fanout_write of the
    four sinks plus the counter/flowcounter aggregates (parquet)."""
    tr = ctx.tracer
    metrics = PipelineMetrics(ctx.spark)
    with tr.span("transcripts.read_transcripts"):
        src = read_transcripts(ctx.spark, inp.transcripts)
    with tr.span("metrics.instrument_input"):
        source = metrics.instrument_input(src)
    with tr.span("flagship.run_pipeline"):
        routed = run_pipeline(ctx.spark, inp.transcripts, source=source)
        routed = routed.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    job = ResumableBatchJob(f"{out_dir}/ckpt")
    group_s: list[float] = []

    def process(key, slice_df):
        t = time.perf_counter()
        with tr.span("checkpoint.group", key=key):
            with tr.span("sinks.fanout_write"):
                counts = fanout_write(
                    slice_df.drop("day"), SINKS, f"{out_dir}/data/day={key}", with_aggregates=True
                )
            for sink, c in counts.items():
                metrics.record_sink(sink, c["records"])
        group_s.append(time.perf_counter() - t)
        return {"rows": counts.get("sink_all", {}).get("records", 0)}

    statuses = None
    with tr.span("checkpoint.run", fail_after=fail_after) as attrs:
        try:
            statuses = job.run(routed, "day", process, fail_after=fail_after)
        except RuntimeError as e:
            if fail_after is None or "injected failure" not in str(e):
                raise
            attrs["killed"] = True
    snap = metrics.snapshot()
    return FanoutRun(out_dir, statuses, snap["records_in"], snap["bytes_in"], group_s)


def written_rows(out_dir: str) -> dict[str, int]:
    con = duckdb.connect()
    try:
        return {
            name: con.execute(
                f"SELECT count(*) FROM read_parquet('{out_dir}/data/day=*/{name}/*.parquet')"
            ).fetchone()[0]
            for name, _ in SINKS
        }
    finally:
        con.close()


def check_fanout(inp: Input, run: FanoutRun) -> list[str]:
    """Written parquet rows per sink equal the counter oracle (what
    route_aggregate's counter must equal); sink_all rows = input rows =
    metrics.records_in, and metrics.bytes_in = the input's text length;
    every day group is done exactly once."""
    problems = []
    want = dict(oracle(inp.events, "counter_totals"))
    got = written_rows(run.out_dir)
    if got != want:
        problems.append(f"written rows per sink {got} != counter oracle {want}")
    if not (got.get("sink_all") == inp.turns == run.records_in):
        problems.append(
            f"sink_all rows {got.get('sink_all')}, input rows {inp.turns} and "
            f"metrics.records_in {run.records_in} are not all equal"
        )
    if run.bytes_in != inp.text_bytes:
        problems.append(f"metrics.bytes_in {run.bytes_in} != input text {inp.text_bytes}")
    entries = ResumableBatchJob(f"{run.out_dir}/ckpt").manifest.entries()
    done = Counter(e["key"] for e in entries if e["status"] == "done")
    if sorted(done) != inp.days or set(done.values()) != {1}:
        problems.append(f"manifest done entries per group {dict(done)} != once per day {inp.days}")
    return problems


def kill_resume_cycle(ctx: Context, inp: Input, out_dir: str):
    """Kill after half the groups, then resume with a new job object
    over the same checkpoint. Returns (killed, resumed, resume seconds)."""
    shutil.rmtree(out_dir, ignore_errors=True)
    killed = resumable_pass(ctx, inp, out_dir, fail_after=len(inp.days) // 2)
    resume_s, resumed = timed(lambda: resumable_pass(ctx, inp, out_dir))
    return killed, resumed, resume_s


def check_resumed(inp: Input, resumed: FanoutRun) -> list[str]:
    """check_fanout, and the resumed run skipped exactly the groups
    done before the kill."""
    problems = check_fanout(inp, resumed)
    skipped = [k for k, v in (resumed.statuses or {}).items() if v == "skipped"]
    if len(skipped) != len(inp.days) // 2:
        problems.append(f"resume skipped {len(skipped)} groups, expected {len(inp.days) // 2}")
    return problems


def tail(xs: list[float]) -> tuple[float | None, int | None]:
    """The highest percentile of `xs` with at least 10 samples beyond
    it, as (value, percentile); (None, None) with 10 or fewer samples."""
    n = len(xs)
    if n <= 10:
        return None, None
    k = n - 11  # index of the value with exactly 10 samples above it
    return sorted(xs)[k], int(100 * (k + 1) / n)


class ResumableFanout:
    primary = "small"

    def cold(self, ctx: Context):
        return self._pass(ctx, [])

    def _pass(self, ctx: Context, runs: list):
        out_dir = os.path.join(ctx.work, "fanout")

        def run():
            shutil.rmtree(out_dir, ignore_errors=True)
            r = resumable_pass(ctx, ctx.small, out_dir)
            runs.append(r)
            return r

        return run, lambda r: check_fanout(ctx.small, r)

    def measure(self, ctx: Context) -> dict:
        inp = ctx.small
        groups: list[float] = []

        def cycle():
            killed, resumed, resume_s = kill_resume_cycle(ctx, inp, os.path.join(ctx.work, "fanout"))
            groups.extend(killed.group_s + resumed.group_s)
            return resume_s, resumed

        runs: list[FanoutRun] = []
        times = warm_window(ctx, {"small": self._pass(ctx, runs)}, self.primary)
        groups += [g for r in runs[1:] for g in r.group_s]  # not the warm-up's
        with ctx.tracer.span("pass.kill_resume"):
            resume_s = ctx.tally.run(
                "kill/resume", cycle, ctx.checked(lambda r: check_resumed(inp, r))
            )
        pass_s = median(times.get("small", []))
        tail_s, tail_pct = tail(groups)
        return {
            "turns_per_s": inp.turns / pass_s,
            "small_batch_s": pass_s,
            "group_p50_s": median(groups),
            "group_tail_s": tail_s,
            "group_tail_pct": tail_pct,
            "group_samples": len(groups),
            "resume_s": resume_s,
            "passes": {k: len(v) for k, v in times.items()},
            "times": times,
        }


WORKLOADS = {
    "route_aggregate": RouteAggregate(),
    "chunk_pack": ChunkPack(),
    "resumable_fanout": ResumableFanout(),
}


def make_inputs(workload: str, work: str, seed: int, small: int | None = None,
                large: int | None = None) -> tuple[Input, Input | None]:
    if workload == "resumable_fanout":
        return fanout_input(work, seed, small), None
    s = make_input(os.path.join(work, "input-small"), small or SMALL_TURNS, seed)
    # an independent stream for the large input, derived from the same seed
    return s, make_input(os.path.join(work, "input-large"), large or LARGE_TURNS,
                         seed + 1_000_003)


def fanout_input(work: str, seed: int, turns: int | None = None) -> Input:
    """resumable_fanout's input: FANOUT_DAYS days at the profile's
    turns per day, unless `turns` is given."""
    return make_input(os.path.join(work, "input-fanout"), turns or FANOUT_TURNS, seed,
                      days=FANOUT_DAYS)
