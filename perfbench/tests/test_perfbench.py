"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The span tests need no Spark. The negative tests start one Spark
session; the smoke tests run `perfbench/run.py` end to end on tiny
inputs (1,000 and 2,000 turns, about the size of the sf0.001 test
data), once per workload and trace mode.
"""

from __future__ import annotations

import dataclasses
import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
ROOT = BENCH.parent
sys.path[:0] = [str(ROOT), str(BENCH)]

import run as bench_run  # noqa: E402
from fbbench.trace import Span, Tracer, covered, self_time  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
# BENCHMARK.json lists the first two; resumable_fanout runs by hand
WORKLOADS = ["route_aggregate", "chunk_pack", "resumable_fanout"]
TINY = ["--small-turns", "1000", "--large-turns", "2000", "--seconds", "1"]


# ---------------------------------------------------------------------------
# span arithmetic


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", start, end, parent, "run")


def test_self_time_is_duration_minus_child_coverage():
    root = _span(0, 0.0, 10.0)
    spans = [
        root,
        _span(1, 1.0, 3.0, 0),
        _span(2, 2.0, 4.0, 0),  # overlaps child 1: [1, 4] covered once
        _span(3, 6.0, 7.0, 0),
        _span(4, 6.2, 6.8, 3),  # a grandchild does not count for the root
    ]
    assert self_time(root, spans) == pytest.approx(10.0 - 3.0 - 1.0)
    assert self_time(spans[3], spans) == pytest.approx(1.0 - 0.6)
    assert self_time(spans[4], spans) == pytest.approx(0.6)


def test_children_outside_the_span_are_clipped():
    root = _span(0, 5.0, 10.0)
    spans = [root, _span(1, 4.0, 6.0, 0), _span(2, 9.0, 12.0, 0)]
    assert self_time(root, spans) == pytest.approx(5.0 - 1.0 - 1.0)
    assert covered([], 0.0, 1.0) == 0.0


def test_tracer_nests_spans_and_records_nothing_when_disabled():
    tr = Tracer("r", enabled=True)
    with tr.span("outer") as attrs:
        attrs["n"] = 3
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert (outer.parent, inner.parent) == (None, outer.id)
    assert outer.attrs == {"n": 3}
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert self_time(outer, tr.spans) == pytest.approx(outer.duration - inner.duration)

    off = Tracer("r", enabled=False)
    with off.span("x") as attrs:
        attrs["ignored"] = 1
    assert off.spans == []


def test_tail_needs_ten_samples_beyond_it():
    from fbbench.workloads import tail

    assert tail([1.0] * 10) == (None, None)
    xs = [float(i) for i in range(1, 21)]  # 20 samples
    value, pct = tail(xs)
    assert value == 10.0 and sum(x > value for x in xs) == 10
    assert pct == 50


def test_iqr_is_the_quartile_distance():
    from fbbench.sweep import iqr

    assert iqr([1.0]) == 0.0
    assert iqr([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx(4.5 - 1.5)


# ---------------------------------------------------------------------------
# inputs follow the profile fitted to the test data


def test_generated_events_follow_the_profile(tmp_path):
    import duckdb
    from fbbench.inputs import make_input, profile

    prof = profile()
    n = 20_000
    inp = make_input(str(tmp_path), n, seed=7)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW e AS SELECT * FROM read_parquet('{inp.events}')")
    shares = dict(con.execute("SELECT event_type, count(*) / {n} FROM e GROUP BY 1"
                              .format(n=n)).fetchall())
    users, median, days = con.execute(
        "SELECT count(DISTINCT user_id), median(value), count(DISTINCT CAST(ts AS DATE)) FROM e"
    ).fetchone()
    assert shares.keys() == prof["event_type"].keys()
    for k, share in prof["event_type"].items():
        assert shares[k] == pytest.approx(share, abs=0.015)
    assert users == pytest.approx(n / prof["turns_per_user"], rel=0.02)
    quantiles = prof["value_quantiles"]
    assert median == pytest.approx(quantiles[len(quantiles) // 2], rel=0.05)
    assert days == len(inp.days) == prof["days"]
    assert con.execute("SELECT count(*) FROM e").fetchone()[0] == inp.turns == n


def test_the_seed_varies_rows_but_not_their_count(tmp_path):
    from fbbench.inputs import make_input

    a = make_input(str(tmp_path / "a"), 2000, seed=1)
    b = make_input(str(tmp_path / "b"), 2000, seed=2)
    c = make_input(str(tmp_path / "c"), 2000, seed=1)
    assert a.turns == b.turns == 2000
    assert a.text_bytes != b.text_bytes
    assert a.text_bytes == c.text_bytes


# ---------------------------------------------------------------------------
# negative tests: a tampered output trips the check and counts as failed


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = tmp_path_factory.mktemp("perfbench")
    bench_run.prepare_env(work)
    session = bench_run.start_spark(work, 2)
    session.sparkContext.setLogLevel("ERROR")
    yield session, work
    bench_run.stop_spark(session)


def _context(spark, workload, tamper):
    from fbbench import workloads as W

    session, work = spark
    wdir = work / workload
    small, large = W.make_inputs(workload, str(wdir), seed=5, small=1000, large=2000)
    return W.Context(session, Tracer("t", enabled=False), W.Tally(), str(wdir), 2, 0.0,
                     small, large, tamper=tamper)


def _run(ctx, workload):
    from fbbench import workloads as W

    wl = W.WORKLOADS[workload]
    run, check = wl.cold(ctx)
    ctx.tally.run("cold", lambda: W.timed(run), ctx.checked(check))
    try:
        wl.measure(ctx)
    except W.CheckFailed:  # no successful pass left to take a median of
        pass
    return ctx.tally


def _drop_flow_row(out):
    return {**out, "flowcounter": out["flowcounter"].slice(1)}


def _bump_checksum(out):
    return {**out, "checksum": out["checksum"] + 1}


def _lose_a_record(run):
    return dataclasses.replace(run, records_in=run.records_in - 1)


@pytest.mark.parametrize(
    "workload,tamper",
    [("route_aggregate", _drop_flow_row), ("chunk_pack", _bump_checksum),
     ("resumable_fanout", _lose_a_record)],
)
def test_tampered_output_counts_in_error_rate(spark, workload, tamper):
    tally = _run(_context(spark, workload, tamper), workload)
    assert tally.attempted >= 2
    assert tally.failed == tally.attempted
    assert tally.error_rate == 1.0
    assert all("Error" not in e for e in tally.errors), tally.errors


def test_stage_metrics_refuse_a_job_that_did_not_succeed(spark):
    from fbbench.trace import IncompleteStages, stage_metrics

    session, _ = spark
    sc = session.sparkContext

    def boom(_):
        raise ValueError("injected")

    sc.setJobGroup("perfbench-ok", "ok")
    sc.parallelize(range(4), 2).count()
    sc.setJobGroup("perfbench-failed", "failed")
    with pytest.raises(Exception):
        sc.parallelize(range(4), 2).map(boom).count()
    sc.setLocalProperty("spark.jobGroup.id", None)
    ok = stage_metrics(session, "perfbench-ok")
    assert (ok["jobs"], ok["stages"], ok["tasks"]) == (1, 1, 2)
    with pytest.raises(IncompleteStages):
        stage_metrics(session, "perfbench-failed")


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untampered_output_passes_its_check(spark, workload):
    tally = _run(_context(spark, workload, None), workload)
    assert tally.failed == 0, tally.errors
    assert tally.error_rate == 0.0


# ---------------------------------------------------------------------------
# smoke: every metric of BENCHMARK.json is printed with its unit


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_prints_every_metric_with_its_unit(tmp_path, workload, trace):
    proc = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", "3",
         "--trace", str(trace), "--work", str(tmp_path), *TINY],
        capture_output=True, text=True, cwd=tmp_path, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 2
    specs = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in specs}
    for m in specs:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    if trace:
        assert list(tmp_path.glob("*.spans.jsonl"))


def test_without_the_program_it_fails_without_a_result(tmp_path):
    (tmp_path / "perfbench").mkdir()
    for f in BENCH.rglob("*"):
        if f.is_file() and "__pycache__" not in f.parts:
            dest = tmp_path / "perfbench" / f.relative_to(BENCH)
            dest.parent.mkdir(parents=True, exist_ok=True)
            dest.write_bytes(f.read_bytes())
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(SPEC))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        capture_output=True, text=True, cwd=tmp_path, timeout=180,
    )
    assert proc.returncode != 0
    assert "correct" not in proc.stdout
