"""Fit the input generator to an events table, and compare the two.

    python3 perfbench/fit_profile.py EVENTS.parquet --write
    python3 perfbench/fit_profile.py EVENTS.parquet --compare

The benchmark's inputs are generated from `fbbench/profile.json`, a
profile fitted to the repo's sf0.1 test data (`events.parquet`, 100k
events): the event_type mix, the number of turns per user (which sets
the conversation count), the distribution of `value` (which sets the
numbers, and so the length, of every log line), the number of UTC days
the timestamps span and the events per day. `--write` refits it.

`--compare` runs the DuckDB oracle of the flagship pipeline
(`flagship_oracle.pipeline_ctes`) over the given events and over a
generated input of the same size, and prints the figures that set the
workloads' work side by side: parse.ok_ratio, enrich.tool_miss_ratio,
route.fanout_ratio, route.distinct_tags, the share of each sink, the
mean text length, and the mix and value quantiles themselves.
"""

from __future__ import annotations

import argparse
import json
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import duckdb  # noqa: E402

from fbbench.inputs import PROFILE_PATH, make_input  # noqa: E402
from fluent_bit_spark.plans.flagship_oracle import pipeline_ctes  # noqa: E402

# points of the value quantile function kept in the profile
QUANTILES = 1000


def fit(events: str) -> dict:
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events}')")
        n, users, days = con.execute(
            "SELECT count(*), count(DISTINCT user_id), count(DISTINCT CAST(ts AS DATE)) FROM events"
        ).fetchone()
        mix = dict(con.execute(
            "SELECT event_type, count(*) FROM events GROUP BY 1 ORDER BY 1"
        ).fetchall())
        qs = [i / QUANTILES for i in range(QUANTILES + 1)]
        values = con.execute(
            f"SELECT quantile_disc(value, {qs}) FROM events"
        ).fetchone()[0]
        keys = con.execute(
            "SELECT count(DISTINCT props) FROM events"
        ).fetchone()[0]
    finally:
        con.close()
    return {
        "source": f"{Path(events).parent.name}/{Path(events).name}",
        "events": n,
        "event_type": {k: v / n for k, v in mix.items()},
        "turns_per_user": n / users,
        "days": days,
        "turns_per_day": n / days,
        "value_quantiles": values,
        "props_keys": keys,
    }


def oracle_figures(events: str) -> dict:
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events}')")
        c = pipeline_ctes()
        one = lambda sql: con.execute(c + sql).fetchone()  # noqa: E731
        rows, ok, unknown = one(
            "SELECT count(*), count_if(parse_ok), count_if(fmt = 'unknown') FROM unified")
        miss = one("SELECT count_if(category = 'Unknown') FROM enriched")[0]
        routed, tags, rewritten = one(
            "SELECT count(*), count(DISTINCT tag), count_if(tag LIKE 'alerts.%') FROM routed")
        fanout = one("SELECT count(*) FROM per_sink")[0]
        sinks = dict(con.execute(c + "SELECT sink, count(*) FROM per_sink GROUP BY 1").fetchall())
        text = one("SELECT avg(length(text)) FROM transcripts")[0]
        convs = one("SELECT count(DISTINCT conv_id) FROM transcripts")[0]
        mix = dict(con.execute(
            "SELECT event_type, count(*) FROM events GROUP BY 1").fetchall())
        q = con.execute(
            "SELECT quantile_cont(value, [0.1, 0.5, 0.9, 0.99]), avg(value) FROM events"
        ).fetchone()
    finally:
        con.close()
    out = {
        "rows": rows,
        "parse.ok_ratio": ok / rows,
        "parse.unknown_rows": unknown,
        "enrich.tool_miss_ratio": miss / rows,
        "route.fanout_ratio": fanout / routed,
        "route.distinct_tags": tags,
        "route.rewritten_rows": rewritten,
        "route.dropped_rows": rows - routed,
        "conversations": convs,
        "text_mean_chars": text,
        "value_p10/p50/p90/p99": [round(v, 2) for v in q[0]],
        "value_mean": q[1],
    }
    out.update({f"share.{k}": v / rows for k, v in sorted(mix.items())})
    out.update({f"sink.{k}": v / rows for k, v in sorted(sinks.items())})
    return out


def compare(events: str) -> None:
    n = duckdb.connect().execute(
        f"SELECT count(*) FROM read_parquet('{events}')").fetchone()[0]
    with tempfile.TemporaryDirectory() as tmp:
        inp = make_input(tmp, n, seed=1)
        got = oracle_figures(inp.events)
    want = oracle_figures(events)
    print(f"{'figure':28} {'events':>22} {'generated':>22}")
    for k, v in want.items():
        print(f"{k:28} {_fmt(v):>22} {_fmt(got.get(k)):>22}")


def _fmt(v) -> str:
    if isinstance(v, float):
        return f"{v:.4f}"
    return str(v)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("events")
    ap.add_argument("--write", action="store_true", help=f"write {PROFILE_PATH.name}")
    ap.add_argument("--compare", action="store_true")
    args = ap.parse_args(argv)
    if args.write:
        PROFILE_PATH.write_text(json.dumps(fit(args.events), indent=1) + "\n")
        print(f"wrote {PROFILE_PATH}")
    if args.compare:
        compare(args.events)
    if not (args.write or args.compare):
        print(json.dumps(fit(args.events), indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
