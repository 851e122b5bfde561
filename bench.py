"""Benchmark harness.

Default mode (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line:
    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

`--isolated` mode: fresh JVM per query (warm once, median of 3) —
variance-immune per-query figures; the default mode also embeds an
`isolated` dict for the pressure-sensitive subset (ISO_SUBSET).

`--scaling` mode (north-rule evidence): run the full pipeline on the
same input at local[8] and local[32], report turns/sec at both and the
scaling efficiency thr(32) / (4 * thr(8)); append results to
BENCH/BASELINE.md.

`--skew` mode: flagship e2e under uniform vs Zipf hot-conversation
skew (synth hot_factor) on a balanced source layout — pins the
"conversation skew produces no task-level hot spot" claim.

`--stress` mode: flagship e2e at SPARK_GRAFT_STRESS_REPLICATE
(default 1000 -> 100M rows at sf0.1) — the 10x-data row-linearity
evidence.

Work is forced with the `noop` write format (full computation, no
driver collect).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPLICATE = int(os.environ.get("SPARK_GRAFT_BENCH_REPLICATE", "1"))


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _sf_label(path: str) -> float:
    import re

    # anchored number (a greedy [0-9.]+ would capture 'sf0.1.v2' as
    # '0.1.' and crash float() after the whole benchmark has run)
    m = re.search(r"sf(\d+(?:\.\d+)?)", path)
    return float(m.group(1)) if m else 0.0


def build_source(spark):
    from fluent_bit_spark.transcripts import synth_transcripts

    return synth_transcripts(spark, SF_DIR, replicate=REPLICATE)


def bench_queries(spark, source):
    """Headline queries; each returns a DataFrame to force."""
    from fluent_bit_spark.plans import flagship
    from fluent_bit_spark.operators.route import explode_routes
    from fluent_bit_spark.operators.aggregate import counter, flowcounter
    from fluent_bit_spark.operators.skew import salted_agg, stable_turn_order
    from pyspark.sql import functions as F

    def pipeline_e2e():
        routed = flagship.route_stage(
            flagship.enrich_stage(flagship.parse_stage(source), spark)
        )
        per_sink = explode_routes(routed)
        return flowcounter(per_sink, ["sink", "tag"], "1 hour")

    def parse_only():
        return flagship.parse_stage(source).select(
            "conv_id", "fmt", "parse_ok", "evt_name", "amount_cents", "code"
        )

    def parse_arrow():
        return flagship.parse_stage(source, backend="arrow").select(
            "conv_id", "fmt", "parse_ok", "evt_name", "amount_cents", "code"
        )

    def route_counts():
        routed = flagship.route_stage(
            flagship.enrich_stage(flagship.parse_stage(source), spark)
        )
        return counter(explode_routes(routed), ["sink"])

    def conv_stats():
        df = source.withColumn("text_len", F.length("text"))
        return salted_agg(
            df,
            "conv_id",
            {"turns": ("count", "conv_id"), "bytes": ("sum", "text_len")},
            salt_buckets=16,
        )

    def stable_order():
        return stable_turn_order(source).filter(F.col("turn_rank") == 1)

    def dedup_minhash():
        from fluent_bit_spark.operators.dedup import minhash_dedup_pairs

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        return minhash_dedup_pairs(docs, threshold=0.8, num_perm=64, bands=16)

    def dedup_simhash():
        from fluent_bit_spark.operators.dedup import simhash_near_dup_pairs

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        return simhash_near_dup_pairs(docs, max_hamming=3)

    def sft_pairs():
        from fluent_bit_spark.operators.transcript_qa import sft_pairs as op

        return op(source)

    def unigram_lm():
        from fluent_bit_spark.operators.text_analysis import unigram_logprob

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        return unigram_logprob(docs)

    def chunk_docs():
        from fluent_bit_spark.operators.packing import chunk_documents

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        return chunk_documents(docs, size=64, stride=32)

    def grok_parse():
        from fluent_bit_spark.operators.grok import apply_grok

        import __spark_entry__ as entry

        return apply_grok(source, entry.GROK_APACHE).select(
            "conv_id", "client", "verb", "path", "code", "size"
        )

    def winnow_fp():
        from fluent_bit_spark.operators.text_analysis import winnow_fingerprints

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        return winnow_fingerprints(docs, id_col="doc_id")

    def ann_topk():
        from fluent_bit_spark.operators.similarity import cosine_topk

        embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        q = embs.filter(F.col("vec_id") < 20).withColumnRenamed("vec_id", "query_id")
        return cosine_topk(embs.filter(F.col("vec_id") >= 20), q, k=10)

    def bloom_contam():
        from fluent_bit_spark.operators.sketch import bloom_contamination

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            "doc_id", "text"
        )
        return bloom_contamination(docs, docs.filter(F.col("doc_id") % 50 == 0))

    def bpe_merges():
        from fluent_bit_spark.operators.text_analysis import bpe_merges as op

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        return op(docs, iters=5)

    def bm25_topk():
        from fluent_bit_spark.operators.text_analysis import bm25_topk as op

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            "doc_id", "text"
        )
        return op(
            docs.filter(F.col("doc_id") >= 3),
            docs.filter(F.col("doc_id") < 3).withColumnRenamed(
                "doc_id", "query_id"
            ),
            k=10,
        )

    def span_dedup():
        from fluent_bit_spark.operators.curation import cross_doc_span_dedup

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            "doc_id", "text"
        )
        return cross_doc_span_dedup(docs, n=8)

    def semantic_dedup():
        from fluent_bit_spark.operators.similarity import semantic_dedup as op

        embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        return op(embs, k=8, iters=3, threshold=0.3)

    def dsir_weights():
        from fluent_bit_spark.operators.sampling import dsir_weights as op

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        return op(docs, target=F.col("lang") == "en")

    def interval_overlap():
        import __spark_entry__ as entry

        return entry._raw_queries()["interval_overlap"](spark, SF_DIR)

    def ann_pq():
        from fluent_bit_spark.operators.similarity import pq_adc_topk

        embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        return pq_adc_topk(
            embs, F.col("vec_id") < 20, m=4, k_codes=4, iters=2, k=10
        )

    def ann_int8():
        from fluent_bit_spark.operators.similarity import quantized_topk

        embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        q = embs.filter(F.col("vec_id") < 20).withColumnRenamed(
            "vec_id", "query_id"
        )
        return quantized_topk(embs.filter(F.col("vec_id") >= 20), q, k=10)

    def minhash_eval():
        import __spark_entry__ as entry

        return entry._raw_queries()["minhash_eval"](spark, SF_DIR)

    def ann_ivfpq():
        from fluent_bit_spark.operators.similarity import ivfpq_topk

        embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        return ivfpq_topk(embs, F.col("vec_id") < 20, k=10, dim=64)

    def url_dedup():
        import __spark_entry__ as entry

        return entry._raw_queries()["url_dedup"](spark, SF_DIR)

    def hard_negatives():
        from fluent_bit_spark.operators.text_analysis import hard_negatives as op

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        return op(docs, every=25, qtokens=8, n_neg=5)

    def shard_manifest():
        from fluent_bit_spark.operators.packing import shard_manifest as op

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        return op(docs, shard_tokens=2048)

    def dpo_pairs_bench():
        import __spark_entry__ as entry

        return entry._raw_queries()["dpo_pairs"](spark, SF_DIR)

    def tool_args_bench():
        import __spark_entry__ as entry

        return entry._raw_queries()["tool_args"](spark, SF_DIR)

    def edit_dedup_bench():
        import __spark_entry__ as entry

        return entry._raw_queries()["edit_dedup"](spark, SF_DIR)

    def msgpack_pack_bench():
        # the reference's core job: buffer every event as the msgpack
        # [EventTime, map] chunk entry — head-to-head with its
        # single-node pack path (src/flb_pack.c)
        from fluent_bit_spark.operators.wireformat import msgpack_roundtrip

        return msgpack_roundtrip(source).select(
            F.sum("n_bytes").alias("total_bytes"), F.count("*").alias("n")
        )

    def msgpack_pack_jvm_bench():
        # the same serialize path with ZERO Python: whole-stage-codegen
        # byte assembly (functions/wire_expr.py) — the event encoder
        # under forward_roundtrip; msgpack_roundtrip keeps its Python
        # packer, which measured faster than this encoder feeding a
        # Python decode; byte-equality with the Python packer is
        # pytest-pinned
        from fluent_bit_spark.functions.wire_expr import turn_event_bytes

        return turn_event_bytes(
            source.withColumn("ts", F.col("ts").cast("timestamp"))
        ).select(
            F.sum("n_bytes").alias("total_bytes"), F.count("*").alias("n")
        )

    def tf_inference_bench():
        import __spark_entry__ as entry

        return entry._raw_queries()["tf_inference"](spark, SF_DIR)

    def docker_join_bench():
        # the highest-volume real fluent-bit workload: container
        # json-file partial-line reassembly (window + sorted concat)
        import __spark_entry__ as entry

        return entry._raw_queries()["docker_mode_join"](spark, SF_DIR)

    def zorder_bench():
        import __spark_entry__ as entry

        return entry._raw_queries()["zorder_layout"](spark, SF_DIR)

    def ip_anonymize_bench():
        import __spark_entry__ as entry

        return entry._raw_queries()["ip_anonymize"](spark, SF_DIR)

    def sink_http_bench():
        # representative of the grouped delivery envelopes (one
        # chunk-key shuffle + JVM string rendering): http body per
        # (tag, conv) chunk
        import __spark_entry__ as entry

        return entry._raw_queries()["sink_http"](spark, SF_DIR)

    def websocket_bench():
        # per-record binary codec via Arrow-batched mapInPandas
        import __spark_entry__ as entry

        return entry._raw_queries()["websocket_frames"](spark, SF_DIR)

    def sink_td_bench():
        # grouped codec: per-conversation msgpack stream + gzip
        import __spark_entry__ as entry

        return entry._raw_queries()["sink_td"](spark, SF_DIR)

    return {
        "pipeline_e2e": pipeline_e2e,
        "parse_native": parse_only,
        "parse_arrow": parse_arrow,
        "route_counts": route_counts,
        "conv_stats_salted": conv_stats,
        "stable_order": stable_order,
        "dedup_minhash": dedup_minhash,
        "dedup_simhash": dedup_simhash,
        "grok_parse": grok_parse,
        "winnow_fp": winnow_fp,
        "ann_topk": ann_topk,
        "sft_pairs": sft_pairs,
        "unigram_lm": unigram_lm,
        "chunk_docs": chunk_docs,
        "bloom_contam": bloom_contam,
        "bpe_merges": bpe_merges,
        "bm25_topk": bm25_topk,
        "span_dedup": span_dedup,
        "semantic_dedup": semantic_dedup,
        "dsir_weights": dsir_weights,
        "interval_overlap": interval_overlap,
        "ann_pq": ann_pq,
        "ann_int8": ann_int8,
        "minhash_eval": minhash_eval,
        "ann_ivfpq": ann_ivfpq,
        "url_dedup": url_dedup,
        "hard_negatives": hard_negatives,
        "shard_manifest": shard_manifest,
        "dpo_pairs": dpo_pairs_bench,
        "tool_args": tool_args_bench,
        "edit_dedup": edit_dedup_bench,
        "msgpack_pack": msgpack_pack_bench,
        "msgpack_pack_jvm": msgpack_pack_jvm_bench,
        "tf_inference": tf_inference_bench,
        "docker_join": docker_join_bench,
        "zorder_layout": zorder_bench,
        "ip_anonymize": ip_anonymize_bench,
        "sink_http": sink_http_bench,
        "websocket_frames": websocket_bench,
        "sink_td": sink_td_bench,
    }


# Queries whose in-suite timings have been observed to swing with host
# page-cache / storage-pool pressure (r2/r3 postmortems): re-measured in
# isolation inside the default driver run so the per-round artifact
# carries a variance-immune figure next to the suite one.
ISO_SUBSET = [
    "pipeline_e2e",
    "ann_pq",
    "ann_ivfpq",
    "bm25_topk",
    "semantic_dedup",
    "minhash_eval",
    "bloom_contam",
    # added r4 (this-session suite run read 8.6 s / 15.0 s for these
    # two under neighbor pressure vs 2.2 s / 4.1 s isolated)
    "dedup_minhash",
    "hard_negatives",
    # added r5: the two r4 suite regressions (hard_negatives +5%,
    # ip_anonymize +26%) tracked isolated per the r4 verdict #4 so
    # noise and code are separable round over round
    "ip_anonymize",
]


def _iso_worker() -> None:
    """One query in a fresh JVM: build source, warm once, median of N
    timed repeats. Prints one JSON line."""
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--query", required=True)
    ap.add_argument("--repeats", type=int, default=3)
    args = ap.parse_args(sys.argv[2:])

    from fluent_bit_spark.session import get_spark
    from fluent_bit_spark.operators.dedup import release_persisted

    spark = get_spark(
        f"fbs-iso-{args.query}", master=f"local[{CPUS}]", shuffle_partitions=CPUS
    )
    source = build_source(spark).persist()
    rows = source.count()
    fn = bench_queries(spark, source)[args.query]
    _force(fn())  # warm: codegen, broadcast, python workers
    release_persisted()
    times = []
    for _ in range(args.repeats):
        t0 = time.perf_counter()
        _force(fn())
        times.append(time.perf_counter() - t0)
        release_persisted()
    med = sorted(times)[len(times) // 2]
    print(json.dumps({"query": args.query, "sec": round(med, 3), "rows": rows}))
    spark.stop()


def run_isolated_queries(
    names: list[str], passes: int = 2
) -> tuple[dict[str, float], dict[str, list]]:
    """Fresh JVM per query (nothing shared: storage pool, codegen cache,
    python-worker pool all cold-started then per-query warmed).

    `passes` > 1 sweeps the WHOLE list again — every query, not just
    the slow ones, so the estimator is symmetric across the set (the
    r4 artifact applied best-of-two only to readings > 2.5 s, which
    biased cross-round comparisons toward improvement on the slow
    subset).  Returns (min_by_name, readings_by_name): the min is the
    headline (host-window noise on this shared VM is strictly
    additive, so the min over temporally separated windows bounds the
    code's real cost), and the full per-pass readings ship in the
    artifact so consumers can see the spread.

    A query that hits the subprocess timeout is recorded as the
    string "timeout" in its readings and NOT re-run on later passes —
    a genuinely hung query must not double the suite's worst-case
    wall time.  Nonzero-exit failures record None and DO retry (a
    crash can be a transient OOM from a bad co-tenant window)."""
    import subprocess

    out: dict[str, float] = {}
    readings: dict[str, list] = {name: [] for name in names}
    timed_out: set[str] = set()
    for _ in range(max(1, passes)):
        for name in names:
            if name in timed_out:
                continue
            try:
                proc = subprocess.run(
                    [sys.executable, os.path.abspath(__file__), "--_iso-worker",
                     "--query", name],
                    capture_output=True, text=True,
                    timeout=900,  # a hung worker must not hang the suite JSON
                )
            except subprocess.TimeoutExpired:
                timed_out.add(name)
                readings[name].append("timeout")
                out.setdefault(name, None)
                continue
            if proc.returncode != 0:
                readings[name].append(None)  # worker died; visible in artifact
                out.setdefault(name, None)
                continue
            line = proc.stdout.strip().splitlines()[-1]
            sec = json.loads(line)["sec"]
            readings[name].append(sec)
            prev = out.get(name)
            out[name] = sec if prev is None else min(prev, sec)
    return out, readings


def run_isolated_all() -> None:
    from fluent_bit_spark.session import get_spark

    spark = get_spark("fbs-iso-list", master="local[2]", shuffle_partitions=2)
    names = list(bench_queries(spark, build_source(spark)))
    spark.stop()
    timings, iso_readings = run_isolated_queries(names)
    print(
        json.dumps(
            {
                "metric": "isolated per-query wall-clock (fresh JVM, median of 3)",
                "value": timings.get("pipeline_e2e"),
                "unit": "sec",
                "queries": timings,
                "readings": iso_readings,
                "sf": _sf_label(SF_DIR),
                "cpus": CPUS,
                "replicate": REPLICATE,
            }
        )
    )


def run_default() -> None:
    from fluent_bit_spark.session import get_spark

    spark = get_spark("fbs-bench", master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    source = build_source(spark).persist()
    rows = source.count()  # materialize once; also warms the JVM

    from fluent_bit_spark.operators.dedup import release_persisted

    queries = bench_queries(spark, source)
    timings: dict[str, float] = {}
    for name, fn in queries.items():
        # warm THIS query immediately before timing it (codegen,
        # broadcast build, python-worker pool, re-pin the source
        # cache): a single global warmup pass decays — 30 intervening
        # queries evict python workers and storage, which made early
        # timed queries pay cold costs (parse_arrow read 7.2s where
        # its warm cost is 1.3s)
        _force(fn())
        # drop warmup's operator-internal caches so the timed run pays
        # its real signature cost (cache reuse would flatter dedup)
        release_persisted()
        t0 = time.perf_counter()
        _force(fn())
        timings[name] = round(time.perf_counter() - t0, 3)
        # free operator-internal signature caches after EVERY query:
        # r2's ann_topk regressed 39% purely from persisted frames of
        # earlier bench queries crowding the storage pool (no-op when
        # the query registered nothing)
        release_persisted()

    e2e = timings["pipeline_e2e"]
    spark.stop()

    # variance-immune companion figures: fresh JVM per subset query
    # (suite timings share one session and are exposed to storage-pool /
    # page-cache pressure from ~38 neighbors; set
    # SPARK_GRAFT_BENCH_ISOLATED=0 to skip during iteration)
    isolated: dict[str, float] = {}
    iso_readings: dict[str, list] = {}
    if os.environ.get("SPARK_GRAFT_BENCH_ISOLATED", "1") != "0":
        isolated, iso_readings = run_isolated_queries(ISO_SUBSET)

    print(
        json.dumps(
            {
                "metric": "e2e parse->route->aggregate wall-clock",
                "value": e2e,
                "unit": "sec",
                "queries": timings,
                "isolated": isolated,
                "isolated_readings": iso_readings,
                "isolated_mode": (
                    "fresh JVM per query, warm once, median of 3; EVERY query "
                    "re-measured in a second temporally separated pass — min "
                    "kept as the headline (host-window noise is additive), all "
                    "per-pass readings in isolated_readings; timed-out queries "
                    "are not re-run"
                ),
                "sf": _sf_label(SF_DIR),
                "rows": rows,
                "throughput_turns_per_sec": round(rows / e2e, 1) if e2e else None,
                "cpus": CPUS,
                "replicate": REPLICATE,
            }
        )
    )


def cpu_ceiling(lo: int = 8, hi: int = 32, n_iter: int = 20_000_000) -> float:
    """The machine's intrinsic lo->hi process-scaling ceiling measured
    with pure-CPU spinners (no memory pressure). Anything the Spark job
    measures is bounded above by this."""
    import multiprocessing as mp

    def spin(n):
        x = 0
        for _ in range(n):
            x = (x * 1103515245 + 12345) % (1 << 31)

    def rate(nproc):
        ps = [mp.Process(target=spin, args=(n_iter,)) for _ in range(nproc)]
        t0 = time.perf_counter()
        [p.start() for p in ps]
        [p.join() for p in ps]
        return nproc * n_iter / (time.perf_counter() - t0)

    return rate(hi) / ((hi / lo) * rate(lo))


def mem_ceiling(lo: int = 4, hi: int = 16, mb: int = 200, n: int = 12) -> float:
    """The machine's lo->hi process-scaling ceiling for MEMORY-BANDWIDTH
    bound work (each process streams a cache-busting array). The parse
    stage is bandwidth-heavy, so this — not cpu_ceiling — bounds the
    wide-width scale-out analogs: all N local JVMs share one memory bus,
    whereas real 4x executor scale-out adds 4 buses."""
    import multiprocessing as mp

    import numpy as np

    def spin(k):
        a = np.arange(mb * 125_000, dtype=np.int64)
        s = 0
        for _ in range(k):
            s += int(a.sum())

    def rate(nproc):
        ps = [mp.Process(target=spin, args=(n,)) for _ in range(nproc)]
        t0 = time.perf_counter()
        [p.start() for p in ps]
        [p.join() for p in ps]
        return nproc * n / (time.perf_counter() - t0)

    return rate(hi) / ((hi / lo) * rate(lo))


def run_scaling(pairs=((2, 8), (8, 32)), repeats: int = 3) -> None:
    from fluent_bit_spark.session import get_spark

    levels = sorted({n for p in pairs for n in p})
    results = {}
    rows = None
    for n in levels:
        spark = get_spark(f"fbs-scale-{n}", master=f"local[{n}]", shuffle_partitions=n)
        source = build_source(spark).persist()
        rows = source.count()
        qs = bench_queries(spark, source)
        _force(qs["pipeline_e2e"]())  # warmup
        times = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            _force(qs["pipeline_e2e"]())
            times.append(time.perf_counter() - t0)
        med = sorted(times)[len(times) // 2]
        results[n] = {"sec": round(med, 3), "turns_per_sec": round(rows / med, 1)}
        source.unpersist()
        spark.stop()

    effs = {
        f"{lo}->{hi}": round(
            results[hi]["turns_per_sec"] / ((hi / lo) * results[lo]["turns_per_sec"]), 3
        )
        for lo, hi in pairs
    }
    ceiling = round(cpu_ceiling(), 3)
    # headline value = the widest pair (largest hi), NOT max(): the best
    # pair would hide the weaker one from the one-line metric
    widest = max(pairs, key=lambda p: p[1])
    out = {
        "metric": "scaling efficiency N -> 4N cores",
        "value": effs[f"{widest[0]}->{widest[1]}"],
        "unit": "ratio",
        "per_pair": effs,
        "per_parallelism": results,
        "cpu_ceiling_8_32": ceiling,
        "rows": rows,
        "sf": _sf_label(SF_DIR),
        "replicate": REPLICATE,
    }
    print(json.dumps(out))
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/BASELINE.md", "a") as f:
        f.write(
            f"\n## scaling run (sf={_sf_label(SF_DIR)}, rows={rows}, replicate={REPLICATE})\n\n"
            f"| parallelism | median sec | turns/sec |\n|---|---|---|\n"
            + "".join(
                f"| local[{n}] | {r['sec']} | {r['turns_per_sec']} |\n"
                for n, r in results.items()
            )
            + "\n"
            + "".join(
                f"- efficiency thr({hi})/({hi // lo}*thr({lo})) = **{effs[f'{lo}->{hi}']}**\n"
                for lo, hi in pairs
            )
            + f"- machine pure-CPU ceiling (8->32 processes): {ceiling}\n"
        )


# ---------------------------------------------------------------------------
# process-parallel scaling (the honest N -> 4N *executor* analog):
# 1 local[8] JVM over the full input vs 4 concurrent local[8] JVMs over
# disjoint shards. Separate JVMs = separate heaps/GC, like real
# executors; single-JVM local[8] vs local[32] thread scaling is also
# reported (run_scaling) but conflates executor scaling with shared-
# heap contention no real cluster has.

def _scale_worker() -> None:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--shards", required=True)  # comma-separated parquet dirs
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--ready-file", required=True)
    ap.add_argument("--go-file", required=True)
    ap.add_argument("--out-file", required=True)
    ap.add_argument("--repeats", type=int, default=3)
    args = ap.parse_args(sys.argv[2:])

    from fluent_bit_spark.session import get_spark
    from fluent_bit_spark.plans import flagship
    from fluent_bit_spark.operators.route import explode_routes
    from fluent_bit_spark.operators.aggregate import flowcounter

    # note: -XX:ActiveProcessorCount={cores} pinning was tried here and
    # REVERTED — it slowed BOTH the 1-worker and 4-worker phases ~25%
    # (GC thread pools sized to 4 cores can't keep up with this
    # allocation-heavy regex workload; the measured matrix in
    # BENCH/BASELINE.md records the experiment)
    extra = {}
    jopts = os.environ.get("SPARK_GRAFT_WORKER_JAVA_OPTS", "")
    if jopts:
        extra["spark.driver.extraJavaOptions"] = jopts
    spark = get_spark(
        f"fbs-worker-{os.getpid()}",
        master=f"local[{args.cores}]",
        shuffle_partitions=args.cores,
        extra_conf=extra,
    )
    src = spark.read.parquet(*args.shards.split(",")).persist()
    rows = src.count()

    def e2e():
        routed = flagship.route_stage(
            flagship.enrich_stage(flagship.parse_stage(src), spark)
        )
        return flowcounter(explode_routes(routed), ["sink", "tag"], "1 hour")

    _force(e2e())  # warm
    with open(args.ready_file, "w") as f:
        f.write("ready")
    while not os.path.exists(args.go_file):
        time.sleep(0.05)
    times = []
    for _ in range(args.repeats):
        t0 = time.perf_counter()
        _force(e2e())
        times.append(time.perf_counter() - t0)
    med = sorted(times)[len(times) // 2]
    with open(args.out_file, "w") as f:
        json.dump({"rows": rows, "sec": med}, f)
    spark.stop()


def run_scaling_procs(nshards: int = 4, cores: int = 8) -> None:
    import shutil
    import subprocess
    import tempfile

    from fluent_bit_spark.session import get_spark
    from pyspark.sql import functions as F

    work = tempfile.mkdtemp(prefix="fbs-scale-")
    spark = get_spark("fbs-shard-prep", master=f"local[{cores}]", shuffle_partitions=16)
    # persist: the expensive synthesis plan feeds nshards writes + count
    source = build_source(spark).withColumn(
        "_shard", F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(nshards))
    ).persist()
    for i in range(nshards):
        (
            source.filter(F.col("_shard") == i)
            .drop("_shard")
            .write.mode("overwrite")
            .parquet(f"{work}/shard={i}")
        )
    rows_total = source.count()
    source.unpersist()
    spark.stop()

    shard_dirs = [f"{work}/shard={i}" for i in range(nshards)]

    def run_workers(assignments: list[list[str]]) -> float:
        """Launch one worker per assignment; barrier; return max median sec."""
        go = os.path.join(work, f"go-{len(assignments)}-{time.time()}")
        procs = []
        outs = []
        readies = []
        for w, shards in enumerate(assignments):
            ready = os.path.join(work, f"ready-{len(assignments)}-{w}")
            out = os.path.join(work, f"out-{len(assignments)}-{w}.json")
            readies.append(ready)
            outs.append(out)
            # dedicated cores per worker (the truest executor analog:
            # real clusters pin executors via cgroups). Affinity also
            # makes the JVM size its GC/JIT pools to the visible 8
            # CPUs instead of the machine's 32 — without it, 4 JVMs
            # each spawn machine-sized service-thread pools and the
            # 4-worker phase collapses (measured 0.19-0.77 efficiency
            # run-to-run; see BENCH/BASELINE.md).
            prefix = []
            if os.environ.get("SPARK_GRAFT_SCALE_AFFINITY", "1") != "0":
                lo = w * cores
                prefix = ["taskset", "-c", f"{lo}-{lo + cores - 1}"]
            procs.append(
                subprocess.Popen(
                    prefix
                    + [
                        sys.executable,
                        os.path.abspath(__file__),
                        "--_scale-worker",
                        "--shards",
                        ",".join(shards),
                        "--cores",
                        str(cores),
                        "--ready-file",
                        ready,
                        "--go-file",
                        go,
                        "--out-file",
                        out,
                    ],
                    stdout=subprocess.DEVNULL,
                    stderr=subprocess.DEVNULL,
                )
            )
        try:
            while not all(os.path.exists(r) for r in readies):
                time.sleep(0.2)
                for p in procs:
                    if p.poll() not in (None, 0):
                        raise RuntimeError("scale worker died during warmup")
            with open(go, "w") as f:
                f.write("go")
            rcs = [p.wait() for p in procs]
            bad = [w for w, rc in enumerate(rcs) if rc != 0]
            if bad:
                raise RuntimeError(f"scale workers {bad} exited nonzero: {rcs}")
            secs = []
            for out in outs:
                with open(out) as f:
                    secs.append(json.load(f)["sec"])
            return max(secs)
        finally:
            # never leave multi-GB JVMs spinning on the go-file barrier
            for p in procs:
                if p.poll() is None:
                    p.kill()

    try:
        t1 = run_workers([shard_dirs])  # 1 worker, all shards
        t4 = run_workers([[d] for d in shard_dirs])  # nshards workers, 1 shard each
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise
    thr1 = rows_total / t1
    thr4 = rows_total / t4
    eff = thr4 / (nshards * thr1)
    out = {
        "metric": f"scaling efficiency {cores} -> {nshards}x{cores} cores (process scale-out)",
        "value": round(eff, 3),
        "unit": "ratio",
        "workers_1": {"sec": round(t1, 3), "turns_per_sec": round(thr1, 1)},
        f"workers_{nshards}": {"sec": round(t4, 3), "turns_per_sec": round(thr4, 1)},
        "rows": rows_total,
        "sf": _sf_label(SF_DIR),
        "replicate": REPLICATE,
    }
    print(json.dumps(out))
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/BASELINE.md", "a") as f:
        f.write(
            f"\n## process scale-out run (sf={_sf_label(SF_DIR)}, rows={rows_total}, "
            f"replicate={REPLICATE})\n\n"
            f"N executors ~ N separate local[{cores}] JVMs on disjoint shards "
            f"(the in-sandbox analog of executor scale-out; separate heaps like "
            f"real executors).\n\n"
            f"| workers | wall sec (max) | turns/sec |\n|---|---|---|\n"
            f"| 1 x local[{cores}] | {t1:.3f} | {thr1:.1f} |\n"
            f"| {nshards} x local[{cores}] | {t4:.3f} | {thr4:.1f} |\n\n"
            f"scaling efficiency thr({nshards}W)/({nshards}*thr(1W)) = **{eff:.3f}**\n"
        )
    shutil.rmtree(work, ignore_errors=True)


def _timed_e2e(spark, source, repeats: int = 3):
    """(median sec, per-pass list) for the flagship e2e over a
    persisted source (one warm pass first)."""
    qs = bench_queries(spark, source)
    _force(qs["pipeline_e2e"]())
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        _force(qs["pipeline_e2e"]())
        times.append(round(time.perf_counter() - t0, 3))
    return sorted(times)[len(times) // 2], times


def run_skew(replicate: int | None = None, hot_factor: int = 20) -> None:
    """Flagship e2e under uniform vs hot-conversation skew, both on a
    BALANCED source layout (round-robin repartition — what parquet
    file splits give at scale), so only pipeline skew sensitivity is
    measured, not the synthesis explode's input imbalance."""
    from fluent_bit_spark.session import get_spark
    from fluent_bit_spark.transcripts import synth_transcripts
    from pyspark.sql import functions as F

    rep = replicate or max(REPLICATE, 50)
    spark = get_spark("fbs-skew", master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    out = {}
    for label, kwargs in (
        ("uniform", dict(replicate=rep * 2, hot_factor=0)),
        ("hot", dict(replicate=rep, hot_factor=hot_factor)),
    ):
        src = (
            synth_transcripts(spark, SF_DIR, **kwargs)
            .repartition(2 * CPUS)
            .persist()
        )
        n = src.count()
        top = (
            src.groupBy("conv_id").count()
            .agg(F.max("count")).collect()[0][0]
        )
        med, times = _timed_e2e(spark, src)
        out[label] = {
            "rows": n,
            "hottest_conv_rows": top,
            "median_sec": med,
            "times": times,
            "turns_per_sec": round(n / med, 1),
        }
        src.unpersist()
    spark.stop()
    ratio = round(
        out["hot"]["turns_per_sec"] / out["uniform"]["turns_per_sec"], 3
    )
    print(
        json.dumps(
            {
                "metric": "e2e throughput retention under hot-conv skew "
                          "(balanced layout)",
                "value": ratio,
                "unit": "ratio",
                "runs": out,
                "hot_factor": hot_factor,
                "sf": _sf_label(SF_DIR),
                "cpus": CPUS,
            }
        )
    )


def run_stress(replicate: int | None = None) -> None:
    """Flagship e2e at 10x the standard row count (source persisted
    MEMORY_AND_DISK like the scaling runs) — the row-linearity
    evidence behind BENCH/BASELINE.md's stress section."""
    from pyspark import StorageLevel

    from fluent_bit_spark.session import get_spark
    from fluent_bit_spark.transcripts import synth_transcripts

    rep = replicate or int(os.environ.get("SPARK_GRAFT_STRESS_REPLICATE", "1000"))
    spark = get_spark("fbs-stress", master=f"local[{CPUS}]", shuffle_partitions=2 * CPUS)
    t0 = time.perf_counter()
    src = synth_transcripts(spark, SF_DIR, replicate=rep).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    rows = src.count()
    derive = round(time.perf_counter() - t0, 3)
    med, times = _timed_e2e(spark, src)
    spark.stop()
    print(
        json.dumps(
            {
                "metric": "e2e wall-clock at stress scale",
                "value": med,
                "unit": "sec",
                "rows": rows,
                "derive_and_persist_sec": derive,
                "times": times,
                "turns_per_sec": round(rows / med, 1),
                "sf": _sf_label(SF_DIR),
                "replicate": rep,
                "cpus": CPUS,
            }
        )
    )


if __name__ == "__main__":
    if "--_scale-worker" in sys.argv:
        _scale_worker()
    elif "--_iso-worker" in sys.argv:
        _iso_worker()
    elif "--isolated" in sys.argv:
        run_isolated_all()
    elif "--scaling-procs" in sys.argv:
        run_scaling_procs(
            nshards=int(os.environ.get("SPARK_GRAFT_SCALE_SHARDS", "4")),
            cores=int(os.environ.get("SPARK_GRAFT_SCALE_CORES", "8")),
        )
    elif "--scaling" in sys.argv:
        run_scaling()
    elif "--skew" in sys.argv:
        run_skew()
    elif "--stress" in sys.argv:
        run_stress()
    else:
        run_default()
