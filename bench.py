"""Benchmark harness: runs every catalog query (``__spark_entry__.queries()``,
in registry order) at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line with per-query wall
seconds and the Spark jobs, stages and tasks of each query's warm runs.

Execution is forced with the noop sink (full computation, no driver
collect, no disk write) — measuring plan execution, not materialization
overhead.

Environment:
  SPARK_GRAFT_BENCH_ONLY=a,b   run only these queries, in this order
  SPARK_GRAFT_BENCH_REPEAT=k   warm time = median of k runs (default 1)
  SPARK_GRAFT_BENCH_OUT=path   full-payload file, relative to this
                               directory (default BENCH_LOCAL.json;
                               empty = write none)

``SPARK_GRAFT_BENCH_ONLY=a,b SPARK_GRAFT_BENCH_REPEAT=3 python bench.py``
is the per-query profiler: the payload's ``profile`` dict gives, per warm
run, jobs, stages, tasks, executor run seconds, shuffle-read bytes and
input bytes.  ``tools/bench_compare.py`` compares two payloads on the
queries both ran.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.spans import MB, SparkRest, Tracer, job_count, stage_sum  # noqa: E402

# Queries with MEASURED ≥2× same-code run variance (PERF.md noise
# quantification; VERDICT r9 item 3): their warm number is always a
# median-of-3, even when SPARK_GRAFT_BENCH_REPEAT is unset, so a
# single scheduler hiccup can't print a phantom regression into the
# headline artifact.
NOISY_MOVERS = {
    "fuzzy_pairs_blocked",
    "mmr_diversified_rerank",
    "entity_components_star",
    "hits_hub_authority",
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _warm_up(spark, qs: dict, sf_dir: str) -> None:
    """Pay the one-time JVM and Python-worker costs before any timed run.

    The first query otherwise measures JIT/classloading, and the first
    mapInArrow/ArrowEvalPython query pays worker spawn + numpy/pyarrow
    import once per app — measured 5–20 s (OPTIMIZATION_r11.md), landing
    on whichever Arrow-path query happens to run first."""
    _noop(qs["rename_project"](spark, sf_dir))

    def _arrow_warm(batches):
        import numpy  # noqa: F401
        import pyarrow  # noqa: F401

        yield from batches

    _noop(spark.range(0, 32, 1, 32).mapInArrow(_arrow_warm, "id bigint"))


def _read_stages(rest: SparkRest, span) -> None:
    """Attach the jobs started inside ``span`` and their COMPLETE stages."""
    span.jobs = [j for j in rest.get("jobs") if span.job_lo <= j["jobId"] < span.job_hi]
    ids = {i for j in span.jobs for i in j["stageIds"]}
    span.stages = [
        s for s in rest.get("stages") if s["status"] == "COMPLETE" and s["stageId"] in ids
    ]


def _per_run(span, key: str, reps: int) -> int:
    return stage_sum([span], key) // reps


def measure(spark, qs: dict, names: list[str], sf_dir: str, rest: SparkRest) -> dict:
    """Run each query cold once, then warm ``reps`` times, and read the
    Spark jobs started by the warm runs (job-id watermarks around them)
    with their COMPLETE stages.  REST reads happen after each query's
    timed runs, so the default UI retention covers them."""
    reps_env = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "1")))
    tracer = Tracer(rest, run="bench")
    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    shuffle_b: dict[str, int] = {}
    spill_b: dict[str, int] = {}
    profile: dict[str, dict] = {}
    for name in names:
        t0 = time.time()
        _noop(qs[name](spark, sf_dir))
        cold[name] = round(time.time() - t0, 3)
        # Queries that persist() intermediates would otherwise leak cached
        # blocks into every later measurement (growing GC pressure made
        # late queries 2-4× noisier); each run starts from a clean cache.
        spark.catalog.clearCache()
        # Warm runs hit the codegen cache, so they measure the
        # data-proportional work; cold − warm ≈ per-plan analysis +
        # codegen, which amortizes to nothing at real scale.
        reps = max(reps_env, 3) if name in NOISY_MOVERS else reps_env
        times = []
        with tracer.span(name) as span:
            for _ in range(reps):
                t0 = time.time()
                _noop(qs[name](spark, sf_dir))
                times.append(time.time() - t0)
                spark.catalog.clearCache()
        times.sort()
        warm[name] = round(times[len(times) // 2], 3)

        _read_stages(rest, span)
        # Every rep runs the same stages: report per warm run, so
        # REPEAT=3 payloads compare with REPEAT=1 ones.
        shuffle_b[name] = _per_run(span, "shuffleWriteBytes", reps)
        spill_b[name] = _per_run(span, "memoryBytesSpilled", reps) + _per_run(
            span, "diskBytesSpilled", reps
        )
        profile[name] = {
            "jobs": round(job_count([span]) / reps, 1),
            "stages": round(len(span.stages) / reps, 1),
            "tasks": round(stage_sum([span], "numCompleteTasks") / reps, 1),
            "executor_run_s": round(stage_sum([span], "executorRunTime") / 1000 / reps, 3),
            "shuffle_read_b": _per_run(span, "shuffleReadBytes", reps),
            "input_b": _per_run(span, "inputBytes", reps),
        }
    return {
        "cold": cold,
        "warm": warm,
        "shuffle_b": shuffle_b,
        "spill_b": spill_b,
        "profile": profile,
    }


def _recall(truth: list, got: list) -> float:
    return len(set(truth) & set(got)) / max(len(truth), 1)


def quality(spark, qs: dict, sf_dir: str) -> dict:
    """Recall of the approximate-search queries against exact top-10s and
    the hard-negative miners' agreement with brute-exact truth (tiny
    collects: every result is <= 20 rows)."""
    from pyspark.sql import functions as F

    from beacon_data_importer_spark.operators.pq import _sq_dist, pq_search_rerank

    def ids(name: str) -> list:
        return [r.neighbor_id for r in qs[name](spark, sf_dir).collect()]

    # ANN: the pruned IVF searches against the exact brute-force top-10.
    exact = [
        r.neighbor_id
        for r in qs["similarity_topk"](spark, sf_dir).collect()
        if r.query_id == 0
    ]

    # PQ: the ADC distance approximates squared L2, so its reference is
    # the exact squared-L2 top-10 (not the cosine list).
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def exact_l2(qid: int) -> list:
        qv = emb.filter(f"vec_id = {qid}").select(
            F.col("embedding").cast("array<double>").alias("__q")
        )
        return [
            r.vec_id
            for r in emb.crossJoin(F.broadcast(qv))
            .filter(f"vec_id != {qid}")
            .select(
                "vec_id",
                _sq_dist(F.col("embedding").cast("array<double>"), F.col("__q")).alias("__d"),
            )
            .orderBy("__d", "vec_id")
            .limit(10)
            .collect()
        ]

    exact0 = exact_l2(0)

    # Multi-query recall: the single-query numbers move in 0.1 steps (one
    # neighbor of ten), so this averages PQ re-rank recall over three
    # query vectors via the operator API — the check that a good
    # single-query number isn't luck.
    n_vecs = emb.count()
    mq = [
        _recall(
            exact_l2(qid),
            [
                r.neighbor_id
                for r in pq_search_rerank(
                    emb, emb.filter(f"vec_id = {qid}"), k=10, shortlist=200, exclude_id=qid
                ).collect()
            ],
        )
        for qid in (0, 7, 123)
        if qid < n_vecs
    ]

    # Hard-negative mining: agreement of the IVF cell-join variants'
    # mined (pos, neg) pairs with the brute-exact truth.
    hnm = qs["hard_negative_recall_audit"](spark, sf_dir).collect()[0]
    hnms = qs["hard_negative_scaled_recall_audit"](spark, sf_dir).collect()[0]
    out = {
        "ivf_recall_at_10": _recall(exact, ids("ivf_search")),
        "kmeans_ivf_recall_at_10": _recall(exact, ids("ivf_kmeans_search")),
        "pq_recall_at_10": _recall(exact0, ids("pq_search_rerank")),
        "pq_adc_recall_at_10": _recall(exact0, ids("pq_search")),
        "ivfpq_recall_at_10": _recall(exact0, ids("ivfpq_search")),
        "ivfpq_residual_recall_at_10": _recall(exact0, ids("ivfpq_residual_search")),
        "pq_recall_at_10_3q_mean": sum(mq) / max(len(mq), 1),
        "hnm_ivf_pos_agree": hnm.pos_agree / max(hnm.n_queries, 1),
        "hnm_ivf_neg_agree": hnm.neg_agree / max(hnm.n_queries, 1),
        "hnm_scaled_pos_agree": hnms.pos_agree / max(hnms.n_queries, 1),
        "hnm_scaled_neg_agree": hnms.neg_agree / max(hnms.n_queries, 1),
    }
    return {k: round(v, 3) for k, v in out.items()}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as entrymod
    from beacon_data_importer_spark.plans.staging_meter import STAGING_SEC
    from beacon_data_importer_spark.session import get_spark

    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    rest = SparkRest(spark)
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "")
    names = [q.strip() for q in only.split(",") if q.strip()] or list(qs)

    _warm_up(spark, qs, sf_dir)
    m = measure(spark, qs, names, sf_dir, rest)
    q = quality(spark, qs, sf_dir)
    # Peak JVM heap across executors (single-JVM locally): the "does it
    # fit in executor memory at this SF" signal next to spill bytes.
    peak_heap_b = round(rest.peak_heap_mb() * MB)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    # Key ORDER is deliberate: round harnesses record only the TAIL of
    # this (single) JSON line, so the per-query detail dicts go FIRST and the
    # headline fields (metric/value/totals/quality) go LAST — under tail
    # truncation the decision-bearing numbers survive.  The spill dict
    # keeps only NONZERO entries; spill_total_b still reports the full sum.
    # staging_sec is the once-per-session build time of the shared staged
    # frames (corpus LSH, co-purchase edges, ER pairs), which lands inside
    # whichever timed query runs first; it sits just ahead of the headline
    # fields so that a tail capture keeps it.
    payload = json.dumps(
        {
            # Jobs/stages/tasks/executor time/bytes per warm run.
            "profile": m["profile"],
            # Bytes written to shuffle per query (per warm run).
            # Scale-safety signal: aggregations should shuffle O(groups),
            # LSH O(docs × bands) — never O(input bytes).
            "shuffle_write_b": m["shuffle_b"],
            "queries": m["cold"],
            "queries_warm": m["warm"],
            # Spill per query (memory+disk, per warm run): anything nonzero
            # here means partitions outgrew executor memory at this SF.
            "spill_b_nonzero": {k: v for k, v in m["spill_b"].items() if v},
            "spill_total_b": sum(m["spill_b"].values()),
            "shuffle_write_total_b": sum(m["shuffle_b"].values()),
            "peak_jvm_heap_b": peak_heap_b,
            "quality": q,
            "warm_total": round(sum(m["warm"].values()), 3),
            "n_queries": len(m["warm"]),
            "sf": sf_val,
            "staging_sec_detail": dict(STAGING_SEC),
            "staging_sec": round(sum(STAGING_SEC.values()), 3),
            "metric": "headline_queries_total_wall",
            "unit": "sec",
            "value": round(sum(m["cold"].values()), 3),
        }
    )
    print(payload)
    # Round harnesses truncate the printed line, so the FULL payload goes
    # to a repo file (committed at each round close as
    # BENCH_LOCAL_r{N}.json) and per-query deltas stay computable from git.
    out = os.environ.get("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    if out:
        try:
            with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), out), "w") as f:
                f.write(payload + "\n")
        except OSError:
            pass  # read-only checkout: the printed line still has it


if __name__ == "__main__":
    main()
