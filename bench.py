"""Headline benchmark — one COMPACT JSON line for the driver, full record
in bench_out.json.

Runs the SURVEY §6 headliners (TPC-H core, minhash dedup, ANN brute force,
text analysis, event-time agg) at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS]. Each query is forced end-to-end through the
`noop` sink (full execution, no driver collect bottleneck). The final
stdout line is kept under ~1.9 KB (the driver stores a 2000-char tail);
everything — per-query spreads, candidate stats, context — lands in
bench_out.json next to this file.
"""

from __future__ import annotations

import json
import os
import sys
import time

HEADLINERS = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q10_returned_items",
    "dedup_minhash_lsh",
    "ann_brute_topk",
    "text_langid",
    "text_quality_score",
    "text_token_count",
    "text_fingerprint",
    "events_tumbling_agg",
]

# second-scale anchor: the slowest headliners re-timed at ~sf1 (10× sf0.1,
# generated once into <repo>/benchdata/sf1 — scripts/make_benchdata.py) so
# the per-round number has a same-workload scale trend, not a single point.
# Disable with SPARK_GRAFT_LARGE=0.
LARGE_HEADLINERS = [
    "dedup_minhash_lsh",
    "text_fingerprint",
    "q5_local_supplier",
    "q3_shipping_priority",
    "q10_returned_items",
    # one representative per remaining family, so the scale trend covers
    # ANN, codegen text scoring, and event-time aggregation too
    "ann_brute_topk",
    "text_quality_score",
    "events_tumbling_agg",
]

# third-scale anchor (VERDICT r09 task 1): the same 8 headliners plus one
# representative per BUCKETED-JOIN family re-timed at sf10 (100× sf0.1,
# benchdata/sf10) so the decade trend sf1 → sf10 is measured, with the
# candidate-pair/bucket counts of every pairwise join recorded alongside.
# Disable with SPARK_GRAFT_SF10=0.
SF10_HEADLINERS = LARGE_HEADLINERS + [
    "dedup_setsim_prefix",
    "text_inverted_index",
]

# primary scaled input per sf10 headliner — sf1 froze events/embeddings at
# sf0.1 size (its history must stay comparable), so those families grow
# 100× sf1→sf10 while the lineitem/documents families grow 10×; the ratio
# table records the factor so a reader never divides by the wrong decade.
SF10_PRIMARY_INPUT = {
    "q3_shipping_priority": "lineitem",
    "q5_local_supplier": "lineitem",
    "q10_returned_items": "lineitem",
    "dedup_minhash_lsh": "documents",
    "text_fingerprint": "documents",
    "text_quality_score": "documents",
    "dedup_setsim_prefix": "documents",
    "text_inverted_index": "documents",
    "ann_brute_topk": "embeddings",
    "knn_graph_lsh_adaptive": "embeddings",
    "events_tumbling_agg": "events",
}


def _plan_source_digest() -> str:
    """Digest of the plan modules whose code SHAPES the cached candidate
    stats (ADVICE r10: the cache key carried only the data-generator
    parameters, so a plane-seed / prefix-filter / shingle change would
    keep reporting stale candidate counts as current scale evidence)."""
    import hashlib

    root = os.path.dirname(os.path.abspath(__file__))
    h = hashlib.sha256()
    for rel in (
        "australian_company_etl_spark/functions/vectors.py",
        "australian_company_etl_spark/plans/dedup.py",
        "australian_company_etl_spark/plans/similarity.py",
        "australian_company_etl_spark/plans/text.py",
    ):
        with open(os.path.join(root, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]



def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from australian_company_etl_spark.session import get_spark
    from australian_company_etl_spark.plans import all_queries

    spark = get_spark(app_name="aus-etl-bench")
    queries = all_queries()

    # all-core burn ~5s before any warmup or timed region (VERDICT r06
    # task 4): executor-thread warmup plus insurance against hosts that
    # throttle from idle. NB the round-7 measurement (SURVEY §6): THIS host
    # shows no machine-level idle ramp — a fixed all-core job profiles
    # identically from a 12-min-idle and a hot box — so the bench_r6_run4
    # first-run effect was in-JVM JIT depth + compile-scheduling variance,
    # which the untimed full-scale warmup tiers below address directly.
    from scripts.benchutil import cpu_burn

    burn_sec = cpu_burn(spark)

    # data-free host yardstick (SURVEY §6, round 9): the fixed sha2-64M
    # all-core job whose converged floor tracks the HOST's CPU-dense
    # throughput independent of any plan or parquet layout. Round 9
    # measured the same host swinging 0.55-0.65s → 0.79-0.91s → back
    # within one day (virtualized neighbors) — which fully explained the
    # round-8 "q3 drift". Three timed passes after the burn; compare
    # calibration floors BEFORE comparing any query seconds across runs.
    calib = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 64_000_000, 1, 32).selectExpr(
            "count(sha2(cast(id as string), 256)) as n"
        ).collect()
        calib.append(round(time.perf_counter() - t0, 3))

    # short-task scheduling yardstick (VERDICT r09 task 3): the all-core
    # calib tracks CPU-dense throughput but is blind to per-job dispatch /
    # scheduling tail, which DOMINATES sub-second queries — the sf0.1
    # section's driver-vs-builder 4× regime gap lives here, not in the
    # plans. 10 trivial 32-task jobs; on an idle box the median is tens of
    # ms, under a co-running suite/JVM it inflates several-fold while the
    # CPU-dense calib barely moves. Compare sched_probe medians BEFORE
    # comparing any sub-second query times across runs.
    sched = []
    for _ in range(10):
        t0 = time.perf_counter()
        spark.range(0, 32, 1, 32).selectExpr("sum(id) as s").collect()
        sched.append(round(time.perf_counter() - t0, 4))
    sched_sorted = sorted(sched)
    sched_probe = {
        "median": sched_sorted[5],
        "p90": sched_sorted[8],
        "runs": sched,
    }

    # JVM/codegen warmup outside the timed region, two tiers:
    # (1) every headliner once at the smallest SF (plan compilation +
    #     codegen for all 12 plans);
    # (2) every headliner once UNTIMED at the benchmark SF itself — tiered
    #     JIT only reaches steady state after the hot codegen paths see
    #     full-scale row counts (the round-2 sf0.1 numbers were taken with
    #     C2 still compiling: minhash timed 6.5s at sf0.1 but 2.2s at sf1,
    #     where a full-scale warm run already preceded the timed loop).
    warm_dir = "/root/testdata/sf0.001" if os.path.isdir("/root/testdata/sf0.001") else sf_dir
    for name in HEADLINERS:
        queries[name](spark, warm_dir).write.mode("overwrite").format("noop").save()
    for name in HEADLINERS:
        spark.catalog.clearCache()
        queries[name](spark, sf_dir).write.mode("overwrite").format("noop").save()

    # min of 3 timed runs per query: machine noise at this data scale is of
    # the same order as the queries themselves, and the driver records one
    # number; the per-query spread (max-min across the timed runs) is
    # reported alongside so that number carries an error bar. The cache is
    # cleared before every run so internal persists from the previous run
    # can't turn a later run into a cache read — each timed run does the
    # full compute with warmed codegen/JIT.
    times: dict[str, float] = {}
    spreads: dict[str, float] = {}
    total = 0.0
    # ambient-load context for the timed numbers (VERDICT r05 task 2: a
    # regression claim must be separable from machine noise) — 1/5/15-min
    # load averages recorded immediately before each timed region.
    load_before = [round(x, 2) for x in os.getloadavg()]
    for name in HEADLINERS:
        runs = []
        for _ in range(3):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            queries[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
            runs.append(round(time.perf_counter() - t0, 3))
        best = min(runs)
        times[name] = best
        spreads[name] = round(max(runs) - best, 3)
        total += best
        print(f"# {name}: {best}s (spread {spreads[name]}s)", file=sys.stderr)

    result = {
        "metric": "headline_queries_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": times,
        "spread": spreads,
        "load_avg_before": load_before,
        "load_avg_after": [round(x, 2) for x in os.getloadavg()],
        # measurement context (VERDICT r07 task 8): everything a reader
        # needs to classify this run without the SURVEY §6 noise model —
        # what warmed up before timing, and how to judge a loaded-box
        # number. The r7-measured model: this host has NO machine-level
        # idle ramp; first-run inflation is in-JVM tiered JIT (~10x on a
        # codegen path's first execution) plus occasional 1.5-2x C2
        # compile contention with the 32 executor threads.
        "context": {
            "burn_sec": burn_sec,
            "calib_sha2_64m": calib,
            "calib_note": "fixed data-free all-core job; floor ~0.55-0.91s depending on host neighbors — normalize cross-run query comparisons by this before claiming a regression",
            "sched_probe_32task": sched_probe,
            "sched_note": "trivial 32-task job latency (dispatch/scheduling tail): sub-second sf0.1 query times scale with THIS, not the CPU-dense calib — a run whose sched median is several-fold another's is in a different contention regime and their sf0.1 sections are not comparable (round-10 reconciliation of the driver-vs-builder sf0.1 gap)",
            "warmup_tiers": [
                "all-core sha2 burn before any timed region",
                "every headliner once at sf0.001 (plan + codegen compile)",
                "every headliner once untimed at the bench SF (tiered JIT at full row counts)",
                "min of 3 timed runs, cache cleared before each",
            ],
            "cpus": os.cpu_count(),
            "quiet_box_bar": "1-min load_avg_before < cpus/8; above it, treat a drift as loaded-box noise unless it reproduces on a quiet run",
            "budget_note": "regression tripwire budgets live in scripts/bench_budget.py and are recorded in ITS shallower-warmup context, not this file's",
        },
    }
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    result["sf"] = float(sf) if sf else sf_dir

    if os.environ.get("SPARK_GRAFT_LARGE", "1") != "0":
        from scripts.make_benchdata import REPLICAS, ensure

        large_dir = ensure(spark)
        large_times: dict[str, float] = {}
        large_spreads: dict[str, float] = {}
        large_total = 0.0
        large_load_before = [round(x, 2) for x in os.getloadavg()]
        for name in LARGE_HEADLINERS:
            # one untimed run at the large SF first: tiered JIT only reaches
            # steady state after the hot codegen paths see full-scale row
            # counts (the sf0.001/sf0.1 runs alone leave C2 still compiling
            # through the first large run — measured ~3x on minhash)
            spark.catalog.clearCache()
            queries[name](spark, large_dir).write.mode("overwrite").format("noop").save()
            runs = []
            for _ in range(3):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                queries[name](spark, large_dir).write.mode("overwrite").format("noop").save()
                runs.append(round(time.perf_counter() - t0, 3))
            best = min(runs)
            large_times[name] = best
            large_spreads[name] = round(max(runs) - best, 3)
            large_total += best
            print(f"# [sf1] {name}: {best}s (spread {large_spreads[name]}s)", file=sys.stderr)
        result["large"] = {
            "sf": round((float(sf) if sf else 0.1) * REPLICAS, 3),
            "value": round(large_total, 3),
            "unit": "sec",
            "queries": large_times,
            "spread": large_spreads,
            "load_avg_before": large_load_before,
            "load_avg_after": [round(x, 2) for x in os.getloadavg()],
        }

        # serving probe vs corpus scan at ~sf1 (SURVEY D7): the published
        # search indexes claim O(matched postings) probes — time the claim.
        # Index build happens OUTSIDE the timed region (it is the publish
        # step, amortized over every query the snapshot serves).
        import shutil
        import tempfile

        from australian_company_etl_spark.plans.api import (
            FT_QUERY_TERMS,
            FT_TOPK,
            TRGM_QUERY,
            TRGM_TOPK,
            api_fulltext_rank,
            api_search_trigram,
        )
        from australian_company_etl_spark.serving.http_api import (
            build_fulltext_index,
            build_trigram_index,
            fulltext_rank_from_index,
            trigram_rank_from_index,
        )

        idx_dir = tempfile.mkdtemp(prefix="bench_serving_idx_")
        ft_meta = build_fulltext_index(spark, large_dir, idx_dir)
        build_trigram_index(spark, large_dir, idx_dir)

        def _best_of_3(fn) -> float:
            fn().collect()  # untimed warm run (JIT + shuffle files)
            runs = []
            for _ in range(3):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                fn().collect()
                runs.append(round(time.perf_counter() - t0, 3))
            return min(runs)

        probe_times = {
            "search_probe": _best_of_3(
                lambda: fulltext_rank_from_index(
                    spark, idx_dir, FT_QUERY_TERMS, FT_TOPK, ft_meta["n_docs"]
                )
            ),
            "search_scan": _best_of_3(lambda: api_fulltext_rank(spark, large_dir)),
            "fuzzy_probe": _best_of_3(
                lambda: trigram_rank_from_index(spark, idx_dir, TRGM_QUERY, TRGM_TOPK)
            ),
            "fuzzy_scan": _best_of_3(lambda: api_search_trigram(spark, large_dir)),
        }
        shutil.rmtree(idx_dir)
        result["serving_probe_vs_scan"] = {
            "sf": result["large"]["sf"],
            "probe_sec": round(probe_times["search_probe"] + probe_times["fuzzy_probe"], 3),
            "scan_sec": round(probe_times["search_scan"] + probe_times["fuzzy_scan"], 3),
            "queries": probe_times,
        }
        print(f"# serving probe vs scan: {result['serving_probe_vs_scan']}", file=sys.stderr)

    if os.environ.get("SPARK_GRAFT_SF10", "1") != "0":
        result["sf10"] = _sf10_section(spark, queries, result)
        print(f"# sf10 totals: {result['sf10']['value']}s", file=sys.stderr)

    if os.environ.get("SPARK_GRAFT_STREAMING", "1") != "0":
        result["streaming"] = _streaming_section(spark)
        print(f"# streaming: {result['streaming']}", file=sys.stderr)

    # The FULL record goes to bench_out.json; stdout gets a COMPACT final
    # line (VERDICT r10 task 2): the driver's artifact keeps only a ~2000-
    # char stdout tail, and the full one-line JSON outgrew it in round 8 —
    # BENCH_r08–r10 all carry parsed:null. The compact line keeps the
    # driver-contract keys (metric/value/unit/queries/sf) plus the
    # cross-run normalizers (calib, sched) and section totals.
    out_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_out.json")
    with open(out_path, "w") as f:
        json.dump(result, f)
    compact = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": "sec",
        "sf": result["sf"],
        "queries": times,
        "spread_total": round(sum(spreads.values()), 3),
        "calib_min": min(calib),
        "sched_median": sched_probe["median"],
        "detail": "bench_out.json",
    }
    if "large" in result:
        compact["sf1_sec"] = result["large"]["value"]
    if "serving_probe_vs_scan" in result:
        compact["probe_vs_scan_sec"] = [
            result["serving_probe_vs_scan"]["probe_sec"],
            result["serving_probe_vs_scan"]["scan_sec"],
        ]
    if "sf10" in result:
        compact["sf10_sec"] = result["sf10"]["value"]
        compact["sf10_queries"] = result["sf10"]["queries"]
        compact["knn_adaptive_planes"] = result["sf10"]["knn_plane_lever"][
            "adaptive_n_planes"
        ]
        compact["knn_adaptive_probes"] = result["sf10"]["knn_plane_lever"][
            "adaptive_n_probes"
        ]
    line = json.dumps(compact)
    if len(line) > 1900:  # hard driver-tail bound: drop per-query detail
        compact.pop("sf10_queries", None)
        line = json.dumps(compact)
    if len(line) > 1900:
        compact["queries"] = {}
        line = json.dumps(compact)
    print(line)


def _sf10_section(spark, queries, result: dict) -> dict:
    """The sf1 → sf10 decade trend (VERDICT r09 task 1): re-time the sf1
    headliners plus one representative per bucketed-join family at 100×
    sf0.1, and RECORD the Σ|bucket|² candidate terms of every pairwise
    join at both SFs so superlinear candidate growth is measured, not
    asserted. min-of-2 timed runs (not 3 — the section already adds
    minutes; the spread column still carries the error bar) after one
    untimed full-scale warm run per query."""
    import time as _time

    from scripts.make_benchdata import REPLICAS, SF10_REPLICAS, ensure, ensure_sf10

    sf1_dir = ensure(spark)
    sf10_dir = ensure_sf10(spark)
    # r13 (VERDICT r12 item 2): the sf10 section defaults to MIN-OF-2 timed
    # runs — the r12 single-run rows let pure host dispatch-regime noise
    # read as regression (q5 7.1 → 17.5 s, minhash 7.2 → 10.6 s with zero
    # code change, on a host the r12 GC probe showed swinging ~2-4× between
    # windows). SPARK_GRAFT_SF10_RUNS=1 restores the old cheaper section.
    n_timed = int(os.environ.get("SPARK_GRAFT_SF10_RUNS", "2"))

    def _calib_probe() -> float:
        """Quarter-size sha2 yardstick timed IMMEDIATELY before a query's
        timed runs (r13, VERDICT r12 item 2): every sf10 row carries the
        host's CPU-dense throughput AT THAT INSTANT, so a cross-round
        delta can be normalized row-by-row instead of by the one calib
        taken minutes earlier at bench start."""
        t0 = _time.perf_counter()
        spark.range(0, 16_000_000, 1, 32).selectExpr(
            "count(sha2(cast(id as string), 256)) as n"
        ).collect()
        return round(_time.perf_counter() - t0, 3)

    times: dict[str, float] = {}
    spreads: dict[str, float] = {}
    calib_rows: dict[str, float] = {}
    total = 0.0
    load_before = [round(x, 2) for x in os.getloadavg()]

    def _timed(name: str, fn, d, n_runs: int) -> float:
        """One untimed full-scale warm + calib stamp + min-of-n timed."""
        spark.catalog.clearCache()
        fn(spark, d).write.mode("overwrite").format("noop").save()
        calib_rows[name] = _calib_probe()
        runs = []
        for _ in range(n_runs):
            spark.catalog.clearCache()
            t0 = _time.perf_counter()
            fn(spark, d).write.mode("overwrite").format("noop").save()
            runs.append(round(_time.perf_counter() - t0, 3))
        best = min(runs)
        times[name] = best
        spreads[name] = round(max(runs) - best, 3)
        return best

    for name in SF10_HEADLINERS:
        # setsim: min-of-3 regardless of the section default (VERDICT r10
        # task 6) — its r10 spread was ~37% of value (borderline-broadcast
        # verify join, since pinned shuffle-hash); three runs bound the
        # spread claim either way
        n_q = max(n_timed, 3) if name == "dedup_setsim_prefix" else n_timed
        best = _timed(name, queries[name], sf10_dir, n_q)
        total += best
        print(
            f"# [sf10] {name}: {best}s (spread {spreads[name]}s,"
            f" calib {calib_rows[name]}s)",
            file=sys.stderr,
        )

    # candidate-pair instrumentation for the bucketed-join families —
    # untimed, but the counts ARE the scale claim
    from australian_company_etl_spark.plans.dedup import (
        minhash_candidate_stats,
        pagerank_graph_stats,
        setsim_candidate_stats,
    )
    from australian_company_etl_spark.plans.similarity import (
        N_PLANES,
        adaptive_n_planes,
        adaptive_probe_budget,
        knn_candidate_stats,
        knn_graph_lsh,
        knn_graph_lsh_adaptive,
        knn_planes,
        lsh_recall,
    )
    from australian_company_etl_spark.plans.text import inverted_index_stats

    # candidate stats are pure DATA properties of the deterministic,
    # immutable bench corpora (never host-timing), so they are computed
    # once and memoized beside the data — repeat bench runs (and the
    # driver's per-round run) skip ~3 min of instrumentation jobs. The
    # key carries the generator parameters: a scheme change regenerates.
    import json as _json

    from scripts.make_benchdata import EMB_NOISE

    stats_path = os.path.join(os.path.dirname(sf10_dir), "candidate_stats_cache.json")
    stats_key = f"v2:replicas{SF10_REPLICAS}:noise{EMB_NOISE}:plans{_plan_source_digest()}"
    stats_cache: dict = {}
    if os.path.exists(stats_path):
        stored = _json.load(open(stats_path))
        if stored.get("key") == stats_key:
            stats_cache = stored.get("entries", {})

    def _stat(name: str, fn, *args):
        if name not in stats_cache:
            stats_cache[name] = fn(spark, *args)
        return stats_cache[name]

    def _bare(name: str, fn, *args):
        # probe-free records keep their pre-n_probes key set in bench_out.json
        return {k: v for k, v in _stat(name, fn, *args).items() if k != "n_probes"}

    spark.catalog.clearCache()
    cand = {
        "dedup_minhash_lsh": {
            "sf1": _stat("minhash:sf1", minhash_candidate_stats, sf1_dir),
            "sf10": _stat("minhash:sf10", minhash_candidate_stats, sf10_dir),
        },
        "dedup_setsim_prefix": {
            "sf1": _stat("setsim:sf1", setsim_candidate_stats, sf1_dir),
            "sf10": _stat("setsim:sf10", setsim_candidate_stats, sf10_dir),
        },
        "knn_graph_lsh": {
            "sf1": _bare("knn8p0:sf1", knn_candidate_stats, sf1_dir),
            "sf10": _bare("knn8p0:sf10", knn_candidate_stats, sf10_dir),
        },
        "text_inverted_index": {
            "sf1": _stat("inv:sf1", inverted_index_stats, sf1_dir),
            "sf10": _stat("inv:sf10", inverted_index_stats, sf10_dir),
        },
    }

    # G8 at sf10 (VERDICT r10 task 1): the LIBRARY DEFAULT is now
    # corpus-adaptive — time knn_graph_lsh_adaptive itself (including its
    # one count aggregate) and record which plane count the formula picked
    # plus that config's candidate terms. The fixed-parity 8-plane
    # registry config stays the section's measured scaling offender by
    # construction (~190M ordered pairs over the 100× corpus, cand stats
    # above); it is timed only under SPARK_GRAFT_SF10_KNN8=1. The recall
    # COST of the added planes is recorded alongside the candidate
    # savings (lsh_recall at the parity and adaptive counts).
    n_emb = spark.read.parquet(os.path.join(sf10_dir, "embeddings.parquet")).count()
    n_adapt = adaptive_n_planes(n_emb)
    p_adapt = knn_planes(n_adapt)
    cand["knn_graph_lsh"]["sf10_adaptive"] = _bare(
        f"knn{n_adapt}p0:sf10", knn_candidate_stats, sf10_dir, p_adapt
    )
    # r12: the adaptive default pairs the plane count with a query-directed
    # probe budget (adaptive_probe_budget) to buy back the recall the added
    # planes cost — record one row per config: the 8-plane floor, the bare
    # adaptive count, the curve up to the budget, and the DEFAULT (last).
    n_probe_budget = adaptive_probe_budget(n_adapt)
    bare12 = cand["knn_graph_lsh"]["sf10_adaptive"]["cand_pairs"]
    configs = []
    probe_curve = sorted({0, max(0, n_probe_budget - 2), n_probe_budget})
    for planes_n, probes_n in [(N_PLANES, 0)] + [(n_adapt, t) for t in probe_curve]:
        pl = knn_planes(planes_n)
        rec = _stat(f"lshrecall{planes_n}p{probes_n}:sf10", lsh_recall, sf10_dir, pl, probes_n)
        cst = _stat(f"knn{planes_n}p{probes_n}:sf10", knn_candidate_stats, sf10_dir, pl, probes_n)
        configs.append(
            {
                "planes": planes_n,
                "probes": probes_n,
                "cand_pairs": cst["cand_pairs"],
                "x_bare_adaptive": round(cst["cand_pairs"] / bare12, 2) if bare12 else None,
                "recall_hits": rec["hits"],
                "recall_total": rec["total"],
                "recall_pct": rec["recall_pct"],
            }
        )
    recall = {
        "planes8": _bare("lshrecall8p0:sf10", lsh_recall, sf10_dir),
        f"planes{n_adapt}": _bare(f"lshrecall{n_adapt}p0:sf10", lsh_recall, sf10_dir, p_adapt),
    }
    # F9 trend terms (VERDICT r10 task 7): per-iteration shuffle rows of
    # the iterative-graph family at both SFs
    cand["rank_neardup_pagerank"] = {
        "sf1": _stat("prgraph:sf1", pagerank_graph_stats, sf1_dir),
        "sf10": _stat("prgraph:sf10", pagerank_graph_stats, sf10_dir),
    }
    tmp = stats_path + ".tmp"
    with open(tmp, "w") as f:
        _json.dump({"key": stats_key, "entries": stats_cache}, f)
    os.replace(tmp, stats_path)
    best = _timed("knn_graph_lsh_adaptive", knn_graph_lsh_adaptive, sf10_dir, n_timed)
    total += best
    lever = {
        "adaptive_n_planes": n_adapt,
        "adaptive_n_probes": n_probe_budget,
        "n_vectors": n_emb,
        "knn_adaptive_sec": best,
        "lsh_recall": recall,
        "configs": configs,
        "note": "library default = adaptive planes + one query-directed Hamming-1 probe per plane past the parity floor (adaptive_probe_budget); measured holding the recall gauge at the 8-plane floor at ~36% of the 8-plane candidate cost (configs rows; the bare adaptive config was 7% of that cost but half the recall). Probing-with-more-planes (13-16 planes, up to 12 probes) was measured WORSE on this corpus: near-random embeddings put true neighbors 2-3 sign bits away, so recall collapses as planes grow faster than single-flip probes repair. The 8-plane registry config stays the frozen parity twin, timed only under SPARK_GRAFT_SF10_KNN8=1",
    }
    if os.environ.get("SPARK_GRAFT_SF10_KNN8", "0") == "1":
        spark.catalog.clearCache()
        t0 = _time.perf_counter()
        knn_graph_lsh(spark, sf10_dir).write.mode("overwrite").format("noop").save()
        lever["knn_planes8_sec_single_run"] = round(_time.perf_counter() - t0, 3)
    print(f"# [sf10] knn lever: {lever}", file=sys.stderr)

    # F9 pagerank timed at both decades (the one family without an sf10
    # line through round 10): min-of-n after one untimed warm run each
    pr_fn = queries["rank_neardup_pagerank"]
    pr_trend = {}
    for label, d in (("sf1_sec", sf1_dir), ("sf10_sec", sf10_dir)):
        spark.catalog.clearCache()
        pr_fn(spark, d).write.mode("overwrite").format("noop").save()
        if d is sf10_dir:
            calib_rows["rank_neardup_pagerank_sf10"] = _calib_probe()
        runs = []
        for _ in range(n_timed):
            spark.catalog.clearCache()
            t0 = _time.perf_counter()
            pr_fn(spark, d).write.mode("overwrite").format("noop").save()
            runs.append(round(_time.perf_counter() - t0, 3))
        pr_trend[label] = min(runs)
    pr_trend["t_ratio"] = (
        round(pr_trend["sf10_sec"] / pr_trend["sf1_sec"], 2)
        if pr_trend["sf1_sec"] > 0
        else None
    )
    pr_trend["edges_per_iter"] = {
        "sf1": cand["rank_neardup_pagerank"]["sf1"]["rows_joined_per_iter"],
        "sf10": cand["rank_neardup_pagerank"]["sf10"]["rows_joined_per_iter"],
    }
    times["rank_neardup_pagerank_sf10"] = pr_trend["sf10_sec"]
    total += pr_trend["sf10_sec"]
    print(f"# [sf10] pagerank trend: {pr_trend}", file=sys.stderr)

    # L/M/J decade lines (VERDICT r11 task 5): those families previously
    # had no sf10 trend at all — time one representative each at sf1 AND
    # sf10 (L6 RANGE-frame rolling window over the event stream, M5 HLL
    # build, M9 HLL sliding window w/ merge, J19 max-struct CDC combine)
    # and record t_ratio beside the measured events rows factor, same
    # sublinear-or-adjudicated bar as the pagerank line.
    fam_trend: dict = {}
    ev_rows = {
        "sf1": spark.read.parquet(os.path.join(sf1_dir, "events.parquet")).count(),
        "sf10": spark.read.parquet(os.path.join(sf10_dir, "events.parquet")).count(),
    }
    for name in (
        "rolling_window_24h",
        "sketch_hll_distinct",
        "sketch_hll_sliding_window",
        "events_cdc_snapshot",
    ):
        fn = queries[name]
        entry: dict = {}
        for label, d in (("sf1_sec", sf1_dir), ("sf10_sec", sf10_dir)):
            spark.catalog.clearCache()
            fn(spark, d).write.mode("overwrite").format("noop").save()
            if d is sf10_dir:
                calib_rows[name + "_sf10"] = _calib_probe()
            runs = []
            for _ in range(n_timed):
                spark.catalog.clearCache()
                t0 = _time.perf_counter()
                fn(spark, d).write.mode("overwrite").format("noop").save()
                runs.append(round(_time.perf_counter() - t0, 3))
            entry[label] = min(runs)
        entry["t_ratio"] = (
            round(entry["sf10_sec"] / entry["sf1_sec"], 2)
            if entry["sf1_sec"] > 0
            else None
        )
        entry["rows_factor"] = round(ev_rows["sf10"] / ev_rows["sf1"], 1)
        fam_trend[name] = entry
        times[name + "_sf10"] = entry["sf10_sec"]
        total += entry["sf10_sec"]
    print(f"# [sf10] L/M/J family trend: {fam_trend}", file=sys.stderr)

    # decade ratios vs the sf1 section, with the per-family data-growth
    # factor (events/embeddings are frozen at sf0.1 size inside sf1)
    large_times = result.get("large", {}).get("queries", {})
    input_rows = {}
    for t in sorted(set(SF10_PRIMARY_INPUT.values())):
        input_rows[t] = {
            "sf1": spark.read.parquet(os.path.join(sf1_dir, f"{t}.parquet")).count(),
            "sf10": spark.read.parquet(os.path.join(sf10_dir, f"{t}.parquet")).count(),
        }
    ratios = {}
    for name, t in SF10_PRIMARY_INPUT.items():
        if name not in times:
            continue
        entry = {
            "primary_input": t,
            "rows_factor_vs_sf1": round(input_rows[t]["sf10"] / input_rows[t]["sf1"], 1),
        }
        if name in large_times and large_times[name] > 0:
            entry["t_ratio_vs_sf1"] = round(times[name] / large_times[name], 2)
        ratios[name] = entry


    return {
        "sf": round(0.1 * SF10_REPLICAS, 1),
        "replicas_vs_sf1": SF10_REPLICAS // REPLICAS,
        "value": round(total, 3),
        "unit": "sec",
        "queries": times,
        "spread": spreads,
        "calib_per_query": calib_rows,
        "timed_runs": n_timed,
        "load_avg_before": load_before,
        "load_avg_after": [round(x, 2) for x in os.getloadavg()],
        "ratio_vs_sf1": ratios,
        "input_rows": input_rows,
        "candidate_stats": cand,
        "knn_plane_lever": lever,
        "pagerank_trend": pr_trend,
        "family_trend": fam_trend,
        "context": {
            "data_note": "sf10 scales events (disjoint users, same 30-day range) and embeddings (disjoint ids, hash-perturbed vectors) 100x over sf0.1; sf1 froze both at sf0.1 size, so their rows_factor_vs_sf1 is 100, not 10",
            "bar": "a headliner whose t_ratio_vs_sf1 exceeds its rows_factor by more than the calib ratio is a scaling defect; bucketed joins are judged on cand_pairs growth, not wall-clock alone",
            "calib_note": "calib_per_query = a 16M-row sha2 all-core probe timed immediately before that row's timed runs (quarter of the bench-start calib's 64M rows; idle floor ~0.15-0.25s). Normalize a cross-round per-row delta by the calib ratio BEFORE claiming regression - r12's q5/minhash sf10 'regressions' were pure dispatch-regime noise (2-4x swings within one day)",
        },
    }


def _streaming_section(spark) -> dict:
    """J3/J13 streaming micro-bench (VERDICT r11 task 8): replay the 10M-
    event sf10 table as a file-source stream through BOTH dedup modes and
    record throughput + state-store size — the numbers that size the
    100 TB/day posture in SURVEY §4:

    - `exact`: plain dropDuplicates(event_id) — correct-forever ledger,
      state grows with stream HISTORY (one row per distinct key, ever).
    - `watermark`: withWatermark(ts, 1h).dropDuplicatesWithinWatermark —
      state bounded by the duplication window; the only viable mode at
      100 TB/day, at the documented cost that a later-than-watermark
      duplicate is re-admitted.

    Sink is noop (the measurement is the pipeline, not a collect);
    maxFilesPerTrigger splits the replay into real micro-batches so the
    state store is exercised ACROSS batches, not inside one. State rows
    and bytes come from the query's own progress metrics
    (stateOperators: numRowsTotal / memoryUsedBytes)."""
    import time as _time

    from scripts.make_benchdata import ensure_sf10

    sf10_dir = ensure_sf10(spark)
    src = os.path.join(sf10_dir, "events.parquet")
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    n_rows = spark.read.parquet(src).count()
    out: dict = {"rows": n_rows}
    for mode in ("exact", "watermark"):
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 8).parquet(src)
        )
        if mode == "exact":
            ded = stream.dropDuplicates(["event_id"])
        else:
            ded = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
                ["event_id"]
            )
        t0 = _time.perf_counter()
        q = (
            ded.writeStream.format("noop")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        sec = round(_time.perf_counter() - t0, 3)
        state_rows = state_bytes = 0
        n_batches = 0
        for p in q.recentProgress:
            n_batches += 1
            for op in p.get("stateOperators") or []:
                state_rows = max(state_rows, int(op.get("numRowsTotal") or 0))
                state_bytes = max(state_bytes, int(op.get("memoryUsedBytes") or 0))
        out[mode] = {
            "sec": sec,
            "rows_per_sec": int(n_rows / sec) if sec > 0 else None,
            "n_batches": n_batches,
            "state_rows_max": state_rows,
            "state_bytes_max": state_bytes,
            "bytes_per_key": round(state_bytes / state_rows, 1) if state_rows else None,
        }
    return out


if __name__ == "__main__":
    main()
