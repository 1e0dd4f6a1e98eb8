"""Per-layer metrics of the traced run.

``install`` wraps the public functions of each layer (module names are
the layer names) and the engine actions; the ``*_layers`` functions turn
the recorded spans, the Spark event log and the counters into the
``per_layer`` metrics of BENCHMARK.json.

Counters and times are per repetition. On the batch workload
(``etl_publish``) ``self_s.<layer>`` is the layer's wall-time share of the
timed repetitions (see ``spans.attribute``), so the shares add up to the
traced repetition time and ``self_coverage`` is the part of it that falls
inside program layers rather than in the benchmark's own code. A serving
repetition is one request: ``self_s.<layer>`` sums per-request self times
(``spans.thread_self``) over the requests, per request, and
``self_coverage`` is the server-side request time over the client-side
latency.
"""

from __future__ import annotations

import sys
from collections import defaultdict
from urllib.parse import urlparse

import spans as sp
from workloads import CORPUS_PLANS, DAG_TASKS, median

PKG = "australian_company_etl_spark"
LAYERS = {
    "benchmark": "benchmark",
    "orchestration.runner": "orchestration.runner",
    "orchestration.dags": "orchestration.dags",
    "sources.registry": "sources.registry",
    "plans.matching": "plans.matching",
    "plans.pipeline": "plans.pipeline",
    "plans.dedup": "plans.corpus",
    "plans.similarity": "plans.corpus",
    "plans.text": "plans.corpus",
    "plans.api": "plans.api",
    "serving.http_api.publish": "serving.http_api.publish",
    "serving.http_api.rank": "serving.http_api.serve",
    "serving.http_api.serve": "serving.http_api.serve",
    sp.SPARK: "spark",
}
GROUPS = [
    *(f"task.{t}" for t in DAG_TASKS),
    "publish.tables",
    "publish.fulltext",
    "publish.sharded",
    "publish.trigram",
    *(f"plan.{p}" for p in CORPUS_PLANS),
    *(f"route.{r}" for r in ("key", "page", "ilike", "state", "search", "fuzzy")),
]
PUBLISH_STEPS = {
    "build_fulltext_index": "publish.fulltext_index_s",
    "build_fulltext_index_sharded": "publish.fulltext_sharded_s",
    "build_trigram_index": "publish.trigram_index_s",
}
ROUTE_OF_PATH = {
    "/companies/search": "ilike",
    "/companies/by_state": "state",
    "/companies": "page",
    "/search": "search",
    "/fuzzy": "fuzzy",
}


def install(tracer: sp.Tracer, spark) -> None:
    from australian_company_etl_spark.orchestration import dags  # noqa: F401 — binds load_tables
    from australian_company_etl_spark.plans import api, matching, pipeline
    from australian_company_etl_spark.serving import http_api
    from australian_company_etl_spark.sources import registry

    tracer.install_engine(spark)
    load_tables = registry.load_tables
    for name, mod in list(sys.modules.items()):
        if name.startswith(PKG) and getattr(mod, "load_tables", None) is load_tables:
            tracer.wrap(mod, "load_tables", "sources.registry")
    tracer.wrap(matching, "unify_frames", "plans.matching")
    tracer.wrap(pipeline, "quality_report", "plans.pipeline")
    tracer.wrap(pipeline, "text_quality_score", "plans.text")
    tracer.wrap(pipeline, "dedup_minhash_lsh", "plans.dedup")
    tracer.wrap(http_api, "snapshot_tables", "serving.http_api.publish", group="publish.tables")
    tracer.wrap(http_api, "build_fulltext_index", "serving.http_api.publish", group="publish.fulltext")
    tracer.wrap(http_api, "build_fulltext_index_sharded", "serving.http_api.publish", group="publish.sharded")
    tracer.wrap(http_api, "build_trigram_index", "serving.http_api.publish", group="publish.trigram")
    for fn in ("api_lookup_by_key", "api_search_ilike", "api_by_state", "api_page_keyset"):
        tracer.wrap(api, fn, "plans.api")
    for fn in ("api_fulltext_rank", "api_search_trigram"):
        tracer.wrap(api, fn, "plans.api", on_result=lambda _out: tracer.count("scan_fallbacks"))
    for fn in ("fulltext_rank_from_index", "fulltext_rank_from_sharded", "trigram_rank_from_index"):
        tracer.wrap(http_api, fn, "serving.http_api.rank")
    for fn, route in (("fulltext_rank_maxdf", "search"), ("trigram_rank_maxdf", "fuzzy")):

        def hit(out, route=route):
            tracer.count(f"maxdf.{route}.calls")
            tracer.count(f"maxdf.{route}.hits", out[0] is not None)

        tracer.wrap(http_api, fn, "serving.http_api.rank", on_result=hit)


def trace_requests(tracer: sp.Tracer, server) -> None:
    """Span each request on the server's handler threads, tagging the
    thread's job group with the route (handler threads inherit none)."""
    handler = server.RequestHandlerClass
    do_get = handler.do_GET

    def traced(self):
        path = urlparse(self.path).path
        route = ROUTE_OF_PATH.get(path, "key" if path.startswith("/companies/") else "other")
        with tracer.span(f"GET {route}", "serving.http_api.serve", group=f"route.{route}"):
            do_get(self)

    handler.do_GET = traced


# ---- engine counters ------------------------------------------------------------


def _engine(jobs: dict, windows: list[tuple[float, float]], n: int) -> tuple[dict, dict]:
    """Spark counters of the jobs submitted inside ``windows`` (epoch
    seconds), per repetition (``n``), in total and per job group."""
    total: dict = defaultdict(float)
    group: dict = defaultdict(lambda: defaultdict(float))
    busy: list[tuple[float, float]] = []
    for job in jobs.values():
        t = job.submit_ms / 1e3
        if not any(a <= t <= b for a, b in windows):
            continue
        end = (job.end_ms or job.submit_ms) / 1e3
        busy.append((t, end))
        for tgt in (total, group[job.group or "-"]):
            tgt["jobs"] += 1
            for k, v in job.counters.items():
                tgt[k] += v
            if job.first_launch_ms is not None:
                tgt["sched_delay_s"] += (job.first_launch_ms - job.submit_ms) / 1e3
    wall = sum(b - a for a, b in windows)
    out = {
        "spark.jobs": total["jobs"] / n,
        "spark.stages": total["stages"] / n,
        "spark.tasks": total["tasks"] / n,
        "spark.executor_cpu_s": total["executor_cpu_s"] / n,
        "spark.shuffle_write_bytes": total["shuffle_write_bytes"] / n,
        "spark.fetch_wait_s": total["fetch_wait_s"] / n,
        "spark.spill_bytes": total["spill_bytes"] / n,
        "spark.driver_s": (wall - sp.union_len(busy)) / n,
    }
    for g in GROUPS:
        out[f"group.{g}.jobs"] = group[g]["jobs"] / n
        out[f"group.{g}.executor_cpu_s"] = group[g]["executor_cpu_s"] / n
    return out, group


def _self_shares(tracer: sp.Tracer, roots: list) -> dict:
    share: dict = defaultdict(float)
    for root in roots:
        spans = tracer.within(root)
        layer = {s.sid: LAYERS[s.layer] for s in spans}
        for sid, v in sp.attribute(spans).items():
            share[layer[sid]] += v
    n = len(roots)
    wall = sum(r.dur for r in roots) / n
    out = {f"self_s.{layer}": share[layer] / n for layer in set(LAYERS.values())}
    out["self_coverage"] = (wall - share["benchmark"] / n) / wall
    return out


# ---- per workload ---------------------------------------------------------------


def batch_layers(tracer, jobs, reps: list[dict], blocked_pairs: int, stats: dict, input_docs: int) -> dict:
    roots = [r["root"] for r in reps]
    m, _ = _engine(jobs, [(r.t0, r.t1) for r in roots], len(reps))
    m.update(_self_shares(tracer, roots))
    m["spark.gc_s"] = median([r["gc_s"] for r in reps])
    per_rep: dict = defaultdict(list)
    for rep in reps:
        spans = tracer.within(rep["root"])
        by_name = defaultdict(list)
        for s in spans:
            by_name[s.name].append(s)
        for t in DAG_TASKS:
            per_rep[f"runner.{t}_s"].append(sum(s.dur for s in by_name[f"task.{t}"]))
        wave0 = by_name["task.extract_commoncrawl"] + by_name["task.extract_abr"]
        per_rep["runner.wave0_s"].append(max(s.t1 for s in wave0) - min(s.t0 for s in wave0))
        results = rep["results"]
        per_rep["runner.attempts"].append(sum(r.attempts for r in results.values()))
        for t in DAG_TASKS:
            per_rep[f"runner.rows.{t}"].append(results[t].rows or 0)
        snap = by_name["snapshot_tables"][0]
        steps = 0.0
        for fn, key in PUBLISH_STEPS.items():
            d = sum(s.dur for s in by_name[fn])
            per_rep[key].append(d)
            steps += d
        per_rep["publish.tables_s"].append(snap.dur - steps)
        for name in CORPUS_PLANS:
            per_rep[f"corpus.{name}_s"].append(rep["plans"][name])
    m.update({k: median(v) for k, v in per_rep.items()})
    accepted = m["runner.rows.entity_matching"]
    m["matching.candidate_pairs"] = blocked_pairs
    m["matching.accepted"] = accepted
    m["matching.accept_ratio"] = accepted / blocked_pairs if blocked_pairs else 0.0
    m["matching.executor_cpu_s"] = m["group.task.entity_matching.executor_cpu_s"]
    rows = reps[-1]["rows"]
    m["corpus.minhash_cand_pairs"] = stats["minhash"]["cand_pairs"]
    m["corpus.setsim_cand_pairs"] = stats["setsim"]["cand_pairs"]
    m["corpus.setsim_verify_rows"] = stats["setsim"]["verify_rows"]
    m["corpus.knn_cand_pairs"] = stats["knn"]["cand_pairs"]
    m["corpus.curate_rows"] = rows["curate_corpus"]
    m["corpus.setsim_rows"] = rows["dedup_setsim_prefix"]
    m["corpus.knn_rows"] = rows["knn_graph_lsh"]
    m["corpus.curate_kept_ratio"] = rows["curate_corpus"] / input_docs
    m["corpus.setsim_out_per_cand"] = rows["dedup_setsim_prefix"] / max(1, stats["setsim"]["cand_pairs"])
    m["corpus.knn_out_per_cand"] = rows["knn_graph_lsh"] / max(1, stats["knn"]["cand_pairs"])
    return m


def serve_layers(tracer, jobs, window: tuple[float, float], client_ms: float, gc_s: float) -> dict:
    spans = [s for s in tracer.spans if window[0] <= s.t0 <= window[1]]
    requests = [s for s in spans if s.name.startswith("GET ")]
    n_req = max(1, len(requests))
    m, group = _engine(jobs, [window], n_req)
    m["spark.gc_s"] = gc_s / n_req
    selfs = sp.thread_self(spans)
    by_layer: dict = defaultdict(float)
    for s in spans:
        by_layer[LAYERS[s.layer]] += selfs[s.sid]
    m.update({f"self_s.{layer}": by_layer[layer] / n_req for layer in set(LAYERS.values())})
    plan = sum(selfs[s.sid] for s in spans if s.layer in ("plans.api", "serving.http_api.rank", "sources.registry"))
    m["serve.plan_ms"] = 1e3 * plan / n_req
    m["serve.spark_ms"] = 1e3 * sum(selfs[s.sid] for s in spans if s.layer == sp.SPARK) / n_req
    m["serve.http_self_ms"] = 1e3 * sum(selfs[s.sid] for s in requests) / n_req
    routes = [g for g in group if g.startswith("route.")]
    m["serve.jobs_per_req"] = sum(group[g]["jobs"] for g in routes) / n_req
    m["serve.tasks_per_req"] = sum(group[g]["tasks"] for g in routes) / n_req
    m["serve.sched_delay_ms"] = 1e3 * sum(group[g]["sched_delay_s"] for g in routes) / n_req
    for route in ("search", "fuzzy"):
        calls = tracer.counts[f"maxdf.{route}.calls"]
        m[f"serve.maxdf_hit_ratio.{route}"] = tracer.counts[f"maxdf.{route}.hits"] / calls if calls else 0.0
    m["serve.scan_fallbacks"] = tracer.counts["scan_fallbacks"]
    m["self_coverage"] = 1e3 * sum(s.dur for s in requests) / client_ms if client_ms else 0.0
    return m
