"""The two benchmark workloads and the checks on their outputs.

Each workload times what a user of the system runs, through its public
entry points, and checks every output against the DuckDB oracle answers:

- ``etl_publish``: the batch side. ``run_dag(reference_dag(sf))`` into a
  fresh directory, ``snapshot_tables(sf)`` into a fresh serving directory,
  then one training-data pass: the registry plans ``curate_corpus``,
  ``dedup_setsim_prefix`` and ``knn_graph_lsh``, each written out to
  parquet.
- ``serve_session``: ``make_server`` over a snapshot published during
  set-up, driven by the closed-loop load generator (``loadgen.py``) in a
  separate process with two client threads.

A repetition is one unit of a workload's user-level work (a batch pass, a
served request); an operation is one user-visible call in it
(``run_dag``, ``snapshot_tables``, a registry plan, an HTTP request).
Batch repetitions are timed by ``batch_rep`` and checked afterwards by
``batch_check``, so that no check falls inside a timed region or the
set-up time.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
from collections import defaultdict

import loadgen
import oracle as oracle_mod

CORPUS_PLANS = {
    "curate_corpus": "plans.pipeline",
    "dedup_setsim_prefix": "plans.dedup",
    "knn_graph_lsh": "plans.similarity",
}
DAG_TASKS = ["extract_commoncrawl", "extract_abr", "entity_matching", "run_quality_checks"]
HERE = os.path.dirname(os.path.abspath(__file__))


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (0 for no samples)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


class Context:
    """State of one benchmark run: the Spark session, the oracle, the
    tracer (None until a traced run turns tracing on) and the operation
    tally."""

    def __init__(self, spark, data_dir: str, scratch: str, oracle, seed: int, seconds: float):
        self.spark, self.data_dir, self.scratch = spark, data_dir, scratch
        self.oracle, self.seed, self.seconds = oracle, seed, seconds
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._n = 0

    def fresh_dir(self, tag: str) -> str:
        self._n += 1
        path = os.path.join(self.scratch, f"{tag}-{self._n}")
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def op(self, ok: bool, what: str, timed: bool = True) -> None:
        """Tally one operation. A failed one is recorded as an error, so an
        untimed failure (in the warm-up) still makes the run incorrect."""
        if timed:
            self.attempted += 1
            self.failed += not ok
        if not ok:
            self.errors.append(what)

    def span(self, name: str, layer: str, group: str | None = None):
        if self.tracer is None:
            return _Null()
        return self.tracer.span(name, layer, group)

    def gc_ms(self) -> int:
        """Total GC time of the JVM so far, from its MXBeans."""
        jvm = self.spark.sparkContext._jvm
        beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans)


class _Null:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


# ---- etl_publish (batch) ---------------------------------------------------------


def _dag_tasks(ctx: Context, tasks, parent):
    """The reference DAG's tasks. Traced, each build opens its task's span
    under ``parent`` and tags its pool thread's job group; the runner's
    actions for the task, issued after the build returns, land in that span
    (the wrapping ``dags.flaky`` uses)."""
    if ctx.tracer is None:
        return tasks
    from australian_company_etl_spark.orchestration.runner import Task

    tracer = ctx.tracer

    def traced(task):
        def build(spark, inputs):
            tracer.open_task(f"task.{task.name}", "orchestration.runner", f"task.{task.name}", parent)
            with tracer.span(f"build.{task.name}", "orchestration.dags"):
                return task.build(spark, inputs)

        return Task(task.name, build, deps=task.deps, retries=task.retries)

    return [traced(t) for t in tasks]


def _verify_dag(ctx: Context, results: dict, dag_dir: str) -> list[str]:
    from australian_company_etl_spark.orchestration.runner import task_output_path

    b = ctx.oracle.batch
    bad = []
    if sorted(results) != sorted(DAG_TASKS):
        bad.append(f"tasks {sorted(results)}")
    for name, r in results.items():
        if r.status != "success" or r.attempts != 1:
            bad.append(f"{name}: {r.status} after {r.attempts} attempts ({r.error})")
    if bad:
        return bad
    con = ctx.oracle.con
    want_rows = {
        "extract_commoncrawl": b["source_rows"]["customer"],
        "extract_abr": b["source_rows"]["supplier"],
        "entity_matching": b["entity_matching"]["rows"],
        "run_quality_checks": b["etl_dag_end_to_end"]["rows"],
    }
    for name, rows in want_rows.items():
        if results[name].rows != rows:
            bad.append(f"{name}: {results[name].rows} rows, oracle {rows}")
    for name, twin in (("entity_matching", "entity_matching"), ("run_quality_checks", "etl_dag_end_to_end")):
        got = oracle_mod.parquet_digest(con, task_output_path(dag_dir, name))
        if got["digest"] != b[twin]["digest"]:
            bad.append(f"{name}: output differs from the {twin} oracle")
    return bad


def _verify_snapshot(ctx: Context, manifest: dict, snap_dir: str) -> list[str]:
    b, con = ctx.oracle.batch, ctx.oracle.con
    bad = []
    for t in oracle_mod.SERVING_TABLES:
        got = oracle_mod.parquet_digest(con, os.path.join(snap_dir, f"{t}.parquet"))
        if got != b["snapshot"][t] or manifest[t]["rows"] != b["source_rows"][t]:
            bad.append(f"snapshot table {t} differs from its source")
    for idx in ("fulltext_index", "trigram_index"):
        got = oracle_mod.parquet_digest(con, os.path.join(snap_dir, f"{idx}.parquet"))
        if got != b[idx]:
            bad.append(f"{idx} differs from the oracle postings")
    if manifest["fulltext_index"]["n_docs"] != b["source_rows"]["documents"]:
        bad.append("fulltext n_docs differs from the corpus size")
    seg = os.path.join(snap_dir, "fulltext_sharded.parquet", "*.parquet")
    n = con.execute(f"SELECT count(*) FROM (SELECT unnest(doc_ids) FROM read_parquet('{seg}'))").fetchone()[0]
    if n != b["fulltext_index"]["rows"]:
        bad.append(f"sharded segments hold {n} postings, oracle {b['fulltext_index']['rows']}")
    return bad


def batch_rep(ctx: Context) -> dict:
    """One timed batch pass into fresh directories; ``batch_check`` checks
    its outputs and removes them."""
    from australian_company_etl_spark.orchestration import dags, runner
    from australian_company_etl_spark.plans import all_queries
    from australian_company_etl_spark.serving import http_api

    queries = all_queries()
    d = ctx.fresh_dir("batch")
    out: dict = {"dir": d, "results": None, "manifest": None, "raised": {}, "plans": {}}
    with ctx.span("rep", "benchmark") as root:
        gc0 = ctx.gc_ms()
        t0 = time.perf_counter()
        try:
            with ctx.span("run_dag", "orchestration.runner") as dag_span:
                tasks = _dag_tasks(ctx, dags.reference_dag(ctx.data_dir), dag_span)
                out["results"] = runner.run_dag(ctx.spark, tasks, os.path.join(d, "dag"))
        except Exception as exc:  # noqa: BLE001 — a failed operation is a measured outcome
            out["raised"]["run_dag"] = f"{type(exc).__name__}: {exc}"
        t1 = time.perf_counter()
        try:
            out["manifest"] = http_api.snapshot_tables(ctx.spark, ctx.data_dir, os.path.join(d, "snapshot"))
        except Exception as exc:  # noqa: BLE001
            out["raised"]["snapshot_tables"] = f"{type(exc).__name__}: {exc}"
        t2 = time.perf_counter()
        for name, layer in CORPUS_PLANS.items():
            t = time.perf_counter()
            try:
                with ctx.span(name, layer, group=f"plan.{name}"):
                    queries[name](ctx.spark, ctx.data_dir).write.parquet(os.path.join(d, name))
            except Exception as exc:  # noqa: BLE001
                out["raised"][name] = f"{type(exc).__name__}: {exc}"
            out["plans"][name] = time.perf_counter() - t
        t3 = time.perf_counter()
        out["gc_s"] = (ctx.gc_ms() - gc0) / 1e3
    if ctx.tracer is not None:
        ctx.tracer.close_open(root)
    out.update(root=root, dag_s=t1 - t0, publish_s=t2 - t1, corpus_s=t3 - t2, rep_s=t3 - t0)
    return out


def batch_check(ctx: Context, out: dict, timed: bool) -> None:
    """Check one batch pass against the oracle, tally its operations and
    delete its directories."""
    d, raised = out["dir"], out["raised"]
    bad = [raised["run_dag"]] if "run_dag" in raised else _verify_dag(ctx, out["results"], os.path.join(d, "dag"))
    ctx.op(not bad, f"etl_publish run_dag: {bad}", timed)
    if "snapshot_tables" in raised:
        bad = [raised["snapshot_tables"]]
    else:
        snap_dir = os.path.join(d, "snapshot")
        bad = _verify_snapshot(ctx, out["manifest"], snap_dir)
        out["snapshot_bytes"] = oracle_mod.files_bytes(snap_dir)
    ctx.op(not bad, f"etl_publish snapshot_tables: {bad}", timed)
    out["rows"] = {}
    for name in CORPUS_PLANS:
        err = raised.get(name)
        if err is None:
            got = oracle_mod.parquet_digest(ctx.oracle.con, os.path.join(d, name))
            out["rows"][name] = got["rows"]
            if got != ctx.oracle.batch[name]:
                err = f"output differs from the {name} oracle"
        ctx.op(err is None, f"etl_publish {name}: {err}", timed)
    shutil.rmtree(d)


# ---- serve_session --------------------------------------------------------------


def serving_pools(ctx: Context) -> dict:
    """What the load generator draws its requests from, read from the corpus."""
    con = ctx.oracle.con
    vocab = [
        r[0]
        for r in con.execute(
            "SELECT tok, count(DISTINCT doc_id) AS df FROM "
            "(SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents) "
            "WHERE tok <> '' GROUP BY tok ORDER BY df DESC, tok"
        ).fetchall()
    ]
    return {
        "n_customers": ctx.oracle.batch["source_rows"]["customer"],
        "states": [r[0] for r in con.execute("SELECT n_name FROM nation ORDER BY 1").fetchall()],
        "name_tokens": [
            r[0] for r in con.execute(
                "SELECT DISTINCT w FROM (SELECT unnest(string_split(p_name, ' ')) AS w FROM part) ORDER BY 1"
            ).fetchall()
        ],
        "part_names": [r[0] for r in con.execute("SELECT DISTINCT p_name FROM part ORDER BY 1").fetchall()],
        "vocab": vocab,
    }


def check_responses(ctx: Context, records: list[dict]) -> list[bool]:
    """Each response must carry its expected status and equal the D-route
    oracle answer for its parameters."""
    out = []
    for rec in records:
        ok = rec["error"] is None and rec["status"] == rec["expect"]
        if ok:
            want = ctx.oracle.response(rec["route"], rec["params"])
            ok = want["status"] == rec["status"]
            if ok and rec["status"] == 200:
                ok = (
                    oracle_mod.ordered_rows(rec["rows"] or []) == want["rows"]
                    and rec["next_after"] == want["next_after"]
                )
        out.append(ok)
    ctx.oracle.save()
    return out


def _program_digest() -> str:
    import australian_company_etl_spark as pkg

    root = os.path.dirname(pkg.__file__)
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(root, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def published_snapshot(ctx: Context, root: str) -> str:
    """The serving snapshot of this corpus and program version. It is
    published with ``snapshot_tables`` once per checkout (each
    ``etl_publish`` repetition times that publish) and checked against
    the oracle on every use."""
    from australian_company_etl_spark.serving import http_api

    path = os.path.join(root, f"snapshot-{ctx.oracle.data_digest[:16]}-{_program_digest()}")
    if not os.path.isdir(path):
        tmp = f"{path}.tmp{os.getpid()}"
        try:
            http_api.snapshot_tables(ctx.spark, ctx.data_dir, tmp)
            os.rename(tmp, path)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    with open(os.path.join(path, "_SNAPSHOT.json")) as f:
        bad = _verify_snapshot(ctx, json.load(f), path)
    if bad:
        raise RuntimeError(f"serving snapshot {path} differs from the oracle: {bad}")
    return path


def serving_source_bytes(ctx: Context) -> int:
    return sum(
        oracle_mod.files_bytes(os.path.join(ctx.data_dir, f"{t}.parquet")) for t in oracle_mod.SERVING_TABLES
    )


def start_server(ctx: Context, snap_dir: str):
    from australian_company_etl_spark.serving import http_api

    server = http_api.make_server(ctx.spark, snap_dir)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    return server, thread


def warm_session(port: int, pools: dict) -> list[dict]:
    """One session plus a sharded search, so every route and index has
    served once before the timed load."""
    records: list[dict] = []
    client = loadgen.Client(f"http://127.0.0.1:{port}", pools, random.Random("warm-up"), records.append)
    client.session()
    client.request("search", {"q": pools["vocab"][0], "k": loadgen.TOPK, "shard": 1}, 200)
    return records


def run_load(ctx: Context, port: int, pools: dict) -> list[dict]:
    pools_path = os.path.join(ctx.scratch, "pools.json")
    out_path = os.path.join(ctx.scratch, "requests.jsonl")
    with open(pools_path, "w") as f:
        json.dump(pools, f)
    cmd = [
        sys.executable,
        os.path.join(HERE, "loadgen.py"),
        "--port", str(port),
        "--pools", pools_path,
        "--seed", str(ctx.seed),
        "--seconds", str(ctx.seconds),
        "--out", out_path,
    ]
    proc = subprocess.Popen(cmd)
    try:
        code = proc.wait(timeout=ctx.seconds + 120)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code != 0:
        raise RuntimeError(f"load generator exited with {code}")
    with open(out_path) as f:
        return [json.loads(line) for line in f]


def serve_summary(records: list[dict], oks: list[bool]) -> dict:
    lat = defaultdict(list)
    for rec, ok in zip(records, oks):
        if ok:
            lat[rec["route"]].append(rec["ms"])
    lookup = [x for r in loadgen.LOOKUP_ROUTES for x in lat[r]]
    ranked = [x for r in loadgen.RANKED_ROUTES for x in lat[r]]
    t0 = min(r["t0"] for r in records)
    t1 = max(r["t0"] + r["ms"] / 1e3 for r in records)
    return {
        "ok_ms": [rec["ms"] for rec, ok in zip(records, oks) if ok],
        "window_s": t1 - t0,
        "serve_rps": sum(oks) / (t1 - t0),
        "lookup_p50_ms": percentile(lookup, 0.5),
        "lookup_p90_ms": percentile(lookup, 0.9),
        "ranked_p50_ms": percentile(ranked, 0.5),
        "ranked_p90_ms": percentile(ranked, 0.9),
        "lookup_n": len(lookup),
        "ranked_n": len(ranked),
        "route_p50_ms": {r: percentile(v, 0.5) for r, v in lat.items()},
        "route_n": {r: len(v) for r, v in lat.items()},
    }
