"""The repository benchmark: one workload, one seed, one JSON result line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload etl_publish --seed 1 --seconds 10 --trace 0

Workloads (see workloads.py): ``etl_publish`` and ``serve_session``. With
``--trace 0`` the last stdout line carries the ``end_to_end`` metrics of
BENCHMARK.json; with ``--trace 1`` a traced run carries its ``per_layer``
metrics. The line before it is a detail record
(the workload's own end-to-end figures, host shape, errors), also kept under
``.perfbench/results/``.

The inputs are the parquet tables in ``data/``. The DuckDB oracle answers
(oracle.py) are computed once per checkout and cached under ``.perfbench/``,
outside the timed region and outside ``setup_s``.
A run exits 1 when an output is wrong, and 2 without a result when the
repository's package is not next to this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from collections.abc import Callable
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
WORK = os.path.join(ROOT, ".perfbench")
PKG = "australian_company_etl_spark"
WORKLOADS = ("etl_publish", "serve_session")
#: driver heap for every run: ample for the benchmark's tables, and set
#: outright so that the JVM's footprint depends neither on the host's memory
#: nor on the caller's environment
DRIVER_MEM = "2g"
#: prefixes of the per-layer metrics of layers a workload does no work in;
#: a traced run reports them as 0, and every other one must be measured
IDLE_LAYER_METRICS = {
    "etl_publish": ("route.", "serve."),
    "serve_session": ("runner.", "matching.", "publish.", "corpus."),
}


def _setup_env(scratch: str, event_dir: str | None) -> None:
    """Environment for the Spark JVM and its Python workers, set before the
    session starts. Workers get the checkout on PYTHONPATH: a worker started
    outside the checkout cannot otherwise import the package."""
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    # keep both JVMs (spark-submit's launcher and the driver) out of /tmp
    opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    for var in ("SPARK_GRAFT_DRIVER_JAVA_OPTS", "SPARK_LAUNCHER_OPTS"):
        os.environ[var] = (os.environ.get(var, "") + " " + opts).strip()
    confs = ["spark.ui.showConsoleProgress=false"]
    if event_dir is not None:
        # uncompressed: the Python zstandard module is not available to read
        # Spark's default compressed log
        confs += ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{event_dir}",
                  "spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {c}" for c in confs) + " pyspark-shell"


class Spark:
    """The Spark session of one run, from start to a stopped JVM."""

    def __init__(self):
        t0 = time.perf_counter()
        from australian_company_etl_spark.session import get_spark

        self.session = get_spark(app_name="perfbench")
        self.start_s = time.perf_counter() - t0
        jvm = self.session.sparkContext._jvm
        self.jvm_pid = jvm.java.lang.ProcessHandle.current().pid()
        self.jvm_version = jvm.java.lang.System.getProperty("java.version")
        try:
            self._check_workers()
        except SystemExit:
            self.stop()
            raise

    def _check_workers(self) -> None:
        try:
            where = (
                self.session.sparkContext.parallelize([0], 1)
                .map(lambda _: __import__(PKG).__file__)
                .collect()[0]
            )
        except Exception as exc:  # noqa: BLE001 — any failure here is fatal
            raise SystemExit(f"perfbench: Spark's Python workers cannot import {PKG}: {exc}") from exc
        if not os.path.realpath(where).startswith(os.path.realpath(ROOT) + os.sep):
            raise SystemExit(f"perfbench: Spark's Python workers import {PKG} from {where}, not this checkout")

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def stop(self) -> None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        self.session.stop()
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _calib_ms() -> float:
    """Data-free calibration probe: best of three fixed pure-Python loops."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        sum(i * i for i in range(1_000_000))
        best = min(best, time.perf_counter() - t0)
    return best * 1e3


def _host() -> dict:
    with open("/proc/meminfo") as f:
        mem = next(line.split()[1] for line in f if line.startswith("MemTotal:"))
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_kb": int(mem),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        "calib_ms": _calib_ms(),
    }


def _timed_batch(ctx) -> list[dict]:
    """Batch repetitions until ``ctx.seconds`` have passed (at least one),
    each checked after its timed part."""
    import workloads as wl

    reps = []
    deadline = time.perf_counter() + ctx.seconds
    while not reps or time.perf_counter() < deadline:
        reps.append(wl.batch_rep(ctx))
        wl.batch_check(ctx, reps[-1], timed=True)
    return reps


def _start_tracing(ctx) -> None:
    """Trace from here on: spans around the layers' public functions and
    the engine actions, job groups in the acting threads."""
    import layers
    import spans

    ctx.tracer = spans.Tracer()
    layers.install(ctx.tracer, ctx.spark)


@dataclass
class Measured:
    """What a workload measured. The end-to-end figures come from untraced
    repetitions; a traced run then repeats the timed part with tracing on
    and ``layer_metrics`` turns that part into the per-layer metrics."""

    setup_s: float
    reps: list[dict]
    ops_per_s: float
    detail: dict
    #: per-layer metrics from the event log's jobs (traced runs)
    layer_metrics: Callable[[dict], dict] | None


def _etl(ctx, t_setup: float, trace: bool) -> Measured:
    import layers
    import workloads as wl

    warm = wl.batch_rep(ctx)
    setup_s = time.perf_counter() - t_setup
    wl.batch_check(ctx, warm, timed=False)
    reps = _timed_batch(ctx)
    detail = {k: wl.median([r[k] for r in reps]) for k in ("dag_s", "publish_s", "corpus_s")}
    detail.update({f"{n}_s": wl.median([r["plans"][n] for r in reps]) for n in wl.CORPUS_PLANS})
    ops_per_s = (ctx.attempted - ctx.failed) / sum(r["rep_s"] for r in reps)
    layer_metrics = None
    if trace:
        from australian_company_etl_spark.plans import dedup, similarity

        _start_tracing(ctx)
        traced = _timed_batch(ctx)
        # candidate counts, from the public helpers, outside the timed passes
        stats = {
            "minhash": dedup.minhash_candidate_stats(ctx.spark, ctx.data_dir),
            "setsim": dedup.setsim_candidate_stats(ctx.spark, ctx.data_dir),
            "knn": similarity.knn_candidate_stats(ctx.spark, ctx.data_dir),
        }
        b = ctx.oracle.batch

        def layer_metrics(jobs: dict) -> dict:
            m = layers.batch_layers(ctx.tracer, jobs, traced, b["blocked_pairs"], stats, b["source_rows"]["documents"])
            m["publish.bytes_per_source_byte"] = (
                wl.median([r["snapshot_bytes"] for r in traced]) / wl.serving_source_bytes(ctx)
            )
            m["trace_overhead_ratio"] = wl.median([r["rep_s"] for r in traced]) / wl.median([r["rep_s"] for r in reps])
            return m

    return Measured(setup_s, reps, ops_per_s, detail, layer_metrics)


def _serve(ctx, t_setup: float, trace: bool) -> Measured:
    import layers
    import workloads as wl

    t0 = time.perf_counter()
    # not set-up: the once-per-checkout publish (etl_publish times it), its
    # check, and the benchmark's own reading of the request pools
    snap_dir = wl.published_snapshot(ctx, os.path.join(WORK, "snapshots"))
    pools = wl.serving_pools(ctx)
    excluded_s = time.perf_counter() - t0
    server, thread = wl.start_server(ctx, snap_dir)
    try:
        port = server.server_address[1]
        warm = wl.warm_session(port, pools)
        setup_s = time.perf_counter() - t_setup - excluded_s
        for rec, ok in zip(warm, wl.check_responses(ctx, warm)):
            ctx.op(ok, f"serve_session warm-up {rec['route']} {rec['params']}", timed=False)
        records = wl.run_load(ctx, port, pools)
        if trace:
            _start_tracing(ctx)
            layers.trace_requests(ctx.tracer, server)
            w0, gc0 = time.time(), ctx.gc_ms()
            traced = wl.run_load(ctx, port, pools)
            w1, gc_s = time.time(), (ctx.gc_ms() - gc0) / 1e3
    finally:
        server.shutdown()
        server.server_close()
        thread.join(timeout=30)

    def tally(recs: list[dict]) -> dict:
        oks = wl.check_responses(ctx, recs)
        for rec, ok in zip(recs, oks):
            ctx.op(ok, f"serve_session {rec['route']} {rec['params']}: status {rec['status']} {rec['error'] or ''}")
        return wl.serve_summary(recs, oks)

    summary = tally(records)
    # a serving repetition is one request
    reps = [{"rep_s": ms / 1e3} for ms in summary["ok_ms"]] or [{"rep_s": summary["window_s"]}]
    layer_metrics = None
    if trace:
        traced_summary = tally(traced)

        def layer_metrics(jobs: dict) -> dict:
            m = layers.serve_layers(ctx.tracer, jobs, (w0, w1), sum(r["ms"] for r in traced), gc_s)
            m.update({f"route.{r}.p50_ms": v for r, v in summary["route_p50_ms"].items()})
            m["trace_overhead_ratio"] = wl.median(traced_summary["ok_ms"]) / wl.median(summary["ok_ms"])
            return m

    detail = {k: v for k, v in summary.items() if k != "ok_ms"}
    return Measured(setup_s, reps, summary["serve_rps"], detail, layer_metrics)


RUNNERS = {"etl_publish": _etl, "serve_session": _serve}


def run(args, spec: dict) -> tuple[dict, dict]:
    import oracle
    import spans
    import workloads as wl

    orc = oracle.Oracle(os.path.join(WORK, "cache"), DATA)
    scratch = os.path.join(WORK, "runs", str(os.getpid()))
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    event_dir = os.path.join(scratch, "eventlog") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    _setup_env(scratch, event_dir)
    detail: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace, "host": _host(), "loadavg_before": os.getloadavg()}
    try:
        t_setup = time.perf_counter()
        spark = Spark()
        ctx = wl.Context(spark.session, DATA, scratch, orc, args.seed, args.seconds)
        try:
            res = RUNNERS[args.workload](ctx, t_setup, bool(args.trace))
            rss = spark.peak_rss_mb()
        finally:
            spark.stop()
            orc.close()
        rep_s = wl.median([r["rep_s"] for r in res.reps])
        m = {"setup_s": res.setup_s, "rep_s": rep_s, "ops_per_s": res.ops_per_s}
        detail.update(res.detail)
        detail.update(end_to_end=dict(m), jvm_peak_rss_mb=rss, reps=len(res.reps), attempted=ctx.attempted, failed=ctx.failed,
                      fail_ratio=ctx.failed / max(1, ctx.attempted), errors=ctx.errors[:20],
                      jvm=spark.jvm_version, session_start_s=spark.start_s)
        if args.trace:
            layer_m = res.layer_metrics(spans.read_event_log(event_dir))
            layer_m["session.start_s"] = spark.start_s
            layer_m["jvm.peak_rss_mb"] = rss
            idle = IDLE_LAYER_METRICS[args.workload]
            m = {x["name"]: 0.0 for x in spec["per_layer"] if x["name"].startswith(idle)} | layer_m
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    detail["loadavg_after"] = os.getloadavg()
    detail["correct"] = ctx.failed == 0 and not ctx.errors
    return m, detail


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: no {PKG} package next to perfbench/; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    metrics, detail = run(args, spec)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    missing = [x["name"] for x in wanted if x["name"] not in metrics]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(WORK, "results", f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}.json"), "w") as f:
        json.dump({"detail": detail, "metrics": metrics}, f, indent=1, default=str)
    print(json.dumps({"perfbench": detail}, default=str))
    print(json.dumps({
        "correct": detail["correct"],
        "attempted": detail["attempted"],
        "failed": detail["failed"],
        "metrics": {x["name"]: {"value": float(metrics[x["name"]]), "unit": x["unit"]} for x in wanted},
    }))
    return 0 if detail["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
