"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The line before it records the host-derived settings.
A traced run pairs every operation with the same operation run with
tracing paused, and reports what tracing costs against those.

Everything the run writes stays under ``.perfbench/`` in the checkout:
``work/`` is removed when the run ends; ``traces/`` keeps one JSONL
file of span records per traced run; ``results.jsonl`` keeps every
result line with its settings.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import warnings

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import host  # noqa: E402
from perfbench.trace import TASK_FIELDS  # noqa: E402

BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")

#: spans reported with the full metric template
FULL_SPANS = (
    "build_pipeline.run", "postings.build_compact_index",
    "postings.CompactIndex.save", "postings.bmw_search",
    "postings.bmw_search.collect", "retrieval.search.collect",
    "writer.append", "writer.maybe_compact",
)
#: spans reported by wall time only
WALL_SPANS = (
    "session.build_session", "postings.CompactIndex.load", "writer.load",
    "analytics.sessionize_backfill",
)
#: the other Block-Max serving shapes, reported by a few fields
SHAPE_SPANS = ("postings.bmw_search.cached.collect",
               "postings.bmw_search.live.collect")
SHAPE_FIELDS = ("wall_s", "executor_cpu_s", "input_bytes")


def _spec() -> dict:
    with open(BENCHMARK) as f:
        return json.load(f)


def _settings(args, work: str) -> dict:
    """Derive the Spark settings from this host and export them before
    pyspark is imported."""
    cpus, mem = host.cpus(), host.mem_total_mb()
    heap = host.driver_heap_mb(mem)
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{heap}m",
        "SPARK_LOCAL_DIRS": local,
        "LMS_SPARK_LOCAL_DIR": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # the launcher JVM, like the driver (see _conf), keeps its perf
        # data out of /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    import tempfile

    tempfile.tempdir = tmp
    return {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "nproc": cpus, "mem_total_mb": mem, "driver_heap_mb": heap,
        "driver_young_gen_mb": host.young_gen_mb(heap),
        "SPARK_GRAFT_CPUS": cpus, "SPARK_LOCAL_DIRS": local,
        "git_commit": host.git_commit(ROOT),
        "source_digest": host.source_digest(ROOT),
    }


def _conf(work: str, event_log: str | None) -> dict:
    # -UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>,
    # the one file outside the checkout.
    # -Xms/-Xmn: a fixed heap and young generation. G1 otherwise grows
    # the heap and resizes the young generation by measured GC pause
    # times, so the driver JVM's peak RSS followed host speed, not the
    # program: 0.9-2.0 GB over runs of the same code on a 4-core, 15 GB
    # host.
    heap = host.driver_heap_mb(host.mem_total_mb())
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            f" -Xms{heap}m -Xmn{host.young_gen_mb(heap)}m",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def run_pass(workload: str, seed: int, seconds: float, work: str,
             traced: bool, tamper=None) -> dict:
    """One pass: set up, run the timed loop, stop the SparkContext.
    Returns the workload's figures plus op counts, spans and RSS."""
    from perfbench.trace import Tracer, fold_event_log
    from perfbench.workloads import RUNNERS, SIZES, Ctx

    os.makedirs(work, exist_ok=True)
    event_log = os.path.join(work, "eventlog") if traced else None
    ctx = Ctx(workload=workload, seed=seed, seconds=seconds, work=work,
              tracer=Tracer(traced), sizes=SIZES[workload],
              extra_conf=_conf(work, event_log), tamper=tamper)
    try:
        figures = RUNNERS[workload](ctx)
        figures["rss_mb"] = _rss_mb(ctx.spark)
        figures["peak_rss_mb"] = sum(figures["rss_mb"].values())
    finally:
        if ctx.spark is not None:
            ctx.spark.stop()
    figures.update(attempted=ctx.attempted, failed=ctx.failed,
                   failures=ctx.failures, spans=ctx.tracer.spans)
    if traced:
        run_group = ctx.listener.run_group if ctx.listener else {}
        figures["folded"] = fold_event_log(event_log, ctx.tracer.spans,
                                           run_group)
    return figures


def _rss_mb(spark) -> dict:
    """Peak resident memory of the driver Python, the driver JVM and the
    JVM's Python workers."""
    jvm = spark.sparkContext._gateway.proc.pid
    return {"driver_python": host.peak_rss_mb([os.getpid()]),
            "driver_jvm": host.peak_rss_mb([jvm]),
            "python_workers": host.peak_rss_mb(host.descendants(jvm))}


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it and its workers."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    kids = host.descendants(proc.pid)
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait()
    host.reap(kids)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _mean(vals: list[float]) -> float:
    return sum(vals) / len(vals) if vals else 0.0


def layer_metrics(fig: dict, spec: dict) -> dict:
    """Every per-layer metric of BENCHMARK.json from a traced pass;
    spans the workload never calls report 0. The tracing overhead is
    measured against the pass's own operations run with tracing
    paused."""
    calls: dict[str, list[dict]] = {}
    for rec in fig["spans"]:
        calls.setdefault(rec["span"], []).append(
            fig["folded"].get(rec["group"], {}))
    vals: dict[str, float] = {}
    for name in FULL_SPANS:
        for f in ("wall_s", "driver_s") + TASK_FIELDS:
            vals[f"{name}.{f}"] = _mean([c[f] for c in calls.get(name, [])])
    for name in WALL_SPANS:
        vals[f"{name}.wall_s"] = _mean(
            [c["wall_s"] for c in calls.get(name, [])])
    for name in SHAPE_SPANS:
        for f in SHAPE_FIELDS:
            vals[f"{name}.{f}"] = _mean([c[f] for c in calls.get(name, [])])

    prog = fig.get("progress", [])
    dur = [p["durationMs"] for p in prog]
    ops = [s for p in prog for s in p.get("stateOperators", [])]
    vals.update({
        "stream.batch.add_batch_s": _mean([d.get("addBatch", 0) / 1e3
                                           for d in dur]),
        "stream.batch.trigger_s": _mean([d.get("triggerExecution", 0) / 1e3
                                         for d in dur]),
        "stream.batch.query_planning_s": _mean(
            [d.get("queryPlanning", 0) / 1e3 for d in dur]),
        "stream.batch.wal_commit_s": _mean([d.get("walCommit", 0) / 1e3
                                            for d in dur]),
        "stream.batches": len(prog),
        "stream.state_rows": max([s["numRowsTotal"] for s in ops],
                                 default=0),
        "stream.state_memory_bytes": max(
            [s["memoryUsedBytes"] for s in ops], default=0),
        "stream.rows_dropped_by_watermark": sum(
            s.get("numRowsDroppedByWatermark", 0) for s in ops),
    })
    queries = fig.get("queries", 0)
    collect_in = sum(c["input_bytes"]
                     for c in calls.get("postings.bmw_search.collect", []))
    vals["serve.input_bytes_per_query"] = (
        collect_in / queries if queries else 0)
    total = fig["setup_s"] + fig["window_s"]
    covered = sum(r["wall_s"] for r in fig["spans"])
    vals["trace.unattributed_share"] = max(0.0, 1 - covered / total)
    vals["trace.overhead_share"] = (
        fig["paused_throughput_per_s"] / fig["throughput_per_s"] - 1)
    vals.update(fig.get("layer", {}))
    out = {}
    for m in spec["per_layer"]:
        v = float(vals.get(m["name"], 0.0))
        out[m["name"]] = {"value": v, "unit": m["unit"]}
    return out


def end_to_end_metrics(fig: dict, spec: dict) -> dict:
    return {
        m["name"]: {"value": float(fig[m["name"]]), "unit": m["unit"]}
        for m in spec["end_to_end"]
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    spec = _spec()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        p.error(f"--workload must be one of {names}")

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, "work",
                        f"{args.workload}-s{args.seed}-p{os.getpid()}")
    settings = _settings(args, work)
    warnings.filterwarnings("ignore", category=UserWarning)
    steal0 = host.cpu_times()
    try:
        fig = run_pass(args.workload, args.seed, args.seconds, work,
                       traced=bool(args.trace))
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    settings["steal_share"] = host.steal_share(steal0, host.cpu_times())
    settings["rss_mb"] = fig["rss_mb"]

    attempted, failed = fig["attempted"], fig["failed"]
    if args.trace:
        metrics = layer_metrics(fig, spec)
        host_trace = os.path.join(
            out_dir, "traces", f"{args.workload}-s{args.seed}.jsonl")
        from perfbench.trace import write_jsonl

        write_jsonl(host_trace, [
            dict(r, **fig["folded"].get(r["group"], {}))
            for r in fig["spans"]
        ] + [{"stream_progress": p} for p in fig.get("progress", [])])
        settings["trace_file"] = os.path.relpath(host_trace, ROOT)
    else:
        metrics = end_to_end_metrics(fig, spec)
    bad = [m for m, v in metrics.items() if not math.isfinite(v["value"])]
    result = {
        "correct": failed == 0 and not bad,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    record = {"settings": settings, "result": result,
              "failures": sorted(set(fig["failures"]))}
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "results.jsonl"), "a") as f:
        f.write(json.dumps(record, sort_keys=True) + "\n")
    print(json.dumps({"settings": settings,
                      "failures": record["failures"]}, sort_keys=True))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
