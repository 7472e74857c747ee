"""The benchmark's workloads. Each is a closed loop driven by one client
(this process) on ``local[nproc]``: set up, then run operations back to
back until the time budget is spent (at least one), checking every
result.

Every operation's result passes through ``Ctx.tamper`` before its check;
the benchmark's own tests use that hook to prove each check fails on a
corrupted result.
"""

from __future__ import annotations

import contextlib
import math
import os
import statistics
import time
import traceback
from dataclasses import dataclass, field

from . import gen
from .trace import Tracer

#: sizes per workload; recorded in BENCHMARK.json and README.md
SIZES = {
    "serve": {"turns": 2000, "writer_parts": 3, "merge_factor": 2,
              "batch": 43, "head_share": gen.head_share(), "k": 100},
    "sessionize": {"users": 1000, "events_per_user": 24, "files": 6,
                   "files_per_trigger": 1, "near_gap_share": 0.05,
                   "long_gap_share": 0.2, "late_share": 0.05},
}
#: turns per conversation in generated corpora
TURNS_PER_CONV = 8
KEYS = ["conv_id", "turn_idx"]
SCORE_TOL = 1e-9


@dataclass
class Ctx:
    """One pass of one workload: its session, spans and op accounting."""

    workload: str
    seed: int
    seconds: float
    work: str
    tracer: Tracer
    sizes: dict
    extra_conf: dict = field(default_factory=dict)
    tamper: object = None
    spark: object = None
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    listener: object = None
    #: seconds spent in result checks, kept out of the set-up time
    check_s: float = 0.0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self) -> None:
        from lucene_msmarco_spark.session import build_session

        with self.tracer.span("session.build_session"):
            self.spark = build_session(
                app_name=f"perfbench-{self.workload}",
                extra_conf=self.extra_conf,
            )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.bind(self.spark)

    @contextlib.contextmanager
    def checking(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.check_s += time.perf_counter() - t0

    def result(self, kind: str, value):
        return self.tamper(kind, value) if self.tamper else value

    def op(self, ok: bool, what: str, n: int = 1) -> None:
        self.attempted += n
        if not ok:
            self.failed += n
            self.failures.append(what)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path) for f in fs
    )


def _timed_loop(ctx: Ctx, step) -> float:
    """Run ``step(i)`` until its summed time reaches the budget (at least
    once); ``step`` returns the seconds it spent in measured calls. A step
    that raises counts as one failed operation and the loop goes on.

    In a traced run the same steps also run with tracing paused: one
    before the first traced step and one after every traced step. The
    paused steps, the baseline of the tracing overhead, then sit on
    both sides of the traced ones, so a linear drift in speed cancels.
    Only the traced steps count towards the budget."""
    traced = ctx.tracer.traced
    spent, i = 0.0, 0
    while i == 0 or spent < ctx.seconds:
        if traced and i == 0:
            with ctx.tracer.paused():
                _attempt(ctx, step, i)
        spent += _attempt(ctx, step, i)
        if traced:
            with ctx.tracer.paused():
                _attempt(ctx, step, i)
        i += 1
    return spent


def _attempt(ctx: Ctx, step, i: int) -> float:
    t0 = time.perf_counter()
    try:
        return step(i)
    except Exception:
        traceback.print_exc()
        ctx.op(False, "exception")
        return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# result checks
# ---------------------------------------------------------------------------


def topk_by_query(rows) -> dict[str, list[tuple[int, int, float]]]:
    out: dict[str, list] = {}
    for r in rows:
        out.setdefault(r["qid"], []).append(
            (int(r["rank"]), int(r["doc_id"]), float(r["score"])))
    return {q: sorted(v) for q, v in out.items()}


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= SCORE_TOL * max(1.0, abs(a), abs(b))


def same_topk(got: dict, ref: dict, k: int) -> bool:
    """Rank- and score-identical up to float round-off: per query the
    same score at every rank, and the same documents within every run of
    tied scores (equal within ``SCORE_TOL``). Round-off decides the order
    inside such a run, and which members of a run cut at rank k make the
    list, so neither is compared."""
    if got.keys() != ref.keys():
        return False
    for q, want in ref.items():
        have = got[q]
        if len(have) != len(want):
            return False
        if not all(_close(a[2], b[2]) for a, b in zip(have, want)):
            return False
        lo = 0
        for hi in range(1, len(want) + 1):
            if hi < len(want) and _close(want[hi][2], want[lo][2]):
                continue
            cut = hi == len(want) == k
            g = {d for _, d, _ in have[lo:hi]}
            r = {d for _, d, _ in want[lo:hi]}
            if g != r and not cut:
                return False
            lo = hi
    return True


def well_formed_topk(res: dict, k: int) -> bool:
    for hits in res.values():
        if not 0 < len(hits) <= k:
            return False
        if [h[0] for h in hits] != list(range(1, len(hits) + 1)):
            return False
        if any(a[2] < b[2] for a, b in zip(hits, hits[1:])):
            return False
    return True


# ---------------------------------------------------------------------------
# serve (its set-up is the bulk build)
# ---------------------------------------------------------------------------


def bulk_build(ctx: Ctx, inp: str, out: str, n_turns: int) -> dict:
    """The bulk build: the CLI ``index`` pipeline, then the one-pass
    compact build + save of the same corpus. Checks both builds (two
    operations) and returns their timings, sizes and directories."""
    from pyspark.sql import functions as F

    from lucene_msmarco_spark.operators.index import assign_doc_ids
    from lucene_msmarco_spark.operators.postings import build_compact_index
    from lucene_msmarco_spark.streaming.incremental import (
        BuildConfig,
        IndexBuildPipeline,
    )

    spark, tr = ctx.spark, ctx.tracer
    pipe_dir, art = os.path.join(out, "pipeline"), os.path.join(out, "compact")
    with tr.span("build_pipeline.run") as s_pipe:
        manifest = IndexBuildPipeline(
            spark, inp, pipe_dir, BuildConfig(analyzer="english")
        ).run(resume=False)
    with tr.span("postings.build_compact_index") as s_comp:
        docs = assign_doc_ids(spark.read.parquet(inp), KEYS)
        compact = build_compact_index(docs)
    with tr.span("postings.CompactIndex.save") as s_save:
        compact.save(art)

    with ctx.checking():
        term_stats = spark.read.parquet(os.path.join(pipe_dir, "term_stats"))
        pipe = ctx.result("build.pipeline", {
            "n_docs": manifest["doc_ids"]["rows"],
            "vocab": manifest["term_stats"]["rows"],
            "total_cf": term_stats.agg(F.sum("cf")).collect()[0][0],
        })
        comp = ctx.result("build.compact", {
            "n_docs": compact.stats.n_docs,
            "vocab": compact.postings.select("term").distinct().count(),
            "total_cf": compact.stats.total_cf,
        })
        agree = pipe == comp
        ctx.op(pipe["n_docs"] == n_turns and agree, "build.pipeline")
        ctx.op(comp["n_docs"] == n_turns and agree, "build.compact")
        postings_rows = spark.read.parquet(
            os.path.join(art, "postings")).count()
    compact.postings.unpersist()
    docs.unpersist()
    return {
        "pipeline": pipe_dir,
        "compact": art,
        "pipe_s": s_pipe["wall_s"],
        "compact_s": s_comp["wall_s"] + s_save["wall_s"],
        "tokens_rows": manifest["tokens_tf"]["rows"],
        "postings_rows": postings_rows,
        "index_bytes": _dir_bytes(art),
    }


def writer_build(ctx: Ctx, paths: list[str], sizes: list[int]) -> dict:
    """A multi-generation writer index over the same corpus: one append
    per part, each followed by ``maybe_compact``. Parts are consecutive
    key ranges, so the writer numbers documents exactly as the bulk
    build does."""
    from lucene_msmarco_spark.sources.table_format import read_transcripts
    from lucene_msmarco_spark.streaming.incremental import (
        BuildConfig,
        MergePolicy,
        SegmentedIndexWriter,
    )

    spark, tr = ctx.spark, ctx.tracer
    writer = SegmentedIndexWriter(spark, ctx.path("writer"),
                                  BuildConfig(analyzer="english"))
    policy = MergePolicy(merge_factor=ctx.sizes["merge_factor"])
    written = {"append": 0, "compact": 0}
    compactions = 0
    for i, (path, n) in enumerate(zip(paths, sizes)):
        with tr.span("writer.append"):
            entry = writer.append(read_transcripts(spark, path))
        written["append"] += _dir_bytes(writer._gen_dir(entry["gen"]))
        with ctx.checking():
            entry = ctx.result("writer.append", entry)
            ctx.op(entry["n_docs"] == n, "writer.append")
        with tr.span("writer.maybe_compact"):
            done = writer.maybe_compact(policy)
        compactions += len(done)
        for e in done:
            written["compact"] += _dir_bytes(writer._gen_dir(e["gen"]))
        with ctx.checking():
            st = ctx.result("writer.maybe_compact", writer.state())
            ctx.op(st["n_docs"] == sum(sizes[:i + 1]),
                   "writer.maybe_compact")
    return {
        "writer": writer,
        "generations_live": len(writer.state()["live"]),
        "compactions": compactions,
        "rewrite_ratio": written["compact"] / written["append"],
    }


#: the serving shapes a batch runs through, in order
SHAPES = ("parquet", "cached", "live", "rows")


def _serve_batch(ctx: Ctx, batch, idx: dict, k: int) -> dict:
    """One query batch through every serving shape; returns each shape's
    seconds and answers."""
    from lucene_msmarco_spark.operators.postings import bmw_search
    from lucene_msmarco_spark.operators.retrieval import (
        compile_queries,
        search,
    )

    spark, tr = ctx.spark, ctx.tracer
    qdf = spark.createDataFrame(batch, "qid string, qtext string")
    out = {}
    for shape in SHAPES[:3]:
        sfx = "" if shape == "parquet" else "." + shape
        load_s = 0.0
        if shape == "live":
            with tr.span("writer.load") as s:
                ci = idx["writer"].load()
            load_s = s["wall_s"]
        else:
            ci = idx[shape]
        with tr.span("postings.bmw_search" + sfx) as a:
            res = bmw_search(ci, compile_queries(qdf, ci.analyzer), k=k)
        with tr.span("postings.bmw_search" + sfx + ".collect") as b:
            got = res.collect()
        out[shape] = (load_s + a["wall_s"] + b["wall_s"], topk_by_query(got))
    with tr.span("retrieval.search.collect") as c:
        got = search(idx["rows"], qdf, model="bm25", k=k,
                     strategy="window").collect()
    out["rows"] = (c["wall_s"], topk_by_query(got))
    return out


def _check_serve(ctx: Ctx, out: dict, k: int) -> None:
    """The exhaustive window search is the reference; every Block-Max
    shape must match it."""
    ref = ctx.result("serve.rows", out["rows"][1])
    ctx.op(well_formed_topk(ref, k), "serve.rows")
    for shape in SHAPES[:3]:
        got = ctx.result(f"serve.{shape}", out[shape][1])
        ctx.op(well_formed_topk(got, k) and same_topk(got, ref, k),
               f"serve.{shape}")


def run_serve(ctx: Ctx) -> dict:
    """No separate warm-up batch: the bulk build already warms the JVM
    and the Python workers; the first measured batch ran about 6% slower
    than the next ones, and a warm-up batch would cost a whole batch in
    every run."""
    from lucene_msmarco_spark.cli import load_pipeline_index
    from lucene_msmarco_spark.operators.postings import CompactIndex

    S = ctx.sizes
    n_turns = S["turns"]
    corpus = gen.transcripts(ctx.seed, 0, n_turns, n_turns // TURNS_PER_CONV)
    inp = ctx.path("input")
    text = gen.write_transcripts(corpus, inp, 4)
    parts, sizes = [], []
    ordered = corpus.sort_values(KEYS, ignore_index=True)
    for i, chunk in enumerate(gen.split_rows(ordered, S["writer_parts"])):
        parts.append(ctx.path("parts", f"part{i}"))
        sizes.append(len(chunk))
        gen.write_transcripts(chunk, parts[-1])
    batches = [gen.query_batch(ctx.seed, i, S["batch"], S["head_share"])
               for i in range(64)]

    t0 = time.perf_counter()
    ctx.start_session()
    spark, tr, k = ctx.spark, ctx.tracer, S["k"]
    built = bulk_build(ctx, inp, ctx.path("index"), n_turns)
    with tr.span("postings.CompactIndex.load"):
        ci = CompactIndex.load(spark, built["compact"])
    cached = CompactIndex(postings=ci.postings.persist(), stats=ci.stats,
                          analyzer=ci.analyzer)
    cached.postings.count()
    live = writer_build(ctx, parts, sizes)
    idx = {"parquet": ci, "cached": cached, "writer": live["writer"],
           "rows": load_pipeline_index(spark, built["pipeline"])}
    setup_s = time.perf_counter() - t0 - ctx.check_s

    outs: list[dict] = []
    paused: list[dict] = []

    def step(i: int) -> float:
        out = _serve_batch(ctx, batches[i % len(batches)], idx, k)
        _check_serve(ctx, out, k)
        (outs if tr.recording else paused).append(out)
        return sum(v[0] for v in out.values())

    spent = _timed_loop(ctx, step)
    n = S["batch"] * len(outs)

    def qps(shape):
        return n / sum(o[shape][0] for o in outs)

    def throughput(done):
        secs = sum(v[0] for o in done for v in o.values())
        return len(SHAPES) * S["batch"] * len(done) / secs

    full = sum(len(h) == k for o in outs for h in o["parquet"][1].values())
    return {
        "setup_s": setup_s,
        "window_s": spent,
        "throughput_per_s": throughput(outs),
        "paused_throughput_per_s": throughput(paused) if paused else None,
        "op_p50_s": statistics.median(
            sum(v[0] for v in o.values()) for o in outs),
        "layer": {
            "build.index_build_turns_per_s": n_turns / built["pipe_s"],
            "build.compact_build_turns_per_s": n_turns / built["compact_s"],
            "build.index_bytes_per_text_byte": built["index_bytes"] / text,
            "build.tokens_rows": built["tokens_rows"],
            "build.postings_rows": built["postings_rows"],
            "build.index_bytes": built["index_bytes"],
            "writer.generations_live": live["generations_live"],
            "writer.compactions": live["compactions"],
            "writer.rewrite_bytes_per_appended_byte": live["rewrite_ratio"],
            **{f"serve.{s}_qps": qps(s) for s in SHAPES},
            "serve.full_topk_ratio": full / n,
        },
        "queries": n,
    }


# ---------------------------------------------------------------------------
# sessionize
# ---------------------------------------------------------------------------


def _sessions_oracle(src: str) -> list[tuple]:
    import duckdb

    from lucene_msmarco_spark.entry_queries import build_sql

    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW events AS SELECT * FROM read_parquet("
                    f"'{src}/*.parquet')")
        return con.execute(build_sql("events_sessionize", "duckdb")).fetchall()
    finally:
        con.close()


def same_sessions(got: list[tuple], want: list[tuple]) -> bool:
    """Sink rows (user_id, session_idx, n_events, duration_sec,
    sum_value) equal the oracle's; sums are compared after both sides
    rounded them to 4 decimals, so they may differ by one unit there."""
    if len(got) != len(want):
        return False
    for g, w in zip(sorted(got), sorted(want)):
        if tuple(g[:4]) != tuple(w[:4]) or abs(g[4] - w[4]) > 1.0001e-4:
            return False
    return True


def _backfill(ctx: Ctx, src: str, tag: str) -> dict:
    from lucene_msmarco_spark.streaming.analytics import sessionize_backfill

    sink, ckpt = ctx.path(tag, "sink"), ctx.path(tag, "ckpt")
    with ctx.tracer.span("analytics.sessionize_backfill") as s:
        out = sessionize_backfill(
            ctx.spark, src, sink, ckpt,
            source_options={"maxFilesPerTrigger":
                            ctx.sizes["files_per_trigger"]},
        )
    ctx.listener.drain()
    runs = ctx.listener.runs_of(s["group"])
    prog = [p for p in ctx.listener.progress if p["runId"] in runs]
    # the first run replays the events; the second only drains the state
    first = [p for p in prog if p["runId"] == runs[0] and p["numInputRows"]]
    with ctx.checking():
        got = ctx.result("sessionize", [tuple(r) for r in out.collect()])
        ctx.op(same_sessions(got, _sessions_oracle(src)), "sessionize",
               n=max(1, len(first)))
    start = _iso_s(first[0]["timestamp"]) if first else s["t0"]
    return {
        "wall_s": s["wall_s"],
        "t0": s["t0"],
        "batches": first,
        "progress": prog,
        "first_batch_s": start + _trigger_s(first[0]) - s["t0"]
        if first else math.nan,
    }


def _iso_s(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _trigger_s(p: dict) -> float:
    return p["durationMs"].get("triggerExecution", 0) / 1e3


def run_sessionize(ctx: Ctx) -> dict:
    """No warm-up rep: the first micro-batch of each backfill carries the
    stream start (and, in the first backfill, the JIT warm-up); it is
    reported apart and left out of the steady state."""
    from .trace import progress_listener

    S = ctx.sizes
    src = ctx.path("events")
    gen.write_event_files(
        ctx.seed,
        gen.events(ctx.seed, S["users"], S["events_per_user"],
                   S["near_gap_share"], S["long_gap_share"]),
        src, S["files"], S["late_share"])

    t0 = time.perf_counter()
    ctx.start_session()
    ctx.listener = progress_listener(ctx.tracer)
    ctx.spark.streams.addListener(ctx.listener)
    setup_s = time.perf_counter() - t0

    ops: list[dict] = []
    paused: list[dict] = []

    def step(i: int) -> float:
        op = _backfill(ctx, src, f"run{len(ops) + len(paused)}")
        (ops if ctx.tracer.recording else paused).append(op)
        return op["wall_s"]

    def steady(done):
        return [p for o in done for p in o["batches"][1:]]

    def throughput(done):
        return (sum(p["numInputRows"] for p in steady(done))
                / sum(_trigger_s(p) for p in steady(done)))

    spent = _timed_loop(ctx, step)
    return {
        "setup_s": setup_s,
        "window_s": spent,
        "throughput_per_s": throughput(ops),
        "paused_throughput_per_s": throughput(paused) if paused else None,
        "op_p50_s": statistics.median(_trigger_s(p) for p in steady(ops)),
        "layer": {
            "sessionize.first_batch_s": statistics.median(
                o["first_batch_s"] for o in ops),
        },
        "progress": [p for o in ops for p in o["progress"]],
    }


RUNNERS = {
    "serve": run_serve,
    "sessionize": run_sessionize,
}
