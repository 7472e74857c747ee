"""The benchmark's own tests: generators, result checks, a tiny-size
smoke run of each workload, and a corrupted run of each workload that
every result check must catch.

    python3 -m pytest perfbench/tests -q

The Spark runs take a few minutes; the rest is instant.
"""

from __future__ import annotations

import copy
import math
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, workloads  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    same_sessions,
    same_topk,
    well_formed_topk,
)

TINY = {
    "serve": {"turns": 400, "writer_parts": 3, "merge_factor": 2,
              "batch": 6, "head_share": 0.5, "k": 10},
    "sessionize": {"users": 40, "events_per_user": 10, "files": 3,
                   "files_per_trigger": 1, "near_gap_share": 0.1,
                   "long_gap_share": 0.3, "late_share": 0.1},
}


# ---------------------------------------------------------------------------
# generators
# ---------------------------------------------------------------------------


def test_transcripts_are_a_function_of_the_seed():
    a = gen.transcripts(7, 100, 50, 10)
    assert a.equals(gen.transcripts(7, 100, 50, 10))
    assert not a["text"].equals(gen.transcripts(8, 100, 50, 10)["text"])
    keys = set(zip(a["conv_id"], a["turn_idx"]))
    other = gen.transcripts(7, 150, 50, 10)
    assert not keys & set(zip(other["conv_id"], other["turn_idx"]))


def test_query_mix_has_the_stated_head_share():
    vocab = list(gen.vocabulary(3))
    head = set(vocab[:gen.HEAD_RANKS])
    batch = gen.query_batch(3, 0, 40, 0.25)
    assert batch == gen.query_batch(3, 0, 40, 0.25)
    is_head = [all(t in head for t in q.split()) for _, q in batch]
    assert is_head == [True] * 10 + [False] * 30


def test_head_share_follows_the_zipf_law():
    mass = gen._zipf_probs()[:gen.HEAD_RANKS].sum()
    assert gen.head_share() == pytest.approx(mass ** gen.TERMS_PER_QUERY)
    assert round(43 * gen.head_share()) == 10


def test_git_commit_outside_a_repository(tmp_path):
    from perfbench import host

    assert host.git_commit(str(tmp_path)) is None


def test_late_events_stay_within_the_watermark(tmp_path):
    import pyarrow.parquet as pq

    ev = gen.events(5, 50, 20, 0.1, 0.3)
    files = gen.write_event_files(5, ev, str(tmp_path), 4, 0.2)
    seen_max = None
    moved = 0
    for f in files:
        t = pq.read_table(f).to_pandas()
        if seen_max is not None:
            late = t[t["ts"] < seen_max]
            moved += len(late)
            # the sessionizer's watermark trails the max event time by 2 h
            assert (late["ts"] >= seen_max - gen.np.timedelta64(2, "h")).all()
        seen_max = max(seen_max, t["ts"].max()) if seen_max else t["ts"].max()
    assert moved > 0
    assert sum(pq.read_table(f).num_rows for f in files) == len(ev)


# ---------------------------------------------------------------------------
# result checks
# ---------------------------------------------------------------------------

REF = {"q1": [(1, 10, 5.0), (2, 11, 4.0), (3, 12, 4.0), (4, 13, 1.0)],
       "q2": [(1, 20, 2.0)]}


def test_topk_check_accepts_round_off_tie_order():
    got = copy.deepcopy(REF)
    got["q1"][1], got["q1"][2] = (2, 12, 4.0 + 1e-12), (3, 11, 4.0)
    assert same_topk(got, REF, k=10)


@pytest.mark.parametrize("corrupt", [
    lambda r: r["q1"].__setitem__(0, (1, 10, 5.1)),      # score
    lambda r: r["q1"].__setitem__(3, (4, 14, 1.0)),      # document
    lambda r: r["q1"].pop(),                             # missing hit
    lambda r: r.pop("q2"),                               # missing query
    lambda r: r["q1"].__setitem__(0, (1, 11, 5.0)),      # doc across ties
])
def test_topk_check_catches_corruption(corrupt):
    got = copy.deepcopy(REF)
    corrupt(got)
    assert not same_topk(got, REF, k=10)


def test_topk_check_forgives_only_the_cut_off_tie_group():
    want = {"q": [(1, 1, 3.0), (2, 2, 2.0), (3, 3, 2.0)]}
    got = {"q": [(1, 1, 3.0), (2, 2, 2.0), (3, 4, 2.0)]}
    assert same_topk(got, want, k=3)
    assert not same_topk(got, want, k=10)


def test_well_formed_topk():
    assert well_formed_topk(REF, 4)
    assert not well_formed_topk(REF, 3)
    assert not well_formed_topk({"q": [(2, 1, 1.0)]}, 5)
    assert not well_formed_topk({"q": [(1, 1, 1.0), (2, 2, 3.0)]}, 5)


def test_sessions_check():
    want = [(1, 1, 3, 60, 1.2345), (2, 1, 1, 0, 9.0)]
    assert same_sessions(list(reversed(want)), want)
    assert same_sessions([(1, 1, 3, 60, 1.2346), want[1]], want)
    assert not same_sessions([(1, 1, 4, 60, 1.2345), want[1]], want)
    assert not same_sessions(want[:1], want)


# ---------------------------------------------------------------------------
# Spark runs
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def bench(tmp_path_factory):
    """The benchmark's runner with host settings exported and tiny
    sizes; stops the JVM when the module is done."""
    from perfbench import run

    work = str(tmp_path_factory.mktemp("perfbench"))
    args = type("Args", (), {"workload": "tests", "seed": 0,
                             "seconds": 0.1, "trace": 0})
    run._settings(args, work)
    saved = dict(workloads.SIZES)
    workloads.SIZES.update(TINY)
    yield run, work
    workloads.SIZES.update(saved)
    run.shutdown_jvm()


def _bump(kind, value):
    """Corrupt one result of every kind, each in a way only its own
    check can see."""
    if kind in ("build.pipeline", "build.compact",
                "writer.append", "writer.maybe_compact"):
        return dict(value, n_docs=value["n_docs"] + 1)
    if kind == "serve.rows":  # ranks no longer start at 1
        return {q: [(r + 1, d, s) for r, d, s in h] for q, h in value.items()}
    if kind.startswith("serve."):
        q = sorted(value)[0]
        (r, d, s), rest = value[q][0], value[q][1:]
        return dict(value, **{q: [(r, d, s + 1.0)] + rest})
    if kind == "sessionize":
        (u, i, n, dur, v), rest = value[0], value[1:]
        return [(u, i, n + 1, dur, v)] + rest
    raise AssertionError(kind)


SERVE_CHECKS = {"build.pipeline", "build.compact", "writer.append",
                "writer.maybe_compact", "serve.rows", "serve.parquet",
                "serve.cached", "serve.live"}


@pytest.mark.parametrize("workload", ["serve", "sessionize"])
def test_smoke(bench, workload):
    run, work = bench
    fig = run.run_pass(workload, 1, 0.1, os.path.join(work, workload),
                       traced=False)
    assert fig["attempted"] > 0 and fig["failed"] == 0, fig["failures"]
    for name in ("setup_s", "throughput_per_s", "op_p50_s", "peak_rss_mb"):
        assert math.isfinite(fig[name]) and fig[name] > 0, name


@pytest.mark.parametrize("workload,checks", [
    ("serve", SERVE_CHECKS), ("sessionize", {"sessionize"}),
])
def test_every_check_catches_a_corrupted_result(bench, workload, checks):
    run, work = bench
    fig = run.run_pass(workload, 1, 0.1, os.path.join(work, f"bad-{workload}"),
                       traced=False, tamper=_bump)
    assert set(fig["failures"]) == checks
    assert fig["failed"] == fig["attempted"]


def test_traced_run_folds_spans(bench):
    run, work = bench
    fig = run.run_pass("sessionize", 2, 0.1, os.path.join(work, "traced"),
                       traced=True)
    backfill = [r for r in fig["spans"]
                if r["span"] == "analytics.sessionize_backfill"]
    folded = fig["folded"][backfill[0]["group"]]
    assert folded["tasks"] > 0 and folded["executor_run_s"] > 0
    assert 0 <= folded["driver_s"] <= folded["wall_s"]
    # the traced backfill ran between two with tracing paused, whose
    # spans and jobs stay out of the record
    assert len(backfill) == 1
    assert fig["failed"] == 0, fig["failures"]
    assert fig["paused_throughput_per_s"] > 0
    assert not {g for g in fig["folded"] if g} - {r["group"]
                                                   for r in fig["spans"]}
