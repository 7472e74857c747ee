"""Seeded input generators owned by the benchmark.

The engine only ever sees the parquet files written here. Nothing is
taken from ``lucene_msmarco_spark.sources``: a change to the engine's own
fixture generator must not silently change the benchmark's data.

Every generator is a pure function of its seed and sizes: the same
arguments give identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: vocabulary size and Zipf exponent of the transcript text, as in the
#: engine's own fixture and ``bench.py``
VOCAB_SIZE = 5000
ZIPF_S = 1.1
#: query mix: head terms are the top ranks (long postings), mid-tail
#: terms are drawn uniformly from ranks [HEAD_RANKS, VOCAB_SIZE)
HEAD_RANKS = 50
TERMS_PER_QUERY = 3

ROLES = ("user", "assistant", "tool")
_BASE_TS = np.datetime64("2026-01-01T00:00:00", "us")
_SYLLABLES = np.array([
    "ka", "lo", "mi", "re", "su", "tan", "vor", "qui", "zel", "pam",
    "gro", "nis", "dar", "fel", "bo", "cy", "nur", "wes", "yo", "sta",
])
#: analyzer edge cases, one prepended to every 13th turn
EDGE_SNIPPETS = (
    "bob's memo 2.71",
    "the of and to",
    "Walking WALKS walker",
    "crème brûlée façade",
    "x -12 y 2024 z 0.25",
    "",
    "isn't shouldn't they're",
    "U.K. budget line",
)

TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])

EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])
EVENT_TYPES = ("view", "click", "search", "play", "share")


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), *map(int, stream)])


def vocabulary(seed: int) -> np.ndarray:
    """``VOCAB_SIZE`` distinct four-syllable words; index = Zipf rank."""
    parts = _rng(seed, 1).integers(0, len(_SYLLABLES), (2 * VOCAB_SIZE, 4))
    words = dict.fromkeys("".join(_SYLLABLES[p]) for p in parts)
    return np.array(list(words)[:VOCAB_SIZE])


def _zipf_probs() -> np.ndarray:
    p = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** -ZIPF_S
    return p / p.sum()


def head_share() -> float:
    """Share of head-term queries in a batch, derived from the text's own
    Zipf law: if a query's terms were drawn by token frequency, all of
    them would fall in the ``HEAD_RANKS`` most frequent words with
    probability (Zipf mass of those ranks) ** ``TERMS_PER_QUERY``. With
    5,000 words and s = 1.1 the mass is 0.606, so 22.3% of queries. The
    other queries draw their terms uniformly over the mid-tail types, as
    ``bench.py`` does: user queries are mostly made of content words."""
    return float(_zipf_probs()[:HEAD_RANKS].sum() ** TERMS_PER_QUERY)


def transcripts(seed: int, start: int, count: int,
                n_convs: int) -> pd.DataFrame:
    """Rows ``[start, start + count)`` of the seed's transcript table.

    Row ``g`` is turn ``g // n_convs`` of conversation ``g % n_convs``,
    so disjoint row ranges never share a ``(conv_id, turn_idx)`` key.
    """
    vocab = vocabulary(seed)
    rng = _rng(seed, 2, start, count)
    lengths = rng.integers(5, 121, count)
    words = vocab[rng.choice(VOCAB_SIZE, int(lengths.sum()), p=_zipf_probs())]
    cuts = np.cumsum(lengths)[:-1]
    g = np.arange(start, start + count)
    texts = []
    for gi, toks in zip(g, np.split(words, cuts)):
        text = " ".join(toks)
        if gi % 13 == 0:
            snip = EDGE_SNIPPETS[(gi // 13) % len(EDGE_SNIPPETS)]
            text = f"{snip} {text}" if snip else text
        texts.append(text)
    roles = np.array(ROLES)[g % 3]
    return pd.DataFrame({
        "conv_id": [f"conv{c:07d}" for c in g % n_convs],
        "turn_idx": (g // n_convs).astype(np.int32),
        "role": roles,
        "text": texts,
        "tool": [f"tool{gi % 7}" if r == "tool" else None
                 for gi, r in zip(g, roles)],
        "ts": (_BASE_TS + g.astype("timedelta64[s]")).astype("datetime64[us]"),
    })


def split_rows(pdf: pd.DataFrame, n: int) -> list[pd.DataFrame]:
    """``n`` consecutive, near-equal row ranges of ``pdf``."""
    return [pdf.iloc[idx] for idx in np.array_split(np.arange(len(pdf)), n)]


def write_transcripts(pdf: pd.DataFrame, path: str, n_files: int = 1) -> int:
    """Write ``pdf`` as ``n_files`` parquet files under ``path``; returns
    the UTF-8 byte count of its text column."""
    os.makedirs(path, exist_ok=True)
    pdf = pdf.assign(ts=pdf["ts"].dt.tz_localize("UTC"))
    for i, part in enumerate(split_rows(pdf, n_files)):
        table = pa.Table.from_pandas(
            part, schema=TRANSCRIPT_SCHEMA, preserve_index=False
        )
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))
    return sum(len(t.encode()) for t in pdf["text"])


def query_batch(seed: int, batch: int, size: int,
                head_share: float) -> list[tuple[str, str]]:
    """``size`` three-term queries: the first ``round(size * head_share)``
    draw every term from the ``HEAD_RANKS`` most frequent words, the rest
    uniformly from ranks ``[HEAD_RANKS, VOCAB_SIZE)``."""
    vocab = vocabulary(seed)
    rng = _rng(seed, 3, batch)
    n_head = int(round(size * head_share))
    out = []
    for i in range(size):
        lo, hi = (0, HEAD_RANKS) if i < n_head else (HEAD_RANKS, VOCAB_SIZE)
        terms = vocab[rng.integers(lo, hi, TERMS_PER_QUERY)]
        out.append((f"b{batch}q{i:03d}", " ".join(terms)))
    return out


def events(seed: int, n_users: int, events_per_user: int,
           near_gap_share: float, long_gap_share: float,
           gap_sec: int = 1800) -> pd.DataFrame:
    """Per-user event sequences with a stated inter-event gap mix:

    - short gaps, uniform in [1, 600] s (same session);
    - ``near_gap_share`` within 10 s of the session gap, both sides of
      it (``gap_sec`` exactly still continues the session);
    - ``long_gap_share`` uniform in (gap, 4 h] (a new session).

    Rows come back sorted by event time.
    """
    rng = _rng(seed, 4)
    n = n_users * events_per_user
    u = rng.random(n)
    gaps = rng.integers(1, 601, n)
    near = u < near_gap_share
    gaps[near] = rng.integers(gap_sec - 10, gap_sec + 11, int(near.sum()))
    far = (u >= near_gap_share) & (u < near_gap_share + long_gap_share)
    gaps[far] = rng.integers(gap_sec + 1, 4 * 3600 + 1, int(far.sum()))
    gaps = gaps.reshape(n_users, events_per_user)
    gaps[:, 0] = rng.integers(0, 3600, n_users)  # staggered first events
    secs = np.cumsum(gaps, axis=1).ravel()
    users = np.repeat(np.arange(n_users, dtype=np.int64), events_per_user)
    pdf = pd.DataFrame({
        "event_id": rng.permutation(n).astype(np.int64),
        "ts": _BASE_TS + secs.astype("timedelta64[s]"),
        "user_id": users,
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.uniform(0.0, 100.0, n), 2),
        "props": [f'{{"v":{i % 3}}}' for i in range(n)],
    })
    return pdf.sort_values(["ts", "event_id"], kind="stable",
                           ignore_index=True)


def write_event_files(seed: int, pdf: pd.DataFrame, path: str, n_files: int,
                      late_share: float,
                      late_window_s: int = 3600) -> list[str]:
    """Split time-sorted events into ``n_files`` consecutive time slices
    and write them in order. ``late_share`` of each slice's rows arrive
    one file later than their slice. Only rows within ``late_window_s``
    of their slice's end are moved, so with a window below the
    watermark delay a late row is never dropped."""
    os.makedirs(path, exist_ok=True)
    rng = _rng(seed, 5)
    epoch_s = pdf["ts"].to_numpy().astype("datetime64[s]").astype(np.int64)
    carry = np.array([], dtype=np.int64)
    files = []
    for i, idx in enumerate(np.array_split(np.arange(len(pdf)), n_files)):
        secs = epoch_s[idx]
        late = (rng.random(idx.size) < late_share) & (
            secs >= secs.max() - late_window_s
        )
        if i == n_files - 1:
            late[:] = False
        rows = np.concatenate([idx[~late], carry])
        carry = idx[late]
        f = os.path.join(path, f"events-{i:05d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[rows], schema=EVENTS_SCHEMA,
                                 preserve_index=False), f)
        # the file source replays in modification-time order
        os.utime(f, ns=(10**18 + i * 10**9, 10**18 + i * 10**9))
        files.append(f)
    return files
