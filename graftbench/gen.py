"""Seeded input generators for the three benchmark workloads.

Each generator writes the files the package reads and returns the
expected values the output checks compare against.  The same seed gives
byte-identical files; nothing here imports Spark.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

INT_MIN = -(2**31)
INT_MAX = 2**31 - 1
EDGE_VALUES = (INT_MIN, INT_MAX, 999_999, 1_000_000)
# Tokens Spark's ``try_cast(... as int)`` maps to NULL: letters, stray
# signs and values one past the int32 range.
MALFORMED_TOKENS = ("x", "12a", "--7", "2147483648", "-2147483649", "9z9")

# Word classes the BM25 demo query looks for (operators/text.py).
QUERY_WORDS = ("merge", "sort", "spark")


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per workload, so sizes can change in one
    # generator without shifting another's inputs
    salt = sum(ord(c) * 131**i for i, c in enumerate(stream)) % (2**32)
    return np.random.default_rng([seed, salt])


# --- sort_ints ---------------------------------------------------------------


def gen_ints(
    seed: int, path: str, n_tokens: int, per_line: int = 1000,
    malformed_share: float = 0.001, edge_copies: int = 3,
) -> dict:
    """Space-delimited int32 text, ``per_line`` tokens a line, with a
    share of malformed tokens and ``edge_copies`` copies of each edge
    value at random positions.  Returns the count and sum of the valid
    tokens."""
    rng = _rng(seed, "sort_ints")
    vals = rng.integers(INT_MIN, INT_MAX, n_tokens, endpoint=True, dtype=np.int64)
    n_edge = edge_copies * len(EDGE_VALUES)
    pos = rng.choice(n_tokens, n_edge + int(n_tokens * malformed_share), replace=False)
    edge_pos, bad_pos = pos[:n_edge], pos[n_edge:]
    vals[edge_pos] = np.repeat(np.array(EDGE_VALUES, dtype=np.int64), edge_copies)
    tokens = vals.astype(str).astype(object)
    tokens[bad_pos] = rng.choice(np.array(MALFORMED_TOKENS, dtype=object), len(bad_pos))
    valid = np.ones(n_tokens, dtype=bool)
    valid[bad_pos] = False
    with open(path, "w") as f:
        for i in range(0, n_tokens, per_line):
            f.write(" ".join(tokens[i : i + per_line]))
            f.write("\n")
    return {
        "count": int(valid.sum()),
        "sum": int(vals[valid].sum()),
        "tokens": n_tokens,
        "input_bytes": os.path.getsize(path),
        "rows": -(-n_tokens // per_line),
    }


# --- corpus_dedup ------------------------------------------------------------


def _vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set(QUERY_WORDS)
    out = list(QUERY_WORDS)
    while len(out) < size:
        w = "".join(rng.choice(letters, int(rng.integers(2, 10))))
        if w not in words:
            words.add(w)
            out.append(w)
    # query words sit at Zipf ranks 40-42: common, not stop-word common
    rest = out[len(QUERY_WORDS):]
    return np.array(rest[:40] + list(QUERY_WORDS) + rest[40:], dtype=object)


def gen_documents(
    seed: int, path: str, n_distinct: int, vocab_size: int = 4000,
    zipf_a: float = 1.1, words_range: tuple[int, int] = (40, 160),
    near_dup_share: float = 0.10, boilerplate_share: float = 0.30,
    n_boilerplate: int = 24,
) -> dict:
    """A ``documents`` table of ``n_distinct`` texts, each stored 1-3
    times under distinct ``doc_id``s.  ``near_dup_share`` of the texts
    are light rewrites (2% of words replaced) of an earlier text, and
    ``boilerplate_share`` carry one of ``n_boilerplate`` shared spans.
    Words are drawn from a Zipf(``zipf_a``) vocabulary.  Returns the
    replica groups (lists of doc_ids sharing one text)."""
    rng = _rng(seed, "corpus_dedup")
    vocab = _vocab(rng, vocab_size)
    ranks = np.arange(1, vocab_size + 1, dtype=np.float64)
    p = ranks**-zipf_a
    p /= p.sum()
    boiler = [
        " ".join(vocab[rng.choice(vocab_size, int(rng.integers(16, 32)), p=p)])
        for _ in range(n_boilerplate)
    ]
    lens = rng.integers(words_range[0], words_range[1], n_distinct, endpoint=True)
    words = vocab[rng.choice(vocab_size, int(lens.sum()), p=p)]
    ends = np.cumsum(lens)
    bodies = [words[e - n : e] for e, n in zip(ends, lens)]
    texts: list[str] = []
    near = rng.random(n_distinct) < near_dup_share
    with_bp = rng.random(n_distinct) < boilerplate_share
    bp_pick = rng.integers(0, n_boilerplate, n_distinct)
    bp_front = rng.random(n_distinct) < 0.5
    for i in range(n_distinct):
        body = bodies[i]
        if near[i] and i > 0:
            body = bodies[int(rng.integers(0, i))].copy()
            k = max(1, len(body) // 50)
            body[rng.choice(len(body), k, replace=False)] = vocab[
                rng.choice(vocab_size, k, p=p)
            ]
        text = " ".join(body)
        if with_bp[i]:
            bp = boiler[bp_pick[i]]
            text = f"{bp} {text}" if bp_front[i] else f"{text} {bp}"
        texts.append(text)
    # a rewrite can, rarely, reproduce its source byte for byte; keep
    # replica groups exact by making every text distinct
    seen: dict[str, int] = {}
    for i, t in enumerate(texts):
        if t in seen:
            texts[i] = f"{t} {vocab[int(rng.integers(0, vocab_size))]}"
        seen[texts[i]] = i
    copies = rng.choice(np.array([1, 2, 3]), n_distinct, p=[0.3, 0.4, 0.3])
    text_idx = np.repeat(np.arange(n_distinct), copies)
    text_idx = text_idx[rng.permutation(len(text_idx))]
    col_text = [texts[i] for i in text_idx]
    n_docs = len(col_text)
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(col_text, pa.string()),
            "lang": pa.array(["en"] * n_docs, pa.string()),
            "source": pa.array(
                [f"crawl-{int(s)}" for s in rng.integers(0, 16, n_docs)], pa.string()
            ),
            "n_chars": pa.array([len(t) for t in col_text], pa.int64()),
        }
    )
    pq.write_table(table, path)
    order = np.argsort(text_idx, kind="stable")
    bounds = np.flatnonzero(np.diff(text_idx[order])) + 1
    groups = [g.tolist() for g in np.split(order, bounds) if len(g) > 1]
    return {
        "docs": n_docs,
        "distinct_texts": n_distinct,
        "replica_groups": groups,
        "input_bytes": os.path.getsize(path),
        "text_bytes": sum(map(len, col_text)),
        "rows": n_docs,
    }


# --- stream_skew_join --------------------------------------------------------

EVENT_TYPES = np.array(["view", "click", "cart", "purchase", "error"], dtype=object)
_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
_HOUR_US = 3_600_000_000
JOIN_INTERVAL_US = 6 * _HOUR_US  # q_stream_interval_join: 6 hours
PROBE_MOD = 50  # q_stream_interval_join probes event_id % 50 == 0


def gen_events(
    seed: int, path: str, n_events: int, days: int = 30,
    n_users: int = 15_000, n_hot: int = 50, hot_share: float = 0.5,
) -> dict:
    """An ``events`` table over ``days`` days: ``hot_share`` of the
    events belong to ``n_hot`` hot users, the rest spread over the other
    users.  Returns the reference results of the two streaming keys,
    computed with numpy."""
    rng = _rng(seed, "stream_skew_join")
    ts = np.sort(rng.integers(0, days * 24 * _HOUR_US, n_events)) + _T0_US
    hot = rng.random(n_events) < hot_share
    user = np.where(
        hot, rng.integers(0, n_hot, n_events), rng.integers(n_hot, n_users, n_events)
    ).astype(np.int64)
    etype_i = rng.choice(len(EVENT_TYPES), n_events, p=[0.5, 0.25, 0.12, 0.08, 0.05])
    cents = rng.integers(0, 10_000, n_events)
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(user),
            "event_type": pa.array(EVENT_TYPES[etype_i], pa.string()),
            "value": pa.array(cents / 100.0),
            "props": pa.array(
                [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
                pa.string(),
            ),
        }
    )
    pq.write_table(table, path)
    # interval join: probes join every same-user event in (ts, ts + 6h]
    key = user * (1 << 42) + (ts - _T0_US)
    skey = np.sort(key)
    probe = np.arange(n_events) % PROBE_MOD == 0
    pk = key[probe]
    per_probe = np.searchsorted(skey, pk + JOIN_INTERVAL_US, "right") - np.searchsorted(
        skey, pk, "right"
    )
    # windowed aggregate: one row per (hour, event_type)
    hour = (ts - _T0_US) // _HOUR_US
    cell = hour * len(EVENT_TYPES) + etype_i
    n_cells = (int(hour.max()) + 1) * len(EVENT_TYPES)
    counts = np.bincount(cell, minlength=n_cells)
    sums = np.bincount(cell, weights=cents, minlength=n_cells).astype(np.int64)
    nz = np.flatnonzero(counts)
    windows = {
        f"{int(c // len(EVENT_TYPES))}:{EVENT_TYPES[c % len(EVENT_TYPES)]}": [
            int(counts[c]),
            int(sums[c]),
        ]
        for c in nz
    }
    return {
        "events": n_events,
        "hot_events": int(hot.sum()),
        "join_pairs": int(per_probe.sum()),
        "join_probe_id_sum": int((np.arange(n_events)[probe] * per_probe).sum()),
        "windows": windows,
        "input_bytes": os.path.getsize(path),
        "rows": n_events,
    }
