"""The same seed gives byte-identical inputs; another seed, other ones."""

from __future__ import annotations

import hashlib
import os

import pytest
import workloads


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _files(name: str, seed: int, tmp_path) -> dict[str, str]:
    d = tmp_path / f"{name}-{seed}-{len(os.listdir(tmp_path))}"
    d.mkdir()
    meta = workloads.generate(name, seed, str(d), "tiny")
    return {f: _digest(str(d / f)) for f in sorted(os.listdir(d))}, meta


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_same_seed_same_bytes(name, tmp_path):
    a, meta_a = _files(name, 7, tmp_path)
    b, meta_b = _files(name, 7, tmp_path)
    assert a and a == b
    assert meta_a == meta_b


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_other_seed_other_bytes(name, tmp_path):
    a, _ = _files(name, 7, tmp_path)
    b, _ = _files(name, 8, tmp_path)
    assert a.keys() == b.keys()
    assert all(a[f] != b[f] for f in a)


def test_ints_expected_values_cover_edges_and_malformed(tmp_path):
    import gen
    import numpy as np

    path = str(tmp_path / "ints.txt")
    meta = gen.gen_ints(3, path, 5000)
    tokens = open(path).read().split()
    assert len(tokens) == meta["tokens"] == 5000
    valid = []
    for t in tokens:
        try:
            v = int(t)
        except ValueError:
            continue
        if gen.INT_MIN <= v <= gen.INT_MAX:
            valid.append(v)
    assert meta["count"] == len(valid) < len(tokens)
    assert meta["sum"] == int(np.sum(np.array(valid, dtype=np.int64)))
    assert all(e in valid for e in gen.EDGE_VALUES)


def test_documents_replica_groups_share_text(tmp_path):
    import pyarrow.parquet as pq

    path = str(tmp_path / "documents.parquet")
    import gen

    meta = gen.gen_documents(5, path, 200)
    text = pq.read_table(path).column("text").to_pylist()
    assert meta["replica_groups"]
    for group in meta["replica_groups"]:
        assert len({text[d] for d in group}) == 1
    grouped = {d for g in meta["replica_groups"] for d in g}
    singles = [t for d, t in enumerate(text) if d not in grouped]
    assert len(set(singles)) == len(singles)
    assert meta["distinct_texts"] == len(set(text))


def test_events_reference_matches_brute_force(tmp_path):
    import gen
    import pyarrow.parquet as pq

    path = str(tmp_path / "events.parquet")
    meta = gen.gen_events(9, path, 3000, n_users=200, n_hot=5)
    t = pq.read_table(path).to_pydict()
    us = [x.timestamp() * 1_000_000 for x in t["ts"]]
    by_user: dict[int, list[float]] = {}
    for u, x in zip(t["user_id"], us):
        by_user.setdefault(u, []).append(x)
    pairs = 0
    for eid, u, x in zip(t["event_id"], t["user_id"], us):
        if eid % gen.PROBE_MOD == 0:
            pairs += sum(1 for y in by_user[u] if x < y <= x + gen.JOIN_INTERVAL_US)
    assert pairs == meta["join_pairs"]
    assert sum(c for c, _ in meta["windows"].values()) == 3000
