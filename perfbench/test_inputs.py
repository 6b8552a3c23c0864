"""Seeded inputs are a pure function of (seed, shape).

Run with ``python3 -m pytest perfbench -q`` from the repository root;
needs numpy and pyarrow only (no Spark).
"""

import hashlib
import os

from perfbench import inputs

SHAPE = {"rows": 64, "dim": 16}


def _digest(root: str) -> dict[str, str]:
    out = {}
    for r, _, files in os.walk(root):
        for f in files:
            p = os.path.join(r, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _shards(root: str, seed: int) -> str:
    def gen(d):
        for s in range(2):
            inputs.write_shard(d, seed, s, SHAPE["rows"], SHAPE["dim"], 4, 1.0, text_missing=s == 1)

    return inputs.cached(str(root), "t", seed, SHAPE, "shards", gen)


def _corpus(root: str, seed: int) -> str:
    def gen(d):
        inputs.write_corpus(d, seed, docs=300, pairs=20, clusters=[8, 4])

    return inputs.cached(str(root), "c", seed, SHAPE, "corpus", gen)


def test_same_seed_same_bytes(tmp_path):
    for make in (_shards, _corpus):
        a = _digest(make(tmp_path / "a", 7))
        b = _digest(make(tmp_path / "b", 7))
        assert a and a == b
    assert inputs.query_texts(7, 20) == inputs.query_texts(7, 20)


def test_different_seeds_differ(tmp_path):
    for make in (_shards, _corpus):
        a = _digest(make(tmp_path / "a", 7))
        b = _digest(make(tmp_path / "b", 8))
        assert a.keys() == b.keys()
        assert all(a[k] != b[k] for k in a)
    assert inputs.query_texts(7, 20) != inputs.query_texts(8, 20)


def test_cache_reuses_and_evicts(tmp_path):
    first = _shards(tmp_path, 1)
    stamp = os.path.getmtime(os.path.join(first, "metadata", "metadata_0.parquet"))
    assert _shards(tmp_path, 1) == first
    assert os.path.getmtime(os.path.join(first, "metadata", "metadata_0.parquet")) == stamp
    for seed in range(2, 2 + inputs.CACHE_KEEP + 1):
        _shards(tmp_path, seed)
    kept = os.listdir(tmp_path / inputs.CACHE_DIR)
    assert len(kept) == inputs.CACHE_KEEP


def test_planted_truth_is_near_duplicate(tmp_path):
    import json

    import pyarrow.parquet as pq

    d = _corpus(tmp_path, 3)
    texts = pq.read_table(os.path.join(d, "corpus.parquet")).column("caption").to_pylist()
    with open(os.path.join(d, "groups.json")) as f:
        groups = json.load(f)
    assert len(texts) == 300
    for g in groups:
        sets = [inputs.shingle_set(texts[i]) for i in g]
        assert all(inputs.jaccard(sets[0], s) >= 0.9 for s in sets[1:])


def test_hash_embed_matches_spec():
    v = inputs.hash_embed("hello world", 8)
    h = hashlib.sha256(b"hello world").digest()
    want = [round(int.from_bytes(h[4 * j : 4 * j + 4], "big") / 2**32 * 2 - 1, 6) for j in range(8)]
    assert v.tolist() == want
