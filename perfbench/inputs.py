"""Seeded raw inputs for the benchmark workloads.

Everything here is a pure function of (seed, shape): LAION-layout
shards (metadata parquet + row-aligned .npy embedding matrices), the
query strings, and the caption corpus with its planted near-duplicate
truth. Inputs are cached on disk by (workload, seed, shape) so a repeat
run skips generation; generation always happens outside every timed
region. Tables and indexes the program builds from these inputs are
never cached — each run rebuilds them.

Nothing in this module imports Spark or the engine.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CACHE_DIR = ".perfbench_cache"
#: cached input sets kept per workload; older ones are evicted
CACHE_KEEP = 3
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _rng(seed: int, *tags: int) -> np.random.Generator:
    return np.random.default_rng([seed, *tags])


def cache_dir(root: str, workload: str, seed: int, shape: dict) -> str:
    h = hashlib.sha1(json.dumps(shape, sort_keys=True).encode()).hexdigest()[:12]
    return os.path.join(root, CACHE_DIR, f"{workload}-seed{seed}-{h}")


def cached(root: str, workload: str, seed: int, shape: dict, part: str, build) -> str:
    """Directory holding ``part`` of the (workload, seed, shape) input
    set, built by ``build(dir)`` on first use. A part is published by
    an atomic rename, so an interrupted build never leaves a partial
    part behind."""
    base = cache_dir(root, workload, seed, shape)
    d = os.path.join(base, part)
    if os.path.isdir(d):
        os.utime(base)
        return d
    os.makedirs(base, exist_ok=True)
    tmp = f"{d}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.replace(tmp, d)
    _evict(os.path.dirname(base), workload, keep=base)
    return d


def _evict(cache_root: str, workload: str, keep: str) -> None:
    sets = [
        os.path.join(cache_root, n)
        for n in os.listdir(cache_root)
        if n.startswith(f"{workload}-seed")
    ]
    sets.sort(key=os.path.getmtime, reverse=True)
    for old in [s for s in sets if s != keep][CACHE_KEEP - 1 :]:
        shutil.rmtree(old, ignore_errors=True)


def words(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` random lowercase words of 4-9 letters."""
    lens = rng.integers(4, 10, n)
    letters = _LETTERS[rng.integers(0, 26, int(lens.sum()))]
    out, pos = [], 0
    for ln in lens:
        out.append("".join(letters[pos : pos + ln]))
        pos += ln
    return out


# -- LAION shards -------------------------------------------------------


def centers(seed: int, n: int, dim: int) -> np.ndarray:
    """Unit-norm mixture centres shared by every shard of one seed."""
    c = _rng(seed, 0xC).standard_normal((n, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def write_shard(
    out: str, seed: int, shard_id: int, rows: int, dim: int, n_centers: int,
    spread: float, text_missing: bool,
) -> None:
    """One LAION shard: ``metadata/metadata_{id}.parquet`` plus
    row-aligned ``img_emb``/``text_emb`` float32 matrices. Image
    embeddings are a planted mixture (unit-norm centre plus isotropic
    noise, renormalised) so an IVF index over them has real structure;
    text embeddings are a perturbed copy in the same joint space.
    ``text_missing`` leaves the text matrix out, which the ETL
    zero-fills."""
    rng = _rng(seed, 0x5, shard_id)
    c = centers(seed, n_centers, dim).astype(np.float32)
    z = rng.integers(0, n_centers, rows)
    scale = np.float32(1 / np.sqrt(dim))
    img = c[z] + np.float32(spread) * scale * rng.standard_normal((rows, dim), dtype=np.float32)
    img /= np.linalg.norm(img, axis=1, keepdims=True)
    txt = img + np.float32(0.5) * scale * rng.standard_normal((rows, dim), dtype=np.float32)
    txt /= np.linalg.norm(txt, axis=1, keepdims=True)
    vocab = words(rng, 512)
    cap_w = rng.integers(0, len(vocab), (rows, 6))
    ids = np.arange(rows)
    meta = pa.table(
        {
            "key": [f"{shard_id:05d}{i:06d}" for i in ids],
            "url": [f"https://img.example.org/{seed}/{shard_id}/{i}.jpg" for i in ids],
            "caption": [" ".join(vocab[j] for j in row) for row in cap_w],
            "similarity": rng.random(rows),
            "width": rng.integers(64, 2049, rows),
            "height": rng.integers(64, 2049, rows),
            "original_width": rng.integers(64, 4097, rows),
            "original_height": rng.integers(64, 4097, rows),
            "status": ["success"] * rows,
            "nsfw": rng.choice(["UNLIKELY", "UNSURE", "NSFW"], rows).tolist(),
            "exif_json": [
                "{}" if i % 3 == 0 else json.dumps({"Make": f"cam{i % 5}"}) for i in ids
            ],
        }
    )
    for sub in ("metadata", "img_emb", "text_emb"):
        os.makedirs(os.path.join(out, sub), exist_ok=True)
    pq.write_table(meta, os.path.join(out, "metadata", f"metadata_{shard_id}.parquet"))
    np.save(os.path.join(out, "img_emb", f"img_emb_{shard_id}.npy"), img)
    if not text_missing:
        np.save(os.path.join(out, "text_emb", f"text_emb_{shard_id}.npy"), txt)


def load_shards(shard_dir: str, dim: int) -> dict:
    """Reference view of a shard directory as the ETL should see it:
    metadata columns plus both matrices, a missing text matrix
    zero-filled, rows in shard-id order."""
    metas, img, txt = [], [], []
    names = sorted(
        os.listdir(os.path.join(shard_dir, "metadata")),
        key=lambda n: int(n.split("_")[1].split(".")[0]),
    )
    for name in names:
        sid = name.split("_")[1].split(".")[0]
        m = pq.read_table(os.path.join(shard_dir, "metadata", name))
        metas.append(m)
        img.append(np.load(os.path.join(shard_dir, "img_emb", f"img_emb_{sid}.npy")))
        tp = os.path.join(shard_dir, "text_emb", f"text_emb_{sid}.npy")
        txt.append(np.load(tp) if os.path.exists(tp) else np.zeros_like(img[-1]))
    meta = pa.concat_tables(metas)
    return {
        "key": np.asarray(meta.column("key").to_pylist()),
        "url": np.asarray(meta.column("url").to_pylist()),
        "caption": meta.column("caption").to_pylist(),
        "width": meta.column("width").to_numpy(),
        "height": meta.column("height").to_numpy(),
        "image_embedding": np.concatenate(img),
        "text_embedding": np.concatenate(txt),
    }


def query_texts(seed: int, n: int) -> list[str]:
    """Three-to-five-word text queries."""
    rng = _rng(seed, 0x9)
    vocab = words(rng, 256)
    return [
        " ".join(vocab[j] for j in rng.integers(0, len(vocab), rng.integers(3, 6)))
        for _ in range(n)
    ]


def hash_embed(text: str, dim: int) -> np.ndarray:
    """The deterministic text hash embedding the engine's test encoder
    specifies (sha256 blocks, counter-suffixed past 8 dims, components
    in [-1, 1) rounded to 6 places), written out here so reference
    query vectors never come from the program under test."""
    out: list[float] = []
    data = text.encode("utf-8")
    block = 0
    while len(out) < dim:
        h = hashlib.sha256(data if block == 0 else data + f"#{block}".encode()).digest()
        for j in range(8):
            if len(out) < dim:
                out.append(round(int.from_bytes(h[4 * j : 4 * j + 4], "big") / 2**32 * 2 - 1, 6))
        block += 1
    return np.asarray(out, dtype=np.float64)


# -- caption corpus for near-duplicate detection ------------------------


def write_corpus(out: str, seed: int, docs: int, pairs: int, clusters: list[int]) -> None:
    """``corpus.parquet`` (id, caption) and ``groups.json``.

    - ``pairs`` planted near-duplicate pairs: a 30-40 word caption and a
      copy whose last word is replaced (3-shingle Jaccard ~0.94);
    - boilerplate clusters of the given sizes: one 32-word template
      plus a unique final word per member (pairwise Jaccard ~0.94),
      the repeated stock captions that skew LSH bucket sizes;
    - unique random captions for the rest.

    Captions draw from a 20k-word vocabulary, so two unrelated captions
    share no 3-shingle in practice. ``groups.json`` lists the id groups
    that may hold near-duplicates; the truth pairs are derived from it
    by exact Jaccard."""
    rng = _rng(seed, 0xD)
    vocab = np.asarray(words(rng, 20000))

    def caption(n: int) -> list[str]:
        return vocab[rng.integers(0, len(vocab), n)].tolist()

    texts: list[str] = []
    groups: list[list[int]] = []
    for _ in range(pairs):
        base = caption(int(rng.integers(30, 41)))
        dup = base[:-1] + caption(1)
        groups.append([len(texts), len(texts) + 1])
        texts += [" ".join(base), " ".join(dup)]
    for size in clusters:
        template = caption(32)
        groups.append(list(range(len(texts), len(texts) + size)))
        texts += [" ".join(template + caption(1)) for _ in range(size)]
    while len(texts) < docs:
        texts.append(" ".join(caption(int(rng.integers(10, 41)))))
    perm = rng.permutation(len(texts))  # position -> id
    ids = np.empty(len(texts), dtype=np.int64)
    ids[perm] = np.arange(len(texts))
    order = np.argsort(ids)
    pq.write_table(
        pa.table({"id": np.arange(len(texts), dtype=np.int64), "caption": [texts[i] for i in order]}),
        os.path.join(out, "corpus.parquet"),
    )
    with open(os.path.join(out, "groups.json"), "w") as f:
        json.dump([sorted(int(ids[p]) for p in g) for g in groups], f)


def shingle_set(text: str, n: int = 3) -> frozenset:
    toks = text.lower().split()
    return frozenset(tuple(toks[i : i + n]) for i in range(len(toks) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b) if (a or b) else 0.0
