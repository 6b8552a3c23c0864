"""The three workloads. Each builds its raw inputs from the seed, starts
one Spark session with cores = nproc, builds the program's tables from
those inputs, warms up with a fixed op count, then runs a closed loop
(one client) of a fixed op count per class and checks every op against
a reference built here from the generated data.

Every workload fills the same generic result slots (see README.md):
``op`` is its headline op class and ``op2`` its second one.
"""

from __future__ import annotations

import itertools
import math
import os
import time

import numpy as np
import pyarrow.dataset as pads

from perfbench import inputs
from perfbench.harness import DRIVER, ENGINE, Run, start_session

DIM = 768
K = 10
#: ``--limit`` of the search workload's CLI-route queries
K_CLI = 100

SEARCH_SHAPE = {
    "shards": 8, "rows": 2048, "dim": DIM, "centers": 24, "spread": 1.0, "text_missing": [1],
}
INGEST_SHAPE = {
    "init_shards": 2, "batch_shards": 2, "rows": 4096, "dim": DIM, "centers": 24,
    "spread": 0.8, "clusters": 16, "nprobe": 3,
}
DEDUP_SHAPE = {"docs": 12000, "pairs": 600, "clusters": [96, 48, 24, 12], "threshold": 0.5}

#: warm-up ops per op class, identical on every commit. At these sizes a
#: scan-lane query settles after ~4 ops (1.34, 0.57, 0.51, 0.48 s, then
#: 0.42-0.50 s) and a DataFrame-lane query after the first (9.2 s, then
#: 5.4-6.5 s with no trend over 11 more), so 6 and 1 clear the drift.
SEARCH_WARMUP = {"op": 6, "op2": 3, "df": 1, "dfx": 1}  # session scans, CLI scans, DataFrame lane (traced)
INGEST_WARMUP = {"op": 6, "op2": 0}  # probes, batches
DEDUP_WARMUP = {"op": 1, "op2": 1}  # LSH passes, signature passes

#: measured ops per class are the counts below at ``--seconds`` =
#: COUNT_SECONDS, scaled in proportion for other values. They never
#: depend on how fast ops run, so a faster commit is not judged on more
#: (or later) samples than a slower one.
COUNT_SECONDS = 15
SEARCH_COUNTS = {"op": 9, "op2": 9, "df": 0, "dfx": 0}
INGEST_COUNTS = {"op": 18, "op2": 3}
DEDUP_COUNTS = {"op": 3, "op2": 4}


def _counts(run: Run, counts: dict[str, int]) -> dict[str, int]:
    """Fixed measured op counts of a run. Traced runs trace ops in a
    T,U,U,T pattern per class, so each class gets at least four ops for a
    drift-balanced overhead; a class with count 0 runs in traced runs only."""
    scaled = {c: math.ceil(n * run.seconds / COUNT_SECONDS) for c, n in counts.items()}
    if run.trace:
        return {c: max(n, 4) for c, n in scaled.items()}
    return {c: max(n, 1) if counts[c] else 0 for c, n in scaled.items()}


class TopK:
    """Exact nearest-neighbour reference over one vector column."""

    def __init__(self, mat: np.ndarray, ids: np.ndarray):
        self.mat = mat
        self.ids = ids
        self.row = {u: i for i, u in enumerate(ids)}
        self.norms = np.einsum("ij,ij->i", mat, mat)

    def exact_d2(self, rows: np.ndarray, q: np.ndarray) -> np.ndarray:
        diff = self.mat[rows].astype(np.float64) - q
        return np.einsum("ij,ij->i", diff, diff)

    def top(self, q: np.ndarray, rows: np.ndarray, k: int = K):
        """(row indices, exact squared distances) of the k nearest of
        ``rows``, ordered by (distance, id). A float32 pass picks 5k
        candidates; the order is then settled in float64."""
        approx = (self.norms - 2 * (self.mat @ q.astype(np.float32)))[rows]
        cand = rows[np.argsort(approx, kind="stable")[: 5 * k]]
        d2 = self.exact_d2(cand, q)
        order = sorted(range(len(cand)), key=lambda i: (d2[i], self.ids[cand[i]]))[:k]
        return cand[order], d2[order]

    def check(
        self, got_ids, got_scores, q: np.ndarray, rows: np.ndarray, allowed: set[int] | None = None, k: int = K,
    ) -> float:
        """Assert ``got`` is a correct exact top-k over ``rows``; return
        its recall against the reference top-k."""
        truth, d2 = self.top(q, rows, k)
        assert len(got_ids) == min(k, len(rows)), f"{len(got_ids)} rows returned"
        assert len(set(got_ids)) == len(got_ids), "duplicate rows in result"
        idx = np.asarray([self.row[u] for u in got_ids])
        if allowed is not None:
            assert all(int(i) in allowed for i in idx), "row outside the searched set"
        true_d = np.sqrt(self.exact_d2(idx, q))
        got = np.asarray(got_scores, dtype=np.float64)
        assert np.allclose(got, true_d, rtol=1e-6, atol=1e-9), "scores differ from exact distances"
        assert np.all(np.diff(got) >= -1e-9), "scores not ascending"
        assert true_d.max() ** 2 <= d2[-1] * (1 + 1e-9) + 1e-12, "a nearer row was missed"
        return len(set(truth.tolist()) & set(idx.tolist())) / len(truth)


# -- search -------------------------------------------------------------


def search(run: Run) -> None:
    """Interactive query traffic on a LAION-schema fact table built by
    the shard ETL, on the routes ``cli.main`` takes. Headline op:
    unfiltered text query on the scan lane, reusing one ScanPlan as an
    interactive session does. Second op: the call one ``search --limit
    100`` CLI query makes: list the files, then scan for the top 100.
    Traced runs only (too host-sensitive to gate, see README.md): text
    queries with a selective height/width filter, which the CLI sends to
    the DataFrame lane (``search_text`` -> codegen kNN), and image and
    concept-math queries on that lane."""
    shape = SEARCH_SHAPE
    seed = run.seed

    def gen(d):
        for s in range(shape["shards"]):
            inputs.write_shard(
                d, seed, s, shape["rows"], DIM, shape["centers"], shape["spread"],
                text_missing=s in shape["text_missing"],
            )

    shard_dir = inputs.cached(run.root, "search", seed, shape, "shards", gen)
    ref = inputs.load_shards(shard_dir, DIM)
    n_rows = len(ref["url"])
    img = TopK(ref["image_embedding"], ref["url"])
    txt = TopK(ref["text_embedding"], ref["url"])
    captions = ref["caption"]
    texts = inputs.query_texts(seed, 1000)
    all_rows = np.arange(n_rows)
    rng = np.random.default_rng([seed, 0x51])

    spark = run.record_setup("session.get_session", lambda: start_session(run))
    from laion_spark.functions import encoder as enc_mod
    from laion_spark.operators import knn
    from laion_spark.operators import search as S
    from laion_spark.sources import npy

    def build(i):
        out = os.path.join(run.work, f"table{i}")
        rows = npy.etl_shards_to_parquet(spark, shard_dir, out).collect()
        assert sorted(r.rows for r in rows) == [shape["rows"]] * shape["shards"], "ETL row counts"
        return out

    table = [run.record_setup("sources.npy.etl_shards_to_parquet", lambda i=i: build(i)) for i in range(2)][-1]
    plan = run.record_setup("operators.knn.build_scan_plan", lambda: knn.build_scan_plan(table))
    run.notes["scan_splits"] = len(plan.tasks)
    df = spark.read.parquet(table)
    enc = enc_mod.HashEncoder(DIM)
    select = ["url", "caption"]

    def check(res, q, mat: TopK, rows, allowed=None, k=K):
        urls = [r["url"] for r in res.rows]
        for r in res.rows:
            assert r["caption"] == captions[mat.row[r["url"]]], "caption payload differs"
        return {"recall": mat.check(urls, [r["score"] for r in res.rows], q, rows, allowed, k)}

    def predicate():
        """A selective height/width predicate (~12% of rows) and the
        reference rows it keeps."""
        h, w = (int(x) for x in rng.integers(1200, 1500, 2))
        return h, w, all_rows[(ref["height"] >= h) & (ref["width"] >= w)]

    def scan_op(cls: str, text: str):
        # "op" reuses the session's ScanPlan; "op2" is cli.main's call,
        # which passes no plan, so every query lists the files
        k, p = (K, plan) if cls == "op" else (K_CLI, None)

        def fn():
            t0 = time.perf_counter()
            qvec = enc.encode(text)
            gen_time = time.perf_counter() - t0
            res = knn.knn_search_parquet(
                spark, table, qvec, k=k, vector_col="image_embedding", select=select, plan=p,
            )
            return S.collect_result(res, gen_time, k, "image_embedding")

        q = inputs.hash_embed(text, DIM)
        return cls, f"scan_top{k}", fn, lambda res: check(res, q, img, all_rows, k=k)

    def df_op(kind: str, i: int):
        text = texts[(7 * i + 500) % len(texts)]
        if kind == "filtered_text":
            h, w, rows = predicate()
            q = inputs.hash_embed(text, DIM)
            return "df", kind, (
                lambda: S.search_text(df, text, enc, k=K, filter=f"height >= {h} AND width >= {w}",
                                      select=select, tiebreak=["url"])
            ), lambda res: check(res, q, img, rows, set(rows.tolist()))
        if kind == "image":
            ref_url = f"https://query.example.org/{seed}/{i}.jpg"
            q = inputs.hash_embed(ref_url, DIM)
            return "dfx", kind, (
                lambda: S.search_image(df, ref_url, enc, k=K, select=select, tiebreak=["url"])
            ), lambda res: check(res, q, txt, all_rows)
        a, b, c = text.split()[:3]
        expr = f"({a} + {b}) / 2 - {c}"
        q = (inputs.hash_embed(a, DIM) + inputs.hash_embed(b, DIM)) / 2.0 - inputs.hash_embed(c, DIM)
        return "dfx", kind, (
            lambda: S.search_concept(df, expr, enc, k=K, select=select, tiebreak=["url"])
        ), lambda res: check(res, q, img, all_rows)

    def ops(warmup: bool):
        # per cycle: in traced runs one filtered DataFrame-lane text
        # query and one image or concept query (alternating: kinds
        # differ in cost, so a seed-dependent order would turn the seed
        # into noise), then three session and three CLI scan-lane
        # queries, interleaved so both classes see the same host conditions
        base = 0 if warmup else 100
        for c in itertools.count():
            if run.trace:
                yield df_op("filtered_text", base + c)
                yield df_op(("concept", "image")[c % 2], base + c)
            for j in range(3):
                yield scan_op("op", texts[(base + 6 * c + 2 * j) % 500])
                yield scan_op("op2", texts[(base + 6 * c + 2 * j + 1) % 500])

    targets = [
        (knn, "knn_search_parquet", "operators.knn.knn_search_parquet", DRIVER),
        (knn, "build_scan_plan", "operators.knn.build_scan_plan", DRIVER),
        (S, "knn_search", "operators.knn.knn_search", DRIVER),
        (S, "eval_concept", "plans.concept.eval_concept", DRIVER),
        (S, "collect_result", "operators.search.collect_result", ENGINE),
        (enc, "encode", "functions.encoder.HashEncoder.encode", DRIVER),
    ]
    _warm_and_loop(run, ops, SEARCH_WARMUP, _counts(run, SEARCH_COUNTS), targets)
    run.notes["rows_per_op"] = n_rows


# -- ingest -------------------------------------------------------------


def ingest(run: Run) -> None:
    """Repeated write-then-read batches: each batch runs the shard ETL
    on two fresh shards and appends them to an IVF index fitted once in
    setup; ANN probes with corpus-distribution queries follow each
    batch. Headline op: one probe. Second op: one batch (ETL +
    append)."""
    shape = INGEST_SHAPE
    seed = run.seed
    rows = shape["rows"]

    def shard_set(part: str, first: int, n: int) -> str:
        def gen(d):
            for s in range(first, first + n):
                inputs.write_shard(d, seed, s, rows, DIM, shape["centers"], shape["spread"], False)

        return inputs.cached(run.root, "ingest", seed, shape, part, gen)

    init_dir = shard_set("init", 0, shape["init_shards"])
    spark = run.record_setup("session.get_session", lambda: start_session(run))
    from laion_spark.operators import knn
    from laion_spark.operators.similarity import IVFIndex
    from laion_spark.sources import npy

    idx_path = os.path.join(run.work, "index")
    cols = ["key", "url", "image_embedding"]
    state = {"keys": np.empty(0, dtype=object), "mat": np.empty((0, DIM), np.float32)}

    def etl(src: str, out: str, n_shards: int):
        with run.tracer.span("sources.npy.etl_shards_to_parquet"):
            job = npy.etl_shards_to_parquet(spark, src, out)
        with run.tracer.span("spark.collect", ENGINE):
            res = job.collect()
        assert sorted(r.rows for r in res) == [rows] * n_shards, "ETL row counts"
        return spark.read.parquet(out).select(*cols)

    t0 = run.record_setup(
        "sources.npy.etl_shards_to_parquet",
        lambda: etl(init_dir, os.path.join(run.work, "etl0"), shape["init_shards"]),
    )

    def fit():
        ix = IVFIndex(DIM, n_clusters=shape["clusters"], n_iters=2, nprobe=shape["nprobe"])
        return ix.fit(t0, id_col="key", vector_col="image_embedding", fit_rows=None)

    idx = [run.record_setup("operators.similarity.IVFIndex.fit", fit) for _ in range(2)][-1]
    run.record_setup(
        "operators.similarity.IVFIndex.write_index",
        lambda: idx.write_index(t0, idx_path, vector_col="image_embedding"),
    )
    cents = np.asarray(idx.centroids, dtype=np.float64)

    acct: dict[str, list[float]] = {
        "input_bytes": [], "etl_bytes": [], "index_bytes": [], "probe_splits": [], "probe_bytes_frac": [],
    }

    def absorb(src_dir: str, etl_dir: str):
        """Add a shard set to the reference and check the index holds
        every row ingested so far exactly once, each in its nearest
        cluster; account the bytes read and written."""
        acct["input_bytes"].append(_dir_bytes(src_dir, (".parquet", ".npy")))
        acct["etl_bytes"].append(_dir_bytes(etl_dir))
        acct["index_bytes"].append(sum(_cluster_bytes(idx_path).values()) - sum(acct["index_bytes"]))
        got = inputs.load_shards(src_dir, DIM)
        state["keys"] = np.concatenate([state["keys"], got["key"]])
        state["mat"] = np.concatenate([state["mat"], got["image_embedding"]])
        t = pads.dataset(idx_path, format="parquet", partitioning="hive").to_table(columns=["key", "ivf_cluster"])
        keys = t.column("key").to_pylist()
        cl = t.column("ivf_cluster").to_numpy()
        assert len(keys) == len(state["keys"]) == len(set(keys)), "index row count"
        membership = dict(zip(keys, cl.tolist()))
        state["cluster"] = np.asarray([membership[k] for k in state["keys"]])
        new = state["cluster"][-len(got["key"]) :]
        x = got["image_embedding"].astype(np.float64)
        d = np.einsum("ij,ij->i", cents, cents)[None, :] - 2 * x @ cents.T
        assert np.all(d[np.arange(len(new)), new] <= d.min(axis=1) + 1e-9), "row not in its nearest cluster"

    absorb(init_dir, os.path.join(run.work, "etl0"))
    topk = {"obj": None}
    next_shard = [shape["init_shards"]]
    rng = np.random.default_rng([seed, 0x17])

    def batch_op():
        n = shape["batch_shards"]
        first = next_shard[0]
        next_shard[0] += n
        src = shard_set(f"batch{first}", first, n)
        out = os.path.join(run.work, f"etl{first}")

        def fn():
            df = etl(src, out, n)
            with run.tracer.span("operators.similarity.IVFIndex.write_index", ENGINE):
                idx.write_index(df, idx_path, vector_col="image_embedding", mode="append")

        def check(_):
            absorb(src, out)
            topk["obj"] = None

        return "op2", "batch", fn, check

    def probe_op():
        if topk["obj"] is None:
            topk["obj"] = TopK(state["mat"], state["keys"])
        ref = topk["obj"]
        base = state["mat"][rng.integers(0, len(state["mat"]))].astype(np.float64)
        q = base + 0.05 * rng.standard_normal(DIM) / np.sqrt(DIM)
        qvec = q.tolist()

        def fn():
            res = idx.search_parquet(
                spark, idx_path, qvec, k=K, vector_col="image_embedding", select=["key"]
            )
            with run.tracer.span("spark.collect", ENGINE):
                return res.collect()

        def check(res):
            probed = np.argsort(np.einsum("ij,ij->i", cents - q, cents - q), kind="stable")[: shape["nprobe"]]
            keys = state["keys"]
            rows = np.flatnonzero(np.isin(state["cluster"], probed))
            got = [r["key"] for r in res]
            ref.check(got, [r["score"] for r in res], q, rows, set(rows.tolist()))
            sizes = _cluster_bytes(idx_path)
            acct["probe_bytes_frac"].append(sum(sizes.get(c, 0) for c in probed.tolist()) / sum(sizes.values()))
            by_c = idx.scan_plans(idx_path)["by_cluster"]
            acct["probe_splits"].append(sum(len(by_c.get(c, [])) for c in probed.tolist()))
            truth, _ = ref.top(q, np.arange(len(keys)))
            return {"recall": len(set(truth.tolist()) & {ref.row[k] for k in got}) / K}

        return "op", "probe", fn, check

    def ops(warmup: bool):
        while True:
            if not warmup:  # the setup's index write already warmed the write path
                yield batch_op()
            for _ in range(6):
                yield probe_op()

    targets = [
        (knn, "knn_search_parquet", "operators.knn.knn_search_parquet", DRIVER),
        (idx, "search_parquet", "operators.similarity.IVFIndex.search_parquet", DRIVER),
        (idx, "scan_plans", "operators.similarity.IVFIndex.scan_plans", DRIVER),
        (idx, "probe_clusters", "operators.similarity.IVFIndex.probe_clusters", DRIVER),
    ]
    _warm_and_loop(run, ops, INGEST_WARMUP, _counts(run, INGEST_COUNTS), targets)
    info = idx.scan_plans(idx_path)
    run.notes["rows_per_op2"] = shape["batch_shards"] * rows
    run.notes["index_files"] = len({f for ts in info["by_cluster"].values() for f, _ in ts})
    run.notes["row_groups_per_cluster"] = float(np.median([len(v) for v in info["by_cluster"].values()]))
    run.notes["acct"] = acct


def _dir_bytes(d: str, suffixes=(".parquet",)) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(d) for f in fs if f.endswith(suffixes)
    )


def _cluster_bytes(idx_path: str) -> dict[int, int]:
    return {
        int(name.split("=", 1)[1]): _dir_bytes(os.path.join(idx_path, name))
        for name in os.listdir(idx_path)
        if name.startswith("ivf_cluster=")
    }


# -- dedup --------------------------------------------------------------


class Corpus:
    """A generated caption corpus with its near-duplicate truth: every
    pair inside a planted group whose exact 3-shingle Jaccard reaches
    the threshold."""

    def __init__(self, d: str, threshold: float):
        import json

        import pyarrow.parquet as pq

        self.path = os.path.join(d, "corpus.parquet")
        self.texts = pq.read_table(self.path).column("caption").to_pylist()
        self.threshold = threshold
        self._sets: dict[int, frozenset] = {}
        with open(os.path.join(d, "groups.json")) as f:
            groups = json.load(f)
        self.truth = {
            (a, b)
            for g in groups
            for a, b in itertools.combinations(g, 2)
            if self.jaccard(a, b) >= threshold
        }

    def jaccard(self, a: int, b: int) -> float:
        for i in (a, b):
            if i not in self._sets:
                self._sets[i] = inputs.shingle_set(self.texts[i])
        return inputs.jaccard(self._sets[a], self._sets[b])

    def check_pairs(self, rows) -> dict:
        """Every returned pair must be ordered, unique, at or above the
        threshold with the exact Jaccard value; recall against the truth
        must reach 0.99 (a planted pair at Jaccard ~0.94 escapes 16
        bands x 4 rows with probability ~1e-9)."""
        pairs = [(r["da"], r["db"]) for r in rows]
        assert len(set(pairs)) == len(pairs), "duplicate pairs"
        for r in rows:
            assert r["da"] < r["db"], "pair not ordered"
            j = self.jaccard(r["da"], r["db"])
            assert abs(r["jaccard"] - round(j, 6)) <= 1e-6, f"jaccard {r['jaccard']} != {j}"
            assert j >= self.threshold, "pair below threshold"
        found = set(pairs)
        recall = len(found & self.truth) / len(self.truth)
        assert recall >= 0.99, f"pair recall {recall:.4f}"
        # every returned pair was verified above, so a pair outside the
        # truth is a genuine near-duplicate the generator did not plant
        return {"recall": recall, "precision": len(found & self.truth) / max(len(found), 1)}


def dedup(run: Run) -> None:
    """MinHash-LSH near-duplicate pairs over a seeded caption corpus
    with planted pairs and skewed boilerplate clusters. Headline op:
    one full ``minhash_lsh_pairs`` pass collected to the driver. Second
    op: the signature stage alone (``minhash_signatures`` counted).
    Warm-up runs both ops on a small corpus of the same schema, so the
    plan shapes (and generated code) match the measured ones."""
    shape = DEDUP_SHAPE
    seed = run.seed
    thr = shape["threshold"]

    def corpus(part: str, docs: int, pairs: int, clusters: list[int]) -> Corpus:
        d = inputs.cached(
            run.root, "dedup", seed, shape, part,
            lambda out: inputs.write_corpus(out, seed, docs, pairs, clusters),
        )
        return Corpus(d, thr)

    main = corpus("corpus", shape["docs"], shape["pairs"], shape["clusters"])
    warm = corpus("warmup", shape["docs"] // 10, shape["pairs"] // 10, shape["clusters"][-2:])
    run.notes["truth_pairs"] = len(main.truth)

    spark = run.record_setup("session.get_session", lambda: start_session(run))
    from laion_spark.operators import dedup as D

    def load(c: Corpus):
        df = spark.read.parquet(c.path)
        assert df.count() == len(c.texts), "corpus row count"
        return df

    df = [run.record_setup("spark.read.parquet", lambda: load(main)) for _ in range(3)][-1]
    warm_df = load(warm)
    found_counts: list[int] = []

    def lsh_op(frame, c: Corpus):
        def fn():
            p = D.minhash_lsh_pairs(frame, "id", "caption", threshold=thr)
            with run.tracer.span("spark.collect", ENGINE):
                return p.collect()

        def check(rows):
            q = c.check_pairs(rows)
            found_counts.append(len(rows))
            return q

        return "op", "lsh_pairs", fn, check

    def sig_op(frame, c: Corpus):
        def fn():
            s = D.minhash_signatures(frame, "id", "caption")
            with run.tracer.span("spark.count", ENGINE):
                return s.count()

        def check(n):
            assert n == len(c.texts), f"{n} signatures for {len(c.texts)} docs"

        return "op2", "signatures", fn, check

    def ops(warmup: bool):
        frame, c = (warm_df, warm) if warmup else (df, main)
        while True:
            yield lsh_op(frame, c)
            yield sig_op(frame, c)

    targets = [
        (D, "minhash_lsh_pairs", "operators.dedup.minhash_lsh_pairs", DRIVER),
        (D, "minhash_signatures", "operators.dedup.minhash_signatures", DRIVER),
    ]
    _warm_and_loop(run, ops, DEDUP_WARMUP, _counts(run, DEDUP_COUNTS), targets)
    run.notes["pairs_found"] = int(np.median(found_counts)) if found_counts else None
    run.notes["docs"] = len(main.texts)


def _warm_and_loop(run: Run, ops, warmup: dict, counts: dict, targets) -> None:
    """Fixed warm-up (its wall time counts as setup) of every class the
    run measures, then the measured closed loop. Traced runs swap in the
    timing wrappers for both."""
    from contextlib import nullcontext

    patch = run.tracer.patched(targets) if run.trace else nullcontext()
    with patch:
        t0 = time.perf_counter()
        need = {c: n for c, n in warmup.items() if counts.get(c)}
        it = ops(True)
        while any(v > 0 for v in need.values()):
            cls, name, fn, check = next(it)
            if need.get(cls, 0) > 0:
                run.do_op(cls, name, fn, check, measured=False)
                need[cls] -= 1
        run.notes["warmup_s"] = time.perf_counter() - t0
        run.loop(ops(False), counts)


WORKLOADS = {"search": search, "ingest": ingest, "dedup": dedup}
