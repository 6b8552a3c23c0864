"""Similarity search over embedding columns (north star Q25/V9).

Access paths, from exact to approximate:

  - ``knn_search`` / ``knn_search_parquet`` (operators.knn) — one
    query, brute force; the exact baseline.
  - ``knn_join`` — many queries x a DataFrame corpus, exact: the
    queries (the SMALL side by contract) are collected and closed over
    an Arrow scorer that runs the shared top-k kernel
    (``knn.topk_candidates``: float32 GEMM selection, float64 rescore of
    the candidates) on every corpus batch for all queries at once and
    keeps each query's running top-k per partition, ties settled by
    corpus id as the final per-query window settles them. The corpus never
    shuffles; traffic is O(n_queries * k * n_partitions) candidate rows.
  - ``IVFIndex`` — coarse-quantizer ANN over a ``write_index`` layout
    (one ``ivf_cluster=K`` dir per cluster): ``search_parquet`` scans
    the nprobe nearest clusters with the scan-side scorer;
    ``knn_join_parquet`` routes many queries to their clusters and
    scans each probed split once for all of that cluster's queries,
    through the same kernel, query-block driver and window as
    ``knn_join``. Recall-tested, never claimed exact.
  - ``RandomHyperplaneIndex`` — LSH-bucketed approximate search
    (the engine's answer to the reference's Annoy table,
    images/results_ridgeback_annoy_100m.png): sign-bit signatures on R
    random hyperplanes; queries probe their own bucket plus
    ``multiprobe`` single-bit flips, exact-rescoring only candidates.
    Recall-tested (>= 0.9 @ 10 on fixtures), never claimed exact
    (SURVEY.md hard part #4).

At 100 TB: bucket ids are computed at ingest and the table is
written partitioned/bucketed by signature band, so a probe reads only
matching partitions (partition pruning does the Annoy tree's job).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from functools import reduce

from pyspark.sql import DataFrame, Window as W, functions as F

from laion_spark.functions.vector import vec_lit
from laion_spark.operators.knn import (  # noqa: F401  (flat_matrix: re-export)
    _arrow_to_ddl,
    _check_vector_cols,
    _run_splits,
    _split_batches,
    _split_topk,
    flat_matrix,
    knn_search,
)


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_vec: str = "embedding",
    query_vec: str = "embedding",
    corpus_id: str = "id",
    query_id: str = "id",
    metric: str = "l2",
    max_queries: int = 100_000,
    chunk_queries: bool = False,
) -> DataFrame:
    """Exact k nearest corpus rows for EACH query row.

    Output: (query_id, corpus_id, score) — ``k`` rows per query,
    total-ordered by (query_id, score, corpus_id).

    Queries are the SMALL side by contract — they are collected to the
    driver and closed over. ``max_queries`` enforces that contract
    (the guard itself only ever collects ``max_queries + 1`` rows, so
    an oversized query side fails fast instead of OOMing the driver).

    ``chunk_queries=True`` lifts the hard cap for serving-scale batches
    (VERDICT r9 #5): the query side is pulled through the driver via
    ``toLocalIterator`` in blocks of ``max_queries``, each block gets
    its own Arrow scorer pass, and the per-block top-k results are
    unioned — exact, because each query's k neighbors are computed
    entirely within its own block (qid sets are disjoint across
    blocks). The corpus still never shuffles; it is scanned once per
    block. What chunking bounds is PER-TASK CLOSURE bytes (one block's
    query matrix per scorer, never the whole batch) and Row overhead
    (each block's Rows are condensed to a float matrix before the next
    block is pulled); it does NOT bound driver-resident query bytes —
    the returned lazy union necessarily closes over every block's
    matrix (~dim x 8 B per query), so a batch beyond driver memory
    must run as separate jobs that persist each block's result before
    pulling the next (ADVICE r10).
    """
    if metric not in ("l2", "cosine"):
        raise ValueError("metric must be l2|cosine")
    from laion_spark.session import _ship_package

    _ship_package(corpus.sparkSession)  # scorer closure imports laion_spark on workers
    pruned = corpus.select(corpus_id, corpus_vec)
    cid_t = corpus.schema[corpus_id].dataType.simpleString()

    def score_block(q_ids, q_mat, qid_t: str) -> DataFrame:
        # one Arrow partition = one split: a running top-k per query
        def score(batches):
            got = _split_topk(batches, corpus_vec, None, [corpus_id], q_mat, k, metric, corpus_id)
            if got is not None:
                yield _pairs_batch(got, q_ids)

        return pruned.mapInArrow(score, f"qid {qid_t}, cid {cid_t}, _raw double")

    return _join_blocks(
        queries, query_id, query_vec, corpus_id, k, metric, max_queries, chunk_queries, score_block,
        "knn_join collects queries driver-side by contract — pre-aggregate or batch the query "
        "set (chunk_queries=True), or raise max_queries deliberately",
    )


def _pairs_batch(got, q_ids):
    """One split's join candidates (``_split_topk`` over the corpus id
    column) as a (qid, cid, _raw) Arrow batch."""
    import pyarrow as pa

    (cid,), qs, raw = got
    return pa.RecordBatch.from_arrays(
        [pa.array(q_ids[qs]), cid, pa.array(raw, pa.float64())], ["qid", "cid", "_raw"]
    )


def _join_blocks(
    queries: DataFrame,
    query_id: str,
    query_vec: str,
    corpus_id: str,
    k: int,
    metric: str,
    max_queries: int,
    chunk_queries: bool,
    score_block: Callable[..., DataFrame],
    over_cap: str,
) -> DataFrame:
    """The query-block driver of both joins (``knn_join``,
    ``IVFIndex.knn_join_parquet``): collect the query side under the
    ``max_queries`` cap — or stream it in blocks of ``max_queries``
    with ``chunk_queries`` — condense each block to (ids, float64
    matrix), plan it with ``score_block(q_ids, q_mat, qid_t)`` (a
    (qid, cid, _raw) candidate frame), and take every query's top k
    with one window over the union of blocks. ``over_cap`` is the
    caller's advice in the error raised past ``max_queries``."""
    import numpy as np

    qid_t = queries.schema[query_id].dataType.simpleString()
    src = queries.select(query_id, query_vec)

    def plan(rows: list) -> DataFrame:
        # compact ndarrays: a list-of-lists of 4096 x 768 Python floats
        # pickles to tens of MB in the task closure and would rebuild
        # per task; the array pickles as one buffer
        q_ids = np.asarray([r[0] for r in rows])
        q_mat = np.asarray([r[1] for r in rows], dtype=np.float64)
        return score_block(q_ids, q_mat, qid_t)

    parts: list[DataFrame] = []
    if chunk_queries:
        # plan each block as soon as its rows arrive: the plan keeps
        # only the condensed (ids, float-matrix) closure, so raw Rows
        # (several x the matrix bytes) never accumulate
        buf: list = []
        for r in src.toLocalIterator():
            buf.append(r)
            if len(buf) >= max_queries:
                parts.append(plan(buf))
                buf = []
        if buf:
            parts.append(plan(buf))
    else:
        q_rows = src.limit(max_queries + 1).collect()
        if len(q_rows) > max_queries:
            raise ValueError(f"queries side exceeds max_queries={max_queries}; {over_cap}")
        if q_rows:
            parts.append(plan(q_rows))
    if not parts:
        raise ValueError("queries DataFrame is empty")
    raw = F.col("_raw")
    if metric == "l2":
        order, score = raw.asc_nulls_last(), F.sqrt(raw)
    else:
        # a zero-norm row scores NaN, which Spark sorts ABOVE every
        # double under desc: score it -inf so it ranks last
        raw = F.nanvl(raw, F.lit(float("-inf")))
        order, score = raw.desc_nulls_last(), raw
    w = W.partitionBy("qid").orderBy(order, F.col("cid").asc())
    return (
        reduce(DataFrame.unionByName, parts)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(
            F.col("qid").alias(query_id + "_q"),
            F.col("cid").alias(corpus_id + "_c"),
            F.round(score, 6).alias("score"),
        )
        .orderBy(query_id + "_q", "score", corpus_id + "_c")
    )


class RandomHyperplaneIndex:
    """Multi-table sign-LSH index (OR-construction): table t assigns
    bucket_t = packed sign bits of <v, plane_{t,r}>; a query's
    candidates are the union over tables of its own bucket (plus
    optional single-bit multiprobe flips). More tables -> higher
    recall; more planes per table -> harder pruning. The standard
    angular-LSH trade (AND within a table, OR across tables).

    ``build`` adds one int column per table from deterministic seeded
    planes; ``search`` prunes with an OR-of-IN filter (pushdown-able;
    at scale, partition by ``lsh_b0`` so table 0's probe prunes
    partitions) and exact-rescoring only the candidates.
    """

    def __init__(self, dim: int, n_planes: int = 8, n_tables: int = 8, seed: int = 42):
        import numpy as np

        if not 0 < n_planes <= 30:
            raise ValueError("n_planes must be in 1..30")
        self.dim = dim
        self.n_planes = n_planes
        self.n_tables = n_tables
        rng = np.random.default_rng(seed)
        self.planes = rng.standard_normal((n_tables, n_planes, dim))

    def bucket_col(self, vector_col: str, table: int) -> F.Column:
        """Bucket id for one table as a Catalyst expression (JVM-side)."""
        from laion_spark.functions.vector import dot

        out = None
        for r in range(self.n_planes):
            d = dot(F.col(vector_col), vec_lit([float(x) for x in self.planes[table, r]]))
            bit = F.when(d >= 0, F.lit(1 << r)).otherwise(F.lit(0))
            out = bit if out is None else out + bit
        return out.cast("int")

    def build(self, df: DataFrame, vector_col: str = "embedding", prefix: str = "lsh_b") -> DataFrame:
        for t in range(self.n_tables):
            df = df.withColumn(f"{prefix}{t}", self.bucket_col(vector_col, t))
        return df

    def query_buckets(self, qvec: Sequence[float], table: int, multiprobe: int = 0) -> list[int]:
        import numpy as np

        q = np.asarray(list(qvec), dtype=np.float64)
        base = 0
        for r in range(self.n_planes):
            if float(self.planes[table, r] @ q) >= 0:
                base |= 1 << r
        buckets = [base]
        if multiprobe >= 1:
            buckets += [base ^ (1 << r) for r in range(self.n_planes)]
        return buckets

    def candidate_filter(self, qvec: Sequence[float], multiprobe: int = 0, prefix: str = "lsh_b"):
        cond = None
        for t in range(self.n_tables):
            c = F.col(f"{prefix}{t}").isin(self.query_buckets(qvec, t, multiprobe))
            cond = c if cond is None else cond | c
        return cond

    def search(
        self,
        indexed: DataFrame,
        qvec: Sequence[float],
        k: int = 10,
        vector_col: str = "embedding",
        select: Sequence[str] | None = None,
        multiprobe: int = 0,
        tiebreak: Sequence[str] = (),
        metric: str = "l2",
        prefix: str = "lsh_b",
    ) -> DataFrame:
        """Approximate top-k: prune to candidate buckets, exact-rescore."""
        cands = indexed.filter(self.candidate_filter(qvec, multiprobe, prefix))
        return knn_search(
            cands, list(qvec), k=k, vector_col=vector_col, select=select, metric=metric, tiebreak=tiebreak
        )


def recall_at_k(approx: DataFrame, exact: DataFrame, id_col: str) -> float:
    """|approx ∩ exact| / |exact| on the id column (driver-side; both
    inputs are k-row results)."""
    a = {r[0] for r in approx.select(id_col).collect()}
    e = {r[0] for r in exact.select(id_col).collect()}
    return len(a & e) / max(len(e), 1)


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "id",
    vector_col: str = "embedding",
    threshold: float = 0.9,
    index: RandomHyperplaneIndex | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (north star Q25): LSH
    bucket join for candidates, exact cosine verify.

    Plan: build per-table buckets -> explode to (table, bucket) ->
    self equi-join on (table, bucket) -> distinct candidate pairs ->
    exact cosine >= threshold. Only bucket collisions ever meet, so the
    pair stage is far from quadratic; at cos >= 0.9 the per-table
    collision probability is high (OR across tables catches the rest).
    Output: (ida, idb, cosine), ida < idb, ordered by cosine desc.

    The candidate stage is ID-ONLY: vectors never ride the (t, b)
    exchange or the candidate distinct (at 768-d float64 that would be
    ~6 KB x n_tables per row where 16 bytes of id suffice — VERDICT r4
    #1). The two vector columns are re-joined only for the exact-cosine
    verify, after the distinct has collapsed the n_tables-way fan-out.

    Contract: ``id_col`` must be unique. A duplicated id would fan each
    of its pairs back out through the vector re-join (the pre-r5 plan
    picked one of the duplicate vectors arbitrarily instead — neither
    behavior is meaningful; dedup ids first).
    """
    import numpy as np  # noqa: F401  (index construction)

    if index is None:
        if dim is None:
            raise ValueError("pass either index or dim")
        index = RandomHyperplaneIndex(dim=dim, n_planes=6, n_tables=6)
    built = index.build(df.select(id_col, vector_col), vector_col)
    bucket_cols = [f"lsh_b{t}" for t in range(index.n_tables)]
    banded = built.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.array(*[F.struct(F.lit(t).alias("t"), F.col(b).alias("b")) for t, b in enumerate(bucket_cols)])
        ).alias("tb"),
    ).select("_id", "tb.t", "tb.b")
    a = banded.select(F.col("_id").alias("ida"), "t", "b")
    bb = banded.select(F.col("_id").alias("idb"), "t", "b")
    cands = (
        a.join(bb, ["t", "b"])
        .filter(F.col("ida") < F.col("idb"))
        .select("ida", "idb")
        .dropDuplicates(["ida", "idb"])
    )
    vecs = df.select(F.col(id_col).alias("_vid"), F.col(vector_col).alias("_vv"))
    cands = (
        cands.join(vecs.select(F.col("_vid").alias("ida"), F.col("_vv").alias("_va")), "ida")
        .join(vecs.select(F.col("_vid").alias("idb"), F.col("_vv").alias("_vb")), "idb")
    )
    from laion_spark.functions.vector import cosine_similarity

    cos = cosine_similarity(F.col("_va"), F.col("_vb"))
    return (
        cands.select("ida", "idb", F.round(cos, 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .orderBy(F.col("cosine").desc(), "ida", "idb")
    )


class IVFIndex:
    """Coarse-quantizer ANN (IVF-flat) — the partition-pruning access
    path (SURVEY.md §4.2's "k-means IVF buckets" candidate, the engine's
    second answer to the reference's Annoy table alongside
    ``RandomHyperplaneIndex``).

    ``fit`` learns ``n_clusters`` centroids with deterministic Lloyd
    iterations over a bounded sample (default 100k rows via plain
    ``limit`` — no global sort, no shuffle; init = the sample's first
    ``n_clusters`` rows; means via a posexplode group-by — numerically
    order-independent enough for assignment, which only compares
    distances). ``build`` stamps each
    row with its nearest-centroid id via the same Arrow batch scorer
    the kNN path uses (one (n x dim) @ (dim x C) GEMM per batch, no
    shuffle). ``search`` prunes to the ``nprobe`` centroids nearest the
    query and exact-rescoring only those rows.

    At 100 TB: fit on a bounded sample, ``build`` at ingest, write the
    table via ``write_index`` (one ``ivf_cluster=K`` dir per cluster,
    written by the python workers' Arrow sink) — a probe
    then reads ~nprobe/n_clusters of the bytes via partition pruning,
    which is exactly what the reference's ANN table does server-side
    (images/results_ridgeback_annoy_100m.png: 8.5x at 100 M rows).

    Layout matters twice over:

    * **Row-group size is the probe's parallelism grain** — the scan
      scorer (``knn_search_parquet``) splits per (file, row_group), so
      default ~128 MB groups leave sub-second straggler tasks on a
      skewed probe; ``write_index`` defaults to 32 MB groups (measured:
      1.8 s -> 1.1 s per probe at 4M x 768).
    * **Cluster sizes are skewed** (k-means merges dense regions), so
      the nominal nprobe/n_clusters byte fraction understates what an
      in-distribution probe reads — measure with the actual partition
      dir sizes, as bench.py does.

    Queries should come from the corpus distribution: recall against an
    out-of-distribution vector says nothing about the index (its true
    neighbors are lucky-noise points spread uniformly over clusters).
    """

    def __init__(self, dim: int, n_clusters: int = 16, n_iters: int = 2, nprobe: int = 3):
        self.dim = dim
        self.n_clusters = n_clusters
        self.n_iters = n_iters
        self.nprobe = nprobe
        self.centroids: list[list[float]] | None = None

    # -- fit ------------------------------------------------------------

    @staticmethod
    def _fit_sample(df: DataFrame, id_col: str, vector_col: str, fit_rows: int | None) -> DataFrame:
        """Bounded fit input with NO global sort/shuffle: a plain limit
        is LocalLimit + CollectLimit over the scan's stable partition
        order — at 100 TB the fit reads ~fit_rows rows, not the table.
        (The previous full-table ``orderBy(id)`` init was a
        scale-killer — VERDICT r1.)"""
        sample = df.select(id_col, vector_col)
        if fit_rows is not None:
            sample = sample.limit(fit_rows)
        return sample

    def fit(
        self,
        df: DataFrame,
        id_col: str = "id",
        vector_col: str = "embedding",
        fit_rows: int | None = 100_000,
    ) -> "IVFIndex":
        import numpy as np
        import pyarrow as pa

        from laion_spark.session import _ship_package

        _ship_package(df.sparkSession)
        sample = self._fit_sample(df, id_col, vector_col, fit_rows).cache()
        init = sample.limit(self.n_clusters).collect()
        if len(init) < self.n_clusters:
            raise ValueError(f"need >= {self.n_clusters} rows to fit, got {len(init)}")
        cents = [list(map(float, r[1])) for r in init]
        dim, n_c = self.dim, self.n_clusters
        for _ in range(self.n_iters):
            # Lloyd mean step as ONE partial-sum pass: each task assigns
            # its batches (GEMM) and accumulates per-cluster (count,
            # vector-sum) locally, emitting n_clusters tiny rows — the
            # previous posexplode->groupBy form pushed rows x dim
            # exploded records through a hash aggregate (~40 s/iter at
            # a 200k x 768 sample; this is ~2 s). Partials combine
            # driver-side sorted by partition id, so the float
            # summation order is fixed and the fit deterministic.
            cur = cents

            def partials(batches):
                from pyspark import TaskContext

                C = np.asarray(cur, dtype=np.float64)
                cc = np.einsum("ij,ij->i", C, C)
                counts = np.zeros(n_c, dtype=np.int64)
                sums = np.zeros((n_c, dim), dtype=np.float64)
                for rb in batches:
                    vcol = rb.column(rb.schema.get_field_index(vector_col))
                    if len(vcol) == 0:
                        continue
                    mat = flat_matrix(vcol, dim)
                    cid = np.argmin(cc[None, :] - 2.0 * (mat @ C.T), axis=1)
                    # segment-sum via stable sort + reduceat (r14):
                    # np.add.at is an unbuffered per-element scatter,
                    # ~50x slower than a vectorized pass at this shape
                    # (it dominated the ~90 s 200k-row fit). The stable
                    # sort preserves row order within each cluster, so
                    # each cluster's per-batch addend order is unchanged;
                    # only the batch -> accumulator grouping rounds
                    # differently (~1e-16 on the means — the fit is a
                    # clustering heuristic, nothing hash-matched depends
                    # on centroid bits).
                    counts += np.bincount(cid, minlength=n_c)
                    order = np.argsort(cid, kind="stable")
                    scid = cid[order]
                    starts = np.concatenate(
                        ([0], np.flatnonzero(np.diff(scid)) + 1)
                    )
                    sums[scid[starts]] += np.add.reduceat(mat[order], starts, axis=0)
                pid = TaskContext.get().partitionId()
                present = np.flatnonzero(counts)
                if len(present) == 0:
                    return
                offsets = pa.array(
                    np.arange(0, (len(present) + 1) * dim, dim, dtype=np.int32)
                )
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.full(len(present), pid, dtype=np.int32)),
                        pa.array(present.astype(np.int32)),
                        pa.array(counts[present]),
                        pa.ListArray.from_arrays(offsets, pa.array(sums[present].ravel())),
                    ],
                    ["pid", "cluster", "n", "s"],
                )

            rows = sample.mapInArrow(
                partials, "pid int, cluster int, n long, s array<double>"
            ).collect()
            counts = np.zeros(n_c, dtype=np.int64)
            sums = np.zeros((n_c, dim), dtype=np.float64)
            for r in sorted(rows, key=lambda r: (r.pid, r.cluster)):
                counts[r.cluster] += r.n
                sums[r.cluster] += np.asarray(r.s)
            new = [list(c) for c in cents]  # empty clusters keep old center
            for cid in np.flatnonzero(counts):
                new[cid] = (sums[cid] / counts[cid]).tolist()
            cents = new
        sample.unpersist()
        self.centroids = cents
        return self

    # -- assignment (Arrow batch GEMM, partition-local) ------------------

    def _assign(self, df: DataFrame, vector_col: str, cents: list[list[float]]) -> DataFrame:
        import pyarrow as pa

        from laion_spark.session import _ship_package

        _ship_package(df.sparkSession)

        fields = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields)
        out_schema = fields + ", ivf_cluster int"
        dim = self.dim
        names = [f.name for f in df.schema.fields]

        def assign(batches):
            import numpy as np

            C = np.asarray(cents, dtype=np.float64)  # (C, dim)
            cc = np.einsum("ij,ij->i", C, C)  # ||c||^2
            for rb in batches:
                vcol = rb.column(rb.schema.get_field_index(vector_col))
                n = len(vcol)
                if n == 0:
                    continue
                mat = flat_matrix(vcol, dim)
                # argmin_c ||x-c||^2 = argmin_c (||c||^2 - 2 x.c)
                cid = np.argmin(cc[None, :] - 2.0 * (mat @ C.T), axis=1).astype(np.int32)
                arrays = [rb.column(i) for i in range(rb.num_columns)]
                arrays.append(pa.array(cid, type=pa.int32()))
                yield pa.RecordBatch.from_arrays(arrays, names + ["ivf_cluster"])

        return df.mapInArrow(assign, out_schema)

    def build(self, df: DataFrame, vector_col: str = "embedding") -> DataFrame:
        if self.centroids is None:
            raise ValueError("call fit() first")
        return self._assign(df, vector_col, self.centroids)

    def write_index(
        self,
        df: DataFrame,
        path: str,
        vector_col: str = "embedding",
        row_group_bytes: int = 32 * 1024 * 1024,
        mode: str = "overwrite",
    ) -> None:
        """Stamp cluster ids and write the partition-pruned table:
        ``write_packed_index`` over ``build`` — vectors as
        ``fixed_size_binary(4*dim)`` float32 (the same bits as an
        array<float> input; array<double> is rounded to float32) under
        one ``ivf_cluster=K`` dir per cluster,
        ``row_group_bytes`` row groups (the probe's split granularity —
        see class docstring), committed through a hidden staging dir so
        a failed write leaves the table as it was.

        ``mode="append"`` adds this df's rows to an existing layout
        (each cluster dir gains one more file) — the incremental-ingest
        shape, and how a build whose transient footprint (cluster
        shuffle + output, ~2x the raw bytes) exceeds free disk runs as
        bounded slices: N passes over disjoint id ranges keep the
        in-flight bytes at ~2x raw/N while the table grows to its final
        size."""
        from laion_spark.sources.halfvec import write_packed_index

        write_packed_index(
            self.build(df, vector_col), path, self.dim,
            vector_col=vector_col, row_group_bytes=row_group_bytes, mode=mode,
        )
        self._scan_cache = None  # table changed — probes must re-list

    def probe_dirs(self, path: str, qvec: Sequence[float], nprobe: int | None = None) -> list[str]:
        """Partition dirs a probe should read for ``qvec`` — feed to
        ``knn_search_parquet`` (missing dirs = empty clusters are
        skipped by its listing)."""
        return [f"{path}/ivf_cluster={p}" for p in self.probe_clusters(qvec, nprobe)]

    def scan_plans(self, path: str, refresh: bool = False):
        """Per-cluster (file, row_group) task lists for a ``write_index``
        table, listed and footer-enumerated ONCE and cached on the index
        object. A probe's fixed driver cost then drops to assembling its
        nprobe task lists (list concatenation) — the serving-loop
        amortization the reference's resident Annoy index gets for free
        by mmapping once per process. ``write_index`` invalidates the
        cache; call with ``refresh=True`` after rewriting the table
        out-of-band."""
        import pyarrow.parquet as pq

        from laion_spark.operators.knn import _list_parquet_files, _split_tasks

        cache = getattr(self, "_scan_cache", None)
        if not refresh and cache is not None and cache[0] == path:
            return cache[1]
        fs, files, remote = _list_parquet_files([path])

        def cluster_of(f: str) -> int:
            parts = [s for s in f.split("/") if s.startswith("ivf_cluster=")]
            return int(parts[-1].split("=", 1)[1]) if parts else -1

        by_c: dict[int, list[tuple[str, int]]] = {}
        # one-time cost, so a larger footer bound than a per-probe plan's
        for f, g in _split_tasks(fs, files, 4096):
            by_c.setdefault(cluster_of(f), []).append((f, g))
        arrow_schema = pq.ParquetFile(fs.open_input_file(files[0])).schema_arrow
        info = {
            "fs": fs, "remote": remote, "by_cluster": by_c, "schema": arrow_schema,
            "prepared": {},  # search_parquet's prepared queries (knn._bind_scan)
        }
        self._scan_cache = (path, info)
        return info

    def tune_nprobe(
        self,
        spark,
        path: str,
        query_vecs: Sequence[Sequence[float]],
        k: int = 10,
        target_recall: float = 0.95,
        widths: Sequence[int] = (1, 2, 3, 4, 6, 8),
        exact_path: str | None = None,
        vector_col: str = "embedding",
        id_col: str = "id",
    ) -> tuple[int, float]:
        """Recall-targeted probe-width selection — how ANN indexes are
        tuned in practice: ground truth comes from exact scans of the
        sample queries (a one-time tuning cost), then the smallest
        ``nprobe`` whose recall@k over the sample meets
        ``target_recall`` wins. Returns (nprobe, measured recall); if
        no width reaches the target the widest is returned with its
        recall — callers decide whether that is acceptable.
        ``exact_path`` defaults to the index table itself (same rows);
        pass the unpartitioned source table to avoid reading the
        Hive-partition layout for the brute-force pass."""
        from laion_spark.operators.knn import build_scan_plan, knn_search_parquet

        if not query_vecs:
            raise ValueError("tune_nprobe needs at least one sample query vector")
        exact = build_scan_plan(exact_path or path)
        truth = [
            {r[0] for r in knn_search_parquet(
                spark, exact_path or path, list(v), k=k,
                vector_col=vector_col, select=[id_col], plan=exact,
            ).collect()}
            for v in query_vecs
        ]
        recall = 0.0
        for w in widths:
            hits = sum(
                len(t & {r[0] for r in self.search_parquet(
                    spark, path, list(v), k=k, vector_col=vector_col,
                    select=[id_col], nprobe=w,
                ).collect()})
                for v, t in zip(query_vecs, truth)
            )
            recall = hits / (k * len(truth))
            if recall >= target_recall:
                return w, recall
        return widths[-1], recall

    def search_parquet(
        self,
        spark,
        path: str,
        qvec: Sequence[float],
        k: int = 10,
        vector_col: str = "embedding",
        select: Sequence[str] | None = None,
        metric: str = "l2",
        nprobe: int | None = None,
        scale_col: str | None = None,
    ):
        """Single-probe ANN over a ``write_index`` table with the cached
        scan plan: prunes to the nprobe nearest clusters' (file,
        row_group) splits and exact-rescoring only those — same results
        as ``knn_search_parquet(probe_dirs(...))``, minus the per-probe
        listing/footer cost (the fixed ~0.1-0.2 s that capped measured
        single-probe speedup at 4M rows).

        The query is prepared like ``knn_search_parquet``'s: one planned
        DataFrame per query shape is kept beside the cached listing
        (``scan_plans(path)["prepared"]``, so ``write_index`` drops it
        too). Its closure holds the per-cluster split table; ``collect()``
        binds the vector and the probed cluster ids, and each of the
        ``defaultParallelism`` tasks scores its round-robin share of the
        probed splits. Other uses (``select``, ``count``, ``schema``...)
        build the probe as a self-contained DataFrame. Each result
        carries its own vector and clusters, so its rows never depend on
        collect order."""
        from laion_spark.operators.knn import _bind_scan

        info = self.scan_plans(path)
        probes = self.probe_clusters(qvec, nprobe)
        if not any(info["by_cluster"].get(c) for c in probes):
            raise FileNotFoundError(
                f"no parquet files in probed clusters {probes} under {path}"
            )
        return _bind_scan(
            spark, info["prepared"], info["fs"], info["remote"], info["schema"],
            info["by_cluster"], qvec, probes, k, vector_col, select, metric,
            score_col="score", pa_filter=None, scale_col=scale_col,
        )

    def knn_join_parquet(
        self,
        spark,
        path: str,
        queries: DataFrame,
        k: int = 10,
        query_id: str = "id",
        query_vec: str = "embedding",
        corpus_id: str = "id",
        vector_col: str = "embedding",
        metric: str = "l2",
        nprobe: int | None = None,
        max_queries: int = 4096,
        scale_col: str | None = None,
        chunk_queries: bool = False,
    ) -> DataFrame:
        """Batched ANN join: approximate k nearest corpus rows for EACH
        query row, over a ``write_index``-layout table — the asymmetric
        many-queries x huge-corpus case (e.g. linking a 1M-item batch
        against a 100M-row corpus).

        ``chunk_queries=True`` lifts the ``max_queries`` cap the same
        way ``knn_join`` does (r10): the query side is pulled through
        the driver in blocks of ``max_queries``, each block runs its
        own routed join (bytes still bounded by that block's probed
        clusters), and the per-block top-k results are unioned — exact
        relative to the unchunked join because every query's neighbors
        are computed entirely within its own block. As with
        ``knn_join``, chunking bounds per-task closure bytes, not
        driver-resident query bytes: the lazy union closes over every
        block's matrix, so batches beyond driver memory must persist
        per-block results as separate jobs (ADVICE r10).

        Routing happens driver-side: each query probes its ``nprobe``
        nearest clusters, inverting to cluster -> query set. Each
        (file, row_group) split of an involved cluster is then scanned
        ONCE, scoring all of that cluster's queries in one GEMM — total
        bytes read are bounded by the union of probed clusters
        regardless of query count, vs ``knn_join``'s full-corpus scan.
        Only O(splits x queries_per_cluster x k) partial rows reach the
        final per-query top-k; the corpus never shuffles.

        Output matches ``knn_join``: (query_id+"_q", corpus_id+"_c",
        score), k rows per query, total-ordered — so exact-vs-ANN
        recall is a direct set comparison. Approximate by construction:
        recall-tested, never hash-matched (SURVEY §5.2).
        """
        if metric not in ("l2", "cosine"):
            raise ValueError("metric must be l2|cosine")
        if self.centroids is None:
            raise ValueError("call fit() first")
        return _join_blocks(
            queries, query_id, query_vec, corpus_id, k, metric, max_queries, chunk_queries,
            lambda q_ids, q_mat, qid_t: self._knn_join_parquet_rows(
                spark, path, q_ids, q_mat, qid_t, k, corpus_id, vector_col, metric,
                nprobe, scale_col,
            ),
            "batch the query set (chunk_queries=True) or raise max_queries deliberately",
        )

    def _knn_join_parquet_rows(
        self,
        spark,
        path: str,
        q_ids,
        q_mat,
        qid_t: str,
        k: int,
        corpus_id: str,
        vector_col: str,
        metric: str,
        nprobe: int | None,
        scale_col: str | None,
    ) -> DataFrame:
        """One ``knn_join_parquet`` query block (ids + float64 matrix):
        route each query to its probed clusters, then scan every split
        of those clusters once, running the top-k kernel for all of
        the split's cluster's queries in one GEMM per batch."""
        import numpy as np

        # driver-side routing: cluster -> query indices. Vectorized (r14):
        # one (queries x centroids) distance matrix via the dot identity
        # replaces a per-query probe_clusters call (each of which
        # allocated its own C - q temporary); the identity's rounding
        # differs from the direct form only at ~1e-12 relative, so a
        # routing flip needs a near-exact centroid-distance tie
        C = np.asarray(self.centroids, dtype=np.float64)
        n_probe_eff = self.nprobe if nprobe is None else nprobe
        d_qc = (
            np.einsum("ij,ij->i", C, C)[None, :]
            - 2.0 * (q_mat @ C.T)
            + np.einsum("ij,ij->i", q_mat, q_mat)[:, None]
        )
        probe_order = np.argsort(d_qc, axis=1, kind="stable")[:, :n_probe_eff]
        by_cluster: dict[int, list[int]] = {}
        for qi in range(q_mat.shape[0]):
            for c in probe_order[qi]:
                by_cluster.setdefault(int(c), []).append(qi)

        # cluster -> task lists come from the CACHED one-time listing
        # (scan_plans); missing cluster = empty, skipped
        info = self.scan_plans(path)
        tasks: list[tuple[str, int, int]] = [
            (f, g, c)
            for c in sorted(by_cluster)
            for (f, g) in info["by_cluster"].get(c, [])
        ]
        if not tasks:
            raise FileNotFoundError(
                f"no parquet files in probed clusters {sorted(by_cluster)} under {path}"
            )
        schema, fs, remote, dim = info["schema"], info["fs"], info["remote"], self.dim
        _check_vector_cols(schema, vector_col, scale_col, dim)
        read_cols = [corpus_id, vector_col] + ([scale_col] if scale_col is not None else [])

        def score_split(fpath, rg, cl):
            qidx = by_cluster[cl]
            batches = _split_batches(fs, remote, fpath, rg, read_cols, dim)
            got = _split_topk(
                batches, vector_col, scale_col, [corpus_id], q_mat[qidx], k, metric, corpus_id
            )
            if got is not None:
                yield _pairs_batch(got, q_ids[qidx])

        cid_t = _arrow_to_ddl(schema.field(corpus_id).type)
        return _run_splits(
            spark, tasks, "path string, row_group int, cluster int", score_split,
            f"qid {qid_t}, cid {cid_t}, _raw double",
        )

    # -- search ----------------------------------------------------------

    def probe_clusters(self, qvec: Sequence[float], nprobe: int | None = None) -> list[int]:
        """Driver-side: ids of the nprobe centroids nearest the query."""
        import numpy as np

        if self.centroids is None:
            raise ValueError("call fit() first")
        C = np.asarray(self.centroids, dtype=np.float64)
        q = np.asarray(list(qvec), dtype=np.float64)
        d = np.einsum("ij,ij->i", C - q, C - q)
        n = self.nprobe if nprobe is None else nprobe
        return [int(i) for i in np.argsort(d, kind="stable")[:n]]

    def search(
        self,
        indexed: DataFrame,
        qvec: Sequence[float],
        k: int = 10,
        vector_col: str = "embedding",
        select: Sequence[str] | None = None,
        metric: str = "l2",
        nprobe: int | None = None,
        tiebreak: Sequence[str] = (),
    ) -> DataFrame:
        probes = self.probe_clusters(qvec, nprobe)
        cands = indexed.filter(F.col("ivf_cluster").isin(probes))
        if select is not None:
            cands = cands.select(*select, vector_col)
        return knn_search(
            cands, list(qvec), k=k, vector_col=vector_col, select=select, metric=metric, tiebreak=tiebreak
        )
