from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from laion_spark.operators.knn import build_scan_plan, knn_search
from laion_spark.operators.similarity import (
    RandomHyperplaneIndex,
    knn_join,
    recall_at_k,
)
from tests.conftest import scan_rows

QVEC = [round(((j * 37) % 19 - 9) / 10.0, 1) for j in range(64)]


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_knn_join_matches_per_query_brute_force(spark, emb):
    queries = emb.filter("vec_id < 3").select("vec_id", "embedding")
    out = knn_join(emb, queries, k=5, corpus_id="vec_id", query_id="vec_id").collect()
    assert len(out) == 15
    by_q = {}
    for r in out:
        by_q.setdefault(r.vec_id_q, []).append(r)
    for qrow in queries.collect():
        exact = knn_search(
            emb, [float(x) for x in qrow.embedding], k=5, vector_col="embedding",
            select=["vec_id"], tiebreak=["vec_id"],
        ).collect()
        got_ids = [r.vec_id_c for r in by_q[qrow.vec_id]]
        assert got_ids == [r.vec_id for r in exact]
        # self is its own nearest neighbor at distance 0
        assert got_ids[0] == qrow.vec_id
        assert by_q[qrow.vec_id][0].score == pytest.approx(0.0, abs=1e-6)


@pytest.fixture(scope="module")
def near_dup_corpus(spark, emb):
    """embeddings + jittered twins: the realistic ANN workload (the
    testdata embeddings themselves are isotropic unit vectors — top-10
    'neighbors' there sit at cosine ~0.3, where aggressive pruning +
    high recall is impossible for any angular LSH by construction)."""
    import numpy as np

    rows = emb.select("vec_id", "embedding").collect()
    rng = np.random.default_rng(7)
    out = []
    for r in rows:
        v = np.array(r.embedding, dtype=np.float64)
        out.append((int(r.vec_id), [float(x) for x in v]))
        for j in range(2):  # two near-duplicate twins per base vector
            w = v + rng.normal(0, 0.05, size=v.shape)
            out.append((10000 + int(r.vec_id) * 10 + j, [float(x) for x in w]))
    return spark.createDataFrame(out, "vec_id long, embedding array<double>")


def test_lsh_ann_recall(spark, near_dup_corpus):
    corpus = near_dup_corpus.cache()
    qvec = [float(x) for x in corpus.filter("vec_id = 7").collect()[0].embedding]
    idx = RandomHyperplaneIndex(dim=64, n_planes=6, n_tables=8)
    indexed = idx.build(corpus, "embedding").cache()
    exact = knn_search(corpus, qvec, k=3, vector_col="embedding", select=["vec_id"], tiebreak=["vec_id"])
    approx = idx.search(indexed, qvec, k=3, select=["vec_id"], tiebreak=["vec_id"])
    r = recall_at_k(approx, exact, "vec_id")
    assert r >= 0.9, f"recall@3 = {r}"
    # candidate set actually pruned: well under half the corpus scanned
    n_cand = indexed.filter(idx.candidate_filter(qvec)).count()
    assert 0 < n_cand < corpus.count() / 2
    indexed.unpersist()
    corpus.unpersist()


def test_embedding_near_dup_pairs(spark, near_dup_corpus):
    from laion_spark.operators.similarity import embedding_near_dup_pairs

    sub = near_dup_corpus.filter("vec_id < 20 or (vec_id >= 10000 and vec_id < 10200)")
    pairs = embedding_near_dup_pairs(sub, "vec_id", "embedding", threshold=0.9, dim=64)
    got = {(r.ida, r.idb) for r in pairs.collect()}
    # every base in 0..19 must pair with both its twins
    found = sum((b, 10000 + b * 10 + j) in got for b in range(20) for j in range(2))
    assert found >= 36, f"only {found}/40 twin pairs found"
    # no false positives among unrelated base vectors
    assert not any(a < 20 and b < 20 for a, b in got)


def test_lsh_bucket_determinism(spark, emb):
    idx1 = RandomHyperplaneIndex(dim=64, n_planes=6, n_tables=2)
    idx2 = RandomHyperplaneIndex(dim=64, n_planes=6, n_tables=2)
    b1 = idx1.build(emb.limit(20), "embedding").select("vec_id", "lsh_b0", "lsh_b1").collect()
    b2 = idx2.build(emb.limit(20), "embedding").select("vec_id", "lsh_b0", "lsh_b1").collect()
    assert sorted(map(tuple, b1)) == sorted(map(tuple, b2))


def test_jaccard_max_df_caps_stopword_blowup(spark):
    """A corpus-wide token (df=60) would generate C(60,2)=1770 join
    pairs; max_df drops it from the vocabulary, leaving only the pairs
    that share a rare token (exact Jaccard over the capped vocab)."""
    from laion_spark.operators.dedup import jaccard_similar_pairs

    rows = [(i, f"common p{i // 2} x{i}") for i in range(60)]
    df = spark.createDataFrame(rows, "id int, text string")
    uncapped = jaccard_similar_pairs(df, "id", "text", ngram=1)
    capped = jaccard_similar_pairs(df, "id", "text", ngram=1, max_df=10)
    assert uncapped.count() == 1770  # every pair shares 'common'
    got = capped.collect()
    assert len(got) == 30  # only the p{j} partners survive
    assert all(r.da // 2 == r.db // 2 for r in got)
    # capped sets {p,xa} vs {p,xb}: intersection 1, union 3
    assert all(r.jaccard == round(1 / 3, 6) for r in got)


def test_containment_hash_shingles_matches_string_path(spark):
    """hash_shingles=True must produce the identical pair set and
    containment values as the exact string-shingle path: xxhash64 is
    injective on this vocabulary with ~2^-64 collision odds, so the
    only difference is shuffle bytes (int64 vs n-gram string)."""
    from laion_spark.operators.dedup import containment_pairs

    rows = [
        (0, "a b c d e f g h"),  # base
        (1, "a b c d e f g h x"),  # contains ALL of 0's 2-grams
        (2, "a b c zz d e f g"),  # partial overlap both ways
        (3, "q r s t u v"),  # disjoint
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    kw = dict(ngram=2, threshold=0.5)
    exact = {(r.da, r.db): r.containment
             for r in containment_pairs(df, "id", "text", **kw).collect()}
    hashed = {(r.da, r.db): r.containment
              for r in containment_pairs(df, "id", "text", hash_shingles=True, **kw).collect()}
    assert exact == hashed
    assert exact[(0, 1)] == 1.0  # 0 fully contained in 1
    assert exact[(1, 0)] == round(7 / 8, 6)
    assert all(3 not in pair for pair in exact)
    # group-and-expand plan (one shuffle instead of a self-join) must
    # be result-identical too, with and without shingle hashing
    for hs in (False, True):
        bucketed = {
            (r.da, r.db): r.containment
            for r in containment_pairs(
                df, "id", "text", hash_shingles=hs, expand_buckets=True, max_df=8, **kw
            ).collect()
        }
        assert bucketed == exact
    import pytest

    with pytest.raises(ValueError, match="max_df"):
        containment_pairs(df, "id", "text", expand_buckets=True, **kw)


def test_minhash_lsh_finds_near_duplicates(spark):
    from laion_spark.operators.dedup import minhash_lsh_pairs

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [(0, base), (1, base + " ok"), (2, base.replace("quick", "slow") + " extra"),
            (3, "completely different text with no overlap whatsoever here at all now"),
            (4, base + " ok")]  # 4 ~ 1 duplicates
    df = spark.createDataFrame(rows, "id long, text string")
    pairs = minhash_lsh_pairs(df, "id", "text", num_hashes=32, bands=16, ngram=2, threshold=0.4)
    got = {(r.da, r.db) for r in pairs.collect()}
    assert (1, 4) in got  # identical docs collide
    assert (0, 1) in got or (0, 4) in got  # near-dup found
    assert all(3 not in p for p in got)  # unrelated doc never pairs


def test_minhash_short_docs_never_pair(spark):
    """Documents with fewer than ngram tokens have EMPTY shingle sets —
    MinHash is undefined there. They must not all collide into one
    all-NULL-signature bucket and come back as NaN-jaccard pairs (NaN
    compares above any threshold under Spark's NaN-largest semantics
    and would rank garbage first)."""
    import math

    from laion_spark.operators.dedup import minhash_lsh_pairs

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [(0, "hi"), (1, "yo"), (2, ""), (3, None), (4, base), (5, base + " ok")]
    df = spark.createDataFrame(rows, "id long, text string")
    got = minhash_lsh_pairs(df, "id", "text", num_hashes=32, bands=16, ngram=3, threshold=0.4).collect()
    pairs = {(r.da, r.db) for r in got}
    assert pairs == {(4, 5)}, pairs
    assert all(not math.isnan(r.jaccard) for r in got)


def test_shared_window_pairs_detects_partial_copies(spark):
    """A verbatim 6-token run shared by two otherwise-different docs
    must surface with the right shared count; unrelated docs never
    pair; hashed and string windows agree exactly."""
    from laion_spark.operators.dedup import shared_window_pairs

    quote = "four score and seven years ago our fathers brought forth"
    rows = [
        (0, f"intro words then {quote} and some closing remarks here"),
        (1, f"completely different framing yet {quote} appears verbatim inside"),
        (2, "unrelated document with none of those words present at all today"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {(r.da, r.db): r.shared for r in shared_window_pairs(df, "id", "text", window=5).collect()}
    # the 10-token quote yields 6 distinct shared 5-token runs
    assert got == {(0, 1): 6}
    unhashed = {
        (r.da, r.db): r.shared
        for r in shared_window_pairs(df, "id", "text", window=5, hashed=False).collect()
    }
    assert unhashed == got


def test_shared_window_pairs_max_df_caps_boilerplate(spark):
    """A window present in every document (df=20) is boilerplate, not
    evidence — max_df drops it so no all-pairs blowup occurs."""
    from laion_spark.operators.dedup import shared_window_pairs

    boiler = "standard footer text all rights reserved"
    rows = [(i, f"doc {i} body {i * 7} content {boiler}") for i in range(20)]
    df = spark.createDataFrame(rows, "id int, text string")
    uncapped = shared_window_pairs(df, "id", "text", window=5, min_shared=1)
    capped = shared_window_pairs(df, "id", "text", window=5, min_shared=1, max_df=5)
    assert uncapped.count() == 190  # C(20,2): everyone shares the footer
    assert capped.count() == 0


def test_simhash_hamming(spark):
    from laion_spark.operators.dedup import hamming_distance, simhash

    base = "the quick brown fox jumps over the lazy dog again and again today"
    df = spark.createDataFrame(
        [(0, base), (1, base + " ok"), (2, "completely different text with no overlap whatsoever here")],
        "id long, text string",
    )
    fps = simhash(df, "id", "text", ngram=2)
    a = fps.alias("a")
    b = fps.alias("b")
    d = (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("i"), F.col("b.id").alias("j"),
                hamming_distance(F.col("a.simhash"), F.col("b.simhash")).alias("h"))
        .collect()
    )
    dist = {(r.i, r.j): r.h for r in d}
    assert dist[(0, 1)] < dist[(0, 2)]  # near-dup closer than unrelated
    assert dist[(0, 1)] <= 12


def test_ivf_recall_and_pruning(spark, near_dup_corpus):
    from laion_spark.operators.similarity import IVFIndex

    corpus = near_dup_corpus.cache()
    qvec = [float(x) for x in corpus.filter("vec_id = 7").collect()[0].embedding]
    idx = IVFIndex(dim=64, n_clusters=8, n_iters=2, nprobe=2).fit(
        corpus, id_col="vec_id", vector_col="embedding"
    )
    indexed = idx.build(corpus, "embedding").cache()
    # every row got a cluster, clusters span a real range
    assert indexed.filter("ivf_cluster IS NULL").count() == 0
    n_clusters_used = indexed.select("ivf_cluster").distinct().count()
    assert n_clusters_used >= 2
    exact = knn_search(corpus, qvec, k=3, vector_col="embedding", select=["vec_id"], tiebreak=["vec_id"])
    approx = idx.search(indexed, qvec, k=3, select=["vec_id"], tiebreak=["vec_id"])
    r = recall_at_k(approx, exact, "vec_id")
    assert r >= 0.9, f"recall@3 = {r}"
    # pruning is real: probed clusters hold well under the whole corpus
    probes = idx.probe_clusters(qvec)
    n_cand = indexed.filter(F.col("ivf_cluster").isin(probes)).count()
    assert 0 < n_cand < corpus.count()
    indexed.unpersist()
    corpus.unpersist()


def test_knn_join_query_cap(spark, emb):
    from laion_spark.operators.similarity import knn_join

    import pytest

    with pytest.raises(ValueError, match="max_queries"):
        knn_join(emb, emb, k=2, corpus_id="vec_id", query_id="vec_id", max_queries=5)


def test_ivf_deterministic(spark, emb):
    from laion_spark.operators.similarity import IVFIndex

    a = IVFIndex(dim=64, n_clusters=4, n_iters=2).fit(emb, id_col="vec_id", vector_col="embedding")
    b = IVFIndex(dim=64, n_clusters=4, n_iters=2).fit(emb, id_col="vec_id", vector_col="embedding")
    assert a.centroids == b.centroids


def test_connected_components_chain_and_islands(spark):
    """A 5-node chain (diameter > 1 iteration), a 2-node island, and a
    singleton-free graph: every node gets the component minimum."""
    from laion_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (21, 22)],
        "da int, db int",
    )
    got = {r.id: r.comp for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_ivf_knn_join_parquet_recall(spark, emb, tmp_path):
    """Batched ANN join over a write_index table: per-query results must
    agree with the exact knn_join for in-distribution queries (the
    corpus rows themselves) at useful recall, reading only probed
    clusters."""
    from laion_spark.operators.similarity import IVFIndex, knn_join

    idx = IVFIndex(dim=64, n_clusters=8, n_iters=2, nprobe=3).fit(
        emb, id_col="vec_id", vector_col="embedding"
    )
    path = str(tmp_path / "ivf_join")
    idx.write_index(emb, path, "embedding")
    queries = emb.filter("vec_id < 5")
    exact = knn_join(emb, queries, k=3, corpus_id="vec_id", query_id="vec_id").collect()
    approx = idx.knn_join_parquet(
        spark, path, queries, k=3, query_id="vec_id", query_vec="embedding",
        corpus_id="vec_id", vector_col="embedding",
    ).collect()
    assert {r.vec_id_q for r in approx} == {r.vec_id_q for r in exact}  # every query answered
    hits = total = 0
    for qid in {r.vec_id_q for r in exact}:
        e = {r.vec_id_c for r in exact if r.vec_id_q == qid}
        a = {r.vec_id_c for r in approx if r.vec_id_q == qid}
        hits += len(e & a)
        total += len(e)
        # scores for shared pairs are identical (same exact math)
        es = {(r.vec_id_c): r.score for r in exact if r.vec_id_q == qid}
        for r in approx:
            if r.vec_id_q == qid and r.vec_id_c in es:
                assert abs(r.score - es[r.vec_id_c]) < 1e-6
    assert hits / total >= 0.8, f"batch-join recall = {hits}/{total}"


def test_ivf_knn_join_parquet_query_cap(spark, emb, tmp_path):
    from laion_spark.operators.similarity import IVFIndex

    import pytest

    idx = IVFIndex(dim=64, n_clusters=8, n_iters=1, nprobe=2).fit(
        emb, id_col="vec_id", vector_col="embedding"
    )
    path = str(tmp_path / "ivf_cap")
    idx.write_index(emb, path, "embedding")
    with pytest.raises(ValueError, match="max_queries"):
        idx.knn_join_parquet(spark, path, emb, k=2, query_id="vec_id",
                             query_vec="embedding", corpus_id="vec_id",
                             vector_col="embedding", max_queries=5)


def test_expand_bucket_pairs_degenerate_bucket_streams(spark):
    """One bucket with 2,000 colliding ids must expand to exactly
    C(2000,2) pairs without materializing a ~2M-element array cell in
    one aggregation row (the review-flagged OOM shape): the chained
    posexplode/slice generators stream pairs with O(bucket) per-row
    memory."""
    from pyspark.sql import functions as F

    from laion_spark.operators.dedup import _expand_bucket_pairs

    m = 2000
    grouped = spark.range(1).select(
        F.sequence(F.lit(0), F.lit(m - 1)).alias("ids")
    )
    n = _expand_bucket_pairs(grouped).count()
    assert n == m * (m - 1) // 2
    # ordered, no duplicates: spot-check the first id pairs with all
    sample = _expand_bucket_pairs(grouped).filter(F.col("da") == 0).count()
    assert sample == m - 1


def test_ivf_search_parquet_cached_plan(spark, emb, tmp_path):
    """search_parquet (cached scan plan) must return exactly what the
    uncached probe_dirs + knn_search_parquet path returns; the listing
    is paid once (plan object reused) and invalidated by write_index."""
    from laion_spark.operators.knn import knn_search_parquet
    from laion_spark.operators.similarity import IVFIndex

    idx = IVFIndex(dim=64, n_clusters=8, n_iters=2, nprobe=3).fit(
        emb, id_col="vec_id", vector_col="embedding"
    )
    path = str(tmp_path / "ivf_sp")
    idx.write_index(emb, path, "embedding")
    qvec = [float(x) for x in emb.filter("vec_id = 7").collect()[0].embedding]
    via_dirs = knn_search_parquet(
        spark, idx.probe_dirs(path, qvec), qvec, k=5, vector_col="embedding", select=["vec_id"]
    ).collect()
    via_plan = idx.search_parquet(
        spark, path, qvec, k=5, vector_col="embedding", select=["vec_id"]
    ).collect()
    assert [(r.vec_id, round(r.score, 6)) for r in via_plan] == [
        (r.vec_id, round(r.score, 6)) for r in via_dirs
    ]
    info1 = idx.scan_plans(path)
    assert idx.scan_plans(path) is info1  # second probe reuses the listing
    # probes of different cluster sets, built first and collected in
    # reverse, run one prepared query: the binding carries the clusters
    qvecs = [[float(x) for x in r.embedding] for r in emb.filter("vec_id % 40 = 3").collect()]
    assert len({tuple(sorted(idx.probe_clusters(q))) for q in qvecs}) >= 3
    kw = dict(k=5, vector_col="embedding", select=["vec_id"])
    probes = [idx.search_parquet(spark, path, q, **kw) for q in qvecs]
    for q, res in reversed(list(zip(qvecs, probes))):
        want = scan_rows(lambda: knn_search_parquet(spark, idx.probe_dirs(path, q), q, **kw), "vec_id")
        assert [(r.vec_id, round(r.score, 9)) for r in res.collect()] == want
        assert scan_rows(lambda: idx.search_parquet(spark, path, q, **kw), "vec_id") == want
    narrow = idx.search_parquet(spark, path, qvecs[0], nprobe=1, **kw).collect()
    assert {r.vec_id for r in narrow} <= {
        r.vec_id for r in spark.read.parquet(idx.probe_dirs(path, qvecs[0], 1)[0]).collect()
    }
    assert len(info1["prepared"]) == 1
    idx.write_index(emb, path, "embedding")
    assert idx.scan_plans(path) is not info1  # rewrite invalidates
    assert idx.scan_plans(path)["prepared"] == {}


def test_half_twin_preserves_ivf_tree_and_probes(spark, emb, tmp_path):
    """write_half_table keeps the ivf_cluster=K partition dirs, so IVF
    pruning composes with float16 storage (the compounding-storage
    path: probe reads nprobe clusters of half-width vectors)."""
    import os

    from laion_spark.operators.similarity import IVFIndex
    from laion_spark.sources.halfvec import write_half_table

    idx = IVFIndex(dim=64, n_clusters=4, n_iters=1, nprobe=2).fit(
        emb, id_col="vec_id", vector_col="embedding"
    )
    src = str(tmp_path / "ivf_full")
    idx.write_index(emb, src, "embedding")
    dst = str(tmp_path / "ivf_f16")
    write_half_table(spark, src, dst, ["embedding"]).collect()
    src_dirs = {d for d in os.listdir(src) if d.startswith("ivf_cluster=")}
    dst_dirs = {d for d in os.listdir(dst) if d.startswith("ivf_cluster=")}
    assert src_dirs and src_dirs == dst_dirs
    qvec = [float(x) for r in emb.filter("vec_id = 3").collect() for x in r.embedding]
    idx16 = IVFIndex(dim=64, n_clusters=4, nprobe=2)
    idx16.centroids = idx.centroids
    full = idx.search_parquet(spark, src, qvec, k=3, vector_col="embedding", select=["vec_id"]).collect()
    half = idx16.search_parquet(spark, dst, qvec, k=3, vector_col="embedding", select=["vec_id"]).collect()
    assert len(half) == 3
    # same probed clusters + f16's ~1e-3 grain: neighbor sets agree
    assert {r.vec_id for r in half} == {r.vec_id for r in full}


def test_ivf_tune_nprobe(spark, emb, tmp_path):
    """tune_nprobe picks the smallest probe width meeting the recall
    target on sample queries (ground truth = exact scans), and reports
    honest recall when even the widest width misses."""
    from laion_spark.operators.similarity import IVFIndex

    idx = IVFIndex(dim=64, n_clusters=8, n_iters=2, nprobe=3).fit(
        emb, id_col="vec_id", vector_col="embedding"
    )
    path = str(tmp_path / "ivf_tune")
    idx.write_index(emb, path, "embedding")
    qvecs = [
        [float(x) for x in r.embedding]
        for r in emb.filter("vec_id IN (3, 17, 41)").collect()
    ]
    w, rec = idx.tune_nprobe(
        spark, path, qvecs, k=3, target_recall=0.9,
        widths=(1, 2, 4, 8), id_col="vec_id",
    )
    assert w in (1, 2, 4, 8)
    assert rec >= 0.9  # 8 probes = every cluster -> recall 1.0 guaranteed
    # full-width probe is exact: recall must be 1.0 there
    w8, rec8 = idx.tune_nprobe(
        spark, path, qvecs, k=3, target_recall=2.0,  # unreachable target
        widths=(8,), id_col="vec_id",
    )
    assert w8 == 8 and rec8 == 1.0


def test_packed_twin_preserves_ivf_tree_and_probes(spark, emb, tmp_path):
    """The packed f16 twin keeps the ivf_cluster=K partition dirs and
    the probe path decodes fixed_size_binary vectors — pruning composes
    with the bulk-memcpy half-width layout, and (same float16 values)
    the neighbors equal a pyarrow-written list<f16> twin's exactly."""
    import os

    from laion_spark.operators.similarity import IVFIndex
    from laion_spark.sources.halfvec import write_half_table

    idx = IVFIndex(dim=64, n_clusters=4, n_iters=1, nprobe=2).fit(
        emb, id_col="vec_id", vector_col="embedding"
    )
    from tests.conftest import write_list_f16_twin

    src = str(tmp_path / "ivf_full_p")
    idx.write_index(emb, src, "embedding")
    d_list = str(tmp_path / "ivf_f16_l")
    d_pack = str(tmp_path / "ivf_f16_p")
    write_list_f16_twin(src, d_list)
    write_half_table(spark, src, d_pack, ["embedding"]).collect()
    src_dirs = {d for d in os.listdir(src) if d.startswith("ivf_cluster=")}
    pack_dirs = {d for d in os.listdir(d_pack) if d.startswith("ivf_cluster=")}
    assert src_dirs and src_dirs == pack_dirs
    qvec = [float(x) for r in emb.filter("vec_id = 3").collect() for x in r.embedding]
    mk = lambda: IVFIndex(dim=64, n_clusters=4, nprobe=2)
    il, ip = mk(), mk()
    il.centroids = ip.centroids = idx.centroids
    lst = il.search_parquet(spark, d_list, qvec, k=3, vector_col="embedding", select=["vec_id"]).collect()
    pck = ip.search_parquet(spark, d_pack, qvec, k=3, vector_col="embedding", select=["vec_id"]).collect()
    assert [(r.vec_id, round(r.score, 6)) for r in pck] == [
        (r.vec_id, round(r.score, 6)) for r in lst
    ]


def test_int8_twin_preserves_ivf_tree_and_probes(spark, emb, tmp_path):
    """SQ8 twin keeps the partition tree; probes through scale_col reach
    recall >= 2/3 vs the full-precision probe at SQ8's grain."""
    import os

    from laion_spark.operators.similarity import IVFIndex
    from laion_spark.sources.halfvec import write_int8_table

    idx = IVFIndex(dim=64, n_clusters=4, n_iters=1, nprobe=2).fit(
        emb, id_col="vec_id", vector_col="embedding"
    )
    src = str(tmp_path / "ivf_full_i8")
    idx.write_index(emb, src, "embedding")
    dst = str(tmp_path / "ivf_i8")
    write_int8_table(spark, src, dst, ["embedding"]).collect()
    src_dirs = {d for d in os.listdir(src) if d.startswith("ivf_cluster=")}
    dst_dirs = {d for d in os.listdir(dst) if d.startswith("ivf_cluster=")}
    assert src_dirs and src_dirs == dst_dirs
    qvec = [float(x) for r in emb.filter("vec_id = 3").collect() for x in r.embedding]
    i8 = IVFIndex(dim=64, n_clusters=4, nprobe=2)
    i8.centroids = idx.centroids
    full = idx.search_parquet(spark, src, qvec, k=3, vector_col="embedding", select=["vec_id"]).collect()
    quant = i8.search_parquet(
        spark, dst, qvec, k=3, vector_col="embedding", select=["vec_id"],
        scale_col="embedding_scale",
    ).collect()
    assert len(quant) == 3
    assert len({r.vec_id for r in quant} & {r.vec_id for r in full}) >= 2


def test_knn_join_parquet_over_int8_twin(spark, emb, tmp_path):
    """Batch ANN join over an SQ8 table: scale_col dequantizes in the
    per-cluster GEMM; per-query results overlap the full-precision
    join's at SQ8's grain."""
    from laion_spark.operators.similarity import IVFIndex
    from laion_spark.sources.halfvec import write_int8_table

    idx = IVFIndex(dim=64, n_clusters=4, n_iters=1, nprobe=2).fit(
        emb, id_col="vec_id", vector_col="embedding"
    )
    src = str(tmp_path / "ivf_full_j8")
    idx.write_index(emb, src, "embedding")
    dst = str(tmp_path / "ivf_j8")
    write_int8_table(spark, src, dst, ["embedding"]).collect()
    q = emb.filter("vec_id IN (3, 17)").select("vec_id", "embedding")
    full = idx.knn_join_parquet(
        spark, src, q, k=3, query_id="vec_id", query_vec="embedding",
        corpus_id="vec_id", vector_col="embedding",
    ).collect()
    quant = idx.knn_join_parquet(
        spark, dst, q, k=3, query_id="vec_id", query_vec="embedding",
        corpus_id="vec_id", vector_col="embedding", scale_col="embedding_scale",
    ).collect()
    by_q = lambda rows: {
        qid: {r.vec_id_c for r in rows if r.vec_id_q == qid} for qid in (3, 17)
    }
    f, g = by_q(full), by_q(quant)
    for qid in (3, 17):
        assert len(g[qid]) == 3
        assert len(f[qid] & g[qid]) >= 2, (qid, f[qid], g[qid])


def test_knn_join_parquet_int8_without_scale_fails_loudly(spark, emb, tmp_path):
    """ADVICE r9 (medium): the join path mirrors knn_search_parquet's
    SQ8 guard — scoring raw int8 codes without scale_col would return
    wrong neighbors with no crash."""
    import pytest

    from laion_spark.operators.similarity import IVFIndex
    from laion_spark.sources.halfvec import write_int8_table

    idx = IVFIndex(dim=64, n_clusters=4, n_iters=1, nprobe=2).fit(
        emb, id_col="vec_id", vector_col="embedding"
    )
    src = str(tmp_path / "ivf_full_g8")
    idx.write_index(emb, src, "embedding")
    dst = str(tmp_path / "ivf_g8")
    write_int8_table(spark, src, dst, ["embedding"]).collect()
    q = emb.filter("vec_id = 3").select("vec_id", "embedding")
    with pytest.raises(ValueError, match="scale_col"):
        idx.knn_join_parquet(
            spark, dst, q, k=3, query_id="vec_id", query_vec="embedding",
            corpus_id="vec_id", vector_col="embedding",
        )


def test_knn_join_chunked_matches_single_block(spark, emb):
    """G62: chunk_queries=True streams query blocks of max_queries and
    unions per-block top-k — exactly the single-block result (qid sets
    are disjoint across blocks), corpus scanned once per block."""
    queries = emb.filter("vec_id < 25").select("vec_id", "embedding")
    one = knn_join(
        emb, queries, k=4, corpus_id="vec_id", query_id="vec_id", max_queries=1000
    ).collect()
    chunked = knn_join(
        emb, queries, k=4, corpus_id="vec_id", query_id="vec_id",
        max_queries=7, chunk_queries=True,
    ).collect()
    assert [tuple(r) for r in chunked] == [tuple(r) for r in one]
    assert len(chunked) == 25 * 4


def test_knn_join_chunked_cosine_and_oversize_contract(spark, emb):
    import pytest

    queries = emb.filter("vec_id < 12").select("vec_id", "embedding")
    one = knn_join(
        emb, queries, k=3, corpus_id="vec_id", query_id="vec_id",
        metric="cosine", max_queries=1000,
    ).collect()
    chunked = knn_join(
        emb, queries, k=3, corpus_id="vec_id", query_id="vec_id",
        metric="cosine", max_queries=5, chunk_queries=True,
    ).collect()
    assert [tuple(r) for r in chunked] == [tuple(r) for r in one]
    # without chunking, exceeding max_queries still fails fast
    with pytest.raises(ValueError, match="max_queries"):
        knn_join(emb, queries, k=3, corpus_id="vec_id", query_id="vec_id", max_queries=5)


def test_knn_join_parquet_chunked_matches_single(spark, emb, tmp_path):
    """r10: chunk_queries=True on the routed parquet join — per-block
    unions must equal the single-batch join exactly."""
    from laion_spark.operators.similarity import IVFIndex

    idx = IVFIndex(dim=64, n_clusters=4, n_iters=1, nprobe=2).fit(
        emb, id_col="vec_id", vector_col="embedding"
    )
    path = str(tmp_path / "ivf_chunkj")
    idx.write_index(emb, path, "embedding")
    q = emb.filter("vec_id < 15").select("vec_id", "embedding")
    one = idx.knn_join_parquet(
        spark, path, q, k=3, query_id="vec_id", query_vec="embedding",
        corpus_id="vec_id", vector_col="embedding", max_queries=100,
    ).collect()
    chunked = idx.knn_join_parquet(
        spark, path, q, k=3, query_id="vec_id", query_vec="embedding",
        corpus_id="vec_id", vector_col="embedding", max_queries=4,
        chunk_queries=True,
    ).collect()
    assert [tuple(r) for r in chunked] == [tuple(r) for r in one]
    assert len(chunked) == 15 * 3


def test_ivf_write_index_append_slices_equal_single_pass(spark, emb, tmp_path):
    """mode="append" sliced build (the bounded-transient-footprint cold
    build path) must produce the same table content and the same probe
    results as one overwrite pass."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from laion_spark.operators.knn import flat_matrix
    from laion_spark.operators.similarity import IVFIndex

    idx = IVFIndex(dim=64, n_clusters=4, n_iters=2, nprobe=2).fit(
        emb, id_col="vec_id", vector_col="embedding"
    )
    single = str(tmp_path / "ivf_single")
    idx.write_index(emb, single, "embedding")
    sliced = str(tmp_path / "ivf_sliced")
    n = emb.count()
    cut = n // 2
    idx.write_index(emb.filter(F.col("vec_id") < cut), sliced, "embedding", mode="overwrite")
    idx.write_index(emb.filter(F.col("vec_id") >= cut), sliced, "embedding", mode="append")

    def snap(p):
        rows = spark.read.parquet(p).collect()
        vecs = flat_matrix(pa.array([r.embedding for r in rows], pa.binary()), 64)
        return sorted(
            (r.vec_id, r.ivf_cluster, tuple(round(float(x), 6) for x in v))
            for r, v in zip(rows, vecs)
        )

    assert snap(single) == snap(sliced)
    # one fixed-width value per vector holding the input's float32 bits
    t = pq.read_table(single)
    assert t.schema.field("embedding").type == pa.binary(4 * 64)
    src = {r.vec_id: np.asarray(r.embedding, np.float32).tobytes() for r in emb.collect()}
    assert sorted(zip(t.column("vec_id").to_pylist(), t.column("embedding").to_pylist())) == sorted(
        src.items()
    )
    q = [float(x) for x in emb.first().embedding]
    a = idx.search_parquet(spark, single, q, k=5, vector_col="embedding", select=["vec_id"]).collect()
    idx._scan_cache = None  # separate table, fresh listing
    b = idx.search_parquet(spark, sliced, q, k=5, vector_col="embedding", select=["vec_id"]).collect()
    assert [r.vec_id for r in a] == [r.vec_id for r in b]


def _write_tie_layouts(spark, root, row_group_size):
    """600 x 16 list<float> rows holding 40 exact copies of one vector
    at scattered ids, one row strictly nearer the query than the copies
    and small-norm noise elsewhere, so the k-th place (k=5) falls inside
    the copies under l2, cosine and dot. Written as one flat file and
    as a 2-cluster IVF layout, both with ``row_group_size`` rows per
    group (None = one group). Returns (flat path, IVF path, index,
    query, copy ids)."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from laion_spark.operators.similarity import IVFIndex

    rng = np.random.default_rng(7)
    mat = (0.1 * rng.standard_normal((600, 16))).astype(np.float32)
    v = rng.standard_normal(16)
    v /= np.linalg.norm(v)
    q = 1.1 * v + 0.05 * rng.standard_normal(16)
    copies = np.sort(rng.choice(np.arange(600), 41, replace=False))
    mat[copies[:-1]] = v.astype(np.float32)
    mat[copies[-1]] = (v + 0.5 * (q - v)).astype(np.float32)
    t = pa.table({
        "id": pa.array(np.arange(600, dtype=np.int64)),
        "embedding": pa.array(list(mat), pa.list_(pa.float32())),
    })
    flat = f"{root}/flat.parquet"
    pq.write_table(t, flat, row_group_size=row_group_size)
    df = spark.read.parquet(flat)
    idx = IVFIndex(dim=16, n_clusters=2, n_iters=1, nprobe=2).fit(df)
    cl = np.asarray([
        r.ivf_cluster for r in idx.build(df).select("id", "ivf_cluster").orderBy("id").collect()
    ])
    for c in np.unique(cl):
        os.makedirs(f"{root}/ivf/ivf_cluster={c}")
        pq.write_table(t.filter(pa.array(cl == c)), f"{root}/ivf/ivf_cluster={c}/part-0.parquet",
                       row_group_size=row_group_size)
    return flat, f"{root}/ivf", idx, [float(x) for x in q], set(copies[:-1].tolist())


@contextmanager
def _arrow_batch_rows(spark, n):
    """Spark hands ``mapInArrow`` batches of ``n`` rows inside the block."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    was = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, was)


@pytest.mark.parametrize("row_group_size", [None, 7])
def test_rows_tied_at_kth_place_are_kept(spark, tmp_path, row_group_size):
    """Exact duplicate vectors straddling the k-th place: every Arrow
    scorer (the DataFrame lane with a literal query among them) returns
    the reference's rows (ties settled by id), whatever the batch or
    row-group layout — a per-batch or per-split cut to k rows would
    keep an arbitrary subset of the tied copies."""
    from laion_spark.functions.vector import vec_lit
    from laion_spark.operators.knn import knn_search_parquet

    import numpy as np

    flat, ivf, idx, q, copies = _write_tie_layouts(spark, str(tmp_path), row_group_size)
    df = spark.read.parquet(flat)
    plan = build_scan_plan(flat)
    queries = spark.createDataFrame([(0, q)], "id long, embedding array<double>")
    kw = dict(k=5, vector_col="embedding")
    for metric in ("l2", "cosine", "dot"):
        ref = knn_search(df, vec_lit(q), select=["id"], metric=metric, tiebreak=["id"], **kw).collect()
        want = [r.id for r in ref]
        assert len(set(want) & copies) == 4, (metric, want)
        with _arrow_batch_rows(spark, 7):  # copies straddle the lane's Arrow batches,
            rows = df.sort(F.desc("id"))  # in the reverse of the tiebreak's order
            lane = knn_search(rows, q, select=["id"], metric=metric, tiebreak=["id"], **kw).collect()
        assert [(r.id, round(r.score, 6)) for r in lane] == [
            (r.id, round(r.score, 6)) for r in ref
        ], metric
        scan = knn_search_parquet(spark, flat, q, select=["id"], metric=metric, plan=plan, **kw)
        assert [r.id for r in scan.collect()] == want, metric
        probe = idx.search_parquet(spark, ivf, q, select=["id"], metric=metric, **kw)
        assert [r.id for r in probe.collect()] == want, metric
        # a second, different query through the reused ScanPlan and IVF
        # entry, the probe over one cluster: the same rows on both routes
        q2 = (-np.asarray(q)).tolist()
        ref2 = knn_search(df, vec_lit(q2), select=["id"], metric=metric, tiebreak=["id"], **kw).collect()
        got2 = scan_rows(lambda: knn_search_parquet(spark, flat, q2, select=["id"], metric=metric, plan=plan, **kw))
        assert got2 == [(r.id, round(r.score, 9)) for r in ref2], metric
        (c,) = idx.probe_clusters(q2, 1)
        in_c = spark.read.parquet(f"{ivf}/ivf_cluster={c}")
        ref1 = knn_search(in_c, vec_lit(q2), select=["id"], metric=metric, tiebreak=["id"], **kw).collect()
        got1 = scan_rows(lambda: idx.search_parquet(spark, ivf, q2, select=["id"], metric=metric, nprobe=1, **kw))
        assert [i for i, _ in got1] == [r.id for r in ref1], metric
        if metric == "dot":
            continue  # the joins serve l2 and cosine, ordered by ascending score
        join = knn_join(df, queries, k=5, metric=metric)
        assert sorted(r.id_c for r in join.collect()) == sorted(want), metric
        ann = idx.knn_join_parquet(spark, ivf, queries, metric=metric, k=5)
        assert sorted(r.id_c for r in ann.collect()) == sorted(want), metric
    # one prepared query per metric, whatever the vector or probed clusters
    assert len(plan.prepared) == 3 and len(idx.scan_plans(ivf)["prepared"]) == 3


def test_double_tables_score_in_float64(spark, tmp_path):
    """list<double> values that float32 cannot hold: the scan lane and
    the IVF join score them in float64 from the stored values (the
    float32 pass only selects candidates)."""
    import numpy as np

    from laion_spark.operators.knn import knn_search_parquet
    from laion_spark.operators.similarity import IVFIndex

    rng = np.random.default_rng(11)
    X = 3.0 * rng.standard_normal((400, 64))
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(400)], "id long, embedding array<double>"
    )
    idx = IVFIndex(dim=64, n_clusters=2, n_iters=1, nprobe=2).fit(df)
    path = str(tmp_path / "ivf64")
    idx.build(df).write.partitionBy("ivf_cluster").parquet(path)
    Q = X[[3, 50, 120]] + 0.5 * rng.standard_normal((3, 64))

    def ref(q):
        d = X - q
        return np.sqrt(np.einsum("ij,ij->i", d, d))

    for q in Q:
        d = ref(q)
        got = knn_search_parquet(spark, path, q.tolist(), k=10, vector_col="embedding").collect()
        assert [r.id for r in got] == np.lexsort((np.arange(400), d))[:10].tolist()
        for r in got:
            assert r.score == pytest.approx(d[r.id], rel=1e-12, abs=0)
    queries = spark.createDataFrame(
        [(j, Q[j].tolist()) for j in range(3)], "id long, embedding array<double>"
    )
    out = idx.knn_join_parquet(spark, path, queries, k=10).collect()
    assert len(out) == 30
    for r in out:  # the join's contract rounds scores to 6 places
        assert r.score == round(float(ref(Q[r.id_q])[r.id_c]), 6)


def test_sq8_pairs_score_the_same_on_probe_and_join(spark, tmp_path):
    """On an SQ8 twin both IVF paths dequantize codes x scale in
    float64, so one (query, row) pair gets one score."""
    import numpy as np

    from laion_spark.operators.similarity import IVFIndex
    from laion_spark.sources.halfvec import write_int8_table

    rng = np.random.default_rng(5)
    X = rng.standard_normal((2000, 64)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(2000)], "vec_id long, embedding array<float>"
    )
    idx = IVFIndex(dim=64, n_clusters=4, n_iters=1, nprobe=2).fit(df, id_col="vec_id")
    src, dst = str(tmp_path / "ivf_f32"), str(tmp_path / "ivf_i8")
    idx.write_index(df, src)
    write_int8_table(spark, src, dst, ["embedding"]).collect()
    queries = df.filter("vec_id % 200 = 0")
    kw = dict(k=10, vector_col="embedding", scale_col="embedding_scale")
    joined = idx.knn_join_parquet(
        spark, dst, queries, query_id="vec_id", corpus_id="vec_id", **kw
    ).collect()
    assert len(joined) == 100
    pairs = {(r.vec_id_q, r.vec_id_c): r.score for r in joined}
    shared = 0
    for qr in queries.collect():
        probe = idx.search_parquet(
            spark, dst, [float(x) for x in qr.embedding], select=["vec_id"], **kw
        ).select("vec_id", F.round("score", 6).alias("score"))
        for r in probe.collect():
            if (qr.vec_id, r.vec_id) in pairs:
                shared += 1
                assert r.score == pairs[(qr.vec_id, r.vec_id)], (qr.vec_id, r.vec_id)
    assert shared >= 90


def test_kernel_keeps_k_rows_of_non_finite_scores():
    """Under cosine a zero-norm row or query scores NaN, which ranks
    last and never ties: an all-zero batch, or a zero query, keeps k
    rows per query (the smallest ids when the joins' id tiebreak is
    given), never the whole batch."""
    import numpy as np
    import pyarrow as pa

    from laion_spark.operators.knn import _split_topk, topk_candidates

    rng = np.random.default_rng(3)
    Q = rng.standard_normal((4, 8))
    Q[2] = 0.0  # a zero query: NaN against every row
    zeros = pa.array([[0.0] * 8] * 40, pa.list_(pa.float32()))
    rows, qs, _ = topk_candidates(zeros, None, Q, 5, "cosine")
    assert np.bincount(qs, minlength=4).tolist() == [5] * 4
    mixed = rng.standard_normal((40, 8)).astype(np.float32)
    mixed[::2] = 0.0  # 20 finite rows for the nonzero queries
    ids = pa.array([f"r{i:02d}" for i in range(39, -1, -1)])  # descending ids
    rows, qs, raw = topk_candidates(pa.array(list(mixed), pa.list_(pa.float32())), None, Q, 5,
                                    "cosine", ids)
    assert np.bincount(qs, minlength=4).tolist() == [5] * 4
    assert np.isfinite(raw[qs != 2]).all()
    # the zero query's k: the five smallest ids, i.e. the last five rows
    assert sorted(rows[qs == 2].tolist()) == [35, 36, 37, 38, 39]
    # a split of all-zero batches: k rows per query across batches
    batches = [pa.record_batch([zeros, pa.array(range(40 * j, 40 * j + 40))], ["v", "id"])
               for j in range(3)]
    got = _split_topk(batches, "v", None, ["id"], Q, 5, "cosine")
    assert np.bincount(got[1], minlength=4).tolist() == [5] * 4
    got = _split_topk(batches, "v", None, ["id"], Q, 5, "cosine", "id")
    assert sorted(got[0][0].to_pylist()) == sorted(list(range(5)) * 4)


def test_join_split_cut_settles_finite_ties_by_id():
    """Exact ties at the k-th place: the scan lane's kernel keeps them
    all, and the joins' id tiebreak keeps exactly the k smallest ids."""
    import numpy as np
    import pyarrow as pa

    from laion_spark.operators.knn import _split_topk

    v = pa.array([[1.0, 2.0, 3.0]] * 30, pa.list_(pa.float64()))
    Q = np.asarray([[1.0, 2.0, 2.5], [0.0, 0.0, 1.0]])
    batches = [pa.record_batch([v, pa.array(range(90 - 30 * j, 120 - 30 * j))], ["v", "id"])
               for j in range(3)]
    for metric in ("l2", "cosine", "dot"):
        got = _split_topk(batches, "v", None, ["id"], Q, 4, metric)
        assert np.bincount(got[1]).tolist() == [90, 90], metric
        (ids,), qs, _ = _split_topk(batches, "v", None, ["id"], Q, 4, metric, "id")
        for j in range(2):
            assert sorted(ids.filter(pa.array(qs == j)).to_pylist()) == [30, 31, 32, 33], metric


def test_zero_vectors_rank_last_on_every_cosine_path(spark, tmp_path):
    """A partition and row groups of all-zero vectors, and a zero query:
    the DataFrame and scan lanes, the IVF join and knn_join give the
    reference's rows under cosine (zero rows last, ties by id) and each
    join keeps the ``max_queries`` error text of its own."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from laion_spark.functions.vector import vec_lit
    from laion_spark.operators.knn import knn_search_parquet
    from laion_spark.operators.similarity import IVFIndex

    rng = np.random.default_rng(9)
    mat = rng.standard_normal((200, 8)).astype(np.float32)
    mat[:50] = 0.0
    t = pa.table({
        "id": pa.array(np.arange(200, dtype=np.int64)),
        "embedding": pa.array(list(mat), pa.list_(pa.float32())),
    })
    flat = str(tmp_path / "flat.parquet")
    pq.write_table(t, flat, row_group_size=25)
    df = spark.read.parquet(flat)
    idx = IVFIndex(dim=8, n_clusters=2, n_iters=1, nprobe=2).fit(df)
    cl = np.asarray([
        r.ivf_cluster for r in idx.build(df).select("id", "ivf_cluster").orderBy("id").collect()
    ])
    for c in np.unique(cl):
        os.makedirs(tmp_path / f"ivf/ivf_cluster={c}")
        pq.write_table(t.filter(pa.array(cl == c)),
                       str(tmp_path / f"ivf/ivf_cluster={c}/part-0.parquet"), row_group_size=25)
    ivf = str(tmp_path / "ivf")
    plan = build_scan_plan(flat)
    qs = [rng.standard_normal(8).tolist(), [0.0] * 8]
    queries = spark.createDataFrame([(j, q) for j, q in enumerate(qs)],
                                    "id long, embedding array<double>")
    corpus = df.repartitionByRange(4, "id")  # partition 0: ids 0-49, all zero
    # partition 3: ids 49-0, all zero, rows in the reverse of the tiebreak's order
    rev = df.repartitionByRange(4, F.desc("id")).sortWithinPartitions(F.desc("id"))
    kw = dict(k=5, vector_col="embedding")
    join = knn_join(corpus, queries, k=5, metric="cosine").collect()
    ann = idx.knn_join_parquet(spark, ivf, queries, k=5, metric="cosine").collect()
    for j, q in enumerate(qs):
        want = [r.id for r in knn_search(
            df, vec_lit(q), select=["id"], metric="cosine", tiebreak=["id"], **kw
        ).collect()]
        assert (min(want) >= 50) if j == 0 else (want == [0, 1, 2, 3, 4]), want
        with _arrow_batch_rows(spark, 7):  # 50 zero rows over 8 batches
            lane = knn_search(rev, q, select=["id"], metric="cosine", tiebreak=["id"], **kw)
            assert [r.id for r in lane.collect()] == want, j
        scan = knn_search_parquet(spark, flat, q, select=["id"], metric="cosine", plan=plan, **kw)
        assert [r.id for r in scan.collect()] == want, j
        assert [i for i, _ in scan_rows(
            lambda: knn_search_parquet(spark, flat, q, select=["id"], metric="cosine", plan=plan, **kw)
        )] == want, j
        probe = scan_rows(lambda: idx.search_parquet(spark, ivf, q, select=["id"], metric="cosine", **kw))
        assert [i for i, _ in probe] == want, j
        assert sorted(r.id_c for r in join if r.id_q == j) == sorted(want), j
        assert sorted(r.id_c for r in ann if r.id_q == j) == sorted(want), j
    with pytest.raises(ValueError, match=r"^queries side exceeds max_queries=1; knn_join collects"):
        knn_join(corpus, queries, k=5, max_queries=1)
    with pytest.raises(ValueError,
                       match=r"^queries side exceeds max_queries=1; batch the query set"):
        idx.knn_join_parquet(spark, ivf, queries, k=5, max_queries=1)
