"""r15 dedup-optimization contracts (VERDICT r14 next-round #3).

The round rewrote minhash_signatures' inner loop (numpy mapInArrow),
switched the n>=2 shingle-hash basis to token-hash tuples
(hashed_shingles), and moved the LSH verify semi-join BEFORE the
shingle transform. These pin the invariants those changes promised,
and those of the LSH band stage: band hashes computed inside the
signature UDF, singleton buckets dropped before ``collect_set``.
"""

import itertools
import random

from pyspark.sql import functions as F


def _docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog again today"),
        (1, "the quick brown fox jumps over the lazy dog again today ok"),
        (2, "a completely different document with its own words here now"),
        (3, "short one"),        # < 3 tokens of trigram shingles? 2 tokens -> none
        (4, ""),                 # empty
        (5, None),               # NULL text
        (6, "the quick brown fox jumps over the lazy dog again today"),  # dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_hashed_shingles_unigram_matches_string_hash(spark):
    """For n == 1 the hashed basis must be BIT-identical to hashing the
    string shingles — the d04 catalog entry rides this equality."""
    from laion_spark.operators.dedup import hashed_shingles, shingles

    df = _docs(spark)
    both = df.select(
        F.transform(shingles("text", 1), lambda s: F.xxhash64(s)).alias("a"),
        hashed_shingles("text", 1).alias("b"),
    ).collect()
    for r in both:
        assert r.a == r.b


def test_hashed_shingles_trigram_set_cardinalities_match(spark):
    """The token-tuple basis must produce exactly one hash per distinct
    string shingle (tokens carry no whitespace, so tuple equality ==
    string equality): same set sizes, same pairwise intersections."""
    from laion_spark.operators.dedup import hashed_shingles, shingles

    df = _docs(spark)
    rows = df.select(
        F.col("doc_id"),
        F.size(shingles("text", 3)).alias("ns"),
        F.size(hashed_shingles("text", 3)).alias("nh"),
    ).collect()
    for r in rows:
        assert r.ns == r.nh, (r.doc_id, r.ns, r.nh)
    # pairwise intersection parity on the near-dup pair (0, 1)
    s = {r.doc_id: r.sh for r in df.select("doc_id", shingles("text", 3).alias("sh")).collect()}
    h = {r.doc_id: r.sh for r in df.select("doc_id", hashed_shingles("text", 3).alias("sh")).collect()}
    assert len(set(s[0]) & set(s[1])) == len(set(h[0]) & set(h[1]))


def test_minhash_signature_empty_null_contract(spark):
    """Empty/NULL shingle sets must still yield a NULL-element signature
    (the pre-r15 array_min behavior) through the mapInArrow path, and
    real signatures must be within [0, M)."""
    from laion_spark.operators.dedup import _MERSENNE, minhash_signatures

    df = _docs(spark)
    got = {r.id: r.signature for r in
           minhash_signatures(df, "doc_id", "text", num_hashes=8, ngram=3).collect()}
    assert len(got) == 7
    for did in (3, 4, 5):  # too short / empty / NULL text
        assert got[did] is None or all(v is None for v in got[did]), (did, got[did])
    for did in (0, 1, 2, 6):
        assert all(v is not None and 0 <= v < _MERSENNE for v in got[did])
    # identical docs get identical signatures
    assert got[0] == got[6]
    # every value is the pure-Python min over the hashed shingles, for a
    # batch that holds NULL rows too
    from laion_spark.operators.dedup import hashed_shingles

    rng = random.Random(42)
    coeffs = [(rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE)) for _ in range(8)]
    base = {r.doc_id: r.h for r in df.select("doc_id", hashed_shingles("text", 3, distinct=False).alias("h")).collect()}
    for did, hs in base.items():
        if hs:
            assert got[did] == [min((h % _MERSENNE * a + b) % _MERSENNE for h in hs) for a, b in coeffs], did
    # a batch whose last non-empty row is followed only by NULL or empty
    # rows: that row's min must still cover its last shingle
    for tail in ([None], [""], ["", None]):
        rows = [(10, "a b c d e f"), (11, "z y x w v")] + [(12 + i, t) for i, t in enumerate(tail)]
        one = spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)
        sig = {r.id: r.signature for r in minhash_signatures(one, "doc_id", "text", num_hashes=8, ngram=3).collect()}
        hs = {r.doc_id: r.h for r in one.select("doc_id", hashed_shingles("text", 3, distinct=False).alias("h")).collect()}
        for did in (10, 11):
            assert sig[did] == [min((h % _MERSENNE * a + b) % _MERSENNE for h in hs[did]) for a, b in coeffs], (tail, did)
        for did in range(12, 12 + len(tail)):
            assert sig[did] is None or all(v is None for v in sig[did]), (tail, did)
    # near-dups agree on most hash slots, the distinct doc does not
    agree01 = sum(1 for a, b in zip(got[0], got[1]) if a == b)
    agree02 = sum(1 for a, b in zip(got[0], got[2]) if a == b)
    assert agree01 > agree02


def test_minhash_lsh_verify_prunes_before_shingling(spark):
    """The verify stage must semi-join candidate ids BEFORE computing
    the hashed-shingle arrays: the plan's second shingle computation
    has to sit ABOVE the semi-join, not below it."""
    from laion_spark.operators.dedup import minhash_lsh_pairs

    df = _docs(spark)
    out = minhash_lsh_pairs(df, "doc_id", "text", num_hashes=16, bands=8, threshold=0.8)
    plan = out._sc._jvm.PythonSQLUtils.explainString(out._jdf.queryExecution(), "formatted")
    assert "LeftSemi" in plan
    got = {(r.da, r.db) for r in out.collect()}
    assert (0, 6) in got  # identical pair survives end to end


def _band_corpus(spark):
    """String ids in shuffled order; a 12-doc boilerplate cluster with
    a few edited members, planted near-dup pairs and partial copies,
    unrelated captions, and short, empty and NULL captions (no
    shingles, no bands)."""
    rng = random.Random(5)
    words = [f"w{i}" for i in range(60)]
    boiler = "stock photo of a red chair on a plain white background studio shot"
    texts = [boiler] * 8 + [boiler + " hd", boiler + " 4k", "free " + boiler, boiler.replace("red", "blue")]
    for tail in range(10):
        # a near-dup and a partial copy (last 3-7 words replaced,
        # Jaccard ~0.2-0.6): the latter share some minhash values but
        # seldom a whole band
        base = [rng.choice(words) for _ in range(14)]
        edit = base[:7 + tail % 5] + [rng.choice(words) for _ in range(7 - tail % 5)]
        texts += [" ".join(base), " ".join(base) + " " + rng.choice(words), " ".join(edit)]
    texts += [" ".join(rng.choice(words) for _ in range(rng.randint(3, 16))) for _ in range(30)]
    texts += ["two words", "", None, "one", "   "]
    ids = [f"doc-{i:03d}" for i in range(len(texts))]
    rng.shuffle(ids)
    return spark.createDataFrame(list(zip(ids, texts)), "doc_id string, text string")


def test_lsh_candidates_match_python_banding(spark):
    """At threshold 0 the verify keeps every candidate, so the pairs
    are the band stage's candidate set. It must equal a pure-Python
    banding of ``minhash_signatures``: two documents are candidates iff
    some band's signature slice is equal. Documents without shingles
    have no bands."""
    from laion_spark.operators.dedup import minhash_lsh_pairs, minhash_signatures

    df = _band_corpus(spark)
    num_hashes, bands = 16, 8
    r = num_hashes // bands
    sigs = {row.id: row.signature for row in minhash_signatures(df, "doc_id", "text", num_hashes).collect()}
    buckets = {}
    for i, sig in sigs.items():
        if sig is None or None in sig:
            continue
        for b in range(bands):
            buckets.setdefault((b, tuple(sig[b * r:(b + 1) * r])), []).append(i)
    want = {tuple(sorted(p)) for ids in buckets.values() for p in itertools.combinations(ids, 2)}
    got = minhash_lsh_pairs(df, "doc_id", "text", num_hashes=num_hashes, bands=bands, threshold=0.0).collect()
    assert len(got) == len({(x.da, x.db) for x in got})
    assert {(x.da, x.db) for x in got} == want
    assert len(want) > 66  # the boilerplate cluster alone is C(12, 2) candidates
    short = {row.doc_id for row in df.collect() if row.text is None or len(row.text.split()) < 3}
    assert not short & {i for p in want for i in p}


def test_lsh_pairs_do_not_depend_on_partitioning(spark):
    from laion_spark.operators.dedup import minhash_lsh_pairs

    df = _band_corpus(spark)
    runs = [
        [tuple(x) for x in minhash_lsh_pairs(d, "doc_id", "text", num_hashes=16, bands=8, threshold=0.5).collect()]
        for d in (df.coalesce(1), df.repartition(7))
    ]
    assert runs[0] == runs[1]
    assert len(runs[0]) > 30


def _with_ancestors(df):
    """(node, ancestors) for every node of ``df``'s executed plan — the
    final AQE plan once an action has run — walking into query stages.
    A reused exchange is a leaf: its subtree is counted once."""
    out = []

    def kids(p):
        name = p.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return [p.executedPlan()]
        if name.endswith("QueryStageExec"):
            return [p.plan()]
        ch = p.children()
        return [ch.apply(i) for i in range(ch.size())]

    def walk(p, up):
        name = p.getClass().getSimpleName()
        out.append((name, up))
        for c in kids(p):
            walk(c, up + [name])

    walk(df._jdf.queryExecution().executedPlan(), [])
    return out


def test_lsh_band_stage_executed_plan(spark):
    """The signature UDF emits the band stream itself: one MapInArrow,
    no band Generate and no map-side collect_set below the stream's
    first exchange, and the singleton-dropping window shares that
    exchange with the bucket aggregate (no second one between them)."""
    from laion_spark.operators.dedup import minhash_lsh_pairs

    out = minhash_lsh_pairs(_band_corpus(spark), "doc_id", "text", num_hashes=16, bands=8)
    out.collect()
    nodes = _with_ancestors(out)
    assert "ResultQueryStageExec" in {n for n, _ in nodes}  # the final plan
    arrow = [up for n, up in nodes if n == "MapInArrowExec"]
    assert len(arrow) == 1
    up = arrow[0][::-1]  # nearest ancestor first
    first = up.index("ShuffleExchangeExec")
    assert not {"GenerateExec", "ObjectHashAggregateExec", "HashAggregateExec"} & set(up[:first])
    agg = up.index("ObjectHashAggregateExec")
    assert first < up.index("WindowExec") < agg
    assert "ShuffleExchangeExec" not in up[first + 1:agg]
