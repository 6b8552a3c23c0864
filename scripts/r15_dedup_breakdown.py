"""r15 ask #3 (VERDICT r14): stage-time breakdown of dedup10m (99.1 s
driver-side) — minhash_lsh_pairs at 10M docs, isolated JVM, same conf
as the bench's dedup child (maxPartitionBytes=4MB).

Times each pipeline stage with the noop sink (guide §1.4) so the cost
of signatures vs band-shuffle vs bucket-agg vs candidate expansion vs
verify joins is attributable before anything is changed.

Usage: python scripts/r15_dedup_breakdown.py [n_docs_millions]
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from laion_spark.session import get_session

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import bench  # noqa: E402  (ensure_docs)

N_M = int(sys.argv[1]) if len(sys.argv) > 1 else 10

def timed(label, fn, reps=2):
    spark.sparkContext.setJobDescription(label)
    fn()  # warm
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(round(time.perf_counter() - t0, 2))
    spark.sparkContext.setJobDescription(None)
    print(f"  {label}: {sorted(ts)}", flush=True)
    return min(ts)

def noop(df):
    df.write.format("noop").mode("overwrite").save()

spark = get_session("r15_dedup_breakdown")
spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))

docs = bench.ensure_docs(spark, N_M * 1_000_000)

from laion_spark.operators.dedup import (  # noqa: E402
    _bucket_ids,
    _expand_bucket_pairs,
    _minhash_stage,
    hashed_shingles,
    minhash_lsh_pairs,
    minhash_signatures,
    tokens,
)

id_col, text_col = "doc_id", "text"
num_hashes, bands, ngram, threshold, seed = 32, 8, 3, 0.8, 42

# the engine's own stages, composed in minhash_lsh_pairs' order
df = docs.filter(F.size(tokens(text_col)) >= ngram)
sigs = minhash_signatures(df, id_col, text_col, num_hashes, ngram, seed)
banded = _minhash_stage(df, id_col, text_col, num_hashes, ngram, seed, bands)
grouped = _bucket_ids(banded, ["band", "bucket"], "id")
cands = _expand_bucket_pairs(grouped).distinct()

# stage ladder: steps 3-5 each include everything above them; step 2
# is the signature array alone (the LSH pass hashes bands in the same
# UDF instead of emitting it)
timed("1 shingle-hash only", lambda: noop(df.select(hashed_shingles(text_col, ngram).alias("h"))))
timed("2 signatures", lambda: noop(sigs))
timed("3 banded (pre-shuffle)", lambda: noop(banded))
timed("4 bucket agg (1 shuffle)", lambda: noop(grouped))
timed("5 cands (expand+distinct)", lambda: noop(cands))

# verify side, in the engine's order: semi-join the candidate ids
# first, then hash the survivors' shingles
cand_ids = (
    cands.select(F.col("da").alias("_id")).union(cands.select(F.col("db").alias("_id"))).distinct()
)
timed("6 cand_ids", lambda: noop(cand_ids))
shj = (
    df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_mh_txt"))
    .join(cand_ids, "_id", "left_semi")
    .select("_id", hashed_shingles("_mh_txt", ngram).alias("_set"))
)
timed("7 semi-join + shingle 2nd pass", lambda: noop(shj))

full = minhash_lsh_pairs(docs, id_col, text_col, num_hashes=num_hashes, bands=bands,
                         threshold=threshold)
timed("8 FULL count()", lambda: full.count(), reps=2)

with open(f"/tmp/r15_dedup{N_M}m_full_plan.txt", "w") as f:
    f.write(full._sc._jvm.PythonSQLUtils.explainString(
        full._jdf.queryExecution(), "formatted"))
print(f"plan written to /tmp/r15_dedup{N_M}m_full_plan.txt")
spark.stop()
