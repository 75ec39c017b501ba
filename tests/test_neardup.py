"""Ground-truth checks for hash-family near-dup ops (no SQL oracle
possible: xxhash64 isn't reproducible in DuckDB).

- MinHash+LSH is validated against the exact token-shingle Jaccard
  pairs: every returned pair must truly exceed the threshold
  (verification step guarantees precision = 1.0) and recall vs exact
  ground truth must be high.
- SimHash pairs must be symmetric-free (i<j), within the Hamming
  bound, and catch planted duplicates.
- Embedding near-dup must find planted near-identical vectors.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkstreaming_gmall_demo_spark.operators import neardup as nd
from sparkstreaming_gmall_demo_spark.operators import similarity as sim
from sparkstreaming_gmall_demo_spark.sources.fixtures import load_table


def test_minhash_precision_and_recall(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("lang") == "de")
    # ground truth on the same shingle space as the minhash op
    sh = nd.shingle_sets(docs, 3).withColumnRenamed("toks", "sh")
    a, b = sh.alias("a"), sh.alias("b")
    exact = (
        a.crossJoin(b)
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("i"),
            F.col("b.doc_id").alias("j"),
            (
                F.size(F.array_intersect("a.sh", "b.sh"))
                / F.size(F.array_union("a.sh", "b.sh"))
            ).alias("jac"),
        )
        .filter(F.col("jac") >= 0.8)
    )
    truth = {(r.i, r.j) for r in exact.collect()}
    found = {(r.i, r.j) for r in nd.minhash_near_duplicates(docs, 0.8).collect()}
    # verification step makes every found pair exact-correct
    assert found <= truth
    if truth:
        recall = len(found) / len(truth)
        assert recall >= 0.9, f"minhash recall {recall} over {len(truth)} true pairs"


def test_simhash_planted_duplicate(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),  # near-dup of 1
        (3, "completely different words entirely unrelated content here now"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {(r.i, r.j) for r in nd.simhash_near_duplicates(df, max_hamming=16).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_identical_is_zero_distance(spark):
    df = spark.createDataFrame(
        [(1, "same exact words"), (2, "same exact words")], ["doc_id", "text"]
    )
    got = nd.simhash_near_duplicates(df, max_hamming=0).collect()
    assert [(r.i, r.j, r.hamming) for r in got] == [(1, 2, 0)]


def test_embedding_neardup_planted(spark):
    base = [float(i % 7) - 3.0 for i in range(16)]
    near = list(base)
    near[0] += 0.01
    far = [float((i * 3) % 5) - 2.0 for i in range(16)]
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], ["vec_id", "embedding"]
    ).withColumn("embedding", F.col("embedding").cast("array<float>"))
    pairs = {(r.i, r.j) for r in sim.cosine_neardup_pairs(df, threshold=0.99).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs


def test_lsh_topk_recall(spark, sf_dir):
    # Fixture embeddings are unclustered, so LSH recall ~= the fraction
    # of sketch space probed. 5 planes + 2 probe bits covers
    # (1+5+10)/32 = 50% of buckets regardless of corpus size — the test
    # stays meaningful at any SF (12 planes would shrink coverage to
    # ~1% and the bound would only hold at tiny fixtures).
    emb = load_table(spark, sf_dir, "embeddings")
    q = sim.query_vector(emb, 0)
    brute = [r.vec_id for r in sim.cosine_topk(emb, q, k=10).collect()]
    approx = [r.vec_id for r in sim.lsh_topk(emb, q, k=10, num_planes=5, probe_bits=2).collect()]
    # the query vector itself always lands in its own bucket
    assert 0 in approx
    overlap = len(set(brute) & set(approx)) / 10
    assert overlap >= 0.3, f"LSH recall vs brute force too low: {overlap}"


def test_ivf_topk_recall(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = sim.query_vector(emb, 0)
    brute = [r.vec_id for r in sim.cosine_topk(emb, q, k=10).collect()]
    approx = [r.vec_id for r in sim.ivf_topk(emb, q, k=10, n_clusters=8, nprobe=4).collect()]
    # the query vector's own cluster is always probed
    assert 0 in approx
    overlap = len(set(brute) & set(approx)) / 10
    assert overlap >= 0.3, f"IVF recall vs brute force too low: {overlap}"


def test_ivf_train_deterministic_and_reusable(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    c1 = sim.ivf_train(emb, k=4, iters=1)
    c2 = sim.ivf_train(emb, k=4, iters=1)
    assert c1 == c2  # no RNG state anywhere
    q = sim.query_vector(emb, 0)
    got = sim.ivf_topk(emb, q, k=5, centroids=c1).collect()
    assert len(got) == 5 and got[0].vec_id == 0  # self-match ranks first


def test_ivf_persisted_index_partition_prunes(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    cents = sim.ivf_train(emb, k=8, iters=1)
    idx_path = str(tmp_path / "ivf")
    sim.ivf_write_index(emb, cents, idx_path)
    index = sim.ivf_read_index(spark, idx_path)

    q = sim.query_vector(emb, 0)
    from_index = sim.ivf_topk(emb, q, k=5, centroids=cents, assignment=index)
    live = sim.ivf_topk(emb, q, k=5, centroids=cents)
    assert [r.vec_id for r in from_index.collect()] == [r.vec_id for r in live.collect()]

    # the probe must partition-prune the index scan (nprobe of 8 dirs)
    probe = index.filter(F.col("cluster").isin([0, 1]))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cluster" in plan.replace("#", " #").replace(
        "cluster #", "cluster#"
    ) or "cluster" in plan.split("PartitionFilters")[1][:80]


def test_bucket_pairs_hot_bucket_cap(spark):
    """Adversarial all-identical corpus: 600 members land in ONE
    bucket, which uncapped would materialize 600^2/2 pairs in a single
    row. With max_bucket=100 the bucket salts into 6 sub-buckets —
    peak in-row pair count is bounded at 100^2/2 and the observation
    reports exactly what was traded."""
    import math

    from pyspark.sql import Observation

    n, cap = 600, 100
    banded = (
        spark.range(n)
        .select(
            F.col("id").alias("doc_id"),
            F.lit(0).alias("band"),
            F.lit(0).alias("bh"),
        )
    )
    obs = Observation()
    pairs = nd._bucket_pairs(
        banded, [F.col("doc_id")], max_bucket=cap, overflow_obs=obs
    ).select(F.col("p.x.doc_id").alias("i"), F.col("p.y.doc_id").alias("j"))
    got = pairs.collect()
    chunks = math.ceil(n / cap)
    assert len(got) == chunks * (cap * (cap - 1) // 2)
    assert len(got) == len({(r.i, r.j) for r in got})  # no dup pairs
    assert obs.get["oversize_buckets"] == 1
    assert obs.get["oversize_members"] == n
    # every member keeps intra-chunk edges (no node orphaned by the cap)
    nodes = {r.i for r in got} | {r.j for r in got}
    assert len(nodes) == n

    # uncapped kernel (oracle mode) still yields the full quadratic set
    full = nd._bucket_pairs(banded, [F.col("doc_id")], max_bucket=None)
    assert full.count() == n * (n - 1) // 2


def test_bucket_pairs_cap_noop_on_small_buckets(spark, sf_dir):
    """At fixture scale no bucket approaches the cap: minhash pairs
    with the default cap equal the uncapped pairs (the cap is a
    guardrail, not a semantics change). A tiny cap (2) on the same
    corpus must still run bounded — candidate loss only, no crash."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("lang") == "de")
    capped = {
        (r.i, r.j) for r in nd.minhash_near_duplicates(docs, threshold=0.8).collect()
    }
    uncapped = {
        (r.i, r.j)
        for r in nd.minhash_near_duplicates(
            docs, threshold=0.8, max_bucket=None
        ).collect()
    }
    assert capped == uncapped
    tiny = {
        (r.i, r.j)
        for r in nd.minhash_near_duplicates(docs, threshold=0.8, max_bucket=2).collect()
    }
    assert tiny <= uncapped


def test_lsh_persisted_index_partition_prunes(spark, sf_dir, tmp_path):
    """lsh_write_index / lsh_index_topk: the probe must (a) return the
    same result as the live (re-sketching) lsh_topk and (b) reach the
    index as a partition-pruned scan on the bucket prefix — the probed
    prefixes are driver-side literals, so PartitionFilters must show
    them (never a full index scan per query)."""
    emb = load_table(spark, sf_dir, "embeddings")
    idx_path = str(tmp_path / "lsh")
    sim.lsh_write_index(emb, idx_path, num_planes=12, prefix_bits=6)
    index = sim.lsh_read_index(spark, idx_path)

    q = sim.query_vector(emb, 0)
    from_index = sim.lsh_index_topk(
        index, q, k=10, num_planes=12, prefix_bits=6, probe_bits=1
    )
    live = sim.lsh_topk(emb, q, k=10, num_planes=12, probe_bits=1)
    assert [r.vec_id for r in from_index.collect()] == [
        r.vec_id for r in live.collect()
    ]
    assert from_index.collect()[0].vec_id == 0  # self-match ranks first

    plan = from_index._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters")[1][:120]
    assert "bprefix" in pf, pf
    # Hamming<=1 probe reaches at most prefix_bits+1 of 2^prefix_bits
    # prefixes; the IN-list in the filter must reflect that bound
    assert "IN (" in pf.upper() or "in (" in pf, pf
