"""Extension queries: the training-data-pipeline operator family
(dedup, similarity search, text analysis, multimodal plumbing) as
declared, oracle-checked entries (SURVEY §2.10 extension candidates
E1-E4, promoted).

Oracle policy: everything SQL-expressible gets a DuckDB oracle with
IDENTICAL arithmetic (integer Jaccard ratios, double cosine rounded to
4dp, md5 fingerprints). Hash-family-dependent ops (MinHash, SimHash,
LSH, IVF, HLL) cannot mirror their hashes in DuckDB — their declared
entries emit INVARIANTS instead: the approximate result is compared
in-Spark against its exact counterpart (recall / error-bound /
completeness booleans, plus oracle-computable anchor values like the
exact pair count), and the oracle states the same anchors with literal
``true`` invariant columns. Both sides are deterministic, so the
driver's value-hash check gates them like any other query; the raw
approximate outputs additionally keep their ground-truth tests in
tests/test_neardup.py and tests/test_operators_unit.py.

Pair-graph convention (r6 verdict item 7): operators that consume a
near-dup pair graph (components, keep-best, cluster histograms/caps,
leakage-safe splits) take the graph as a ``pairs=`` DataFrame argument
(operators/sampling.py:curation_bundle is the model) so production
pipelines derive it ONCE per corpus and fan it out. A declared entry
may re-derive the exact pair kernel inline ONLY when it IS the oracle
anchor for that kernel (ext_keep_best_dedup / ext_dup_cluster_histogram
/ ext_cluster_capped_sample are such anchors by design); any NEW
graph-composition entry should compose via ``pairs=`` like
ext_curation_bundle does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.fixtures import load_table, spread_fixture
from ..operators import bm25index as bi_ops
from ..operators import components as comp_ops
from ..operators import decontam as decon_ops
from ..operators import dedup as dedup_ops
from ..operators import diff as diff_ops
from ..operators import graph as graph_ops
from ..operators import importance as imp_ops
from ..operators import mining as mine_ops
from ..operators import multimodal as mm_ops
from ..operators import neardup as nd_ops
from ..operators import rangejoin as rj_ops
from ..operators import retrieval as retr_ops
from ..operators import sampling as samp_ops
from ..operators import scd2 as scd2_ops
from ..operators import similarity as sim_ops
from ..operators import sketch as sketch_ops
from ..operators import skew as skew_ops
from ..operators import text as text_ops
from ..operators import vocab as vocab_ops
from .registry import _bench, _register

JACCARD_LANG = "de"
JACCARD_THRESHOLD = 0.8
TOPK_QUERY_VEC_ID = 0
TOPK_K = 10


def _bench_tmpdir(prefix: str) -> str:
    """mkdtemp with registered end-of-process cleanup — the single
    definition for every bench helper that stages parquet input
    (leaked one dir per sf_dir per process before round 6)."""
    import atexit
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    return base


def _scalar_join(*dfs: DataFrame) -> DataFrame:
    """Glue single-row NUMERIC aggregate frames into one row via melt ->
    union -> conditional re-aggregation (the q21 pattern). A join of
    constant-keyed single-row frames would constant-fold its condition
    to TRUE and plan as BroadcastNestedLoopJoin, tripping the
    no-cartesian guardrail; the union plan has no join node at all.
    All values travel as BIGINT; compute booleans downstream."""
    names: list[str] = []
    melted: list[DataFrame] = []
    for df in dfs:
        names.extend(df.columns)
        melted.append(
            df.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(c).alias("_t"),
                                F.col(c).cast("long").alias("_v"),
                            )
                            for c in df.columns
                        ]
                    )
                ).alias("e")
            ).select("e._t", "e._v")
        )
    u = melted[0]
    for t in melted[1:]:
        u = u.union(t)
    return u.agg(
        *[F.max(F.when(F.col("_t") == n, F.col("_v"))).alias(n) for n in names]
    )


# ---------------------------------------------------------------------------
# E1 family: deduplication
# ---------------------------------------------------------------------------
@_register(
    "ext_fingerprint_dedup",
    """
    SELECT lang,
           count(*) AS n_docs,
           count(DISTINCT md5(lower(text))) AS n_unique,
           min(md5(lower(text))) AS fp_min,
           max(md5(lower(text))) AS fp_max
    FROM documents
    GROUP BY lang ORDER BY lang
    """,
    "exact dedup via md5 fingerprint of normalized text, per language",
)
def ext_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = text_ops.fingerprint(docs)
    return (
        fp.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("fingerprint").alias("n_unique"),
            F.min("fingerprint").alias("fp_min"),
            F.max("fingerprint").alias("fp_max"),
        )
        .orderBy("lang")
    )


@_register(
    "ext_jaccard_neardup",
    f"""
    WITH d AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        FROM documents WHERE lang = '{JACCARD_LANG}'
    ),
    pairs AS (
        SELECT a.doc_id AS i, b.doc_id AS j,
               len(list_intersect(a.toks, b.toks)) AS inter,
               len(a.toks) AS sa, len(b.toks) AS sb
        FROM d a JOIN d b ON a.doc_id < b.doc_id
    )
    SELECT i, j, round(inter * 1e0 / (sa + sb - inter), 4) AS jaccard
    FROM pairs
    WHERE inter * 1e0 / (sa + sb - inter) >= {JACCARD_THRESHOLD}
    ORDER BY i, j
    """,
    "exact token-set Jaccard near-duplicate pairs (bounded partition)",
)
def ext_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread_fixture: posting-list build parallelizes (1.6 -> 0.8 s sf0.1)
    docs = spread_fixture(load_table(spark, sf_dir, "documents")).filter(
        F.col("lang") == JACCARD_LANG
    )
    return nd_ops.token_jaccard_pairs(docs, JACCARD_THRESHOLD).orderBy("i", "j")


@_register(
    "ext_ngram_jaccard_neardup",
    f"""
    WITH d AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(string_split(text, ' '))),
                             i -> array_to_string((string_split(text, ' '))[i:i+1], ' '))) AS sh
        FROM documents WHERE lang = '{JACCARD_LANG}'
          AND len(string_split(text, ' ')) >= 2
    ),
    pairs AS (
        SELECT a.doc_id AS i, b.doc_id AS j,
               len(list_intersect(a.sh, b.sh)) AS inter,
               len(a.sh) AS sa, len(b.sh) AS sb
        FROM d a JOIN d b ON a.doc_id < b.doc_id
    )
    SELECT i, j, round(inter * 1e0 / (sa + sb - inter), 4) AS jaccard
    FROM pairs
    WHERE inter * 1e0 / (sa + sb - inter) >= 0.5
    ORDER BY i, j
    """,
    "exact word-bigram Jaccard near-dup pairs (order-sensitive dedup)",
)
def ext_ngram_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-shingle exact Jaccard: stricter than token-set Jaccard
    (word order matters), the exact counterpart of the MinHash scale
    path's shingle space. Same sparse posting-list plan as
    token_jaccard_pairs, over 2-gram shingles."""
    docs = spread_fixture(load_table(spark, sf_dir, "documents")).filter(
        (F.col("lang") == JACCARD_LANG) & (F.size(F.split("text", " ")) >= 2)
    )
    # The shingle-set frame is localCheckpoint-ed: both posting-join
    # sides consume it, and without it the explode's inferred
    # size(toks) > 0 / isnotnull(toks) predicates are pushed BELOW
    # the spread exchange, re-evaluating the whole
    # tokenize+shingle+distinct expression on the single-partition
    # fixture scan. The materialization runs the shingle pass exactly
    # once, in parallel, as array_containment_pairs does.
    sets = nd_ops.shingle_sets(docs, 2).localCheckpoint()
    return nd_ops.array_jaccard_pairs(sets, 0.5).orderBy("i", "j")


MINHASH_SHINGLE_N = 3


@_register(
    "ext_minhash_neardup",
    f"""
    WITH d AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(string_split(text, ' ')) >= {MINHASH_SHINGLE_N}
                 THEN list_transform(range(1, len(string_split(text, ' ')) - 1),
                        i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))
                 ELSE [text] END) AS sh
        FROM documents WHERE lang = '{JACCARD_LANG}'
    ),
    pairs AS (
        SELECT len(list_intersect(a.sh, b.sh)) AS inter,
               len(a.sh) AS sa, len(b.sh) AS sb
        FROM d a JOIN d b ON a.doc_id < b.doc_id
    )
    SELECT CAST(count(*) FILTER (WHERE inter * 1e0 / (sa + sb - inter) >= {JACCARD_THRESHOLD}) AS BIGINT)
               AS n_exact_pairs,
           true AS recall_ge_090,
           true AS zero_false_pairs
    FROM pairs
    """,
    "MinHash+LSH near-dup gated as an invariant vs exact shingle Jaccard",
)
def ext_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The xxhash64 family can't be mirrored in SQL, so the declared
    output is the INVARIANT: recall of the banded MinHash pairs
    against the exact {shingle_n}-gram Jaccard pairs (which the oracle
    recomputes relationally to pin n_exact_pairs), plus a no-false-
    positives bit (banding only generates candidates; membership is
    decided by exact verification, so extras require a hash collision).
    16 bands x 4 rows at j >= 0.8 gives P[candidate] ~ 0.9998 — the
    0.9 recall bound holds with wide margin at every fixture SF."""
    docs = spread_fixture(load_table(spark, sf_dir, "documents")).filter(F.col("lang") == JACCARD_LANG)
    exact = (
        nd_ops.array_jaccard_pairs(
            nd_ops.shingle_sets(docs, MINHASH_SHINGLE_N), JACCARD_THRESHOLD
        )
        .select("i", "j")
        .withColumn("in_exact", F.lit(1))
    )
    found = (
        nd_ops.minhash_near_duplicates(
            docs, threshold=JACCARD_THRESHOLD, shingle_n=MINHASH_SHINGLE_N
        )
        .select("i", "j")
        .withColumn("in_found", F.lit(1))
    )
    m = exact.join(found, ["i", "j"], "full_outer")
    agg = m.agg(
        F.count("in_exact").cast("long").alias("n_exact_pairs"),
        F.count(F.when(F.col("in_found").isNull(), 1)).alias("_missed"),
        F.count(F.when(F.col("in_exact").isNull(), 1)).alias("_extra"),
    )
    return agg.select(
        "n_exact_pairs",
        (
            (F.col("n_exact_pairs") == 0)
            | (
                (F.col("n_exact_pairs") - F.col("_missed"))
                >= F.col("n_exact_pairs") * F.lit(0.9)
            )
        ).alias("recall_ge_090"),
        (F.col("_extra") == 0).alias("zero_false_pairs"),
    )


@_bench("ext_minhash_neardup")
def _bench_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator-only: the MinHash+LSH scale path (one text pass, one
    band shuffle, one dedup shuffle) without the exact n-gram-Jaccard
    twin + full-outer recall compare the declared invariant runs."""
    docs = spread_fixture(load_table(spark, sf_dir, "documents")).filter(F.col("lang") == JACCARD_LANG)
    return nd_ops.minhash_near_duplicates(
        docs, threshold=JACCARD_THRESHOLD, shingle_n=MINHASH_SHINGLE_N
    )


@_register(
    "ext_simhash_neardup",
    f"""
    SELECT count(*) AS n_docs, true AS banding_complete
    FROM documents WHERE lang = '{JACCARD_LANG}'
    """,
    "SimHash chunk banding gated complete vs brute-force Hamming<=3",
)
def ext_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures are hash-family dependent, but the banding is
    PROVABLY exact: pigeonhole over (max_hamming + 1) chunks means any
    pair within the Hamming budget shares a chunk, so the banded set
    must equal the brute-force all-pairs set — asserted here as a
    symmetric-difference-is-empty invariant, with the corpus size as
    the oracle-computable anchor."""
    docs = spread_fixture(load_table(spark, sf_dir, "documents")).filter(F.col("lang") == JACCARD_LANG)
    banded = (
        nd_ops.simhash_near_duplicates(docs, max_hamming=3)
        .select("i", "j")
        .withColumn("in_banded", F.lit(1))
    )
    brute = (
        nd_ops.simhash_all_pairs_hamming(nd_ops.simhash64(docs), max_hamming=3)
        .select("i", "j")
        .withColumn("in_brute", F.lit(1))
    )
    m = banded.join(brute, ["i", "j"], "full_outer")
    mism = m.agg(
        F.count(
            F.when(F.col("in_banded").isNull() | F.col("in_brute").isNull(), 1)
        ).alias("_mismatched")
    )
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    return _scalar_join(n_docs, mism).select(
        "n_docs", (F.col("_mismatched") == 0).alias("banding_complete")
    )


@_bench("ext_simhash_neardup")
def _bench_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator-only: chunk-banded SimHash near-dup without the
    brute-force all-pairs completeness compare."""
    docs = spread_fixture(load_table(spark, sf_dir, "documents")).filter(F.col("lang") == JACCARD_LANG)
    return nd_ops.simhash_near_duplicates(docs, max_hamming=3)


# ---------------------------------------------------------------------------
# E2 family: similarity search
# ---------------------------------------------------------------------------
@_register(
    "ext_cosine_topk",
    f"""
    WITH q AS (
        SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        FROM embeddings WHERE vec_id = {TOPK_QUERY_VEC_ID}
    ),
    scored AS (
        SELECT vec_id,
               round(
                 list_inner_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), qv)
                 / (sqrt(list_inner_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                            list_transform(embedding, x -> CAST(x AS DOUBLE))))
                    * sqrt(list_inner_product(qv, qv))), 4) AS score
        FROM embeddings, q
    )
    SELECT vec_id, score FROM scored
    ORDER BY score DESC, vec_id ASC
    LIMIT {TOPK_K}
    """,
    "brute-force cosine top-k similarity search (exact baseline)",
)
def ext_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = sim_ops.query_vector(emb, TOPK_QUERY_VEC_ID)
    return sim_ops.cosine_topk(emb, q, k=TOPK_K)


LSH_PLANT_ID = 9_999_999  # exact copy of the query vector, planted


@_register(
    "ext_lsh_topk",
    """
    SELECT CAST(count(*) + 1 AS BIGINT) AS n_vectors,
           true AS self_top1,
           true AS planted_found
    FROM embeddings
    """,
    "LSH approximate top-k gated as a planted-neighbor invariant",
)
def ext_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane sketches can't be mirrored in SQL, and fixture
    embeddings are near-orthogonal (ANN recall on random vectors is
    structurally low), so the declared invariant is the guarantee the
    kernel actually makes: an EXACT duplicate of the query vector
    (planted under a fresh id) has an identical sketch, lands in the
    probed bucket, scores cosine 1.0 and so MUST appear in the top-k —
    and the query's own row must rank first (score 1.0, lowest id).
    Both bits are hash-deterministic; n_vectors anchors the data."""
    emb = load_table(spark, sf_dir, "embeddings")
    id_type = dict(emb.dtypes)["vec_id"]
    planted = emb.filter(F.col("vec_id") == TOPK_QUERY_VEC_ID).withColumn(
        "vec_id", F.lit(LSH_PLANT_ID).cast(id_type)
    )
    aug = emb.unionByName(planted)
    q = sim_ops.query_vector(emb, TOPK_QUERY_VEC_ID)
    res = sim_ops.lsh_topk(aug, q, k=TOPK_K)
    rank_key = F.struct((-F.col("score")).alias("s"), F.col("vec_id").alias("v"))
    inv = res.agg(
        F.min_by("vec_id", rank_key).alias("_top1"),
        F.max(F.when(F.col("vec_id") == LSH_PLANT_ID, 1).otherwise(0)).alias("_planted"),
    )
    n_vec = aug.agg(F.count("*").alias("n_vectors"))
    return _scalar_join(n_vec, inv).select(
        "n_vectors",
        (F.col("_top1") == TOPK_QUERY_VEC_ID).alias("self_top1"),
        (F.col("_planted") == 1).alias("planted_found"),
    )


@_bench("ext_lsh_topk")
def _bench_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator-only: LSH multi-probe top-k without the planted-copy
    augmentation of the declared invariant."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = sim_ops.query_vector(emb, TOPK_QUERY_VEC_ID)
    return sim_ops.lsh_topk(emb, q, k=TOPK_K)


# the IVF index (centroids + inverted-list assignment) is a train-once
# artifact, like the persisted index tables of a real deployment:
# cached per dataset so repeated queries pay only probe + re-rank
_IVF_INDEX: dict[str, tuple] = {}


def _ivf_index(emb: DataFrame, sf_dir: str) -> tuple:
    """Train-once, cache-per-dataset centroids + persisted inverted
    lists (the in-session analog of ivf_write_index's on-disk index)."""
    if sf_dir not in _IVF_INDEX:
        cents = sim_ops.ivf_train(emb)
        assignment = sim_ops.ivf_assign(emb, cents).persist()
        _IVF_INDEX[sf_dir] = (cents, assignment)
    return _IVF_INDEX[sf_dir]


IVF_NPROBE = 8  # of 16 clusters; recall@10 measured 0.8-0.9 across SFs


@_register(
    "ext_ivf_topk",
    f"""
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           true AS self_top1,
           true AS recall_ge_060
    FROM embeddings
    """,
    "IVF approximate top-k gated on recall vs the exact brute force",
)
def ext_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means-lite centroids aren't SQL-mirrorable, so the declared
    output is the invariant pair: the query's own cluster is by
    construction the nearest centroid, hence always probed (self_top1),
    and nprobe=8/16 recall@10 vs the exact cosine top-k is bounded
    below at 0.6 (measured 0.8-0.9 at every fixture SF — the bound
    leaves margin for centroid drift under data regeneration).

    Anchors (round-2 advice): the only exact value pinned is the
    corpus size — the old least(k, n) result-count pin assumed the
    probed clusters always hold >= k vectors, which a fixture
    regeneration could break while the recall invariant still holds.
    recall_ge_060 already bounds |results| below (>= 0.6k overlap with
    the exact top-k needs >= 6 rows), so no separate count anchor."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = sim_ops.query_vector(emb, TOPK_QUERY_VEC_ID)
    cents, assignment = _ivf_index(emb, sf_dir)
    res = sim_ops.ivf_topk(
        emb, q, k=TOPK_K, nprobe=IVF_NPROBE, centroids=cents, assignment=assignment
    )
    exact = sim_ops.cosine_topk(emb, q, k=TOPK_K).select("vec_id")
    rank_key = F.struct((-F.col("score")).alias("s"), F.col("vec_id").alias("v"))
    inv = res.agg(
        F.min_by("vec_id", rank_key).alias("_top1"),
    )
    ov = res.select("vec_id").join(exact, "vec_id", "left_semi").agg(
        F.count("*").alias("_overlap")
    )
    n_exact = exact.agg(F.count("*").alias("_n_exact"))
    n_vec = emb.agg(F.count("*").alias("n_vectors"))
    return _scalar_join(n_vec, inv, ov, n_exact).select(
        "n_vectors",
        (F.col("_top1") == TOPK_QUERY_VEC_ID).alias("self_top1"),
        (F.col("_overlap") >= F.col("_n_exact") * F.lit(0.6)).alias("recall_ge_060"),
    )


@_bench("ext_ivf_topk")
def _bench_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator-only: probe + exact re-rank against the pre-trained
    index (training happens in the untimed warm-up pass), without the
    brute-force recall twin."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = sim_ops.query_vector(emb, TOPK_QUERY_VEC_ID)
    cents, assignment = _ivf_index(emb, sf_dir)
    return sim_ops.ivf_topk(
        emb, q, k=TOPK_K, nprobe=IVF_NPROBE, centroids=cents, assignment=assignment
    )


EMB_PLANT_EVERY = 50       # plant a duplicate of every 50th vector
EMB_PLANT_OFFSET = 10_000_000


@_register(
    "ext_embedding_neardup",
    f"""
    SELECT CAST(count(*) FILTER (WHERE vec_id % {EMB_PLANT_EVERY} = 0) AS BIGINT)
               AS n_planted,
           true AS planted_recall_ok
    FROM embeddings
    """,
    "embedding near-dup via LSH buckets, gated on planted duplicates",
)
def ext_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixture embeddings are near-orthogonal (max pairwise cosine
    ~0.5-0.6), so a bare >= 0.95 pair query is degenerate at every SF.
    The declared form plants an exact duplicate of every {every}th
    vector under an offset id: identical vectors have identical
    sketches (same bucket, guaranteed) and cosine exactly 1.0, so each
    planted pair MUST be emitted — non-degenerate, deterministic, and
    exercising the full sketch-bucket-verify path."""
    emb = load_table(spark, sf_dir, "embeddings")
    id_type = dict(emb.dtypes)["vec_id"]
    seeds = emb.filter(F.col("vec_id") % EMB_PLANT_EVERY == 0)
    planted = seeds.withColumn(
        "vec_id", (F.col("vec_id") + EMB_PLANT_OFFSET).cast(id_type)
    )
    aug = emb.unionByName(planted)
    found = sim_ops.cosine_neardup_pairs(aug, threshold=0.95).select("i", "j")
    expected = seeds.select(
        F.col("vec_id").alias("i"),
        (F.col("vec_id") + EMB_PLANT_OFFSET).cast(id_type).alias("j"),
    )
    missed = expected.join(found, ["i", "j"], "left_anti").agg(
        F.count("*").alias("_missed")
    )
    n_planted = expected.agg(F.count("*").alias("n_planted"))
    return _scalar_join(n_planted, missed).select(
        "n_planted", (F.col("_missed") == 0).alias("planted_recall_ok")
    )


@_bench("ext_embedding_neardup")
def _bench_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator-only: LSH-bucketed embedding near-dup pairs over the
    raw corpus (no planted duplicates, no expected-pairs anti-join)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.cosine_neardup_pairs(emb, threshold=0.95)


# ---------------------------------------------------------------------------
# Approximate aggregates (mergeable sketches — the 100 TB scale path
# for Q1-style distinct counts: HLL++ partials merge map-side, so the
# shuffle carries one sketch per partition instead of every distinct
# key; error is tolerance-bounded)
# ---------------------------------------------------------------------------
@_register(
    "ext_approx_distinct",
    """
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS log_date,
           count(DISTINCT user_id) AS exact_users,
           true AS within_5pct
    FROM events GROUP BY 1 ORDER BY 1
    """,
    "HLL++ approx distinct users per day, gated on a 5% error bound",
)
def ext_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL sketch isn't SQL-mirrorable, so the declared row per day
    is (exact count, |approx - exact| <= 5% of exact): the oracle
    recomputes the exact side and states the bound as the invariant.
    rsd=0.02 leaves 2.5x margin under the 5% gate. At 100 TB the
    approx plan is the one that survives: sketches merge map-side, so
    the shuffle carries one HLL per (day, partition), not every key."""
    events = load_table(spark, sf_dir, "events")
    per_day = events.groupBy(F.to_date("ts").alias("d")).agg(
        F.count_distinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("_approx"),
    )
    return (
        per_day.select(
            F.date_format("d", "yyyy-MM-dd").alias("log_date"),
            "exact_users",
            (
                F.abs(F.col("_approx") - F.col("exact_users"))
                <= F.col("exact_users") * F.lit(0.05)
            ).alias("within_5pct"),
        )
        .orderBy("log_date")
    )


@_bench("ext_approx_distinct")
def _bench_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator-only: the mergeable-sketch plan (one map-side HLL per
    (day, partition) shuffles, not every distinct key) without the
    exact count_distinct twin + error-bound compare."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.to_date("ts").alias("d"))
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"))
        .select(F.date_format("d", "yyyy-MM-dd").alias("log_date"), "approx_users")
        .orderBy("log_date")
    )


# PII suffix planted per doc (fixture text carries no PII, so the op
# would be a degenerate no-op; planting from doc_id makes every row
# exercise all three patterns deterministically — the same fixture-
# augmentation pattern as the planted embedding duplicates)
_PII_SUFFIX_SQL = (
    "' contact u' || CAST(doc_id AS VARCHAR) || '@example.com via 10.0.0.' "
    "|| CAST(doc_id % 256 AS VARCHAR) || ' acct ' "
    "|| CAST(900000000 + doc_id AS VARCHAR)"
)
# Spark's parser rejects bare VARCHAR (DATATYPE_MISSING_SIZE); STRING is
# the identical type there. Keep the VARCHAR form for the DuckDB oracle.
_PII_SUFFIX_SPARK = _PII_SUFFIX_SQL.replace("AS VARCHAR", "AS STRING")


@_register(
    "ext_pii_scrub",
    f"""
    WITH planted AS (
        SELECT doc_id, text || {_PII_SUFFIX_SQL} AS text FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}'))
              + len(regexp_extract_all(text, '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b'))
              + len(regexp_extract_all(text, '\\b\\d{{9,}}\\b')) AS BIGINT) AS n_redactions,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
                 '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b', '<IP>', 'g'),
                 '\\b\\d{{9,}}\\b', '<NUM>', 'g')) AS clean_md5
    FROM planted ORDER BY doc_id
    """,
    "PII scrub (email/IPv4/long-digit masking) over planted suffixes",
)
def ext_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-then-replace PII masking (operators/text.py:scrub_pii)
    with a deterministic planted suffix per doc so every row exercises
    every pattern. The md5 of the scrubbed text pins the replacement
    byte-for-byte across engines — the patterns are restricted to the
    Java/RE2-identical subset for exactly this reason."""
    # spread_fixture: the triple regex count+replace is the per-row
    # cost here; one input partition would serialize it on a core
    docs = spread_fixture(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.expr(f"text || {_PII_SUFFIX_SPARK}").alias("text")
    )
    scrubbed = text_ops.scrub_pii(docs, "text")
    return scrubbed.select(
        "doc_id", "n_redactions", F.md5("clean_text").alias("clean_md5")
    ).orderBy("doc_id")


@_register(
    "ext_repetition_scores",
    """
    WITH t AS (
        SELECT doc_id,
               string_split(text, ' ') AS sp
        FROM documents
    )
    SELECT doc_id,
           round(CAST(len(list_distinct(sp)) AS DOUBLE) / len(sp), 4)
               AS distinct_token_ratio,
           CASE WHEN len(sp) >= 2 THEN
             round(1 - CAST(len(list_distinct(list_transform(range(1, len(sp)),
                     i -> array_to_string(sp[i:i+1], ' ')))) AS DOUBLE)
                     / (len(sp) - 1), 4)
           ELSE 0.0 END AS repeated_bigram_frac
    FROM t ORDER BY doc_id
    """,
    "per-document repetition signals (distinct-token ratio, repeated bigrams)",
)
def ext_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-adjacent per-document quality filter: low distinct-token
    ratio / high repeated-bigram fraction flag boilerplate and
    generation loops (operators/text.py:repetition_score). Narrow
    map-only pass (spread_fixture for local parallelism); the oracle
    recomputes both ratios relationally."""
    docs = spread_fixture(load_table(spark, sf_dir, "documents"))
    return (
        text_ops.repetition_score(docs, "text")
        .select("doc_id", "distinct_token_ratio", "repeated_bigram_frac")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# E3 family: text analysis
# ---------------------------------------------------------------------------
_LANGS_REV = ["zh", "fr", "es", "en", "de"]  # reverse-lex: ties pick the
# lexicographically-last language, matching array_max(struct(score,lang))


def _score_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in text_ops.LANG_STOPWORDS[lang])
    return f"len(list_intersect(list_distinct(string_split(text, ' ')), [{words}]))"


_PRED_SQL = "CASE " + " ".join(
    f"WHEN {_score_sql(l)} >= greatest({', '.join(_score_sql(o) for o in _LANGS_REV if o != l)}) THEN '{l}'"
    for l in _LANGS_REV
) + " END"


@_register(
    "ext_langid_confusion",
    f"""
    SELECT lang, {_PRED_SQL} AS pred_lang, count(*) AS cnt
    FROM documents
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    "stopword-overlap language ID, confusion matrix vs labeled lang",
)
def ext_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pred = text_ops.language_id(docs)
    return (
        pred.groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("cnt"))
        .orderBy("lang", "pred_lang")
    )


@_register(
    "ext_quality_scores",
    """
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           round((length(text) - (len(string_split(text, ' ')) - 1) * 1e0)
                 / len(string_split(text, ' ')), 4) AS mean_token_len,
           round(len(list_filter(string_split(text, ' '), t -> list_contains({stop}, t))) * 1e0
                 / len(string_split(text, ' ')), 4) AS stopword_ratio,
           round(length(regexp_replace(text, '[^\\p{{L}}]', '', 'g')) * 1e0
                 / length(text), 4) AS alpha_ratio
    FROM documents
    ORDER BY doc_id
    """.format(
        stop="["
        + ", ".join(
            f"'{w}'"
            for w in sorted({w for ws in text_ops.LANG_STOPWORDS.values() for w in ws})
        )
        + "]"
    ),
    "per-document quality features (length/stopword/alpha ratios)",
)
def ext_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.quality_score(docs).select(
        "doc_id", "n_tokens", "mean_token_len", "stopword_ratio", "alpha_ratio"
    ).orderBy("doc_id")


@_register(
    "ext_token_counts",
    """
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(max(len(string_split(text, ' '))) AS BIGINT) AS max_tokens
    FROM documents
    GROUP BY lang ORDER BY lang
    """,
    "token counting rolled up per language (exact integer sums)",
)
def ext_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counted = text_ops.token_count(docs)
    return (
        counted.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.max("n_tokens").cast("long").alias("max_tokens"),
        )
        .orderBy("lang")
    )


@_register(
    "ext_bpe_token_count",
    f"""
    SELECT lang,
           CAST(sum(len(regexp_extract_all(text, '{text_ops.BPE_PATTERN}'))) AS BIGINT) AS total_bpe_tokens,
           CAST(max(len(regexp_extract_all(text, '{text_ops.BPE_PATTERN}'))) AS BIGINT) AS max_bpe_tokens,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_ws_tokens
    FROM documents
    GROUP BY lang ORDER BY lang
    """,
    "BPE-ish regex token accounting per language (vs whitespace count)",
)
def ext_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counted = text_ops.bpe_token_count(text_ops.token_count(docs))
    return (
        counted.groupBy("lang")
        .agg(
            F.sum("n_bpe_tokens").cast("long").alias("total_bpe_tokens"),
            F.max("n_bpe_tokens").cast("long").alias("max_bpe_tokens"),
            F.sum("n_tokens").cast("long").alias("total_ws_tokens"),
        )
        .orderBy("lang")
    )


@_register(
    "ext_rolling_fingerprint",
    f"""
    SELECT lang,
           count(DISTINCT rfp) AS n_unique,
           min(rfp) AS fp_min,
           max(rfp) AS fp_max,
           CAST(sum(rfp) AS BIGINT) AS fp_sum
    FROM (
        SELECT lang,
               list_reduce(
                   list_transform(string_split(text, ' '),
                                  t -> ('0x' || substr(md5(t), 1, 7))::BIGINT),
                   (acc, v) -> (acc * 31 + v) % {text_ops.ROLLING_MOD}) AS rfp
        FROM documents
    )
    GROUP BY lang ORDER BY lang
    """,
    "order-sensitive rolling-hash fingerprint, identical fold in both engines",
)
def ext_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = text_ops.rolling_fingerprint(docs)
    return (
        fp.groupBy("lang")
        .agg(
            F.count_distinct("rolling_fp").alias("n_unique"),
            F.min("rolling_fp").alias("fp_min"),
            F.max("rolling_fp").alias("fp_max"),
            F.sum("rolling_fp").cast("long").alias("fp_sum"),
        )
        .orderBy("lang")
    )


@_register(
    "ext_token_stats",
    """
    SELECT lang, token, cnt, rank FROM (
        SELECT lang, token, cnt,
               CAST(row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token ASC) AS INTEGER) AS rank
        FROM (
            SELECT lang, token, count(*) AS cnt
            FROM (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents)
            GROUP BY lang, token
        )
    ) WHERE rank <= 5
    ORDER BY lang, rank
    """,
    "top-5 token frequencies per language",
)
def ext_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.token_stats(docs, k=5).orderBy("lang", "rank")


@_register(
    "ext_tfidf_topterms",
    f"""
    WITH d AS (SELECT doc_id, text FROM documents WHERE lang = '{JACCARD_LANG}'),
    tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM d)
        GROUP BY 1, 2
    ),
    nd AS (SELECT count(*) AS n FROM d),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
    SELECT doc_id, term, round(tf * ln(n * 1e0 / df), 4) AS tfidf
    FROM (
        SELECT tf.doc_id, tf.term, tf.tf, dfreq.df, nd.n,
               row_number() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY tf.tf * ln(nd.n * 1e0 / dfreq.df) DESC, tf.term
               ) AS rn
        FROM tf JOIN dfreq USING (term) CROSS JOIN nd
    ) WHERE rn <= 3
    ORDER BY doc_id, term
    """,
    "top-3 terms per document by tf-idf (corpus-level inverse frequency)",
)
def ext_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Characteristic-term extraction — the text-analysis counterpart
    of quality scoring: one token explode feeds both frequency levels,
    N joins in as a broadcast scalar, top-k per doc via window."""
    docs = spread_fixture(load_table(spark, sf_dir, "documents")).filter(F.col("lang") == JACCARD_LANG)
    return text_ops.tfidf_top_terms(docs, k=3).orderBy("doc_id", "term")


@_register(
    "ext_neardup_components",
    f"""
    WITH RECURSIVE d AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        FROM documents WHERE lang = '{JACCARD_LANG}'
    ),
    p AS (
        SELECT a.doc_id AS i, b.doc_id AS j
        FROM d a JOIN d b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.toks, b.toks)) * 1e0
              / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
              >= {JACCARD_THRESHOLD}
    ),
    edges AS (SELECT i AS a, j AS b FROM p UNION SELECT j, i FROM p),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    closure AS (SELECT a, b FROM reach UNION SELECT a, a FROM edges),
    labels AS (SELECT a AS node, min(b) AS component FROM closure GROUP BY a)
    SELECT component, count(*) AS size
    FROM labels GROUP BY component ORDER BY component
    """,
    "near-dup clusters: connected components of the exact-Jaccard pair graph",
)
def ext_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs -> transitive clusters, each labeled by its minimum doc id
    (operators/components.py:connected_components; the oracle states
    the same fixpoint as a recursive transitive closure)."""
    docs = spread_fixture(load_table(spark, sf_dir, "documents")).filter(F.col("lang") == JACCARD_LANG)
    pairs = nd_ops.token_jaccard_pairs(docs, JACCARD_THRESHOLD)
    labels = comp_ops.connected_components(pairs)
    return (
        labels.groupBy("component")
        .agg(F.count("*").alias("size"))
        .orderBy("component")
    )


# ---------------------------------------------------------------------------
# Range join / sampling / quantiles (training-data pipeline utilities)
# ---------------------------------------------------------------------------
RANGE_GAP_S = 300
SAMPLE_FRACTION = 0.1


@_register(
    "ext_event_pairs_within_gap",
    f"""
    SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS cnt
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL {RANGE_GAP_S} SECOND
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "range self-join: same-user event pairs within a 5-minute gap",
)
def ext_event_pairs_within_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal co-occurrence matrix via the bucketed interval join
    (operators/rangejoin.py) — equi-join on (user, time-bucket), never
    an inequality nested loop. The oracle states the same pairs with
    the naive quadratic join."""
    events = load_table(spark, sf_dir, "events")
    pairs = rj_ops.interval_self_pairs(
        events, key="user_id", ts_col="ts", gap_seconds=RANGE_GAP_S,
        payload_cols=["event_type"],
    )
    return (
        pairs.groupBy(
            F.col("a_event_type").alias("type_a"),
            F.col("b_event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("cnt"))
        .orderBy("type_a", "type_b")
    )


@_register(
    "ext_deterministic_sample",
    f"""
    SELECT event_type, count(*) AS cnt,
           CAST(sum(event_id) AS BIGINT) AS id_sum,
           count(DISTINCT user_id) AS n_users
    FROM events
    WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 8)
          < '{'{:08x}'.format(int(SAMPLE_FRACTION * 16 ** 8))}'
    GROUP BY 1 ORDER BY 1
    """,
    "deterministic hash sample: engine-portable 10% split by event id",
)
def ext_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible sampling (operators/sampling.py): membership is a
    pure function of md5(key), so Spark and DuckDB select the exact
    same rows — which is the point (df.sample() would not survive a
    repartition, let alone an engine swap)."""
    events = load_table(spark, sf_dir, "events")
    sampled = samp_ops.deterministic_sample(events, "event_id", SAMPLE_FRACTION)
    return (
        sampled.groupBy("event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("event_id").cast("long").alias("id_sum"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


@_register(
    "ext_length_quantiles",
    """
    SELECT lang,
           round(quantile_cont(n_chars, 0.5), 4) AS p50,
           round(quantile_cont(n_chars, 0.9), 4) AS p90,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY lang ORDER BY lang
    """,
    "exact length quantiles per language (corpus profiling)",
)
def ext_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (Spark ``percentile`` == DuckDB
    ``quantile_cont``: rank (n-1)p, linear interpolation). The scale
    caveat is documented on purpose: exact percentile shuffles every
    value to its group; at 100 TB swap in approx_percentile
    (t-digest sketch, mergeable map-side) and accept bounded error —
    same plan shape as ext_approx_distinct vs Q1."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.round(F.expr("percentile(n_chars, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(n_chars, 0.9)"), 4).alias("p90"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
        .orderBy("lang")
    )


CHUNK_SIZE, CHUNK_STRIDE = 64, 48  # overlapping context windows
PACK_BUDGET = 2048                 # tokens per packed context


@_register(
    "ext_document_chunks",
    f"""
    WITH spans AS (
        SELECT lang, doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               unnest(range(0, len(string_split(text, ' ')), {CHUNK_STRIDE})) AS chunk_start
        FROM documents
    )
    SELECT lang,
           count(*) AS n_chunks,
           count(DISTINCT doc_id) AS n_docs,
           CAST(sum(least({CHUNK_SIZE}, n_tokens - chunk_start)) AS BIGINT) AS chunk_tokens,
           CAST(sum(CASE WHEN n_tokens - chunk_start < {CHUNK_SIZE} THEN 1 ELSE 0 END) AS BIGINT) AS n_tail_chunks
    FROM spans
    GROUP BY lang ORDER BY lang
    """,
    "overlapping token-window chunking: per-language chunk inventory",
)
def ext_document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping chunk windows
    (operators/chunking.py:chunk_spans — stride 48 over size 64, the
    long-document → context-window reshape). Only (id, token count)
    fans out through the explode; text never crosses it."""
    from ..operators import chunking as chunk_ops

    docs = load_table(spark, sf_dir, "documents")
    spans = chunk_ops.chunk_spans(
        docs, "doc_id", "text", CHUNK_SIZE, CHUNK_STRIDE, keep_cols=["lang"]
    )
    return (
        spans.groupBy("lang")
        .agg(
            F.count("*").alias("n_chunks"),
            F.count_distinct("doc_id").alias("n_docs"),
            F.sum("chunk_tokens").cast("long").alias("chunk_tokens"),
            F.sum(
                F.when(F.col("chunk_tokens") < CHUNK_SIZE, 1).otherwise(0)
            ).cast("long").alias("n_tail_chunks"),
        )
        .orderBy("lang")
    )


@_register(
    "ext_context_packing",
    f"""
    WITH toks AS (
        SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ),
    binned AS (
        SELECT lang, n_tokens,
               CAST(floor(
                   (sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                        ROWS UNBOUNDED PRECEDING) - n_tokens)
                   / {PACK_BUDGET}) AS BIGINT) AS bin_id
        FROM toks
    )
    SELECT lang,
           count(DISTINCT bin_id) AS n_bins,
           CAST(max(bin_tokens) AS BIGINT) AS max_bin_tokens,
           round(avg(bin_tokens), 4) AS avg_bin_tokens
    FROM (SELECT lang, bin_id, sum(n_tokens) AS bin_tokens
          FROM binned GROUP BY 1, 2)
    GROUP BY lang ORDER BY lang
    """,
    "concat-and-cut packing of documents into fixed token budgets",
)
def ext_context_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack each language's corpus into {PACK_BUDGET}-token contexts
    (operators/chunking.py:pack_greedy — concat-and-cut over doc_id
    order). Bin-shape stats prove both engines cut the stream at the
    same places."""
    from ..operators import chunking as chunk_ops

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    binned = chunk_ops.pack_greedy(toks, "lang", "doc_id", "n_tokens", PACK_BUDGET)
    per_bin = binned.groupBy("lang", "bin_id").agg(
        F.sum("n_tokens").alias("bin_tokens")
    )
    return (
        per_bin.groupBy("lang")
        .agg(
            F.count_distinct("bin_id").alias("n_bins"),
            F.max("bin_tokens").cast("long").alias("max_bin_tokens"),
            F.round(F.avg("bin_tokens"), 4).alias("avg_bin_tokens"),
        )
        .orderBy("lang")
    )


STRATA_FRACTIONS = {"en": 0.05, "de": 0.5, "zh": 1.0}  # rebalance: downsample
# the dominant language, keep the rare one whole, drop es/fr entirely


@_register(
    "ext_stratified_sample",
    f"""
    SELECT lang, count(*) AS cnt, CAST(sum(n_chars) AS BIGINT) AS chars_sum
    FROM documents
    WHERE {" OR ".join(
        f"(lang = '{s}' AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)"
        f" < '{'g' if f >= 1.0 else format(int(f * 16 ** 8), '08x')}')"
        for s, f in STRATA_FRACTIONS.items()
    )}
    GROUP BY 1 ORDER BY 1
    """,
    "stratified corpus rebalance: per-language deterministic rates",
)
def ext_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sampling
    (operators/sampling.py:stratified_sample) — the corpus-rebalancing
    primitive (cap the dominant language, keep rare ones whole) with
    sampleBy's semantics but engine-portable membership."""
    docs = load_table(spark, sf_dir, "documents")
    sampled = samp_ops.stratified_sample(docs, "doc_id", "lang", STRATA_FRACTIONS)
    return (
        sampled.groupBy("lang")
        .agg(F.count("*").alias("cnt"), F.sum("n_chars").cast("long").alias("chars_sum"))
        .orderBy("lang")
    )


@_register(
    "ext_approx_quantiles",
    """
    SELECT lang, count(*) AS n_docs,
           true AS p50_in_bounds, true AS p90_in_bounds
    FROM documents GROUP BY lang ORDER BY lang
    """,
    "approx_percentile length profile, gated on rank-error bounds",
)
def ext_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable-sketch twin of ext_length_quantiles: t-digest
    style approx_percentile aggregates map-side and merges in the
    reduce, so the shuffle carries one sketch per (group, partition)
    instead of every value — the only viable percentile plan when a
    group's values don't fit an executor. The sketch isn't
    SQL-mirrorable, so the declared invariant is rank tolerance: the
    approx p50/p90 must land within the exact [p45, p55] / [p85, p95]
    value bounds (accuracy=10k makes the sketch exact at fixture n;
    the +/-0.05 rank window is the contract at scale)."""
    docs = load_table(spark, sf_dir, "documents")
    per_lang = docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.percentile_approx("n_chars", 0.5, 10_000).alias("_a50"),
        F.percentile_approx("n_chars", 0.9, 10_000).alias("_a90"),
        F.expr("percentile(n_chars, 0.45)").alias("_lo50"),
        F.expr("percentile(n_chars, 0.55)").alias("_hi50"),
        F.expr("percentile(n_chars, 0.85)").alias("_lo90"),
        F.expr("percentile(n_chars, 0.95)").alias("_hi90"),
    )
    return (
        per_lang.select(
            "lang",
            "n_docs",
            (
                (F.col("_a50") >= F.col("_lo50")) & (F.col("_a50") <= F.col("_hi50"))
            ).alias("p50_in_bounds"),
            (
                (F.col("_a90") >= F.col("_lo90")) & (F.col("_a90") <= F.col("_hi90"))
            ).alias("p90_in_bounds"),
        )
        .orderBy("lang")
    )


SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}


def _split_case_sql(key_sql: str) -> str:
    from ..operators.sampling import split_cutoffs

    digest = f"substr(md5(CAST({key_sql} AS VARCHAR)), 1, 8)"
    cuts = split_cutoffs(SPLITS)
    whens = " ".join(
        f"WHEN {digest} < '{cut}' THEN '{name}'" for name, cut in cuts[:-1]
    )
    return f"CASE {whens} ELSE '{cuts[-1][0]}' END"


@_register(
    "ext_split_assignment",
    f"""
    SELECT split, lang, count(*) AS cnt,
           CAST(sum(n_chars) AS BIGINT) AS chars_sum
    FROM (SELECT lang, n_chars, {_split_case_sql('doc_id')} AS split
          FROM documents)
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "deterministic train/val/test split assignment over documents",
)
def ext_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjoint multi-way split (operators/sampling.py:assign_split):
    one md5 bucketing into adjacent hash ranges, so every doc lands in
    exactly one of train/val/test on every engine and every run — the
    reproducibility contract a training-data pipeline needs before
    anything downstream can be compared."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("split", samp_ops.assign_split("doc_id", SPLITS))
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("n_chars").cast("long").alias("chars_sum"),
        )
        .orderBy("split", "lang")
    )


# ---------------------------------------------------------------------------
# E4 family: multimodal columns
# ---------------------------------------------------------------------------
@_register(
    "ext_multimodal_meta",
    """
    SELECT CASE WHEN source IN ('web', 'wiki') THEN 'image' ELSE 'audio' END AS modality,
           count(*) AS n_payloads,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes
    FROM documents
    GROUP BY 1 ORDER BY 1
    """,
    "binary payload + typed metadata plumbing (modality rollup)",
)
def ext_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    with_payload = mm_ops.attach_payload(docs)
    return (
        with_payload.groupBy(F.col("meta.modality").alias("modality"))
        .agg(
            F.count("*").alias("n_payloads"),
            F.sum(F.col("meta.n_bytes")).cast("long").alias("total_bytes"),
        )
        .orderBy("modality")
    )


@_register(
    "ext_decode_stub",
    """
    SELECT CASE WHEN source IN ('web', 'wiki') THEN 'image' ELSE 'audio' END AS modality,
           count(*) AS n_decoded,
           CAST(sum(octet_length(encode(text)) % 640 + 1) AS BIGINT) AS sum_width,
           CAST(sum(octet_length(encode(text)) % 16 + 1) AS BIGINT) AS sum_frames
    FROM documents
    GROUP BY 1 ORDER BY 1
    """,
    "stubbed media decode over Arrow-batched mapInPandas",
)
def ext_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decode itself is a disclosed stub (no codecs in this
    container), but the FAKE decode is a pure function of the payload
    byte length — so the oracle can restate it relationally and the
    driver gates the whole Arrow round trip (payload encode ->
    mapInPandas batches -> typed DECODED_SCHEMA -> re-aggregation)
    value-for-value, not just rows-only."""
    docs = load_table(spark, sf_dir, "documents")
    decoded = mm_ops.decode_image_stub(mm_ops.attach_payload(docs))
    return (
        decoded.groupBy("modality")
        .agg(
            F.count("*").alias("n_decoded"),
            F.sum("width").cast("long").alias("sum_width"),
            F.sum("n_frames").cast("long").alias("sum_frames"),
        )
        .orderBy("modality")
    )


RESIZE_W, RESIZE_H = 320, 240
FRAME_EVERY_K = 4

# Planted PNG fixtures (VERDICT r10 item 6): real 8-bit RGB PNGs built
# by the stdlib encoder over a KNOWN pixel pattern — the oracle's
# expected width/height/crc32 literals come from the pattern itself,
# never from running the decoder, so encoder/decoder cannot share a
# hidden symmetric bug past the crc check. The encoder cycles all five
# PNG filter types across scanlines, forcing the decoder through every
# de-filter branch.
PNG_PLANT_BASE = 20_000_000
_PNG_PLANT_SPECS = [(0, 5, 3), (1, 8, 8), (2, 16, 9), (3, 12, 20), (4, 32, 32), (5, 7, 11)]


def _png_plant_rows() -> list[tuple]:
    """[(doc_id, png_bytes, width, height, pixel_crc32)] — pixel
    pattern px[x] = (x*7 + 13*k) % 256 per image k."""
    from binascii import crc32

    rows = []
    for k, w, h in _PNG_PLANT_SPECS:
        rgb = bytes((x * 7 + 13 * k) % 256 for x in range(w * h * 3))
        rows.append(
            (
                PNG_PLANT_BASE + k,
                mm_ops.encode_png(w, h, rgb),
                w,
                h,
                crc32(rgb) & 0xFFFFFFFF,
            )
        )
    return rows


_PNG_PLANT_ROWS = _png_plant_rows()

# VALUES literals for the oracle: (doc_id, modality, n_bytes, width,
# height, n_frames, pixel_crc32, codec) per planted PNG
_PNG_VALUES = ",\n        ".join(
    f"({did}, 'image', {len(png)}, {w}, {h}, 1, {crc}, 'png')"
    for did, png, w, h, crc in _PNG_PLANT_ROWS
)


def _png_planted_frame(spark: SparkSession) -> DataFrame:
    """(doc_id, payload, meta) rows carrying the planted PNG bytes,
    schema-aligned with attach_payload output."""
    return spark.createDataFrame(
        [
            (did, bytearray(png), ("image", len(png), "planted"))
            for did, png, w, h, crc in _PNG_PLANT_ROWS
        ],
        "doc_id long, payload binary, "
        "meta struct<modality:string,n_bytes:bigint,source:string>",
    )


@_register(
    "ext_multimodal_decode_pipeline",
    f"""
    WITH t AS (
        SELECT doc_id,
               CASE WHEN source IN ('web', 'wiki') THEN 'image' ELSE 'audio' END AS modality,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        FROM documents
    ),
    d0 AS (
        SELECT doc_id, modality, n_bytes,
               CAST(n_bytes % 640 + 1 AS INTEGER) AS width,
               CAST(n_bytes % 480 + 1 AS INTEGER) AS height,
               CAST(n_bytes % 16 + 1 AS INTEGER) AS n_frames,
               CAST(NULL AS BIGINT) AS pixel_crc32,
               'stub' AS codec
        FROM t
    ),
    dp(doc_id, modality, n_bytes, width, height, n_frames, pixel_crc32, codec) AS (
        VALUES {_PNG_VALUES}
    ),
    d AS (
        SELECT * FROM d0
        UNION ALL
        SELECT CAST(doc_id AS BIGINT), modality, CAST(n_bytes AS BIGINT),
               CAST(width AS INTEGER), CAST(height AS INTEGER),
               CAST(n_frames AS INTEGER), CAST(pixel_crc32 AS BIGINT), codec
        FROM dp
    ),
    r AS (
        SELECT *,
               greatest(1, CAST(trunc(width * least({RESIZE_W}e0 / width, {RESIZE_H}e0 / height)) AS INTEGER)) AS resized_width,
               greatest(1, CAST(trunc(height * least({RESIZE_W}e0 / width, {RESIZE_H}e0 / height)) AS INTEGER)) AS resized_height
        FROM d
    ),
    f AS (
        SELECT doc_id,
               CAST(len(range(0, CAST(n_bytes % 16 + 1 AS BIGINT), {FRAME_EVERY_K})) AS BIGINT) AS n_sampled_frames,
               CAST(list_sum(list_transform(range(0, CAST(n_bytes % 16 + 1 AS BIGINT), {FRAME_EVERY_K}),
                    i -> least(8, n_bytes - (i * 7) % greatest(n_bytes, 1)))) AS BIGINT) AS sum_frame_bytes
        FROM d
    )
    SELECT r.doc_id, r.modality, r.n_bytes, r.width, r.height, r.n_frames,
           r.pixel_crc32, r.codec,
           r.resized_width, r.resized_height, f.n_sampled_frames, f.sum_frame_bytes
    FROM r JOIN f USING (doc_id)
    ORDER BY r.doc_id
    """,
    "decode->resize->frame-sample pipeline; PNG payloads decode for real",
)
def ext_multimodal_decode_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decode-path composition with a TRUE codec in the decode slot
    (VERDICT r10 item 6): attach_payload -> decode_image ->
    resize_stub -> frame_sample_stub end-to-end, per-doc
    value-for-value — three Arrow-batched mapInPandas stages including
    the fan-out frame sampler, re-keyed and joined. The input is the
    documents corpus (utf-8 payloads: the documented stub path, every
    quantity a pure function of payload length) PLUS the planted PNG
    cohort, which decode_image actually decodes (zlib inflate + all
    five PNG de-filter branches, multimodal.py:decode_png) — the
    declared width/height/pixel_crc32 for those rows are literals
    derived from the encoded pixel pattern, so one mis-reconstructed
    byte anywhere in the de-filter logic hash-mismatches the row. The
    frame sampler branch stays payload-driven for both cohorts (its
    fake frame count is a function of byte length — the oracle's f CTE
    states it from n_bytes, not from the decoded n_frames, because a
    real PNG reports n_frames=1).

    Plan: decode+resize are narrow Arrow map stages and the frame
    fan-out happens inside the Python worker (no shuffle introduced);
    the only exchange is the doc_id join of frame stats back onto
    resized rows. The two branches each scan the source (mapInPandas
    subtrees share nothing) — acceptable for the declared composition,
    but a production pipeline materializes the payload-attached frame
    once (or fuses decode + frame-sample into one UDF) so media bytes
    are read from the object store a single time."""
    docs = load_table(spark, sf_dir, "documents")
    p = mm_ops.attach_payload(docs)
    pay = p.select("doc_id", "payload", "meta").unionByName(
        _png_planted_frame(spark)
    )
    resized = mm_ops.resize_stub(
        mm_ops.decode_image(pay), RESIZE_W, RESIZE_H
    )
    frame_stats = (
        mm_ops.frame_sample_stub(pay, every_k=FRAME_EVERY_K)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_sampled_frames"),
            F.sum("n_bytes").cast("long").alias("sum_frame_bytes"),
        )
    )
    return resized.join(frame_stats, "doc_id").orderBy("doc_id")


# ---------------------------------------------------------------------------
# Composed end-to-end curation: the flagship training-data shape. Every
# stage is a kernel gated above on its own (quality_score, fingerprint
# dedup, assign_split) — this entry gates their COMPOSITION, because
# that is what a real corpus pipeline runs: filter junk, collapse exact
# dups to one canonical doc, split deterministically, account per
# split×lang. Plan: one scan of documents; the only shuffles are the
# fingerprint dedup window and the final 2-key aggregate — scoring and
# split assignment are pure projections that fuse into the scan stage.
# ---------------------------------------------------------------------------
CURATION_MIN_TOKENS = 5
CURATION_MIN_ALPHA = 0.5


@_register(
    "ext_corpus_curation",
    f"""
    WITH scored AS (
        SELECT doc_id, lang, n_chars, text,
               len(string_split(text, ' ')) AS n_tokens,
               round(length(regexp_replace(text, '[^\\p{{L}}]', '', 'g')) * 1e0
                     / length(text), 4) AS alpha_ratio
        FROM documents
    ),
    kept AS (
        SELECT doc_id, lang, n_chars, md5(lower(text)) AS fp
        FROM scored
        WHERE n_tokens >= {CURATION_MIN_TOKENS}
          AND alpha_ratio >= {CURATION_MIN_ALPHA}
    ),
    canon AS (
        SELECT doc_id, lang, n_chars,
               row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM kept
    ),
    final AS (
        SELECT doc_id, lang, n_chars, {_split_case_sql('doc_id')} AS split
        FROM canon WHERE rn = 1
    )
    SELECT split, lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars_sum
    FROM final GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "composed curation: quality filter -> exact dedup -> split accounting",
)
def ext_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    kept = text_ops.quality_score(docs).filter(
        (F.col("n_tokens") >= CURATION_MIN_TOKENS)
        & (F.col("alpha_ratio") >= CURATION_MIN_ALPHA)
    )
    # canonical = lowest doc_id per exact fingerprint (keep-canonical
    # collapse, same policy as operators/components.py)
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    canon = (
        text_ops.fingerprint(kept)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
    )
    return (
        canon.withColumn("split", samp_ops.assign_split("doc_id", SPLITS))
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("chars_sum"),
        )
        .orderBy("split", "lang")
    )


# ---------------------------------------------------------------------------
# Embedding cluster profile: per-label centroid, then each vector's L2
# distance to its own label's centroid. Pure built-ins end to end —
# posexplode fans the vectors into (pos, val) rows, the centroid is an
# avg per (label, pos), and the distance re-joins the tiny centroid
# table broadcast. The per-label distance profile is the quality lens
# a training-data pipeline puts on an embedding space (tight vs
# diffuse clusters, outlier labels) without any UDF.
# ---------------------------------------------------------------------------
@_register(
    "ext_embedding_centroids",
    """
    WITH flat AS (
        SELECT vec_id, label,
               unnest(embedding) AS val,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
    ),
    cent AS (
        SELECT label, pos, avg(val) AS c FROM flat GROUP BY 1, 2
    ),
    dist AS (
        SELECT f.vec_id, f.label, sqrt(sum((f.val - c.c) ^ 2)) AS d
        FROM flat f JOIN cent c ON f.label = c.label AND f.pos = c.pos
        GROUP BY 1, 2
    )
    SELECT label, count(*) AS n_vecs,
           round(avg(d), 4) AS avg_dist,
           round(min(d), 4) AS min_dist,
           round(max(d), 4) AS max_dist
    FROM dist GROUP BY 1 ORDER BY 1
    """,
    "per-label centroid distance profile over the embedding space",
)
def ext_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # 1-based pos to match the oracle's generate_subscripts
    flat = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos0", "val")
    ).select("vec_id", "label", (F.col("pos0") + 1).alias("pos"), "val")
    cent = flat.groupBy("label", "pos").agg(F.avg("val").alias("c"))
    dist = (
        flat.join(F.broadcast(cent), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(F.sqrt(F.sum(F.pow(F.col("val") - F.col("c"), 2))).alias("d"))
    )
    return (
        dist.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg("d"), 4).alias("avg_dist"),
            F.round(F.min("d"), 4).alias("min_dist"),
            F.round(F.max("d"), 4).alias("max_dist"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Table profile: the data-quality gate a pipeline runs before training
# — null counts, distinct cardinalities, and ranges for every column
# that feeds downstream stages, in ONE aggregation pass (each metric
# is a conditional aggregate, so Spark computes the whole profile
# map-side in a single scan; the naive per-column loop would scan the
# table once per metric).
# ---------------------------------------------------------------------------
@_register(
    "ext_table_profile",
    """
    SELECT count(*) AS n_rows,
           count(DISTINCT doc_id) AS distinct_ids,
           CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_text,
           count(DISTINCT lang) AS distinct_langs,
           count(DISTINCT source) AS distinct_sources,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars,
           CAST(min(doc_id) AS BIGINT) AS min_id,
           CAST(max(doc_id) AS BIGINT) AS max_id
    FROM documents
    """,
    "single-pass column profile: nulls, cardinalities, ranges",
)
def ext_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("doc_id").alias("distinct_ids"),
        F.sum(F.when(F.col("text").isNull(), 1).otherwise(0))
        .cast("long").alias("null_text"),
        F.count_distinct("lang").alias("distinct_langs"),
        F.count_distinct("source").alias("distinct_sources"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
        F.min("doc_id").cast("long").alias("min_id"),
        F.max("doc_id").cast("long").alias("max_id"),
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (operators/decontam.py): flag corpus docs
# whose 5-token shingles overlap the eval set. Fixture texts share no
# long n-grams organically, so contamination is PLANTED the same way
# pii suffixes are: every doc_id % 20 == 0 doc acts as the "benchmark",
# and corpus docs with doc_id % 3 == 0 get the first 40 tokens of
# their floor-to-20 eval doc appended — a deterministic, SF-portable
# fixture augmentation both engines compute identically (concat_ws
# skips the NULL snippet for ids below the first eval doc).
# ---------------------------------------------------------------------------
DECONTAM_SNIPPET_TOKENS = 40
DECONTAM_SHINGLE_N = 5
DECONTAM_THRESHOLD_PCT = 10


def _planted_decontam_corpus(spark: SparkSession, sf_dir: str):
    """Shared fixture augmentation for the decontamination family:
    (corpus, eval_docs) per the plant rule above. spread_fixture
    because both shingle fan-outs would otherwise serialize on one
    core (measured 5.0 s -> 2.8 s at sf0.1)."""
    docs = spread_fixture(load_table(spark, sf_dir, "documents"))
    eval_docs = docs.filter(F.col("doc_id") % 20 == 0)
    snips = eval_docs.select(
        F.col("doc_id").alias("e_id"),
        F.array_join(
            F.slice(F.split("text", " "), 1, DECONTAM_SNIPPET_TOKENS), " "
        ).alias("snippet"),
    )
    corpus = (
        docs.filter(F.col("doc_id") % 20 != 0)
        .withColumn("e_id", F.col("doc_id") - F.col("doc_id") % 20)
        .join(F.broadcast(snips), "e_id", "left")
        .select(
            "doc_id",
            F.concat_ws(
                " ",
                F.col("text"),
                F.when(F.col("doc_id") % 3 == 0, F.col("snippet")),
            ).alias("text"),
        )
    )
    return corpus, eval_docs


@_register(
    "ext_decontamination",
    f"""
    WITH eval_docs AS (
        SELECT doc_id AS e_id, text FROM documents WHERE doc_id % 20 = 0
    ),
    snips AS (
        SELECT e_id,
               array_to_string((string_split(text, ' '))[1:{DECONTAM_SNIPPET_TOKENS}], ' ')
                   AS snippet
        FROM eval_docs
    ),
    corpus AS (
        SELECT d.doc_id,
               concat_ws(' ', d.text,
                         CASE WHEN d.doc_id % 3 = 0 THEN s.snippet END) AS text
        FROM documents d
        LEFT JOIN snips s ON s.e_id = d.doc_id - d.doc_id % 20
        WHERE d.doc_id % 20 <> 0
    ),
    eval_sh AS (
        SELECT DISTINCT unnest(
            CASE WHEN len(string_split(text, ' ')) >= {DECONTAM_SHINGLE_N}
                 THEN list_transform(
                        range(1, len(string_split(text, ' ')) - {DECONTAM_SHINGLE_N - 2}),
                        i -> array_to_string((string_split(text, ' '))[i:i + {DECONTAM_SHINGLE_N - 1}], ' '))
                 ELSE [array_to_string(string_split(text, ' '), ' ')] END) AS s
        FROM eval_docs
    ),
    corpus_sh AS (
        SELECT doc_id, unnest(list_distinct(
            CASE WHEN len(string_split(text, ' ')) >= {DECONTAM_SHINGLE_N}
                 THEN list_transform(
                        range(1, len(string_split(text, ' ')) - {DECONTAM_SHINGLE_N - 2}),
                        i -> array_to_string((string_split(text, ' '))[i:i + {DECONTAM_SHINGLE_N - 1}], ' '))
                 ELSE [array_to_string(string_split(text, ' '), ' ')] END)) AS s
        FROM corpus
    )
    SELECT c.doc_id,
           count(*) AS n_shingles,
           count(e.s) AS n_overlap,
           (count(e.s) * 100 >= count(*) * {DECONTAM_THRESHOLD_PCT}) AS contaminated
    FROM corpus_sh c LEFT JOIN eval_sh e ON c.s = e.s
    GROUP BY c.doc_id ORDER BY c.doc_id
    """,
    "benchmark decontamination: eval-set n-gram overlap flags (planted)",
)
def ext_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval shingle dictionary broadcasts (benchmarks are MB-scale by
    nature); corpus scoring is a narrow map + broadcast probe + one
    doc_id aggregation — the corpus text never shuffles. See
    operators/decontam.py for the 100 TB plan shape."""
    corpus, eval_docs = _planted_decontam_corpus(spark, sf_dir)
    return decon_ops.flag_contaminated(
        corpus, eval_docs,
        shingle_n=DECONTAM_SHINGLE_N,
        threshold_pct=DECONTAM_THRESHOLD_PCT,
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Corpus mixing weights: the sampling-weight table a training run reads
# to hit a target data mix. Uniform-over-sources target with an epoch
# cap (a rare source is repeated at most MAX_EPOCHS times rather than
# upweighted without bound — the standard guard in published data
# recipes). Weight is emitted in integer parts-per-million so the
# driver hash never touches a float.
# ---------------------------------------------------------------------------
MIX_MAX_EPOCHS = 3.0


@_register(
    "ext_corpus_mix",
    f"""
    WITH per AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT CAST(sum(n_tokens) AS DOUBLE) / count(*) AS target FROM per
    )
    SELECT source, n_docs, n_tokens,
           CAST(floor(least({MIX_MAX_EPOCHS}, target / n_tokens) * 1000000 + 0.5)
                AS BIGINT) AS weight_ppm
    FROM per, tot ORDER BY source
    """,
    "per-source sampling weights for a uniform target mix, epoch-capped",
)
def ext_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two tiny aggregates (one row per source) and a single-row
    target joined back broadcast-style via the q21 melt pattern's
    simpler cousin: a literal crossJoin against a 1-row frame is safe
    here because the per-source frame is itself bounded by source
    cardinality (hundreds at most), but we still express it as a
    broadcast to keep the no-cartesian guardrail honest."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens"),
    )
    tot = per.agg(
        (F.sum("n_tokens").cast("double") / F.count("*")).alias("target")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.floor(
                F.least(F.lit(MIX_MAX_EPOCHS), F.col("target") / F.col("n_tokens"))
                * 1_000_000
                + F.lit(0.5)
            ).cast("long").alias("weight_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Span-level decontamination (operators/decontam.py:scrub_contaminated_spans)
# over the SAME planted corpus as ext_decontamination: remove exactly
# the eval-covered token spans, keep the rest of the doc. n_removed and
# the md5 of the rebuilt clean text pin the scrub byte-for-byte.
# ---------------------------------------------------------------------------
@_register(
    "ext_decontam_scrub",
    f"""
    WITH eval_docs AS (
        SELECT doc_id AS e_id, text FROM documents WHERE doc_id % 20 = 0
    ),
    snips AS (
        SELECT e_id,
               array_to_string((string_split(text, ' '))[1:{DECONTAM_SNIPPET_TOKENS}], ' ')
                   AS snippet
        FROM eval_docs
    ),
    corpus AS (
        SELECT d.doc_id,
               concat_ws(' ', d.text,
                         CASE WHEN d.doc_id % 3 = 0 THEN s.snippet END) AS text
        FROM documents d
        LEFT JOIN snips s ON s.e_id = d.doc_id - d.doc_id % 20
        WHERE d.doc_id % 20 <> 0
    ),
    toked AS (SELECT doc_id, string_split(text, ' ') AS sp FROM corpus),
    eval_sh AS (
        SELECT DISTINCT unnest(
            CASE WHEN len(string_split(text, ' ')) >= {DECONTAM_SHINGLE_N}
                 THEN list_transform(
                        range(1, len(string_split(text, ' ')) - {DECONTAM_SHINGLE_N - 2}),
                        i -> array_to_string((string_split(text, ' '))[i:i + {DECONTAM_SHINGLE_N - 1}], ' '))
                 ELSE [array_to_string(string_split(text, ' '), ' ')] END) AS s
        FROM eval_docs
    ),
    pos_sh AS (
        SELECT doc_id, i AS p,
               array_to_string(sp[i:i + {DECONTAM_SHINGLE_N - 1}], ' ') AS s
        FROM toked, unnest(range(1, len(sp) - {DECONTAM_SHINGLE_N - 2})) AS u(i)
        WHERE len(sp) >= {DECONTAM_SHINGLE_N}
    ),
    hits AS (
        SELECT DISTINCT ps.doc_id, ps.p FROM pos_sh ps JOIN eval_sh e ON ps.s = e.s
    ),
    cov AS (
        SELECT DISTINCT h.doc_id, c.ci
        FROM hits h, unnest(range(h.p, h.p + {DECONTAM_SHINGLE_N})) AS c(ci)
    ),
    agg AS (SELECT doc_id, list(ci) AS covered FROM cov GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(len(t.sp) AS BIGINT) AS n_tokens,
           CAST(coalesce(len(a.covered), 0) AS BIGINT) AS n_removed,
           md5(coalesce(array_to_string(
               list_filter(t.sp, (x, i) -> a.covered IS NULL
                                           OR NOT list_contains(a.covered, i)),
               ' '), '')) AS clean_md5
    FROM toked t LEFT JOIN agg a USING (doc_id)
    ORDER BY t.doc_id
    """,
    "span-level decontamination: remove eval-covered token spans, keep the doc",
)
def ext_decontam_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional-shingle probe against the broadcast eval dictionary;
    covered spans become (doc_id, index) int pairs — the only thing
    that shuffles — and the clean text is rebuilt by an indexed filter
    over the original token array (operators/decontam.py docstring for
    the full 100 TB plan shape)."""
    corpus, eval_docs = _planted_decontam_corpus(spark, sf_dir)
    scrubbed = decon_ops.scrub_contaminated_spans(
        corpus, eval_docs, shingle_n=DECONTAM_SHINGLE_N
    )
    return scrubbed.select(
        "doc_id", "n_tokens", "n_removed", F.md5("clean_text").alias("clean_md5")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Contamination audit report: the per-benchmark-item view of the same
# planted corpus — which eval docs are leaked, how many corpus docs
# carry them, and how many shingle matches point at each.
# ---------------------------------------------------------------------------
@_register(
    "ext_contamination_report",
    f"""
    WITH eval_docs AS (
        SELECT doc_id AS e_id, text FROM documents WHERE doc_id % 20 = 0
    ),
    snips AS (
        SELECT e_id,
               array_to_string((string_split(text, ' '))[1:{DECONTAM_SNIPPET_TOKENS}], ' ')
                   AS snippet
        FROM eval_docs
    ),
    corpus AS (
        SELECT d.doc_id,
               concat_ws(' ', d.text,
                         CASE WHEN d.doc_id % 3 = 0 THEN s.snippet END) AS text
        FROM documents d
        LEFT JOIN snips s ON s.e_id = d.doc_id - d.doc_id % 20
        WHERE d.doc_id % 20 <> 0
    ),
    eval_sh AS (
        SELECT DISTINCT e_id, unnest(
            CASE WHEN len(string_split(text, ' ')) >= {DECONTAM_SHINGLE_N}
                 THEN list_transform(
                        range(1, len(string_split(text, ' ')) - {DECONTAM_SHINGLE_N - 2}),
                        i -> array_to_string((string_split(text, ' '))[i:i + {DECONTAM_SHINGLE_N - 1}], ' '))
                 ELSE [array_to_string(string_split(text, ' '), ' ')] END) AS s
        FROM eval_docs
    ),
    corpus_sh AS (
        SELECT doc_id, unnest(list_distinct(
            CASE WHEN len(string_split(text, ' ')) >= {DECONTAM_SHINGLE_N}
                 THEN list_transform(
                        range(1, len(string_split(text, ' ')) - {DECONTAM_SHINGLE_N - 2}),
                        i -> array_to_string((string_split(text, ' '))[i:i + {DECONTAM_SHINGLE_N - 1}], ' '))
                 ELSE [array_to_string(string_split(text, ' '), ' ')] END)) AS s
        FROM corpus
    )
    SELECT e.e_id,
           count(DISTINCT c.doc_id) AS n_docs_hit,
           count(*) AS n_shingle_hits
    FROM corpus_sh c JOIN eval_sh e ON c.s = e.s
    GROUP BY e.e_id ORDER BY e.e_id
    """,
    "contamination audit: per-benchmark-item leak counts over the planted corpus",
)
def ext_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same broadcast-dictionary probe as ext_decontamination with the
    aggregation flipped to the eval id (operators/decontam.py:
    contamination_report). The report is benchmark-sized output — the
    natural daily audit artifact at 100 TB."""
    corpus, eval_docs = _planted_decontam_corpus(spark, sf_dir)
    return (
        decon_ops.contamination_report(
            corpus, eval_docs, shingle_n=DECONTAM_SHINGLE_N
        )
        .select("e_id", "n_docs_hit", "n_shingle_hits")
        .orderBy("e_id")
    )


# Bench twins for the decontamination family: in production the corpus
# is a STORED table — the in-plan planted-corpus construction (filter +
# broadcast-join + concat over the whole fixture) exists only to make
# the declared queries self-contained, and it dominates their wall time
# (~40-60% at sf0.1). The bench materializes the plant ONCE per sf_dir
# and times the operator over stored parquet input; the declared builds
# stay the driver's correctness entries, untouched.
_DECONTAM_BENCH_CORPUS: dict = {}


def _bench_decontam_frames(spark: SparkSession, sf_dir: str):
    paths = _DECONTAM_BENCH_CORPUS.get(sf_dir)
    if paths is None:
        base = _bench_tmpdir("gmall_decontam_bench_")
        corpus, eval_docs = _planted_decontam_corpus(spark, sf_dir)
        corpus.write.parquet(base + "/corpus")
        eval_docs.write.parquet(base + "/eval_docs")
        paths = (base + "/corpus", base + "/eval_docs")
        _DECONTAM_BENCH_CORPUS[sf_dir] = paths
    return spark.read.parquet(paths[0]), spark.read.parquet(paths[1])


@_bench("ext_decontamination")
def _bench_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus, eval_docs = _bench_decontam_frames(spark, sf_dir)
    return decon_ops.flag_contaminated(
        corpus, eval_docs,
        shingle_n=DECONTAM_SHINGLE_N,
        threshold_pct=DECONTAM_THRESHOLD_PCT,
    ).orderBy("doc_id")


@_bench("ext_decontam_scrub")
def _bench_decontam_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus, eval_docs = _bench_decontam_frames(spark, sf_dir)
    scrubbed = decon_ops.scrub_contaminated_spans(
        corpus, eval_docs, shingle_n=DECONTAM_SHINGLE_N
    )
    return scrubbed.select(
        "doc_id", "n_tokens", "n_removed", F.md5("clean_text").alias("clean_md5")
    ).orderBy("doc_id")


@_bench("ext_contamination_report")
def _bench_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus, eval_docs = _bench_decontam_frames(spark, sf_dir)
    return (
        decon_ops.contamination_report(
            corpus, eval_docs, shingle_n=DECONTAM_SHINGLE_N
        )
        .select("e_id", "n_docs_hit", "n_shingle_hits")
        .orderBy("e_id")
    )


# ---------------------------------------------------------------------------
# SCD2 dimension history (operators/scd2.py): the engine's answer to
# "what was the value when the fact happened" — the reference keeps
# dims LWW-only (K4). Observations: each order observes its customer's
# priority; history collapses runs and closes validity intervals.
# ---------------------------------------------------------------------------
@_register(
    "ext_scd2_history",
    """
    WITH obs AS (
        SELECT o_custkey AS cust, o_orderdate AS ts,
               o_orderpriority AS priority, o_orderkey AS k
        FROM orders WHERE o_custkey % 100 = 0
    ),
    marked AS (
        SELECT cust, ts, priority, k,
               (lag(priority) OVER w IS NULL
                OR lag(priority) OVER w <> priority) AS changed
        FROM obs WINDOW w AS (PARTITION BY cust ORDER BY ts, k)
    ),
    vers AS (SELECT cust, priority, ts, k FROM marked WHERE changed),
    hist AS (
        SELECT cust, priority, ts AS valid_from,
               lead(ts) OVER (PARTITION BY cust ORDER BY ts, k) AS valid_to
        FROM vers
    )
    SELECT cust, priority, valid_from, valid_to
    FROM hist ORDER BY cust, valid_from
    """,
    "SCD2 dimension history: validity-interval versions of customer priority",
)
def ext_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One shuffle builds the whole history (lag change-detection and
    lead interval-close share the key partitioning + sort — pinned by
    test_scd2_single_shuffle). Composes with asof_lookup for
    point-in-time-correct fact enrichment."""
    orders = load_table(spark, sf_dir, "orders")
    obs = orders.filter(F.col("o_custkey") % 100 == 0).select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderkey").alias("k"),
    )
    return (
        scd2_ops.scd2_history(obs, "cust", "ts", ["priority"], tiebreak="k")
        .orderBy("cust", "valid_from")
    )


@_register(
    "ext_scd2_asof_enrichment",
    """
    WITH obs AS (
        SELECT o_custkey AS cust, o_orderdate AS ts,
               o_orderpriority AS priority, o_orderkey AS k
        FROM orders WHERE o_custkey % 100 = 0
    ),
    marked AS (
        SELECT cust, ts, priority, k,
               (lag(priority) OVER w IS NULL
                OR lag(priority) OVER w <> priority) AS changed
        FROM obs WINDOW w AS (PARTITION BY cust ORDER BY ts, k)
    ),
    vers AS (SELECT cust, priority, ts, k FROM marked WHERE changed),
    hist AS (
        SELECT cust, priority, ts AS valid_from,
               lead(ts) OVER (PARTITION BY cust ORDER BY ts, k) AS valid_to
        FROM vers
    ),
    facts AS (
        SELECT o.o_custkey AS cust, l.l_shipdate AS ts,
               CAST(floor(l.l_quantity) AS BIGINT) AS qty
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_custkey % 100 = 0
    )
    SELECT h.priority,
           count(*) AS n_facts,
           CAST(sum(f.qty) AS BIGINT) AS sum_qty
    FROM facts f
    LEFT JOIN hist h
      ON f.cust = h.cust AND f.ts >= h.valid_from
     AND (h.valid_to IS NULL OR f.ts < h.valid_to)
    GROUP BY h.priority ORDER BY h.priority
    """,
    "point-in-time fact enrichment over the SCD2 history (as-of lookup)",
)
def ext_scd2_asof_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composition SCD2 exists for (operators/scd2.py:asof_lookup):
    each lineitem fact enriched with the customer priority valid AT
    SHIP TIME — which may differ from the priority at order time, the
    distinction LWW dims cannot express. History side is dimension-
    sized and broadcasts (asof_lookup pins the broadcast), so the
    enrichment is a broadcast hash join with a residual range filter —
    no nested loop over facts, no fact re-shuffle; the rollup on the
    enriched priority is the only exchange. The streaming twin
    (scd2_pipeline + asof_lookup over its maintained table) serves the
    same semantics continuously."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    subset = orders.filter(F.col("o_custkey") % 100 == 0)
    obs = subset.select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderkey").alias("k"),
    )
    hist = scd2_ops.scd2_history(obs, "cust", "ts", ["priority"], tiebreak="k")
    facts = lineitem.join(
        F.broadcast(
            subset.select("o_orderkey", F.col("o_custkey").alias("cust"))
        ),
        lineitem["l_orderkey"] == F.col("o_orderkey"),
    ).select(
        "cust",
        F.col("l_shipdate").alias("ts"),
        F.floor("l_quantity").cast("long").alias("qty"),
    )
    return (
        scd2_ops.asof_lookup(hist, facts, "cust", "ts")
        .groupBy("priority")
        .agg(
            F.count("*").cast("long").alias("n_facts"),
            F.sum("qty").cast("long").alias("sum_qty"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# Round-5 family: tokenizer/vocab, LM-based quality, semantic dedup,
# weighted corpus sampling, incremental ingest dedup
# ---------------------------------------------------------------------------
VOCAB_TOP_N = 64
WEIGHTED_K = 50
WEIGHTED_SALT = "mix_v1"
INCR_BASE_FRACTION = 0.8
INCR_SALT = "corpus_v1"
SEMDEDUP_THRESHOLD = 0.95
SEMDEDUP_PLANT_EVERY = 50
SEMDEDUP_PLANT_OFFSET = 10_000_000


@_register(
    "ext_vocab_build",
    f"""
    SELECT CAST(row_number() OVER (ORDER BY cnt DESC, token ASC) - 1 AS INTEGER)
               AS token_id,
           token, cnt
    FROM (
        SELECT token, count(*) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY token
    )
    ORDER BY cnt DESC, token ASC
    LIMIT {VOCAB_TOP_N}
    """,
    "frequency-ordered corpus vocabulary with contiguous token ids",
)
def ext_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer-building step: corpus token counts -> top-N by
    (cnt DESC, token ASC) -> contiguous ids. Counting partial-aggregates
    map-side; selection is TakeOrderedAndProject; the row_number window
    orders N rows, never the corpus (operators/vocab.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return vocab_ops.vocab_build(docs, top_n=VOCAB_TOP_N).orderBy("token_id")


@_register(
    "ext_unigram_surprisal",
    f"""
    WITH toks AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    vocab AS (
        SELECT token, count(*) AS cnt FROM toks GROUP BY token
        ORDER BY cnt DESC, token ASC LIMIT {VOCAB_TOP_N}
    ),
    corpus AS (
        SELECT count(*) AS total, (SELECT count(*) FROM vocab) AS v FROM toks
    ),
    scored AS (
        SELECT t.doc_id, t.lang,
               -ln((coalesce(w.cnt, 0) + 1e0) / (c.total + c.v + 1e0)) AS s
        FROM toks t LEFT JOIN vocab w ON t.token = w.token, corpus c
    ),
    per_doc AS (
        SELECT doc_id, lang, count(*) AS n_tokens, avg(s) AS surprisal
        FROM scored GROUP BY 1, 2
    )
    SELECT lang, count(*) AS n_docs,
           round(avg(surprisal), 4) AS avg_surprisal,
           round(max(surprisal), 4) AS max_surprisal
    FROM per_doc GROUP BY lang ORDER BY lang
    """,
    "per-language mean unigram surprisal under the corpus LM (quality signal)",
)
def ext_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents scored by avg -ln p(token) under the add-one-smoothed
    corpus unigram LM restricted to the top-N vocabulary — the cheap
    LM-quality filter (high surprisal = off-distribution text). The
    vocab is a broadcast (bounded at top-N + OOV fallback), so the
    scoring pass never shuffles text (operators/vocab.py). The two
    driver-side scalars (total token count, realized vocab size) are
    one tiny aggregate action at build time."""
    docs = load_table(spark, sf_dir, "documents")
    voc = vocab_ops.vocab_build(docs, top_n=VOCAB_TOP_N)
    total = (
        vocab_ops.corpus_tokens(docs.select("text"))
        .agg(F.count("*").alias("n"))
        .collect()[0][0]  # collect-bound: 1-row agg
    )
    vsize = voc.count()
    scored = vocab_ops.unigram_surprisal(
        docs, voc, total_tokens=total, vocab_size=vsize
    )
    per_doc = scored.join(docs.select("doc_id", "lang"), "doc_id")
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("surprisal"), 4).alias("avg_surprisal"),
            F.round(F.max("surprisal"), 4).alias("max_surprisal"),
        )
        .orderBy("lang")
    )


@_bench("ext_unigram_surprisal")
def _bench_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator-only: score against a fixed-denominator LM (no second
    pass for the exact corpus totals — a production pipeline amortizes
    vocab construction across runs anyway)."""
    docs = load_table(spark, sf_dir, "documents")
    voc = vocab_ops.vocab_build(docs, top_n=VOCAB_TOP_N)
    return vocab_ops.unigram_surprisal(
        docs, voc, total_tokens=1_000_000, vocab_size=VOCAB_TOP_N
    )


@_register(
    "ext_weighted_sample",
    f"""
    WITH pri AS (
        SELECT doc_id, lang, n_chars,
               ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || '{WEIGHTED_SALT}'), 1, 8)) AS BIGINT) + 0.5)
                  / 4294967296.0) / n_chars AS priority
        FROM documents
    ),
    sel AS (
        SELECT * FROM pri ORDER BY priority DESC, doc_id ASC LIMIT {WEIGHTED_K}
    )
    SELECT lang, count(*) AS cnt,
           CAST(sum(doc_id) AS BIGINT) AS id_sum,
           CAST(sum(n_chars) AS BIGINT) AS chars_sum
    FROM sel GROUP BY lang ORDER BY lang
    """,
    "deterministic weighted sampling without replacement (A-Res, md5 priority)",
)
def ext_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted corpus sampling (Efraimidis-Spirakis A-Res over
    the md5 hash space, operators/sampling.py:weighted_sample): longer
    documents proportionally likelier, selection a pure function of
    (doc_id, salt) — identical rows on every engine and partitioning.
    Top-k plans as TakeOrderedAndProject, no global sort."""
    docs = load_table(spark, sf_dir, "documents")
    sel = samp_ops.weighted_sample(
        docs, key="doc_id", weight="n_chars", k=WEIGHTED_K, salt=WEIGHTED_SALT
    )
    return (
        sel.groupBy("lang")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("doc_id").cast("long").alias("id_sum"),
            F.sum("n_chars").cast("long").alias("chars_sum"),
        )
        .orderBy("lang")
    )


@_register(
    "ext_incremental_dedup",
    f"""
    WITH base AS (
        SELECT md5(lower(text)) AS fingerprint FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR) || '{INCR_SALT}'), 1, 8)
              < '{'{:08x}'.format(int(INCR_BASE_FRACTION * 16 ** 8))}'
        GROUP BY 1
    ),
    delta AS (
        SELECT doc_id, lang, md5(lower(text)) AS fingerprint FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR) || '{INCR_SALT}'), 1, 8)
              >= '{'{:08x}'.format(int(INCR_BASE_FRACTION * 16 ** 8))}'
    )
    SELECT d.lang,
           count(*) AS delta_docs,
           CAST(count(*) FILTER (WHERE b.fingerprint IS NULL) AS BIGINT) AS novel_docs,
           CAST(count(*) FILTER (WHERE b.fingerprint IS NOT NULL) AS BIGINT) AS dup_docs,
           CAST(coalesce(sum(d.doc_id) FILTER (WHERE b.fingerprint IS NULL), 0) AS BIGINT)
               AS novel_id_sum
    FROM delta d LEFT JOIN base b ON d.fingerprint = b.fingerprint
    GROUP BY d.lang ORDER BY d.lang
    """,
    "incremental ingest dedup: new batch probed against the corpus fingerprint index",
)
def ext_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous-ingest gate: split the corpus deterministically
    into an existing 80% base and a 20% incoming delta (the same
    md5-membership used by every sampler here), build the base's
    fingerprint index, and anti-join the delta against it
    (operators/dedup.py:novel_against_index) — only digests shuffle,
    never text. The streaming twin is
    streaming/pipelines.py:novelty_gate_pipeline, which runs this exact
    probe per micro-batch against a txn-table index."""
    docs = load_table(spark, sf_dir, "documents")
    pred = samp_ops.sample_predicate("doc_id", INCR_BASE_FRACTION, INCR_SALT)
    base, delta = docs.filter(pred), docs.filter(~pred)
    index = dedup_ops.fingerprint_index(base)
    novel = dedup_ops.novel_against_index(delta, index)
    novel_stats = novel.groupBy("lang").agg(
        F.count("*").alias("novel_docs"),
        F.sum("doc_id").cast("long").alias("novel_id_sum"),
    )
    delta_stats = delta.groupBy("lang").agg(F.count("*").alias("delta_docs"))
    return (
        delta_stats.join(novel_stats, "lang", "left")
        .select(
            "lang",
            "delta_docs",
            F.coalesce("novel_docs", F.lit(0)).cast("long").alias("novel_docs"),
            (F.col("delta_docs") - F.coalesce("novel_docs", F.lit(0)))
            .cast("long")
            .alias("dup_docs"),
            F.coalesce("novel_id_sum", F.lit(0)).cast("long").alias("novel_id_sum"),
        )
        .orderBy("lang")
    )


@_register(
    "ext_semantic_dedup",
    f"""
    WITH aug AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v, label
        FROM embeddings
        UNION ALL
        SELECT vec_id + {SEMDEDUP_PLANT_OFFSET},
               list_transform(embedding, x -> CAST(x AS DOUBLE)), label
        FROM embeddings WHERE vec_id % {SEMDEDUP_PLANT_EVERY} = 0
    ),
    flat AS (
        SELECT label, unnest(v) AS val, generate_subscripts(v, 1) AS pos FROM aug
    ),
    cent AS (
        SELECT label AS clbl, pos, avg(val) AS c FROM flat GROUP BY 1, 2
    ),
    centv AS (SELECT clbl, list(c ORDER BY pos) AS cv FROM cent GROUP BY 1),
    ranked AS (
        SELECT a.vec_id, a.v, c.clbl,
               row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY list_inner_product(
                       list_transform(list_zip(a.v, c.cv), p -> p[1] - p[2]),
                       list_transform(list_zip(a.v, c.cv), p -> p[1] - p[2])) ASC,
                       c.clbl ASC
               ) AS rn
        FROM aug a CROSS JOIN centv c
    ),
    assigned AS (SELECT vec_id, v, clbl AS cluster FROM ranked WHERE rn = 1),
    pairs AS (
        SELECT y.vec_id AS j
        FROM assigned x JOIN assigned y
          ON x.cluster = y.cluster AND x.vec_id < y.vec_id
        WHERE round(list_inner_product(x.v, y.v)
                    / (sqrt(list_inner_product(x.v, x.v))
                       * sqrt(list_inner_product(y.v, y.v))), 4)
              >= {SEMDEDUP_THRESHOLD}
    ),
    dropped AS (SELECT DISTINCT j FROM pairs)
    SELECT a.cluster, count(*) AS n_vectors,
           CAST(count(*) FILTER (WHERE d.j IS NOT NULL) AS BIGINT) AS n_dropped,
           CAST(sum(a.vec_id) FILTER (WHERE d.j IS NULL) AS BIGINT) AS kept_id_sum
    FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.j
    GROUP BY a.cluster ORDER BY a.cluster
    """,
    "semantic dedup: codebook-quantized cells, within-cell cosine keep-canonical",
)
def ext_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup (Abbas et al. 2023): quantize
    every vector to a deterministic codebook cell (per-label mean
    centroids — exactly reproducible in SQL, unlike hash-seeded
    k-means), then drop any vector with a LOWER-id cosine>=t partner in
    its cell. Fixture vectors are near-orthogonal, so exact duplicates
    of every {every}th vector are planted under offset ids: each plant
    quantizes to the same cell as its seed, scores cosine 1.0, and MUST
    be dropped (non-degenerate at every SF). The O(n^2) is confined to
    a cell; the declared entry disables the hot-cell salting cap so the
    oracle semantics are exact (the capped form is the scale path —
    same trade as MinHash buckets, operators/similarity.py)."""
    emb = spread_fixture(load_table(spark, sf_dir, "embeddings"), "vec_id")
    id_type = dict(emb.dtypes)["vec_id"]
    planted = emb.filter(F.col("vec_id") % SEMDEDUP_PLANT_EVERY == 0).withColumn(
        "vec_id", (F.col("vec_id") + SEMDEDUP_PLANT_OFFSET).cast(id_type)
    )
    aug = emb.unionByName(planted)
    codebook = sim_ops.train_label_codebook(aug)
    assigned = sim_ops.assign_codebook(aug, codebook)
    pairs = sim_ops.semantic_dedup_pairs(
        assigned, threshold=SEMDEDUP_THRESHOLD, max_bucket=None
    )
    kept = sim_ops.semantic_dedup_keep(assigned, pairs)
    return (
        kept.groupBy("cluster")
        .agg(
            F.count("*").alias("n_vectors"),
            F.sum((~F.col("kept")).cast("long")).cast("long").alias("n_dropped"),
            F.sum(F.when(F.col("kept"), F.col("vec_id"))).cast("long").alias("kept_id_sum"),
        )
        .orderBy("cluster")
    )


@_bench("ext_semantic_dedup")
def _bench_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator-only: assignment + capped within-cell pair generation
    over the raw corpus (no plants; the production configuration with
    the hot-cell salting bound engaged)."""
    emb = spread_fixture(load_table(spark, sf_dir, "embeddings"), "vec_id")
    codebook = sim_ops.train_label_codebook(emb)
    assigned = sim_ops.assign_codebook(emb, codebook)
    return sim_ops.semantic_dedup_pairs(assigned, threshold=SEMDEDUP_THRESHOLD)


@_register(
    "ext_codebook_occupancy",
    """
    WITH aug AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               label
        FROM embeddings
    ),
    flat AS (
        SELECT label, unnest(v) AS val, generate_subscripts(v, 1) AS pos
        FROM aug
    ),
    cent AS (
        SELECT label AS clbl, pos, avg(val) AS c FROM flat GROUP BY 1, 2
    ),
    centv AS (SELECT clbl, list(c ORDER BY pos) AS cv FROM cent GROUP BY 1),
    ranked AS (
        SELECT a.vec_id, c.clbl,
               row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY list_inner_product(
                       list_transform(list_zip(a.v, c.cv), p -> p[1] - p[2]),
                       list_transform(list_zip(a.v, c.cv), p -> p[1] - p[2])) ASC,
                       c.clbl ASC
               ) AS rn
        FROM aug a CROSS JOIN centv c
    ),
    counts AS (
        SELECT clbl AS cluster, count(*) AS n FROM ranked WHERE rn = 1
        GROUP BY 1
    ),
    tot AS (
        SELECT (SELECT sum(n) FROM counts) AS total,
               (SELECT count(*) FROM centv) AS k
    )
    SELECT CAST(c.cluster AS BIGINT) AS cluster,
           CAST(c.n AS BIGINT) AS n_vectors,
           CAST(c.n * 10000 // t.total AS BIGINT) AS share_bp,
           CAST(c.n * t.k * 10000 // t.total AS BIGINT) AS hot_bp
    FROM counts c CROSS JOIN tot t ORDER BY cluster
    """,
    "codebook cell occupancy skew: the drift signal that schedules centroid refresh",
)
def ext_codebook_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell occupancy of the semantic codebook — the table the
    centroid-refresh policy reads (streaming/pipelines.py:
    semantic_gate_recluster): cell sizes drifting away from uniform
    mean the frozen centroids no longer fit the corpus, inflating both
    the within-cell pair kernel and the probe's per-cell candidate
    count (the SemDeDup cost model degrades as max(hot_bp) grows).
    ``share_bp`` is the cell's corpus share and ``hot_bp`` its ratio
    to the uniform share, both in integer basis points via exact
    BIGINT division (`div` / `//` — no float reaches the hash).
    Codebook = per-label mean centroids (the ext_semantic_dedup
    discipline: exactly SQL-reproducible, unlike hash-seeded k-means).

    100 TB posture: assignment is a narrow map against the broadcast
    codebook literal, the count is a map-side-combinable groupBy to k
    rows, and the total/k fold is a window over those k rows — output
    and every post-aggregation frame are O(k) regardless of corpus
    size."""
    emb = spread_fixture(load_table(spark, sf_dir, "embeddings"), "vec_id")
    codebook = sim_ops.train_label_codebook(emb)
    k = len(codebook)
    counts = (
        sim_ops.assign_codebook(emb, codebook)
        .groupBy("cluster")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy()
    return (
        counts.withColumn("total", F.sum("n").over(w))
        .select(
            F.col("cluster").cast("long").alias("cluster"),
            F.col("n").cast("long").alias("n_vectors"),
            F.expr("n * 10000L div total").alias("share_bp"),
            F.expr(f"n * {k}L * 10000L div total").alias("hot_bp"),
        )
        .orderBy("cluster")
    )


HH_K = 5
HH_DEPTH = 4
HH_WIDTH = 1024


@_register(
    "ext_heavy_hitters",
    f"""
    SELECT token, cnt,
           true AS never_undercounts,
           true AS within_cm_bound
    FROM (
        SELECT token, count(*) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY token
    )
    ORDER BY cnt DESC, token ASC
    LIMIT {HH_K}
    """,
    "Count-Min heavy hitters gated against exact counts (mergeable-sketch scale twin)",
)
def ext_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB twin of ext_token_stats' exact top-k: a Count-Min
    sketch (operators/sketch.py) bounds the frequency-merge shuffle at
    depth x width cells regardless of the distinct-token tail. The
    xxhash64 cells can't be mirrored in SQL, so the declared row per
    exact-top-k token is (exact count, CM guarantees): never_undercounts
    is CM's deterministic one-sided error, within_cm_bound checks
    est <= exact + ceil(e/width * N) (the standard bound; deterministic
    for a fixed hash family + corpus). The oracle states the exact
    anchors with literal trues."""
    import math

    docs = load_table(spark, sf_dir, "documents")
    toks = vocab_ops.corpus_tokens(docs.select("text"))
    sketch = sketch_ops.cm_build(toks, depth=HH_DEPTH, width=HH_WIDTH)
    exact = (
        toks.groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(HH_K)
    )
    est = sketch_ops.cm_estimate(sketch, exact, depth=HH_DEPTH, width=HH_WIDTH)
    n_total = toks.count()
    slack = int(math.ceil(math.e / HH_WIDTH * n_total))
    return (
        exact.join(est, "token")
        .select(
            "token",
            F.col("cnt").cast("long").alias("cnt"),
            (F.col("cm_est") >= F.col("cnt")).alias("never_undercounts"),
            (F.col("cm_est") <= F.col("cnt") + F.lit(slack)).alias("within_cm_bound"),
        )
        .orderBy(F.desc("cnt"), F.asc("token"))
    )


@_bench("ext_heavy_hitters")
def _bench_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator-only: sketch build + top-k estimate (no exact-count
    comparison pass)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = vocab_ops.corpus_tokens(docs.select("text"))
    sketch = sketch_ops.cm_build(toks, depth=HH_DEPTH, width=HH_WIDTH)
    cands = toks.groupBy("token").agg(F.count("*").alias("cnt")).orderBy(
        F.desc("cnt"), F.asc("token")
    ).limit(HH_K)
    return sketch_ops.cm_estimate(sketch, cands, depth=HH_DEPTH, width=HH_WIDTH)


PR_ITERS = 3
PR_DAMPING = 0.85


@_register(
    "ext_nation_pagerank",
    f"""
    WITH edges AS (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               CAST(count(*) AS DOUBLE) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2
    ),
    nodes AS (
        SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    frac AS (
        SELECT src, dst, w / sum(w) OVER (PARTITION BY src) AS f FROM edges
    ),
    r0 AS (SELECT node, 1e0 / nn.n AS rank FROM nodes, nn),
    r1 AS (
        SELECT nodes.node,
               (1 - {PR_DAMPING}) / nn.n
               + {PR_DAMPING} * coalesce(sum(r0.rank * frac.f), 0) AS rank
        FROM nodes
        LEFT JOIN frac ON frac.dst = nodes.node
        LEFT JOIN r0 ON r0.node = frac.src, nn
        GROUP BY nodes.node, nn.n
    ),
    r2 AS (
        SELECT nodes.node,
               (1 - {PR_DAMPING}) / nn.n
               + {PR_DAMPING} * coalesce(sum(r1.rank * frac.f), 0) AS rank
        FROM nodes
        LEFT JOIN frac ON frac.dst = nodes.node
        LEFT JOIN r1 ON r1.node = frac.src, nn
        GROUP BY nodes.node, nn.n
    ),
    r3 AS (
        SELECT nodes.node,
               (1 - {PR_DAMPING}) / nn.n
               + {PR_DAMPING} * coalesce(sum(r2.rank * frac.f), 0) AS rank
        FROM nodes
        LEFT JOIN frac ON frac.dst = nodes.node
        LEFT JOIN r2 ON r2.node = frac.src, nn
        GROUP BY nodes.node, nn.n
    )
    SELECT CAST(node AS BIGINT) AS node, round(rank, 6) AS rank
    FROM r3 ORDER BY node
    """,
    "fixed-iteration weighted PageRank over the nation trade graph",
)
def ext_nation_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph authority ranking (operators/graph.py): the edge list
    is the customer-nation -> supplier-nation trade flow (a 3-way
    fact/dim join aggregated to 25 nodes), then {PR_ITERS} distributed
    Jacobi rounds — rank vector stays a keyed DataFrame end to end
    (the crawl-corpus domain-ranking shape: at web scale nodes are
    domains and both sides hash-partition on node id; nothing
    node-sized ever reaches the driver or a broadcast)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count("*").cast("double").alias("w"))
    )
    ranks = graph_ops.pagerank(edges, iters=PR_ITERS, damping=PR_DAMPING)
    return ranks.select(
        F.col("node").cast("long").alias("node"), F.round("rank", 6).alias("rank")
    ).orderBy("node")


PMI_VOCAB_N = 64
PMI_MIN_CO = 5
PMI_TOP = 20


@_register(
    "ext_token_pmi",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    voc AS (
        SELECT token, count(*) AS cnt FROM toks GROUP BY token
        ORDER BY cnt DESC, token ASC LIMIT {PMI_VOCAB_N}
    ),
    dt AS (
        SELECT DISTINCT t.doc_id, t.token FROM toks t
        JOIN voc v ON t.token = v.token
    ),
    pairs AS (
        SELECT x.token AS a, y.token AS b, count(*) AS cooccur
        FROM dt x JOIN dt y ON x.doc_id = y.doc_id AND x.token < y.token
        GROUP BY 1, 2
    ),
    uni AS (SELECT token, count(*) AS dfreq FROM dt GROUP BY 1),
    nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents)
    SELECT p.a, p.b, CAST(p.cooccur AS BIGINT) AS cooccur,
           round(ln(nd.n * p.cooccur / (ua.dfreq * ub.dfreq)), 4) AS pmi4
    FROM pairs p
    JOIN uni ua ON p.a = ua.token
    JOIN uni ub ON p.b = ub.token, nd
    WHERE p.cooccur >= {PMI_MIN_CO}
    ORDER BY pmi4 DESC, a ASC, b ASC
    LIMIT {PMI_TOP}
    """,
    "PMI collocation mining over the top-N vocabulary (doc-level co-occurrence)",
)
def ext_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic/phrase-affinity mining (operators/vocab.py:
    token_pmi_pairs): the pair space is bounded by the broadcast
    vocabulary restriction (|V|^2/2 keys however large the corpus), so
    the co-occurrence aggregation partial-aggregates map-side and text
    never shuffles. Top pairs by 4dp-rounded PMI, (a, b) tiebreak —
    identical ordering on both engines."""
    docs = spread_fixture(load_table(spark, sf_dir, "documents"))
    voc = vocab_ops.vocab_build(docs, top_n=PMI_VOCAB_N)
    # n_docs=None: N rides the plan as a 1-row count aggregate (r13,
    # guide §5 — the old docs.count() was a blocking driver action
    # before the real query started)
    pmi = vocab_ops.token_pmi_pairs(
        docs, voc, n_docs=None, min_cooccur=PMI_MIN_CO
    )
    return pmi.orderBy(
        F.desc("pmi4"), F.asc("a"), F.asc("b")
    ).limit(PMI_TOP)


SHARD_N = 8
SHARD_MIN_TOKENS = 5


@_register(
    "ext_training_shards",
    f"""
    WITH base AS (
        SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens,
               md5(lower(text)) AS fp
        FROM documents
        WHERE len(string_split(text, ' ')) >= {SHARD_MIN_TOKENS}
    ),
    canon AS (
        SELECT doc_id, lang, n_tokens FROM (
            SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
            FROM base
        ) WHERE rn = 1
    ),
    binned AS (
        SELECT lang, n_tokens,
               CAST(floor(
                   (sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                        ROWS UNBOUNDED PRECEDING) - n_tokens)
                   / {PACK_BUDGET}) AS BIGINT) AS bin_id
        FROM canon
    ),
    bins AS (
        SELECT lang, bin_id, sum(n_tokens) AS bin_tokens
        FROM binned GROUP BY 1, 2
    ),
    sharded AS (
        SELECT lang, bin_id, bin_tokens,
               CAST(CAST(concat('0x', substr(md5(concat_ws('|', lang,
                    CAST(bin_id AS VARCHAR))), 1, 8)) AS BIGINT)
                    % {SHARD_N} AS INTEGER) AS shard
        FROM bins
    )
    SELECT shard, count(*) AS n_contexts,
           CAST(sum(bin_tokens) AS BIGINT) AS total_tokens,
           count(DISTINCT lang) AS n_langs
    FROM sharded GROUP BY shard ORDER BY shard
    """,
    "corpus -> packed contexts -> deterministic training shards (export layout)",
)
def ext_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The export capstone: length floor -> exact-fingerprint
    keep-canonical dedup -> concat-and-cut packing into
    {PACK_BUDGET}-token contexts -> content-keyed shard assignment
    (operators/chunking.py:shard_assign). Every stage is the declared
    operator from its own entry; this gates the COMPOSITION — and the
    shard labels are exactly what write_training_shards lays on disk,
    so the stats here are the manifest of the real export."""
    from ..operators import chunking as chunk_ops

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.md5(F.lower(F.col("text"))).alias("fp"),
    ).filter(F.col("n_tokens") >= SHARD_MIN_TOKENS)
    canon = dedup_ops.first_per_group(base, ["fp"], ["doc_id"]).drop("fp")
    binned = chunk_ops.pack_greedy(canon, "lang", "doc_id", "n_tokens", PACK_BUDGET)
    bins = binned.groupBy("lang", "bin_id").agg(
        F.sum("n_tokens").alias("bin_tokens")
    )
    sharded = chunk_ops.shard_assign(bins, ["lang", "bin_id"], SHARD_N)
    return (
        sharded.groupBy("shard")
        .agg(
            F.count("*").alias("n_contexts"),
            F.sum("bin_tokens").cast("long").alias("total_tokens"),
            F.count_distinct("lang").alias("n_langs"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# Round-6 additions: domain quotas, dataset versioning diff, Bloom-gated
# incremental dedup, BPE tokenizer training/application.
# ---------------------------------------------------------------------------

QUOTA_PER_SOURCE = 10
BPE_MERGES = 24
_DIFF_FP = (
    "md5(concat_ws(chr(31), coalesce(CAST(text AS VARCHAR), ''),"
    " coalesce(lang, ''), coalesce(source, '')))"
)


@_register(
    "ext_quota_sample",
    f"""
    SELECT doc_id, source FROM (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id
               ) AS rn
        FROM documents
    ) WHERE rn <= {QUOTA_PER_SOURCE}
    ORDER BY source, doc_id
    """,
    "per-source domain quota (deterministic web-corpus source cap)",
)
def ext_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-quota curation rule: no source may contribute more than
    QUOTA_PER_SOURCE documents, survivors chosen by the shared md5
    priority space (operators/sampling.py:quota_sample) so the kept
    set is stable under repartitioning and engine-portable. The
    skew-safe twin (quota_sample_prefiltered) is output-identical and
    pinned so by tests/test_round6_ops.py."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        samp_ops.quota_sample(docs, "source", "doc_id", QUOTA_PER_SOURCE)
        .select("doc_id", "source")
        .orderBy("source", "doc_id")
    )


@_register(
    "ext_snapshot_diff",
    f"""
    WITH mod AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text,
               lang, source
        FROM documents WHERE doc_id % 7 != 0
    ),
    added AS (
        SELECT doc_id + 1000000 AS doc_id,
               'fresh crawl ' || CAST(doc_id AS VARCHAR) AS text,
               lang, source
        FROM documents WHERE doc_id % 11 = 0
    ),
    o AS (SELECT doc_id, {_DIFF_FP} AS old_fp FROM documents),
    n AS (
        SELECT doc_id, {_DIFF_FP} AS new_fp
        FROM (SELECT * FROM mod UNION ALL SELECT * FROM added)
    )
    SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN old_fp IS NULL THEN 'added'
                WHEN new_fp IS NULL THEN 'removed'
                WHEN old_fp != new_fp THEN 'changed'
                ELSE 'unchanged' END AS change,
           old_fp, new_fp
    FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
    WHERE old_fp IS NULL OR new_fp IS NULL OR old_fp != new_fp
    ORDER BY doc_id
    """,
    "corpus snapshot diff: added/removed/changed between two versions",
)
def ext_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-versioning churn report (operators/diff.py): the new
    snapshot drops every 7th doc, edits every 5th, and gains a fresh
    crawl slice — the diff classifies every key by comparing per-side
    row fingerprints (a narrow md5 map per side), so the full-outer
    join shuffles digests, never text. Composes with
    streaming/txn.py snapshots for real versioned tables."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    mod = docs.filter(F.col("doc_id") % 7 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    added = docs.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.lit("fresh crawl "), F.col("doc_id").cast("string")).alias("text"),
        "lang",
        "source",
    )
    new = mod.unionByName(added)
    return diff_ops.snapshot_diff(
        docs, new, "doc_id", ["text", "lang", "source"]
    ).orderBy("doc_id")


@_register(
    "ext_bloom_gate",
    """
    SELECT lang, count(*) AS n_novel,
           true AS no_false_negatives,
           true AS gate_equals_exact
    FROM documents
    WHERE md5(lower(text)) NOT IN (
        SELECT DISTINCT md5(lower(text)) FROM documents WHERE doc_id % 2 = 0
    )
    GROUP BY lang ORDER BY lang
    """,
    "Bloom-prefiltered incremental-ingest gate, proven equal to the exact anti-join",
)
def ext_bloom_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB ingest gate: a Bloom filter over the persisted
    fingerprint index (operators/sketch.py:bloom_build) is broadcast to
    the incoming batch; definitely-novel rows (filter says no — Bloom's
    one-sided guarantee) skip the anti-join entirely and only the
    might-contain sliver pays the shuffle
    (operators/dedup.py:novel_against_index_bloom). The declared row
    per language carries the exact novel count (SQL anchor) plus two
    in-plan invariants: the filter never rejected an indexed key, and
    the composed gate's output is IDENTICAL to the exact anti-join's."""
    docs = load_table(spark, sf_dir, "documents")
    index = dedup_ops.fingerprint_index(docs.filter(F.col("doc_id") % 2 == 0))
    novel = dedup_ops.novel_against_index_bloom(docs, index)
    exact = dedup_ops.novel_against_index(docs, index)
    bloom = sketch_ops.bloom_build(index)
    n_false_neg = (
        sketch_ops.bloom_might_contain(index, bloom)
        .filter(~F.col("might_contain"))
        .count()
    )
    sym_diff = (
        novel.select("doc_id").exceptAll(exact.select("doc_id")).count()
        + exact.select("doc_id").exceptAll(novel.select("doc_id")).count()
    )
    return (
        novel.groupBy("lang")
        .agg(F.count("*").cast("long").alias("n_novel"))
        .select(
            "lang",
            "n_novel",
            F.lit(n_false_neg == 0).alias("no_false_negatives"),
            F.lit(sym_diff == 0).alias("gate_equals_exact"),
        )
        .orderBy("lang")
    )


@_bench("ext_bloom_gate")
def _bench_bloom_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator-only bench plan: the gate itself, without the
    exact-twin comparison the invariant build pays for."""
    docs = load_table(spark, sf_dir, "documents")
    index = dedup_ops.fingerprint_index(docs.filter(F.col("doc_id") % 2 == 0))
    return (
        dedup_ops.novel_against_index_bloom(docs, index)
        .groupBy("lang")
        .agg(F.count("*").cast("long").alias("n_novel"))
        .orderBy("lang")
    )


def _bpe_oracle_cte(n_merges: int) -> str:
    """Unrolled chained-CTE restatement of Sennrich BPE training for a
    FIXED ``n_merges`` — the r01->r3 playbook (minhash/ivf) applied to
    the last two no_oracle driver rows: the per-round argmax is a
    1-row ORDER BY ... LIMIT 1 CTE and the greedy left-to-right merge
    fold is a recursive CTE that restates operators/vocab.py's
    sequential model symbol-by-symbol (CASE on acc[-1]), so runs of
    identical symbols ([a,a,a,a,a] under merge (a,a)) pair up exactly
    like the fold — the case a string replace() oracle gets wrong.
    An empty best_k (max pair freq < min_freq 2) propagates w_{k-1}
    unchanged, matching the trainer's break: once no pair clears
    min_freq, no rewrite happens, so every later round is empty too.
    Cost: the recursion depth is the max word length (8 chars on the
    fixture corpus) and each round touches only the word-TYPE table
    (31 rows here; bounded by language, not corpus size) — the same
    bounded-histogram argument the Spark trainer makes. Every chained
    CTE is MATERIALIZED: DuckDB inlines plain CTEs, and w_k references
    w_{k-1} twice, so un-materialized unrolling is exponential in
    n_merges (observed: fd exhaustion re-opening the parquet).
    """
    parts = [
        """
wf AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> '' GROUP BY word
),
w0 AS MATERIALIZED (
  SELECT word, freq,
         list_append(list_transform(generate_series(1, length(word)),
                                    i -> word[i]), '</w>') AS syms
  FROM wf
)"""
    ]
    for k in range(1, n_merges + 1):
        p = k - 1
        parts.append(
            f"""
p{k} AS MATERIALIZED (
  SELECT syms[i] AS a, syms[i + 1] AS b, CAST(sum(freq) AS BIGINT) AS pfreq
  FROM w{p}, unnest(generate_series(1, len(syms) - 1)) AS g(i)
  GROUP BY 1, 2
),
b{k} AS MATERIALIZED (
  SELECT a, b, pfreq FROM p{k} WHERE pfreq >= 2
  ORDER BY pfreq DESC, a ASC, b ASC LIMIT 1
),
f{k} AS (
  SELECT word, freq, 1 AS pos, [syms[1]] AS acc, syms
  FROM w{p} WHERE EXISTS (SELECT 1 FROM b{k})
  UNION ALL
  SELECT f.word, f.freq, f.pos + 1,
         CASE WHEN acc[-1] = m.a AND syms[f.pos + 1] = m.b
              THEN list_append(acc[1:len(acc) - 1], m.a || m.b)
              ELSE list_append(acc, syms[f.pos + 1]) END,
         f.syms
  FROM f{k} f, b{k} m WHERE f.pos < len(f.syms)
),
w{k} AS MATERIALIZED (
  SELECT word, freq, acc AS syms FROM f{k} WHERE pos = len(syms)
  UNION ALL
  SELECT word, freq, syms FROM w{p} WHERE NOT EXISTS (SELECT 1 FROM b{k})
)"""
        )
    return "WITH RECURSIVE " + ",".join(parts)


def _bpe_train_oracle(n_merges: int) -> str:
    rows = " UNION ALL ".join(
        f'SELECT {k - 1} AS step, a AS "left", b AS "right", a || b AS merged,'
        f" pfreq AS freq FROM b{k}"
        for k in range(1, n_merges + 1)
    )
    return f"{_bpe_oracle_cte(n_merges)} SELECT * FROM ({rows}) ORDER BY step"


def _bpe_encode_oracle(n_merges: int) -> str:
    return f"""{_bpe_oracle_cte(n_merges)},
wlen AS (SELECT word, len(syms) AS ntok FROM w{n_merges}),
doc_tok AS (
  SELECT doc_id, CAST(sum(ntok) AS BIGINT) AS n_tokens
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents) t
  JOIN wlen USING (word)
  GROUP BY doc_id
)
SELECT d.lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(coalesce(dt.n_tokens, 0)) AS BIGINT) AS sum_tokens,
       CAST(sum(length(d.text)) AS BIGINT) AS sum_chars,
       CASE WHEN sum(coalesce(dt.n_tokens, 0)) > 0 THEN
           CAST(floor(sum(length(d.text)) * 1000.0
                      / sum(coalesce(dt.n_tokens, 0)) + 0.5) AS BIGINT)
       END AS chars_per_token_milli
FROM documents d LEFT JOIN doc_tok dt USING (doc_id)
GROUP BY d.lang ORDER BY d.lang"""


@_register(
    "ext_bpe_train",
    _bpe_train_oracle(BPE_MERGES),
    "BPE tokenizer training on word types (merge-rule table)",
)
def ext_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train BPE_MERGES merge rules on the corpus
    (operators/vocab.py:bpe_train — Sennrich-style word-type training:
    the corpus is touched ONCE for word frequencies; every merge round
    iterates the small word-type table). Deterministic end to end
    (freq DESC, pair ASC tie-break). The oracle unrolls the full
    training loop as chained CTEs (one argmax + one recursive-CTE
    greedy-fold rewrite per merge round, :func:`_bpe_oracle_cte`), so
    the driver value-hashes the whole merge table; exact parity with a
    pure-Python reference implementation is additionally pinned by
    tests/test_round6_ops.py at two SFs."""
    docs = load_table(spark, sf_dir, "documents")
    merges = vocab_ops.bpe_train(docs, BPE_MERGES)
    return spark.createDataFrame(
        merges, "step int, left string, right string, merged string, freq long"
    ).orderBy("step")


@_register(
    "ext_bpe_encode",
    _bpe_encode_oracle(BPE_MERGES),
    "apply trained BPE merges to the corpus (per-language compression profile)",
)
def ext_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the just-trained merge table
    (operators/vocab.py:bpe_encode — the documented Pandas-UDF case:
    per-word sequential rule application, Arrow-batched, merge rules in
    the closure). Output: per-language token-compression profile, the
    number a context-length budget planner consumes. All-integer
    columns (sum counts + a floor(x+0.5) milli ratio, the q10 permille
    discipline) so the driver hash never rides double rendering; the
    oracle re-derives the same merge table via the unrolled training
    CTE and encodes through the word-type table (every corpus word IS
    a word type, so word -> len(final syms) is a join, not a UDF)."""
    docs = load_table(spark, sf_dir, "documents")
    merges = vocab_ops.bpe_train(docs, BPE_MERGES)
    enc = vocab_ops.bpe_encode(docs, merges)
    return (
        docs.select("doc_id", "lang")
        .join(enc, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            # NULL, not a long-cast of Infinity, when a language's docs
            # hold zero tokens (all-empty texts) — both engines would
            # otherwise fail the cast loudly rather than agree
            F.when(
                F.sum("n_tokens") > 0,
                F.floor(
                    F.sum("n_chars") * F.lit(1000.0) / F.sum("n_tokens")
                    + F.lit(0.5)
                ),
            )
            .cast("long")
            .alias("chars_per_token_milli"),
        )
        .orderBy("lang")
    )


HLL_RTOL = 0.05


@_register(
    "ext_hll_partials",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, count(DISTINCT user_id) AS exact_dau
        FROM events GROUP BY 1
    ),
    firstd AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS fd FROM events GROUP BY 1
    )
    SELECT d, exact_dau,
           (SELECT count(*) FROM firstd WHERE fd <= daily.d) AS exact_cum,
           true AS daily_ok,
           true AS cum_ok
    FROM daily ORDER BY d
    """,
    "mergeable per-day HLL distinct partials + prefix-union rollups, error-gated",
)
def ext_hll_partials(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rolling-distinct scale design: per-day DataSketches HLL
    partials (operators/sketch.py:hll_daily_partials — events touched
    ONCE, one ~kB sketch per day persisted) answer every
    DAU/WAU/MAU/arbitrary-range question thereafter by MERGING sketches
    (hll_prefix_estimates), never re-scanning events. The sketch bytes
    can't be mirrored in SQL, so the declared row per day carries the
    exact anchors (daily + cumulative distinct users — the cumulative
    via the first-seen-day trick, itself only a day-sized rollup) and
    two in-plan invariants: per-day and prefix-union estimates within
    HLL_RTOL of exact. Reference anchor: the DAU handler's
    one-count-per-day output (handler/DauHandler.scala:61-73) is the
    exact twin whose window this generalizes."""
    ev = load_table(spark, sf_dir, "events")
    partials = sketch_ops.hll_daily_partials(ev)
    est = sketch_ops.hll_prefix_estimates(partials)
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count_distinct("user_id").alias("exact_dau")
    )
    firstd = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("fd"))
    fd_counts = firstd.groupBy("fd").agg(F.count("*").alias("nf"))
    # exact_cum(d) = sum(nf) over fd <= d. Every fd is itself an event
    # day, so instead of an inequality join (plans as a nested-loop even
    # at day granularity) we equi-join the day frames and take a running
    # sum — a one-partition window over O(#days) rows.
    cum = (
        daily.select("d")
        .join(fd_counts, daily["d"] == fd_counts["fd"], "left")
        .select("d", F.coalesce("nf", F.lit(0)).alias("nf"))
        .select(
            "d",
            F.sum("nf")
            .over(Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0))
            .cast("long")
            .alias("exact_cum"),
        )
    )
    ok = lambda e, x: (  # noqa: E731
        F.abs(e.cast("double") - F.col(x)) <= F.col(x) * F.lit(HLL_RTOL)
    )
    return (
        daily.join(cum, "d")
        .join(est, "d")
        .select(
            "d",
            "exact_dau",
            "exact_cum",
            ok(F.col("est_daily"), "exact_dau").alias("daily_ok"),
            ok(F.col("est_cum"), "exact_cum").alias("cum_ok"),
        )
        .orderBy("d")
    )


@_bench("ext_hll_partials")
def _bench_hll_partials(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator-only bench: build partials + merge rollups, without
    the exact-twin anchors the invariant build pays for."""
    ev = load_table(spark, sf_dir, "events")
    return sketch_ops.hll_prefix_estimates(
        sketch_ops.hll_daily_partials(ev)
    ).orderBy("d")


PQ_M = 8
PQ_KSUB = 16
PQ_RERANK = 100
PQ_TRAIN_FRACTION = 0.3
PQ_RECALL_FLOOR = 0.5
_L2SQ_ALG = (
    "({aa} - 2 * {aq} + {qq})"  # algebraic L2^2: identical fold shape on both engines
)


def _l2sq_alg_spark(vec_col: str, q_col: str) -> F.Column:
    dot = sim_ops.DOT
    return F.expr(
        _L2SQ_ALG.format(
            aa=dot.format(a=vec_col, b=vec_col),
            aq=dot.format(a=vec_col, b=q_col),
            qq=dot.format(a=q_col, b=q_col),
        )
    )


@_register(
    "ext_pq_topk",
    f"""
    WITH q AS (
        SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        FROM embeddings WHERE vec_id = {TOPK_QUERY_VEC_ID}
    ),
    scored AS (
        SELECT vec_id,
               round(
                 list_inner_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                    list_transform(embedding, x -> CAST(x AS DOUBLE)))
                 - 2 * list_inner_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), qv)
                 + list_inner_product(qv, qv), 4) AS l2sq
        FROM embeddings, q
    )
    SELECT vec_id, l2sq, true AS recall_ok
    FROM scored ORDER BY l2sq ASC, vec_id ASC
    LIMIT {TOPK_K}
    """,
    "product-quantization ANN (ADC + exact re-rank), recall-gated vs exact L2 top-k",
)
def ext_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ's memory half (operators/similarity.py:pq_*): codebooks
    train on a deterministic {PQ_TRAIN_FRACTION:.0%} corpus sample (the
    standard production recipe — codebook quality needs a sample, not
    the corpus), every vector compresses to m={PQ_M} one-byte codes,
    and search is ADC table lookups over the code table with an exact
    re-rank of the best {PQ_RERANK}. The declared rows are the EXACT L2
    top-k (SQL anchor); recall_ok gates that PQ search recovered at
    least {PQ_RECALL_FLOOR:.0%} of them — the quantization-quality
    invariant."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = sim_ops.query_vector(emb, TOPK_QUERY_VEC_ID)
    train = samp_ops.deterministic_sample(emb, "vec_id", PQ_TRAIN_FRACTION, "pqtrain")
    books = sim_ops.pq_train(train, m=PQ_M, ksub=PQ_KSUB, iters=2)
    codes = sim_ops.pq_encode(emb, books)
    pq_ids = {
        r.vec_id
        for r in sim_ops.pq_topk(
            emb, codes, books, q, k=TOPK_K, rerank=PQ_RERANK
        ).collect()  # collect-bound: k=TOPK_K rows
    }
    exact = (
        emb.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(_l2sq_alg_spark("embedding", "q_vec"), 4).alias("l2sq"),
        )
        .orderBy(F.asc("l2sq"), F.asc("vec_id"))
        .limit(TOPK_K)
    )
    recall = len(pq_ids & {r.vec_id for r in exact.collect()}) / float(TOPK_K)  # collect-bound: k=TOPK_K rows
    return exact.select(
        "vec_id", "l2sq", F.lit(recall >= PQ_RECALL_FLOOR).alias("recall_ok")
    )


_PQ_BENCH_INDEX: dict = {}


@_bench("ext_pq_topk")
def _bench_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator-only bench: the RECURRING cost at scale — ADC scan
    over the STORED code table + exact re-rank. Codebook training and
    corpus encoding are one-off persisted-ingest artifacts (exactly
    like the IVF/LSH indexes), so the bench builds the pq_write_index
    parquet once per sf_dir and times only the search path; timing a
    fresh encode plan instead re-pays the m x ksub argmin codegen per
    run — measured ~11x the stored-codes cost at sf0.1."""
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    q = sim_ops.query_vector(emb, TOPK_QUERY_VEC_ID)
    entry = _PQ_BENCH_INDEX.get(sf_dir)
    if entry is None:
        train = samp_ops.deterministic_sample(
            emb, "vec_id", PQ_TRAIN_FRACTION, "pqtrain"
        )
        books = sim_ops.pq_train(train, m=PQ_M, ksub=PQ_KSUB, iters=2)
        base = _bench_tmpdir("gmall_pq_index_")
        path = base + "/codes"
        sim_ops.pq_write_index(emb, books, path)
        entry = (books, path)
        _PQ_BENCH_INDEX[sf_dir] = entry
    books, path = entry
    codes = sim_ops.pq_read_index(spark, path)
    return sim_ops.pq_topk(emb, codes, books, q, k=TOPK_K, rerank=PQ_RERANK)


# ---------------------------------------------------------------------------
# Round-7: retrieval quality (BM25, hybrid RRF) + corpus boilerplate audit
# ---------------------------------------------------------------------------
BM25_KEYWORD = "spark join window"
BM25_K = 10
RRF_DEPTH = 50
BOILERPLATE_N = 6
BOILERPLATE_MIN_DF = 3

# The shared BM25 CTE chain (DuckDB side). Terms are inlined literally
# so the oracle states the same fixed query as the Spark build; the
# tokenizer is the documented analyze() DuckDB twin (same as q9's
# oracle), so case/punctuation/CJK behavior matches the Spark
# expression, not just the fixture's happy path; dl is integer-valued,
# so avg(dl) is an exact integer sum / N in BOTH engines regardless of
# summation order — the only corpus-level float the formula consumes
# is therefore bit-identical.
_BM25_SQL_CTES = """
    d AS (SELECT doc_id,
                 list_filter(string_split_regex(regexp_replace(lower(text),
                     '([㐀-䶿一-鿿豈-﫿])', ' \\1 ', 'g'), '[^\\p{L}\\p{N}]+'),
                     t -> t != '') AS t
          FROM documents),
    corpus AS (SELECT count(*)::DOUBLE AS n, avg(len(t))::DOUBLE AS avgdl FROM d),
    pt AS (
        SELECT doc_id, len(t)::DOUBLE AS dl,
               len(list_filter(t, x -> x = 'spark'))::DOUBLE AS tf_0,
               len(list_filter(t, x -> x = 'join'))::DOUBLE AS tf_1,
               len(list_filter(t, x -> x = 'window'))::DOUBLE AS tf_2
        FROM d
    ),
    dfs AS (
        SELECT sum((tf_0 > 0)::INT)::DOUBLE AS df_0,
               sum((tf_1 > 0)::INT)::DOUBLE AS df_1,
               sum((tf_2 > 0)::INT)::DOUBLE AS df_2
        FROM pt
    ),
    bm25 AS (
        SELECT doc_id,
               round(
                 ln(1 + (n - df_0 + 0.5) / (df_0 + 0.5))
                   * (tf_0 * 2.2 / (tf_0 + 1.2 * (0.25 + 0.75 * dl / avgdl)))
                 + ln(1 + (n - df_1 + 0.5) / (df_1 + 0.5))
                   * (tf_1 * 2.2 / (tf_1 + 1.2 * (0.25 + 0.75 * dl / avgdl)))
                 + ln(1 + (n - df_2 + 0.5) / (df_2 + 0.5))
                   * (tf_2 * 2.2 / (tf_2 + 1.2 * (0.25 + 0.75 * dl / avgdl))),
                 4) AS score
        FROM pt, corpus, dfs
        WHERE tf_0 > 0 OR tf_1 > 0 OR tf_2 > 0
    )
"""


@_register(
    "ext_bm25_topk",
    f"""
    WITH {_BM25_SQL_CTES}
    SELECT doc_id, score FROM bm25
    ORDER BY score DESC, doc_id ASC
    LIMIT {BM25_K}
    """,
    "BM25 OR-match top-k over documents (length-normalized relevance)",
)
def ext_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real ES scoring model behind the reference's match queries
    (service/impl/PublisherServiceImpl.java:84-99 — q9b's integer proxy
    keeps paging bit-exact; this entry exposes Lucene-BM25 itself).
    Narrow-map tfs + one broadcast stats row + TakeOrderedAndProject;
    see operators/text.py:bm25_topk for the 100 TB shape."""
    docs = spread_fixture(load_table(spark, sf_dir, "documents"))
    return text_ops.bm25_topk(docs, BM25_KEYWORD, k=BM25_K)


@_register(
    "ext_hybrid_rrf",
    f"""
    WITH {_BM25_SQL_CTES},
    sparse AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER)
                   AS rank_sparse
        FROM (SELECT doc_id, score FROM bm25
              ORDER BY score DESC, doc_id ASC LIMIT {RRF_DEPTH})
    ),
    q AS (
        SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        FROM embeddings WHERE vec_id = {TOPK_QUERY_VEC_ID}
    ),
    cos AS (
        SELECT vec_id AS doc_id,
               round(
                 list_inner_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), qv)
                 / (sqrt(list_inner_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                            list_transform(embedding, x -> CAST(x AS DOUBLE))))
                    * sqrt(list_inner_product(qv, qv))), 4) AS score
        FROM embeddings, q
        ORDER BY score DESC, doc_id ASC LIMIT {RRF_DEPTH}
    ),
    dense AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER)
                   AS rank_dense
        FROM cos
    ),
    fused AS (
        SELECT COALESCE(s.doc_id, de.doc_id) AS doc_id, rank_sparse, rank_dense
        FROM sparse s FULL OUTER JOIN dense de ON s.doc_id = de.doc_id
    )
    SELECT doc_id,
           round(COALESCE(1e0 / (60 + rank_sparse), 0)
                 + COALESCE(1e0 / (60 + rank_dense), 0), 6) AS rrf,
           rank_sparse, rank_dense
    FROM fused
    ORDER BY rrf DESC, doc_id ASC
    LIMIT {BM25_K}
    """,
    "hybrid search: reciprocal-rank fusion of BM25 and cosine arms",
)
def ext_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse + dense retrieval fused by RRF over the row-aligned
    documents/embeddings pair (operators/retrieval.py). The brute
    cosine arm keeps the entry oracle-exact; any ANN index variant
    drops in with identical fusion."""
    docs = spread_fixture(load_table(spark, sf_dir, "documents"))
    emb = load_table(spark, sf_dir, "embeddings")
    return retr_ops.hybrid_rrf(
        docs, emb, BM25_KEYWORD, TOPK_QUERY_VEC_ID, k=BM25_K, depth=RRF_DEPTH
    )


@_register(
    "ext_boilerplate_coverage",
    f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    o AS (
        SELECT doc_id, i AS pos,
               array_to_string(t[i:i + {BOILERPLATE_N} - 1], ' ') AS gram
        FROM d, unnest(generate_series(1, len(t) - {BOILERPLATE_N} + 1)) AS g(i)
    ),
    bp AS (
        SELECT gram FROM (
            SELECT gram, count(DISTINCT doc_id) AS df FROM o GROUP BY 1
        ) WHERE df >= {BOILERPLATE_MIN_DF}
    ),
    cov AS (
        SELECT DISTINCT o.doc_id, c.p
        FROM o JOIN bp USING (gram),
             unnest(generate_series(o.pos, o.pos + {BOILERPLATE_N} - 1)) AS c(p)
    ),
    cnt AS (SELECT doc_id, count(*) AS covered_tokens FROM cov GROUP BY 1)
    SELECT d.doc_id,
           len(t) AS n_tokens,
           COALESCE(cnt.covered_tokens, 0) AS covered_tokens,
           round((len(t) - COALESCE(cnt.covered_tokens, 0)) / len(t), 4) AS keep_ratio
    FROM d LEFT JOIN cnt ON d.doc_id = cnt.doc_id
    ORDER BY d.doc_id
    """,
    "per-doc boilerplate audit: corpus-repeated n-gram coverage",
)
def ext_boilerplate_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/RefinedWeb-style repeated-passage detection: token
    6-grams present in >= 3 distinct documents are boilerplate; each
    doc reports how many token positions they cover (coverage
    semantics — overlap/order independent, see
    operators/text.py:boilerplate_coverage)."""
    docs = spread_fixture(load_table(spark, sf_dir, "documents"))
    return text_ops.boilerplate_coverage(
        docs, n=BOILERPLATE_N, min_df=BOILERPLATE_MIN_DF
    ).orderBy("doc_id")


PAYLOAD_NGRAM_BYTES = 8
PAYLOAD_STRIDE = 4
PAYLOAD_THRESHOLD = 0.8


@_register(
    "ext_payload_neardup",
    f"""
    WITH d AS (
        -- byte semantics, not characters: hex(encode(text)) is a
        -- bijective ASCII image of the utf-8 BYTES, so a character
        -- substring at doubled offsets IS the byte window — matches
        -- Spark's substring-over-BINARY for non-ASCII text too
        SELECT doc_id, list_distinct(list_transform(
            range(1, greatest(octet_length(encode(text))
                              - {PAYLOAD_NGRAM_BYTES} + 1, 1) + 1,
                  {PAYLOAD_STRIDE}),
            i -> substring(hex(encode(text)), 2 * i - 1,
                           2 * {PAYLOAD_NGRAM_BYTES}))) AS sh
        FROM documents
    )
    SELECT a.doc_id AS i, b.doc_id AS j,
           round(len(list_intersect(a.sh, b.sh)) * 1e0
                 / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
                 4) AS jaccard
    FROM d a JOIN d b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh)) * 1e0
          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
          >= {PAYLOAD_THRESHOLD}
    ORDER BY i, j
    """,
    "binary-payload near-dup: strided byte-shingle MinHash fingerprints",
)
def ext_payload_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec-free multimodal dedup (operators/multimodal.py:
    payload_near_duplicates): the payload here is the utf-8 encoding
    of the text column (attach_payload — fixtures carry no real
    media), and the DuckDB oracle states the SAME strided byte
    shingles over hex(encode(text)) — a bijective byte-window image,
    so Jaccard is engine-identical even for non-ASCII text; on real
    media bytes the plan is identical. The oracle is the exact
    all-pairs Jaccard; the Spark
    build is the MinHash/LSH scale path whose verified-candidate
    output must equal it (the planted duplicates are byte-near-exact,
    far above the LSH S-curve knee at 0.8)."""
    docs = spread_fixture(load_table(spark, sf_dir, "documents"))
    with_payload = mm_ops.attach_payload(docs)
    return mm_ops.payload_near_duplicates(
        with_payload,
        threshold=PAYLOAD_THRESHOLD,
        n_bytes=PAYLOAD_NGRAM_BYTES,
        stride=PAYLOAD_STRIDE,
    ).orderBy("i", "j")


MIX_ALPHA = 0.5
MIX_BUDGET = 300


@_register(
    "ext_temperature_mix",
    f"""
    WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
    s AS (SELECT sum(pow(n, {MIX_ALPHA})) AS s FROM c),
    q AS (
        SELECT source,
               least(n, CAST(floor(round({MIX_BUDGET} *
                   round(pow(n, {MIX_ALPHA}) / s.s, 12), 6)) AS BIGINT)) AS quota
        FROM c, s
    ),
    r AS (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id
               ) AS rn
        FROM documents
    )
    SELECT r.doc_id, r.source FROM r JOIN q USING (source)
    WHERE rn <= quota
    ORDER BY source, doc_id
    """,
    "temperature-flattened source mix (UniMax-style sub-linear caps)",
)
def ext_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix composition: per-source quotas proportional to
    n^alpha (operators/sampling.py:temperature_sample) — dominant
    sources capped sub-linearly, low-resource sources kept whole,
    selection by the shared md5 priority space so the mix is stable
    under repartitioning and engine-portable."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        samp_ops.temperature_sample(docs, "source", "doc_id", MIX_ALPHA, MIX_BUDGET)
        .select("doc_id", "source")
        .orderBy("source", "doc_id")
    )


LENGTH_BUCKETS = [16, 32, 64]


@_register(
    "ext_length_buckets",
    f"""
    WITH t AS (
        SELECT len(string_split(text, ' ')) AS n,
               CASE WHEN len(string_split(text, ' ')) <= 16 THEN 16
                    WHEN len(string_split(text, ' ')) <= 32 THEN 32
                    ELSE 64 END AS cap
        FROM documents
    )
    SELECT cap,
           count(*) AS n_docs,
           CAST(sum(n) AS BIGINT) AS sum_tokens,
           CAST(sum(greatest(cap - n, 0)) AS BIGINT) AS padded_tokens,
           CAST(sum(greatest(n - cap, 0)) AS BIGINT) AS truncated_tokens,
           CAST(floor(sum(greatest(cap - n, 0)) * 10000.0 / (count(*) * cap) + 0.5) AS BIGINT) AS pad_bp
    FROM t GROUP BY cap ORDER BY cap
    """,
    "sequence-length bucketing audit: padding + truncation waste per cap",
)
def ext_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The padding-waste audit a training loader's bucketing policy is
    chosen from (operators/chunking.py:length_bucket_stats); context
    packing (ext_context_packing) is the zero-padding alternative this
    table justifies or rejects."""
    from ..operators import chunking as chunk_ops

    docs = load_table(spark, sf_dir, "documents")
    return chunk_ops.length_bucket_stats(docs, LENGTH_BUCKETS)


BIGRAM_VOCAB_N = 30


@_register(
    "ext_bigram_surprisal",
    f"""
    WITH toks AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    vocab AS (
        SELECT token FROM (
            SELECT token, count(*) AS cnt FROM toks GROUP BY token
            ORDER BY cnt DESC, token ASC LIMIT {BIGRAM_VOCAB_N}
        )
    ),
    vlist AS (SELECT list(token) AS vs FROM vocab),
    d AS (
        SELECT doc_id, lang,
               list_transform(string_split(text, ' '),
                   t -> CASE WHEN list_contains(vl.vs, t) THEN t
                             ELSE '<unk>' END) AS s
        FROM documents, vlist vl
    ),
    bg AS (
        SELECT doc_id, lang, s[i] AS w1, s[i + 1] AS w2
        FROM d, unnest(generate_series(1, len(s) - 1)) AS g(i)
    ),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY 1),
    scored AS (
        SELECT bg.doc_id, bg.lang,
               -ln((c12.c12 + 1e0) / (c1.c1 + {BIGRAM_VOCAB_N + 1}e0)) AS s
        FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
    ),
    per_doc AS (
        SELECT doc_id, lang, count(*) AS n_bigrams, avg(s) AS surprisal
        FROM scored GROUP BY 1, 2
    )
    SELECT lang, count(*) AS n_docs,
           round(avg(surprisal), 4) AS avg_surprisal,
           round(max(surprisal), 4) AS max_surprisal
    FROM per_doc GROUP BY lang ORDER BY lang
    """,
    "per-language mean bigram surprisal (order-sensitive LM quality signal)",
)
def ext_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The order-sensitive LM quality filter: documents scored by
    avg -ln p(w2|w1) under the add-one-smoothed corpus bigram LM over
    the closed top-N ∪ <unk> symbol set
    (operators/vocab.py:bigram_surprisal). The vocab literal is a
    driver-bounded top-N collect (same discipline as the unigram
    entry's two scalars); both count tables are (V+1)²-bounded
    broadcasts, so corpus text never shuffles."""
    docs = spread_fixture(load_table(spark, sf_dir, "documents"))
    voc = vocab_ops.vocab_build(docs, top_n=BIGRAM_VOCAB_N)
    vocab_tokens = [r.token for r in voc.orderBy(F.desc("cnt"), F.asc("token")).collect()]  # collect-bound: <= BIGRAM_VOCAB_N vocab rows
    scored = vocab_ops.bigram_surprisal(docs, vocab_tokens)
    per_doc = scored.join(docs.select("doc_id", "lang"), "doc_id")
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("surprisal"), 4).alias("avg_surprisal"),
            F.round(F.max("surprisal"), 4).alias("max_surprisal"),
        )
        .orderBy("lang")
    )


RERANK_K = 10


@_register(
    "ext_rerank_stub",
    f"""
    WITH {_BM25_SQL_CTES},
    cand AS (
        SELECT doc_id FROM bm25
        ORDER BY score DESC, doc_id ASC LIMIT {RRF_DEPTH}
    )
    SELECT doc_id,
           CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
               '|', '{BM25_KEYWORD}')), 1, 8)) AS BIGINT) / 4294967296.0
               AS rerank_score
    FROM cand
    ORDER BY rerank_score DESC, doc_id ASC
    LIMIT {RERANK_K}
    """,
    "stubbed learned reranker over the BM25 candidate stage",
)
def ext_rerank_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-encoder slot (operators/retrieval.py:rerank_stub): BM25
    cuts the corpus to a query-bounded candidate frame, only those
    rows pass through the Arrow-batched scorer. The fake score is a
    pure md5 function of (doc_id, query) — the exact representable
    double i/2^32, no rounding needed — so the driver gates the whole
    mapInPandas round trip value-for-value."""
    docs = spread_fixture(load_table(spark, sf_dir, "documents"))
    cand = text_ops.bm25_topk(docs, BM25_KEYWORD, k=RRF_DEPTH)
    return (
        retr_ops.rerank_stub(cand, BM25_KEYWORD)
        .orderBy(F.desc("rerank_score"), F.asc("doc_id"))
        .limit(RERANK_K)
    )


@_register(
    "ext_feature_rerank",
    f"""
    WITH {_BM25_SQL_CTES},
    cands AS (
        SELECT doc_id, score FROM bm25
        ORDER BY score DESC, doc_id ASC LIMIT {RRF_DEPTH}
    ),
    f AS (
        SELECT c.doc_id, c.score, d.t,
               list_filter(range(1, len(d.t) + 1), i -> d.t[i] = 'spark') AS p0,
               list_filter(range(1, len(d.t) + 1), i -> d.t[i] = 'join') AS p1,
               list_filter(range(1, len(d.t) + 1), i -> d.t[i] = 'window') AS p2
        FROM cands c JOIN d ON c.doc_id = d.doc_id
    ),
    s AS (
        SELECT doc_id,
               CAST(floor(score * 10000 + 0.5) AS BIGINT) AS bm25_micro,
               CAST((len(p0) > 0)::INT + (len(p1) > 0)::INT
                    + (len(p2) > 0)::INT AS INTEGER) AS cover,
               CAST(len(list_filter(p0,
                    p -> t[p + 1] = 'join' AND t[p + 2] = 'window')) > 0
                    AS INTEGER) AS phrase,
               CAST(least(
                   least(coalesce(list_min(flatten(list_transform(p0,
                       p -> list_transform(p1, q -> abs(p - q))))), 10), 10),
                   least(coalesce(list_min(flatten(list_transform(p1,
                       p -> list_transform(p2, q -> abs(p - q))))), 10), 10)
               ) AS INTEGER) AS min_gap
        FROM f
    )
    SELECT doc_id,
           CAST(bm25_micro + cover * 2000 + phrase * 5000
                + (10 - min_gap) * 100 AS BIGINT) AS score_micro,
           cover, phrase, min_gap
    FROM s ORDER BY score_micro DESC, doc_id ASC
    LIMIT {RERANK_K}
    """,
    "feature-based second-stage rerank: BM25 + coverage + phrase + proximity",
)
def ext_feature_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL scorer in the reranker slot (operators/retrieval.py:
    feature_rerank — the classic LTR feature set with fixed integer
    weights; rerank_stub keeps the neural cross-encoder slot open):
    BM25 cuts to RRF_DEPTH candidates, then per-candidate coverage /
    exact-phrase / adjacent-term-proximity features rescore in an
    all-integer micro-space, so ordering and ties are bit-stable
    across engines. The phrase and proximity features distinguish a
    document CONTAINING 'spark join window' as a run from one that
    merely mentions the words — the signal bag-of-words BM25 cannot
    express."""
    docs = spread_fixture(load_table(spark, sf_dir, "documents"))
    return retr_ops.feature_rerank(
        docs, BM25_KEYWORD, k=RERANK_K, depth=RRF_DEPTH
    )


@_register(
    "ext_leakage_safe_splits",
    f"""
    WITH RECURSIVE d AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        FROM documents WHERE lang = '{JACCARD_LANG}'
    ),
    p AS (
        SELECT a.doc_id AS i, b.doc_id AS j
        FROM d a JOIN d b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.toks, b.toks)) * 1e0
              / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
              >= {JACCARD_THRESHOLD}
    ),
    edges AS (SELECT i AS a, j AS b FROM p UNION SELECT j, i FROM p),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    closure AS (SELECT a, b FROM reach UNION SELECT a, a FROM edges),
    labels AS (SELECT a AS node, min(b) AS component FROM closure GROUP BY a),
    keyed AS (
        SELECT d.doc_id, coalesce(l.component, d.doc_id) AS group_key
        FROM d LEFT JOIN labels l ON d.doc_id = l.node
    )
    SELECT split, count(*) AS n_docs,
           count(DISTINCT group_key) AS n_groups
    FROM (SELECT group_key, {_split_case_sql('group_key')} AS split FROM keyed)
    GROUP BY split ORDER BY split
    """,
    "leakage-safe splits: near-dup components share train/val/test fate",
)
def ext_leakage_safe_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware splitting (operators/sampling.py:dedup_aware_split):
    the split hash keys on the near-dup component canonical id, so
    fuzzy duplicates can never land train-side AND eval-side — the
    leakage a per-doc hash split allows whenever dedup wasn't perfect.
    Composition of three gated kernels (exact Jaccard pairs ->
    connected components -> md5 split buckets); the oracle restates
    the same fixpoint as a recursive transitive closure."""
    # spread_fixture on the TOKENIZE branch only (the
    # ext_jaccard_neardup measurement, applied family-wide in r12);
    # the split consumer is a narrow id join + agg — no CPU-heavy
    # per-row kernel — so it reads the plain scan and skips the
    # repartition exchange the spread would add (r13, guide §2.4)
    docs = spread_fixture(load_table(spark, sf_dir, "documents")).filter(
        F.col("lang") == JACCARD_LANG
    )
    pairs = nd_ops.token_jaccard_pairs(docs, JACCARD_THRESHOLD)
    labels = comp_ops.connected_components(pairs)
    docs_plain = load_table(spark, sf_dir, "documents").filter(
        F.col("lang") == JACCARD_LANG
    )
    assigned = samp_ops.dedup_aware_split(docs_plain, labels, SPLITS)
    return (
        assigned.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("group_key").alias("n_groups"),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# Round-6 queue: registered past the r5 driver window (plans/__init__
# seats them in the r6 rotation), oracle-verified by pytest at both
# SFs from day one like every other entry.
# ---------------------------------------------------------------------------
CONTAINMENT_THRESHOLD = 0.9

_CLOSURE_CTES = f"""
    d AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        FROM documents WHERE lang = '{JACCARD_LANG}'
    ),
    p AS (
        SELECT a.doc_id AS i, b.doc_id AS j
        FROM d a JOIN d b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.toks, b.toks)) * 1e0
              / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
              >= {JACCARD_THRESHOLD}
    ),
    edges AS (SELECT i AS a, j AS b FROM p UNION SELECT j, i FROM p),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    closure AS (SELECT a, b FROM reach UNION SELECT a, a FROM edges),
    labels AS (SELECT a AS node, min(b) AS component FROM closure GROUP BY a)
"""


@_register(
    "ext_keep_best_dedup",
    f"""
    WITH RECURSIVE {_CLOSURE_CTES},
    m AS (
        SELECT doc_id, n_chars FROM documents WHERE lang = '{JACCARD_LANG}'
    ),
    lab AS (
        SELECT m.doc_id, coalesce(l.component, m.doc_id) AS comp, m.n_chars
        FROM m LEFT JOIN labels l ON m.doc_id = l.node
    ),
    best AS (
        SELECT doc_id, n_chars,
               row_number() OVER (
                   PARTITION BY comp ORDER BY n_chars DESC, doc_id ASC
               ) AS rn
        FROM lab
    )
    SELECT doc_id, n_chars FROM best WHERE rn = 1 ORDER BY doc_id
    """,
    "quality-aware dedup: keep each near-dup component's best-scoring member",
)
def ext_keep_best_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection
    (operators/components.py:keep_best): near-dup groups mix a clean
    original with truncated/boilerplate-wrapped copies; min-id
    keep_canonical picks arbitrarily among them, this keeps the member
    worth training on (here: longest by n_chars, ties -> min id). One
    window shuffle on the component label; the oracle restates the
    component fixpoint as a recursive transitive closure plus the same
    argmax window."""
    # spread_fixture on the TOKENIZE branch only (r12 measurement);
    # the keep-best consumer is a narrow (id, score) join + window —
    # plain scan, no repartition exchange (r13, guide §2.4)
    docs = spread_fixture(load_table(spark, sf_dir, "documents")).filter(
        F.col("lang") == JACCARD_LANG
    )
    pairs = nd_ops.token_jaccard_pairs(docs, JACCARD_THRESHOLD)
    labels = comp_ops.connected_components(pairs)
    docs_plain = load_table(spark, sf_dir, "documents").filter(
        F.col("lang") == JACCARD_LANG
    )
    return (
        comp_ops.keep_best(docs_plain, labels, score_col="n_chars")
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    )


@_register(
    "ext_curation_bundle",
    f"""
    WITH RECURSIVE {_CLOSURE_CTES},
    keyed AS (
        SELECT d.doc_id, coalesce(l.component, d.doc_id) AS group_key
        FROM d LEFT JOIN labels l ON d.doc_id = l.node
    ),
    m AS (
        SELECT doc_id, n_chars FROM documents WHERE lang = '{JACCARD_LANG}'
    ),
    lab AS (
        SELECT m.doc_id, coalesce(l.component, m.doc_id) AS comp, m.n_chars
        FROM m LEFT JOIN labels l ON m.doc_id = l.node
    ),
    best AS (
        SELECT doc_id FROM (
            SELECT doc_id,
                   row_number() OVER (
                       PARTITION BY comp ORDER BY n_chars DESC, doc_id ASC
                   ) AS rn
            FROM lab
        ) WHERE rn = 1
    )
    SELECT k.split, count(*) AS n_docs,
           count(DISTINCT k.group_key) AS n_groups,
           count(b.doc_id) AS n_kept
    FROM (SELECT doc_id, group_key, {_split_case_sql('group_key')} AS split
          FROM keyed) k
    LEFT JOIN best b USING (doc_id)
    GROUP BY k.split ORDER BY k.split
    """,
    "pair-graph reuse: one near-dup graph feeds components + keep-best + splits",
)
def ext_curation_bundle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation path (operators/sampling.py:
    curation_bundle, round-5 verdict perf item 6): ext_neardup_
    components, ext_keep_best_dedup, and ext_leakage_safe_splits each
    re-derive the exact-Jaccard pair graph as independent declared
    entries; a real pipeline computes it ONCE. This entry derives the
    pairs once, labels their components once, and emits the
    per-split accounting for BOTH consumers (leakage groups + keep-
    best survivors) — the bench row is the evidence the shared path
    costs one graph derivation, not three."""
    # spread_fixture on the TOKENIZE branch only (r12 measurement);
    # the bundle's fused consumer pass reads a narrow (id, score)
    # projection off the plain scan (r13, guide §2.4)
    docs = spread_fixture(load_table(spark, sf_dir, "documents")).filter(
        F.col("lang") == JACCARD_LANG
    )
    pairs = nd_ops.token_jaccard_pairs(docs, JACCARD_THRESHOLD)
    docs_plain = load_table(spark, sf_dir, "documents").filter(
        F.col("lang") == JACCARD_LANG
    )
    return samp_ops.curation_bundle(docs_plain, pairs, SPLITS, score_col="n_chars")


# Brute-force containment oracle: every pair of bigram-shingle sets,
# both directions, exact denominators.
_CONTAINMENT_ORACLE = f"""
    WITH d AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(string_split(text, ' '))),
                             i -> array_to_string((string_split(text, ' '))[i:i+1], ' '))) AS toks
        FROM documents WHERE lang = '{JACCARD_LANG}'
          AND len(string_split(text, ' ')) >= 2
    ),
    p AS (
        SELECT a.doc_id AS i, b.doc_id AS j,
               len(list_intersect(a.toks, b.toks)) AS inter,
               len(a.toks) AS szi, len(b.toks) AS szj
        FROM d a JOIN d b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.toks, b.toks)) > 0
    ),
    directed AS (
        -- filter on the UNROUNDED ratio (house style, as the Jaccard
        -- oracles do) and round only in the projection: a true value
        -- in [t - 5e-5, t) must not survive via round-up
        SELECT i AS contained, j AS container, inter * 1e0 / szi AS c
        FROM p WHERE inter * 1e0 / szi >= {CONTAINMENT_THRESHOLD}
        UNION ALL
        SELECT j, i, inter * 1e0 / szj
        FROM p WHERE inter * 1e0 / szj >= {CONTAINMENT_THRESHOLD}
    )
    SELECT contained, container, round(c, 4) AS containment
    FROM directed
    ORDER BY contained, container
    """


@_register(
    "ext_containment_pairs",
    _CONTAINMENT_ORACLE,
    "asymmetric containment pairs: quote/snippet reuse symmetric Jaccard misses",
)
def ext_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broder containment |A∩B|/|A| >= 0.9 over word-BIGRAM shingles
    (operators/neardup.py:array_containment_pairs): a short document
    quoted inside a long one scores near-1 containment but low Jaccard
    (the union is dominated by the long doc), so symmetric dedup never
    flags it. Shingles, not unigram tokens, are the quote-detection
    space — quotes preserve token ORDER, and on this templated corpus
    unigram containment is mostly vocabulary-overlap noise (168k
    directed pairs at sf0.1 vs the meaningful shingle set). One
    posting self-join counts each unordered pair's intersection ONCE;
    both directions are emitted with their own denominators. Exact
    kernel on the bounded language partition. MinHash banding cannot
    serve here: band collisions track Jaccard, which is ~0.1 for
    exactly the quote-in-page pairs this operator exists to find."""
    docs = spread_fixture(load_table(spark, sf_dir, "documents")).filter(
        (F.col("lang") == JACCARD_LANG) & (F.size(F.split("text", " ")) >= 2)
    )
    return nd_ops.array_containment_pairs(
        nd_ops.shingle_sets(docs, 2), CONTAINMENT_THRESHOLD
    ).orderBy("contained", "container")


_BM25_INDEX_CACHE: dict = {}


@_register(
    "ext_bm25_indexed",
    f"""
    WITH {_BM25_SQL_CTES}
    SELECT doc_id, score FROM bm25
    ORDER BY score DESC, doc_id ASC
    LIMIT {BM25_K}
    """,
    "BM25 top-k from the persisted postings index (bit-equal to the corpus scan)",
)
def ext_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 served from the inverted index instead of a corpus scan
    (operators/bm25index.py) — the engine-grade form of the
    reference's always-fresh ES index (utils/MyEsUtil.scala ingest +
    PublisherServiceImpl.java:84-99 search): tb-bucketed postings with
    denormalized (tf, dl), additive corpus-stats partials, per-term
    dfs read exactly from the pruned posting lists. The oracle is the
    CORPUS-SCAN BM25 SQL — the index must reproduce it bit-for-bit
    (fixed term-order FP addition, 4-dp round, id tiebreak). The
    declared build derives postings in memory for the oracle pair; the
    bench build times the recurring cost — the partition-pruned probe
    over the STORED layout (streaming ingest twin:
    streaming/pipelines.py:bm25_index_pipeline)."""
    docs = spread_fixture(load_table(spark, sf_dir, "documents"))
    postings = bi_ops.bm25_postings(docs)
    stats = bi_ops.bm25_stats_partial(docs)
    return bi_ops.bm25_index_topk(postings, stats, BM25_KEYWORD, k=BM25_K)


@_bench("ext_bm25_indexed")
def _bench_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator-only bench: the per-query cost at scale is the pruned
    probe over the persisted index; building it is one-off ingest
    (exactly the PQ/IVF/LSH bench discipline)."""
    import os

    path = _BM25_INDEX_CACHE.get(sf_dir)
    if path is None:
        docs = spread_fixture(load_table(spark, sf_dir, "documents"))
        tmp = _bench_tmpdir("gmall_bm25_index_")
        path = os.path.join(tmp, "idx")
        bi_ops.bm25_write_index(docs, path)
        _BM25_INDEX_CACHE[sf_dir] = path
    postings, stats = bi_ops.bm25_read_index(spark, path)
    return bi_ops.bm25_index_topk(postings, stats, BM25_KEYWORD, k=BM25_K)


# ---------------------------------------------------------------------------
# Round-6 addition: substring-level dedup (exact duplicate-span scrub)
# ---------------------------------------------------------------------------
DUPSPAN_N = 8


@_register(
    "ext_dupspan_scrub",
    f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    o AS (
        SELECT doc_id, i AS pos,
               array_to_string(t[i:i + {DUPSPAN_N} - 1], ' ') AS gram
        FROM d, unnest(generate_series(1, len(t) - {DUPSPAN_N} + 1)) AS g(i)
    ),
    r AS (
        SELECT doc_id, pos,
               row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
        FROM o
    ),
    cov AS (
        SELECT DISTINCT r.doc_id, c.p
        FROM r, unnest(generate_series(r.pos, r.pos + {DUPSPAN_N} - 1)) AS c(p)
        WHERE r.rn > 1
    ),
    badl AS (SELECT doc_id, list(p ORDER BY p) AS bad_pos FROM cov GROUP BY 1)
    SELECT d.doc_id,
           len(t) AS n_tokens,
           COALESCE(len(bad_pos), 0) AS removed_tokens,
           -- array_to_string(NULL-free empty list) is NULL in DuckDB;
           -- Spark's array_join gives '' — coalesce to the Spark value
           -- for the fully-scrubbed-document case
           COALESCE(array_to_string(
               list_transform(
                   list_filter(generate_series(1, len(t)),
                               i -> bad_pos IS NULL
                                    OR NOT list_contains(bad_pos, i)),
                   i -> t[i]), ' '), '') AS kept_text
    FROM d LEFT JOIN badl USING (doc_id)
    ORDER BY d.doc_id
    """,
    "substring dedup: scrub duplicated 8-gram spans, keep first occurrence",
)
def ext_dupspan_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-span removal (operators/text.py:dup_span_scrub):
    every token 8-gram occurring more than once corpus-wide keeps only
    its (min doc_id, min pos) occurrence; covered positions elsewhere
    are scrubbed and the surviving text is emitted. The oracle restates
    canonical-first via a row_number window — provably the same winner
    as the Spark build's partial-aggregable min(struct(doc_id, pos)).
    Catches verbatim passage reuse that document-level Jaccard and the
    audit-only boilerplate dictionary both leave in the corpus."""
    docs = spread_fixture(load_table(spark, sf_dir, "documents"))
    return text_ops.dup_span_scrub(docs, n=DUPSPAN_N).orderBy("doc_id")


@_register(
    "ext_sq8_topk",
    f"""
    WITH mm AS (
        SELECT i AS dim,
               min(CAST(embedding[i] AS DOUBLE)) AS lo,
               max(CAST(embedding[i] AS DOUBLE)) AS hi
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(i)
        GROUP BY 1
    ),
    mml AS (
        SELECT list(lo ORDER BY dim) AS lov, list(hi ORDER BY dim) AS hiv
        FROM mm
    ),
    q AS (
        SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        FROM embeddings WHERE vec_id = {TOPK_QUERY_VEC_ID}
    ),
    dq AS (
        SELECT e.vec_id,
               list_transform(generate_series(1, len(e.embedding)), i ->
                 CASE WHEN hiv[i] > lov[i]
                      THEN lov[i]
                           + floor((CAST(e.embedding[i] AS DOUBLE) - lov[i])
                                   / (hiv[i] - lov[i]) * 255e0 + 0.5e0)
                             * (hiv[i] - lov[i]) / 255e0
                      ELSE lov[i] END) AS dv
        FROM embeddings e, mml
    ),
    scored AS (
        SELECT vec_id,
               round(list_inner_product(dv, qv)
                     / (sqrt(list_inner_product(dv, dv))
                        * sqrt(list_inner_product(qv, qv))), 4) AS score
        FROM dq, q
    )
    SELECT vec_id, score FROM scored
    ORDER BY score DESC, vec_id ASC
    LIMIT {TOPK_K}
    """,
    "scalar-quantized (int8) ANN: dequantized-cosine top-k, 4x smaller scan",
)
def ext_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar quantization rounds out the ANN family (brute cosine /
    LSH / IVF / PQ): per-dim (min, max) train, int8 codes at rest,
    dequantized cosine against a full-precision query
    (operators/similarity.py:sq8_topk). Unlike the hash-family
    variants this one is EXACTLY SQL-restatable — the oracle re-derives
    the quantizer (per-dim min/max via the positioned-unnest idiom),
    re-encodes with the same floor(x + 0.5) integer discipline, and
    scores identically, so the driver value-hashes the whole
    train->encode->search path, not just an invariant."""
    emb = load_table(spark, sf_dir, "embeddings")
    lo, hi = sim_ops.sq8_train(emb)
    q = sim_ops.query_vector(emb, TOPK_QUERY_VEC_ID)
    return sim_ops.sq8_topk(emb, q, lo, hi, k=TOPK_K)


@_register(
    "ext_salted_hot_key_agg",
    """
    SELECT event_type,
           CAST(sum(CAST(floor(value * 100e0) AS BIGINT)) AS BIGINT) AS sum_cents,
           count(*) AS n_events,
           min(CAST(floor(value * 100e0) AS BIGINT)) AS min_cents,
           max(CAST(floor(value * 100e0) AS BIGINT)) AS max_cents
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    "skew-safe salted two-phase aggregation over pathological hot keys",
)
def ext_salted_hot_key_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-key groupBy survival kit as a declared, driver-gated
    entry (operators/skew.py:salted_agg): event_type holds a handful
    of values over the whole events table — exactly the distribution
    that funnels one reduce task at 100 TB. Phase 1 groups on
    (key, xxhash64-salt) so each hot key spreads over 16 subtasks;
    phase 2 combines 16 partial rows per key. The oracle is the plain
    single-phase GROUP BY the salted plan must reproduce exactly —
    all aggregates ride as integer cents (floor(value*100), identical
    both engines), so the two-phase double-sum fold-order hazard
    never reaches the hash. Deterministic salting (xxhash64 of the
    aggregated value, not rand()) keeps replays and task retries in
    the same bucket."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "cents", F.floor(F.col("value") * F.lit(100.0)).cast("long")
    )
    out = skew_ops.salted_agg(
        ev,
        ["event_type"],
        {
            "sum_cents": ("sum", "cents"),
            "n_events": ("count", "cents"),
            "min_cents": ("min", "cents"),
            "max_cents": ("max", "cents"),
        },
        salt=16,
    )
    return out.orderBy("event_type")


# ---------------------------------------------------------------------------
# Round-6 additions (second wave): Gopher rule suite, DSIR importance
# resampling, dedup audit histogram, semantic decontamination, salted
# skew join
# ---------------------------------------------------------------------------
_GOPHER_STOP_SQL = "[" + ", ".join(
    f"'{w}'"
    for w in sorted({w for ws in text_ops.LANG_STOPWORDS.values() for w in ws})
) + "]"
_G = text_ops.GOPHER_THRESHOLDS


@_register(
    "ext_gopher_report",
    f"""
    WITH t AS (
        SELECT doc_id, text, string_split(text, ' ') AS sp FROM documents
    ),
    sig AS (
        SELECT doc_id,
               len(sp) AS n_tokens,
               round((length(text) - (len(sp) - 1) * 1e0) / len(sp), 4) AS mtl,
               round(len(list_filter(sp, x -> list_contains({_GOPHER_STOP_SQL}, x))) * 1e0
                     / len(sp), 4) AS sr,
               round(CAST(len(list_distinct(sp)) AS DOUBLE) / len(sp), 4) AS dtr,
               CASE WHEN len(sp) >= 2 THEN
                 round(1 - CAST(len(list_distinct(list_transform(range(1, len(sp)),
                         i -> array_to_string(sp[i:i+1], ' ')))) AS DOUBLE)
                         / (len(sp) - 1), 4)
               ELSE 0.0 END AS rbf
        FROM t
    ),
    f AS (
        SELECT CASE WHEN rbf > {_G["max_repeated_bigram"]}e0 THEN 1 ELSE 0 END AS f_rep,
               CASE WHEN dtr < {_G["min_distinct_ratio"]}e0 THEN 1 ELSE 0 END AS f_dtr,
               CASE WHEN sr < {_G["min_stopword_ratio"]}e0 THEN 1 ELSE 0 END AS f_sr,
               CASE WHEN mtl < {_G["mean_token_len_lo"]}e0
                      OR mtl > {_G["mean_token_len_hi"]}e0 THEN 1 ELSE 0 END AS f_mtl,
               CASE WHEN n_tokens < {_G["min_tokens"]} THEN 1 ELSE 0 END AS f_few,
               CASE WHEN n_tokens > {_G["max_tokens"]} THEN 1 ELSE 0 END AS f_many
        FROM sig
    )
    SELECT rule, n_docs FROM (
        SELECT 'high_repeated_bigrams' AS rule, CAST(sum(f_rep) AS BIGINT) AS n_docs FROM f
        UNION ALL SELECT 'low_distinct_ratio', CAST(sum(f_dtr) AS BIGINT) FROM f
        UNION ALL SELECT 'low_stopword_ratio', CAST(sum(f_sr) AS BIGINT) FROM f
        UNION ALL SELECT 'mean_token_len_out_of_range', CAST(sum(f_mtl) AS BIGINT) FROM f
        UNION ALL SELECT 'too_few_tokens', CAST(sum(f_few) AS BIGINT) FROM f
        UNION ALL SELECT 'too_many_tokens', CAST(sum(f_many) AS BIGINT) FROM f
        UNION ALL SELECT 'kept_docs',
            CAST(sum(CASE WHEN f_rep + f_dtr + f_sr + f_mtl + f_few + f_many = 0
                          THEN 1 ELSE 0 END) AS BIGINT) FROM f
    ) ORDER BY rule
    """,
    "Gopher-style quality rule suite with per-rule drop accounting",
)
def ext_gopher_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published corpus-filter recipe (Gopher A1.1) as one
    map-only rule pass + a constant-size report
    (operators/text.py:gopher_rules/gopher_report). Every rule
    compares a 4dp-ROUNDED signal against its threshold so knife-edge
    docs classify identically in both engines; the report shuffles a
    single 7-value row. Analogous reference surface: the eligibility
    filters in front of every gmall DWS rollup (ads_uv_count's
    is_new/total split) generalized to a rule table."""
    docs = spread_fixture(load_table(spark, sf_dir, "documents"))
    return text_ops.gopher_report(docs)


DSIR_TARGET_SOURCE = "src0"
DSIR_K = 50
_DSIR_B = 1024  # importance feature buckets (importance.DSIR_BUCKETS)
_DSIR_BUCKET_SQL = "CAST(concat('0x', substr(md5(token), 1, 8)) AS BIGINT) % " + str(_DSIR_B)


@_register(
    "ext_dsir_sample",
    f"""
    WITH tgt_tok AS (
        SELECT unnest(string_split(text, ' ')) AS token
        FROM documents WHERE source = '{DSIR_TARGET_SOURCE}'
    ),
    pool_tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents WHERE source <> '{DSIR_TARGET_SOURCE}'
    ),
    tb AS (
        SELECT {_DSIR_BUCKET_SQL} AS bucket, count(*) AS tgt_cnt
        FROM tgt_tok GROUP BY 1
    ),
    pb AS (
        SELECT {_DSIR_BUCKET_SQL} AS bucket, count(*) AS src_cnt
        FROM pool_tok GROUP BY 1
    ),
    tot AS (
        SELECT (SELECT COALESCE(sum(tgt_cnt), 0) FROM tb) AS tt,
               (SELECT COALESCE(sum(src_cnt), 0) FROM pb) AS st
    ),
    w AS (
        SELECT bucket,
               CAST(round((ln((COALESCE(tgt_cnt, 0) + 1) / (tt + {_DSIR_B}e0))
                           - ln((COALESCE(src_cnt, 0) + 1) / (st + {_DSIR_B}e0)))
                          * 1e6) AS BIGINT) AS w_micro
        FROM tb FULL OUTER JOIN pb USING (bucket), tot
    ),
    pbk AS (
        SELECT doc_id, {_DSIR_BUCKET_SQL} AS bucket FROM pool_tok
    )
    SELECT doc_id, CAST(sum(w_micro) AS BIGINT) AS score_micro
    FROM pbk JOIN w USING (bucket)
    GROUP BY doc_id
    ORDER BY score_micro DESC, doc_id ASC
    LIMIT {DSIR_K}
    """,
    "DSIR importance resampling: hashed-unigram log-ratio selection vs a target set",
)
def ext_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target-conditioned data selection (operators/importance.py):
    score every pool document by the summed log-ratio of hashed-
    unigram likelihoods under the target ({DSIR_TARGET_SOURCE!r} docs)
    vs the pool itself, take the top {DSIR_K}. The md5 bucket space is
    the sampling family's engine-portable idiom; per-bucket weights
    freeze to integer micro-nats BEFORE the per-doc sum, so document
    scores are exact BIGINT arithmetic (shuffle-order-independent) and
    the single ln per bucket is the only float op (the ext_token_pmi
    discipline)."""
    docs = spread_fixture(load_table(spark, sf_dir, "documents"))
    target = docs.filter(F.col("source") == DSIR_TARGET_SOURCE)
    pool = docs.filter(F.col("source") != DSIR_TARGET_SOURCE)
    weights = imp_ops.dsir_weights(target, pool)
    return imp_ops.dsir_topk(pool, weights, k=DSIR_K)


@_register(
    "ext_dup_cluster_histogram",
    f"""
    WITH RECURSIVE d AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        FROM documents WHERE lang = '{JACCARD_LANG}'
    ),
    p AS (
        SELECT a.doc_id AS i, b.doc_id AS j
        FROM d a JOIN d b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.toks, b.toks)) * 1e0
              / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
              >= {JACCARD_THRESHOLD}
    ),
    edges AS (SELECT i AS a, j AS b FROM p UNION SELECT j, i FROM p),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    closure AS (SELECT a, b FROM reach UNION SELECT a, a FROM edges),
    labels AS (SELECT a AS node, min(b) AS component FROM closure GROUP BY a),
    sizes AS (SELECT component, count(*) AS size FROM labels GROUP BY 1),
    hist AS (SELECT size, count(*) AS n_clusters FROM sizes GROUP BY 1),
    singles AS (
        SELECT 1 AS size, count(*) AS n_clusters FROM d
        WHERE doc_id NOT IN (SELECT node FROM labels)
    )
    SELECT CAST(size AS BIGINT) AS size,
           CAST(sum(n_clusters) AS BIGINT) AS n_clusters
    FROM (SELECT * FROM hist UNION ALL SELECT * FROM singles) u
    GROUP BY size HAVING sum(n_clusters) > 0
    ORDER BY size
    """,
    "dedup audit: duplicate-cluster size histogram (singletons included)",
)
def ext_dup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-page dedup summary (operators/components.py:
    cluster_size_histogram): component sizes over the exact-Jaccard
    pair graph, un-clustered docs counted as size-1 clusters.
    Removable-row estimates read straight off it
    (sum((size-1) x n_clusters)). Tiny aggs over the label frame plus
    one anti-join; the oracle extends the components transitive
    closure with the same two aggs."""
    # spread_fixture on the TOKENIZE branch only (r12 measurement);
    # the singleton anti-join reads ids off the plain scan — no
    # repartition exchange on that branch (r13, guide §2.4)
    docs = spread_fixture(load_table(spark, sf_dir, "documents")).filter(
        F.col("lang") == JACCARD_LANG
    )
    pairs = nd_ops.token_jaccard_pairs(docs, JACCARD_THRESHOLD)
    labels = comp_ops.connected_components(pairs)
    docs_plain = load_table(spark, sf_dir, "documents").filter(
        F.col("lang") == JACCARD_LANG
    )
    return comp_ops.cluster_size_histogram(docs_plain, labels)


SEMANTIC_DECONTAM_EVAL_N = 10
SEMANTIC_DECONTAM_THRESHOLD = 0.95


@_register(
    "ext_semantic_decontam",
    f"""
    WITH ev AS (
        SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings WHERE vec_id < {SEMANTIC_DECONTAM_EVAL_N}
    ),
    c AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE vec_id >= {SEMANTIC_DECONTAM_EVAL_N}
    ),
    s AS (
        SELECT c.vec_id,
               max(list_inner_product(v, e)
                   / (sqrt(list_inner_product(v, v))
                      * sqrt(list_inner_product(e, e)))) AS m
        FROM c, ev GROUP BY 1
    )
    SELECT vec_id,
           round(m, 4) AS max_eval_sim4,
           CASE WHEN m >= {SEMANTIC_DECONTAM_THRESHOLD}e0 THEN 1 ELSE 0 END
               AS contaminated
    FROM s ORDER BY vec_id
    """,
    "embedding-space decontamination: max cosine vs a broadcast eval set",
)
def ext_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic leakage flagging (operators/decontam.py:
    semantic_decontam): the paraphrase-robust companion to the n-gram
    decontam family — eval vectors broadcast, the corpus never
    shuffles until the per-item max-sim agg (unique key, no skew).
    Flag compares the UNROUNDED max similarity (house rule: filter
    unrounded, round only display columns). The eval slice is the
    first {SEMANTIC_DECONTAM_EVAL_N} vec_ids — benchmark-sized by
    construction."""
    emb = load_table(spark, sf_dir, "embeddings")
    evals = emb.filter(F.col("vec_id") < SEMANTIC_DECONTAM_EVAL_N)
    corpus = emb.filter(F.col("vec_id") >= SEMANTIC_DECONTAM_EVAL_N)
    return decon_ops.semantic_decontam(
        corpus, evals, threshold=SEMANTIC_DECONTAM_THRESHOLD
    ).orderBy("vec_id")


@_register(
    "ext_salted_skew_join",
    """
    SELECT c.c_mktsegment AS mktsegment,
           CAST(sum(CAST(floor(e.value * 100e0) AS BIGINT)) AS BIGINT) AS sum_cents,
           count(*) AS n_events
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
    "skew-safe salted fact-dim join over pathological hot keys",
)
def ext_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-key JOIN survival kit (operators/skew.py:salted_join),
    companion to ext_salted_hot_key_agg: events.user_id holds ~15
    distinct values over the whole fact table — at 100 TB a plain
    shuffle join funnels each into one reduce task. The fact side
    salts on xxhash64(event_id) % 16 (deterministic — retries and
    replays re-bucket identically); the dim side replicates 16x
    (dim << fact, the right trade); the join key becomes
    (user_id, salt). The oracle is the plain join the salted plan
    must reproduce exactly; aggregates ride as integer cents."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = skew_ops.salted_join(
        ev, cust, "user_id", "c_custkey", salt=16, salt_on=["event_id"]
    )
    return (
        joined.groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.sum(F.floor(F.col("value") * F.lit(100.0)).cast("long")).alias(
                "sum_cents"
            ),
            F.count("*").cast("long").alias("n_events"),
        )
        .orderBy("mktsegment")
    )


# ---------------------------------------------------------------------------
# Round-6 additions (third wave): SoftDeDup weights, CCNet perplexity
# bands, greedy k-center coreset
# ---------------------------------------------------------------------------
@_register(
    "ext_soft_dedup_weights",
    """
    WITH fp AS (SELECT doc_id, md5(lower(text)) AS f FROM documents),
    c AS (SELECT f, CAST(count(*) AS BIGINT) AS dup_count FROM fp GROUP BY f)
    SELECT doc_id, dup_count,
           CAST(round(1e6 / dup_count) AS BIGINT) AS weight_micro
    FROM fp JOIN c USING (f)
    ORDER BY doc_id
    """,
    "SoftDeDup: per-document 1/dup_count training weights, integer micro-units",
)
def ext_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate DOWN-WEIGHTING instead of dropping (operators/
    dedup.py:soft_dedup_weights): every document keeps a training
    weight 1/dup_count frozen to integer micro-units, so common text
    still contributes proportionally — the soft companion to
    ext_fingerprint_dedup's hard keep-one. Digests shuffle, text never
    does; the weight table is exact BIGINT end to end (the fixed-point
    discipline every ratio-bearing entry follows after the
    ext_length_buckets render lesson)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup_ops.soft_dedup_weights(docs).orderBy("doc_id")


PPL_BANDS = 3


@_register(
    "ext_perplexity_bands",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    vocab AS (
        SELECT token, count(*) AS cnt FROM toks GROUP BY token
        ORDER BY cnt DESC, token ASC LIMIT {VOCAB_TOP_N}
    ),
    corpus AS (
        SELECT count(*) AS total, (SELECT count(*) FROM vocab) AS v FROM toks
    ),
    scored AS (
        SELECT t.doc_id,
               -ln((coalesce(w.cnt, 0) + 1e0) / (c.total + c.v + 1e0)) AS s
        FROM toks t LEFT JOIN vocab w ON t.token = w.token, corpus c
    ),
    per_doc AS (
        SELECT doc_id, avg(s) AS surprisal FROM scored GROUP BY 1
    )
    SELECT doc_id, round(surprisal, 4) AS surprisal4,
           CAST(ntile({PPL_BANDS}) OVER (ORDER BY round(surprisal, 4), doc_id)
                AS INTEGER) AS bucket
    FROM per_doc ORDER BY doc_id
    """,
    "CCNet-style head/middle/tail perplexity bands under the corpus LM",
)
def ext_perplexity_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet quality-banding recipe (Wenzek et al. 2020):
    equal-frequency surprisal terciles per document under the corpus
    unigram LM (operators/vocab.py:surprisal_buckets over
    unigram_surprisal). Band 1 = head (most in-distribution), the
    last band = tail. ntile ranks on the 4dp-ROUNDED surprisal with
    the PK tiebreak (the q23 decile discipline) so knife-edge docs
    band identically in both engines; at fact scale the operator
    docstring's approx_percentile-threshold variant replaces the
    global ntile."""
    docs = load_table(spark, sf_dir, "documents")
    voc = vocab_ops.vocab_build(docs, top_n=VOCAB_TOP_N)
    total = (
        vocab_ops.corpus_tokens(docs.select("text"))
        .agg(F.count("*").alias("n"))
        .collect()[0][0]  # collect-bound: 1-row agg
    )
    scored = vocab_ops.unigram_surprisal(
        docs, voc, total_tokens=total, vocab_size=voc.count()
    )
    return vocab_ops.surprisal_buckets(scored, n_buckets=PPL_BANDS).orderBy(
        "doc_id"
    )


KCENTER_K = 8
_KC_D = (
    "(list_inner_product({x}.v, {x}.v) - 2 * list_inner_product({x}.v, c.v)"
    " + list_inner_product(c.v, c.v))"
)


def _kcenter_oracle(k: int) -> str:
    """Unrolled k-round farthest-point CTE chain (the BPE unrolled-
    merge-oracle mechanism): round r argmaxes the least-distance
    column maintained incrementally via least(m.d, d_to_new_center).
    Distances state the SAME ip(v,v) - 2*ip(v,c) + ip(c,c)
    decomposition the Spark kernel evaluates, so the doubles agree
    bit-for-bit and the unrounded ORDER BY picks identical rows."""
    ctes = [
        "e AS (SELECT vec_id, list_transform(embedding,"
        " x -> CAST(x AS DOUBLE)) AS v FROM embeddings)",
        "c1 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1)",
    ]
    for r in range(2, k + 1):
        if r == 2:
            d = _KC_D.format(x="e")
            ctes.append(f"m1 AS (SELECT e.vec_id, e.v, {d} AS d FROM e, c1 c)")
        else:
            d = _KC_D.format(x="m")
            ctes.append(
                f"m{r - 1} AS (SELECT m.vec_id, m.v, least(m.d, {d}) AS d"
                f" FROM m{r - 2} m, c{r - 1} c)"
            )
        ctes.append(
            f"c{r} AS (SELECT vec_id, v, d FROM m{r - 1}"
            " ORDER BY d DESC, vec_id LIMIT 1)"
        )
    sel = ["SELECT CAST(1 AS INTEGER) AS sel_order, vec_id, 0e0 AS d2 FROM c1"]
    for r in range(2, k + 1):
        sel.append(f"SELECT CAST({r} AS INTEGER), vec_id, round(d, 4) FROM c{r}")
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\n"
        + "\nUNION ALL ".join(sel)
        + "\nORDER BY sel_order"
    )


@_register(
    "ext_kcenter_coreset",
    _kcenter_oracle(KCENTER_K),
    "greedy k-center coreset: farthest-point diversity selection over embeddings",
)
def ext_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-maximizing selection (operators/similarity.py:
    kcenter_coreset): Gonzalez farthest-point traversal, the standard
    coreset recipe — the coverage-bias complement to semantic dedup's
    cluster collapse. k-1 narrow map passes with literal broadcast
    centers + a top-1 TakeOrdered each; nothing but single rows ever
    shuffle. The oracle unrolls the same greedy rounds as a CTE chain
    with bit-identical double arithmetic."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.kcenter_coreset(emb, k=KCENTER_K)


@_register(
    "ext_oov_rate",
    f"""
    WITH toks AS (
        SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    vocab AS (
        SELECT token, count(*) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY token ORDER BY cnt DESC, token ASC LIMIT {VOCAB_TOP_N}
    )
    SELECT t.lang,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS oov_tokens,
           CAST(round(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
                      * 10000.0 / count(*)) AS BIGINT) AS oov_bp
    FROM toks t LEFT JOIN vocab v ON t.token = v.token
    GROUP BY t.lang ORDER BY t.lang
    """,
    "tokenizer health: per-language OOV rate under the bounded vocab, basis points",
)
def ext_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language out-of-vocabulary rate under the corpus top-N
    vocabulary (operators/vocab.py:oov_rate) — the tokenizer-health
    companion to ext_unigram_surprisal: a language whose tokens
    mostly miss the vocab trains as byte soup, so curation rebalances
    or widens the vocab before training. Narrow explode + broadcast
    vocab probe + one (lang)-keyed combine; the rate ships as integer
    basis points (no float on the contract)."""
    docs = spread_fixture(load_table(spark, sf_dir, "documents"))
    voc = vocab_ops.vocab_build(docs, top_n=VOCAB_TOP_N)
    return vocab_ops.oov_rate(docs, voc).orderBy("lang")


CONTRASTIVE_SEED = "cp1"


@_register(
    "ext_contrastive_pairs",
    f"""
    WITH d AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        FROM documents WHERE lang = '{JACCARD_LANG}'
    ),
    p AS (
        SELECT a.doc_id AS i, b.doc_id AS j
        FROM d a JOIN d b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.toks, b.toks)) * 1e0
              / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
              >= {JACCARD_THRESHOLD}
    ),
    sym AS (SELECT i AS anchor, j AS positive FROM p
            UNION ALL SELECT j, i FROM p),
    ring AS (
        SELECT doc_id AS anchor,
               md5(concat('{CONTRASTIVE_SEED}', '|',
                          CAST(doc_id AS VARCHAR))) AS h
        FROM d
    ),
    rb AS (SELECT anchor, h, substr(h, 1, 1) AS b FROM ring),
    neg AS (
        SELECT anchor,
               COALESCE(lead(anchor) OVER (PARTITION BY b ORDER BY h),
                        first_value(anchor) OVER (
                            PARTITION BY b ORDER BY h
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND UNBOUNDED FOLLOWING)) AS negative
        FROM rb
    ),
    negf AS (SELECT anchor, negative FROM neg WHERE negative <> anchor)
    SELECT s.anchor, s.positive, n.negative
    FROM sym s JOIN negf n USING (anchor)
    WHERE NOT EXISTS (SELECT 1 FROM sym s2
                      WHERE s2.anchor = s.anchor AND s2.positive = n.negative)
    ORDER BY anchor, positive
    """,
    "contrastive triplet mining: near-dup positives + deterministic ring negatives",
)
def ext_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(anchor, positive, negative) training triplets for embedding
    models (operators/mining.py:contrastive_pairs): positives from
    the near-dup pair graph (exact Jaccard here — the oracle kernel;
    MinHash at corpus scale, the documented swap), negatives from the
    salted-md5 ring (16 independent per-bucket windows — no global
    sort, no candidate join, no RNG state), with ring negatives that
    collide with a true near-dup dropped by one anti-join. The DPR /
    SimCSE bootstrap recipe as a declared, oracle-checked entry."""
    # spread_fixture: tokenize/posting build parallelizes (the
    # ext_jaccard_neardup measurement, applied family-wide in r12)
    docs = spread_fixture(load_table(spark, sf_dir, "documents")).filter(
        F.col("lang") == JACCARD_LANG
    )
    pairs = nd_ops.token_jaccard_pairs(docs, JACCARD_THRESHOLD)
    return mine_ops.contrastive_pairs(docs, pairs, seed=CONTRASTIVE_SEED).orderBy(
        "anchor", "positive"
    )


# ---------------------------------------------------------------------------
# Third-wave round-6 family: source-axis dedup audits, model-shaped
# quality gating, capped-multiplicity dedup, long-tail discovery.
# ---------------------------------------------------------------------------
@_register(
    "ext_source_dedup_report",
    """
    WITH fp AS (SELECT source, md5(lower(coalesce(text, ''))) AS f FROM documents),
    psf AS (SELECT source, f, count(*) AS cnt FROM fp GROUP BY 1, 2),
    sc AS (
        SELECT source, CAST(sum(cnt) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_unique
        FROM psf GROUP BY source
    ),
    fs AS (SELECT f, count(*) AS n_sources FROM psf GROUP BY f),
    cx AS (
        SELECT p.source, count(*) AS cross_src_fps
        FROM psf p JOIN fs USING (f)
        WHERE fs.n_sources >= 2 GROUP BY 1
    )
    SELECT s.source, s.n_docs, s.n_unique,
           CAST(round((s.n_docs - s.n_unique) * 10000.0 / s.n_docs) AS BIGINT)
               AS dup_bp,
           CAST(coalesce(cx.cross_src_fps, 0) AS BIGINT) AS cross_src_fps
    FROM sc s LEFT JOIN cx USING (source)
    ORDER BY source
    """,
    "per-source dedup audit: internal dup rate + cross-source content overlap",
)
def ext_source_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-axis duplication audit (operators/dedup.py:
    source_dedup_report): internal dup basis points per ingest source
    PLUS the count of fingerprints each source shares with at least
    one other source — mirrors and syndication show up as
    cross_src_fps long before any fuzzy matcher runs. The reference's
    per-channel monitoring counts (streaming/sinks.py:301 analog of
    its console/ES counters) turned into a content-identity report.
    Text digests map-side; both shuffles carry 32-char digests."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup_ops.source_dedup_report(docs).orderBy("source")


@_register(
    "ext_normalization_dedup",
    """
    WITH d AS (
        SELECT lang, md5(lower(text)) AS fr,
               md5(trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fn
        FROM documents
    )
    SELECT lang, count(*) AS n_docs,
           count(DISTINCT fr) AS uniq_raw,
           count(DISTINCT fn) AS uniq_norm,
           CAST(count(DISTINCT fr) - count(DISTINCT fn) AS BIGINT)
               AS norm_extra_dups
    FROM d GROUP BY lang ORDER BY lang
    """,
    "normalization-aware dedup: extra duplicates exposed by text canonicalization",
)
def ext_normalization_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many duplicates hide behind trivial reformatting
    (operators/dedup.py:normalization_dedup_report): raw-bytes unique
    count vs unique count after the C4/CCNet-style canonicalization
    (lowercase, strip non-alphanumerics, collapse whitespace), per
    language. Both digests are computed in the same scan projection
    inside whole-stage codegen — choosing the dedup KEY is free; this
    report is how a curator decides whether the raw or canonical
    fingerprint should drive ext_fingerprint_dedup's index."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup_ops.normalization_dedup_report(docs).orderBy("lang")


_HCW = text_ops.hashed_classifier_weight_sql("t")


@_register(
    "ext_hashed_classifier",
    f"""
    WITH s AS (
        SELECT lang,
               list_sum(list_transform(string_split(text, ' '),
                        t -> ({_HCW}))) AS score_sum
        FROM documents
    )
    SELECT lang, count(*) AS n_docs,
           CAST(sum(CASE WHEN score_sum >= 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_keep,
           CAST(sum(score_sum) AS BIGINT) AS sum_score
    FROM s GROUP BY lang ORDER BY lang
    """,
    "fastText-shape hashed linear quality gate scored in one narrow map pass",
)
def ext_hashed_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality gating in the fastText shape
    (operators/text.py:hashed_classifier_gate): hashed bag-of-words ->
    linear score -> keep/drop, the classifier-filter stage CCNet-style
    pipelines run after heuristic rules. Weights are hash-DERIVED
    (md5 arithmetic shared verbatim with the oracle via
    hashed_classifier_weight_sql — the formula IS the contract), the
    honest stand-in discipline of the reranker slot; trained weights
    drop in as a broadcast map without touching the plan. Scoring is
    one higher-order ``aggregate`` over the token array: no explode,
    no shuffle, whole-stage codegen end to end — the exact shape that
    scores 100 TB in a single narrow pass."""
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.hashed_classifier_gate(docs).orderBy("lang")


CLUSTER_CAP = 3
CLUSTER_CAP_SALT = "ccap1"


@_register(
    "ext_cluster_capped_sample",
    f"""
    WITH RECURSIVE d AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        FROM documents WHERE lang = '{JACCARD_LANG}'
    ),
    p AS (
        SELECT a.doc_id AS i, b.doc_id AS j
        FROM d a JOIN d b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.toks, b.toks)) * 1e0
              / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
              >= {JACCARD_THRESHOLD}
    ),
    edges AS (SELECT i AS a, j AS b FROM p UNION SELECT j, i FROM p),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    closure AS (SELECT a, b FROM reach UNION SELECT a, a FROM edges),
    labels AS (SELECT a AS node, min(b) AS component FROM closure GROUP BY a),
    g AS (
        SELECT d.doc_id, coalesce(l.component, d.doc_id) AS group_key
        FROM d LEFT JOIN labels l ON d.doc_id = l.node
    ),
    r AS (
        SELECT doc_id, group_key,
               row_number() OVER (
                   PARTITION BY group_key
                   ORDER BY substr(md5(CAST(doc_id AS VARCHAR)
                                       || '{CLUSTER_CAP_SALT}'), 1, 8),
                            doc_id
               ) AS rk
        FROM g
    )
    SELECT doc_id, group_key, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= {CLUSTER_CAP}
    ORDER BY doc_id
    """,
    "count-capped dedup: keep at most k members of each near-dup cluster",
)
def ext_cluster_capped_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The middle ground between hard dedup and SoftDeDup's
    down-weighting (operators/sampling.py:cluster_capped_sample): keep
    at most CLUSTER_CAP members per near-dup cluster — bounded
    multiplicity keeps popular-text signal while capping memorization
    risk (the C4 recipe allowed small duplication for exactly this
    reason). Members are chosen by the house md5-priority rank, so
    the kept set is engine- and partitioning-portable. Pair kernel
    here is the exact-Jaccard oracle baseline (the MinHash/prefix-
    filtered kernels swap in at scale, same label interface)."""
    # spread_fixture on the TOKENIZE branch only (r12 measurement);
    # the cap-rank consumer is a narrow id join + window — plain
    # scan, no repartition exchange (r13, guide §2.4)
    docs = spread_fixture(load_table(spark, sf_dir, "documents")).filter(
        F.col("lang") == JACCARD_LANG
    )
    pairs = nd_ops.token_jaccard_pairs(docs, JACCARD_THRESHOLD)
    labels = comp_ops.connected_components(pairs)
    docs_plain = load_table(spark, sf_dir, "documents").filter(
        F.col("lang") == JACCARD_LANG
    )
    return samp_ops.cluster_capped_sample(
        docs_plain, labels, cap=CLUSTER_CAP, salt=CLUSTER_CAP_SALT
    ).orderBy("doc_id")


RARE_MAX_DF_BP = 1000  # rare = df <= 10% of corpus docs


@_register(
    "ext_rare_token_docs",
    f"""
    WITH dt AS (
        SELECT DISTINCT * FROM (
            SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
            FROM documents
        )
    ),
    dfreq AS (SELECT token, count(*) AS dfc FROM dt GROUP BY token),
    cut AS (SELECT count(*) * {RARE_MAX_DF_BP} // 10000 AS c FROM documents),
    rare AS (SELECT token FROM dfreq, cut WHERE dfc <= cut.c),
    pd AS (SELECT doc_id, lang, count(*) AS n_distinct FROM dt GROUP BY 1, 2),
    rh AS (
        SELECT doc_id, count(*) AS n_rare
        FROM dt JOIN rare USING (token) GROUP BY 1
    )
    SELECT pd.doc_id, pd.lang,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           CAST(n_rare AS BIGINT) AS n_rare,
           CAST(round(n_rare * 10000.0 / n_distinct) AS BIGINT) AS rare_bp
    FROM pd JOIN rh USING (doc_id)
    ORDER BY pd.doc_id
    """,
    "long-tail finder: documents carrying corpus-rare tokens, density in bp",
)
def ext_rare_token_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complement of the boilerplate audit
    (operators/vocab.py:rare_token_report): documents whose distinct
    tokens include corpus-RARE ones (document frequency <=
    RARE_MAX_DF_BP basis points of the corpus doc count) — the standard proxy for "contains information the
    rest of the corpus doesn't", the up-sampling side of curation.
    The cutoff is a SHARE of the corpus (floor(n_docs * bp / 10000)),
    so the declared entry names the same Zipf tail at every SF.
    Per-doc DISTINCT before the token shuffle caps exploded rows; the
    rare set flows back as a token-keyed semi-join; density ships as
    integer basis points."""
    docs = spread_fixture(load_table(spark, sf_dir, "documents"))
    return vocab_ops.rare_token_report(docs, max_df_bp=RARE_MAX_DF_BP).orderBy(
        "doc_id"
    )


SCHED_K = 50
SCHED_SALT = "sched1"


@_register(
    "ext_curriculum_schedule",
    f"""
    SELECT CAST(step AS BIGINT) AS step, doc_id, n_chars FROM (
        SELECT doc_id, n_chars,
               row_number() OVER (
                   ORDER BY n_chars ASC,
                            substr(md5(CAST(doc_id AS VARCHAR)
                                       || '{SCHED_SALT}'), 1, 8),
                            doc_id
               ) AS step
        FROM documents
    ) WHERE step <= {SCHED_K}
    ORDER BY step
    """,
    "deterministic curriculum ordering: first K training steps, easiest-first",
)
def ext_curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible data ordering for training
    (operators/sampling.py:curriculum_schedule): the first SCHED_K
    steps when documents are consumed shortest-first (the classic
    length curriculum) with the house md5 shuffle inside each length
    level — the schedule is a pure function of (corpus, salt), so a
    training run is reproducible from the recipe alone. Plans as
    TakeOrderedAndProject (per-partition top-k heaps, O(k) driver
    merge — no global sort) + a k-row bounded window for the step
    numbers."""
    docs = load_table(spark, sf_dir, "documents")
    return samp_ops.curriculum_schedule(
        docs, "n_chars", k=SCHED_K, salt=SCHED_SALT
    ).orderBy("step")


OOV_SWEEP_SIZES = [8, 16, 32]


@_register(
    "ext_oov_sweep",
    f"""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    counts AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
    ranked AS (
        SELECT token,
               row_number() OVER (ORDER BY cnt DESC, token ASC) AS rank
        FROM (SELECT * FROM counts ORDER BY cnt DESC, token ASC
              LIMIT {max(OOV_SWEEP_SIZES)})
    ),
    probed AS (
        SELECT t.token, r.rank FROM toks t LEFT JOIN ranked r USING (token)
    ),
    agg AS (
        SELECT count(*) AS n_tokens,
               {', '.join(
                   f"sum(CASE WHEN rank IS NULL OR rank > {n} THEN 1 ELSE 0 END)"
                   f" AS oov_{n}" for n in OOV_SWEEP_SIZES)}
        FROM probed
    )
    SELECT top_n, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(oov_tokens AS BIGINT) AS oov_tokens,
           CAST(round(oov_tokens * 10000.0 / n_tokens) AS BIGINT) AS oov_bp
    FROM (
        {' UNION ALL '.join(
            f"SELECT CAST({n} AS BIGINT) AS top_n, n_tokens,"
            f" oov_{n} AS oov_tokens FROM agg" for n in OOV_SWEEP_SIZES)}
    ) ORDER BY top_n
    """,
    "tokenizer-budget sweep: corpus OOV rate at several vocab sizes, one pass",
)
def ext_oov_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vocab-budget curve (operators/vocab.py:oov_sweep): OOV
    basis points at every candidate size in OOV_SWEEP_SIZES from ONE
    token pass — frequencies aggregate once, the rank table broadcasts
    back, and each size is a conditional sum over the same probed
    column (adding a size adds an expression, not a pass; the per-size
    rows unpivot from the single aggregate row with a literal-array
    explode). The sweep form of ext_oov_rate, which fixes one size and
    breaks out per-language instead."""
    docs = spread_fixture(load_table(spark, sf_dir, "documents"))
    return vocab_ops.oov_sweep(docs, OOV_SWEEP_SIZES).orderBy("top_n")


KNN_QUERY_MOD = 50
KNN_K = 5


@_register(
    "ext_knn_label_prop",
    f"""
    WITH q AS (
        SELECT vec_id AS q_id, label AS true_label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        FROM embeddings WHERE vec_id % {KNN_QUERY_MOD} = 0
    ),
    c AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    sims AS (
        SELECT q.q_id, q.true_label, c.label AS nbr_label, c.vec_id,
               round(list_inner_product(c.v, qv)
                     / (sqrt(list_inner_product(c.v, c.v))
                        * sqrt(list_inner_product(qv, qv))), 4) AS sim4
        FROM c, q WHERE c.vec_id <> q.q_id
    ),
    topk AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY q_id ORDER BY sim4 DESC, vec_id ASC) AS rn
            FROM sims
        ) WHERE rn <= {KNN_K}
    ),
    votes AS (
        SELECT q_id, true_label, nbr_label, count(*) AS votes
        FROM topk GROUP BY 1, 2, 3
    )
    SELECT q_id AS vec_id, true_label, nbr_label AS predicted_label,
           CAST(votes AS BIGINT) AS votes
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY votes DESC, nbr_label ASC) AS rk
        FROM votes
    ) WHERE rk = 1
    ORDER BY vec_id
    """,
    "kNN label propagation: pseudo-label queries by majority vote of neighbors",
)
def ext_knn_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weak supervision over the embedding space
    (operators/similarity.py:knn_label_propagation): each query vector
    takes the majority label of its 5 nearest cosine neighbors — the
    pseudo-labeling recipe that stretches a labeled seed across an
    unlabeled corpus, with the held-out true label kept beside the
    prediction as an agreement audit. Query side bounded by
    construction (broadcast, the semantic_decontam asymmetry); the
    exact kNN is the oracle baseline, the IVF/LSH bucket probe is the
    documented corpus-scale candidate source."""
    emb = spread_fixture(load_table(spark, sf_dir, "embeddings"), "vec_id")
    return sim_ops.knn_label_propagation(
        emb, query_mod=KNN_QUERY_MOD, k=KNN_K
    ).orderBy("vec_id")


@_register(
    "ext_curation_funnel",
    f"""
    WITH t AS (
        SELECT doc_id, text, string_split(text, ' ') AS sp FROM documents
    ),
    sig AS (
        SELECT doc_id, text,
               len(sp) AS n_tokens,
               round((length(text) - (len(sp) - 1) * 1e0) / len(sp), 4) AS mtl,
               round(len(list_filter(sp, x -> list_contains({_GOPHER_STOP_SQL}, x))) * 1e0
                     / len(sp), 4) AS sr,
               round(CAST(len(list_distinct(sp)) AS DOUBLE) / len(sp), 4) AS dtr,
               CASE WHEN len(sp) >= 2 THEN
                 round(1 - CAST(len(list_distinct(list_transform(range(1, len(sp)),
                         i -> array_to_string(sp[i:i+1], ' ')))) AS DOUBLE)
                         / (len(sp) - 1), 4)
               ELSE 0.0 END AS rbf,
               list_sum(list_transform(sp, t -> ({_HCW}))) AS score,
               md5(lower(text)) AS fp
        FROM t
    ),
    g AS (
        SELECT fp, score,
               CASE WHEN rbf > {_G["max_repeated_bigram"]}e0
                      OR dtr < {_G["min_distinct_ratio"]}e0
                      OR sr < {_G["min_stopword_ratio"]}e0
                      OR mtl < {_G["mean_token_len_lo"]}e0
                      OR mtl > {_G["mean_token_len_hi"]}e0
                      OR n_tokens < {_G["min_tokens"]}
                      OR n_tokens > {_G["max_tokens"]} THEN 0 ELSE 1 END AS keep
        FROM sig
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_input,
               CAST(sum(keep) AS BIGINT) AS n_rules,
               CAST(sum(CASE WHEN keep = 1 AND score >= 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_cls,
               CAST(count(DISTINCT CASE WHEN keep = 1 AND score >= 0
                                        THEN fp END) AS BIGINT) AS n_uniq
        FROM g
    )
    SELECT stage_order, stage, n_docs, dropped FROM (
        SELECT CAST(1 AS BIGINT) AS stage_order, 'input' AS stage,
               n_input AS n_docs, CAST(0 AS BIGINT) AS dropped FROM agg
        UNION ALL SELECT 2, 'rules_pass', n_rules, n_input - n_rules FROM agg
        UNION ALL SELECT 3, 'classifier_pass', n_cls, n_rules - n_cls FROM agg
        UNION ALL SELECT 4, 'dedup_survivor', n_uniq, n_cls - n_uniq FROM agg
    ) ORDER BY stage_order
    """,
    "curation funnel: per-stage survivor counts for rules -> classifier -> dedup",
)
def ext_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-attrition accounting for the standard curation cascade
    (operators/text.py:curation_funnel): Gopher rules -> hashed
    classifier -> exact dedup, with cumulative survivors and per-stage
    drops in one constant-size report. Every signal comes from one
    narrow projection over ONE corpus scan; the dedup stage is a
    conditional COUNT DISTINCT on the fingerprint (no window, no
    second pass) — the funnel costs one scan + a one-row shuffle at
    any corpus size. The monitoring-counts discipline of the streaming
    quality gate (pipelines.py:quality_gate_pipeline), stated as a
    declared batch entry."""
    docs = spread_fixture(load_table(spark, sf_dir, "documents"))
    return text_ops.curation_funnel(docs)


# ---------------------------------------------------------------------------
# Wave 4 (round 6): mixture fairness, distribution-shape QA, vector QA,
# small-sample-honest source ranking, corpus novelty saturation
# ---------------------------------------------------------------------------
UNIMAX_BUDGET = 700
UNIMAX_EPOCH_CAP = 2


@_register(
    "ext_unimax_mix",
    f"""
    WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
               FROM documents GROUP BY 1),
    a AS (SELECT lang, n, n * {UNIMAX_EPOCH_CAP} AS avail FROM c),
    o AS (
        SELECT lang, n, avail,
               row_number() OVER (ORDER BY avail, lang) AS rn,
               count(*) OVER () AS ng,
               CAST(coalesce(sum(avail) OVER (ORDER BY avail, lang
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS pbefore
        FROM a
    ),
    s AS (
        SELECT *, (pbefore + avail * (ng - rn + 1) <= {UNIMAX_BUDGET}) AS sat
        FROM o
    ),
    t AS (
        SELECT *,
               CAST(sum(CASE WHEN sat THEN 1 ELSE 0 END) OVER () AS BIGINT) AS k,
               CAST(coalesce(sum(CASE WHEN sat THEN avail END) OVER (), 0)
                   AS BIGINT) AS pk
        FROM s
    ),
    al AS (
        SELECT lang, n, avail,
               CASE WHEN sat THEN avail
                    ELSE least(avail, greatest(CAST(floor(round(
                        ({UNIMAX_BUDGET} - pk) * 1e0 / nullif(ng - k, 0), 6))
                        AS BIGINT), 0))
               END AS alloc
        FROM t
    )
    SELECT lang, n, avail, alloc,
           CAST(floor(alloc * 1000 / (n * 1e0)) AS BIGINT) AS epochs_permille
    FROM al ORDER BY lang
    """,
    "UniMax water-filling language budget: equal shares capped at epoch limit",
)
def ext_unimax_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax mixture allocation (operators/sampling.py:unimax_quotas):
    the fairness-first companion to ext_temperature_mix — above the
    water level every language gets the SAME token share regardless of
    corpus size, below it a language is capped at epoch_cap repeats of
    everything it has. The fixture constants are chosen so the three
    SFs exercise all three regimes: at sf0.001 the budget exceeds the
    whole corpus (everyone saturates), at sf0.01 the water level
    bisects the language list, at sf0.1 no language saturates (pure
    equal split) — one declared entry, three closed-form branches."""
    docs = load_table(spark, sf_dir, "documents")
    return samp_ops.unimax_quotas(docs, "lang", UNIMAX_BUDGET, UNIMAX_EPOCH_CAP)


ZIPF_TOP_V = 64


@_register(
    "ext_zipf_slope",
    f"""
    WITH tok AS (
        SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    c AS (
        SELECT lang, token, CAST(count(*) AS BIGINT) AS cnt
        FROM tok GROUP BY 1, 2
    ),
    r AS (
        SELECT lang, cnt,
               row_number() OVER (
                   PARTITION BY lang ORDER BY cnt DESC, token
               ) AS rank
        FROM c
    ),
    f AS (
        SELECT lang, ln(CAST(rank AS DOUBLE)) AS lx, ln(CAST(cnt AS DOUBLE)) AS ly
        FROM r WHERE rank <= {ZIPF_TOP_V}
    ),
    agg AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS v,
               -- nullif guards the v=1 group: DuckDB IEEE 0/0 is NaN
               -- where Spark yields NULL (round-6 ADVICE)
               covar_pop(lx, ly) / nullif(var_pop(lx), 0) AS slope_raw,
               avg(lx) AS mx, avg(ly) AS my
        FROM f GROUP BY lang
    )
    SELECT lang, v, round(slope_raw, 4) AS slope,
           round(my - slope_raw * mx, 4) AS intercept
    FROM agg ORDER BY lang
    """,
    "per-language Zipf slope: OLS ln(freq)~ln(rank) over the top-V tokens",
)
def ext_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shape QA (operators/vocab.py:zipf_slope): natural
    text sits near slope -1 on the Zipf log-log line; a slice that is
    far flatter is templated key soup, far steeper is a degenerate
    single-token dominance — the one-number complement to the Gopher
    ratio rules. The contract is the spelled-out covar_pop/var_pop
    formula (= DuckDB regr_slope); ranks tie-break on (cnt DESC,
    token ASC) so both engines rank identically, and the rank window
    partitions by language over the aggregated count frame — counts
    shuffle, text never does."""
    docs = load_table(spark, sf_dir, "documents")
    return vocab_ops.zipf_slope(docs, ZIPF_TOP_V)


DIVERGENCE_V = 64


@_register(
    "ext_source_divergence",
    f"""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    gc AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
    v AS (SELECT token FROM gc ORDER BY cnt DESC, token LIMIT {DIVERGENCE_V}),
    st AS (
        SELECT source, t.token, CAST(count(*) AS BIGINT) AS c_st
        FROM tok t JOIN v USING (token) GROUP BY 1, 2
    ),
    stot AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS tot_s FROM st GROUP BY 1),
    gl AS (SELECT token, CAST(sum(c_st) AS BIGINT) AS c_t FROM st GROUP BY 1),
    q AS (
        SELECT token, c_t / CAST(sum(c_t) OVER () AS DOUBLE) AS q FROM gl
    ),
    term AS (
        SELECT st.source, st.c_st,
               st.c_st / (stot.tot_s * 1e0) AS p, q.q AS q
        FROM st JOIN q USING (token) JOIN stot USING (source)
    )
    SELECT source, CAST(sum(c_st) AS BIGINT) AS n_tokens,
           round(sum(p * ln(p / ((p + q) / 2.0))
                     + q * ln(q / ((p + q) / 2.0))
                     - q * 0.6931471805599453) * 0.5
                 + 0.5 * 0.6931471805599453, 4) AS jsd4
    FROM term GROUP BY source ORDER BY source
    """,
    "per-source Jensen-Shannon divergence vs the corpus token distribution",
)
def ext_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-drift monitor (operators/vocab.py:source_divergence):
    JSD of each source's token distribution against the corpus, on the
    fixed top-V vocabulary support — the number that creeps up when a
    source starts template-rotting or switching language. The
    absent-token half of the global sum collapses to a closed form, so
    the plan needs only the rows a source actually has: no
    source-x-vocab grid, no outer join, one count shuffle plus two
    broadcast joins of V-row frames."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = vocab_ops.vocab_build(docs, DIVERGENCE_V)
    return vocab_ops.source_divergence(docs, vocab)


@_register(
    "ext_embedding_health",
    """
    WITH pv AS (
        SELECT label,
               CAST(len(embedding) AS BIGINT) AS dim,
               CAST(len(list_filter(embedding,
                   x -> x IS NULL OR isnan(CAST(x AS DOUBLE)) OR isinf(CAST(x AS DOUBLE))))
                   AS BIGINT) AS nf,
               CASE WHEN len(list_filter(embedding,
                        x -> x IS NULL OR isnan(CAST(x AS DOUBLE)) OR isinf(CAST(x AS DOUBLE)))) = 0
                    THEN sqrt(list_reduce(
                        list_prepend(CAST(0.0 AS DOUBLE),
                            list_transform(embedding,
                                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
                        (a, b) -> a + b))
               END AS norm
        FROM embeddings
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
           min(dim) AS dim_min, max(dim) AS dim_max,
           CAST(sum(nf) AS BIGINT) AS n_nonfinite,
           CAST(sum(CASE WHEN norm = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero_norm,
           round(avg(norm), 4) AS avg_norm,
           round(min(norm), 4) AS min_norm,
           round(max(norm), 4) AS max_norm
    FROM pv GROUP BY label ORDER BY label
    """,
    "embedding-column QA: ragged dims, non-finite entries, norm envelope",
)
def ext_embedding_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-table QA (operators/similarity.py:embedding_health) —
    the gate every ANN/semdedup stage should run first: ragged
    dimensions, NaN/Inf entries, zero-norm rows (cosine undefined),
    and the norm envelope per label. Each per-vector statistic is a
    fixed-order higher-order fold (both engines fold left from 0.0,
    so the sums are bit-identical before the 4 dp round); one narrow
    map pass, one partial-aggregated label rollup."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.embedding_health(emb)


@_register(
    "ext_wilson_source_rank",
    f"""
    WITH agg AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN list_sum(list_transform(
                   string_split(text, ' '), t -> ({_HCW}))) >= 0
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
        FROM documents GROUP BY source
    ),
    w AS (
        SELECT source, n_docs, n_keep,
               CAST(floor(n_keep * 10000 / (n_docs * 1e0)) AS BIGINT) AS keep_bp,
               CAST(floor((
                   (n_keep / (n_docs * 1e0))
                   + (1.96 * 1.96) / (2 * (n_docs * 1e0))
                   - 1.96 * sqrt((
                       (n_keep / (n_docs * 1e0)) * (1 - (n_keep / (n_docs * 1e0)))
                       + (1.96 * 1.96) / (4 * (n_docs * 1e0))
                     ) / (n_docs * 1e0))
                 ) / (1 + (1.96 * 1.96) / (n_docs * 1e0)) * 10000)
                 AS BIGINT) AS wilson_lcb_bp
        FROM agg
    )
    SELECT CAST(row_number() OVER (ORDER BY wilson_lcb_bp DESC, source)
               AS BIGINT) AS rank,
           source, n_docs, n_keep, keep_bp, wilson_lcb_bp
    FROM w ORDER BY rank
    """,
    "sources ranked by Wilson lower bound of classifier keep-rate",
)
def ext_wilson_source_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-sample-honest source ranking (operators/text.py:
    wilson_source_rank): the q10 banded-ratio family's statistical
    upgrade — raw keep-rate ranks a 3/3 source above a 9000/10000 one;
    the Wilson LCB does not. n and k are exact BIGINTs from the hashed
    classifier fold, and the LCB is written with the identical
    operation order on both engines, so the derived rank itself is
    hash-stable (IEEE ops are correctly rounded — same inputs, same
    order, same bits)."""
    docs = spread_fixture(load_table(spark, sf_dir, "documents"))
    return text_ops.wilson_source_rank(docs)


NOVELTY_BATCHES = 10


@_register(
    "ext_ngram_novelty",
    f"""
    WITH g AS (
        SELECT DISTINCT batch, digest FROM (
            SELECT doc_id % {NOVELTY_BATCHES} AS batch,
                   unnest(list_distinct(list_transform(
                       range(1, len(string_split(text, ' '))),
                       i -> substring(md5(string_split(text, ' ')[i] || ' ' ||
                                          string_split(text, ' ')[i+1]), 1, 16))))
                       AS digest
            FROM documents
            WHERE len(string_split(text, ' ')) >= 2
        )
    ),
    pb AS (SELECT batch, CAST(count(*) AS BIGINT) AS n_grams FROM g GROUP BY 1),
    fs AS (
        SELECT batch, CAST(count(*) AS BIGINT) AS n_new FROM (
            SELECT digest, min(batch) AS batch FROM g GROUP BY digest
        ) GROUP BY 1
    )
    SELECT CAST(pb.batch AS BIGINT) AS batch, n_grams,
           CAST(coalesce(n_new, 0) AS BIGINT) AS n_new,
           CAST(floor(coalesce(n_new, 0) * 10000 / (n_grams * 1e0)) AS BIGINT)
               AS new_bp
    FROM pb LEFT JOIN fs USING (batch) ORDER BY batch
    """,
    "corpus novelty curve: new vs seen bigram shingles per ingest batch",
)
def ext_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup saturation signal (operators/text.py:ngram_novelty): per
    deterministic ingest batch (doc_id mod B — the engine-portable
    stand-in for arrival order), distinct bigram shingles appearing vs
    first-seen-here. When new_bp collapses, additional crawl volume is
    re-buying existing content — the capacity-planning curve for the
    near-dup stages. Only 16-char digests cross the shuffle (the
    neardup discipline); per-doc DISTINCT bounds the explode before
    the exchange."""
    docs = spread_fixture(load_table(spark, sf_dir, "documents"))
    return text_ops.ngram_novelty(docs, NOVELTY_BATCHES)


# ---------------------------------------------------------------------------
# Wave 5 (round 6): winnowing fingerprint index, source provenance matrix,
# per-language classifier calibration
# ---------------------------------------------------------------------------
WINNOW_K = 4
WINNOW_W = 4
WINNOW_MIN_SHARED = 2
WINNOW_MAX_DF = 64

# The winnowing selection restated ONCE for every oracle in the family
# (the _QC shared-fragment precedent): d -> hashed packed keys ->
# selected (pos, fp) rows, plus the distinct doc-fp frame and the
# MOSS ubiquity (rare/kept) sets. Four oracles interpolate this; the
# r6 position-widening already had to touch every copy in lockstep,
# which is exactly the divergence risk a single fragment removes.
# DuckDB inlines CTEs lazily, so an oracle that ignores rare/kept
# pays nothing for them.
_WINNOW_PF_CTES = f"""d AS (
        SELECT doc_id, string_split(text, ' ') AS sp FROM documents
        WHERE lang = '{JACCARD_LANG}'
          AND len(string_split(text, ' ')) >= {WINNOW_K + WINNOW_W - 1}
    ),
    keyed AS (
        SELECT doc_id,
               list_transform(range(1, len(sp) - {WINNOW_K} + 2),
                   i -> ('0x' || substr(md5(array_to_string(
                            sp[i:i+{WINNOW_K - 1}], ' ')), 1, 10))::BIGINT
                        * 1048576 + i) AS keys,
               len(sp) AS n
        FROM d
    ),
    pf AS (
        SELECT DISTINCT doc_id, CAST(key % 1048576 AS BIGINT) AS pos,
               CAST(key // 1048576 AS BIGINT) AS fp FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, n - {WINNOW_K + WINNOW_W} + 3),
                       j -> list_min(keys[j:j+{WINNOW_W - 1}]))) AS key
            FROM keyed
        )
    ),
    fps AS (SELECT DISTINCT doc_id, fp FROM pf),
    rare AS (
        SELECT fp FROM fps GROUP BY fp HAVING count(*) <= {WINNOW_MAX_DF}
    ),
    kept AS (SELECT f.doc_id, f.fp FROM fps f JOIN rare r ON f.fp = r.fp)"""


@_register(
    "ext_winnowing_fingerprints",
    f"""
    WITH {_WINNOW_PF_CTES}
    SELECT doc_id, pos, fp FROM pf ORDER BY doc_id, pos
    """,
    "winnowing (MOSS) fingerprint selection: window-min of k-gram hashes",
)
def ext_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The position-robust fingerprint INDEX (operators/text.py:
    winnowing_fingerprints, Schleimer et al. 2003): any shared token
    run of length >= w+k-1 between two documents shares a selected
    fingerprint, at ~2/(w+1) storage density — the affordable middle
    ground between whole-doc fingerprints (miss partial copies) and
    every-shingle postings (too big). Document-local by construction:
    the whole selection is higher-order array arithmetic in one narrow
    projection, zero shuffles before the ordered output. Declared on
    the bounded language partition (the pair-op convention) so the
    row-level output stays driver-comparable."""
    docs = spread_fixture(
        load_table(spark, sf_dir, "documents").filter(
            F.col("lang") == JACCARD_LANG
        )
    )
    return text_ops.winnowing_fingerprints(docs, WINNOW_K, WINNOW_W)


@_register(
    "ext_source_overlap_matrix",
    """
    WITH fps AS (
        SELECT DISTINCT source, md5(lower(text)) AS fp FROM documents
    ),
    sizes AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_fps FROM fps GROUP BY 1
    ),
    shared AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(count(*) AS BIGINT) AS shared_fps
        FROM fps a JOIN fps b
          ON a.fp = b.fp AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT source_a, source_b,
           sa.n_fps AS fps_a, sb.n_fps AS fps_b, shared_fps,
           CAST(floor(shared_fps * 10000 / (least(sa.n_fps, sb.n_fps) * 1e0))
               AS BIGINT) AS overlap_bp
    FROM shared
    JOIN sizes sa ON sa.source = source_a
    JOIN sizes sb ON sb.source = source_b
    ORDER BY source_a, source_b
    """,
    "pairwise source content overlap: who mirrors whom, containment-normalized",
)
def ext_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance matrix (operators/text.py:source_overlap_matrix):
    ext_source_dedup_report says how much of a source's content exists
    elsewhere; this says WHERE — shared distinct fingerprints per
    source pair, normalized by the smaller side (containment, so a
    fully-mirrored small source reads 10000). Only deduplicated
    (source, digest) pairs shuffle; the digest-keyed self-join's
    per-key blowup is bounded by the source count, not the document
    count."""
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.source_overlap_matrix(docs)


_QC = text_ops.hashed_classifier_weight_sql("t")


@_register(
    "ext_quality_calibration",
    f"""
    WITH s AS (
        SELECT lang,
               list_sum(list_transform(string_split(text, ' '),
                        t -> ({_QC}))) AS score
        FROM documents
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           round(quantile_cont(score, 0.1), 4) AS p10,
           round(quantile_cont(score, 0.5), 4) AS p50,
           round(quantile_cont(score, 0.9), 4) AS p90,
           CAST(floor(sum(CASE WHEN score >= 0 THEN 1 ELSE 0 END) * 10000
               / (count(*) * 1e0)) AS BIGINT) AS keep_bp
    FROM s GROUP BY lang ORDER BY lang
    """,
    "per-language classifier calibration: score percentiles + keep rate",
)
def ext_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Why one global quality threshold misfilters (operators/text.py:
    quality_calibration): per-language score percentiles next to the
    keep rate at the global zero cutoff — languages whose score
    distribution sits at an offset get over- or under-filtered, and
    the p10/p50/p90 columns are exactly the per-language thresholds
    that would equalize. Exact-BIGINT scores from the one-fold
    classifier; the only doubles are Spark's exact interpolated
    percentile = DuckDB quantile_cont (the length_quantiles
    precedent), rounded 4 dp."""
    docs = spread_fixture(load_table(spark, sf_dir, "documents"))
    return text_ops.quality_calibration(docs)


SWEEP_THRESHOLDS_BP = (7000, 7500, 8000, 8500, 9000, 9500)


@_register(
    "ext_dedup_threshold_sweep",
    f"""
    WITH d AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        FROM documents WHERE lang = '{JACCARD_LANG}'
    ),
    pairs AS (
        SELECT a.doc_id AS i, b.doc_id AS j,
               len(list_intersect(a.toks, b.toks)) * 1e0
               / (len(a.toks) + len(b.toks)
                  - len(list_intersect(a.toks, b.toks))) AS jac
        FROM d a JOIN d b ON a.doc_id < b.doc_id
    ),
    keep AS (
        SELECT * FROM pairs
        WHERE jac >= {SWEEP_THRESHOLDS_BP[0]} * 1e0 / 10000
    ),
    best AS (
        SELECT doc, max(jac) AS best FROM (
            SELECT i AS doc, jac FROM keep
            UNION ALL SELECT j AS doc, jac FROM keep
        ) GROUP BY doc
    ),
    t(bp) AS (VALUES {", ".join(f"({t})" for t in SWEEP_THRESHOLDS_BP)})
    SELECT CAST(bp AS BIGINT) AS threshold_bp,
           CAST((SELECT count(*) FROM keep
                 WHERE jac >= bp * 1e0 / 10000) AS BIGINT) AS n_pairs,
           CAST((SELECT count(*) FROM best
                 WHERE best >= bp * 1e0 / 10000) AS BIGINT) AS n_dup_docs
    FROM t ORDER BY threshold_bp
    """,
    "dedup threshold sensitivity: pairs + touched docs per cutoff, one pass",
    eager=True,  # persists + collects inside the build (see QuerySpec.eager)
)
def ext_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The table a dedup planner reads before committing a corpus
    pass to one Jaccard cutoff (operators/neardup.py:
    jaccard_threshold_sweep): pair count and touched-document count
    at each candidate threshold, all from ONE posting-join pair
    computation at the loosest cutoff — per-threshold numbers are
    conditional sums (the ext_oov_sweep one-pass discipline), so the
    sweep costs the same as the single loosest run. Thresholds are
    integer basis points; the jaccard each side compares is the same
    IEEE division of identical exact ints, so the >= boundary is
    engine-stable without rounding anywhere. Declared on the bounded
    language partition (the pair-op convention)."""
    docs = spread_fixture(load_table(spark, sf_dir, "documents")).filter(
        F.col("lang") == JACCARD_LANG
    )
    return nd_ops.jaccard_threshold_sweep(docs, list(SWEEP_THRESHOLDS_BP))


@_register(
    "ext_winnowing_overlap_pairs",
    f"""
    WITH {_WINNOW_PF_CTES},
    sizes AS (SELECT doc_id, count(*) AS n_fps FROM kept GROUP BY doc_id),
    shared AS (
        SELECT a.doc_id AS i, b.doc_id AS j,
               CAST(count(*) AS BIGINT) AS shared_fps
        FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= {WINNOW_MIN_SHARED}
    )
    SELECT i, j, shared_fps,
           CAST(floor(shared_fps * 10000
                / (least(si.n_fps, sj.n_fps) * 1e0)) AS BIGINT) AS overlap_bp
    FROM shared
    JOIN sizes si ON i = si.doc_id
    JOIN sizes sj ON j = sj.doc_id
    ORDER BY i, j
    """,
    "MOSS match step: doc pairs sharing >= m winnowing fingerprints",
)
def ext_winnowing_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The partial-copy detector (operators/text.py:
    winnowing_overlap_pairs): pairs sharing >= {WINNOW_MIN_SHARED}
    selected winnowing fingerprints, overlap normalized by the
    smaller side (containment convention). Catches what the
    whole-document kernels provably miss — a quoted paragraph barely
    moves token-set Jaccard but is guaranteed a shared selected
    fingerprint per w+k-1-token run. Fingerprints in more than
    {WINNOW_MAX_DF} documents are dropped before the join (the MOSS
    ubiquity rule = the hot-key bound: blowup per fingerprint is
    capped at max_df choose 2). Only deduped (doc, fp) BIGINT pairs
    shuffle."""
    docs = spread_fixture(
        load_table(spark, sf_dir, "documents").filter(
            F.col("lang") == JACCARD_LANG
        )
    )
    return text_ops.winnowing_overlap_pairs(
        docs, WINNOW_K, WINNOW_W, WINNOW_MIN_SHARED, WINNOW_MAX_DF
    )


_WINNOW_INDEX_CACHE: dict = {}


def _winnow_query_doc(docs, fps) -> int:
    """Deterministic probe subject: the smallest doc_id that shares at
    least one selected fingerprint with a DIFFERENT document
    (guaranteed index hits whenever any sharing exists — the fixture
    has no exact-duplicate documents at the small SFs, so keying on
    exact twins would select a hitless probe), falling back to the
    partition's smallest doc_id. Engine-portable: the oracle restates
    the same coalesce rule in SQL."""
    a, b = fps.alias("a"), fps.alias("b")
    row = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .agg(F.min(F.col("a.doc_id")).alias("q"))
        .collect()[0]  # collect-bound: 1-row agg
    )
    if row.q is not None:
        return row.q
    return docs.agg(F.min("doc_id").alias("q")).collect()[0].q  # collect-bound: 1-row agg


@_register(
    "ext_winnowing_indexed",
    f"""
    WITH {_WINNOW_PF_CTES},
    q AS (
        SELECT coalesce(
            (SELECT min(a.doc_id) FROM fps a
             JOIN fps b ON a.fp = b.fp AND a.doc_id <> b.doc_id),
            (SELECT min(doc_id) FROM documents
             WHERE lang = '{JACCARD_LANG}')) AS qid
    ),
    qf AS (
        SELECT DISTINCT fp FROM fps JOIN q ON fps.doc_id = q.qid
    )
    SELECT f.doc_id, CAST(count(*) AS BIGINT) AS shared_fps
    FROM fps f JOIN qf ON f.fp = qf.fp JOIN q ON f.doc_id <> q.qid
    GROUP BY f.doc_id
    ORDER BY shared_fps DESC, doc_id ASC
    """,
    "winnowing serve path: probe one doc's fingerprints against the corpus index",
)
def ext_winnowing_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MOSS serve path (operators/text.py:winnowing_index_probe):
    "has any part of this document been seen before?" answered from
    the fingerprint index instead of a corpus scan. The query doc's
    ~2/(w+1)-density fingerprint list travels as driver-side
    literals; `fp % n_buckets` gives the partition-pruning bucket set
    in pure Python (the fingerprint is already a uniform md5-prefix
    hash — no JVM hash round-trip needed, unlike BM25's string
    terms). The declared build derives postings in memory for the
    oracle pair (the ext_bm25_indexed discipline); the bench build
    times the recurring cost — the pruned probe over the STORED
    partitioned layout. Probe subject: the smallest doc_id with any
    fingerprint sharer (see _winnow_query_doc), so the serve path
    always demonstrates real hits."""
    docs = spread_fixture(
        load_table(spark, sf_dir, "documents").filter(
            F.col("lang") == JACCARD_LANG
        )
    )
    fps = (
        text_ops.winnowing_fingerprints(docs, WINNOW_K, WINNOW_W)
        .select("doc_id", "fp")
        .distinct()
    )
    # pin across the two driver collects (qid self-join + qfps); the
    # returned plan recomputes once at collect time — 2 corpus
    # fingerprint passes total instead of 3, with no persisted frame
    # leaking past the build
    fps = fps.persist()
    qid = _winnow_query_doc(docs, fps)
    qfps = [r.fp for r in fps.filter(F.col("doc_id") == qid).collect()]  # collect-bound: one doc's fingerprint list
    fps.unpersist()
    postings = (
        fps
        .select(
            F.pmod(F.col("fp"), F.lit(text_ops.WINNOW_INDEX_BUCKETS))
            .cast("int")
            .alias("fb"),
            "doc_id",
            "fp",
        )
    )
    return (
        text_ops.winnowing_index_probe(postings, qfps)
        .filter(F.col("doc_id") != qid)
        .orderBy(F.col("shared_fps").desc(), F.col("doc_id").asc())
    )


@_bench("ext_winnowing_indexed")
def _bench_winnowing_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator-only bench: the per-query cost at scale is the
    partition-pruned probe over the persisted fingerprint index;
    building it is one-off ingest (the PQ/IVF/LSH/BM25 bench
    discipline). The query fingerprints are cached with the index —
    recomputing them is query-side analysis, not probe cost."""
    import os

    cached = _WINNOW_INDEX_CACHE.get(sf_dir)
    if cached is None:
        docs = spread_fixture(
            load_table(spark, sf_dir, "documents").filter(
                F.col("lang") == JACCARD_LANG
            )
        )
        fps = (
            text_ops.winnowing_fingerprints(docs, WINNOW_K, WINNOW_W)
            .select("doc_id", "fp")
            .distinct()
        )
        qid = _winnow_query_doc(docs, fps)
        qfps = [r.fp for r in fps.filter(F.col("doc_id") == qid).collect()]  # collect-bound: one doc's fingerprint list
        tmp = _bench_tmpdir("gmall_winnow_index_")
        path = os.path.join(tmp, "idx")
        text_ops.winnowing_write_index(docs, path, WINNOW_K, WINNOW_W)
        cached = (path, qid, qfps)
        _WINNOW_INDEX_CACHE[sf_dir] = cached
    path, qid, qfps = cached
    postings, nb = text_ops.winnowing_read_index(spark, path)
    return (
        text_ops.winnowing_index_probe(postings, qfps, n_buckets=nb)
        .filter(F.col("doc_id") != qid)
        .orderBy(F.col("shared_fps").desc(), F.col("doc_id").asc())
    )


@_register(
    "ext_overlap_span_locator",
    f"""
    WITH {_WINNOW_PF_CTES},
    shared AS (
        SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS shared_fps
        FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= 1
    ),
    top AS (SELECT i, j FROM shared ORDER BY shared_fps DESC, i, j LIMIT 1),
    ai AS (
        SELECT p.fp, CAST(min(p.pos) AS BIGINT) AS pos_i
        FROM pf p JOIN rare r ON p.fp = r.fp
        JOIN top t ON p.doc_id = t.i GROUP BY p.fp
    ),
    aj AS (
        SELECT p.fp, CAST(min(p.pos) AS BIGINT) AS pos_j
        FROM pf p JOIN rare r ON p.fp = r.fp
        JOIN top t ON p.doc_id = t.j GROUP BY p.fp
    )
    SELECT ai.fp AS fp, pos_i, pos_j
    FROM ai JOIN aj ON ai.fp = aj.fp
    ORDER BY pos_i, ai.fp
    """,
    "MOSS highlight step: shared-fingerprint anchors of the top overlap pair",
)
def ext_overlap_span_locator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detection says THAT content was reused; this locates it
    (operators/text.py:overlap_span_anchors — the MOSS highlight
    step): for the partition's strongest overlap pair (most shared
    fingerprints, deterministic (i, j) tie-break — the same ordering
    both engines state), every shared fingerprint with its leftmost
    gram position in each document. Runs of consecutive anchors trace
    the copied span; a scrubber or reviewer consumes these directly.
    Pair selection rides the declared match kernel (min_shared=1 so
    the locator exists at every SF); anchors are restricted to the
    corpus's rare-fingerprint evidence set (the MOSS ubiquity rule
    holds detect AND locate), and the anchor join itself touches
    exactly TWO documents' fingerprint lists — nothing corpus-shaped."""
    docs = spread_fixture(
        load_table(spark, sf_dir, "documents").filter(
            F.col("lang") == JACCARD_LANG
        )
    )
    # ONE winnowing selection pass (r12): the checkpointed (doc_id,
    # fp) frame feeds the pair kernel AND the rare-evidence set —
    # previously each re-ran the full selection over the corpus
    fps = (
        text_ops.winnowing_fingerprints(docs, WINNOW_K, WINNOW_W)
        .select("doc_id", "fp")
        .distinct()
        .localCheckpoint()
    )
    top = (
        text_ops.winnowing_overlap_pairs_from_fps(fps, 1, WINNOW_MAX_DF)
        .orderBy(F.col("shared_fps").desc(), "i", "j")
        .limit(1)
        .collect()  # collect-bound: limit(1)
    )
    if not top:
        return spark.createDataFrame([], "fp long, pos_i long, pos_j long")
    r = top[0]
    # anchors restricted to the SAME evidence set the match step used
    # (the corpus's rare fingerprints) — a ubiquitous boilerplate
    # header both docs carry must not be highlighted as copied span
    rare = (
        fps.groupBy("fp")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") <= WINNOW_MAX_DF)
        .select("fp")
    )
    return text_ops.overlap_span_anchors(
        docs, r.i, r.j, WINNOW_K, WINNOW_W, allowed_fps=rare
    )


# ---------------------------------------------------------------------------
# Round-11 queue: the 100 TB twins of the graph compositions
# (VERDICT r10 item 3). ext_cluster_capped_sample / ext_keep_best_dedup
# / ext_leakage_safe_splits ride the exact O(n^2)-within-partition
# Jaccard kernel BY ORACLE-BASELINE DESIGN — relationally restatable,
# the anchors DuckDB can verify value-for-value. These twins run the
# SAME label-consuming compositions over MinHash+LSH pairs (the kernel
# you'd actually run at 100 TB: one text pass, one band shuffle, one
# dedup shuffle — never all-pairs) and gate them the ext_minhash_neardup
# way: a planted verbatim-twin cohort whose cluster structure is
# hash-family-INDEPENDENT. Verbatim copies have identical shingle-hash
# sets, hence identical MinHash signatures, hence share a bucket in
# EVERY band — candidate generation finds them with probability 1 and
# exact verification scores them at Jaccard 1.0 >= threshold. The
# planted vocabulary is disjoint from the corpus, so a planted<->organic
# edge would need exact verification to pass on disjoint shingle sets —
# impossible (not merely improbable). The declared output is therefore
# the planted slice of the composition's output, byte-reproducible by
# an oracle that re-derives the cohort relationally; one missed twin
# pair (recall) or one false cross edge (precision) reshapes a cluster
# and hash-mismatches the row. The organic corpus still flows through
# the full pair->components->consume path — the bench rows measure the
# scale kernel at corpus size, and the r9 100x smoke (SCALE_SMOKE_100X)
# covers the verbatim-twin blowup behavior of the same kernel.
# ---------------------------------------------------------------------------
PLANT_BASE = 10_000_000
N_PLANT_CLUSTERS = 8

_PLANT_COHORT_SQL = f"""
    plant AS (
        SELECT CAST({PLANT_BASE} + c.c * 10 + m.m AS BIGINT) AS doc_id,
               CAST({PLANT_BASE} + c.c * 10 AS BIGINT) AS group_key,
               CAST(100 * (m.m + 1) + c.c AS BIGINT) AS n_chars
        FROM range({N_PLANT_CLUSTERS}) c(c), range(4) m(m)
        WHERE m.m < 2 + c.c % 3
    )
"""


def _planted_twin_docs(spark: SparkSession) -> DataFrame:
    """The verbatim-twin cohort: N_PLANT_CLUSTERS clusters of 2..4
    members each (size = 2 + c % 3), every member an exact copy of a
    40-token text over a vocabulary disjoint from the documents
    corpus. n_chars is synthetic and strictly increasing with member
    index, so quality-aware selection must pick the LAST member —
    score-based, not the min-id tie-break."""
    rows = []
    for c in range(N_PLANT_CLUSTERS):
        text = " ".join(f"plantzz{c}tok{j}" for j in range(40))
        for m in range(2 + c % 3):
            rows.append((PLANT_BASE + c * 10 + m, text, 100 * (m + 1) + c))
    return spark.createDataFrame(rows, "doc_id long, text string, n_chars long")


def _minhash_twin_labels(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(docs, labels) for the scale-twin entries: organic corpus
    (lang-partitioned like every Jaccard entry) + planted twins,
    labeled by connected components over MinHash+LSH pairs — the
    100 TB pair kernel, not the exact all-pairs oracle baseline.

    The returned ``docs`` frame (what the keep-best / cap / split
    consumers join against labels) reads the PLAIN scan: those
    consumers are narrow joins + windows with no CPU-heavy per-row
    kernel, so the spread_fixture repartition only the SHINGLE branch
    needs would be a wasted exchange there (r13, guide §2.4)."""
    def _docs(base: DataFrame) -> DataFrame:
        return (
            base.filter(F.col("lang") == JACCARD_LANG)
            .select("doc_id", "text", "n_chars")
            .unionByName(_planted_twin_docs(spark))
        )

    spread = _docs(spread_fixture(load_table(spark, sf_dir, "documents")))
    pairs = nd_ops.minhash_near_duplicates(
        spread, threshold=JACCARD_THRESHOLD, shingle_n=MINHASH_SHINGLE_N
    ).select("i", "j")
    plain = _docs(load_table(spark, sf_dir, "documents"))
    return plain, comp_ops.connected_components(pairs)


@_register(
    "ext_keep_best_dedup_minhash",
    f"""
    WITH {_PLANT_COHORT_SQL}
    SELECT doc_id, n_chars FROM (
        SELECT doc_id, n_chars,
               row_number() OVER (
                   PARTITION BY group_key ORDER BY n_chars DESC, doc_id ASC
               ) AS rn
        FROM plant
    ) WHERE rn = 1 ORDER BY doc_id
    """,
    "keep-best dedup on MinHash labels, gated on planted verbatim twins",
)
def ext_keep_best_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ext_keep_best_dedup's 100 TB twin: same quality-aware canonical
    selection (operators/components.py:keep_best), labels from the
    MinHash+LSH kernel instead of exact all-pairs Jaccard. Declared
    output = the planted verbatim-twin slice (see the section comment
    for why that slice is hash-family-independent); each planted
    cluster must surface exactly its max-n_chars member."""
    docs, labels = _minhash_twin_labels(spark, sf_dir)
    return (
        comp_ops.keep_best(docs, labels, score_col="n_chars")
        .filter(F.col("doc_id") >= PLANT_BASE)
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    )


@_bench("ext_keep_best_dedup_minhash")
def _bench_keep_best_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator path at corpus size: MinHash pairs -> components ->
    keep_best over the full organic+planted union (no planted-slice
    filter — the filter is the gate, not the workload)."""
    docs, labels = _minhash_twin_labels(spark, sf_dir)
    return comp_ops.keep_best(docs, labels, score_col="n_chars")


@_register(
    "ext_cluster_capped_sample_minhash",
    f"""
    WITH {_PLANT_COHORT_SQL}
    SELECT doc_id, group_key, CAST(rk AS BIGINT) AS rk FROM (
        SELECT doc_id, group_key,
               row_number() OVER (
                   PARTITION BY group_key
                   ORDER BY substr(md5(CAST(doc_id AS VARCHAR)
                                       || '{CLUSTER_CAP_SALT}'), 1, 8),
                            doc_id
               ) AS rk
        FROM plant
    ) WHERE rk <= {CLUSTER_CAP} ORDER BY doc_id
    """,
    "count-capped dedup on MinHash labels, gated on planted verbatim twins",
)
def ext_cluster_capped_sample_minhash(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ext_cluster_capped_sample's 100 TB twin: the same md5-priority
    cap (operators/sampling.py:cluster_capped_sample, cap=CLUSTER_CAP)
    over MinHash+LSH component labels. The size-4 planted clusters
    overflow the cap, so the declared slice also pins WHICH member the
    salted house rank drops — selection portability, not just cluster
    shape."""
    docs, labels = _minhash_twin_labels(spark, sf_dir)
    return (
        samp_ops.cluster_capped_sample(
            docs, labels, cap=CLUSTER_CAP, salt=CLUSTER_CAP_SALT
        )
        .filter(F.col("doc_id") >= PLANT_BASE)
        .orderBy("doc_id")
    )


@_bench("ext_cluster_capped_sample_minhash")
def _bench_cluster_capped_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs, labels = _minhash_twin_labels(spark, sf_dir)
    return samp_ops.cluster_capped_sample(
        docs, labels, cap=CLUSTER_CAP, salt=CLUSTER_CAP_SALT
    )


@_register(
    "ext_leakage_safe_splits_minhash",
    f"""
    WITH {_PLANT_COHORT_SQL}
    SELECT doc_id, group_key, {_split_case_sql('group_key')} AS split
    FROM plant ORDER BY doc_id
    """,
    "leakage-safe splits on MinHash labels, gated on planted verbatim twins",
)
def ext_leakage_safe_splits_minhash(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ext_leakage_safe_splits' 100 TB twin: dedup_aware_split keyed on
    MinHash component canonicals — every planted twin must inherit its
    cluster's split fate (group_key = cluster min id, split = the house
    md5 bucket of that key), so near-duplicates can never straddle
    train/eval even when the pair graph came from the approximate
    kernel."""
    docs, labels = _minhash_twin_labels(spark, sf_dir)
    return (
        samp_ops.dedup_aware_split(docs, labels, SPLITS)
        .filter(F.col("doc_id") >= PLANT_BASE)
        .select("doc_id", "group_key", "split")
        .orderBy("doc_id")
    )


@_bench("ext_leakage_safe_splits_minhash")
def _bench_leakage_splits_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed scale path a real curation run executes: ONE
    MinHash pair derivation feeding components + keep-best + splits
    through curation_bundle (pair-graph reuse), at full corpus size."""
    organic = (
        spread_fixture(load_table(spark, sf_dir, "documents"))
        .filter(F.col("lang") == JACCARD_LANG)
        .select("doc_id", "text", "n_chars")
    )
    docs = organic.unionByName(_planted_twin_docs(spark))
    pairs = nd_ops.minhash_near_duplicates(
        docs, threshold=JACCARD_THRESHOLD, shingle_n=MINHASH_SHINGLE_N
    ).select("i", "j")
    plain = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("lang") == JACCARD_LANG)
        .select("doc_id", "text", "n_chars")
        .unionByName(_planted_twin_docs(spark))
    )
    return samp_ops.curation_bundle(plain, pairs, SPLITS, score_col="n_chars")


PNG_STUB_SAMPLE_DOCS = 8  # organic docs riding along to pin the stub dispatch


@_register(
    "ext_png_decode",
    f"""
    WITH planted(doc_id, modality, n_bytes, width, height, n_frames, pixel_crc32, codec) AS (
        VALUES {_PNG_VALUES}
    ),
    organic AS (
        SELECT doc_id,
               CASE WHEN source IN ('web', 'wiki') THEN 'image' ELSE 'audio' END AS modality,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               CAST(octet_length(encode(text)) % 640 + 1 AS INTEGER) AS width,
               CAST(octet_length(encode(text)) % 480 + 1 AS INTEGER) AS height,
               CAST(octet_length(encode(text)) % 16 + 1 AS INTEGER) AS n_frames,
               CAST(NULL AS BIGINT) AS pixel_crc32,
               'stub' AS codec
        FROM documents WHERE doc_id < {PNG_STUB_SAMPLE_DOCS}
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, modality,
           CAST(n_bytes AS BIGINT) AS n_bytes,
           CAST(width AS INTEGER) AS width, CAST(height AS INTEGER) AS height,
           CAST(n_frames AS INTEGER) AS n_frames,
           CAST(pixel_crc32 AS BIGINT) AS pixel_crc32, codec
    FROM (SELECT * FROM planted UNION ALL SELECT * FROM organic)
    ORDER BY doc_id
    """,
    "real stdlib PNG decode (inflate + full de-filter), planted-pattern gated",
)
def ext_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The true-codec decode stage in isolation (VERDICT r10 item 6):
    decode_image over the planted PNG cohort (REAL decode — zlib
    inflate, chunk walk, and scanline reconstruction through all five
    PNG filter types; operators/multimodal.py:decode_png) plus a few
    organic utf-8 payloads pinning the non-PNG dispatch to the
    documented stub path. Expected width/height/pixel_crc32 are
    literals computed from the ENCODED pixel pattern, independent of
    the decoder — a single wrong reconstructed byte (e.g. an
    off-by-one in the Paeth predictor) flips the crc and fails the
    row. The decode itself is an Arrow-batched mapInPandas stage: at
    100 TB the payload bytes stay inside the Python worker per
    partition; only the typed metadata row comes out."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < PNG_STUB_SAMPLE_DOCS
    )
    pay = (
        mm_ops.attach_payload(docs)
        .select("doc_id", "payload", "meta")
        .unionByName(_png_planted_frame(spark))
    )
    return mm_ops.decode_image(pay).orderBy("doc_id")


BIGK_PROBE_K = 80  # k x dim = 5120 > the 4096 boundary: the BLAS path
BIGK_PROBE_NPROBE = 2


def _bigk_centroids() -> list:
    """Deterministic literal codebook — the package's shared
    integer-arithmetic generator (operators/similarity.py:
    uniform_centroids), which this entry's oracle SQL re-derives
    exactly: cent[i][j] = ((i*1000003 + j*7919) * 2654435761 % 1e6)
    / 5e5 - 1."""
    return sim_ops.uniform_centroids(BIGK_PROBE_K, 64)


@_register(
    "ext_ivf_bigk_probe",
    f"""
    WITH cents AS (
        SELECT c.c AS c,
               list_transform(range(64), j ->
                   ((c.c * 1000003 + j * 7919) * 2654435761 % 1000000)
                   / 500000.0 - 1.0) AS cent
        FROM range({BIGK_PROBE_K}) c(c)
    ),
    d AS (
        SELECT e.vec_id, c.c,
               list_sum(list_transform(range(64), j ->
                   (e.embedding[j+1] - c.cent[j+1])
                   * (e.embedding[j+1] - c.cent[j+1]))) AS dist
        FROM embeddings e, cents c
    ),
    r AS (
        SELECT vec_id, c,
               row_number() OVER (
                   PARTITION BY vec_id ORDER BY dist ASC, c ASC
               ) AS rk
        FROM d
    )
    SELECT vec_id,
           CAST(max(CASE WHEN rk = 1 THEN c END) AS INTEGER) AS probe1,
           CAST(max(CASE WHEN rk = 2 THEN c END) AS INTEGER) AS probe2
    FROM r GROUP BY vec_id ORDER BY vec_id
    """,
    "large-codebook BLAS probe assignment, full-value oracle per vector",
)
def ext_ivf_bigk_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-11 Arrow/BLAS probe backend as a DECLARED full-value
    entry: k=80 x dim=64 crosses _PROBE_FOLD_MAX_ELEMENTS, so
    ivf_probe_clusters routes through one float64 matmul + stable
    argsort (operators/similarity.py:_probe_clusters_numpy) instead of
    the per-element-interpreted SQL fold — the backend that makes
    sqrt(n) codebooks affordable (the 12.5k x 2000 x 64 assignment
    fold measured ~50 s interpreted vs ~1 s BLAS,
    BENCH_gate_bigsem_r11). The codebook is an integer-formula
    literal, so DuckDB re-derives the identical doubles and the
    nearest-2 assignment of EVERY fixture vector is compared
    value-for-value — argmin ties break to the lowest centroid id in
    both engines. Distances differ between the engines only in
    summation order (BLAS vs left-to-right), ~1 ulp — argmin-stable
    for any non-adversarial corpus, which the fixtures are."""
    emb = load_table(spark, sf_dir, "embeddings")
    probed = sim_ops.ivf_probe_clusters(
        emb, _bigk_centroids(), BIGK_PROBE_NPROBE
    )
    return probed.select(
        "vec_id",
        F.element_at("probe_clusters", 1).cast("int").alias("probe1"),
        F.element_at("probe_clusters", 2).cast("int").alias("probe2"),
    ).orderBy("vec_id")


BIGKSUB_M = 4       # subspaces over the 64-dim fixture vectors
BIGKSUB_KSUB = 80   # m x ksub x dsub = 4*80*16 = 5120 > the 4096 boundary
BIGKSUB_DSUB = 16


def _bigksub_codebooks() -> list:
    """Per-subspace codebooks sliced from the package's shared
    integer-arithmetic generator (operators/similarity.py:
    uniform_centroids) so the oracle SQL re-derives every double
    exactly: book[s][c][j] = ((c*1000003 + (s*16+j)*7919)
    * 2654435761 % 1e6) / 5e5 - 1."""
    cents = sim_ops.uniform_centroids(BIGKSUB_KSUB, BIGKSUB_M * BIGKSUB_DSUB)
    return [
        [c[s * BIGKSUB_DSUB : (s + 1) * BIGKSUB_DSUB] for c in cents]
        for s in range(BIGKSUB_M)
    ]


@_register(
    "ext_pq_bigksub_encode",
    f"""
    WITH books AS (
        SELECT s.s AS s, c.c AS c,
               list_transform(range({BIGKSUB_DSUB}), j ->
                   ((c.c * 1000003 + (s.s * {BIGKSUB_DSUB} + j) * 7919)
                    * 2654435761 % 1000000)
                   / 500000.0 - 1.0) AS cent
        FROM range({BIGKSUB_M}) s(s), range({BIGKSUB_KSUB}) c(c)
    ),
    d AS (
        SELECT e.vec_id, b.s, b.c,
               list_sum(list_transform(range({BIGKSUB_DSUB}), j ->
                   (e.embedding[b.s * {BIGKSUB_DSUB} + j + 1] - b.cent[j + 1])
                   * (e.embedding[b.s * {BIGKSUB_DSUB} + j + 1] - b.cent[j + 1])
               )) AS dist
        FROM embeddings e, books b
    ),
    r AS (
        SELECT vec_id, s, c,
               row_number() OVER (
                   PARTITION BY vec_id, s ORDER BY dist ASC, c ASC
               ) AS rk
        FROM d
    )
    SELECT vec_id,
           CAST(max(CASE WHEN s = 0 THEN c END) AS INTEGER) AS code1,
           CAST(max(CASE WHEN s = 1 THEN c END) AS INTEGER) AS code2,
           CAST(max(CASE WHEN s = 2 THEN c END) AS INTEGER) AS code3,
           CAST(max(CASE WHEN s = 3 THEN c END) AS INTEGER) AS code4
    FROM r WHERE rk = 1 GROUP BY vec_id ORDER BY vec_id
    """,
    "large-codebook BLAS PQ encode, full-value oracle per vector",
)
def ext_pq_bigksub_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ Arrow/BLAS encode backend as a DECLARED full-value entry
    (VERDICT r11 item 3 — the exact analog of ext_ivf_bigk_probe for
    the OTHER side of the boundary): m=4 x ksub=80 x dsub=16 = 5120
    codebook elements crosses _PROBE_FOLD_MAX_ELEMENTS, so pq_encode
    routes through _pq_encode_numpy (operators/similarity.py:1078) —
    one float64 matmul + stable argmin per subspace — instead of the
    per-element-interpreted SQL fold. This is the corpus-encode pass
    PQ persists at scale (the code table IS the 100 TB artifact; raw
    vectors stream past the encoder once), so the production-ksub
    backend must be the gated one. The codebooks are slices of the
    same integer-formula literal as the probe entry, so DuckDB
    re-derives identical doubles and the nearest sub-centroid of
    EVERY fixture vector in EVERY subspace is compared
    value-for-value; argmin ties break to the lowest code id in both
    engines (BLAS argmin first-occurrence == SQL struct-sort rule,
    parity-pinned in tests). Distances differ between engines only in
    summation order, ~1 ulp — argmin-stable on the fixtures."""
    emb = load_table(spark, sf_dir, "embeddings")
    enc = sim_ops.pq_encode(emb, _bigksub_codebooks())
    return enc.select(
        "vec_id",
        *[
            F.element_at("codes", s + 1).cast("int").alias(f"code{s + 1}")
            for s in range(BIGKSUB_M)
        ],
    ).orderBy("vec_id")


IVFPQ_COARSE_K = 16
IVFPQ_NPROBE = 4
IVFPQ_RERANK = 50


@_register(
    "ext_ivfpq_topk",
    f"""
    WITH cents AS (
        SELECT c.c AS c,
               list_transform(range(64), j ->
                   ((c.c * 1000003 + j * 7919) * 2654435761 % 1000000)
                   / 500000.0 - 1.0) AS cent
        FROM range({IVFPQ_COARSE_K}) c(c)
    ),
    q AS (
        SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        FROM embeddings WHERE vec_id = {TOPK_QUERY_VEC_ID}
    ),
    qcell AS (
        SELECT c FROM (
            SELECT c.c AS c,
                   row_number() OVER (ORDER BY
                       list_sum(list_transform(range(64), j ->
                           (q.qv[j+1] - c.cent[j+1])
                           * (q.qv[j+1] - c.cent[j+1]))) ASC, c.c ASC) AS rk
            FROM cents c, q
        ) WHERE rk <= {IVFPQ_NPROBE}
    ),
    assign AS (
        SELECT vec_id FROM (
            SELECT e.vec_id, c.c,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY
                       list_sum(list_transform(range(64), j ->
                           (e.embedding[j+1] - c.cent[j+1])
                           * (e.embedding[j+1] - c.cent[j+1]))) ASC,
                       c.c ASC) AS rk
            FROM embeddings e, cents c
        ) WHERE rk = 1 AND c IN (SELECT c FROM qcell)
    ),
    codes AS (
        SELECT vec_id, list(code ORDER BY s) AS codes FROM (
            SELECT e.vec_id, b.s, b.c AS code,
                   row_number() OVER (PARTITION BY e.vec_id, b.s ORDER BY
                       list_sum(list_transform(range({BIGKSUB_DSUB}), j ->
                           (e.embedding[b.s * {BIGKSUB_DSUB} + j + 1] - b.cent[j+1])
                           * (e.embedding[b.s * {BIGKSUB_DSUB} + j + 1] - b.cent[j+1])
                       )) ASC, b.c ASC) AS rk
            FROM (SELECT em.* FROM embeddings em JOIN assign a USING (vec_id)) e,
                 (SELECT s.s AS s, c.c AS c,
                         list_transform(range({BIGKSUB_DSUB}), j ->
                             ((c.c * 1000003 + (s.s * {BIGKSUB_DSUB} + j) * 7919)
                              * 2654435761 % 1000000)
                             / 500000.0 - 1.0) AS cent
                  FROM range({BIGKSUB_M}) s(s), range({BIGKSUB_KSUB}) c(c)) b
        ) WHERE rk = 1
        GROUP BY vec_id
    ),
    adc AS (
        SELECT cd.vec_id,
               list_sum(list_transform(range({BIGKSUB_M}), s ->
                   list_sum(list_transform(range({BIGKSUB_DSUB}), j ->
                       (q.qv[s * {BIGKSUB_DSUB} + j + 1]
                        - (((cd.codes[s+1] * 1000003
                             + (s * {BIGKSUB_DSUB} + j) * 7919)
                            * 2654435761 % 1000000) / 500000.0 - 1.0))
                       * (q.qv[s * {BIGKSUB_DSUB} + j + 1]
                        - (((cd.codes[s+1] * 1000003
                             + (s * {BIGKSUB_DSUB} + j) * 7919)
                            * 2654435761 % 1000000) / 500000.0 - 1.0))
                   ))
               )) AS adc
        FROM codes cd, q
    ),
    shortlist AS (
        SELECT vec_id FROM adc ORDER BY adc ASC, vec_id ASC LIMIT {IVFPQ_RERANK}
    )
    SELECT e.vec_id,
           round(list_sum(list_transform(range(64), j ->
               (CAST(e.embedding[j+1] AS DOUBLE) - q.qv[j+1])
               * (CAST(e.embedding[j+1] AS DOUBLE) - q.qv[j+1]))), 4) AS l2sq
    FROM embeddings e JOIN shortlist s USING (vec_id), q
    ORDER BY l2sq ASC, e.vec_id ASC
    LIMIT {TOPK_K}
    """,
    "IVF-PQ composite ANN (coarse prune + ADC + exact re-rank), full-value oracle",
)
def ext_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite production ANN stack as ONE declared full-value
    entry (operators/similarity.py:ivfpq_topk): the coarse quantizer
    prunes the corpus to the query's nprobe=4 nearest of 16 cells,
    PQ ADC (m=4 x ksub=80 — the 5120-element codebook crosses the
    BLAS boundary, so the encode pass is the gated Arrow backend)
    shortlists 50 candidates by lookup-table distance, and only
    those fetch raw vectors for the exact re-ranked top-10. Both
    quantizers are integer-formula literals, and every float on the
    decision path is order-deterministic (left-to-right sums in the
    driver LUT, the Spark folds, and the oracle's list_sum), so DuckDB
    re-derives the coarse assignment, the PQ codes, the ADC scores,
    the shortlist cut, and the final distances bit-for-bit — the
    whole composite is compared value-for-value, not recall-gated.
    This is the query-side twin of the ivf_append_index +
    pq_write_index rest layout: at 100 TB the scan reads
    nprobe/k_coarse of a cell-partitioned CODE table and the re-rank
    semi-joins 50 ids — no step touches the full corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = sim_ops.query_vector(emb, TOPK_QUERY_VEC_ID)
    return sim_ops.ivfpq_topk(
        emb,
        sim_ops.uniform_centroids(IVFPQ_COARSE_K, 64),
        _bigksub_codebooks(),
        q,
        k=TOPK_K,
        nprobe=IVFPQ_NPROBE,
        rerank=IVFPQ_RERANK,
    )


_IVFPQ_BENCH_INDEX: dict = {}


@_bench("ext_ivfpq_topk")
def _bench_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator-only bench: the RECURRING query cost at scale — a
    partition-pruned scan of the STORED cell-partitioned code table
    (nprobe/k_coarse of the files), ADC shortlist, exact re-rank.
    Coarse assignment and corpus encoding are one-off persisted-ingest
    artifacts (ivfpq_write_index), built once per sf_dir outside the
    timed path — exactly the ext_pq_topk bench discipline; the
    declared inline form stays the oracle anchor."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = sim_ops.query_vector(emb, TOPK_QUERY_VEC_ID)
    cents = sim_ops.uniform_centroids(IVFPQ_COARSE_K, 64)
    books = _bigksub_codebooks()
    path = _IVFPQ_BENCH_INDEX.get(sf_dir)
    if path is None:
        path = _bench_tmpdir("gmall_ivfpq_index_") + "/codes"
        sim_ops.ivfpq_write_index(emb, cents, books, path)
        _IVFPQ_BENCH_INDEX[sf_dir] = path
    codes = spark.read.parquet(path)
    return sim_ops.ivfpq_topk_stored(
        emb, codes, cents, books, q,
        k=TOPK_K, nprobe=IVFPQ_NPROBE, rerank=IVFPQ_RERANK,
    )
