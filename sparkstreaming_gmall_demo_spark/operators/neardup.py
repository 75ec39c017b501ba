"""Near-duplicate detection: exact set similarity, MinHash+LSH,
SimHash — the large-scale training-data dedup family.

All signature computation is built-in Column expressions (xxhash64,
higher-order array functions) — JVM-side, codegen'd, no Python UDFs.

Scale design:
- Signatures (a few hundred bytes) are computed map-side; only
  signatures and ids shuffle, never document text.
- Candidate generation is a band-bucket self-join: docs sharing a band
  bucket meet in one shuffle partition. Bucket sizes are bounded in
  practice; a hot bucket (e.g. empty-doc signature) is AQE skew-split.
- Verification joins candidate pairs back to token sets by doc id —
  two broadcast-or-shuffle hash joins on narrow keys.

The exact kernels (Jaccard, containment, the threshold sweep) share
one posting self-join, ``_posting_pairs``: O(n^2) in the worst case,
they are the verification kernels and the oracle-checkable declared
queries on a bounded partition (per-language). Against a bucket-pair
kernel and a ppjoin prefix filter (token and bigram sets, sf0.01 and
sf0.1, 4 cores) it was as fast or faster in every case, by up to 3.4x
and 20x, with identical output. Its weak spot is a corpus of verbatim
copies: at 10x duplication scale_smoke.py's trigram containment case
takes 129 s where the prefix filter took 52 s. The scale path is
minhash_near_duplicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import tokens

# ---------------------------------------------------------------------------
# exact token-set Jaccard
# ---------------------------------------------------------------------------


def token_sets(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(tokens(text_col)).alias("toks"),
    )


def _check_threshold(threshold: float) -> None:
    """The posting join never pairs disjoint sets, so a threshold <= 0
    (which every disjoint pair meets) would silently undercount."""
    if threshold <= 0:
        raise ValueError(f"threshold must be > 0, got {threshold}")


def _posting_pairs(sets: DataFrame) -> DataFrame:
    """(i, j, inter, szi, szj) for every pair i < j of ``sets`` rows
    (doc_id, toks: array of distinct elements) sharing at least one
    element: explode (doc, element), self-join on the element and
    count (only co-occurring pairs materialize — sparse, not a cross
    join). A hot element's pairs stream straight through map-side
    partial aggregation.

    Set sizes ride through the posting join (8 bytes/row) instead of
    joining back to a separate sizes frame: sz is functionally
    dependent on doc_id, so grouping by (i, szi, j, szj) produces the
    identical pair frame while the plan drops two joins and two full
    scan+tokenize passes."""
    posting = sets.select(
        "doc_id", F.size("toks").alias("sz"), F.explode("toks").alias("token")
    )
    a, b = posting.alias("a"), posting.alias("b")
    return (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("i"),
            F.col("a.sz").alias("szi"),
            F.col("b.doc_id").alias("j"),
            F.col("b.sz").alias("szj"),
        )
        .agg(F.count("*").alias("inter"))
        .select("i", "j", "inter", "szi", "szj")
    )


def token_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """All pairs (i < j) with token-set Jaccard >= threshold."""
    return array_jaccard_pairs(token_sets(df, id_col, text_col), threshold)


def array_jaccard_pairs(sets: DataFrame, threshold: float) -> DataFrame:
    """All pairs (i < j) of ``sets`` rows (doc_id, toks: array) with
    set Jaccard >= threshold — works over any element space (tokens,
    n-gram shingles, hashes). |A ∪ B| = |A| + |B| − |A ∩ B| over the
    posting join's counts.

    The self-join sides stay lazy: unigram tokenization is cheap enough
    that re-computing it per side beats a blocking materialization
    (measured; callers over an expensive shingle space materialize
    ``sets`` first, as array_containment_pairs does)."""
    _check_threshold(threshold)
    jac = F.col("inter") / (F.col("szi") + F.col("szj") - F.col("inter"))
    return (
        _posting_pairs(sets)
        .filter(jac >= threshold)
        .select("i", "j", F.round(jac, 4).alias("jaccard"))
    )


def array_containment_pairs(sets: DataFrame, threshold: float) -> DataFrame:
    """All ORDERED pairs (contained, container) with set containment
    |A ∩ B| / |A| >= threshold — the asymmetric complement of Jaccard
    dedup: a short document quoted inside a long one scores near-1
    containment but low Jaccard (the union is dominated by the long
    doc), so symmetric dedup never sees it. Quote/snippet reuse
    detection is exactly this query (Broder's containment measure,
    "On the resemblance and containment of documents", 1997). The
    MinHash band index cannot serve it: its collision probability is
    driven by JACCARD, and a 10-token quote inside a 100-token page
    has containment 1.0 but Jaccard 0.1.

    The posting join counts each unordered pair's intersection ONCE;
    both directions are emitted with their own denominators and
    filtered — no second join pass for the flipped direction. The two
    self-join sides consume a localCheckpoint-ed ``sets`` so the
    shingle arrays are computed once, not per side."""
    _check_threshold(threshold)
    sized = _posting_pairs(sets.localCheckpoint())
    fwd = sized.select(
        F.col("i").alias("contained"),
        F.col("j").alias("container"),
        (F.col("inter") / F.col("szi")).alias("containment"),
    )
    rev = sized.select(
        F.col("j").alias("contained"),
        F.col("i").alias("container"),
        (F.col("inter") / F.col("szj")).alias("containment"),
    )
    return (
        fwd.unionByName(rev)
        .filter(F.col("containment") >= threshold)
        .select(
            "contained", "container", F.round("containment", 4).alias("containment")
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def shingle_sets(df: DataFrame, shingle_n: int = 2,
                 id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, toks = distinct word n-gram strings). Tokens are
    materialized into a column first so the n-gram window reads the
    array instead of re-splitting the text per shingle index (the
    difference between O(tokens) and O(tokens^2) per doc)."""
    toked = df.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("t"))
    return toked.select(
        "doc_id",
        F.expr(
            f"array_distinct(CASE WHEN size(t) >= {shingle_n} THEN "
            f"transform(sequence(1, size(t) - {shingle_n - 1}), "
            f"i -> concat_ws(' ', slice(t, i, {shingle_n}))) "
            f"ELSE array(concat_ws(' ', t)) END)"
        ).alias("toks"),
    )


def shingle_hashes(df: DataFrame, shingle_n: int = 3,
                   id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Distinct 64-bit shingle hashes per doc.

    Each string shingle is hashed exactly ONCE (xxhash64); every
    downstream MinHash function then works on longs. Tokens are
    materialized into a column first so the n-gram window does not
    re-split the text per shingle index.
    """
    toked = df.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("toks"))
    return toked.select(
        "doc_id",
        F.expr(
            f"array_distinct(CASE WHEN size(toks) >= {shingle_n} THEN "
            f"transform(sequence(1, size(toks) - {shingle_n - 1}), "
            f"i -> xxhash64(concat_ws(' ', slice(toks, i, {shingle_n})))) "
            f"ELSE array(xxhash64(concat_ws(' ', toks))) END)"
        ).alias("hs"),
    )


def minhash_signature(df: DataFrame, num_hashes: int = 64, shingle_n: int = 3,
                      id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """num_hashes-wide MinHash signature per doc, carried alongside the
    shingle-hash set (so verification needs no second pass over text).

    Hash family: xxhash64(shingle_hash, seed) for seed = 0..H-1 —
    long-input hashing, ~10x cheaper than re-hashing the shingle string
    per seed.
    """
    return signature_from_hash_sets(
        shingle_hashes(df, shingle_n, id_col, text_col), num_hashes
    )


# Hot-bucket bound for _bucket_pairs: buckets larger than this are
# salted into contiguous sub-buckets, capping the in-row pair blowup
# at MAX_BUCKET^2/2 (a measurable recall tradeoff instead of an OOM).
DEFAULT_MAX_BUCKET = 512


def _bucket_pairs(
    banded: DataFrame,
    payload_cols: list,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    overflow_obs=None,
    spread_pairs: int | None = None,
) -> DataFrame:
    """(band, bh, payload) -> unique candidate pairs via groupBy-bucket.

    One shuffle on the bucket key; pairs are generated inside each
    bucket row with array combinatorics. This computes upstream
    signatures ONCE (vs twice for a self-join of the same plan) and
    shuffles only ids + signatures, never text.

    Hot-bucket bound (enforced, not just documented): a pathological
    bucket — e.g. every doc identical, or the all-empty-doc signature —
    would otherwise materialize |bucket|^2/2 pairs in a single row.
    Buckets over ``max_bucket`` members are salted into contiguous
    sub-buckets of at most ``max_bucket`` (after the deterministic
    sort), so peak row size is bounded at max_bucket^2/2 pairs. Only
    cross-sub-bucket pairs are lost, and every member keeps its
    intra-chunk edges, so oversized near-dup groups still cluster in
    connected_components. Pass an ``Observation`` as ``overflow_obs``
    to get (oversize_buckets, oversize_members) measured during the
    job — an accurate account of where recall was traded. Oracle-
    kernel callers that are O(n^2) by design (simhash brute force)
    pass ``max_bucket=None`` to disable the cap.

    ``spread_pairs``: when the DOWNSTREAM per-pair work is heavy
    (embedding cosine — tens of µs per pair vs the id-pair emission the
    MinHash family does), set it to the desired parallelism. The bucket
    aggregate's output is a handful of KB-sized array rows, so AQE
    coalesces the post-shuffle stage to ONE partition and the entire
    O(|bucket|²) scoring serializes on a single core; an explicit
    round-robin repartition (user-specified numPartitions — AQE leaves
    those alone) re-spreads the bucket rows for pennies (the arrays
    move once) before the explode fans them out.
    """
    ds = F.sort_array(F.collect_list(F.struct(*payload_cols)))
    buckets = (
        banded.groupBy("band", "bh")
        .agg(ds.alias("ds"))
        .filter(F.size("ds") > 1)
    )
    if max_bucket is not None:
        if overflow_obs is not None:
            buckets = buckets.observe(
                overflow_obs,
                F.sum((F.size("ds") > max_bucket).cast("long")).alias(
                    "oversize_buckets"
                ),
                F.sum(
                    F.when(F.size("ds") > max_bucket, F.size("ds")).otherwise(0)
                ).alias("oversize_members"),
            )
        buckets = buckets.select(
            F.explode(
                F.expr(
                    f"transform(sequence(0, (size(ds) - 1) div {max_bucket}), "
                    f"c -> slice(ds, c * {max_bucket} + 1, {max_bucket}))"
                )
            ).alias("ds")
        ).filter(F.size("ds") > 1)
    if spread_pairs is not None:
        buckets = buckets.repartition(spread_pairs)
    return buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ds, (x, k) -> "
                "transform(slice(ds, k + 2, size(ds)), y -> struct(x, y))))"
            )
        ).alias("p")
    )


def signature_bands(
    sigs: DataFrame, bands: int = 16, payload_cols: tuple = ()
) -> DataFrame:
    """(doc_id, *payload, band, bh): the LSH banding of a signature
    frame — band hash = xxhash64 fold of the band's signature slice;
    rows_per_band = H / bands, so P[candidate] follows the standard
    (1 - (1 - j^r)^b) S-curve. Shared by minhash_near_duplicates and
    the streaming near-dup gate, whose persisted INDEX of admitted
    documents' buckets is probed incrementally."""
    return sigs.select(
        "doc_id",
        *payload_cols,
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands} - 1), "
                f"b -> named_struct('band', b, 'bh', "
                f"aggregate(slice(signature, b * (size(signature) div {bands}) + 1, "
                f"size(signature) div {bands}), cast(b as bigint), "
                f"(acc, x) -> xxhash64(acc, x))))"
            )
        ).alias("bb"),
    ).select(
        "doc_id", *payload_cols,
        F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"),
    )


def minhash_near_duplicates(
    df: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    overflow_obs=None,
) -> DataFrame:
    """Scale-path near-dup: MinHash signatures -> LSH banding ->
    candidate pairs -> exact shingle-Jaccard verification of candidates
    only. Output (i, j, jaccard) with jaccard >= threshold.

    Jaccard is computed on the 64-bit shingle-hash sets (identical to
    string-shingle Jaccard up to negligible hash collisions). The
    shingle sets ride through the bucket shuffle with the ids, so the
    whole op is: one pass over text, one shuffle on band buckets, one
    dedup shuffle — no joins back to the corpus. ``overflow_obs``
    records salting-cap engagement (near_duplicates_from_signatures).
    """
    sigs = minhash_signature(df, num_hashes, shingle_n, id_col, text_col)
    return near_duplicates_from_signatures(
        sigs, threshold, bands, max_bucket, overflow_obs=overflow_obs
    )


def signature_from_hash_sets(hs_df: DataFrame, num_hashes: int = 64) -> DataFrame:
    """(doc_id, hs, signature) from a (doc_id, hs array<bigint>) frame
    — the content-agnostic half of :func:`minhash_signature`: any
    shingling (token n-grams, byte n-grams of a binary payload, …)
    that yields a 64-bit hash set plugs into the same MinHash/LSH
    machinery through this."""
    sig = F.expr(
        "transform(sequence(0, {h} - 1), "
        "seed -> array_min(transform(hs, h -> xxhash64(h, seed))))".format(h=num_hashes)
    )
    return hs_df.select("doc_id", "hs", sig.alias("signature"))


def near_duplicates_from_signatures(
    sigs: DataFrame,
    threshold: float,
    bands: int = 16,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    overflow_obs=None,
) -> DataFrame:
    """(i, j, jaccard >= threshold) from a (doc_id, hs, signature)
    frame: LSH banding -> bucket candidate pairs -> exact hash-set
    Jaccard verification. The shared back half of the MinHash family
    (text and binary-payload callers). ``overflow_obs``: an
    ``Observation`` passed through to the bucket kernel records how
    often the ``max_bucket`` salting cap engaged (oversize_buckets /
    oversize_members) — the recall-vs-blowup control a verbatim-twin
    corpus exercises (SCALE_SMOKE_100X pair_kernel rows)."""
    banded = signature_bands(sigs, bands, payload_cols=("hs",))
    pairs = _bucket_pairs(
        banded, [F.col("doc_id"), F.col("hs")], max_bucket=max_bucket,
        overflow_obs=overflow_obs,
    ).select(
        F.col("p.x.doc_id").alias("i"),
        F.col("p.y.doc_id").alias("j"),
        (
            F.size(F.array_intersect("p.x.hs", "p.y.hs"))
            / F.size(F.array_union("p.x.hs", "p.y.hs"))
        ).alias("jaccard"),
    )
    return (
        pairs.dropDuplicates(["i", "j"])
        .filter(F.col("jaccard") >= threshold)
        .select("i", "j", F.round("jaccard", 4).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash64(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash over distinct tokens: bit b of the signature is 1
    iff sum over token-hashes of (+1 if hash bit b set else -1) > 0.
    Pure array expressions; tokens are hashed once into a materialized
    long array so the 64-bit loop re-reads longs, not re-tokenized text.
    """
    hashed = df.select(
        F.col(id_col).alias("doc_id"),
        F.expr(
            f"transform(array_distinct(split({text_col}, ' ')), tok -> xxhash64(tok))"
        ).alias("th"),
    )
    return hashed.select(
        "doc_id",
        F.expr(
            "aggregate(transform(sequence(0, 63), b -> "
            " CASE WHEN aggregate(th, 0, (acc, h) -> "
            "   acc + CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) > 0 "
            " THEN shiftleft(1L, b) ELSE 0L END), "
            "0L, (acc, x) -> acc | x)"
        ).alias("simhash"),
    )


def simhash_all_pairs_hamming(sigs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Brute-force verification twin of simhash_near_duplicates: ALL
    (i < j) pairs of ``sigs`` (doc_id, simhash) within the Hamming
    budget, generated from ONE all-docs bucket (no cartesian join node,
    no banding). O(n^2) by design — the ground-truth kernel the banded
    path's completeness is asserted against (pigeonhole: chunk banding
    must find exactly this set), never the scale path.
    """
    one_bucket = sigs.select(
        F.col("doc_id").alias("vid"),
        F.col("simhash").alias("v"),
        F.lit(0).alias("band"),
        F.lit(0).alias("bh"),
    )
    return (
        # max_bucket=None: this kernel IS the all-pairs ground truth
        _bucket_pairs(one_bucket, [F.col("vid"), F.col("v")], max_bucket=None)
        .select(
            F.col("p.x.vid").alias("i"),
            F.col("p.y.vid").alias("j"),
            F.bit_count(F.col("p.x.v").bitwiseXOR(F.col("p.y.v"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_near_duplicates(df: DataFrame, max_hamming: int = 3,
                            id_col: str = "doc_id", text_col: str = "text",
                            max_bucket: int | None = DEFAULT_MAX_BUCKET) -> DataFrame:
    """Near-dup pairs with Hamming(simhash_i, simhash_j) <= max_hamming.

    Candidate generation: split the 64-bit signature into
    (max_hamming + 1) chunks — pigeonhole: any pair within the Hamming
    budget agrees exactly on at least one chunk — then exact bit_count
    verification on candidates. Chunk widths differ by at most one bit
    when (max_hamming + 1) does not divide 64.
    """
    n = min(max_hamming + 1, 64)
    base_w, extra = divmod(64, n)
    # chunk c: width w = base_w + (c < extra), start = c*base_w + min(c, extra)
    sigs = simhash64(df, id_col, text_col)
    banded = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.expr(
                f"transform(sequence(0, {n - 1}), c -> named_struct("
                f"'c', c, 'v', (simhash >> (c * {base_w} + least(c, {extra}))) & "
                f"(shiftleft(1L, {base_w} + CASE WHEN c < {extra} THEN 1 ELSE 0 END) - 1)))"
            )
        ).alias("ch"),
    ).select(
        "doc_id",
        "simhash",
        F.col("ch.c").alias("band"),
        F.col("ch.v").alias("bh"),
    )
    return (
        _bucket_pairs(
            banded, [F.col("doc_id"), F.col("simhash")], max_bucket=max_bucket
        )
        .select(
            F.col("p.x.doc_id").alias("i"),
            F.col("p.y.doc_id").alias("j"),
            F.bit_count(F.col("p.x.simhash").bitwiseXOR(F.col("p.y.simhash"))).alias("hamming"),
        )
        .dropDuplicates(["i", "j"])
        .filter(F.col("hamming") <= max_hamming)
    )


def jaccard_threshold_sweep(
    df: DataFrame,
    thresholds_bp: list,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dedup threshold sensitivity curve: from ONE exact pair
    computation at the loosest threshold, report for every candidate
    threshold how many pairs and how many distinct documents a
    near-dup pass at that cutoff would touch. This is the table a
    dedup planner reads before committing a 100 TB pass to a single
    Jaccard cutoff — the knee where n_dup_docs collapses is the
    operating point, and re-running the quadratic kernel once per
    candidate threshold (the naive sweep) buys nothing the
    conditional sums don't.

    One pass by construction (the ext_oov_sweep discipline): the
    posting-join pair kernel (_posting_pairs) runs once at
    min(thresholds); every per-threshold statistic is a conditional
    sum over the surviving pair frame, and the per-doc frame is one
    explode of the pair endpoints aggregated to each doc's best
    jaccard. Thresholds are integer BASIS POINTS (the q10 per-mille
    discipline) so the output carries no float keys; the jaccard
    comparison itself is the unrounded IEEE double both engines
    compute from the same exact ints.

    Returns (threshold_bp, n_pairs, n_dup_docs) — all BIGINT, one row
    per requested threshold, ordered loosest first.

    EAGER by design (unlike the registry's lazy builders): the
    quadratic pair frame is persisted, both 1-row aggregates are
    collected, and the blocks are released BEFORE returning — the
    explicit-lifetime contract that replaced the round-6
    localCheckpoint (whose blocks were GC-released and unrecoverable
    on executor loss). The returned frame is |ts| local rows; callers
    timing this operator must wrap the BUILD call (bench.py does —
    its timed region is build + collect).
    """
    if not thresholds_bp:
        raise ValueError("thresholds_bp must be non-empty")
    ts = sorted(set(int(t) for t in thresholds_bp))
    if ts[0] <= 0:
        # pairs with EMPTY intersections never materialize from the
        # posting join, so a <= 0 threshold would silently undercount
        # (every disjoint pair trivially satisfies jac >= 0)
        raise ValueError("thresholds_bp must be positive basis points")
    t_min = ts[0] / 10000.0

    jac = F.col("inter") / (F.col("szi") + F.col("szj") - F.col("inter"))
    pairs = (
        _posting_pairs(token_sets(df, id_col, text_col))
        .select("i", "j", jac.alias("jac"))
        .filter(F.col("jac") >= t_min)
    )
    # Both aggregate branches hang off the pair frame, so it is
    # persist()ed and RELEASED here — an explicit lifetime, not the
    # GC-released localCheckpoint this used in round 6 (ADVICE: a
    # localCheckpoint's blocks are unrecoverable on executor loss and
    # only freed when the RDD is collected, so the returned plan could
    # fail mid-action on a flaky cluster where plain lineage would
    # recompute). persist() keeps lineage (executor loss recomputes)
    # and the two aggregates collapse to ONE row each — 2 x |ts|
    # bounded values — so the sweep table is assembled on the driver
    # and the quadratic pair frame is unpersisted before returning.
    pairs = pairs.persist()
    try:
        # ONE action for both statistics (r12): the pair-level and
        # doc-level 1-row aggregates ride a single union job (tagged
        # rows, columns aligned), so the quadratic pair frame is
        # materialized and consumed in one pass instead of two
        # back-to-back blocking collects
        pair_agg = pairs.agg(
            *[
                F.sum((F.col("jac") >= t / 10000.0).cast("long")).alias(f"c{t}")
                for t in ts
            ]
        ).select(F.lit("p").alias("_k"), "*")
        best = (
            pairs.select(
                F.explode(F.array(F.col("i"), F.col("j"))).alias("doc"),
                F.col("jac"),
            )
            .groupBy("doc")
            .agg(F.max("jac").alias("best"))
        )
        doc_agg = best.agg(
            *[
                F.sum((F.col("best") >= t / 10000.0).cast("long")).alias(f"c{t}")
                for t in ts
            ]
        ).select(F.lit("d").alias("_k"), "*")
        both = {
            r["_k"]: r
            for r in pair_agg.unionByName(doc_agg).collect()  # collect-bound: 2-row union of 1-row aggs
        }
        pair_row, doc_row = both["p"], both["d"]
    finally:
        pairs.unpersist()
    rows = [
        (t, int(pair_row[f"c{t}"] or 0), int(doc_row[f"c{t}"] or 0)) for t in ts
    ]
    return df.sparkSession.createDataFrame(
        rows, "threshold_bp long, n_pairs long, n_dup_docs long"
    ).orderBy("threshold_bp")
