"""Connected components over near-duplicate pair graphs — the step a
dedup pipeline needs AFTER pair generation: transitively-linked
near-dups form one group, from which one canonical document is kept.

One operator, two engines, one output contract ((node, component =
minimum member id)):

- Edge lists that fit a 4 MB driver budget (16 bytes of (i, j) longs
  per edge, ``DRIVER_EDGE_CAP``) are collected once and solved by a
  union-find on the driver. Near-dup graphs are small (a
  verbatim-duplicate 12.5k-doc micro-batch yields ~10k pairs), and a
  distributed algorithm pays a blocking job per round whose fixed
  cost dwarfs the work (Chukonu, VLDB'21: per-job overhead dominates
  small Spark jobs).
- Larger graphs run large-star/small-star rounds (Kiveris et al.,
  "Connected Components in MapReduce and Beyond", SoCC 2014), which
  converge in O(log n) rounds even on long chains.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)

# 4 MB of (i, j) longs: two orders of magnitude above the declared
# micro-batch graphs, and far below the size at which driver Row
# objects become a memory risk. Above it the star rounds run instead
# (pinned by tests/test_neardup_gate.py::
# test_neardup_gate_distributed_cc_fallback).
DRIVER_EDGE_CAP = 4 * 1024 * 1024 // 16


def union_find(pair_rows) -> dict:
    """{node: component} over (i, j) pairs, component = the minimum
    member id regardless of edge order: the smaller root always wins
    the union, so the final root of every tree is its minimum."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in pair_rows:
        ra, rb = find(r[0]), find(r[1])
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {node: find(node) for node in list(parent)}


def connected_components(
    pairs: DataFrame, src: str = "i", dst: str = "j", max_iter: int = 50
) -> DataFrame:
    """(node, component) for every node appearing in ``pairs``;
    ``component`` = the minimum node id of its connected component.
    Nodes with no edges don't appear (singletons are trivially their
    own component — callers union them in if needed).

    One bounded collect fetches at most ``DRIVER_EDGE_CAP`` + 1 edges.
    If they all fit, the labels come from :func:`union_find` as a
    local frame typed like ``src``; otherwise ``max_iter`` bounds the
    star rounds, and a WARNING is logged if they stop there
    unconverged."""
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    e = pairs.select(F.col(src).alias("x"), F.col(dst).alias("y"))
    rows = e.limit(DRIVER_EDGE_CAP + 1).collect()  # collect-bound: <= DRIVER_EDGE_CAP + 1 edges
    if len(rows) <= DRIVER_EDGE_CAP:
        id_type = dict(pairs.dtypes)[src]
        return pairs.sparkSession.createDataFrame(
            list(union_find(rows).items()),
            f"node {id_type}, component {id_type}",
        )
    return _star_components(e, max_iter)


def _star_phase(sym_edges: DataFrame, large: bool) -> DataFrame:
    """One large-star or small-star round over a SYMMETRIC edge list
    (a, b). m(a) = min(N(a) ∪ {a}); large-star re-points every
    strictly-larger neighbor at m, small-star re-points the smaller
    neighbors (and a itself) at m. Each phase is one groupBy + one
    join + one distinct."""
    mins = sym_edges.groupBy("a").agg(F.min("b").alias("mb"))
    mins = mins.select("a", F.least("a", "mb").alias("m"))
    joined = sym_edges.join(mins, "a")
    if large:
        out = joined.filter(F.col("b") > F.col("a")).select(
            F.col("b").alias("x"), F.col("m").alias("y")
        )
    else:
        out = joined.filter(F.col("b") < F.col("a")).select(
            F.col("b").alias("x"), F.col("m").alias("y")
        ).union(mins.select(F.col("a").alias("x"), F.col("m").alias("y")))
    return out.filter(F.col("x") != F.col("y")).distinct()


def _star_components(e: DataFrame, max_iter: int) -> DataFrame:
    """Large-star/small-star alternation over an (x, y) edge frame.
    Each round roughly halves label-tree depth, so a chain of n nodes
    converges in O(log n) rounds.

    Convergence = the edge set reaches the fixpoint of both phases
    (stars centered at component minima), detected by an ``observe``d
    (count, order-insensitive xxhash fold) signature on the round's
    single materializing job."""
    e = e.distinct().localCheckpoint()
    nodes = (
        e.select(F.col("x").alias("node"))
        .union(e.select(F.col("y").alias("node")))
        .distinct()
    )
    edges = e.filter(F.col("x") != F.col("y"))
    prev_sig = None
    for _ in range(max_iter):
        sym = edges.union(
            edges.select(F.col("y").alias("x"), F.col("x").alias("y"))
        ).selectExpr("x as a", "y as b")
        after_large = _star_phase(sym, large=True)
        sym2 = after_large.union(
            after_large.select(F.col("y").alias("x"), F.col("x").alias("y"))
        ).selectExpr("x as a", "y as b")
        obs = Observation()
        # bit_xor, not sum: order-insensitive over the distinct edge
        # set and cannot overflow under ANSI arithmetic
        small = _star_phase(sym2, large=False).observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(x, y))").alias("h"),
        )
        edges = small.localCheckpoint()
        sig = (obs.get["n"], obs.get["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        _log.warning(
            "connected_components: star rounds stopped at max_iter=%d "
            "before converging; some components may be split",
            max_iter,
        )
    star = edges.select(F.col("x").alias("node"), F.col("y").alias("label"))
    return nodes.join(star, "node", "left").select(
        "node", F.coalesce("label", "node").alias("component")
    )


def keep_canonical(
    docs: DataFrame, components: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Dedup by component: keep only each component's canonical member
    (minimum id) plus every un-clustered document. The 'collapse
    near-dup groups to one exemplar' step of a training-data pipeline.
    """
    drop = components.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return docs.join(drop, id_col, "left_anti")


def keep_best(
    docs: DataFrame,
    components: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware canonical selection: keep per near-dup component
    the member with the HIGHEST ``score_col`` (ties -> minimum id),
    plus every un-clustered document — the practical upgrade of
    :func:`keep_canonical`, which keeps the minimum id regardless of
    quality (near-dup groups usually mix a clean original with
    truncated/boilerplate-wrapped copies; min-id picks arbitrarily
    among them, this picks the one worth training on).

    Scale shape: one left join against the (node, component) label
    frame — tiny relative to the corpus, broadcastable — and ONE
    window shuffle keyed on the component label; unclustered docs
    label as themselves, so their "component" is unique and the window
    partition is a singleton (no hot key). Text never shuffles twice:
    the window orders (score, id) pairs only.

    Precondition: component labels must live in the doc-id space with
    label = some MEMBER's id (connected_components emits the minimum
    member id, satisfying this) — then an unclustered doc's
    self-label can never collide with a real component's label, since
    that label's member is clustered."""
    from pyspark.sql.window import Window

    labeled = docs.join(
        components.withColumnRenamed("node", id_col), id_col, "left"
    ).withColumn("_comp", F.coalesce("component", F.col(id_col)))
    w = Window.partitionBy("_comp").orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    return (
        labeled.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_comp", "component")
    )


def cluster_size_histogram(
    docs: DataFrame, components: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Dedup audit: the duplicate-cluster size distribution —
    (size, n_clusters) with un-clustered documents counted as size-1
    clusters. The one-page summary a curation run reports ("the corpus
    holds N pairs, M triples, one 40k-copy boilerplate cluster") and
    the input to dedup-rate estimates: removable rows =
    sum((size-1) * n_clusters).

    Two tiny aggs over the label frame (component cardinality <<
    corpus) plus ONE anti-join to count singletons; the histogram
    itself is at most max-cluster-size rows. The corpus text is
    touched only by the pair generation upstream. The singleton count
    stays IN the plan as a 1-row aggregate branch (r12) — the old
    ``.count()`` action forced a separate blocking job plus a
    driver-built literal frame before the real query even started.
    """
    sizes = components.groupBy("component").agg(F.count("*").alias("size"))
    hist = sizes.groupBy("size").agg(F.count("*").alias("n_clusters"))
    singles = (
        docs.select(F.col(id_col))
        .join(components.select(F.col("node").alias(id_col)), id_col, "left_anti")
        .agg(F.count("*").alias("n_clusters"))
        .select(
            F.lit(1).cast("long").alias("size"),
            F.col("n_clusters").cast("long").alias("n_clusters"),
        )
    )
    return (
        hist.select(F.col("size").cast("long"), F.col("n_clusters").cast("long"))
        .unionByName(singles)
        .groupBy("size")
        .agg(F.sum("n_clusters").alias("n_clusters"))
        .filter(F.col("n_clusters") > 0)
        .orderBy("size")
    )
