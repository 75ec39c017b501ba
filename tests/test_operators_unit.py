"""Unit tests for operator edge cases (SURVEY §5.3): permille rounding
boundaries, pagination bounds, age-as-of, alert predicate arms."""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkstreaming_gmall_demo_spark.functions import age_as_of, permille
from sparkstreaming_gmall_demo_spark.operators import agg as agg_ops
from sparkstreaming_gmall_demo_spark.operators import dedup as dedup_ops
from sparkstreaming_gmall_demo_spark.operators import pagination as page_ops


def test_permille_java_round_semantics(spark):
    # Math.round = floor(x + 0.5): 2.5 -> 3, 0.5 -> 1 (never bankers)
    df = spark.createDataFrame(
        [(1, 400), (1, 2), (3, 400), (5, 1000)], ["cnt", "total"]
    )
    got = [r[0] for r in df.select(permille("cnt", "total")).collect()]
    #   1*1000/400=2.5->3 ; 1*1000/2=500 ; 3*1000/400=7.5->8 ; 5*1000/1000=5
    assert got == [3, 500, 8, 5]


def test_permille_zero_count(spark):
    df = spark.createDataFrame([(0, 7)], ["cnt", "total"])
    assert df.select(permille("cnt", "total")).collect()[0][0] == 0


def test_age_as_of_365_semantics(spark):
    # reference bean/SaleDetail.scala:44-57: ms diff / 365 days, floor
    df = spark.createDataFrame([("2000-01-01",), ("2000-03-01",)], ["birthday"])
    got = [r[0] for r in df.select(age_as_of("birthday", "2020-01-01")).collect()]
    # 7305 days / 365 = 20.01 -> 20 ; 7245 / 365 = 19.8 -> 19
    assert got == [20, 19]


def test_pagination_boundaries(spark):
    df = spark.createDataFrame([(i,) for i in range(1, 26)], ["k"])  # 25 rows
    p1 = [r.k for r in page_ops.page(df, ["k"], 1, 10).collect()]
    p3 = [r.k for r in page_ops.page(df, ["k"], 3, 10).collect()]
    p4 = [r.k for r in page_ops.page(df, ["k"], 4, 10).collect()]
    assert p1 == list(range(1, 11))
    assert p3 == list(range(21, 26))  # short last page
    assert p4 == []  # past the end

    keyset = [r.k for r in page_ops.keyset_page(df, "k", 20, 10).collect()]
    assert keyset == list(range(21, 26))


def test_alert_both_arms(spark):
    # group a: 2 distinct purchases, no error -> alert
    # group b: 2 distinct purchases + 1 error  -> vetoed
    # group c: 1 purchase (repeated id)        -> below threshold
    rows = [
        ("a", "purchase", 1), ("a", "purchase", 2), ("a", "view", 3),
        ("b", "purchase", 4), ("b", "purchase", 5), ("b", "error", 6),
        ("c", "purchase", 7), ("c", "purchase", 7),
    ]
    df = spark.createDataFrame(rows, ["grp", "event_type", "event_id"])
    out = agg_ops.alert_aggregate(
        grouped_cols=[F.col("grp")],
        qualify=F.col("event_type") == "purchase",
        qualify_id=F.col("event_id"),
        disqualify=F.col("event_type") == "error",
        df=df,
        min_distinct=2,
    ).collect()
    assert [r.grp for r in out] == ["a"]
    assert out[0].qualify_count == 2
    assert sorted(out[0].event_types) == ["purchase", "view"]


def test_first_per_group_deterministic_tie(spark):
    rows = [("u", 5, "b"), ("u", 5, "a"), ("u", 9, "z")]
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    kept = dedup_ops.first_per_group(df, ["k"], ["ts", "v"]).collect()
    assert len(kept) == 1 and kept[0].v == "a"


def test_exact_duplicate_groups(spark):
    rows = [(1, "x x"), (2, "x x"), (3, "y"), (4, "x x")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = dedup_ops.exact_duplicate_groups(df, ["text"], "doc_id").collect()
    assert len(got) == 1
    assert got[0].dup_count == 3 and got[0].member_ids == [1, 2, 4]


def test_approx_distinct_within_error_bound(spark, sf_dir):
    from sparkstreaming_gmall_demo_spark.sources.fixtures import load_table

    events = load_table(spark, sf_dir, "events")
    exact = {
        str(r.d): r.c
        for r in events.groupBy(F.to_date("ts").alias("d"))
        .agg(F.count_distinct("user_id").alias("c"))
        .collect()
    }
    approx = {
        str(r.log_date): r.approx_users
        for r in events.groupBy(F.to_date("ts").alias("log_date"))
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"))
        .collect()
    }
    assert set(exact) == set(approx)
    for d, c in exact.items():
        assert abs(approx[d] - c) <= max(2, 0.05 * c), (d, c, approx[d])


# ---------------------------------------------------------------------------
# as-of join (operators/asof.py)
# ---------------------------------------------------------------------------
def _asof_fixture(spark):
    left = spark.createDataFrame(
        [("k1", 100, "e1"), ("k1", 200, "e2"), ("k2", 150, "e3"), ("k3", 50, "e4")],
        "key string, t long, ev string",
    ).withColumn("t", F.timestamp_seconds("t"))
    right = spark.createDataFrame(
        [("k1", 100, "v@100"), ("k1", 180, "v@180"), ("k1", 300, "v@300"),
         ("k2", 10, "v@10")],
        "key string, t long, val string",
    ).withColumn("t", F.timestamp_seconds("t"))
    return left, right


def test_asof_join_latest_at_or_before(spark):
    from sparkstreaming_gmall_demo_spark.operators.asof import asof_join

    left, right = _asof_fixture(spark)
    got = {
        r.ev: r.asof_val
        for r in asof_join(left, right, "key", "t", "t", ["val"]).collect()
    }
    # e1 ties right v@100 (non-strict: included); e2 sees v@180 not
    # v@300 (future); e3 sees the old v@10; e4 has no right row at all
    assert got == {"e1": "v@100", "e2": "v@180", "e3": "v@10", "e4": None}


def test_asof_join_strict_excludes_same_instant(spark):
    from sparkstreaming_gmall_demo_spark.operators.asof import asof_join

    left, right = _asof_fixture(spark)
    got = {
        r.ev: r.asof_val
        for r in asof_join(left, right, "key", "t", "t", ["val"], strict=True).collect()
    }
    assert got["e1"] is None  # v@100 is same-instant -> invisible


def test_asof_join_tolerance_voids_stale_matches(spark):
    from sparkstreaming_gmall_demo_spark.operators.asof import asof_join

    left, right = _asof_fixture(spark)
    got = {
        r.ev: r.asof_val
        for r in asof_join(
            left, right, "key", "t", "t", ["val"], tolerance="60 seconds"
        ).collect()
    }
    # e3 at t=150 matched v@10, but 140s > 60s tolerance -> voided
    assert got["e3"] is None and got["e2"] == "v@180"


def test_asof_join_right_ties_pick_greatest_payload(spark):
    from sparkstreaming_gmall_demo_spark.operators.asof import asof_join

    left = spark.createDataFrame([("k", 100)], "key string, t long").withColumn(
        "t", F.timestamp_seconds("t")
    )
    right = spark.createDataFrame(
        [("k", 50, "a"), ("k", 50, "b")], "key string, t long, val string"
    ).withColumn("t", F.timestamp_seconds("t"))
    rows = asof_join(left, right, "key", "t", "t", ["val"]).collect()
    assert rows[0].asof_val == "b"


# ---------------------------------------------------------------------------
# connected components (operators/components.py)
# ---------------------------------------------------------------------------
def test_connected_components_planted_clusters(spark):
    from sparkstreaming_gmall_demo_spark.operators.components import (
        connected_components,
    )

    # chain 1-2-3, pair 10-11, chain 20-21-22-23 (tests >1 iteration)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "i long, j long",
    )
    got = {r.node: r.component for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20, 23: 20}


def test_keep_canonical_collapses_clusters(spark):
    from sparkstreaming_gmall_demo_spark.operators.components import (
        connected_components,
        keep_canonical,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (4, 5)], "i long, j long")
    kept = sorted(
        r.doc_id
        for r in keep_canonical(docs, connected_components(pairs)).collect()
    )
    assert kept == [0, 1, 3, 4]  # 2 and 5 collapse into 1 and 4


def test_keep_best_prefers_score_over_min_id(spark):
    """keep_best keeps each component's highest-scoring member (ties ->
    min id) and every unclustered doc — where keep_canonical would keep
    the minimum id regardless of quality."""
    from sparkstreaming_gmall_demo_spark.operators.components import (
        connected_components,
        keep_best,
        keep_canonical,
    )

    docs = spark.createDataFrame(
        [(0, 10), (1, 5), (2, 50), (3, 7), (4, 9), (5, 9)],
        "doc_id long, score long",
    )
    pairs = spark.createDataFrame([(1, 2), (4, 5)], "i long, j long")
    labels = connected_components(pairs)
    best = sorted(r.doc_id for r in keep_best(docs, labels, "score").collect())
    # comp {1,2}: 2 wins on score; comp {4,5}: tie at 9 -> min id 4
    assert best == [0, 2, 3, 4]
    canon = sorted(r.doc_id for r in keep_canonical(docs, labels).collect())
    assert canon == [0, 1, 3, 4]  # min-id picks 1 — the quality gap


def test_containment_catches_quote_jaccard_misses(spark):
    """A 10-token doc fully quoted inside a 100-token doc: containment
    (short -> long) is 1.0 while Jaccard is 0.1 — the asymmetric pair
    must be emitted exactly once, in the contained->container
    direction, and never by the symmetric kernel at any useful
    threshold."""
    from sparkstreaming_gmall_demo_spark.operators import neardup as nd

    short = " ".join(f"q{i}" for i in range(10))
    long_doc = short + " " + " ".join(f"w{i}" for i in range(90))
    other = " ".join(f"z{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, short), (2, long_doc), (3, other)], "doc_id long, text string"
    )
    got = [
        (r.contained, r.container, r.containment)
        for r in nd.array_containment_pairs(nd.token_sets(docs), 0.9).collect()
    ]
    assert got == [(1, 2, 1.0)]
    assert nd.token_jaccard_pairs(docs, 0.5).count() == 0
    # symmetric near-identical pair: containment fires BOTH directions
    twin = spark.createDataFrame(
        [(1, short), (2, short + " extra")], "doc_id long, text string"
    )
    both = sorted(
        (r.contained, r.container)
        for r in nd.array_containment_pairs(nd.token_sets(twin), 0.9).collect()
    )
    assert both == [(1, 2), (2, 1)]


def test_star_components_equal_minlabel_on_random_graphs(spark, monkeypatch):
    """Property: the driver's min-label union-find and the large-star/
    small-star fallback (forced by a zero edge cap) are the same
    function — identical (node, component) sets on arbitrary graphs
    (random edge soups with isolated pairs, chains, and merged
    clusters; fixed seeds, so deterministic)."""
    import random

    from sparkstreaming_gmall_demo_spark.operators import components as comp_ops

    for seed in (7, 23, 91):
        rnd = random.Random(seed)
        n = 60
        edges = [
            (rnd.randrange(n), rnd.randrange(n)) for _ in range(45)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        pairs = spark.createDataFrame(edges, "i long, j long")
        driver = {
            (r.node, r.component)
            for r in comp_ops.connected_components(pairs).collect()
        }
        with monkeypatch.context() as m:
            m.setattr(comp_ops, "DRIVER_EDGE_CAP", 0)
            star = {
                (r.node, r.component)
                for r in comp_ops.connected_components(pairs).collect()
            }
        assert star == driver, f"seed {seed}"


def _chain_components(spark, monkeypatch, caplog, max_iter):
    from sparkstreaming_gmall_demo_spark.operators import components as comp_ops

    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "i long, j long"
    )
    monkeypatch.setattr(comp_ops, "DRIVER_EDGE_CAP", 0)
    with caplog.at_level("WARNING", logger=comp_ops.__name__):
        got = {
            r.node: r.component
            for r in comp_ops.connected_components(
                pairs, max_iter=max_iter
            ).collect()
        }
    warned = [r for r in caplog.records if "max_iter" in r.getMessage()]
    return got, warned


def test_star_components_long_chain_log_rounds(spark, monkeypatch, caplog):
    """The reason the fallback is star alternation: a 64-node chain
    (diameter 63) must converge in O(log n) rounds — min-label
    propagation would need ~63; star alternation halves label-tree
    depth per round. Pin the log bound with margin: 12 rounds (log2(64)
    = 6, plus the detection round) finish without the cap warning."""
    got, warned = _chain_components(spark, monkeypatch, caplog, max_iter=12)
    assert got == {i: 0 for i in range(64)}
    assert not warned


def test_star_components_warn_at_iteration_cap(spark, monkeypatch, caplog):
    """Two star rounds cannot collapse a 64-node chain: the fallback
    stops at max_iter and says so with a WARNING instead of silently
    returning split components."""
    got, warned = _chain_components(spark, monkeypatch, caplog, max_iter=2)
    assert len(warned) == 1 and warned[0].levelname == "WARNING"
    assert len(set(got.values())) > 1  # unconverged: the chain is split


# ---------------------------------------------------------------------------
# bucketed interval self-join (operators/rangejoin.py)
# ---------------------------------------------------------------------------
def test_interval_self_pairs_boundaries(spark):
    from sparkstreaming_gmall_demo_spark.operators.rangejoin import (
        interval_self_pairs,
    )

    # gap = 10s; pairs must be strictly-later and <= gap, across bucket
    # boundaries too
    rows = [
        ("u", 100.0, "a"), ("u", 100.0, "a2"),   # same instant: no pair
        ("u", 109.999999, "b"),                   # 9.999999s after a: in
        ("u", 110.0, "c"),                        # exactly 10s after a: in
        ("u", 110.000001, "d"),                   # 10.000001s: out (vs a)
        ("v", 105.0, "x"),                        # other key: never pairs
    ]
    df = spark.createDataFrame(rows, "k string, t double, tag string").select(
        "k", F.timestamp_seconds("t").alias("ts"), "tag"
    )
    pairs = {
        (r.a_tag, r.b_tag)
        for r in interval_self_pairs(df, "k", "ts", 10, ["tag"]).collect()
    }
    assert pairs == {
        ("a", "b"), ("a2", "b"), ("a", "c"), ("a2", "c"),
        ("b", "c"), ("b", "d"), ("c", "d"),
    }


def test_interval_self_pairs_is_equi_join(spark):
    """The plan must be a hash/sort-merge equi-join on (key, bucket) —
    never a nested-loop over the inequality."""
    from sparkstreaming_gmall_demo_spark.operators.rangejoin import (
        interval_self_pairs,
    )
    from sparkstreaming_gmall_demo_spark.sources.fixtures import load_table

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    plan = (
        interval_self_pairs(events, "user_id", "ts", 300, ["event_type"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# deterministic sampling (operators/sampling.py)
# ---------------------------------------------------------------------------
def test_deterministic_sample_stable_across_partitioning(spark):
    from sparkstreaming_gmall_demo_spark.operators.sampling import (
        deterministic_sample,
    )

    df = spark.range(0, 5000).withColumnRenamed("id", "k")
    a = {r.k for r in deterministic_sample(df, "k", 0.2).collect()}
    b = {r.k for r in deterministic_sample(df.repartition(13), "k", 0.2).collect()}
    assert a == b and a  # same membership regardless of partitioning
    # rate lands near the target (md5 uniformity)
    assert abs(len(a) / 5000 - 0.2) < 0.02


def test_deterministic_sample_salts_give_independent_splits(spark):
    from sparkstreaming_gmall_demo_spark.operators.sampling import (
        deterministic_sample,
    )

    df = spark.range(0, 5000).withColumnRenamed("id", "k")
    s1 = {r.k for r in deterministic_sample(df, "k", 0.5, salt="train").collect()}
    s2 = {r.k for r in deterministic_sample(df, "k", 0.5, salt="val").collect()}
    overlap = len(s1 & s2) / 5000
    assert abs(overlap - 0.25) < 0.03  # independent ~ p^2 overlap


def test_sample_threshold_bounds():
    import pytest as _pytest

    from sparkstreaming_gmall_demo_spark.operators.sampling import (
        sample_threshold,
    )

    assert sample_threshold(0.0) == "00000000"
    assert sample_threshold(1.0) == "g"  # above all hex: keeps everything
    with _pytest.raises(ValueError):
        sample_threshold(1.5)


def test_deterministic_sample_full_and_empty_fractions(spark):
    from sparkstreaming_gmall_demo_spark.operators.sampling import (
        deterministic_sample,
    )

    df = spark.range(0, 100).withColumnRenamed("id", "k")
    assert deterministic_sample(df, "k", 1.0).count() == 100
    assert deterministic_sample(df, "k", 0.0).count() == 0


# ---------------------------------------------------------------------------
# batch sessionization (operators/sessions.py)
# ---------------------------------------------------------------------------
def test_sessionize_batch_gap_boundaries(spark):
    from sparkstreaming_gmall_demo_spark.operators.sessions import (
        sessionize_batch,
    )

    # gap = 10s: exactly-10s stays in session, 10.000001s starts a new one
    rows = [
        ("u", 100.0, 1), ("u", 110.0, 2),        # 10s gap: same session
        ("u", 120.000001, 3),                     # >10s: new session
        ("u", 120.000001, 4),                     # same instant: same session
        ("v", 100.0, 5),                          # other key: own numbering
    ]
    df = spark.createDataFrame(rows, "k string, t double, id int").select(
        "k", F.timestamp_seconds("t").alias("ts"), "id"
    )
    got = {
        r.id: r.session_id
        for r in sessionize_batch(df, "k", "ts", 10, tiebreak="id").collect()
    }
    assert got == {1: 1, 2: 1, 3: 2, 4: 2, 5: 1}


def test_session_stats_single_shuffle(spark):
    """lag + running-sum + per-session aggregate must reuse ONE
    hash-partitioning on the key: exactly one Exchange in the plan."""
    from sparkstreaming_gmall_demo_spark.operators.sessions import session_stats
    from sparkstreaming_gmall_demo_spark.sources.fixtures import load_table

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    plan = (
        session_stats(events, "user_id", "ts", 1800, tiebreak="event_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1


# ---------------------------------------------------------------------------
# multi-way split assignment (operators/sampling.py)
# ---------------------------------------------------------------------------
def test_assign_split_partitions_every_key(spark):
    from sparkstreaming_gmall_demo_spark.operators.sampling import assign_split

    splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    df = spark.range(0, 5000).withColumnRenamed("id", "k").withColumn(
        "split", assign_split("k", splits)
    )
    counts = {r.split: r.cnt for r in df.groupBy("split").agg(
        F.count("*").alias("cnt")).collect()}
    assert sum(counts.values()) == 5000  # disjoint and exhaustive
    assert abs(counts["train"] / 5000 - 0.8) < 0.02
    assert abs(counts["val"] / 5000 - 0.1) < 0.02
    assert abs(counts["test"] / 5000 - 0.1) < 0.02


def test_split_cutoffs_validates_fractions():
    import pytest as _pytest

    from sparkstreaming_gmall_demo_spark.operators.sampling import split_cutoffs

    assert split_cutoffs({"a": 0.5, "b": 0.5}) == [("a", "80000000"), ("b", "g")]
    with _pytest.raises(ValueError):
        split_cutoffs({"a": 0.5, "b": 0.6})


def test_curation_bundle_matches_keep_best_and_dedup_aware_split(spark):
    """The fused curation_bundle equals the unfused composition on a
    small labeled frame: per split, the docs dedup_aware_split assigns
    there, their distinct leakage groups, and how many of them
    keep_best keeps (score ties break on the lower id)."""
    from sparkstreaming_gmall_demo_spark.operators.components import (
        connected_components,
        keep_best,
    )
    from sparkstreaming_gmall_demo_spark.operators.sampling import (
        curation_bundle,
        dedup_aware_split,
    )

    docs = spark.createDataFrame(
        [(i, 100 + (i * 7) % 5) for i in range(40)], "doc_id long, n_chars long"
    )
    # components {0,1,2} (a chain), {3,4}, {10,11,12,13}, {20,30}; the
    # rest are singletons. n_chars repeats every 5 ids, so groups tie.
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4), (10, 11), (11, 12), (12, 13), (20, 30)],
        "i long, j long",
    )
    splits = {"train": 0.5, "val": 0.25, "test": 0.25}
    labels = connected_components(pairs)
    kept = {r.doc_id for r in keep_best(docs, labels, "n_chars").collect()}
    want: dict = {}
    for r in dedup_aware_split(docs, labels, splits).collect():
        n_docs, groups, n_kept = want.get(r.split, (0, set(), 0))
        want[r.split] = (
            n_docs + 1, groups | {r.group_key}, n_kept + (r.doc_id in kept)
        )
    want = {s: (n, len(g), k) for s, (n, g, k) in want.items()}
    got = {
        r.split: (r.n_docs, r.n_groups, r.n_kept)
        for r in curation_bundle(docs, pairs, splits).collect()
    }
    assert len(want) > 1 and sum(n for n, _, _ in want.values()) == 40
    assert got == want


def test_stratified_sample_rates_and_determinism(spark):
    from sparkstreaming_gmall_demo_spark.operators.sampling import (
        stratified_sample,
    )

    df = (
        spark.range(0, 6000)
        .withColumnRenamed("id", "k")
        .withColumn("stratum", F.when(F.col("k") % 2 == 0, "a").otherwise("b"))
    )
    fr = {"a": 0.3, "b": 1.0}
    got = stratified_sample(df, "k", "stratum", fr)
    counts = {r.stratum: r.cnt for r in got.groupBy("stratum").agg(
        F.count("*").alias("cnt")).collect()}
    assert counts["b"] == 3000                      # fraction 1.0 keeps all
    assert abs(counts["a"] / 3000 - 0.3) < 0.03     # ~rate on the downsampled one
    # deterministic: repartitioned input selects the identical key set
    a = {r.k for r in got.collect()}
    b = {r.k for r in stratified_sample(df.repartition(17), "k", "stratum", fr).collect()}
    assert a == b
    # strata not in the dict are dropped (sampleBy contract)
    fr2 = {"a": 1.0}
    assert stratified_sample(df, "k", "stratum", fr2).filter(
        F.col("stratum") == "b").count() == 0


def test_approx_quantiles_within_rank_error(spark, sf_dir="/root/testdata/sf0.01"):
    """percentile_approx(accuracy=10k) must land within 1% rank error
    of the exact per-group quantile. (The declared registry entry now
    emits rank-bound invariant booleans; this pins the raw sketch.)"""
    from sparkstreaming_gmall_demo_spark.sources.fixtures import load_table

    approx = {
        r.lang: (r.p50, r.p90)
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.percentile_approx("n_chars", 0.5, 10_000).alias("p50"),
            F.percentile_approx("n_chars", 0.9, 10_000).alias("p90"),
        )
        .collect()
    }
    docs = load_table(spark, sf_dir, "documents")
    for lang, (p50, p90) in approx.items():
        vals = sorted(
            r.n_chars for r in docs.filter(F.col("lang") == lang).collect()
        )
        n = len(vals)
        for q, got in ((0.5, p50), (0.9, p90)):
            lo = vals[max(0, int((q - 0.01) * n) - 1)]
            hi = vals[min(n - 1, int((q + 0.01) * n) + 1)]
            assert lo <= got <= hi, (lang, q, got, lo, hi)


# ---------------------------------------------------------------------------
# chunking / packing (operators/chunking.py)
# ---------------------------------------------------------------------------
def test_chunk_spans_boundaries(spark):
    from sparkstreaming_gmall_demo_spark.operators.chunking import chunk_spans

    docs = spark.createDataFrame(
        [("d1", "a"), ("d2", " ".join(["t"] * 10)), ("d3", " ".join(["t"] * 8))],
        ["doc_id", "text"],
    )
    # size 4, stride 4 (disjoint): d1 -> 1 chunk of 1; d2 (10 toks) ->
    # starts 0,4,8 with lengths 4,4,2; d3 (8 toks) -> 0,4 with 4,4 (no
    # empty chunk at the exact-multiple tail)
    got = {
        (r.doc_id, r.chunk_start): r.chunk_tokens
        for r in chunk_spans(docs, "doc_id", "text", 4, 4).collect()
    }
    assert got == {
        ("d1", 0): 1,
        ("d2", 0): 4, ("d2", 4): 4, ("d2", 8): 2,
        ("d3", 0): 4, ("d3", 4): 4,
    }
    # overlap: stride 2 < size 4 doubles coverage of interior tokens
    n_overlapping = chunk_spans(docs, "doc_id", "text", 4, 2).count()
    assert n_overlapping == 1 + 5 + 4


def test_pack_greedy_concat_and_cut(spark):
    from sparkstreaming_gmall_demo_spark.operators.chunking import pack_greedy

    rows = [("g", i, t) for i, t in enumerate([6, 6, 6, 30, 2])]
    df = spark.createDataFrame(rows, ["g", "ord", "n"])
    got = {r.ord: r.bin_id for r in pack_greedy(df, "g", "ord", "n", 10).collect()}
    # prefix sums: 0,6,12,18,48 -> bins 0,0,1,1,4: straddlers stay in
    # the bin containing their first token; the oversized doc (30)
    # opens bin 1's tail and the next doc starts at offset 48 -> bin 4
    assert got == {0: 0, 1: 0, 2: 1, 3: 1, 4: 4}


# ---------------------------------------------------------------------------
# analyzer-lite keyword match (operators/text.py: analyze / keyword_and_match)
# ---------------------------------------------------------------------------
def test_keyword_match_is_case_and_punctuation_insensitive(spark):
    """ES `match` analyzes both sides before the AND-match
    (PublisherServiceImpl.java:84-87): "Spark" must match "spark" and
    trailing punctuation must not block a token."""
    from sparkstreaming_gmall_demo_spark.operators.text import (
        analyze_keyword,
        keyword_and_match,
    )

    docs = spark.createDataFrame(
        [
            (1, "Spark streaming JOIN deep-dive"),
            (2, "spark join basics"),
            (3, "a spark, then a join."),
            (4, "sparkling joinery"),          # substrings must NOT match
            (5, "spark only, no second term"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id for r in keyword_and_match(docs, "text", "Spark JOIN").collect()
    }
    assert got == {1, 2, 3}
    # query-side analysis mirrors the field side
    assert analyze_keyword("  Spark,JOIN! ") == ["spark", "join"]
    # legacy whitespace-exact mode is still available for raw-term indexes
    legacy = {
        r.doc_id
        for r in keyword_and_match(docs, "text", "spark join", analyzed=False).collect()
    }
    assert legacy == {2}


def test_keyword_underscore_is_a_separator_on_both_sides(spark):
    """Round-2 advice: the document side splits on [^\\p{L}\\p{N}] (an
    underscore separates), so the query side must too — a 'user_id'
    keyword has to match text containing 'user id' AND text containing
    'user_id', identically."""
    from sparkstreaming_gmall_demo_spark.operators.text import (
        analyze_keyword,
        keyword_and_match,
    )

    assert analyze_keyword("user_id") == ["user", "id"]
    docs = spark.createDataFrame(
        [
            (1, "the user_id column"),
            (2, "user id mapping"),
            (3, "userid lookup"),  # fused token: no match either side
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id for r in keyword_and_match(docs, "text", "user_id").collect()}
    assert got == {1, 2}


def test_keyword_cjk_segments_per_ideograph(spark):
    """ES standard-analyzer CJK behavior: one token per Han ideograph,
    so a CJK keyword matches documents regardless of how either side
    runs the characters together (the round-2 verdict's q9 gap)."""
    from sparkstreaming_gmall_demo_spark.operators.text import (
        analyze_keyword,
        keyword_and_match,
    )

    assert analyze_keyword("数据库") == ["数", "据", "库"]
    assert analyze_keyword("spark数据") == ["spark", "数", "据"]
    docs = spark.createDataFrame(
        [
            (1, "实时数据库系统"),        # contains 数+据+库 in a run
            (2, "数 据 库 three tokens"),  # pre-segmented
            (3, "数据 only two of three"),  # missing 库
            (4, "spark streaming 数据仓库"),  # 据 adjacency differs, chars all present? 数,据,仓,库 -> yes
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id for r in keyword_and_match(docs, "text", "数据库").collect()}
    assert got == {1, 2, 4}


def test_cjk_analyze_matches_duckdb_twin(spark):
    """The Spark analyzer and its documented DuckDB twin must tokenize
    CJK-bearing fixture text identically (the q9 oracle contract)."""
    import duckdb

    from sparkstreaming_gmall_demo_spark.operators.text import analyze

    texts = [
        "实时数据库系统 realtime DB",
        "Spark_SQL 数据仓库, mixed CJK/ascii!",
        "plain ascii only",
        "豈 compatibility ideograph",
    ]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    spark_toks = [r[0] for r in df.select(analyze("text")).collect()]
    con = duckdb.connect()
    duck_toks = []
    for t in texts:
        duck_toks.append(
            con.execute(
                "SELECT list_filter(string_split_regex(regexp_replace(lower($1), "
                "'([㐀-䶿一-鿿豈-﫿])', ' \\1 ', 'g'), '[^\\p{L}\\p{N}]+'), "
                "t -> t != '')",
                [t],
            ).fetchone()[0]
        )
    con.close()
    assert spark_toks == duck_toks


def test_decontamination_flags_planted_overlap(spark):
    """A doc carrying a benchmark 5-gram verbatim is flagged; a doc
    with no 5-token run in common is not; short docs fall back to the
    whole-text shingle."""
    from sparkstreaming_gmall_demo_spark.operators import decontam as dc

    eval_docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # contains "quick brown fox jumps over" → overlap
            (10, "he saw the quick brown fox jumps over a fence today maybe"),
            # same words, different order → no shared 5-gram
            (11, "dog lazy the over jumps fox brown quick the and more words"),
            # short doc, not equal to any eval text → single shingle, clean
            (12, "tiny doc"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r
        for r in dc.flag_contaminated(corpus, eval_docs, shingle_n=5,
                                      threshold_pct=10).collect()
    }
    assert rows[10].n_overlap > 0 and rows[10].contaminated
    assert rows[11].n_overlap == 0 and not rows[11].contaminated
    assert rows[12].n_shingles == 1 and not rows[12].contaminated


def test_decontamination_threshold_integer_arithmetic(spark):
    """contaminated is an exact integer compare: n_overlap*100 >=
    n_shingles*pct — at exactly the threshold the doc IS flagged."""
    from sparkstreaming_gmall_demo_spark.operators import decontam as dc

    eval_docs = spark.createDataFrame(
        [(1, "a b c d e")], "doc_id long, text string"
    )
    # 10 distinct shingles, exactly 1 overlapping → 10% == threshold
    corpus = spark.createDataFrame(
        [(20, "a b c d e x1 x2 x3 x4 x5 x6 x7 x8 x9")],
        "doc_id long, text string",
    )
    row = dc.flag_contaminated(
        corpus, eval_docs, shingle_n=5, threshold_pct=10
    ).collect()[0]
    assert row.n_shingles == 10 and row.n_overlap == 1
    assert row.contaminated


def test_scored_search_ranks_rare_terms_higher(spark):
    """tf*(1e6 DIV df) ordering: a doc hitting the rarer term more
    outranks one loaded with the common term; ties order by id asc;
    non-AND-matching docs are excluded entirely."""
    from sparkstreaming_gmall_demo_spark.operators import text as t

    docs = spark.createDataFrame(
        [
            (1, "spark join spark join"),        # tf: 2/2
            (2, "spark spark spark spark join"), # tf: 4/1 — common-term heavy
            (3, "spark join join join join"),    # tf: 1/4 — rare-term heavy
            (4, "spark only here"),              # missing 'join' → excluded
            (5, "spark join"),                   # tf: 1/1
            (6, "spark spark"),                  # excluded
        ],
        "doc_id long, text string",
    )
    rows = t.scored_search(docs, "text", "spark join", k=10).collect()
    ids = [r.doc_id for r in rows]
    assert 4 not in ids and 6 not in ids
    # df(spark)=6? no — df over ALL input rows: spark in 1,2,3,4,5,6 → 6;
    # join in 1,2,3,5 → 4. w_spark=166666, w_join=250000.
    by_id = {r.doc_id: r.score for r in rows}
    assert by_id[1] == 2 * 166666 + 2 * 250000
    assert by_id[3] == 1 * 166666 + 4 * 250000
    # rare-term-heavy doc 3 beats common-term-heavy doc 2
    assert by_id[3] > by_id[2]
    assert ids == [r.doc_id for r in sorted(rows, key=lambda r: (-r.score, r.doc_id))]


def test_scored_search_tie_breaks_on_id(spark):
    from sparkstreaming_gmall_demo_spark.operators import text as t

    docs = spark.createDataFrame(
        [(9, "a b"), (3, "a b"), (7, "a b")], "doc_id long, text string"
    )
    ids = [r.doc_id for r in t.scored_search(docs, "text", "a b", k=3).collect()]
    assert ids == [3, 7, 9]


def test_scrub_spans_removes_exact_cover(spark):
    """Span scrub: covered tokens go, the rest stay in order; no-hit
    and shorter-than-shingle docs pass through untouched; a fully
    covered doc scrubs to empty."""
    from sparkstreaming_gmall_demo_spark.operators import decontam as dc

    eval_docs = spark.createDataFrame([(1, "q w e r t")], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [
            (10, "a b q w e r t c d"),
            (11, "a b c d e f"),
            (12, "q w e r t"),
            (13, "q w e"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in dc.scrub_contaminated_spans(corpus, eval_docs).collect()}
    assert (rows[10].clean_text, rows[10].n_removed) == ("a b c d", 5)
    assert (rows[11].clean_text, rows[11].n_removed) == ("a b c d e f", 0)
    assert (rows[12].clean_text, rows[12].n_removed) == ("", 5)
    assert (rows[13].clean_text, rows[13].n_removed) == ("q w e", 0)


def test_scrub_spans_buffer_extends_cover(spark):
    """buffer_tokens widens every covered span on both sides, clipped
    at the document edges (n_removed counts only real tokens)."""
    from sparkstreaming_gmall_demo_spark.operators import decontam as dc

    eval_docs = spark.createDataFrame([(1, "q w e r t")], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(10, "a b q w e r t c d"), (12, "q w e r t")], "doc_id long, text string"
    )
    rows = {
        r.doc_id: r
        for r in dc.scrub_contaminated_spans(
            corpus, eval_docs, buffer_tokens=1
        ).collect()
    }
    assert (rows[10].clean_text, rows[10].n_removed) == ("a d", 7)
    assert (rows[12].clean_text, rows[12].n_removed) == ("", 5)  # edge-clipped


def test_contamination_report_credits_every_leaked_eval_doc(spark):
    """The audit flips the aggregation to the eval id: each eval doc
    counts the corpus docs sharing any of its shingles; a shingle in
    two eval docs credits both; clean eval docs produce no row."""
    from sparkstreaming_gmall_demo_spark.operators import decontam as dc

    eval_docs = spark.createDataFrame(
        [(1, "q w e r t"), (2, "q w e r t z"), (3, "n o t h e r e x y")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [(10, "a q w e r t b"), (11, "c d e f g h")],
        "doc_id long, text string",
    )
    rows = {r.e_id: (r.n_docs_hit, r.n_shingle_hits)
            for r in dc.contamination_report(corpus, eval_docs).collect()}
    # doc 10 carries 'q w e r t' -> hits eval 1 (its only shingle) and
    # eval 2 (which also contains that 5-gram); eval 3 is clean
    assert rows[1] == (1, 1)
    assert rows[2] == (1, 1)
    assert 3 not in rows


def test_scd2_history_collapses_runs_and_closes_intervals(spark):
    """Consecutive equal observations collapse into one version; a
    change opens a new version and closes the previous one at the
    change instant; the current version stays open (NULL valid_to)."""
    from sparkstreaming_gmall_demo_spark.operators import scd2

    obs = spark.createDataFrame(
        [
            (1, 10, "gold"), (1, 20, "gold"),      # run -> one version
            (1, 30, "silver"),                      # change
            (1, 40, "gold"),                        # back again -> NEW version
            (2, 15, "bronze"),                      # single-version key
        ],
        "cust long, ts long, tier string",
    )
    rows = sorted(
        (
            (r.cust, r.tier, r.valid_from, r.valid_to)
            for r in scd2.scd2_history(obs, "cust", "ts", ["tier"]).collect()
        )
    )
    assert rows == [
        (1, "gold", 10, 30),
        (1, "gold", 40, None),
        (1, "silver", 30, 40),
        (2, "bronze", 15, None),
    ]


def test_scd2_asof_lookup_is_point_in_time_correct(spark):
    """Facts pick the version valid AT their timestamp — not the
    current one (the LWW trap SCD2 exists to fix); facts before the
    first version or for unknown keys get NULL attributes."""
    from sparkstreaming_gmall_demo_spark.operators import scd2

    obs = spark.createDataFrame(
        [(1, 10, "gold"), (1, 30, "silver")], "cust long, ts long, tier string"
    )
    hist = scd2.scd2_history(obs, "cust", "ts", ["tier"])
    facts = spark.createDataFrame(
        [(1, 5), (1, 10), (1, 29), (1, 30), (1, 99), (7, 50)],
        "cust long, ts long",
    )
    got = {
        (r.cust, r.ts): r.tier
        for r in scd2.asof_lookup(hist, facts, "cust", "ts").collect()
    }
    assert got == {
        (1, 5): None,        # before first version
        (1, 10): "gold",     # inclusive lower bound
        (1, 29): "gold",
        (1, 30): "silver",   # exclusive upper bound of the old version
        (1, 99): "silver",   # open current version
        (7, 50): None,       # unknown key
    }


def test_scd2_single_shuffle(spark):
    """The history build must plan ONE Exchange: change detection and
    interval close share the key partitioning and sort."""
    from sparkstreaming_gmall_demo_spark.operators import scd2

    obs = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b")], "cust long, ts long, tier string"
    )
    plan = scd2.scd2_history(obs, "cust", "ts", ["tier"])._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert plan.count("Exchange hashpartitioning") <= 2  # tree + details sections
