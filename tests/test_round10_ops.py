"""Round-10 tests.

Regression pins for the r9 ADVICE findings: (1) append_new seeds its
replay fence on a table whose prior commits came via merge_keyed (a
pre-probe-free table, or a backfill without batch ids) — the
unfenced crash-replay of the last keyed-path batch must not re-insert
and double additive readers' counts; (2) the overlap gate commits
nothing when the admitted docs contribute ZERO index fingerprints
(all stoplisted / too short to shingle) even though n_adm > 0;
(3) a {"n_buckets": null} layout file raises the actionable repair
message, not a raw TypeError.

Round-10 feature pins: txn.vacuum_orphans (age-gated orphan-staging
GC, safe with a writer in flight) and its wiring into the gates'
_ttl_vacuum maintenance hook; per-group row-count file sizing in
_scd2_stage_grouped (a hot bucket no longer staged through a uniform
ceil(n/groups) budget); and the r10 driver-window literal recomputed
from the committed CORRECTNESS_r01..r09 ledger through the formal
rotation policy."""

from __future__ import annotations

import json
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from sparkstreaming_gmall_demo_spark.streaming import pipelines, txn


DOC_SCHEMA = "doc_id long, text string"


def _doc_text(i: int) -> str:
    return " ".join(f"w{i}x{j}" for j in range(30))


def _stage_batches(topic, columns_fn, batches, start=0):
    topic.mkdir(exist_ok=True)
    base = time.time() - 3600
    for i, rows in enumerate(batches):
        j = start + i
        p = str(topic / f"c{j}.parquet")
        pq.write_table(columns_fn(rows), p)
        os.utime(p, (base + 60 * j, base + 60 * j))


def _doc_table(rows):
    return pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
        }
    )


def _doc_stream(spark, topic):
    return (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(topic))
    )


# ---------------------------------------------------------------------------
# ADVICE r9 (medium): append_new fence seeding after merge_keyed history


def test_append_new_seeds_fence_after_merge_keyed_history(spark, tmp_path):
    """A table whose commits all came via merge_keyed has no
    appended_through; pre-fix, a crash-replay of the LAST keyed-path
    batch through append_new was unfenced and re-inserted its rows —
    additive readers then double-counted that batch. The one-time
    full-row probe must strip the replayed duplicates."""
    t = str(tmp_path / "t")
    b5 = spark.createDataFrame([(5, "a"), (5, "b")], "batch_id long, v string")
    assert txn.merge_keyed(b5, t, ["batch_id", "v"]) == 2
    assert "appended_through" not in txn.table_meta(t)
    # crash-replay of batch 5 arrives on the probe-free path
    assert txn.append_new(b5, t, batch_id=5) == 0
    assert txn.snapshot(spark, t).count() == 2  # NOT doubled
    # the replay committed nothing, so the fence is still unseeded;
    # the first batch with genuinely new rows seeds it
    b6 = spark.createDataFrame([(6, "c")], "batch_id long, v string")
    assert txn.append_new(b6, t, batch_id=6) == 1
    assert txn.table_meta(t).get("appended_through") == 6
    assert txn.snapshot(spark, t).count() == 3
    # from here on the watermark fences without any probe job
    assert txn.append_new(b6, t, batch_id=6) == 0
    assert txn.snapshot(spark, t).count() == 3


def test_append_new_probe_passes_mixed_new_and_replayed_rows(spark, tmp_path):
    """The seeding probe is full-row exceptAll: rows already in the
    keyed-history table are stripped, genuinely new rows land — the
    partial-overlap shape of a crash between two gate index writes."""
    t = str(tmp_path / "t")
    old = spark.createDataFrame([(1, "x")], "k long, v string")
    assert txn.merge_keyed(old, t, ["k"]) == 1
    mixed = spark.createDataFrame([(1, "x"), (2, "y")], "k long, v string")
    assert txn.append_new(mixed, t, batch_id=7) == 1
    assert sorted((r.k, r.v) for r in txn.snapshot(spark, t).collect()) == [
        (1, "x"),
        (2, "y"),
    ]


# ---------------------------------------------------------------------------
# Round-10: age-gated orphan-staging GC (VERDICT r9 item 3)


def test_vacuum_orphans_age_gates_and_keeps_referenced_dirs(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    txn.merge_keyed(df, t, ["k"])
    # crash mid-stage: files staged, no manifest references them
    orphan_files = txn._stage(df, t)
    orphan_dir = os.path.join(t, "_staged", orphan_files[0].split(os.sep)[1])
    assert os.path.isdir(orphan_dir)
    # a FRESH orphan is an in-flight writer as far as the sweep knows
    assert txn.vacuum_orphans(t, min_age_s=3600) == 0
    assert os.path.isdir(orphan_dir)
    # age it past the gate: now it can only be crash garbage
    old = time.time() - 7200
    os.utime(orphan_dir, (old, old))
    for n in os.listdir(orphan_dir):
        os.utime(os.path.join(orphan_dir, n), (old, old))
    assert txn.vacuum_orphans(t, min_age_s=3600) == 1
    assert not os.path.exists(orphan_dir)
    # committed data untouched, ALL retained versions still readable
    assert txn.snapshot(spark, t).count() == 1
    txn.merge_keyed(spark.createDataFrame([(2, "b")], "k long, v string"), t, ["k"])
    for v in txn.list_versions(t):
        txn.snapshot(spark, t, version=v).count()
    assert txn.vacuum_orphans(t, min_age_s=3600) == 0  # idempotent


def test_gate_ttl_vacuum_sweeps_aged_orphans(spark, tmp_path):
    """The wiring: a long-running gate's _ttl_vacuum cadence is the
    only maintenance slot, so the orphan sweep must ride it — pre-fix,
    crash-orphaned _staged dirs accreted forever (VERDICT r9)."""
    topic = tmp_path / "docs"
    index_table = str(tmp_path / "nov_idx")
    out_path = str(tmp_path / "admitted")

    def run():
        q = pipelines.novelty_gate_pipeline(
            _doc_stream(spark, topic), index_table, out_path,
            str(tmp_path / "ck"), trigger={"availableNow": True},
            ttl_batches=4, compact_every=2,
        )
        q.awaitTermination()

    _stage_batches(topic, _doc_table, [[(0, _doc_text(0))]])
    run()  # batch 0 creates the table (no vacuum yet: 0 % 2 != 1)
    df = txn.snapshot(spark, index_table)
    orphan_files = txn._stage(df, index_table)  # simulated crashed write
    orphan_dir = os.path.join(
        index_table, "_staged", orphan_files[0].split(os.sep)[1]
    )
    old = time.time() - 2 * pipelines.GATE_ORPHAN_AGE_S
    os.utime(orphan_dir, (old, old))
    for n in os.listdir(orphan_dir):
        os.utime(os.path.join(orphan_dir, n), (old, old))
    _stage_batches(topic, _doc_table, [[(1, _doc_text(1))]], start=1)
    run()  # batch 1: merge + vacuum (1 % 2 == 1) -> sweep rides along
    assert not os.path.exists(orphan_dir)
    got = {r.doc_id for r in spark.read.parquet(out_path).collect()}
    assert got == {0, 1}  # admissions unaffected


# ---------------------------------------------------------------------------
# ADVICE r9 (low): overlap gate with admitted docs but zero index fps


def test_overlap_gate_zero_fp_admit_commits_nothing(spark, tmp_path):
    """Admitted docs whose every fingerprint is stoplisted contribute
    nothing to the index: pre-fix, append_new got n_rows=n_fps (>0 via
    the rejected docs' fps) and committed an EMPTY file set while
    advancing the fence — accreting empty manifest versions."""
    table = str(tmp_path / "ov_idx")
    text = _doc_text(0)
    a0 = pipelines.overlap_gate_admit(
        spark.createDataFrame([(0, text)], DOC_SCHEMA), table, batch_id=0
    )
    assert a0.count() == 1
    a0.unpersist()
    v = txn.current_version(table)
    n_idx_rows = txn.snapshot(spark, table).count()
    # every fingerprint doc 0 produced goes on the stoplist, so the
    # novel doc 1 (same text -> same fps, but ALL stoplisted) is
    # admitted with zero index contribution
    stop = [r.fp for r in txn.snapshot(spark, table).select("fp").collect()]
    a1 = pipelines.overlap_gate_admit(
        spark.createDataFrame([(1, text)], DOC_SCHEMA), table,
        batch_id=1, stop_fps=stop,
    )
    assert a1.count() == 1  # admitted (no usable evidence against it)
    a1.unpersist()
    assert txn.current_version(table) == v  # no empty version accreted
    assert txn.snapshot(spark, table).count() == n_idx_rows  # index unchanged


# ---------------------------------------------------------------------------
# ADVICE r9 (low): {"n_buckets": null} layout file must not wedge


def test_scd2_null_n_buckets_layout_raises_repair_message(tmp_path):
    """JSON-valid but type-corrupt ({"n_buckets": null}) is the one
    corruption shape the r9 except-tuple missed: int(None) raised a
    raw TypeError — the permanent-wedge class the repair message was
    added to eliminate."""
    root = str(tmp_path / "hist")
    os.makedirs(root)
    with open(os.path.join(root, "_scd2_layout.json"), "w") as f:
        json.dump({"n_buckets": None}, f)
    with pytest.raises(ValueError, match="repair"):
        pipelines._scd2_layout_check(root, 16)


# ---------------------------------------------------------------------------
# VERDICT r9 item 7: per-group row-count file sizing in _scd2_stage_grouped


def test_scd2_stage_grouped_sizes_files_per_group(spark, tmp_path, monkeypatch):
    """A skewed batch (one hot bucket group) must size each group's
    file budget by ITS OWN row count: the uniform ceil(n/groups)
    budget staged one oversized file for the hot group while cold
    groups wrote near-empty ones. Budget granularity shrunk via
    files_for_rows monkeypatch so the test stays tiny."""
    monkeypatch.setattr(txn, "files_for_rows", lambda n: max(1, 1 + n // 100))
    span = pipelines.SCD2_OBS_FILE_BUCKET_SPAN
    hot = [(i, 0, "x") for i in range(950)]          # bucket 0: group 0
    cold = [(10_000 + i, span, "y") for i in range(10)]  # group 1
    frame = spark.createDataFrame(hot + cold, "k long, _bucket int, v string")
    table = str(tmp_path / "obs")
    os.makedirs(table)
    buckets = list(range(span)) + [span]
    staged, fmap = pipelines._scd2_stage_grouped(frame, buckets, 960, table)
    assert set(staged) == set(fmap)
    hot_files = [f for f in staged if fmap[f] == list(range(span))]
    cold_files = [f for f in staged if fmap[f] == [span]]
    # 950 rows / 100-row budget = 10 files requested (coalesce may
    # land a couple short when source partitions are sparse); the
    # pre-fix uniform ceil(960/2)=480-row budget requested only 5
    assert len(hot_files) >= 8
    # 10 rows stay in ONE file; the uniform budget splintered them
    # across up to 5 near-empty files
    assert len(cold_files) == 1
    for f in hot_files:
        n = spark.read.parquet(os.path.join(table, f)).count()
        assert n <= 200  # ~119 at 8 files; 950 in one file pre-fix-style fails
    # zone map is exact: reading each group's files yields its rows
    n_hot = sum(
        spark.read.parquet(os.path.join(table, f)).count() for f in hot_files
    )
    assert n_hot == 950


def test_scd2_stage_grouped_skips_empty_groups(spark, tmp_path):
    """A bucket group with zero rows stages no file and gets no
    zone-map entry (no file, nothing to prune or resurrect)."""
    span = pipelines.SCD2_OBS_FILE_BUCKET_SPAN
    frame = spark.createDataFrame(
        [(1, 0, "x"), (2, 2 * span, "y")], "k long, _bucket int, v string"
    )
    table = str(tmp_path / "obs")
    os.makedirs(table)
    # three groups; the middle one ([span, 2*span)) is empty
    buckets = list(range(2 * span + 1))
    staged, fmap = pipelines._scd2_stage_grouped(frame, buckets, 2, table)
    assert sorted(fmap.values()) == [
        list(range(span)),
        [2 * span],
    ]
    total = sum(
        spark.read.parquet(os.path.join(table, f)).count() for f in staged
    )
    assert total == 2


# ---------------------------------------------------------------------------
# Driver-window rotation: the live literal IS the policy's output.
# (The per-round equality pin moved to tests/test_round11_ops.py when
# the window rotated forward — each round's test file pins the window
# that round actually shipped.)


# ---------------------------------------------------------------------------
# Round-10: the novelty gate's inverted broadcast probe — the index
# side must never shuffle or sort (the default anti-join SMJ plan
# exchanges the ENTIRE digest index per micro-batch; at 100 TB that is
# the probe's scale killer — r9 verdict item 1)


def _fmt_plan(df):
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_novel_against_index_broadcast_probe_never_shuffles_index(spark):
    from sparkstreaming_gmall_demo_spark.operators.dedup import (
        novel_against_index,
    )

    batch = spark.createDataFrame(
        [(i, f"text {i}") for i in range(50)], "doc_id long, text string"
    )
    index = spark.createDataFrame(
        [(f"{i:032x}",) for i in range(100)], "fingerprint string"
    )
    plan = _fmt_plan(novel_against_index(batch, index, broadcast_probe=True))
    # both joins broadcast; the index side is scanned, never exchanged
    # into a sort-merge join (its only Exchange feeds a broadcast).
    # Assert the invariant (no SMJ, both an anti and a semi hash join
    # present) rather than an exact doubled node count — formatted
    # explain happens to print each node twice today, but that is a
    # printer detail, not the plan property under test (round-10
    # advice).
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "LeftAnti" in plan and "LeftSemi" in plan


def test_novel_against_index_probe_modes_agree(spark):
    from sparkstreaming_gmall_demo_spark.operators.dedup import (
        novel_against_index,
    )

    batch = spark.createDataFrame(
        [(i, f"doc number {i % 7}") for i in range(40)],
        "doc_id long, text string",
    )
    seen = batch.filter(F.col("doc_id") < 20).select(
        F.md5(F.lower(F.col("text"))).alias("fingerprint")
    )
    a = novel_against_index(batch, seen, broadcast_probe=False)
    b = novel_against_index(batch, seen, broadcast_probe=True)
    assert sorted(r.doc_id for r in a.collect()) == sorted(
        r.doc_id for r in b.collect()
    )


def test_centroid_join_path_matches_literal_path(spark):
    """Large codebooks ride as broadcast DATA instead of a plan
    literal (_with_cents): Catalyst analysis cost over a lambda tree
    containing a k x dim literal grows with its size (~4 s plan-only
    at k=128, dim 64 — paid per micro-batch in foreachBatch gates).
    The join form must be BIT-identical: same zip_with/aggregate fold,
    same element order, same tie rule."""
    from sparkstreaming_gmall_demo_spark.operators import similarity as sim

    df = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(0, 7), i -> "
            "pmod(xxhash64(id, i), 1000) / 500.0d - 1.0d)"
        ).alias("embedding"),
    )
    import random

    rng = random.Random(7)
    cents = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(16)]
    lit = sim.ivf_probe_clusters(df, cents, 3).collect()
    old_max = sim._CENTROID_LITERAL_MAX_ELEMENTS
    sim._CENTROID_LITERAL_MAX_ELEMENTS = 0  # force the join path
    try:
        join = sim.ivf_probe_clusters(df, cents, 3).collect()
        assign_join = sim.ivf_assign(df, cents).collect()
    finally:
        sim._CENTROID_LITERAL_MAX_ELEMENTS = old_max
    assign_lit = sim.ivf_assign(df, cents).collect()
    assert sorted((r.vec_id, r.probe_clusters) for r in lit) == sorted(
        (r.vec_id, r.probe_clusters) for r in join
    )
    assert sorted((r.vec_id, r.cluster) for r in assign_lit) == sorted(
        (r.vec_id, r.cluster) for r in assign_join
    )


def test_compact_partials_sweeps_aged_orphans(spark, tmp_path):
    """Every maintenance slot doubles as orphan GC: the partial sinks
    (sketch/HLL/BM25-stats/boilerplate) compact through
    compact_partials, so a crash-orphaned staging dir must be swept on
    its cadence too, not only on the TTL gates'."""
    t = str(tmp_path / "partials")
    df = spark.createDataFrame(
        [(0, "a", 2), (1, "a", 3)], "batch_id long, gram string, df long"
    )
    txn.append_new(df, t, batch_id=1, n_rows=2)
    orphan_files = txn._stage(df, t)
    orphan_dir = os.path.join(t, "_staged", orphan_files[0].split(os.sep)[1])
    old = time.time() - 2 * pipelines.GATE_ORPHAN_AGE_S
    os.utime(orphan_dir, (old, old))
    for n in os.listdir(orphan_dir):
        os.utime(os.path.join(orphan_dir, n), (old, old))
    pipelines.compact_boilerplate_dictionary(spark, t)
    assert not os.path.exists(orphan_dir)
    got = {(r.gram, r.df) for r in txn.snapshot(spark, t).collect()}
    assert got == {("a", 5)}  # fold unaffected


def test_scd2_obs_compact_sweeps_aged_orphans(spark, tmp_path):
    root = str(tmp_path / "hist")
    obs = str(tmp_path / "obs")
    batch = spark.createDataFrame(
        [(1, "2024-01-01", "a"), (2, "2024-01-02", "b")],
        "k long, ts string, attr string",
    )
    pipelines.scd2_apply_batch_bucketed(
        batch, obs, root, key="k", ts_col="ts", attr_cols=["attr"],
        n_buckets=4, batch_id=0,
    )
    orphan_files = txn._stage(batch, obs)
    orphan_dir = os.path.join(
        obs, "_staged", orphan_files[0].split(os.sep)[1]
    )
    old = time.time() - 2 * pipelines.GATE_ORPHAN_AGE_S
    os.utime(orphan_dir, (old, old))
    for n in os.listdir(orphan_dir):
        os.utime(os.path.join(orphan_dir, n), (old, old))
    pipelines.scd2_obs_compact(spark, obs, root, key="k", n_buckets=4)
    assert not os.path.exists(orphan_dir)
