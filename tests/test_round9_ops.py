"""Round-9 tests.

Regression pins for the r8 ADVICE findings: (1) the overlap gate's
cross-batch evidence count must not inflate when a re-delivered live
doc leaves duplicate stamped index copies, (2) novelty/boilerplate
merge probes must fall back to the shuffle plan past
GATE_BROADCAST_ROW_CAP (behavioral equivalence pin), (3) the semantic
gate's driver-collect budget is in ELEMENTS, so high-dimension
batches take the distributed fallback, (4) a corrupt/empty
_scd2_layout.json raises an actionable repair error instead of
wedging every apply with a JSONDecodeError, (5) the novelty gate's
TTL vacuum carries table meta forward.

Round-9 feature pins: the SCD2 obs-log zone map (round-8 log
compatibility incl. late-arrival resurrection from unmapped files,
pruned rebuild reads, replay no-op), txn.append_new's replay
fence/meta contract and the gates' probe-free index commits over a
TTL re-admission, the centroid-drift loop end
to end (occupancy skew -> recluster -> probe-cost recovery at held
recall), and the driver-window rotation policy recomputed from the
committed CORRECTNESS ledger."""

from __future__ import annotations

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
# ADVICE r8 (medium): re-delivered live doc -> duplicate stamped index
# copies -> count(*) inflated the shared-fingerprint evidence
# ---------------------------------------------------------------------------
def test_overlap_gate_readmitted_doc_does_not_inflate_evidence(spark, tmp_path):
    """Under the TTL'd (doc_id, fp, admit_batch) key, doc A re-delivered
    in a later batch while its rows are still live is re-admitted (the
    probe anti-joins the batch's own ids) and inserts a SECOND live
    stamped copy of every (A, fp) row. The cross-batch evidence count
    must tally DISTINCT shared fingerprints, not index row copies —
    otherwise a novel doc B sharing s fingerprints with A reads as
    sharing 2*s and is over-rejected (round-8 advice)."""
    from sparkstreaming_gmall_demo_spark.operators import text as text_ops

    a_words = [f"s{j}" for j in range(20)]
    b_words = a_words[:8] + [f"u{j}" for j in range(20)]
    text_a, text_b = " ".join(a_words), " ".join(b_words)

    # empirically pin s = distinct shared winnowing fps (k=4, w=4) and
    # demand min_shared = s + 1: with the fix B's evidence is s (<
    # min_shared, admitted); with the duplicated index it was 2*s
    # (>= s+1 for s >= 1, rejected)
    both = spark.createDataFrame([(0, text_a), (1, text_b)], DOC_SCHEMA)
    fps = (
        text_ops.winnowing_fingerprints(both, 4, 4)
        .select("doc_id", "fp")
        .distinct()
    )
    shared = (
        fps.filter(F.col("doc_id") == 0)
        .select("fp")
        .intersect(fps.filter(F.col("doc_id") == 1).select("fp"))
        .count()
    )
    assert shared >= 1, "fixture regression: B must overlap A"
    min_shared = shared + 1

    table = str(tmp_path / "ov_dup")
    kw = dict(min_shared=min_shared, ttl_batches=10)
    a0 = pipelines.overlap_gate_admit(
        spark.createDataFrame([(0, text_a)], DOC_SCHEMA), table,
        batch_id=0, **kw,
    )
    assert a0.count() == 1
    a0.unpersist()
    # re-delivery of the SAME doc_id while its rows are live: re-admitted,
    # and the stamp-in-key merge lands a second live copy of every fp
    a1 = pipelines.overlap_gate_admit(
        spark.createDataFrame([(0, text_a)], DOC_SCHEMA), table,
        batch_id=1, **kw,
    )
    assert a1.count() == 1
    a1.unpersist()
    idx = txn.snapshot(spark, table)
    per_fp = idx.groupBy("doc_id", "fp").count().agg(F.max("count")).first()[0]
    assert per_fp == 2, "precondition: duplicate live copies must exist"

    a2 = pipelines.overlap_gate_admit(
        spark.createDataFrame([(1, text_b)], DOC_SCHEMA), table,
        batch_id=2, **kw,
    )
    assert {r.doc_id for r in a2.collect()} == {1}
    a2.unpersist()


# ---------------------------------------------------------------------------
# ADVICE r8 (medium): novelty/boilerplate merges must not broadcast an
# unbounded batch frame — behavioral equivalence under a zero cap
# ---------------------------------------------------------------------------
def test_novelty_and_boilerplate_gates_match_under_shuffle_probe(
    spark, tmp_path, monkeypatch
):
    """GATE_BROADCAST_ROW_CAP=0 forces every probe/merge onto the
    shuffle plan; admissions and the gram dictionary must be identical
    to the broadcast path (same-semantics contract of merge_keyed's
    broadcast_probe flag)."""
    topic = tmp_path / "docs"
    _stage_batches(
        topic,
        _doc_table,
        [
            [(0, _doc_text(0)), (1, _doc_text(1))],
            [(2, _doc_text(0)), (3, _doc_text(2))],  # 2 = exact dup of 0
        ],
    )
    monkeypatch.setattr(pipelines, "GATE_BROADCAST_ROW_CAP", 0)
    q = pipelines.novelty_gate_pipeline(
        _doc_stream(spark, topic), str(tmp_path / "nov_idx"),
        str(tmp_path / "admitted"), str(tmp_path / "ck_nov"),
        trigger={"availableNow": True}, ttl_batches=4, compact_every=2,
    )
    q.awaitTermination()
    got = {r.doc_id for r in spark.read.parquet(str(tmp_path / "admitted")).collect()}
    assert got == {0, 1, 3}

    q2 = pipelines.boilerplate_pipeline(
        _doc_stream(spark, topic), str(tmp_path / "grams"),
        str(tmp_path / "ck_bp"), n=6,
        trigger={"availableNow": True},
    )
    q2.awaitTermination()
    # docs 0 and 2 are verbatim copies: their shared 6-grams have df=2
    d = pipelines.boilerplate_read_dictionary(
        spark, str(tmp_path / "grams"), min_df=2
    )
    assert d.count() == 25  # 30 words -> 25 six-grams, all shared by 0/2


# ---------------------------------------------------------------------------
# ADVICE r8 (low): the semantic gate's collect budget scales with
# dimension — a high-dim batch must take the distributed fallback even
# when its row count alone would fit
# ---------------------------------------------------------------------------
def test_semantic_gate_high_dim_batch_takes_distributed_fallback(
    spark, tmp_path, monkeypatch
):
    from sparkstreaming_gmall_demo_spark.operators import similarity

    dim = 256
    cents = [
        [1.0] + [0.0] * (dim - 1),
        [0.0, 1.0] + [0.0] * (dim - 2),
    ]
    batch = spark.createDataFrame(
        [(1, [1.0] + [0.0] * (dim - 1)), (2, [0.0, 1.0] + [0.0] * (dim - 2))],
        "vec_id long, embedding array<double>",
    )

    def boom(*a, **k):
        raise AssertionError("fast path must not run for this batch")

    monkeypatch.setattr(similarity, "semantic_pairs_driver", boom)
    # rows x nprobe = 2 <= cap, but rows x nprobe x 256 dims = 512
    # elements > cap x 64 = 256 -> the element budget forces fallback
    monkeypatch.setattr(pipelines, "SEMANTIC_GATE_BROADCAST_PROBE_CAP", 4)
    admitted = pipelines.semantic_gate_admit(
        batch, str(tmp_path / "sem_idx"), cents, threshold=0.95, nprobe=1
    )
    assert {r.vec_id for r in admitted.collect()} == {1, 2}
    admitted.unpersist()


# ---------------------------------------------------------------------------
# ADVICE r8 (low): corrupt/empty SCD2 layout file -> actionable error,
# not a permanent JSONDecodeError wedge
# ---------------------------------------------------------------------------
def test_scd2_corrupt_layout_raises_actionable_error(tmp_path):
    root = str(tmp_path / "hist")
    os.makedirs(root)
    with open(os.path.join(root, "_scd2_layout.json"), "w"):
        pass  # the empty file a pre-fix crash left behind
    with pytest.raises(ValueError, match="repair"):
        pipelines._scd2_layout_check(root, 16)


def test_scd2_layout_first_write_is_atomic_and_validates(tmp_path):
    root = str(tmp_path / "hist")
    pipelines._scd2_layout_check(root, 16)  # first writer records 16
    pipelines._scd2_layout_check(root, 16)  # same layout: fine
    assert not [
        n for n in os.listdir(root) if n.startswith("_scd2_layout.json.tmp")
    ], "temp files must not leak"
    with pytest.raises(ValueError, match="n_buckets=16"):
        pipelines._scd2_layout_check(root, 8)


# ---------------------------------------------------------------------------
# ADVICE r8 (low): the novelty gate's TTL vacuum must carry table meta
# forward (it routed around _ttl_vacuum and dropped it pre-fix)
# ---------------------------------------------------------------------------
# ---------------------------------------------------------------------------
# Round-9 obs-log zone map: the bucketed SCD2 apply must stop paying a
# full-changelog scan, stay byte-compatible with a round-8 log, and
# keep exactly the snapshot writer's semantics
# ---------------------------------------------------------------------------
def test_scd2_round8_obs_log_without_zone_map_still_works(spark, tmp_path):
    """An obs log seeded through plain txn.merge_keyed (the round-8
    writer — no scd2_file_buckets meta) must keep producing the exact
    snapshot-writer history under round-9 applies, including
    late-arrival resurrection of observations that only exist in the
    UNMAPPED files: a file without a zone-map entry is conservatively
    always read."""
    from sparkstreaming_gmall_demo_spark.operators import scd2 as scd2_ops

    obs_t = str(tmp_path / "obs")
    root = str(tmp_path / "hist")
    seed = [(1, 10, "A"), (1, 30, "C"), (2, 10, "X"), (5, 5, "Q")]
    txn.merge_keyed(
        spark.createDataFrame(seed, "uid long, ts long, val string"),
        obs_t, key_cols=["uid", "ts"],
    )
    assert "scd2_file_buckets" not in txn.table_meta(obs_t)

    # late observation for uid 1 BETWEEN its legacy rows: the rebuild
    # must re-window uid 1 against the unmapped legacy observations
    all_rows = list(seed)
    for i, rows in enumerate([[(1, 20, "B")], [(2, 40, "Y"), (5, 6, "R")]]):
        pipelines.scd2_apply_batch_bucketed(
            spark.createDataFrame(rows, "uid long, ts long, val string"),
            obs_t, root, "uid", "ts", ["val"], batch_id=i, n_buckets=8,
        )
        all_rows += rows
    want = scd2_ops.scd2_history(
        spark.createDataFrame(all_rows, "uid long, ts long, val string"),
        "uid", "ts", ["val"],
    )
    got = pipelines.scd2_bucketed_history(spark, root)
    assert sorted(
        (r.uid, r.val, r.valid_from, r.valid_to) for r in got.collect()
    ) == sorted(
        (r.uid, r.val, r.valid_from, r.valid_to) for r in want.collect()
    )
    # the r9 commits recorded zone-map entries for THEIR files only
    fmap = txn.table_meta(obs_t)["scd2_file_buckets"]
    assert len(fmap) == 2  # one staged file per one-key micro-batch... and one for the 2-key batch
    # replayed apply: keyed merge no-ops, zone map unchanged
    v_before = txn.current_version(obs_t)
    pipelines.scd2_apply_batch_bucketed(
        spark.createDataFrame([(1, 20, "B")], "uid long, ts long, val string"),
        obs_t, root, "uid", "ts", ["val"], batch_id=0, n_buckets=8,
    )
    assert txn.current_version(obs_t) == v_before


def test_scd2_bucketed_dedupes_within_batch_duplicate_keys(spark, tmp_path):
    """Two same-(key, ts) observations in one micro-batch must collapse
    to one changelog row (txn.merge_keyed's dropDuplicates semantics) —
    the zone-mapped obs merge initially skipped this, storing both
    forever and diverging from the snapshot writer (round-9 review)."""
    from sparkstreaming_gmall_demo_spark.operators import scd2 as scd2_ops

    obs_t, root = str(tmp_path / "obs"), str(tmp_path / "hist")
    batch = spark.createDataFrame(
        [(1, 10, "A"), (1, 10, "A"), (1, 20, "B")],
        "uid long, ts long, val string",
    )
    pipelines.scd2_apply_batch_bucketed(
        batch, obs_t, root, "uid", "ts", ["val"], batch_id=0, n_buckets=4
    )
    assert txn.snapshot(spark, obs_t).count() == 2  # dup collapsed
    want = scd2_ops.scd2_history(
        batch.dropDuplicates(["uid", "ts"]), "uid", "ts", ["val"]
    )
    got = pipelines.scd2_bucketed_history(spark, root)
    assert sorted(
        (r.uid, r.val, r.valid_from, r.valid_to) for r in got.collect()
    ) == sorted(
        (r.uid, r.val, r.valid_from, r.valid_to) for r in want.collect()
    )


def test_scd2_obs_zone_map_prunes_rebuild_scan(spark, tmp_path):
    """After rounds touching disjoint buckets, a one-key apply's
    rebuild read must cover ONLY the files whose zone-map entry
    overlaps that key's bucket (plus unmapped files — none here), not
    the whole changelog."""
    obs_t = str(tmp_path / "obs")
    root = str(tmp_path / "hist")
    n_buckets = 64
    # find three uids in three DIFFERENT buckets
    from sparkstreaming_gmall_demo_spark.streaming.pipelines import (
        _scd2_bucket_expr,
        _scd2_obs_files_for,
    )

    probe = spark.createDataFrame(
        [(u,) for u in range(50)], "uid long"
    ).select("uid", _scd2_bucket_expr("uid", n_buckets).alias("b"))
    by_bucket = {}
    for r in probe.collect():
        by_bucket.setdefault(r.b, r.uid)
        if len(by_bucket) >= 3:
            break
    (b1, u1), (b2, u2), (b3, u3) = list(by_bucket.items())[:3]

    for i, u in enumerate([u1, u2, u3]):
        pipelines.scd2_apply_batch_bucketed(
            spark.createDataFrame([(u, 10, f"v{u}")],
                                  "uid long, ts long, val string"),
            obs_t, root, "uid", "ts", ["val"], batch_id=i,
            n_buckets=n_buckets,
        )
    all_files = txn.snapshot_info(obs_t)[1]
    assert len(all_files) == 3
    pruned = _scd2_obs_files_for(obs_t, [b1])
    assert len(pruned) == 1, "one-bucket read must touch one file"
    # and every file is mapped, so nothing rides the conservative path
    assert len(txn.table_meta(obs_t)["scd2_file_buckets"]) == 3


def test_scd2_obs_compact_restores_pruning_and_bounds_files(spark, tmp_path):
    """After many micro-batch commits (and a generic compact_files pass
    that strips the zone map), scd2_obs_compact must rewrite the log
    bucket-grouped with a FRESH exact map: file count bounded, every
    manifest file mapped, one-bucket reads pruned again, meta carried,
    and subsequent applies still bit-match the snapshot writer."""
    from sparkstreaming_gmall_demo_spark.operators import scd2 as scd2_ops
    from sparkstreaming_gmall_demo_spark.streaming.pipelines import (
        _scd2_bucket_expr,
        _scd2_obs_files_for,
    )

    obs_t, root = str(tmp_path / "obs"), str(tmp_path / "hist")
    n_buckets = 64
    all_rows = []
    for i in range(6):  # six commits -> six obs files
        rows = [(10 * i + j, 10, f"v{i}{j}") for j in range(3)]
        pipelines.scd2_apply_batch_bucketed(
            spark.createDataFrame(rows, "uid long, ts long, val string"),
            obs_t, root, "uid", "ts", ["val"], batch_id=i,
            n_buckets=n_buckets,
        )
        all_rows += rows
    # a generic OPTIMIZE pass: rows preserved, zone map NOT — the
    # conservative reader now includes every file
    txn.compact_files(spark, obs_t, target_files=4)
    assert len(_scd2_obs_files_for(obs_t, [0])) == len(
        txn.snapshot_info(obs_t)[1]
    ), "unmapped files must be conservatively included"

    # seed sentinel meta so the meta-carry assertion is non-vacuous
    # (the obs log itself never sets appended_through — round-9 review)
    txn.overwrite(
        txn.snapshot(spark, obs_t), obs_t,
        meta={**txn.table_meta(obs_t), "sentinel": "keep"},
    )
    n_before, n_after = pipelines.scd2_obs_compact(
        spark, obs_t, root, "uid", n_buckets
    )
    assert n_after <= n_before
    _v, names, meta = txn.snapshot_info(obs_t)
    fmap = meta["scd2_file_buckets"]
    assert set(fmap) == set(names), "every file mapped after compaction"
    assert meta.get("sentinel") == "keep"  # meta carried through
    b0 = spark.createDataFrame([(0,)], "uid long").select(
        _scd2_bucket_expr("uid", n_buckets).alias("b")
    ).first().b
    assert len(_scd2_obs_files_for(obs_t, [b0])) < len(names)
    # drifted bucket count refuses before writing a poisoned map
    with pytest.raises(ValueError, match="n_buckets"):
        pipelines.scd2_obs_compact(spark, obs_t, root, "uid", 8)

    # post-compaction applies keep the rebuild-invariant
    late = [(0, 5, "early"), (51, 20, "w")]
    pipelines.scd2_apply_batch_bucketed(
        spark.createDataFrame(late, "uid long, ts long, val string"),
        obs_t, root, "uid", "ts", ["val"], batch_id=6, n_buckets=n_buckets,
    )
    want = scd2_ops.scd2_history(
        spark.createDataFrame(all_rows + late, "uid long, ts long, val string"),
        "uid", "ts", ["val"],
    )
    got = pipelines.scd2_bucketed_history(spark, root)
    assert sorted(
        (r.uid, r.val, r.valid_from, r.valid_to) for r in got.collect()
    ) == sorted(
        (r.uid, r.val, r.valid_from, r.valid_to) for r in want.collect()
    )


# ---------------------------------------------------------------------------
# VERDICT r8 item 7: probe-free gate index inserts (txn.append_new) —
# the fence's exactly-once contract, standalone
# ---------------------------------------------------------------------------
def test_append_new_fences_replays_and_carries_meta(spark, tmp_path):
    table = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    assert txn.append_new(df, table, batch_id=0, n_rows=2) == 2
    v0 = txn.current_version(table)
    # replayed batch id: fenced before any job runs, version unmoved
    assert txn.append_new(df, table, batch_id=0, n_rows=2) == 0
    assert txn.current_version(table) == v0
    # later batch appends; n_rows=None path counts internally
    assert txn.append_new(
        spark.createDataFrame([(3, "c")], "k long, v string"), table,
        batch_id=1,
    ) == 1
    assert txn.snapshot(spark, table).count() == 3
    # empty batch: no commit AND the fence does not advance (a crash
    # between derive and commit replays into the same empty derive)
    assert txn.append_new(
        spark.createDataFrame([], "k long, v string"), table, batch_id=5
    ) == 0
    assert txn.table_meta(table)["appended_through"] == 1
    # maintenance meta carries through the append, and the fence
    # survives an overwrite that carries meta (the vacuum contract)
    txn.overwrite(
        txn.snapshot(spark, table), table,
        meta={**txn.table_meta(table), "sentinel": 7},
    )
    assert txn.append_new(
        spark.createDataFrame([(4, "d")], "k long, v string"), table,
        batch_id=2,
    ) == 1
    m = txn.table_meta(table)
    assert m["sentinel"] == 7 and m["appended_through"] == 2
    assert txn.append_new(df, table, batch_id=1, n_rows=2) == 0  # still fenced
    # row-removing maintenance raises the floor: batches older than it
    # re-insert (the TTL-vacuum fresh-replay convergence contract),
    # newer replayed batches stay fenced
    txn.overwrite(
        txn.snapshot(spark, table), table,
        meta={**txn.table_meta(table), "appended_floor": 2},
    )
    assert txn.append_new(
        spark.createDataFrame([(9, "z")], "k long, v string"), table,
        batch_id=1,
    ) == 1  # 1 < floor 2 -> unfenced re-insert allowed
    assert txn.append_new(df, table, batch_id=2, n_rows=2) == 0  # fenced


def test_gate_admissions_with_probe_free_commits(spark, tmp_path):
    """The probe-free (append_new) index commits give the expected
    admitted set and index contents over a stream with dups, TTL
    expiry, and a re-admission."""
    topic = tmp_path / "docs"
    _stage_batches(
        topic,
        _doc_table,
        [
            [(0, _doc_text(0)), (1, _doc_text(1))],
            [(2, _doc_text(0))],   # dup of 0: suppressed (stamp live)
            [(3, _doc_text(2))],
            [(4, _doc_text(0))],   # doc 0 expired (ttl=2) -> re-admitted
        ],
    )
    q = pipelines.novelty_gate_pipeline(
        _doc_stream(spark, topic), str(tmp_path / "idx"),
        str(tmp_path / "admitted"), str(tmp_path / "ck"),
        trigger={"availableNow": True}, ttl_batches=2, compact_every=2,
    )
    q.awaitTermination()
    got = {r.doc_id for r in spark.read.parquet(str(tmp_path / "admitted")).collect()}
    assert got == {0, 1, 3, 4}
    idx = txn.snapshot(spark, str(tmp_path / "idx"))
    # post-vacuum at b3 (ttl=2): stamps >= 1 live -> doc 3 (b2) and the
    # re-admitted doc 4 (b3); the expired b0 stamps are gone
    assert {(r.fingerprint is not None, r.admit_batch) for r in idx.collect()} == {
        (True, 2),
        (True, 3),
    }


# ---------------------------------------------------------------------------
# VERDICT r8 item 4: the drift loop, end to end — occupancy skew grows
# under a drifted stream, recluster rebalances it, probe cost recovers,
# and the gate's decisions survive the centroid switch
# ---------------------------------------------------------------------------
def test_semantic_gate_drift_cycle_end_to_end(spark, tmp_path):
    """Frozen centroids [e1, e2]; a balanced round seeds one vector per
    cell; six drifted vectors (all nearest e1, pairwise cosine < the
    threshold) then crowd cell 0 — occupancy skew max_share 7/8. After
    retraining on the indexed corpus and semantic_gate_recluster:
    admitted rows byte-identical, occupancy strictly rebalanced, a
    duplicate of a drifted admitted vector probes STRICTLY fewer
    candidate rows and is still rejected, and novel content is still
    admitted (recall held, probe cost recovered)."""
    from sparkstreaming_gmall_demo_spark.operators.similarity import ivf_train

    table = str(tmp_path / "sem_idx")
    cents_old = [
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
    ]
    schema = "vec_id long, embedding array<double>"

    def admit(rows, cents):
        out = pipelines.semantic_gate_admit(
            spark.createDataFrame(rows, schema), table, cents,
            threshold=0.95, nprobe=1,
        )
        got = {r.vec_id for r in out.collect()}
        out.unpersist()
        return got

    # balanced seed: one vector per cell
    assert admit(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])], cents_old
    ) == {1, 2}
    # drift: all six assign to cell 0 ((1,1,a,b) is equidistant from
    # e1/e2 -> tie to cell 0), pairwise cosine < 0.95 -> all admitted
    drift = [
        (10, [1.0, 1.0, 0.0, 0.0]),
        (11, [1.0, 1.0, 0.8, 0.0]),
        (12, [1.0, 1.0, -0.8, 0.0]),
        (13, [1.0, 1.0, 0.0, 0.8]),
        (14, [1.0, 1.0, 0.0, -0.8]),
        (15, [1.0, 1.0, 0.8, 0.8]),
    ]
    assert admit(drift, cents_old) == {10, 11, 12, 13, 14, 15}

    def occupancy():
        counts = {
            r.cluster: r.n
            for r in txn.snapshot(spark, table)
            .groupBy("cluster").agg(F.count("*").alias("n")).collect()
        }
        return counts, max(counts.values()) / sum(counts.values())

    counts_before, max_share_before = occupancy()
    assert counts_before[0] == 7 and max_share_before == 7 / 8
    stored_before = sorted(
        (r.vec_id, tuple(r.embedding))
        for r in txn.snapshot(spark, table).collect()
    )

    # probe cost BEFORE recluster: a dup of drifted vec 10 probes its
    # (old) nearest cell = the hot cell -> 7 candidate rows
    def probe_candidates(vec, cents):
        from sparkstreaming_gmall_demo_spark.operators.similarity import (
            ivf_probe_clusters,
        )

        cell = (
            ivf_probe_clusters(
                spark.createDataFrame([(99, vec)], schema), cents, nprobe=1
            )
            .select(F.element_at("probe_clusters", 1).cast("int").alias("c"))
            .first()
            .c
        )
        return txn.snapshot(spark, table).filter(F.col("cluster") == cell).count()

    dup_of_drift = [1.0, 1.0, 0.0, 0.0]
    cand_before = probe_candidates(dup_of_drift, cents_old)
    assert cand_before == 7
    assert admit([(90, dup_of_drift)], cents_old) == set()  # rejected

    # retrain on the indexed corpus, recluster, switch the gate over
    cents_new = ivf_train(txn.snapshot(spark, table), k=2)
    stats = pipelines.semantic_gate_recluster(spark, table, cents_new)
    assert stats["n_vectors"] == 8 and stats["n_moved"] > 0

    stored_after = sorted(
        (r.vec_id, tuple(r.embedding))
        for r in txn.snapshot(spark, table).collect()
    )
    assert stored_after == stored_before  # payload byte-identical
    _counts_after, max_share_after = occupancy()
    assert max_share_after < max_share_before  # skew rebalanced
    cand_after = probe_candidates(dup_of_drift, cents_new)
    assert cand_after < cand_before  # probe cost recovered
    assert admit([(91, dup_of_drift)], cents_new) == set()  # recall held
    assert admit([(92, [0.0, 0.0, 1.0, 0.0])], cents_new) == {92}  # novel ok


def test_overlap_gate_all_rejected_batch_commits_nothing(spark, tmp_path):
    """A fully-suppressed batch must not commit: pre-fix, append_new
    was handed the BATCH fp count (non-zero) and staged an empty file
    + a new manifest version per rejected batch (round-9 review)."""
    table = str(tmp_path / "ov_idx")
    a0 = pipelines.overlap_gate_admit(
        spark.createDataFrame([(0, _doc_text(0))], DOC_SCHEMA), table,
        batch_id=0,
    )
    assert a0.count() == 1
    a0.unpersist()
    v = txn.current_version(table)
    a1 = pipelines.overlap_gate_admit(
        spark.createDataFrame([(1, _doc_text(0))], DOC_SCHEMA), table,
        batch_id=1,
    )
    assert a1.count() == 0  # suppressed: full overlap with doc 0
    a1.unpersist()
    assert txn.current_version(table) == v  # no empty version accreted


def test_window_policy_guards_degenerate_inputs():
    from sparkstreaming_gmall_demo_spark.plans import window_policy as wp

    with pytest.raises(ValueError, match="sentinel"):
        wp.driver_window(sorted(wp.CORE_SENTINELS), {}, cap=4)
    # a record with no checks run is NOT green (mid-check crash rows
    # must not stamp an entry fresh in the ledger)
    assert not wp.row_is_green({})
    assert not wp.row_is_green({"err": "boom"})
    assert wp.row_is_green({"rows_match": True, "schema_match": None,
                            "hash_match": None, "err": None})


def test_novelty_gate_vacuum_preserves_table_meta(spark, tmp_path):
    topic = tmp_path / "docs"
    _stage_batches(topic, _doc_table, [[(0, _doc_text(0))]])
    index_table = str(tmp_path / "nov_meta_idx")
    out_path = str(tmp_path / "admitted")

    def run():
        q = pipelines.novelty_gate_pipeline(
            _doc_stream(spark, topic), index_table, out_path,
            str(tmp_path / "ck"), trigger={"availableNow": True},
            ttl_batches=4, compact_every=2,
        )
        q.awaitTermination()

    run()  # batch 0: index exists, no vacuum yet (0 % 2 != 1)
    v = txn.current_version(index_table)
    assert v >= 0
    txn.overwrite(
        txn.snapshot(spark, index_table), index_table,
        meta={**txn.table_meta(index_table), "sentinel": "keep"},
    )
    _stage_batches(topic, _doc_table, [[(1, _doc_text(1))]], start=1)
    run()  # batch 1: merge + vacuum (1 % 2 == 1)
    assert txn.table_meta(index_table).get("sentinel") == "keep"
    got = {r.doc_id for r in spark.read.parquet(out_path).collect()}
    assert got == {0, 1}
