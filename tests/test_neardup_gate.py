"""Near-duplicate novelty gate: streaming MinHash/LSH ingest dedup
against a persisted band index (the fuzzy upgrade of the exact
fingerprint gate)."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import functions as F

from sparkstreaming_gmall_demo_spark.operators import components as comp_ops
from sparkstreaming_gmall_demo_spark.operators import neardup as nd_ops
from sparkstreaming_gmall_demo_spark.streaming import pipelines, txn

DOC_SCHEMA = "doc_id long, text string"
BANDS = 16


def _text(i: int) -> str:
    # 30 disjoint-token sentences: no accidental near-dups
    return " ".join(f"w{i}x{j}" for j in range(30))


def _write_chunk(path, rows):
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
            }
        ),
        str(path),
    )


def _stage_topic(tmp_path):
    """chunk0: originals 0..19; chunk1: originals 20..39; chunk2:
    exact copies of 0..9 (ids 1000+) plus a NEW text duplicated
    within the chunk (ids 2000, 2001)."""
    topic = tmp_path / "docs"
    topic.mkdir()
    _write_chunk(topic / "c0.parquet", [(i, _text(i)) for i in range(20)])
    _write_chunk(topic / "c1.parquet", [(i, _text(i)) for i in range(20, 40)])
    _write_chunk(
        topic / "c2.parquet",
        [(1000 + i, _text(i)) for i in range(10)]
        + [(2000, _text(99)), (2001, _text(99))],
    )
    return topic


def _run(spark, topic, index_table, out_path, ckpt):
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(topic))
    )
    q = pipelines.neardup_gate_pipeline(
        stream, index_table, out_path, ckpt,
        threshold=0.8, bands=BANDS, trigger={"availableNow": True},
    )
    q.awaitTermination()


def test_neardup_gate_admits_only_novel_documents(spark, tmp_path):
    topic = _stage_topic(tmp_path)
    index_table = str(tmp_path / "nd_index")
    out_path = str(tmp_path / "admitted")
    _run(spark, topic, index_table, out_path, str(tmp_path / "ck"))

    admitted = {r.doc_id for r in spark.read.parquet(out_path).collect()}
    # cross-batch copies rejected; within-batch dup keeps min id
    assert admitted == set(range(40)) | {2000}

    # the gate's core guarantee: no two admitted docs are near-dups
    survivors = spark.read.parquet(out_path)
    assert nd_ops.minhash_near_duplicates(survivors, 0.8).count() == 0

    # index holds exactly the admitted docs
    sigs = txn.snapshot(spark, index_table + "_sigs")
    bands = txn.snapshot(spark, index_table + "_bands")
    assert {r.doc_id for r in sigs.select("doc_id").collect()} == admitted
    assert bands.count() == len(admitted) * BANDS


def test_neardup_gate_replay_is_noop(spark, tmp_path):
    topic = _stage_topic(tmp_path)
    index_table = str(tmp_path / "nd_index")
    out_path = str(tmp_path / "admitted")
    _run(spark, topic, index_table, out_path, str(tmp_path / "ck1"))

    want = sorted(r.doc_id for r in spark.read.parquet(out_path).collect())
    v_sigs = txn.current_version(index_table + "_sigs")
    v_bands = txn.current_version(index_table + "_bands")

    # full replay from a fresh checkpoint: admitted docs only
    # self-collide (excluded by doc_id), rejected docs still find
    # their killers -> every sink no-ops
    _run(spark, topic, index_table, out_path, str(tmp_path / "ck2"))
    got = sorted(r.doc_id for r in spark.read.parquet(out_path).collect())
    assert got == want
    assert txn.current_version(index_table + "_sigs") == v_sigs
    assert txn.current_version(index_table + "_bands") == v_bands


def test_neardup_gate_admit_batch_twin(spark, tmp_path):
    """Driving the shared admission function chunk-by-chunk from a
    batch loop produces the identical admitted set (the streaming sink
    IS this function)."""
    topic = _stage_topic(tmp_path)
    index_table = str(tmp_path / "nd_index_batch")
    chunks = sorted(str(p) for p in topic.glob("c*.parquet"))
    admitted_ids: list[int] = []
    for c in chunks:
        admit = pipelines.neardup_gate_admit(
            spark.read.schema(DOC_SCHEMA).parquet(c),
            index_table + "_sigs", index_table + "_bands",
            threshold=0.8, bands=BANDS,
        )
        admitted_ids.extend(r.doc_id for r in admit.collect())
        admit.unpersist()
    assert sorted(admitted_ids) == sorted(set(range(40)) | {2000})


def test_neardup_gate_near_but_below_threshold_admitted(spark, tmp_path):
    """A doc sharing only a MINORITY of shingles with an indexed doc
    collides in some band only rarely and fails exact verification —
    it must be admitted."""
    index_table = str(tmp_path / "nd_thresh")
    base = spark.createDataFrame([(1, _text(1))], DOC_SCHEMA)
    a1 = pipelines.neardup_gate_admit(
        base, index_table + "_sigs", index_table + "_bands", threshold=0.8
    )
    assert [r.doc_id for r in a1.collect()] == [1]
    a1.unpersist()
    # half the tokens replaced: Jaccard far below 0.8
    half = " ".join(
        (f"w1x{j}" if j < 15 else f"q{j}") for j in range(30)
    )
    probe = spark.createDataFrame([(2, half)], DOC_SCHEMA)
    a2 = pipelines.neardup_gate_admit(
        probe, index_table + "_sigs", index_table + "_bands", threshold=0.8
    )
    assert [r.doc_id for r in a2.collect()] == [2]
    a2.unpersist()
    # and a 97%-overlap doc is caught
    near = _text(1) + " extraword"
    probe2 = spark.createDataFrame([(3, near)], DOC_SCHEMA)
    a3 = pipelines.neardup_gate_admit(
        probe2, index_table + "_sigs", index_table + "_bands", threshold=0.8
    )
    assert a3.count() == 0
    a3.unpersist()


def test_neardup_gate_survives_index_compaction_midstream(spark, tmp_path):
    """Operational loop: the gate's sigs/bands txn tables accrete one
    file-set per batch (small-file decay); txn.compact_files between
    batches must leave admissions, rejections, and replay behavior
    identical — the maintenance pass is invisible to the gate."""
    topic = _stage_topic(tmp_path)
    index_table = str(tmp_path / "nd_index")
    chunks = sorted(str(p) for p in topic.glob("c*.parquet"))
    admitted_ids: list[int] = []
    for n, c in enumerate(chunks):
        admit = pipelines.neardup_gate_admit(
            spark.read.schema(DOC_SCHEMA).parquet(c),
            index_table + "_sigs", index_table + "_bands",
            threshold=0.8, bands=BANDS,
        )
        admitted_ids.extend(r.doc_id for r in admit.collect())
        admit.unpersist()
        if n == 1:  # bin-pack mid-stream, before the dup-heavy chunk
            for t in (index_table + "_sigs", index_table + "_bands"):
                before, after = txn.compact_files(spark, t, target_files=2)
                assert after <= 2 <= before
                txn.vacuum(t)
    # same admitted set as the uncompacted batch-twin run
    assert sorted(admitted_ids) == sorted(set(range(40)) | {2000})
    # index content intact: every admitted doc still has its 16 bands
    bands = txn.snapshot(spark, index_table + "_bands")
    assert bands.count() == len(admitted_ids) * BANDS


def test_driver_union_find_matches_distributed_components(spark, monkeypatch):
    """The bounded-graph fast path (driver union-find) must produce the
    identical (node -> min member id) labeling as the distributed star
    fallback — pinned on a graph with chains, a cycle, disjoint comps,
    and duplicate/reversed edges, under several shuffled edge orders
    (the labeling must be edge-order independent)."""
    import random

    edges = [
        (5, 3), (3, 9), (9, 5),          # cycle -> min 3
        (10, 11), (11, 12), (12, 13),     # chain -> min 10
        (20, 21), (21, 20), (20, 21),     # dup + reversed -> min 20
        (7, 30),                          # pair -> min 7
    ]
    want = {5: 3, 3: 3, 9: 3, 10: 10, 11: 10, 12: 10, 13: 10,
            20: 20, 21: 20, 7: 7, 30: 7}
    rng = random.Random(11)
    for _ in range(4):
        shuffled = list(edges)
        rng.shuffle(shuffled)
        assert comp_ops.union_find(shuffled) == want
    monkeypatch.setattr(comp_ops, "DRIVER_EDGE_CAP", 0)
    dist = {
        r.node: r.component
        for r in comp_ops.connected_components(
            spark.createDataFrame(edges, "i long, j long")
        ).collect()
    }
    assert dist == want


def test_neardup_gate_replay_stable_under_candidate_cap(
    spark, tmp_path, monkeypatch
):
    """Replay determinism under cap pressure: on a replay the band
    index holds the batch's OWN admitted docs; if they entered the
    probe, a smaller batch id could displace a rejected doc's original
    killer out of the candidate cap and flip the admission. The probe
    therefore anti-joins the batch's ids out of old_id — this pins it
    with the adversarial layout (cap=1, batch doc id < killer id).

    Layout: killer K=100 (text T) is indexed. Batch = victim V=50
    (exact copy of T, must stay rejected) + W=10 (Jaccard 0.75 to T:
    band-colliding but below the 0.8 threshold, admitted). Replay with
    cap=1: without the fix, W(10) displaces K(100) from V's single
    candidate slot, V verifies against W at 0.75 < 0.8 and is wrongly
    admitted."""
    t_tokens = [f"t{j}" for j in range(30)]
    T = " ".join(t_tokens)
    # 4 trailing tokens replaced -> 24/32 shingle Jaccard = 0.75
    W_text = " ".join(t_tokens[:26] + [f"z{j}" for j in range(4)])

    # precondition: W band-collides with T (else the displacement
    # scenario is vacuous) and sits below the verify threshold
    two = spark.createDataFrame([(1, T), (2, W_text)], DOC_SCHEMA)
    sigs = nd_ops.minhash_signature(two, 64, 3)
    banded = nd_ops.signature_bands(sigs, BANDS)
    a = banded.filter(F.col("doc_id") == 1).select("band", "bh")
    b = banded.filter(F.col("doc_id") == 2).select("band", "bh")
    assert a.join(b, ["band", "bh"]).count() >= 1
    assert nd_ops.minhash_near_duplicates(two, 0.8).count() == 0

    index_table = str(tmp_path / "nd_cap")
    monkeypatch.setattr(pipelines, "NEARDUP_GATE_CAND_CAP", 1)

    seed = pipelines.neardup_gate_admit(
        spark.createDataFrame([(100, T)], DOC_SCHEMA),
        index_table + "_sigs", index_table + "_bands",
        threshold=0.8, bands=BANDS,
    )
    assert [r.doc_id for r in seed.collect()] == [100]
    seed.unpersist()

    batch = spark.createDataFrame([(50, T), (10, W_text)], DOC_SCHEMA)
    first = pipelines.neardup_gate_admit(
        batch, index_table + "_sigs", index_table + "_bands",
        threshold=0.8, bands=BANDS,
    )
    assert sorted(r.doc_id for r in first.collect()) == [10]
    first.unpersist()

    # replay the identical batch: W=10 is now indexed, but must not
    # enter V=50's probe — the admitted set is replay-identical
    replay = pipelines.neardup_gate_admit(
        batch, index_table + "_sigs", index_table + "_bands",
        threshold=0.8, bands=BANDS,
    )
    assert sorted(r.doc_id for r in replay.collect()) == [10]
    replay.unpersist()


def test_neardup_gate_distributed_cc_fallback(spark, tmp_path, monkeypatch):
    """Above components.DRIVER_EDGE_CAP the gate must switch from the
    driver-side union-find to the distributed star fallback and admit
    the IDENTICAL set (r13, VERDICT r12 item 8: the cap is a
    bounded-collect budget, so the path above it has to be exercised,
    not just documented). Batch: two verbatim-twin
    clusters plus a singleton; each cluster admits its min id under
    either component engine."""
    batch_rows = [
        (1, _text(0)), (2, _text(0)),
        (3, _text(1)), (4, _text(1)),
        (5, _text(2)),
    ]

    def run(cap: int, suffix: str) -> list:
        monkeypatch.setattr(comp_ops, "DRIVER_EDGE_CAP", cap)
        t = str(tmp_path / f"idx_{suffix}")
        admitted = pipelines.neardup_gate_admit(
            spark.createDataFrame(batch_rows, DOC_SCHEMA),
            t + "_sigs", t + "_bands", threshold=0.8, bands=BANDS,
        )
        ids = sorted(r.doc_id for r in admitted.collect())
        admitted.unpersist()
        return ids

    # cap 0 forces the distributed branch (the batch has >= 2 pairs);
    # a roomy cap keeps the driver union-find fast path
    assert run(0, "dist") == run(10**6, "drv") == [1, 3, 5]


def test_neardup_gate_chain_component_replay_is_noop(spark, tmp_path):
    """Chain-shaped component in ONE batch: A~B, B~C, A!~C (Jaccard is
    not transitive). The whole-batch component rule admits only A, and
    a fresh-checkpoint replay must not resurrect C — the regression of
    the naive drop-dups-then-collapse rule, where replayed B is
    index-rejected first, leaving C pairless and wrongly admitted."""
    base = [f"t{j}" for j in range(30)]
    a = ["ax" + str(j) for j in range(5)] + base[5:]        # differs from B in 0..4
    b = base
    c = base[:25] + ["cx" + str(j) for j in range(5)]       # differs from B in 25..29
    texts = {1: " ".join(a), 2: " ".join(b), 3: " ".join(c)}
    topic = tmp_path / "docs"
    topic.mkdir()
    _write_chunk(topic / "c0.parquet", [(i, t) for i, t in texts.items()])

    # verify the chain shape at threshold 0.5 with the gate's own kernel
    df = spark.createDataFrame(list(texts.items()), DOC_SCHEMA)
    pairs = {(r.i, r.j) for r in
             nd_ops.minhash_near_duplicates(df, 0.5).collect()}
    assert (1, 2) in pairs and (2, 3) in pairs and (1, 3) not in pairs

    index_table = str(tmp_path / "nd_index")
    out_path = str(tmp_path / "admitted")

    def run(ckpt):
        stream = (
            spark.readStream.schema(DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(topic))
        )
        q = pipelines.neardup_gate_pipeline(
            stream, index_table, out_path, ckpt,
            threshold=0.5, bands=BANDS, trigger={"availableNow": True},
        )
        q.awaitTermination()

    run(str(tmp_path / "ck1"))
    assert {r.doc_id for r in spark.read.parquet(out_path).collect()} == {1}

    v_sigs = txn.current_version(index_table + "_sigs")
    run(str(tmp_path / "ck2"))  # full replay, fresh checkpoint
    assert {r.doc_id for r in spark.read.parquet(out_path).collect()} == {1}
    assert txn.current_version(index_table + "_sigs") == v_sigs
