"""Round-6 sixth-wave tests: the dedup threshold sweep, the MOSS
match step (winnowing overlap pairs), and the streaming
partial-overlap gate — hand fixtures + independent Python models +
the gate's replay-no-op and quote-reuse-detection guarantees."""

from __future__ import annotations

import hashlib
import itertools
import random

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from sparkstreaming_gmall_demo_spark.operators import neardup as nd_ops
from sparkstreaming_gmall_demo_spark.operators import text as text_ops
from sparkstreaming_gmall_demo_spark.streaming import pipelines, txn

DOC_SCHEMA = "doc_id long, text string"


def _df(spark, docs: dict[int, str]):
    return spark.createDataFrame(
        [(i, t) for i, t in docs.items()], DOC_SCHEMA
    )


# ---------------------------------------------------------------------------
# Jaccard threshold sweep
# ---------------------------------------------------------------------------
def _sweep_model(docs: dict[int, str], ts_bp: list[int]):
    sets = {i: set(t.split(" ")) for i, t in docs.items()}
    jac = {}
    for i, j in itertools.combinations(sorted(sets), 2):
        inter = len(sets[i] & sets[j])
        if inter:
            jac[(i, j)] = inter / (len(sets[i]) + len(sets[j]) - inter)
    out = []
    for t in sorted(set(ts_bp)):
        thr = t / 10000.0
        pairs = [p for p, v in jac.items() if v >= thr]
        docs_hit = {d for p in pairs for d in p}
        out.append((t, len(pairs), len(docs_hit)))
    return out


def test_threshold_sweep_matches_python_model(spark):
    rng = random.Random(11)
    docs = {
        i: " ".join(rng.choice("abcdefghij") for _ in range(rng.randint(4, 12)))
        for i in range(25)
    }
    ts = [5000, 6000, 7500, 9000, 10000]
    got = [
        (r.threshold_bp, r.n_pairs, r.n_dup_docs)
        for r in nd_ops.jaccard_threshold_sweep(_df(spark, docs), ts).collect()
    ]
    assert got == _sweep_model(docs, ts)


def test_threshold_sweep_monotone_and_consistent_with_pair_kernel(spark):
    rng = random.Random(23)
    docs = {
        i: " ".join(rng.choice("abcdef") for _ in range(rng.randint(3, 9)))
        for i in range(20)
    }
    ts = [6000, 8000, 9500]
    rows = nd_ops.jaccard_threshold_sweep(_df(spark, docs), ts).collect()
    # tightening the cutoff can only shrink both statistics
    for a, b in zip(rows, rows[1:]):
        assert a.threshold_bp < b.threshold_bp
        assert a.n_pairs >= b.n_pairs
        assert a.n_dup_docs >= b.n_dup_docs
    # each row agrees with an independent run of the declared pair
    # kernel at that exact threshold
    for r in rows:
        n = nd_ops.token_jaccard_pairs(
            _df(spark, docs), r.threshold_bp / 10000.0
        ).count()
        assert r.n_pairs == n, r.threshold_bp


def test_threshold_sweep_empty_and_all_dup(spark):
    # disjoint docs: zeros at every threshold; identical docs: one
    # pair and two docs at every threshold up to 10000
    rows = nd_ops.jaccard_threshold_sweep(
        _df(spark, {0: "a b", 1: "c d"}), [5000, 10000]
    ).collect()
    assert [(r.n_pairs, r.n_dup_docs) for r in rows] == [(0, 0), (0, 0)]
    rows = nd_ops.jaccard_threshold_sweep(
        _df(spark, {0: "a b c", 1: "a b c"}), [5000, 10000]
    ).collect()
    assert [(r.n_pairs, r.n_dup_docs) for r in rows] == [(1, 2), (1, 2)]


# ---------------------------------------------------------------------------
# Winnowing overlap pairs (MOSS match step)
# ---------------------------------------------------------------------------
def _winnow_fps(tokens: list[str], k: int, w: int) -> set[int]:
    grams = [" ".join(tokens[i : i + k]) for i in range(len(tokens) - k + 1)]
    keys = [
        int(hashlib.md5(g.encode()).hexdigest()[:10], 16) * 1048576 + i + 1
        for i, g in enumerate(grams)
    ]
    sel = set()
    for j in range(len(keys) - w + 1):
        sel.add(min(keys[j : j + w]))
    return {key // 1048576 for key in sel}


def _overlap_model(docs, k, w, min_shared, max_df):
    fps = {
        i: _winnow_fps(t.split(" "), k, w)
        for i, t in docs.items()
        if len(t.split(" ")) >= k + w - 1
    }
    df_cnt: dict[int, int] = {}
    for s in fps.values():
        for fp in s:
            df_cnt[fp] = df_cnt.get(fp, 0) + 1
    kept = {
        i: {fp for fp in s if df_cnt[fp] <= max_df} for i, s in fps.items()
    }
    out = []
    for i, j in itertools.combinations(sorted(kept), 2):
        shared = len(kept[i] & kept[j])
        if shared >= min_shared:
            out.append(
                (
                    i,
                    j,
                    shared,
                    shared * 10000 // min(len(kept[i]), len(kept[j])),
                )
            )
    return out


def test_overlap_pairs_match_python_model(spark):
    rng = random.Random(31)
    base = [f"t{n}" for n in range(12)]
    docs = {}
    for i in range(14):
        docs[i] = " ".join(rng.choice(base) for _ in range(rng.randint(7, 30)))
    got = [
        (r.i, r.j, r.shared_fps, r.overlap_bp)
        for r in text_ops.winnowing_overlap_pairs(
            _df(spark, docs), 4, 4, 1, 64
        ).collect()
    ]
    assert got == _overlap_model(docs, 4, 4, 1, 64)


def test_overlap_pairs_detect_quote_reuse(spark):
    # a 15-token run quoted inside otherwise-disjoint documents MUST
    # pair them (>= ceil((15-7+1)/w) = 3 shared fps), while the
    # whole-document token-set Jaccard stays far below any dedup
    # cutoff — the capability gap this operator exists to close.
    run = " ".join(f"q{n}" for n in range(15))
    doc_a = " ".join(f"a{n}" for n in range(40)) + " " + run
    doc_b = run + " " + " ".join(f"b{n}" for n in range(40))
    docs = {0: doc_a, 1: doc_b}
    rows = text_ops.winnowing_overlap_pairs(
        _df(spark, docs), 4, 4, 2, 64
    ).collect()
    assert len(rows) == 1 and (rows[0].i, rows[0].j) == (0, 1)
    assert rows[0].shared_fps >= 3
    # and exact Jaccard on the same pair is tiny (15 shared of ~95);
    # any positive threshold keeps every pair sharing a token
    jac = nd_ops.token_jaccard_pairs(_df(spark, docs), 1e-9).collect()
    assert all(r.jaccard < 0.2 for r in jac)


def test_overlap_pairs_ubiquity_rule_drops_boilerplate(spark):
    # the same 8-token banner on EVERY page: with max_df below the
    # corpus size the banner's fingerprints are dropped and no pair
    # survives; with max_df above it, everything pairs with
    # everything. (banner length w+k-1 + 1 -> guaranteed selected fp)
    banner = " ".join(f"c{n}" for n in range(8))
    docs = {
        i: banner + " " + " ".join(f"u{i}x{n}" for n in range(20))
        for i in range(6)
    }
    none = text_ops.winnowing_overlap_pairs(_df(spark, docs), 4, 4, 1, 5)
    assert none.count() == 0
    allp = text_ops.winnowing_overlap_pairs(_df(spark, docs), 4, 4, 1, 6)
    assert allp.count() == 15  # 6 choose 2


# ---------------------------------------------------------------------------
# Streaming partial-overlap gate
# ---------------------------------------------------------------------------
def _text(i: int) -> str:
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
    """c0: originals 0..9. c1: 100 = exact copy of doc 0 (rejected:
    shares every fingerprint), 101 = fresh (admitted), 102 = fresh
    text QUOTING a 15-token run of doc 1 (rejected: quote reuse),
    200/201 = the same new text twice (within-batch overlap
    component -> min id admitted), 300 = too short to fingerprint
    (no overlap evidence -> admitted)."""
    import os
    import time

    topic = tmp_path / "docs"
    topic.mkdir()
    _write_chunk(topic / "c0.parquet", [(i, _text(i)) for i in range(10)])
    quote = " ".join(f"w1x{j}" for j in range(15))
    fresh = " ".join(f"n{j}" for j in range(30))
    _write_chunk(
        topic / "c1.parquet",
        [
            (100, _text(0)),
            (101, fresh),
            (102, " ".join(f"z{j}" for j in range(20)) + " " + quote),
            (200, _text(77)),
            (201, _text(77)),
            (300, "a b c"),
        ],
    )
    # strictly increasing mtimes: the file source orders batches by
    # modification time, and same-tick writes would race c1 before c0
    # (the bench_streaming.write_chunked discipline)
    now = time.time()
    os.utime(topic / "c0.parquet", (now - 10, now - 10))
    os.utime(topic / "c1.parquet", (now, now))
    return topic


def _run(spark, topic, index_table, out_path, ckpt):
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(topic))
    )
    q = pipelines.overlap_gate_pipeline(
        stream, index_table, out_path, ckpt, trigger={"availableNow": True},
    )
    q.awaitTermination()


def test_overlap_gate_admits_and_rejects(spark, tmp_path):
    topic = _stage_topic(tmp_path)
    index_table = str(tmp_path / "ov_index")
    out_path = str(tmp_path / "admitted")
    _run(spark, topic, index_table, out_path, str(tmp_path / "ck"))

    admitted = {r.doc_id for r in spark.read.parquet(out_path).collect()}
    assert admitted == set(range(10)) | {101, 200, 300}

    # index holds exactly the fingerprintable admitted docs' fps
    idx = txn.snapshot(spark, index_table)
    assert {r.doc_id for r in idx.select("doc_id").distinct().collect()} == (
        set(range(10)) | {101, 200}
    )
    # and no two admitted docs overlap by >= min_shared fps
    survivors = spark.read.parquet(out_path)
    assert (
        text_ops.winnowing_overlap_pairs(survivors, 4, 4, 2, 64).count() == 0
    )


def test_overlap_gate_replay_is_noop(spark, tmp_path):
    topic = _stage_topic(tmp_path)
    index_table = str(tmp_path / "ov_index")
    out_path = str(tmp_path / "admitted")
    _run(spark, topic, index_table, out_path, str(tmp_path / "ck1"))

    want = sorted(r.doc_id for r in spark.read.parquet(out_path).collect())
    v = txn.current_version(index_table)

    # full replay from a fresh checkpoint: the probe anti-joins each
    # batch's own ids out of the index, so every sink no-ops
    _run(spark, topic, index_table, out_path, str(tmp_path / "ck2"))
    got = sorted(r.doc_id for r in spark.read.parquet(out_path).collect())
    assert got == want
    assert txn.current_version(index_table) == v


def test_overlap_gate_batch_twin(spark, tmp_path):
    """Driving overlap_gate_admit chunk-by-chunk from a batch loop
    produces the identical admitted set (the streaming sink IS this
    function)."""
    topic = _stage_topic(tmp_path)
    index_table = str(tmp_path / "ov_twin_index")
    chunks = sorted((tmp_path / "docs").glob("*.parquet"))
    admitted: set[int] = set()
    for c in chunks:
        batch = spark.read.schema(DOC_SCHEMA).parquet(str(c))
        out = pipelines.overlap_gate_admit(batch, index_table)
        admitted |= {r.doc_id for r in out.collect()}
        out.unpersist()
    assert admitted == set(range(10)) | {101, 200, 300}


def test_overlap_gate_oversized_doc_routed_not_wedged(spark, tmp_path, monkeypatch):
    """Round-6 ADVICE (medium): a document with > POS_SPACE - 1 k-grams
    trips winnowing's deterministic raise_error; inside foreachBatch
    that wedges the checkpoint permanently (replay re-fails on the same
    content). The gate must route such docs around the fingerprint pass
    — no-evidence admission, like short docs — never into raise_error.

    POS_SPACE is monkeypatched down to 64 so "oversized" is a 200-token
    doc rather than a ~1M-token one; both winnowing's raise threshold
    and the gate's guard read the module attribute at call time, so the
    two stay consistent under the patch."""
    monkeypatch.setattr(text_ops, "POS_SPACE", 64)
    index_table = str(tmp_path / "ov_big_index")
    big = " ".join(f"b{j}" for j in range(200))  # 197 k-grams > 63
    batch = _df(spark, {1: _text(1), 2: big, 3: _text(3)})

    # sanity: the raw fingerprint pass on the oversized doc DOES raise
    # under the patched space — the wedge the gate must avoid
    import pytest

    with pytest.raises(Exception, match="winnowing"):
        text_ops.winnowing_fingerprints(
            batch.filter(F.col("doc_id") == 2), 4, 4
        ).collect()

    out = pipelines.overlap_gate_admit(batch, index_table)
    assert {r.doc_id for r in out.collect()} == {1, 2, 3}
    out.unpersist()
    # the oversized doc was admitted WITHOUT contributing fingerprints
    idx = txn.snapshot(spark, index_table)
    assert {r.doc_id for r in idx.select("doc_id").distinct().collect()} == {1, 3}

    # and a replay of the same batch still terminates (no wedge) and
    # no-ops the index
    v = txn.current_version(index_table)
    out2 = pipelines.overlap_gate_admit(batch, index_table)
    assert {r.doc_id for r in out2.collect()} == {1, 2, 3}
    out2.unpersist()
    assert txn.current_version(index_table) == v


# ---------------------------------------------------------------------------
# Winnowing fingerprint index (MOSS serve path)
# ---------------------------------------------------------------------------
def test_winnowing_index_probe_equals_inmemory_matches(spark, tmp_path):
    # corpus: distinct docs + one exact pair + one quote-reuse pair
    run = " ".join(f"s{n}" for n in range(15))
    docs = {i: _text(i) for i in range(8)}
    docs[8] = docs[0]                               # exact twin of 0
    docs[9] = run + " " + " ".join(f"y{n}" for n in range(25))
    docs[10] = " ".join(f"z{n}" for n in range(25)) + " " + run
    df = _df(spark, docs)

    qfps = [
        r.fp
        for r in text_ops.winnowing_fingerprints(
            df.filter(F.col("doc_id") == 9), 4, 4
        ).select("fp").distinct().collect()
    ]
    # in-memory truth from the pure model
    model = {
        i: _winnow_fps(t.split(" "), 4, 4)
        for i, t in docs.items()
        if len(t.split(" ")) >= 7
    }
    want = sorted(
        (
            (-len(model[i] & set(qfps)), i)
            for i in model
            if i != 9 and model[i] & set(qfps)
        )
    )
    want = [(i, -neg) for neg, i in want]

    path = str(tmp_path / "widx")
    text_ops.winnowing_write_index(df, path, 4, 4)
    postings, nb = text_ops.winnowing_read_index(spark, path)
    got = [
        (r.doc_id, r.shared_fps)
        for r in text_ops.winnowing_index_probe(postings, qfps, n_buckets=nb)
        .filter(F.col("doc_id") != 9)
        .collect()
    ]
    assert got == want
    # doc 10 (same quoted run, different offset) must be a hit
    assert 10 in {d for d, _ in got}


def test_winnowing_index_probe_partition_prunes(spark, tmp_path):
    """The probe must scan ONLY the query fingerprints' fb= buckets —
    PartitionFilters on the stored layout (driver-side fp % n_buckets
    literals, the bm25index discipline)."""
    docs = {i: _text(i) for i in range(12)}
    df = _df(spark, docs)
    path = str(tmp_path / "widx2")
    text_ops.winnowing_write_index(df, path, 4, 4)
    postings, nb = text_ops.winnowing_read_index(spark, path)
    qfps = [
        r.fp
        for r in text_ops.winnowing_fingerprints(
            df.filter(F.col("doc_id") == 3), 4, 4
        ).select("fp").distinct().collect()
    ]
    probe = text_ops.winnowing_index_probe(postings, qfps, n_buckets=nb)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters")[1][:160]
    assert "fb" in pf and ("IN (" in pf.upper() or "in (" in pf), pf


def test_winnowing_index_probe_empty_query(spark, tmp_path):
    df = _df(spark, {0: _text(0)})
    path = str(tmp_path / "widx3")
    text_ops.winnowing_write_index(df, path, 4, 4)
    postings, nb = text_ops.winnowing_read_index(spark, path)
    out = text_ops.winnowing_index_probe(postings, [], n_buckets=nb)
    assert out.columns == ["doc_id", "shared_fps"]
    assert out.count() == 0


def test_winnowing_pos_overflow_raises(spark):
    """A document beyond 2^20 - 1 k-grams would overflow the packed
    position into the hash field and silently corrupt every
    fingerprint — the data path must RAISE instead (callers chunk
    long documents first)."""
    import pytest

    n = (1 << 20) + 4  # k-grams = n - k + 1 > 2^20 - 1
    big = " ".join(f"t{i & 1023}" for i in range(n))
    df = _df(spark, {0: big})
    with pytest.raises(Exception, match="winnowing"):
        text_ops.winnowing_fingerprints(df, 4, 4).count()


def test_winnowing_index_meta_rides_with_layout(spark, tmp_path):
    """The reader returns the WRITER's n_buckets: probing a 32-bucket
    layout with the default 16 would silently exclude every posting
    with fb >= 16 (matches drop, nothing errors)."""
    docs = {i: _text(i) for i in range(6)}
    docs[6] = docs[0]  # one exact twin -> guaranteed hit
    df = _df(spark, docs)
    path = str(tmp_path / "widx32")
    text_ops.winnowing_write_index(df, path, 4, 4, n_buckets=32)
    postings, nb = text_ops.winnowing_read_index(spark, path)
    assert nb == 32
    qfps = [
        r.fp
        for r in text_ops.winnowing_fingerprints(
            df.filter(F.col("doc_id") == 6), 4, 4
        ).select("fp").distinct().collect()
    ]
    hits = (
        text_ops.winnowing_index_probe(postings, qfps, n_buckets=nb)
        .filter(F.col("doc_id") != 6)
        .collect()
    )
    assert [r.doc_id for r in hits] == [0]


def test_overlap_span_anchors_locate_the_quote(spark):
    """The highlight step: anchors for a planted 15-token quote sit
    at a CONSTANT offset delta inside the copied run, and match the
    pure Python model exactly."""
    run = " ".join(f"q{n}" for n in range(15))
    doc_a = " ".join(f"a{n}" for n in range(20)) + " " + run
    doc_b = run + " " + " ".join(f"b{n}" for n in range(20))
    df = _df(spark, {0: doc_a, 1: doc_b})
    got = [
        (r.fp, r.pos_i, r.pos_j)
        for r in text_ops.overlap_span_anchors(df, 0, 1, 4, 4).collect()
    ]

    def model_pf(tokens):
        grams = [" ".join(tokens[i:i + 4]) for i in range(len(tokens) - 3)]
        keys = [
            int(hashlib.md5(g.encode()).hexdigest()[:10], 16) * 1048576 + i + 1
            for i, g in enumerate(grams)
        ]
        sel = set()
        for j in range(len(keys) - 3):
            sel.add(min(keys[j:j + 4]))
        out = {}
        for key in sel:
            fp, pos = key // 1048576, key % 1048576
            out[fp] = min(out.get(fp, 10**9), pos)
        return out

    mi, mj = model_pf(doc_a.split(" ")), model_pf(doc_b.split(" "))
    want = sorted(
        ((fp, mi[fp], mj[fp]) for fp in mi.keys() & mj.keys()),
        key=lambda t: (t[1], t[0]),
    )
    assert got == want and got, "anchors must exist and match the model"
    # interior anchors of the copied run: doc_a run starts at token 21
    # (1-based gram pos 21), doc_b at 1 -> delta = 20 for every anchor
    # whose gram lies fully inside the run on both sides
    deltas = {pi - pj for _, pi, pj in got if pj <= 15 - 4 + 1 and pi >= 21}
    assert deltas == {20}, got
