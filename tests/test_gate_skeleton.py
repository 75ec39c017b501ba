"""The foreachBatch gate skeleton (streaming/pipelines.py:_gate_pipeline).

Crash-restart matrix: every indexed gate, with TTL on, is killed once at
three seams of its write order and restarted on the same checkpoint; the
admitted ids and the index rows must equal an uninterrupted run's. The
seams are after the gate's first write (the doc append for the novelty
gate, the index commit for the fuzzy gates), after its second write, and
inside the TTL vacuum (between the near-dup gate's ``_sigs`` and
``_bands`` vacuums; before ``vacuum_orphans`` for the others).

Entry checks: bad thresholds, TTLs and cadences raise ``ValueError``
naming the parameter before any Spark job runs.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import StreamingQueryException

from sparkstreaming_gmall_demo_spark.operators import components as comp_ops
from sparkstreaming_gmall_demo_spark.operators import neardup as nd_ops
from sparkstreaming_gmall_demo_spark.streaming import pipelines, txn

TTL = 1  # a row admitted at batch a suppresses batch a+1 only
TRIGGER = {"availableNow": True}
CENTROIDS = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]


def _text(i: int) -> str:
    return " ".join(f"w{i}x{j}" for j in range(30))


def _vec(i: int) -> list:
    return [1.0 if d == i else 0.0 for d in range(4)]


# Three tiny batches over contents 0, 1, 2 (ids -> content). Batch 1
# repeats live content 0 (suppressed); batch 2 repeats content 0, whose
# batch-0 stamp has expired (re-admitted), and content 2, still live
# from batch 1 (suppressed). The vacuum at batch 2 drops batch-0 rows.
BATCHES = [[(0, 0), (1, 1)], [(2, 0), (3, 2)], [(4, 0), (5, 2)]]
ADMITTED = {0, 1, 3, 4}


def _stage(topic, vectors: bool) -> None:
    topic.mkdir()
    base = time.time() - 3600
    for i, rows in enumerate(BATCHES):
        ids = pa.array([r[0] for r in rows], pa.int64())
        if vectors:
            table = pa.table({"vec_id": ids, "embedding": pa.array(
                [_vec(r[1]) for r in rows], pa.list_(pa.float64()))})
        else:
            table = pa.table({"doc_id": ids, "text": pa.array(
                [_text(r[1]) for r in rows], pa.string())})
        path = str(topic / f"c{i}.parquet")
        pq.write_table(table, path)
        os.utime(path, (base + 60 * i, base + 60 * i))


# gate -> (id column, index tables under the index root, pipeline factory)
GATES = {
    "novelty": ("doc_id", [""], lambda stream, idx, out, ck:
                pipelines.novelty_gate_pipeline(
                    stream, idx, out, ck, trigger=TRIGGER,
                    ttl_batches=TTL, compact_every=1)),
    "neardup": ("doc_id", ["_sigs", "_bands"], lambda stream, idx, out, ck:
                pipelines.neardup_gate_pipeline(
                    stream, idx, out, ck, trigger=TRIGGER,
                    ttl_batches=TTL, compact_every=1)),
    "overlap": ("doc_id", [""], lambda stream, idx, out, ck:
                pipelines.overlap_gate_pipeline(
                    stream, idx, out, ck, trigger=TRIGGER,
                    ttl_batches=TTL, compact_every=1)),
    "semantic": ("vec_id", [""], lambda stream, idx, out, ck:
                 pipelines.semantic_gate_pipeline(
                     stream, idx, out, ck, CENTROIDS, trigger=TRIGGER,
                     ttl_batches=TTL, compact_every=1)),
}


class _Crash(RuntimeError):
    """The injected failure: raised once, at one seam of one batch."""


def _run(spark, root, gate: str) -> None:
    id_col, _suffixes, make = GATES[gate]
    schema = ("vec_id long, embedding array<double>" if id_col == "vec_id"
              else "doc_id long, text string")
    stream = (spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
              .parquet(str(root / "topic")))
    make(stream, str(root / "idx"), str(root / "out"), str(root / "ck")).awaitTermination()


def _result(spark, root, gate: str):
    id_col, suffixes, _make = GATES[gate]
    admitted = {r[0] for r in spark.read.parquet(str(root / "out")).select(id_col).collect()}
    index = {
        s: sorted(tuple(r) for r in txn.snapshot(spark, str(root / "idx") + s).collect())
        for s in suffixes
    }
    return admitted, index


@pytest.fixture(scope="module")
def reference(spark, tmp_path_factory):
    """Each gate's uninterrupted run, computed once per module."""
    results: dict = {}

    def get(gate: str):
        if gate not in results:
            root = tmp_path_factory.mktemp(f"{gate}_reference")
            _stage(root / "topic", vectors=gate == "semantic")
            _run(spark, root, gate)
            results[gate] = _result(spark, root, gate)
        return results[gate]

    return get


def _crash_once(monkeypatch, module, name, fires, after: bool) -> dict:
    """Wrap ``module.name`` so that the first call for which ``fires``
    holds raises ``_Crash`` — after the real call when ``after``, in
    place of it otherwise. Later calls pass straight through."""
    real = getattr(module, name)
    state = {"fired": False}

    def wrapper(*args, **kwargs):
        hit = not state["fired"] and fires(*args, **kwargs)
        if hit and not after:
            state["fired"] = True
            raise _Crash(name)
        out = real(*args, **kwargs)
        if hit:
            state["fired"] = True
            raise _Crash(name)
        return out

    monkeypatch.setattr(module, name, wrapper)
    return state


def _doc_append_at(k):
    return lambda *a, **kw: kw.get("batch_id") == k


def _index_commit_at(k):
    # txn.append_new(rows, table, batch_id, ...); the near-dup gate's
    # first index write is its _sigs commit
    return lambda rows, table, batch_id, *a, **kw: (
        batch_id == k and not table.endswith("_bands")
    )


def _inject(monkeypatch, gate: str, seam: str) -> dict:
    doc_first = gate == "novelty"
    if seam in ("first", "second"):
        doc_seam = (seam == "first") == doc_first
        if doc_seam:
            return _crash_once(monkeypatch, pipelines, "idempotent_append",
                               _doc_append_at(1), after=True)
        return _crash_once(monkeypatch, txn, "append_new",
                           _index_commit_at(1), after=True)
    if gate == "neardup":  # between the _sigs and _bands vacuums
        return _crash_once(
            monkeypatch, pipelines, "_ttl_vacuum",
            lambda spark, table, batch_id, *a, **kw: (
                batch_id == 2 and table.endswith("_bands")),
            after=False,
        )
    # inside _ttl_vacuum at batch 2: after its CAS overwrite, before the
    # orphan sweep (the sweep is the only vacuum_orphans caller here)
    calls = {"n": 0}

    def third_vacuum(*a, **kw):
        calls["n"] += 1
        return calls["n"] == 3  # compact_every=1: one vacuum per batch

    return _crash_once(monkeypatch, txn, "vacuum_orphans", third_vacuum, after=False)


@pytest.mark.parametrize("seam", ["first", "second", "vacuum"])
@pytest.mark.parametrize("gate", list(GATES))
def test_gate_crash_restart_matches_uninterrupted_run(
    spark, tmp_path, reference, monkeypatch, gate, seam
):
    want = reference(gate)
    assert want[0] == ADMITTED
    _stage(tmp_path / "topic", vectors=gate == "semantic")
    with monkeypatch.context() as m:
        state = _inject(m, gate, seam)
        with pytest.raises(StreamingQueryException):
            _run(spark, tmp_path, gate)
        assert state["fired"], "the injected crash did not fire"
    # restart on the same checkpoint: the crashed batch replays
    _run(spark, tmp_path, gate)
    assert _result(spark, tmp_path, gate) == want


# ---------------------------------------------------------------------------
# Entry checks: ValueError naming the parameter, before any Spark job


@pytest.mark.parametrize(
    "call, param",
    [
        (lambda: nd_ops.array_jaccard_pairs(None, 0.0), "threshold"),
        (lambda: nd_ops.array_jaccard_pairs(None, -0.5), "threshold"),
        (lambda: nd_ops.array_containment_pairs(None, 0.0), "threshold"),
        (lambda: nd_ops.array_containment_pairs(None, -1.0), "threshold"),
        (lambda: comp_ops.connected_components(None, max_iter=0), "max_iter"),
        (lambda: pipelines.novelty_gate_pipeline(
            None, "i", "o", "c", ttl_batches=0), "ttl_batches"),
        (lambda: pipelines.overlap_gate_pipeline(
            None, "i", "o", "c", ttl_batches=-1), "ttl_batches"),
        (lambda: pipelines.neardup_gate_admit(
            None, "s", "b", ttl_batches=0, batch_id=3), "ttl_batches"),
        (lambda: pipelines.neardup_gate_pipeline(
            None, "i", "o", "c", ttl_batches=2, compact_every=-2), "compact_every"),
        (lambda: pipelines.semantic_gate_pipeline(
            None, "i", "o", "c", CENTROIDS, compact_every=-1), "compact_every"),
        (lambda: pipelines.sketch_pipeline(None, "t", "c", compact_every=-2), "compact_every"),
    ],
)
def test_entry_checks_reject_bad_parameters(call, param):
    with pytest.raises(ValueError, match=param):
        call()
