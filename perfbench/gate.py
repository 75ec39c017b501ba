"""``gate`` workload: closed-loop catch-up through the ingest gates.

Setup generates a mostly-novel document stream from the seed (with
near-duplicate and exact copies planted next to their sources) and
stages it as a few large parquet chunks. The timed loop drains the
whole backlog through the novelty, near-dup and overlap gate pipelines,
one after another in a seeded order, each with fresh index tables, one
chunk per trigger (``availableNow``) and a one-batch TTL window with a
vacuum every second batch — until the run's seconds are spent (whole
rounds only). An operation is one micro-batch; its wall is read from
outside, from the checkpoint's ``offsets/<batch>`` and
``commits/<batch>`` mtimes. Every drain's admitted doc ids must equal
the gate's one-shot batch admit over the whole stream.
"""

from __future__ import annotations

import glob
import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from common import Ctx, now, quantile
import datagen

N_BASE = 600
N_CHUNKS = 3
TTL_BATCHES = 1
COMPACT_EVERY = 2
GATES = ("novelty", "neardup", "overlap")
DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def stage(docs: list[dict], in_dir: str, n_chunks: int) -> None:
    os.makedirs(in_dir)
    for i, chunk in enumerate(datagen.gate_chunks(docs, n_chunks)):
        path = os.path.join(in_dir, f"chunk-{i:03d}.parquet")
        pq.write_table(pa.Table.from_pylist(chunk), path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))  # listing order = doc order


def drain(ctx: Ctx, gate: str, in_dir: str, root: str) -> None:
    """Run one gate pipeline over every staged chunk, one per trigger."""
    from sparkstreaming_gmall_demo_spark.streaming import pipelines

    docs = (ctx.spark.readStream.schema(DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1).parquet(in_dir))
    args = dict(trigger={"availableNow": True}, ttl_batches=TTL_BATCHES,
                compact_every=COMPACT_EVERY)
    out, ck, index = (os.path.join(root, x) for x in ("out", "ck", "index"))
    if gate == "novelty":
        q = pipelines.novelty_gate_pipeline(docs, index, out, ck, **args)
    elif gate == "neardup":
        q = pipelines.neardup_gate_pipeline(docs, index, out, ck, **args)
    else:
        q = pipelines.overlap_gate_pipeline(docs, index, out, ck, **args)
    q.awaitTermination()


def batch_walls(ck: str) -> list[float]:
    walls = []
    for p in glob.glob(os.path.join(ck, "commits", "*")):
        b = os.path.basename(p)
        if b.isdigit():
            walls.append(os.stat(p).st_mtime - os.stat(os.path.join(ck, "offsets", b)).st_mtime)
    return walls


def admitted(ctx: Ctx, out: str) -> set:
    if not glob.glob(os.path.join(out, "*.parquet")):
        return set()
    return {r[0] for r in ctx.spark.read.parquet(out).select("doc_id").collect()}


def one_shot(ctx: Ctx, docs: list[dict], in_dir: str) -> dict[str, set]:
    """Each gate's admit over the whole stream as a single batch."""
    from sparkstreaming_gmall_demo_spark.streaming import pipelines

    first: dict[str, int] = {}
    for d in docs:  # novelty: lowest doc_id per md5(lower(text))
        fp = hashlib.md5(d["text"].lower().encode()).hexdigest()
        first[fp] = min(first.get(fp, d["doc_id"]), d["doc_id"])
    out = {"novelty": set(first.values())}
    whole = ctx.spark.read.schema(DOC_SCHEMA).parquet(in_dir)
    nd = pipelines.neardup_gate_admit(whole, ctx.path("oneshot", "sigs"), ctx.path("oneshot", "bands"))
    out["neardup"] = {r[0] for r in nd.select("doc_id").collect()}
    nd.unpersist()
    ov = pipelines.overlap_gate_admit(whole, ctx.path("oneshot", "overlap"))
    out["overlap"] = {r[0] for r in ov.select("doc_id").collect()}
    ov.unpersist()
    return out


def run(ctx: Ctx) -> dict:
    docs = datagen.gate_docs(ctx.seed, N_BASE)
    in_dir = ctx.path("in")
    stage(docs, in_dir, N_CHUNKS)
    warm_docs = datagen.gate_docs(ctx.seed + 1, 60)
    warm_dir = ctx.path("warm-in")
    stage(warm_docs, warm_dir, 2)
    ctx.start_session()
    for gate in GATES:  # warm-up: same code paths, small stream
        drain(ctx, gate, warm_dir, ctx.path("warm", gate))
    t_setup = now()

    rng = random.Random(ctx.seed)
    drains = []  # (gate, root, wall)
    deadline = t_setup + ctx.seconds
    rounds = 0
    while rounds == 0 or now() < deadline:
        order = list(GATES)
        rng.shuffle(order)
        for gate in order:
            root = ctx.path("runs", f"{rounds}-{gate}")
            t = now()
            if ctx.tracer is None:
                drain(ctx, gate, in_dir, root)
            else:
                with ctx.tracer.span("op", "client", tag=gate):
                    drain(ctx, gate, in_dir, root)
            drains.append((gate, root, now() - t))
        rounds += 1

    want = one_shot(ctx, docs, in_dir)
    walls = []
    for gate, root, _wall in drains:
        got = admitted(ctx, os.path.join(root, "out"))
        ctx.check(got == want[gate],
                  f"{gate}: admitted {len(got)} vs one-shot {len(want[gate])}; "
                  f"extra {sorted(got - want[gate])[:5]} missing {sorted(want[gate] - got)[:5]}")
        walls += batch_walls(os.path.join(root, "ck"))
    drain_s = sum(w for _g, _r, w in drains)
    return {
        "setup_end": t_setup,
        "p50_ms": quantile(walls, 0.5) * 1000.0,
        "p90_ms": quantile(walls, 0.9) * 1000.0,
        "work_per_s": len(docs) * len(drains) / drain_s,
        "ops": len(walls),
        "layer": {"rounds": rounds, "n_docs": len(docs),
                  "gate_walls": {g: [w for g2, _r, w in drains if g2 == g] for g in GATES}},
    }
