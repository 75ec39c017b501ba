"""The ``--trace 1`` run: install the spans, run the workload, stop
Spark, then turn spans, streaming progress and the event log into the
per-layer metrics.

Every traced run of a workload in ``BENCHMARK.json`` prints the same
names (``PER_LAYER``); a layer the workload does not reach reads 0 --
that is the prediction recorded for it in ``workloads.json``. Per-op
figures divide by the number of timed operations (dashboard: requests,
registry: entry executions), so runs of different lengths compare.
The ``ingest`` and ``gate`` workloads, run by hand, add ``EXTRA``.
"""

from __future__ import annotations

import datetime as dt
import math
import os

from common import metric, peak_rss_mb, quantile, median
from spans import EventLog, Tracer, union_len, span_jobs, wait_for_log

ENDPOINTS = ("realtime_total", "realtime_hours", "sale_detail", "search_documents")
# the pipelines the dashboard's serving build runs, by the names used here
BUILD_QUERIES = ("dau", "gmv", "sale_detail", "novelty")
STATEFUL = ("dau", "sale_detail")
SPARK_COUNTERS = ("jobs", "stages", "single_task_stages", "tasks", "task_ms", "cpu_ms",
                  "gc_ms", "shuffle_bytes", "spill_bytes", "result_bytes")

# name -> unit
PER_LAYER = {
    "session.start_ms": "ms",
    "load.late_p90_ms": "ms",
    "sources.stage_ms": "ms",
    "sources.open_p50_ms": "ms",
    "sources.serving_files": "count",
    "sources.offsets_p50_ms": "ms",
    **{f"serving.{e}.p50_ms": "ms" for e in ENDPOINTS},
    **{f"serving.{e}.jobs": "count" for e in ENDPOINTS},
    "serving.queue_p90_ms": "ms",
    "serving.task_ms": "ms",
    "serving.driver_only_share": "ratio",
    "serving.self_share": "ratio",
    **{f"pipelines.{q}.{m}": u for q in BUILD_QUERIES[:3] for m, u in (
        ("triggers", "count"), ("plan_p50_ms", "ms"), ("add_batch_p50_ms", "ms"),
        ("log_commit_p50_ms", "ms"), ("catchup_rows_per_s", "rows/s"))},
    **{f"pipelines.{q}.{m}": u for q in STATEFUL for m, u in (
        ("state_rows", "count"), ("state_commit_p50_ms", "ms"))},
    "pipelines.driver_only_share": "ratio",
    "pipelines.late_rows_dropped": "count",
    "sinks.append_p50_ms": "ms",
    "sinks.append_share_of_batch": "ratio",
    "txn.snapshot_p50_ms": "ms",
    "txn.append_p50_ms": "ms",
    "txn.commits": "count",
    "txn.vacuum_ms": "ms",
    "txn.index_rows": "count",
    "txn.index_files": "count",
    "gate.novelty.docs_per_s": "docs/s",
    "gate.novelty.admit_p50_ms": "ms",
    "gate.novelty.admit_ratio": "ratio",
    "gate.novelty.jobs_per_batch": "count",
    "plans.core_s": "s",
    "plans.ext_s": "s",
    "plans.geomean_ms": "ms",
    "plans.build_ms": "ms",
    "plans.build_jobs": "count",
    **{f"plans.{k}": ("ms" if k.endswith("_ms") else "bytes" if k.endswith("_bytes") else "count")
       for k in SPARK_COUNTERS},
    "plans.driver_only_ms": "ms",
    "plans.self_share": "ratio",
    "traced.setup_s": "s",
    "traced.peak_rss_mb": "MB",
    "traced.p50_ms": "ms",
    "traced.p90_ms": "ms",
    "traced.work_per_s": "1/s",
}


QUERIES = ("dau", "alert", "gmv", "user_dim", "sale_detail")
# reported only by the workloads kept out of BENCHMARK.json
EXTRA = {
    "ingest": {
        **{f"pipelines.{q}.{m}": u for q in QUERIES for m, u in (
            ("triggers", "count"), ("plan_p50_ms", "ms"), ("add_batch_p50_ms", "ms"),
            ("log_commit_p50_ms", "ms"), ("state_rows", "count"))},
        "pipelines.late_rows_dropped": "count",
        "pipelines.restarts": "count",
        "sources.offsets_p50_ms": "ms",
        "sinks.append_p50_ms": "ms",
        "sinks.append_share_of_batch": "ratio",
        "sinks.dim_merge_p50_ms": "ms",
    },
    "gate": {
        "sinks.append_p50_ms": "ms",
        "txn.snapshot_p50_ms": "ms",
        "txn.append_p50_ms": "ms",
        "txn.overwrite_p50_ms": "ms",
        "txn.commits_per_op": "count",
        "txn.vacuum_orphans_ms_per_op": "ms",
        "gate.neardup.admit_p50_ms": "ms",
        "gate.overlap.admit_p50_ms": "ms",
        **{f"gate.{g}.docs_per_s": "1/s" for g in ("novelty", "neardup", "overlap")},
    },
}


def install(tracer: Tracer) -> None:
    """Wrap the package's public functions at the names callers use."""
    from sparkstreaming_gmall_demo_spark import serving
    from sparkstreaming_gmall_demo_spark.plans import extensions, registry
    from sparkstreaming_gmall_demo_spark.sources import fixtures
    from sparkstreaming_gmall_demo_spark.streaming import pipelines, sinks, txn

    for name in ENDPOINTS + ("realtime_hours_frame",):
        tracer.wrap(serving, name, "serving")
    for mod in (fixtures, registry, extensions):
        tracer.wrap(mod, "load_table", "sources")
    for mod in (sinks, pipelines):
        for name in ("idempotent_append", "merge_last_write_wins"):
            tracer.wrap(mod, name, "sinks")
    for name in ("snapshot", "append_new", "merge_keyed", "overwrite", "vacuum_orphans"):
        tracer.wrap(txn, name, "txn")
    for name in ("neardup_gate_admit", "overlap_gate_admit"):
        tracer.wrap(pipelines, name, "gate")
    tracer.listen()


def traced_run(ctx, module) -> dict:
    import common

    ctx.on_session = lambda spark: _start_tracing(ctx, spark)
    result = module.run(ctx)
    rss = peak_rss_mb([os.getpid(), ctx.jvm_pid()])
    tracer = ctx.tracer
    tracer.close()
    ctx.stop()
    wait_for_log(ctx.path("eventlog"))
    log = EventLog(ctx.path("eventlog"))
    values = layer_metrics(ctx, tracer, log, result)
    values.update(build_metrics(ctx, tracer, log, result))
    values.update({
        "traced.setup_s": result["setup_end"] - common.T0,
        "traced.peak_rss_mb": rss,
        "traced.p50_ms": result["p50_ms"],
        "traced.p90_ms": result["p90_ms"],
        "traced.work_per_s": result["work_per_s"],
    })
    if ctx.args.workload in EXTRA:
        values.update(extra_metrics(tracer, result))
        names = {k: u for k, u in PER_LAYER.items()
                 if k.startswith(("session.", "load.", "sources.stage", "traced."))}
        names.update(EXTRA[ctx.args.workload])
    else:
        names = PER_LAYER
    return {name: metric(values.get(name, 0.0), unit) for name, unit in names.items()}


def _start_tracing(ctx, spark) -> None:
    ctx.tracer = Tracer(spark)
    install(ctx.tracer)


def _ms(s: dict) -> float:
    return (s["end"] - s["start"]) * 1000.0


def _self_in(tracer: Tracer, ops: list[dict], layer: str) -> float:
    """Self time (ms) of the given layer's spans under the ops."""
    ids = tracer.descendants(s["id"] for s in ops)
    spans = [s for s in tracer.spans if s["id"] in ids and s["layer"] == layer and s["end"]]
    return tracer.self_ms(spans)


def layer_metrics(ctx, tracer: Tracer, log: EventLog, result: dict) -> dict:
    """Session, sources and the per-op layers: serving (dashboard
    requests) and plans (registry entries)."""
    lay = result["layer"]
    ops = tracer.by_name("op")
    n = max(1, len(ops))
    op_ms = sum(_ms(s) for s in ops) or 1.0
    out = {
        "session.start_ms": ctx.session_start_ms,
        "sources.stage_ms": ctx.stage_ms,
        "load.late_p90_ms": lay.get("load.late_p90_ms", 0.0),
        "sources.serving_files": lay.get("sources.serving_files", 0),
    }
    if not ops:
        return out
    ids = tracer.descendants(s["id"] for s in ops)
    under = [s for s in tracer.spans if s["id"] in ids and s["end"]]
    tot = log.totals(span_jobs(log, tracer, ops))
    driver_only = log.driver_only_ms(ops)
    if ctx.args.workload == "dashboard":
        per_op_open = []
        for op in ops:
            kids = tracer.descendants([op["id"]])
            per_op_open.append(sum(_ms(s) for s in under
                                   if s["id"] in kids and s["layer"] == "sources"))
        out["sources.open_p50_ms"] = median(per_op_open)
        for e in ENDPOINTS:
            calls = [s for s in under if s["name"] == e]
            out[f"serving.{e}.p50_ms"] = median([_ms(s) for s in calls])
            if calls:
                out[f"serving.{e}.jobs"] = len(span_jobs(log, tracer, calls)) / len(calls)
        if lay.get("queue"):
            out["serving.queue_p90_ms"] = quantile(lay["queue"], 0.9) * 1000.0
        out["serving.task_ms"] = tot["task_ms"] / n
        out["serving.driver_only_share"] = driver_only / op_ms
        out["serving.self_share"] = _self_in(tracer, ops, "serving") / op_ms
    elif ctx.args.workload == "registry":
        for k in SPARK_COUNTERS:
            out[f"plans.{k}"] = tot[k] / n
        out["plans.driver_only_ms"] = driver_only / n
        builds = [s for s in under if s["name"] == "build" and s["layer"] == "plans"]
        out["plans.build_ms"] = median([_ms(s) for s in builds])
        out["plans.build_jobs"] = len(span_jobs(log, tracer, builds)) / n
        out["plans.self_share"] = _self_in(tracer, ops, "plans") / op_ms
        walls = lay["walls"]
        for family, key in (("q", "plans.core_s"), ("ext_", "plans.ext_s")):
            names = [k for k in walls if k.startswith(family) and (family != "q" or k[1].isdigit())]
            per_pass = [sum(walls[k][i] for k in names) for i in range(lay["passes"])]
            out[key] = median(per_pass)
        out["plans.geomean_ms"] = 1000.0 * math.exp(
            sum(math.log(median(ws)) for ws in walls.values()) / len(walls))
    return out


def _epoch(ts: str) -> float:
    """A progress event's ISO timestamp (UTC, trailing Z) in seconds."""
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _phases(q: str, ps: list[dict]) -> dict:
    """Trigger phases of one query's progress events (batches that read rows)."""
    d = [p.get("durationMs", {}) for p in ps]
    return {
        f"pipelines.{q}.triggers": len(ps),
        f"pipelines.{q}.plan_p50_ms": median([x.get("queryPlanning", 0) for x in d]),
        f"pipelines.{q}.add_batch_p50_ms": median([x.get("addBatch", 0) for x in d]),
        f"pipelines.{q}.log_commit_p50_ms": median(
            [x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d]),
        f"pipelines.{q}.state_rows": max(
            [sum(o.get("numRowsTotal", 0) for o in p.get("stateOperators", [])) for p in ps] or [0]),
    }


def build_metrics(ctx, tracer: Tracer, log: EventLog, result: dict) -> dict:
    """Pipelines, sinks, txn and the novelty gate, from the streaming
    queries that built the dashboard's serving tables."""
    names = getattr(ctx, "query_ids", {})
    if not names:
        return {}
    out: dict = {}
    batches = {q: [p for p in tracer.progress if names.get(p.get("id")) == q
                   and p.get("numInputRows", 0) > 0] for q in BUILD_QUERIES}
    trigger_ms = 0.0
    driver_ms = 0.0
    for q in BUILD_QUERIES:
        ps = batches[q]
        d = [p.get("durationMs", {}) for p in ps]
        rows = sum(p.get("numInputRows", 0) for p in ps)
        busy = sum(x.get("triggerExecution", 0) for x in d)
        trigger_ms += busy
        qid = next(k for k, v in names.items() if v == q)
        tasks = [(t["launch"], t["finish"]) for t in log.tasks
                 if log.jobs.get(t["job"], {}).get("query") == qid]
        for p, x in zip(ps, d):
            lo = _epoch(p["timestamp"])
            hi = lo + x.get("triggerExecution", 0) / 1000.0
            driver_ms += (hi - lo - union_len(tasks, lo, hi)) * 1000.0
        if q == "novelty":
            out["gate.novelty.docs_per_s"] = rows / (busy / 1000.0) if busy else 0.0
            out["gate.novelty.admit_p50_ms"] = median([x.get("addBatch", 0) for x in d])
            jobs = log.jobs_where(lambda j, qid=qid: j["query"] == qid)
            out["gate.novelty.jobs_per_batch"] = len(jobs) / max(1, len(ps))
            continue
        out.update(_phases(q, ps))
        out[f"pipelines.{q}.catchup_rows_per_s"] = rows / (busy / 1000.0) if busy else 0.0
        if q in STATEFUL:
            out[f"pipelines.{q}.state_commit_p50_ms"] = median(
                [sum(o.get("commitTimeMs", 0) for o in p.get("stateOperators", []))
                 for p in ps])
    every = [p for p in tracer.progress if p.get("id") in names]
    out["pipelines.late_rows_dropped"] = sum(
        o.get("numRowsDroppedByWatermark", 0) for p in every for o in p.get("stateOperators", []))
    out["pipelines.driver_only_share"] = driver_ms / trigger_ms if trigger_ms else 0.0
    out["sources.offsets_p50_ms"] = median(
        [p["durationMs"].get("latestOffset", 0) + p["durationMs"].get("getBatch", 0)
         for q in BUILD_QUERIES for p in batches[q]])
    appends = tracer.by_name("idempotent_append")
    out["sinks.append_p50_ms"] = median([_ms(s) for s in appends])
    if trigger_ms:
        out["sinks.append_share_of_batch"] = sum(_ms(s) for s in appends) / trigger_ms
    out["txn.snapshot_p50_ms"] = median([_ms(s) for s in tracer.by_name("snapshot")])
    out["txn.append_p50_ms"] = median([_ms(s) for s in tracer.by_name("append_new")])
    out["txn.commits"] = sum(len(tracer.by_name(x)) for x in ("append_new", "merge_keyed", "overwrite"))
    # the gate's TTL vacuum is a CAS-guarded overwrite of the index
    out["txn.vacuum_ms"] = sum(_ms(s) for x in ("overwrite", "vacuum_orphans")
                               for s in tracer.by_name(x))
    lay = result["layer"]
    out["txn.index_rows"], out["txn.index_files"] = lay.get("index", (0, 0))
    if lay.get("n_sent"):
        out["gate.novelty.admit_ratio"] = lay["n_admitted"] / lay["n_sent"]
    return out


def extra_metrics(tracer: Tracer, result: dict) -> dict:
    lay = result["layer"]
    out: dict = {}
    appends = tracer.by_name("idempotent_append")
    out["sinks.append_p50_ms"] = median([_ms(s) for s in appends])
    out["sinks.dim_merge_p50_ms"] = median([_ms(s) for s in tracer.by_name("merge_last_write_wins")])
    for name in ("snapshot", "append_new", "overwrite"):
        out[f"txn.{name.split('_')[0]}_p50_ms"] = median([_ms(s) for s in tracer.by_name(name)])
    ops = tracer.by_name("op")
    n = max(1, len(ops))
    commits = sum(len(tracer.by_name(x)) for x in ("append_new", "merge_keyed", "overwrite"))
    out["txn.commits_per_op"] = commits / n
    out["txn.vacuum_orphans_ms_per_op"] = sum(_ms(s) for s in tracer.by_name("vacuum_orphans")) / n
    for g in ("neardup", "overlap"):
        out[f"gate.{g}.admit_p50_ms"] = median([_ms(s) for s in tracer.by_name(f"{g}_gate_admit")])
    for g, secs in lay.get("gate_walls", {}).items():
        out[f"gate.{g}.docs_per_s"] = lay["n_docs"] * len(secs) / sum(secs)
    # streaming phases, from the listener's progress events
    names = lay.get("query_ids", {})
    prog = [p for p in tracer.progress if p.get("id") in names]
    batch_ms = []
    for q in QUERIES:
        ps = [p for p in prog if names[p["id"]] == q and p.get("numInputRows", 0) > 0]
        out.update(_phases(q, ps))
        batch_ms += [p.get("durationMs", {}).get("triggerExecution", 0) for p in ps]
    out["pipelines.late_rows_dropped"] = sum(
        o.get("numRowsDroppedByWatermark", 0) for p in prog for o in p.get("stateOperators", []))
    out["pipelines.restarts"] = lay.get("pipelines.restarts", 0)
    out["sources.offsets_p50_ms"] = median(
        [p.get("durationMs", {}).get("latestOffset", 0) + p.get("durationMs", {}).get("getBatch", 0)
         for p in prog])
    if batch_ms:
        out["sinks.append_share_of_batch"] = (
            sum(_ms(s) for s in appends) / sum(batch_ms))
    return out
