"""``ingest`` workload: the five reference pipelines side by side.

``dau``, ``alert``, ``gmv``, ``user_dim`` and ``sale_detail`` (which
reads the dim ``user_dim`` rewrites) run concurrently in one session
with the pipelines' default 5 s processing-time trigger, each over
JSON-lines file topics. Setup writes one lead file per topic, starts
the queries and waits for their first batch. A separate generator
process then writes the seeded, Poisson-timed plan on an open-loop
schedule aligned to the trigger grid: ``--seconds`` of steady files,
then a burst of large files landing just before a trigger (the
catch-up phase).

Freshness is measured per steady file: from its creation (the
generator's log) to the mtime of ``commits/<batch>`` of the last query
that took it, the file-to-batch mapping read from the checkpoint's
``sources/<n>/`` log. Catch-up speed is the burst's rows over the time
from its landing to the last commit that took a burst file. Every
serving table is then checked against a one-shot computation over all
generated records, restricted to what the final watermark has closed.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import subprocess
import sys
import time

import duckdb

from common import Ctx, now, quantile
import datagen

TRIGGER_S = 5.0  # pipelines.DEFAULT_TRIGGER
FILES_PER_S = 3.0
ROWS_PER_FILE = 40
BURST_FILES = 9
BURST_ROWS = 400
N_USERS = 200
TIME_SCALE = 60_000.0  # event-time ms per wall second: 5-min alert windows close every 5 s
LEAD_FILES = 3
DRAIN_TIMEOUT_S = 90.0
CONSUMERS = {
    "events": ("dau", "alert"),
    "orders": ("gmv", "sale_detail"),
    "details": ("sale_detail",),
    "users": ("user_dim",),
}
QUERIES = ("dau", "alert", "gmv", "user_dim", "sale_detail")


def start_queries(ctx: Ctx, topics: str, out: dict, ck: dict) -> dict:
    from pyspark.sql import types as T
    from sparkstreaming_gmall_demo_spark import schemas
    from sparkstreaming_gmall_demo_spark.streaming import pipelines, sources

    spark = ctx.spark
    order_stream = T.StructType(schemas.ORDER_INFO.fields + [T.StructField("ts", T.LongType())])
    detail_stream = T.StructType(schemas.ORDER_DETAIL.fields + [T.StructField("ts", T.LongType())])
    user_stream = T.StructType(schemas.USER_INFO.fields + [T.StructField("op_ts", T.LongType())])

    def topic(name, schema, ts="ts"):
        raw = sources.file_topic_stream(spark, os.path.join(topics, name))
        return sources.parse_topic(raw, schema, ts_from_millis=ts)

    return {
        "user_dim": lambda: pipelines.user_dim_pipeline(
            topic("users", user_stream, None), out["user_dim"], ck["user_dim"]),
        "dau": lambda: pipelines.dau_pipeline(
            topic("events", schemas.STARTUP_LOG), out["dau"], ck["dau"]),
        "alert": lambda: pipelines.alert_pipeline(
            topic("events", schemas.EVENT_LOG), out["alert"], ck["alert"]),
        "gmv": lambda: pipelines.gmv_pipeline(
            topic("orders", schemas.ORDER_INFO, None), out["gmv"], ck["gmv"]),
        "sale_detail": lambda: pipelines.sale_detail_pipeline(
            spark, topic("orders", order_stream), topic("details", detail_stream),
            out["user_dim"], out["sale_detail"], ck["sale_detail"]),
    }


class Supervisor:
    """Keeps the five queries running, as a deployment's supervisor
    would: a query that dies is counted as a failed operation (with its
    error) and restarted from its checkpoint."""

    def __init__(self, ctx: Ctx, builders: dict):
        self.ctx = ctx
        self.builders = builders
        self.queries = {name: build() for name, build in builders.items()}
        self.query_ids = {q.id: name for name, q in self.queries.items()}
        self.restarts = 0

    def poll(self) -> None:
        for name, q in list(self.queries.items()):
            if q.isActive:
                continue
            err = q.exception()
            self.ctx.check(False, f"query {name} stopped: {str(err)[:400]} ... {str(err)[-600:]}")
            self.restarts += 1
            self.queries[name] = self.builders[name]()
            self.query_ids[self.queries[name].id] = name

    def wait(self, done, timeout: float) -> bool:
        end = time.time() + timeout
        while time.time() < end:
            self.poll()
            if done():
                return True
            time.sleep(0.05)
        return False

    def stop(self) -> None:
        for q in self.queries.values():
            if q.isActive:
                q.stop()


# ---------------------------------------------------------------------------
# reading the checkpoints from outside
# ---------------------------------------------------------------------------
def taken_by(ck_dir: str) -> dict[str, int]:
    """file path -> micro-batch id that read it, from the checkpoint.

    A file source logs each file under its own log offset
    (``sources/<n>/<offset>``, compacted into ``<offset>.compact``);
    ``offsets/<batch>`` records every source's log offset at that
    batch. A file belongs to the first batch whose offset reaches its
    own."""
    batch_offsets = []  # (batch, [log offset per source])
    for p in glob.glob(os.path.join(ck_dir, "offsets", "*")):
        name = os.path.basename(p)
        if not name.isdigit():
            continue
        try:
            with open(p) as f:
                lines = f.read().splitlines()[2:]
            batch_offsets.append((int(name), [json.loads(x)["logOffset"] for x in lines]))
        except (OSError, ValueError, KeyError):
            continue  # being written
    batch_offsets.sort()
    out: dict[str, int] = {}
    for p in glob.glob(os.path.join(ck_dir, "sources", "*", "*")):
        if os.path.basename(p).startswith("."):
            continue
        src = int(p.split(os.sep)[-2])
        try:
            with open(p) as f:
                lines = f.read().splitlines()[1:]
        except OSError:
            continue
        for line in lines:
            try:
                e = json.loads(line)
            except ValueError:
                continue  # being written
            b = next((b for b, offs in batch_offsets if offs[src] >= e["batchId"]), None)
            if b is not None:
                out[e["path"].replace("file://", "")] = b
    return out


def commit_times(ck_dir: str) -> dict[int, float]:
    out = {}
    for p in glob.glob(os.path.join(ck_dir, "commits", "*")):
        name = os.path.basename(p)
        if name.isdigit():
            out[int(name)] = os.stat(p).st_mtime
    return out


def watermark_ms(ck_dir: str, batch: int) -> int:
    with open(os.path.join(ck_dir, "offsets", str(batch))) as f:
        return int(json.loads(f.read().splitlines()[1]).get("batchWatermarkMs", 0))


def commit_of(files: list, ck: dict) -> dict[str, float | None]:
    """file -> time the last consuming query committed it (None: not yet)."""
    taken = {q: taken_by(ck[q]) for q in QUERIES}
    commits = {q: commit_times(ck[q]) for q in QUERIES}
    out = {}
    for path, topic in files:
        t = 0.0
        for q in CONSUMERS[topic]:
            b = taken[q].get(path)
            c = commits[q].get(b) if b is not None else None
            if c is None:
                t = None
                break
            t = max(t, c)
        out[path] = t
    return out


# ---------------------------------------------------------------------------
# run
# ---------------------------------------------------------------------------
def run(ctx: Ctx) -> dict:
    plan = datagen.topic_schedule(
        ctx.seed, FILES_PER_S, ctx.seconds, BURST_FILES, ROWS_PER_FILE, N_USERS,
        TIME_SCALE, burst_rows=BURST_ROWS, burst_due=ctx.seconds + TRIGGER_S - 0.5,
        lead_files=LEAD_FILES,
    )
    topics = ctx.path("topics")
    for name in CONSUMERS:
        os.makedirs(os.path.join(topics, name))
    lead = [p for p in plan if p[0] == 0.0]
    rest = plan[len(lead):]
    for i, (_due, topic, recs) in enumerate(lead):
        datagen.write_jsonl(os.path.join(topics, topic, f"lead-{i}.jsonl"), recs)
    plan_path = ctx.path("plan.jsonl")
    with open(plan_path, "w") as f:
        f.write("".join(json.dumps(p) + "\n" for p in rest))

    ctx.start_session()
    out = {q: ctx.path("serving", q) for q in QUERIES}
    ck = {q: ctx.path("checkpoints", q) for q in QUERIES}
    sup = Supervisor(ctx, start_queries(ctx, topics, out, ck))
    if not sup.wait(lambda: all(0 in commit_times(ck[q]) for q in QUERIES), 120.0):
        raise RuntimeError("first batches did not commit in time")
    # the timed phase starts on the trigger grid (processing-time
    # triggers fire at multiples of the interval since the epoch)
    g0 = (int(time.time() / TRIGGER_S) + 1) * TRIGGER_S
    if g0 - time.time() < 0.3:
        g0 += TRIGGER_S
    t_setup = now()
    log_path = ctx.path("gen-log.jsonl")
    gen = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "ingest_gen.py"),
         plan_path, topics, repr(g0), log_path],
    )
    try:
        sup.wait(lambda: gen.poll() is not None, ctx.seconds + TRIGGER_S + 60)
    finally:
        if gen.poll() is None:
            gen.kill()
        gen.wait()
    with open(log_path) as f:
        log = [json.loads(line) for line in f]
    files = [(entry[0], rest[i][1]) for i, entry in enumerate(log)]
    n_steady = sum(1 for entry, p in zip(log, rest) if p[0] < ctx.seconds)
    # drain: until every file is committed by every query that reads it
    sup.wait(lambda: all(v is not None for v in commit_of(files, ck).values()), DRAIN_TIMEOUT_S)
    done = commit_of(files, ck)
    last_batch = {q: max(commit_times(ck[q]) or {-1: 0}) for q in QUERIES}
    sup.stop()

    fresh = []
    for i, (path, _topic) in enumerate(files[:n_steady]):
        c = done[path]
        if ctx.check(c is not None, f"{path} never committed"):
            fresh.append(c - log[i][1])
    burst = files[n_steady:]
    burst_rows = sum(entry[3] for entry in log[n_steady:])
    landed = min(entry[1] for entry in log[n_steady:])
    burst_done = [done[p] for p, _ in burst]
    for p, _ in burst:
        ctx.check(done[p] is not None, f"{p} (burst) never committed")
    catchup = burst_rows / (max(d for d in burst_done if d is not None) - landed) \
        if any(d is not None for d in burst_done) else 0.0
    check_outputs(ctx, plan, out, ck, last_batch)
    return {
        "setup_end": t_setup,
        "p50_ms": quantile(fresh, 0.5) * 1000.0 if fresh else 0.0,
        "p90_ms": quantile(fresh, 0.9) * 1000.0 if fresh else 0.0,
        "work_per_s": catchup,
        "ops": len(files),
        "layer": {
            "load.late_p90_ms": quantile([e[2] for e in log], 0.9) * 1000.0,
            "pipelines.restarts": sup.restarts,
            "query_ids": sup.query_ids,
            "g0": g0,
            "burst_landed": landed,
            "n_steady": n_steady,
            "files": files,
            "ck": ck,
        },
    }


# ---------------------------------------------------------------------------
# output checks: serving tables vs one-shot batch results
# ---------------------------------------------------------------------------
def _day_hour(ms: int) -> tuple[str, int]:
    d = dt.datetime(1970, 1, 1) + dt.timedelta(milliseconds=ms)
    return d.date().isoformat(), d.hour


def check_outputs(ctx: Ctx, plan, out: dict, ck: dict, last_batch: dict) -> None:
    recs = {k: [r for _d, t, rs in plan if t == k for r in rs] for k in CONSUMERS}
    con = duckdb.connect()

    def table(name, cols):
        p = out[name]
        if not glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True):
            return []
        return con.execute(
            f"SELECT {cols} FROM read_parquet('{p}/**/*.parquet', hive_partitioning=true)"
        ).fetchall()

    # dau: first sighting per (device, day)
    first: dict = {}
    for r in recs["events"]:
        day, _ = _day_hour(r["ts"])
        k = (r["mid"], day)
        if k not in first or r["ts"] < first[k]:
            first[k] = r["ts"]
    want = {(m, d, _day_hour(ts)[1]) for (m, d), ts in first.items()}
    got = table("dau", "mid, CAST(log_date AS VARCHAR), CAST(log_hour AS INTEGER)")
    ctx.check(sorted(got) == sorted(want),
              f"dau: {len(got)} rows vs {len(want)} expected; extra "
              f"{sorted(set(got) - want)[:5]} missing {sorted(want - set(got))[:5]}")

    # gmv: every order once, with its amount
    want = {(r["id"], round(r["total_amount"], 2)) for r in recs["orders"]}
    got = table("gmv", "id, CAST(total_amount AS DOUBLE)")
    ctx.check(sorted(got) == sorted(want), f"gmv: {len(got)} rows vs {len(want)} expected")

    # user_dim: last write wins per id
    last: dict = {}
    for r in recs["users"]:
        if r["id"] not in last or r["op_ts"] >= last[r["id"]]["op_ts"]:
            last[r["id"]] = r
    want = {(r["id"], r["gender"], r["user_level"], r["op_ts"]) for r in last.values()}
    got = table("user_dim", "id, gender, user_level, op_ts")
    ctx.check(sorted(got) == sorted(want), f"user_dim: {len(got)} rows vs {len(want)} expected")

    # alert: windows the final watermark closed must all be there; none
    # may be emitted that the batch computation would not fire
    wins: dict = {}
    for r in recs["events"]:
        k = (r["ts"] // 300_000 * 300_000, r["mid"])
        w = wins.setdefault(k, [set(), False])
        if r["evid"] == "coupon":
            w[0].add(r["uid"])
        w[1] |= r["evid"] == "clickItem"
    fire = {k for k, (uids, click) in wins.items() if len(uids) >= 3 and not click}
    wm = watermark_ms(ck["alert"], last_batch["alert"]) if last_batch["alert"] >= 0 else 0
    closed = {k for k in fire if k[0] + 300_000 <= wm}
    got = {(int(a), m) for a, m in table("alert", "epoch_ms(window_start), mid")}
    ctx.check(closed <= got <= fire and len(closed) > 0,
              f"alert: {len(got)} emitted, {len(closed)} closed, {len(fire)} firing; "
              f"missing {sorted(closed - got)[:5]} unexpected {sorted(got - fire)[:5]}")

    # sale_detail: every detail joined to its order, enriched with some
    # version of its user (or none, before the user's first CDC row)
    genders: dict = {}
    for r in recs["users"]:
        genders.setdefault(r["id"], set()).add(r["gender"])
    order_user = {r["id"]: r["user_id"] for r in recs["orders"]}
    want = {r["id"] for r in recs["details"]}
    rows = table("sale_detail", "sale_detail_id, order_id, user_id, user_gender")
    got = {r[0] for r in rows}
    bad = [r for r in rows if r[1] is None or order_user.get(r[1]) != r[2]
           or (r[3] is not None and r[3] not in genders.get(r[2], set()))]
    ctx.check(got == want and not bad and len(rows) == len(got),
              f"sale_detail: {len(got)} ids vs {len(want)} details, {len(rows)} rows, "
              f"{len(bad)} badly joined, e.g. {bad[:3]}")
