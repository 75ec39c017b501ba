"""The five reference streaming apps, recomposed as Structured
Streaming pipelines (SURVEY §7.1 step 4).

| pipeline      | reference app (gmall-realtime/.../app/)      | state upgrade |
|---------------|----------------------------------------------|---------------|
| dau           | DauApp.scala + handler/DauHandler.scala      | Redis day-set -> dropDuplicatesWithinWatermark |
| gmv           | GmvApp.scala                                 | (stateless) Phoenix upsert -> idempotent append |
| alert         | AlertApp.scala                               | processing-time window -> event-time window + watermark |
| sale_detail   | SaleDetailApp.scala (+ UserInfoApp dim dep)  | Redis TTL-10s buffer -> stream-stream join watermark state |
| user_dim      | UserInfoApp.scala                            | Redis KV -> last-write-wins dim table |

Each builder takes already-parsed streaming DataFrames (see
sources.parse_topic) and an output/checkpoint location, wires the
transformation + idempotent sink, and returns the started
StreamingQuery. Tests drive them with ``Trigger.AvailableNow`` over
file-chunk topics and assert the serving tables equal the one-shot
batch computation (streaming ≡ batch).

Scale posture: no per-record external I/O anywhere (the reference does
1-4 Redis round-trips per record in SaleDetailApp.scala:53-157); all
cross-batch state lives in the state store, bounded by watermarks;
dimension joins broadcast; serving tables are date-partitioned parquet
so serving queries partition-prune.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.window import Window

from ..functions import age_as_of, log_date, log_hour, minute_bucket
from ..operators.bucketing import idempotent_append_bucketed
from . import txn
from .sinks import (
    fanout,
    idempotent_append,
    merge_last_write_wins,
    monitoring_counts,
    read_dim,
    split_dead_letter,
)
from .sources import drop_corrupt

DEFAULT_TRIGGER = {"processingTime": "5 seconds"}  # reference DauApp.scala:22


def _start(writer, checkpoint: str, trigger: dict | None):
    trig = trigger if trigger is not None else DEFAULT_TRIGGER
    return writer.option("checkpointLocation", checkpoint).trigger(**trig).start()


def _keyed_sink(out_path: str, key_cols: list, partition_cols=None, transform=None):
    """The foreachBatch sink of a keyed serving table: ``transform``
    the batch, then ``idempotent_append`` it on ``key_cols`` — a
    replayed batch id is a no-op, so the table is exactly-once."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        idempotent_append(
            transform(batch_df) if transform else batch_df, out_path,
            key_cols=key_cols, partition_cols=partition_cols, batch_id=batch_id,
        )

    return sink


# ---------------------------------------------------------------------------
# DAU (reference app/DauApp.scala:21-63, handler/DauHandler.scala)
# ---------------------------------------------------------------------------
def dau_pipeline(
    startup: DataFrame,
    out_path: str,
    checkpoint: str,
    dead_letter: str | None = None,
    trigger: dict | None = None,
    monitor_path: str | None = None,
) -> StreamingQuery:
    """Daily-active-device stream: first sighting of each (mid, day).

    Two-level dedup like the reference — cross-batch via state store
    (replaces the Redis day-set, DauHandler.scala:61-73), then
    first-by-ts within the batch (DauHandler.scala:17-22) and an
    idempotent keyed append (replaces the Phoenix PK upsert,
    DauApp.scala:56-63). State is evicted 25h past the watermark, so
    a day's dedup set lives exactly as long as it must.

    ``monitor_path`` adds the reference's per-batch count probe
    (app/DauApp.scala:42,47,52 prints counts at three stages) as a
    second sink; the batch then feeds both sinks through ``fanout``
    over one persisted lineage instead of recomputing the dedup twice.
    """
    deduped = (
        startup.withColumn("log_date", log_date("event_ts"))
        .withColumn("log_hour", log_hour("event_ts"))
        .withWatermark("event_ts", "25 hours")
        .dropDuplicatesWithinWatermark(["mid", "log_date"])
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = split_dead_letter(batch_df, dead_letter)
        first = (
            batch_df.withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("mid", "log_date").orderBy("event_ts")
                ),
            )
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_corrupt")
        )
        serving = lambda df: idempotent_append(  # noqa: E731
            df, out_path, key_cols=["mid", "log_date"], partition_cols=["log_date"],
            batch_id=batch_id,
        )
        if monitor_path is not None:
            fanout(
                first,
                serving,
                lambda df: monitoring_counts(
                    df, monitor_path, batch_id,
                    group_col="log_date", ts_col="event_ts",
                ),
            )
        else:
            serving(first)

    return _start(deduped.writeStream.foreachBatch(sink), checkpoint, trigger)


# ---------------------------------------------------------------------------
# GMV (reference app/GmvApp.scala:21-53)
# ---------------------------------------------------------------------------
def gmv_pipeline(
    orders: DataFrame,
    out_path: str,
    checkpoint: str,
    dead_letter: str | None = None,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Order ingest: derive create_date/create_hour (GmvApp.scala:33-34
    does string splits; we use date functions) and append idempotently
    on the order PK (the Phoenix upsert, GmvApp.scala:40-50)."""
    derived = orders.withColumn(
        "create_date", F.to_date("create_time")
    ).withColumn("create_hour", F.hour("create_time"))

    sink = _keyed_sink(
        out_path, ["id"], ["create_date"],
        lambda b: split_dead_letter(b, dead_letter).drop("_corrupt"),
    )
    return _start(derived.writeStream.foreachBatch(sink), checkpoint, trigger)


# ---------------------------------------------------------------------------
# Alert (reference app/AlertApp.scala:21-79)
# ---------------------------------------------------------------------------
def alert_pipeline(
    events: DataFrame,
    out_path: str,
    checkpoint: str,
    window_duration: str = "5 minutes",
    slide_duration: str | None = None,
    watermark: str = "10 seconds",
    trigger: dict | None = None,
) -> StreamingQuery:
    """Coupon-fraud alerts: per (5-min window, mid), >=3 distinct uids
    acting on 'coupon' with no 'clickItem' in the window
    (AlertApp.scala:43-62). Upgrades the reference's processing-time
    sliding window (AlertApp.scala:39) to an event-time tumbling window
    with a watermark (SURVEY §7.3.3 documents the intentional semantic
    difference); append mode emits each window exactly once when the
    watermark closes it. Minute-bucket doc-id dedup (AlertApp.scala:74)
    becomes the sink key.

    ``slide_duration`` restores the reference's overlapping-window
    shape (its DStream window slides every 3 s batch); the minute-
    bucket sink key then dedups across overlapping firings exactly like
    the reference's ES doc id.
    """
    win = (
        F.window("event_ts", window_duration, slide_duration)
        if slide_duration
        else F.window("event_ts", window_duration)
    )
    windowed = (
        drop_corrupt(events).withWatermark("event_ts", watermark)
        .groupBy(win.alias("w"), F.col("mid"))
        .agg(
            F.collect_set(
                F.when(F.col("evid") == "coupon", F.col("uid"))
            ).alias("uids"),
            F.collect_set(
                F.when(F.col("evid") == "coupon", F.col("itemid"))
            ).alias("item_ids"),
            F.collect_list("evid").alias("events"),
            F.max(
                F.when(F.col("evid") == "clickItem", F.lit(1)).otherwise(F.lit(0))
            ).alias("has_click"),
            F.max("event_ts").alias("last_ts"),
        )
        .filter((F.size("uids") >= 3) & (F.col("has_click") == 0))
        .select(
            F.col("w.start").alias("window_start"),
            "mid",
            "uids",
            "item_ids",
            "events",
            minute_bucket(F.col("last_ts")).alias("minute_bucket"),
        )
    )

    sink = _keyed_sink(out_path, ["mid", "minute_bucket"])
    return _start(
        windowed.writeStream.outputMode("append").foreachBatch(sink),
        checkpoint,
        trigger,
    )


# ---------------------------------------------------------------------------
# User dim (reference app/UserInfoApp.scala:17-44)
# ---------------------------------------------------------------------------
def user_dim_pipeline(
    users: DataFrame,
    out_path: str,
    checkpoint: str,
    version_col: str = "op_ts",
    trigger: dict | None = None,
) -> StreamingQuery:
    """CDC user stream (INSERT ∪ UPDATE, CanalClient.java:106-118) ->
    last-write-wins dimension table, replacing the Redis KV cache
    (UserInfoApp.scala:29-41). ``version_col`` orders writes (CDC
    operation timestamp); the reference's implicit version is Kafka
    arrival order."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        merge_last_write_wins(
            batch_df, out_path, key_col="id", version_col=version_col
        )

    return _start(drop_corrupt(users).writeStream.foreachBatch(sink), checkpoint, trigger)


# ---------------------------------------------------------------------------
# Sale detail (reference app/SaleDetailApp.scala:21-177)
# ---------------------------------------------------------------------------
# Per-batch fixed-cost amortization: the dim table changes only when the
# user_dim pipeline rewrites it, yet the naive sink re-lists, re-reads
# and re-projects it EVERY micro-batch — a measurable slice of the
# ~1.6 s/batch fixed overhead (SURVEY §8.3). The snapshot is cached
# keyed by (path, as_of) and invalidated by a file-listing signature
# (name, mtime, size), the local stand-in for a table-format version.
_DIM_CACHE: dict[tuple, tuple] = {}


def _dim_signature(path: str) -> tuple:
    if os.path.isfile(path):
        st = os.stat(path)
        return ((path, st.st_mtime_ns, st.st_size),)
    sig = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            p = os.path.join(root, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            sig.append((p, st.st_mtime_ns, st.st_size))
    return tuple(sorted(sig))


def _cached_user_dim(spark: SparkSession, path: str, as_of: str):
    """The projected user dim (u_id, user_gender, user_level, user_age)
    as a materialized snapshot DataFrame, reused across foreachBatch
    invocations until the files under ``path`` change. Returns None
    while the dim is not yet populated (the reference would NPE; we
    enrich nulls).

    The snapshot is ``localCheckpoint(eager=True)``, NOT ``persist()``:
    a persisted plan stays backed by the dim's parquet files, so if
    cached partitions were evicted after the user_dim pipeline
    overwrote those files, recomputation would read vanished paths and
    fail the micro-batch (round-2 advice). The checkpoint severs the
    lineage — the snapshot lives in executor storage independent of
    the source files. Call ``clear_dim_cache()`` when streams stop to
    release the blocks."""
    sig = _dim_signature(path)
    if not sig:
        return None
    key = (path, as_of)
    hit = _DIM_CACHE.get(key)
    if hit is not None and hit[0] == sig:
        return hit[1]
    try:
        users = read_dim(spark, path, op_col="op")
    except Exception:
        return None
    proj = users.select(
        F.col("id").alias("u_id"),
        F.col("gender").alias("user_gender"),
        F.col("user_level"),
        age_as_of("birthday", as_of).alias("user_age"),
    ).localCheckpoint(eager=True)
    if hit is not None:
        _release_snapshot(hit[1])
    _DIM_CACHE[key] = (sig, proj)
    return proj


def _release_snapshot(df) -> None:
    try:
        df.unpersist(blocking=False)
    except Exception:
        pass  # releasing a snapshot is best-effort; GC reclaims blocks


def clear_dim_cache() -> None:
    """Release every cached dim snapshot. Invoke when the streams that
    used _cached_user_dim stop — entries are otherwise reused across
    streams by design (same dim path) and would hold executor storage
    for the life of the session."""
    for _sig, df in list(_DIM_CACHE.values()):
        _release_snapshot(df)
    _DIM_CACHE.clear()
def sale_detail_pipeline(
    spark: SparkSession,
    orders: DataFrame,
    details: DataFrame,
    user_dim_path: str,
    out_path: str,
    checkpoint: str,
    join_ttl: str = "10 seconds",
    as_of: str = "2024-01-01",
    trigger: dict | None = None,
    bucket_table: str | None = None,
    buckets: int = 8,
) -> StreamingQuery:
    """The 3-way denormalization: order_info FULL OUTER order_detail
    (keyed order_id, SaleDetailApp.scala:50-51) with the late-data
    protocol as join-state watermarks (the Redis TTL-10s buffer,
    SaleDetailApp.scala:87-93,126-131 — ``join_ttl`` keeps the same
     10 s contract), then a stream-static broadcast left join against
    the user dim table (replacing one Redis GET per record,
    SaleDetailApp.scala:142-157; a miss NPEs there — we keep nulls).

    Both inputs must carry ``event_ts``; details are matched within
    ±``join_ttl`` of the order's event time. Spark emits unmatched
    outer rows only once the watermark passes — same observable
    behavior as the reference's TTL expiry.

    ``bucket_table`` switches the sink to a table bucketed on
    ``sale_detail_id`` (``out_path`` becomes its external location):
    the per-batch replay-guard probe then reads the sink
    hash-distributed and plans no sink-side Exchange — this sink is
    unpartitioned (its key carries no date), so at scale the probe is
    otherwise a full-sink shuffle per micro-batch.
    """
    o = (
        drop_corrupt(orders).select(
            F.col("id").alias("order_id"),
            F.col("user_id"),
            F.col("total_amount"),
            F.col("create_time"),
            F.col("event_ts").alias("o_ts"),
        )
        .withWatermark("o_ts", join_ttl)
    )
    d = (
        drop_corrupt(details).select(
            F.col("id").alias("detail_id"),
            F.col("order_id").alias("d_order_id"),
            F.col("sku_id"),
            F.col("sku_name"),
            F.col("order_price"),
            F.col("sku_num"),
            F.col("event_ts").alias("d_ts"),
        )
        .withWatermark("d_ts", join_ttl)
    )
    joined = o.join(
        d,
        F.expr(
            f"order_id = d_order_id AND "
            f"d_ts BETWEEN o_ts - interval {join_ttl} AND o_ts + interval {join_ttl}"
        ),
        "full_outer",
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # tombstone-aware snapshot (sinks.read_dim), cached across
        # batches and invalidated when the dim's files change — a
        # CDC-deleted user still enriches as null from the batch after
        # the delete lands, because the rewrite changes the signature
        u = _cached_user_dim(spark, user_dim_path, as_of)
        wide = batch_df.withColumn(
            "join_key", F.coalesce("order_id", "d_order_id")
        ).withColumn("user_id", F.col("user_id"))
        if u is not None:
            wide = wide.join(
                F.broadcast(u), wide["user_id"] == u["u_id"], "left"
            ).drop("u_id")
        else:
            wide = (
                wide.withColumn("user_gender", F.lit(None).cast("string"))
                .withColumn("user_level", F.lit(None).cast("string"))
                .withColumn("user_age", F.lit(None).cast("int"))
            )
        # sale-detail row id: detail PK when present, else the unmatched
        # order sentinel (mirrors the ES doc id = order_detail_id,
        # SaleDetailApp.scala:171)
        keyed = wide.withColumn(
            "sale_detail_id",
            F.coalesce(F.col("detail_id"), F.concat(F.lit("order:"), F.col("join_key"))),
        ).withColumn(
            # the serving-side date key: the reference writes to a daily
            # ES index (SaleDetailApp.scala:166) and filters term(dt=D)
            # (PublisherServiceImpl.java:85)
            "dt",
            F.to_date("create_time"),
        )
        if bucket_table is not None:
            idempotent_append_bucketed(
                keyed, bucket_table, "sale_detail_id", buckets, path=out_path
            )
        else:
            idempotent_append(
                keyed, out_path, key_cols=["sale_detail_id"], partition_cols=None,
                batch_id=batch_id,
            )

    return _start(joined.writeStream.foreachBatch(sink), checkpoint, trigger)


# ---------------------------------------------------------------------------
# Session windows (beyond-reference: the streaming twin of Q20/Q36)
# ---------------------------------------------------------------------------
def session_pipeline(
    events: DataFrame,
    out_path: str,
    checkpoint: str,
    gap: str = "30 minutes",
    watermark: str = "10 seconds",
    trigger: dict | None = None,
) -> StreamingQuery:
    """Per-device gap sessions on the NATIVE session_window operator —
    the streaming counterpart of the declared Q36 (plans/registry.py)
    and the third sessionizer in the engine next to the batch
    lag+cumsum plan (operators/sessions.py) and the custom
    applyInPandasWithState form (streaming/stateful.py).

    Spark merges open session windows per mid in the state store and,
    in append mode, emits each session exactly once when the watermark
    passes its close; the idempotent sink key (mid, session_start)
    makes batch replays no-ops — same contract as the alert sink's
    minute bucket (K2/W3)."""
    sess = (
        drop_corrupt(events)
        .withWatermark("event_ts", watermark)
        .groupBy(F.session_window("event_ts", gap).alias("w"), F.col("mid"))
        .agg(F.count("*").alias("n_events"), F.max("event_ts").alias("last_ts"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "mid", "n_events", "last_ts",
        )
    )

    sink = _keyed_sink(out_path, ["mid", "session_start"])
    return _start(
        sess.writeStream.outputMode("append").foreachBatch(sink),
        checkpoint,
        trigger,
    )


# ---------------------------------------------------------------------------
# Streaming corpus decontamination (beyond-reference: the stream-static
# twin of operators/decontam.py for continuous corpus ingest)
# ---------------------------------------------------------------------------
def decontamination_pipeline(
    docs: DataFrame,
    eval_docs: DataFrame,
    out_path: str,
    checkpoint: str,
    shingle_n: int = 5,
    threshold_pct: int = 10,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Flag each arriving document's eval-set n-gram overlap as it is
    ingested — the gate a continuously-fed training corpus runs before
    a document ever lands in a training shard.

    Stream-static shape: the eval dictionary is STATIC (benchmarks
    change by release, not by batch) and every metric is per-document
    against that dictionary, so the operator needs NO streaming state —
    each micro-batch is an independent map + broadcast probe + per-doc
    aggregate, and streaming output ≡ batch output on the same rows by
    construction. The idempotent sink key (doc_id) makes replays
    no-ops; contaminated docs are kept WITH their flag (filtering is
    the consumer's policy decision, the gate only scores)."""
    from ..operators import decontam as decon_ops

    sink = _keyed_sink(
        out_path, ["doc_id"],
        transform=lambda b: decon_ops.flag_contaminated(
            b, eval_docs, shingle_n=shingle_n, threshold_pct=threshold_pct
        ),
    )
    return _start(docs.writeStream.foreachBatch(sink), checkpoint, trigger)


def sketch_pipeline(
    docs: DataFrame,
    sketch_table: str,
    checkpoint: str,
    text_col: str = "text",
    depth: int = 4,
    width: int = 1024,
    trigger: dict | None = None,
    compact_every: int | None = None,
) -> StreamingQuery:
    """Continuous Count-Min sketch maintenance: each micro-batch's
    token stream collapses to its own depth x width cell counts, and
    the batch sketch is committed keyed by (batch_id, d, b).

    The sketch is mergeable by addition (operators/sketch.py), so
    instead of read-modify-writing one global sketch (a lost-update
    hazard under replay), each batch INSERTS its immutable partial
    (exactly-once: :func:`_partials_sink`) and readers merge at query
    time with ``cm_read_merged`` (sum cells over batches, then min over
    depth as usual). Storage is batches x depth x width rows of three
    ints; ``compact_every=N`` folds the partials
    (:func:`compact_sketch_partials`) every N batches from inside the
    sink, keeping storage at ~depth x width rows."""
    from ..operators.sketch import cm_build

    sink = _partials_sink(
        sketch_table, compact_sketch_partials, compact_every,
        lambda b: cm_build(
            b.select(F.explode(F.split(F.col(text_col), " ")).alias("token")),
            depth=depth, width=width,
        ),
    )
    return _start(docs.writeStream.foreachBatch(sink), checkpoint, trigger)


def _cm_merge(df: DataFrame) -> DataFrame:
    return df.groupBy("d", "b").agg(F.sum("c").alias("c"))


def cm_read_merged(spark: SparkSession, sketch_table: str) -> DataFrame:
    """Merge the per-batch partial sketches into the current global
    sketch (d, b, c): cellwise sum — the same merge a distributed
    aggregation does map-side, applied across batches."""
    return _cm_merge(txn.snapshot(spark, sketch_table))


def ann_ingest_pipeline(
    vectors: DataFrame,
    centroids: list,
    index_path: str,
    checkpoint: str,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Continuous ANN-index ingest: each micro-batch of vectors is
    assigned to its inverted list with the FROZEN trained centroids
    (operators/similarity.py:ivf_append_index rationale) and appended
    through the keyed idempotent sink — one row per vec_id ever
    indexed, replays no-ops, and the cluster= partitioning is
    preserved so probes keep partition-pruning as the index grows.
    No streaming state: assignment is a pure narrow map against
    broadcast-literal centroids."""
    from ..operators.similarity import ivf_assign

    sink = _keyed_sink(
        index_path, ["vec_id"], ["cluster"], lambda b: ivf_assign(b, centroids)
    )
    return _start(vectors.writeStream.foreachBatch(sink), checkpoint, trigger)


def sq8_ingest_pipeline(
    vectors: DataFrame,
    lo: list,
    hi: list,
    index_path: str,
    checkpoint: str,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Continuous int8-code ingest for the scalar-quantized index:
    each micro-batch is sq8_encode-d with the FROZEN per-dim (lo, hi)
    params (operators/similarity.py:sq8_write_index rationale —
    retraining per batch would silently re-scale every code already
    at rest) and appended through the keyed idempotent sink: one code
    row per vec_id ever indexed, replays no-op. No streaming state;
    encoding is a pure narrow map over broadcast-literal params, so
    streamed chunking is invisible to the probe
    (sq8_index_topk serves streamed and batch-built indexes
    identically)."""
    from ..operators.similarity import sq8_encode

    sink = _keyed_sink(
        f"{index_path}/codes", ["vec_id"], transform=lambda b: sq8_encode(b, lo, hi)
    )
    return _start(vectors.writeStream.foreachBatch(sink), checkpoint, trigger)


def hll_pipeline(
    events: DataFrame,
    sketch_table: str,
    checkpoint: str,
    key: str = "user_id",
    ts_col: str = "ts",
    lgk: int = 12,
    trigger: dict | None = None,
    compact_every: int | None = None,
) -> StreamingQuery:
    """Continuous rolling-distinct maintenance: each micro-batch
    collapses to one HLL sketch per day it touched, committed keyed by
    (batch_id, d) — the immutable-partials discipline of
    :func:`_partials_sink`. Readers merge at query time
    (:func:`hll_read_daily`), and because HLL registers are
    max-merged, chunking is invisible: the merged estimate is
    bit-identical to a one-shot batch sketch over the same rows.
    Storage: one ~2^lgk-byte blob per (batch, day).

    This is the streaming half of operators/sketch.py:
    hll_daily_partials — together they answer DAU/WAU/MAU over any
    range without ever re-scanning events (reference twin: the Redis
    per-day dedup set of handler/DauHandler.scala:26-60, generalized to
    a mergeable estimate with bounded storage)."""
    sink = _partials_sink(
        sketch_table, compact_hll_partials, compact_every,
        lambda b: b.select(F.to_date(F.col(ts_col)).alias("d"), F.col(key).alias("k"))
        .groupBy("d")
        .agg(F.hll_sketch_agg("k", F.lit(lgk)).alias("sketch")),
    )
    return _start(events.writeStream.foreachBatch(sink), checkpoint, trigger)


def _hll_merge(df: DataFrame) -> DataFrame:
    return df.groupBy("d").agg(F.hll_union_agg("sketch").alias("sketch"))


def hll_read_daily(spark: SparkSession, sketch_table: str) -> DataFrame:
    """Merge the per-batch partials into one sketch per day
    (d, sketch) — directly consumable by
    operators/sketch.py:hll_prefix_estimates for rolling rollups."""
    return _hll_merge(txn.snapshot(spark, sketch_table))


def bm25_index_pipeline(
    docs: DataFrame,
    index_path: str,
    stats_table: str,
    checkpoint: str,
    n_buckets: int | None = None,
    trigger: dict | None = None,
    compact_every: int | None = None,
) -> StreamingQuery:
    """Continuous BM25 index maintenance — the engine-grade twin of the
    reference's always-fresh ES index (utils/MyEsUtil.scala ingests per
    batch; PublisherServiceImpl.java:84-99 serves keyword search from
    it). Each micro-batch appends its documents' posting rows into the
    tb-partitioned layout through the keyed idempotent sink (one row
    per (doc, term) ever indexed; replays no-op — the ann_ingest
    discipline) and commits one (batch_id, n_docs, sum_dl) corpus-stats
    partial to a txn table (mergeable by addition — the hll/boilerplate
    partials discipline; N and avgdl must count every doc, matching
    docs or not). No streaming state anywhere. Queries go through
    operators/bm25index.py:bm25_index_topk with
    :func:`bm25_read_stats` — partition-pruned posting scans, exact
    per-term dfs, results bit-identical to the corpus-scan bm25_topk
    over the ingested docs."""
    from ..operators import bm25index as bi

    nb = n_buckets if n_buckets is not None else bi.BM25_BUCKETS
    stats_sink = _partials_sink(
        stats_table, compact_bm25_stats, compact_every,
        lambda b: bi.bm25_stats_partial(b).select("n_docs", "sum_dl"),
        n_rows=1,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # Spread before the analyze/explode kernel: a one-file
        # micro-batch is ONE scan partition (the neardup_gate lesson)
        batch_df = batch_df.repartition(F.col("doc_id")).persist()
        try:
            idempotent_append(
                bi.bm25_postings(batch_df, n_buckets=nb),
                os.path.join(index_path, "postings"),
                key_cols=["doc_id", "term"],
                partition_cols=["tb"],
                batch_id=batch_id,
            )
            stats_sink(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    return _start(docs.writeStream.foreachBatch(sink), checkpoint, trigger)


def bm25_read_stats(spark: SparkSession, stats_table: str) -> DataFrame:
    """The (n_docs, sum_dl) partial rows — feed directly to
    bm25_index_topk, which folds them by addition."""
    return txn.snapshot(spark, stats_table).select("n_docs", "sum_dl")


def compact_bm25_stats(spark: SparkSession, stats_table: str) -> int:
    """Fold all per-batch corpus-stats partials into ONE summed row
    (storage: constant however many batches ran)."""
    return compact_partials(
        spark, stats_table,
        lambda df: df.agg(
            F.sum("n_docs").alias("n_docs"), F.sum("sum_dl").alias("sum_dl")
        ),
    )


def boilerplate_pipeline(
    docs: DataFrame,
    gram_table: str,
    checkpoint: str,
    n: int = 6,
    text_col: str = "text",
    trigger: dict | None = None,
    compact_every: int | None = None,
) -> StreamingQuery:
    """Continuous boilerplate-dictionary maintenance: each micro-batch
    collapses to its own (gram, document-frequency) partial — per-doc
    DISTINCT n-grams so a doc never votes twice — committed keyed by
    (batch_id, gram). Because every document arrives in exactly one
    batch, summing per-batch dfs IS the global distinct-doc count: the
    partial is mergeable by addition (the :func:`_partials_sink`
    discipline). Readers derive the current dictionary at query time
    (:func:`boilerplate_read_dictionary`) and feed it straight into
    operators/text.py:boilerplate_coverage — so the repeated-passage
    audit of a 100 TB corpus never re-scans ingested text; new batches
    only ever ADD gram votes. Storage: (batches x batch-distinct
    grams) short rows, compactable by re-keying closed batches."""
    from ..operators.text import _positioned_ngrams

    sink = _partials_sink(
        gram_table, compact_boilerplate_dictionary, compact_every,
        lambda b: _positioned_ngrams(b, n, "doc_id", text_col)
        .select("doc_id", "gram")
        .distinct()
        .groupBy("gram")
        .agg(F.count("*").alias("df")),
    )
    return _start(docs.writeStream.foreachBatch(sink), checkpoint, trigger)


def _gram_merge(df: DataFrame) -> DataFrame:
    return df.groupBy("gram").agg(F.sum("df").alias("df"))


def boilerplate_read_dictionary(
    spark: SparkSession, gram_table: str, min_df: int = 3
) -> DataFrame:
    """(gram, df): the current corpus-wide boilerplate dictionary —
    per-batch dfs summed (exact, since each doc lands in one batch),
    thresholded at ``min_df``. Mirrors the batch
    operators/text.py:boilerplate_ngrams output exactly."""
    return _gram_merge(txn.snapshot(spark, gram_table)).filter(F.col("df") >= min_df)


# ---------------------------------------------------------------------------
# Per-batch partials tables: the one sink skeleton and the compaction
# that bounds their storage
# ---------------------------------------------------------------------------
def _due(batch_id: int, every: int | None) -> bool:
    """The maintenance cadence every gate vacuum and partials
    compaction runs on: batches every-1, 2*every-1, ...; 0 or None
    never (entry checks reject a negative ``every``)."""
    return bool(every) and (batch_id + 1) % every == 0


def _partials_sink(table: str, compact, compact_every, partial, n_rows=None):
    """The foreachBatch sink of a per-batch partials table:
    ``partial(batch_df)`` is committed keyed by (batch_id, ...) and
    folded by ``compact(spark, table)`` on the shared cadence.
    Exactly-once with no streaming state: a batch at or below the
    ``compacted_through`` watermark is already folded and skipped
    before any job runs, and an intact replay is fenced by
    ``txn.append_new``'s appended_through watermark (the rows are keyed
    by THIS batch id, so the insert needs no anti-join probe).
    ``n_rows``: the row count, when known without a job."""
    _check_gate_params(None, compact_every)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= txn.table_meta(table).get("compacted_through", -1):
            return  # replayed batch already folded by compact_partials
        rows = partial(batch_df).select(
            F.lit(batch_id).cast("long").alias("batch_id"), "*"
        )
        txn.append_new(rows, table, batch_id, n_rows=n_rows)
        if _due(batch_id, compact_every):
            compact(batch_df.sparkSession, table)

    return sink


def compact_partials(spark: SparkSession, table: str, merge_fn) -> int:
    """Collapse a per-batch partials table (CM cells / HLL day
    sketches / boilerplate gram-dfs) into ONE merged row-set, keeping
    the pipeline exactly-once: the merged rows commit under sentinel
    batch_id -1 and the commit records ``compacted_through`` = the
    highest batch id folded in; the sinks skip any replayed batch at
    or below that watermark, so a partial that no longer exists as its
    own (batch_id, ...) keys can never be re-inserted. The replace
    itself is one transactional ``txn.overwrite`` — readers flip
    atomically and merged reads are unchanged (merge_fn is exactly the
    read-side merge). Returns rows after compaction.

    Contract: batch ids come from the pipeline's checkpoint, so the
    watermark guard assumes checkpoint continuity — the same source-
    of-truth rule Structured Streaming's own foreachBatch exactly-once
    gives. (A FULL fresh-checkpoint replay over identical input stays
    a no-op: every replayed id falls at or below the watermark.)
    COROLLARY / operator warning: pointing a NEW checkpoint at a
    compacted table while feeding NEW input silently drops the new
    data — restarted batch ids 0..hwm all read as replays. The guard
    cannot distinguish the two cases (that is what makes replays
    no-op), so a checkpoint reset must pair with a fresh table (or a
    re-key of the compacted table). Run with no concurrent compactor,
    like txn.vacuum.

    ``merge_fn``: snapshot-minus-batch_id -> merged frame with the
    same non-batch columns. Concurrent WRITERS are safe: overwrite
    raises on a lost CAS (its staged merge would miss the racing
    writer's just-committed batch) and this loop re-derives the merge
    from the fresh snapshot — the same rebase rule txn.compact_files
    uses. Run with no concurrent COMPACTOR, like txn.vacuum."""
    for _ in range(20):
        # capture the version BEFORE reading the snapshot: the merge +
        # count below are expensive jobs, and a merge_keyed writer
        # committing during that derivation must fail the overwrite's
        # CAS (expected_version), not be silently clobbered by a CAS
        # based on whatever version is current at overwrite() time
        v0 = txn.current_version(table)
        if v0 < 0:
            return 0
        snap = txn.snapshot(spark, table, version=v0)
        hwm = snap.agg(F.max("batch_id")).collect()[0][0]  # collect-bound: 1-row agg
        prev = txn.table_meta(table, version=v0).get("compacted_through", -1)
        merged = (
            merge_fn(snap.drop("batch_id"))
            .withColumn("batch_id", F.lit(-1).cast("long"))
            .select(*snap.columns)
            .persist()
        )
        try:
            n = merged.count()
            txn.overwrite(
                merged,
                table,
                # carry meta (e.g. the append fence) — an overwrite
                # must never silently drop what maintenance recorded
                meta={
                    **txn.table_meta(table, version=v0),
                    "compacted_through": max(int(hwm), int(prev)),
                },
                expected_version=v0,
            )
            # same age-gated orphan-staging GC the TTL gates run: this
            # hook is the partial sinks' only maintenance slot, and
            # their append_new lost-race/crash paths orphan _staged
            # dirs exactly like the gate indexes (round-10)
            txn.vacuum_orphans(table, min_age_s=GATE_ORPHAN_AGE_S)
            return n
        except txn.ConcurrentWriteError:
            continue  # a writer landed mid-merge: re-derive on its snapshot
        finally:
            merged.unpersist()
    raise RuntimeError(f"compact_partials: gave up after 20 attempts on {table}")


def compact_sketch_partials(spark: SparkSession, sketch_table: str) -> int:
    """Fold all per-batch CM partials into one cellwise-summed sketch
    (storage: exactly depth x width rows however many batches ran)."""
    return compact_partials(spark, sketch_table, _cm_merge)


def compact_hll_partials(spark: SparkSession, sketch_table: str) -> int:
    """Fold all per-batch HLL day-partials into one max-merged sketch
    per day (storage: one ~kB blob per calendar day)."""
    return compact_partials(spark, sketch_table, _hll_merge)


def compact_boilerplate_dictionary(spark: SparkSession, gram_table: str) -> int:
    """Fold all per-batch gram-df partials into one summed row per
    gram (storage: corpus gram diversity, independent of batch count)."""
    return compact_partials(spark, gram_table, _gram_merge)


# ---------------------------------------------------------------------------
# Indexed ingest gates (exact novelty, MinHash near-dup, winnowing
# overlap, semantic): one foreachBatch skeleton, one admit strategy each
# ---------------------------------------------------------------------------
# Hot-bucket bound for the cross-batch band-index probe: at most this
# many verification candidates per probe doc (see neardup_gate_admit).
NEARDUP_GATE_CAND_CAP = 64

# Semantic gate cross-batch probe: up to this many (vector, probed
# cluster) rows are collected and broadcast for the map-only BLAS
# index scan (operators/similarity.py:cosine_match_scan) — 200k rows
# of 64-dim doubles is ~100 MB, the same bounded-collect class as
# components.DRIVER_EDGE_CAP. Bigger batches (a misconfigured
# trigger) fall back to the distributed probe join instead of OOMing
# the driver.
# The collect's true size scales with rows x nprobe x DIMENSION, not
# rows alone (round-8 advice: 200k rows of 4096-dim embeddings is
# multiple GB), so the gate budgets in ELEMENTS — this row cap times
# the 64-dim anchor below. High-dim deployments therefore fall back
# proportionally earlier; monkeypatching the row cap to 0 still
# forces the fallback (the round-8 test contract).
SEMANTIC_GATE_BROADCAST_PROBE_CAP = 200_000
SEMANTIC_GATE_PROBE_DIM_BUDGET = 64

# Batch-side frames (ids, band rows, fingerprint rows) broadcast into
# the gate index probes and keyed merges only while the batch stays
# under this row bound; a huge batch — the documented batch-backfill
# usage of the *_gate_admit functions — falls back to the shuffle
# plan instead of forcing a multi-GB broadcast past Spark's limit.
GATE_BROADCAST_ROW_CAP = 1_000_000

# Age gate for the orphan-staging sweep every _ttl_vacuum runs: a
# staging dir this old that NO manifest references can only be the
# leavings of a crashed/lost-race writer (stage -> commit is seconds),
# so sweeping it is safe even with a writer in flight — closing the
# round-9 verdict leak where append_new/merge_keyed orphans accreted
# forever because nothing ever called txn.vacuum (which needs a
# writer quiesce this long-running-gate context can't provide).
GATE_ORPHAN_AGE_S = 3600.0


def _live_index(spark, table: str, batch_id, ttl_batches):
    """The index a gate probes: None before the table exists, the
    plain snapshot without TTL, and under TTL only the LIVE rows,
    admit_batch >= batch_id - ttl_batches. A legacy stamp-less table
    is migrated ONCE by stamping every row as just-admitted (legacy
    rows then suppress for one full TTL) and rewriting, so storage
    stays uniformly stamped. batch_id is replay-stable and the vacuum
    only removes rows this filter drops anyway, so the live view — and
    every probe decision — is identical on a replay whether or not the
    crash interleaved with a vacuum."""
    v = txn.current_version(table)
    if v < 0:
        return None
    idx = txn.snapshot(spark, table, version=v)
    if ttl_batches is None:
        return idx
    if "admit_batch" not in idx.columns:
        idx = idx.withColumn("admit_batch", F.lit(batch_id).cast("long"))
        # meta carried forward: an overwrite must never silently drop
        # what maintenance recorded (the merge_keyed contract)
        txn.overwrite(idx, table, meta=txn.table_meta(table, v))
        idx = txn.snapshot(spark, table)
    return idx.filter(F.col("admit_batch") >= F.lit(batch_id - ttl_batches))


def _ttl_vacuum(
    spark,
    table: str,
    batch_id: int,
    ttl_batches: int,
    order_by: list | None = None,
) -> None:
    """Bounded-state vacuum for a TTL'd gate index: CAS-overwrite the
    table with its live rows, so index size is bounded by the TTL
    window's admission volume instead of growing forever. The CAS pins
    the version the replacement was derived from — each gate sink is
    its tables' only writer, so the raise-path is a cannot-happen
    guard, not a retry loop. A table still in legacy stamp-less form
    (TTL never probed it yet) is left untouched.

    ``order_by`` doubles the vacuum as the index's clustering
    compaction (txn.compact_files' order_by semantics): the semantic
    gate vacuums its index range-partitioned + sorted by ``cluster``,
    so the next probe scan's cluster filter skips whole files via
    parquet min/max stats instead of reading the full index."""
    v = txn.current_version(table)
    if v < 0:
        return
    snap = txn.snapshot(spark, table)
    if "admit_batch" not in snap.columns:
        return
    # record the append fence's floor: stamps below batch_id - ttl are
    # about to be REMOVED, so replays of batches older than that must
    # be allowed to re-insert (txn.append_new's appended_floor
    # contract — the r6 fresh-checkpoint replay-convergence pin)
    meta = dict(txn.table_meta(table, v))
    meta["appended_floor"] = max(
        int(meta.get("appended_floor", -1)), int(batch_id - ttl_batches)
    )
    live = snap.filter(F.col("admit_batch") >= F.lit(batch_id - ttl_batches))
    if order_by:
        # persist: repartitionByRange samples range boundaries in its
        # own job, which would otherwise re-read the full live index a
        # second time; the count both pins the cache and sizes the
        # rewrite's file count (txn.files_for_rows — row-proportional,
        # never a hardcoded write-parallelism cap)
        live = live.persist()
    try:
        rewrite = (
            txn.clustered(live, order_by, txn.files_for_rows(live.count()))
            if order_by else live
        )
        txn.overwrite(rewrite, table, meta=meta, expected_version=v)
    finally:
        if order_by:
            live.unpersist()
    # piggyback the age-gated orphan-staging GC on the same cadence:
    # crashed/lost-race writers leave _staged/<uuid> dirs no manifest
    # references, and this hook is the gates' only maintenance slot
    txn.vacuum_orphans(table, min_age_s=GATE_ORPHAN_AGE_S)


def _check_gate_params(ttl_batches, compact_every=None, batch_id=0) -> None:
    """Reject bad gate and cadence parameters on entry, before any
    Spark job: ttl_batches=0 would silently suppress nothing, a TTL
    needs the batch clock (``batch_id``, checked by the admit
    functions), and a negative compact_every has no cadence."""
    if ttl_batches is not None and ttl_batches < 1:
        raise ValueError(f"ttl_batches must be >= 1 or None, got {ttl_batches}")
    if ttl_batches is not None and batch_id is None:
        raise ValueError("ttl_batches requires batch_id (the replay-stable clock)")
    if compact_every is not None and compact_every < 0:
        raise ValueError(f"compact_every must be >= 0, got {compact_every}")


def _commit_index(
    rows: DataFrame, table: str, batch_id, ttl_batches, key_cols: list,
    n_rows=None, broadcast_probe: bool = False,
) -> None:
    """The stamped index commit of a gate's admitted rows. Under TTL
    the ``admit_batch`` stamp joins the rows AND the key, so an id
    re-admitted after its rows expired inserts a FRESH stamped row
    while a replay re-derives the same (id, admit_batch). With a batch
    id the insert is probe-free (``txn.append_new``): the rows are new
    against this batch's snapshot by construction, and a replay is
    fenced by the appended_through watermark; ``n_rows`` only sizes
    the staged files (None: append_new counts). A backfill call without
    a batch id has no fence and takes the keyed ``txn.merge_keyed``."""
    if ttl_batches is not None:
        rows = rows.select("*", F.lit(batch_id).cast("long").alias("admit_batch"))
        key_cols = [*key_cols, "admit_batch"]
    if batch_id is not None:
        txn.append_new(rows, table, batch_id, n_rows=n_rows)
    else:
        txn.merge_keyed(
            rows, table, key_cols=key_cols, broadcast_probe=broadcast_probe
        )


def _gate_pipeline(
    stream: DataFrame,
    out_path: str,
    checkpoint: str,
    trigger: dict | None,
    id_col: str,
    admit,
    index_tables: list,
    ttl_batches: int | None,
    compact_every: int,
    order_by: list | None = None,
) -> StreamingQuery:
    """The foreachBatch skeleton of every indexed ingest gate.
    ``admit(batch_df, batch_id, cached)`` is the gate's strategy: it
    adds every frame it persists to ``cached`` (released here, whatever
    happens) and returns ``(docs, commit_index)``: the admitted rows and
    the index commit to run AFTER the doc append (None for a gate that
    commits inside its admit). Under TTL the ``index_tables`` are
    vacuumed, in order, on the shared cadence.

    Exactly-once with NO streaming state — the Structured Streaming
    argument, a replayable source plus an idempotent sink: a crashed
    batch replays with the same checkpoint-assigned id and rows, the
    doc append is keyed ``idempotent_append``, each index commit is
    fenced by its batch watermark, and the vacuum removes only rows
    the live filter already drops. The write ORDER is each gate's: the
    novelty probe does not exclude the batch's own rows, so its docs
    land first (index-first, a replay would reject its own documents);
    the fuzzy gates commit inside their admit, safe only because their
    probes anti-join the batch's own ids."""
    _check_gate_params(ttl_batches, compact_every)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        cached: list = []
        try:
            docs, commit_index = admit(batch_df, batch_id, cached)
            idempotent_append(
                docs, out_path, key_cols=[id_col], partition_cols=None,
                batch_id=batch_id,
            )
            if commit_index is not None:
                commit_index()
        finally:
            for df in cached:
                df.unpersist()
        if ttl_batches is not None and _due(batch_id, compact_every):
            for table in index_tables:
                _ttl_vacuum(
                    batch_df.sparkSession, table, batch_id, ttl_batches, order_by
                )

    return _start(stream.writeStream.foreachBatch(sink), checkpoint, trigger)


def novelty_gate_pipeline(
    docs: DataFrame,
    index_table: str,
    out_path: str,
    checkpoint: str,
    trigger: dict | None = None,
    ttl_batches: int | None = None,
    compact_every: int = 8,
) -> StreamingQuery:
    """Incremental-ingest dedup gate: per micro-batch, pass through
    only documents whose content fingerprint is NOT already in the
    corpus index, then commit the survivors' fingerprints back into
    the index — the streaming form of ext_incremental_dedup's probe,
    closed into a loop (today's novel docs are tomorrow's index).

    The index is a txn-table (streaming/txn.py) keyed on the 32-char
    md5 digest: 32 bytes/doc of cross-batch memory, the same at 100 TB
    as here; exactly-once comes from :func:`_gate_pipeline`.
    Within-batch duplicates collapse to the lowest doc_id before the
    probe, so a batch carrying two copies of a new document emits one.

    ``ttl_batches`` bounds the state: the index rows become
    (fingerprint, admit_batch), a fingerprint admitted at batch a
    suppresses batches a+1 .. a+ttl and is then admitted again and
    re-stamped, and every ``compact_every`` batches the sink vacuums
    expired rows — index size is bounded by the TTL window's
    distinct-content volume. This is the engine-grade form of the
    reference's Redis expiry discipline (the EXPIRE 10 join buffer,
    app/SaleDetailApp.scala:93,131, and the day-scoped dedup registry,
    handler/DauHandler.scala:61-73). Expiry counts BATCHES
    (deterministic under the test clock); a production gate keys the
    same layout on an event-time watermark instead.
    ``ttl_batches=None`` keeps the original unbounded fingerprint-only
    index, byte-compatible with existing tables."""
    from ..operators.dedup import novel_against_index

    def admit(batch_df: DataFrame, batch_id: int, cached: list):
        spark = batch_df.sparkSession
        index = _live_index(spark, index_table, batch_id, ttl_batches)
        if index is None:
            index = spark.createDataFrame([], "fingerprint string")
        # micro-batches take the inverted broadcast probe: the digest
        # index — the side that grows at 100 TB — is scanned map-side,
        # never shuffled or sorted. The batch is persisted around the
        # whole sink: the plan-sizing count below then materializes it
        # ONCE, instead of recomputing the source per downstream job —
        # a parquet micro-batch made the count a metadata read, but a
        # Kafka-style source would replay the whole batch for it.
        batch_df = batch_df.persist()
        cached.append(batch_df)
        small = batch_df.count() <= GATE_BROADCAST_ROW_CAP
        fresh = novel_against_index(
            batch_df, index.select("fingerprint"), broadcast_probe=small
        )
        out = (
            fresh.withColumn(
                "__rn",
                F.row_number().over(
                    Window.partitionBy("fingerprint").orderBy("doc_id")
                ),
            )
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .persist()
        )
        cached.append(out)
        n_admit = out.count()
        # the probe sees this batch's own fingerprints once committed,
        # so the commit runs after the doc append (see _gate_pipeline)
        return out.drop("fingerprint"), lambda: _commit_index(
            out.select("fingerprint"), index_table, batch_id,
            ttl_batches, ["fingerprint"], n_rows=n_admit,
        )

    return _gate_pipeline(
        docs, out_path, checkpoint, trigger, "doc_id", admit, [index_table],
        ttl_batches, compact_every,
    )


def _gate_admit_ids(
    batch_df: DataFrame, pairs: DataFrame, dup_ids, id_col: str = "doc_id"
):
    """Shared admission machinery for the fuzzy ingest gates
    (:func:`neardup_gate_admit`, :func:`overlap_gate_admit`,
    :func:`semantic_gate_admit` — the last keyed on ``vec_id`` via
    ``id_col``): whole-batch components over the within-batch pair
    frame, survivor = min id among a component's members NOT
    index-rejected, admitted iff survivor. Factored out so the
    replay-determinism argument (neardup_gate_admit's docstring) and
    the persist discipline live in exactly one place instead of
    drifting apart in copies. Returns (admit_ids, members);
    ``members`` is PERSISTED and materialized — the caller hangs its
    admit semi-join and index merges off it, then unpersists it."""
    from ..operators import components as comp_ops

    # within-batch components: a driver union-find for graphs under
    # the 4 MB edge budget, the distributed star rounds above it
    labels = comp_ops.connected_components(
        pairs.select("i", "j")
    ).withColumnRenamed("node", id_col)
    members = batch_df.select(id_col).join(labels, id_col, "left").select(
        id_col, F.coalesce("component", F.col(id_col)).alias("comp")
    )
    if dup_ids is not None:
        members = members.join(
            dup_ids.withColumn("_dup", F.lit(True)), id_col, "left"
        ).select(
            id_col, "comp", F.coalesce("_dup", F.lit(False)).alias("_dup")
        )
    else:
        members = members.withColumn("_dup", F.lit(False))
    # members is the junction every downstream action hangs off — the
    # index merges, the admit semi-join, and the caller's sink each
    # trigger their own job, and without pinning it here EVERY one of
    # those re-ran the probe+verify join and the component labels from
    # scratch (measured ~4x the batch's real work at 12.5k-doc
    # batches). Persist the 3-int-column frame (O(batch) rows) and
    # materialize it once; everything after is a cheap re-derive
    # against the cache.
    members = members.persist()
    members.count()
    survivors = (
        members.filter(~F.col("_dup"))
        .groupBy("comp")
        .agg(F.min(id_col).alias("survivor"))
    )
    admit_ids = (
        members.join(survivors, "comp")
        .filter((~F.col("_dup")) & (F.col(id_col) == F.col("survivor")))
        .select(id_col)
    )
    return admit_ids, members


def neardup_gate_admit(
    batch_df: DataFrame,
    sigs_table: str,
    bands_table: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    ttl_batches: int | None = None,
    batch_id: int | None = None,
) -> DataFrame:
    """One admission round of the near-dup gate, shared verbatim by the
    streaming sink and any batch backfill driver. Returns the admitted
    subset of ``batch_df`` and commits the admitted documents' MinHash
    index rows (shingle-hash sets + band buckets).

    ``ttl_batches`` bounds the state: both index tables carry the
    ``admit_batch`` stamp of :func:`_commit_index` and the probe sees
    only :func:`_live_index` rows, so an expired document stops
    suppressing near-dups of its content, which is then re-admitted
    under its new doc_id. ``ttl_batches=None`` keeps the original
    unbounded index, byte-compatible with existing tables; switching a
    TTL'd table back to unbounded mode is not supported (the commits
    would write stamp-less rows into a stamped schema).

    Admission rule (deterministic): near-dup components are computed
    over the WHOLE batch (not just index survivors — that would make
    the partition of the batch into components depend on the index
    state, which changes between a run and its replay); each
    component's survivor is its minimum doc_id among members NOT
    rejected by the index probe, and a document is admitted iff it is
    its component's survivor (singletons with no index match are their
    own survivor).

    Why replays converge: the component structure is a pure function
    of batch CONTENT, so it is replay-identical; and the probe
    anti-joins the batch's own doc ids out of the index side, so dup
    marks are a pure function of (batch, pre-batch index) — on a
    replay the batch's previously-admitted rows sit in the index but
    never enter the probe, so they can neither displace a doc's
    original killer out of the candidate cap nor verify a pair the
    within-batch pass already owns. Both inputs being replay-identical
    makes the admitted set replay-identical, with no reliance on a
    survivor-stability argument that caps could undermine. A naive
    "drop index-dups, THEN component-collapse
    the remainder" rule is NOT replay-stable for chain-shaped
    components (A~B, B~C, A!~C: original run components {A,B,C} admit
    A; on replay B is index-rejected first, leaving C pairless and
    wrongly admitted) — regression-pinned by
    test_neardup_gate_chain_component_replay_is_noop. The index
    commits are ordered sigs-first so a crash between the two commits
    leaves a discoverable-by-verify but not-yet-bucketed doc; the
    replay re-commits both and each table's fence drops the repeat
    (:func:`_commit_index`). Cross-batch RE-DELIVERY of an
    already-admitted id at a NEW batch id is out of contract
    engine-wide (the idempotent_append
    replay-guard assumption): on the non-TTL path it re-admits the doc
    and appends a second copy of its index rows — decision-neutral
    (probe sides dedupe) but unbounded storage under a chronically
    re-delivering source; run the TTL mode (stamped keys + vacuum) or
    an upstream exact-novelty gate in that regime.

    Scale shape: the probe shuffles (band, bh) ints against the bucket
    index (partitionable by band); a hot index bucket (boilerplate-y
    pages colliding with everything) is bounded by the per-probe-doc
    candidate cap ``NEARDUP_GATE_CAND_CAP`` (smallest old_ids kept — a
    deterministic recall tradeoff, the same philosophy as
    neardup.DEFAULT_MAX_BUCKET's salting cap); verification joins only
    the COLLIDING ids' hash sets; batch text is tokenized ONCE (the
    persisted signature frame feeds both the cross-batch probe and the
    within-batch pair pass) and never shuffles."""
    from ..operators import neardup as nd_ops

    _check_gate_params(ttl_batches, batch_id=batch_id)
    spark = batch_df.sparkSession

    def jaccard_at_least(a: str, b: str):
        return F.size(F.array_intersect(a, b)) / F.size(F.array_union(a, b)) >= threshold

    # Spread the batch BEFORE the CPU-heavy signature pass: a
    # micro-batch often arrives as one file / one Kafka partition's
    # worth of rows = ONE scan partition, which serializes the 64-hash
    # MinHash kernel on a single core (measured: 6 s single-threaded
    # vs sub-second spread at 12.5k docs — the same trap
    # sources/fixtures.py:spread_fixture exists for). Hash-partition
    # on doc_id (deterministic under task retries, unlike round-robin)
    # and shuffle only the raw batch text once.
    batch_df = batch_df.repartition(F.col("doc_id"))
    sigs = nd_ops.minhash_signature(
        batch_df, num_hashes, shingle_n
    ).persist()
    cand = None
    try:
        # micro-batches (the overwhelmingly common case) broadcast
        # their band/id frames so the index side never shuffles; a
        # large backfill batch keeps the shuffle plan
        small = sigs.count() * bands <= GATE_BROADCAST_ROW_CAP
        banded = nd_ops.signature_bands(sigs, bands)
        dup_ids = None
        idx_bands = _live_index(spark, bands_table, batch_id, ttl_batches)
        if idx_bands is not None:
            idx_sigs = _live_index(spark, sigs_table, batch_id, ttl_batches)
            # the batch's band frame broadcasts (micro-batch × bands
            # rows of 3 ints): the INDEX side of the bucket probe then
            # never shuffles — at 100 TB the band index is the side
            # that grows, and the default shuffle plan moves all of it
            # on every micro-batch
            cand = (
                (F.broadcast(banded) if small else banded).join(
                    idx_bands.withColumnRenamed("doc_id", "old_id"),
                    ["band", "bh"],
                )
                .filter(F.col("doc_id") != F.col("old_id"))
                .select("doc_id", "old_id")
                .dropDuplicates()
            )
            # Replay determinism: on a replay the index already holds
            # THIS batch's admitted docs; if they entered the probe
            # they could displace a doc's original killer out of the
            # candidate cap below (or verify a pair the within-batch
            # pass chunked past), flipping a component survivor so the
            # replay admits a doc the original run rejected. Anti-join
            # the batch's own ids out of old_id so the probe always
            # sees exactly the pre-batch index — dup marks are then a
            # pure function of (batch, pre-batch index) and replays
            # converge regardless of cap pressure.
            cand = cand.join(
                sigs.select(F.col("doc_id").alias("old_id")),
                "old_id",
                "left_anti",
            )
            # hot-bucket bound: at most CAND_CAP verification
            # candidates per probe doc (smallest old_ids win —
            # deterministic; only pathological buckets lose recall)
            # persisted: the capped candidate frame (<= batch x CAP id
            # pairs) feeds BOTH the broadcast signature prune and the
            # verification join below — unpinned, the bucket probe
            # would execute twice
            cand = (
                cand.withColumn(
                    "_rn",
                    F.row_number().over(
                        Window.partitionBy("doc_id").orderBy("old_id")
                    ),
                )
                .filter(F.col("_rn") <= NEARDUP_GATE_CAND_CAP)
                .drop("_rn")
                .persist()
            )
            # verification touches only the COLLIDING old ids'
            # signatures: prune the (growing) signature table with a
            # broadcast semi-join on the capped candidate ids before
            # the equi-join, so the big side is partition-scanned,
            # filtered map-side, and never fully shuffled
            idx_sigs_hit = idx_sigs.select(
                F.col("doc_id").alias("old_id"), F.col("hs").alias("old_hs")
            )
            if small:
                idx_sigs_hit = idx_sigs_hit.join(
                    F.broadcast(cand.select("old_id").dropDuplicates()),
                    "old_id",
                    "left_semi",
                )
            dup_ids = (
                cand.join(sigs.select("doc_id", "hs"), "doc_id")
                .join(idx_sigs_hit, "old_id")
                .filter(jaccard_at_least("hs", "old_hs"))
                .select("doc_id")
                .dropDuplicates()
            )
        # whole-batch components (replay-identical: a pure function of
        # batch content) from the already-computed signature frame —
        # one text pass per batch. Fast path for the common no-pairs
        # batch lives in _gate_admit_ids (n_pairs == 0 skips the
        # component machinery; every doc is its own component).
        # Within-batch pairs reuse the probe's payload-free ``banded``
        # frame: candidates are generated from (doc_id, band, bh) ints
        # only, then verified by joining the hash sets back from the
        # PERSISTED sigs — the generic kernel
        # (near_duplicates_from_signatures) instead rides every doc's
        # full hs array through all ``bands`` band rows of the bucket
        # shuffle, which at 12.5k-doc batches moved ~16x more bytes
        # than the verification needs (measured ~2 s/batch -> the
        # join-back is the right trade when hs sets are large and the
        # signature frame is already cached). Same banding expression,
        # same DEFAULT_MAX_BUCKET salting cap, same deterministic
        # chunking -> candidate set and replay behavior are identical.
        cand_wb = (
            nd_ops._bucket_pairs(banded, [F.col("doc_id")])
            .select(
                F.col("p.x.doc_id").alias("i"), F.col("p.y.doc_id").alias("j")
            )
            .dropDuplicates()
        )
        pairs = (
            cand_wb.join(
                sigs.select(F.col("doc_id").alias("i"), F.col("hs").alias("hs_i")),
                "i",
            )
            .join(
                sigs.select(F.col("doc_id").alias("j"), F.col("hs").alias("hs_j")),
                "j",
            )
            .filter(jaccard_at_least("hs_i", "hs_j"))
            .select("i", "j")
        )
        admit_ids, members = _gate_admit_ids(batch_df, pairs, dup_ids)
        admit = batch_df.join(admit_ids, "doc_id", "left_semi").persist()
        try:
            # materialize admit while members is still cached, so the
            # caller's sink replays the cache, not the full chain
            n_adm = admit.count()
            sig_rows = sigs.join(admit_ids, "doc_id").select("doc_id", "hs")
            band_rows = banded.join(admit_ids, "doc_id").select(
                "doc_id", "band", "bh"
            )
            # sigs first (see the docstring); the row counts are known
            # without a job: one sig row and ``bands`` band rows per doc
            _commit_index(
                sig_rows, sigs_table, batch_id, ttl_batches, ["doc_id"],
                n_rows=n_adm, broadcast_probe=small,
            )
            _commit_index(
                band_rows, bands_table, batch_id, ttl_batches,
                ["doc_id", "band"], n_rows=n_adm * bands, broadcast_probe=small,
            )
        finally:
            members.unpersist()
        return admit
    finally:
        if cand is not None:
            cand.unpersist()
        sigs.unpersist()


def neardup_gate_pipeline(
    docs: DataFrame,
    index_table: str,
    out_path: str,
    checkpoint: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    trigger: dict | None = None,
    ttl_batches: int | None = None,
    compact_every: int = 8,
) -> StreamingQuery:
    """Near-duplicate ingest gate: the MinHash/LSH upgrade of
    :func:`novelty_gate_pipeline` — instead of passing documents whose
    EXACT fingerprint is new, pass documents that are not NEAR-dups
    (band collision + exact shingle-Jaccard >= threshold) of anything
    already admitted; survivors' signatures and band buckets join the
    persisted index, closing the loop. All cross-batch memory is the
    two txn index tables; full replays converge (see
    :func:`neardup_gate_admit` and :func:`_gate_pipeline`).
    ``ttl_batches`` bounds both index tables by the TTL window's
    admission volume (expiry + vacuum every ``compact_every``
    batches)."""
    tables = [index_table + "_sigs", index_table + "_bands"]

    def admit(batch_df: DataFrame, batch_id: int, cached: list):
        cached.append(neardup_gate_admit(
            batch_df, *tables, threshold, num_hashes, bands, shingle_n,
            ttl_batches=ttl_batches, batch_id=batch_id,
        ))
        return cached[0], None

    return _gate_pipeline(
        docs, out_path, checkpoint, trigger, "doc_id", admit, tables,
        ttl_batches, compact_every,
    )


def overlap_gate_admit(
    batch_df: DataFrame,
    index_table: str,
    k: int = 4,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 64,
    stop_fps: list | None = None,
    ttl_batches: int | None = None,
    batch_id: int | None = None,
) -> DataFrame:
    """One admission round of the partial-overlap gate, shared by the
    streaming sink and any batch backfill driver: reject documents
    sharing at least ``min_shared`` winnowing fingerprints with any
    single already-admitted document (operators/text.py:
    winnowing_fingerprints — the MOSS match step as an ingest gate),
    and commit the admitted documents' fingerprints back into the
    persisted index. This is the gate flavor the other two provably
    miss: the exact gate (novelty_gate_pipeline) needs bit-identical
    content and the MinHash gate (neardup_gate_pipeline) needs
    whole-document similarity, but a crawl re-serving one plagiarized
    PARAGRAPH inside fresh boilerplate moves neither — while any
    shared run of w+k-1 tokens is guaranteed a shared selected
    fingerprint here.

    Replay convergence (the neardup_gate_admit argument, verbatim):
    within-batch overlap components are a pure function of batch
    CONTENT; the index probe anti-joins the batch's own doc ids out
    of the index side, so rejection marks depend only on the batch
    and the mutually-non-overlapping admitted set; survivor = min
    doc_id among a component's non-rejected members; admitted iff
    survivor. For this argument to hold, EVERY probe predicate must
    be content-pure — which is why the ubiquity rule is split in two:

    - within the batch, fingerprints carried by more than ``max_df``
      batch documents are dropped before the pair join (a pure
      function of batch content — replay-stable);
    - against the index, the rule must NOT be computed from the live
      index view: the view grows with later admissions, so a
      fingerprint rare at the original run could read ubiquitous on a
      full replay, silently flipping a rejection into an admission.
      Instead ``stop_fps`` takes a FROZEN stoplist of banned
      fingerprints (derived offline from a trusted snapshot — the
      decontamination-dictionary discipline), applied identically to
      batch and index sides; None means no index-side ubiquity
      filtering.

    Hot-key bound: the batch-side max_df rule caps the within-batch
    pair blowup at max_df choose 2 per fingerprint; on the probe side
    the stoplist is the production control for boilerplate
    fingerprints every page carries. Only (doc_id, fp) BIGINT pairs
    cross any exchange; text never leaves the document-local
    selection stage. Index storage is ~2/(w+1) of the gram count per
    admitted doc — the affordable density that makes a 100 TB
    fingerprint index feasible at all (the winnowing design point).

    ``ttl_batches`` bounds the (doc_id, fp) index exactly as in
    :func:`neardup_gate_admit`: rows carry an ``admit_batch`` stamp,
    the probe sees only live rows, re-served overlapping content is
    re-admitted (under its fresh doc_id) once its suppressors expire,
    and the pipeline vacuums expired rows. The stamp is per (doc_id,
    fp) row but constant per doc, so vacuum expires whole documents
    at once — the live index never holds a partial fingerprint set."""
    from ..operators import text as text_ops

    _check_gate_params(ttl_batches, batch_id=batch_id)
    spark = batch_df.sparkSession
    # spread before the CPU-heavy fingerprint pass (the
    # neardup_gate_admit single-scan-partition trap)
    batch_df = batch_df.repartition(F.col("doc_id"))
    # Oversized-document guard (round-6 ADVICE): a document with more
    # than 2^20 - 1 k-grams trips winnowing's deterministic
    # raise_error (text.py packed-position overflow). Inside a
    # foreachBatch sink that raise is a permanent wedge — the failure
    # is content-deterministic, so checkpoint restart replays the same
    # batch and fails again forever. Route such documents around the
    # fingerprint pass instead: they contribute no overlap evidence
    # and follow the same no-evidence admission path as
    # shorter-than-k+w-1 docs (content-pure predicate — replay-stable).
    # Production should chunk long documents upstream
    # (operators/chunking.py); this bound only keeps one pathological
    # crawl artifact from halting ingest.
    fingerprintable = F.size(F.split(F.col("text"), " ")) - k + 1 <= (
        text_ops.POS_SPACE - 1
    )
    fps = (
        text_ops.winnowing_fingerprints(batch_df.filter(fingerprintable), k, w)
        .select("doc_id", "fp")
        .distinct()
    )
    not_stopped = ~F.col("fp").isin([int(f) for f in stop_fps or []])
    if stop_fps:
        fps = fps.filter(not_stopped)
    fps = fps.persist()
    try:
        # micro-batches broadcast their fingerprint/id frames so the
        # index never shuffles; a large backfill keeps the shuffle plan
        n_fps = fps.count()
        small = n_fps <= GATE_BROADCAST_ROW_CAP
        rare_batch = (
            fps.groupBy("fp")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("fp")
        )
        kept = fps.join(rare_batch, "fp")
        a, b = kept.alias("a"), kept.alias("b")
        pairs = (
            a.join(
                b,
                (F.col("a.fp") == F.col("b.fp"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(F.col("a.doc_id").alias("i"), F.col("b.doc_id").alias("j"))
            # evidence = distinct shared fingerprints; count(*) IS that
            # here because kept is unique on (doc_id, fp) — fps is
            # .distinct() and rare_batch is one row per fp. (countDistinct
            # would restate the contract but costs a second aggregate
            # phase — measured 35% off the adversarial verbatim regime.)
            .agg(F.count("*").alias("_shared"))
            .filter(F.col("_shared") >= min_shared)
            .select("i", "j")
        )
        dup_ids = None
        idx = _live_index(spark, index_table, batch_id, ttl_batches)
        if idx is not None:
            # probe side: the index minus the batch's own ids (so
            # replays see what the original run saw) and minus the
            # frozen stoplist — both content-pure, never view-derived
            # batch ids and the batch's fp frame both broadcast
            # (when micro-batch-bounded): the fingerprint index — the
            # side that grows at 100 TB — never shuffles for the probe
            bids = batch_df.select("doc_id")
            idx = idx.join(
                F.broadcast(bids) if small else bids, "doc_id", "left_anti"
            )
            if stop_fps:
                idx = idx.filter(not_stopped)
            # evidence = DISTINCT shared fingerprints per (doc_id,
            # old_id): under the TTL'd (doc_id, fp, admit_batch) key, a
            # doc_id re-delivered while its rows are still live is
            # re-admitted (the probe anti-joins the batch's own ids)
            # and inserts a SECOND live stamped copy of every
            # (doc_id, fp) row — a plain count(*) would tally each
            # shared fingerprint once per copy, over-rejecting novel
            # docs whose true overlap is below min_shared (round-8
            # advice). r9 restored uniqueness by dropDuplicates-ing the
            # INDEX side before the join — a full shuffle of the
            # (growing) fingerprint index on every micro-batch, and the
            # r10 index-size sweep measured it superlinear (8->48 s
            # from 1.3M to 20.8M index rows at a fixed 12.5k batch).
            # Dedup AFTER the join instead: the batch side is unique on
            # (doc_id, fp), so post-join (doc_id, old_id, fp)
            # uniqueness is the same count — and the deduped frame is
            # bounded by probe HITS, not index size. The index is then
            # only ever scanned (broadcast hash join), never exchanged;
            # the round-8 duplicated-index regression test pins the
            # semantics across this plan change.
            idx_r = idx.select(F.col("doc_id").alias("old_id"), "fp")
            dup_ids = (
                (F.broadcast(kept) if small else kept).join(idx_r, "fp")
                .dropDuplicates(["doc_id", "old_id", "fp"])
                .groupBy("doc_id", "old_id")
                .agg(F.count("*").alias("_shared"))
                .filter(F.col("_shared") >= min_shared)
                .select("doc_id")
                .dropDuplicates()
            )
        admit_ids, members = _gate_admit_ids(batch_df, pairs, dup_ids)
        admit = batch_df.join(admit_ids, "doc_id", "left_semi").persist()
        try:
            n_adm = admit.count()
            # an admitted doc's selected fps enter the index minus
            # only the frozen stoplist (a banned fp can never
            # contribute evidence, so storing it is pure waste); the
            # batch-side max_df rule is probe-time only — what is
            # locally common in one batch may be rare corpus-wide
            fp_rows = fps.join(admit_ids, "doc_id").select("doc_id", "fp")
            # n_rows is the ACTUAL fp_rows count, never n_adm: an
            # admitted set whose every fingerprint was stoplisted (or
            # whose docs were too short to shingle) leaves fp_rows empty,
            # and a suppressed batch must commit nothing. None lets
            # append_new count it; 0 skips the commit outright.
            _commit_index(
                fp_rows, index_table, batch_id, ttl_batches, ["doc_id", "fp"],
                n_rows=None if n_adm else 0, broadcast_probe=small,
            )
        finally:
            members.unpersist()
        return admit
    finally:
        fps.unpersist()


def overlap_gate_pipeline(
    docs: DataFrame,
    index_table: str,
    out_path: str,
    checkpoint: str,
    k: int = 4,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 64,
    stop_fps: list | None = None,
    trigger: dict | None = None,
    ttl_batches: int | None = None,
    compact_every: int = 8,
) -> StreamingQuery:
    """Partial-overlap ingest gate: the winnowing-fingerprint member
    of the gate family (exact fingerprint -> novelty_gate_pipeline;
    whole-doc MinHash -> neardup_gate_pipeline; shared-run/quote
    reuse -> here). Cross-batch memory is the (doc_id, fp) txn index;
    full replays converge (see :func:`overlap_gate_admit` and
    :func:`_gate_pipeline`). ``ttl_batches`` bounds the index by the
    TTL window's admission volume (expiry + vacuum every
    ``compact_every`` batches)."""

    def admit(batch_df: DataFrame, batch_id: int, cached: list):
        cached.append(overlap_gate_admit(
            batch_df, index_table, k, w, min_shared, max_df, stop_fps,
            ttl_batches=ttl_batches, batch_id=batch_id,
        ))
        return cached[0], None

    return _gate_pipeline(
        docs, out_path, checkpoint, trigger, "doc_id", admit, [index_table],
        ttl_batches, compact_every,
    )


def semantic_gate_admit(
    batch_df: DataFrame,
    index_table: str,
    centroids: list,
    threshold: float = 0.95,
    nprobe: int = 2,
    ttl_batches: int | None = None,
    batch_id: int | None = None,
) -> DataFrame:
    """One admission round of the SEMANTIC (embedding) novelty gate,
    shared by the streaming sink and any batch backfill driver: reject
    a vector whose cosine similarity to any already-admitted vector is
    >= ``threshold``, collapse within-batch near-dup components to
    their min-vec_id survivor, and commit the admitted vectors (with
    cluster + norm) back into the persisted index. This is the
    SemDeDup decision (operators/similarity.py:semantic_dedup_pairs)
    closed into an ingest loop — the gate flavor the text-based family
    provably misses: a paraphrase shares no fingerprints, no shingles,
    and no winnowing runs, but its embedding sits inside the cosine
    ball.

    Replay convergence (the neardup_gate_admit argument, inherited via
    _gate_admit_ids): ``centroids`` are a FROZEN offline artifact (the
    ivf_append_index discipline — retraining per batch would re-bucket
    every vector already at rest AND make admission view-dependent),
    so cluster assignment, the within-batch pair frame, and the
    nprobe probe set are all pure functions of batch content; the
    index probe anti-joins the batch's own vec_ids out of the index
    side, so rejection marks depend only on (batch, pre-batch index).

    Approximation contract (the IVF/SemDeDup bargain, stated not
    hidden): within-batch pairs are confined to same-cell vectors and
    the cross-batch probe reads the batch vector's ``nprobe`` nearest
    cells — a near-dup pair straddling a cell boundary beyond nprobe
    is missed, exactly as in batch SemDeDup; raise nprobe (recall) or
    re-train centroids offline (quality) to trade.

    100 TB posture: the index NEVER shuffles for a probe — the batch's
    own ids leave it via a broadcast anti-join, and scoring is a
    map-only BLAS scan (cosine_match_scan) against the broadcast probe
    matrix (bounded by SEMANTIC_GATE_BROADCAST_PROBE_CAP, distributed
    join fallback beyond it); the index is keyed by cluster, so a
    cluster-partitioned compaction makes the scan partition-pruned to
    nprobe/k of the files; norms are computed once per vector and
    carried; the hot-cell salting cap inside the pair kernel bounds
    the within-batch blowup.

    Zero-norm vectors: cosine is undefined on them, and under ANSI
    mode (Spark 4 default) the naive 0/0 division THROWS — inside
    foreachBatch that is the same permanent content-deterministic
    wedge as the overlap gate's oversized-document raise. They are
    therefore excluded from the pair kernel and from both probe sides
    (content-pure predicate, replay-safe): a zero-norm vector matches
    NOTHING — always admitted, never rejecting a later arrival. That
    is deliberate non-policy: the gate dedups, it does not validate;
    run embedding_health (operators/similarity.py) upstream to
    quarantine malformed producers.
    """
    from ..operators.components import union_find
    from ..operators.similarity import (
        NORM,
        DOT,
        cosine_match_scan_packed,
        ivf_probe_clusters,
        pack_probe_matrices,
        semantic_dedup_pairs,
        semantic_pairs_driver,
    )

    _check_gate_params(ttl_batches, batch_id=batch_id)
    spark = batch_df.sparkSession
    # ONE narrow pass per batch row pays the k centroid-distance folds
    # once and the norm fold once (review finding: assign + probe as
    # separate helpers doubled the dominant per-row CPU): the probe
    # array's first element IS the cluster assignment (same sorted
    # (d, c) tie rule), and both columns materialize into the
    # persisted frame. Spread first: the single-scan-partition
    # fixture trap.
    assigned = (
        ivf_probe_clusters(
            batch_df.repartition(F.col("vec_id")), centroids, nprobe
        )
        .withColumn("cluster", F.element_at("probe_clusters", 1).cast("int"))
        .withColumn("nrm", F.expr(NORM.format(a="embedding")))
        .persist()
    )
    try:
        n_batch = assigned.count()
        # budget the driver collect in ELEMENTS (rows x nprobe x dim),
        # anchored so the historical row cap is exact at 64 dims: a
        # 4096-dim corpus flips to the distributed join 64x earlier
        # instead of collecting multiple GB (round-8 advice)
        dim = len(centroids[0])
        fast = (
            n_batch * min(nprobe, len(centroids)) * dim
            <= SEMANTIC_GATE_BROADCAST_PROBE_CAP
            * SEMANTIC_GATE_PROBE_DIM_BUDGET
        )
        idx = _live_index(spark, index_table, batch_id, ttl_batches)
        if idx is not None:
            # probe side: the index minus the batch's own ids (replays
            # see what the original run saw); under TTL, only LIVE
            # rows — an expired vector stops suppressing re-embeddings
            # of its content (:func:`_live_index` semantics). The
            # batch's own ids leave via a BROADCAST anti-join (batch
            # ids are micro-batch-bounded; the index is the big side
            # and must never shuffle for a probe).
            bvids = batch_df.select("vec_id")
            idx = idx.join(
                F.broadcast(bvids) if fast else bvids, "vec_id", "left_anti"
            )
        # both probe paths apply the same 4dp-rounded threshold
        # semantics as the within-batch pair kernel — else a pair with
        # cosine in [threshold-5e-5, threshold) is rejected within a
        # batch but admitted across batches, making admission depend
        # on chunking. Zero-norm rows are excluded from pairing and
        # from BOTH probe sides everywhere: under ANSI mode 0/0 throws
        # (the foreachBatch wedge class), and cosine is undefined on
        # them anyway — see the docstring's zero-norm contract.
        id_type = dict(batch_df.dtypes)["vec_id"]
        if fast:
            # bounded micro-batch (the overwhelmingly common case):
            # collect the batch ONCE and run the whole decision
            # driver-side — within-cell pairs as in-process BLAS
            # matmuls (semantic_pairs_driver, cap semantics identical
            # to the distributed kernel), the cross-batch probe as a
            # map-only broadcast scan of the index
            # (cosine_match_scan_packed: no index shuffle, no per-pair
            # array allocation), and the component collapse as the
            # union-find _gate_admit_ids already uses. ~2x the join
            # form's wall at 5k-vector batches (BENCH_gate_r08).
            rows = assigned.select(
                "vec_id", "probe_clusters", "embedding", "nrm"
            ).collect()  # collect-bound: ELEMENTS-gated fast path (rows x nprobe x dim cap)
            pair_rows = semantic_pairs_driver(
                ((r[0], r[1][0], r[2], r[3]) for r in rows), threshold
            )
            dup_set: set = set()
            packed = (
                pack_probe_matrices(
                    (r[0], c, r[2], r[3]) for r in rows for c in r[1]
                )
                if idx is not None
                else {}
            )
            if packed:
                # the scan only matches inside probed clusters, so
                # push that as a filter: after a cluster-clustered
                # vacuum/compaction the parquet min/max stats skip
                # every file outside the probe set (~nprobe/k of the
                # index read instead of all of it). Semantically a
                # no-op — the kernel skips unprobed clusters anyway.
                probed = sorted({c for (c, _dim) in packed})
                dup_set = {
                    r[0]
                    for r in cosine_match_scan_packed(
                        idx.filter(
                            (F.col("nrm") > 0)
                            & F.col("cluster").isin(probed)
                        ).select("cluster", "embedding", "nrm"),
                        packed,
                        threshold,
                        id_type=id_type,
                    ).collect()  # collect-bound: fast-path probe hits, batch-bounded
                }
            # survivor rule, verbatim from _gate_admit_ids: component
            # = min-label union-find over the pair graph (singletons
            # are their own component), survivor = min id among the
            # component's NOT-index-rejected members, admitted iff
            # survivor
            comp_map = union_find(pair_rows)
            comp_members: dict = {}
            for r in rows:
                comp_members.setdefault(
                    comp_map.get(r[0], r[0]), []
                ).append(r[0])
            admitted = sorted(
                min(live)
                for ms in comp_members.values()
                if (live := [m for m in ms if m not in dup_set])
            )
            admit_ids = F.broadcast(
                spark.createDataFrame(
                    [(i,) for i in admitted], f"vec_id {id_type}"
                )
            )
            members = None
        else:
            # oversized batch (misconfigured trigger): the fully
            # distributed path — slower, never OOMs the driver
            pairs = semantic_dedup_pairs(assigned, threshold).select("i", "j")
            dup_ids = None
            if idx is not None:
                probes = assigned.filter(F.col("nrm") > 0).select(
                    "vec_id",
                    F.col("embedding").alias("v"),
                    "nrm",
                    F.explode("probe_clusters").alias("cluster"),
                )
                # same probed-cluster pushdown as the fast path: the
                # distinct probe clusters are <= k values (one tiny
                # job over the cached assigned frame), and a
                # cluster-clustered index then file-skips here too
                probed = sorted(
                    r.cluster
                    for r in probes.select("cluster").distinct().collect()  # collect-bound: distinct probe clusters <= nprobe x batch rows
                )
                idx_r = idx.filter(F.col("cluster").isin(probed)).select(
                    F.col("cluster"),
                    F.col("embedding").alias("old_vec"),
                    F.col("nrm").alias("old_nrm"),
                )
                dup_ids = (
                    probes.join(idx_r.filter(F.col("old_nrm") > 0), "cluster")
                    .filter(
                        F.round(
                            F.expr(DOT.format(a="v", b="old_vec"))
                            / (F.col("nrm") * F.col("old_nrm")),
                            4,
                        )
                        >= F.lit(threshold)
                    )
                    .select("vec_id")
                    .dropDuplicates()
                )
            admit_ids, members = _gate_admit_ids(
                batch_df, pairs, dup_ids, id_col="vec_id"
            )
        admit = batch_df.join(admit_ids, "vec_id", "left_semi").persist()
        try:
            n_adm = admit.count()
            idx_rows = assigned.join(admit_ids, "vec_id").select(
                "vec_id", "cluster", "embedding", "nrm"
            )
            # one index row per admitted vector, so the count is free
            _commit_index(
                idx_rows, index_table, batch_id, ttl_batches, ["vec_id"],
                n_rows=n_adm, broadcast_probe=fast,
            )
        finally:
            if members is not None:
                members.unpersist()
        return admit
    finally:
        assigned.unpersist()


def semantic_gate_pipeline(
    vectors: DataFrame,
    index_table: str,
    out_path: str,
    checkpoint: str,
    centroids: list,
    threshold: float = 0.95,
    nprobe: int = 2,
    trigger: dict | None = None,
    ttl_batches: int | None = None,
    compact_every: int = 8,
) -> StreamingQuery:
    """Semantic novelty ingest gate: the embedding member of the gate
    family (exact fingerprint -> novelty_gate_pipeline; whole-doc
    MinHash -> neardup_gate_pipeline; quote reuse -> overlap_gate;
    paraphrase/near-semantic reuse -> here). Cross-batch memory is the
    (vec_id, cluster, embedding, nrm) txn index; full replays converge
    (see :func:`semantic_gate_admit` and :func:`_gate_pipeline`).
    ``ttl_batches`` bounds the index by the TTL window's admission
    volume (expiry + vacuum every ``compact_every`` batches) — at
    100 TB the embedding payload makes this the costliest of the gate
    indexes to leave unbounded. The vacuum clusters the index by
    ``cluster`` (see :func:`_ttl_vacuum`)."""

    def admit(batch_df: DataFrame, batch_id: int, cached: list):
        cached.append(semantic_gate_admit(
            batch_df, index_table, centroids, threshold, nprobe,
            ttl_batches=ttl_batches, batch_id=batch_id,
        ))
        return cached[0], None

    return _gate_pipeline(
        vectors, out_path, checkpoint, trigger, "vec_id", admit,
        [index_table], ttl_batches, compact_every, order_by=["cluster"],
    )


def semantic_gate_recluster(
    spark: SparkSession, index_table: str, centroids: list
) -> dict:
    """Offline centroid refresh for the semantic gate's index — the
    drift escape hatch the frozen-codebook contract defers to
    (semantic_gate_admit docstring: "re-train centroids offline").
    Frozen IVF centroids keep admission replay-pure, but as the corpus
    drifts, cell purity degrades: new content crowds into a few stale
    cells, inflating both the within-cell pair kernel and the probe's
    per-cell candidate count. This pass re-assigns every indexed
    vector's ``cluster`` to its nearest NEW centroid and CAS-commits
    the rewrite (the compact_partials discipline: derived-from version
    pinned, concurrent ingest raises instead of being clobbered) —
    after it, the caller switches the RUNNING gate to the same new
    centroids, and probes stay consistent with storage.

    What the refresh can and cannot change (the invariant the test
    pins): admitted rows are preserved byte-for-byte — only their
    cluster ROUTING moves, so the no-two-admitted-near-dups property
    of the indexed set is untouched. Recall even improves for the
    drifted region: a duplicate of an admitted vector assigns (with
    the new centroids) to the same nearest cell as its stored twin,
    so the nprobe=1 probe finds it by construction. The cost is the
    one the SemDeDup bargain always had: pairs straddling a NEW cell
    boundary beyond nprobe are missed — the same tolerance, around
    better-fitting cells.

    Run with no gate batch in flight (single-maintenance-writer, like
    txn.vacuum). Returns {"n_vectors", "n_moved"} — assignment churn,
    the drift signal worth monitoring to schedule the next refresh.
    """
    from ..operators.similarity import ivf_probe_clusters

    v = txn.current_version(index_table)
    if v < 0:
        return {"n_vectors": 0, "n_moved": 0}
    snap = txn.snapshot(spark, index_table, version=v)
    cols = snap.columns
    re_assigned = (
        ivf_probe_clusters(snap.withColumnRenamed("cluster", "_old_cluster"),
                           centroids, nprobe=1)
        .withColumn("cluster", F.element_at("probe_clusters", 1).cast("int"))
        .persist()
    )
    try:
        stats = re_assigned.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("cluster") != F.col("_old_cluster")).cast("long")
            ).alias("moved"),
        ).collect()[0]  # collect-bound: 1-row agg
        txn.overwrite(
            # cluster-clustered like the TTL vacuum: the refresh
            # rewrites everything anyway, so leave the files in the
            # layout the probe's cluster filter prunes best; file
            # count row-proportional (re_assigned is persisted, so
            # the range-boundary sampling reads the cache)
            txn.clustered(
                re_assigned.select(*cols),
                ["cluster"],
                txn.files_for_rows(int(stats["n"])),
            ),
            index_table,
            meta=txn.table_meta(index_table, v),
            expected_version=v,
        )
    finally:
        re_assigned.unpersist()
    return {"n_vectors": stats["n"], "n_moved": stats["moved"] or 0}


def scd2_apply_batch(
    batch_df: DataFrame,
    obs_table: str,
    history_table: str,
    key: str,
    ts_col: str,
    attr_cols: list,
    tiebreak: str | None = None,
    batch_id: int | None = None,
) -> None:
    """One incremental-maintenance round of the SCD2 dimension history
    (operators/scd2.py:scd2_history as a continuously-maintained
    table), shared by the streaming sink and any batch backfill
    driver. Invariant after every round: ``history_table`` ==
    scd2_history(every observation ever ingested) — bit-for-bit, the
    maintained table is indistinguishable from a from-scratch rebuild.

    Why an observation LOG is kept (obs_table) instead of folding new
    rows into the collapsed history: history rows drop equal-attr
    repeat observations, and a LATE arrival can resurrect one — key
    observed A@t1, A@t2 (collapsed away), B@t3 has history
    [A@t1, B@t3]; a late C@t1.5 makes the true history
    [A@t1, C@t1.5, A@t2, B@t3], where A@t2 is recoverable ONLY from
    the raw log. Any incremental scheme over the collapsed rows
    silently loses that version (regression-pinned). The log is the
    dimension CHANGELOG — tiny next to facts — and only the batch's
    AFFECTED keys are re-windowed per round, against their own
    observations.

    Exactly-once: the log append is merge_keyed on
    (key, ts[, tiebreak]) (replays anti-join away); the history
    replace is a CAS overwrite stamped with a ``scd2_through`` batch
    watermark the sink consults, so a replayed batch returns before
    doing any work, and a crash between the two commits replays into
    a no-op log merge + an idempotent rebuild (history is a pure
    function of the log).

    ``batch_id=None`` (the default, for direct/backfill callers
    without a micro-batch counter) SKIPS the watermark guard and
    stamp: every call ingests — still safe to re-run, because the log
    merge is keyed and the rebuild is idempotent; the only cost of a
    repeat is an extra identical history version. Defaulting to a
    NUMBER here would make a backfiller's second un-id'd call
    watermark-skip silently (review-found) — never default an
    exactly-once id.

    100 TB: the per-round rebuild touches only affected keys' rows
    (one key-partitioned window over their observations — a dim
    changelog's hot-key set per batch is small); the overwrite
    rewrites the history snapshot, which is the right trade for a
    DIMENSION (bounded rows; the compact_partials pattern). A
    fact-scale table wants key-bucket partitioning with per-bucket
    rewrites — :func:`scd2_apply_batch_bucketed` (round 8).
    """
    from ..operators import scd2 as scd2_ops

    spark = batch_df.sparkSession
    if (
        batch_id is not None
        and batch_id <= txn.table_meta(history_table).get("scd2_through", -1)
    ):
        return  # replayed batch: both commits already landed
    extra = [tiebreak] if tiebreak else []
    obs_cols = list(dict.fromkeys([key, ts_col, *attr_cols, *extra]))
    # broadcast probe: a dimension changelog's per-batch key set is
    # small by nature (the docstring's scale argument) — a caller
    # backfilling a fact-sized frame through this API should chunk it
    txn.merge_keyed(
        batch_df.select(*obs_cols), obs_table, key_cols=[key, ts_col, *extra],
        broadcast_probe=True,
    )
    affected = batch_df.select(key).dropDuplicates()
    while True:
        # the rebuild is re-derived INSIDE the retry loop: a lost CAS
        # means another writer committed (possibly having merged more
        # observations for our keys) — retrying with a rebuild pinned
        # to the pre-conflict obs snapshot would clobber their rows.
        # Single-maintenance-writer deployments take this branch never;
        # the loop just makes the concurrent case re-derive instead of
        # silently losing data (the compact_files discipline).
        rebuilt = scd2_ops.scd2_history(
            txn.snapshot(spark, obs_table).join(affected, key, "left_semi"),
            key, ts_col, attr_cols, tiebreak,
        )
        v = txn.current_version(history_table)
        if v >= 0:
            untouched = txn.snapshot(spark, history_table).join(
                affected, key, "left_anti"
            )
            new_hist = untouched.unionByName(rebuilt)
        else:
            new_hist = rebuilt
        # carry forward whatever maintenance recorded (compaction
        # watermarks etc.) — an overwrite must never drop meta; the
        # watermark is monotone (max) so a CAS retry that carries a
        # concurrent writer's NEWER stamp forward can never regress it
        meta = dict(txn.table_meta(history_table))
        if batch_id is not None:
            meta["scd2_through"] = max(
                int(batch_id), int(meta.get("scd2_through", -1))
            )
        try:
            txn.overwrite(
                new_hist, history_table, meta=meta, expected_version=v,
            )
            return
        except txn.ConcurrentWriteError:
            continue  # a concurrent commit landed: re-derive and retry


def _scd2_bucket_expr(key: str, n_buckets: int):
    # deterministic, engine-stable key->bucket map (xxhash64 is seeded
    # content hash — no JVM-session dependence; pmod keeps it
    # non-negative). ANY reader/writer pair must agree on this exact
    # expression, which is why it is factored here and n_buckets is
    # validated against each bucket table's recorded meta.
    return F.pmod(F.xxhash64(F.col(key).cast("string")), F.lit(n_buckets)).cast(
        "int"
    )


def _scd2_layout_check(history_root: str, n_buckets: int) -> None:
    """Record the bucket-layout constant ONCE at the history root
    (O_EXCL — first writer wins) and validate every later apply
    against it. The per-bucket meta check alone has a hole: a drifted
    caller whose keys hash into never-created bucket ids sees empty
    meta, skips validation, and silently commits a SECOND copy of
    those keys' history into new bucket tables while the stale copy
    stays behind — the union reader would then return duplicate
    SCD2 intervals with no error (round-8 review finding)."""
    import json

    os.makedirs(history_root, exist_ok=True)
    p = os.path.join(history_root, "_scd2_layout.json")
    if not os.path.exists(p):
        # Crash-atomic first write (round-8 advice): O_CREAT|O_EXCL
        # then write left a window where a crash produced an EMPTY
        # layout file, wedging every later apply with a raw
        # JSONDecodeError forever. Write the full payload to a temp
        # file, fsync, and os.link it into place — link is atomic and
        # first-writer-wins (the txn._try_commit discipline), so the
        # visible file is always complete.
        import uuid

        # uuid, not pid: two hosts sharing the history root can collide
        # on pid and truncate each other's temp mid-write (round-9
        # review — the _try_commit staging discipline)
        tmp = f"{p}.tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"n_buckets": int(n_buckets)}, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, p)
        except FileExistsError:
            pass  # concurrent writer won the race; validate against theirs
        finally:
            os.unlink(tmp)
    try:
        with open(p) as f:
            stored = int(json.load(f)["n_buckets"])
    except (ValueError, KeyError, OSError, TypeError) as e:
        # a corrupt/unreadable layout (e.g. left by a pre-fix crash)
        # gets an actionable repair message, not a permanent wedge
        # (TypeError covers {"n_buckets": null} -> int(None))
        raise ValueError(
            f"{p} is unreadable ({e!r}); repair: delete it and re-run "
            "one apply with the ORIGINAL n_buckets — the bucket=NNNNN "
            f"directories under {history_root} record the laid-out ids"
        ) from e
    if stored != int(n_buckets):
        raise ValueError(
            f"{history_root} was laid out with n_buckets={stored}, "
            f"called with {n_buckets} — a drifted bucket count would "
            "mis-route keys into duplicate history tables"
        )


def _scd2_bucket_table(history_root: str, b: int) -> str:
    return os.path.join(history_root, f"bucket={b:05d}")


# A wide obs-merge batch (backfill/seed) stages its files in contiguous
# groups of at most this many buckets, so no file's zone-map entry ever
# spans the whole bucket space (which would make every later probe read
# it). 8 keeps a 256-bucket seed at 32 groups — one-off write cost —
# while a steady-state micro-batch (touched <= 8) stays at ONE group.
SCD2_OBS_FILE_BUCKET_SPAN = 8


def _scd2_obs_files_for(obs_table: str, buckets: list) -> list[str]:
    """The obs-log data files that can contain observations of keys in
    ``buckets``, per the file->bucket-list zone map the obs merge
    records in commit meta (``scd2_file_buckets``). A file WITHOUT an
    entry — a pre-zone-map (round-8) file, or one rewritten by generic
    maintenance like compact_files — is conservatively included: an
    entry, when present, is always a superset of the buckets of the
    rows in its file, so pruning on it is lossless."""
    _v, names, meta = txn.snapshot_info(obs_table)
    fmap = meta.get("scd2_file_buckets", {})
    want = set(int(b) for b in buckets)
    return [
        os.path.join(obs_table, f)
        for f in names
        if f not in fmap or want & set(fmap[f])
    ]


def _scd2_obs_read(spark, obs_table: str, buckets: list) -> DataFrame:
    """ONE flat parquet read over the obs files overlapping
    ``buckets`` — the rebuild stops paying a full-changelog scan per
    apply (an affected key's observations only live in files whose
    zone-map entry covers its bucket, or in unmapped files)."""
    return spark.read.parquet(*_scd2_obs_files_for(obs_table, buckets))


def _scd2_stage_grouped(
    frame: DataFrame, buckets: list, n_rows: int, table: str
) -> tuple[list[str], dict[str, list[int]]]:
    """Stage ``frame`` (carrying a ``_bucket`` column) into contiguous
    groups of at most SCD2_OBS_FILE_BUCKET_SPAN buckets and return
    (staged file names, exact file->bucket-list zone-map entries) —
    the ONE kernel both the obs merge and scd2_obs_compact stage
    through, so the grouping rule and map shape cannot drift apart
    (the superset invariant is shared between writer and compactor).
    Each group's file count comes from its OWN row count: the old
    uniform ceil(n_rows / n_groups) budget let a skewed batch (one
    hot bucket) stage a single oversized file for the hot group while
    the other groups wrote near-empty ones (round-9 verdict perf nit).
    Multi-group staging pays one bounded count job (collects at most
    len(buckets) rows); the single-group fast path — every routine
    narrow batch — stays job-free as before. A group with zero rows
    stages no file and gets no zone-map entry (no file, nothing to
    prune)."""
    span = SCD2_OBS_FILE_BUCKET_SPAN
    groups = [buckets[i : i + span] for i in range(0, len(buckets), span)]
    staged: list[str] = []
    fmap: dict[str, list[int]] = {}
    if len(groups) == 1:
        got = txn._stage(
            frame.drop("_bucket").coalesce(txn.files_for_rows(n_rows)), table
        )
        for f in got:
            fmap[f] = sorted(int(b) for b in groups[0])
        return got, fmap
    counts = {
        int(r["_bucket"]): int(r["n"])
        for r in frame.groupBy("_bucket").agg(F.count("*").alias("n")).collect()  # collect-bound: per-bucket counts <= n_buckets rows
    }
    for g in groups:
        g_rows = sum(counts.get(int(b), 0) for b in g)
        if g_rows == 0:
            continue
        part = frame.filter(F.col("_bucket").isin(g))
        got = txn._stage(
            part.drop("_bucket").coalesce(txn.files_for_rows(g_rows)), table
        )
        staged += got
        for f in got:
            fmap[f] = sorted(int(b) for b in g)
    return staged, fmap


def _scd2_obs_merge(
    spark,
    batch: DataFrame,
    obs_table: str,
    key_cols: list,
    touched: list,
    max_retries: int = 20,
) -> None:
    """txn.merge_keyed's zone-mapped sibling for the SCD2 obs log: ONE
    commit per batch (vs a commit per touched bucket — latency-bound
    at wide rounds), with two pruning payoffs recorded/used here:

    - the insert-only anti-join probes ONLY obs files overlapping the
      batch's touched buckets (a conflicting key's rows cannot live
      anywhere else, by the zone-map superset invariant);
    - each staged file's commit meta records the batch's exact touched
      bucket list, which is a superset of its rows' buckets — the
      rebuild scan and later probes prune on it.

    Wide batches (a backfill/seed touching many buckets) stage in
    contiguous groups of at most SCD2_OBS_FILE_BUCKET_SPAN buckets —
    else one seed's files would span every bucket and its entries
    would prune nothing forever after. Stale map entries self-heal:
    the map is re-pruned to the manifest at each commit, and files
    introduced by generic maintenance (compact_files/overwrite)
    simply have no entry = never pruned. Uses txn's staging/commit
    internals — same package, same commit protocol, only the probe
    scope and meta differ."""
    # PRECONDITION: ``batch`` is key-unique — the apply dedupes
    # within-batch duplicates BEFORE persisting (txn.merge_keyed's
    # dropDuplicates semantics; without it two same-key observations
    # in one micro-batch would both enter the changelog forever and
    # the bucketed history would diverge from the snapshot writer's —
    # round-9 review). Deduping there, under the cache, pays the
    # exchange once instead of once per probe/stage action here.
    for _ in range(max_retries):
        v, names, meta = txn.snapshot_info(obs_table)
        remaining = batch
        if v >= 0:
            probe_files = _scd2_obs_files_for(obs_table, touched)
            if probe_files:
                seen = (
                    spark.read.parquet(*probe_files)
                    .select(*key_cols)
                    .dropDuplicates(key_cols)
                )
                # micro-batch-bounded by the API contract (callers
                # chunk backfills): batch keys broadcast, probe side
                # semi-joined down before broadcasting back — the obs
                # log never shuffles for the probe
                bkeys = F.broadcast(
                    batch.select(*key_cols).dropDuplicates(key_cols)
                )
                pcond = None
                for c in key_cols:
                    e = seen[c].eqNullSafe(bkeys[c])
                    pcond = e if pcond is None else (pcond & e)
                seen = F.broadcast(seen.join(bkeys, on=pcond, how="left_semi"))
                cond = None
                for c in key_cols:
                    e = batch[c].eqNullSafe(seen[c])
                    cond = e if cond is None else (cond & e)
                remaining = batch.join(seen, on=cond, how="left_anti")
        remaining = remaining.persist()
        try:
            n_new = remaining.count()
            if n_new == 0:
                return
            staged, fmap_new = _scd2_stage_grouped(
                remaining, touched, n_new, obs_table
            )
        finally:
            remaining.unpersist()
        new_meta = dict(meta)
        live = set(names)
        fmap = {
            f: sorted(int(b) for b in bl)
            for f, bl in meta.get("scd2_file_buckets", {}).items()
            if f in live  # drop entries for vacuumed files
        }
        fmap.update(fmap_new)
        new_meta["scd2_file_buckets"] = fmap
        if txn._try_commit(obs_table, v + 1, names + staged, new_meta):
            return
    raise txn.ConcurrentWriteError(
        f"obs merge on {obs_table} lost {max_retries} CAS races"
    )


def scd2_obs_compact(
    spark, obs_table: str, history_root: str, key: str, n_buckets: int
) -> tuple[int, int]:
    """Zone-map-PRESERVING compaction for the SCD2 obs log. Generic
    txn.compact_files keeps every row but writes unmapped files, which
    the conservative reader must always include — one generic OPTIMIZE
    pass silently degrades every later probe and rebuild back to a
    full-log read. This pass rewrites the snapshot bucket-grouped
    (the obs merge's <=SCD2_OBS_FILE_BUCKET_SPAN contiguous grouping)
    and commits a FRESH exact map with the files: pruning is restored
    and the file count re-bounded at ~populated_buckets/span groups, each
    sized by the uniform per-group row budget, however many micro-batch
    commits accreted. Commit meta (the append fence, scd2 watermarks)
    carries forward — rows are preserved, so the fence stays valid.

    ``n_buckets`` is validated against the history root's recorded
    layout first: map entries written under a DRIFTED bucket count
    would make readers prune away files that still hold their keys —
    silent missing-observation corruption, the exact class the layout
    stamp exists to stop. Run with no concurrent compactor, like
    txn.vacuum; concurrent writers are safe (lost CAS -> rebase)."""
    _scd2_layout_check(history_root, n_buckets)
    for _ in range(20):
        v, names, meta = txn.snapshot_info(obs_table)
        if v < 0:
            return (0, 0)
        snap = (
            txn.snapshot(spark, obs_table, version=v)
            .withColumn("_bucket", _scd2_bucket_expr(key, n_buckets))
            .persist()
        )
        try:
            n_total = snap.count()
            present = sorted(
                r._bucket
                for r in snap.select("_bucket").dropDuplicates().collect()  # collect-bound: distinct buckets <= n_buckets
            )
            staged, fmap = _scd2_stage_grouped(
                snap, present, n_total, obs_table
            )
            new_meta = dict(meta)
            new_meta["scd2_file_buckets"] = fmap
            if txn._try_commit(obs_table, v + 1, staged, new_meta):
                # the obs log's only maintenance slot doubles as its
                # orphan-staging GC (merge lost-race/crash leavings)
                txn.vacuum_orphans(obs_table, min_age_s=GATE_ORPHAN_AGE_S)
                return (len(names), len(staged))
        finally:
            snap.unpersist()
        # lost the race: a writer landed v+1 — rebase on its snapshot
    raise RuntimeError(
        f"scd2_obs_compact: gave up after 20 attempts on {obs_table}"
    )


def _scd2_run_per_bucket(fn, buckets: list) -> None:
    """Bucket tables are independent commit domains, and each job is a
    small filtered write against a cached frame — run them concurrently
    (Spark job submission is thread-safe; a wide-batch round is
    otherwise LATENCY-bound on n_buckets sequential tiny jobs, measured
    11.2 s -> ~2 s for 32 buckets at the micro-bench scale). Thread
    count bounded: each job is already parallel inside. pool.map is
    materialized to surface the first worker exception."""
    if len(buckets) == 1:
        fn(buckets[0])
        return
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(8, len(buckets))) as pool:
        list(pool.map(fn, buckets))




def scd2_bucket_tables(history_root: str) -> list[str]:
    """Existing bucket tables under ``history_root``, sorted."""
    try:
        names = os.listdir(history_root)
    except OSError:
        return []
    return [
        os.path.join(history_root, n)
        for n in sorted(names)
        if n.startswith("bucket=")
    ]


def scd2_bucketed_history(
    spark, history_root: str, buckets: list | None = None
) -> DataFrame | None:
    """The bucketed SCD2 history as one DataFrame (None when no bucket
    has committed yet): the union of the per-bucket txn tables.
    ``buckets`` prunes the read to the named bucket ids — the
    fact-side enrichment path computes the fact keys' buckets with the
    shared expression and touches ONLY those tables (partition pruning
    by construction, no full-history scan)."""
    tables = scd2_bucket_tables(history_root)
    if buckets is not None:
        want = {f"bucket={int(b):05d}" for b in buckets}
        tables = [t for t in tables if os.path.basename(t) in want]
    frames = []
    for t in tables:
        snap = txn.snapshot(spark, t)
        if snap is not None:
            frames.append(snap)
    if not frames:
        return None
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def scd2_apply_batch_bucketed(
    batch_df: DataFrame,
    obs_table: str,
    history_root: str,
    key: str,
    ts_col: str,
    attr_cols: list,
    tiebreak: str | None = None,
    batch_id: int | None = None,
    n_buckets: int = 16,
) -> None:
    """The FACT-SCALE variant of :func:`scd2_apply_batch` (round 8 —
    the named-but-unbuilt path from that docstring): the history lives
    as ``n_buckets`` independent txn tables keyed by
    pmod(xxhash64(key), n_buckets), and one maintenance round rewrites
    ONLY the buckets containing this batch's affected keys — rewrite
    cost is proportional to affected buckets, not to history size,
    which is the difference between a dimension-sized snapshot swap
    and a table that scales with the fact volume.

    Semantics are bit-for-bit those of the snapshot writer: after
    every round, union(bucket tables) == scd2_history(every
    observation ever ingested) — the same rebuild-invariant, pinned by
    the same test pattern. The observation LOG stays ONE keyed table
    (the changelog — append-only, no rewrites, byte-compatible with
    round 8), but its commits now carry a file->bucket-list ZONE MAP
    (round 9, ``scd2_file_buckets`` in commit meta): each staged file
    records the touched buckets of its batch, so both the merge's
    insert-only probe and the rebuild scan read ONLY the files whose
    buckets overlap this round's — not the whole changelog. Without
    this, the history rewrite was touched-bucket-proportional but
    every apply still paid a full log scan, the term that dominates
    once the log outgrows one round's delta (BENCH_scd2_r09: the
    one-key apply was obs-scan-bound). Pre-map files — a round-8 log,
    or files rewritten by generic maintenance — have no entry and are
    conservatively always read: no migration, degraded pruning only.
    The late-arrival resurrection argument in scd2_apply_batch's
    docstring is unchanged (a key's observations all live in files
    covering its bucket, so the rebuild still re-windows affected
    keys against their full observation set).

    Exactly-once is PER BUCKET: each bucket table carries its own
    ``scd2_through`` watermark, so a crash midway through the bucket
    loop replays into keyed-merge no-ops plus rebuilds of exactly the
    buckets that missed their commit (each bucket's history is a pure
    function of the log restricted to its keys — per-bucket rebuilds
    are idempotent). The obs merge lands BEFORE any history commit, so
    a bucket's watermark never advances past observations that did not
    reach the log. The rebuild itself runs as ONE window job over the
    pending buckets' affected keys (persisted), then slices per bucket
    — N affected buckets cost N cheap filtered writes against the
    cached frame, not N window passes.

    ``n_buckets`` is a layout constant: it is recorded ONCE at the
    history root (_scd2_layout_check — covers buckets that do not
    exist yet) and in every bucket table's meta, and validated on
    each apply (a drifted caller would silently mis-route keys into
    duplicate history tables)."""
    from ..operators import scd2 as scd2_ops

    spark = batch_df.sparkSession
    _scd2_layout_check(history_root, n_buckets)
    extra = [tiebreak] if tiebreak else []
    obs_cols = list(dict.fromkeys([key, ts_col, *attr_cols, *extra]))
    batch = (
        batch_df.select(*obs_cols)
        # key-unique under the cache: _scd2_obs_merge's stated
        # precondition (merge_keyed's within-batch dedup semantics)
        .dropDuplicates([key, ts_col, *extra])
        .withColumn("_bucket", _scd2_bucket_expr(key, n_buckets))
        .persist()
    )
    affected = batch.select(key).dropDuplicates().persist()
    try:
        # the affected-bucket list is tiny by construction (<= distinct
        # dim keys in one micro-batch, capped at n_buckets)
        touched = sorted(
            r._bucket
            for r in batch.select("_bucket").dropDuplicates().collect()  # collect-bound: distinct buckets of one micro-batch <= n_buckets
        )
        # ONE zone-mapped obs commit for the whole batch (keyed —
        # replay is a no-op), landing before any history commit so a
        # bucket's scd2_through watermark never outruns the log
        _scd2_obs_merge(
            spark, batch, obs_table, [key, ts_col, *extra], touched
        )
        pending = []
        for b in touched:
            bt = _scd2_bucket_table(history_root, b)
            meta = txn.table_meta(bt)
            if meta and int(meta.get("scd2_n_buckets", n_buckets)) != n_buckets:
                raise ValueError(
                    f"{bt} was written with n_buckets="
                    f"{meta['scd2_n_buckets']}, called with {n_buckets}"
                )
            if batch_id is not None and batch_id <= meta.get("scd2_through", -1):
                continue  # this bucket already committed this batch
            pending.append(b)
        if not pending:
            return
        # ONE key-partitioned window pass over every affected key's
        # observations, sliced per bucket from the cache below. The
        # scan reads ONLY the pending buckets' obs files (one flat
        # parquet read over their manifests) — a key's observations
        # live entirely in its bucket, so this is lossless, and the
        # apply stops paying a full-changelog scan per round.
        rebuilt = (
            scd2_ops.scd2_history(
                _scd2_obs_read(spark, obs_table, pending).join(
                    affected, key, "left_semi"
                ),
                key, ts_col, attr_cols, tiebreak,
            )
            .withColumn("_bucket", _scd2_bucket_expr(key, n_buckets))
            .persist()
        )
        def commit_bucket(b: int) -> None:
            bt = _scd2_bucket_table(history_root, b)
            while True:
                v = txn.current_version(bt)
                slice_b = rebuilt.filter(F.col("_bucket") == b).drop("_bucket")
                if v >= 0:
                    untouched = txn.snapshot(spark, bt).join(
                        affected, key, "left_anti"
                    )
                    new_hist = untouched.unionByName(slice_b)
                else:
                    new_hist = slice_b
                meta = dict(txn.table_meta(bt))
                meta["scd2_n_buckets"] = n_buckets
                if batch_id is not None:
                    meta["scd2_through"] = max(
                        int(batch_id), int(meta.get("scd2_through", -1))
                    )
                try:
                    txn.overwrite(new_hist, bt, meta=meta, expected_version=v)
                    return
                except txn.ConcurrentWriteError:
                    continue  # same re-derive rule as the snapshot writer

        try:
            rebuilt.count()
            _scd2_run_per_bucket(commit_bucket, pending)
        finally:
            rebuilt.unpersist()
    finally:
        affected.unpersist()
        batch.unpersist()


def scd2_bucketed_pipeline(
    observations: DataFrame,
    obs_table: str,
    history_root: str,
    checkpoint: str,
    key: str,
    ts_col: str,
    attr_cols: list,
    tiebreak: str | None = None,
    n_buckets: int = 16,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Continuously-maintained BUCKETED SCD2 history — the fact-scale
    form of :func:`scd2_pipeline` (see
    :func:`scd2_apply_batch_bucketed`)."""

    sink = lambda b, i: scd2_apply_batch_bucketed(  # noqa: E731
        b, obs_table, history_root, key, ts_col, attr_cols, tiebreak, i, n_buckets
    )
    return _start(observations.writeStream.foreachBatch(sink), checkpoint, trigger)


def scd2_pipeline(
    observations: DataFrame,
    obs_table: str,
    history_table: str,
    checkpoint: str,
    key: str,
    ts_col: str,
    attr_cols: list,
    tiebreak: str | None = None,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Continuously-maintained SCD2 dimension history: the engine-grade
    upgrade of the reference's LWW-only dim cache (UserInfoApp ->
    Redis KV; streaming/sinks.py:merge_last_write_wins reproduces
    that). LWW answers "what is the value NOW"; this table answers
    "what was the value WHEN THE FACT HAPPENED" — composing with
    asof_lookup (operators/scd2.py) for point-in-time-correct
    enrichment, continuously, with late/out-of-order dim updates
    handled exactly (see :func:`scd2_apply_batch`)."""

    sink = lambda b, i: scd2_apply_batch(  # noqa: E731
        b, obs_table, history_table, key, ts_col, attr_cols, tiebreak, i
    )
    return _start(observations.writeStream.foreachBatch(sink), checkpoint, trigger)



def dsir_gate_pipeline(
    docs: DataFrame,
    weights: DataFrame,
    out_path: str,
    checkpoint: str,
    threshold_micro: int = 0,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Importance-score each arriving document against a FROZEN DSIR
    weight table as it is ingested — the streaming form of
    ext_dsir_sample's selection step: train the hashed-unigram weights
    offline once (operators/importance.py:dsir_weights), then gate the
    continuous feed on them.

    Stream-static shape (the decontamination_pipeline discipline): the
    weight table is bounded at B rows BY CONSTRUCTION, broadcast into
    every micro-batch, and scores are per-document — so the gate needs
    NO streaming state, streaming output ≡ batch dsir_scores on the
    same rows by construction, and the doc_id-keyed idempotent sink
    makes replays no-ops. Documents whose every token hashes to an
    unseen bucket (impossible against a weight table trained on any
    real pool, but reachable on a cold start) score 0 rather than
    vanishing. ``admitted`` is a FLAG, not a filter — routing is the
    consumer's policy decision, the gate only scores (the decontam
    convention); scores are exact BIGINT micro-nats, so the flag is
    engine- and replay-stable."""
    from ..operators import importance as imp_ops

    def flag(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.select("doc_id")
            .join(imp_ops.dsir_scores(batch_df, weights), "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("score_micro", F.lit(0)).cast("long").alias(
                    "score_micro"
                ),
            )
            .withColumn(
                "admitted",
                (F.col("score_micro") >= F.lit(threshold_micro)).cast("int"),
            )
        )

    sink = _keyed_sink(out_path, ["doc_id"], transform=flag)
    return _start(docs.writeStream.foreachBatch(sink), checkpoint, trigger)


def quality_gate_pipeline(
    docs: DataFrame,
    out_path: str,
    counts_table: str,
    checkpoint: str,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Continuous quality gating: score each arriving document with the
    Gopher rule suite (operators/text.py:gopher_rules) AND the hashed
    linear classifier (hashed_classifier_score) as it is ingested, and
    keep per-batch drop accounting exactly-once — the heuristic-rules-
    then-classifier cascade every curation pipeline runs, as a
    streaming stage (the reference's per-channel monitoring counts,
    streaming/sinks.py:301 analog, upgraded to per-rule counts in a
    txn table).

    Stateless stream-static shape (the dsir_gate discipline): both
    scorers are narrow per-row expressions, so streaming output ≡ the
    batch operators on the same rows BY CONSTRUCTION and the gate
    needs no streaming state. ``admitted`` (rules pass AND classifier
    score >= 0) is a FLAG, not a filter — routing is the consumer's
    policy (the decontam convention). The doc sink is doc_id-keyed
    idempotent append; the monitoring counts commit behind
    ``txn.append_new``'s batch fence, so a replayed batch updates
    neither."""
    from ..operators.text import gopher_rules, hashed_classifier_score

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        flagged = gopher_rules(batch_df).withColumn(
            "score_sum", hashed_classifier_score("text")
        )
        rules = sorted(c for c in flagged.columns if c.startswith("fail_"))
        # ONE persisted scoring pass feeds both the doc sink and the
        # rule counts — the fail_* columns ride along and are dropped
        # before the append (re-deriving `flagged` would re-run the
        # rules + classifier, the batch's dominant cost, per batch)
        out = flagged.select(
            "doc_id",
            *rules,
            F.col("keep").cast("int").alias("rules_keep"),
            F.col("score_sum"),
            (F.col("keep") & (F.col("score_sum") >= 0)).cast("int").alias(
                "admitted"
            ),
        ).persist()
        try:
            idempotent_append(
                out.drop(*rules), out_path, key_cols=["doc_id"],
                partition_cols=None, batch_id=batch_id,
            )
            agg = out.agg(
                *[
                    F.coalesce(F.sum(r), F.lit(0)).cast("long").alias(r)
                    for r in rules
                ],
            )
            pairs = ", ".join(f"'{r[5:]}', {r}" for r in rules)
            rule_counts = agg.selectExpr(
                f"stack({len(rules)}, {pairs}) as (rule, n_docs)"
            )
            admitted = out.agg(
                F.coalesce(F.sum("admitted"), F.lit(0))
                .cast("long")
                .alias("n_docs")
            ).select(F.lit("admitted").alias("rule"), "n_docs")
            counts = (
                rule_counts.unionByName(admitted)
                .withColumn("batch_id", F.lit(batch_id).cast("long"))
                .select("batch_id", "rule", "n_docs")
            )
            # probe-free insert: counts are keyed by THIS batch id and
            # the row count is the known rule set (+1 admitted row)
            txn.append_new(
                counts, counts_table, batch_id, n_rows=len(rules) + 1
            )
        finally:
            out.unpersist()

    return _start(docs.writeStream.foreachBatch(sink), checkpoint, trigger)


def divergence_monitor_pipeline(
    docs: DataFrame,
    ref: DataFrame,
    counts_table: str,
    checkpoint: str,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Continuous distribution-drift monitoring: per micro-batch and
    per source, the Jensen-Shannon divergence of the arriving tokens
    against a FROZEN reference distribution
    (operators/vocab.py:reference_divergence) — the streaming form of
    ext_source_divergence, and the alarm wire for the failure mode
    that entry measures offline: a source whose JSD jumps between
    batches just changed language, template, or encoding mid-crawl.

    Stream-static shape (the dsir_gate discipline): the reference is
    a V-row broadcast frozen offline (vocab_distribution of a trusted
    snapshot), per-batch JSD is a pure function of the batch + the
    reference, so the monitor needs NO streaming state and streaming
    output ≡ the batch operator on the same rows by construction. Replays
    are fenced by ``txn.append_new``'s batch watermark before any job
    runs; rows are (batch_id, source, n_tokens, jsd4) — a partials
    table (:func:`_partials_sink`) that is never compacted. Like every
    monitor here it OBSERVES, it does not gate — routing on a drift
    alarm is the consumer's policy (the decontam convention).
    """
    from ..operators import vocab as vocab_ops

    sink = _partials_sink(
        counts_table, None, None,
        lambda b: vocab_ops.reference_divergence(b, ref).select(
            "source", "n_tokens", "jsd4"
        ),
    )
    return _start(docs.writeStream.foreachBatch(sink), checkpoint, trigger)
