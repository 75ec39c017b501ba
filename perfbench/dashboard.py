"""``dashboard`` workload: open loop over the publisher endpoints.

Setup generates, from the seed, a week of topic files, a user dimension
and a document stream (with re-sent copies), and builds the serving
tables from them by running the ``dau``, ``gmv`` and ``sale_detail``
pipelines and the novelty ingest gate (whose admitted documents are
what ``search_documents`` searches): concurrently, ``availableNow``,
one file per trigger, so the tables have the layout the pipelines
write. The build runs in every run, so pipelines, sinks, txn and the
gate run inside ``setup_s``. The gate's admitted ids are checked
against its one-shot batch admit.

The timed phase issues requests at a fixed rate from at most ``cores``
client threads; every request opens the serving tables afresh, as a
publisher must to see newly landed files, and is timed from when it
was due. Each response is checked against DuckDB over the same
serving-table files.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os
import random
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from common import Ctx, now, quantile
import datagen

# About half the capacity measured with 4 client threads on 4 cores
# (2.4-2.7 req/s once warm, see workloads.json).
RATE_PER_S = 1.25
SF = 0.01
DAYS = 7
N_USERS = 400
FILES_PER_TOPIC = 1
DOC_CHUNKS = 2
DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
SEARCH_DEPTH = 50
SALE_PAGE = 5
SEARCH_PAGE = 10
DATES = [(dt.date(2024, 1, 1) + dt.timedelta(days=i)).isoformat() for i in range(DAYS)]
# Assumed, not measured: a live dashboard mostly asks for today, so each
# day back is asked for half as often as the day after it.
DATE_WEIGHTS = [2.0 ** -i for i in range(DAYS)]
SALE_WORDS = datagen.ADJ + datagen.NOUN + ["phone"]
# One block of requests, repeated. The four endpoints get equal weight
# (no source gives their mix): realtime_total and search_documents twice,
# realtime_hours once per metric, sale_detail once per order. The order
# is fixed, heavy and light requests alternating, so every run sees the
# same overlap between requests; the seed draws every parameter.
BLOCK_KINDS = ("search", "realtime_total", "hours_dau", "sale_id",
               "search", "realtime_total", "hours_amount", "sale_score")
BLOCK = len(BLOCK_KINDS)
WARM_BLOCKS = 2


# ---------------------------------------------------------------------------
# setup
# ---------------------------------------------------------------------------
def stage_topics(ctx: Ctx, sf_dir: str) -> dict:
    """Write the week's topic files, the user dim and the document
    stream; return their paths."""
    span_s = 600.0
    plan = datagen.topic_schedule(
        ctx.seed, files_per_s=0.5, duration_s=span_s, burst_files=0,
        rows_per_file=25, n_users=N_USERS, time_scale=DAYS * 86_400_000 / span_s,
    )
    by_topic: dict[str, list] = {}
    for _due, topic, recs in plan:
        by_topic.setdefault(topic, []).extend(recs)
    paths = {}
    for topic in ("events", "orders", "details"):
        recs = by_topic[topic]
        d = ctx.path("topics", topic)
        os.makedirs(d)
        step = math.ceil(len(recs) / FILES_PER_TOPIC)
        for i in range(FILES_PER_TOPIC):
            datagen.write_jsonl(os.path.join(d, f"part-{i:03d}.jsonl"), recs[i * step:(i + 1) * step])
        paths[topic] = d
    os.makedirs(ctx.path("dim"))
    pq.write_table(datagen.users_table(ctx.seed, N_USERS), ctx.path("dim", "users.parquet"))
    paths["dim"] = ctx.path("dim")
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    chunks = datagen.resent_docs(docs, ctx.seed, DOC_CHUNKS)
    d = ctx.path("topics", "documents")
    os.makedirs(d)
    for i, chunk in enumerate(chunks):
        p = os.path.join(d, f"part-{i:03d}.parquet")
        pq.write_table(pa.Table.from_pylist(chunk, schema=docs.schema), p)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))  # listing order = doc order
    paths["documents"] = d
    paths["sent"] = [r for c in chunks for r in c]
    return paths


def build_serving(ctx: Ctx, topics: dict) -> dict:
    from sparkstreaming_gmall_demo_spark import schemas
    from sparkstreaming_gmall_demo_spark.streaming import pipelines, sources
    from pyspark.sql import types as T

    spark = ctx.spark
    order_stream = T.StructType(schemas.ORDER_INFO.fields + [T.StructField("ts", T.LongType())])
    detail_stream = T.StructType(schemas.ORDER_DETAIL.fields + [T.StructField("ts", T.LongType())])

    def topic(name, schema, ts="ts"):
        raw = spark.readStream.option("maxFilesPerTrigger", 1).format("text").load(topics[name])
        return sources.parse_topic(raw.select("value"), schema, ts_from_millis=ts)

    out = {k: ctx.path("serving", k) for k in ("dau", "gmv", "sale", "docs")}
    docs = (spark.readStream.schema(DOC_SCHEMA).option("maxFilesPerTrigger", 1)
            .parquet(topics["documents"]))
    ck = lambda k: ctx.path("checkpoints", k)  # noqa: E731
    once = {"availableNow": True}
    queries = [
        pipelines.dau_pipeline(topic("events", schemas.STARTUP_LOG), out["dau"], ck("dau"), trigger=once),
        pipelines.gmv_pipeline(topic("orders", schemas.ORDER_INFO, None), out["gmv"], ck("gmv"), trigger=once),
        pipelines.sale_detail_pipeline(
            spark, topic("orders", order_stream), topic("details", detail_stream),
            topics["dim"], out["sale"], ck("sale"), trigger=once,
        ),
        pipelines.novelty_gate_pipeline(
            docs, ctx.path("doc_index"), out["docs"], ck("docs"), trigger=once,
            ttl_batches=1, compact_every=2,
        ),
    ]
    ctx.query_ids = {str(q.id): k for q, k in zip(queries, ("dau", "gmv", "sale_detail", "novelty"))}
    for q in queries:
        q.awaitTermination()
    pipelines.clear_dim_cache()
    return out


def check_gate(ctx: Ctx, docs_out: str, sent: list[dict]) -> int:
    """The gate's admitted doc ids equal its one-shot batch admit: the
    lowest doc_id per md5(lower(text)) over everything sent."""
    first: dict[str, int] = {}
    for d in sent:
        fp = hashlib.md5(d["text"].lower().encode()).hexdigest()
        first[fp] = min(first.get(fp, d["doc_id"]), d["doc_id"])
    got = {r[0] for r in duckdb.sql(
        f"SELECT doc_id FROM read_parquet('{docs_out}/*.parquet')").fetchall()}
    want = set(first.values())
    ctx.check(got == want, f"novelty gate: admitted {len(got)} vs one-shot {len(want)}; "
                           f"extra {sorted(got - want)[:5]} missing {sorted(want - got)[:5]}")
    return len(got)


def index_size(index_table: str) -> tuple[int, int]:
    """(rows, data files) of the gate index's current snapshot."""
    from sparkstreaming_gmall_demo_spark.streaming import txn

    _v, files, _meta = txn.snapshot_info(index_table)
    rows = sum(pq.ParquetFile(os.path.join(index_table, f)).metadata.num_rows for f in files)
    return rows, len(files)


# ---------------------------------------------------------------------------
# requests
# ---------------------------------------------------------------------------
def make_requests(seed: int, n: int, n_emb: int) -> list[tuple]:
    """``n`` requests: ``BLOCK_KINDS`` over and over, seeded parameters."""
    rng = random.Random(seed)
    reqs = []
    while len(reqs) < n:
        for kind in BLOCK_KINDS:
            date = rng.choices(DATES[::-1], DATE_WEIGHTS)[0]
            if kind.startswith("sale"):
                kw = " ".join(rng.sample(SALE_WORDS, rng.choice((1, 2))))
                reqs.append((kind, date, kw, rng.randint(1, 3)))
            elif kind == "search":
                kw = " ".join(rng.sample(datagen.WORDS[2:], rng.choice((1, 2, 3))))
                reqs.append((kind, None, kw, rng.randint(1, 2), rng.randrange(n_emb)))
            else:
                reqs.append((kind, date))
    return reqs[:n]


def call(ctx: Ctx, tables: dict, sf_dir: str, req: tuple):
    """Open the serving tables and call one endpoint."""
    from sparkstreaming_gmall_demo_spark import serving
    from sparkstreaming_gmall_demo_spark.sources.fixtures import load_table

    spark, tr, kind = ctx.spark, ctx.tracer, req[0]

    def open_(path):
        if tr is None:
            return spark.read.parquet(path)
        with tr.span("open", "sources"):
            return spark.read.parquet(path)

    if kind == "search":
        _, _, kw, page, vec = req
        docs = open_(tables["docs"])
        emb = load_table(spark, sf_dir, "embeddings")
        return serving.search_documents(docs, emb, kw, vec, page=page, size=SEARCH_PAGE, depth=SEARCH_DEPTH)
    if kind.startswith("sale"):
        _, date, kw, page = req
        return serving.sale_detail(open_(tables["sale"]), date, kw, page, SALE_PAGE, order=kind[5:])
    dau, gmv = open_(tables["dau"]), open_(tables["gmv"])
    if kind == "realtime_total":
        return serving.realtime_total(dau, gmv, req[1])
    return serving.realtime_hours(dau, gmv, "dau" if kind == "hours_dau" else "order_amount", req[1])


# ---------------------------------------------------------------------------
# expected responses (DuckDB over the same files)
# ---------------------------------------------------------------------------
def _tokens(s: str) -> list[str]:
    import re

    return [t for t in re.split(r"[\W_]+", s.lower()) if t]


class Oracle:
    def __init__(self, tables: dict, sf_dir: str):
        self.con = duckdb.connect()
        for k in ("dau", "gmv", "sale"):
            self.con.execute(
                f"CREATE VIEW {k} AS SELECT * FROM "
                f"read_parquet('{tables[k]}/**/*.parquet', hive_partitioning=true)"
            )
        self.con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tables['docs']}/*.parquet')")
        self.con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf_dir}/embeddings.parquet')")
        self.lock = threading.Lock()
        self.cache: dict = {}

    def q(self, sql: str):
        return self.con.execute(sql).fetchall()

    def expected(self, req: tuple):
        with self.lock:
            if req not in self.cache:
                self.cache[req] = self._expected(req)
            return self.cache[req]

    def _expected(self, req):
        kind = req[0]
        if kind == "realtime_total":
            d = req[1]
            n = self.q(f"SELECT count(*) FROM dau WHERE CAST(log_date AS DATE) = DATE '{d}'")[0][0]
            s = self.q(f"SELECT sum(total_amount) FROM gmv WHERE CAST(create_date AS DATE) = DATE '{d}'")[0][0]
            return [n, float(s) if s is not None else 0.0]
        if kind.startswith("hours"):
            d = req[1]
            y = (dt.date.fromisoformat(d) - dt.timedelta(days=1)).isoformat()
            if kind == "hours_dau":
                rows = self.q(f"SELECT CAST(log_date AS DATE), log_hour, count(*) FROM dau "
                              f"WHERE CAST(log_date AS DATE) IN (DATE '{d}', DATE '{y}') GROUP BY 1, 2")
            else:
                rows = self.q(f"SELECT CAST(create_date AS DATE), create_hour, sum(total_amount) FROM gmv "
                              f"WHERE CAST(create_date AS DATE) IN (DATE '{d}', DATE '{y}') GROUP BY 1, 2")
            out = {"today": {}, "yesterday": {}}
            for day, hour, v in rows:
                key = "today" if day.isoformat() == d else "yesterday"
                out[key][f"{int(hour):02d}"] = v if kind == "hours_dau" else float(v)
            return out
        if kind.startswith("sale"):
            return self._sale(req)
        return self._search(req)

    def _sale(self, req):
        kind, d, kw, page = req
        rows = self.q(f"SELECT sale_detail_id, sku_name, user_age, user_gender FROM sale "
                      f"WHERE dt = DATE '{d}'")
        terms = _tokens(kw)
        toks = {r[0]: _tokens(r[1] or "") for r in rows}
        hits = [r for r in rows if all(t in toks[r[0]] for t in terms)]
        total = len(hits)

        def ratio(n):
            return math.floor(n * 1000.0 / total + 0.5) / 10.0 if total else 0.0

        low = ratio(sum(1 for r in hits if r[2] is not None and r[2] < 20))
        up = ratio(sum(1 for r in hits if r[2] is not None and r[2] >= 30))
        male = ratio(sum(1 for r in hits if r[3] == "M"))
        stat = [low, math.floor((100.0 - low - up) * 10.0 + 0.5) / 10.0, up,
                male, math.floor((100.0 - male) * 10.0 + 0.5) / 10.0]
        if kind == "sale_score":
            df = {t: sum(1 for r in rows if t in toks[r[0]]) for t in terms}
            score = {r[0]: sum(toks[r[0]].count(t) * (10**6 // df[t]) for t in terms) for r in hits}
            hits.sort(key=lambda r: (-score[r[0]], r[0]))
        else:
            hits.sort(key=lambda r: r[0])
        start = (page - 1) * SALE_PAGE
        return [total, stat, [r[0] for r in hits[start:start + SALE_PAGE]]]

    def _search(self, req):
        _, _, kw, page, vec = req
        terms = _tokens(kw)
        tf = ",\n".join(f"len(list_filter(t, x -> x = '{w}'))::DOUBLE AS tf_{i}" for i, w in enumerate(terms))
        dfs = ",\n".join(f"sum((tf_{i} > 0)::INT)::DOUBLE AS df_{i}" for i in range(len(terms)))
        score = "\n + ".join(
            f"ln(1 + (n - df_{i} + 0.5) / (df_{i} + 0.5)) * (tf_{i} * 2.2 / (tf_{i} + 1.2 * (0.25 + 0.75 * dl / avgdl)))"
            for i in range(len(terms)))
        anyhit = " OR ".join(f"tf_{i} > 0" for i in range(len(terms)))
        sql = f"""
        WITH d AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\\p{{L}}\\p{{N}}]+'),
                          t -> t != '') AS t FROM documents),
        corpus AS (SELECT count(*)::DOUBLE AS n, avg(len(t))::DOUBLE AS avgdl FROM d),
        pt AS (SELECT doc_id, len(t)::DOUBLE AS dl, {tf} FROM d),
        dfs AS (SELECT {dfs} FROM pt),
        bm25 AS (SELECT doc_id, round({score}, 4) AS score FROM pt, corpus, dfs WHERE {anyhit}),
        sparse AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank_sparse
                   FROM (SELECT * FROM bm25 ORDER BY score DESC, doc_id LIMIT {SEARCH_DEPTH})),
        q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv FROM embeddings WHERE vec_id = {vec}),
        cos AS (SELECT vec_id AS doc_id, round(
                    list_inner_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), qv)
                    / (sqrt(list_inner_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                               list_transform(embedding, x -> CAST(x AS DOUBLE))))
                       * sqrt(list_inner_product(qv, qv))), 4) AS score
                FROM embeddings, q ORDER BY score DESC, doc_id LIMIT {SEARCH_DEPTH}),
        dense AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank_dense FROM cos),
        fused AS (SELECT COALESCE(s.doc_id, de.doc_id) AS doc_id, rank_sparse, rank_dense
                  FROM sparse s FULL OUTER JOIN dense de ON s.doc_id = de.doc_id)
        SELECT doc_id, round(COALESCE(1e0 / (60 + rank_sparse), 0)
                             + COALESCE(1e0 / (60 + rank_dense), 0), 6) AS rrf, rank_sparse, rank_dense
        FROM fused ORDER BY rrf DESC, doc_id LIMIT {SEARCH_DEPTH}
        """
        fused = self.q(sql)
        total = self.q(f"SELECT count(*) FROM ({sql.split('sparse AS')[0].rstrip().rstrip(',')} "
                       f"SELECT * FROM pt WHERE {anyhit})")[0][0]
        start = (page - 1) * SEARCH_PAGE
        hits = [(int(a), round(float(b), 6), c, e) for a, b, c, e in fused[start:start + SEARCH_PAGE]]
        return [total, hits]


def normalize(req: tuple, resp):
    kind = req[0]
    if kind == "realtime_total":
        return [resp[0]["value"], resp[2]["value"]] if resp[1]["value"] == 233 else None
    if kind.startswith("hours"):
        return resp
    if kind.startswith("sale"):
        stat = [o["value"] for s in resp["stat"] for o in s["options"]]
        return [resp["total"], stat, [r["sale_detail_id"] for r in resp["detail"]]]
    return [resp["total"], [(int(h["doc_id"]), round(float(h["rrf"]), 6), h["rank_sparse"],
                             h["rank_dense"]) for h in resp["hits"]]]


# ---------------------------------------------------------------------------
# run
# ---------------------------------------------------------------------------
def setup_serving(ctx: Ctx) -> tuple[dict, str, dict]:
    """Generate the inputs, build the serving tables with the pipelines
    and the gate, and check the gate. Returns the tables, the fixture
    directory and what the build did."""
    tr = ctx.tracer
    t = now()
    sf_dir = ctx.path("sf")
    datagen.fixture_tables(sf_dir, SF, ctx.seed)
    topics = stage_topics(ctx, sf_dir)
    ctx.stage_ms = (now() - t) * 1000.0
    if tr is None:
        tables = build_serving(ctx, topics)
    else:
        with tr.span("build_serving", "pipelines"):
            tables = build_serving(ctx, topics)
    built = {"n_sent": len(topics["sent"]),
             "n_admitted": check_gate(ctx, tables["docs"], topics["sent"]),
             "index": index_size(ctx.path("doc_index"))}
    return tables, sf_dir, built


def busy_s(intervals: list[tuple[float, float]]) -> float:
    """Seconds during which at least one of the intervals was open."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def run(ctx: Ctx) -> dict:
    ctx.start_session()
    tables, sf_dir, built = setup_serving(ctx)
    n_emb = pq.ParquetFile(os.path.join(sf_dir, "embeddings.parquet")).metadata.num_rows
    # warm-up, not timed: the build has loaded most classes; two blocks,
    # four at a time, load the query paths' own and start their JIT
    with ThreadPoolExecutor(max_workers=ctx.cores) as pool:
        list(pool.map(lambda r: call(ctx, tables, sf_dir, r),
                      make_requests(ctx.seed + 1, WARM_BLOCKS * BLOCK, n_emb)))
    t_setup = now()
    period = 1.0 / RATE_PER_S
    # the same number of requests, so the same mix, for the same seconds
    n_req = max(1, round(ctx.seconds * RATE_PER_S))
    reqs = make_requests(ctx.seed, n_req, n_emb)

    results: list = [None] * n_req
    late: list[float] = []
    queue: list[float] = []

    def one(i, due):
        start = now()
        queue.append(start - due)
        try:
            if ctx.tracer is None:
                resp = call(ctx, tables, sf_dir, reqs[i])
            else:
                with ctx.tracer.span("op", "client", tag=i):
                    resp = call(ctx, tables, sf_dir, reqs[i])
            results[i] = (start, now(), due, resp, None)
        except Exception as e:  # a failed request is counted, not raised
            results[i] = (start, now(), due, None, repr(e)[:300])

    t0 = now() + 0.05
    with ThreadPoolExecutor(max_workers=ctx.cores) as pool:
        futures = []
        for i in range(n_req):
            due = t0 + i * period
            wait = due - now()
            if wait > 0:
                time.sleep(wait)
            late.append(max(0.0, now() - due))
            futures.append(pool.submit(one, i, due))
        for f in futures:
            f.result()

    oracle = Oracle(tables, sf_dir)
    lat = []
    for req, (_start, end, due, resp, err) in zip(reqs, results):
        lat.append(end - due)
        if err is not None:
            ctx.check(False, f"{req}: {err}")
            continue
        got, want = normalize(req, resp), oracle.expected(req)
        ctx.check(got == want, f"{req}: got {str(got)[:300]} want {str(want)[:300]}")
    n_files = sum(
        1 for k in ("dau", "gmv", "sale", "docs") for _r, _d, fs in os.walk(tables[k])
        for f in fs if f.endswith(".parquet")
    )
    return {
        "setup_end": t_setup,
        "p50_ms": quantile(lat, 0.5) * 1000.0,
        "p90_ms": quantile(lat, 0.9) * 1000.0,
        # requests per second of time in which a request was in service:
        # the offered rate does not enter it, the service time does
        "work_per_s": n_req / busy_s([(r[0], r[1]) for r in results]),
        "ops": n_req,
        "layer": {
            "sources.serving_files": n_files,
            "load.late_p90_ms": quantile(late, 0.9) * 1000.0,
            "queue": queue,
            **built,
        },
    }
