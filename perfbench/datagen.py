"""Seeded generators for every input the benchmark feeds the package.

``fixture_tables`` writes the ten batch tables the registry, the
serving-table build and the gates read (same names, columns and types
as the package's fixture schemas, one parquet file each). Row counts
scale with ``sf`` the way the published fixtures do: at sf=0.01 there
are 15k orders, 60k line items and 10k events.

``topic_schedule`` plans the ingest workload's open-loop chunk files:
Poisson-timed, time-ordered JSON-lines chunks for the events, orders,
order-details and user-CDC topics, with event time advancing with the
schedule so watermarks move and windows close during a run.

The same seed always gives the same bytes.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window spark part "
    "group big sort query fast"
).split()
ADJ = ["small", "red", "old", "cold", "hot", "new", "large", "blue"]
NOUN = ["ring", "widget", "bolt", "anvil", "plate", "gear", "rod", "nut"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
LANGS = (["en"] * 44) + (["fr"] * 13) + (["zh"] * 15) + (["de"] * 14) + (["es"] * 14)
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
# fixture event type -> the reference's event vocabulary (EventLog.evid)
EVID = {
    "purchase": "coupon",
    "click": "clickItem",
    "view": "addCart",
    "signup": "addFavor",
    "error": "addComment",
}

EPOCH = dt.datetime(1970, 1, 1)
DAY_US = 86_400 * 10**6


def _us(d: dt.datetime) -> int:
    return int((d - EPOCH).total_seconds()) * 10**6


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _docs_text(rng, n: int) -> list[str]:
    """Random documents; every 20th is a near-duplicate of an earlier
    original (a copy with " dup" appended, as the fixtures have), so the
    duplicate structure -- one pair per copy, no chains -- and with it
    the cost of the near-dup kernels is the same for every seed."""
    lens = rng.integers(8, 90, n)
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        if i % 20 == 19:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]] + " dup")
        else:
            originals.append(i)
            texts.append(" ".join(rng.choice(WORDS, int(lens[i]))))
    return texts


def fixture_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write region..embeddings under ``out_dir``; return rows per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(500, int(1_000_000 * sf))
    n_users = max(20, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    tables["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    d0 = _us(dt.datetime(1995, 1, 1))
    n_days = (dt.datetime(2001, 8, 1) - dt.datetime(1995, 1, 1)).days
    odate = d0 + rng.integers(0, n_days + 1, n_ord) * DAY_US
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    lok = rng.integers(0, n_ord, n_line)
    tables["lineitem"] = pa.table({
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": _ts(odate[lok] + rng.integers(1, 96, n_line) * DAY_US),
    })
    e0 = _us(dt.datetime(2024, 1, 1))
    ets = np.sort(e0 + rng.integers(0, 30 * DAY_US, n_ev))
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(ets),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": _money(rng, 0.01, 490.0, n_ev),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    texts = _docs_text(rng, n_docs)
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# ---------------------------------------------------------------------------
# ingest topics
# ---------------------------------------------------------------------------
TOPICS = ("events", "orders", "details", "users")
FRAUD_RATE = 0.5
FRAUD_DEVICES = 8
EVENT_BASE_MS = 1_704_067_200_000  # 2024-01-01 00:00:00 UTC


def _fmt_ms(ms: int) -> str:
    return (EPOCH + dt.timedelta(milliseconds=int(ms))).strftime("%Y-%m-%d %H:%M:%S")


def topic_schedule(seed: int, files_per_s: float, duration_s: float,
                   burst_files: int, rows_per_file: int, n_users: int,
                   time_scale: float, burst_rows: int = 0, burst_due: float | None = None,
                   lead_files: int = 0):
    """Plan chunk files for the events, orders, order-details and
    user-CDC topics.

    Returns ``[(due_s, topic, records)]`` in due order. The first
    ``lead_files`` files are due at 0 and cycle through the kinds (so
    every topic has data before a run's timed phase); the steady phase
    after them is a Poisson process of ``files_per_s`` over three file kinds
    (events, orders, users); every orders file brings a details file
    with the same due time whose lines fall within the join's 10 s
    window of their order. ``burst_files`` more files all fall due at
    ``duration_s`` (the catch-up phase). Event time is
    ``EVENT_BASE_MS + due_s * time_scale`` plus a sub-file jitter, so it
    advances with the schedule and every topic stays time-ordered.
    Devices are shared by about four users, and an events file carries,
    with probability ``FRAUD_RATE``, a coupon burst: three users on one
    of ``FRAUD_DEVICES`` devices that see no other traffic, which the
    alert pipeline must flag once its window closes.
    """
    rng = np.random.default_rng(seed)
    n_dev = max(4, n_users // 4)
    dues = [0.0] * lead_files
    t = 0.0
    while True:
        t += rng.exponential(1.0 / files_per_s)
        if t >= duration_s:
            break
        dues.append(t)
    n_steady = len(dues)
    dues += [float(duration_s if burst_due is None else burst_due)] * burst_files
    kinds = ("events", "orders", "users")
    plan = []
    order_seq = user_seq = 0
    last_ts = {k: 0 for k in kinds}
    for i, due in enumerate(dues):
        burst = i >= n_steady
        fixed = burst or i < lead_files
        kind = kinds[i % 3] if fixed else kinds[int(rng.integers(0, 3))]
        n = burst_rows if burst and burst_rows else rows_per_file
        base = max(EVENT_BASE_MS + int(due * time_scale), last_ts[kind] + 1)
        # strictly increasing within the file: no two lines share a time
        jitter = np.sort(rng.integers(0, max(1, int(min(time_scale * 0.05, 4000))), n)) + np.arange(n)
        last_ts[kind] = base + int(jitter[-1]) + 5000
        if kind == "events":
            recs = []
            for u, ty, j in zip(rng.integers(0, n_users, n), rng.choice(EVENT_TYPES, n), jitter):
                recs.append(_event(int(u) % n_dev, int(u), EVID[str(ty)], base + int(j)))
            if rng.random() < FRAUD_RATE:
                # three users of one otherwise quiet device take coupons
                dev = n_dev + int(rng.integers(0, FRAUD_DEVICES))
                for k, u in enumerate(rng.choice(n_users, 3, replace=False)):
                    recs.append(_event(dev, int(u), "coupon", base + int(jitter[-1]) + 1 + k))
            plan.append((due, "events", recs))
        elif kind == "orders":
            orders, details = [], []
            for j in jitter:
                oid = f"o{order_seq}"
                order_seq += 1
                ts = base + int(j)
                orders.append({
                    "id": oid, "user_id": str(int(rng.integers(0, n_users))),
                    "total_amount": round(float(rng.uniform(1, 2000)), 2),
                    "create_time": _fmt_ms(ts), "order_status": "1001",
                    "province_id": str(int(rng.integers(1, 35))), "ts": ts,
                })
                for k in range(int(rng.integers(1, 4))):
                    sku = int(rng.integers(0, 200))
                    details.append({
                        "id": f"{oid}-{k}", "order_id": oid, "sku_id": str(sku),
                        "sku_name": f"{ADJ[sku % 8]} {NOUN[(sku // 8) % 8]} phone",
                        "order_price": round(float(rng.uniform(1, 500)), 2),
                        "sku_num": int(rng.integers(1, 5)),
                        "ts": ts + int(rng.integers(0, 5000)),
                    })
            details.sort(key=lambda r: r["ts"])
            plan.append((due, "orders", orders))
            plan.append((due, "details", details))
        else:
            recs = []
            for j in jitter:
                uid = user_seq if user_seq < n_users else int(rng.integers(0, n_users))
                user_seq += 1
                recs.append(_user(rng, uid, base + int(j)))
            plan.append((due, "users", recs))
    return plan


def _event(dev: int, uid: int, evid: str, ts: int) -> dict:
    return {"mid": f"mid_{dev}", "uid": str(uid), "appid": "gmall2021", "area": "11",
            "os": "android", "ch": "huawei", "type": "event", "evid": evid,
            "pgid": "p1", "npgid": "p2", "itemid": str(uid % 97), "ts": ts}


def _user(rng, uid: int, op_ts: int) -> dict:
    return {"id": str(uid), "login_name": f"l{uid}",
            "user_level": str(int(rng.integers(1, 4))),
            "birthday": f"{int(rng.integers(1960, 2010))}-06-15",
            "gender": "M" if rng.random() < 0.5 else "F", "op_ts": op_ts}


def users_table(seed: int, n_users: int) -> pa.Table:
    """A complete user dimension (one row per user id)."""
    rng = np.random.default_rng(seed + 7)
    return pa.Table.from_pylist([_user(rng, u, EVENT_BASE_MS) for u in range(n_users)])


def write_jsonl(path: str, records: list) -> None:
    with open(path, "w") as f:
        f.write("".join(json.dumps(r) + "\n" for r in records))


# ---------------------------------------------------------------------------
# gate corpus
# ---------------------------------------------------------------------------
GATE_VOCAB = 2000


def gate_docs(seed: int, n_base: int, near_rate: float = 0.15,
              exact_rate: float = 0.05) -> list[dict]:
    """A mostly-novel document stream for the ingest gates.

    Base documents draw 40-80 tokens from a ``GATE_VOCAB``-word
    vocabulary, so distinct documents share almost nothing. Right after
    its source, a document gets a near-duplicate (one extra salt
    token, shingle Jaccard above 0.95) with probability ``near_rate``
    and an exact copy with probability ``exact_rate``; a copy therefore
    always lands in the same chunk as its source when the stream is cut
    between sources (see ``gate_chunks``).
    """
    rng = np.random.default_rng(seed + 11)
    docs: list[dict] = []

    def add(text: str, group: int) -> None:
        docs.append({"doc_id": len(docs), "text": text, "lang": "en",
                     "source": f"src{group % 20}", "n_chars": len(text), "group": group})

    for g in range(n_base):
        words = rng.integers(0, GATE_VOCAB, int(rng.integers(40, 81)))
        text = " ".join(f"w{w}" for w in words)
        add(text, g)
        if rng.random() < near_rate:
            add(f"{text} salt{g}", g)
        if rng.random() < exact_rate:
            add(text, g)
    return docs


def gate_chunks(docs: list[dict], n_chunks: int) -> list[list[dict]]:
    """Cut the stream into ``n_chunks`` doc_id-ordered chunks, only
    between a source and the next (never between a doc and its copy)."""
    n_groups = docs[-1]["group"] + 1
    per = -(-n_groups // n_chunks)
    chunks: list[list[dict]] = [[] for _ in range(n_chunks)]
    for d in docs:
        chunks[d["group"] // per].append({k: v for k, v in d.items() if k != "group"})
    return [c for c in chunks if c]


def resent_docs(docs: pa.Table, seed: int, n_chunks: int, rate: float = 0.1) -> list[list[dict]]:
    """The documents as an ingest stream of ``n_chunks`` doc_id-ordered
    chunks in which a crawler re-sends about ``rate`` of them: each
    re-send is an exact copy under a new doc_id, placed in its
    original's chunk or the next one."""
    rng = np.random.default_rng(seed + 13)
    rows = docs.to_pylist()
    per = -(-len(rows) // n_chunks)
    chunks = [rows[i * per:(i + 1) * per] for i in range(n_chunks)]
    next_id = len(rows)
    for c in range(n_chunks):
        for d in list(chunks[c]):
            if rng.random() < rate:
                target = min(n_chunks - 1, c + int(rng.integers(0, 2)))
                chunks[target].append(dict(d, doc_id=next_id))
                next_id += 1
    return chunks

