"""Exhaustive boundary sweeps for the arithmetic-sensitive operators.

Instead of per-example round-trips, each sweep ships ALL cases through
one Spark job and compares against a pure-Python reference model —
thousands of cases per test at one job's cost.
"""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from sparkstreaming_gmall_demo_spark.functions import permille
from sparkstreaming_gmall_demo_spark.operators import pagination as page_ops
from sparkstreaming_gmall_demo_spark.operators.text import ROLLING_MOD, rolling_fingerprint


def test_permille_matches_java_math_round_exhaustively(spark):
    """permille must equal Java Math.round(cnt*1000D/total) = floor(x+0.5)
    for every cnt 0..total across awkward totals (odd, prime, huge)."""
    totals = [1, 2, 3, 7, 9, 11, 400, 997, 1000, 12345]
    cases = [(c, t) for t in totals for c in range(0, t + 1, max(1, t // 500))]
    df = spark.createDataFrame(cases, ["cnt", "total"])
    got = {
        (r.cnt, r.total): r.p
        for r in df.select("cnt", "total", permille("cnt", "total").alias("p")).collect()
    }
    for c, t in cases:
        want = int(math.floor(c * 1000.0 / t + 0.5))
        assert got[(c, t)] == want, (c, t)


def _py_rolling(text: str) -> int:
    import hashlib

    acc = 0
    for tok in text.split(" "):
        v = int(hashlib.md5(tok.encode()).hexdigest()[:7], 16)
        acc = (acc * 31 + v) % ROLLING_MOD
    return acc


def test_rolling_fingerprint_matches_python_model(spark):
    """Spark fold == pure-Python fold on adversarial token streams:
    repeats, order swaps, empty tokens, unicode."""
    texts = [
        "a", "a a", "a b", "b a",  # order-sensitivity
        "a a a a a a a a a a",
        " leading", "trailing ", "double  space",  # empty tokens from split
        "münchen 北京 café",
        "the quick brown fox jumps over the lazy dog",
    ] + [f"tok{i} tok{(i*7)%13} tok{(i*11)%17}" for i in range(200)]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = {r.text: r.rolling_fp for r in rolling_fingerprint(df).collect()}
    for t in texts:
        assert got[t] == _py_rolling(t), repr(t)


def test_pagination_partitions_the_ordered_stream(spark):
    """Pages must concatenate to exactly the ordered whole — no gaps,
    no overlaps, deterministic — for sizes that divide and don't."""
    rows = [(f"id{i:03d}", i) for i in range(20)]
    df = spark.createDataFrame(rows, ["event_id", "v"])
    want = sorted(r[0] for r in rows)
    for size in (1, 3, 7, 20, 50):
        seen: list = []
        p = 1
        while True:
            page = [
                r.event_id
                for r in page_ops.page(df, ["event_id"], p, size).collect()
            ]
            if not page:
                break
            seen.extend(page)
            p += 1
        assert seen == want, f"size={size}"


def _gen_event_stream(n_keys: int = 8, per_key: int = 60):
    """Deterministic adversarial event stream: clustered bursts, exact
    gap boundaries, same-instant ties, microsecond offsets."""
    import random

    rng = random.Random(42)
    rows = []
    rid = 0
    for k in range(n_keys):
        t = 1_700_000_000_000_000  # epoch micros
        for _ in range(per_key):
            step = rng.choice(
                [0, 1, 999_999, 1_000_000, 1_000_001, 5_000_000,
                 9_999_999, 10_000_000, 10_000_001, 60_000_000]
            )
            t += step
            rows.append((f"k{k}", t, rid))
            rid += 1
    return rows


def test_sessionize_batch_matches_python_model(spark):
    """Session numbering == pure-Python two-pointer model on a stream
    full of exact gap-boundary steps (gap = 10s, microsecond ties)."""
    from sparkstreaming_gmall_demo_spark.operators.sessions import (
        sessionize_batch,
    )

    rows = _gen_event_stream()
    gap_us = 10 * 1_000_000
    df = spark.createDataFrame(rows, "k string, us long, id long").select(
        "k", F.timestamp_micros(F.col("us")).alias("ts"), "id", "us"
    )
    got = {
        r.id: r.session_id
        for r in sessionize_batch(df, "k", "ts", 10, tiebreak="id").collect()
    }
    by_key: dict = {}
    for k, us, rid in rows:
        by_key.setdefault(k, []).append((us, rid))
    for k, evs in by_key.items():
        evs.sort()
        sess, prev = 0, None
        for us, rid in evs:
            if prev is None or us - prev > gap_us:
                sess += 1
            prev = us
            assert got[rid] == sess, (k, rid, us, got[rid], sess)


def test_interval_pairs_match_python_model(spark):
    """Bucketed interval join == brute-force O(n^2) per-key model on
    the same boundary-heavy stream (gap = 10s exact at micros)."""
    from sparkstreaming_gmall_demo_spark.operators.rangejoin import (
        interval_self_pairs,
    )

    rows = _gen_event_stream(n_keys=4, per_key=40)
    gap_us = 10 * 1_000_000
    df = spark.createDataFrame(rows, "k string, us long, id long").select(
        "k", F.timestamp_micros(F.col("us")).alias("ts"), "id"
    )
    got = {
        (r.a_id, r.b_id)
        for r in interval_self_pairs(df, "k", "ts", 10, ["id"]).collect()
    }
    want = set()
    by_key: dict = {}
    for k, us, rid in rows:
        by_key.setdefault(k, []).append((us, rid))
    for evs in by_key.values():
        for us_a, id_a in evs:
            for us_b, id_b in evs:
                if 0 < us_b - us_a <= gap_us:
                    want.add((id_a, id_b))
    assert got == want


def _py_shingles(text: str, n: int = 5) -> set:
    sp = text.split(" ")
    if len(sp) >= n:
        return {" ".join(sp[i:i + n]) for i in range(len(sp) - n + 1)}
    return {" ".join(sp)}


def test_decontamination_matches_python_model_and_partitioning(spark):
    """flag_contaminated == the pure-Python set model on a generated
    corpus, and the result is invariant under input repartitioning
    (1 vs 16 partitions) — the engine-portability contract."""
    from sparkstreaming_gmall_demo_spark.operators import decontam as dc

    vocab = [f"w{i}" for i in range(30)]
    eval_rows = [
        (e, " ".join(vocab[(e * 3 + k) % 30] for k in range(12)))
        for e in range(3)
    ]
    corpus_rows = []
    for d in range(40):
        base = " ".join(vocab[(d * 7 + k) % 30] for k in range(4 + d % 9))
        if d % 4 == 0:  # plant a verbatim eval run
            base += " " + eval_rows[d % 3][1]
        corpus_rows.append((100 + d, base))
    eval_df = spark.createDataFrame(eval_rows, "doc_id long, text string")
    corpus_df = spark.createDataFrame(corpus_rows, "doc_id long, text string")

    eval_sh = set().union(*[_py_shingles(t) for _, t in eval_rows])
    want = {}
    for i, t in corpus_rows:
        sh = _py_shingles(t)
        ov = len(sh & eval_sh)
        want[i] = (len(sh), ov, ov * 100 >= len(sh) * 10)

    for parts in (1, 16):
        got = {
            r.doc_id: (r.n_shingles, r.n_overlap, r.contaminated)
            for r in dc.flag_contaminated(
                corpus_df.repartition(parts), eval_df, 5, 10
            ).collect()
        }
        assert got == want, f"partitions={parts}"


def test_scored_search_matches_python_model(spark):
    """scored_search == the pure-Python integer tf/df model, including
    rank order, on a corpus where term frequencies and rarities vary."""
    from sparkstreaming_gmall_demo_spark.operators import text as t

    rows = [
        (i, ("alpha " * (1 + i % 4)) + ("beta " * (1 + (i * 3) % 5)) +
            ("gamma " * (i % 2)))
        for i in range(25)
    ]
    df = spark.createDataFrame([(i, s.strip()) for i, s in rows],
                               "doc_id long, text string")
    toks = {i: s.strip().split(" ") for i, s in rows}
    terms = ["alpha", "gamma"]
    dfreq = {q: sum(1 for v in toks.values() if q in v) for q in terms}
    scored = [
        (i, sum(v.count(q) * (1_000_000 // dfreq[q]) for q in terms))
        for i, v in toks.items()
        if all(q in v for q in terms)
    ]
    want = sorted(scored, key=lambda r: (-r[1], r[0]))[:10]
    got = [(r.doc_id, r.score)
           for r in t.scored_search(df, "text", "alpha gamma", k=10).collect()]
    assert got == want


def _py_priority(k: int, w: float, salt: str) -> float:
    import hashlib

    v = int(hashlib.md5((str(k) + salt).encode()).hexdigest()[:8], 16)
    return math.log((v + 0.5) / 16 ** 8) / w


def test_weighted_sample_matches_python_model(spark):
    """The Spark A-Res selection == the pure-Python model selection for
    several (weights, k, salt) shapes — including all-equal weights
    (degenerates to uniform md5 order) and extreme weight skew."""
    from sparkstreaming_gmall_demo_spark.operators.sampling import weighted_sample

    cases = [
        ("uniform", [1] * 300, 40, ""),
        ("skewed", [1000 if i % 10 == 0 else 1 for i in range(300)], 40, "s"),
        ("ramp", [i + 1 for i in range(300)], 25, "r2"),
    ]
    for name, weights, k, salt in cases:
        rows = [(i, float(w)) for i, w in enumerate(weights)]
        df = spark.createDataFrame(rows, ["k", "w"])
        got = sorted(
            r.k for r in weighted_sample(df, "k", "w", k, salt=salt).collect()
        )
        want = sorted(
            sorted(rows, key=lambda r: (-_py_priority(r[0], r[1], salt), r[0]))[:k]
        )
        assert got == [kk for kk, _ in want], name


def test_pagerank_matches_python_model(spark):
    """Spark PageRank == dense pure-Python Jacobi on a random-ish but
    deterministic 30-node weighted digraph, for 1..4 iterations."""
    from sparkstreaming_gmall_demo_spark.operators.graph import pagerank

    edges = []
    for i in range(30):
        for j in ((i * 7 + 1) % 30, (i * 13 + 5) % 30, (i * 3 + 11) % 30):
            if i != j:
                edges.append((i, j, float((i + j) % 5 + 1)))
    nodes = sorted({e[0] for e in edges} | {e[1] for e in edges})
    out_w = {}
    for s, d, w in edges:
        out_w[s] = out_w.get(s, 0.0) + w
    for iters in (1, 2, 4):
        damping = 0.85
        rank = {v: 1.0 / len(nodes) for v in nodes}
        for _ in range(iters):
            contrib = {v: 0.0 for v in nodes}
            for s, d, w in edges:
                contrib[d] += rank[s] * (w / out_w[s])
            rank = {
                v: (1 - damping) / len(nodes) + damping * contrib[v] for v in nodes
            }
        df = spark.createDataFrame(edges, ["src", "dst", "w"])
        got = {r.node: r.rank for r in pagerank(df, iters=iters).collect()}
        for v in nodes:
            assert abs(got[v] - rank[v]) < 1e-9, (iters, v)


def test_cm_estimate_matches_python_model_bounds(spark):
    """For every token in a zipf-ish synthetic corpus: est >= exact
    (CM's one-sided guarantee, checked exhaustively, not sampled)."""
    from sparkstreaming_gmall_demo_spark.operators.sketch import cm_build, cm_estimate

    rows = []
    for i in range(80):
        rows.extend([(f"t{i}",)] * (80 // (i + 1)))
    toks = spark.createDataFrame(rows, ["token"])
    exact = {}
    for (t,) in rows:
        exact[t] = exact.get(t, 0) + 1
    sketch = cm_build(toks, depth=4, width=128)
    cands = spark.createDataFrame([(t,) for t in exact], ["token"])
    est = {
        r.token: r.cm_est
        for r in cm_estimate(sketch, cands, depth=4, width=128).collect()
    }
    for t, c in exact.items():
        assert est[t] >= c, t


@pytest.mark.parametrize("measure", ["jaccard", "containment"])
def test_exact_pair_kernels_match_python_model(spark, measure):
    """array_jaccard_pairs (every unordered pair) and
    array_containment_pairs (every ordered pair) == brute-force Python
    over randomized token sets (subset plants, partial overlaps,
    disjoint sets, dup elements pre-distinct), exact denominators."""
    import random

    from sparkstreaming_gmall_demo_spark.operators import neardup as nd

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for i in range(60):
        sz = rng.randint(1, 12)
        rows.append((i, rng.sample(vocab, sz)))
    # plants: exact subset, exact copy
    rows.append((100, rows[0][1][: max(1, len(rows[0][1]) // 2)]))
    rows.append((101, list(rows[1][1])))
    sets_py = {i: set(t) for i, t in rows}
    df = spark.createDataFrame(
        [(i, list(t)) for i, t in rows], "doc_id long, toks array<string>"
    )
    for t in (0.3, 0.5, 0.9, 1.0):
        if measure == "jaccard":
            got = {
                (r.i, r.j): r.jaccard
                for r in nd.array_jaccard_pairs(df, t).collect()
            }
        else:
            got = {
                (r.contained, r.container): r.containment
                for r in nd.array_containment_pairs(df, t).collect()
            }
        want = {}
        for a, sa in sets_py.items():
            for b, sb in sets_py.items():
                if measure == "jaccard" and a < b:
                    v = len(sa & sb) / len(sa | sb)
                elif measure == "containment" and a != b:
                    v = len(sa & sb) / len(sa)
                else:
                    continue
                if v >= t:
                    want[(a, b)] = round(v, 4)
        assert got == want, f"threshold {t}"


def test_keep_best_matches_python_model(spark):
    """keep_best == Python argmax-per-component (score desc, id asc)
    over randomized component structures, including unclustered docs
    and whole-component score ties."""
    import random

    from sparkstreaming_gmall_demo_spark.operators.components import keep_best

    rng = random.Random(13)
    group_of = {}
    scores = {}
    for i in range(80):
        group_of[i] = rng.choice([None, "a", "b", "c", "d"])  # None = unclustered
        scores[i] = rng.choice([1, 5, 5, 9])  # ties likely
    # realistic labels: component id = MIN MEMBER doc id, exactly what
    # connected_components emits — keep_best's coalesce(label, doc_id)
    # relies on labels living in the doc-id space (an unclustered doc's
    # id can never equal a component label, since that label's min
    # member is clustered)
    min_member = {
        g: min(i for i, gg in group_of.items() if gg == g)
        for g in {"a", "b", "c", "d"}
    }
    docs = spark.createDataFrame(
        [(i, scores[i]) for i in group_of], "doc_id long, score long"
    )
    labels = spark.createDataFrame(
        [(i, min_member[g]) for i, g in group_of.items() if g is not None],
        "node long, component long",
    )
    got = sorted(r.doc_id for r in keep_best(docs, labels, "score").collect())
    best = {}
    for i, g in group_of.items():
        key = g if g is not None else ("self", i)
        cur = best.get(key)
        if cur is None or (-scores[i], i) < (-scores[cur], cur):
            best[key] = i
    assert got == sorted(best.values())


def test_dup_span_scrub_matches_python_model(spark):
    """dup_span_scrub == a brute-force Python model on a randomized
    small-vocabulary corpus (tiny alphabet forces heavy n-gram
    collisions: intra-doc repeats, cross-doc repeats, overlapping
    duplicated runs), for both the exact and hashed-gram kernels."""
    import random

    from sparkstreaming_gmall_demo_spark.operators import text as text_ops

    rng = random.Random(13)
    N = 4
    docs = []
    for i in range(30):
        toks = [f"t{rng.randint(0, 5)}" for _ in range(rng.randint(1, 25))]
        docs.append((i, " ".join(toks)))
    # plants: verbatim copy, copy-with-prefix
    docs.append((100, docs[0][1]))
    docs.append((101, "zz0 zz1 " + docs[1][1]))

    # python model: positioned n-grams -> canonical = min (doc, pos)
    occ = []
    for d, text in docs:
        t = text.split(" ")
        for p in range(len(t) - N + 1):
            occ.append((tuple(t[p:p + N]), d, p + 1))
    by_gram = {}
    for g, d, p in occ:
        by_gram.setdefault(g, []).append((d, p))
    want = {}
    bad = {}
    for g, places in by_gram.items():
        if len(places) < 2:
            continue
        canon = min(places)
        for d, p in places:
            if (d, p) != canon:
                bad.setdefault(d, set()).update(range(p, p + N))
    for d, text in docs:
        t = text.split(" ")
        rm = bad.get(d, set())
        kept = [tok for i, tok in enumerate(t, start=1) if i not in rm]
        want[d] = (len(t), len(rm), " ".join(kept))

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    for hashed in (False, True):
        got = {
            r.doc_id: (r.n_tokens, r.removed_tokens, r.kept_text)
            for r in text_ops.dup_span_scrub(
                df, n=N, hash_grams=hashed
            ).collect()
        }
        assert got == want, f"hash_grams={hashed}"


def test_cluster_capped_sample_matches_python_model(spark):
    """Spark capped selection == pure-Python union-find + md5 rank on
    random pair graphs (50 docs, varied edge densities, caps 1/2/4)."""
    import hashlib

    from sparkstreaming_gmall_demo_spark.operators.components import (
        connected_components,
    )
    from sparkstreaming_gmall_demo_spark.operators.sampling import (
        cluster_capped_sample,
    )

    n = 50
    edge_sets = [
        [],
        [(i, i + 1) for i in range(0, n - 1, 2)],
        [(i, (i * 7 + 3) % n) for i in range(n) if i != (i * 7 + 3) % n],
        [(0, i) for i in range(1, 20)],  # one star cluster
    ]
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    for edges in edge_sets:
        for cap in (1, 2, 4):
            # python model: union-find -> min-label components
            parent = list(range(n))

            def find(x):
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for a, b in edges:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            groups: dict = {}
            for i in range(n):
                groups.setdefault(find(i), []).append(i)
            want = set()
            for members in groups.values():
                ranked = sorted(
                    members,
                    key=lambda i: (
                        hashlib.md5(f"{i}ps".encode()).hexdigest()[:8],
                        i,
                    ),
                )
                want.update(ranked[:cap])

            if edges:
                labels = connected_components(
                    spark.createDataFrame(edges, "i long, j long")
                )
            else:
                labels = spark.createDataFrame([], "node long, component long")
            got = {
                r["doc_id"]
                for r in cluster_capped_sample(
                    docs, labels, cap=cap, salt="ps"
                ).collect()
            }
            assert got == want, (len(edges), cap)


def test_oov_sweep_matches_python_model_and_is_monotone(spark):
    """Sweep counts == a pure-Python Counter model (same (cnt DESC,
    token ASC) rank rule), and OOV is non-increasing in vocab size."""
    from collections import Counter

    from sparkstreaming_gmall_demo_spark.operators.vocab import oov_sweep

    corpora = [
        ["a a a b b c", "c d e f"],
        ["x"] * 5 + ["y z", "z z z"],
        [f"t{i % 7} t{i % 3} u{i}" for i in range(40)],
    ]
    sizes = [1, 2, 4, 8]
    for texts in corpora:
        counts = Counter(t for s in texts for t in s.split(" "))
        rank = {
            tok: i + 1
            for i, (tok, _) in enumerate(
                sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
            )
        }
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        got = {
            r["top_n"]: r["oov_tokens"] for r in oov_sweep(df, sizes).collect()
        }
        prev = None
        for nsz in sizes:
            want = sum(
                c for tok, c in counts.items() if rank[tok] > nsz
            )
            assert got[nsz] == want, (texts[:1], nsz)
            if prev is not None:
                assert got[nsz] <= prev  # more vocab never hurts
            prev = got[nsz]


def test_curriculum_schedule_matches_python_model(spark):
    """Schedule == Python sorted((difficulty, md5(id||salt)[:8], id))
    truncated to k, for several k and salts."""
    import hashlib

    from sparkstreaming_gmall_demo_spark.operators.sampling import (
        curriculum_schedule,
    )

    rows = [(i, (i * 13) % 5) for i in range(80)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    for salt in ("", "s1"):
        order = sorted(
            rows,
            key=lambda r: (
                r[1],
                hashlib.md5(f"{r[0]}{salt}".encode()).hexdigest()[:8],
                r[0],
            ),
        )
        for k in (1, 10, 80):
            got = [
                (r["step"], r["doc_id"])
                for r in curriculum_schedule(df, "n_chars", k=k, salt=salt)
                .orderBy("step")
                .collect()
            ]
            assert got == [(s + 1, order[s][0]) for s in range(k)], (salt, k)


def test_source_dedup_report_matches_python_model(spark):
    """Report == a pure-Python fingerprint model with planted exact,
    case-variant, and cross-source duplicates."""
    import hashlib
    from collections import defaultdict

    from sparkstreaming_gmall_demo_spark.operators.dedup import (
        source_dedup_report,
    )

    rows = []
    did = 0
    for s in range(4):
        for i in range(30):
            text = f"doc {i % (5 + s)} body"
            if i % 3 == 0:
                text = text.upper()  # case variant: same fingerprint
            if i % 7 == 0:
                text = f"shared {i % 4}"  # cross-source content
            rows.append((did, f"src{s}", text))
            did += 1
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")

    fps = defaultdict(list)
    for _, s, t in rows:
        fps[s].append(hashlib.md5(t.lower().encode()).hexdigest())
    src_of_fp = defaultdict(set)
    for s, lst in fps.items():
        for f in lst:
            src_of_fp[f].add(s)
    got = {r["source"]: r.asDict() for r in source_dedup_report(df).collect()}
    for s, lst in fps.items():
        uniq = set(lst)
        assert got[s]["n_docs"] == len(lst)
        assert got[s]["n_unique"] == len(uniq)
        assert got[s]["dup_bp"] == round(
            (len(lst) - len(uniq)) * 10000 / len(lst)
        )
        assert got[s]["cross_src_fps"] == sum(
            1 for f in uniq if len(src_of_fp[f]) >= 2
        )


def test_cosine_match_scan_rounding_parity_sweep(spark):
    """The semantic gate's BLAS probe (cosine_match_scan) must agree
    with the SQL probe-join form across a dense sweep of cosines
    straddling the 4dp HALF_UP boundary — one Spark job per side for
    hundreds of boundary cases. Probes are unit vectors [c, sqrt(1-c²)]
    against the index vector [1, 0]: cosine == c exactly, so every
    case plants its score directly on or near the rounding edge."""
    import math as m

    from sparkstreaming_gmall_demo_spark.operators.similarity import (
        DOT,
        cosine_match_scan,
    )

    # 0.9499, 0.94992, ..., 0.95008, 0.9501 and ulp-adjacent values
    base = [0.9499 + k * 2e-5 for k in range(11)]
    cs = sorted(
        {c for b in base for c in (b, m.nextafter(b, 0), m.nextafter(b, 1))}
    )
    probes = spark.createDataFrame(
        [(i, 0, [c, m.sqrt(1 - c * c)], 1.0) for i, c in enumerate(cs)],
        "vec_id long, cluster int, embedding array<double>, nrm double",
    )
    idx = spark.createDataFrame(
        [(0, [1.0, 0.0], 1.0)],
        "cluster int, embedding array<double>, nrm double",
    )
    got = {r.vec_id for r in cosine_match_scan(idx, probes, 0.95).collect()}
    sql_form = {
        r.vec_id
        for r in probes.withColumnRenamed("embedding", "v")
        .join(
            idx.select(
                "cluster",
                F.col("embedding").alias("old_vec"),
                F.col("nrm").alias("old_nrm"),
            ),
            "cluster",
        )
        .filter(
            F.round(
                F.expr(DOT.format(a="v", b="old_vec"))
                / (F.col("nrm") * F.col("old_nrm")),
                4,
            )
            >= F.lit(0.95)
        )
        .select("vec_id")
        .collect()
    }
    assert got == sql_form
    # sanity: the sweep actually splits — some admit, some reject
    assert 0 < len(got) < len(cs)
