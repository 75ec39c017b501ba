"""Core-scaling probe for the heavy pair-kernel family (VERDICT r12
item 1): demonstrate that the kernels' wall time actually scales with
cores once the corpus is big enough for compute to dominate fixed
overhead.

Why not sf0.1 itself: the full fixture is 5 000 docs / ~3 MB — at that
size an 8-core run BEATS a 32-core run on this box (114.5 vs 122.3 s
full registry, r13 measurement) because per-query fixed costs
(scheduling, AQE stage planning, py4j round-trips) dominate and grow
with core count. The driver's 8-vs-32 probe at sf0.1 therefore cannot
read parallelism off these plans no matter how the session is
configured; this probe is the measured justification the r12 verdict
asked for ("run the scaling probe on the heavy pair kernels at a
larger SF").

Corpus: the sf0.1 documents fixture amplified AMPLIFY-fold with
key-shifted doc_ids and PER-COPY-SALTED tokens (every token prefixed
with its copy tag), so the copies occupy disjoint token spaces:
within-copy pair structure is exactly the fixture's, cross-copy pairs
are impossible, and total kernel work scales linearly with AMPLIFY —
the right shape for a parallelism probe (verbatim-twin amplification
would instead blow up pair volume quadratically and measure the
blowup, not the cores; that regime is scale_smoke_100x's job).

All ops are timed with the noop sink (guide §1.4) after a warm pass,
best of 2 (scale_smoke's discipline). Prints ONE JSON line:
  {"metric": "core_scaling_probe", "amplify": N, "cpus": N,
   "sec": {op: best_sec, ...}}
Run once with SPARK_GRAFT_CPUS=8 and once with 32, and compare the
two lines op by op.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkstreaming_gmall_demo_spark.operators import components as comp_ops
from sparkstreaming_gmall_demo_spark.operators import neardup as nd_ops
from sparkstreaming_gmall_demo_spark.operators import text as text_ops
from sparkstreaming_gmall_demo_spark.session import get_spark
from sparkstreaming_gmall_demo_spark.sources.fixtures import load_table, spread_fixture

AMPLIFY = int(os.environ.get("SPARK_GRAFT_PROBE_AMPLIFY", "25"))
OFF = 10_000_000


def amplify_salted(docs: DataFrame, copies: int) -> DataFrame:
    """copies-fold fan-out with shifted ids and copy-disjoint token
    spaces (every token prefixed by its copy tag)."""
    out = docs.withColumn(
        "_c", F.explode(F.array(*[F.lit(c) for c in range(copies)]))
    )
    return (
        out.withColumn("doc_id", F.col("doc_id") + F.col("_c").cast("long") * F.lit(OFF))
        .withColumn(
            "text",
            F.array_join(
                F.transform(
                    F.split("text", " "),
                    lambda t: F.concat(F.col("_c").cast("string"), F.lit("_"), t),
                ),
                " ",
            ),
        )
        .drop("_c")
    )


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(label: str, build, results: dict) -> None:
    spark = get_spark()
    spark.sparkContext.setJobDescription(f"core-scaling: {label} warm")
    noop(build())
    best = float("inf")
    for i in range(2):
        spark.sparkContext.setJobDescription(f"core-scaling: {label} rep{i}")
        t0 = time.perf_counter()
        noop(build())
        best = min(best, time.perf_counter() - t0)
    spark.sparkContext.setJobDescription(None)
    results[label] = round(best, 2)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("gmall-core-scaling-probe")
    spark.sparkContext.setLogLevel("ERROR")

    base = spread_fixture(load_table(spark, sf_dir, "documents"))
    docs = amplify_salted(base, AMPLIFY)
    de = docs.filter(F.col("lang") == "de")

    sec: dict[str, float] = {}
    timed(
        "jaccard_cc",
        lambda: comp_ops.connected_components(
            nd_ops.token_jaccard_pairs(de, 0.8), unique_pairs=True
        ),
        sec,
    )
    timed(
        "ngram_bucket_jaccard",
        lambda: nd_ops.bucket_jaccard_pairs(nd_ops.shingle_sets(de, 2), 0.5),
        sec,
    )
    timed(
        "prefix_containment",
        lambda: nd_ops.prefix_filtered_containment_pairs(
            nd_ops.shingle_sets(de, 2), 0.9
        ),
        sec,
    )
    timed("dupspan_scrub", lambda: text_ops.dup_span_scrub(docs, n=8), sec)

    print(
        json.dumps(
            {
                "metric": "core_scaling_probe",
                "amplify": AMPLIFY,
                "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
                "sf": sf_dir,
                "sec": sec,
            },
            separators=(",", ":"),
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
