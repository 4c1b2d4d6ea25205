"""Curation-op stress at 10M docs with planted skew (BENCH.md numbers).

Synthesizes a 10M-row document metadata table in pure Catalyst — 6-way
language mix, 1000 sources with 20% of the corpus planted into one
skew source (`src0`) — and times every curation operator, checking the
calibration arithmetic that makes each result verifiable:

  python tools/stress_curation.py [--docs 10000000]
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=10_000_000)
    ap.add_argument("--cores", type=int, default=32)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from tripsu_spark.operators.curation import (
        apply_mixture,
        cap_per_group,
        mixture_plan,
        pack_sequences,
        pack_sequences_strict,
        sample_stratified,
    )
    from tripsu_spark.session import get_spark

    spark = get_spark(
        master=f"local[{args.cores}]",
        app_name="stress-curation",
        shuffle_partitions=args.cores * 2,
        extra_conf={"spark.driver.memory": "48g"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    langs = F.array(*[F.lit(x) for x in ["en", "en", "en", "de", "es", "fr"]])
    docs = (
        spark.range(args.docs)
        .select(
            F.col("id").alias("doc_id"),
            F.element_at(langs, (F.pmod(F.col("id"), F.lit(6)) + 1).cast("int")).alias("lang"),
            F.concat(F.lit("src"), F.pmod(F.col("id"), F.lit(1000))).alias("source"),
            (F.pmod(F.hash("id"), F.lit(4000)) + 100).alias("n_chars"),
        )
        .withColumn(
            "source",
            F.when(F.pmod(F.col("doc_id"), F.lit(5)) == 0, F.lit("src0")).otherwise(
                F.col("source")
            ),
        )
        .cache()
    )
    n = docs.count()
    print(f"docs: {n:,} ({docs.select('source').distinct().count()} sources, 20% in src0)")

    def t(label, fn):
        t0 = time.perf_counter()
        r = fn()
        print(f"{label:48s} {time.perf_counter() - t0:7.2f} s   {r}")
        return r

    kept = t("sample_stratified (count)", lambda: sample_stratified(docs).count())
    # calibration: en 3/6 * 0.35 + (de+es+fr) each 1/6 * 0.8
    expect = n * (0.5 * 0.35 + 0.5 * 0.8)
    assert abs(kept - expect) / expect < 0.01, (kept, expect)

    t("cap_per_group n=100 (count)", lambda: cap_per_group(docs, n=100).count())
    t("pack_sequences budget=2048 nb=256 (max pack)",
      lambda: pack_sequences(docs, 2048, 256).agg(F.max("pack_id")).collect()[0][0])
    t("pack_sequences_strict budget=2048 nb=256 (count)",
      lambda: pack_sequences_strict(docs, 2048, 256).count())
    t("mixture_plan (source rows)", lambda: mixture_plan(docs, total=1_000_000).count())
    plain = t(
        "apply_mixture total=1M (count)",
        lambda: apply_mixture(docs, total=1_000_000).count(),
    )
    # DEFAULT_TARGET names only src0..src3; src1-3 hold ~8k docs each so
    # their 250k quotas cap at 1 and the plain plan leaves most of the
    # target unfilled. redistribute=True water-fills the residual into
    # src0 (2M docs) — realized count must hit the 1M target within
    # sampling noise (the draw is a Bernoulli per doc at the planned rate).
    redis = t(
        "apply_mixture total=1M redistribute (count)",
        lambda: apply_mixture(docs, total=1_000_000, redistribute=True).count(),
    )
    capacity = docs.filter(
        F.col("source").isin("src0", "src1", "src2", "src3")
    ).count()
    expect_redis = min(1_000_000, capacity)
    assert plain < 0.95 * expect_redis, (plain, expect_redis)  # the residual gap
    # water-filling realizes min(target, capacity) within sampling noise
    assert abs(redis - expect_redis) / expect_redis < 0.01, (redis, expect_redis)
    spark.stop()


if __name__ == "__main__":
    main()
