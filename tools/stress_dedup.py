"""Scale-stress harness for the dedup/ANN family (round-3 verdict item 5).

Synthesizes a deterministic >=100k-doc / >=100k-vector fixture entirely
IN SPARK (pure Catalyst expressions seeded from row ids — no driver-side
data, no files), then runs the scale-path operators at production
parameters and reports wall times, result counts, recall against planted
ground truth, and plan stability. Prints one JSON line; BENCH.md records
the numbers.

Fixture design (groups of 10 ids):

documents (100k x ~80 words):
  positions 0..4 of each group form a CHAIN of one-word edits — doc p
  and doc p+1 differ in exactly one of 80 words (3-shingle Jaccard
  ~0.96), so MinHash-LSH at 128 hashes / 16 bands should find the 4
  adjacent pairs per group and connected components should merge the
  chain into one 5-doc cluster. Positions 5..9 are unique documents.

embeddings (100k x 64 float):
  position 1 of each group is position 0's vector plus a scaled noise
  vector (scale cycles 0.2/0.3/0.4 -> cosine ~0.98/0.96/0.93); all other
  vectors are independent uniform[-1,1]. Ground truth for recall = the
  planted pairs whose EXACT cosine >= 0.9 (computed with the same
  `cosine` expression); random 64-dim pairs exceed 0.9 with probability
  ~1e-13, so the truth set is effectively complete. LSH at the realistic
  0.9 threshold uses 16 tables x 12 bits (per-plane agreement
  p = 1 - acos(0.9)/pi ~ 0.856 -> per-table p^12 ~ 0.155 -> recall
  1-(1-0.155)^16 ~ 0.93+), vs the oracle fixture's 12x3 tuned for its
  0.35 threshold.

Usage: python tools/stress_dedup.py [--docs N] [--vecs N] [--cpus N]
"""

from __future__ import annotations

import argparse
import json
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tripsu_spark.session import get_spark

GROUP = 10
CHAIN = 5           # positions 0..4 chained one-word edits
WORDS = 80
VOCAB = 5000
DIM = 64
NOISE_SCALES = [0.2, 0.3, 0.4]


def stress_documents(spark: SparkSession, n_docs: int) -> DataFrame:
    """(doc_id, text) — see module docstring. Pure per-row Catalyst."""
    base = (
        spark.range(n_docs)
        .select(
            F.col("id").alias("doc_id"),
            (F.col("id") - F.col("id") % GROUP).alias("g"),
            (F.col("id") % GROUP).alias("pos"),
        )
        .withColumn(
            # chain members share the group seed; tail docs are unique
            "seed",
            F.when(F.col("pos") < CHAIN, F.col("g")).otherwise(F.col("doc_id")),
        )
    )
    word = lambda i: F.concat(  # noqa: E731
        F.lit("w"), F.pmod(F.hash(F.col("seed"), i), F.lit(VOCAB))
    )
    alt = lambda i: F.concat(  # noqa: E731
        F.lit("a"), F.pmod(F.hash(F.col("g"), i, F.lit("alt")), F.lit(VOCAB))
    )
    words = F.transform(
        F.sequence(F.lit(0), F.lit(WORDS - 1)),
        lambda i: F.when(
            (F.col("pos") < CHAIN) & (i < F.col("pos")), alt(i)
        ).otherwise(word(i)),
    )
    return base.select("doc_id", F.array_join(words, " ").alias("text"))


def stress_embeddings(spark: SparkSession, n_vecs: int) -> DataFrame:
    """(vec_id, embedding array<float>) — see module docstring."""
    base = (
        spark.range(n_vecs)
        .select(
            F.col("id").alias("vec_id"),
            (F.col("id") - F.col("id") % GROUP).alias("g"),
            (F.col("id") % GROUP).alias("pos"),
        )
        .withColumn(
            "seed", F.when(F.col("pos") == 1, F.col("g")).otherwise(F.col("vec_id"))
        )
        .withColumn(
            "scale",
            F.element_at(
                F.array(*[F.lit(s) for s in NOISE_SCALES]),
                (F.pmod(F.col("g") / GROUP, len(NOISE_SCALES)) + 1).cast("int"),
            ),
        )
    )
    unit = lambda seed, j, salt: (  # noqa: E731  uniform [-1, 1]
        F.pmod(F.hash(seed, j, F.lit(salt)), F.lit(2001)) / 1000.0 - 1.0
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda j: F.when(
            F.col("pos") == 1,
            unit(F.col("seed"), j, "v") + F.col("scale") * unit(F.col("vec_id"), j, "n"),
        ).otherwise(unit(F.col("seed"), j, "v")),
    )
    return base.select("vec_id", vec.cast("array<float>").alias("embedding"))


def planted_doc_pairs(docs_n: int):
    """Adjacent chain pairs (g+p, g+p+1), p in 0..CHAIN-2."""
    return [
        (g + p, g + p + 1)
        for g in range(0, docs_n, GROUP)
        for p in range(CHAIN - 1)
    ]


def _no_nested_loop(df: DataFrame) -> bool:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "NestedLoop" not in plan and "CartesianProduct" not in plan


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=100_000)
    ap.add_argument("--vecs", type=int, default=100_000)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--skip-noreuse", action="store_true",
                    help="skip the reuse_sigs=False baseline timing")
    args = ap.parse_args()

    from tripsu_spark.operators import dedup, similarity

    spark = get_spark(master=f"local[{args.cpus}]",
                      shuffle_partitions=2 * args.cpus)
    out: dict = {"docs": args.docs, "vecs": args.vecs, "cpus": args.cpus}

    docs = stress_documents(spark, args.docs).localCheckpoint(eager=True)
    emb = stress_embeddings(spark, args.vecs).localCheckpoint(eager=True)

    # ---- MinHash-LSH at production params (128 hashes / 16 bands)
    if not args.skip_noreuse:
        t0 = time.monotonic()
        n_pairs_base = dedup.dedup_minhash_lsh(
            docs, dedup.NUM_HASHES_PROD, dedup.BAND_SIZE_PROD, 0.5, reuse_sigs=False
        ).count()
        out["minhash_lsh_128_noreuse_sec"] = round(time.monotonic() - t0, 2)
        out["minhash_lsh_128_noreuse_pairs"] = n_pairs_base

    t0 = time.monotonic()
    mh_pairs = dedup.dedup_minhash_lsh(
        docs, dedup.NUM_HASHES_PROD, dedup.BAND_SIZE_PROD, 0.5, reuse_sigs=True
    )
    assert _no_nested_loop(mh_pairs), "minhash plan has a nested-loop join"
    mh_pairs = mh_pairs.localCheckpoint(eager=True)
    out["minhash_lsh_128_sec"] = round(time.monotonic() - t0, 2)
    out["minhash_lsh_128_pairs"] = mh_pairs.count()

    # recall over planted adjacent chain pairs (Jaccard ~0.96 each)
    planted = spark.createDataFrame(
        planted_doc_pairs(args.docs), "a long, b long"
    )
    hit = mh_pairs.join(planted, ["a", "b"], "left_semi").count()
    out["minhash_planted_pairs"] = planted.count()
    out["minhash_planted_recall"] = round(hit / out["minhash_planted_pairs"], 4)

    # ---- connected components over the real LSH pair graph
    t0 = time.monotonic()
    clusters = dedup.connected_components(
        docs.select("doc_id"), mh_pairs.select("a", "b")
    )
    agg = clusters.groupBy("cluster_id").count()
    stats = agg.agg(
        F.count("*").alias("n_clusters"),
        F.max("count").alias("max_cluster"),
        F.sum((F.col("count") >= CHAIN).cast("long")).alias("full_chains"),
    ).collect()[0]
    out["cc_sec"] = round(time.monotonic() - t0, 2)
    out["cc_clusters"] = stats["n_clusters"]
    out["cc_max_cluster"] = stats["max_cluster"]
    out["cc_full_chain_clusters"] = stats["full_chains"]

    # ---- embedding near-dup LSH at realistic 0.9 threshold
    truth = (
        emb.filter(F.col("vec_id") % GROUP == 0)
        .select(F.col("vec_id").alias("a"), F.col("embedding").alias("ea"))
        .join(
            emb.filter(F.col("vec_id") % GROUP == 1).select(
                F.col("vec_id").alias("b"), F.col("embedding").alias("eb")
            ),
            F.col("b") == F.col("a") + 1,
        )
        .filter(
            similarity.cosine(
                F.col("ea").cast("array<double>"), F.col("eb").cast("array<double>")
            )
            >= 0.9
        )
        .select("a", "b")
        .localCheckpoint(eager=True)
    )
    out["emb_truth_pairs"] = truth.count()

    t0 = time.monotonic()
    found = similarity.dedup_embedding_cosine_lsh(
        emb, threshold=0.9, n_tables=16, n_bits=12
    )
    assert _no_nested_loop(found), "embedding LSH plan has a nested-loop join"
    found = found.localCheckpoint(eager=True)
    out["emb_lsh_sec"] = round(time.monotonic() - t0, 2)
    out["emb_lsh_pairs"] = found.count()
    emb_hit = found.join(truth, ["a", "b"], "left_semi").count()
    out["emb_lsh_recall"] = round(emb_hit / max(out["emb_truth_pairs"], 1), 4)

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
