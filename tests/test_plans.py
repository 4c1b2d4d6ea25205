"""Physical-plan regression tests: the properties that make this
engine scale must survive refactors (.explain-driven development,
SURVEY.md §4)."""

from pyspark.sql import functions as F

from tripsu_spark.crypto import Pseudonymizer
from tripsu_spark.operators.extract import extract_triples, per_turn_triples
from tripsu_spark.operators.index import build_type_index
from tripsu_spark.plans.pipeline import default_rules, pseudonymize
from tripsu_spark.sources.transcripts import synthetic_transcripts

SECRET = b"test-secret-0123456789abcdefghij"


def plan_of(df, execute: bool = False) -> str:
    if execute:
        # AQE finalizes (and codegen spans appear) only on execution of
        # THIS query execution (count() would plan a separate query)
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_sha256_pass2_has_no_python_in_hot_path(spark, tmp_path):
    """Default pass 2 must be 100% JVM-side: no row-Python, no Arrow
    eval — the hash is built-in sha2 inside codegen."""
    t = synthetic_transcripts(spark, n_convs=10, turns_per_conv=3)
    path = str(tmp_path / "g")
    extract_triples(t).write.parquet(path)
    stored = spark.read.parquet(path)
    out = pseudonymize(
        stored, build_type_index(stored), default_rules(),
        Pseudonymizer.create("sha256", SECRET),
    )
    plan = plan_of(out, execute=True)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # '*(n)' prefixes mark WholeStageCodegen spans in the plan string
    assert "isFinalPlan=true" in plan and "*(" in plan


def test_blake3_pass2_hash_is_arrow_batched_not_row_python(spark, tmp_path):
    """The one unavoidable UDF (keyed BLAKE3) must run as an
    Arrow-batched pandas UDF, never row-at-a-time Python."""
    t = synthetic_transcripts(spark, n_convs=5, turns_per_conv=2)
    path = str(tmp_path / "g")
    extract_triples(t).write.parquet(path)
    stored = spark.read.parquet(path)
    out = pseudonymize(
        stored, build_type_index(stored), default_rules(),
        Pseudonymizer.create("blake3", SECRET),
    )
    plan = plan_of(out)
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_index_build_scan_is_pruned_and_pushed(spark, tmp_path):
    """Pass 1 over a predicate-partitioned graph table must show BOTH
    partition pruning and predicate pushdown at the scan."""
    from tripsu_spark.plans.lineage import predicate_partition_col, read_for_index

    t = synthetic_transcripts(spark, n_convs=10, turns_per_conv=3)
    path = str(tmp_path / "g")
    (
        extract_triples(t)
        .withColumn("pred_part", predicate_partition_col())
        .write.partitionBy("pred_part")
        .parquet(path)
    )
    plan = plan_of(build_type_index(read_for_index(spark, path)))
    assert "PartitionFilters" in plan and "pred_part" in plan
    assert "PushedFilters" in plan
    # column pruning: the scan must not read o_value-adjacent noise cols
    assert "ReadSchema" in plan


def test_per_turn_extraction_is_shuffle_free(spark):
    """The O(rows) bulk of extraction must contain no Exchange."""
    t = synthetic_transcripts(spark, n_convs=10, turns_per_conv=3)
    plan = plan_of(per_turn_triples(t))
    assert "Exchange" not in plan
    assert "Generate" in plan  # the single explode


def test_pass2_joins_use_hash_join_not_nested_loop(spark, tmp_path):
    t = synthetic_transcripts(spark, n_convs=10, turns_per_conv=3)
    path = str(tmp_path / "g")
    extract_triples(t).write.parquet(path)
    stored = spark.read.parquet(path)
    out = pseudonymize(
        stored, build_type_index(stored), default_rules(),
        Pseudonymizer.create("sha256", SECRET),
    )
    plan = plan_of(out)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_embedding_neardup_lsh_is_equi_join(spark):
    """The bucketed near-dup must plan equi-joins (shuffle/broadcast
    hash or sort-merge) — never the BroadcastNestedLoopJoin the exact
    all-pairs baseline pays (round-1 verdict item 1)."""
    from tripsu_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = plan_of(similarity.dedup_embedding_cosine_lsh(emb))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # and the exact baseline is exactly the nested-loop it claims to be
    exact_plan = plan_of(similarity.dedup_embedding_cosine(emb))
    assert "BroadcastNestedLoopJoin" in exact_plan or "CartesianProduct" in exact_plan


def test_minhash_signature_stage_is_shuffle_free(spark):
    """Signatures are per-row work over one scan (any Exchange here
    would shuffle document text), and the kernel's plan does not grow
    with the number of hashes."""
    import re

    from tripsu_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(dedup.minhash_sig_frame(docs, dedup.NUM_HASHES_PROD))
    assert "Exchange" not in plan

    def optimized(num_hashes):
        qe = dedup.minhash_sig_frame(docs, num_hashes)._jdf.queryExecution()
        # expression ids and lambda variable names are per-query counters
        return re.sub(r"#\d+|x_\d+", "", qe.optimizedPlan().toString())

    assert optimized(dedup.NUM_HASHES) == optimized(dedup.NUM_HASHES_PROD)


def test_shingle_stage_splits_text_once(spark):
    """The shingle stage tokenizes each text once: one split per scan
    of the documents, in MinHash signatures and in the exact n-gram
    Jaccard join (whose shingles feed four scans)."""
    from tripsu_spark.operators import dedup

    docs = spark.range(4).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("w x y z "), F.col("id").cast("string")).alias("text"),
    )
    for df, scans in ((dedup.minhash_sig_frame(docs, dedup.NUM_HASHES_PROD), 1),
                      (dedup.dedup_ngram_jaccard(docs), 4)):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("Range (") == scans
        assert plan.count("split(") == scans


def test_new_text_ops_are_shuffle_free_codegen(spark):
    """scrub_pii and repetition_metrics must stay a single narrow scan:
    no Exchange, no Python eval (pure Catalyst expressions)."""
    from tripsu_spark.operators.text import repetition_metrics, scrub_pii

    docs = spark.createDataFrame(
        [(1, "a b a b c", "en", "s", 9)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    for op in (scrub_pii, repetition_metrics):
        plan = plan_of(op(docs))
        assert "Exchange" not in plan, op.__name__
        assert "EvalPython" not in plan, op.__name__


def test_mixture_redistribute_windows_only_after_aggregate(spark):
    """Water-filling windows must sit ABOVE the per-source aggregate
    (one row per source), never over the raw corpus: exactly one
    pre-aggregation Exchange fed by the scan, and the single-partition
    window exchange only downstream of the aggregate."""
    from tripsu_spark.operators.curation import mixture_plan

    docs = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(30)], ["doc_id", "source"]
    )
    plan = plan_of(mixture_plan(docs, {"s0": 0.5, "s1": 0.5}, total=10,
                                redistribute=True))
    # the Window operates on the aggregated frame
    agg_pos = plan.find("HashAggregate")
    win_pos = plan.find("Window")
    assert agg_pos != -1 and win_pos != -1
    assert win_pos < agg_pos  # executed-plan string prints top-down


def test_cap_per_group_limits_each_group_before_the_shuffle(spark):
    """The direct capper window is skew-safe only because
    InferWindowGroupLimit plants a Partial WindowGroupLimit BELOW the
    Exchange: every map task ships at most n rows per group, so a
    dominant group never funnels whole into one reducer."""
    from tripsu_spark.operators.curation import cap_per_group

    docs = spark.range(0, 4000, numPartitions=4).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 5).cast("string")).alias("source"),
        (F.col("id") * 37 % 1001).alias("n_chars"),
    )
    final = plan_of(cap_per_group(docs, n=5), execute=True).split("== Initial Plan ==")[0]
    lines = final.splitlines()
    exchange = next(i for i, line in enumerate(lines) if "Exchange" in line)
    limits = [(i, line) for i, line in enumerate(lines) if "WindowGroupLimit" in line]
    # executed-plan string prints top-down: below the Exchange = later
    assert any(i > exchange and line.rstrip().endswith("Partial") for i, line in limits)
    assert any(i < exchange and line.rstrip().endswith("Final") for i, line in limits)


def test_ivf_assign_is_shuffle_free(spark):
    """IVF assignment is one narrow scan against inlined centroids:
    no Exchange."""
    from tripsu_spark.operators.similarity import DIM, ivf_assign

    emb = spark.range(0, 64, numPartitions=2).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.sin(F.col("id") * (k + 1) + 1.0) for k in range(DIM)])
        .cast("array<float>").alias("embedding"),
    )
    assert "Exchange" not in plan_of(ivf_assign(emb), execute=True)
