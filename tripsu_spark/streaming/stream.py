"""Structured Streaming variant of the extraction layer.

The reference is streaming only in the I/O sense (constant-memory
stdin->stdout piping, io.rs:24-37) with no event-time semantics, so
batch + snapshot resume is the parity architecture (SURVEY.md §2
"explicit absences"). This module exists for pipelines that want the
SAME extraction logic over a live feed of transcript rows:

- per-turn triples are stateless row-local transforms -> they stream
  append-mode unchanged (``per_turn_triples`` is shared with batch);
- entity-link counts are per-conversation running state
  (``stream_entity_link_state``): a conversation's turns may arrive
  in many micro-batches and each batch emits the updated counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import _MENTION_USER, per_turn_triples
from ..schemas import TRANSCRIPT_SCHEMA


def read_transcript_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of transcript parquet drops."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(path)
    )


def stream_per_turn_triples(transcripts: DataFrame) -> DataFrame:
    """Append-mode streaming triples (same logic as batch)."""
    return per_turn_triples(transcripts)


LINK_STATE_SCHEMA = "entity_ids array<string>, counts array<bigint>"
LINK_OUTPUT_SCHEMA = "conv_id string, entity_id string, mention_count bigint"


def stream_entity_link_state(transcripts: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``:
    per-conversation RUNNING entity-link counts across micro-batches
    (state lives for the whole conversation: a mention in batch 7
    increments the count started in batch 1). Emits the updated (conv_id, entity_id, mention_count)
    rows each batch — use outputMode("update")."""
    import re

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    user_re = re.compile(_MENTION_USER)

    def update(key, pdfs, state: GroupState):
        counts: dict[str, int] = {}
        if state.exists:
            ids, ns = state.get
            counts = dict(zip(ids, ns))
        touched = set()
        for pdf in pdfs:
            for text in pdf["text"]:
                for uid in user_re.findall(text or ""):
                    counts[uid] = counts.get(uid, 0) + 1
                    touched.add(uid)
        state.update((list(counts.keys()), list(counts.values())))
        yield pd.DataFrame(
            {
                "conv_id": [key[0]] * len(touched),
                "entity_id": sorted(touched),
                "mention_count": [counts[e] for e in sorted(touched)],
            }
        )

    return transcripts.groupBy("conv_id").applyInPandasWithState(
        update,
        outputStructType=LINK_OUTPUT_SCHEMA,
        stateStructType=LINK_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


CONV_STATS_STATE_SCHEMA = (
    "roles array<string>, n_turns bigint, n_tool bigint, "
    "chars bigint, max_idx bigint, n_user bigint"
)
CONV_STATS_OUTPUT_SCHEMA = (
    "conv_id string, n_turns bigint, n_roles bigint, n_tool_turns bigint, "
    "total_chars bigint, max_turn_idx bigint, n_user_turns bigint, "
    "user_frac_ppm bigint"
)


def stream_conversation_stats(transcripts: DataFrame) -> DataFrame:
    """Streaming sibling of ``operators.extract.conversation_stats``:
    RUNNING per-conversation curation counters across micro-batches via
    ``applyInPandasWithState`` (turns of one conversation may arrive in
    many batches; a windowed aggregate would fragment the counts). Each
    batch emits the UPDATED conversations' full stats row — the last
    emission per conv_id equals the batch operator over everything seen
    (pinned batch-equivalent in tests/test_streaming.py).

    State per conversation is O(1): six integers plus the tiny role
    vocabulary. All emitted values are exact integers;
    ``user_frac_ppm`` uses the same floor-division the batch/oracle
    pair uses, so the three surfaces agree bit-for-bit. Use
    outputMode("update"); compose in front of the stats-driven
    curation gate (operators/extract.py::filter_conversations) for
    drop-as-you-ingest pipelines."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        if state.exists:
            roles, n_turns, n_tool, chars, max_idx, n_user = state.get
            roles = list(roles)
        else:
            # chars/max_idx start as None, not 0: the batch operator's
            # SUM/MAX over an all-NULL column is NULL, and the last
            # emission must equal the batch row even on such edge
            # conversations (r05 ADVICE item 3 — an all-NULL turn_idx
            # conversation used to emit 0, and a negative turn_idx was
            # clamped by the 0 seed).
            roles, n_turns, n_tool, chars, max_idx, n_user = [], 0, 0, None, None, 0
        role_set = set(roles)
        for pdf in pdfs:
            for role, text, tool, turn_idx in zip(
                pdf["role"], pdf["text"], pdf["tool"], pdf["turn_idx"]
            ):
                n_turns += 1
                if role is not None and role not in role_set:
                    role_set.add(role)
                if tool is not None:
                    n_tool += 1
                if text is not None:
                    chars = (0 if chars is None else chars) + len(text)
                # a nullable int column reaches pandas as float NaN, not
                # None — pd.isna covers both
                if turn_idx is not None and not pd.isna(turn_idx):
                    ti = int(turn_idx)
                    max_idx = ti if max_idx is None else max(max_idx, ti)
                if role == "user":
                    n_user += 1
        state.update((sorted(role_set), n_turns, n_tool, chars, max_idx, n_user))
        yield pd.DataFrame(
            {
                "conv_id": [key[0]],
                "n_turns": [n_turns],
                "n_roles": [len(role_set)],
                "n_tool_turns": [n_tool],
                "total_chars": [chars],
                "max_turn_idx": [max_idx],
                "n_user_turns": [n_user],
                "user_frac_ppm": [(1_000_000 * n_user) // n_turns],
            }
        )

    return transcripts.groupBy("conv_id").applyInPandasWithState(
        update,
        outputStructType=CONV_STATS_OUTPUT_SCHEMA,
        stateStructType=CONV_STATS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_pseudo_stream_to_parquet(
    spark: SparkSession,
    in_path: str,
    index_path: str,
    out_path: str,
    checkpoint: str,
    rules,
    hasher,
):
    """Streaming pass 2 — the FULL reference pipeline over a live
    transcript feed (round-2 verdict item 6): per-turn extraction ->
    rule masking -> pseudonymization, via ``foreachBatch`` against the
    persisted pass-1 index.

    Index semantics per micro-batch: persisted index UNION a
    batch-local type index, min-merged per subject. A turn's rdf:type
    row is generated from the same input row as its other triples, so
    brand-new subjects are always masked correctly; entity types that
    only exist as global aggregates (derived_triples) follow the
    persisted index's freshness — same staleness contract as re-running
    the reference's pass 2 with yesterday's index.json.

    Exactly-once: each micro-batch OVERWRITES its own
    ``batch=<epoch_id>`` partition, so a batch replayed after a crash
    is idempotent (foreachBatch alone is at-least-once). Read the
    result with ``spark.read.parquet(out_path).drop("batch")``.
    """
    from ..operators.index import build_type_index
    from ..plans.pipeline import pseudonymize

    static_index = spark.read.parquet(index_path)

    def process(batch_triples: DataFrame, batch_id: int) -> None:
        local = build_type_index(batch_triples)
        merged = (
            static_index.unionByName(local)
            .select("subject_key", F.explode("types").alias("t"))
            .groupBy("subject_key")
            .agg(F.array_sort(F.collect_set("t")).alias("types"))
        )
        out = pseudonymize(batch_triples, merged, rules, hasher)
        out.write.mode("overwrite").parquet(f"{out_path}/batch={batch_id}")

    triples = stream_per_turn_triples(read_transcript_stream(spark, in_path))
    return (
        triples.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )


def run_stream_to_parquet(
    spark: SparkSession, in_path: str, out_path: str, checkpoint: str
):
    """Drain everything currently in ``in_path`` (availableNow) into a
    parquet triple table with an exactly-once checkpoint; restartable."""
    stream = stream_per_turn_triples(read_transcript_stream(spark, in_path))
    return (
        stream.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )


DOC_STREAM_SCHEMA = "doc_id bigint, text string, ts timestamp"


def read_document_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of document parquet drops (doc_id, text, ts)."""
    return (
        spark.readStream.schema(DOC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(path)
    )


def stream_dedup_exact(documents: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup: emit only the first document per content
    digest (the streaming sibling of operators/dedup.py::dedup_exact).

    State is BOUNDED: ``dropDuplicatesWithinWatermark`` keeps a digest
    in state only until the event-time watermark passes it, so a
    duplicate arriving within ``watermark`` of the original is dropped
    and state size tracks the watermark window, not corpus history —
    the only viable contract at an unbounded 10^12-doc feed (exact
    forever-dedup of a stream is by definition unbounded state; run the
    batch op over the materialized table for that). Dedup state lives
    in the checkpoint: duplicates arriving in later micro-batches or
    after a restart are still dropped.
    """
    return (
        documents.withColumn("digest", F.md5(F.col("text")))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["digest"])
    )


def run_dedup_stream_to_parquet(
    spark: SparkSession, in_path: str, out_path: str, checkpoint: str,
    watermark: str = "10 minutes",
):
    """Drain the current document drops through streaming exact dedup
    into a parquet table; exactly-once via checkpoint, restartable."""
    deduped = stream_dedup_exact(read_document_stream(spark, in_path), watermark)
    return (
        deduped.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )


def stream_scrub_and_score(documents: DataFrame) -> DataFrame:
    """Streaming text curation: PII scrubbing + repetition quality
    signals over a document stream, as ONE stateless projection.

    Streaming plans can't join per-row results of two batch operators,
    so this composes the column-level expression builders
    (operators/text.py::pii_scrub_exprs / repetition_exprs) into a
    single select — zero state, no watermark requirement, identical
    semantics to running scrub_pii + repetition_metrics in batch
    (pinned by tests/test_streaming.py). The natural pre-filter in
    front of ``stream_dedup_exact`` on an unbounded feed:
    scrub -> score -> dedup -> materialize.
    """
    from ..operators.text import pii_scrub_exprs, repetition_exprs

    scrubbed, counts = pii_scrub_exprs()
    dup_frac, top_frac = repetition_exprs()
    return documents.select(
        "doc_id",
        scrubbed.alias("scrubbed"),
        *counts,
        dup_frac.alias("dup_bigram_frac"),
        top_frac.alias("top_token_frac"),
        "ts",
    )
