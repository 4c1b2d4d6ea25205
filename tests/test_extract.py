"""Graft layer: transcript -> triple extraction.

- Catalyst path == applyInPandas path (row-identical as triple sets)
- per-turn text equality under stable turn ordering (input_hint
  invariant): every turn's text is recoverable from the graph keyed by
  (conv_id, turn_idx)
- deterministic: two runs produce identical sets
- mention detection & entity-link counts correct on a hand-built case
"""

import pytest
from pyspark.sql import functions as F

from tripsu_spark.operators.extract import (
    KG,
    RDF_TYPE,
    dedupe_triples,
    extract_triples,
    extract_triples_pandas,
    type_triples,
)
from tripsu_spark.operators.index import build_type_index
from tripsu_spark.schemas import TRANSCRIPT_SCHEMA
from tripsu_spark.sources.transcripts import synthetic_transcripts, transcripts_from_events

import datetime

TS = datetime.datetime(2024, 1, 1, 12, 0, 0)


@pytest.fixture(scope="module")
def tiny(spark):
    rows = [
        ("c1", 1, "user", "hi @user7 see #item3 and #item3", None, TS),
        ("c1", 2, "assistant", "sure, @user7 !", "search", TS),
        ("c2", 1, "user", "no mentions here", None, None),
    ]
    return spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)


def as_set(df):
    return frozenset(tuple(r) for r in df.collect())


def test_catalyst_and_pandas_paths_identical(spark, tiny):
    a = as_set(dedupe_triples(extract_triples(tiny)))
    b = as_set(dedupe_triples(extract_triples_pandas(tiny)))
    assert a == b


def test_catalyst_and_pandas_paths_identical_on_synthetic(spark):
    t = synthetic_transcripts(spark, n_convs=20, turns_per_conv=5)
    a = as_set(dedupe_triples(extract_triples(t)))
    b = as_set(dedupe_triples(extract_triples_pandas(t)))
    assert a == b and len(a) > 0


def test_type_triples_are_the_rdf_type_rows_of_extraction(spark, tiny):
    """Pass 1's input: ``type_triples`` holds exactly the rdf:type rows
    of ``extract_triples`` (as a set), and the index built over either
    is the same, on clean rows and on malformed ones (NULL conv_id,
    role, text; a NULL-text row whose conversation has no other row)."""
    dirty = spark.createDataFrame(
        [
            (None, 0, "user", "null conv @user1 #item2", None, None),
            ("conv-1", 1, None, "null role", None, None),
            ("conv-2", 2, "user", None, None, None),
            ("only-null-text", 0, "user", None, "search", TS),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    t = synthetic_transcripts(spark, n_convs=40, turns_per_conv=6).unionByName(
        tiny).unionByName(dirty)
    want = as_set(extract_triples(t).filter(F.col("predicate") == RDF_TYPE))
    assert as_set(type_triples(t)) == want and len(want) > 300

    def index(triples):
        rows = build_type_index(triples).collect()
        return {(r["subject_key"], tuple(sorted(r["types"]))) for r in rows}

    assert index(type_triples(t)) == index(extract_triples(t))


def test_extraction_deterministic(spark, tiny):
    assert as_set(extract_triples(tiny)) == as_set(extract_triples(tiny))


def test_mention_detection_and_link_scores(spark, tiny):
    triples = extract_triples(tiny)
    mentions = {
        (r["s_value"], r["o_value"])
        for r in triples.filter(F.col("predicate") == KG + "mentions").collect()
    }
    turn1, turn2 = KG + "turn/c1/1", KG + "turn/c1/2"
    assert (turn1, KG + "user/7") in mentions
    assert (turn1, KG + "item/3") in mentions
    assert (turn2, KG + "user/7") in mentions
    # duplicate mention of #item3 in one turn collapses in the set view
    # but the link score counts occurrences:
    counts = {
        r["s_value"]: r["o_value"]
        for r in triples.filter(F.col("predicate") == KG + "mentionCount").collect()
    }
    assert counts[KG + "link/c1/item3"] == "2"  # #item3 twice in turn 1
    assert counts[KG + "link/c1/user7"] == "2"  # once in each turn


def test_per_turn_text_equality_invariant(spark):
    """input_hint: per-turn text equality under stable turn ordering.
    Rebuild (conv_id, turn_idx) -> text from the graph and compare to
    the source transcripts exactly."""
    t = synthetic_transcripts(spark, n_convs=30, turns_per_conv=6)
    triples = extract_triples(t)
    texts = (
        triples.filter(F.col("predicate") == KG + "hasText")
        .select(
            F.regexp_extract("s_value", r"turn/(.+)/(\d+)$", 1).alias("conv_id"),
            F.regexp_extract("s_value", r"turn/(.+)/(\d+)$", 2).cast("int").alias("turn_idx"),
            F.col("o_value").alias("text"),
        )
    )
    src = t.select("conv_id", "turn_idx", "text")
    assert as_set(texts) == as_set(src)
    # stable ordering: per conversation the turn_idx sequence is dense
    per_conv = (
        texts.groupBy("conv_id")
        .agg(F.count("*").alias("n"), F.countDistinct("turn_idx").alias("d"))
        .filter(F.col("n") != F.col("d"))
    )
    assert per_conv.count() == 0


def test_transcripts_from_events_shape(spark):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    t = transcripts_from_events(events)
    assert t.columns == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    assert t.count() == events.count()
    # turn_idx dense per conversation starting at 1
    agg = t.groupBy("conv_id").agg(
        F.min("turn_idx").alias("lo"), F.max("turn_idx").alias("hi"), F.count("*").alias("n")
    )
    bad = agg.filter((F.col("lo") != 1) | (F.col("hi") != F.col("n")))
    assert bad.count() == 0


def test_skewed_conversation_still_exact(spark):
    """One conv holding ~30%% of turns: results stay exact (AQE handles
    placement; correctness is placement-independent)."""
    t = synthetic_transcripts(
        spark, n_convs=20, turns_per_conv=5, skew_conv="conv-hot", skew_turns=40
    )
    a = as_set(dedupe_triples(extract_triples(t)))
    b = as_set(dedupe_triples(extract_triples_pandas(t)))
    assert a == b
    hot_turns = [x for x in a if x[1].startswith(KG + "turn/conv-hot/") and x[2] == RDF_TYPE]
    assert len(hot_turns) == 40


def test_conversation_stats(spark):
    from tripsu_spark.operators.extract import conversation_stats

    rows = [
        ("c1", 1, "user", "hi there", None, None),
        ("c1", 2, "assistant", "hello!", "search", None),
        ("c1", 3, "user", "bye", None, None),
        ("c2", 1, "system", "boot", None, None),
    ]
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    got = {r["conv_id"]: r for r in conversation_stats(t).collect()}
    c1 = got["c1"]
    assert c1["n_turns"] == 3 and c1["n_roles"] == 2
    assert c1["n_tool_turns"] == 1  # NULL tools not counted
    assert c1["total_chars"] == len("hi there") + len("hello!") + len("bye")
    assert c1["max_turn_idx"] == 3
    # exact integers, not a rounded double (engine-proof hashing)
    assert c1["n_user_turns"] == 2
    assert c1["user_frac_ppm"] == (1_000_000 * 2) // 3  # 666666
    assert got["c2"]["n_turns"] == 1 and got["c2"]["user_frac_ppm"] == 0
    # aggregate is map-side combinable: single shuffle keyed on conv_id
    plan = conversation_stats(t)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1


def test_filter_conversations(spark):
    from tripsu_spark.operators.extract import filter_conversations

    rows = [
        # c-keep: 4 turns, 2 user -> user_frac_ppm = 500000, passes
        ("c-keep", 1, "user", "hi", None, None),
        ("c-keep", 2, "assistant", "yo", None, None),
        ("c-keep", 3, "user", "ok", None, None),
        ("c-keep", 4, "assistant", "bye", None, None),
        # c-frag: single turn -> n_turns < 3, dropped
        ("c-frag", 1, "user", "hello?", None, None),
        # c-loop: all-assistant -> user_frac_ppm = 0, dropped
        ("c-loop", 1, "assistant", "a", None, None),
        ("c-loop", 2, "assistant", "b", None, None),
        ("c-loop", 3, "assistant", "c", None, None),
    ]
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    kept = filter_conversations(t)
    assert {r["conv_id"] for r in kept.collect()} == {"c-keep"}
    assert kept.count() == 4  # every turn of the surviving conv
    # custom predicate path
    loose = filter_conversations(t, "n_turns >= 1")
    assert loose.count() == len(rows)
    # plan: broadcast LEFT SEMI join; the only shuffle is the stats
    # aggregate itself — the big transcript side is never re-shuffled
    plan = kept._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE prints both sections
    assert "BroadcastHashJoin" in final and "LeftSemi" in final
    assert final.count("Exchange hashpartitioning") == 1
    # composes with extraction (its stated purpose)
    trip = dedupe_triples(extract_triples(kept))
    assert trip.filter(F.col("s_value").contains("c-loop")).count() == 0
    assert trip.count() > 0
