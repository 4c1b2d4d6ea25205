"""Transcript -> triple extraction (graft layer; no tripsu counterpart;
BASELINE.json north_star: "batched mention detection and entity-link
scoring per conversation window").

Deterministic IRI minting under the ``http://example.org/kg/`` base:

  conversation  kg:conv/<conv_id>          rdf:type kg:Conversation
  turn          kg:turn/<conv_id>/<idx>    rdf:type kg:Turn
  user entity   kg:user/<id>               rdf:type kg:User
  item entity   kg:item/<id>               rdf:type kg:Item
  tool entity   kg:tool/<name>             rdf:type kg:Tool
  entity link   kg:link/<conv_id>/<local>  rdf:type kg:EntityLink

Turn triples: partOf, hasRole (literal), hasText (literal), usedTool,
ts (xsd:dateTime literal), mentions (one per detected @user / #item
mention). Per-conversation entity-link rows carry the mention count
(the link score) as an xsd:integer literal.

Two equivalent implementations:
- ``extract_triples``: pure Catalyst (regexp_extract_all + explode +
  unions) — whole-stage-codegen'd, predicate-pushdown friendly, and
  expressible in ANSI SQL for the DuckDB oracle.
- ``extract_triples_pandas``: salted repartition on conv_id ->
  ``applyInPandas`` over per-conversation windows sorted by turn_idx
  (the north-star-named shape). Verified row-identical to the Catalyst
  path in tests/test_extract.py.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import RDF_TYPE
from ..schemas import KIND_IRI, KIND_LITERAL, TRANSCRIPT_SCHEMA, TRIPLE_SCHEMA

KG = "http://example.org/kg/"
XSD_DATETIME = "http://www.w3.org/2001/XMLSchema#dateTime"
XSD_INTEGER = "http://www.w3.org/2001/XMLSchema#integer"
TS_FMT = "yyyy-MM-dd'T'HH:mm:ss"
TRANSCRIPT_COLS = TRANSCRIPT_SCHEMA.fieldNames()

_MENTION_USER = r"@user(\d+)"
_MENTION_ITEM = r"#item(\d+)"


def _iri(value):
    return (
        F.lit(KIND_IRI).alias("o_kind"),
        value.alias("o_value"),
        F.lit(None).cast("string").alias("o_datatype"),
        F.lit(None).cast("string").alias("o_lang"),
    )


def _subj(value):
    return (F.lit(KIND_IRI).alias("s_kind"), value.alias("s_value"))


def _conv_iri():
    return F.concat(F.lit(KG + "conv/"), F.col("conv_id"))


def _turn_iri():
    return F.concat(
        F.lit(KG + "turn/"), F.col("conv_id"), F.lit("/"), F.col("turn_idx").cast("string")
    )


def _obj_struct(pred, o_kind: str, o_value, o_datatype=None):
    return F.struct(
        pred.alias("predicate") if isinstance(pred, Column) else F.lit(pred).alias("predicate"),
        F.lit(o_kind).alias("o_kind"),
        o_value.alias("o_value"),
        (F.lit(o_datatype) if o_datatype else F.lit(None)).cast("string").alias("o_datatype"),
        F.lit(None).cast("string").alias("o_lang"),
    )


def _with_mentions(transcripts: DataFrame) -> DataFrame:
    return transcripts.withColumn(
        "_users", F.regexp_extract_all(F.col("text"), F.lit(_MENTION_USER), 1)
    ).withColumn(
        "_items", F.regexp_extract_all(F.col("text"), F.lit(_MENTION_ITEM), 1)
    )


def per_turn_triples(transcripts: DataFrame) -> DataFrame:
    """The stateless O(rows) bulk of extraction: each transcript row
    independently yields its turn triples (type/partOf/role/text/ts/
    tool/mentions) via one array<struct> + explode — a single narrow
    scan, shuffle-free, whole-stage-codegen'd. Also used unchanged by
    the Structured Streaming path (it is append-only per row).

    Input columns other than the transcript columns pass through to
    every triple of their row, so a caller can slice the output by a
    column it added (plans/lineage.py filters on ``_bucket``)."""
    extra = [c for c in transcripts.columns if c not in TRANSCRIPT_COLS]
    t = _with_mentions(transcripts)
    conv = _conv_iri()

    base = F.array(
        _obj_struct(RDF_TYPE, KIND_IRI, F.lit(KG + "Turn")),
        _obj_struct(KG + "partOf", KIND_IRI, conv),
        _obj_struct(KG + "hasRole", KIND_LITERAL, F.col("role")),
        _obj_struct(KG + "hasText", KIND_LITERAL, F.col("text")),
    )
    ts_arr = F.filter(
        F.array(
            _obj_struct(
                KG + "ts", KIND_LITERAL, F.date_format(F.col("ts"), TS_FMT), XSD_DATETIME
            )
        ),
        lambda _: F.col("ts").isNotNull(),
    )
    tool_arr = F.filter(
        F.array(
            _obj_struct(KG + "usedTool", KIND_IRI, F.concat(F.lit(KG + "tool/"), F.col("tool")))
        ),
        lambda _: F.col("tool").isNotNull(),
    )
    user_arr = F.transform(
        F.col("_users"),
        lambda u: _obj_struct(KG + "mentions", KIND_IRI, F.concat(F.lit(KG + "user/"), u)),
    )
    item_arr = F.transform(
        F.col("_items"),
        lambda i: _obj_struct(KG + "mentions", KIND_IRI, F.concat(F.lit(KG + "item/"), i)),
    )

    return t.select(
        F.lit(KIND_IRI).alias("s_kind"),
        _turn_iri().alias("s_value"),
        F.explode(F.concat(base, ts_arr, tool_arr, user_arr, item_arr)).alias("x"),
        *extra,
    ).select(
        "s_kind",
        "s_value",
        F.col("x.predicate").alias("predicate"),
        F.col("x.o_kind").alias("o_kind"),
        F.col("x.o_value").alias("o_value"),
        F.col("x.o_datatype").alias("o_datatype"),
        F.col("x.o_lang").alias("o_lang"),
        *extra,
    )


def derived_triples(transcripts: DataFrame) -> DataFrame:
    """The aggregate-derived (non-per-turn) triples: conversation/tool
    typing, mentioned-entity typing, and reified entity-link scores.
    These are GLOBAL facts — a resumable bucketed runner must emit them
    once over the whole input, not once per bucket (tests/test_lineage
    asserts bucket-count invariance)."""
    t = _with_mentions(transcripts)

    conv_type = (
        t.select(F.col("conv_id")).distinct()
        .select(
            *_subj(F.concat(F.lit(KG + "conv/"), F.col("conv_id"))),
            F.lit(RDF_TYPE).alias("predicate"),
            *_iri(F.lit(KG + "Conversation")),
        )
    )
    tool_type = (
        t.filter(F.col("tool").isNotNull())
        .select(F.col("tool")).distinct()
        .select(
            *_subj(F.concat(F.lit(KG + "tool/"), F.col("tool"))),
            F.lit(RDF_TYPE).alias("predicate"),
            *_iri(F.lit(KG + "Tool")),
        )
    )

    # One aggregate over all mentions: (conv, kind, eid) -> count.
    # Feeds both entity typing (distinct eid per kind) and the reified
    # entity-link score nodes.
    links = (
        t.select(
            F.col("conv_id"),
            F.explode(
                F.concat(
                    F.transform(
                        F.col("_users"),
                        lambda u: F.struct(F.lit("user").alias("kind"), u.alias("eid")),
                    ),
                    F.transform(
                        F.col("_items"),
                        lambda i: F.struct(F.lit("item").alias("kind"), i.alias("eid")),
                    ),
                )
            ).alias("m"),
        )
        .groupBy("conv_id", F.col("m.kind").alias("kind"), F.col("m.eid").alias("eid"))
        .agg(F.count(F.lit(1)).alias("n"))
    )

    entity_iri = F.concat(F.lit(KG), F.col("kind"), F.lit("/"), F.col("eid"))
    entity_type = (
        links.select("kind", "eid").distinct()
        .select(
            *_subj(entity_iri),
            F.lit(RDF_TYPE).alias("predicate"),
            *_iri(
                F.when(F.col("kind") == "user", F.lit(KG + "User")).otherwise(
                    F.lit(KG + "Item")
                )
            ),
        )
    )

    link_iri = F.concat(
        F.lit(KG + "link/"), F.col("conv_id"), F.lit("/"), F.col("kind"), F.col("eid")
    )
    link_rows = links.select(
        *_subj(link_iri),
        F.explode(
            F.array(
                _obj_struct(RDF_TYPE, KIND_IRI, F.lit(KG + "EntityLink")),
                _obj_struct(
                    KG + "inConv", KIND_IRI, F.concat(F.lit(KG + "conv/"), F.col("conv_id"))
                ),
                _obj_struct(KG + "ofEntity", KIND_IRI, entity_iri),
                _obj_struct(
                    KG + "mentionCount", KIND_LITERAL, F.col("n").cast("string"), XSD_INTEGER
                ),
            )
        ).alias("x"),
    ).select(
        "s_kind",
        "s_value",
        F.col("x.predicate").alias("predicate"),
        F.col("x.o_kind").alias("o_kind"),
        F.col("x.o_value").alias("o_value"),
        F.col("x.o_datatype").alias("o_datatype"),
        F.col("x.o_lang").alias("o_lang"),
    )

    return (
        conv_type.unionByName(tool_type)
        .unionByName(entity_type)
        .unionByName(link_rows)
    )


def type_triples(transcripts: DataFrame) -> DataFrame:
    """Every rdf:type statement ``extract_triples`` makes, from one
    ``explode`` per row and no aggregate: the pass-1 input (tripsu's
    pass 1 reads only rdf:type statements, reference src/index.rs).

    Each row yields its Turn typing, its Conversation and Tool typing,
    and per mention the User/Item typing and the EntityLink typing.
    Rows repeat across turns (a conversation is typed once per turn);
    ``build_type_index``'s ``collect_set`` removes the repeats, so the
    index equals the one built from ``extract_triples``."""
    t = _with_mentions(transcripts)

    def row(s_value, type_local):
        return F.struct(s_value.alias("s"), F.lit(KG + type_local).alias("o"))

    def mention_rows(col, kind, type_local):
        def rows(eid):
            link = F.concat(F.lit(KG + "link/"), F.col("conv_id"), F.lit(f"/{kind}"), eid)
            return F.array(
                row(F.concat(F.lit(f"{KG}{kind}/"), eid), type_local), row(link, "EntityLink")
            )

        return F.flatten(F.transform(F.col(col), rows))

    tool_arr = F.filter(
        F.array(row(F.concat(F.lit(KG + "tool/"), F.col("tool")), "Tool")),
        lambda _: F.col("tool").isNotNull(),
    )
    # A NULL text makes the mention arrays NULL; like per_turn_triples
    # (no turn triples) and derived_triples (no mentions), such a row
    # then types only its conversation and tool.
    turn_arr = F.concat(
        F.array(row(_turn_iri(), "Turn")),
        mention_rows("_users", "user", "User"),
        mention_rows("_items", "item", "Item"),
    )
    return t.select(
        F.explode(
            F.concat(
                F.array(row(_conv_iri(), "Conversation")),
                tool_arr,
                F.coalesce(turn_arr, F.array().cast("array<struct<s:string,o:string>>")),
            )
        ).alias("x")
    ).select(
        *_subj(F.col("x.s")),
        F.lit(RDF_TYPE).alias("predicate"),
        *_iri(F.col("x.o")),
    )


def extract_triples(transcripts: DataFrame) -> DataFrame:
    """Pure-Catalyst extraction, scan-frugal by construction.

    ``per_turn_triples`` provides the O(rows) bulk from one scan; only
    the small ``derived_triples`` frames (conversation/tool typing,
    entity typing, per-conversation link scores) aggregate separately,
    over narrow projections. At 100 TB the bulk pass is embarrassingly
    parallel and shuffle-free; the aggregates shuffle only
    (conv_id, entity) pairs.
    """
    t = transcripts.select(*TRANSCRIPT_COLS)
    return per_turn_triples(t).unionByName(derived_triples(t))


def extract_triples_pandas(transcripts: DataFrame) -> DataFrame:
    """applyInPandas extraction over per-conversation windows.

    Groups by conv_id (one Arrow batch per conversation), sorts within
    the group by turn_idx for stable turn ordering, then runs batched
    regex mention detection + entity-link counting in pandas. Entity
    rdf:type rows are minted once per group, so callers comparing with
    the Catalyst path apply ``dedupe_triples`` (RDF graphs are sets).
    Hot conv_ids at the groupBy shuffle are handled by AQE skew splits
    (conf/spark_defaults.py); correctness never depends on partition
    placement.
    """
    user_re = re.compile(_MENTION_USER)
    item_re = re.compile(_MENTION_ITEM)

    def extract_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("turn_idx", kind="mergesort")
        rows: list[tuple] = []

        def iri_row(s: str, p: str, o: str):
            rows.append((KIND_IRI, s, p, KIND_IRI, o, None, None))

        def lit_row(s: str, p: str, v: str, dt: str | None = None):
            rows.append((KIND_IRI, s, p, KIND_LITERAL, v, dt, None))

        convs = pdf["conv_id"].unique()
        seen_tools: set[str] = set()
        seen_users: set[str] = set()
        seen_items: set[str] = set()
        link_counts: dict[tuple[str, str, str], int] = {}

        for conv_id in convs:
            iri_row(f"{KG}conv/{conv_id}", RDF_TYPE, KG + "Conversation")

        for rec in pdf.itertuples(index=False):
            conv = f"{KG}conv/{rec.conv_id}"
            turn = f"{KG}turn/{rec.conv_id}/{rec.turn_idx}"
            iri_row(turn, RDF_TYPE, KG + "Turn")
            iri_row(turn, KG + "partOf", conv)
            lit_row(turn, KG + "hasRole", rec.role)
            lit_row(turn, KG + "hasText", rec.text)
            if rec.ts is not None and not pd.isna(rec.ts):
                lit_row(turn, KG + "ts", rec.ts.strftime("%Y-%m-%dT%H:%M:%S"), XSD_DATETIME)
            if rec.tool is not None and not pd.isna(rec.tool):
                iri_row(turn, KG + "usedTool", f"{KG}tool/{rec.tool}")
                seen_tools.add(rec.tool)
            text = rec.text or ""
            for uid in user_re.findall(text):
                iri_row(turn, KG + "mentions", f"{KG}user/{uid}")
                seen_users.add(uid)
                key = (rec.conv_id, "user", uid)
                link_counts[key] = link_counts.get(key, 0) + 1
            for iid in item_re.findall(text):
                iri_row(turn, KG + "mentions", f"{KG}item/{iid}")
                seen_items.add(iid)
                key = (rec.conv_id, "item", iid)
                link_counts[key] = link_counts.get(key, 0) + 1

        for tool in seen_tools:
            iri_row(f"{KG}tool/{tool}", RDF_TYPE, KG + "Tool")
        for uid in seen_users:
            iri_row(f"{KG}user/{uid}", RDF_TYPE, KG + "User")
        for iid in seen_items:
            iri_row(f"{KG}item/{iid}", RDF_TYPE, KG + "Item")
        for (conv_id, kind, eid), n in link_counts.items():
            link = f"{KG}link/{conv_id}/{kind}{eid}"
            iri_row(link, RDF_TYPE, KG + "EntityLink")
            iri_row(link, KG + "inConv", f"{KG}conv/{conv_id}")
            iri_row(link, KG + "ofEntity", f"{KG}{kind}/{eid}")
            lit_row(link, KG + "mentionCount", str(n), XSD_INTEGER)

        return pd.DataFrame(rows, columns=[f.name for f in TRIPLE_SCHEMA.fields])

    # NOTE: entity rdf:type rows are deduped per conversation group here,
    # not globally; global dedup happens in dedupe_triples() below —
    # callers comparing against extract_triples() must apply it.
    return transcripts.groupBy("conv_id").applyInPandas(
        extract_group, schema=TRIPLE_SCHEMA
    )


def dedupe_triples(triples: DataFrame) -> DataFrame:
    """Global exact dedup of triples (entity/type rows are minted once
    per conversation group in the pandas path)."""
    return triples.dropDuplicates(
        ["s_kind", "s_value", "predicate", "o_kind", "o_value", "o_datatype", "o_lang"]
    )


def conversation_stats(transcripts: DataFrame) -> DataFrame:
    """Per-conversation curation stats over the transcript table:
    (conv_id, n_turns, n_roles, n_tool_turns, total_chars, max_turn_idx,
    n_user_turns, user_frac_ppm) — the conversation-level analog of the
    document quality signals (operators/text.py): a transcript pipeline
    filters/caps conversations on these BEFORE triple extraction (drop
    single-turn fragments, cap runaway agent loops, balance role mix).

    Every column is an exact integer. The user-turn share is carried as
    the pair (n_user_turns, n_turns) plus a convenience
    ``user_frac_ppm = (1_000_000 * n_user_turns) div n_turns`` computed
    in pure bigint arithmetic — deliberately NOT a rounded double: a
    round(k/n, 6) double is a non-terminating ratio whose last ulp can
    differ between engines/versions, which made this the one
    hash-mismatching query in CORRECTNESS_r04. Integer div is
    engine-exact everywhere.

    100 TB: ONE map-side-combined aggregate keyed on conv_id (the same
    shuffle key the bucketed writer and skew handling already use).
    n_roles uses size(collect_set(role)) rather than countDistinct on
    purpose: a distinct-aggregate plans a second Exchange (expand +
    two-phase), while collect_set is an ordinary combinable aggregate
    with state bounded by the tiny role vocabulary — the single-shuffle
    shape is plan-asserted in tests/test_extract.py. No reference
    counterpart (tripsu has no conversation model; graft input,
    SURVEY.md §1.6).
    """
    n_user = F.sum(F.when(F.col("role") == "user", 1).otherwise(0)).cast("bigint")
    return transcripts.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.size(F.collect_set("role")).cast("bigint").alias("n_roles"),
        F.count("tool").alias("n_tool_turns"),  # count() skips NULL tools
        F.sum(F.length("text")).alias("total_chars"),
        F.max("turn_idx").alias("max_turn_idx"),
        n_user.alias("n_user_turns"),
        F.expr(
            "CAST((1000000 * sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END))"
            " DIV count(*) AS BIGINT)"
        ).alias("user_frac_ppm"),
    )


#: Default curation predicate over conversation_stats columns: keep
#: conversations long enough to carry structure, not runaway agent
#: loops, with a sane user-turn share. Plain SQL so the DuckDB oracle
#: can reuse the string verbatim.
DEFAULT_CONV_PREDICATE = (
    "n_turns >= 3 AND n_turns <= 500 "
    "AND user_frac_ppm BETWEEN 100000 AND 900000"
)

#: Predicate used for the driver's oracle row: the synthetic sf tables
#: are uniform enough that the generic default keeps everything (a
#: vacuous gate proves nothing), so the gated query uses thresholds
#: that demonstrably discriminate there (sf0.01: n_turns spans 49-86,
#: user_frac_ppm 232k-580k — this keeps roughly the middle half).
GATE_CONV_PREDICATE = "n_turns <= 72 AND user_frac_ppm BETWEEN 300000 AND 500000"


def filter_conversations(
    transcripts: DataFrame, predicate: str = DEFAULT_CONV_PREDICATE
) -> DataFrame:
    """Keep only the transcript rows of conversations whose
    ``conversation_stats`` row satisfies ``predicate`` (a SQL boolean
    over the stats columns) — the consumer the stats operator exists
    for: drop single-turn fragments / runaway loops / role-imbalanced
    conversations BEFORE triple extraction. Compose as
    ``extract_triples(filter_conversations(t))``.

    100 TB shape (mirrors apply_mixture): the surviving conv_id set is
    a per-conversation aggregate — orders of magnitude smaller than the
    turns table — so it is broadcast and the filter is a broadcast
    LEFT SEMI join: the big side keeps its partitioning, no second
    shuffle (plan-asserted in tests/test_extract.py). At a corpus where
    even the conv-id set outgrows broadcast, drop the hint and let AQE
    pick a shuffled semi-join keyed on conv_id — the same key the
    stats shuffle and bucketed writer already use.
    """
    keep = conversation_stats(transcripts).filter(predicate).select("conv_id")
    return transcripts.join(F.broadcast(keep), "conv_id", "left_semi")
