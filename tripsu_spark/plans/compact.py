"""Prefix-compacted + dictionary-coded graph-table storage.

Every IRI this engine mints shares the KG base prefix
(operators/extract.py::KG), and rdf:type shares the RDF namespace.
Storing full IRIs per row makes the materialized graph table carry
20-45 redundant bytes per value — bytes that flow through the
pre-write sort, the parquet encoder, the page cache, and every pass-2
scan. At 10^12 turns that is tens of terabytes of pure prefix.

Two storage levels, both exact round-trips for ANY input: kinds,
predicates, datatypes and IRIs outside the engine-minted vocabulary
pass through verbatim via fallback columns (all-NULL, hence ~free,
for in-vocabulary rows). This is a storage-layer change, not a
semantic one; tests/test_compact.py asserts frame equality on minted
AND foreign inputs:

- Level 1 (``compact_triples``): strip known IRI prefixes into tiny
  code columns (RLE-encoded to ~nothing by parquet).
- Level 2 (``compact_triples(df, level=2)``): additionally
  dictionary-code the low-cardinality string columns — kinds
  ('iri'/'blank'/'literal' -> tinyint), the 10 engine-minted
  predicates and 2 minted datatypes (tinyint against fixed literal
  dictionaries, string-fallback column for foreign values). The
  dictionaries are compiled into the expansion expression as `when`
  chains, so restoring a row costs integer compares, not string
  traffic, and the row that flows through the pre-write sort / shuffle
  / scan carries 3 tinyints where it carried 3 strings.

``expand_triples`` / ``maybe_expand`` restore the exact original frame
with codegen expressions at read time, fused by Catalyst into whatever
consumes them (hash input assembly, N-Triples serialization).
Non-triple columns (e.g. a precomputed ``pred_part`` partition column)
pass through both directions untouched.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.extract import KG, RDF_TYPE, XSD_DATETIME, XSD_INTEGER
from ..schemas import KIND_BLANK, KIND_IRI, KIND_LITERAL
from .pipeline import TRIPLE_COLS

RDF_NS = RDF_TYPE[: RDF_TYPE.rindex("#") + 1]
# code 0 = verbatim, 1 = KG base, 2 = RDF namespace
_PREFIXES = [(1, KG), (2, RDF_NS)]

COMPACT_COLS = [
    "s_kind", "s_value", "s_pfx", "predicate", "p_pfx",
    "o_kind", "o_value", "o_pfx", "o_datatype", "o_lang",
]

# Level-2 dictionaries: the engine-minted vocabulary (operators/
# extract.py). Code 0 is reserved for "verbatim / fallback column";
# growing the vocabulary appends codes, it never renumbers (stored
# tables stay readable).
KIND_DICT = [(1, KIND_IRI), (2, KIND_BLANK), (3, KIND_LITERAL)]
PRED_DICT = [
    (1, RDF_TYPE),
    (2, KG + "partOf"),
    (3, KG + "hasRole"),
    (4, KG + "hasText"),
    (5, KG + "ts"),
    (6, KG + "usedTool"),
    (7, KG + "mentions"),
    (8, KG + "inConv"),
    (9, KG + "ofEntity"),
    (10, KG + "mentionCount"),
]
DT_DICT = [(1, XSD_DATETIME), (2, XSD_INTEGER)]
# o_datatype NULL (a Literal.Simple, schemas.py) gets its own code so
# the fallback column can be NULL for every in-vocabulary row.
_DT_NULL_CODE = -1

COMPACT2_COLS = [
    "s_kc", "s_kind", "s_value", "s_pfx", "p_code", "predicate", "p_pfx",
    "o_kc", "o_kind", "o_value", "o_pfx", "o_dc", "o_datatype", "o_lang",
]


def _strip(value: Column) -> tuple[Column, Column]:
    """value -> (compact_value, prefix_code)."""
    compact = value
    code = F.lit(0)
    for c, pfx in _PREFIXES:
        hit = value.startswith(pfx)
        compact = F.when(
            hit, value.substr(F.lit(len(pfx) + 1), F.length(value))
        ).otherwise(compact)
        code = F.when(hit, F.lit(c)).otherwise(code)
    return compact, code.cast("tinyint")


def _restore(value: Column, code: Column) -> Column:
    out = value
    for c, pfx in _PREFIXES:
        out = F.when(code == c, F.concat(F.lit(pfx), value)).otherwise(out)
    return out


def _encode(value: Column, dictionary) -> tuple[Column, Column]:
    """value -> (code, fallback) against a fixed literal dictionary.
    In-dictionary values store only the tinyint; foreign values get
    code 0 with the string kept in the fallback column."""
    code = F.lit(0)
    for c, s in dictionary:
        code = F.when(value == s, F.lit(c)).otherwise(code)
    fallback = F.when(code == 0, value).otherwise(F.lit(None).cast("string"))
    return code.cast("tinyint"), fallback


def _decode(code: Column, fallback: Column, dictionary) -> Column:
    out = fallback
    for c, s in dictionary:
        out = F.when(code == c, F.lit(s)).otherwise(out)
    return out


def _passthrough(df: DataFrame, replaced: list[str]) -> list[Column]:
    """Columns not part of the triple encoding (e.g. pred_part) keep
    flowing through unchanged."""
    return [F.col(c) for c in df.columns if c not in replaced]


def compact_triples(triples: DataFrame, level: int = 1) -> DataFrame:
    """Standard triple frame -> compact storage frame.

    level=1: prefix codes only.  level=2: prefix codes + dictionary-
    coded kind/predicate/datatype tinyints.
    """
    if level not in (1, 2):
        raise ValueError(f"storage level must be 1 or 2, got {level!r}")
    s_v, s_c = _strip(F.col("s_value"))
    p_v, p_c = _strip(F.col("predicate"))
    o_v, o_c = _strip(F.col("o_value"))
    is_iri = F.col("o_kind") == KIND_IRI
    o_value = F.when(is_iri, o_v).otherwise(F.col("o_value")).alias("o_value")
    o_pfx = F.when(is_iri, o_c).otherwise(F.lit(0).cast("tinyint")).alias("o_pfx")
    extra = _passthrough(triples, TRIPLE_COLS)
    if level == 1:
        return triples.select(
            F.col("s_kind"),
            s_v.alias("s_value"),
            s_c.alias("s_pfx"),
            p_v.alias("predicate"),
            p_c.alias("p_pfx"),
            F.col("o_kind"),
            o_value,
            o_pfx,
            F.col("o_datatype"),
            F.col("o_lang"),
            *extra,
        )
    # Kinds are a closed enum at every parse boundary, but the fallback
    # columns are kept anyway (all-NULL for valid input, ~free in
    # parquet): a frame that somehow carries a foreign kind round-trips
    # verbatim instead of being silently corrupted on expand.
    s_kc, s_kf = _encode(F.col("s_kind"), KIND_DICT)
    o_kc, o_kf = _encode(F.col("o_kind"), KIND_DICT)
    # Full-IRI predicate dictionary: in-vocabulary predicates store ONE
    # tinyint (no suffix string at all); foreign ones fall back to the
    # level-1 prefix-stripped representation.
    pr_code, _ = _encode(F.col("predicate"), PRED_DICT)
    dt_code = F.when(F.col("o_datatype").isNull(), F.lit(_DT_NULL_CODE)).otherwise(
        F.lit(0)
    )
    for c, s in DT_DICT:
        dt_code = F.when(F.col("o_datatype") == s, F.lit(c)).otherwise(dt_code)
    return triples.select(
        s_kc.alias("s_kc"),
        s_kf.alias("s_kind"),
        s_v.alias("s_value"),
        s_c.alias("s_pfx"),
        pr_code.alias("p_code"),
        F.when(pr_code == 0, p_v).alias("predicate"),
        F.when(pr_code == 0, p_c).otherwise(F.lit(0)).cast("tinyint").alias("p_pfx"),
        o_kc.alias("o_kc"),
        o_kf.alias("o_kind"),
        o_value,
        o_pfx,
        dt_code.cast("tinyint").alias("o_dc"),
        F.when(dt_code == 0, F.col("o_datatype")).alias("o_datatype"),
        F.col("o_lang"),
        *extra,
    )


def storage_level(columns: list[str]) -> int:
    """Storage level (0, 1 or 2) of a stored frame, from its columns."""
    return 2 if "s_kc" in columns else 1 if "s_pfx" in columns else 0


def maybe_expand(df: DataFrame) -> DataFrame:
    """Expand iff the frame carries compact-storage columns — lets read
    paths work against every storage format (standard, level 1, level 2)."""
    level = storage_level(df.columns)
    if level == 2:
        return expand_triples2(df)
    return expand_triples(df) if level == 1 else df


def expand_triples(compact: DataFrame) -> DataFrame:
    """Level-1 compact storage frame -> exact original triple frame."""
    return compact.select(
        F.col("s_kind"),
        _restore(F.col("s_value"), F.col("s_pfx")).alias("s_value"),
        _restore(F.col("predicate"), F.col("p_pfx")).alias("predicate"),
        F.col("o_kind"),
        _restore(F.col("o_value"), F.col("o_pfx")).alias("o_value"),
        F.col("o_datatype"),
        F.col("o_lang"),
        *_passthrough(compact, COMPACT_COLS),
    )


def expand_triples2(compact: DataFrame) -> DataFrame:
    """Level-2 compact storage frame -> exact original triple frame.
    Dictionary decodes are integer-compare `when` chains over literal
    strings (no per-row string construction for in-vocabulary values)."""
    pred = F.when(
        F.col("p_code") == 0, _restore(F.col("predicate"), F.col("p_pfx"))
    ).otherwise(_decode(F.col("p_code"), F.lit(None).cast("string"), PRED_DICT))
    o_dt = F.when(F.col("o_dc") == _DT_NULL_CODE, F.lit(None).cast("string")).otherwise(
        _decode(F.col("o_dc"), F.col("o_datatype"), DT_DICT)
    )
    return compact.select(
        _decode(F.col("s_kc"), F.col("s_kind"), KIND_DICT).alias("s_kind"),
        _restore(F.col("s_value"), F.col("s_pfx")).alias("s_value"),
        pred.alias("predicate"),
        _decode(F.col("o_kc"), F.col("o_kind"), KIND_DICT).alias("o_kind"),
        _restore(F.col("o_value"), F.col("o_pfx")).alias("o_value"),
        o_dt.alias("o_datatype"),
        F.col("o_lang"),
        *_passthrough(compact, COMPACT2_COLS),
    )
