"""Explicit schemas (no inference anywhere — reference has fixed structs).

Triple model mirrors reference src/rdf_types.rs:16-69:
  Subject  = NamedNode | BlankNode            -> (s_kind, s_value)
  predicate = NamedNode                       -> predicate (bare IRI)
  Term     = NamedNode | BlankNode | Literal  -> (o_kind, o_value, o_datatype, o_lang)

Kinds: 'iri' | 'blank' | 'literal'.  Literal.Simple <=> datatype and
lang both NULL (rdf_types.rs:49-69); values are uninterpreted strings.
"""

from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

KIND_IRI = "iri"
KIND_BLANK = "blank"
KIND_LITERAL = "literal"

TRIPLE_SCHEMA = StructType(
    [
        StructField("s_kind", StringType(), False),
        StructField("s_value", StringType(), False),
        StructField("predicate", StringType(), False),
        StructField("o_kind", StringType(), False),
        StructField("o_value", StringType(), False),
        StructField("o_datatype", StringType(), True),
        StructField("o_lang", StringType(), True),
    ]
)

# Graft input table (BASELINE.json input_hint).
TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("role", StringType(), True),
        StructField("text", StringType(), True),
        StructField("tool", StringType(), True),
        StructField("ts", TimestampType(), True),
    ]
)

# Pass-1 output: one row per subject, deduped serialized type IRIs.
# subject_key is the full serialized term ("<iri>" or "_:id"), matching
# the reference's index keying on term serializations (index.rs:87).
INDEX_SCHEMA = StructType(
    [
        StructField("subject_key", StringType(), False),
        StructField("types", StringType(), False),  # conceptual; real col is array<string>
    ]
)
