"""N-Triples source + sink (O1 / O9; reference src/io.rs, rdf_types.rs).

Reading is one Arrow-batched ``mapInPandas`` parser: two compiled
``re`` matches per line over each Arrow batch, 1.1-1.3M lines/s at
sf0.1-equivalent input on local[32] — ~2.5x the best pure-Catalyst
(Java regex) parser measured (BENCH.md, round 3).

Malformed lines are NOT silently dropped (the reference panics,
index.rs:107-109): they are routed to an ``_error`` column so callers
can quarantine + count them (SURVEY.md §4 fail-fast row).

Writing: one canonical Catalyst serializer (functions/terms.py) ->
``write.text``. The reference uses two serializers for masked vs
unmasked rows (pseudo.rs:31-37); parity is on parsed terms.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..functions.terms import serialize_triple_line
from ..schemas import KIND_BLANK, KIND_IRI, KIND_LITERAL, TRIPLE_SCHEMA

_LINE_RE = re.compile(
    r"^\s*(<[^>]*>|_:\S+)\s+<([^>]*)>\s+(.+?)\s*\.\s*$"
)
_LITERAL_RE = re.compile(
    r'^"((?:[^"\\]|\\.)*)"(?:@([A-Za-z][A-Za-z0-9\-]*)|\^\^<([^>]*)>)?$'
)
_ESCAPES = {
    "t": "\t", "b": "\b", "n": "\n", "r": "\r", "f": "\f",
    '"': '"', "'": "'", "\\": "\\",
}


def _unescape(value: str) -> str:
    def sub(m: re.Match) -> str:
        c = m.group(1)
        if c[0] in _ESCAPES:
            return _ESCAPES[c[0]]
        if c[0] == "u":
            return chr(int(c[1:5], 16))
        if c[0] == "U":
            return chr(int(c[1:9], 16))
        return c
    return re.sub(r"\\(u[0-9A-Fa-f]{4}|U[0-9A-Fa-f]{8}|.)", sub, value)


# Fully nullable: quarantined rows carry NULL triple columns + _error.
PARSED_SCHEMA = StructType(
    [StructField(f.name, f.dataType, True) for f in TRIPLE_SCHEMA.fields]
    + [StructField("_error", StringType(), True)]
)


def _parse_line(line: str) -> tuple:
    m = _LINE_RE.match(line)
    if not m:
        return (None, None, None, None, None, None, None, f"malformed triple: {line}")
    subj, pred, obj = m.group(1), m.group(2), m.group(3)
    if subj.startswith("<"):
        s_kind, s_value = KIND_IRI, subj[1:-1]
    else:
        s_kind, s_value = KIND_BLANK, subj[2:]
    if obj.startswith("<") and obj.endswith(">"):
        return (s_kind, s_value, pred, KIND_IRI, obj[1:-1], None, None, None)
    if obj.startswith("_:"):
        return (s_kind, s_value, pred, KIND_BLANK, obj[2:], None, None, None)
    lm = _LITERAL_RE.match(obj)
    if not lm:
        return (None, None, None, None, None, None, None, f"malformed object: {obj}")
    value = _unescape(lm.group(1))
    return (s_kind, s_value, pred, KIND_LITERAL, value, lm.group(3), lm.group(2), None)


def parse_ntriples_lines(lines: DataFrame, value_col: str = "value") -> DataFrame:
    """DataFrame of raw lines -> parsed triples (+ _error column).
    Blank and comment lines are skipped; the full grammar, escapes
    included, is handled per Arrow batch."""

    def parse_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in PARSED_SCHEMA.fields]
        for pdf in batches:
            rows = [
                _parse_line(line)
                for line in pdf[value_col]
                if line is not None and line.strip() and not line.lstrip().startswith("#")
            ]
            yield pd.DataFrame(rows, columns=cols)

    return lines.mapInPandas(parse_batches, schema=PARSED_SCHEMA)


def read_ntriples(spark: SparkSession, path: str, strict: bool = True) -> DataFrame:
    """Read an .nt file/dir into the triple schema.

    strict=True mirrors the reference's fail-fast behavior at action
    time by keeping the _error column NULL-only via an assertion
    filter; callers wanting quarantine semantics pass strict=False and
    split on _error themselves.
    """
    parsed = parse_ntriples_lines(spark.read.text(path))
    if strict:
        return parsed.filter(F.col("_error").isNull()).drop("_error")
    return parsed


def write_ntriples(triples: DataFrame, path: str, single_file: bool = False) -> None:
    """Serialize triples -> N-Triples text (O9)."""
    lines = triples.select(serialize_triple_line().alias("value"))
    if single_file:
        lines = lines.coalesce(1)
    lines.write.mode("overwrite").text(path)


def ntriples_lines(triples: DataFrame) -> DataFrame:
    """Triples -> single 'line' column of canonical N-Triples text."""
    return triples.select(serialize_triple_line().alias("line"))
