"""Two-pass KG-construction pipeline (reference main.rs subcommands).

Pass 1 (``tripsu index``): transcripts -> triples -> type index.
Pass 2 (``tripsu pseudo``): triples + broadcast(index) + rules ->
masked -> pseudonymized triples -> partitioned graph table.

The whole plan is DataFrame algebra; `.explain("formatted")` shows a
single shuffle for the index aggregate and (in the default sha256
mode) broadcast joins + whole-stage codegen for all of pass 2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..crypto import Pseudonymizer, pseudo_triple
from ..operators.masking import apply_masks
from ..rules import Rules

TRIPLE_COLS = ["s_kind", "s_value", "predicate", "o_kind", "o_value", "o_datatype", "o_lang"]


def pseudonymize(
    triples: DataFrame,
    index_df: DataFrame,
    rules: Rules,
    hasher: Pseudonymizer,
    key_fn=None,
) -> DataFrame:
    """Pass 2 core: mask + conditional rewrite (pseudo.rs:47-77).
    ``key_fn`` maps serialized terms into the index's key space (see
    operators/masking.py::join_types). Columns other than the triple
    columns pass through unchanged, after them."""
    extra = [c for c in triples.columns if c not in TRIPLE_COLS]
    masked = apply_masks(triples, index_df, rules, key_fn=key_fn)
    rewritten = pseudo_triple(
        masked, F.col("mask_subject"), F.col("mask_object"), hasher
    )
    return rewritten.select(*TRIPLE_COLS, *extra)


DEFAULT_RULES_YAML = """
# Flagship rules over the transcript KG (mirrors the shape of the
# reference fixture tests/data/rules.yaml: one of_type rule, one
# on_predicate rule, one on_type_predicate rule).
prefixes:
  "": "<http://example.org/kg/>"
nodes:
  of_type:
    - ":User"
objects:
  on_predicate:
    - ":hasText"
  on_type_predicate:
    ":Turn":
      - ":hasRole"
"""


def default_rules() -> Rules:
    return Rules.from_yaml(DEFAULT_RULES_YAML)
