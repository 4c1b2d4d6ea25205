"""Rule matching as pure Catalyst column algebra (O5+O6+O7).

Ports the truth table of reference src/rules.rs:154-252:

- node rule ``of_type`` (rules.rs:166-188): a NAMED-NODE subject or
  object whose indexed types intersect the rule set is masked; blank
  nodes and literals never match node rules (rules.rs:169-176).
- object rule ``on_predicate`` (rules.rs:192-194): the object of any
  triple whose predicate is in the set is masked.
- object rule ``on_type_predicate`` (rules.rs:196-216): the object is
  masked when the subject's indexed types (blank subjects included,
  rules.rs:203-208) contain a type K with predicate in rules[K].
- masks OR together (rules.rs:155-156); ``invert`` negates both
  (rules.rs:158-163; model.rs:22-32 — the unused PREDICATE bit is
  irrelevant, we keep two booleans).

The type lookups (O5, index.rs:77-83) become broadcast left-outer
equi-joins against the pass-1 index — the literal Spark analogue of
tripsu's in-memory HashMap probe. No UDFs anywhere here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.terms import object_key, serialize_predicate, subject_key
from ..rules import Rules


def _lit_str_array(values) -> Column:
    vals = sorted(values)
    if not vals:
        return F.array().cast("array<string>")
    return F.array(*[F.lit(v) for v in vals])


def prune_index_for_rules(index_df: DataFrame, relevant_types) -> DataFrame:
    """Shrink the index to what the mask expressions can observe.

    The mask algebra only ever tests membership of RULE types inside a
    subject's type array, so (a) entries whose types don't intersect
    the rule types can't influence any mask — drop them; (b) within a
    kept entry, non-rule types are dead weight — intersect them away.
    Pure projection + filter (no shuffle); routinely turns a
    billions-of-subjects index into a config-bounded-fraction of it,
    which is what makes the joins below broadcastable at scale.
    """
    kept = F.array_intersect(F.col("types"), _lit_str_array(relevant_types))
    return (
        index_df.select("subject_key", kept.alias("types"))
        .filter(F.size("types") > 0)
    )


def join_types(
    triples: DataFrame,
    index_df: DataFrame,
    rules: Rules,
    key_fn=None,
) -> DataFrame:
    """Attach subj_types / obj_types arrays via two left-outer joins.

    Each side joins against a rule-pruned index: the object side only
    needs ``of_type`` types (node rules are the only object-side lookup,
    rules.rs:172-176), the subject side needs ``of_type`` + the
    ``on_type_predicate`` keys. No broadcast hint is forced: AQE
    converts to a broadcast join at runtime when the pruned side is
    small (the common case), and keeps a shuffled join when the index
    is genuinely huge — exactly the 10^12-turn behavior we want.

    ``key_fn`` transforms the triples-side serialized term into the
    index's key space (identity for the native string-keyed parquet
    index; ``rust_hash_key`` for the reference's JSON index).
    """
    if key_fn is None:
        key_fn = lambda c: c  # noqa: E731
    # ONE pruned index for BOTH sides (guide §2.4: shared exchange).
    # The object side only consults node_of_type, so pruning it to the
    # same union set as the subject side is mask-invariant: extra
    # on_type_predicate types in obj_types cannot make
    # arrays_overlap(obj_types, of_type) true, and entries kept only for
    # those types yield overlap=false exactly like the NULL the tighter
    # pruning produced. Identical build subtrees canonicalize equal, so
    # the second join reuses the first's broadcast (plan shows one
    # BroadcastExchange + ReusedExchange instead of two builds, each
    # with its own index scan).
    pruned = prune_index_for_rules(
        index_df,
        set(rules.node_of_type) | set(rules.object_on_type_predicate),
    )
    subj_index = pruned.select(
        F.col("subject_key").alias("_subj_key"), F.col("types").alias("subj_types")
    )
    obj_index = pruned.select(
        F.col("subject_key").alias("_obj_key"), F.col("types").alias("obj_types")
    )
    return (
        triples.withColumn("_subj_key", key_fn(subject_key()))
        .withColumn("_obj_key", key_fn(object_key()))
        .join(subj_index, on="_subj_key", how="left")
        .join(obj_index, on="_obj_key", how="left")
    )


def build_mask_exprs(rules: Rules) -> tuple[Column, Column]:
    """(mask_subject, mask_object) over a ``join_types`` output frame.

    Expects columns: s_kind, o_kind, predicate, subj_types, obj_types.
    All rule sets are embedded as literal arrays/maps — broadcast by
    Catalyst as part of the plan, evaluated inside codegen.
    """
    pred_ser = serialize_predicate(F.col("predicate"))
    of_type = _lit_str_array(rules.node_of_type)

    node_s = (F.col("s_kind") == "iri") & F.coalesce(
        F.arrays_overlap(F.col("subj_types"), of_type), F.lit(False)
    )
    node_o = (F.col("o_kind") == "iri") & F.coalesce(
        F.arrays_overlap(F.col("obj_types"), of_type), F.lit(False)
    )

    if rules.object_on_predicate:
        pred_o = pred_ser.isin(sorted(rules.object_on_predicate))
    else:
        pred_o = F.lit(False)

    if rules.object_on_type_predicate:
        # type -> array(predicates) as a literal MapType column.
        entries = []
        for k in sorted(rules.object_on_type_predicate):
            entries.append(F.lit(k))
            entries.append(_lit_str_array(rules.object_on_type_predicate[k]))
        tp_map = F.create_map(*entries)
        typepred_o = F.coalesce(
            F.exists(
                F.col("subj_types"),
                lambda t: F.coalesce(
                    F.array_contains(F.element_at(tp_map, t), pred_ser), F.lit(False)
                ),
            ),
            F.lit(False),
        )
    else:
        typepred_o = F.lit(False)

    mask_s = node_s
    mask_o = node_o | pred_o | typepred_o
    if rules.invert:
        mask_s = ~mask_s
        mask_o = ~mask_o
    return mask_s, mask_o


def apply_masks(
    triples: DataFrame, index_df: DataFrame, rules: Rules, key_fn=None
) -> DataFrame:
    """triples + index + rules -> triples with mask_subject/mask_object."""
    joined = join_types(triples, index_df, rules, key_fn=key_fn)
    mask_s, mask_o = build_mask_exprs(rules)
    return joined.withColumn("mask_subject", mask_s).withColumn(
        "mask_object", mask_o
    ).drop("_subj_key", "_obj_key", "subj_types", "obj_types")
