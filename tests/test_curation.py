"""Curation / data-mixing operators: semantic properties + plan shape.
(Cross-engine value equality is covered by the oracle harness; these
tests pin the properties the oracle can't see.)"""

import pytest
from pyspark.sql import functions as F

from tripsu_spark.operators.curation import (
    cap_per_group,
    mixture_plan,
    pack_sequences,
    sample_stratified,
)


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet("/root/testdata/sf0.01/documents.parquet").cache()


def test_sample_stratified_deterministic_and_calibrated(documents):
    a = sample_stratified(documents)
    b = sample_stratified(documents)
    assert {r["doc_id"] for r in a.collect()} == {r["doc_id"] for r in b.collect()}
    # per-stratum realized rate tracks the requested fraction
    frac = {"en": 0.35, "de": 0.8, "es": 0.8, "fr": 0.8}
    tot = {r["lang"]: r["n"] for r in documents.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    got = {r["lang"]: r["n"] for r in a.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, f in frac.items():
        if tot.get(lang, 0) >= 50:
            rate = got.get(lang, 0) / tot[lang]
            assert abs(rate - f) < 0.15, (lang, rate, f)


def test_sample_stratified_is_shuffle_free(documents):
    plan = sample_stratified(documents)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_cap_per_group_keeps_top_n_longest(documents):
    capped = cap_per_group(documents, n=3)
    counts = capped.groupBy("source").agg(F.count("*").alias("n")).collect()
    assert all(r["n"] <= 3 for r in counts)
    # the kept docs per group are exactly the 3 longest (ties by doc_id)
    src = documents.select("source").first()["source"]
    want = [
        r["doc_id"]
        for r in documents.filter(F.col("source") == src)
        .orderBy(F.col("n_chars").desc(), "doc_id")
        .limit(3)
        .collect()
    ]
    got = [
        r["doc_id"]
        for r in capped.filter(F.col("source") == src).orderBy("rk").collect()
    ]
    assert got == want


def test_pack_sequences_chunk_semantics(documents):
    budget = 256
    packed = pack_sequences(documents, budget=budget, n_buckets=2)
    rows = packed.orderBy("source", "bucket", "doc_id").collect()
    # recompute the running sum per partition and pin the start-offset rule
    run: dict[tuple, int] = {}
    packs: dict[tuple, int] = {}
    for r in rows:
        key = (r["source"], r["bucket"])
        start = run.get(key, 0)
        assert r["pack_id"] == start // budget, r
        run[key] = start + min(r["n_tok"], budget)
        packs[(key, r["pack_id"])] = packs.get((key, r["pack_id"]), 0) + min(
            r["n_tok"], budget
        )
    # a pack overflows by at most one straddling doc: sum of capped
    # tokens per pack < 2 * budget
    assert all(v < 2 * budget for v in packs.values())
    # and packing is space-efficient: pack ids are chunk indexes of the
    # concatenated token stream, so there can't be more packs than
    # budget-sized chunks (a chunk fully covered by a straddling doc
    # simply gets no pack of its own)
    for key, total in run.items():
        n_packs = len({p for (k, p) in packs if k == key})
        assert n_packs <= (total + budget - 1) // budget


def test_mixture_plan_realizes_target(documents):
    plan = mixture_plan(documents, total=200)
    rows = plan.collect()
    assert all(0.0 <= r["rate"] <= 1.0 for r in rows)
    # expected sampled count per source = rate * n_docs ~ share * total
    # (capped at the stratum size)
    for r in rows:
        if r["source"] in {"src0", "src1", "src2", "src3"}:
            expect = min(0.25 * 200, r["n_docs"])
            assert abs(r["rate"] * r["n_docs"] - expect) < 1.0, r


def test_pack_sequences_strict_properties(documents):
    from tripsu_spark.operators.curation import pack_sequences_strict

    budget = 256
    packed = pack_sequences_strict(documents, budget=budget, n_buckets=2)
    rows = packed.orderBy("source", "bucket", "doc_id").collect()
    # hard cap: sum of capped tokens per pack NEVER exceeds the budget
    packs: dict[tuple, int] = {}
    for r in rows:
        key = (r["source"], r["bucket"], r["pack_id"])
        packs[key] = packs.get(key, 0) + min(r["n_tok"], budget)
    assert all(v <= budget for v in packs.values())
    # greedy first-fit-in-order: replay the recurrence and match exactly
    state: dict[tuple, tuple[int, int]] = {}
    for r in rows:
        key = (r["source"], r["bucket"])
        cur, used = state.get(key, (0, 0))
        tok = min(r["n_tok"], budget)
        if used and used + tok > budget:
            cur, used = cur + 1, 0
        assert r["pack_id"] == cur, r
        state[key] = (cur, used + tok)
    # deterministic across runs
    again = {tuple(r) for r in pack_sequences_strict(documents, budget=budget, n_buckets=2).collect()}
    assert again == {tuple(r) for r in rows}


def test_sample_stratified_keep_all_fraction(documents, spark):
    """fraction >= 1.0 keeps EVERY doc in the stratum (the 'g' sentinel
    threshold sits above every hex prefix)."""
    from tripsu_spark.operators.curation import _threshold_hex

    assert _threshold_hex(1.0) == "g"
    out = sample_stratified(documents, {"en": 1.0})
    n_en = documents.filter(F.col("lang") == "en").count()
    assert out.count() == n_en


def test_pack_sequences_strict_null_tokens(spark):
    from tripsu_spark.operators.curation import pack_sequences_strict

    df = spark.createDataFrame(
        [(1, "s", 100), (2, "s", None), (3, "s", 2000)],
        "doc_id bigint, source string, n_chars bigint",
    )
    rows = {r["doc_id"]: r for r in pack_sequences_strict(df, budget=256, n_buckets=1).collect()}
    assert rows[2]["n_tok"] is None  # NULL stays NULL (window-sibling contract)
    assert rows[2]["pack_id"] == rows[1]["pack_id"]  # consumes 0 budget
    assert rows[3]["pack_id"] == rows[1]["pack_id"] + 1  # capped doc opens next pack


def test_mixture_plan_redistribute_fills_target(spark):
    """Water-filling: a source that can't fill its share caps at rate 1
    and its residual quota flows to the others, so the EXPECTED kept
    count sum(rate*n) realizes the target exactly when feasible."""
    rows = [(i, f"s{i % 3}") for i in range(10)]  # s0:4, s1:3, s2:3
    docs = spark.createDataFrame(rows, "doc_id bigint, source string")
    target = {"s0": 0.6, "s1": 0.2, "s2": 0.2}
    # target 8: s0 wants 4.8 > 4 -> capped at 4; residual 0.8 splits
    # evenly over s1/s2 (equal shares): 2 + 2 with rate (8-4)/(3+3)*...
    plan = {r["source"]: r for r in
            mixture_plan(docs, target, total=8, redistribute=True).collect()}
    assert plan["s0"]["rate"] == 1.0
    realized = sum(r["rate"] * r["n_docs"] for r in plan.values())
    assert abs(realized - 8) < 1e-4, realized
    assert abs(plan["s1"]["rate"] - plan["s2"]["rate"]) < 1e-9
    # infeasible target (> corpus): everything capped at 1
    plan_all = mixture_plan(docs, target, total=100, redistribute=True).collect()
    assert all(r["rate"] == 1.0 for r in plan_all)
    # without redistribution the residual is lost (documents the gap)
    plain = {r["source"]: r for r in mixture_plan(docs, target, total=8).collect()}
    realized_plain = sum(r["rate"] * r["n_docs"] for r in plain.values())
    assert realized_plain < 8 - 0.5
    # untargeted sources stay excluded
    plan_sub = {r["source"]: r["rate"] for r in
                mixture_plan(docs, {"s0": 1.0}, total=2, redistribute=True).collect()}
    assert plan_sub["s1"] == 0.0 and plan_sub["s2"] == 0.0


def test_threshold_hex_boundary_fraction():
    """Fractions just below 1.0 whose rounded bucket count equals 16^8
    must hit the 'g' sentinel, not the 9-char '100000000' (which sorts
    BELOW most 8-hex prefixes and would silently drop ~94%)."""
    from tripsu_spark.operators.curation import _threshold_hex

    assert _threshold_hex(1 - 2**-34) == "g"  # rounds up to 16^8 exactly
    assert _threshold_hex(1.0) == "g"
    assert _threshold_hex(1 - 2**-31) == "fffffffe"  # still representable
    assert _threshold_hex(0.0) == "00000000"
    assert all(len(t) == 8 or t == "g" for t in
               (_threshold_hex(f) for f in (0.1, 0.5, 0.999999999, 1.5)))


def test_pack_sequences_null_consumes_zero_budget(spark):
    """A NULL-n_chars doc must charge 0 tokens in the window packer —
    the same contract as the strict sibling (F.least would otherwise
    silently charge it a FULL budget because least() skips nulls)."""
    df = spark.createDataFrame(
        [(1, "s", 100), (2, "s", None), (3, "s", 100)],
        "doc_id bigint, source string, n_chars bigint",
    )
    rows = {r["doc_id"]: r for r in pack_sequences(df, budget=256, n_buckets=1).collect()}
    assert rows[2]["n_tok"] is None
    # 25 + 0 + 25 tokens all fit the first chunk — NULL advanced nothing
    assert rows[1]["pack_id"] == rows[2]["pack_id"] == rows[3]["pack_id"] == 0


def test_pack_oracles_match_on_adversarial_frame(spark):
    """Cross-engine check the sf0.01 oracle gate cannot exercise:
    negative doc_ids (Spark pmod vs DuckDB %) and NULL n_chars, for
    BOTH packers against their DuckDB oracles."""
    import duckdb
    import pandas as pd

    from tripsu_spark.operators.curation import (
        pack_sequences_oracle,
        pack_sequences_strict,
        pack_sequences_strict_oracle,
    )

    data = [(-7, "a", 900), (-3, "a", None), (-1, "a", 10), (2, "a", 400),
            (5, "a", 2000), (-4, "b", 300), (0, "b", None), (9, "b", 700)]
    df = spark.createDataFrame(data, "doc_id bigint, source string, n_chars bigint")
    pdf = pd.DataFrame(data, columns=["doc_id", "source", "n_chars"]).astype(
        {"n_chars": "Int64"}
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    for spark_fn, sql in (
        (pack_sequences, pack_sequences_oracle(budget=256, n_buckets=3)),
        (pack_sequences_strict, pack_sequences_strict_oracle(budget=256, n_buckets=3)),
    ):
        got = {
            (r["doc_id"], r["source"], r["bucket"], r["n_tok"], r["pack_id"])
            for r in spark_fn(df, budget=256, n_buckets=3).collect()
        }
        want = {
            (int(d), s, int(b), None if pd.isna(t) else int(t), int(p))
            for d, s, b, t, p in con.execute(sql).fetchall()
        }
        assert got == want, spark_fn.__name__


def test_apply_mixture_realizes_plan(documents):
    from tripsu_spark.operators.curation import apply_mixture

    # rates below 1: 500 docs over 20 sources, target 40 total over 4
    # sources -> rate 0.4 per targeted source (25 docs each)
    out = apply_mixture(documents, total=40)
    counts = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert set(counts) <= {"src0", "src1", "src2", "src3"}
    for src, n in counts.items():
        assert abs(n - 10) <= 6, (src, n)  # 0.4 * 25 = 10 expected
    # deterministic
    assert {r["doc_id"] for r in out.collect()} == {
        r["doc_id"] for r in apply_mixture(documents, total=40).collect()
    }
    # plan shape: the rate table joins via broadcast, no shuffle join
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
