"""Data-curation / mixing operators over the ``documents`` table —
the sampling-and-packing side of a training-data pipeline (the round-2
families covered dedup/similarity/text; this module covers how a run
DECIDES what goes into the mix and how it is sharded):

- ``sample_stratified``: deterministic per-stratum sampling by md5-hex
  threshold — reproducible across engines and runs, shuffle-free (a
  pure row filter; no RNG state, no seed synchronization across
  executors).
- ``cap_per_group``: quota capping — keep the top-N rows per group by
  an explicit deterministic order (window row_number).
- ``pack_sequences``: greedy-by-order sequence packing — assign docs
  to fixed-token-budget shards per (source, bucket) via a running-sum
  window; the bucket bound keeps window partitions executor-sized at
  any corpus scale.
- ``mixture_plan``: per-source sampling rates that realize a target
  mixture given observed counts (one tiny aggregate).

All pure Catalyst; each op ships its DuckDB oracle SQL. Scale notes
inline per op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Default per-language sampling fractions (demo mixture: oversample
# the tail languages, downsample English).
DEFAULT_FRACTIONS = {"en": 0.35, "de": 0.8, "es": 0.8, "fr": 0.8}

_HEX_DIGITS = 8  # threshold resolution: 16^8 buckets


def _threshold_hex(fraction: float) -> str:
    """fraction in [0,1] -> lowercase hex threshold string such that
    P(md5_prefix < threshold) == round(fraction * 16^8) / 16^8 exactly,
    in any engine that computes md5 (the prefix is uniform).

    A keep-everything stratum returns "g": lexicographically above
    every hex string, so it really keeps everything (an 8-hex cap
    would silently drop the ~1-in-2^32 docs whose prefix is
    "ffffffff" — guaranteed losses at 10^12 docs). The guard is on
    the ROUNDED bucket count, not the raw fraction: for fraction in
    [1 - 2^-33, 1), round(fraction * 16^8) == 16^8 and format() would
    emit the 9-char "100000000", which compares BELOW every prefix
    starting "1".."f" — a silent ~94% drop at the boundary that the
    cross-engine oracle could never catch (both engines would be
    identically wrong)."""
    buckets = 16 ** _HEX_DIGITS
    n = round(fraction * buckets)
    if n >= buckets:
        return "g"
    return format(n, f"0{_HEX_DIGITS}x")


def sample_stratified(
    documents: DataFrame, fractions: dict[str, float] | None = None
) -> DataFrame:
    """Deterministic stratified sample: keep a doc iff the first 8 hex
    chars of md5('<lang>:<doc_id>') are below the stratum's threshold.

    100 TB: a narrow scan + filter — no shuffle, no RNG, no driver
    state; the sample is a pure function of (doc_id, lang, fractions),
    so re-runs, retries and speculative tasks all agree, and the
    filter composes with predicate pushdown on everything else.
    """
    fractions = DEFAULT_FRACTIONS if fractions is None else fractions
    key = F.md5(F.concat(F.col("lang"), F.lit(":"), F.col("doc_id").cast("string")))
    prefix = F.substring(key, 1, _HEX_DIGITS)
    threshold = F.lit(None).cast("string")
    for lang, frac in sorted(fractions.items()):
        threshold = F.when(F.col("lang") == lang, F.lit(_threshold_hex(frac))).otherwise(
            threshold
        )
    return (
        documents.withColumn("_thr", threshold)
        .filter(F.col("_thr").isNotNull() & (prefix < F.col("_thr")))
        .select("doc_id", "lang", "source")
    )


def sample_stratified_oracle(fractions: dict[str, float] | None = None) -> str:
    fractions = DEFAULT_FRACTIONS if fractions is None else fractions
    cases = " ".join(
        f"WHEN '{lang}' THEN '{_threshold_hex(frac)}'"
        for lang, frac in sorted(fractions.items())
    )
    return f"""
SELECT doc_id, lang, source
FROM documents
WHERE substring(md5(lang || ':' || CAST(doc_id AS VARCHAR)), 1, {_HEX_DIGITS})
      < (CASE lang {cases} END)
"""


def cap_per_group(documents: DataFrame, n: int = 5) -> DataFrame:
    """Quota capping: keep at most ``n`` docs per source, preferring
    longer docs (n_chars DESC), doc_id as the deterministic tiebreak.

    100 TB: one shuffle on the group key, and the direct window is
    skew-safe. On Spark >= 3.5 the ``InferWindowGroupLimit`` rule plants
    a Partial WindowGroupLimit below the Exchange whenever the plan is
    window + ``rank <= n`` with n below
    ``spark.sql.optimizer.windowGroupLimitThreshold`` (default 1000), so
    every map task keeps only its local top-n per group and the skewed
    group's reducer receives at most map_tasks*n rows (plan pinned in
    tests/test_plans.py). Measured at 50M rows with 99% in one source
    (BENCH.md, round 4; local[8], 4g heap): 14.8 s direct vs 11.8 s for
    a salted two-phase window, a noise-band tie. Above the threshold
    (or with the rule disabled) the rule does not fire and the dominant
    group funnels through ONE task's external sort: 110.9 s direct vs
    31.3 s two-phase in the same run.
    """
    order = [F.col("n_chars").desc(), F.col("doc_id")]
    w = Window.partitionBy("source").orderBy(*order)
    return (
        documents.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= n)
        .select("doc_id", "source", "n_chars", "rk")
    )


def cap_per_group_oracle(n: int = 5) -> str:
    return f"""
SELECT doc_id, source, n_chars, rk
FROM (
  SELECT doc_id, source, n_chars,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rk
  FROM documents
)
WHERE rk <= {n}
"""


def pack_sequences(
    documents: DataFrame, budget: int = 256, n_buckets: int = 4
) -> DataFrame:
    """Sequence packing, concat-and-chunk style (the GPT-pretraining
    shape): docs are laid out in doc_id order within each (source,
    bucket) partition and the token stream is cut every ``budget``
    tokens (~4 chars/token heuristic); a doc belongs to the pack its
    START offset falls in, so a pack can run over by at most the one
    doc that straddles its boundary — the semantics of training
    pipelines that concatenate then split, NOT strict bin packing
    (which is a sequential recurrence; if hard caps are required, run
    the capped docs through an applyInPandas greedy pass per bucket).

    pack_id = floor(exclusive-running-sum(capped_tokens) / budget),
    with tokens capped at the budget so an oversized doc advances the
    running sum exactly one pack. Deterministic and window-exact.

    100 TB: the only shuffle keys on (source, bucket) — ``n_buckets``
    bounds every window partition to corpus_size/(sources*buckets)
    regardless of skew, so raise it with the corpus (it only relabels
    which packs docs share, it never breaks the budget invariant).
    """
    tokens = F.ceil(F.col("n_chars") / 4.0).cast("bigint")
    # NULL-preserving cap: F.least (and SQL LEAST) SKIPS nulls, so a
    # bare least(NULL, budget) would charge a NULL-n_chars doc a FULL
    # budget; keeping the cap NULL makes the window SUM skip it — the
    # doc consumes 0 tokens, the same contract as the strict packer.
    capped = F.when(
        tokens.isNull(), F.lit(None).cast("bigint")
    ).otherwise(F.least(tokens, F.lit(budget).cast("bigint")))
    bucket = F.pmod(F.col("doc_id"), F.lit(n_buckets)).cast("bigint")
    d = documents.select(
        "doc_id",
        "source",
        tokens.alias("n_tok"),
        capped.alias("_cap"),
        bucket.alias("bucket"),
    )
    w = (
        Window.partitionBy("source", "bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run = F.coalesce(F.sum("_cap").over(w), F.lit(0).cast("bigint"))
    return d.select(
        "doc_id",
        "source",
        "bucket",
        "n_tok",
        F.floor(run / budget).cast("bigint").alias("pack_id"),
    )


def pack_sequences_oracle(budget: int = 256, n_buckets: int = 4) -> str:
    # ((doc_id % n) + n) % n mirrors Spark's pmod (always non-negative);
    # bare % takes the dividend's sign in DuckDB, so negative doc_ids
    # would land in different buckets across the two engines. The CASE
    # mirrors the NULL-preserving cap (DuckDB LEAST also skips nulls).
    n = n_buckets
    return f"""
SELECT doc_id, source, bucket, n_tok,
       CAST(floor(run / {budget}) AS BIGINT) AS pack_id
FROM (
  SELECT doc_id, source, bucket, n_tok,
         COALESCE(SUM(cap) OVER (PARTITION BY source, bucket ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS run
  FROM (
    SELECT doc_id, source,
           CAST(((doc_id % {n}) + {n}) % {n} AS BIGINT) AS bucket,
           CAST(ceil(n_chars / 4.0) AS BIGINT) AS n_tok,
           CASE WHEN n_chars IS NULL THEN NULL
                ELSE LEAST(CAST(ceil(n_chars / 4.0) AS BIGINT), {budget}) END AS cap
    FROM documents
  )
)
"""


# Target mixture shares by source prefix (demo: equal shares).
DEFAULT_TARGET = {"src0": 0.25, "src1": 0.25, "src2": 0.25, "src3": 0.25}


def _share_expr(target: dict[str, float]):
    share = F.lit(None).cast("double")
    for src, sh in sorted(target.items()):
        share = F.when(F.col("source") == src, F.lit(sh)).otherwise(share)
    return F.coalesce(share, F.lit(0.0))


def mixture_plan(
    documents: DataFrame,
    target: dict[str, float] | None = None,
    total: int = 200,
    redistribute: bool = False,
) -> DataFrame:
    """Per-source sampling rates that realize a target mixture of
    ``total`` docs given the observed per-source counts:
    rate = min(1, target_share * total / count), rounded to 6 places.

    ``redistribute=True``: when a source can't fill its share (rate
    caps at 1), its unfilled quota is reallocated proportionally
    across the non-capped sources — exact water-filling, computed in
    CLOSED FORM rather than a driver-side fixpoint loop: sort targeted
    sources by r = n_docs/share ascending; a source is capped iff
    r <= lam, where lam at each position uses the unconditional prefix
    sums (valid because lam only RISES while rows are capped and only
    FALLS once one isn't, while r keeps rising — so the capped set is
    exactly the prefix where r <= lam, no iteration needed). The final
    multiplier is lam at the first non-capped row; realized total =
    sum(min(n, lam_final*share)) = ``total`` whenever feasible.

    100 TB: one map-side-combined count aggregate over a single narrow
    column; the redistribution windows run on the POST-AGGREGATION
    frame (one row per source — bytes, not TB), so the global window
    is harmless; the resulting (source, rate) table is broadcast back
    into ``sample_stratified``-style filters. Sources absent from the
    target get rate 0 (excluded from the mix).
    """
    target = DEFAULT_TARGET if target is None else target
    counts = documents.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    if not redistribute:
        return counts.select(
            "source",
            "n_docs",
            F.round(
                F.least(F.lit(1.0), _share_expr(target) * total / F.col("n_docs")),
                6,
            ).alias("rate"),
        )
    d = counts.select("source", "n_docs", _share_expr(target).alias("_s"))
    t = d.filter(F.col("_s") > 0).withColumn("_r", F.col("n_docs") / F.col("_s"))
    w_prev = Window.orderBy("_r", "source").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_full = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum_n = F.coalesce(F.sum("n_docs").over(w_prev), F.lit(0).cast("bigint"))
    cum_s = F.coalesce(F.sum("_s").over(w_prev), F.lit(0.0))
    lam = (F.lit(float(total)) - cum_n) / (F.sum("_s").over(w_full) - cum_s)
    t = t.withColumn("_lam", lam).withColumn("_capped", F.col("_r") <= F.col("_lam"))
    lam_final = F.max(F.when(~F.col("_capped"), F.col("_lam"))).over(w_full)
    rate = F.when(F.col("_capped"), F.lit(1.0)).otherwise(
        F.greatest(F.lit(0.0), lam_final * F.col("_s") / F.col("n_docs"))
    )
    return t.select(
        "source", "n_docs", F.round(rate, 6).alias("rate")
    ).unionByName(
        d.filter(~(F.col("_s") > 0)).select(
            "source", "n_docs", F.lit(0.0).alias("rate")
        )
    )


def _share_sql(target: dict[str, float]) -> str:
    # CAST the share literals: bare 0.25 is DECIMAL in DuckDB, and
    # decimal intermediate rounding diverges from Spark's doubles.
    cases = " ".join(
        f"WHEN '{src}' THEN CAST({sh} AS DOUBLE)" for src, sh in sorted(target.items())
    )
    return f"COALESCE(CASE source {cases} END, CAST(0.0 AS DOUBLE))"


def mixture_plan_oracle(target: dict[str, float] | None = None, total: int = 200) -> str:
    target = DEFAULT_TARGET if target is None else target
    return f"""
SELECT source, n_docs,
       round(LEAST(CAST(1.0 AS DOUBLE),
                   {_share_sql(target)}
                   * {total} / n_docs), 6) AS rate
FROM (
  SELECT source, count(*) AS n_docs
  FROM documents
  GROUP BY source
)
"""


def mixture_plan_redistributed_oracle(
    target: dict[str, float] | None = None, total: int = 200
) -> str:
    """DuckDB mirror of the closed-form water-filling: identical sort
    key (r, source), identical unconditional prefix sums, identical
    double arithmetic order, so the 6-place rounded rates hash-match."""
    target = DEFAULT_TARGET if target is None else target
    return f"""
WITH counts AS (
  SELECT source, count(*) AS n_docs FROM documents GROUP BY source
),
shared AS (
  SELECT source, n_docs, {_share_sql(target)} AS s FROM counts
),
t AS (
  SELECT source, n_docs, s, n_docs / s AS r FROM shared WHERE s > 0
),
w AS (
  SELECT source, n_docs, s, r,
         (CAST({total} AS DOUBLE) - COALESCE(SUM(n_docs) OVER prev, 0))
         / (SUM(s) OVER () - COALESCE(SUM(s) OVER prev, CAST(0.0 AS DOUBLE))) AS lam
  FROM t
  WINDOW prev AS (ORDER BY r, source ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
f AS (
  SELECT *, r <= lam AS capped,
         MAX(CASE WHEN r > lam THEN lam END) OVER () AS lam_final
  FROM w
)
SELECT source, n_docs,
       round(CASE WHEN capped THEN CAST(1.0 AS DOUBLE)
                  ELSE GREATEST(CAST(0.0 AS DOUBLE), lam_final * s / n_docs) END,
             6) AS rate
FROM f
UNION ALL
SELECT source, n_docs, CAST(0.0 AS DOUBLE) AS rate
FROM shared WHERE NOT (s > 0)
"""


PACK_STRICT_SCHEMA = (
    "doc_id bigint, source string, bucket bigint, n_tok bigint, pack_id bigint"
)


def pack_sequences_strict(
    documents: DataFrame, budget: int = 256, n_buckets: int = 4
) -> DataFrame:
    """Strict first-fit-in-order packing: unlike ``pack_sequences``
    (concat-and-chunk), a pack NEVER exceeds ``budget`` tokens — a doc
    that would overflow the current pack closes it and opens the next;
    a doc >= budget gets a pack of its own. This is a sequential
    recurrence (each decision depends on the running remainder), which
    no window function expresses, so it runs as an ``applyInPandas``
    pass per (source, bucket) group — the same bucket bound that keeps
    window partitions executor-sized bounds each pandas group, and the
    per-group state is two integers.

    SQL-expressible WITH recursion: the recurrence is a linear step on
    row_number within (source, bucket) with state (pack_id, used) —
    ``pack_sequences_strict_oracle`` below is the paired recursive-CTE
    DuckDB oracle (same pattern as dedup_clusters_oracle). Property
    tests (hard cap, greedy minimality, determinism) additionally pin
    it in tests/test_curation.py.
    """
    import pandas as pd

    tokens = F.ceil(F.col("n_chars") / 4.0).cast("bigint")
    bucket = F.pmod(F.col("doc_id"), F.lit(n_buckets)).cast("bigint")
    d = documents.select(
        "doc_id", "source", tokens.alias("n_tok"), bucket.alias("bucket")
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        # nullable Int64: a NULL n_chars row keeps n_tok NULL in the
        # output and consumes 0 budget — the same contract as the
        # window sibling, where SUM skips NULLs.
        pdf["n_tok"] = pdf["n_tok"].astype("Int64")
        pack_ids, cur, used = [], 0, 0
        for tok in pdf["n_tok"]:
            tok = 0 if pd.isna(tok) else min(int(tok), budget)
            if used and used + tok > budget:
                cur, used = cur + 1, 0
            pack_ids.append(cur)
            used += tok
        pdf["pack_id"] = pd.Series(pack_ids, dtype="int64")
        return pdf[["doc_id", "source", "bucket", "n_tok", "pack_id"]]

    return d.groupBy("source", "bucket").applyInPandas(pack, PACK_STRICT_SCHEMA)


def pack_sequences_strict_oracle(budget: int = 256, n_buckets: int = 4) -> str:
    """Recursive-CTE DuckDB oracle for the strict first-fit packer: the
    per-(source, bucket) recurrence steps rn -> rn+1 carrying
    (pack_id, used); a doc that would overflow closes the pack. tok is
    the BUDGET CHARGE (0 for NULL n_chars, capped at budget) while
    n_tok stays the raw (nullable) token count, matching the pandas
    implementation exactly. Bucket uses the pmod-equivalent
    ((doc_id % n) + n) % n so negative ids agree with Spark."""
    n = n_buckets
    return f"""
WITH RECURSIVE base AS (
  SELECT doc_id, source,
         CAST(((doc_id % {n}) + {n}) % {n} AS BIGINT) AS bucket,
         CAST(ceil(n_chars / 4.0) AS BIGINT) AS n_tok,
         CASE WHEN n_chars IS NULL THEN 0
              ELSE LEAST(CAST(ceil(n_chars / 4.0) AS BIGINT), {budget}) END AS tok,
         row_number() OVER (PARTITION BY source, ((doc_id % {n}) + {n}) % {n}
                            ORDER BY doc_id) AS rn
  FROM documents
),
packed AS (
  SELECT doc_id, source, bucket, n_tok, tok, rn,
         CAST(0 AS BIGINT) AS pack_id, tok AS used
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.doc_id, b.source, b.bucket, b.n_tok, b.tok, b.rn,
         CASE WHEN p.used > 0 AND p.used + b.tok > {budget}
              THEN p.pack_id + 1 ELSE p.pack_id END AS pack_id,
         CASE WHEN p.used > 0 AND p.used + b.tok > {budget}
              THEN b.tok ELSE p.used + b.tok END AS used
  FROM packed p
  JOIN base b ON b.source = p.source AND b.bucket = p.bucket AND b.rn = p.rn + 1
)
SELECT doc_id, source, bucket, n_tok, pack_id FROM packed
"""


def apply_mixture(
    documents: DataFrame,
    target: dict[str, float] | None = None,
    total: int = 200,
    redistribute: bool = False,
) -> DataFrame:
    """Apply a ``mixture_plan``: broadcast the tiny (source, rate)
    table back onto the corpus and keep each doc with its source's
    rate, deterministically — the md5 prefix of 'mix:<doc_id>' parsed
    as an integer is compared against rate * 2^32 (both engines promote
    to double; integers below 2^53 are exact).

    plan -> apply composes into: one aggregate + one broadcast join +
    a shuffle-free filter. At 100 TB the plan side is bytes-sized, the
    join is always broadcast, and the filter prunes with everything
    else. The 'mix:' salt keeps this draw independent of
    ``sample_stratified``'s (composing the two does not correlate).
    """
    plan = mixture_plan(documents, target, total, redistribute=redistribute)
    prefix = F.substring(
        F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))), 1, _HEX_DIGITS
    )
    draw = F.conv(prefix, 16, 10).cast("bigint")
    return (
        documents.join(F.broadcast(plan.select("source", "rate")), "source")
        .filter(draw < F.col("rate") * (16 ** _HEX_DIGITS))
        .select("doc_id", "source", "lang")
    )


def apply_mixture_oracle(target: dict[str, float] | None = None, total: int = 200) -> str:
    plan_sql = mixture_plan_oracle(target, total).strip()
    return f"""
WITH plan AS ({plan_sql})
SELECT d.doc_id, d.source, d.lang
FROM documents d
JOIN plan p ON d.source = p.source
WHERE CAST('0x' || substring(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, {_HEX_DIGITS}) AS BIGINT)
      < p.rate * {16 ** _HEX_DIGITS}
"""
