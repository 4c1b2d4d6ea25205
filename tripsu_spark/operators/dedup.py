"""Deduplication operators over the ``documents`` table (training-data
pipeline ops; no tripsu counterpart — SURVEY.md graft additions).

All hash primitives are ``md5`` hex strings so Spark and the DuckDB
oracle compute IDENTICAL values (both engines expose md5 as lowercase
hex; min/ordering on hex strings is plain lexicographic ordering).
Each operator's oracle SQL generator lives next to the Spark
implementation to keep them in lock-step.

Scale notes (100 TB): exact dedup is a single hash-aggregate
(map-side partial combine, shuffle on the 32-byte digest, never the
text). MinHash signatures are computed per-row with NO shuffle: the
shingle projection (interpreted higher-order functions, not codegen)
feeds one Arrow-batched numpy MD5 kernel; the LSH band join
shuffles only (band_idx, band_hash, doc_id) tuples, and candidate
verification touches signatures, not documents. The O(n^2) exact
n-gram Jaccard join exists as the small-scale oracle baseline; its
scale path IS the LSH variant.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from ..functions.md5_np import minhash_batches

# ------------------------------------------------------------ params

SHINGLE_K = 3          # word shingles
NUM_HASHES = 12        # minhash signature length (fast-gate params)
BAND_SIZE = 2          # rows per LSH band -> 6 bands
EST_JACCARD_MIN = 0.5  # candidate-pair threshold on signature agreement
NGRAM_JACCARD_MIN = 0.3
SIMHASH_BITS = 16
# Production parameters (the classic 128-hash / 16-band MinHash-LSH
# configuration and a 64-bit SimHash); every operator below is
# parametrized, and both parameter sets have their own oracle-checked
# queries() entries — the toy set keeps the gate fast, the production
# set proves the operators at the sizes real pipelines run.
NUM_HASHES_PROD = 128
BAND_SIZE_PROD = 8     # -> 16 bands, s-curve threshold ~ (1/16)^(1/8) ~ 0.71
SIMHASH_BITS_PROD = 64


def _tokens(text: Column) -> Column:
    return F.split(F.lower(text), r"\s+")


def _shingles(toks: Column) -> Column:
    """Word SHINGLE_K-grams of the token array ``toks``; [] when too
    short. Higher-order functions are interpreted, so an inline token
    expression here would re-split the text for every reference inside
    the lambda: pass a column staged by ``_shingle_frame``."""
    n = F.size(toks)
    make = F.transform(
        F.sequence(F.lit(1), n - (SHINGLE_K - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + off) for off in range(SHINGLE_K)]
        ),
    )
    return F.when(n >= SHINGLE_K, make).otherwise(F.array().cast("array<string>"))


def _shingle_frame(documents: DataFrame) -> DataFrame:
    """(doc_id, sh): the text is split ONCE into a staged ``toks``
    column. CollapseProject keeps that projection separate because split
    is not cheap and the shingle projection references it more than
    once. There is no Filter on ``size(toks)``: Catalyst pushes one
    below the token projection, which would split every text twice.
    Too-short docs get [] instead, which the consumers drop."""
    return (
        documents.select(F.col("doc_id"), _tokens(F.col("text")).alias("toks"))
        .select("doc_id", _shingles(F.col("toks")).alias("sh"))
    )


def _sql_shingles(text_expr: str) -> str:
    """DuckDB expression mirroring _shingles (1-based list indexing)."""
    toks = f"string_split_regex(lower({text_expr}), '\\s+')"
    parts = " || ' ' || ".join(f"t[i+{off}]" for off in range(SHINGLE_K))
    return (
        f"(SELECT list_transform(range(1, greatest(len(t) - {SHINGLE_K - 1}, 0) + 1), "
        f"i -> {parts}) FROM (SELECT {toks} AS t))"
    )


# ------------------------------------------------------- exact dedup

def dedup_exact(documents: DataFrame) -> DataFrame:
    """Exact dedup by md5(text): per digest keep min doc_id + dup count."""
    return (
        documents.select(F.col("doc_id"), F.md5(F.col("text")).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def dedup_exact_oracle() -> str:
    return (
        "SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, "
        "CAST(COUNT(*) AS BIGINT) AS n_dups FROM documents GROUP BY md5(text)"
    )


# ---------------------------------------------------- minhash + LSH

def minhash_signature(text: Column, num_hashes: int = NUM_HASHES) -> Column:
    """array<string> of ``num_hashes`` minhashes: min over shingles of
    md5('<j>:' || shingle). Lexicographic min over hex == a valid
    min-wise hash family; portable across engines.

    The Catalyst reference that tests/test_md5_np.py checks the
    ``minhash_sig_frame`` kernel against; no operator uses it."""
    sh = _shingles(_tokens(text))

    def minhash_j(j: int):
        # NB: a `lambda s, j=j:` two-parameter lambda would make
        # PySpark pass the ARRAY INDEX as the second argument —
        # capture the seed via a closure instead.
        seed = F.lit(f"{j}:")
        return F.array_min(F.transform(sh, lambda s: F.md5(F.concat(seed, s))))

    return F.array(*[minhash_j(j) for j in range(num_hashes)])


def minhash_sig_frame(documents: DataFrame, num_hashes: int = NUM_HASHES) -> DataFrame:
    """(doc_id, sig: array<string>) for every doc with at least one
    shingle.

    Shingles stay a JVM projection, so Java-regex split and lower keep
    the oracle's semantics. The signatures are one Arrow-batched
    ``mapInArrow`` over the numpy MD5 kernel (functions/md5_np.py),
    which also drops docs without shingles; the plan is the same size
    at any ``num_hashes``."""
    schema = StructType([
        documents.schema["doc_id"], StructField("sig", ArrayType(StringType()))
    ])
    return _shingle_frame(documents).mapInArrow(
        partial(minhash_batches, num_hashes=num_hashes), schema
    )


def minhash_bands_from_sigs(sigs: DataFrame, num_hashes: int = NUM_HASHES,
                            band_size: int = BAND_SIZE) -> DataFrame:
    """(doc_id, band_idx, band_hash) from a (doc_id, sig) frame —
    lets callers share one signature computation across the band
    self-join and the verify joins (see ``dedup_minhash_lsh``)."""
    n_bands = num_hashes // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            F.element_at(F.col("sig"), b * band_size + r + 1)
                            for r in range(band_size)
                        ],
                    )
                ).alias("band_hash"),
            )
            for b in range(n_bands)
        ]
    )
    return (
        sigs
        .select(F.col("doc_id"), F.explode(bands).alias("b"))
        .select("doc_id", F.col("b.band_idx").alias("band_idx"), F.col("b.band_hash").alias("band_hash"))
    )


def minhash_bands(documents: DataFrame, num_hashes: int = NUM_HASHES,
                  band_size: int = BAND_SIZE) -> DataFrame:
    """(doc_id, band_idx, band_hash) — LSH bucketing rows. Docs too
    short to shingle are excluded (the oracle's NULL || NULL band
    concat excludes them implicitly)."""
    return minhash_bands_from_sigs(
        minhash_sig_frame(documents, num_hashes), num_hashes, band_size
    )


def _sql_sigs(num_hashes: int) -> str:
    """CTE: sigs(doc_id, sig) — shingles computed ONCE per row, then
    ``num_hashes`` seeded mins over the shared list (keeps the SQL
    linear in num_hashes instead of quadratic at 128 hashes)."""
    mins = ", ".join(
        f"list_min(list_transform(sh, s -> md5('{j}:' || s)))"
        for j in range(num_hashes)
    )
    return (
        "shingled AS (SELECT doc_id, " + _sql_shingles("text")
        + " AS sh FROM documents),\n"
        f"sigs AS (SELECT doc_id, [{mins}] AS sig FROM shingled)"
    )


def _sql_bands(num_hashes: int = NUM_HASHES, band_size: int = BAND_SIZE) -> str:
    """CTE: bands(doc_id, band_idx, band_hash) over documents."""
    n_bands = num_hashes // band_size
    rows = []
    for b in range(n_bands):
        parts = " || '|' || ".join(
            f"sig[{b * band_size + r + 1}]" for r in range(band_size)
        )
        rows.append(
            f"SELECT doc_id, {b} AS band_idx, md5({parts}) AS band_hash FROM sigs"
        )
    return _sql_sigs(num_hashes) + ",\nbands AS (" + " UNION ALL ".join(rows) + ")"


def dedup_minhash_lsh(documents: DataFrame, num_hashes: int = NUM_HASHES,
                      band_size: int = BAND_SIZE,
                      min_est: float = EST_JACCARD_MIN,
                      reuse_sigs: bool = True) -> DataFrame:
    """Candidate near-dup pairs: bucket-join on LSH bands, then verify
    on signature agreement >= ``min_est``. Output (a, b, est) with
    a < b, est rounded to avoid cross-engine float noise.

    ``reuse_sigs=True`` (the default) lazily ``localCheckpoint``s the
    signature frame, so signatures are computed once instead of once
    per reference (the band self-join and the verify join each read
    sigs twice, and Catalyst does not share work across join branches).
    Recomputing per branch measured +29% on the benchmark's
    ``dedup_clusters`` span with the numpy kernel. ``persist`` measured
    a tie, but a lazy operator has no point at which to unpersist, so
    the signatures would stay in the cache manager; checkpointed blocks
    are cleaned up with their RDD (BENCH.md, signature reuse A/B).

    The checkpoint's costs: its blocks live only in executor storage,
    so losing an executor fails the job instead of recomputing the
    lost signatures, and a streaming DataFrame cannot be checkpointed.
    Output is identical either way (tests/test_dedup.py
    test_minhash_lsh_reuse_sigs_identical); pass ``reuse_sigs=False``
    for a single plan without a materialized intermediate."""
    sigs = minhash_sig_frame(documents, num_hashes)
    if reuse_sigs:
        sigs = sigs.localCheckpoint(eager=False)
    bands = minhash_bands_from_sigs(sigs, num_hashes, band_size)
    pairs = (
        bands.alias("x")
        .join(bands.alias("y"), on=["band_idx", "band_hash"], how="inner")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .distinct()
    )
    est = (
        F.size(F.filter(F.zip_with(F.col("sa"), F.col("sb"), lambda p, q: p == q), lambda v: v))
        / F.lit(num_hashes)
    )
    return (
        pairs.join(sigs.select(F.col("doc_id").alias("a"), F.col("sig").alias("sa")), "a")
        .join(sigs.select(F.col("doc_id").alias("b"), F.col("sig").alias("sb")), "b")
        .withColumn("est_jaccard", F.round(est, 6))
        .filter(F.col("est_jaccard") >= min_est)
        .select("a", "b", "est_jaccard")
    )


def dedup_minhash_lsh_oracle(num_hashes: int = NUM_HASHES,
                             band_size: int = BAND_SIZE,
                             min_est: float = EST_JACCARD_MIN) -> str:
    return f"""
WITH {_sql_bands(num_hashes, band_size)},
pairs AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bands x JOIN bands y
    ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
   AND x.doc_id < y.doc_id
)
SELECT p.a, p.b,
  ROUND(len(list_filter(range(1, {num_hashes} + 1),
        i -> sx.sig[i] = sy.sig[i])) / {num_hashes}.0, 6) AS est_jaccard
FROM pairs p
JOIN sigs sx ON sx.doc_id = p.a
JOIN sigs sy ON sy.doc_id = p.b
WHERE len(list_filter(range(1, {num_hashes} + 1),
      i -> sx.sig[i] = sy.sig[i])) / {num_hashes}.0 >= {min_est}
"""


# ------------------------------------------------ exact n-gram Jaccard

def dedup_ngram_jaccard(documents: DataFrame) -> DataFrame:
    """Exact word-3-gram Jaccard >= NGRAM_JACCARD_MIN pairs (a < b).

    O(n^2)-ish verification baseline: explode distinct shingles,
    self-join on shingle, count intersections. The LSH operator above
    is the scale path; this is the ground truth it approximates."""
    sh = _shingle_frame(documents).select(
        "doc_id", F.explode(F.array_distinct(F.col("sh"))).alias("s")
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        sh.alias("x")
        .join(sh.alias("y"), on="s")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .groupBy(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("a"), F.col("n").alias("na")), "a")
        .join(sizes.select(F.col("doc_id").alias("b"), F.col("n").alias("nb")), "b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= NGRAM_JACCARD_MIN)
        .select("a", "b", "jaccard")
    )


def dedup_ngram_jaccard_oracle() -> str:
    sh = _sql_shingles("text")
    return f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct({sh})) AS s FROM documents
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
)
SELECT i.a, i.b,
       ROUND(i.inter / (sa.n + sb.n - i.inter), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.a
JOIN sizes sb ON sb.doc_id = i.b
WHERE i.inter / (sa.n + sb.n - i.inter) >= {NGRAM_JACCARD_MIN}
"""


# ----------------------------------------- conversation-level dedup

def conversation_text(transcripts: DataFrame) -> DataFrame:
    """(conv_id, text): turns concatenated in turn order — the
    canonical conversation rendering used for conversation dedup."""
    return (
        transcripts.groupBy("conv_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("turn_idx"), F.col("text")))
                    ),
                    lambda s: s["text"],
                ),
                "\n",
            ).alias("text")
        )
    )


def dedup_conversations_exact(transcripts: DataFrame) -> DataFrame:
    """Exact conversation dedup: md5 over the ordered turn rendering;
    keeps the lexicographically-first conv_id per digest."""
    return (
        conversation_text(transcripts)
        .select(F.col("conv_id"), F.md5(F.col("text")).alias("conv_hash"))
        .groupBy("conv_hash")
        .agg(F.min("conv_id").alias("keep_conv"), F.count(F.lit(1)).alias("n_dups"))
    )


def dedup_conversations_exact_oracle(transcripts_cte: str) -> str:
    """Oracle over the shared transcripts CTE (plans/oracle.py)."""
    return f"""
WITH {transcripts_cte.strip()},
conv_text AS (
  SELECT conv_id, string_agg(text, chr(10) ORDER BY turn_idx) AS text
  FROM transcripts GROUP BY conv_id
)
SELECT md5(text) AS conv_hash, MIN(conv_id) AS keep_conv,
       CAST(COUNT(*) AS BIGINT) AS n_dups
FROM conv_text GROUP BY md5(text)
"""


# ------------------------------------------------------------ simhash

def _hex_char_val(c: Column) -> Column:
    return F.instr(F.lit("0123456789abcdef"), c) - 1


def simhash(documents: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """``bits``-bit SimHash over word tokens (md5 is 128 bits, so any
    bits <= 128 works; 64 is the production width).

    bit_i(doc) = 1 iff sum over tokens of (bit_i(md5(token)) ? 1 : -1)
    > 0, using the first bits/4 hex chars of the token md5.
    Emitted as a bit string (e.g. '1010...') — portable everywhere."""
    toks = documents.select(
        F.col("doc_id"), F.explode(_tokens(F.col("text"))).alias("tok")
    ).withColumn("h", F.md5(F.col("tok")))
    cols = []
    for i in range(bits):
        char_idx = i // 4 + 1  # hex char position, 1-based
        bit_in_char = i % 4
        val = _hex_char_val(F.substring(F.col("h"), char_idx, 1))
        bit = F.floor(val / (2 ** bit_in_char)) % 2
        cols.append(F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"s{i}"))
    summed = toks.groupBy("doc_id").agg(*cols)
    bitstr = F.concat(
        *[F.when(F.col(f"s{i}") > 0, F.lit("1")).otherwise(F.lit("0")) for i in range(bits)]
    )
    return summed.select("doc_id", bitstr.alias("simhash"))


def simhash_oracle(bits: int = SIMHASH_BITS) -> str:
    sums = []
    for i in range(bits):
        char_idx = i // 4 + 1
        bit_in_char = i % 4
        val = f"(strpos('0123456789abcdef', substr(h, {char_idx}, 1)) - 1)"
        bit = f"(CAST(floor({val} / {2 ** bit_in_char}) AS BIGINT) % 2)"
        sums.append(f"SUM(CASE WHEN {bit} = 1 THEN 1 ELSE -1 END) AS s{i}")
    bits_expr = " || ".join(
        f"CASE WHEN s{i} > 0 THEN '1' ELSE '0' END" for i in range(bits)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, md5(unnest(string_split_regex(lower(text), '\\s+'))) AS h
  FROM documents
),
summed AS (SELECT doc_id, {", ".join(sums)} FROM toks GROUP BY doc_id)
SELECT doc_id, {bits_expr} AS simhash FROM summed
"""


# -------------------------------------- near-dup clusters (canonical doc)

# Verified edges up to which ``connected_components`` solves on the
# driver: 500k (a, b) pairs are 8 MB of Arrow longs, at most 1M labelled
# ids to broadcast, and 1.2-1.9 s of union-find on one core (random
# edges over 300k-1M ids).
CC_DRIVER_EDGES = 500_000


def connected_components(nodes: DataFrame, pairs: DataFrame,
                         max_iters: int = 25) -> DataFrame:
    """(doc_id, cluster_id): cluster_id = min doc_id reachable from
    doc_id over the undirected edge set ``pairs`` (a, b), whose
    endpoints are node ids. Singletons are their own cluster.

    One bounded action takes up to ``CC_DRIVER_EDGES + 1`` edges. If the
    graph fits, an exact union-find on the driver labels the edge
    endpoints and a broadcast join puts the labels on the nodes: one
    job instead of several per round. A larger graph runs
    ``_hash_min``, which raises RuntimeError if the fixpoint is not
    reached in ``max_iters`` rounds."""
    edges = pairs.select("a", "b").limit(CC_DRIVER_EDGES + 1).toArrow()
    if edges.num_rows > CC_DRIVER_EDGES:
        return _hash_min(nodes, pairs, max_iters)
    if edges.num_rows == 0:
        return nodes.select("doc_id", F.col("doc_id").alias("cluster_id"))
    ids, labels = _min_labels(
        edges.column("a").to_numpy(zero_copy_only=False),
        edges.column("b").to_numpy(zero_copy_only=False),
    )
    id_type = nodes.schema["doc_id"].dataType
    labelled = nodes.sparkSession.createDataFrame(
        pa.table({"doc_id": ids, "_label": labels}),
        StructType([StructField("doc_id", id_type), StructField("_label", id_type)]),
    )
    return (
        nodes.select("doc_id")
        .join(F.broadcast(labelled), "doc_id", "left")
        .select("doc_id", F.coalesce("_label", "doc_id").alias("cluster_id"))
    )


def _min_labels(a, b):
    """(ids, labels): every edge endpoint, ascending, and the min id of
    its component. Union-find over compacted ids that always hangs the
    larger root under the smaller, so each root is its component's
    minimum."""
    ids, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    parent = list(range(len(ids)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for x, y in zip(inv[:len(a)].tolist(), inv[len(a):].tolist()):
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)
    return ids, ids[[find(x) for x in range(len(ids))]]


def _hash_min(nodes: DataFrame, pairs: DataFrame, max_iters: int) -> DataFrame:
    """Distributed ``connected_components`` for edge sets too large for
    the driver.

    Algorithm: HashMin label propagation with pointer doubling — each
    round does (1) ``label[v] <- min(label[v], min over neighbors of
    label[u])`` (one equi-join + one aggregate, keyed on doc ids) and
    (2) ``label[v] <- label[label[v]]`` (one more equi-join), the
    classic two-phase CC. The jump step makes convergence
    O(log diameter) instead of O(diameter): a 1000-link chain closes in
    ~11 rounds, not 1000 (tests/test_dedup.py deep-chain fixture). The
    per-round driver sync is a single count — the same shape
    GraphX/GraphFrames CC uses. Each round's labels are
    ``localCheckpoint``-ed: the label frame references itself twice per
    round (neighbor map + parent map), so without lineage truncation
    the logical plan doubles every round and the driver OOMs compiling
    it — the exact failure mode GraphX's periodic checkpointing exists
    for.

    Raises RuntimeError if the fixpoint is not reached in ``max_iters``
    rounds (a silent early exit would return WRONG labels; with
    doubling, 25 rounds cover component diameters up to ~2^25)."""
    from pyspark import StorageLevel

    edges = pairs.select("a", "b").unionByName(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    labels = nodes.select(
        F.col("doc_id"), F.col("doc_id").alias("label")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    changed = None
    for _ in range(max_iters):
        nbr_min = (
            edges.join(labels.select(F.col("doc_id").alias("b"), "label"), "b")
            .groupBy(F.col("a").alias("doc_id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        # labels only ever decrease and label[v] <= v, so jumping
        # through the PREVIOUS round's parent map is always sound.
        parent = labels.select(
            F.col("doc_id").alias("_mid"), F.col("label").alias("_plabel")
        )
        new_labels = (
            labels.select("doc_id", F.col("label").alias("_old"))
            .join(nbr_min, "doc_id", "left")
            .select(
                "doc_id",
                "_old",
                F.least(
                    F.col("_old"), F.coalesce(F.col("nbr_label"), F.col("_old"))
                ).alias("_mid"),
            )
            .join(parent, "_mid", "left")
            .select(
                "doc_id",
                F.least(F.col("_mid"), F.coalesce(F.col("_plabel"), F.col("_mid"))).alias("label"),
                (F.col("_mid") < F.col("_old")).alias("_changed"),
            )
            .localCheckpoint(eager=True)  # materialize + truncate lineage
        )
        changed = new_labels.filter(F.col("_changed")).count()
        labels.unpersist()
        labels = new_labels.drop("_changed")
        if changed == 0:
            break
    edges.unpersist()
    if changed:
        labels.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            f"({changed} labels still changing) — raise max_iters"
        )
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


def dedup_clusters(documents: DataFrame, num_hashes: int = NUM_HASHES,
                   band_size: int = BAND_SIZE, min_est: float = EST_JACCARD_MIN,
                   max_iters: int = 25, reuse_sigs: bool = True) -> DataFrame:
    """(doc_id, cluster_id) — connected components over the MinHash-LSH
    near-dup graph; cluster_id = min doc_id in the component (the doc a
    dedup pipeline keeps). See ``connected_components`` for the
    label-propagation core and its convergence guarantee."""
    pairs = dedup_minhash_lsh(
        documents, num_hashes, band_size, min_est, reuse_sigs
    ).select("a", "b")
    return connected_components(documents.select("doc_id"), pairs, max_iters)


def dedup_clusters_oracle(num_hashes: int = NUM_HASHES,
                          band_size: int = BAND_SIZE,
                          min_est: float = EST_JACCARD_MIN) -> str:
    """Transitive closure via recursive CTE: min reachable doc_id ==
    component minimum (edges are symmetric)."""
    pairs_sql = dedup_minhash_lsh_oracle(num_hashes, band_size, min_est).strip()
    return f"""
WITH RECURSIVE lsh AS ({pairs_sql}),
edges AS (SELECT a, b FROM lsh UNION ALL SELECT b AS a, a AS b FROM lsh),
reach(src, dst) AS (
  SELECT doc_id AS src, doc_id AS dst FROM documents
  UNION
  SELECT r.src, e.b AS dst FROM reach r JOIN edges e ON e.a = r.dst
)
SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
"""


# ------------------------------ bounded conversation dedup (scale path)

# The exact operator above renders the full conversation per group
# (collect_list) — unbounded aggregation state: one pathological
# million-turn conversation concentrates its whole text in a single
# buffer (round-1 verdict item 5). The bounded variant never holds more
# than 5 longs per group: each turn contributes four 30-bit chunks of
# md5(turn_idx || ':' || text) plus a count, combined by plain SUM.
# Order sensitivity comes from turn_idx being hashed INSIDE the chunk
# (turn_idx is unique within a conversation, so equal digests <=> the
# same text at the same positions <=> equal ordered renderings).
# 30-bit chunks keep SUM overflow-free up to 2^33 turns per
# conversation under Spark's ANSI arithmetic.

def _turn_chunks() -> list[Column]:
    h = F.md5(F.concat(F.col("turn_idx").cast("string"), F.lit(":"), F.col("text")))
    out = []
    for c in range(4):
        hexpart = F.substring(h, 1 + 8 * c, 8)  # 8 hex chars = 32 bits
        # conv(hex, 16, 10) -> decimal string; mask to 30 bits for headroom
        out.append((F.conv(hexpart, 16, 10).cast("long") % F.lit(1 << 30)).alias(f"c{c}"))
    return out


def dedup_conversations_bounded(transcripts: DataFrame) -> DataFrame:
    """(digest, keep_conv, n_dups) — conversation-level exact dedup with
    O(1) per-group state: a single hash-aggregate over turns, then a
    dedup aggregate over the fixed-width digests. No collect_list, no
    per-conversation text materialization anywhere."""
    per_turn = transcripts.select(F.col("conv_id"), F.col("turn_idx"), F.col("text"))
    digests = (
        per_turn.select("conv_id", *_turn_chunks())
        .groupBy("conv_id")
        .agg(
            *[F.sum(f"c{c}").alias(f"s{c}") for c in range(4)],
            F.count(F.lit(1)).alias("n_turns"),
        )
        .select(
            "conv_id",
            F.concat_ws(
                "-",
                *[F.col(f"s{c}").cast("string") for c in range(4)],
                F.col("n_turns").cast("string"),
            ).alias("digest"),
        )
    )
    return digests.groupBy("digest").agg(
        F.min("conv_id").alias("keep_conv"), F.count(F.lit(1)).alias("n_dups")
    )


def dedup_conversations_bounded_oracle(transcripts_cte: str) -> str:
    chunks = ", ".join(
        "CAST(('0x' || substr(md5(CAST(turn_idx AS VARCHAR) || ':' || text), "
        f"{1 + 8 * c}, 8))::UBIGINT % {1 << 30} AS BIGINT) AS c{c}"
        for c in range(4)
    )
    sums = ", ".join(f"SUM(c{c}) AS s{c}" for c in range(4))
    concat = " || '-' || ".join(
        [f"CAST(s{c} AS VARCHAR)" for c in range(4)] + ["CAST(n_turns AS VARCHAR)"]
    )
    return f"""
WITH {transcripts_cte.strip()},
chunked AS (SELECT conv_id, {chunks} FROM transcripts),
digests AS (
  SELECT conv_id, {concat} AS digest FROM (
    SELECT conv_id, {sums}, COUNT(*) AS n_turns FROM chunked GROUP BY conv_id
  )
)
SELECT digest, MIN(conv_id) AS keep_conv, CAST(COUNT(*) AS BIGINT) AS n_dups
FROM digests GROUP BY digest
"""
