"""The numpy MD5 MinHash kernel (functions/md5_np.py) must be
bit-identical to ``hashlib.md5`` and to the Catalyst reference
``dedup.minhash_signature`` (``F.md5``)."""

import hashlib
import random

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from tripsu_spark.functions.md5_np import CHUNK, minhash_batches, minhash_sigs
from tripsu_spark.operators import dedup

ALPHABET = "abc xyz019-é✓ß日本\t"


def reference(docs, num_hashes):
    """hashlib minhashes of every doc that has at least one shingle."""
    return [
        [min(hashlib.md5(f"{j}:{s}".encode()).hexdigest() for s in d) for j in range(num_hashes)]
        for d in docs if d
    ]


def kernel(docs, num_hashes):
    keep, sigs = minhash_sigs(pa.array(docs, pa.list_(pa.string())), num_hashes)
    assert keep.tolist() == [i for i, d in enumerate(docs) if d]
    return sigs.to_pylist()


def text_of_bytes(n: int, rng: random.Random) -> str:
    """A string of exactly ``n`` UTF-8 bytes mixing 1- to 3-byte chars."""
    out, size = [], 0
    while size < n:
        c = rng.choice(ALPHABET)
        if size + len(c.encode()) > n:
            c = "a"
        out.append(c)
        size += len(c.encode())
    return "".join(out)


@pytest.mark.parametrize("num_hashes", [1, 12, 128])
def test_block_boundary_lengths_match_hashlib(num_hashes):
    """Message lengths 55/56/63/64/119/120 bytes, seed prefix included,
    for each prefix length that occurs (2, 3 and 4 bytes at 128 hashes):
    one shingle per doc, so every minhash is a single MD5."""
    rng = random.Random(num_hashes)
    docs = [
        [text_of_bytes(total - plen, rng)]
        for total in (55, 56, 63, 64, 119, 120)
        for plen in (2, 3, 4)
    ]
    assert kernel(docs, num_hashes) == reference(docs, num_hashes)


@pytest.mark.parametrize("num_hashes", [1, 12, 128])
def test_random_shingles_match_hashlib(num_hashes):
    """Random multi-shingle docs, non-ASCII UTF-8 included, with empty
    and null shingle lists and enough shingles to span several kernel
    chunks (one doc straddles a chunk edge)."""
    rng = random.Random(7)
    docs = [
        [text_of_bytes(rng.randint(0, 150), rng) for _ in range(rng.randint(0, 12))]
        for _ in range(60)
    ]
    docs[3], docs[4] = None, []
    docs.append([text_of_bytes(20, rng) for _ in range(CHUNK + 5)])
    docs.append(["same shingle"] * 3)
    assert kernel(docs, num_hashes) == reference(docs, num_hashes)


def test_random_shingles_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(st.lists(st.one_of(st.none(), st.lists(st.text(max_size=80), max_size=6)),
                    max_size=8),
           st.sampled_from([1, 12, 128]))
    @settings(max_examples=40, deadline=None)
    def prop(docs, num_hashes):
        # Spark strings are valid UTF-8; hypothesis text may hold lone surrogates
        docs = [None if d is None else [s.encode("utf-8", "replace").decode() for s in d]
                for d in docs]
        assert kernel(docs, num_hashes) == reference(docs, num_hashes)

    prop()


def test_zero_row_and_sliced_batches():
    schema = pa.schema([("doc_id", pa.int64()), ("sh", pa.list_(pa.string()))])
    empty = pa.RecordBatch.from_pylist([], schema=schema)
    (out,) = list(minhash_batches(iter([empty]), 12))
    assert out.num_rows == 0 and out.schema.names == ["doc_id", "sig"]

    full = pa.RecordBatch.from_pylist(
        [{"doc_id": i, "sh": [f"s {i}", "t u v"] if i % 3 else []} for i in range(9)],
        schema=schema,
    )
    (out,) = list(minhash_batches(iter([full.slice(2, 5)]), 12))
    want = reference([[f"s {i}", "t u v"] if i % 3 else [] for i in range(2, 7)], 12)
    assert out.column("doc_id").to_pylist() == [2, 4, 5]
    assert out.column("sig").to_pylist() == want


@pytest.mark.parametrize("num_hashes", [1, 12, 128])
def test_sig_frame_matches_catalyst_md5(spark, num_hashes):
    """minhash_sig_frame (the kernel) against minhash_signature (F.md5
    in Catalyst) on the same documents: random, non-ASCII, no-break
    spaces (not ``\\s`` to Java regex), and too-short texts."""
    rng = random.Random(num_hashes)
    words = ["alpha", "Beta", "gamma", "δέλτα", "日本語", "x" * 70, "naïve", "é"]
    texts = [
        rng.choice([" ", "  ", "\t", "\n", "\xa0"]).join(
            rng.choice(words) for _ in range(rng.randint(3, 25))
        )
        for _ in range(40)
    ] + ["tiny", "two words", "", None, " lead and trail "]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {r["doc_id"]: r["sig"] for r in dedup.minhash_sig_frame(docs, num_hashes).collect()}
    want = {
        r["doc_id"]: r["sig"]
        for r in docs.select("doc_id", dedup.minhash_signature(F.col("text"), num_hashes).alias("sig"))
        .filter(F.col("sig")[0].isNotNull())
        .collect()
    }
    assert got == want and len(got) > 20
