"""Batch-vectorized MD5 MinHash signatures over numpy.

A document's MinHash signature (operators/dedup.py) is, for each seed
``j`` in ``0..num_hashes-1``, the lexicographic min over its shingles
``s`` of ``md5_hex(f"{j}:" + s)``. Catalyst can only express that as
``num_hashes`` interpreted ``transform``/``array_min`` trees; here the
whole Arrow batch is hashed at once, the batch-as-vector layout of
functions/blake3_np.py:

- MD5 runs over ``(seed, shingle)`` uint32 lanes. Seeds with the same
  prefix length (``0:``-``9:``, ``10:``-``99:``, ``100:``-...) share a
  message layout, so every message word past the prefix is computed
  once per shingle and broadcast across the seeds.
- Shingles are hashed in chunks of ``CHUNK`` (the lanes then stay
  cache-sized), grouped by block count within a chunk.
- Lowercase hex sorts like the big-endian digest, so each min is taken
  over ``(hi, lo)`` uint64 pairs and only the ``num_hashes`` winners per
  document are hex-encoded.

Bit-identical to ``F.md5`` and ``hashlib.md5`` (tests/test_md5_np.py).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pyarrow as pa

CHUNK = 512  # shingles per kernel call

_IV = (0x67452301, 0xEFCDAB89, 0x98BADCFE, 0x10325476)
_SHIFT = [7, 12, 17, 22] * 4 + [5, 9, 14, 20] * 4 + [4, 11, 16, 23] * 4 + [6, 10, 15, 21] * 4
_STEPS = [
    (
        i // 16,
        np.uint32(int(abs(math.sin(i + 1)) * 2**32) & 0xFFFFFFFF),
        (i, 5 * i + 1, 3 * i + 5, 7 * i)[i // 16] % 16,
        np.uint32(_SHIFT[i]),
        np.uint32(32 - _SHIFT[i]),
    )
    for i in range(64)
]
_MAX = np.uint64(0xFFFFFFFFFFFFFFFF)


def _compress(state: list[np.ndarray], m: list[np.ndarray]) -> list[np.ndarray]:
    """One MD5 block over ``(seeds, shingles)`` lanes. ``state`` holds
    four full-shape uint32 arrays; each message word broadcasts to that
    shape. uint32 arithmetic wraps mod 2^32, as MD5 requires."""
    a, b, c, d = state
    for rnd, k, g, s, rs in _STEPS:
        if rnd == 0:
            f = c ^ d
            f &= b
            f ^= d
        elif rnd == 1:
            f = b ^ c
            f &= d
            f ^= c
        elif rnd == 2:
            f = b ^ c
            f ^= d
        else:
            f = ~d
            f |= b
            f ^= c
        f += a
        f += k
        f += m[g]
        t = f << s
        f >>= rs
        f |= t
        f += b
        a, b, c, d = d, f, b, c
    return [a + state[0], b + state[1], c + state[2], d + state[3]]


def _messages(data: np.ndarray, starts: np.ndarray, lens: np.ndarray,
              prefix_len: int, n_blocks: int) -> np.ndarray:
    """(16 * n_blocks, n) message words of MD5(prefix + value), padding
    and bit length included, with the prefix bytes left zero."""
    n, width = len(starts), 64 * n_blocks
    buf = np.zeros((n, width), np.uint8)
    total = int(lens.sum())
    if total:
        rows = np.repeat(np.arange(n), lens)
        within = np.arange(total) - np.repeat(np.cumsum(lens) - lens, lens)
        buf[rows, prefix_len + within] = data[np.repeat(starts, lens) + within]
    msg_len = prefix_len + lens
    buf[np.arange(n), msg_len] = 0x80
    buf[:, width - 8:] = (msg_len.astype("<u8") * 8).view(np.uint8).reshape(n, 8)
    return np.ascontiguousarray(buf.view("<u4").T)


def _seed_groups(num_hashes: int) -> list[tuple[int, int, np.ndarray]]:
    """(first seed, prefix length, (seeds, words) prefix words) per run
    of seeds whose ``f"{j}:"`` prefixes have equal length."""
    groups = []
    j = 0
    while j < num_hashes:
        plen = len(f"{j}:")
        end = min(num_hashes, 10 ** (plen - 1))
        n_words = (plen + 3) // 4
        buf = np.zeros((end - j, 4 * n_words), np.uint8)
        for r, seed in enumerate(range(j, end)):
            buf[r, :plen] = np.frombuffer(f"{seed}:".encode(), np.uint8)
        groups.append((j, plen, buf.view("<u4")))
        j = end
    return groups


def _hash_chunk(groups, num_hashes: int, data: np.ndarray, starts: np.ndarray,
                lens: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(num_hashes, n) big-endian (hi, lo) digest halves of every seed
    over every value in the chunk."""
    n = len(starts)
    hi = np.empty((num_hashes, n), np.uint64)
    lo = np.empty((num_hashes, n), np.uint64)
    for first, plen, seed_words in groups:
        n_seeds = seed_words.shape[0]
        rows = slice(first, first + n_seeds)
        blocks = (plen + lens + 8) // 64 + 1
        block_counts = np.unique(blocks)
        for nb in block_counts:
            cols = slice(None) if len(block_counts) == 1 else np.flatnonzero(blocks == nb)
            words = _messages(data, starts[cols], lens[cols], plen, int(nb))
            m = [w[None, :] for w in words]
            for k in range(seed_words.shape[1]):
                m[k] = seed_words[:, k:k + 1] | m[k]
            shape = (n_seeds, words.shape[1])
            state = [np.full(shape, v, np.uint32) for v in _IV]
            for blk in range(int(nb)):
                state = _compress(state, m[16 * blk:16 * blk + 16])
            a, b, c, d = state
            h = a.byteswap().astype(np.uint64)
            h <<= np.uint64(32)
            h |= b.byteswap()
            low = c.byteswap().astype(np.uint64)
            low <<= np.uint64(32)
            low |= d.byteswap()
            hi[rows, cols] = h
            lo[rows, cols] = low
    return hi, lo


def minhash_sigs(shingles: pa.Array, num_hashes: int) -> tuple[np.ndarray, pa.Array]:
    """Signatures of a ``list<string>`` column of shingle lists.

    Returns the row positions that have at least one shingle and, for
    those rows in order, a ``list<string>`` of ``num_hashes`` lowercase
    hex minhashes. Rows with a null or empty list get no signature."""
    doc_off = np.asarray(shingles.offsets, dtype=np.int64)
    doc_off = doc_off - doc_off[0]
    values = shingles.flatten()
    n_docs, n_sh = len(shingles), len(values)
    starts = lens = data = np.zeros(0, np.int64)
    if n_sh:
        off_type = np.int64 if pa.types.is_large_string(values.type) else np.int32
        _, off_buf, data_buf = values.buffers()
        str_off = np.frombuffer(off_buf, off_type)[values.offset:values.offset + n_sh + 1]
        starts, lens = str_off[:-1].astype(np.int64), np.diff(str_off).astype(np.int64)
        data = np.frombuffer(data_buf, np.uint8) if data_buf is not None else np.zeros(0, np.uint8)

    groups = _seed_groups(num_hashes)
    best_hi = np.full((num_hashes, n_docs), _MAX)
    best_lo = np.full((num_hashes, n_docs), _MAX)
    for c0 in range(0, n_sh, CHUNK):
        c1 = min(c0 + CHUNK, n_sh)
        hi, lo = _hash_chunk(groups, num_hashes, data, starts[c0:c1], lens[c0:c1])
        # one segment per document piece inside the chunk
        cuts = doc_off[(doc_off > c0) & (doc_off < c1)]
        seg = np.unique(np.concatenate(([c0], cuts))) - c0
        docs = np.searchsorted(doc_off, seg + c0, side="right") - 1
        seg_hi = np.minimum.reduceat(hi, seg, axis=1)
        seg_id = np.repeat(np.arange(len(seg)), np.diff(np.append(seg, c1 - c0)))
        seg_lo = np.minimum.reduceat(np.where(hi == seg_hi[:, seg_id], lo, _MAX), seg, axis=1)
        cur_hi, cur_lo = best_hi[:, docs], best_lo[:, docs]
        better = (seg_hi < cur_hi) | ((seg_hi == cur_hi) & (seg_lo < cur_lo))
        best_hi[:, docs] = np.where(better, seg_hi, cur_hi)
        best_lo[:, docs] = np.where(better, seg_lo, cur_lo)

    keep = np.flatnonzero(np.diff(doc_off) > 0)
    digests = np.empty((len(keep), num_hashes, 2), ">u8")
    digests[..., 0] = best_hi[:, keep].T
    digests[..., 1] = best_lo[:, keep].T
    n_sigs = len(keep) * num_hashes
    hexes = pa.StringArray.from_buffers(
        n_sigs,
        pa.py_buffer(np.arange(0, 32 * n_sigs + 1, 32, dtype=np.int32)),
        pa.py_buffer(digests.tobytes().hex().encode("ascii")),
    )
    offsets = pa.array(np.arange(0, n_sigs + 1, num_hashes, dtype=np.int32))
    return keep, pa.ListArray.from_arrays(offsets, hexes)


def minhash_batches(batches: Iterator[pa.RecordBatch], num_hashes: int) -> Iterator[pa.RecordBatch]:
    """``mapInArrow`` body: (doc_id, sh: list<string>) batches to
    (doc_id, sig: list<string>) batches, one row per document with at
    least one shingle."""
    for batch in batches:
        keep, sigs = minhash_sigs(batch.column("sh"), num_hashes)
        yield pa.RecordBatch.from_arrays(
            [batch.column("doc_id").take(pa.array(keep, pa.int64())), sigs], ["doc_id", "sig"]
        )
